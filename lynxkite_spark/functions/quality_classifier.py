"""FastText-style linear quality classifier over hashed n-gram features.

Beyond-the-reference LLM-pipeline operator (the reference's curation
story ends at dedup/fingerprinting — there is no learned quality filter
anywhere in its operator set). Every production pretraining pipeline
has one: CCNet (Wenzek et al. 2020, §4.4) and GPT-3 (Brown et al. 2020,
Appendix A) filter raw crawl with a linear classifier trained to
separate a trusted corpus from unfiltered text, and fastText (Joulin et
al. 2017, "Bag of Tricks for Efficient Text Classification") is the
standard implementation shape: a linear model over hashed n-gram
features. This module is that classifier, Spark-first:

* **features**: :func:`lynxkite_spark.functions.curation.hashed_ngram_buckets`
  — row-local hashed unigram+bigram occurrence lists; zero shuffle.
* **training**: distributed full-batch logistic regression. Per
  iteration: ONE map-only Arrow pass computes each document's exact
  int64 feature dot and its integer error ticks together (numpy
  gather+sum and sigmoid inside a ``pandas_udf`` whose closure carries
  the quantized weight vector — so the distributed trainer is
  BIT-IDENTICAL to its numpy twin, :func:`train_numpy`), then ONE
  map-side-combinable explode+sum shuffles at most ``n_buckets + 1``
  gradient rows to the driver. The weight vector lives on the driver
  between iterations — the classic parameter-server shape — and the
  per-iteration collect is bounded by the bucket count, never the
  corpus.
* **scoring** (the corpus-scale path): map-only. The quantized weight
  array ships as a plan literal; the per-document dot product is a
  row-local integer fold (``F.aggregate`` + ``element_at``) — no
  shuffle, no Python. (Spark HOFs are CodegenFallback, i.e.
  interpreted: the featurize+fold measures ~2 ms/doc single-threaded
  at 50-word docs — fine for a corpus pass whose cost is otherwise
  the scan.) At the default threshold 0.5,
  ``keep`` is the pure integer comparison ``score_q > 0``
  (logit(0.5) = 0), which is what lets the DuckDB gate oracle replay
  it exactly.

Determinism contract: every cross-document sum is over BIGINT ticks
(``e_q = rint((p - y) / n * QSCALE)``), so gradients are exact integer
sums — association-order free, identical under any partitioning or
executor count. The only float arithmetic (z, sigmoid, the tick
rounding itself) is per-document and shared verbatim between the
distributed trainer and the numpy twin via :func:`_err_ticks`.

100 TB shape: training runs on a labeled SAMPLE (CCNet trains on ~1M
docs); scoring is the path that sees the full corpus and it is a
single map-only stage. Per-iteration training cost is one Arrow batch
per partition of the cached featurized sample, then a
<= (n_buckets+1)-row shuffle.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lynxkite_spark.plans.spread import spread_small

from .curation import hashed_ngram_buckets

QSCALE = 1_000_000  # integer ticks: 1e-6 resolution in weight/error space


# ---------------------------------------------------------------------------
# Pure-Python featurizer twin (gate-weight training + exactness tests).

def py_buckets(
    text: str | None, n_buckets: int = 4096, ns: tuple[int, ...] = (1, 2)
) -> list[int]:
    """Pure-Python twin of ``hashed_ngram_buckets(..., portable=True)``.

    ASCII inputs only (Java ``\\s+``, Python ``\\s+`` and RE2 agree
    there) — the synthetic training corpus is ASCII by construction.
    Matches the Spark side gram-for-gram: lowercased whitespace words,
    per-n concatenated occurrence lists, 60-bit md5 hash mod buckets.
    """
    t = (text or "").strip()
    words = [w.lower() for w in re.split(r"\s+", t)] if t else []
    out: list[int] = []
    for n in ns:
        for i in range(len(words) - n + 1):
            gram = " ".join(words[i : i + n])
            h = int(hashlib.md5((gram + "|0").encode()).hexdigest()[:15], 16)
            out.append(h % n_buckets)
    return out


def _err_ticks(
    sdot: np.ndarray, n: np.ndarray, y: np.ndarray, bias_q: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per-document quantized error ticks — the ONLY float arithmetic in
    training, shared verbatim by the numpy twin and the Arrow UDF so the
    two trainers agree bit-for-bit.

    z uses the same integer numerator the scorer exposes
    (``bias_q * max(n,1) + sdot``) over ``max(n,1) * QSCALE``; the
    per-gram tick divides the error by n so a document's total gradient
    mass is independent of its length (fastText's mean-of-features
    normalization)."""
    n_eff = np.maximum(n, 1).astype(np.float64)
    z = (bias_q * n_eff + sdot) / (n_eff * float(QSCALE))
    p = 1.0 / (1.0 + np.exp(-z))
    err = p - y
    e_q = np.rint(err / n_eff * QSCALE).astype(np.int64)
    eb_q = np.rint(err * QSCALE).astype(np.int64)
    return e_q, eb_q


def train_numpy(
    texts: list[str],
    labels: list[int],
    n_buckets: int = 4096,
    ns: tuple[int, ...] = (1, 2),
    iterations: int = 30,
    lr: float = 1.0,
) -> dict:
    """Single-process twin of :func:`train_quality_classifier` (portable
    hashing). Same update rule, same quantization, same rounding mode
    (np.rint everywhere) — the distributed trainer must reproduce its
    output EXACTLY; pytest asserts it. Also used to bake the gate-query
    weights driver-side (no Spark at oracle-generation time), the same
    move as the text-embedding and ANN-hyperplane oracles."""
    n_docs = len(texts)
    counts = np.zeros((n_docs, n_buckets), dtype=np.int64)
    for i, t in enumerate(texts):
        for b in py_buckets(t, n_buckets, ns):
            counts[i, b] += 1
    y = np.asarray(labels, dtype=np.float64)
    n = counts.sum(axis=1)
    w = np.zeros(n_buckets, dtype=np.float64)
    bias = 0.0
    for _ in range(iterations):
        w_q = np.rint(w * QSCALE).astype(np.int64)
        b_q = int(np.rint(bias * QSCALE))
        sdot = counts @ w_q  # exact int64
        e_q, eb_q = _err_ticks(sdot, n, y, b_q)
        grad = counts.T @ e_q  # exact int64
        w = w - lr * grad / (QSCALE * float(n_docs))
        bias = bias - lr * int(eb_q.sum()) / (QSCALE * float(n_docs))
    return {
        "weights_q": np.rint(w * QSCALE).astype(np.int64).tolist(),
        "bias_q": int(np.rint(bias * QSCALE)),
        "n_buckets": n_buckets,
        "ns": list(ns),
        "iterations": iterations,
        "lr": lr,
        "hash": "portable",
    }


# ---------------------------------------------------------------------------
# Distributed trainer.

_ERR_SCHEMA = StructType(
    [StructField("e_q", LongType()), StructField("eb_q", LongType())]
)


def _weight_array(w_q: np.ndarray) -> Column:
    """The quantized weight vector as ONE array<bigint> plan literal —
    broadcast to every task with the serialized plan, no join. Passed
    as a numpy int64 array: ONE py4j literal (~10 ms to analyze) where
    a Python list built a 4096-deep CreateArray through 4096 py4j round
    trips (~1.5 s of driver wall per query). Same values (int64 →
    array<bigint>)."""
    return F.lit(np.ascontiguousarray(w_q, dtype=np.int64))


def _int_dot(buckets: Column, warr: Column) -> Column:
    """Integer fold: sum of weight ticks over bucket occurrences —
    row-local (aggregate + element_at), exact BIGINT."""
    return F.aggregate(
        buckets,
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.element_at(warr, x + F.lit(1)),
    )


def train_quality_classifier(
    docs: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    n_buckets: int = 4096,
    ns: tuple[int, ...] = (1, 2),
    iterations: int = 30,
    lr: float = 1.0,
    portable: bool = False,
) -> dict:
    """Distributed full-batch logistic regression on hashed n-gram
    features. Returns the same model dict as :func:`train_numpy` — and,
    when ``portable=True``, the same VALUES exactly (pytest-enforced):
    all cross-document reductions are BIGINT tick sums, so the result
    is invariant to partitioning and executor count.

    Per-iteration plan: ONE Arrow batch per partition computes the
    exact int64 feature dot (numpy gather+sum — identical integer math
    to the scorer's JVM fold) and the error ticks together, then an
    explode to (bucket, tick) pairs — bias rides along as bucket -1 —
    and a map-side-combinable sum into <= n_buckets + 1 rows collected
    to the driver. The weight vector ships pickled inside the UDF
    closure (32 KB at 4096 buckets), NOT as an array plan literal:
    building a 4096-element F.lit through py4j plus analyzing it
    dominated iteration wall (~3s/iter at 96 docs; ~0.6s/iter after).
    The labeled sample is featurized once and cached."""
    # Featurize and cache first, then count the cache: counting ``docs``
    # would execute the raw input plan one extra time.
    raw = feat = docs.select(
        F.col(label_col).cast("double").alias("_y"),
        hashed_ngram_buckets(
            F.coalesce(F.col(text_col), F.lit("")), n_buckets, ns, portable
        ).alias("_bk"),
    ).persist()
    try:
        n_docs = raw.count()
        if n_docs == 0:
            raise ValueError("train_quality_classifier: empty training set")
        # Right-size the cached sample's partitioning to its row count: a
        # tiny labeled set parallelized over the session default (e.g. 96
        # docs in 32 partitions of 3) pays ~parallelism Arrow-UDF task
        # launches per iteration for no parallel work. ~10k docs/partition;
        # gradients are exact integer tick sums, so the result is
        # partitioning-invariant by construction (pytest-enforced).
        n_part = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        ideal = max(1, min(n_part, (n_docs + 9_999) // 10_000))
        feat = raw.repartition(ideal).persist()
        feat.count()
        raw.unpersist()
        w = np.zeros(n_buckets, dtype=np.float64)
        bias = 0.0
        for _ in range(iterations):
            w_q = np.rint(w * QSCALE).astype(np.int64)
            b_q = int(np.rint(bias * QSCALE))

            @F.pandas_udf(_ERR_SCHEMA)
            def _iter_udf(bk: pd.Series, y: pd.Series) -> pd.DataFrame:
                n = np.fromiter(
                    (len(b) for b in bk), dtype=np.int64, count=len(bk)
                )
                sdot = np.fromiter(
                    (
                        int(w_q[np.asarray(b, dtype=np.int64)].sum())
                        if len(b)
                        else 0
                        for b in bk
                    ),
                    dtype=np.int64,
                    count=len(bk),
                )
                e_q, eb_q = _err_ticks(sdot, n, y.to_numpy(np.float64), b_q)
                return pd.DataFrame({"e_q": e_q, "eb_q": eb_q})

            per = feat.select("_y", "_bk").withColumn(
                "_e", _iter_udf(F.col("_bk"), F.col("_y"))
            )
            pairs = per.select(
                F.explode(
                    F.concat(
                        F.transform(
                            "_bk",
                            lambda bk: F.struct(
                                bk.cast("int").alias("b"),
                                F.col("_e.e_q").alias("g"),
                            ),
                        ),
                        F.array(
                            F.struct(
                                F.lit(-1).alias("b"), F.col("_e.eb_q").alias("g")
                            )
                        ),
                    )
                ).alias("p")
            )
            rows = (
                pairs.groupBy(F.col("p.b").alias("b"))
                .agg(F.sum("p.g").alias("g"))
                .collect()  # bounded: <= n_buckets + 1 rows by construction
            )
            grad = np.zeros(n_buckets, dtype=np.int64)
            grad_b = 0
            for r in rows:
                if r["b"] == -1:
                    grad_b = r["g"]
                else:
                    grad[r["b"]] = r["g"]
            w = w - lr * grad / (QSCALE * float(n_docs))
            bias = bias - lr * grad_b / (QSCALE * float(n_docs))
    finally:
        raw.unpersist()
        feat.unpersist()
    return {
        "weights_q": np.rint(w * QSCALE).astype(np.int64).tolist(),
        "bias_q": int(np.rint(bias * QSCALE)),
        "n_buckets": n_buckets,
        "ns": list(ns),
        "iterations": iterations,
        "lr": lr,
        "hash": "portable" if portable else "xxhash64",
    }


# ---------------------------------------------------------------------------
# Corpus-scale scorer (map-only).

def score_quality(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    threshold: float = 0.5,
    portable: bool | None = None,
    arrow: bool = False,
) -> DataFrame:
    """Score every document with a trained model: appends ``n_grams``
    (BIGINT), ``score_q`` (BIGINT — the exact integer logit numerator
    ``bias_q * max(n,1) + sum(w_q[bucket])``), ``quality_prob``
    (DOUBLE sigmoid) and ``keep`` (BOOLEAN). Map-only, zero shuffle —
    this is the stage the 100 TB corpus flows through.

    ``portable`` defaults to the featurization the model was TRAINED
    with (``model["hash"]``) — scoring with a different hash family
    than training silently produces garbage buckets, so never override
    it for a real model.

    Two execution paths, identical values:

    * default (``arrow=False``): pure JVM — weight array as a plan
      literal, integer fold over the bucket list; no Python dependency
      on the executors, but Spark HOFs are interpreted
      (CodegenFallback): ~2 ms/doc single-threaded at 50-word docs.
    * ``arrow=True`` (portable models only): ONE Arrow batch per
      partition hashes the n-grams with hashlib.md5 and takes the
      integer dot product in numpy — measured ~30x faster (191.6 s ->
      6.4 s at 1M synthetic docs, local[32]); bit-identical score_q by
      construction (same md5 buckets, exact integer sums).

    Re-runnable on its own output (ADVICE r4 on mask_pii): pre-existing
    output columns are dropped first. At ``threshold=0.5`` keep is the
    integer test ``score_q > 0``; other thresholds compare the double
    ``z`` to ``logit(threshold)``."""
    if portable is None:
        portable = model.get("hash", "xxhash64") == "portable"
    out_cols = ("n_grams", "score_q", "quality_prob", "keep")
    base = spread_small(df).drop(*[c for c in out_cols if c in df.columns])
    b_q = int(model["bias_q"])
    if arrow:
        if not portable:
            raise ValueError(
                "score_quality(arrow=True) needs a portable-featurized "
                "model (model['hash'] == 'portable'): the Arrow path "
                "hashes with md5, which must match training"
            )
        w_np = np.asarray(model["weights_q"], dtype=np.int64)
        n_buckets = int(model["n_buckets"])
        ns = tuple(model["ns"])
        out_schema = StructType(
            [StructField("n", LongType()), StructField("s", LongType())]
        )

        @F.pandas_udf(out_schema)
        def _score_udf(text: pd.Series) -> pd.DataFrame:
            ns_ = []
            ss = []
            for t in text:
                bks = py_buckets(t, n_buckets, ns)
                ns_.append(len(bks))
                ss.append(
                    int(w_np[np.asarray(bks, dtype=np.int64)].sum())
                    if bks
                    else 0
                )
            return pd.DataFrame({"n": ns_, "s": ss})

        m = _score_udf(F.col(text_col))
        with_bk = base.withColumn("_sc", m)
        n = F.col("_sc.n")
        sdot = F.col("_sc.s")
    else:
        bk = hashed_ngram_buckets(
            F.coalesce(F.col(text_col), F.lit("")),
            int(model["n_buckets"]),
            tuple(model["ns"]),
            portable,
        )
        with_bk = base.withColumn("_bk", bk)
        n = F.size("_bk").cast("long")
        sdot = _int_dot(
            F.col("_bk"),
            _weight_array(np.asarray(model["weights_q"], dtype=np.int64)),
        )
    n_eff = F.greatest(n, F.lit(1).cast("long"))
    score_q = (F.lit(b_q) * n_eff + sdot).cast("long")
    z = score_q.cast("double") / (n_eff.cast("double") * F.lit(float(QSCALE)))
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    if threshold == 0.5:
        keep = score_q > F.lit(0)
    else:
        logit = float(np.log(threshold / (1.0 - threshold)))
        keep = z > F.lit(logit)
    # opaque_true: a downstream where("keep") must read the computed
    # column, not re-derive the integer fold inside a pushed filter at
    # the scan's parallelism (plans.spread.opaque_true)
    from lynxkite_spark.plans.spread import opaque_true

    keep = keep & opaque_true(with_bk)
    return with_bk.select(
        *base.columns,
        n.alias("n_grams"),
        score_q.alias("score_q"),
        prob.alias("quality_prob"),
        keep.alias("keep"),
    )


def score_quality_sql(
    model: dict, text_expr: str = "coalesce(text,'')"
) -> str:
    """DuckDB twin of the integer columns of :func:`score_quality`
    (portable hashing, threshold 0.5) — SELECT fragment producing
    ``n_grams``, ``score_q``, ``keep`` from a relation with the
    document text. The weight vector inlines as a list literal; the
    fold is ``list_sum(list_transform(...))`` over BIGINTs, the same
    exact integer arithmetic as the Spark fold."""
    from .curation import hashed_ngram_buckets_sql

    warr = "[" + ",".join(str(int(x)) for x in model["weights_q"]) + "]"
    bk = hashed_ngram_buckets_sql(
        int(model["n_buckets"]), tuple(model["ns"]), text_expr
    )
    b_q = int(model["bias_q"])
    return (
        f"CAST(len({bk}) AS BIGINT) AS n_grams, "
        f"CAST({b_q} * greatest(len({bk}), 1) + coalesce(list_sum("
        f"list_transform({bk}, x -> ({warr})[x + 1])), 0) AS BIGINT) AS score_q"
    )


# ---------------------------------------------------------------------------
# Deterministic labeled corpus for tests and the gate-query weights.

def synthetic_quality_training_set() -> tuple[list[str], list[int]]:
    """Deterministic ASCII labeled set: clean English-like sentences
    (label 1) vs spam shapes — keyword stuffing, token repetition,
    symbol soup (label 0). No RNG: composition is modular arithmetic
    over small vocab lists, so every engine and every run sees the
    identical corpus."""
    subjects = ["the committee", "a recent study", "the museum", "our team",
                "the river", "this method", "the author", "a local school"]
    verbs = ["published", "examined", "restored", "measured", "described",
             "organized", "documented", "compared"]
    objects = ["a detailed report on regional history",
               "the effects of rainfall on harvest yields",
               "an archive of early photographs",
               "changes in water quality over a decade",
               "the structure of the old bridge",
               "a series of public lectures",
               "improvements to the local library",
               "patterns in seasonal migration"]
    tails = ["last year", "in the spring", "with careful methods",
             "for the town council", "despite limited funding",
             "over several months", "with community support",
             "after a long review"]
    pos = []
    for i in range(48):
        pos.append(
            f"{subjects[i % 8]} {verbs[(i // 2) % 8]} "
            f"{objects[(i // 3) % 8]} {tails[(i * 5) % 8]}."
        )
    spam_words = ["cheap", "buy", "click", "free", "winner", "pills",
                  "casino", "bonus"]
    pos_len = len(pos)
    neg = []
    for i in range(pos_len):
        kind = i % 4
        if kind == 0:  # token repetition
            w = spam_words[i % 8]
            neg.append(" ".join([w, "now"] * (4 + i % 5)))
        elif kind == 1:  # keyword stuffing
            neg.append(" ".join(spam_words[(i + j) % 8] for j in range(10)))
        elif kind == 2:  # symbol soup
            neg.append(f"$$$ {spam_words[i % 8]} !!! {spam_words[(i + 3) % 8]} "
                       f"### www best {spam_words[(i + 5) % 8]} $$$")
        else:  # shouty fragments
            neg.append(f"{spam_words[i % 8].upper()} {spam_words[(i + 1) % 8].upper()} "
                       f"100% GUARANTEED {i} {i} {i}")
    texts = pos + neg
    labels = [1] * len(pos) + [0] * len(neg)
    return texts, labels
