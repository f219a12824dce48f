"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash,
n-gram Jaccard — each as a declarative DataFrame plan.

Scale shapes:
  * exact        — one hash-groupBy (map-side combinable);
  * minhash LSH  — shingle→minhash→band→bucket-join: candidate pairs only
                   ever meet inside a band bucket, never all-pairs;
  * simhash      — 64-bit signature, duplicates = equal signatures (or
                   banded Hamming buckets);
  * n-gram Jaccard — exact verify step for LSH candidates (or small sets).

Hashing is xxhash64 (JVM built-in, seedable via value mixing) — no Python
in the row path; shingling uses builtin ``sequence``/``transform``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from lynxkite_spark.plans.spread import opaque_true, spread_small

from .hof import let_array


def normalized(text: Column) -> Column:
    return F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))


def portable_hash64(col: Column, seed: int | Column = 0) -> Column:
    """Engine-portable 60-bit hash: the first 15 hex digits of
    md5(value || '|' || seed), parsed base-16; ``seed`` may be a column,
    whose string form is hashed as an int seed's is. Spark computes it as
    conv(substr(md5(..), 1, 15), 16, 10); DuckDB as
    ('0x' || substr(md5(..), 1, 15))::BIGINT — verified identical.
    Used by the oracle-checked gate paths so the DuckDB oracle can
    replay the exact same minhash/simhash pipeline; ``xxhash64`` stays
    the fast default everywhere else (one JVM intrinsic vs an md5)."""
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit("|"), F.lit(seed).cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")


def portable_hash64_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB twin of :func:`portable_hash64` (oracle generation)."""
    return f"CAST(('0x' || substr(md5({expr} || '|{seed}'), 1, 15)) AS BIGINT)"


def _hash64(col: Column, seed: int, hash_fn: str) -> Column:
    if hash_fn == "portable":
        return portable_hash64(col, seed)
    return F.xxhash64(col, F.lit(seed))


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: group identical normalized texts; keeper = min id.
    Returns DataFrame[<id>, keeper, is_duplicate].

    Scale shape: the shuffle key is sha2-256 of the normalized text (32
    bytes), never the text itself — at corpus scale shuffling full
    documents as grouping keys would move the corpus through the
    exchange twice. The keeper is ``min(id) OVER (PARTITION BY _k)``:
    ONE exchange and ONE pass of the normalize+sha2 over the text (the
    earlier groupBy+join-back shape evaluated the text hashing twice —
    once under the aggregate, once under the join probe side — and paid
    a second exchange plus a broadcast for the join)."""
    keyed = spread_small(df).select(
        F.col(id_col), F.sha2(normalized(F.col(text_col)), 256).alias("_k")
    )
    keeper = F.min(id_col).over(W.partitionBy("_k"))
    return keyed.select(
        id_col,
        keeper.alias("keeper"),
        (F.col(id_col) != keeper).alias("is_duplicate"),
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles via builtin array ops (no UDF):
    split → slide a window with transform over index sequence. The
    token array is let-bound once per row (:func:`..hof.let_array`) —
    referencing the split subtree inside the per-shingle lambda would
    re-tokenize the document for every shingle."""
    toks_expr = F.split(normalized(text), " ")

    def body(toks: Column) -> Column:
        n = F.size(toks)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        sh = F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " ")
        )
        return F.when(n >= k, F.array_distinct(sh)).otherwise(
            F.array(F.array_join(toks, " "))
        )

    return let_array(toks_expr, body)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: h_i = min over shingles of
    hash_i(shingle). Computed row-locally: one ``transform`` per hash
    function over the per-doc distinct shingle array + ``array_min`` —
    a map-only plan with ZERO shuffle. The explode + 64-way-min groupBy
    it replaces shuffled one row per (doc, shingle): corpus-sized
    exchange at any scale, ~50M rows at 1M docs.

    The default (xxhash64) hash family is two-level: each shingle
    STRING is hashed once to a 64-bit base, and hash_i = xxhash64(base,
    i) rehashes only the fixed-width long — 64x fewer variable-length
    string hashes per doc, an independent family up to the 2^-64 base
    collision. ``hash_fn="portable"`` keeps the md5-derived per-(shingle,
    i) values bit-exactly (the DuckDB gate oracle replays that path).
    Returns DataFrame[<id>, sig: array<bigint>]."""
    df = spread_small(df)  # signature math is per-row heavy: widen tiny inputs
    shs = word_shingles(F.col(text_col), shingle_k)
    if hash_fn == "portable":
        shingled = df.select(F.col(id_col), shs.alias("_hs"))
        sig = F.array(
            *[
                F.array_min(F.transform("_hs", lambda s: _hash64(s, i, hash_fn)))
                for i in range(num_hashes)
            ]
        )
    else:
        shingled = df.select(
            F.col(id_col),
            F.transform(shs, lambda s: F.xxhash64(s)).alias("_hs"),
        )
        sig = F.array(
            *[
                F.array_min(F.transform("_hs", lambda h: F.xxhash64(h, F.lit(i))))
                for i in range(num_hashes)
            ]
        )
    return shingled.select(id_col, sig.alias("sig"))


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signatures and self-join per (band, band-hash) bucket —
    the classic LSH candidate generation: only same-bucket docs meet.
    Returns distinct candidate pairs DataFrame[a, b] with a < b.

    With ``hash_fn="portable"`` the bucket key is the concatenated band
    values themselves (equality of the concat string == equality of the
    band) so the DuckDB oracle can mirror it; the default compresses the
    key with xxhash64 for a fixed-width shuffle key.

    ``max_bucket_size`` is the viral-bucket guard (same as
    similarity.ann_lsh_topk's): a mega-cluster of near-identical docs
    puts identical signatures in the same bucket in EVERY band, making
    the self-join quadratic in the cluster size — at 100 TB a boilerplate
    cluster of 10^6 docs would emit 10^12 pairs.  Buckets over the cap
    are counted (one cheap map-side-combinable agg) and semi-joined
    away BEFORE the pair join; membership of a dropped bucket is still
    reported by any of the doc's other, smaller buckets, so only
    clusters that are over-cap in every band lose pairs (exactly the
    clusters one dedups by exact-hash instead)."""

    def band_key(b: int) -> Column:
        concat = F.concat_ws(
            ",",
            *[
                F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                for r in range(rows_per_band)
            ],
        )
        if hash_fn == "portable":
            return concat
        return F.xxhash64(concat).cast("string")  # one column type for both paths

    banded = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    if max_bucket_size is not None:
        ok = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(ok, ["band", "bucket"], "left_semi")
    a = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    shingle_k: int = 3,
    hash_fn: str = "xxhash64",
    verify: str = "exact",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → Jaccard
    verify → pairs with jaccard ≥ threshold.
    Returns DataFrame[a, b, jaccard].
    ``max_bucket_size`` forwards to minhash_lsh_candidates' viral-bucket
    guard.

    ``verify="exact"`` scores candidates with the true shingle-set
    Jaccard (the shingle table is semi-joined down to candidate docs
    first — LSH pruning reaches the expensive pairwise join).
    ``verify="estimate"`` scores them from minhash signature agreement
    (fraction of equal components, an unbiased Jaccard estimator) — no
    second pass over the texts at all, the cheapest 100 TB shape."""
    from lynxkite_spark.plans.checkpoint import materialize

    # Materialize the stage boundaries: signatures feed candidate
    # generation AND (in estimate mode) two scoring joins; candidates
    # feed the verify step in three places (doc-prune union + the pair
    # semi-join).  Left lazy, Catalyst re-executes the shingle explode +
    # 64-way min aggregation once per reference — measured 357s vs 36s
    # at 100k docs for the identical result.
    sigs = materialize(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_k, hash_fn))
    cand = materialize(minhash_lsh_candidates(
        sigs, id_col, bands, num_hashes // bands, hash_fn,
        max_bucket_size=max_bucket_size,
    ))
    if verify == "estimate":
        est = F.aggregate(
            F.zip_with("sa", "sb", lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(float(num_hashes))
        return (
            cand.join(sigs.select(F.col(id_col).alias("a"), F.col("sig").alias("sa")), "a")
            .join(sigs.select(F.col(id_col).alias("b"), F.col("sig").alias("sb")), "b")
            .select("a", "b", est.alias("jaccard"))
            # opaque_true: keep the threshold filter ABOVE the projection
            # so the interpreted signature fold evaluates once, not again
            # inside a pushed-down filter (guide §4.4)
            .where((F.col("jaccard") >= threshold) & opaque_true())
        )
    return ngram_jaccard_pairs(df, text_col, id_col, threshold, shingle_k, candidates=cand)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    shingle_k: int = 3,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs: |A∩B| via a shingle
    equi-join, |A∪B| = |A|+|B|−|A∩B|. With ``candidates`` given, only
    those pairs are scored (the LSH verify step); otherwise all pairs
    sharing ≥1 shingle are considered (small corpora only).

    ``max_doc_freq`` drops shingles appearing in more than that many
    documents from the PAIRING join only (set sizes |A|,|B| keep them,
    so the Jaccard denominator stays exact and scores can only
    under-count by the rare overlap carried through stop-shingles):
    the standard stop-shingle guard — one viral 3-gram shared by 1M
    docs otherwise creates ~10^12 join rows. It only applies to the
    discovery path (``candidates=None``); the candidates path computes
    the intersection exactly per pair, so there is no pairing join to
    guard.
    Returns DataFrame[a, b, jaccard] with a < b, jaccard ≥ threshold."""
    if candidates is not None:
        # Verify path: score each LSH candidate pair by row-local
        # array_intersect over xxhash64-compressed shingle arrays.
        # The previous shape — semi-join the exploded shingle table to
        # candidate DOCS, self-join on shingle, then restrict to
        # candidate PAIRS — emitted a row for every co-shingling doc
        # pair among candidate docs before the pair restriction could
        # apply: a shingle shared by m candidate docs costs m^2 join
        # rows regardless of which pairs LSH proposed. Measured on the
        # 1M-doc curation corpus: 52M raw join rows at 250k docs, 206M
        # at 500k (x3.96 per x2 docs) — quadratic. Here the cost is
        # strictly O(sum over pairs of |A|+|B|): shuffle the candidate
        # pairs plus one fixed-width 8-byte-per-shingle array per
        # candidate doc, nothing corpus-sized and nothing quadratic
        # (the doc semi-join prunes before shingling, so non-candidate
        # docs are never exploded, let alone shuffled). 64-bit hashing
        # keeps Jaccard exact up to a ~|A|*|B|/2^64 per-pair collision
        # probability.
        from lynxkite_spark.plans.checkpoint import materialize

        cand_ids = (
            candidates.select(F.col("a").alias(id_col))
            .unionByName(candidates.select(F.col("b").alias(id_col)))
            .distinct()
        )
        sets_ = materialize(
            spread_small(df).join(cand_ids, id_col, "left_semi").select(
                F.col(id_col).alias("_id"),
                F.transform(
                    word_shingles(F.col(text_col), shingle_k),
                    lambda s: F.xxhash64(s),
                ).alias("_shs"),
            )
        )
        scored = (
            candidates.join(
                sets_.select(F.col("_id").alias("a"), F.col("_shs").alias("_sa")), "a"
            )
            .join(sets_.select(F.col("_id").alias("b"), F.col("_shs").alias("_sb")), "b")
            .select(
                "a",
                "b",
                F.size(F.array_intersect("_sa", "_sb")).alias("_i"),
                F.size("_sa").alias("_na"),
                F.size("_sb").alias("_nb"),
            )
            # pairs sharing no shingle never appeared in the old
            # equi-join shape; keep that contract (matters at
            # threshold=0). opaque_true on both filters: without it the
            # optimizer substitutes the column definitions and
            # re-evaluates the per-pair array_intersect inside each
            # pushed filter — up to 3 evaluations of the intersection
            # per candidate pair (guide §4.4)
            .where((F.col("_i") > 0) & opaque_true())
            .select(
                "a",
                "b",
                (F.col("_i") / (F.col("_na") + F.col("_nb") - F.col("_i"))).alias(
                    "jaccard"
                ),
            )
        )
        return scored.where((F.col("jaccard") >= threshold) & opaque_true())
    # Discovery path (small corpora): all pairs sharing >= 1 shingle.
    sh = spread_small(df).select(
        F.col(id_col).alias("_id"),
        F.explode(word_shingles(F.col(text_col), shingle_k)).alias("sh"),
    ).distinct()
    # referenced three times below (sizes + both pairing sides):
    # materialize the exploded/deduped table so it computes once
    from lynxkite_spark.plans.checkpoint import materialize

    sh = materialize(sh)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    sh_pair = sh
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_doc_freq)
            .select("sh")
        )
        sh_pair = sh.join(rare, "sh", "left_semi")
    inter = (
        sh_pair.select(F.col("_id").alias("a"), "sh")
        .join(sh_pair.select(F.col("_id").alias("b"), "sh"), "sh")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    scored = (
        inter.join(sizes.select(F.col("_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias("jaccard"),
        )
    )
    return scored.where(F.col("jaccard") >= threshold)


def near_duplicate_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
    **minhash_kw,
) -> DataFrame:
    """Group near-duplicates into clusters: LSH pairs → connected
    components over the pair graph → cluster = min doc id in the
    component; everything but the keeper is flagged duplicate.

    This is the composed step real dedup pipelines need — a pair list
    alone doesn't say which doc to keep when A~B and B~C but A≁C; the
    transitive closure does. Mirrors the reference's pattern of feeding
    similarity edges into FindConnectedComponents (ConnectedComponents
    is the dedup-grouping primitive there too).

    ``pairs`` reuses already-scored pairs DataFrame[a, b, ...];
    otherwise :func:`minhash_dedup` computes them with ``minhash_kw``.
    Scale shape: everything heavy is the LSH pipeline; components run on
    the pair graph, which is |near-dup pairs|-sized, not corpus-sized
    (alternating large/small-star contraction, logarithmic rounds).
    Returns DataFrame[<id>, cluster, is_duplicate] — total over docs
    (singletons are their own cluster)."""
    from lynxkite_spark.graph import Graph
    from lynxkite_spark.operators.components import connected_components

    if pairs is None:
        pairs = minhash_dedup(df, text_col, id_col, **minhash_kw)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    vertices = df.select(F.col(id_col).alias("id"))
    belongs = connected_components(Graph(vertices, edges))
    return belongs.select(
        F.col("id").alias(id_col),
        F.col("component").alias("cluster"),
        (F.col("id") != F.col("component")).alias("is_duplicate"),
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash: per bit, sign of Σ over features of (±1 by feature-hash
    bit). Computed row-locally: hash the per-doc distinct shingle array
    once with ``transform``, then one ``aggregate`` per bit — a map-only
    plan with ZERO shuffle (the explode + 64-conditional-sum groupBy it
    replaces exchanged one 65-column row per doc — a corpus-sized
    shuffle). Same per-feature hashes and sums, so signatures are
    bit-identical. Returns DataFrame[<id>, simhash: bigint].

    ``hash_fn="portable"`` yields a 60-bit feature hash (bits 60+ of the
    signature are then always 0) — use bits=60 with it."""
    hashed = spread_small(df).select(
        F.col(id_col),
        F.transform(
            word_shingles(F.col(text_col), shingle_k),
            lambda s: _hash64(s, 0, hash_fn),
        ).alias("_hs"),
    )
    one = F.lit(1).cast("long")

    def bit_sum(i: int) -> Column:
        return F.aggregate(
            "_hs",
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.shiftleft(one, i)) != 0, 1).otherwise(-1),
        )

    sig = None
    for i in range(bits):
        bit = F.when(bit_sum(i) > 0, F.shiftleft(one, i)).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return hashed.select(id_col, sig.alias("simhash"))


def simhash_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Docs whose 64-bit SimHash collides exactly → near-dup groups.
    Returns DataFrame[<id>, keeper, is_duplicate]."""
    sigs = simhash(df, text_col, id_col)
    keeper = F.min(id_col).over(W.partitionBy("simhash"))
    return sigs.select(
        id_col, keeper.alias("keeper"), (F.col(id_col) != keeper).alias("is_duplicate")
    )
