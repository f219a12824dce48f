"""Corpus → dependency edge tables (the engine's ingestion path).

Parses import statements out of ``content`` with ``regexp_extract_all``
inside whole-stage codegen (no Python worker, no Arrow boundary),
resolves the imported module names against the repo dictionary, and
aggregates to a weighted repo→repo edge table. Mirrors the reference's
ImportEdgesForExistingVertices semantics
(/root/reference/app/.../graph_operations/ImportGraphFromTable.scala:46-106):
endpoints are resolved against a unique name attribute and unresolvable
(dangling) references are dropped.

Scale shape: the regex scan is embarrassingly parallel over file
partitions; the groupBy(src,dst) is one shuffle with map-side partial
aggregation; the dictionary join broadcasts (the repo dictionary is tiny
relative to the corpus even at 10^12 files ~ 10^8 repos).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def extract_imports(content: Column, lang: Column) -> Column:
    """Imported module names per file: ``array<string>``, one capture
    per import statement of the file's language (python and java
    ``import a.b`` lines, go ``"a.b"`` literals; other languages yield
    an empty array).

    The grammar is Python ``re`` semantics (``^`` after ``\\n`` only,
    Unicode ``\\w`` and ``\\s``), written for ``java.util.regex``:
    ``(?d)`` keeps ``^`` off a lone ``\\r``, U+0085 and U+2028;
    ``[\\s\\x1c-\\x1f]`` under ``(?U)`` is Python's ``\\s``;
    ``[\\p{L}\\p{N}_]`` is Python's ``\\w`` (not ``(?U)\\w``, which
    also takes marks and connector punctuation). The one gap is the
    Unicode version: the JVM's character tables may predate Python's,
    so a code point the JVM leaves undefined (Java 17: Unicode 13) but
    Python assigns as a letter, digit or space can match in Python and
    not here."""
    name = r"([A-Za-z_][\p{L}\p{N}_.]*)"
    patterns = {
        "python": rf"(?mdU)^import[\s\x1c-\x1f]+{name}",
        "java": rf"(?mdU)^import[\s\x1c-\x1f]+{name}[\s\x1c-\x1f]*;",
        "go": rf'(?U)"{name}"',
    }
    expr = F.array().cast("array<string>")
    for lg, pat in patterns.items():
        expr = F.when(
            lang == lg, F.regexp_extract_all(content, F.lit(pat), F.lit(1))
        ).otherwise(expr)
    return expr


def module_to_repo(col):
    """Module name → repo name (``org_repo_00017.mod_3`` → ``org/repo-00017``)."""
    return F.concat(
        F.lit("org/repo-"), F.regexp_extract(col, r"^org_repo_(\d{5})", 1)
    )


def derive_repo_edges(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Corpus → (repo_edges[src,dst,weight], repo_ids[id,repo]).

    * IDs are value-derived ``xxhash64(repo)`` — identical across runs and
      parallelism (SURVEY.md §4.2).
    * weight = number of importing file references (FIXTURES.md §F2).
    * self-imports and unresolvable targets are dropped.
    """
    repos = corpus.select("repo").distinct()
    repo_ids = repos.select(F.xxhash64("repo").alias("id"), "repo")

    refs = (
        corpus.select(
            "repo",
            F.explode(extract_imports(F.col("content"), F.col("lang"))).alias("module"),
        )
        # a match and a fixed-width cut: Catalyst inlines a projected
        # regexp_extract into every later filter that reads it
        .where(F.col("module").rlike(r"^org_repo_\d{5}"))
        .select("repo", F.concat(F.lit("org/repo-"), F.substring("module", 10, 5)).alias("dst_repo"))
        .where(F.col("dst_repo") != F.col("repo"))
    )
    # resolve dst against the dictionary (drop dangling refs); broadcast —
    # the dictionary is orders of magnitude smaller than the reference stream
    resolved = refs.join(
        F.broadcast(repos.select(F.col("repo").alias("dst_repo"))), "dst_repo", "inner"
    )
    edges = (
        resolved.groupBy("repo", "dst_repo")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .select(
            F.xxhash64("repo").alias("src"),
            F.xxhash64("dst_repo").alias("dst"),
            "weight",
        )
    )
    return edges, repo_ids


def derive_file_edges(corpus: DataFrame) -> DataFrame:
    """File→file edges: importing file → every file of the imported repo
    whose module matches. For the synthetic corpus, a module reference
    ``org_repo_X.mod_M`` maps to files of repo X with path ``.../mod_M.*``."""
    files = corpus.select(
        F.xxhash64("repo", "path").alias("file_id"),
        "repo",
        F.regexp_extract("path", r"mod_(\d+)\.", 1).alias("mod"),
    )
    refs = (
        corpus.select(
            F.xxhash64("repo", "path").alias("src"),
            "repo",
            F.explode(extract_imports(F.col("content"), F.col("lang"))).alias("module"),
        )
        .select(
            "src",
            module_to_repo(F.col("module")).alias("dst_repo"),
            F.regexp_extract("module", r"\.mod_(\d+)$", 1).alias("dst_mod"),
            "repo",
        )
        .where(F.col("dst_repo") != F.col("repo"))
    )
    target = files.select(
        F.col("file_id").alias("dst"), F.col("repo").alias("dst_repo"), F.col("mod").alias("dst_mod")
    )
    return (
        refs.join(target, ["dst_repo", "dst_mod"], "inner")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
