"""Triangle enumeration / per-vertex triangle counts.

Reference: /root/reference/app/.../graph_operations/EnumerateTriangles.scala
  * loops dropped; each edge mapped to canonical (min,max) with a 2-bit
    orientation label, OR-reduced over duplicates (:42-47);
  * ``needsBothDirections`` keeps only pairs seen in both directions
    (:54-58);
  * edges directed small→big give an acyclic orientation in which every
    triangle has exactly one vertex of indegree 2, so each triangle is
    found exactly once (:66-92, 104-109).

Spark expression: canonicalize + ``bit_or`` aggregate, then the classic
two-join enumeration  (a,b)⋈(b,c)⋈(a,c). Counts are exact integers.

Scale: the joins shuffle on single vertex keys; very-high-degree vertices
make the (b,c) join skew — AQE skew-join splits those (session.py), and
the canonical small→big orientation already halves each neighborhood.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lynxkite_spark.graph import Graph


def canonical_edges(edges: DataFrame, needs_both_directions: bool = False) -> DataFrame:
    """Distinct undirected edges (a < b), optionally only those present in
    both directions (EnumerateTriangles.scala:42-58's bit-label trick)."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    labeled = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
        F.when(F.col("src") < F.col("dst"), F.lit(1)).otherwise(F.lit(2)).alias("bits"),
    )
    agg = labeled.groupBy("a", "b").agg(F.bit_or("bits").alias("bits"))
    if needs_both_directions:
        agg = agg.where(F.col("bits") == 3)
    return agg.select("a", "b")


def enumerate_triangles(graph: Graph, needs_both_directions: bool = False) -> DataFrame:
    """All triangles as DataFrame[a, b, c] with a < b < c; each exactly once."""
    e = canonical_edges(graph.edges, needs_both_directions)
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    return (
        ab.join(bc, "b")
        .join(ac, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )


def triangle_count(graph: Graph, needs_both_directions: bool = False) -> DataFrame:
    """Per-vertex triangle participation count (the reference exposes this
    as the degree of the triangle segmentation's belongs_to;
    BuildSegmentationOperations.scala:283-300). Vertices in no triangle
    get 0. Returns DataFrame[id, triangles: long]."""
    tri = enumerate_triangles(graph, needs_both_directions)
    corners = tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
    counts = corners.groupBy("id").agg(F.count(F.lit(1)).alias("triangles"))
    return (
        graph.vertices.select("id")
        .join(counts, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )
