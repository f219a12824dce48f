"""Interactive view-state operators — the data behind the reference's
graph-drawing diagrams.

Reference:
  * TripletAttributes.scala:14-73 (``TripletMapping``) — per-vertex
    arrays of incident edge IDs (outgoing + incoming), used by the
    drawing controller to expand a small vertex view into its edge
    diagram without scanning the full edge bundle.
  * TripletAttributes.scala:96-160 (``EdgesForVerticesFromEdgesAndNeighbors``)
    — given a SMALL id set, the incident edges, via the triplet mapping.
  * SampledView.scala:30-45 — restrict a (filtered) vertex set to an
    explicit id set and produce the ordered id list + id→index map the
    renderer addresses vertices by.
  * VertexViews.scala / GraphDrawingController — the "edge diagram"
    between two vertex views: for a sampled view, edges whose both
    endpoints are view members, re-keyed to view indices and counted;
    for a bucketed view, edges re-keyed to (x_bucket, y_bucket) cells
    (the edge-side companion of ``vertex_bucket_grid``).

The reference computes these per UI interaction on a long-lived server;
here each is a plain DataFrame op. Scale story: the id→index map of a
sampled view is bounded by the sample size (the UI never renders more
than a few hundred vertices), so it broadcasts; the triplet mapping and
the bucketed edge diagram are single-shuffle aggregations over the edge
bundle with map-side combine — nothing driver-side grows with |E|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lynxkite_spark.bounded import bounded_collect
from lynxkite_spark.graph import Graph


def _edges_with_ids(edges: DataFrame) -> DataFrame:
    """Edges with a stable ``edge_id``: an existing ``edge_id`` column is
    kept; otherwise one is derived as ``xxhash64(src, dst, seq)`` where
    ``seq`` numbers multi-edges within their (src, dst) pair — value-
    derived, so identical at any parallelism (SURVEY.md §4.2), unlike
    the reference's partition-derived ``randomNumbered`` ids."""
    if "edge_id" in edges.columns:
        return edges
    from pyspark.sql import Window as W

    seq = F.row_number().over(
        W.partitionBy("src", "dst").orderBy(F.xxhash64("src", "dst"))
    )
    return edges.select(
        F.xxhash64("src", "dst", seq.cast("long")).alias("edge_id"), "src", "dst"
    )


def triplet_mapping(
    graph: Graph, sample_size: int = -1
) -> DataFrame:
    """TripletMapping (TripletAttributes.scala:30-73): per-vertex arrays
    of outgoing and incoming edge IDs.

    Returns DataFrame[id, src_edges: array<long>, dst_edges: array<long>]
    over the full vertex set (empty arrays for isolated vertices — the
    reference's ``sortedLeftOuterJoin`` + ``Array[ID]()`` default).
    A non-negative ``sample_size`` bounds the edges considered, like the
    reference's ``takeFirstNValuesOrSo`` — but hash-ordered, so the
    sample is deterministic at any parallelism rather than
    partition-order dependent.

    One shuffle per direction (groupBy vertex, collect_list with map-side
    partial aggregation); array sizes are per-vertex degree, so a hub
    vertex's array is its degree — same memory shape as the reference's
    per-vertex ``Array[ID]``.
    """
    e = _edges_with_ids(graph.edges)
    if sample_size >= 0:
        e = (
            e.orderBy(F.xxhash64("edge_id"))
            .limit(sample_size)
        )
    out = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.sort_array(F.collect_list("edge_id")).alias("src_edges"))
    )
    inn = (
        e.groupBy(F.col("dst").alias("id"))
        .agg(F.sort_array(F.collect_list("edge_id")).alias("dst_edges"))
    )
    empty = F.array().cast("array<long>")
    return (
        graph.vertices.select("id")
        .join(out, "id", "left")
        .join(inn, "id", "left")
        .select(
            "id",
            F.coalesce("src_edges", empty).alias("src_edges"),
            F.coalesce("dst_edges", empty).alias("dst_edges"),
        )
    )


def edges_for_vertices(
    graph: Graph, ids: list, max_edges: int = 10_000
) -> DataFrame:
    """EdgesForVerticesFromEdgesAndNeighbors (TripletAttributes.scala:96-160):
    the edges incident to a SMALL id set — the drawing controller's way
    of expanding a sampled vertex view into the surrounding edges.

    ``ids`` broadcasts (it is a UI sample, ≤ a few hundred); the edge
    bundle is filtered by a broadcast semi-join on either endpoint — no
    shuffle of the edge table, the filter runs map-side. The reference
    aborts when the result exceeds ``maxNumEdges`` (returns None,
    TripletAttributes.scala:140-152); here that is a raised ValueError
    with the same budget meaning, enforced via a limit probe so the
    over-budget case never materializes more than ``max_edges + 1`` rows.

    Returns DataFrame[edge_id, src, dst].
    """
    spark = graph.edges.sparkSession
    idf = F.broadcast(spark.createDataFrame([(int(i),) for i in ids], "id long"))
    e = _edges_with_ids(graph.edges)
    incident = (
        e.join(idf.withColumnRenamed("id", "src"), "src", "left_semi")
        .unionByName(
            e.join(idf.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        .dropDuplicates(["edge_id"])
    )
    # the capped probe is materialized once and, within budget, is the
    # result: the semi-join union runs one time and never yields more
    # than max_edges + 1 rows, and no cache outlives the call
    probe = incident.limit(max_edges + 1).localCheckpoint(eager=True)
    if probe.count() > max_edges:
        raise ValueError(
            f"edges_for_vertices: id set touches more than max_edges="
            f"{max_edges} edges (the reference's maxNumEdges abort, "
            f"TripletAttributes.scala:140-152); sample fewer centers or "
            f"raise the budget."
        )
    return probe.select("edge_id", "src", "dst")


def sampled_view(
    vertices: DataFrame, id_set: list, filter_expr: str | None = None,
    max_rows: int = 100_000
) -> tuple[list, dict]:
    """SampledView (SampledView.scala:30-45): restrict a (filtered)
    vertex set to an explicit id set; output the sorted surviving id
    list (``svVertices``) and the id→index map (``vertexIndices``) the
    renderer addresses vertices by.

    ``filter_expr`` is a SQL predicate over the vertex columns (the
    reference takes a pre-filtered VertexSet; the predicate language is
    the engine's filter surface, attributes.py). The output is bounded
    by ``len(id_set)``, driver-side on purpose — it IS the view state —
    with the bounded_collect discipline guarding the materialization.
    """
    df = vertices
    if filter_expr:
        df = df.where(filter_expr)
    spark = df.sparkSession
    ids = F.broadcast(
        spark.createDataFrame([(int(i),) for i in sorted(set(id_set))], "id long")
    )
    rows = bounded_collect(
        df.join(ids, "id", "left_semi").select("id").orderBy("id"),
        max_rows,
        "sampled_view",
    )
    sv_vertices = [r["id"] for r in rows]
    vertex_indices = {v: i for i, v in enumerate(sv_vertices)}
    return sv_vertices, vertex_indices


def sampled_edge_diagram(
    graph: Graph, vertex_indices: dict
) -> DataFrame:
    """The edge diagram between two sampled vertex views
    (GraphDrawingController / EdgeDiagram semantics): edges whose BOTH
    endpoints are view members, re-keyed to view indices, multi-edges
    counted.

    The index map broadcasts (bounded by the sample size); the edge
    bundle is filtered map-side by two broadcast joins and the count is
    one aggregation over at most |view|² keys.

    Returns DataFrame[src_idx, dst_idx, count].
    """
    spark = graph.edges.sparkSession
    m = F.broadcast(
        spark.createDataFrame(
            [(int(v), int(i)) for v, i in vertex_indices.items()], "id long, idx int"
        )
    )
    return (
        graph.edges.select("src", "dst")
        .join(m.select(F.col("id").alias("src"), F.col("idx").alias("src_idx")), "src")
        .join(m.select(F.col("id").alias("dst"), F.col("idx").alias("dst_idx")), "dst")
        .groupBy("src_idx", "dst_idx")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def bucketed_edge_diagram(
    graph: Graph, x_attr: str, y_attr: str,
    x_buckets: int = 4, y_buckets: int = 4,
) -> DataFrame:
    """The edge side of the bucketed view (companion of
    ``vertex_bucket_grid``, sampling.py:136): each vertex lands in an
    equal-width (x_bucket, y_bucket) cell; every edge is re-keyed to its
    endpoints' cells and counted — the aggregate arrow weights of the
    reference's bucketed graph diagram.

    The per-vertex cell assignment is a projection (min/max from one
    stats pass, same as vertex_bucket_grid); the edge re-key is two
    joins on the vertex id — shuffle ∝ |E|, output ≤ (x·y)² rows.

    Returns DataFrame[src_x, src_y, dst_x, dst_y, count].
    """
    v = graph.vertices
    stats = v.agg(
        F.min(x_attr).alias("xlo"), F.max(x_attr).alias("xhi"),
        F.min(y_attr).alias("ylo"), F.max(y_attr).alias("yhi"),
    ).first()
    xw = (stats["xhi"] - stats["xlo"]) / x_buckets or 1.0
    yw = (stats["yhi"] - stats["ylo"]) / y_buckets or 1.0
    xb = F.least(
        F.floor((F.col(x_attr) - stats["xlo"]) / xw), F.lit(x_buckets - 1)
    ).cast("int")
    yb = F.least(
        F.floor((F.col(y_attr) - stats["ylo"]) / yw), F.lit(y_buckets - 1)
    ).cast("int")
    cells = v.select("id", xb.alias("xb"), yb.alias("yb"))
    return (
        graph.edges.select("src", "dst")
        .join(
            cells.select(
                F.col("id").alias("src"),
                F.col("xb").alias("src_x"), F.col("yb").alias("src_y"),
            ),
            "src",
        )
        .join(
            cells.select(
                F.col("id").alias("dst"),
                F.col("xb").alias("dst_x"), F.col("yb").alias("dst_y"),
            ),
            "dst",
        )
        .groupBy("src_x", "src_y", "dst_x", "dst_y")
        .agg(F.count(F.lit(1)).alias("count"))
    )
