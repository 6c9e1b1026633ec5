"""Local clustering coefficient: per-vertex triangle counts and
C(v) = 2*T(v) / (deg(v) * (deg(v)-1)) over the symmetrized, self-loop-
free graph (Watts & Strogatz 1998) — the classic "how clique-like is
this page's neighborhood" web-graph statistic, and the per-vertex
refinement of the engine's global triangle count (SURVEY §2.6; the
reference engine at /root/reference/src has no per-vertex variant,
this extends its algorithm family on the same edge table).

Algorithm: enumerate the triangles with the triangle family's one
enumerator, kernels/triangles.py `triangles` (each triangle u<v<w in
(deg, id) rank order is materialized exactly once as a closed wedge),
then credit each of the triangle's three corners with +1 via a 3-way
explode + groupBy — one extra narrow shuffle over the triangle set,
which is tiny relative to the edge set on web-shaped graphs. Degrees
are distinct-neighbor degrees (symmetrize() dedupes), so C(v) matches
the textbook definition on multigraph inputs too.

Scale notes: the orientation bounds per-vertex wedge work to
~sqrt(m) even at hub vertices (the triangles.py skew-killer), the
explode is 3 rows per triangle, and the final join is degree-table
(n rows) vs triangle-credit (≤ n rows) — all shuffle-safe, no Python
in the hot path. Vertices with deg < 2 get coefficient 0.0 by
convention (mirrored in the driver oracle).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.checkpoint import sever
from linkgraph.kernels.triangles import oriented_edges, triangles


@dataclass
class ClusteringResult:
    df: DataFrame  # (id long, tri long, coeff double)
    avg_coeff: float  # mean C(v) over all vertices (Watts-Strogatz)
    global_coeff: float  # 3*triangles / wedges (transitivity)
    triangles: int
    wall_seconds: float


def local_clustering(graph: Graph) -> ClusteringResult:
    """Per-vertex triangle count + local clustering coefficient for
    every vertex of the symmetrized graph."""
    t0 = time.time()
    sym = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )

    o = oriented_edges(graph.edges, n_hint=graph.n).persist()
    try:
        credit = (
            triangles(o, graph.m)
            .select(F.explode(F.array("u", "v", "w")).alias("id"))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("tri"))
        )
        out = sever(
            deg.join(credit, "id", "left")
            .select(
                "id",
                F.coalesce(F.col("tri"), F.lit(0)).alias("tri"),
                F.when(
                    F.col("deg") >= 2,
                    F.lit(2.0) * F.coalesce(F.col("tri"), F.lit(0))
                    / (F.col("deg") * (F.col("deg") - 1)),
                )
                .otherwise(F.lit(0.0))
                .alias("coeff"),
                "deg",
            )
        )
        # rollups read the materialized per-vertex table — no recompute
        agg = out.agg(
            F.avg("coeff").alias("avg"),
            F.sum("tri").alias("tri3"),
            F.sum(
                F.when(
                    F.col("deg") >= 2,
                    F.col("deg") * (F.col("deg") - 1) / F.lit(2.0),
                ).otherwise(F.lit(0.0))
            ).alias("wedges"),
        ).first()
        tri_total = int(agg["tri3"] or 0) // 3
        wedge_total = float(agg["wedges"] or 0.0)
        result_df = out.select("id", "tri", "coeff")
    finally:
        o.unpersist()
    return ClusteringResult(
        df=result_df,
        avg_coeff=float(agg["avg"] or 0.0),
        global_coeff=(float(agg["tri3"] or 0) / wedge_total)
        if wedge_total > 0
        else 0.0,
        triangles=tri_total,
        wall_seconds=time.time() - t0,
    )
