"""Edge neighborhood similarity — Jaccard overlap of the two endpoint
neighborhoods for every edge (the "embeddedness" / tie-strength measure
of Easley & Kleinberg ch. 3; Neo4j GDS ships the non-adjacent-pair
variant as Node Similarity, which kernels/linkpred.py covers). The
reference engine at /root/reference/src has no similarity op; this
extends its algorithm family over the same edge table.

For an undirected edge {u, v}:
    cn(u,v)      = |N(u) ∩ N(v)|        (common neighbors — the edge's
                                         triangle support)
    jaccard(u,v) = cn / (deg(u) + deg(v) - cn)
The denominator is ≥ 2 for any real edge (v ∈ N(u) and u ∈ N(v), and
deg ≥ cn + 1 on both sides), so the division is ANSI-safe without
guards. cn and the degrees are exact int64 aggregates and jaccard is a
single fixed-order expression over them — bit-identical to the DuckDB
oracle with NO rounding (the graph_stats.py approach).

Scale shape: cn IS the k-truss support table, kernels/triangles.py
`edge_support` over the triangle family's one enumerator — wedge work
at a vertex is bounded by its oriented out-degree ≈ sqrt(m) (the
standard orientation skew-killer), one explode + partial+final groupBy
credits each triangle's three canonical edges, and the degree
attachment is two m-row hash joins on the endpoint key. One shot, no
iteration; at 100 TB this costs exactly one triangle enumeration.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.checkpoint import sever
from linkgraph.kernels.triangles import edge_support


@dataclass
class EdgeJaccardResult:
    df: DataFrame  # (u, v, cn, deg_u, deg_v, jaccard)
    wall_seconds: float


def edge_jaccard(graph: Graph) -> EdgeJaccardResult:
    """Per-edge common-neighbor count + Jaccard similarity over the
    undirected view of the graph (directed inputs are symmetrized)."""
    t0 = time.time()
    sym = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))
    canon = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    sup = edge_support(graph.edges, graph.n, graph.m)
    deg = sym.groupBy(F.col("src").alias("vtx")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    scored = (
        canon.join(sup, ["u", "w"], "left")
        .select(
            "u",
            "w",
            F.coalesce("support", F.lit(0).cast("long")).alias("cn"),
        )
        .join(deg.select(F.col("vtx").alias("u"), F.col("deg").alias("deg_u")), "u")
        .join(deg.select(F.col("vtx").alias("w"), F.col("deg").alias("deg_v")), "w")
        .select(
            "u",
            F.col("w").alias("v"),
            "cn",
            "deg_u",
            "deg_v",
            (
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    return EdgeJaccardResult(df=sever(scored), wall_seconds=time.time() - t0)
