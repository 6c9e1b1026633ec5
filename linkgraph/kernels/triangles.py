"""The triangle family's one enumerator: degree-ordered orientation
plus wedge-closing join (BASELINE.json:6; semantics pinned in SURVEY
§2.6 — no reference implementation exists). triangle_count,
clustering.local_clustering, truss.ktruss / truss.trussness and
nodesim.edge_jaccard all enumerate through `oriented_edges` and
`triangles` here; no other module orients edges or self-joins wedges.

Algorithm: symmetrize + drop self-loops; rank vertices by
(degree, id); orient every undirected edge from the lower-ranked to
the higher-ranked endpoint (the oriented graph is a DAG where each
vertex keeps only ~sqrt(m) out-edges even at hub vertices — this is
the classic skew-killer for triangle counting, cf. HERO SIGMOD'24 in
PAPERS.md); every triangle u<v<w (rank order) is then produced exactly
once as the wedge (u→v, u→w) closed by the oriented edge (v→w):

    wedges    = oriented e1 ⋈ e2 on shared source u
    triangles = wedges ⋈ oriented on (v, w)

All steps are joins + aggregates — no Python in the hot path. Oracle:
DuckDB 3-way self-join SQL (exact).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.loop import BCAST_ROWS


@dataclass
class TriangleResult:
    count: int
    wall_seconds: float


def oriented_edges(edges: DataFrame, n_hint: int | None = None) -> DataFrame:
    """Symmetrized, self-loop-free, degree-ordered oriented edge set
    (src, dst, ddeg): edge kept iff (deg(src), src) < (deg(dst), dst).
    The dst degree rides along so wedge generation can re-use the same
    total order without another join. When the vertex count is known
    to be broadcast-sized, both degree joins broadcast the n-row
    degree table so the symmetrized stream is never re-exchanged
    (guide §3.1); otherwise they shuffle.

    The dedupe inside `symmetrize` is an aggregation, so every path
    from a checkpointed loop state into the wedge and closing joins
    passes one: a peeling loop that feeds its state back through here
    keeps clear of sever()'s narrow-diamond shape
    (linkgraph/checkpoint.py). It does not keep the state's estimated
    size from compounding; that takes peel's residual rule
    (linkgraph/loop.py), see sever()'s estimate caveat."""
    sym = symmetrize(edges).where(F.col("src") != F.col("dst"))
    deg = sym.groupBy(F.col("src").alias("v")).agg(F.count("*").alias("deg"))
    sdeg = deg.select(F.col("v").alias("src"), F.col("deg").alias("sdeg"))
    ddeg = deg.select(F.col("v").alias("dst"), F.col("deg").alias("ddeg"))
    if n_hint is not None and n_hint <= BCAST_ROWS:
        sdeg, ddeg = F.broadcast(sdeg), F.broadcast(ddeg)
    with_deg = sym.join(sdeg, "src").join(ddeg, "dst")
    return with_deg.where(
        (F.col("sdeg") < F.col("ddeg"))
        | ((F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst")))
    ).select("src", "dst", "ddeg")


def _wedges(o: DataFrame) -> DataFrame:
    """Wedges (u, v, w) of the oriented set: (u→v, u→w) kept only with
    rank(v) < rank(w) in the SAME (deg, id) order used for
    orientation, so the closing edge — if it exists — is exactly the
    oriented edge (v, w). SHUFFLE_HASH on the oriented side (the same
    choice pagerank.py makes): the default sort-merge plan SORTS the
    Σ outdeg² wedge stream before the closing probe — 17 GB spill per
    rep at rMAT-18 bench scale (BENCH/BASELINE.md r5 triangles
    entry)."""
    e1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("ddeg").alias("vdeg"))
    e2 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"), F.col("ddeg").alias("wdeg"))
    return e1.join(e2.hint("shuffle_hash"), "u").where(
        (F.col("vdeg") < F.col("wdeg"))
        | ((F.col("vdeg") == F.col("wdeg")) & (F.col("v") < F.col("w")))
    )


def _closing(o: DataFrame, m_hint: int | None) -> DataFrame:
    """The oriented edge set keyed (v, w) as the closing join's build
    side. Broadcast when it fits the cap (r6): the wedge stream then
    probes it IN the generation stage — no exchange touches the wedge
    stream at all (sf0.1 copart graph: 6.6-9.7 s → 5.2-6.4 s per rep,
    identical counts); shuffle-hashed otherwise."""
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    if m_hint is not None and m_hint <= BCAST_ROWS:
        return F.broadcast(closing)
    return closing.hint("shuffle_hash")


def triangles(o: DataFrame, m_hint: int | None = None) -> DataFrame:
    """Every triangle of the oriented edge set `o` (from
    `oriented_edges`) exactly once, as (u, v, w) in ascending (deg, id)
    rank order. `m_hint` bounds |o| (any graph edge count does) and
    selects the broadcast close when it fits the cap."""
    return _wedges(o).join(_closing(o, m_hint), ["v", "w"]).select("u", "v", "w")


def edge_support(
    edges: DataFrame, n_hint: int | None = None, m_hint: int | None = None
) -> DataFrame:
    """Per-edge triangle support (u, w, support) of the undirected graph
    of the (src, dst) edge set: each triangle credits its three edges
    under canonical (u < w) keys. Triangle-free edges have no row."""
    tri = triangles(oriented_edges(edges, n_hint), m_hint)
    credits = tri.select(
        F.explode(
            F.array(
                *(
                    F.struct(F.least(a, b).alias("u"), F.greatest(a, b).alias("w"))
                    for a, b in (("u", "v"), ("u", "w"), ("v", "w"))
                )
            )
        ).alias("e")
    ).select("e.u", "e.w")
    return credits.groupBy("u", "w").agg(F.count(F.lit(1)).alias("support"))


def triangle_count(graph: Graph) -> TriangleResult:
    t0 = time.time()
    spark = graph.edges.sparkSession
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # cache the orientation hash-partitioned by src: the wedge
    # self-join then reads both sides co-partitioned — zero exchange
    # in front of the Σ outdeg² row blowup (guide §2.4).
    o = oriented_edges(graph.edges, n_hint=graph.n).repartition(p, "src").persist()
    try:
        if graph.m <= BCAST_ROWS:
            count = int(triangles(o, graph.m).count())
        else:
            # map-side combine BEFORE the closing exchange (fallback at
            # scale): wedges reduce to (v, w, count) inside the
            # generation stage, so the exchange carries distinct
            # closing-pair counts, not raw wedges. rMAT-18 @ 8 cores:
            # 120.9 s (SMJ) -> 108.5 s (SHJ) -> ~76 s (SHJ + combine)
            # per rep, identical counts.
            wcnt = _wedges(o).groupBy("v", "w").agg(F.count(F.lit(1)).alias("wc"))
            closed = wcnt.join(_closing(o, graph.m), ["v", "w"])
            count = int(closed.agg(F.sum("wc")).collect()[0][0] or 0)
    finally:
        o.unpersist()
    return TriangleResult(count=count, wall_seconds=time.time() - t0)


def kclique_count(graph: Graph, k: int = 4) -> TriangleResult:
    """k-clique counting on the degree-ordered orientation (the
    kClist scheme, Danisch/Balalau/Sozio WWW'18; k=3 degenerates to
    triangle_count's plan): every k-clique appears EXACTLY once as an
    ordered tuple v1 < v2 < ... < vk in the (deg, id) total order,
    built by extending (k−1)-tuples with a common out-neighbor —
    level ℓ adds ℓ−1 equi-joins against the oriented adjacency, all
    keyed on (member, candidate). The orientation is the skew-killer:
    out-degrees are bounded by O(√m) on any graph (arboricity), so no
    hub explosion; total work is the standard c(G)^{k-2}·m bound.
    """
    if not 3 <= k <= 6:
        raise ValueError("k must be in [3, 6]")
    t0 = time.time()
    o = oriented_edges(graph.edges, n_hint=graph.n).select("src", "dst").persist()
    try:
        cliq = o.select(F.col("src").alias("v1"), F.col("dst").alias("v2"))
        for level in range(3, k + 1):
            ext = cliq.join(
                o.select(F.col("src").alias("v1"), F.col("dst").alias("x")), "v1"
            )
            for i in range(2, level):
                ext = ext.join(
                    o.select(F.col("src").alias(f"v{i}"), F.col("dst").alias("x")),
                    [f"v{i}", "x"],
                )
            cliq = ext.withColumnRenamed("x", f"v{level}")
        count = cliq.count()
    finally:
        o.unpersist()
    return TriangleResult(count=count, wall_seconds=time.time() - t0)
