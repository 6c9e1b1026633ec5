"""Densest subgraph, 2(1+ε)-approximation by parallel peeling
(Bahmani, Kumar & Vassilvitskii, VLDB'12 — the MapReduce relaxation of
Charikar's greedy): repeatedly delete every vertex whose degree is at
most (1+ε) times the current average degree; the densest of the
O(log n / ε) intermediate subgraphs is within 2(1+ε) of the optimum.
The dense-core extractor for web graphs — link farms and spam clusters
surface as the densest subgraph (Gibson/Kumar/Tomkins VLDB'05). The
reference engine at /root/reference/src has no densest-subgraph app;
this extends its algorithm family on the same edge table.

Loop shape (a linkgraph/loop.py ``peel``): the symmetrized edge
relation and the alive vertex set are the residuals. Each round
  1. one job materializes the per-vertex degree table (deg-0 vertices
     ride along via a left join on the alive set, so implicit
     isolation is an explicit removal) with |S| and Σdeg riding it —
     no extra count jobs;
  2. the removal threshold (1+ε)·Σdeg/|S| ≡ 2(1+ε)ρ is a driver
     scalar; removed vertices get this round's peel tag (tags are
     disjoint across rounds — O(n) rows total across the whole run);
  3. the driver cuts the removed vertices out of both residuals by
     anti-joins.
Density ρ = m/n (undirected: Σdeg/2|S|) is tracked per round; the
argmax round r* (earliest on ties) defines the answer: the subgraph
S_{r*} = {v : peel_round(v) ≥ r*}.

Scale notes: O(log n / ε) rounds by theorem regardless of graph shape;
per round one exchange-free degree agg on the src-bucketed cache + the
residual anti-joins — no recurring edge shuffle. The peel-tag union
is the full answer (vertex → peel round), so no per-round snapshots of
the surviving subgraph are ever materialized.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.loop import Cut, PeelRound, peel


@dataclass
class DensestResult:
    df: DataFrame  # (id long, peel long): round at which v was peeled
    best_round: int  # r* — argmax density (earliest on ties)
    best_density: float  # m/n of S_{r*}
    densities: list[float]  # ρ per round, index 0 = round 1
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)

    def members(self) -> DataFrame:
        """Vertices of the winning subgraph S_{r*}."""
        return self.df.where(F.col("peel") >= self.best_round).select("id")


def _round(r: PeelRound, epsilon: float) -> Cut | None:
    edges, alive = r.res
    deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    deg_full, s = r.observe(
        alive.join(deg, "id", "left").select(
            "id", F.coalesce(F.col("deg"), F.lit(0)).alias("deg")
        ),
        F.count(F.lit(1)).alias("n"),
        F.sum("deg").alias("m2"),
    )
    n_r = int(s["n"] or 0)
    m2_r = int(s["m2"] or 0)
    if n_r == 0:
        return None
    # (1+eps)*m2/n == 2(1+eps)rho — the exact expression is mirrored
    # in the driver oracle, so keep the operation order fixed
    thr = (1.0 + epsilon) * m2_r / n_r
    removed, c = r.observe(
        deg_full.where(F.col("deg") <= thr).select(
            "id", F.lit(r.iteration).cast("long").alias("peel")
        ),
        F.count(F.lit(1)).alias("rows"),
    )
    rec = {"n": n_r, "density": m2_r / (2.0 * n_r)}
    return Cut(removed, int(c["rows"]), rec, part=removed)


def densest_subgraph(
    graph: Graph, epsilon: float = 0.1, max_iter: int = 10_000
) -> DensestResult:
    sym = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))

    def survivors(peels: DataFrame, res: list[DataFrame], converged: bool) -> DataFrame:
        if converged:
            return peels
        # max_iter exhausted with survivors: they outlast every peel
        return peels.unionByName(
            res[1].withColumn("peel", F.lit(max_iter + 1).cast("long"))
        )

    res = peel(
        [sym, sym.select(F.col("src").alias("id")).distinct()],
        [["src", "dst"], ["id"]],
        lambda r: _round(r, epsilon),
        keys=lambda d: d.select("id"),
        max_iter=max_iter,
        schema="id long, peel long",
        finish=survivors,
    )
    densities = [m["density"] for m in res.metrics]
    best_round, best_density = 0, -1.0
    for rnd, rho in enumerate(densities, 1):
        if rho > best_density:
            best_density, best_round = rho, rnd
    return DensestResult(
        df=res.df,
        best_round=best_round,
        best_density=best_density,
        densities=densities,
        iterations=res.iterations,
        wall_seconds=res.wall_seconds,
        metrics=res.metrics,
    )
