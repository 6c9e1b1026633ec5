"""k-core: the maximal subgraph in which every vertex has degree ≥ k,
computed by iterative peeling (Matula & Beck 1983; the KCore app of the
Ligra/Julienne line — the reference engine at /root/reference/src has
no k-core, this extends its algorithm family on the same edge table).

Call with a SYMMETRIZED graph (degree means undirected degree, as in
the literature); on a directed graph the semantics degrade to
"out-degree core", which is rarely what's wanted.

Scale shape (a linkgraph/loop.py ``peel``): the edge relation is the
residual. Each round
  1. degrees = cur_edges.groupBy('src').count() — cur_edges descends
     from the Graph's src-hash-partitioned persisted edge table and
     every round's cuts are anti-joins that PRESERVE that
     partitioning, so the groupBy plans with no exchange;
  2. the round's removed set (deg < k) is materialized with its count
     riding the same job;
  3. the driver cuts every edge touching a removed vertex out of the
     residual by two anti-joins, broadcast while the removed set is
     under the driver's row cap (its count is known by then).
Vertices whose remaining degree hits 0 vanish from the groupBy output
and are thereby peeled implicitly. The loop ends when nothing was
removed; every survivor then has degree ≥ k by construction, and the
answer is the residual's degree table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import Cut, PeelRound, peel


@dataclass
class KCoreResult:
    df: DataFrame  # (id long, deg long): k-core members + their in-core degree
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _round(r: PeelRound, k: int) -> Cut:
    (edges,) = r.res
    removed, s = r.observe(
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") < k)
        .select("src"),
        F.count(F.lit(1)).alias("removed"),
    )
    n = int(s["removed"] or 0)
    return Cut(removed, n, {"removed": n}, done=n == 0)


def kcore(
    graph: Graph,
    k: int,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> KCoreResult:
    """With a CheckpointManager, each round persists its REMOVED-vertex
    delta (src — O(removed) rows); resume cuts the union of the deltas
    out of the original edges. A converged record skips straight to
    the final degree computation, which reads that cut."""

    def core(_removed: DataFrame, res: list[DataFrame], _converged: bool) -> DataFrame:
        return (
            res[0]
            .groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") >= k)
        )

    res = peel(
        [graph.edges],
        [["src", "dst"]],
        lambda r: _round(r, k),
        max_iter=max_iter,
        schema="src long",
        finish=core,
        ckpt=ckpt,
    )
    return KCoreResult(res.df, res.iterations, res.wall_seconds, res.metrics)
