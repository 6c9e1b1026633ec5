"""Weighted PageRank — power iteration where a vertex distributes its
rank over out-edges PROPORTIONALLY TO EDGE WEIGHT instead of uniformly
(the standard weighted extension, e.g. Xing & Ghorbani 2004; on a host
graph the natural weight is the href multiplicity between hosts, so a
host that links another ten times passes ten times the rank of a
single stray link). The unweighted kernel is pagerank.py; this one
runs on the same loop driver (linkgraph/loop.py) with the same round
shape, but gathers rank * p(u,v) where

    p(u, v) = w(u, v) / Σ_x w(u, x)        (row-normalized once,
                                            BEFORE the loop)
    rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u) * p(u,v)
                               + dangling_mass / n )
    dangling_mass = Σ_{wsum(u)=0} rank(u)

Weights must be positive; edges without a weight row drop out of the
walk (inner join), and a vertex whose out-edges all lack weights is
dangling — the contract is "the weight table IS the walk structure".
Integer weights are recommended: p is then a single exact-int64
division, identical across engines, and ranks match the oracle at
ROUND(9) like the unweighted kernel's.

Scale shape per iteration — identical to pagerank.py's audited plan:
one m-row SHUFFLE_HASH join (normalized edges ⋈ state on src), one
partial+final SUM on dst (two-stage skew-safe gather), one left join
back onto the skeleton, and an in-plan one-row dangling-mass
broadcast. The normalization itself is one groupBy + one join, paid
once.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change


@dataclass
class WeightedPageRankResult:
    df: DataFrame  # (id long, rank double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def pagerank_weighted(
    graph: Graph,
    weights: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
) -> WeightedPageRankResult:
    """weights: (src, dst, w) with w > 0 covering the walkable edges.

    Metrics are one record per round, numbered from 1, with ``wall_s``
    the time since the call started."""
    t0 = time.time()
    n = graph.n
    wsum = weights.groupBy("src").agg(F.sum("w").alias("wsum"))
    # the walk's edge table, cached by the loop driver for this call
    pe = weights.join(wsum, "src").select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.col("wsum").cast("double")).alias("p"),
    )

    def init() -> DataFrame:
        # skeleton: (id, has_out, rank); has_out joined in once.
        has_out = wsum.select(F.col("src").alias("id")).withColumn("has_out", F.lit(True))
        return graph.vertices.select("id").join(has_out, "id", "left").select(
            "id",
            F.coalesce("has_out", F.lit(False)).alias("has_out"),
            (F.lit(1.0) / n).alias("rank"),
        )

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        dm = cur.where(~F.col("has_out")).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm_val")
        )
        contribs = edges.join(
            cur.where(F.col("has_out"))
            .select(F.col("id").alias("src"), "rank")
            .hint("shuffle_hash"),
            "src",
        ).select("dst", (F.col("rank") * F.col("p")).alias("c"))
        gathered = contribs.groupBy("dst").agg(F.sum("c").alias("gathered"))
        return (
            cur.join(gathered.hint("shuffle_hash"), cur["id"] == gathered["dst"], "left")
            .crossJoin(F.broadcast(dm))
            .select(
                cur["id"],
                cur["has_out"],
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("gathered", F.lit(0.0)) + F.col("dm_val") / n)
                ).alias("rank"),
                cur["rank"].alias("_rank"),
            )
        )

    def report(first: int, rows: list[dict], wall: float, _stopped: bool) -> list[dict]:
        return [
            {
                "iteration": r["iteration"] + 1,
                "diff": r["diff"],
                "dangling_mass": r["dangling_mass"],
                "wall_s": time.time() - t0,
            }
            for r in rows
        ]

    fp = fixpoint(
        pe,
        m=graph.m,
        n=n,
        init=init,
        step=step,
        scalars=[
            max_change("rank"),
            F.sum(F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)).alias(
                "dangling_mass"
            ),
        ],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        report=report,
        plan=decay_chain(tol),
    )
    return WeightedPageRankResult(
        df=fp.state.select("id", "rank"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=time.time() - t0,
        metrics=fp.metrics,
    )
