"""Eigenvector centrality — power iteration toward the principal
eigenvector of Aᵀ (Bonacich 1972): the prestige score PageRank
dampens and HITS splits in two.

The reference ships PageRank only (/root/reference/src/algos.rs:169);
this is beyond-reference link-analysis coverage completing the
centrality family (pagerank / katz / hits / salsa / harmonic).
Semantics per round, from x = 1:

    x'(v) = Σ_{u→v} x(u)     then x' /= ||x'||₂

Vertices with no in-edges go to 0; on a graph whose reachable core is
aperiodic the iteration converges to the principal eigenvector. A DAG
collapses to all-zeros (the norm guard keeps that ANSI-safe and the
run converges rather than throwing) — the standard caveat, documented
rather than hidden.

Spark shape per round (hits.py's round, single phase): ONE m-row
SHUFFLE_HASH-hinted join against the src-laid-out edge cache +
partial+final SUM keyed on dst (two-stage skew-safe gather), the L2
norm as an in-plan one-row aggregate broadcast into the projection
(no driver scalar mid-round). The loop is linkgraph/loop.py's driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.kernels.hits import _normalized
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change


@dataclass
class EigenResult:
    df: DataFrame  # (id long, score double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _step(cur: DataFrame, edges: DataFrame) -> DataFrame:
    raw = (
        edges.join(
            cur.select(F.col("id").alias("src"), "score").hint("shuffle_hash"), "src"
        )
        .groupBy("dst")
        .agg(F.sum("score").alias("raw"))
    )
    return _normalized(raw, cur.select("id", F.col("score").alias("_score")), "dst", "score")


def eigenvector_centrality(
    graph: Graph,
    tol: float = 1e-6,
    max_iter: int = 100,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
) -> EigenResult:
    """Runs until max(|Δscore|) < tol or max_iter rounds.

    With a CheckpointManager the (id, score) state is durable every
    `ckpt_every` rounds and on convergence; resume continues from the
    last complete round (the uniform lifecycle all iterative kernels
    share)."""
    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=lambda: graph.vertices.select("id", F.lit(1.0).alias("score")),
        step=_step,
        scalars=[max_change("score")],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        plan=decay_chain(tol),
        ckpt=ckpt,
        ckpt_every=ckpt_every,
    )
    return EigenResult(
        df=fp.state.select("id", "score"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
