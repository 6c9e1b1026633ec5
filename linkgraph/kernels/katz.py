"""Katz centrality (Katz 1953; Newman "Networks" §7.2) — the classic
attenuated-path centrality that predates and complements PageRank:

    x'(v) = beta + alpha * Σ_{u→v} x(u)        from x0 = beta

so after t rounds x(v) = beta * Σ_{l<=t} alpha^l * (#paths of length l
ending at v), and the fixpoint is beta * (I - alpha*Aᵀ)⁻¹ 1. Unlike
PageRank there is no degree normalization: a prolific linker passes
its full (attenuated) weight along EVERY out-edge, which is the right
model when an edge is an endorsement whose value doesn't dilute (the
reference ships PageRank only — /root/reference/src/algos.rs:169 —
Katz is beyond-reference link-analysis coverage like hits/salsa).

Convergence requires alpha < 1/lambda_max(A). The kernel cannot know
the spectral radius, so the contract is the textbook one: the caller
picks alpha (default 0.05, safe for sparse web-ish graphs); if the
iteration diverges the per-round diff grows monotonically and the
max_iter cap stops the loop with converged=False — loud, not wrong.

Spark shape per round — pagerank.py's audited skeleton minus the
teleport/dangling scalars (Katz has neither): ONE m-row SHUFFLE_HASH
join (src-laid-out edge cache ⋈ state on src), ONE partial+final SUM
on dst (two-stage skew-safe gather), one left join back onto the
vertex skeleton. Plans are byte-identical across rounds (alpha/beta
are literals), so Janino compiles once. The loop — chains, the
convergence collect, checkpoints every ckpt_every rounds and on
convergence, resume — is linkgraph/loop.py's driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change


@dataclass
class KatzResult:
    df: DataFrame  # (id long, katz double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def katz(
    graph: Graph,
    alpha: float = 0.05,
    beta: float = 1.0,
    tol: float = 1e-6,
    max_iter: int = 100,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
) -> KatzResult:
    """Runs x' = beta + alpha * Aᵀ x until max|Δx| < tol or max_iter."""
    if alpha <= 0 or beta <= 0:
        raise ValueError("katz needs alpha > 0 and beta > 0")

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        gathered = (
            edges.join(
                cur.select(F.col("id").alias("src"), "katz").hint("shuffle_hash"),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum("katz").alias("gathered"))
        )
        return (
            cur.select("id", F.col("katz").alias("_katz"))
            .join(gathered.hint("shuffle_hash"), F.col("id") == F.col("dst"), "left")
            .select(
                "id",
                (
                    F.lit(float(beta))
                    + F.lit(float(alpha)) * F.coalesce("gathered", F.lit(0.0))
                ).alias("katz"),
                "_katz",
            )
        )

    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=lambda: graph.vertices.select("id", F.lit(float(beta)).alias("katz")),
        step=step,
        scalars=[max_change("katz")],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        plan=decay_chain(tol),
        ckpt=ckpt,
        ckpt_every=ckpt_every,
    )
    return KatzResult(
        df=fp.state.select("id", "katz"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
