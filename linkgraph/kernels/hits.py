"""HITS — Kleinberg's hubs & authorities (JACM'99) power iteration.

The classic web-link-analysis companion to PageRank (the reference
ships PageRank only — /root/reference/src/algos.rs:169 — HITS is part
of this engine's beyond-reference link-analysis coverage for the same
directed web graph). Semantics per round, from hub = auth = 1:

    auth'(v) = Σ_{u→v} hub(u)      then auth' /= ||auth'||₂
    hub'(u)  = Σ_{u→v} auth'(v)    then hub'  /= ||hub'||₂

(the standard two-phase update: the hub gather reads the round's
ALREADY-normalized authorities). Vertices with no in-edges get
auth 0; no out-edges, hub 0.

Spark shape per round (same skeleton as pagerank.py): two m-row
SHUFFLE_HASH-hinted joins against the src-laid-out edge cache — one
forward (combine on dst) and one over the free transpose (combine on
src) — each a partial+final SUM (the two-stage skew-safe gather), and
two IN-PLAN one-row L2-norm aggregates broadcast into the
normalization, so no driver-side scalar is ever collected mid-round.
The convergence diff is max |Δhub| + max |Δauth|; the loop is
linkgraph/loop.py's driver. ANSI-safe: norms guard the division behind
a ``nv > 0`` CASE (an edgeless graph converges to all-zeros instead of
throwing).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change


@dataclass
class HITSResult:
    df: DataFrame  # (id long, hub double, auth double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _normalized(
    raw: DataFrame, base: DataFrame, key: str, out: str, l1: bool = False
) -> DataFrame:
    """L2- (or L1-) normalize `raw`'s sums and left-join them onto
    `base` by id.

    raw  : (key, raw double) per-target gather sums
    base : state rows keyed by `id` (all vertices)
    The norm is an in-plan one-row aggregate broadcast into the
    projection — Spark runs it as a subquery stage, no driver scalar.
    """
    total = F.sum("raw") if l1 else F.sqrt(F.sum(F.col("raw") * F.col("raw")))
    norm = raw.agg(F.coalesce(total, F.lit(0.0)).alias("nv"))
    score = (
        F.when(
            F.col("nv") > 0,
            F.coalesce(F.col("raw"), F.lit(0.0)) / F.col("nv"),
        )
        .otherwise(F.lit(0.0))
        .alias(out)
    )
    keep = [base[c] for c in base.columns if c != out]
    return (
        base.join(raw.hint("shuffle_hash"), base["id"] == raw[key], "left")
        .crossJoin(F.broadcast(norm))
        .select(*keep, score)
    )


def _step(cur: DataFrame, edges: DataFrame) -> DataFrame:
    olds = cur.select("id", F.col("hub").alias("_hub"), F.col("auth").alias("_auth"))
    # forward gather: auth sums keyed by dst
    a_raw = (
        edges.join(cur.select(F.col("id").alias("src"), "hub").hint("shuffle_hash"), "src")
        .groupBy("dst")
        .agg(F.sum("hub").alias("raw"))
    )
    s1 = _normalized(a_raw, olds, "dst", "auth")
    # transpose gather: hub sums keyed by src, reading the round's
    # already-normalized auth (two-phase update)
    h_raw = (
        edges.join(s1.select(F.col("id").alias("dst"), "auth").hint("shuffle_hash"), "dst")
        .groupBy("src")
        .agg(F.sum("auth").alias("raw"))
    )
    return _normalized(h_raw, s1, "src", "hub").select("id", "hub", "auth", "_hub", "_auth")


def hits(
    graph: Graph,
    tol: float = 1e-6,
    max_iter: int = 50,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
) -> HITSResult:
    """Runs until max(|Δhub|) + max(|Δauth|) < tol or max_iter rounds.

    With a CheckpointManager the (id, hub, auth) state is durable
    every `ckpt_every` rounds and on convergence; resume continues
    from the last complete round (same lifecycle as pagerank)."""
    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=lambda: graph.vertices.select(
            "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth")
        ),
        step=_step,
        scalars=[max_change("hub", "auth")],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        plan=decay_chain(tol),
        ckpt=ckpt,
        ckpt_every=ckpt_every,
    )
    return HITSResult(
        df=fp.state.select("id", "hub", "auth"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
