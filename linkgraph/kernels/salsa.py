"""SALSA — Lempel & Moran's Stochastic Approach for Link-Structure
Analysis (TOIT 2001), power-iteration form.

The random-walk cousin of HITS and the core of production
who-to-follow / related-page systems (e.g. Twitter's WTF, WWW'13
Gupta et al.): instead of HITS's raw adjacency gathers, every hop is
degree-normalized, so the scores are stationary distributions of the
two-step bipartite random walks and hub-spamming a page cannot inflate
its weight (the reference ships PageRank only —
/root/reference/src/algos.rs:169 — SALSA extends this engine's
link-analysis family the same way HITS does). Semantics per round,
from hub = auth = 1:

    auth'(v) = Σ_{u→v} hub(u)  / outdeg(u)     then auth' /= ||auth'||₁
    hub'(u)  = Σ_{u→v} auth'(v) / indeg(v)     then hub'  /= ||hub'||₁

(two-phase: the hub gather reads the round's ALREADY-normalized
authorities, mirroring kernels/hits.py). Each gather's state side is
pre-filtered to positive degree before the ratio is projected (ANSI
mode evaluates the projection for every state row, sinks included),
which is semantics-neutral: zero-degree rows can never match an edge.
Vertices with no in-edges get auth 0; with no out-edges, hub 0.

On a graph whose authority-side co-citation chain is connected the
authority fixpoint is the classic degree distribution
auth(v) = indeg(v) / m — pinned by a closed-form test.

Spark shape per round (same skeleton as hits.py/pagerank.py): the
state carries (out_deg, in_deg) joined in ONCE at init, each gather is
one m-row SHUFFLE_HASH-hinted join against the src-laid-out edge cache
with the degree ratio computed on the n-row state side, combined by a
partial+final SUM (two-stage skew-safe), and each L1 norm is an
in-plan one-row aggregate broadcast into the normalization — no
driver-side scalar mid-round. The loop is linkgraph/loop.py's driver.
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
class SALSAResult:
    df: DataFrame  # (id long, hub double, auth double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _step(cur: DataFrame, edges: DataFrame) -> DataFrame:
    olds = cur.select(
        "id",
        "out_deg",
        "in_deg",
        F.col("hub").alias("_hub"),
        F.col("auth").alias("_auth"),
    )
    # forward gather: auth sums keyed by dst; the hub/outdeg ratio is
    # computed on the n-row state side (every src has out_deg ≥ 1 — no
    # guard needed)
    a_raw = (
        edges.join(
            cur.where(F.col("out_deg") > 0)
            .select(
                F.col("id").alias("src"),
                (F.col("hub") / F.col("out_deg")).alias("w"),
            )
            .hint("shuffle_hash"),
            "src",
        )
        .groupBy("dst")
        .agg(F.sum("w").alias("raw"))
    )
    s1 = _normalized(a_raw, olds, "dst", "auth", l1=True)
    # transpose gather: hub sums keyed by src, reading the round's
    # already-normalized auth (two-phase update); every dst has
    # in_deg ≥ 1
    h_raw = (
        edges.join(
            s1.where(F.col("in_deg") > 0)
            .select(
                F.col("id").alias("dst"),
                (F.col("auth") / F.col("in_deg")).alias("w"),
            )
            .hint("shuffle_hash"),
            "dst",
        )
        .groupBy("src")
        .agg(F.sum("w").alias("raw"))
    )
    return _normalized(h_raw, s1, "src", "hub", l1=True).select(
        "id", "out_deg", "in_deg", "hub", "auth", "_hub", "_auth"
    )


def salsa(
    graph: Graph,
    tol: float = 1e-6,
    max_iter: int = 50,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
) -> SALSAResult:
    """Runs until max(|Δhub|) + max(|Δauth|) < tol or max_iter rounds.

    With a CheckpointManager the (id, hub, auth, out_deg, in_deg)
    state is durable every `ckpt_every` rounds and on convergence;
    resume continues from the last complete round (hits lifecycle)."""
    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        # degrees ride the state so the hot loop never re-joins them
        init=lambda: graph.degrees.select(
            "id",
            "out_deg",
            "in_deg",
            F.lit(1.0).alias("hub"),
            F.lit(1.0).alias("auth"),
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
    return SALSAResult(
        df=fp.state.select("id", "hub", "auth"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
