"""PageRank-delta — faithful reproduction of the reference's
frontier-based incremental PageRank (/root/reference/src/algos.rs:169-295),
INCLUDING its two documented quirks (SURVEY §2.5):

  1. First-round activity test is additive:
     |delta| > new_rank + DELTA_THRESHOLD        (algos.rs:203)
     — for n > ~7 this is false everywhere, so the post-round-0
     frontier is EMPTY.
  2. Later-round activity test compares rank with itself:
     |rank| > rank * DELTA_THRESHOLD             (algos.rs:215)
     — tautologically true for rank > 0, and the rank += delta update
     happens only inside the true branch (algos.rs:216).

Exact round structure (algos.rs:268-294):
  init: deltas = 1/n, neighbors_rank = 0, page_rank = 0  (:242-261)
  round 0: edgeMap scatter deltas[s]/out_deg(s) into neighbors_rank
           with a FULL frontier (:277), then FirstRound apply over ALL
           nodes (:278):
             delta    = gathered*0.85 + 0.15
             rank    += delta          (rank was 0 -> rank = delta)
             delta   -= 1/n
             sum_of_delta += delta
             active   = |delta| > rank + 0.01
  loop: error = sum_of_delta (swap to 0, :263-265,282);
        max_iterations -= 1;
        break if error < 1e-7 or max_iterations == 0  (:285-287);
        edgeMap scatter from the frontier (:289);
        apply over ALL nodes (:290):
             delta = gathered*0.85; sum_of_delta += delta
             if |rank| > rank*0.01: rank += delta; active = true
             else: active = false
  return page_rank.

This kernel exists for reference parity only; the metric kernel is
kernels/pagerank.py. Verified against a straight-line NumPy
transcription (tests/oracles.py:pagerank_delta_numpy).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager, release
from linkgraph.loop import observe

DAMPING_FACTOR = 0.85  # algos.rs:178
TOLERANCE = 1e-7  # algos.rs:179
DELTA_THRESHOLD = 1e-2  # algos.rs:180
ALPHA = 1.0 - DAMPING_FACTOR  # algos.rs:181


@dataclass
class PageRankDeltaResult:
    df: DataFrame  # (id long, rank double)
    rounds: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _scatter(graph: Graph, frontier_state: DataFrame) -> DataFrame:
    """edgeMap: neighbors_rank[t] += deltas[s]/out_deg(s) for s in
    frontier (algos.rs:225-231). fetch_add -> groupBy(dst).sum
    (SURVEY §4.3). Returns (dst, gathered)."""
    contribs = graph.edges.join(
        frontier_state.where(F.col("out_deg") > 0).select(
            F.col("id").alias("src"),
            (F.col("delta") / F.col("out_deg")).alias("w"),
        ),
        "src",
    )
    return contribs.groupBy("dst").agg(F.sum("w").alias("gathered"))


def pagerank_delta(
    graph: Graph,
    max_iterations: int = 20,
    ckpt: CheckpointManager | None = None,
) -> PageRankDeltaResult:
    """Resume semantics mirror the other iterative kernels: every round
    saves (state, sum_of_delta); a restarted run reloads the last
    complete round and re-enters the loop with `remaining` rebuilt as
    max_iterations - last_round, so the continuation is bit-identical
    to an uninterrupted run (parquet round-trips doubles exactly). A
    run that had already terminated re-derives its own stop condition
    (error < TOLERANCE or remaining <= 0) on the first loop test and
    returns immediately."""
    n = graph.n
    t0 = time.time()
    one_over_n = 1.0 / n

    state = None
    metrics: list[dict] = []
    held: list[DataFrame] = []  # severed frames this call owns
    try:
        if ckpt is not None:
            last = ckpt.last_complete()
            if last is not None:
                loaded, _, rec = ckpt.load(graph.edges.sparkSession, last)
                state, _ = observe(loaded, [], held)
                sum_of_delta = rec["sum_of_delta"]
                rounds = last + 1
                remaining = max_iterations - last
                metrics.append(rec)

        if state is None:
            # state: (id, out_deg, rank, delta, active)
            init = graph.degrees.select(
                "id",
                "out_deg",
                F.lit(0.0).alias("rank"),
                F.lit(one_over_n).alias("delta"),
                F.lit(True).alias("active"),
            )

            # ---- round 0: full-frontier scatter + FirstRound apply ----
            gathered = _scatter(graph, init)  # full frontier (algos.rs:277)
            g = F.coalesce(F.col("gathered"), F.lit(0.0))
            pre_delta = g * DAMPING_FACTOR + F.lit(ALPHA)
            new_rank = F.col("rank") + pre_delta  # rank was 0
            state = (
                init.join(gathered, init["id"] == gathered["dst"], "left")
                .select(
                    init["id"],
                    init["out_deg"],
                    new_rank.alias("rank"),
                    (pre_delta - one_over_n).alias("delta"),
                    (F.abs(pre_delta - one_over_n) > new_rank + DELTA_THRESHOLD).alias(
                        "active"
                    ),
                )
            )
            # sum_of_delta rides the checkpoint materialization as an
            # Observation (one job per round, same as the other kernels)
            state, obs = observe(state, [F.sum("delta").alias("sum_of_delta")], held)
            sum_of_delta = obs["sum_of_delta"] or 0.0
            rounds = 1
            remaining = max_iterations
            rec0 = {"round": 0, "sum_of_delta": sum_of_delta}
            metrics.append(rec0)
            if ckpt is not None:
                ckpt.save(0, state, metrics=rec0)

        # ---- remaining rounds (algos.rs:281-291) ----
        while True:
            error = sum_of_delta  # sum_of_delta_and_reset (:263-265)
            remaining -= 1
            # <= 0 (not == 0): a resume with max_iterations smaller than
            # the checkpointed round makes `remaining` start negative, and
            # max_iterations=0 on a fresh run starts it at -1 after the
            # decrement — both must stop here, not run to error-convergence
            if error < TOLERANCE or remaining <= 0:
                break
            frontier_state = state.where(F.col("active"))
            gathered = _scatter(graph, frontier_state)
            g = F.coalesce(F.col("gathered"), F.lit(0.0))
            delta = g * DAMPING_FACTOR
            keep = F.abs(F.col("rank")) > F.col("rank") * DELTA_THRESHOLD  # quirk 2
            prev = state
            state, obs = observe(
                state.join(gathered, state["id"] == gathered["dst"], "left").select(
                    state["id"],
                    state["out_deg"],
                    F.when(keep, F.col("rank") + delta).otherwise(F.col("rank")).alias(
                        "rank"
                    ),
                    delta.alias("delta"),
                    keep.alias("active"),
                ),
                [F.sum("delta").alias("sum_of_delta")],
                held,
            )
            release(prev)
            held = [state]
            sum_of_delta = obs["sum_of_delta"] or 0.0
            rounds += 1
            rec = {"round": rounds - 1, "sum_of_delta": sum_of_delta}
            metrics.append(rec)
            if ckpt is not None:
                ckpt.save(rounds - 1, state, metrics=rec)
    except BaseException:
        for df in held:
            release(df)
        raise

    return PageRankDeltaResult(
        df=state.select("id", "rank"),
        rounds=rounds,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
