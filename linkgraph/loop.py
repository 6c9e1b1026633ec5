"""The chained fixpoint loop driver under the vertex-state kernels.

Every Ligra-style kernel here has one shape: a vertex-state update
repeated in rounds until a global scalar says stop. A kernel supplies
its init state, a ``step(cur, edges) -> DataFrame`` round, the
per-round scalar aggregate Columns and a stop predicate over one
round's scalars; :func:`fixpoint` owns everything else, once:

* Resume. ``last_complete`` -> ``load`` -> ``sever``; a saved record
  the stop predicate accepts returns at once.
* Edge re-cache. The loop's edge table is cached once per call at
  ``loop_width(m)`` (~64k rows per partition) when the given cache is
  wider, or when the table is not cached at all. Per-task dispatch
  dominates few-ms tasks: on the 31-round sf0.1 pagerank leg this
  measured 20.3 s -> 4.5 s including the re-cache pass (P=32 -> 10;
  P=16: 5.4 s, P=6: 4.3 s), and 1.13 -> 0.94 s on the 3-round
  labelprop leg. The init state is aligned to that width inside round
  1's plan; otherwise the wider init layout wins the round-1 join
  alignment and every later round re-exchanges back up to it.
* Loop conf. AQE is off unless the kernel was called with
  ``adaptive=True``: plan shapes are fixed, and AQE's per-stage
  re-planning cost 0.3-0.7 s of driver latency per round (25-35 % of
  the round on rMAT-20). Sort-merge join is not preferred: the edge
  cache is src-laid-out and SMJ re-sorts the n-row state on both joins
  of every round. Shuffle partitions are pinned to the edge partitions
  so the scatter and apply joins are co-partitioned; a mismatched
  count re-adds one n-row exchange per round (10.0-11.1 s vs 8.9 s at
  sf0.1).
* Chains. Rounds are built through ``localCheckpoint(eager=False)``:
  each round's plan truncates to a LogicalRDD leaf, so Catalyst work
  stays linear in the chain (in-plan chaining cloned the round subtree
  ~3^K times: K=4 31.8 s vs K=1 9.9 s on sf0.1). The chain's per-round
  scalars come back from ONE union-aggregate collect, one shared pass
  over many aggregates, instead of an eager checkpoint job plus an
  Observation round-trip per round (sf0.1 pagerank 23.0 s -> 8.9 s;
  20k-page web graph 53.5 s -> 23.0 s). Every round is its own
  persisted RDD, so the state at the first round whose stop predicate
  holds is returned exactly and the speculative rounds after it are
  released.
* Chain length. The kernel's cap (``DIFF_CHAIN``: 16 measured best on
  the web leg, 8 = 12.5 s, 16 = 11.75 s, 24 = 11.65 s; ``LABEL_CHAIN``)
  is limited by the cached-row budget ``CHAIN_ROWS`` (~1.3 GB at
  ~40 B/row; never binds at bench scale, degrades toward one round per
  collect at n=100M where driver latency is noise), by ``ckpt_every``,
  and by the kernel's ``plan`` (:func:`decay_chain` for the diff
  kernels; cc's dispatch returns 1 for sparse rounds).
* Checkpoints. A chain never runs past the next multiple of
  ``ckpt_every``; the state is saved when a chain reaches one, and when
  the loop stops.
* Cleanup. In ``finally``, on every path: the per-call edge cache and
  every non-returned state are released, the SQL step's temp views are
  dropped without uncaching the plans under them, and the conf is
  restored.

Columns whose names start with ``_`` are per-round scratch (e.g. the
previous value ``_rank`` a diff scalar reads): the scalars see them,
the next round, the checkpoint and the caller do not.
"""

from __future__ import annotations

import itertools
import math
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.session import conf_override

EDGE_ROWS_PER_PART = 64 * 1024
CHAIN_ROWS = 32 * 1024 * 1024
DIFF_CHAIN = 16
LABEL_CHAIN = 4

_VIEW_SEQ = itertools.count()


def loop_width(m: int) -> int:
    """Data-sized partition count for an m-row edge table."""
    return max(4, math.ceil(m / EDGE_ROWS_PER_PART))


def view_names(prefix: str) -> tuple[str, str]:
    """Per-call (edges, state) temp-view names for a SQL step."""
    token = next(_VIEW_SEQ)
    return f"{prefix}_edges_{token}", f"{prefix}_cur_{token}"


def max_change(*cols: str) -> Column:
    """The diff kernels' convergence scalar ``diff``: Σ over ``cols`` of
    max |c - _c| (a round carries column c's previous value as ``_c``)."""
    total = None
    for c in cols:
        d = F.max(F.abs(F.col(c) - F.col(f"_{c}")))
        total = d if total is None else total + d
    return F.coalesce(total, F.lit(0.0)).alias("diff")


def per_round(first: int, rows: list[dict], wall: float, stopped: bool) -> list[dict]:
    """One record per round: its scalars, its share of the chain wall,
    and ``converged`` on the round that stopped the loop."""
    return [
        {**r, "wall_s": wall / len(rows), "converged": stopped and r is rows[-1]}
        for r in rows
    ]


def decay_chain(tol: float, check_every: int = 1) -> Callable[[list[dict]], int | None]:
    """Chain planner for the diff kernels: when the last chain's diffs
    decay geometrically, plan the next chain to end at the predicted
    convergence round. Bounds speculative overshoot near tol and costs
    nothing far from it (None = the cap)."""

    def plan(rows: list[dict]) -> int | None:
        if tol <= 0.0 or len(rows) < 2:
            return None
        r1, r2 = rows[-2:]
        d1, d2 = r1["diff"], r2["diff"]
        if not (d1 > d2 > 0.0) or d2 <= tol:
            return None
        rho = (d2 / d1) ** (1.0 / (r2["iteration"] - r1["iteration"]))
        if not (0.0 < rho < 1.0):
            return None
        pred = math.ceil(math.log(tol / d2) / math.log(rho))
        return max(check_every, math.ceil(pred / check_every) * check_every)

    return plan


@dataclass
class Fixpoint:
    state: DataFrame  # the final state, scratch columns dropped
    iterations: int  # rounds completed, counting resumed ones
    start_iter: int  # first round this call ran
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _scratchless(df: DataFrame) -> DataFrame:
    return df.drop(*[c for c in df.columns if c.startswith("_")])


def _loop_edges(edges: DataFrame, m: int) -> tuple[DataFrame, bool]:
    width = loop_width(m)
    level = edges.storageLevel
    if (level.useMemory or level.useDisk) and edges.rdd.getNumPartitions() <= width:
        return edges, False
    return edges.repartition(width, "src").persist(StorageLevel.MEMORY_AND_DISK), True


def _drop_views(spark: SparkSession, names: tuple[str, ...]) -> None:
    # the session catalog's drop: spark.catalog.dropTempView would also
    # uncache every cached plan equal to the view's, i.e. the caller's
    # edge cache whenever the loop runs on it as is
    catalog = spark._jsparkSession.sessionState().catalog()
    for name in names:
        catalog.dropTempView(name)


def fixpoint(
    edges: DataFrame,
    *,
    m: int,
    n: int,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, DataFrame], DataFrame],
    scalars: list[Column],
    stop: Callable[[dict], bool],
    chain: int,
    max_iter: int,
    report: Callable[[int, list[dict], float, bool], list[dict]] = per_round,
    plan: Callable[[list[dict]], int | None] | None = None,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 1,
    partition_counts: bool = False,
    check_every: int = 1,
    adaptive: bool = False,
    views: tuple[str, str] | None = None,
    on_load: Callable[[DataFrame, dict], tuple[DataFrame, dict]] | None = None,
) -> Fixpoint:
    """Run ``step`` from ``init()`` (or the last checkpoint) until
    ``stop`` holds for a round's scalars or ``max_iter`` rounds ran.

    edges   : the loop's edge table (src-keyed); ``m`` sizes its width,
              ``n`` the cached-row budget.
    step    : (cur, edges) -> next state; ``cur`` has no scratch columns.
    scalars : aggregate Columns over one round's output, aliased; each
              round's row also carries ``iteration``.
    stop    : predicate over one round's row, and over a saved record
              on resume.
    report  : (first round, rows up to the stop, chain wall, stopped)
              -> metric records; the last one is saved with the state.
    plan    : previous chain's rows (or ``[resumed record]``, or ``[]``)
              -> next chain length, None for the cap.
    check_every : the stop predicate is evaluated every K rounds only.
    views   : (edges, state) temp-view names registered for a SQL step.
    on_load : adapts a loaded (state, record) before resuming.
    """
    t0 = time.time()
    spark = edges.sparkSession
    start = 0
    state = None
    prev: list[dict] = []
    if ckpt is not None:
        last = ckpt.last_complete()
        if last is not None:
            loaded, _, rec = ckpt.load(spark, last)
            if on_load is not None:
                loaded, rec = on_load(loaded, rec)
            state = sever(loaded)
            start = last + 1
            if stop(rec):
                return Fixpoint(state, start, start, True, 0.0, [rec])
            prev = [rec]
    if state is None:
        state = sever(init())

    cap = min(chain, max(1, CHAIN_ROWS // max(n, 1)))
    if ckpt is not None:
        cap = min(cap, max(1, ckpt_every))
    held = [state]  # persisted states this call still owns
    loop_edges, recached = edges, False
    try:
        loop_edges, recached = _loop_edges(edges, m)
        width = loop_edges.rdd.getNumPartitions()
        conf = {
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.shuffle.partitions": str(width),
        }
        if not adaptive:
            conf["spark.sql.adaptive.enabled"] = "false"
        if views is not None:
            loop_edges.createOrReplaceTempView(views[0])
        cur = state
        if state.rdd.getNumPartitions() != width:
            cur = state.repartition(width, "id")
        it = start
        converged = False
        metrics: list[dict] = []
        with conf_override(spark, conf):
            while it < max_iter and not converged:
                chain_t0 = time.time()
                c = min(cap, (plan(prev) if plan is not None else None) or cap)
                if ckpt is not None:
                    c = min(c, ckpt_every - it % ckpt_every)
                c = max(check_every, c // check_every * check_every)
                c = min(c, max_iter - it)
                states = []
                for _ in range(c):
                    if views is not None:
                        cur.createOrReplaceTempView(views[1])
                    nxt = step(cur, loop_edges).localCheckpoint(eager=False)
                    states.append(nxt)
                    held.append(nxt)
                    cur = _scratchless(nxt)
                union = None
                for j in range(c):
                    if (j + 1) % check_every and j != c - 1:
                        continue
                    d = (
                        states[j]
                        .groupBy()
                        .agg(*scalars)
                        .select(F.lit(it + j).alias("iteration"), "*")
                    )
                    union = d if union is None else union.unionAll(d)
                rows = sorted(
                    (r.asDict() for r in union.collect()), key=lambda r: r["iteration"]
                )
                hit = next((k for k, r in enumerate(rows) if stop(r)), None)
                if hit is not None:
                    rows = rows[: hit + 1]
                converged = hit is not None
                k = rows[-1]["iteration"] - it + 1
                keep = states[k - 1]
                for s in held:
                    if s is not keep:
                        release(s)
                held = [keep]
                cur = _scratchless(keep)
                recs = report(it, rows, time.time() - chain_t0, converged)
                metrics.extend(recs)
                it += k
                if ckpt is not None and (
                    converged or it // ckpt_every > (it - k) // ckpt_every
                ):
                    ckpt.save(
                        it - 1, cur, metrics=recs[-1], partition_counts=partition_counts
                    )
                prev = rows
        return Fixpoint(
            _scratchless(held[0]), it, start, converged, time.time() - t0, metrics
        )
    except BaseException:
        for s in held:
            release(s)
        raise
    finally:
        if recached:
            loop_edges.unpersist()
        if views is not None:
            _drop_views(spark, views)
