"""The chained fixpoint loop driver under the vertex-state kernels.

Every Ligra-style kernel here has one shape: a vertex-state update
repeated in rounds until a global scalar says stop. A kernel supplies
its init state, a ``step(cur, edges) -> DataFrame`` round, the
per-round scalar aggregate Columns and a stop predicate over one
round's scalars; :func:`fixpoint` owns everything else, once.

On it: the diff family (pagerank, pagerank_weighted, katz, ppr,
eigenvector, hits, salsa), labelprop, kernels/cc.py's label loop (cc,
and scc's forward-max coloring), kernels/scc.py's ``reach`` (scc's
backward sweep, bowtie's two sweeps) and condensation's level
relaxation. The shrinking-residual kernels run on :func:`peel`
below, and the level-synchronous traversals (bfs, msbfs, betweenness's
forward sweep, ego_net) on linkgraph/frontier.py's ``traverse``. Still
on hand-written loops: sssp, anf, louvain and pagerank_delta.

What the driver owns:

* Resume. ``last_complete`` -> ``load`` -> ``sever``; a saved record
  the stop predicate accepts returns at once.
* Edge re-cache. The loop runs at ``loop_width(m)`` =
  ceil(m / 64k) partitions, with no floor. ``build_graph_from_edges``
  lays its cache out at that width by default, so a loop runs on the
  caller's cache as is; a wider cache, or an uncached table, is cached
  once per call at that width. Per-task dispatch dominates few-ms
  tasks: on the 31-round sf0.1 pagerank leg this measured 20.3 s ->
  4.5 s including the re-cache pass (P=32 -> 10; P=16: 5.4 s, P=6:
  4.3 s), and 1.13 -> 0.94 s on the 3-round labelprop leg. Below 64k
  edges a round runs one task per stage: at the old floor of 4
  partitions, 10 pagerank rounds on R-MAT scale 11 (13.9k edges) took
  46 stages and 148 tasks, and 16 rounds on a 2,000-page crawl (4.9k
  edges) 70 stages and 226 tasks; at width 1 they take 16 stages and
  25 tasks, and 21 stages and 39 tasks (local[4]).
* Init layout. A wider init state is coalesced to the width, which
  leaves its layout unknown, so round 1's own joins lay it out by
  their own keys. Otherwise the wider init layout wins the round-1
  join alignment and every later round re-exchanges back up to it.
  A ``repartition("id")`` would key the layout on an attribute
  without the SQL round's ``cur`` qualifier, which Spark cannot map
  onto a second reference of the checkpointed state: that costs one
  n-row scatter Exchange per round.
* Loop conf (:func:`loop_conf`). AQE is off unless the kernel was
  called with ``adaptive=True``: plan shapes are fixed, and AQE's
  per-stage re-planning cost 0.3-0.7 s of driver latency per round
  (25-35 % of the round on rMAT-20). Sort-merge join is not preferred: the edge
  cache is src-laid-out and SMJ re-sorts the n-row state on both joins
  of every round. Shuffle partitions are pinned to the edge partitions
  so the scatter and apply joins are co-partitioned; a mismatched
  count re-adds one n-row exchange per round (10.0-11.1 s vs 8.9 s at
  sf0.1). A build whose edge table fits one partition runs its queries
  under the same conf (build.py), where one partition leaves AQE
  nothing to coalesce or split.
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

:func:`peel` is the other loop shape: Ligra's ``vertexFilter`` on a
shrinking subset, Julienne's bucketed peeling. Its state is a set of
residuals (edges, undecided or remaining vertices, live pairs) that
only shrink; each round scores them, removes a delta, and the answer
is the union of the deltas. kcore, coreness, ktruss, trussness,
densest, mis, coloring and maximal_matching run on it.
"""

from __future__ import annotations

import itertools
import math
import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.session import conf_override

EDGE_ROWS_PER_PART = 64 * 1024
CHAIN_ROWS = 32 * 1024 * 1024
DIFF_CHAIN = 16
LABEL_CHAIN = 4
# Row cap under which a join's small side is broadcast instead of
# shuffled (~16 B/row -> 64 MB): the triangle enumerator's degree joins
# and close, and peel's residual cuts. Scale-adaptive: bench graphs sit
# far below it, a 100 TB graph far above, where the shuffle plans stay
# the fallback.
BCAST_ROWS = 4_000_000

_VIEW_SEQ = itertools.count()


def loop_width(m: int) -> int:
    """Data-sized partition count for an m-row edge table."""
    return max(1, math.ceil(m / EDGE_ROWS_PER_PART))


def loop_conf(width: int, adaptive: bool = False) -> dict[str, str]:
    """The session conf of queries over a ``width``-partition edge
    table: the loop's rounds, and a build whose edges fit one
    partition (see "Loop conf" above)."""
    conf = {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.sql.shuffle.partitions": str(width),
    }
    if not adaptive:
        conf["spark.sql.adaptive.enabled"] = "false"
    return conf


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
        if views is not None:
            loop_edges.createOrReplaceTempView(views[0])
        cur = state
        if state.rdd.getNumPartitions() > width:
            cur = state.coalesce(width)
        it = start
        converged = False
        metrics: list[dict] = []
        with conf_override(spark, loop_conf(width, adaptive)):
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


@dataclass
class Cut:
    """One peeling round's outcome, as its step hands it to :func:`peel`.

    delta  : what the round removes: ``keys(delta)`` is cut out of every
             residual, and with a checkpoint the delta is what is saved.
    rows   : the delta's observed row count; sizes the cut's broadcast.
    record : the round's scalars, for its metric record.
    done   : the loop stops after this round; the residuals are not cut.
    part   : kept to the end and unioned into the answer: None, the
             delta, or a frame the round observed.
    """

    delta: DataFrame
    rows: int
    record: dict
    done: bool = False
    part: DataFrame | None = None


@dataclass
class PeelRound:
    """What a peeling step sees: the residuals in the order :func:`peel`
    was given them, the previous round's record (the saved one on a
    resumed call, ``{}`` on a fresh one's first round) and the round's
    number, from 1."""

    res: list[DataFrame]
    prev: dict
    iteration: int
    owned: list[DataFrame] = field(default_factory=list)

    def observe(self, df: DataFrame, *aggs: Column) -> tuple[DataFrame, dict]:
        """Materialize a frame of this round (``sever``), its aggregate
        scalars riding the same job. It is released when the round
        ends, unless it is the round's part."""
        return observe(df, aggs, self.owned)


@dataclass
class Peeled:
    df: DataFrame  # the answer, severed; the caller owns it
    iterations: int  # rounds completed, counting resumed ones
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def observe(df: DataFrame, aggs, owned: list[DataFrame]) -> tuple[DataFrame, dict]:
    """Sever ``df`` into ``owned``; the scalars of ``aggs`` (if any)
    ride the same job as an Observation."""
    obs = Observation()
    out = sever(df.observe(obs, *aggs) if aggs else df)
    owned.append(out)
    return out, obs.get if aggs else {}


def _stored(df: DataFrame) -> bool:
    level = df.storageLevel
    if level.useMemory or level.useDisk:
        return True
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


def _cut(
    residuals: list[DataFrame], cuts: list[list[str]], keys: DataFrame, rows: int
) -> list[DataFrame]:
    """The residual rule: a residual shrinks only by left-anti joins
    against the delta's keys, so its estimated statistics stay those of
    its input. Each entry of a residual's cut list is one anti-join, on
    its space-separated columns, which take the key columns in order."""
    out = []
    for df, ons in zip(residuals, cuts):
        for on in ons:
            cols = on.split()
            k = keys.toDF(*cols)
            df = df.join(F.broadcast(k) if rows <= BCAST_ROWS else k, cols, "left_anti")
        out.append(df)
    return out


def _settle(
    residuals: list[DataFrame], held: list[DataFrame], count: bool = False
) -> tuple[list[DataFrame], int | None]:
    """Sever every residual that is not stored yet; the first one's row
    count rides its job when asked."""
    out, rows = [], None
    for i, df in enumerate(residuals):
        if not _stored(df):
            aggs = [F.count(F.lit(1)).alias("rows")] if count and i == 0 else []
            df, s = observe(df, aggs, held)
            rows = s.get("rows", rows)
        out.append(df)
    return out, rows


def peel(
    residuals: list[DataFrame],
    cuts: list[list[str]],
    step: Callable[[PeelRound], Cut | None],
    *,
    max_iter: int,
    schema: str,
    keys: Callable[[DataFrame], DataFrame] | None = None,
    finish: Callable[[DataFrame, list[DataFrame], bool], DataFrame] | None = None,
    size_key: str | None = None,
    ckpt: CheckpointManager | None = None,
) -> Peeled:
    """Peel the residuals round by round until a step says ``done``, a
    step returns None (nothing left: that round leaves no record), the
    first residual's ``size_key`` count reaches 0, or ``max_iter``
    rounds ran.

    residuals : the initial residuals. A cached table or a severed
                frame is read in place; any other plan is severed once.
    cuts      : per residual, its anti-joins (at least one) against the
                delta's keys (``["src", "dst"]`` for an edge list losing
                vertices, ``["u w"]`` for one losing pairs).
    step      : one round's scoring: PeelRound -> Cut (or None).
    keys      : delta -> the key columns the cuts join on (default: the
                delta itself).
    schema    : the parts' schema when there are none.
    finish    : (parts union, final residuals, converged) -> answer;
                default the parts union.
    size_key  : record key of the first residual's row count after each
                cut; the loop converges when it reaches 0.

    The driver owns, once: round materialization (PeelRound.observe);
    the residual rule (:func:`_cut`, broadcast when the delta's observed
    count is at most ``BCAST_ROWS``, then severed); the answer, the
    parts unioned and severed once at the end; delta checkpoints and
    resume (``CheckpointManager.load_deltas``: every complete delta
    unioned and cut from the residuals, the last record carried as the
    next round's ``prev``, a converged record short-circuiting the
    loop); one record per round (``iteration``, the step's scalars,
    ``converged``, the round's own ``wall_s``); and release, in
    ``finally``, of every frame the call does not return.
    """
    t0 = time.time()
    spark = residuals[0].sparkSession
    keys = keys or (lambda d: d)
    held: list[DataFrame] = []  # severed frames this call owns
    parts: list[DataFrame] = []
    metrics: list[dict] = []
    prev: dict = {}
    it, converged = 0, False
    res = list(residuals)
    rnd = None
    answer = None
    try:
        loaded = ckpt.load_deltas(spark) if ckpt is not None else None
        if loaded is not None:
            prior, s = observe(loaded[0], [F.count(F.lit(1)).alias("rows")], held)
            prev = loaded[1]
            parts.append(prior)
            metrics.append(prev)
            it, converged = prev["iteration"], bool(prev.get("converged"))
            res = _cut(res, cuts, keys(prior), s["rows"])
        if not converged:
            res, _ = _settle(res, held)
        while not converged and it < max_iter:
            rt0 = time.time()
            rnd = PeelRound(res, prev, it + 1)
            cut = step(rnd)
            if cut is None:
                converged = True
            else:
                if not any(cut.delta is d for d in rnd.owned):
                    rnd.owned.append(cut.delta)
                it += 1
                rec = {"iteration": it, **cut.record}
                converged = cut.done
                if not converged:
                    cut_res = _cut(res, cuts, keys(cut.delta), cut.rows)
                    nxt, rows = _settle(cut_res, held, size_key is not None)
                    for df in res:  # every residual is cut: none is in nxt
                        if any(df is h for h in held):
                            release(df)
                            held[:] = [h for h in held if h is not df]
                    res = nxt
                    if size_key is not None:
                        rec[size_key] = rows
                        converged = rows == 0
                rec.update(converged=converged, wall_s=time.time() - rt0)
                if ckpt is not None:
                    ckpt.save(it, cut.delta, metrics=rec)
                metrics.append(rec)
                prev = rec
                if cut.part is not None:
                    held.append(cut.part)
                    parts.append(cut.part)
            for df in rnd.owned:
                if cut is None or df is not cut.part:
                    release(df)
            rnd = None
        union = (
            reduce(DataFrame.unionByName, parts)
            if parts
            else spark.createDataFrame([], schema)
        )
        answer = union if finish is None else finish(union, res, converged)
        if not any(answer is h for h in held):
            answer = sever(answer)
        return Peeled(answer, it, time.time() - t0, metrics)
    finally:
        for df in held + (rnd.owned if rnd is not None else []):
            if df is not answer:
                release(df)
