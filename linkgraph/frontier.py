"""The Ligra trio as Spark DataFrame primitives (SURVEY §2.2 D1-D9).

Reference: edgeMap/vertexMap/vertexFilter at
/root/reference/src/ligra.rs:58-306. The atomic-CAS write-combining
and slot-compaction machinery (ligra.rs:90-242) is deliberately NOT
ported — `groupBy(dst).agg(...)` is Spark's native partial+final
aggregation and subsumes all of it (SURVEY §4.3).

Frontier representation (node_set.rs:3-9 dual sparse/dense):
  * sparse  = a small DataFrame of frontier rows (id + message payload)
              -> broadcast hash join against the edge table (push);
  * dense   = a large frontier relation (typically the full state
              filtered by an activity predicate) -> shuffle/SMJ join
              against the bucketed edge table (pull): every cached edge
              partition is scanned and matched in place, no broadcast
              build, no frontier compaction — the Spark analogue of
              Ligra's dense traversal that walks all of E reading
              source state directly (ligra.rs:203-242).
The switch is the reference's direction-optimizing rule
(ligra.rs:82-87, threshold |E|/20 at graph.rs:31-33): push when the
frontier's degree volume <= m/20, pull otherwise. Catalyst/AQE would
broadcast small sides anyway below the size threshold; we keep the
explicit rule so the decision is deterministic, observable in metrics
(`info['mode']`), and pinned to reference behavior.

Note for symmetric (symmetrized) graphs: the in-edge set equals the
out-edge set, so a dense *pull* along in-edges is expressible as the
same join over the src-bucketed edge cache — no extra exchange for the
transpose. CC exploits this (kernels/cc.py).

:func:`traverse` is the level-synchronous loop over `edge_map` (the
reference's BFS, algos.rs:124-167: edgeMap with a visited cond()).
bfs, msbfs (and the harmonic, radii, closeness and landmark rollups
over it), betweenness's forward sweep and ego_net run on it. It lives
here, not in linkgraph/loop.py, because build.py imports loop.py.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager, release
from linkgraph.loop import loop_conf, observe
from linkgraph.session import conf_override


def frontier_volume(graph: Graph, frontier: DataFrame, reverse: bool = False) -> int:
    """Σ degree over frontier members — the statistic the reference
    dispatcher computes at ligra.rs:80. Sums out-degrees for the push
    direction, in-degrees when walking the transpose (reverse=True) —
    the in-edge walk's work is proportional to in_deg, so sizing the
    broadcast decision off out_deg would misfire on skewed graphs.
    Exact (one small join+agg); callers on a hot loop may instead
    estimate count * avg_degree."""
    deg = "in_deg" if reverse else "out_deg"
    row = (
        frontier.select("id")
        .join(graph.degrees, "id")
        .agg(F.sum(deg))
        .first()
    )
    return int(row[0] or 0)


def edge_map(
    graph: Graph,
    frontier: DataFrame,
    aggs: list[Column],
    msg: dict[str, Column] | None = None,
    volume: int | None = None,
    reverse: bool = False,
    dense: bool | None = None,
    exclude_dst: DataFrame | None = None,
    info: dict | None = None,
    group_extra: list[str] | None = None,
) -> DataFrame:
    """Ligra edgeMap (D1): for each edge (s,t) with s ∈ frontier, emit
    message columns, then combine per target.

    frontier : DataFrame keyed by `id` carrying the per-source payload
               columns referenced by `msg`/`aggs`.
    msg      : extra columns computed on the joined (edge × source-state)
               rows before aggregation (e.g. contrib = delta/out_deg).
    aggs     : aggregate expressions applied per `dst` — the Spark
               replacement for the reference's atomic write-combining
               (CAS min -> F.min, fetch_add -> F.sum; SURVEY §2.3).
    volume   : precomputed frontier degree volume; computed exactly
               if None.
    reverse  : walk in-edges instead (free transpose, SURVEY §1.4).
    dense    : force dense (pull/SMJ) or sparse (push/broadcast) form;
               None = the reference's |E|/20 dispatch (ligra.rs:82-87).
    exclude_dst : optional relation of `id`s whose targets must not
               receive messages this round — Ligra's `cond()` check
               (ligra.rs:150,218: skip targets failing cond), expressed
               as a left-anti join BEFORE aggregation so excluded
               targets do no aggregation work. With `group_extra`, any
               of those columns present on exclude_dst join too, so the
               cond() is per (target, extra-key) — e.g. per-source
               visitedness in multi-source traversals.
    info     : optional dict; receives {'mode', 'volume'} so kernels
               can record which path ran (per-iteration metrics).
    group_extra : extra frontier payload columns to include in the
               combine key, generalizing the per-target combine to
               per (target, extra...) — the multi-source traversal
               form (each logical traversal lane combines
               independently). The reference's single-lane edgeMap is
               group_extra=None; lanes multiply message volume, not
               the edge relation, so the |E|/20 dispatch input is the
               Σ-degree volume over frontier ROWS (id × lane).

    Returns a DataFrame grouped by `dst` with the aggregate columns —
    the "next frontier candidates + merged messages" in one relation.
    """
    edges = graph.edges_reversed() if reverse else graph.edges
    if volume is None:
        volume = frontier_volume(graph, frontier, reverse)
    if dense is None:
        dense = volume > graph.threshold
    src_side = frontier.withColumnRenamed("id", "src")
    if not dense:
        src_side = F.broadcast(src_side)  # push: sparse frontier
    if info is not None:
        info["mode"] = "dense-pull" if dense else "sparse-push"
        info["volume"] = volume
    joined = edges.join(src_side, "src")
    extra = list(group_extra or [])
    if exclude_dst is not None:
        anti_keys = ["dst"] + [c for c in extra if c in exclude_dst.columns]
        joined = joined.join(
            exclude_dst.withColumnRenamed("id", "dst").select(*anti_keys),
            anti_keys,
            "left_anti",
        )
    if msg:
        joined = joined.withColumns(msg)
    return joined.groupBy("dst", *extra).agg(*aggs)


def node_map(state: DataFrame, updates: dict[str, Column]) -> DataFrame:
    """Ligra vertexMap (D6): per-vertex update, no subset produced."""
    return state.withColumns(updates)


def node_filter(state: DataFrame, predicate: Column) -> DataFrame:
    """Ligra vertexFilter (D5), sparse output: subset rows passing the
    predicate. Dense form is `state.withColumn('active', predicate)` —
    callers choose (SURVEY §4.2)."""
    return state.where(predicate)


def single_frontier(graph: Graph, vertex: int) -> DataFrame:
    """NodeSubset::single (node_set.rs:24-158 constructors)."""
    return graph.vertices.sparkSession.createDataFrame([(vertex,)], "id long")


def full_frontier(graph: Graph) -> DataFrame:
    """NodeSubset::full."""
    return graph.vertices.select("id")


@dataclass
class Traversal:
    reached: DataFrame | None  # seed ∪ every level, severed once; the caller owns it
    levels: list[DataFrame]  # keep_levels only: seed, then each non-empty level
    iterations: int  # levels run, counting resumed ones and an empty last one
    metrics: list[dict] = field(default_factory=list)


def traverse(
    graph: Graph,
    seed: DataFrame,
    level: Callable[[DataFrame, int], DataFrame],
    aggs: list[Column],
    *,
    max_iter: int,
    lanes: tuple[str, ...] = (),
    direction: str = "out",
    depth: str | None = None,
    compact_every: int = 32,
    keep_levels: bool = False,
    ckpt: CheckpointManager | None = None,
    prior: tuple[DataFrame, dict] | None = None,
) -> Traversal:
    """Level-synchronous traversal from ``seed`` until a level reaches
    nothing new or ``max_iter`` levels ran.

    seed      : level 0, keyed by (id, *lanes).
    level     : (candidates, l) -> the rows first reached at level l.
                The candidates are edge_map's (dst, *lanes, *aggs) from
                the last level; for direction "both", the union of the
                forward and the transpose walk.
    aggs      : edge_map's combine per (dst, *lanes).
    lanes     : extra combine-key columns: one traversal per lane value
                (msbfs's and betweenness's ``source``), each with its
                own visited set.
    direction : "out" follows edges, "in" the transpose, "both" both
                in the same round.
    depth     : the column holding the level number; resume re-derives
                the frontier from it.
    compact_every : the visited union is severed into one frame every
                K levels, bounding its union tree on deep graphs.
    keep_levels : return the severed levels instead of their union
                (betweenness's backward sweep); the caller owns them.
    ckpt      : each level's delta is saved (``delta_ckpt`` True); a
                call resumes from ``load_deltas`` as seed ∪ deltas.
    prior     : (reached set, last record) to resume from instead.

    The traversal owns, once: the seed, severed with its row count
    riding the same job; each level, one edge_map from the last delta
    with the visited set as its ``exclude_dst`` cond() and push or pull
    chosen from the observed count × average degree; the level's delta,
    severed with its count as an Observation; the visited set, a flat
    union of the severed levels' (id, *lanes), compacted every
    ``compact_every`` levels; delta checkpoints and resume; the loop
    conf (``loop.loop_conf`` at the edge cache's width) for every
    level; one record per level (``iteration``, ``frontier_size``,
    ``mode``, ``volume``, ``frontier_size_next``, ``wall_s``); and
    release, in ``finally``, of every level the caller does not keep.
    """
    spark = seed.sparkSession
    key = ["id", *lanes]
    walks = {"out": [False], "in": [True], "both": [False, True]}[direction]
    avg_deg = graph.m / max(graph.n, 1)
    count = [F.count(F.lit(1)).alias("rows")]
    held: list[DataFrame] = []  # severed frames this call owns
    kept: list[DataFrame] = []  # the ones it returns
    metrics: list[dict] = []
    try:
        if prior is None and ckpt is not None:
            loaded = ckpt.load_deltas(spark)
            if loaded is not None:
                prior = (seed.union(loaded[0]), loaded[1])
        if prior is None:
            first, s = observe(seed, count, held)
            it, fcount, frontier = 0, s["rows"], first
        else:
            first, _ = observe(prior[0], [], held)
            it, fcount = prior[1]["iteration"], prior[1].get("frontier_size_next")
            frontier = first.where(F.col(depth) == it)
            if fcount is None:
                # a record without the key (legacy writer): recount the
                # frontier rather than read the missing key as converged
                fcount = frontier.count()
            if fcount == 0:
                metrics.append(prior[1])
        levels = [first]
        seen = [first]  # severed frames whose (id, *lanes) union is the visited set
        with conf_override(spark, loop_conf(graph.edges.rdd.getNumPartitions())):
            while fcount and it < max_iter:
                t0 = time.time()
                it += 1
                info: dict = {}
                visited = reduce(DataFrame.union, [f.select(*key) for f in seen])
                cands = [
                    edge_map(
                        graph,
                        frontier,
                        aggs,
                        volume=int(fcount * avg_deg),
                        reverse=reverse,
                        exclude_dst=visited,
                        info=info,
                        group_extra=list(lanes),
                    )
                    for reverse in walks
                ]
                delta, s = observe(level(reduce(DataFrame.union, cands), it), count, held)
                rec = {"iteration": it, "frontier_size": fcount, **info}
                fcount = s["rows"]
                rec.update(frontier_size_next=fcount, wall_s=time.time() - t0)
                metrics.append(rec)
                if ckpt is not None:
                    ckpt.save(it, delta, metrics={**rec, "delta_ckpt": True})
                if not fcount:
                    break
                if len(seen) >= compact_every:
                    block, _ = observe(visited, [], held)
                    if seen[0] is not first:
                        release(seen[0])  # the last compaction's block
                    seen = [block]
                levels.append(delta)
                seen.append(delta)
                frontier = delta
        if keep_levels:
            kept = levels
            return Traversal(None, levels, it, metrics)
        if len(levels) > 1:
            kept = [observe(reduce(DataFrame.union, levels), [], held)[0]]
        else:
            kept = levels
        return Traversal(kept[0], [], it, metrics)
    finally:
        for f in held:
            if not any(f is k for k in kept):
                release(f)
