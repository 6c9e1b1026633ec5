"""Strongly connected components — trim + forward-max coloring +
color-constrained backward sweep (Orzan's coloring algorithm, the
standard vertex-centric/distributed SCC; Orzan 2004, also the Pregel/
GBBS formulation in Slota et al. and Hong et al.).

The reference ships weak CC only (/root/reference/src/algos.rs:48-122,
symmetrized hash-min); SCC is beyond-reference directed-graph coverage
— on a web link graph it is THE bow-tie decomposition (Broder et al.
WWW'00): giant core SCC, IN/OUT tendrils, disconnected islands.

Algorithm, per outer round over the residual (unassigned) subgraph:

  1. TRIM to fixpoint: a vertex with residual in-degree 0 or
     out-degree 0 is its own singleton SCC (it cannot lie on a cycle).
     Peeling these first disposes of the bow-tie tendrils without ever
     running a fixpoint propagation over them.
  2. COLOR: color(v) init = id, each round every changed vertex pushes
     its color along OUT-edges and targets keep the MAX — the same
     loop shape as kernels/cc.py (bitmap `changed` state, Observation-
     borne frontier count, |E|/20 edge_map dispatch), fixpoint gives
     color(v) = max id over vertices that reach v.
  3. SWEEP: roots = {v : color(v) == v}. A color-constrained BFS along
     IN-edges (edge_map(reverse=True, group_extra=['scc'])) from all
     roots at once marks SCC(root) = {v : color(v) == root, v reaches
     root} (Orzan's theorem: members of SCC(r) are exactly the
     vertices of color r that reach r).
  4. Assigned vertices leave the residual; repeat. Every round
     assigns at least the residual max-id vertex's SCC, so the outer
     loop terminates in <= #SCC rounds; real link graphs need a
     handful (trim eats the tendrils, round 1's sweep eats the core).

Labels are normalized to scc = MIN member id at the end (one groupBy)
so the output contract is algorithm-independent and matches the weak
CC kernel's min-label convention.

Scale notes: no step materializes anything denser than the residual
edge relation. Coloring and sweeping are edge_map rounds (partial+
final combine, broadcast-vs-shuffle dispatch); trim is a degree
recount + broadcast-able anti-joins; the residual subgraph is rebuilt
through build_graph_from_edges per outer round, so every inner loop
runs over a src-hash-partitioned cached edge table. Durable
checkpoints save the ASSIGNED set once per outer round (monotone,
O(assigned) rows); resume recomputes the residual by anti-join.

Known limitation (documented, inherent to coloring-SCC): a long
directed path with ids descending along it degenerates to one
singleton per round if trim cannot peel it — max_outer guards this
with a clear error rather than an unbounded loop.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.build import Graph, build_graph_from_edges
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.frontier import edge_map
from linkgraph.loop import loop_width
from linkgraph.session import conf_override


@dataclass
class SCCResult:
    df: DataFrame  # (id long, scc long) — scc = min member id
    outer_rounds: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


# max rounds chained per driver collect in the color/sweep loops (r6;
# the pagerank.py/cc.py lazy-localCheckpoint pattern). Chains GROW
# 2 -> 4 -> 8 while fully productive: fixpoint loops here are often
# 1-4 rounds (post-trim residuals), and a fixed deep chain pays ~0.2 s
# of planning per speculative no-op round (measured: outer rounds 2-4
# inflated 2.7 s -> 4.5 s with fixed 8-chains).
_CHAIN = 8


def _dense_chain_edges() -> int:
    """Below this edge count the |E|/20 dispatch is overridden to
    DENSE for chained rounds: a full scan of a small cached edge table
    costs less than the sparse path's per-round broadcast, and dense
    rounds carry no blocking broadcast, so a whole chain pipelines
    into one job. Scale-adaptive — a 100 TB graph is far above the
    cap and keeps the exact reference dispatch."""
    return int(os.environ.get("LINKGRAPH_DENSE_CHAIN_EDGES", str(2_000_000)))


def _collect_per_round(states: list[DataFrame], agg_of) -> dict[int, int]:
    """ONE job over a chain's lazily-checkpointed states: per-round
    scalar aggregates (changed/accepted counts), unioned and collected
    together — the chain's only driver round-trip."""
    cnt_df = None
    for j, s in enumerate(states):
        d = (
            s.groupBy()
            .agg(agg_of(s).alias("n"))
            .select(F.lit(j).alias("j"), "n")
        )
        cnt_df = d if cnt_df is None else cnt_df.unionAll(d)
    return {r["j"]: int(r["n"] or 0) for r in cnt_df.collect()}


def _empty_assigned(spark) -> DataFrame:
    return spark.createDataFrame([], "id long, scc long")


def scc(
    graph: Graph,
    max_outer: int = 64,
    max_color_rounds: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> SCCResult:
    spark = graph.edges.sparkSession
    t0 = time.time()

    assigned = None
    start_round = 0
    if ckpt is not None:
        last = ckpt.last_complete()
        if last is not None:
            loaded, _, rec = ckpt.load(spark, last)
            assigned = sever(loaded)
            start_round = last + 1
            if rec.get("converged"):
                return SCCResult(
                    _normalize(assigned), last + 1, 0.0, [rec]
                )
    if assigned is None:
        assigned = sever(_empty_assigned(spark))

    # residual vertex/edge views; re-derived from `assigned` so resume
    # needs no residual snapshot of its own
    res_verts = sever(
        graph.vertices.select("id").join(assigned, "id", "left_anti")
    )
    res_n = res_verts.count()
    metrics: list[dict] = []
    outer = start_round

    with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
        while res_n > 0:
            if outer >= max_outer:
                raise RuntimeError(
                    f"scc: {res_n} vertices unassigned after {max_outer} "
                    "outer rounds — residual is a deep path-like "
                    "condensation; raise max_outer"
                )
            rnd_t0 = time.time()
            res_edges = (
                graph.edges.join(
                    res_verts.withColumnRenamed("id", "src"), "src", "left_semi"
                ).join(
                    res_verts.withColumnRenamed("id", "dst"), "dst", "left_semi"
                )
            ).select("src", "dst")
            # residual cache partitioned to the data (loop.loop_width;
            # the full graph's m bounds the residual)
            p_res = min(graph.edges.rdd.getNumPartitions(), loop_width(graph.m))
            g_res = build_graph_from_edges(
                res_edges,
                vertices=res_verts,
                assume_deduped=True,
                num_partitions=p_res,
            )
            try:
                new_assigned, new_res_verts, rec = _outer_round(
                    g_res, assigned, res_verts
                )
            finally:
                g_res.edges.unpersist()
                g_res.degrees.unpersist()
            release(assigned)
            release(res_verts)
            assigned, res_verts = new_assigned, new_res_verts
            res_n = rec["residual_next"]
            rec.update(
                outer_round=outer,
                wall_s=time.time() - rnd_t0,
                converged=res_n == 0,
            )
            metrics.append(rec)
            if ckpt is not None:
                ckpt.save(outer, assigned, metrics=rec)
            outer += 1

    out = _normalize(assigned)
    release(res_verts)
    return SCCResult(
        df=out,
        outer_rounds=outer,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )


def _normalize(assigned: DataFrame) -> DataFrame:
    """Relabel to scc = min member id (the weak-CC label convention),
    independent of the coloring algorithm's internal root choice
    (which is the MAX member)."""
    rep = assigned.groupBy("scc").agg(F.min("id").alias("_rep"))
    return assigned.join(rep, "scc").select("id", F.col("_rep").alias("scc"))


def _outer_round(
    g: Graph, assigned: DataFrame, res_verts: DataFrame
) -> tuple[DataFrame, DataFrame, dict]:
    """One trim + color + sweep pass over the residual graph `g`.
    Returns (new assigned, new residual vertices, metrics record)."""
    spark = g.edges.sparkSession

    # -- 1. TRIM: in/out degree 0 => singleton SCC. One pass per outer
    # round (the outer loop re-trims after each removal wave; a trim
    # fixpoint would recount degrees per peel anyway, at the same cost).
    trimmed = g.degrees.where(
        (F.col("out_deg") == 0) | (F.col("in_deg") == 0)
    ).select("id", F.col("id").alias("scc"))
    n_trim_obs = Observation("scc_trim")
    assigned = sever(
        assigned.unionByName(
            trimmed.observe(n_trim_obs, F.count("*").alias("n"))
        )
    )
    n_trim = int(n_trim_obs.get["n"] or 0)
    if n_trim == g.n:
        # residual fully trimmed — skip color/sweep on an empty core
        res_next = sever(res_verts.join(assigned, "id", "left_anti"))
        return assigned, res_next, {
            "trimmed": n_trim,
            "color_rounds": 0,
            "sweep_levels": 0,
            "swept": 0,
            "residual_next": 0,
        }

    core = g.degrees.where(
        (F.col("out_deg") > 0) & (F.col("in_deg") > 0)
    ).select("id")

    # -- 2. COLOR: forward max propagation to fixpoint — the cc.py r6
    # loop shape: rounds CHAINED through localCheckpoint(eager=False),
    # one union-aggregate collect per chain returning every round's
    # changed-count (exact termination; overshoot rounds are no-ops
    # whose states are just unpersisted). The sf0.01 part-succession
    # graph runs 30+30 color rounds across the outer loop — per-round
    # driver barriers, not compute, were the wall.
    state = sever(
        core.select("id", F.col("id").alias("color"), F.lit(True).alias("changed"))
    )
    fcount = g.n - n_trim
    avg_deg = g.m / max(g.n, 1)
    color_rounds = 0
    state_raw = state
    force_dense = g.m <= _dense_chain_edges()
    chain = 2
    while fcount > 0:
        if color_rounds >= 10_000:
            raise RuntimeError("scc: color propagation did not converge")
        c = chain
        states: list[DataFrame] = []
        cur = state
        est_volume = int(fcount * avg_deg)
        dense = force_dense or est_volume > g.threshold
        for _j in range(c):
            frontier = cur.where(F.col("changed")).select("id", "color")
            if dense:
                frontier = frontier.hint("shuffle_hash")
            msgs = edge_map(
                g,
                frontier,
                aggs=[F.max("color").alias("new_color")],
                volume=est_volume,
                dense=dense,
            )
            nxt = (
                cur.join(
                    msgs.hint("shuffle_hash"), cur["id"] == msgs["dst"], "left"
                )
                .select(
                    cur["id"],
                    F.greatest(
                        cur["color"], F.coalesce(F.col("new_color"), cur["color"])
                    ).alias("color"),
                    (
                        F.coalesce(F.col("new_color"), cur["color"]) > cur["color"]
                    ).alias("changed"),
                )
                .localCheckpoint(eager=False)
            )
            states.append(nxt)
            cur = nxt
        counts = _collect_per_round(
            states, lambda s: F.sum(F.col("changed").cast("long"))
        )
        stop = next((j for j in range(c) if counts[j] == 0), None)
        last = stop if stop is not None else c - 1
        for j, sdf in enumerate(states):
            if j != last:
                release(sdf)
        release(state_raw)
        state_raw = states[last]
        state = states[last]
        fcount = counts[last]
        color_rounds += last + 1
        chain = min(_CHAIN, chain * 2) if stop is None else 2

    colors = state.select("id", "color")

    # -- 3. SWEEP: color-constrained backward BFS from all roots at
    # once. Messages carry the root id in `scc`; a target accepts iff
    # its own color equals the message's root (Orzan's theorem).
    # Sweep state is a BITMAP on the color table (r6 — the cc.py loop
    # shape instead of r5's growing marked-union + anti-join): marked
    # rides as a column, the per-(target, root) cond() collapses into
    # the apply join condition (id = dst AND color = root) — a vertex
    # only ever accepts its own color's root, so no multi-lane
    # bookkeeping, no exclude anti-join, no union per level. Levels
    # chain exactly like the color rounds.
    roots_obs = Observation("scc_roots")
    sweep_state = sever(
        colors.select(
            "id",
            "color",
            (F.col("color") == F.col("id")).alias("marked"),
            (F.col("color") == F.col("id")).alias("changed"),
        ).observe(
            roots_obs,
            F.sum(F.col("marked").cast("long")).alias("n"),
        )
    )
    swept = int(roots_obs.get["n"] or 0)
    sweep_levels = 0
    sweep_vol = int(swept * avg_deg)
    done = False
    chain = 2
    sweep_raw = sweep_state
    while not done:
        c = chain
        states = []
        cur = sweep_state
        dense = force_dense or sweep_vol > g.threshold
        for _j in range(c):
            frontier = cur.where(F.col("changed")).select(
                F.col("id").alias("dst_key"), F.col("color").alias("root")
            )
            if dense:
                frontier = frontier.hint("shuffle_hash")
            else:
                frontier = F.broadcast(frontier)
            # backward walk: for edge (u -> v) with v in the frontier,
            # u is a candidate of v's root (the reverse-edge_map form,
            # written directly so the root can ride the join)
            msgs = (
                g.edges.join(
                    frontier, g.edges["dst"] == frontier["dst_key"]
                )
                .groupBy(F.col("src").alias("tgt"), "root")
                .agg(F.count("*").alias("_m"))
                .select("tgt", "root")
            )
            nxt = (
                cur.join(
                    msgs.hint("shuffle_hash"),
                    (cur["id"] == msgs["tgt"]) & (cur["color"] == msgs["root"]),
                    "left",
                )
                .select(
                    cur["id"],
                    cur["color"],
                    (cur["marked"] | msgs["tgt"].isNotNull()).alias("marked"),
                    (~cur["marked"] & msgs["tgt"].isNotNull()).alias("changed"),
                )
                .localCheckpoint(eager=False)
            )
            states.append(nxt)
            cur = nxt
        counts = _collect_per_round(
            states, lambda s: F.sum(F.col("changed").cast("long"))
        )
        stop = next((j for j in range(c) if counts[j] == 0), None)
        last = stop if stop is not None else c - 1
        for j, sdf in enumerate(states):
            if j != last:
                release(sdf)
        release(sweep_raw)
        sweep_raw = states[last]
        sweep_state = states[last]
        for j in range(last + 1):
            if counts[j] > 0:
                swept += counts[j]
                sweep_levels += 1
        if stop is not None:
            done = True
        else:
            sweep_vol = int(counts[last] * avg_deg)
            chain = min(_CHAIN, chain * 2)

    marked = sever(
        sweep_state.where(F.col("marked")).select(
            "id", F.col("color").alias("scc")
        )
    )
    release(sweep_raw)
    release(state)

    new_assigned = sever(assigned.unionByName(marked))
    release(assigned)
    release(marked)
    res_next = sever(res_verts.join(new_assigned, "id", "left_anti"))
    res_n = res_next.count()
    return new_assigned, res_next, {
        "trimmed": n_trim,
        "color_rounds": color_rounds,
        "sweep_levels": sweep_levels,
        "swept": int(swept),
        "residual_next": int(res_n),
    }
