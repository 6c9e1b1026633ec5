"""Strongly connected components — trim + forward-max coloring +
color-constrained backward sweep (Orzan's coloring algorithm, the
standard vertex-centric/distributed SCC; Orzan 2004, also the Pregel/
GBBS formulation in Slota et al. and Hong et al.).

The reference ships weak CC only (/root/reference/src/algos.rs:48-122,
symmetrized hash-min); SCC is beyond-reference directed-graph coverage
— on a web link graph it is THE bow-tie decomposition (Broder et al.
WWW'00): giant core SCC, IN/OUT tendrils, disconnected islands.

Algorithm, per outer round over the residual (unassigned) subgraph:

  1. TRIM: a vertex with residual in-degree 0 or out-degree 0 is its
     own singleton SCC (it cannot lie on a cycle). Peeling these
     first disposes of the bow-tie tendrils without ever running a
     fixpoint propagation over them.
  2. COLOR: color(v) init = id, each round every changed vertex pushes
     its color along OUT-edges and targets keep the MAX — kernels/cc.py's
     label loop with the MAX extremum; its fixpoint gives color(v) =
     max id over vertices that reach v. ``max_color_rounds`` bounds it.
  3. SWEEP: roots = {v : color(v) == v}. :func:`reach` along IN-edges
     from all roots at once marks SCC(root) = {v : color(v) == root,
     v reaches root} (Orzan's theorem: members of SCC(r) are exactly
     the vertices of color r that reach r).
  4. Assigned vertices leave the residual; repeat. Every round
     assigns at least the residual max-id vertex's SCC, so the outer
     loop terminates in <= #SCC rounds; real link graphs need a
     handful (trim eats the tendrils, round 1's sweep eats the core).

Labels are normalized to scc = MIN member id at the end (one groupBy)
so the output contract is algorithm-independent and matches the weak
CC kernel's min-label convention.

Scale notes: no step materializes anything denser than the residual
edge relation. Coloring and sweeping are linkgraph/loop.py fixpoints
(chained rounds, one union-aggregate collect per chain, |E|/20
edge_map dispatch); trim is a degree filter; from the second outer
round on, the residual subgraph is rebuilt through
build_graph_from_edges at its data-sized width, so every inner loop
runs over a src-hash-partitioned cached edge table as is. A fresh
call's first round runs on the caller's graph itself: nothing is
assigned yet, so a rebuild would copy it (3 builds were 3.0 s and
19 jobs of a 20.4 s call on the sf0.001 part-succession graph).
Durable checkpoints save the ASSIGNED set once per outer round
(monotone, O(assigned) rows); resume recomputes the residual by
anti-join.

Known limitation (documented, inherent to coloring-SCC): a long
directed path with ids descending along it degenerates to one
singleton per round if trim cannot peel it — max_outer guards this
with a clear error rather than an unbounded loop.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, build_graph_from_edges
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.frontier import edge_map
from linkgraph.kernels.cc import MAX, frontier_rounds, label_loop
from linkgraph.loop import Fixpoint, fixpoint
from linkgraph.session import conf_override


@dataclass
class SCCResult:
    df: DataFrame  # (id long, scc long) — scc = min member id
    outer_rounds: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def reach(
    graph: Graph, init: Callable[[], DataFrame], n0: int, reverse: bool
) -> Fixpoint:
    """Color-constrained multi-root reachability over the bitmap state
    (id, color, marked, changed) from ``init()`` (``n0`` rows), along
    out-edges, or in-edges when ``reverse``: each round the changed
    rows send their color as a root and a target accepts only its own
    color's root. No target's color may exceed a sender's (true of a
    constant color, and of scc's forward-max colors walked backward:
    every vertex reaching a target reaches its sender), so a target's
    smallest incoming root equals its color iff one of them does — the
    gather is a per-target MIN, and the round joins key on the vertex
    id alone. Marking is monotone, so the loop ends within n rounds. The
    in-edge walk runs on a transposed copy of the edge cache, cached
    once per call at the loop width, so no round re-exchanges the
    edge table."""
    dispatch, rounds = frontier_rounds(graph, n0)

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        frontier = cur.where(F.col("changed")).select("id", "color")
        if dispatch["dense"]:
            frontier = frontier.hint("shuffle_hash")
        msgs = edge_map(
            replace(graph, edges=edges),
            frontier,
            aggs=[F.min("color").alias("root")],
            volume=dispatch["volume"],
            dense=dispatch["dense"],
        )
        hit = F.coalesce(msgs["root"] == cur["color"], F.lit(False))
        return cur.join(
            msgs.hint("shuffle_hash"), cur["id"] == msgs["dst"], "left"
        ).select(
            cur["id"],
            cur["color"],
            (cur["marked"] | hit).alias("marked"),
            (~cur["marked"] & hit).alias("changed"),
        )

    return fixpoint(
        graph.edges_reversed() if reverse else graph.edges,
        m=graph.m,
        n=graph.n,
        init=init,
        step=step,
        max_iter=max(graph.n, 1),
        **rounds,
    )


def _normalized(assigned: DataFrame) -> DataFrame:
    """Relabel to scc = min member id (the weak-CC label convention),
    independent of the coloring algorithm's internal root choice
    (which is the MAX member); releases ``assigned``."""
    rep = assigned.groupBy("scc").agg(F.min("id").alias("_rep"))
    out = sever(assigned.join(rep, "scc").select("id", F.col("_rep").alias("scc")))
    release(assigned)
    return out


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
                return SCCResult(_normalized(assigned), last + 1, 0.0, [rec])
    if assigned is None:
        assigned = sever(spark.createDataFrame([], "id long, scc long"))

    # residual vertex/edge views; re-derived from `assigned` so resume
    # needs no residual snapshot of its own
    res_verts = sever(
        graph.vertices.select("id").join(assigned, "id", "left_anti")
    )
    res_n = res_verts.count()
    metrics: list[dict] = []
    outer = start_round
    try:
        with conf_override(spark, {"spark.sql.adaptive.enabled": "false"}):
            while res_n > 0:
                if outer >= max_outer:
                    raise RuntimeError(
                        f"scc: {res_n} vertices unassigned after {max_outer} "
                        "outer rounds — residual is a deep path-like "
                        "condensation; raise max_outer"
                    )
                rnd_t0 = time.time()
                # a fresh call's first round has nothing assigned: its
                # residual graph is the caller's graph, used as is
                g_res = graph
                if outer > 0:
                    res_edges = (
                        graph.edges.join(
                            res_verts.withColumnRenamed("id", "src"), "src", "left_semi"
                        ).join(
                            res_verts.withColumnRenamed("id", "dst"), "dst", "left_semi"
                        )
                    ).select("src", "dst")
                    g_res = build_graph_from_edges(
                        res_edges, vertices=res_verts, assume_deduped=True
                    )
                try:
                    new_assigned, new_res_verts, rec = _outer_round(
                        g_res, assigned, max_color_rounds
                    )
                finally:
                    if g_res is not graph:
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
        out = _normalized(assigned)
    except BaseException:
        release(assigned)
        raise
    finally:
        release(res_verts)
    return SCCResult(
        df=out,
        outer_rounds=outer,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )


def _outer_round(
    g: Graph, assigned: DataFrame, max_color_rounds: int
) -> tuple[DataFrame, DataFrame, dict]:
    """One trim + color + sweep pass over the residual graph `g`.
    Returns (new assigned, new residual vertices, metrics record)."""
    # -- 1. TRIM: in/out degree 0 => singleton SCC. One pass per outer
    # round (the outer loop re-trims after each removal wave; a trim
    # fixpoint would recount degrees per peel anyway, at the same cost).
    is_core = (F.col("out_deg") > 0) & (F.col("in_deg") > 0)
    trimmed = g.degrees.where(~is_core).select("id", F.col("id").alias("scc"))
    core = g.degrees.where(is_core).select("id")
    n_core = core.count()
    rec = {"trimmed": g.n - n_core, "color_rounds": 0, "sweep_levels": 0}
    new, res_next, sweep = trimmed, core, None
    if n_core:
        # -- 2. COLOR: forward max propagation to fixpoint
        color = label_loop(
            g,
            lambda: core.select(
                "id", F.col("id").alias("color"), F.lit(True).alias("changed")
            ),
            n_core,
            "color",
            MAX,
            max_color_rounds,
        )
        try:
            if not color.converged:
                raise RuntimeError(
                    f"scc: color propagation did not converge in "
                    f"{max_color_rounds} rounds; raise max_color_rounds"
                )
            # -- 3. SWEEP: backward from every root at once; the first
            # chain dispatches on the core size, an upper bound of the
            # root count
            root = F.col("color") == F.col("id")
            swept = reach(
                g,
                lambda: color.state.select(
                    "id", "color", root.alias("marked"), root.alias("changed")
                ),
                n_core,
                reverse=True,
            )
        finally:
            release(color.state)
        sweep = swept.state
        rec.update(
            color_rounds=color.iterations,
            sweep_levels=sum(1 for r in swept.metrics if r["frontier_size_next"]),
        )
        new = trimmed.unionByName(
            sweep.where("marked").select("id", F.col("color").alias("scc"))
        )
        res_next = sweep.where(~F.col("marked")).select("id")
    try:
        new_assigned = sever(assigned.unionByName(new))
        res_next = sever(res_next)
    finally:
        if sweep is not None:
            release(sweep)
    res_n = res_next.count()
    rec.update(swept=n_core - res_n, residual_next=res_n)
    return new_assigned, res_next, rec
