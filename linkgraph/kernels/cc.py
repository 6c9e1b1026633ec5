"""Connected components via hash-min label propagation.

Semantics pinned to the reference (/root/reference/src/algos.rs:48-122):
labels init to vertex id (algos.rs:88), each round every frontier
vertex pushes its label along out-edges, targets keep the minimum
(write_min CAS at algos.rs:93-107 -> F.min aggregation), and a vertex
enters the next frontier iff its label decreased this round. The loop
starts from a FULL frontier (algos.rs:113) and stops when the frontier
empties.

Directionality (SURVEY §2.5(4)): propagation is along out-edges only,
so on asymmetric inputs this computes min-over-ancestors, not weak CC.
`symmetrize=True` (default) unions the reversed edges first so the
result is true connected components; tests pin both behaviors.

Spark shape per round: the frontier rows already carry their NEW label
(they are exactly the rows that changed), so the message source is the
frontier DataFrame itself — no extra state join on the push side.

Frontier representation (D9, node_set.rs:123-158): the frontier is a
BITMAP — a `changed` boolean column carried ON the state DataFrame and
materialized with it in the same lineage-severing pass (the Spark
analogue of Ligra's dense `bool[n]` colocated with the per-vertex
state). The sparse view needed by edge_map is `state.where(changed)`,
a filter over the checkpointed state — never a separately materialized
or counted DataFrame. Checkpoints store only the state (the bitmap
rides along); resume re-derives the frontier by filtering.

The loop is linkgraph/loop.py's driver. While the |E|/20 dispatch
stays in the DENSE regime, chains of up to LABEL_CHAIN rounds end in
one changed-count collect and the state at the first zero-change round
is returned. Sparse-push rounds (broadcast frontier) run one per
collect — the broadcast is a blocking point anyway — preserving the
dispatch test-pinned mode record. Dense rounds are exchange-free on
both joins (scatter co-partitioned with the src-bucketed edge cache,
apply co-partitioned gather output), leaving ONE message exchange per
round (plans/r06/cc_round_after.txt).

The symmetrized internal graph is built SLIM (r6): union+reversed
edges go through one repartition(src) + in-partition dropDuplicates
(hash(src) satisfies the (src,dst) dedup clustering — one exchange,
not distinct's agg exchange + repartition exchange), and the degree
table is NOT built — the loop's only degree use is the avg-degree
volume estimate, which needs m and n alone.

Direction dispatch (ligra.rs:58-88): rounds go through
frontier.edge_map, which applies the |E|/20 rule — a full/large
frontier takes the dense-pull form, a small frontier the sparse-push
form (broadcast join). On the symmetrized input the in-edge set equals
the out-edge set, so the pull direction scans the SAME cached table —
no transpose exchange (frontier.py module docstring). The chosen mode
is recorded per-iteration in metrics ('mode': 'dense-pull'|'sparse-push')
beside the estimate it was chosen on ('dispatch_volume').
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.frontier import edge_map
from linkgraph.loop import LABEL_CHAIN, fixpoint, loop_width


@dataclass
class CCResult:
    df: DataFrame  # (id long, comp long)
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def connected_components(
    graph: Graph,
    symmetrize_edges: bool = True,
    max_iter: int = 1000,
    ckpt: CheckpointManager | None = None,
) -> CCResult:
    sym_edges = None
    t0 = time.time()
    if symmetrize_edges:
        # partition the symmetrized cache to the DATA (loop.loop_width),
        # never wider than the source cache
        p = min(graph.edges.rdd.getNumPartitions(), loop_width(2 * graph.m))
        rev = graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
        # ONE exchange: hash(src) clusters every (src,dst) duplicate
        # pair, so the dedup aggregate runs in-partition and the cache
        # keeps the src-bucketed layout the round joins need.
        sym_edges = (
            graph.edges.unionAll(rev)
            .repartition(p, "src")
            .dropDuplicates()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        m_sym = sym_edges.count()
        # slim internal handle: the loop never reads degrees (volume is
        # estimated from m/n), so reuse the caller's degree table
        # rather than building a symmetrized one.
        graph = Graph(
            vertices=graph.vertices,
            edges=sym_edges,
            degrees=graph.degrees,
            n=graph.n,
            m=m_sym,
        )
    try:
        return _cc_loop(graph, max_iter, ckpt, t0)
    finally:
        if sym_edges is not None:
            # release the internal symmetrized edge cache (results are
            # severed, so this is safe).
            sym_edges.unpersist()


def _cc_loop(
    graph: Graph,
    max_iter: int,
    ckpt: CheckpointManager | None,
    t0: float,
) -> CCResult:
    avg_deg = graph.m / max(graph.n, 1)
    # below this edge count a full dense scan of the cached edge table
    # is cheaper than the sparse path's per-round frontier broadcast,
    # and dense rounds have no blocking broadcast so whole chains
    # pipeline into one job (scc.py _dense_chain_edges rationale)
    force_dense = graph.m <= int(
        os.environ.get("LINKGRAPH_DENSE_CHAIN_EDGES", str(2_000_000))
    )
    # the current chain's edge_map dispatch, fixed by plan() at its start
    dispatch: dict = {}

    def from_pre_bitmap(state: DataFrame, rec: dict) -> tuple[DataFrame, dict]:
        # pre-bitmap checkpoint layout (state without the bitmap
        # column): resume with a full frontier — a superset frontier is
        # safe for hash-min (monotone; extra messages can't change the
        # fixpoint), it only re-does one round's worth of work.
        if "changed" in state.columns:
            return state, rec
        full = state.select("id", "comp", F.lit(True).alias("changed"))
        return full, {**rec, "frontier_size_next": graph.n}

    def plan(prev: list[dict]) -> int | None:
        # push (broadcast) from a small frontier, pull (dense) when
        # |frontier| * avg_degree > m/20 (ligra.rs:82-87; the frontier
        # size came free off the last chain's collect). Dense chains
        # speculate that the frontier stays dense; a mis-moded tail
        # round costs one edge-cache scan, and the chain resets to the
        # exact rule at every collect.
        fcount = prev[-1]["frontier_size_next"] if prev else graph.n
        volume = int(fcount * avg_deg)
        dense = force_dense or volume > graph.threshold
        dispatch.update(fcount=fcount, volume=volume, dense=dense)
        return None if dense else 1

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        frontier = cur.where(F.col("changed")).select("id", "comp")
        if dispatch["dense"]:
            # SHUFFLE_HASH build on the frontier side: the edge cache
            # streams in place (both sides co-partitioned by src in
            # steady state — zero-exchange scatter).
            frontier = frontier.hint("shuffle_hash")
        msgs = edge_map(
            replace(graph, edges=edges),
            frontier,
            aggs=[F.min("comp").alias("new_comp")],
            volume=dispatch["volume"],
            dense=dispatch["dense"],
        )
        return cur.join(
            msgs.hint("shuffle_hash"), cur["id"] == msgs["dst"], "left"
        ).select(
            cur["id"],
            F.least(cur["comp"], F.coalesce(F.col("new_comp"), cur["comp"])).alias(
                "comp"
            ),
            (F.coalesce(F.col("new_comp"), cur["comp"]) < cur["comp"]).alias(
                "changed"
            ),
        )

    def report(first: int, rows: list[dict], wall: float, _stopped: bool) -> list[dict]:
        recs = []
        fcount = dispatch["fcount"]
        for r in rows:
            recs.append(
                {
                    "iteration": r["iteration"],
                    "frontier_size": fcount,
                    "frontier_rep": "bitmap",
                    "mode": "dense-pull" if dispatch["dense"] else "sparse-push",
                    # `volume` is the round's own input frontier; the
                    # chain dispatched on `dispatch_volume`, the
                    # estimate at its start
                    "volume": int(fcount * avg_deg),
                    "dispatch_volume": dispatch["volume"],
                    "frontier_size_next": r["frontier_size_next"],
                    "wall_s": wall / len(rows),
                    "block_wall_s": wall,
                    "rounds_in_block": len(rows),
                }
            )
            fcount = r["frontier_size_next"]
        return recs

    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        # ids[v] = v (algos.rs:88); round 0 frontier = full
        # (algos.rs:113) — encoded as changed=true on every row of the
        # bitmap state, so the full frontier costs no materialization
        init=lambda: graph.vertices.select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
        ),
        step=step,
        scalars=[
            F.coalesce(F.sum(F.col("changed").cast("long")), F.lit(0)).alias(
                "frontier_size_next"
            ),
        ],
        # first zero-change round ends the loop (that round executed —
        # reference semantics: the frontier emptied after it)
        stop=lambda r: not r.get("frontier_size_next"),
        chain=LABEL_CHAIN,
        max_iter=max_iter,
        report=report,
        plan=plan,
        ckpt=ckpt,
        on_load=from_pre_bitmap,
    )
    return CCResult(
        df=fp.state.select("id", "comp"),
        iterations=fp.iterations,
        wall_seconds=time.time() - t0,
        metrics=fp.metrics,
    )
