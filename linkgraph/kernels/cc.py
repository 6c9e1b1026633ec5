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

The loop is :func:`label_loop` on linkgraph/loop.py's driver, shared
with scc's forward-max coloring (the extremum is its one difference:
MIN here, MAX there); :func:`frontier_rounds` holds the dispatch,
scalar and record it also shares with scc's reachability sweeps.
While the |E|/20 dispatch stays in the DENSE regime, chains of up to
LABEL_CHAIN rounds end in one changed-count collect and the state at
the first zero-change round is returned. Sparse-push rounds
(broadcast frontier) run one per collect — the broadcast is a
blocking point anyway — preserving the dispatch test-pinned mode
record. Dense rounds are exchange-free on both joins (scatter
co-partitioned with the src-bucketed edge cache, apply co-partitioned
gather output), leaving ONE message exchange per round, pinned live by
tests/test_plans.py (`test_round_plan_at_width_one_has_no_hash_exchange`,
`test_frontier_round_plan_at_width_two`).

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

import operator
import time
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.frontier import edge_map
from linkgraph.loop import LABEL_CHAIN, Fixpoint, fixpoint, loop_width

# Below this edge count a bitmap-frontier loop runs every round dense:
# a full scan of a small cached edge table costs less than the sparse
# path's per-round frontier broadcast, and dense rounds carry no
# blocking broadcast, so a whole chain pipelines into one job. A large
# graph is far above it and keeps the exact reference dispatch.
DENSE_CHAIN_EDGES = 2_000_000

# a label loop's extremum: (combine, keep, improves)
MIN = (F.min, F.least, operator.lt)
MAX = (F.max, F.greatest, operator.gt)


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
        # partition the symmetrized cache to the DATA (loop.loop_width,
        # one partition below 64k rows), never wider than the source
        # cache, which the build already sized to the data
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

    def from_pre_bitmap(state: DataFrame, rec: dict) -> tuple[DataFrame, dict]:
        # pre-bitmap checkpoint layout (state without the bitmap
        # column): resume with a full frontier — a superset frontier is
        # safe for hash-min (monotone; extra messages can't change the
        # fixpoint), it only re-does one round's worth of work.
        if "changed" in state.columns:
            return state, rec
        full = state.select("id", "comp", F.lit(True).alias("changed"))
        return full, {**rec, "frontier_size_next": graph.n}

    try:
        fp = label_loop(
            graph,
            # ids[v] = v (algos.rs:88); round 0 frontier = full
            # (algos.rs:113) — encoded as changed=true on every row of
            # the bitmap state, so the full frontier costs no
            # materialization
            lambda: graph.vertices.select(
                "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
            ),
            graph.n,
            "comp",
            MIN,
            max_iter,
            ckpt,
            on_load=from_pre_bitmap,
        )
    finally:
        if sym_edges is not None:
            # release the internal symmetrized edge cache (results are
            # severed, so this is safe).
            sym_edges.unpersist()
    return CCResult(
        df=fp.state.select("id", "comp"),
        iterations=fp.iterations,
        wall_seconds=time.time() - t0,
        metrics=fp.metrics,
    )


def frontier_rounds(graph: Graph, n0: int) -> tuple[dict, dict]:
    """The fixpoint arguments shared by the bitmap-frontier loops (the
    label loop here, scc.reach): the state carries a `changed` bool, a
    round's frontier is `state.where(changed)`, and the loop stops at
    the first round that changes nothing (that round executed —
    reference semantics: the frontier emptied after it).

    Returns (dispatch, kwargs). The plan applies the |E|/20 rule once
    per chain and writes it to `dispatch` ('dense', 'volume'), which
    the kernel's step reads: push (broadcast) from a small frontier,
    pull (dense) when |frontier| * avg_degree > m/20 (ligra.rs:82-87),
    the frontier size coming free off the last chain's collect (`n0`
    before the first). Dense chains speculate that the frontier stays
    dense; a mis-moded tail round costs one edge-cache scan, and the
    chain resets to the exact rule at every collect. Sparse-push
    rounds run one per collect — the broadcast is a blocking point
    anyway. Below DENSE_CHAIN_EDGES every round is dense."""
    avg_deg = graph.m / max(graph.n, 1)
    force_dense = graph.m <= DENSE_CHAIN_EDGES
    dispatch: dict = {}

    def plan(prev: list[dict]) -> int | None:
        fcount = prev[-1]["frontier_size_next"] if prev else n0
        volume = int(fcount * avg_deg)
        dense = force_dense or volume > graph.threshold
        dispatch.update(fcount=fcount, volume=volume, dense=dense)
        return None if dense else 1

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

    return dispatch, dict(
        scalars=[
            F.coalesce(F.sum(F.col("changed").cast("long")), F.lit(0)).alias(
                "frontier_size_next"
            ),
        ],
        stop=lambda r: not r.get("frontier_size_next"),
        chain=LABEL_CHAIN,
        plan=plan,
        report=report,
    )


def label_loop(
    graph: Graph,
    init: Callable[[], DataFrame],
    n0: int,
    label: str,
    ext: tuple,
    max_iter: int,
    ckpt: CheckpointManager | None = None,
    on_load: Callable | None = None,
) -> Fixpoint:
    """Hash-extremum label propagation over the bitmap state
    (id, <label>, changed) from ``init()`` (``n0`` rows): each round
    the frontier pushes its label along out-edges and a target keeps
    the extremum ``ext`` — MIN for cc, MAX for scc's forward coloring
    — entering the next frontier iff its label improved."""
    combine, keep, improves = ext
    dispatch, rounds = frontier_rounds(graph, n0)

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        frontier = cur.where(F.col("changed")).select("id", label)
        if dispatch["dense"]:
            # SHUFFLE_HASH build on the frontier side: the edge cache
            # streams in place (both sides co-partitioned by src in
            # steady state — zero-exchange scatter).
            frontier = frontier.hint("shuffle_hash")
        msgs = edge_map(
            replace(graph, edges=edges),
            frontier,
            aggs=[combine(label).alias(f"new_{label}")],
            volume=dispatch["volume"],
            dense=dispatch["dense"],
        )
        new = F.coalesce(F.col(f"new_{label}"), cur[label])
        return cur.join(
            msgs.hint("shuffle_hash"), cur["id"] == msgs["dst"], "left"
        ).select(
            cur["id"],
            keep(cur[label], new).alias(label),
            improves(new, cur[label]).alias("changed"),
        )

    return fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=init,
        step=step,
        max_iter=max_iter,
        ckpt=ckpt,
        on_load=on_load,
        **rounds,
    )
