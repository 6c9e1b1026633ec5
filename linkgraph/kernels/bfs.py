"""BFS — frontier traversal producing levels + a parent tree.

Reference: /root/reference/src/algos.rs:124-167. The reference's
parent assignment is a CAS race (first writer wins, algos.rs:136-140);
we use F.min('src') — deterministic, still a valid BFS tree (SURVEY
§2.5(5)). Level sets are deterministic in both and are what parity
tests compare.

The unvisitedness check (parents[t] == usize::MAX, algos.rs:142-144)
is Ligra's cond(): expressed as edge_map's `exclude_dst` left-anti
join against the visited set — NULL-free by construction, no sentinel
values (SURVEY §1.2). Rounds go through frontier.edge_map, so the
|E|/20 push/pull dispatch (ligra.rs:82-87) is live: wide middle
rounds on small-diameter graphs take the dense-pull SMJ form, narrow
first/last rounds the sparse-push broadcast form; the chosen mode is
recorded per-iteration in metrics.

Driver round-trips: ONE Spark job per level — the newly-reached count
rides the localCheckpoint materialization as an Observation, replacing
both the loop-condition frontier.count() and the checkpoint-time
recount. (The kernels on linkgraph/loop.py's fixpoint instead chain
rounds and read every round's scalars from one collect per chain;
bfs's delta-frontier loop is not on it yet.)

Delta materialization: each level checkpoints only the NEWLY-reached
rows (the delta), not the whole visited set — per-level write cost is
O(|frontier|), not O(|visited|). `visited` stays a lazy union of the
checkpointed deltas (a flat union tree of severed leaves: plan
analysis is linear in depth, no lineage doubling) and is compacted
into a single checkpoint every `compact_every` levels to bound the
tree on high-diameter graphs. (Motivated by the rMAT-26 probe in
ROUND3_NOTES: tail-level cost there was dominated by re-materializing
the 24.7M-row visited set for frontiers of a few hundred rows.)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.frontier import edge_map


@dataclass
class BFSResult:
    df: DataFrame  # (id long, level long, parent long) — reached vertices only
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def bfs(
    graph: Graph,
    root: int,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
    compact_every: int = 32,
) -> BFSResult:
    spark = graph.edges.sparkSession
    t0 = time.time()

    root_row = spark.createDataFrame(
        [(root, 0, root)], "id long, level long, parent long"
    )
    visited = None
    start_level = 1
    fcount = 1  # fresh start: frontier = {root}
    if ckpt is not None:
        last = ckpt.last_complete()
        if last is not None:
            loaded, _, rec = ckpt.load(spark, last)
            if rec.get("delta_ckpt"):
                # delta layout (r4): iter=<k>/state holds ONLY the rows
                # first reached at level k — O(|frontier|) written per
                # level, not O(|visited|). The reached set is root ∪
                # all deltas.
                deltas, rec = ckpt.load_deltas(spark)
                loaded = root_row.union(deltas)
            # legacy layout (≤ r3): full visited set at iter=last
            visited = sever(loaded)
            start_level = last + 1
            if rec.get("frontier_size_next") is None:
                # sidecar without the key (legacy writer): recount the
                # level-`last` frontier instead of silently treating
                # missing as converged (ADVICE r3)
                fcount = visited.where(F.col("level") == last).count()
            else:
                fcount = int(rec["frontier_size_next"])
            if fcount == 0:
                return BFSResult(visited, last, 0.0, [rec])
    if visited is None:
        # parents[root] = root (algos.rs:158)
        visited = sever(root_row)
    frontier = visited.where(F.col("level") == start_level - 1).select("id")

    # visited = lazy union over checkpointed per-level deltas; compacted
    # into one checkpoint every compact_every levels
    deltas = [visited]
    iterations = start_level - 1
    metrics: list[dict] = []
    for level in range(start_level, max_iter + 1):
        if fcount == 0:
            break
        it_t0 = time.time()
        entering = fcount
        est_volume = int(fcount * (graph.m / max(graph.n, 1)))
        info: dict = {}
        nxt = edge_map(
            graph,
            frontier,
            aggs=[F.min("src").alias("parent")],
            volume=est_volume,
            exclude_dst=visited.select("id"),
            info=info,
        ).select(
            F.col("dst").alias("id"),
            F.lit(level).cast("long").alias("level"),
            "parent",
        )
        # one job per level, sized to the DELTA: only the newly-reached
        # rows are materialized; their count (= next frontier size)
        # rides the same job as an Observation
        obs = Observation("bfs_iter")
        delta = sever(nxt.observe(obs, F.count(F.lit(1)).alias("added")))
        fcount = int(obs.get["added"] or 0)
        deltas.append(delta)
        visited = visited.union(delta)
        frontier = delta.select("id")
        iterations = level
        rec = {
            "iteration": level,
            "frontier_size": entering,
            "mode": info.get("mode"),
            "volume": info.get("volume"),
            "frontier_size_next": fcount,
            "wall_s": time.time() - it_t0,
        }
        metrics.append(rec)
        if ckpt is not None:
            # durable checkpoints persist ONLY the level's delta —
            # O(|frontier|) written per level (r3 wrote the full
            # visited set: a 24.7M-row rewrite for a 338-row frontier
            # on rMAT-26, VERDICT r3 what's-wrong #3). Resume unions
            # the deltas; `delta_ckpt` marks the layout.
            ckpt.save(level, delta, metrics={**rec, "delta_ckpt": True})
        if len(deltas) >= compact_every:
            compacted = sever(visited)
            for d in deltas:
                release(d)  # includes the level-L delta backing `frontier`
            deltas = [compacted]
            visited = compacted
            # frontier must be re-derived from the compacted state —
            # its previous backing delta was just released
            frontier = visited.where(F.col("level") == level).select("id")
    return BFSResult(
        df=visited,
        iterations=iterations,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
