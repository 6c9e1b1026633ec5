"""BFS — frontier traversal producing levels + a parent tree.

Reference: /root/reference/src/algos.rs:124-167. The reference's
parent assignment is a CAS race (first writer wins, algos.rs:136-140);
we use F.min('src') — deterministic, still a valid BFS tree (SURVEY
§2.5(5)). Level sets are deterministic in both and are what parity
tests compare.

The unvisitedness check (parents[t] == usize::MAX, algos.rs:142-144)
is Ligra's cond(): expressed as edge_map's `exclude_dst` left-anti
join against the visited set — NULL-free by construction, no sentinel
values (SURVEY §1.2). The levels run on linkgraph/frontier.py's
`traverse`, so the |E|/20 push/pull dispatch (ligra.rs:82-87) is live:
wide middle rounds on small-diameter graphs take the dense-pull form,
narrow first/last rounds the sparse-push broadcast form; the chosen
mode is recorded per level in metrics. Levels run under the loop conf
(AQE off, shuffle width = the edge cache's): on R-MAT scale 6 a
4-level call runs 10-11 Spark jobs (25 under the session's AQE conf),
the level's sever plus its broadcast exchanges.

Delta materialization: each level severs only the NEWLY-reached rows
(the delta), not the whole visited set — per-level write cost is
O(|frontier|), not O(|visited|). The visited set is a flat union of
the severed deltas, compacted every `compact_every` levels to bound
the union tree on high-diameter graphs, and the answer is their union
severed once. (Motivated by the rMAT-26 probe in ROUND3_NOTES:
tail-level cost there was dominated by re-materializing the 24.7M-row
visited set for frontiers of a few hundred rows.) Durable checkpoints
persist the deltas too; a checkpoint of the legacy layout (≤ r3: the
full visited set at the last level) still resumes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.frontier import traverse


@dataclass
class BFSResult:
    df: DataFrame  # (id long, level long, parent long) — reached vertices only
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _legacy(ckpt: CheckpointManager, spark) -> tuple[DataFrame, dict] | None:
    """The last checkpoint, when it is of the full-state layout."""
    last = ckpt.last_complete()
    if last is None:
        return None
    loaded, _, rec = ckpt.load(spark, last)
    return None if rec.get("delta_ckpt") else (loaded, rec)


def bfs(
    graph: Graph,
    root: int,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
    compact_every: int = 32,
) -> BFSResult:
    spark = graph.edges.sparkSession
    t0 = time.time()
    # parents[root] = root (algos.rs:158)
    seed = spark.createDataFrame([(root, 0, root)], "id long, level long, parent long")
    res = traverse(
        graph,
        seed,
        lambda c, l: c.select(
            F.col("dst").alias("id"), F.lit(l).cast("long").alias("level"), "parent"
        ),
        [F.min("src").alias("parent")],
        max_iter=max_iter,
        depth="level",
        compact_every=compact_every,
        ckpt=ckpt,
        prior=_legacy(ckpt, spark) if ckpt is not None else None,
    )
    return BFSResult(res.reached, res.iterations, time.time() - t0, res.metrics)
