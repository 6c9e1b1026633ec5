"""Ego network extraction: the radius-k neighborhood of one or more
seed vertices plus the subgraph it induces — the standard "zoom into
this page/site" primitive (and the GraphFrames-style API gap left by
whole-graph kernels: every other kernel answers a global question,
this one materializes a local workspace a user can iterate on).

Semantics: `vertices` = every vertex within `radius` hops of a seed
along the chosen direction ("out" = follow links, "in" = follow
backlinks, "both" = symmetrized), tagged with its hop distance (seeds
are 0; min distance on multi-seed). `edges` = ALL original directed
edges whose endpoints both fall inside the ball (the induced subgraph
keeps direction regardless of walk direction).

Plan shape: a bounded frontier BFS (≤ radius levels of
linkgraph/frontier.py's `traverse`: delta frontiers, anti-join
visitedness, bfs's traversal without the parent tree; "both" walks
forward and transpose in the same round), then one double semi-join
for the induced edges. Scale: O(radius) rounds, work
proportional to the ball size, not the graph; the induced-edge join
is two hash joins against the (typically small) ball. The reference
engine at /root/reference/src has no subgraph extraction; this
extends its API on the same edge table.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import release, sever
from linkgraph.frontier import traverse


@dataclass
class EgoNetResult:
    vertices: DataFrame  # (id long, dist long)
    edges: DataFrame  # (src long, dst long) — induced, original direction
    wall_seconds: float


def ego_net(
    graph: Graph,
    seeds: list[int],
    radius: int = 2,
    direction: str = "both",
) -> EgoNetResult:
    if direction not in ("out", "in", "both"):
        raise ValueError(f"direction must be out|in|both, got {direction!r}")
    if radius < 0:
        raise ValueError("radius must be >= 0")
    spark = graph.edges.sparkSession
    t0 = time.time()
    seed = spark.createDataFrame([(int(s), 0) for s in set(seeds)], "id long, dist long")
    visited = traverse(
        graph,
        seed,
        lambda c, l: c.select(F.col("dst").alias("id"))
        .distinct()
        .withColumn("dist", F.lit(l).cast("long")),
        [F.count("*").alias("_m")],
        max_iter=radius,
        direction=direction,
    ).reached
    ball = visited.select("id")
    try:
        induced = sever(
            graph.edges.join(
                ball.withColumnRenamed("id", "src").hint("shuffle_hash"), "src"
            )
            .join(ball.withColumnRenamed("id", "dst").hint("shuffle_hash"), "dst")
            .select("src", "dst")
        )
    except BaseException:
        release(visited)
        raise
    return EgoNetResult(
        vertices=visited,
        edges=induced,
        wall_seconds=time.time() - t0,
    )
