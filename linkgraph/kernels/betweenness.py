"""Betweenness centrality — Brandes' algorithm (Brandes 2001), the BC
app of the Ligra suite (the reference engine at /root/reference/src
stops at PageRank/CC/BFS/labelprop/triangles; BC extends the same
frontier machinery).

Sampled-source BC (Bader et al. 2007): exact per-source dependencies
for a deterministic source sample S, summed over S — with S = all
vertices this is exact BC; smaller S is the standard estimator.

Forward phase = multi-source BFS that also accumulates σ (the number
of shortest paths): linkgraph/frontier.py's `traverse` with `source`
as the lane column, so each level is ONE edge_map with the composite
(dst, source) combine key, aggs = SUM(σ) over frontier in-neighbors,
and the per-lane visited check as the anti-join cond() — the σ
accumulation IS the message combine, no extra pass. The traversal
keeps its per-level states (severed, `keep_levels`), so the backward
phase replays levels without re-filtering a big union.

Backward phase sweeps levels deepest-first: δ(v) = Σ over successors w
(edge v→w, dist(w) = dist(v)+1, same lane) of (σ(v)/σ(w))·(1+δ(w)).
Each level is one join+agg: edges join the level-l state on src and
the level-(l+1) (state + δ) on (dst, source). Levels are small slices
of the vertex set, so both join sides shrink with the level — the edge
relation is never scanned whole per round, only its frontier-incident
part survives the src join.

Call with a SYMMETRIZED graph for the textbook undirected BC;
on a directed graph the result is directed-path BC.

Scale: jobs = 2 × eccentricity bound, independent of |S| (lanes ride
the combine key). State per level is O(Σ_lane |level set|) rows.
σ/δ are doubles (σ overflows int64 on dense graphs well before it
loses double precision that matters to ranking).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import release, sever
from linkgraph.frontier import traverse
from linkgraph.loop import loop_conf
from linkgraph.session import conf_override


@dataclass
class BCResult:
    df: DataFrame  # (id long, bc double) — reached non-source vertices
    iterations: int  # forward levels executed
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def betweenness(
    graph: Graph,
    sources: list[int],
    max_iter: int = 10_000,
) -> BCResult:
    spark = graph.edges.sparkSession
    t0 = time.time()
    # ---- forward: levels[l] = (id, source, sigma) reached at dist l
    seed = spark.createDataFrame(
        [(s, s, 1.0) for s in sorted(set(int(s) for s in sources))],
        "id long, source long, sigma double",
    )
    fwd = traverse(
        graph,
        seed,
        lambda c, l: c.select(F.col("dst").alias("id"), "source", "sigma"),
        [F.sum("sigma").alias("sigma")],
        max_iter=max_iter,
        lanes=("source",),
        keep_levels=True,
    )
    levels = fwd.levels
    metrics = [{"phase": "forward", **r} for r in fwd.metrics]
    delta_states: list[DataFrame] = []
    try:
        with conf_override(spark, loop_conf(graph.edges.rdd.getNumPartitions())):
            # ---- backward: deepest level has delta 0; sweep up
            edges = graph.edges
            upper = sever(levels[-1].withColumn("delta", F.lit(0.0)))
            delta_states.append(upper)
            for l in range(len(levels) - 2, -1, -1):
                it_t0 = time.time()
                low = levels[l]
                contrib = (
                    edges.join(
                        low.select(
                            F.col("id").alias("src"),
                            "source",
                            F.col("sigma").alias("sigma_v"),
                        ),
                        "src",
                    )
                    .join(
                        upper.select(
                            F.col("id").alias("dst"),
                            "source",
                            F.col("sigma").alias("sigma_w"),
                            F.col("delta").alias("delta_w"),
                        ),
                        ["dst", "source"],
                    )
                    .groupBy(F.col("src").alias("id"), "source")
                    .agg(
                        F.sum(
                            (F.col("sigma_v") / F.col("sigma_w"))
                            * (F.lit(1.0) + F.col("delta_w"))
                        ).alias("d")
                    )
                )
                cur = sever(
                    low.join(contrib, ["id", "source"], "left").select(
                        "id",
                        "source",
                        "sigma",
                        F.coalesce(F.col("d"), F.lit(0.0)).alias("delta"),
                    )
                )
                delta_states.append(cur)
                upper = cur
                metrics.append(
                    {"phase": "backward", "level": l, "wall_s": time.time() - it_t0}
                )

            bc = reduce(
                lambda a, b: a.union(b),
                [d.select("id", "source", "delta") for d in delta_states],
            )
            out = sever(
                bc.where(F.col("id") != F.col("source"))
                .groupBy("id")
                .agg(F.round(F.sum("delta"), 9).alias("bc"))
            )
    finally:
        for d in delta_states + levels:
            release(d)
    return BCResult(
        df=out,
        iterations=len(levels) - 1,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
