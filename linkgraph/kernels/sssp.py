"""Single-source shortest paths — frontier Bellman-Ford, the
BellmanFord app of the Ligra suite (label-correcting variant: only
vertices whose distance improved last round scatter this round).
Non-negative weights assumed (termination bound = longest shortest
path in hops); the reference engine (/root/reference/src) has no
weighted traversal — this extends its family on the same edge table.

Scale shape: the kernel builds its own weighted edge cache ONCE
(edges ⋈ weights, hash-partitioned by src, persisted — the weighted
sibling of the Graph's bucketed layout), then per round
  1. scatter: frontier joins the weighted cache on src (broadcast
     below the |E|/20 volume threshold, shuffle otherwise — the same
     direction dispatch as edge_map) and candidates combine per dst
     with MIN(dist + w) — Spark's partial+final agg is the
     write-combining CAS-min;
  2. improved = candidates that beat the current state (left join +
     filter), materialized with the round's count riding an
     Observation — one job per round;
  3. state = anti-join + union (same rewrite class as cc's hash-min
     label state), severed per round to bound lineage.
Distances are doubles; with integer-valued weights all finite
distances are integer-valued and exact (no fp divergence vs oracles).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from linkgraph.build import Graph
from linkgraph.checkpoint import release
from linkgraph.loop import observe


@dataclass
class SSSPResult:
    df: DataFrame  # (id long, dist double) — reached vertices
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def sssp(
    graph: Graph,
    root: int,
    weights: DataFrame | None = None,
    max_iter: int = 10_000,
) -> SSSPResult:
    """weights: optional (src long, dst long, w double); edges missing
    from it get w = 1.0. weights=None degenerates to hop counts (= BFS
    levels as doubles)."""
    spark = graph.edges.sparkSession
    t0 = time.time()
    p = graph.edges.rdd.getNumPartitions()

    ew = graph.edges
    if weights is not None:
        ew = (
            ew.join(weights, ["src", "dst"], "left")
            .select("src", "dst", F.coalesce("w", F.lit(1.0)).alias("w"))
            .repartition(p, "src")
        )
    else:
        ew = ew.withColumn("w", F.lit(1.0))
    ew = ew.persist(StorageLevel.MEMORY_AND_DISK)
    held: list[DataFrame] = []  # severed frames this call owns
    out = None
    try:
        ew.count()
        state, _ = observe(
            spark.createDataFrame([(root, 0.0)], "id long, dist double"), [], held
        )
        frontier = state
        fcount = 1
        iterations = 0
        metrics: list[dict] = []
        for rnd in range(1, max_iter + 1):
            if fcount == 0:
                break
            it_t0 = time.time()
            est_volume = int(fcount * (graph.m / max(graph.n, 1)))
            dense = est_volume > graph.threshold
            side = frontier.withColumnRenamed("id", "src")
            if not dense:
                side = F.broadcast(side)
            cand = (
                ew.join(side, "src")
                .select("dst", (F.col("dist") + F.col("w")).alias("nd"))
                .groupBy("dst")
                .agg(F.min("nd").alias("nd"))
            )
            improved = (
                cand.join(
                    state.select(F.col("id").alias("dst"), "dist"),
                    "dst",
                    "left",
                )
                .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
                .select(F.col("dst").alias("id"), F.col("nd").alias("dist"))
            )
            improved, obs = observe(
                improved, [F.count(F.lit(1)).alias("improved")], held
            )
            fcount = int(obs["improved"] or 0)
            iterations = rnd
            metrics.append(
                {
                    "iteration": rnd,
                    "improved": fcount,
                    "mode": "dense-shuffle" if dense else "sparse-push",
                    "wall_s": time.time() - it_t0,
                }
            )
            if fcount == 0:
                break
            state, _ = observe(
                state.join(improved.select("id"), "id", "left_anti").union(improved),
                [],
                held,
            )
            for df in held:
                if df is not state and df is not improved:
                    release(df)
            held = [state, improved]
            frontier = improved
        out = state
        return SSSPResult(
            df=state,
            iterations=iterations,
            wall_seconds=time.time() - t0,
            metrics=metrics,
        )
    finally:
        ew.unpersist()
        for df in held:
            if df is not out:
                release(df)
