"""k-core: the maximal subgraph in which every vertex has degree ≥ k,
computed by iterative peeling (Matula & Beck 1983; the KCore app of the
Ligra/Julienne line — the reference engine at /root/reference/src has
no k-core, this extends its algorithm family on the same edge table).

Call with a SYMMETRIZED graph (degree means undirected degree, as in
the literature); on a directed graph the semantics degrade to
"out-degree core", which is rarely what's wanted.

Scale shape: the edge relation is the loop state. Each round
  1. degrees = cur_edges.groupBy('src').count() — cur_edges descends
     from the Graph's src-hash-partitioned persisted edge table and
     every round's filters are broadcast anti-joins that PRESERVE that
     partitioning, so the groupBy plans with no exchange;
  2. the round's removed set (deg < k) is materialized via
     localCheckpoint with its count riding an Observation (one job per
     round, the bfs loop shape);
  3. cur_edges loses all edges touching removed vertices via two
     broadcast anti-joins — the removed set is small after the first
     round (peeling long tails), so no edge shuffle ever recurs.
Vertices whose remaining degree hits 0 vanish from the groupBy output
and are thereby peeled implicitly. The loop ends when nothing was
removed; every survivor then has degree ≥ k by construction.

Round 1 may remove a LARGE set (all degree-<k vertices of the input);
its broadcast is bounded by aggressively projecting to the single id
column. For graphs where even that overflows the broadcast threshold,
`first_round_shuffle=True` plans round 1's filter as a shuffle
anti-join instead, and rounds ≥ 2 return to broadcast.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager, release, sever


@dataclass
class KCoreResult:
    df: DataFrame  # (id long, deg long): k-core members + their in-core degree
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def kcore(
    graph: Graph,
    k: int,
    max_iter: int = 10_000,
    first_round_shuffle: bool = False,
    ckpt: CheckpointManager | None = None,
) -> KCoreResult:
    """With a CheckpointManager, each round persists its REMOVED-vertex
    delta (O(removed) rows); resume unions the deltas and re-derives
    the surviving edge set with one anti-join pass over the original
    edges (the matching.py delta-resume pattern). A converged record
    skips straight to the final degree computation — which needs that
    one pass anyway, since the survivors are never stored."""
    t0 = time.time()
    cur = graph.edges
    kept_edges: list[DataFrame] = []
    iterations = 0
    metrics: list[dict] = []
    start_rnd = 1
    if ckpt is not None:
        done = ckpt.complete_iters()
        if done:
            spark = graph.edges.sparkSession
            last = done[-1]
            parts = []
            rec_last: dict = {}
            for it_k in done:
                st, _, rec = ckpt.load(spark, it_k)
                parts.append(st.select("src"))
                if it_k == last:
                    rec_last = rec
            removed_all = parts[0]
            for p in parts[1:]:
                removed_all = removed_all.union(p)
            rm_all = F.broadcast(sever(removed_all))
            cur = sever(
                graph.edges.join(rm_all, "src", "left_anti")
                .join(rm_all.withColumnRenamed("src", "dst"), "dst", "left_anti")
                .select("src", "dst")
            )
            kept_edges.append(cur)
            iterations = last
            metrics.append(rec_last)
            # converged record: skip the loop, fall through to output
            start_rnd = max_iter + 1 if rec_last.get("converged") else last + 1
    for rnd in range(start_rnd, max_iter + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        obs = Observation(f"kcore_round_{rnd}")
        removed = sever(
            deg.where(F.col("deg") < k)
            .select("src")
            .observe(obs, F.count(F.lit(1)).alias("removed"))
        )
        n_removed = int(obs.get["removed"] or 0)
        iterations = rnd
        rec = {"iteration": rnd, "removed": n_removed,
               "converged": n_removed == 0, "wall_s": time.time() - t0}
        if ckpt is not None:
            ckpt.save(rnd, removed.select("src"), metrics=rec)
        metrics.append(rec)
        if n_removed == 0:
            release(removed)
            break
        rm = removed
        if not (first_round_shuffle and rnd == 1):
            rm = F.broadcast(rm)
        nxt = cur.join(rm, "src", "left_anti").join(
            rm.withColumnRenamed("src", "dst"), "dst", "left_anti"
        ).select("src", "dst")
        # sever per round: keeps the per-round plan byte-stable (the
        # pagerank Janino-cache argument) and bounds lineage depth
        nxt = sever(nxt)
        release(removed)  # nxt is materialized; the round's removed set is done
        kept_edges.append(nxt)
        if len(kept_edges) > 1:
            release(kept_edges.pop(0))
        cur = nxt
    out = (
        cur.groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= k)
    )
    out = sever(out)
    for e in kept_edges:
        release(e)
    return KCoreResult(
        df=out,
        iterations=iterations,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
