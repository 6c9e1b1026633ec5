"""Coreness: the full k-core decomposition — per-vertex core numbers,
the degeneracy ordering view of a web graph (Batagelj & Zaveršnik
2003; the bucketed parallel form is Julienne's KCore, Dhulipala,
Blelloch & Shun SPAA'17). The fixed-k `kcore` kernel answers "who is
in the k-core?"; this one answers it for EVERY k at once:
core(v) = the largest k such that v belongs to the k-core. The
reference engine at /root/reference/src has no core decomposition;
this extends its algorithm family over the same edge table.

Algorithm: level-synchronous bucket peeling (`bucket_peel`, which
truss.trussness runs at edge granularity). A level variable k starts
at 0; each round
  1. score the remaining vertices by residual degree;
  2. advance the level: k = max(k, min residual degree) — if no vertex
     sits at or below the current level, the level jumps straight to
     the residual minimum (every remaining vertex is then in the
     min-degree-core, so the jump is exact, not an approximation);
  3. peel ALL vertices with residual degree <= k in one batch; each
     gets core number exactly k (it survived peeling of every level
     < k, so it is in the k-core; its residual degree <= k bars it
     from the (k+1)-core);
until no vertices remain. Batching is safe because removing a
degree-<=k vertex only lowers other degrees — cascades stay at the
same level (step 2's max() keeps k pinned while any cascade runs).
The round count is the graph's peeling complexity (number of distinct
(level, cascade-step) pairs), small for power-law web graphs.

Consistency contract with the fixed-k kernel (pinned by pytest):
    kcore(g, k).df ids  ==  {v : coreness(g).core(v) >= k}.

The vertex universe is the edge-endpoint set (degree-0 vertices of a
wider universe trivially have core 0 and are not enumerated). Call
with a SYMMETRIZED graph, as for kcore.

Scale shape (a linkgraph/loop.py ``peel`` over two residuals, the
edges and the remaining vertices): per round, one job materializes the
score table (remaining ⟕ groupBy('src') count over the residual edges;
the groupBy plans exchange-free because the residual descends from the
src-hash-partitioned persisted edge table through partition-preserving
anti-joins, and the left join exchanges O(remaining) id rows, the cost
of detecting degree-0 vertices), with the remaining count and minimum
score riding it; one job materializes the peeled delta; the driver
then cuts the delta out of both residuals by anti-joins.

With a CheckpointManager, each round persists its PEELED delta
(id, core — O(peeled) rows, the bfs.py delta layout); resume unions
the deltas, cuts them out of the residuals, and restores the level
from the record. A converged record short-circuits without touching
the edge table.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import Cut, Peeled, PeelRound, peel


@dataclass
class CorenessResult:
    df: DataFrame  # (id long, core long): every endpoint's core number
    iterations: int
    degeneracy: int  # max core number = degeneracy of the graph
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _round(r: PeelRound, scored: DataFrame, key: list[str], out: str, floor: int) -> Cut:
    """One level-synchronous round over ``scored`` (key..., score)."""
    scored, s = r.observe(
        scored, F.count(F.lit(1)).alias("n"), F.min("score").alias("low")
    )
    n = int(s["n"] or 0)
    level = int(r.prev.get("level", floor))
    if n == 0:
        # nothing left (an empty input, or a resume that peeled
        # everything without a converged flag)
        empty = scored.select(*key, F.lit(level).cast("long").alias(out))
        return Cut(empty, 0, {"level": level, "peeled": 0, "remaining": 0}, done=True)
    level = max(level, int(s["low"]))
    delta, p = r.observe(
        scored.where(F.col("score") <= level).select(
            *key, F.lit(level).cast("long").alias(out)
        ),
        F.count(F.lit(1)).alias("peeled"),
    )
    peeled = int(p["peeled"] or 0)
    rec = {"level": level, "peeled": peeled, "remaining": n - peeled}
    return Cut(delta, peeled, rec, done=peeled == n, part=delta)


def bucket_peel(
    residuals: list[DataFrame],
    cuts: list[list[str]],
    score: Callable[[list[DataFrame]], DataFrame],
    key: list[str],
    out: str,
    floor: int,
    max_iter: int,
    ckpt: CheckpointManager | None,
) -> Peeled:
    """Level-synchronous bucket peeling: ``score(residuals)`` gives the
    remaining elements' (key..., score); each round raises the level
    (from ``floor``) to the lowest score and peels every element scored
    at or below it, at that level, into (key..., out)."""
    schema = ", ".join(f"{c} long" for c in [*key, out])
    return peel(
        residuals,
        cuts,
        lambda r: _round(r, score(r.res), key, out, floor),
        keys=lambda d: d.select(*key),
        max_iter=max_iter,
        schema=schema,
        ckpt=ckpt,
    )


def _degrees(res: list[DataFrame]) -> DataFrame:
    edges, remaining = res
    counts = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    return remaining.join(counts, "id", "left").select(
        "id", F.coalesce(F.col("deg"), F.lit(0)).alias("score")
    )


def coreness(
    graph: Graph,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> CorenessResult:
    e = graph.edges
    remaining = (
        e.select(F.col("src").alias("id")).union(e.select(F.col("dst").alias("id"))).distinct()
    )
    res = bucket_peel(
        [e, remaining], [["src", "dst"], ["id"]], _degrees, ["id"], "core", 0, max_iter, ckpt
    )
    level = res.metrics[-1]["level"] if res.metrics else 0
    return CorenessResult(res.df, res.iterations, level, res.wall_seconds, res.metrics)
