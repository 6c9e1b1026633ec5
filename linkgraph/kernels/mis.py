"""Maximal independent set — the last classic app of the Ligra suite
(Shun & Blelloch PPoPP'13 §Applications, MIS.C) not yet in the kernel
set. The reference engine at /root/reference/src has no MIS; this
extends its algorithm family over the same edge table, like kcore.

Algorithm: parallel greedy MIS with DETERMINISTIC pseudo-random
priorities (Blelloch, Fineman & Shun SPAA'12 show the greedy/priority
formulation converges in O(log n) rounds w.h.p. under random
priorities). Each round
  * a vertex is a ROOT if no UNDECIDED neighbor has a smaller priority
    key — roots join the MIS;
  * roots' neighbors leave the set (status OUT);
until no vertex is undecided. The fixpoint equals the SEQUENTIAL
greedy MIS taken in ascending-key order, which is what the pytest and
DuckDB oracles replay.

Priority key: Knuth multiplicative hash, tie-broken by id —
    key(v) = ((v * 2654435761) % 1000000007) * 2^31 + v
a pure int64 expression (exact for v < 2^31, far above any vertex id
here) identical in Spark and ANSI SQL, so the oracle can reproduce it
literally. Raw-id priority would be deterministic too but degenerates
to O(n) rounds on id-ordered paths; the hash restores the O(log n)
round bound without sacrificing cross-engine exactness.

Call with a SYMMETRIZED graph (independence is an undirected notion).

Scale shape (a linkgraph/loop.py ``peel`` over two residuals, the
undecided vertices and their edges; kernels/coloring.py runs the same
rounds once per color):
  * per-round min-key gather is `cur.groupBy('src').agg(F.min(key(dst)))`
    — cur descends from the Graph's src-hash-partitioned persisted
    edge table through anti-joins that PRESERVE the partitioning, so
    the groupBy plans with no exchange;
  * the removed set (roots and their neighbors) is materialized once
    per round, its counts riding the same job;
  * the driver cuts the removed set out of both residuals by
    anti-joins, broadcast while it is under the driver's row cap.
Three materializations per round (removed, undecided, edges), each
O(|live subgraph|) and geometrically shrinking — at 100 TB the round-1
pass dominates and is a linear scan + one partial-agg, no n² anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.loop import Cut, Peeled, PeelRound, peel

#: Knuth multiplicative-hash priority, exact in int64 for id < 2^31.
MIS_HASH_MULT = 2654435761
MIS_HASH_MOD = 1_000_000_007
MIS_TIE_SHIFT = 2_147_483_648  # 2^31


def priority_key(col: Column) -> Column:
    """key(v) = hash-priority * 2^31 + v — total order, random-ish."""
    return (
        (col * F.lit(MIS_HASH_MULT)) % F.lit(MIS_HASH_MOD)
    ) * F.lit(MIS_TIE_SHIFT) + col


@dataclass
class MISResult:
    df: DataFrame  # (id long): the maximal independent set members
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _round(r: PeelRound) -> Cut:
    und, cur = r.res
    # min priority key over UNDECIDED neighbors (cur is already the
    # undecided-only subgraph) — exchange-free on the src cache
    mk = cur.groupBy("src").agg(F.min(priority_key(F.col("dst"))).alias("nk"))
    roots = (
        und.join(mk, und["id"] == mk["src"], "left")
        .where(F.col("nk").isNull() | (F.col("nk") > priority_key(F.col("id"))))
        .select("id")
    )
    # removed = roots ∪ neighbors(roots); the two are disjoint
    # (adjacent roots are impossible: the larger-key one sees the
    # smaller in its min), so a plain distinct union suffices.
    nbrs = cur.join(F.broadcast(roots.withColumnRenamed("id", "src")), "src")
    removed, s = r.observe(
        roots.withColumn("is_root", F.lit(True))
        .union(nbrs.select(F.col("dst").alias("id"), F.lit(False).alias("is_root")))
        .groupBy("id")
        .agg(F.max("is_root").alias("is_root")),
        F.count(F.lit(1)).alias("removed"),
        F.sum(F.col("is_root").cast("long")).alias("roots"),
    )
    n = int(s["removed"] or 0)
    rec = {"roots": int(s["roots"] or 0), "removed": n}
    # nothing removed: a nonempty undecided set always yields a root
    return Cut(removed, n, rec, done=n == 0, part=removed if n else None)


def independent_set(
    und: DataFrame, edges: DataFrame, max_iter: int, *extra: Column
) -> Peeled:
    """Priority-greedy MIS of the undecided vertices ``und`` (id) over
    ``edges`` (src, dst): (id, *extra) of its members."""
    return peel(
        [und, edges],
        [["id"], ["src", "dst"]],
        _round,
        keys=lambda d: d.select("id"),
        max_iter=max_iter,
        schema="id long, is_root boolean",
        finish=lambda removed, _res, _conv: removed.where("is_root").select("id", *extra),
    )


def mis(graph: Graph, max_iter: int = 10_000) -> MISResult:
    res = independent_set(graph.vertices.select("id"), graph.edges, max_iter)
    return MISResult(res.df, res.iterations, res.wall_seconds, res.metrics)
