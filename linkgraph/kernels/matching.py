"""Maximal matching — the edge-parallel sibling of MIS (kernels/mis.py)
from the same greedy-with-priorities family (Blelloch, Fineman & Shun
SPAA'12; the GBBS suite ships it as MaximalMatching). The reference
engine at /root/reference/src has no matching; this extends its
algorithm family over the same edge table, like kcore/mis.

Algorithm: parallel greedy matching with DETERMINISTIC pseudo-random
priorities on CANONICAL undirected edges (u < v). Each round
  * an edge is a LOCAL MINIMUM if its key is the smallest among all
    live edges at BOTH endpoints — local minima join the matching;
  * every edge incident to a newly matched vertex leaves the live set;
until no live edge remains. The fixpoint equals the SEQUENTIAL greedy
matching taken in ascending-key order (the priority-greedy == greedy
argument of SPAA'12, applied to the line graph), which is what the
pytest and DuckDB oracles replay. O(log m) rounds w.h.p. under
random-ish keys.

Priority key: a two-multiplier Knuth-style hash folded into [0, MOD),
    h(u,v) = ((u % MOD) * 2654435761 % MOD + (v % MOD) * 2246822519 % MOD) % MOD
tie-broken lexicographically by (u, v) — a pure int64 expression that
never overflows for ANY long ids (each product < 1e9 * 2.7e9 < 2^63),
identical in Spark and ANSI SQL so the oracle reproduces it literally.
Raw-(u,v) priority would degenerate to O(n) rounds on sorted paths;
the hash restores the O(log m) bound without losing cross-engine
exactness.

Accepts directed, symmetrized, or canonical edge tables alike: the
kernel canonicalizes to u = least, v = greatest internally (matching
is an undirected notion), dropping self-loops.

Scale shape (a linkgraph/loop.py ``peel`` over the live edge set):
  * per-round per-vertex min is ONE groupBy over the 2m-row endpoint
    incidence view (union of two column-swaps of the live edge set) —
    a partial+final aggregation (struct min plans as SortAggregate,
    which still combines map-side), skew-safe, no joins;
  * local-minimum selection is two equi-joins of the live edges
    against the (vid, min-key) table — vertex-keyed shuffle joins that
    AQE handles; the live set shrinks geometrically after round 1;
  * the driver cuts the matched vertices out of the live set by
    anti-joins on both endpoints, broadcast while they are under its
    row cap, and the live count rides the cut's job.
Per round everything is O(|live edges|), geometrically shrinking; at
100 TB the round-1 pass dominates and is a linear scan + one
partial-agg + two equi-joins — no n² anywhere.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import Cut, PeelRound, peel

#: Edge-priority hash constants (Knuth / xxhash-prime multipliers).
MATCH_HASH_MULT_U = 2654435761
MATCH_HASH_MULT_V = 2246822519
MATCH_HASH_MOD = 1_000_000_007


def edge_priority(u: Column, v: Column) -> Column:
    """h(u,v) in [0, MOD) — overflow-safe for any int64 ids."""
    return (
        (u % F.lit(MATCH_HASH_MOD)) * F.lit(MATCH_HASH_MULT_U) % F.lit(MATCH_HASH_MOD)
        + (v % F.lit(MATCH_HASH_MOD)) * F.lit(MATCH_HASH_MULT_V) % F.lit(MATCH_HASH_MOD)
    ) % F.lit(MATCH_HASH_MOD)


def _key_struct() -> Column:
    """Total order (h, u, v) — field names pinned so struct equality
    against the preserved-name MIN(struct) resolves."""
    return F.struct(
        F.col("h").alias("h"), F.col("u").alias("u"), F.col("v").alias("v")
    )


@dataclass
class MatchingResult:
    df: DataFrame  # (u long, v long) with u < v: the matched edges
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _round(r: PeelRound) -> Cut:
    (cur,) = r.res
    # per-vertex min incident key: one hash agg over the 2m-row
    # endpoint view — no join, partial+final combine
    inc = cur.select(F.col("u").alias("vid"), _key_struct().alias("k")).union(
        cur.select(F.col("v").alias("vid"), _key_struct().alias("k"))
    )
    mins = inc.groupBy("vid").agg(F.min("k").alias("mk"))
    mu = mins.select(F.col("vid").alias("u"), F.col("mk").alias("mku"))
    mv = mins.select(F.col("vid").alias("v"), F.col("mk").alias("mkv"))
    matched, s = r.observe(
        cur.join(mu, "u")
        .join(mv, "v")
        .where((_key_struct() == F.col("mku")) & (_key_struct() == F.col("mkv")))
        .select("u", "v"),
        F.count(F.lit(1)).alias("matched"),
    )
    n = int(s["matched"] or 0)
    if n == 0:
        # a nonempty live edge set always has a global-min edge, which
        # is a local min at both endpoints ⇒ cur is empty
        return Cut(matched, 0, {"matched": 0, "live_edges": 0}, done=True)
    return Cut(matched, 2 * n, {"matched": n}, part=matched)


def maximal_matching(
    graph: Graph,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> MatchingResult:
    """With a CheckpointManager, each round persists its matched-edge
    DELTA (O(matched) rows — the bfs.py delta layout); resume unions
    the deltas and cuts their endpoints out of the live edge set (one
    O(m) pass, cheaper than persisting the live set every round), and
    a converged record short-circuits."""
    # canonicalize: each undirected edge once (least/greatest handles
    # directed, symmetrized, and mixed inputs alike), self-loops dropped
    canon = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
        )
        .distinct()
    )
    res = peel(
        [canon.select(edge_priority(F.col("u"), F.col("v")).alias("h"), "u", "v")],
        [["u", "v"]],
        _round,
        # matched edges are vertex-disjoint: 2 ids per edge, no repeats
        keys=lambda d: d.select(F.col("u").alias("id")).union(d.select(F.col("v").alias("id"))),
        max_iter=max_iter,
        schema="u long, v long",
        size_key="live_edges",
        ckpt=ckpt,
    )
    return MatchingResult(res.df, res.iterations, res.wall_seconds, res.metrics)
