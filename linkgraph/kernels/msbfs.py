"""Multi-source BFS + harmonic-centrality rollup.

Runs |S| simultaneous BFS traversals in ONE frontier loop: state rows
are (id, source, dist) and every edge_map round advances ALL lanes at
once via the composite combine key (frontier.py `group_extra`) — the
number of Spark jobs is the graph's eccentricity bound, not
|S| × eccentricity. This is the standard MS-BFS formulation
(Then et al., "The More the Merrier: Efficient Multi-Source Graph
Traversal", VLDB 2015) re-expressed relationally: instead of packing
lanes into per-vertex bitfields, the lane is a key column and Spark's
partial+final aggregation does the per-(vertex, lane) combine.

The reference engine (/root/reference/src/algos.rs:124-167) has only
single-source BFS; msbfs generalizes it on the same Ligra primitives
(edgeMap with cond(), |E|/20 direction dispatch — both live here via
edge_map(group_extra=["source"], exclude_dst=per-lane visited)).

Scale shape: per round, messages = Σ out_deg over (frontier × lanes
present) — the dispatcher's volume statistic counts lane multiplicity,
so a wide multi-lane frontier switches to dense-pull exactly when the
real message volume crosses |E|/20. The levels run on
linkgraph/frontier.py's `traverse` with `source` as the lane column:
per-level delta severs, the per-lane visited set as a flat union of
them, durable checkpoints of the per-level DELTAS only (the bfs.py r4
layout), reconstructed by union at resume.

harmonic_centrality() is the textbook sampled estimator (Boldi &
Vigna, "Axioms for Centrality", 2014): harmonic(v) ≈ Σ_{s ∈ S,
dist(s,v) > 0} 1/dist(s,v) — one groupBy over the msbfs output.
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
class MSBFSResult:
    df: DataFrame  # (id long, source long, dist long) — reached (vertex, lane) pairs
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def msbfs(
    graph: Graph,
    sources: list[int],
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
    compact_every: int = 32,
    reverse: bool = False,
) -> MSBFSResult:
    """(id, source, dist) over all lanes: dist = shortest hop count
    from `source` to `id`; a (vertex, lane) pair appears iff reachable.
    Sources are deduplicated; each source reaches itself at dist 0.
    reverse=True walks in-edges (dist = hops from `id` TO `source`)."""
    spark = graph.edges.sparkSession
    t0 = time.time()
    seed = spark.createDataFrame(
        [(s, s, 0) for s in sorted(set(int(s) for s in sources))],
        "id long, source long, dist long",
    )
    res = traverse(
        graph,
        seed,
        lambda c, l: c.select(
            F.col("dst").alias("id"), "source", F.lit(l).cast("long").alias("dist")
        ),
        [F.count(F.lit(1)).alias("paths")],
        max_iter=max_iter,
        lanes=("source",),
        direction="in" if reverse else "out",
        depth="dist",
        compact_every=compact_every,
        ckpt=ckpt,
    )
    return MSBFSResult(res.reached, res.iterations, time.time() - t0, res.metrics)


def harmonic_centrality(
    graph: Graph,
    sources: list[int],
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> DataFrame:
    """(id, harmonic double, reached long): sampled harmonic centrality
    Σ_{s ∈ sources, 0 < dist(s, id)} 1/dist(s, id), rounded to 9
    decimals for cross-engine comparability; `reached` counts the
    sample lanes that reach `id`. With sources = all vertices this is
    exact harmonic centrality; a uniform sample of |S| sources gives
    the n/|S|-scaled estimator (Boldi & Vigna 2014 §3.2)."""
    res = msbfs(graph, sources, max_iter=max_iter, ckpt=ckpt)
    return (
        res.df.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.round(F.sum(F.lit(1.0) / F.col("dist")), 9).alias("harmonic"),
            F.count(F.lit(1)).alias("reached"),
        )
    )


def radii(
    graph: Graph,
    sources: list[int],
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> DataFrame:
    """(source, ecc, reached): per-sample-source eccentricity (max hop
    distance to any reached vertex) and reach size — Ligra's Radii app
    (the multi-source sweep that lower-bounds per-vertex eccentricity
    and graph diameter; max(ecc) over a good sample is the standard
    diameter estimate). One msbfs run, one groupBy rollup."""
    res = msbfs(graph, sources, max_iter=max_iter, ckpt=ckpt)
    return res.df.groupBy("source").agg(
        F.max("dist").alias("ecc"),
        F.count(F.lit(1)).alias("reached"),
    )


def closeness_centrality(
    graph: Graph,
    sources: list[int],
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> DataFrame:
    """(id, sum_dist long, reached long, closeness double): sampled
    (inward) closeness — over the sample lanes that reach `id` at
    dist > 0, closeness = reached / Σ dist, the reciprocal mean
    distance (Boldi & Vigna 2014 §3.1's c(x) restricted to the
    sample; with sources = all vertices it is exact, with a uniform
    sample it estimates the same ranking — the unreachable-lane
    pathology that motivates harmonic is visible in `reached`).

    sum_dist/reached are exact int64 rollups of the one msbfs sweep;
    closeness is ONE int64/int64 double division — hash-identical
    across engines with no rounding, the edge_jaccard contract.
    """
    res = msbfs(graph, sources, max_iter=max_iter, ckpt=ckpt)
    return (
        res.df.where(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum("dist").alias("sum_dist"),
            F.count(F.lit(1)).alias("reached"),
        )
        .select(
            "id",
            "sum_dist",
            "reached",
            (
                F.col("reached").cast("double")
                / F.col("sum_dist").cast("double")
            ).alias("closeness"),
        )
    )


def landmark_distances(
    graph: Graph,
    landmarks: list[int],
    max_iter: int = 10_000,
) -> DataFrame:
    """(id, landmark, d_from long|NULL, d_to long|NULL): the landmark
    distance-oracle sketch (ALT landmarks, Goldberg & Harrelson
    SODA'05; sketch-based distance oracles, Das Sarma et al. WSDM'10)
    — per vertex, its hop distance FROM each landmark (d_from, forward
    sweep) and TO each landmark (d_to, reverse sweep over in-edges).
    A (vertex, landmark) row exists iff at least one direction
    reaches; the absent direction is NULL.

    Two msbfs runs (|L| lanes each in one frontier loop apiece) — the
    precompute is 2·|L| BFS traversals collapsed into ~2·diameter
    rounds, and the output is n·|L| int64 rows: the index a 100 TB
    deployment writes once, partitioned by landmark, and reuses for
    every point-to-point query (estimate_distances below).

    The two sweeps are INDEPENDENT job chains, so they run on two
    driver threads (guide §2.6 overlapping-jobs pattern): both loops
    are driver-latency-bound at small scale (one job per BFS level,
    executors ~90% idle), so overlapping them halves the precompute
    wall; at cluster scale the scheduler interleaves their stages
    FIFO with no extra cost. Results are unchanged — each sweep is
    its own deterministic fixpoint.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def run(reverse: bool) -> DataFrame:
        return msbfs(graph, landmarks, max_iter=max_iter, reverse=reverse).df

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fwd = pool.submit(inheritable_thread_target(lambda: run(False)))
        f_rev = pool.submit(inheritable_thread_target(lambda: run(True)))
        fwd = f_fwd.result().select(
            "id", F.col("source").alias("landmark"), F.col("dist").alias("d_from")
        )
        rev = f_rev.result().select(
            "id", F.col("source").alias("landmark"), F.col("dist").alias("d_to")
        )
    return fwd.join(rev, ["id", "landmark"], "full").select(
        "id", "landmark", "d_from", "d_to"
    )


def estimate_distances(
    dist_df: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """(src, dst, ub long, via long): triangle-inequality upper bound
    on the directed hop distance src→dst through the landmark index —
    ub = min_L d_to(src→L) + d_from(L→dst), via = the argmin landmark
    (ties broken by smaller landmark id, so the answer is
    deterministic). Pairs neither side of which shares a reaching
    landmark are absent (no path certificate). Exact whenever a
    shortest path passes a landmark — in particular when src or dst
    IS a landmark.

    Scale shape: two equi-joins keyed on the pair endpoints + one
    struct-min groupBy over ≤ |pairs|·|L| candidate rows — all
    partial+final combinable; no per-query traversal touches the
    graph, which is the entire point of the landmark precompute.
    All values are exact int64 sums of BFS levels.
    """
    to_l = dist_df.where(F.col("d_to").isNotNull()).select(
        F.col("id").alias("src"), "landmark", "d_to"
    )
    from_l = dist_df.where(F.col("d_from").isNotNull()).select(
        F.col("id").alias("dst"), "landmark", "d_from"
    )
    cand = (
        pairs.select("src", "dst")
        .join(to_l, "src")
        .join(from_l, ["dst", "landmark"])
        .select(
            "src",
            "dst",
            (F.col("d_to") + F.col("d_from")).alias("bound"),
            "landmark",
        )
    )
    best = (
        cand.groupBy("src", "dst")
        .agg(F.min(F.struct("bound", "landmark")).alias("m"))
        .select(
            "src",
            "dst",
            F.col("m.bound").alias("ub"),
            F.col("m.landmark").alias("via"),
        )
    )
    return best
