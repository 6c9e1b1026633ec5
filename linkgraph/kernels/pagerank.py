"""PageRank — power iteration with dangling-mass redistribution.

This is the north-rule metric kernel (BASELINE.json:2,6): standard
PageRank, NOT the reference's PR-delta variant (that one is
reproduced faithfully in pagerank_delta.py for parity). Semantics:

    rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/out_deg(u)
                               + dangling_mass/n )
    dangling_mass = Σ_{out_deg(u)=0} rank(u)

iterated from rank = 1/n until max_v |rank'(v) - rank(v)| < tol.

Spark shape per iteration (SURVEY §2.3): one equi-join
edges ⋈ state on src, one partial+final SUM aggregation on dst
(this IS the two-stage skew-safe gather — Spark's map-side partial
hash-agg bounds any hub dst to ≤ #partitions rows into the final
agg; an additional explicit salting stage is available via `salt`
for clusters whose partial-agg memory is the bottleneck, SURVEY
§4.4), one left join back onto the vertex skeleton, and an in-plan
one-row broadcast carrying the dangling mass.

The loop (resume, data-sized edge re-cache, loop conf, chained
rounds with one convergence collect per chain, checkpoints, cleanup)
is linkgraph/loop.py's driver; this module supplies the round.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change, view_names


@dataclass
class PageRankResult:
    df: DataFrame  # (id long, rank double)
    iterations: int
    converged: bool
    edges_processed: int  # iterations * m — numerator of the metric
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)

    @property
    def edges_per_second(self) -> float:
        return self.edges_processed / self.wall_seconds if self.wall_seconds else 0.0


def pagerank(
    graph: Graph,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    salt: int | None = None,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
    adaptive: bool = False,
    check_every: int = 1,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """check_every=K: convergence is checked only at iteration numbers
    that are multiples of K (so detection can be up to K-1 iterations
    late); ranks after N executed iterations are IDENTICAL to
    check_every=1 (same recurrence, pinned by pytest parity). Chains
    are a multiple of K rounds long — K is a semantic knob, not an
    execution knob.

    Metrics are one record per chain (``iterations_in_block`` rounds),
    carrying ``edges_processed`` and ``wall_s`` for the chain."""
    n = graph.n
    spark = graph.edges.sparkSession

    def init() -> DataFrame:
        # state skeleton: (id, out_deg, rank); out_deg joined in once so
        # the hot loop never touches the degrees table again.
        if init_ranks is None:
            return graph.degrees.select("id", "out_deg", (F.lit(1.0) / n).alias("rank"))
        # init_ranks (id, rank) warm-starts the iteration — the
        # incremental-crawl companion to build.update_graph: surviving
        # urls keep their ids, so a previous run's converged scores are
        # directly joinable and power iteration converges from them in
        # a handful of rounds instead of from uniform (the fixpoint is
        # unique for damping < 1, so warm == cold at convergence —
        # pinned by pytest). Vertices absent from init_ranks (novel
        # pages) start at 1/n; the vector is NOT renormalized — power
        # iteration's dangling handling restores ||r||1 = 1 within the
        # first rounds and renormalizing would perturb the surviving
        # scores' relative values for no faster convergence.
        return graph.degrees.join(
            init_ranks.select("id", F.col("rank").alias("_ir")), "id", "left"
        ).select("id", "out_deg", F.coalesce("_ir", F.lit(1.0 / n)).alias("rank"))

    # The round is ONE constant SQL template over two temp views instead
    # of ~45 per-round py4j Column/DataFrame calls: SHUFFLE_HASH scatter
    # (the LogicalRDD state has unknown stats, so without the hint the
    # planner falls back to SMJ) + SHUFFLE_HASH apply + an in-plan
    # one-row dangling-mass broadcast (no driver scalar, no
    # createDataFrame: measured ~0.2 s/call). It measured ~0.05-0.08 s
    # per round of driver time below the Column API. The float literals
    # use repr() round-tripping with the D suffix so the parsed doubles
    # are exactly the Column-API literals. `salt` adds a first gather
    # level keyed on (dst, pmod(src, salt)), splitting a hub dst's
    # first-level aggregation `salt` ways (SURVEY §4.4).
    edges_view, cur_view = views = view_names("linkgraph_pr")
    scatter = f"""SELECT /*+ SHUFFLE_HASH(s) */ e.dst AS dst, sum(s.w) AS {"pw" if salt else "gathered"}
  FROM {edges_view} e
  JOIN (SELECT id AS src, rank / out_deg AS w
        FROM {cur_view} WHERE out_deg > 0) s
    ON e.src = s.src
  GROUP BY e.dst{f", pmod(e.src, {int(salt)})" if salt else ""}"""
    gather = (
        f"SELECT dst, sum(pw) AS gathered FROM ({scatter}) GROUP BY dst"
        if salt
        else scatter
    )
    round_sql = f"""
SELECT /*+ SHUFFLE_HASH(gth), BROADCAST(dmv) */
       cur.id, cur.out_deg,
       {(1.0 - damping) / n!r}D + {damping!r}D
         * (coalesce(gth.gathered, 0.0D) + dmv.dm_val / {n}) AS rank,
       cur.rank AS _rank
FROM {cur_view} cur
LEFT JOIN ({gather}) gth ON cur.id = gth.dst
CROSS JOIN (
  SELECT coalesce(sum(rank), 0.0D) AS dm_val
  FROM {cur_view} WHERE out_deg = 0
) dmv
"""

    def report(first: int, rows: list[dict], wall: float, stopped: bool) -> list[dict]:
        r = rows[-1]
        k = r["iteration"] - first + 1
        return [
            {
                "iteration": r["iteration"],
                "iterations_in_block": k,
                "diff": r["diff"],
                "dangling_mass": r["dangling_mass"],
                "edges_processed": graph.m * k,
                "wall_s": wall,
                "converged": stopped,
            }
        ]

    check_every = max(1, check_every)
    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=n,
        init=init,
        step=lambda cur, edges: spark.sql(round_sql),
        scalars=[
            max_change("rank"),
            F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias(
                "dangling_mass"
            ),
        ],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        report=report,
        plan=decay_chain(tol, check_every),
        ckpt=ckpt,
        ckpt_every=ckpt_every,
        # chain-granularity saves: the extra per-save job is cheap
        # relative to the sidecar detail it buys
        partition_counts=True,
        check_every=check_every,
        adaptive=adaptive,
        views=views,
    )
    return PageRankResult(
        df=fp.state.select("id", "rank"),
        iterations=fp.iterations,
        converged=fp.converged,
        edges_processed=(fp.iterations - fp.start_iter) * graph.m,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
