"""Personalized PageRank — power iteration with a source-restricted
teleport vector (random walk with restart).

The reference ships global PageRank only (/root/reference/src/
algos.rs:169); PPR is beyond-reference link-analysis coverage — the
standard seeded-relevance ranking for web graphs. Semantics, for a
seed set S with base(v) = 1/|S| on S else 0:

    rank'(v) = (1-d)·base(v) + d·( Σ_{u→v} rank(u)/out_deg(u)
                                   + dangling_mass·base(v) )

from rank = base, until max_v |Δrank| < tol. Dangling mass teleports
back to the SEEDS (not uniformly) — the conventional RWR form; with
S = V this degenerates to exactly pagerank.py's recurrence.

Spark shape per round — the same skeleton as pagerank.py (one m-row
SHUFFLE_HASH scatter join, one partial+final SUM gather, one apply
join back onto the skeleton, an in-plan one-row dangling-mass
broadcast) with one difference: the teleport is a per-vertex `base`
COLUMN carried on the state (joined in once at init), not a scalar
literal, so the loop plan stays byte-identical across iterations
(Janino cache). The loop is linkgraph/loop.py's driver.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import DIFF_CHAIN, decay_chain, fixpoint, max_change


@dataclass
class PPRResult:
    df: DataFrame  # (id long, rank double)
    iterations: int
    converged: bool
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def ppr(
    graph: Graph,
    sources: list[int],
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    ckpt: CheckpointManager | None = None,
    ckpt_every: int = 5,
) -> PPRResult:
    if not sources:
        raise ValueError("ppr needs a non-empty seed set")
    spark = graph.edges.sparkSession

    def init() -> DataFrame:
        # seed indicator joined in ONCE; the loop never touches it again
        seeds = F.broadcast(
            spark.createDataFrame([(int(s),) for s in sources], "id long")
            .distinct()
            .withColumn("base", F.lit(1.0 / len(sources)))
        )
        base = F.coalesce(F.col("base"), F.lit(0.0))
        return graph.degrees.join(seeds, "id", "left").select(
            "id", "out_deg", base.alias("base"), base.alias("rank")
        )

    def step(cur: DataFrame, edges: DataFrame) -> DataFrame:
        dm = cur.where(F.col("out_deg") == 0).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm_val")
        )
        contribs = edges.join(
            cur.where(F.col("out_deg") > 0)
            .select(
                F.col("id").alias("src"),
                (F.col("rank") / F.col("out_deg")).alias("w"),
            )
            .hint("shuffle_hash"),
            "src",
        )
        gathered = contribs.groupBy("dst").agg(F.sum("w").alias("gathered"))
        return (
            cur.join(gathered.hint("shuffle_hash"), cur["id"] == gathered["dst"], "left")
            .crossJoin(F.broadcast(dm))
            .select(
                cur["id"],
                cur["out_deg"],
                cur["base"],
                (
                    F.lit(1.0 - damping) * F.col("base")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("gathered"), F.lit(0.0))
                        + F.col("dm_val") * F.col("base")
                    )
                ).alias("rank"),
                cur["rank"].alias("_rank"),
            )
        )

    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=init,
        step=step,
        scalars=[
            max_change("rank"),
            F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(0.0)).alias(
                "dangling_mass"
            ),
        ],
        stop=lambda r: r["diff"] < tol,
        chain=DIFF_CHAIN,
        max_iter=max_iter,
        plan=decay_chain(tol),
        ckpt=ckpt,
        ckpt_every=ckpt_every,
    )
    return PPRResult(
        df=fp.state.select("id", "rank"),
        iterations=fp.iterations,
        converged=fp.converged,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
