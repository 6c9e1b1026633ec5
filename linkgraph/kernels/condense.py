"""SCC condensation DAG + topological (longest-path) levels — the
hierarchy view of a directed web graph: collapse every strongly
connected component to one node, keep the distinct between-component
edges (always a DAG), and layer the DAG by longest path from the
sources. Level 0 components are the crawl's entry strata; the maximum
level is the link hierarchy's depth (the bow-tie's IN→CORE→OUT
ordering generalized to every component).

Spark shape: two m-row label-tagging joins + distinct produce the
condensed edge set (shuffles on vertex id, then on component id —
strictly shrinking); levels by synchronous longest-path relaxation
    lvl'(c) = max(lvl(c), 1 + max_{p→c} lvl(p))
which converges in depth-D rounds, each ONE condensed-|E|-row join +
partial+final MAX agg. The relaxation is a linkgraph/loop.py fixpoint
(the labelprop pattern: the previous level rides as the scratch
column `_level`, the `changed` scalar stops the chain). On a DAG this
is exactly the Kahn layering; cycles cannot occur by construction
(and max_iter guards a corrupt label input loudly).

Composes from the engine's own primitives: labels come from
kernels/scc.py unless the caller already has them.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import release, sever
from linkgraph.loop import LABEL_CHAIN, fixpoint


@dataclass
class CondenseResult:
    df: DataFrame  # (scc long, level long, size long)
    edges: DataFrame  # condensed DAG edges (csrc long, cdst long)
    depth: int  # max level = DAG depth
    rounds: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _relax(cur: DataFrame, edges: DataFrame) -> DataFrame:
    prop = (
        edges.join(
            cur.select(F.col("scc").alias("src"), "level").hint("shuffle_hash"), "src"
        )
        .groupBy(F.col("dst").alias("scc"))
        .agg((F.max("level") + 1).alias("cand"))
    )
    return cur.join(prop, "scc", "left").select(
        "scc",
        F.greatest(
            F.col("level"), F.coalesce(F.col("cand"), F.lit(0).cast("long"))
        ).alias("level"),
        "size",
        F.col("level").alias("_level"),
    )


def condensation(
    graph: Graph,
    labels: DataFrame | None = None,
    max_iter: int = 256,
) -> CondenseResult:
    """Condense to the SCC DAG and layer it by longest path.

    labels: optional (id long, scc long) — computed via kernels/scc.py
    when absent. Raises if relaxation hasn't converged after max_iter
    rounds (only possible if `labels` is not a valid SCC labeling)."""
    t0 = time.time()
    owned = None
    if labels is None:
        from linkgraph.kernels.scc import scc as _scc

        labels = owned = _scc(graph).df
    try:
        labels = labels.select("id", "scc")
        cedges = sever(
            graph.edges.join(
                labels.select(F.col("id").alias("src"), F.col("scc").alias("csrc")),
                "src",
            )
            .join(
                labels.select(F.col("id").alias("dst"), F.col("scc").alias("cdst")),
                "dst",
            )
            .where(F.col("csrc") != F.col("cdst"))
            .select("csrc", "cdst")
            .distinct()
        )
        sizes = labels.groupBy("scc").agg(F.count("*").alias("size"))
        try:
            # the graph's m and n bound the condensed edge and component
            # counts, which size the loop's width and chain budget
            fp = fixpoint(
                cedges.toDF("src", "dst"),
                m=graph.m,
                n=graph.n,
                init=lambda: sizes.select(
                    "scc", F.lit(0).cast("long").alias("level"), "size"
                ),
                step=_relax,
                scalars=[
                    F.coalesce(
                        F.sum((F.col("level") != F.col("_level")).cast("long")),
                        F.lit(0),
                    ).alias("changed")
                ],
                stop=lambda r: r.get("changed") == 0,
                chain=LABEL_CHAIN,
                max_iter=max_iter,
            )
        except BaseException:
            release(cedges)
            raise
    finally:
        if owned is not None:
            release(owned)
    if not fp.converged:
        release(cedges)
        release(fp.state)
        raise RuntimeError(
            f"condensation did not converge in {max_iter} rounds — "
            "the labels input is not a valid SCC labeling (cycle in "
            "the condensed graph)"
        )
    depth = fp.state.agg(F.coalesce(F.max("level"), F.lit(0).cast("long"))).first()[0]
    return CondenseResult(
        df=fp.state.select("scc", "level", "size"),
        edges=cedges,
        depth=int(depth),
        rounds=fp.iterations,
        wall_seconds=time.time() - t0,
        metrics=fp.metrics,
    )
