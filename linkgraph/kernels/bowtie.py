"""Bow-tie decomposition of a directed link graph (Broder et al.,
"Graph structure in the Web", WWW'00): every vertex classified as

  CORE — member of the largest SCC,
  IN   — reaches the core but is not in it,
  OUT  — reachable from the core but not in it,
  OTHER— everything else (tendrils, tubes, disconnected islands).

Beyond-reference web-graph analysis composed from this engine's own
primitives: the SCC kernel picks the core, then two multi-root
reachability sweeps (kernels/scc.py `reach` from ALL core vertices at
once, forward and reverse) partition the remainder. IN ∩ OUT = ∅ by
construction — a vertex both reaching and reached by the core would
be in the core's SCC.

Scale notes: each sweep is a linkgraph/loop.py fixpoint over a bitmap
(id, color, marked, changed) state on the cached edge table (the
backward one on a transposed copy cached once per call), seeded with
the core in one constant color so every target accepts (|E|/20
push/pull dispatch, chained rounds, one collect per chain) —
O(diameter) rounds. Both sweeps' per-round records are returned,
tagged `phase` "fwd"/"bwd", after the SCC kernel's. The core pick is a
groupBy size + 1-row driver read. Tie-break (size DESC, label ASC) is
deterministic and mirrored in the driver oracle.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import release, sever
from linkgraph.kernels.scc import reach, scc


@dataclass
class BowtieResult:
    df: DataFrame  # (id long, cls string) — CORE | IN | OUT | OTHER
    core_label: int
    core_size: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def bowtie(graph: Graph, scc_df: DataFrame | None = None) -> BowtieResult:
    """Classify every vertex. `scc_df` (id, scc) can be passed in when
    the caller already ran the SCC kernel; otherwise it runs here."""
    t0 = time.time()
    metrics: list[dict] = []
    if scc_df is None:
        res = scc(graph)
        scc_df = res.df
        metrics.extend(res.metrics)
    else:
        scc_df = sever(scc_df)
    marks = []
    try:
        # largest SCC = the core; deterministic tie-break (size DESC, label ASC)
        top = (
            scc_df.groupBy("scc")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"), F.asc("scc"))
            .first()
        )
        core_label, core_size = int(top["scc"]), int(top["n"])
        is_core = F.col("scc") == core_label
        for phase, reverse in (("fwd", False), ("bwd", True)):  # core ∪ OUT, core ∪ IN
            fp = reach(
                graph,
                lambda: scc_df.select(
                    "id",
                    F.lit(0).cast("long").alias("color"),
                    is_core.alias("marked"),
                    is_core.alias("changed"),
                ),
                core_size,
                reverse,
            )
            marks.append(fp.state)
            metrics.extend({**r, "phase": phase} for r in fp.metrics)
        fwd, bwd = marks
        out = sever(
            scc_df.join(fwd.select("id", F.col("marked").alias("_f")), "id")
            .join(bwd.select("id", F.col("marked").alias("_b")), "id")
            .select(
                "id",
                F.when(is_core, F.lit("CORE"))
                .when(F.col("_b"), F.lit("IN"))
                .when(F.col("_f"), F.lit("OUT"))
                .otherwise(F.lit("OTHER"))
                .alias("cls"),
            )
        )
    finally:
        for df in (scc_df, *marks):
            release(df)
    return BowtieResult(
        df=out,
        core_label=core_label,
        core_size=core_size,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
