"""Community label propagation (synchronous).

No reference implementation exists — semantics pinned in SURVEY §2.6:
init label[v] = v; each round every vertex adopts the most frequent
label among its IN-neighbors (ties -> smallest label); vertices with
no in-neighbors keep their label; synchronous rounds; stop when no
label changes or max_iter reached. Verified against a NumPy oracle
(tests/oracles.py).

Spark shape per round: join labels onto edges by src, count labels per
(dst, label) (map-side partial agg bounds hub dsts), then pick the
winner with a single `min_by(label, struct(-cnt, label))` aggregate —
the (cnt desc, label asc) ordering expressed as one hash aggregation,
no per-partition window sort. (SURVEY §2.6 row 1 prescribed a
row_number window; min_by gives the identical winner with one less
sort per round — the plan has no Window node.)

The loop is linkgraph/loop.py's driver (chains of LABEL_CHAIN rounds,
one changed-count collect per chain, the state at the first
zero-change round returned). The scatter and apply joins are
co-partitioned SHUFFLE_HASH (state hash(id,P) against the src-bucketed
edge cache) — the exchanges per round are the two aggregation
shuffles only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager
from linkgraph.loop import LABEL_CHAIN, fixpoint


@dataclass
class LabelPropResult:
    df: DataFrame  # (id long, label long)
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _step(cur: DataFrame, edges: DataFrame) -> DataFrame:
    counts = (
        edges.join(
            cur.select(F.col("id").alias("src"), "label").hint("shuffle_hash"), "src"
        )
        .groupBy("dst", "label")
        .agg(F.count("*").alias("cnt"))
    )
    # winner per dst = label with (cnt desc, label asc): one min_by hash
    # aggregation, no window sort
    winners = (
        counts.groupBy("dst")
        .agg(
            F.min_by("label", F.struct(F.negate(F.col("cnt")), F.col("label"))).alias(
                "new_label"
            )
        )
        .select(F.col("dst").alias("id"), "new_label")
    )
    return cur.join(winners.hint("shuffle_hash"), "id", "left").select(
        "id",
        F.coalesce("new_label", "label").alias("label"),
        F.col("label").alias("_label"),
    )


def _report(first: int, rows: list[dict], wall: float, _stopped: bool) -> list[dict]:
    return [
        {
            "iteration": r["iteration"],
            "changed": r["changed"],
            "wall_s": wall / len(rows),
            "block_wall_s": wall,
            "rounds_in_block": len(rows),
        }
        for r in rows
    ]


def label_propagation(
    graph: Graph,
    max_iter: int = 20,
    ckpt: CheckpointManager | None = None,
) -> LabelPropResult:
    """With a CheckpointManager the labels are saved every round."""
    fp = fixpoint(
        graph.edges,
        m=graph.m,
        n=graph.n,
        init=lambda: graph.vertices.select("id", F.col("id").alias("label")),
        step=_step,
        scalars=[
            F.coalesce(
                F.sum((F.col("label") != F.col("_label")).cast("long")), F.lit(0)
            ).alias("changed")
        ],
        stop=lambda r: r.get("changed") == 0,
        chain=LABEL_CHAIN,
        max_iter=max_iter,
        report=_report,
        ckpt=ckpt,
    )
    return LabelPropResult(
        df=fp.state,
        iterations=fp.iterations,
        wall_seconds=fp.wall_seconds,
        metrics=fp.metrics,
    )
