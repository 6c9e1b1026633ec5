"""Greedy graph coloring by iterated maximal-independent-set layering
(Luby's distributed Δ+1 coloring, SIAM J. Comput. 1986 §5): layer c is
the priority-greedy MIS of the still-uncolored residual, and every
layer-c vertex gets color c. The reference engine at
/root/reference/src has no coloring; like kcore/mis this extends its
algorithm family over the same edge table.

Why layering and not textbook Jones-Plassmann: JP removes only the
round's priority-minima, so its round count is the full priority-DAG
depth — measured 168 rounds on the sf0.01 driver graph (dense bipartite
residuals starve high-degree vertices). The MIS inner loop removes
roots AND their neighbors each round, collapsing the residual in
O(log n) rounds w.h.p. (Blelloch/Fineman/Shun SPAA'12), and the outer
loop runs once per color — measured 2 layers / 5 total rounds on the
same graph. Each vertex has a neighbor in every earlier layer
(maximality), so color(v) ≤ deg(v): the Δ+1 bound holds.

Determinism: the fixpoint equals the SEQUENTIAL procedure "repeat:
greedy MIS in ascending priority_key order (kernels/mis.py), assign it
the next color, delete it" — which is what the pytest and DuckDB
oracles replay.

Scale shape: two nested linkgraph/loop.py ``peel`` loops. The outer
one peels one color layer per round off the uncolored residual
(vertices and edges); its round is an inner peel of mis.py's rounds
(`independent_set`) over that residual, whose answer is the layer,
already tagged with its color. Per inner round the min-key gather is
an exchange-free groupBy on the src-bucket-preserving edge cache and
the counts ride the removed set's job; both loops cut their residuals
by anti-joins, broadcast while the removed set is under the driver's
row cap (a layer can be a large fraction of the graph).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.kernels.mis import independent_set
from linkgraph.loop import Cut, PeelRound, peel


@dataclass
class ColoringResult:
    df: DataFrame  # (id long, color int): a proper greedy coloring
    colors_used: int
    iterations: int  # total inner MIS rounds across all layers
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def coloring(
    graph: Graph,
    max_colors: int = 10_000,
    max_iter: int = 10_000,
) -> ColoringResult:
    """Call with a SYMMETRIZED graph (proper coloring is undirected)."""
    metrics: list[dict] = []

    def layer(r: PeelRound) -> Cut:
        color = r.iteration - 1
        unc, cur = r.res
        inner = independent_set(unc, cur, max_iter, F.lit(color).cast("int").alias("color"))
        metrics.extend({"layer": color, **m} for m in inner.metrics)
        size = sum(m["roots"] for m in inner.metrics)
        # an empty layer: every vertex is colored
        part = inner.df if size else None
        return Cut(inner.df, size, {"colored": size}, done=size == 0, part=part)

    res = peel(
        [graph.vertices.select("id"), graph.edges],
        [["id"], ["src", "dst"]],
        layer,
        keys=lambda d: d.select("id"),
        max_iter=max_colors,
        schema="id long, color int",
    )
    colors = sum(1 for m in res.metrics if m["colored"])
    return ColoringResult(res.df, colors, len(metrics), res.wall_seconds, metrics)
