"""k-truss decomposition: the maximal subgraph in which every edge is
supported by at least k−2 triangles (Cohen 2008, "Trusses: cohesive
subgraphs for social network analysis"; the edge-strength analogue of
k-core). On web graphs the truss isolates tightly-interlinked cores —
link farms, navigational templates, genuine communities — more
sharply than k-core because support counts mutual reinforcement, not
raw degree. The reference engine at /root/reference/src has no truss
app; this extends its algorithm family on the same edge table.

Algorithm (peeling, Matula-Beck style at edge granularity): per round
  1. per-edge support of the CURRENT subgraph from
     kernels/triangles.py `edge_support`: one pass of the triangle
     family's one enumerator (degree-ordered orientation, per-vertex
     wedge work bounded ~sqrt(m) at hubs, each triangle materialized
     exactly once), each triangle crediting its three canonical u<w
     edges — explode + partial+final groupBy = the support table;
  2. drop edges with support < k−2 (left join + coalesce 0 so
     triangle-free edges drop too): the scored edges are materialized
     with the edge and removal counts riding the job, and the
     linkgraph/loop.py ``peel`` driver cuts the removed edges out of
     the residual edge list by an anti-join — the residual is never a
     view over the scored frame (see ``trussness``).
Fixpoint: a round that removes nothing; its freshly-computed support
is exactly the in-truss support, so the result (u, w, support) is
that round's scored frame. Rounds are bounded by the peel depth
(≤ max initial support / (k−2) in the worst case; single digits on
real graphs — 8 on the sf0.01 co-part graph at k=10).

Scale notes: loop state is the canonical edge list (u < w, one row
per undirected edge); each round is joins + aggregates with the
orientation bounding the wedge blowup, and the support explode is 3
rows per triangle. No Python in the hot path, no driver-side loops
over data.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.checkpoint import CheckpointManager
from linkgraph.kernels.coreness import bucket_peel
from linkgraph.kernels.triangles import edge_support
from linkgraph.loop import Cut, PeelRound, peel


@dataclass
class TrussResult:
    df: DataFrame  # (u long, w long, support long): k-truss edges
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def _canonical(graph: Graph) -> DataFrame:
    """Each undirected edge once, as (u, w) with u < w."""
    sym = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))
    return sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )


def _scored(cur: DataFrame, n: int, m: int) -> DataFrame:
    """(u, w, support): each residual edge's triangle support in the
    residual graph, 0 for triangle-free edges."""
    sup = edge_support(cur.select(F.col("u").alias("src"), F.col("w").alias("dst")), n, m)
    return cur.join(sup, ["u", "w"], "left").select(
        "u", "w", F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support")
    )


def _ktruss_round(r: PeelRound, graph: Graph, k: int, max_iter: int) -> Cut:
    weak = F.col("support") < k - 2
    scored, s = r.observe(
        _scored(r.res[0], graph.n, graph.m),
        F.count(F.lit(1)).alias("n"),
        F.count_if(weak).alias("removed"),
    )
    removed = int(s["removed"] or 0)
    kept = int(s["n"] or 0) - removed
    done = removed == 0 or kept == 0
    # the answer is the last round's kept edges with their support
    last = done or r.iteration == max_iter
    delta = scored.where(weak).select("u", "w")
    return Cut(delta, removed, {"kept": kept}, done=done, part=scored if last else None)


def ktruss(graph: Graph, k: int, max_iter: int = 10_000) -> TrussResult:
    if max_iter < 1:
        raise ValueError("ktruss needs max_iter >= 1")
    res = peel(
        [_canonical(graph)],
        [["u w"]],
        lambda r: _ktruss_round(r, graph, k, max_iter),
        max_iter=max_iter,
        schema="u long, w long, support long",
        finish=lambda scored, _res, _conv: scored.where(F.col("support") >= k - 2),
    )
    return TrussResult(res.df, res.iterations, res.wall_seconds, res.metrics)


@dataclass
class TrussnessResult:
    df: DataFrame  # (u long, w long, truss long): per-edge truss number
    iterations: int
    max_truss: int  # truss degeneracy of the graph
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def trussness(
    graph: Graph,
    max_iter: int = 10_000,
    ckpt: CheckpointManager | None = None,
) -> TrussnessResult:
    """Full truss decomposition — per-edge truss numbers, the edge
    analog of coreness: truss(e) = the largest k such that e belongs
    to the k-truss (Cohen 2008; parallel peeling per Julienne's
    bucketed KTruss, Dhulipala/Blelloch/Shun SPAA'17). The fixed-k
    `ktruss` kernel answers "which edges are in the k-truss?"; this
    answers it for EVERY k at once.

    Level-synchronous bucket peeling, coreness.py's ``bucket_peel`` at
    edge granularity (score = support + 2). Per round:
      1. recompute residual triangle support (ONE degree-ordered
         triangle enumeration of the residual graph — triangles.py
         `edge_support`, the skew-killer orientation);
      2. advance the level: t = max(t, min support + 2) — exact, not
         heuristic: a residual graph whose edges all have support
         >= s is itself an (s+2)-truss, so the level jump cannot
         overshoot any edge's truss number;
      3. peel ALL edges with support <= t-2 in one batch at truss
         number exactly t (each survived complete peeling at level
         t-1, so it sits in the t-truss; its residual support bars it
         from the (t+1)-truss). Cascades stay at the same level
         (max() keeps t pinned while a cascade runs).
    until no edges remain. Peeling support <= t-2 after phase t-1
    completed leaves exactly the (t+1)-truss, mirroring coreness's
    deg <= l / (l+1)-core invariant.

    Consistency contract with the fixed-k kernel (pinned by pytest):
        ktruss(g, k).df edges == {e : trussness(g).truss(e) >= k}.

    Scale shape per round: the support recompute is the round's real
    cost (a triangle enumeration of the shrinking residual graph —
    inherent to truss peeling; the orientation bounds per-vertex wedge
    work); then one job each for the scored frame (min support and
    edge count ride it), the peeled delta, and the residual, which
    loses the delta by an anti-join and is severed. A residual that is
    a filter view over the scored frame made rounds compound: the
    severed frame keeps the estimated statistics of the join it came
    from, so the estimated size squared every round (1.8e10 bytes in
    round 1, over 4,300 digits by round 10 on R-MAT scale 8), and
    round walls went from 0.8 s to 28.8 s by round 21. The anti-join's
    estimate is its input's, so the residual's stays constant. No
    driver-side data beyond per-round scalars.

    With a CheckpointManager, each round persists its peeled DELTA
    (u, w, truss — O(peeled) rows); resume unions the deltas, cuts
    them out of the canonical edge list, and restores the level from
    the record. A converged record short-circuits without touching
    the edge table.

    Call with any graph; edges are symmetrized and canonicalized
    (u < w) internally, as for ktruss.
    """
    res = bucket_peel(
        [_canonical(graph)],
        [["u w"]],
        lambda res: _scored(res[0], graph.n, graph.m).select(
            "u", "w", (F.col("support") + 2).alias("score")
        ),
        ["u", "w"],
        "truss",
        2,
        max_iter,
        ckpt,
    )
    level = res.metrics[-1]["level"] if res.metrics else 2
    return TrussnessResult(res.df, res.iterations, level, res.wall_seconds, res.metrics)
