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
     triangle-free edges drop too); the removal count rides an
     Observation on the severed next state — one job per round.
Fixpoint: a round that removes nothing; its freshly-computed support
is exactly the in-truss support, so the result (u, w, support) is
free. Rounds are bounded by the peel depth (≤ max initial support /
(k−2) in the worst case; single digits on real graphs — 8 on the
sf0.01 co-part graph at k=10).

Scale notes: loop state is the canonical edge list (u < w, one row
per undirected edge); each round is joins + aggregates with the
orientation bounding the wedge blowup, and the support explode is 3
rows per triangle. No Python in the hot path, no driver-side loops
over data.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.build import Graph, symmetrize
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.kernels.triangles import edge_support


@dataclass
class TrussResult:
    df: DataFrame  # (u long, w long, support long): k-truss edges
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def ktruss(graph: Graph, k: int, max_iter: int = 10_000) -> TrussResult:
    if max_iter < 1:
        raise ValueError("ktruss needs max_iter >= 1")
    t0 = time.time()
    sym0 = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))
    cur = sever(
        sym0.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("w")
        )
    )
    iterations = 0
    metrics: list[dict] = []
    while iterations < max_iter:
        iterations += 1
        sup = edge_support(
            cur.select(F.col("u").alias("src"), F.col("w").alias("dst")),
            graph.n,
            graph.m,
        )
        scored = cur.select("u", "w").join(sup, ["u", "w"], "left").select(
            "u",
            "w",
            F.coalesce(F.col("support"), F.lit(0).cast("long")).alias("support"),
        )
        obs = Observation(f"truss_round_{iterations}")
        nxt = sever(
            scored.where(F.col("support") >= k - 2).observe(
                obs, F.count(F.lit(1)).alias("kept")
            )
        )
        kept = int(obs.get["kept"] or 0)
        # cur's count is known from the previous round's `kept` (or the
        # initial materialization) — but reading it again costs a job;
        # infer removals from the monotone kept counts instead
        metrics.append(
            {"iteration": iterations, "kept": kept, "wall_s": time.time() - t0}
        )
        prev = cur
        if len(metrics) >= 2 and metrics[-2]["kept"] == kept:
            release(prev)
            cur = nxt
            break
        release(prev)
        cur = nxt
        if kept == 0:
            break
    out = cur.select("u", "w", "support") if iterations else cur
    return TrussResult(
        df=out,
        iterations=iterations,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )


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

    Level-synchronous bucket peeling, coreness.py's loop at edge
    granularity. Per round:
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
    work); the peel and the residual are both filter VIEWS over the
    persisted (u, w, support) frame, so beyond the support table each
    round adds one severed delta materialization and zero extra
    shuffles. min-support and edge counts ride the two Observations.
    No driver-side data beyond per-round scalars.

    With a CheckpointManager, each round persists its peeled DELTA
    (u, w, truss — O(peeled) rows); resume unions the deltas,
    re-derives the residual edge list by one anti-join against the
    assigned pairs, and restores the level from the record. A
    converged record short-circuits without touching the edge table.

    Call with any graph; edges are symmetrized and canonicalized
    (u < w) internally, as for ktruss.
    """
    t0 = time.time()
    spark = graph.edges.sparkSession
    sym0 = symmetrize(graph.edges).where(F.col("src") != F.col("dst"))
    cur = sever(
        sym0.where(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("w")
        )
    )
    assigned: list[DataFrame] = []
    old_state: list[DataFrame] = [cur]
    level = 2
    iterations = 0
    metrics: list[dict] = []
    start_rnd = 1
    if ckpt is not None:
        done = ckpt.complete_iters()
        if done:
            last = done[-1]
            parts = []
            rec_last: dict = {}
            for it_k in done:
                st, _, rec = ckpt.load(spark, it_k)
                parts.append(st.select("u", "w", "truss"))
                if it_k == last:
                    rec_last = rec
            prior = parts[0]
            for p in parts[1:]:
                prior = prior.union(p)
            prior = sever(prior)
            assigned.append(prior)
            iterations = last
            level = int(rec_last.get("level", 2))
            metrics.append(rec_last)
            if rec_last.get("converged"):
                start_rnd = max_iter + 1  # skip the loop entirely
            else:
                peeled = F.broadcast(prior.select("u", "w"))
                residual = sever(
                    cur.join(peeled, ["u", "w"], "left_anti").select("u", "w")
                )
                release(cur)
                old_state = [residual]
                cur = residual
                start_rnd = last + 1
    for rnd in range(start_rnd, max_iter + 1):
        sup = edge_support(
            cur.select(F.col("u").alias("src"), F.col("w").alias("dst")),
            graph.n,
            graph.m,
        )
        sobs = Observation(f"trussness_sup_{rnd}")
        scored = sever(
            cur.join(sup, ["u", "w"], "left")
            .select(
                "u",
                "w",
                F.coalesce(F.col("support"), F.lit(0).cast("long")).alias(
                    "support"
                ),
            )
            .observe(
                sobs,
                F.count(F.lit(1)).alias("n_remaining"),
                F.min("support").alias("min_sup"),
            )
        )
        n_remaining = int(sobs.get["n_remaining"] or 0)
        if n_remaining == 0:
            iterations = rnd
            metrics.append(
                {"iteration": rnd, "level": level, "peeled": 0,
                 "remaining": 0, "converged": True,
                 "wall_s": time.time() - t0}
            )
            if ckpt is not None:
                ckpt.save(
                    rnd,
                    scored.select(
                        "u", "w", F.lit(level).cast("long").alias("truss")
                    ),
                    metrics=metrics[-1],
                )
            release(scored)
            break
        level = max(level, int(sobs.get["min_sup"]) + 2)
        pobs = Observation(f"trussness_peel_{rnd}")
        delta = sever(
            scored.where(F.col("support") <= level - 2)
            .select("u", "w", F.lit(level).cast("long").alias("truss"))
            .observe(pobs, F.count(F.lit(1)).alias("peeled"))
        )
        n_peeled = int(pobs.get["peeled"] or 0)
        iterations = rnd
        rec = {
            "iteration": rnd,
            "level": level,
            "peeled": n_peeled,
            "remaining": n_remaining - n_peeled,
            "converged": n_remaining - n_peeled == 0,
            "wall_s": time.time() - t0,
        }
        if ckpt is not None:
            ckpt.save(rnd, delta, metrics=rec)
        metrics.append(rec)
        assigned.append(delta)
        # residual = filter VIEW over the persisted scored frame — one
        # lineage hop, no anti-join, no extra shuffle
        nxt = scored.where(F.col("support") > level - 2).select("u", "w")
        for d in old_state:
            release(d)
        old_state = [scored]
        cur = nxt
        if n_remaining - n_peeled == 0:
            break
    out = assigned[0] if assigned else spark.createDataFrame(
        [], "u long, w long, truss long"
    )
    for p in assigned[1:]:
        out = out.union(p)
    out = sever(out)
    for p in assigned:
        release(p)
    for d in old_state:
        release(d)
    return TrussnessResult(
        df=out,
        iterations=iterations,
        max_truss=level,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )
