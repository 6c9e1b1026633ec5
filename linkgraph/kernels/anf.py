"""Approximate neighborhood function — ANF (Palmer, Gibbons & Faloutsos
KDD'02) with Flajolet-Martin sketches, the precursor of HyperANF
(Boldi, Rosa & Vigna WWW'11; GBBS ships the same family). Estimates
N(d) = Σ_v |ball_out(v, d)| for every d without per-source BFS — THE
way to get reach curves and effective diameter on a 100 TB graph where
all-pairs traversal is impossible and even sampled msbfs only lower-
bounds the tail. The reference engine at /root/reference/src has no
ANF; like kcore/mis/coloring this extends its algorithm family.

Sketch: per vertex, K independent FM registers, each an int64 bitmask.
Register k is seeded with the single bit  h_k(v) & -h_k(v)  (the
lowest set bit of a deterministic multiplicative hash — position ρ has
the FM geometric law P(ρ=i) = 2^-(i-1)). One round of
    M_k(v) ← M_k(v) | bit_or over out-neighbors' M_k
makes M_k(v) the FM sketch of ball(v, d) after d rounds. Everything is
int64 bit algebra — bit_or, bit_count, &, |, ~ — identical in Spark
and ANSI SQL, so the DuckDB oracle reproduces the sketches EXACTLY
(no float tolerance anywhere in the driver comparison).

Estimator: R_k(v) = position of the lowest UNSET bit of M_k(v),
computed integer-only as bit_count((~M & (M+1)) - 1); the classic FM
estimate is |ball| ≈ 2^mean_k(R_k) / 0.77351. The kernel reports the
per-round float estimates in `nf` (user-facing); the driver query
compares the integer Σ_k R_k per vertex instead, keeping the
correctness gate float-free.

Scale shape: one round = one edge_map (join edges × sketch state,
groupBy dst with K bit_or partial aggregations — map-side combined,
skew-safe) + one n-row state merge; state is n × (K+1) int64 columns.
Convergence rides an Observation on the state-merge job:
Σ bit_count(M) is monotone non-decreasing and stalls exactly at the
sketch fixpoint, so no extra count job and rounds past the fixpoint
are no-ops (the driver query exploits that with a fixed unroll).
Hashes are exact for id < 2^31 (same bound as kernels/mis.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from linkgraph.build import Graph
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.frontier import edge_map

#: deterministic multiplicative hash family: h_k(v) = (v*A_k + B_k)
#: masked to 62 bits with bit 61 forced set (ρ ≤ 61, never zero).
ANF_A = [
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
    3779747731,
    1300027183,
    2043430169,
]
ANF_B = [17, 31, 47, 61, 79, 101, 131, 151]
ANF_MASK = (1 << 62) - 1
ANF_GUARD = 1 << 61
FM_PHI = 0.77351


def _seed_bit(col, k: int):
    """Lowest set bit of h_k(id) — the FM seed register."""
    h = (
        (col * F.lit(ANF_A[k]) + F.lit(ANF_B[k]))
        .bitwiseAND(F.lit(ANF_MASK))
        .bitwiseOR(F.lit(ANF_GUARD))
    )
    return h.bitwiseAND(-h)


def _r_col(m):
    """FM statistic R = index of lowest unset bit, integer-only:
    z = ~M & (M+1) is a power of two; bit_count(z-1) is its position."""
    z = F.bitwise_not(m).bitwiseAND(m + F.lit(1))
    return F.bit_count(z - F.lit(1))


@dataclass
class ANFResult:
    df: DataFrame  # (id long, m0..m{K-1} long): final FM sketches
    nf: list[float]  # nf[d] ≈ Σ_v |ball(v, d)| for d = 0..iterations
    iterations: int
    wall_seconds: float
    metrics: list[dict] = field(default_factory=list)


def anf(
    graph: Graph,
    registers: int = 8,
    max_iter: int = 64,
    reverse: bool = False,
    ckpt: CheckpointManager | None = None,
) -> ANFResult:
    """FM-sketch neighborhood function over out-edges (in-edges with
    reverse=True). Stops at the sketch fixpoint or max_iter. With a
    CheckpointManager, each round's sketch state is durable and the
    run resumes from the last complete round (the nf history rides
    the checkpoint record, so resumed curves stay complete)."""
    if not 1 <= registers <= len(ANF_A):
        raise ValueError(f"registers must be in 1..{len(ANF_A)}")
    t0 = time.time()
    ks = range(registers)
    mcols = [f"m{k}" for k in ks]
    r_sum = sum(_r_col(F.col(c)) for c in mcols)
    est = F.pow(F.lit(2.0), r_sum / F.lit(float(registers))) / F.lit(FM_PHI)
    state = None
    start = 1
    iterations = 0
    nf: list[float] = []
    metrics: list[dict] = []
    last_bits = 0
    if ckpt is not None:
        last = ckpt.last_complete()
        if last is not None:
            loaded, _, rec = ckpt.load(graph.edges.sparkSession, last)
            state = sever(loaded)
            nf = [float(x) for x in rec.get("nf_history", [])]
            last_bits = int(rec.get("bits") or 0)
            iterations = last
            metrics.append(rec)
            if rec.get("converged"):
                return ANFResult(state, nf, last, 0.0, metrics)
            start = last + 1
    if state is None:
        state = graph.vertices.select(
            "id", *[_seed_bit(F.col("id"), k).alias(f"m{k}") for k in ks]
        )
        obs0 = Observation("anf_round_0")
        state = sever(
            state.observe(
                obs0,
                F.sum(est).alias("nf"),
                sum(F.sum(F.bit_count(F.col(c))) for c in mcols).alias("bits"),
            )
        )
        nf = [float(obs0.get["nf"] or 0.0)]
        last_bits = int(obs0.get["bits"] or 0)
        metrics = [{"iteration": 0, "bits": last_bits, "nf": nf[0]}]
    try:
        for rnd in range(start, max_iter + 1):
            rt0 = time.time()
            # out-ball growth is M(u) |= OR over u's OUT-neighbors, i.e. a
            # combine keyed by the edge's SOURCE — expressed as an edge_map
            # over the transpose (reverse walk), whose `dst` is our source
            gathered = edge_map(
                graph,
                state,
                aggs=[F.expr(f"bit_or(m{k})").alias(f"g{k}") for k in ks],
                reverse=not reverse,
                dense=True,  # every vertex is always active: skip the volume job
                volume=graph.m,
            )
            obs = Observation(f"anf_round_{rnd}")
            nxt = sever(
                state.join(gathered.withColumnRenamed("dst", "id"), "id", "left")
                .select(
                    "id",
                    *[
                        F.col(f"m{k}")
                        .bitwiseOR(F.coalesce(F.col(f"g{k}"), F.lit(0)))
                        .alias(f"m{k}")
                        for k in ks
                    ],
                )
                .observe(
                    obs,
                    F.sum(est).alias("nf"),
                    sum(F.sum(F.bit_count(F.col(c))) for c in mcols).alias("bits"),
                )
            )
            bits = int(obs.get["bits"] or 0)
            nf.append(float(obs.get["nf"] or 0.0))
            converged = bits == last_bits  # monotone Σ bit_count stalls ⇔ fixpoint
            rec = {
                "iteration": rnd,
                "bits": bits,
                "nf": nf[-1],
                "nf_history": nf,
                "converged": converged,
                "wall_s": time.time() - rt0,
            }
            metrics.append(rec)
            release(state)
            state = nxt
            iterations = rnd
            if ckpt is not None:
                ckpt.save(rnd, state, metrics=rec)
            if converged:
                break
            last_bits = bits
    except BaseException:
        release(state)
        raise
    return ANFResult(
        df=state,
        nf=nf,
        iterations=iterations,
        wall_seconds=time.time() - t0,
        metrics=metrics,
    )


def effective_diameter(result: ANFResult, q: float = 0.9) -> int:
    """Smallest d with N(d) ≥ q · N(∞) — the standard ANF rollup."""
    total = result.nf[-1]
    for d, v in enumerate(result.nf):
        if v >= q * total:
            return d
    return len(result.nf) - 1
