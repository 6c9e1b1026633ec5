"""The benchmark's workloads: inputs from a seed, one op, an oracle.

Every op runs in a closed loop (one client, the next op starts when
the previous one has finished). ``op`` returns the outputs to check and
a ``finish`` step (unpersisting the op's graph) that is timed as part
of the op; the check itself runs between the two, outside the timing.

PageRank runs a fixed number of rounds (``tol=0``) so that an op does
the same work on every seed: with ``tol=1e-6`` the round count depends
on the seed (20,000 pages: 77 rounds at seed 42, 24 at seed 1; 2,000
pages: 16 to 35 over the seeds tried), and raw walls would not compare
across seeds. The tolerance-driven round count of each seed is still
computed by the oracle and reported as ``pagerank.rounds_to_tol``; cc
and labelprop stop at their own fixpoint (R-MAT scale 11: cc 4 or 5
rounds, labelprop 5 or 6), so their round counts are reported per seed too.
Compare seeds by ``*.s_per_round`` and ``*.jobs_per_round``, not by raw
walls.

The inputs are small (2,000 pages, about 4,900 edges; R-MAT scale 11,
about 1,550 vertices and 14,000 edges) because a call's cost here is
mostly per-job driver latency, which does not shrink with the data:
one web_crawl op takes about 7.7 s and one rmat_kernels op about 15 s
on 4 cores (medians of ten seeds).
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass

import numpy as np
from pyspark.sql import functions as F

from linkgraph.build import build_graph_from_edges, build_graph_from_pages
from linkgraph.datagen import PagesSpec, expected_edges, generate_pages, rmat_edges
from linkgraph.kernels import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_count,
)
from perfbench.calls import CallLog, TimedCheckpointManager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WEB_PAGES = 2_000
WEB_PR_ROUNDS = 16
RMAT_SCALE = 11
RMAT_EDGE_FACTOR = 8
RMAT_PR_ROUNDS = 10
LP_MAX_ITER = 20
LP_CKPT_ITER = 3
RANK_RTOL = 1e-6


def _test_oracles():
    """tests/oracles.py, the engine's NumPy/union-find reference
    implementations, loaded by path (tests/ is not a package)."""
    path = os.path.join(ROOT, "tests", "oracles.py")
    spec = importlib.util.spec_from_file_location("linkgraph_test_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Ctx:
    spark: object
    calls: CallLog
    op_dir: str  # scratch directory of the current op, deleted after it


def _compact(src: np.ndarray, dst: np.ndarray):
    """Vertex ids as they appear in the edges -> dense 0..n-1, order
    preserved (so min-id labels map back one to one)."""
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def _by_id(df, col: str) -> dict:
    pdf = df.toPandas()
    return dict(zip(pdf["id"].tolist(), pdf[col].tolist()))


def _same(name: str, got: dict, want: dict, rtol: float | None = None) -> list[str]:
    if got.keys() != want.keys():
        return [f"{name}: {len(got)} ids, expected {len(want)}"]
    keys = sorted(want)
    g = np.array([got[k] for k in keys])
    w = np.array([want[k] for k in keys])
    ok = np.allclose(g, w, rtol=rtol, atol=0.0) if rtol is not None else np.array_equal(g, w)
    return [] if ok else [f"{name}: values differ from the oracle"]


def _run_pagerank(ctx: Ctx, op: str, name: str, g, rounds: int, **kw):
    with ctx.calls.call(op, name, g) as rec:
        pr = pagerank(g, tol=0.0, max_iter=rounds, **kw)
        pr.df.count()
    rec.update(rounds=pr.iterations, chains=len(pr.metrics), edges=pr.edges_processed)
    return pr


class Workload:
    name = ""
    why = ""

    def setup(self, spark, seed: int) -> dict:
        raise NotImplementedError

    def release(self, inputs: dict) -> None:
        """Drop what one setup cached (setup is repeated to time it)."""

    def oracle(self, inputs: dict) -> dict:
        raise NotImplementedError

    def op(self, ctx: Ctx, inputs: dict, op: str):
        raise NotImplementedError

    def check(self, out: dict, want: dict) -> list[str]:
        raise NotImplementedError


class WebCrawl(Workload):
    name = "web_crawl"
    why = (
        "pages -> Arrow extraction UDF -> dense ids -> build -> pagerank: the north-rule "
        "pipeline, cheap rounds bound by jobs per round; 16 fixed rounds (to tol: 16-35 by seed)"
    )

    def setup(self, spark, seed):
        pdf = generate_pages(PagesSpec(n_pages=WEB_PAGES, seed=seed))
        pages = spark.createDataFrame(pdf).persist()
        pages.count()
        return {"pdf": pdf, "pages": pages}

    def release(self, inputs):
        inputs["pages"].unpersist()

    def oracle(self, inputs):
        o = _test_oracles()
        edges = expected_edges(inputs["pdf"])
        urls = sorted(set(inputs["pdf"]["url"]) | {d for _, d in edges})
        index = {u: i for i, u in enumerate(urls)}
        src = np.array([index[s] for s, _ in edges], dtype=np.int64)
        dst = np.array([index[d] for _, d in edges], dtype=np.int64)
        ranks, _ = o.pagerank_numpy(len(urls), src, dst, tol=0.0, max_iter=WEB_PR_ROUNDS)
        _, to_tol = o.pagerank_numpy(len(urls), src, dst)
        return {
            "edges": edges,
            "ranks": dict(zip(urls, ranks.tolist())),
            "rounds_to_tol": to_tol,
        }

    def op(self, ctx, inputs, op):
        with ctx.calls.call(op, "build") as rec:
            phases: dict = {}
            g = build_graph_from_pages(inputs["pages"], phase_walls=phases)
        rec.update(phases=phases, extract_edges=g.m)
        pr = _run_pagerank(ctx, op, "pagerank", g, WEB_PR_ROUNDS)
        return {"graph": g, "pagerank": pr}, g.unpersist

    def check(self, out, want):
        g = out["graph"]
        url = g.vertices.select("id", "url")
        pairs = (
            g.edges.join(url.withColumnRenamed("id", "src").withColumnRenamed("url", "s"), "src")
            .join(url.withColumnRenamed("id", "dst").withColumnRenamed("url", "d"), "dst")
            .select("s", "d")
            .collect()
        )
        problems = [] if {(r.s, r.d) for r in pairs} == want["edges"] else [
            "web_crawl: edge set differs from datagen.expected_edges"
        ]
        ranks = out["pagerank"].df.join(url, "id").select(F.col("url").alias("id"), "rank")
        return problems + _same("pagerank", _by_id(ranks, "rank"), want["ranks"], RANK_RTOL)


class RmatKernels(Workload):
    name = "rmat_kernels"
    why = (
        "pagerank, cc, checkpointed labelprop resumed, pagerank again, triangle_count on one "
        "R-MAT Graph: few heavy rounds; a kernel that damages caller state slows the next call"
    )

    def setup(self, spark, seed):
        pdf = rmat_edges(scale=RMAT_SCALE, edge_factor=RMAT_EDGE_FACTOR, seed=seed)
        return {"pdf": pdf, "edges": spark.createDataFrame(pdf)}

    def oracle(self, inputs):
        """On the same pandas edges the engine receives, with vertex ids
        compacted for the NumPy oracles and mapped back."""
        o = _test_oracles()
        ids, src, dst = _compact(inputs["pdf"]["src"].to_numpy(), inputs["pdf"]["dst"].to_numpy())
        ranks, _ = o.pagerank_numpy(len(ids), src, dst, tol=0.0, max_iter=RMAT_PR_ROUNDS)
        _, to_tol = o.pagerank_numpy(len(ids), src, dst)

        def labels(lab):
            return dict(zip(ids.tolist(), ids[lab].tolist()))

        return {
            "ranks": dict(zip(ids.tolist(), ranks.tolist())),
            "rounds_to_tol": to_tol,
            "cc": labels(o.cc_numpy(len(ids), src, dst)),
            "labelprop": labels(o.labelprop_numpy(len(ids), src, dst, LP_CKPT_ITER)),
            "resume": labels(o.labelprop_numpy(len(ids), src, dst, LP_MAX_ITER)),
            "triangles": o.triangle_count_numpy(len(ids), src, dst),
        }
    def op(self, ctx, inputs, op):
        with ctx.calls.call(op, "build"):
            g = build_graph_from_edges(inputs["edges"])
        pr = _run_pagerank(ctx, op, "pagerank", g, RMAT_PR_ROUNDS)
        with ctx.calls.call(op, "cc", g) as rec:
            cc = connected_components(g)
            cc.df.count()
        rec["rounds"] = cc.iterations
        # labelprop stops after LP_CKPT_ITER rounds with a durable
        # checkpoint per round, then a second call resumes from it and
        # runs to the fixpoint: its labels equal one uninterrupted run
        ckpt = TimedCheckpointManager(root=ctx.op_dir, job="labelprop", calls=ctx.calls)
        with ctx.calls.call(op, "labelprop", g) as rec:
            lp = label_propagation(g, max_iter=LP_CKPT_ITER, ckpt=ckpt)
            lp.df.count()
        rec["rounds"] = lp.iterations
        with ctx.calls.call(op, "resume", g) as rec:
            resumed = label_propagation(g, max_iter=LP_MAX_ITER, ckpt=ckpt)
            resumed.df.count()
        rec["rounds"] = resumed.iterations
        pr2 = _run_pagerank(ctx, op, "pagerank_repeat", g, RMAT_PR_ROUNDS)
        # the one call without rounds or a loop driver: compute and
        # shuffle bound wedge enumeration
        with ctx.calls.call(op, "triangles", g) as rec:
            tc = triangle_count(g)
        rec["count"] = tc.count
        out = {
            "pagerank": pr,
            "cc": cc,
            "labelprop": lp,
            "resume": resumed,
            "pagerank_repeat": pr2,
            "triangles": tc.count,
        }
        return out, g.unpersist

    def check(self, out, want):
        problems = []
        for name in ("pagerank", "pagerank_repeat"):
            problems += _same(name, _by_id(out[name].df, "rank"), want["ranks"], RANK_RTOL)
        problems += _same("cc", _by_id(out["cc"].df, "comp"), want["cc"])
        for name in ("labelprop", "resume"):
            problems += _same(name, _by_id(out[name].df, "label"), want[name])
        if out["triangles"] != want["triangles"]:
            problems.append(f"triangles: {out['triangles']} != oracle {want['triangles']}")
        return problems


WORKLOADS = {w.name: w for w in (WebCrawl(), RmatKernels())}
