"""The loop drivers (linkgraph/loop.py: fixpoint and peel;
linkgraph/frontier.py: traverse) and the kernels still on hand-written
loops leave their caller's state alone: edge cache, persistent RDDs,
temp views and session conf, on the normal path and when the loop
raises."""

from __future__ import annotations

import importlib
import threading

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph import loop
from linkgraph.build import build_graph_from_edges, symmetrize
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.datagen import rmat_edges
from linkgraph.kernels import (
    anf,
    betweenness,
    bfs,
    bowtie,
    coloring,
    condensation,
    connected_components,
    coreness,
    densest_subgraph,
    ego_net,
    eigenvector_centrality,
    hits,
    katz,
    kcore,
    ktruss,
    label_propagation,
    landmark_distances,
    maximal_matching,
    mis,
    msbfs,
    pagerank,
    pagerank_delta,
    pagerank_weighted,
    ppr,
    salsa,
    scc,
    sssp,
    trussness,
)
from linkgraph.session import conf_override


def _rmat_graph(spark, num_partitions: int):
    pdf = rmat_edges(scale=6, edge_factor=6)
    return build_graph_from_edges(
        spark.createDataFrame(pdf, "src long, dst long"),
        n=64,
        num_partitions=num_partitions,
    )


def _drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _result_rdd(df: DataFrame) -> int:
    """The id of the checkpointed RDD under a kernel's result."""
    return int(df._jdf.queryExecution().analyzed().collectLeaves().head().rdd().id())


@pytest.mark.parametrize("num_partitions", [1, 4])
def test_pagerank_keeps_caller_edge_cache(spark, num_partitions):
    """At 1 partition the cache is at the data-sized loop width (1), so
    the loop runs on graph.edges itself; at 4 the loop re-caches.
    Either way the caller's cache survives two calls, and the repeat
    call runs no more jobs than the first (an evicted cache recomputes
    the edge lineage every round)."""
    g = _rmat_graph(spark, num_partitions)
    tracker = spark.sparkContext.statusTracker()
    jobs = []
    for _ in range(2):
        _drain(spark)
        before = set(tracker.getJobIdsForGroup())
        pagerank(g, tol=0.0, max_iter=4).df.count()
        _drain(spark)
        jobs.append(len(set(tracker.getJobIdsForGroup()) - before))
        assert g.edges.is_cached
        assert g.edges.storageLevel != StorageLevel.NONE
    assert jobs[0] == jobs[1], jobs
    g.unpersist()


def _weights(g):
    return g.edges.withColumn("w", F.lit(1))


# with a checkpoint every call saves every round and runs >= 2 rounds
# on this graph (scc: every outer round, and it runs one)
KERNELS = {
    "pagerank": lambda g, ck: pagerank(g, tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1),
    "connected_components": lambda g, ck: connected_components(g, ckpt=ck),
    "label_propagation": lambda g, ck: label_propagation(g, max_iter=4, ckpt=ck),
    "katz": lambda g, ck: katz(g, tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1),
    "ppr": lambda g, ck: ppr(g, [0, 1], tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1),
    "eigenvector_centrality": lambda g, ck: eigenvector_centrality(
        g, tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1
    ),
    "hits": lambda g, ck: hits(g, tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1),
    "salsa": lambda g, ck: salsa(g, tol=0.0, max_iter=4, ckpt=ck, ckpt_every=1),
    "scc": lambda g, ck: scc(g, ckpt=ck),
    # no checkpoint parameter: their failure is a round's checkpoint raising
    "pagerank_weighted": lambda g, ck: pagerank_weighted(g, _weights(g), tol=0.0, max_iter=4),
    "bowtie": lambda g, ck: bowtie(g),
    "condensation": lambda g, ck: condensation(g),
}
NO_CKPT = {"pagerank_weighted", "bowtie", "condensation"}


class _SecondSaveFails(CheckpointManager):
    saves = 0

    def save(self, *args, **kwargs):
        self.saves += 1
        if self.saves == 2:
            raise RuntimeError("injected checkpoint failure")
        super().save(*args, **kwargs)


class _FirstSaveFails(_SecondSaveFails):
    # scc saves once per outer round, and this graph peels in one
    saves = 1


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_loop_leaves_caller_state(spark, tmp_path, monkeypatch, kernel):
    """Normal path: the only new persistent RDDs are the returned
    result's (condensation's two frames), no temp view is left, the
    conf is unchanged. Exception path: no new persistent RDD is left
    and the conf is back to its value before the call."""
    run = KERNELS[kernel]
    g = _rmat_graph(spark, 4)
    rdds0, views0, conf0 = _persistent_rdds(spark), _temp_views(spark), dict(spark.conf.getAll)
    calls = {"n": 0, "fail": None}
    cls = type(g.edges)
    checkpoint = cls.localCheckpoint

    def counted(self, eager=True, storageLevel=None):
        calls["n"] += 1
        if calls["n"] == calls["fail"]:
            raise RuntimeError("injected round failure")
        return checkpoint(self, eager, storageLevel)

    monkeypatch.setattr(cls, "localCheckpoint", counted)

    res = run(g, None)
    res.df.count()
    want = {_result_rdd(res.df)}
    if kernel == "condensation":
        want.add(_result_rdd(res.edges))
    assert _persistent_rdds(spark) - rdds0 == want
    assert _temp_views(spark) == views0
    assert dict(spark.conf.getAll) == conf0
    assert g.edges.storageLevel != StorageLevel.NONE
    del res

    rdds1 = _persistent_rdds(spark)
    if kernel in NO_CKPT:
        # pagerank_weighted's third checkpoint is in its loop; bowtie's
        # and condensation's last but one is a round of their own last
        # loop, after scc's
        calls.update(n=0, fail=3 if kernel == "pagerank_weighted" else calls["n"] - 1)
        ckpt = None
    else:
        ckpt = (_FirstSaveFails if kernel == "scc" else _SecondSaveFails)(
            str(tmp_path), kernel
        )
    with pytest.raises(RuntimeError, match="injected"):
        run(g, ckpt)
    monkeypatch.undo()
    # set differences: the ContextCleaner may drop unrelated RDDs meanwhile
    assert _persistent_rdds(spark) - rdds1 == set()
    assert dict(spark.conf.getAll) == conf0
    assert _temp_views(spark) == views0
    g.unpersist()


def test_release_sees_through_a_projection(spark):
    """A loop's scratch-free state is a Project over the checkpoint's
    LogicalRDD (and an alias adds a SubqueryAlias): release frees the
    RDD under either, and leaves any other plan shape alone."""
    for narrow in (
        lambda df: df.drop("x"),
        lambda df: df.alias("a").select("id"),
    ):
        df = sever(spark.range(8).withColumn("x", F.col("id") * 2))
        rdd = _result_rdd(df)
        release(df.where("id > 2"))
        assert rdd in _persistent_rdds(spark)
        release(narrow(df))
        assert rdd not in _persistent_rdds(spark)


def _sym_graph(spark, scale: int, edge_factor: int):
    pdf = rmat_edges(scale=scale, edge_factor=edge_factor)
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    return build_graph_from_edges(sym, num_partitions=4)


# each peel kernel, and the module function its rounds call once each
PEEL_KERNELS = {
    "kcore": (lambda g: kcore(g, 4), "kcore", "_round"),
    "coreness": (coreness, "coreness", "_round"),
    "ktruss": (lambda g: ktruss(g, 4), "truss", "_scored"),
    "trussness": (trussness, "truss", "_scored"),
    "densest_subgraph": (densest_subgraph, "densest", "_round"),
    "mis": (mis, "mis", "_round"),
    "coloring": (coloring, "mis", "_round"),
    "maximal_matching": (maximal_matching, "matching", "_round"),
}


@pytest.mark.parametrize("kernel", sorted(PEEL_KERNELS))
def test_peel_leaves_only_its_answer(spark, monkeypatch, kernel):
    """After a peel kernel the persistent RDDs are the ones before it
    plus the returned frame's; when its second round raises, the ones
    before it. The caller's edge and vertex caches stay."""
    run, module, helper = PEEL_KERNELS[kernel]
    g = _sym_graph(spark, 6, 6)
    rdds0 = _persistent_rdds(spark)
    res = run(g)
    assert res.iterations >= 2  # the failure below lands in a round
    res.df.count()
    assert _persistent_rdds(spark) - rdds0 == {_result_rdd(res.df)}
    del res

    rdds1 = _persistent_rdds(spark)
    mod = importlib.import_module(f"linkgraph.kernels.{module}")
    real = getattr(mod, helper)
    calls = {"n": 0}

    def fails_second(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("injected round failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, helper, fails_second)
    with pytest.raises(RuntimeError, match="injected"):
        run(g)
    monkeypatch.undo()
    # set differences: the ContextCleaner may drop unrelated RDDs meanwhile
    assert _persistent_rdds(spark) - rdds1 == set()
    for df in (g.edges, g.vertices):
        assert df.storageLevel != StorageLevel.NONE
    g.unpersist()


def _estimate(df: DataFrame) -> int:
    """The optimizer's estimated sizeInBytes of a frame."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_trussness_residual_keeps_its_input_estimate(spark, monkeypatch):
    """R-MAT scale 8, symmetrized (211 vertices, 2,062 edges): trussness
    peels to convergence and equals the sequential peeling. Every
    round's residual is an anti-join of the last one, so its estimated
    size stays that of the input edge table; a residual severed from a
    view over the scored join squared its estimate every round, and
    round walls grew from 0.8 s to 28.8 s by round 21."""
    from tests.oracles import trussness_py

    g = _sym_graph(spark, 8, 6)
    assert (g.n, g.m) == (211, 2062)
    settled = []
    settle = loop._settle

    def spy(residuals, held, count=False):
        out, rows = settle(residuals, held, count)
        settled.append(_estimate(out[0]))
        return out, rows

    monkeypatch.setattr(loop, "_settle", spy)
    res = trussness(g)
    monkeypatch.undo()
    assert res.metrics[-1]["converged"]
    assert len(settled) == res.iterations  # the input, then every cut but the last
    assert max(settled[1:]) <= settled[0], settled

    got = {(r["u"], r["w"]): r["truss"] for r in res.df.collect()}
    sym = g.edges.toPandas()
    assert got == trussness_py(sym["src"].to_numpy(), sym["dst"].to_numpy())
    walls = [m["wall_s"] for m in res.metrics]
    head = sum(walls[:5]) / 5
    tail = sum(walls[-3:]) / 3
    # the rule of tests/test_plans.py::test_sever_loop_stays_flat
    assert tail < 8 * head + 0.5, (head, tail, walls)
    g.unpersist()


# each kernel on a hand-written or traverse loop, the frames it returns,
# and the module attribute whose second call lands in its second level
# or round (sssp's fourth observe: seed, round 1's improved and state)
TRAVERSE_AND_HAND_KERNELS = {
    "bfs": (lambda g: [bfs(g, 0).df], "linkgraph.frontier", "edge_map", 2),
    "msbfs": (lambda g: [msbfs(g, [0, 1, 5]).df], "linkgraph.frontier", "edge_map", 2),
    "betweenness": (
        lambda g: [betweenness(g, [0, 1, 5]).df],
        "linkgraph.frontier",
        "edge_map",
        2,
    ),
    "ego_net": (
        lambda g: (lambda r: [r.vertices, r.edges])(ego_net(g, [0], radius=3)),
        "linkgraph.frontier",
        "edge_map",
        2,
    ),
    "sssp": (lambda g: [sssp(g, 0).df], "linkgraph.kernels.sssp", "observe", 4),
    "pagerank_delta": (
        lambda g: [pagerank_delta(g, max_iterations=6).df],
        "linkgraph.kernels.pagerank_delta",
        "_scatter",
        2,
    ),
    "anf": (lambda g: [anf(g, max_iter=6).df], "linkgraph.kernels.anf", "edge_map", 2),
}


@pytest.mark.parametrize("kernel", sorted(TRAVERSE_AND_HAND_KERNELS))
def test_traversal_leaves_only_its_answer(spark, monkeypatch, kernel):
    """After each call the new persistent RDDs are exactly the ones
    under its returned frames; when its second level or round raises,
    there are none. The caller's edge and vertex caches stay."""
    run, module, attr, fail_at = TRAVERSE_AND_HAND_KERNELS[kernel]
    g = _sym_graph(spark, 6, 6)
    rdds0 = _persistent_rdds(spark)
    frames = run(g)
    for df in frames:
        df.count()
    assert _persistent_rdds(spark) - rdds0 == {_result_rdd(df) for df in frames}
    del frames

    rdds1 = _persistent_rdds(spark)
    mod = importlib.import_module(module)
    real = getattr(mod, attr)
    calls = {"n": 0}

    def fails(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == fail_at:
            raise RuntimeError("injected round failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(mod, attr, fails)
    with pytest.raises(RuntimeError, match="injected"):
        run(g)
    monkeypatch.undo()
    # set differences: the ContextCleaner may drop unrelated RDDs meanwhile
    assert _persistent_rdds(spark) - rdds1 == set()
    for df in (g.edges, g.vertices):
        assert df.storageLevel != StorageLevel.NONE
    g.unpersist()


def test_anf_records_each_rounds_own_wall(spark):
    """Each anf record's wall_s is its round's, so they sum to at most
    the call's wall (a wall since the call started overcounts from the
    second round on)."""
    g = _sym_graph(spark, 6, 6)
    res = anf(g, max_iter=6)
    assert res.iterations >= 2
    assert sum(m.get("wall_s", 0.0) for m in res.metrics) <= res.wall_seconds
    g.unpersist()


AQE = "spark.sql.adaptive.enabled"


@pytest.mark.parametrize("first_out", ["a", "b"])
def test_conf_override_is_safe_on_driver_threads(spark, first_out):
    """Two same-valued overrides on two threads, entered A then B and
    exited in either order, leave the conf as it was before either
    entered; until the last one exits the override holds."""
    before = spark.conf.get(AQE, None)
    a_in, b_in, out = threading.Event(), threading.Event(), threading.Event()
    seen = []

    def a():
        with conf_override(spark, {AQE: "false"}):
            a_in.set()
            b_in.wait()
            if first_out == "b":
                out.wait()
                seen.append(spark.conf.get(AQE))
        if first_out == "a":
            out.set()

    def b():
        a_in.wait()
        with conf_override(spark, {AQE: "false"}):
            b_in.set()
            if first_out == "a":
                out.wait()
                seen.append(spark.conf.get(AQE))
        if first_out == "b":
            out.set()

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert seen == ["false"]
    assert spark.conf.get(AQE, None) == before

    # nesting on one thread: each exit restores the value it found
    with conf_override(spark, {AQE: "false"}):
        with conf_override(spark, {AQE: "true"}):
            assert spark.conf.get(AQE) == "true"
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(AQE, None) == before


def test_landmark_distances_leaves_session_conf(spark):
    """landmark_distances runs its two msbfs sweeps on two driver
    threads, each under the loop conf; the session conf is unchanged
    after it."""
    g = _sym_graph(spark, 6, 6)
    before = dict(spark.conf.getAll)
    landmark_distances(g, [0, 1, 5]).count()
    assert dict(spark.conf.getAll) == before
    g.unpersist()
