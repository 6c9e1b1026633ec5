"""The fixpoint loop driver (linkgraph/loop.py) leaves its caller's
state alone: edge cache, persistent RDDs, temp views and session conf,
on the normal path and when the loop raises."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.build import build_graph_from_edges
from linkgraph.checkpoint import CheckpointManager, release, sever
from linkgraph.datagen import rmat_edges
from linkgraph.kernels import (
    bowtie,
    condensation,
    connected_components,
    eigenvector_centrality,
    hits,
    katz,
    label_propagation,
    pagerank,
    pagerank_weighted,
    ppr,
    salsa,
    scc,
)


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
