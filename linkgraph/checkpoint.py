"""Per-iteration checkpoint/resume + metrics (SURVEY §2.6 row 4).

Every iterative kernel can persist `(iteration, state[, frontier])`
plus a `_metrics.json` sidecar (iteration wall time, frontier size,
edges processed, convergence scalar, per-partition row counts) under
``<root>/<job>/iter=<k>/``. A restarted run resumes at the maximum
complete iteration and produces output identical to an uninterrupted
run (pinned by tests/test_resume.py).

A `_SUCCESS`-gated layout makes partially-written iterations invisible
to resume: the state parquet's own _SUCCESS marker plus our
`_metrics.json` (written after the parquet commit) must both exist.

All sidecar/marker I/O goes through the Hadoop FileSystem API (py4j),
NOT driver-local open()/os.listdir — so the checkpoint root may be any
filesystem the parquet writer accepts (file://, hdfs://, s3a://) and
state + completion marker always live on the SAME filesystem.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def _fs_and_path(spark: SparkSession, path_str: str):
    """Resolve (FileSystem, Path) for a string path via the session's
    Hadoop configuration — the same resolution the parquet writer uses."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _fs_write_text(spark: SparkSession, path_str: str, text: str) -> None:
    fs, path = _fs_and_path(spark, path_str)
    out = fs.create(path, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path_str: str) -> str:
    jvm = spark._jvm
    fs, path = _fs_and_path(spark, path_str)
    stream = fs.open(path)
    try:
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def _fs_exists(spark: SparkSession, path_str: str) -> bool:
    fs, path = _fs_and_path(spark, path_str)
    return bool(fs.exists(path))


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "CheckpointManager needs an active SparkSession (filesystem "
            "access is resolved through the session's Hadoop config)"
        )
    return spark


@dataclass
class CheckpointManager:
    root: str
    job: str
    metrics: list[dict] = field(default_factory=list)

    def _iter_dir(self, iteration: int) -> str:
        return f"{self.root.rstrip('/')}/{self.job}/iter={iteration:05d}"

    lineage: dict | None = None  # input-snapshot provenance (set once per job)

    def save(
        self,
        iteration: int,
        state: DataFrame,
        frontier: DataFrame | None = None,
        metrics: dict | None = None,
        partition_counts: bool = False,
    ) -> None:
        """partition_counts defaults OFF: it runs one extra Spark job
        (a groupBy over the state) per save, which matters for kernels
        that save EVERY round (cc/labelprop/bfs). Sparse-saving callers
        (pagerank, ckpt_every=5) opt in for the richer sidecar."""
        d = self._iter_dir(iteration)
        spark = state.sparkSession
        state.write.mode("overwrite").parquet(f"{d}/state")
        if frontier is not None:
            frontier.write.mode("overwrite").parquet(f"{d}/frontier")
        extra: dict = {}
        if partition_counts:
            from pyspark.sql import functions as F

            extra["partition_rows"] = {
                str(r["pid"]): r["rows"]
                for r in state.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"))
                .collect()
            }
        if self.lineage:
            extra["lineage"] = self.lineage
        record = {"iteration": iteration, "ts": time.time(), **extra, **(metrics or {})}
        self.metrics.append(record)
        # metrics sidecar last => presence marks the iteration complete
        _fs_write_text(spark, f"{d}/_metrics.json", json.dumps(record))

    def complete_iters(self) -> list[int]:
        """Sorted list of fully-committed iterations (_SUCCESS-gated).
        Delta-layout kernels (BFS) reconstruct state by unioning all of
        these; full-state kernels only need the max."""
        spark = _active_spark()
        base = f"{self.root.rstrip('/')}/{self.job}"
        fs, base_path = _fs_and_path(spark, base)
        if not fs.exists(base_path):
            return []
        done = []
        for status in fs.listStatus(base_path):
            name = status.getPath().getName()
            if not name.startswith("iter="):
                continue
            d = f"{base}/{name}"
            if _fs_exists(spark, f"{d}/_metrics.json") and _fs_exists(
                spark, f"{d}/state/_SUCCESS"
            ):
                done.append(int(name.split("=")[1]))
        return sorted(done)

    def last_complete(self) -> int | None:
        done = self.complete_iters()
        return done[-1] if done else None

    def load(
        self, spark: SparkSession, iteration: int, with_frontier: bool = False
    ) -> tuple[DataFrame, DataFrame | None, dict]:
        d = self._iter_dir(iteration)
        state = spark.read.parquet(f"{d}/state")
        frontier = None
        if with_frontier and _fs_exists(spark, f"{d}/frontier"):
            frontier = spark.read.parquet(f"{d}/frontier")
        record = json.loads(_fs_read_text(spark, f"{d}/_metrics.json"))
        return state, frontier, record

    def load_deltas(self, spark: SparkSession) -> tuple[DataFrame, dict] | None:
        """Resume a delta layout (bfs, msbfs and the peel kernels): the
        union of every complete iteration's state, and the last one's
        record; None before the first. Delta rounds are numbered from
        1, and a gap would silently drop its delta, so it raises."""
        done = self.complete_iters()
        if not done:
            return None
        if done != list(range(1, done[-1] + 1)):
            raise RuntimeError(
                f"non-contiguous delta checkpoints {done} under {self.job}: "
                "cannot reconstruct the state"
            )
        union, record = None, {}
        for i in done:
            state, _, record = self.load(spark, i)
            union = state if union is None else union.union(state)
        return union, record

    def clear(self) -> None:
        spark = _active_spark()
        fs, path = _fs_and_path(spark, f"{self.root.rstrip('/')}/{self.job}")
        fs.delete(path, True)


def sever(df: DataFrame) -> DataFrame:
    """Cut lineage after each iteration (SURVEY hard-part #1: the
    iterative-join plan otherwise doubles per round). localCheckpoint
    materializes to executor-local storage — cheap, no HDFS round trip;
    durable resume is the CheckpointManager's job, not this one's.

    NARROW-DIAMOND CAVEAT (measured, Spark 4.1): a loop of the form
    `state = sever(state ⋈ f(state))` stays flat across rounds ONLY
    when, at every JOIN in the round's plan, at most ONE input path
    from the checkpointed state is un-aggregated. Two state-derived
    paths meeting in a join with no intervening aggregation (e.g. a
    pure projection of the state joined back against another
    projection of it) make the localCheckpoint call itself compound
    ~2.6× per round: 0.14 s → 168 s by round 25 on a 64-row state,
    with the analyzed/optimized/physical plans ALL constant-size —
    the blowup is inside the checkpoint's RDD machinery, not
    Catalyst. An Exchange alone (repartition) does NOT reset the
    path; a groupBy aggregation does — when a branch must re-read
    per-row state, wrap it in an identity groupBy on its key.
    pagerank's loop is naturally immune because its only derived
    branch passes the gather aggregation; louvain needed an explicit
    identity-aggregate (kernels/louvain.py `vstate`). Pinned by
    tests/test_plans.py::test_sever_loop_stays_flat.

    ESTIMATE CAVEAT (measured, Spark 4.1, trussness): the LogicalRDD
    this returns keeps the estimated statistics of the plan it came
    from. A loop whose next state is a view over a join of its last
    state (trussness's residual was a filter over `cur ⋈ support`)
    multiplies join estimates round after round, so the estimated
    sizeInBytes of the state squares: 1.8e10, 7.2e20, 1.2e42, 3.2e84
    in rounds 1-4, over 4,300 digits by round 10 on R-MAT scale 8
    symmetrized (2,062 edges). Round walls stayed ~0.8 s to round 15,
    then reached 28.8 s by round 21, and an uncapped run ran out of
    driver heap inside localCheckpoint around round 26. (A support
    recompute that met two un-aggregated state paths had compounded
    too, 1.3 s -> 199 s by round 14 on 250 edges; the dedupe inside
    kernels/triangles.py `oriented_edges` cured that shape, not this
    one.) The cure is linkgraph/loop.py `peel`'s residual rule: a
    residual shrinks only by a left-anti join, whose estimate is its
    left input's, so it stays that of the input table. Pinned by
    tests/test_loop.py::test_trussness_residual_keeps_its_input_estimate."""
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Free the block-manager storage behind a localCheckpoint'ed
    DataFrame NOW instead of waiting for GC + ContextCleaner.

    Why this exists: an iterative kernel produces one checkpointed
    state per round; the JVM only reclaims those blocks after the
    Python wrapper is GC'd AND the ContextCleaner notices — which lags
    many iterations behind. The stale states then evict the edge-table
    cache and iteration time climbs monotonically (measured on the
    800M-edge graph: 36s -> 194s per iteration within 8 rounds).
    Reaches the RDD inside the LogicalRDD that localCheckpoint built,
    through the Project and SubqueryAlias nodes of a column selection
    or alias over it (``Fixpoint.state`` drops its scratch columns that
    way); a no-op for any other plan shape."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() in ("Project", "SubqueryAlias"):
        plan = plan.child()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
