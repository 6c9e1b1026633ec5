"""SparkSession factory for the linkgraph engine.

The reference is a single-process shared-memory engine (rayon pool,
/root/reference/src/ligra.rs:100,211). Our execution substrate is a
Spark cluster; this module centralizes the session config so tests,
bench, and spark-submit jobs agree on shuffle sizing, AQE, and Arrow.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def conf_override(spark: SparkSession, conf: dict[str, str]):
    """Temporarily override session confs (used by iterative kernels to
    switch AQE off inside their loops: the plan shapes are fixed and
    known, and AQE's per-stage re-planning adds ~0.3-0.7s of driver
    latency per iteration — measured 25-35% of iteration wall time on
    the rMAT-20 loop)."""
    # get(k, None) is None for a key the session never set explicitly,
    # so restoring unsets it rather than pinning its default value
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(
    app_name: str = "linkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for iterative graph jobs.

    Defaults target the sandbox (local[$SPARK_GRAFT_CPUS]); on a real
    cluster pass ``master=None`` with spark-submit providing the master
    and executor topology.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("LINKGRAPH_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Iterative joins/aggs: keep shuffle width ~= cores locally;
        # on a cluster size to 2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing + skew-join splitting (SURVEY §4.4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Vertex-state DFs are small next to the edge table; broadcast
        # them rather than re-shuffling/sorting the cached edges every
        # iteration. (On a 1e12-vertex cluster the state no longer fits
        # a broadcast — the bucketed-edge SMJ path takes over; the
        # sortWithinPartitions('src','dst') cache layout keeps that
        # path exchange-free too.)
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Arrow for all pandas UDF / toPandas traffic (BASELINE.json:15:
        # vectorized UDFs, no per-row Python).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Iterative kernels sever lineage via localCheckpoint; keep
        # replication off locally.
        .config("spark.checkpoint.compress", "true")
        .config("spark.driver.memory", os.environ.get("LINKGRAPH_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Iterative kernels retire one shuffle + one localCheckpoint per
        # round; the ContextCleaner only reclaims them after a JVM GC
        # proves them unreachable. Default periodicGC is 30min — far
        # longer than a whole run — so dead shuffle files pile up on
        # spark.local.dir. 2min bounds that backlog.
        .config("spark.cleaner.periodicGC.interval", "120s")
    )
    # Shuffle/spill dir: local[] mode defaults spark.local.dir to /tmp,
    # which in this sandbox is a slow virtual disk with high latency
    # variance (measured: identical PageRank iterations ranged 36s-194s
    # gated by straggler tasks re-reading shuffle blocks). Prefer the
    # RAM-backed /dev/shm when present — on a real cluster executors
    # get fast NVMe local dirs from the resource manager instead
    # (SPARK_LOCAL_DIRS), which takes precedence here too.
    if "SPARK_LOCAL_DIRS" not in os.environ and "spark.local.dir" not in (extra_conf or {}):
        shm = os.environ.get("LINKGRAPH_LOCAL_DIR")
        if shm is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
            shm = "/dev/shm/linkgraph-spark"
        if shm:
            os.makedirs(shm, exist_ok=True)
            builder = builder.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
