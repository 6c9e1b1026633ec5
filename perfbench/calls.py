"""Instrumentation at the boundary of each call into the engine.

Everything here reads public PySpark state from outside the engine:

* a call tag, set with ``sc.setLocalProperty(TAG, ...)`` for the length
  of the call, so the event log of a traced run can be reduced to one
  row per call (no job groups: those stay free for the engine);
* job and stage counts from the status tracker, read right after
  the call once the listener bus has drained, before the retained-job
  limit can drop them;
* caller-state probes: persistent RDDs, the storage level of the
  caller's ``graph.edges``, the catalog's temp views and the session
  conf, each compared before and after the call;
* spans for the checkpoint layer, timed by ``TimedCheckpointManager``
  and subtracted from the enclosing call's wall as its self time.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession

from linkgraph.checkpoint import CheckpointManager

TAG = "linkgraph.bench.call"


class CallLog:
    """Records one dict per engine call of one workload run."""

    def __init__(self, spark: SparkSession, workload: str) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.tracker = self.sc.statusTracker()
        self.records: list[dict] = []
        self._open: dict | None = None

    # -- Spark-side state ------------------------------------------------
    def _drain(self) -> None:
        """Wait until the status store has seen every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def persistent_rdd_ids(self) -> set[int]:
        return {int(k) for k in self.sc._jsc.getPersistentRDDs().keySet().toArray()}

    def temp_views(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables() if t.isTemporary}

    def _state(self, graph) -> dict:
        state = {
            "rdds": len(self.persistent_rdd_ids()),
            "views": self.temp_views(),
            "conf": dict(self.spark.conf.getAll),
        }
        if graph is not None:
            level = graph.edges.storageLevel
            state["cached"] = bool(level.useMemory or level.useDisk)
        return state

    def _job_counts(self, before: set[int]) -> dict:
        jobs = sorted(set(self.tracker.getJobIdsForGroup()) - before)
        stage_ids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        # skipped stages (shuffle output reused) run no tasks
        stages = sum(
            1
            for s in stage_ids
            if (info := self.tracker.getStageInfo(s)) is not None and info.numCompletedTasks > 0
        )
        return {"jobs": len(jobs), "stages": stages}

    # -- spans -------------------------------------------------------------
    @contextmanager
    def call(self, op: str, name: str, graph=None):
        """Time one call into the engine; the caller forces the call's
        result inside the block. ``graph`` is the caller's Graph whose
        edge cache the probes watch."""
        before = self._state(graph)
        self._drain()
        jobs0 = set(self.tracker.getJobIdsForGroup())
        tag = f"{self.workload}:{op}:{name}"
        rec = {"op": op, "call": name, "tag": tag, "children": []}
        self.sc.setLocalProperty(TAG, tag)
        self._open = rec
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["s"] = time.perf_counter() - t0
            self._open = None
            self.sc.setLocalProperty(TAG, None)
            self._drain()
            rec.update(self._job_counts(jobs0))
            after = self._state(graph)
            rec["rdds_leaked"] = after["rdds"] - before["rdds"]
            rec["temp_views_left"] = len(after["views"] - before["views"])
            keys = before["conf"].keys() | after["conf"].keys()
            rec["conf_changed"] = sum(
                before["conf"].get(k) != after["conf"].get(k) for k in keys
            )
            if graph is not None:
                rec["edges_cache_lost"] = int(before["cached"] and not after["cached"])
            self.records.append(rec)

    @contextmanager
    def child(self, name: str):
        """A span inside the open call (a checkpoint save or load). Its
        jobs carry the tag ``<call tag>/<name>``."""
        parent = self._open
        self.sc.setLocalProperty(TAG, f"{parent['tag']}/{name}")
        t0 = time.perf_counter()
        try:
            yield
        finally:
            parent["children"].append((name, time.perf_counter() - t0))
            self.sc.setLocalProperty(TAG, parent["tag"])


@dataclass
class TimedCheckpointManager(CheckpointManager):
    """A CheckpointManager whose save/load are timed from outside and
    tagged as the ``checkpoint`` layer."""

    calls: CallLog | None = None

    def save(self, *args, **kwargs):
        with self.calls.child("checkpoint.save"):
            return super().save(*args, **kwargs)

    def load(self, *args, **kwargs):
        with self.calls.child("checkpoint.load"):
            return super().load(*args, **kwargs)
