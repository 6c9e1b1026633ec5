"""Sequence packing for LM pretraining — assign documents to
fixed-token-budget training sequences (the concat-and-chunk packing
used by GPT-3/T5-style data loaders, document-START aligned so whole
documents are never split here; length-capping is a separate upstream
filter).

The reference engine has no document pipeline (it is a link-graph
kernel suite, /root/reference/src/algos.rs); this is beyond-reference
training-data coverage, sibling to textstats/sampling.

Contract. Documents are packed in ascending doc_id order; with
whitespace token counts t_i and exclusive prefix sums
c_i = Σ_{j<i} t_j:

    seq_id  = floor(c_i / budget)      (the sequence the doc STARTS in)
    seq_off = c_i mod budget           (its offset inside that sequence)

A sequence can overflow `budget` by at most max(t_i) - 1 tokens (the
document that straddles the boundary) — the standard trade against
splitting documents. The assignment is a pure function of the
(doc_id, t_i) set: engine-, layout-, and parallelism-independent, so
a SQL window reproduces it exactly.

Spark shape (100 TB posture): the global order prefix sum is NOT a
single-partition window — it is the two-phase distributed scan
build.py numbers its ids with: repartitionByRange(doc_id)
+ sortWithinPartitions (RangePartitioner keeps partition i's keys
below partition i+1's), one P-row collect of per-partition token
sums, then an Arrow `mapInPandas` adds each partition's broadcast
offset to its local cumsum. Driver state = P longs; everything else
is partition-parallel. The persisted range layout is shared by the
counts pass and the assignment pass so the offsets always match.
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pack_sequences(
    docs: DataFrame,
    budget: int = 2048,
    num_partitions: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, seq_id, seq_off) — see module contract.

    `budget` is the per-sequence token target (> 0). Zero-token
    documents take no space: they land at the current offset and
    consume nothing.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    spark = docs.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism

    n_tokens = (
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .cast("long")
    )
    part = (
        docs.select("doc_id", n_tokens.alias("n_tokens"))
        .repartitionByRange(p, F.col("doc_id"))
        .sortWithinPartitions("doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sums = {
        r["pid"]: r["tok"]
        for r in part.groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.sum("n_tokens").alias("tok"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in range(p):
        offsets[pid] = acc
        acc += int(sums.get(pid, 0) or 0)
    offsets_bc = spark.sparkContext.broadcast(offsets)
    budget_l = int(budget)

    def assign(iterator):
        pid = TaskContext.get().partitionId()
        start = offsets_bc.value[pid]
        for pdf in iterator:
            toks = pdf["n_tokens"].to_numpy(dtype="int64")
            cum_excl = start + np.cumsum(toks) - toks
            yield pdf.assign(
                seq_id=cum_excl // budget_l, seq_off=cum_excl % budget_l
            )[["doc_id", "n_tokens", "seq_id", "seq_off"]]
            start = int(cum_excl[-1] + toks[-1]) if len(toks) else start

    return part.mapInPandas(
        assign, schema="doc_id long, n_tokens long, seq_id long, seq_off long"
    )
