"""Structured Streaming ingest + incremental link analytics.

The reference engine is batch-only (CLI `parse/cc/bfs/prd` over a
static file, /root/reference/src/main.rs); streaming is
beyond-reference coverage: the SAME extraction code path running
continuously over arriving page snapshots, plus the two canonical
streaming shapes a web-crawl pipeline needs — watermarked session
windows over an event stream and a custom stateful operator
(applyInPandasWithState) for running per-vertex statistics.

Scale design:
  * `stream_pages_to_edges` is a pure projection pipeline (Arrow
    pandas_udf extract -> explode) — NO aggregation, so no state
    store; throughput is scan-bound and partitions-parallel exactly
    like the batch path. The sink is an append-only href-edge log
    (url -> href strings). Dense int64 id assignment is deliberately
    NOT done in-stream: it needs a global vertex dictionary, which is
    a batch compaction concern (build.assign_dense_ids over the
    accumulated log), not a per-microbatch one.
  * `sessionize_events` bounds state with a watermark: sessions close
    (and their state is evicted) once the event-time watermark passes
    the gap — late events beyond the watermark are dropped rather
    than growing state without bound.
  * `running_out_degrees` keeps ONE long per src key in the state
    store (applyInPandasWithState, Arrow-batched per group) — the
    streaming analogue of the degree table the batch builder derives;
    state size is O(vertices), not O(edges).

All entry points return the unstarted DataFrame / DataStreamWriter
configuration so callers choose trigger + sink; tests drive them with
``trigger(availableNow=True)`` against file sources for determinism.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from linkgraph.extract import edges_from_pages

# Common-Crawl-style pages table (BASELINE.json input_hint); file
# streams need the schema declared up front (no inference mid-stream).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("html", BinaryType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)


def read_page_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream over a directory of pages parquet — the
    sandbox stand-in for a crawl-ingest bus; swap for kafka/iceberg
    readStream in deployment without touching the transforms."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(source_dir)


def page_stream_to_edges(pages: DataFrame) -> DataFrame:
    """Streaming pages -> (src_url, dst_url) href-edge rows, using the
    SAME edge extraction as the batch build (extract.edges_from_pages:
    one Arrow UDF pass per page). Pure projection: streaming-safe with
    no state store, no watermark, no shuffle."""
    return edges_from_pages(pages)


def stream_pages_to_edges(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Wire source -> extract -> append-mode parquet edge log and
    start the query. availableNow=True drains what exists and stops
    (tests, backfills); False runs continuously."""
    edges = page_stream_to_edges(read_page_stream(spark, source_dir))
    writer = (
        edges.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked session windows over an event stream
    (event_id, ts, user_id, event_type, value, ...): one row per
    (user, session) with count and value sum. The watermark bounds
    state: sessions finalize once event time passes gap+watermark,
    later events are dropped. Streaming twin of the batch
    `event_sessions_graph` derivation."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


_DEGREE_OUT_SCHEMA = "src_url string, out_deg long"
_DEGREE_STATE_SCHEMA = "cnt long"


def _degree_update(
    key: tuple,
    batches: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Per-src running count: state is one long; emits the updated
    total once per (key, microbatch)."""
    cnt = state.get[0] if state.exists else 0
    for pdf in batches:
        cnt += len(pdf)
    state.update((cnt,))
    yield pd.DataFrame({"src_url": [key[0]], "out_deg": [cnt]})


def running_out_degrees(edge_stream: DataFrame) -> DataFrame:
    """Custom stateful operator: running out-degree per source url
    over the streaming edge log (applyInPandasWithState; update output
    mode). State = one long per vertex — O(V), eviction-free by
    design (degrees are forever-monotone)."""
    return edge_stream.groupBy("src_url").applyInPandasWithState(
        _degree_update,
        outputStructType=_DEGREE_OUT_SCHEMA,
        stateStructType=_DEGREE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    rows: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    horizon: str = "1 hour",
) -> DataFrame:
    """Streaming exact deduplication: first-arrival-wins per key within
    the watermark horizon (dropDuplicatesWithinWatermark) — the
    crawl-ingest twin of pipeline/dedup.exact_dedup (recrawls and
    mirrors emit the same content repeatedly; dropping them at ingest
    keeps everything downstream smaller).

    State story: one entry per DISTINCT key seen within the horizon,
    evicted once the event-time watermark passes it — O(distinct keys
    / horizon), never O(stream). That bounded-state trade is the
    semantic difference vs batch dedup: a duplicate arriving AFTER the
    horizon is kept again (exactly what a crawl pipeline wants — a
    page unseen for a year is worth re-ingesting). Append output mode;
    works on any stream with an event-time column (dedup on a content
    hash, not the raw text, so state rows stay tiny)."""
    return rows.withWatermark(ts_col, horizon).dropDuplicatesWithinWatermark(key_cols)


def trending_counts(
    events: DataFrame,
    item_col: str = "item",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Tumbling-window item counts — the trending/hot-pages feed over
    an event stream: one row per (window, item) with the event count.
    Tumbling windows (Spark's epoch-aligned F.window) keep per-event
    assignment exact and engine-reproducible; the watermark finalizes
    and EVICTS each window once event time passes window + watermark,
    so state is O(items per open window), not O(stream).

    Ranking (the "top-k" of trending) is deliberately NOT in-stream:
    streaming aggregations can't nest window functions, and the
    standard production shape is counts-in-stream, rank-at-read —
    compose with a batch ROW_NUMBER over the sink (the driver query
    does exactly that)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window), F.col(item_col).alias("item"))
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("window.start").alias("window_start"),
            "item",
            F.col("cnt").cast("long").alias("cnt"),
        )
    )


def enrich_events(
    events: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment join — the canonical streaming
    pattern the other ops here don't cover: a micro-batch stream
    joined against a STATIC dimension table (item metadata, user
    attributes, nation names). Spark re-plans the static side per
    micro-batch, so a broadcast-able dim stays a broadcast join with
    NO streaming state at all (nothing to watermark, nothing to
    evict) — the 100 TB shape for attaching driver-scale metadata to
    an unbounded stream. `how` left|inner; stream-side columns pass
    through unchanged."""
    if how not in ("left", "inner"):
        raise ValueError("how must be 'left' or 'inner'")
    return events.join(F.broadcast(dim), on, how)
