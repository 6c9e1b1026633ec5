"""Graph build stage: url -> dense int64 vertex ids, edge table,
degree table, partitioned persistence (SURVEY §7 step 2; the Spark
reimagining of the reference's `parse` pipeline at
/root/reference/src/graph.rs:302-320).

Dense-id requirement is explicit in BASELINE.json:6 ("dense int64
vertex ids"). Assignment is deterministic and shuffle-parallel — no
zipWithIndex, no single-partition window:
  1. hash-partition distinct urls into P partitions (hash(url) is
     deterministic), sort within each partition by url;
  2. count rows per partition (one P-row collect); the exclusive
     prefix sums are the partition offsets;
  3. id = offset[spark_partition_id()] + the row's index within its
     partition (the low 33 bits of monotonically_increasing_id()),
     read in the JVM over the same cached, sorted partitions: no
     Python worker, no Arrow round trip.
Given fixed P the mapping url->id is a pure function of the url set.
"""

from __future__ import annotations

import itertools
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.extract import edges_from_pages
from linkgraph.loop import loop_conf, loop_width
from linkgraph.session import conf_override

EDGES_SCHEMA = "src long, dst long"

# monotonically_increasing_id() holds the partition index above bit 33
# and the row's index within its partition below it
_ROW_INDEX = (1 << 33) - 1


@dataclass
class Graph:
    """The engine's graph handle: the Spark analogue of the reference's
    `AdjacencyGraph` (/root/reference/src/graph.rs:80-110). The
    transpose is NOT materialized (SURVEY §1.4 — swapping column roles
    is free; the shuffle happens inside whichever join consumes it).
    """

    vertices: DataFrame  # (id long, url string?) — url absent for pure-edge fixtures
    edges: DataFrame  # (src long, dst long), deduped
    degrees: DataFrame  # (id long, out_deg long, in_deg long)
    n: int  # node_count  (graph.rs:23)
    m: int  # rel_count   (graph.rs:25)

    @property
    def threshold(self) -> int:
        """Direction-switch threshold |E|/20 (graph.rs:31-33)."""
        return max(self.m // 20, 1)

    def edges_reversed(self) -> DataFrame:
        """The transpose: in-edge view, a free column swap (SURVEY §1.4)."""
        return self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )

    def unpersist(self) -> None:
        for df in (self.vertices, self.edges, self.degrees):
            try:
                df.unpersist()
            except Exception:
                pass


def _number(
    part: DataFrame, p: int, cols: list[str], name: str = "id", start: int = 0
) -> DataFrame:
    """Number the rows of a p-partition frame densely from `start`, in
    partition order, then row order: each partition's offset from one
    p-row count collect, plus the row's index within its partition. The
    counts and the ids read the same cached `part`, which is released
    once the ids are. Returns `cols` (`name` among them is the id),
    cached and materialized."""
    part = part.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        counts = dict(part.groupBy(F.spark_partition_id()).count().collect())
        offsets = itertools.accumulate(
            (counts.get(pid, 0) for pid in range(p - 1)), initial=start
        )
        offset = F.array(*[F.lit(o).cast("long") for o in offsets])[F.spark_partition_id()]
        ids = offset + F.monotonically_increasing_id().bitwiseAND(_ROW_INDEX)
        out = part.select(
            *[ids.alias(name) if c == name else c for c in cols]
        ).persist(StorageLevel.MEMORY_AND_DISK)
        out.count()
    finally:
        part.unpersist()
    return out


def assign_dense_ids(
    urls: DataFrame, key: str = "url", num_partitions: int | None = None
) -> DataFrame:
    """Distinct `key` values -> (id long, <key>) with ids dense 0..n-1,
    cached.

    Deterministic given the value set and P (see module docstring).
    Scales: the only driver-side data is P partition counts.
    """
    p = num_partitions or urls.sparkSession.sparkContext.defaultParallelism
    part = (
        urls.select(key).distinct().repartition(p, F.col(key)).sortWithinPartitions(key)
    )
    return _number(part, p, ["id", key])


def build_graph_from_pages(
    pages: DataFrame,
    num_partitions: int | None = None,
    phase_walls: dict | None = None,
) -> Graph:
    """pages -> Graph. Vertex set = page urls ∪ href targets, so edges
    to pages outside the crawl become sink vertices (out_deg 0) and the
    dangling-mass path is exercised.

    Ids are assigned at `num_partitions`, by default at the loop width
    of the edge count; the edge table is laid out once, at its default
    data-sized width. A build at width 1 runs as one-partition queries
    under the loop conf (loop.loop_conf): on a 2,000-page crawl
    (local[4]) the build went 24 -> 11 jobs with the one-pass extract.

    `phase_walls`: pass a dict to record per-phase wall seconds
    (extract_s / ids_s / build_s). The phase boundaries are the build's
    own materializations (the edge count, the id cache), so recording
    them adds no work — used by bench.py to decompose the web leg."""
    import time as _time

    spark = pages.sparkSession
    t0 = _time.time()
    url_edges = edges_from_pages(pages).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # the exact m: edges_from_pages is deduped by construction
        # (per-page dedup in the UDF, src_url is the page key) and the
        # url->id mapping is 1:1
        m = url_edges.count()
        if phase_walls is not None:
            phase_walls["extract_s"] = round(_time.time() - t0, 3)
            t0 = _time.time()
        w = num_partitions or loop_width(m)
        with _at_width(spark, w):
            all_urls = pages.select("url").union(
                url_edges.select(F.col("dst_url").alias("url"))
            )
            vertices = assign_dense_ids(all_urls, "url", w)
            if phase_walls is not None:
                phase_walls["ids_s"] = round(_time.time() - t0, 3)
                t0 = _time.time()
            edges = (
                url_edges.join(
                    vertices.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src"),
                    "src_url",
                )
                .join(
                    vertices.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"),
                    "dst_url",
                )
                .select("src", "dst")
            )
            # no dedup pass (a full (src,dst) exchange + aggregate) and
            # no count to size the layout: both are known from m
            g = build_graph_from_edges(
                edges,
                vertices=vertices,
                num_partitions=_edge_width(spark, m),
                assume_deduped=True,
            )
        if phase_walls is not None:
            phase_walls["build_s"] = round(_time.time() - t0, 3)
        return g
    finally:
        url_edges.unpersist()


def _at_width(spark: SparkSession, width: int):
    """The conf of a build's queries at `width`: at width 1 the loop's
    own (one partition leaves AQE nothing to coalesce or split, and no
    sort-merge join is worth its sorts); a wider build keeps the
    session's."""
    return conf_override(spark, loop_conf(1)) if width == 1 else nullcontext()


def _edge_width(spark: SparkSession, m: int) -> int:
    """The default edge layout: the loop width, never wider than the
    default parallelism."""
    return min(loop_width(m), spark.sparkContext.defaultParallelism)


def _csr_layout(edges: DataFrame, p: int) -> DataFrame:
    return (
        edges.repartition(p, "src")
        .sortWithinPartitions("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def build_graph_from_edges(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    n: int | None = None,
    num_partitions: int | None = None,
    assume_deduped: bool = False,
) -> Graph:
    """Edge list -> Graph. Dedups edges, derives degrees, persists the
    edge table hash-partitioned by src (the 'CSR edge table' — the
    bucketed layout the reference's CSR build S2 maps to) at
    `num_partitions`, by default at its data-sized loop width, never
    wider than the default parallelism. Once the edge count puts the
    table at width 1, the re-layout, vertex and degree queries run
    under the loop conf, as one-partition queries.

    If `vertices` is None the vertex set is ids 0..n-1 when `n` given,
    else the distinct ids appearing in edges.
    """
    spark = edges.sparkSession
    p = num_partitions or spark.sparkContext.defaultParallelism
    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    if not assume_deduped:
        edges = edges.distinct()
    edges = _csr_layout(edges, p)
    m = edges.count()
    width = num_partitions or _edge_width(spark, m)
    with _at_width(spark, width):
        if width < p:
            # lay the cache out for its size, so the loops run on it as
            # is instead of re-caching it on every call
            wide, edges = edges, _csr_layout(edges, width)
            edges.count()
            wide.unpersist()
        if vertices is None:
            if n is not None:
                vertices = spark.range(n).select(F.col("id").cast("long"))
            else:
                vertices = (
                    edges.select(F.col("src").alias("id"))
                    .union(edges.select(F.col("dst").alias("id")))
                    .distinct()
                )
            vertices = vertices.persist(StorageLevel.MEMORY_AND_DISK)
        n_count = vertices.count()
        out_deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_deg")
        )
        in_deg = edges.groupBy(F.col("dst").alias("id")).agg(F.count("*").alias("in_deg"))
        degrees = (
            vertices.select("id")
            .join(out_deg, "id", "left")
            .join(in_deg, "id", "left")
            .select(
                "id",
                F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        degrees.count()
    return Graph(vertices=vertices, edges=edges, degrees=degrees, n=n_count, m=m)


def symmetrize(edges: DataFrame) -> DataFrame:
    """edges ∪ reversed, deduped — undirected encoding (SURVEY §2.5(4):
    hash-min CC is only 'connected components' on symmetric inputs)."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.union(rev).distinct()


def _graph_parts(dest: str) -> dict[str, str]:
    """Resolve the three per-graph outputs for a destination.

    ``table:<id>`` → catalog tables ``<id>_edges`` / ``<id>_vertices``
    / ``<id>_degrees`` (suffixes, not sub-namespaces, so a single
    Iceberg namespace holds the whole graph); a bare path → the
    ``<path>/edges`` parquet subdirectory layout."""
    if dest.startswith("table:"):
        ident = dest[len("table:"):]
        return {part: f"table:{ident}_{part}" for part in ("edges", "vertices", "degrees")}
    return {part: f"{dest}/{part}" for part in ("edges", "vertices", "degrees")}


def write_graph(g: Graph, dest: str, buckets: int | None = None) -> None:
    """Persist the graph: the Spark analogue of the reference's binary
    dump (S4, /root/reference/src/graph.rs:322-357). Edge table written
    hash-distributed by src and sorted (src, dst) within files so a
    re-read preserves join locality.

    `dest` dispatches like the read side (io.read_pages / io.write_table):
    ``table:<id>`` lands the three tables in the session's catalogs —
    on an Iceberg catalog via the V2 writeTo/createOrReplace commit
    path (the north rule's production target; a deployment would also
    pin the layout in table properties: write.distribution-mode=hash +
    a (src, dst) sort order) — while a bare path writes parquet
    directories (the sandbox layout, same layout semantics)."""
    from linkgraph.io import write_table

    p = buckets or g.edges.sparkSession.sparkContext.defaultParallelism
    parts = _graph_parts(dest)
    write_table(
        g.edges.repartition(p, "src").sortWithinPartitions("src", "dst"),
        parts["edges"],
    )
    write_table(g.vertices, parts["vertices"])
    write_table(g.degrees, parts["degrees"])


def read_graph(spark: SparkSession, source: str) -> Graph:
    """Load a graph persisted by write_graph (S5/S6 analogue).
    Accepts the same ``table:<id>`` / path dispatch as write_graph."""
    from linkgraph.io import read_pages

    parts = _graph_parts(source)
    edges = read_pages(spark, parts["edges"]).persist(StorageLevel.MEMORY_AND_DISK)
    vertices = read_pages(spark, parts["vertices"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    degrees = read_pages(spark, parts["degrees"]).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return Graph(
        vertices=vertices,
        edges=edges,
        degrees=degrees,
        n=vertices.count(),
        m=edges.count(),
    )


def host_rollup(g: Graph, keep_self_loops: bool = False) -> DataFrame:
    """(src_host, dst_host, weight): the host-level rollup of a
    page-level Graph whose vertices carry a `url` column — the
    Common-Crawl-style host graph (each page edge contributes 1 to its
    host pair; same-host links dropped by default, as in the published
    host-graph artifacts).

    Scale shape: two shuffle hash joins id→host against the vertex
    relation (both sides huge at web scale — same strategy as the
    url→id mapping in build_graph_from_pages), then one groupBy over
    (src_host, dst_host) with map-side partial aggregation. Host
    extraction is the JVM-side parse_url — no Python in the path."""
    if "url" not in g.vertices.columns:
        raise ValueError(
            "host_rollup needs a Graph with url-carrying vertices "
            "(build_graph_from_pages); pure-edge graphs have no urls"
        )
    hosts = g.vertices.select(
        "id", F.parse_url(F.col("url"), F.lit("HOST")).alias("host")
    )
    rolled = (
        g.edges.join(
            hosts.select(F.col("id").alias("src"), F.col("host").alias("src_host")),
            "src",
        )
        .join(
            hosts.select(F.col("id").alias("dst"), F.col("host").alias("dst_host")),
            "dst",
        )
    )
    if not keep_self_loops:
        rolled = rolled.where(F.col("src_host") != F.col("dst_host"))
    return rolled.groupBy("src_host", "dst_host").agg(
        F.count(F.lit(1)).alias("weight")
    )


def assign_ordered_ids(
    urls: DataFrame,
    key: str = "url",
    start: int = 0,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct `key` values -> (id long, <key>) with ids dense
    start..start+n-1 in GLOBAL ascending key order.

    Unlike assign_dense_ids (hash-partitioned: deterministic given the
    value set AND P), the range-partitioned variant is a pure function
    of the value set alone — partition boundaries move with P but the
    (sorted-order) ids do not — so a SQL ROW_NUMBER reproduces it.
    Same numbering (P-row count collect + JVM in-partition row index),
    cached. Used by the incremental-update path where new-vertex ids
    must be engine-reproducible.
    """
    p = num_partitions or urls.sparkSession.sparkContext.defaultParallelism
    part = (
        urls.select(key)
        .distinct()
        .repartitionByRange(p, F.col(key))
        .sortWithinPartitions(key)
    )
    return _number(part, p, ["id", key], start=int(start))


def update_graph(
    graph: Graph,
    new_pages: DataFrame,
    num_partitions: int | None = None,
) -> Graph:
    """Incremental crawl ingestion: merge a re-crawl snapshot into an
    existing url graph WITHOUT a full rebuild — at 10^12 pages a crawl
    delta is a small fraction of the corpus, and rebuilding the whole
    id space would also orphan every checkpointed score table.

    Semantics:
      * a page PRESENT in `new_pages` replaces its out-edges with its
        current href set (re-crawl wins, including "now links nowhere");
      * pages absent from the snapshot keep their edges;
      * existing urls KEEP their ids — PageRank/CC checkpoints stay
        joinable across updates;
      * urls first seen in this snapshot (as pages or href targets) get
        dense ids max_id+1.. in global url order (assign_ordered_ids,
        engine-reproducible).

    Cost shape: extraction on the DELTA only; one anti-join over the
    old edge table (src-bucketed cache, broadcast when the re-crawled
    page-id set is small); degree rebuild — no url re-mapping of the
    surviving edges.

    The returned Graph owns fresh persisted tables; the caller decides
    when to unpersist the input graph.
    """
    if "url" not in graph.vertices.columns:
        raise ValueError("update_graph needs a url-mapped graph "
                         "(vertices must carry a url column)")
    url_edges = edges_from_pages(new_pages).persist(StorageLevel.MEMORY_AND_DISK)

    seen = (
        new_pages.select("url")
        .union(url_edges.select(F.col("dst_url").alias("url")))
        .distinct()
    )
    novel = seen.join(graph.vertices.select("url"), "url", "left_anti")
    start = (graph.vertices.agg(F.max("id")).first()[0] or -1) + 1
    new_ids = assign_ordered_ids(novel, "url", start=start,
                                 num_partitions=num_partitions)
    vertices = (
        graph.vertices.select("id", "url")
        .union(new_ids.select("id", "url"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    recrawled_ids = vertices.join(
        new_pages.select("url").distinct(), "url"
    ).select(F.col("id").alias("src"))
    kept = graph.edges.join(recrawled_ids, "src", "left_anti")
    fresh = (
        url_edges.join(
            vertices.withColumnRenamed("url", "src_url").withColumnRenamed("id", "src"),
            "src_url",
        )
        .join(
            vertices.withColumnRenamed("url", "dst_url").withColumnRenamed("id", "dst"),
            "dst_url",
        )
        .select("src", "dst")
    )
    g = build_graph_from_edges(
        kept.union(fresh), vertices=vertices, num_partitions=num_partitions
    )
    url_edges.unpersist()
    new_ids.unpersist()  # vertices holds its rows now
    return g


def relabel_by_degree(
    graph: Graph,
    order: str = "total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Degree-descending dense relabeling (id, new_id, deg) — the
    WebGraph locality transform (Boldi & Vigna WWW'04: BV compression
    and cache behavior improve sharply when hub ids cluster at the low
    end; the reference keeps first-seen order, /root/reference/src/
    graph.rs:80-110, so this is the optional post-build optimization
    pass, not a port).

    new_id is dense 0..n-1 in GLOBAL (deg DESC, id ASC) order — a pure
    function of the degree table, so a SQL
    ``ROW_NUMBER() OVER (ORDER BY deg DESC, id) - 1`` reproduces it
    exactly. Same numbering as assign_ordered_ids: range partition +
    in-partition sort, a P-row count collect, the JVM in-partition row
    index — no single-partition window, no zipWithIndex, scales to
    10^12 vertices. The map is returned cached.

    order: "out" | "in" | "total" — which degree ranks first.
    """
    if order not in ("out", "in", "total"):
        raise ValueError("order must be 'out', 'in', or 'total'")
    deg_col = {
        "out": F.col("out_deg"),
        "in": F.col("in_deg"),
        "total": F.col("out_deg") + F.col("in_deg"),
    }[order]
    p = num_partitions or graph.degrees.sparkSession.sparkContext.defaultParallelism
    part = (
        graph.degrees.select("id", deg_col.cast("long").alias("deg"))
        .repartitionByRange(p, F.col("deg").desc(), F.col("id"))
        .sortWithinPartitions(F.col("deg").desc(), F.col("id"))
    )
    return _number(part, p, ["id", "new_id", "deg"], name="new_id")


def relabel_edges(graph: Graph, mapping: DataFrame) -> DataFrame:
    """Rewrite (src, dst) through a relabeling map (id, new_id) — two
    keyed joins, each on the id key (broadcast-able when the map fits,
    shuffle-hash otherwise); the output feeds build_graph_from_edges
    (assume_deduped=True is safe: relabeling is a bijection)."""
    m = mapping.select("id", "new_id")
    return (
        graph.edges.join(m.withColumnRenamed("id", "src"), "src")
        .select(F.col("new_id").alias("src"), "dst")
        .join(m.withColumnRenamed("id", "dst"), "dst")
        .select("src", F.col("new_id").alias("dst"))
    )


def adjacency_gap_stats(edges: DataFrame, layout: str = "raw") -> DataFrame:
    """WebGraph-style gap-encoding cost of an edge layout (Boldi &
    Vigna WWW'04 §3: adjacency lists store the FIRST neighbor then
    successive gaps; total bits ≈ Σ ⌈log2 gap⌉, which shrinks when
    ids cluster — the measurable payoff of relabel_by_degree):

      one row (layout, n_lists, n_edges, total_gap_bits)

    with per-src sorted out-neighbors d1 < d2 < ..., gaps
    (d1 + 1, d2 − d1, ...), and total_gap_bits = Σ length(bin(gap)) —
    the exact bit_length via the shared bin() trick, all int64 ⇒
    hash-exact. Compare the row for raw ids against the row for
    relabeled edges to see the locality transform working.

    Scale shape: one groupBy(src) building each sorted list
    (map-side combined collect_list + one array sort — per-src
    bounded), one codegen gap/bit projection, one global agg."""
    lists = (
        edges.groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    )
    gaps = lists.select(
        F.expr(
            "transform(sequence(0, size(nbrs) - 1), i -> "
            "CASE WHEN i = 0 THEN nbrs[0] + 1 ELSE nbrs[i] - nbrs[i - 1] END)"
        ).alias("gaps")
    )
    bits = gaps.select(
        F.size("gaps").alias("n"),
        F.expr(
            "aggregate(gaps, CAST(0 AS BIGINT), "
            "(acc, g) -> acc + length(bin(g)))"
        ).alias("bits"),
    )
    return bits.agg(
        F.lit(layout).alias("layout"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
        F.sum("n").cast("long").alias("n_edges"),
        F.sum("bits").cast("long").alias("total_gap_bits"),
    )


def edge_diff(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """(src, dst, change 'added'|'removed'): the edge-level delta
    between two graph snapshots — the monitoring companion to
    update_graph (what did the re-crawl actually change?). Distinct
    edge semantics (the engine's edge tables are deduped); unchanged
    edges are absent. Two hash anti-joins on the (src, dst) key —
    shuffle-partitioned by the same key the edge tables are already
    laid out on, no driver-side state."""
    o = old_edges.select("src", "dst").distinct()
    n = new_edges.select("src", "dst").distinct()
    added = n.join(o, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("added").alias("change")
    )
    removed = o.join(n, ["src", "dst"], "left_anti").select(
        "src", "dst", F.lit("removed").alias("change")
    )
    return added.unionByName(removed)


def degree_delta(old_edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """(id, out_old, out_new, in_old, in_new, d_out, d_in): per-vertex
    degree movement between two snapshots — the per-page churn view of
    edge_diff (a page whose in-degree collapses lost its inbound links;
    one whose out-degree exploded likely became a link farm). Four
    partial+final degree aggregates + two full-outer joins keyed on id;
    vertices with no change in either direction are dropped. Absent
    degrees coalesce to 0, all int64."""
    def degs(e: DataFrame, tag: str) -> DataFrame:
        od = e.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias(f"out_{tag}")
        )
        idg = e.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias(f"in_{tag}")
        )
        return od.join(idg, "id", "full").select(
            "id",
            F.coalesce(f"out_{tag}", F.lit(0)).alias(f"out_{tag}"),
            F.coalesce(f"in_{tag}", F.lit(0)).alias(f"in_{tag}"),
        )

    old_d = degs(old_edges.select("src", "dst").distinct(), "old")
    new_d = degs(new_edges.select("src", "dst").distinct(), "new")
    out = (
        old_d.join(new_d, "id", "full")
        .select(
            "id",
            F.coalesce("out_old", F.lit(0)).alias("out_old"),
            F.coalesce("out_new", F.lit(0)).alias("out_new"),
            F.coalesce("in_old", F.lit(0)).alias("in_old"),
            F.coalesce("in_new", F.lit(0)).alias("in_new"),
        )
        .select(
            "id",
            "out_old",
            "out_new",
            "in_old",
            "in_new",
            (F.col("out_new") - F.col("out_old")).alias("d_out"),
            (F.col("in_new") - F.col("in_old")).alias("d_in"),
        )
        .where((F.col("d_out") != 0) | (F.col("d_in") != 0))
    )
    return out
