"""Graph build tests: dense deterministic ids, degree correctness,
write/read round-trip."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from linkgraph.build import (
    assign_dense_ids,
    build_graph_from_edges,
    build_graph_from_pages,
    read_graph,
    write_graph,
)
from linkgraph.datagen import PagesSpec, expected_edges, generate_pages, rmat_edges
from linkgraph.loop import EDGE_ROWS_PER_PART, loop_width


def test_assign_dense_ids_dense_and_deterministic(spark):
    urls = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i}" for i in range(257)]})
    )
    ids1 = assign_dense_ids(urls, num_partitions=4).toPandas()
    ids2 = assign_dense_ids(urls, num_partitions=4).toPandas()
    assert sorted(ids1["id"]) == list(range(257))
    m1 = dict(zip(ids1["url"], ids1["id"]))
    m2 = dict(zip(ids2["url"], ids2["id"]))
    assert m1 == m2  # deterministic given the url set and P


def test_edge_cache_is_sized_to_the_data(spark):
    """Below EDGE_ROWS_PER_PART edges the default build caches the edge
    table in one partition, the loop width, so the loops run on it as
    is; an explicit num_partitions is kept."""
    edges = spark.createDataFrame(rmat_edges(scale=8, seed=3), "src long, dst long")
    g = build_graph_from_edges(edges)
    assert g.m < EDGE_ROWS_PER_PART
    assert g.edges.rdd.getNumPartitions() == 1
    assert loop_width(g.m) == 1
    g4 = build_graph_from_edges(edges, num_partitions=4)
    assert g4.m == g.m
    assert g4.edges.rdd.getNumPartitions() == 4
    g.unpersist()
    g4.unpersist()


def test_build_graph_from_pages(spark):
    spec = PagesSpec(n_pages=60)
    pages_pdf = generate_pages(spec)
    g = build_graph_from_pages(spark.createDataFrame(pages_pdf), num_partitions=4)
    golden = expected_edges(pages_pdf)
    assert g.m == len(golden)
    # vertex ids dense 0..n-1
    ids = [r["id"] for r in g.vertices.select("id").collect()]
    assert sorted(ids) == list(range(g.n))
    # edges map back to the golden url pairs
    v = {r["id"]: r["url"] for r in g.vertices.collect()}
    got = {(v[r["src"]], v[r["dst"]]) for r in g.edges.collect()}
    assert got == golden
    # degree table agrees with a pandas recount
    deg = g.degrees.toPandas().set_index("id")
    edges_pdf = g.edges.toPandas()
    out_counts = edges_pdf.groupby("src").size()
    for vid in deg.index:
        assert deg.loc[vid, "out_deg"] == out_counts.get(vid, 0)
    assert int(deg["out_deg"].sum()) == g.m
    assert int(deg["in_deg"].sum()) == g.m
    g.unpersist()


def _persistent_rdds(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _mapinpandas_ids(urls, key: str, p: int) -> dict:
    """The Arrow numbering assign_dense_ids replaced, kept as its
    oracle: hash partitions sorted by key, a P-row count collect,
    broadcast offsets, then a per-partition mapInPandas enumeration."""
    import numpy as np
    from pyspark import TaskContext

    part = (
        urls.select(key).distinct().repartition(p, F.col(key)).sortWithinPartitions(key)
    ).persist()
    counts = dict(part.groupBy(F.spark_partition_id()).count().collect())
    offsets, acc = {}, 0
    for pid in range(p):
        offsets[pid], acc = acc, acc + counts.get(pid, 0)
    offsets_bc = urls.sparkSession.sparkContext.broadcast(offsets)

    def assign(batches):
        pos = offsets_bc.value[TaskContext.get().partitionId()]
        for pdf in batches:
            yield pdf.assign(id=np.arange(pos, pos + len(pdf), dtype="int64"))[["id", key]]
            pos += len(pdf)

    out = part.mapInPandas(assign, schema=f"id long, {key} string").toPandas()
    part.unpersist()
    return dict(zip(out[key], out["id"]))


@pytest.mark.parametrize("p", [1, 4])
def test_assign_dense_ids_equals_the_mapinpandas_numbering(spark, p):
    pdf = generate_pages(PagesSpec(n_pages=60))
    urls = spark.createDataFrame(
        pd.DataFrame({"url": sorted(set(pdf["url"]) | {d for _, d in expected_edges(pdf)})})
    )
    rdds0 = _persistent_rdds(spark)
    ids = assign_dense_ids(urls, num_partitions=p)
    got = ids.toPandas()
    ids.unpersist()
    assert _persistent_rdds(spark) - rdds0 == set()  # the sorted partitions are released
    assert dict(zip(got["url"], got["id"])) == _mapinpandas_ids(urls, "url", p)


def test_default_page_build_runs_at_its_loop_width(spark, monkeypatch):
    """A crawl below EDGE_ROWS_PER_PART edges builds at its loop width,
    1: the edge table is laid out once, and edges, vertices and degrees
    are one partition each. The build leaves the session conf and temp
    views as they were, and no cache behind once the graph is
    unpersisted."""
    import linkgraph.build as build

    pdf = generate_pages(PagesSpec(n_pages=60))
    pages = spark.createDataFrame(pdf)
    layouts = []
    layout = build._csr_layout
    monkeypatch.setattr(build, "_csr_layout", lambda e, p: layouts.append(p) or layout(e, p))
    rdds0 = _persistent_rdds(spark)
    conf0 = dict(spark.conf.getAll)
    views0 = spark.catalog.listTables()
    g = build_graph_from_pages(pages)
    assert loop_width(g.m) == 1 and layouts == [1]
    assert [df.rdd.getNumPartitions() for df in (g.edges, g.vertices, g.degrees)] == [1, 1, 1]
    assert dict(spark.conf.getAll) == conf0
    assert spark.catalog.listTables() == views0
    v = {r["id"]: r["url"] for r in g.vertices.collect()}
    assert {(v[r["src"]], v[r["dst"]]) for r in g.edges.collect()} == expected_edges(pdf)
    g.unpersist()
    assert _persistent_rdds(spark) - rdds0 == set()


def test_page_build_assigns_ids_at_its_num_partitions(spark):
    """An explicit num_partitions is the width ids are assigned at; the
    edge table keeps its data-sized layout."""
    pdf = generate_pages(PagesSpec(n_pages=60))
    g = build_graph_from_pages(spark.createDataFrame(pdf), num_partitions=4)
    urls = spark.createDataFrame(pd.DataFrame({"url": [r["url"] for r in g.vertices.collect()]}))
    assert {r["url"]: r["id"] for r in g.vertices.collect()} == _mapinpandas_ids(urls, "url", 4)
    assert g.edges.rdd.getNumPartitions() == loop_width(g.m)
    g.unpersist()


def test_write_read_roundtrip(spark, tmp_path):
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0]})
    )
    g = build_graph_from_edges(edges, n=4)
    write_graph(g, str(tmp_path / "g"))
    g2 = read_graph(spark, str(tmp_path / "g"))
    assert g2.n == 4 and g2.m == 3
    assert {(r["src"], r["dst"]) for r in g2.edges.collect()} == {
        (0, 1),
        (1, 2),
        (2, 0),
    }
    # threshold |E|/20 floor (graph.rs:31-33)
    assert g2.threshold == 1
    g.unpersist()
    g2.unpersist()


def test_write_read_roundtrip_table_dispatch(spark):
    """write_graph/read_graph through the ``table:`` scheme — the
    Iceberg write path (io.write_table: V2 writeTo/createOrReplace,
    with the session-catalog saveAsTable fallback this sandbox takes
    since no Iceberg jar is installable). Mirrors the read-side
    dispatch test below."""
    edges = spark.createDataFrame(
        pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0]})
    )
    g = build_graph_from_edges(edges, n=4)
    try:
        write_graph(g, "table:lg_rt")
        g2 = read_graph(spark, "table:lg_rt")
        assert g2.n == 4 and g2.m == 3
        assert {(r["src"], r["dst"]) for r in g2.edges.collect()} == {
            (0, 1), (1, 2), (2, 0),
        }
        # createOrReplace semantics: a rewrite replaces, never appends
        write_graph(g, "table:lg_rt")
        g3 = read_graph(spark, "table:lg_rt")
        assert g3.m == 3
        g2.unpersist()
        g3.unpersist()
    finally:
        g.unpersist()
        for part in ("edges", "vertices", "degrees"):
            spark.sql(f"DROP TABLE IF EXISTS lg_rt_{part}")


def test_write_table_fmt_branch_and_runner_opt(spark, tmp_path):
    """write_table's explicit-format branch round-trips; the runner's
    opt() keeps an explicit 0 instead of substituting the default."""
    import sys

    from linkgraph.io import write_table

    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    dest = str(tmp_path / "json_out")
    write_table(df, dest, fmt="json")
    back = spark.read.json(dest)
    assert back.count() == 2 and set(back.columns) == {"a", "b"}

    sys.path.insert(0, "/root/repo/jobs")
    try:
        from run_pipeline import opt
    finally:
        sys.path.pop(0)
    assert opt(0, 5) == 0 and opt(0.0, 0.9) == 0.0 and opt(None, 5) == 5


def test_write_table_fallback_gated_on_error_condition(spark, monkeypatch):
    """write_table's V1 fallback fires ONLY on the structured
    UNSUPPORTED_FEATURE.TABLE_OPERATION condition (the session
    catalog's REPLACE TABLE rejection). Any other AnalysisException
    must SURFACE — even when its message happens to mention 'V2' or
    'REPLACE TABLE', which the r3 string-matching gate would have
    swallowed and retried as saveAsTable(overwrite)."""
    import pytest
    from pyspark.errors import AnalysisException

    from linkgraph.io import write_table

    fell_back = []

    class FakeV2Writer:
        def __init__(self, condition):
            self.condition = condition

        def createOrReplace(self):
            raise AnalysisException(
                "message text mentions V2 and REPLACE TABLE misleadingly",
                errorClass=self.condition,
            )

    df = spark.range(3)
    # patch the CONCRETE classes (pyspark 4: spark.range returns the
    # classic subclass, not pyspark.sql.DataFrame itself)
    monkeypatch.setattr(
        type(df), "writeTo",
        lambda self, ident: FakeV2Writer("UNRESOLVED_COLUMN.WITH_SUGGESTION"),
    )
    monkeypatch.setattr(
        type(df.write), "saveAsTable",
        lambda self, ident: fell_back.append(ident),
    )
    with pytest.raises(AnalysisException) as ei:
        write_table(df, "table:whatever")
    assert ei.value.getCondition() == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert fell_back == []  # no silent retry

    # the genuine V1 limitation still takes the fallback
    monkeypatch.setattr(
        type(df), "writeTo",
        lambda self, ident: FakeV2Writer("UNSUPPORTED_FEATURE.TABLE_OPERATION"),
    )
    write_table(df, "table:whatever")
    assert fell_back == ["whatever"]


def test_read_pages_dispatch(spark, tmp_path):
    """io.read_pages: parquet path and table-identifier (the Iceberg
    code path — spark.read.table; sandbox uses a temp view since no
    Iceberg catalog jar is installable here) return identical data."""
    import pandas as pd

    from linkgraph.io import read_pages

    pdf = pd.DataFrame({"url": ["http://a/", "http://b/"],
                        "text": ["x", "y"], "lang": ["en", "en"]})
    path = str(tmp_path / "pages_pq")
    spark.createDataFrame(pdf).write.parquet(path)
    via_path = read_pages(spark, path).orderBy("url").toPandas()
    spark.read.parquet(path).createOrReplaceTempView("pages_view")
    via_table = read_pages(spark, "table:pages_view").orderBy("url").toPandas()
    assert via_path.equals(via_table)
    assert list(via_path["url"]) == ["http://a/", "http://b/"]


def test_host_rollup_matches_pandas(spark):
    """Host graph of the synthetic corpus == pandas groupby over the
    same url edge list (host parsed from the url), self-host links
    dropped."""
    from urllib.parse import urlparse

    from linkgraph.build import build_graph_from_pages, host_rollup
    from linkgraph.datagen import PagesSpec, generate_pages
    from linkgraph.extract import edges_from_pages

    pages = spark.createDataFrame(generate_pages(PagesSpec(n_pages=300)))
    g = build_graph_from_pages(pages, num_partitions=4)
    got = {
        (r["src_host"], r["dst_host"]): r["weight"]
        for r in host_rollup(g).collect()
    }
    url_edges = edges_from_pages(pages).toPandas()
    want: dict[tuple[str, str], int] = {}
    for r in url_edges.itertuples():
        hs, hd = urlparse(r.src_url).netloc, urlparse(r.dst_url).netloc
        if hs != hd:
            want[(hs, hd)] = want.get((hs, hd), 0) + 1
    assert got == want
    g.unpersist()


def test_host_rollup_refuses_pure_edge_graph(spark):
    import pandas as pd
    import pytest as _pytest

    from linkgraph.build import build_graph_from_edges, host_rollup

    g = build_graph_from_edges(
        spark.createDataFrame(
            pd.DataFrame({"src": [0, 1], "dst": [1, 0]}), "src long, dst long"
        ),
        num_partitions=2,
    )
    with _pytest.raises(ValueError, match="url"):
        host_rollup(g)
    g.unpersist()


def test_host_pagerank_composition(spark):
    """host_rollup -> pagerank_weighted end-to-end on the synthetic
    corpus: ranks equal a NumPy weighted power iteration over the
    pandas-derived host multigraph (host weights = page-edge
    multiplicities)."""
    import numpy as np
    from urllib.parse import urlparse

    import pytest as _pytest
    from pyspark.sql import functions as F

    from linkgraph.build import (
        build_graph_from_edges,
        build_graph_from_pages,
        host_rollup,
    )
    from linkgraph.datagen import PagesSpec, generate_pages
    from linkgraph.extract import edges_from_pages
    from linkgraph.kernels import pagerank_weighted

    pages = spark.createDataFrame(generate_pages(PagesSpec(n_pages=300)))
    g = build_graph_from_pages(pages, num_partitions=4)
    rolled = host_rollup(g)
    hosts = sorted(
        {r["src_host"] for r in rolled.collect()}
        | {r["dst_host"] for r in rolled.collect()}
    )
    hid = {h: i for i, h in enumerate(hosts)}
    wdf = rolled.select(
        F.udf(lambda h: hid[h], "long")("src_host").alias("src"),
        F.udf(lambda h: hid[h], "long")("dst_host").alias("dst"),
        F.col("weight").alias("w"),
    )
    hg = build_graph_from_edges(wdf.select("src", "dst"), num_partitions=2)
    res = pagerank_weighted(hg, wdf, tol=0.0, max_iter=3)
    got = {r["id"]: r["rank"] for r in res.df.collect()}

    # NumPy replay over the pandas-derived host multigraph
    url_edges = edges_from_pages(pages).toPandas()
    W: dict[tuple[int, int], int] = {}
    for r in url_edges.itertuples():
        hs, hd = urlparse(r.src_url).netloc, urlparse(r.dst_url).netloc
        if hs != hd:
            W[(hid[hs], hid[hd])] = W.get((hid[hs], hid[hd]), 0) + 1
    n = len(hosts)
    wsum = np.zeros(n)
    for (s, _), w in W.items():
        wsum[s] += w
    rank = np.full(n, 1.0 / n)
    for _ in range(3):
        dm = rank[wsum == 0].sum()
        nxt = np.full(n, 0.15 / n + 0.85 * dm / n)
        for (s, d), w in W.items():
            nxt[d] += 0.85 * rank[s] * (w / wsum[s])
        rank = nxt
    for v, r in got.items():
        assert r == _pytest.approx(rank[v], abs=1e-12)
    assert sum(got.values()) == _pytest.approx(1.0, abs=1e-9)
    g.unpersist()
    hg.unpersist()


def test_assign_ordered_ids_sorted_dense_p_independent(spark):
    from linkgraph.build import assign_ordered_ids

    urls = spark.createDataFrame(
        pd.DataFrame({"url": [f"u{i:03d}" for i in range(101, 0, -1)]})
    )
    a = assign_ordered_ids(urls, start=10, num_partitions=3).toPandas()
    b = assign_ordered_ids(urls, start=10, num_partitions=8).toPandas()
    want = {f"u{i:03d}": 10 + i - 1 for i in range(1, 102)}  # sorted order
    assert dict(zip(a["url"], a["id"])) == want
    assert dict(zip(b["url"], b["id"])) == want  # P-independent


def test_update_graph_equals_full_rebuild(spark):
    """Incremental crawl merge == full rebuild of the merged snapshot,
    compared at the url level (edge set exact, pagerank allclose), and
    surviving urls keep their ids."""
    import pytest as _pytest

    from linkgraph.build import update_graph
    from linkgraph.kernels import pagerank

    snap1 = generate_pages(PagesSpec(n_pages=80, seed=3))
    # re-crawl of the first 40 urls with different link structure, via
    # a different seed at n_pages=40 (urls are position-derived)
    snap2 = generate_pages(PagesSpec(n_pages=40, seed=11))
    assert set(snap2["url"]) <= set(snap1["url"])

    g1 = build_graph_from_pages(spark.createDataFrame(snap1), num_partitions=4)
    old_ids = {r["url"]: r["id"] for r in g1.vertices.collect()}
    g2 = update_graph(g1, spark.createDataFrame(snap2), num_partitions=4)

    merged = pd.concat(
        [snap2, snap1[~snap1["url"].isin(set(snap2["url"]))]]
    ).reset_index(drop=True)
    gf = build_graph_from_pages(spark.createDataFrame(merged), num_partitions=4)

    def url_edges(g):
        v = g.vertices
        return {
            (r["su"], r["du"])
            for r in g.edges.join(
                v.withColumnRenamed("id", "src").withColumnRenamed("url", "su"), "src"
            )
            .join(
                v.withColumnRenamed("id", "dst").withColumnRenamed("url", "du"), "dst"
            )
            .collect()
        }

    assert url_edges(g2) == url_edges(gf)
    assert g2.n == gf.n and g2.m == gf.m

    # id stability: every pre-existing url keeps its id; new ids are
    # dense above the old max, in url order
    new_ids = {r["url"]: r["id"] for r in g2.vertices.collect()}
    for u, i in old_ids.items():
        assert new_ids[u] == i
    novel = sorted(set(new_ids) - set(old_ids))
    assert [new_ids[u] for u in novel] == list(
        range(len(old_ids), len(old_ids) + len(novel))
    )

    # semantics carry to the kernels: pagerank per url matches
    pr2 = {r["id"]: r["rank"] for r in pagerank(g2, tol=0.0, max_iter=5).df.collect()}
    prf = {r["id"]: r["rank"] for r in pagerank(gf, tol=0.0, max_iter=5).df.collect()}
    fid = {r["url"]: r["id"] for r in gf.vertices.collect()}
    for u, i in new_ids.items():
        assert pr2[i] == _pytest.approx(prf[fid[u]], abs=1e-12)

    # replace semantics: a re-crawled page's OLD edges are gone
    snap2_edges = expected_edges(snap2)
    for su, du in url_edges(g2):
        if su in set(snap2["url"]):
            assert (su, du) in snap2_edges
    for g in (g1, g2, gf):
        g.unpersist()


def test_update_graph_requires_url_vertices(spark):
    import pytest as _pytest

    from linkgraph.build import update_graph

    edges = spark.createDataFrame(pd.DataFrame({"src": [0], "dst": [1]}))
    g = build_graph_from_edges(edges, n=2)
    pages = spark.createDataFrame(generate_pages(PagesSpec(n_pages=4)))
    with _pytest.raises(ValueError):
        update_graph(g, pages)
    g.unpersist()


def test_relabel_by_degree_matches_rank(spark):
    """new_id must equal the global (deg DESC, id ASC) rank — a pure
    function of the degree table — and be P-independent."""
    from linkgraph.build import relabel_by_degree
    from linkgraph.datagen import rmat_edges

    pdf = rmat_edges(scale=6, edge_factor=4, seed=11)
    g = build_graph_from_edges(spark.createDataFrame(pdf), num_partitions=4)
    for order, col in (("total", None), ("out", "out_deg"), ("in", "in_deg")):
        m3 = relabel_by_degree(g, order=order, num_partitions=3).toPandas()
        m8 = relabel_by_degree(g, order=order, num_partitions=8).toPandas()
        deg = g.degrees.toPandas()
        want_deg = (
            deg["out_deg"] + deg["in_deg"] if col is None else deg[col]
        )
        ranked = (
            deg.assign(d=want_deg)
            .sort_values(["d", "id"], ascending=[False, True], kind="mergesort")
            .reset_index(drop=True)
        )
        want = {int(r.id): i for i, r in enumerate(ranked.itertuples())}
        got3 = dict(zip(m3["id"].astype(int), m3["new_id"].astype(int)))
        got8 = dict(zip(m8["id"].astype(int), m8["new_id"].astype(int)))
        assert got3 == want
        assert got8 == want  # P-independent
        assert sorted(m3["new_id"]) == list(range(len(m3)))  # dense
        # hubs land at the low end
        by_new = m3.sort_values("new_id")["deg"].to_numpy()
        assert (by_new[:-1] >= by_new[1:]).all()
    g.unpersist()


def test_relabel_edges_is_isomorphism(spark):
    """Relabeled graph is isomorphic: same n/m, and pagerank scores
    transport through the mapping (allclose 1e-12)."""
    import numpy as np

    from linkgraph.build import relabel_by_degree, relabel_edges
    from linkgraph.datagen import rmat_edges
    from linkgraph.kernels.pagerank import pagerank

    pdf = rmat_edges(scale=5, edge_factor=4, seed=3)
    g = build_graph_from_edges(spark.createDataFrame(pdf), num_partitions=4)
    mapping = relabel_by_degree(g)
    new_edges = relabel_edges(g, mapping)
    g2 = build_graph_from_edges(
        new_edges, n=g.n, num_partitions=4, assume_deduped=True
    )
    assert g2.m == g.m
    pr1 = pagerank(g, max_iter=10).df.toPandas()
    pr2 = pagerank(g2, max_iter=10).df.toPandas()
    mp = dict(zip(mapping.toPandas()["id"], mapping.toPandas()["new_id"]))
    s1 = {mp[int(r.id)]: r.rank for r in pr1.itertuples()}
    s2 = {int(r.id): r.rank for r in pr2.itertuples()}
    assert set(s1) == set(s2)
    a = np.array([s1[k] for k in sorted(s1)])
    b = np.array([s2[k] for k in sorted(s2)])
    assert np.allclose(a, b, atol=1e-12)
    mapping.unpersist()
    g.unpersist()
    g2.unpersist()


def test_relabel_by_degree_rejects_bad_order(spark):
    import pytest as _pytest

    from linkgraph.build import relabel_by_degree

    edges = spark.createDataFrame(pd.DataFrame({"src": [0], "dst": [1]}))
    g = build_graph_from_edges(edges, n=2)
    with _pytest.raises(ValueError):
        relabel_by_degree(g, order="degree")
    g.unpersist()


def test_adjacency_gap_stats_matches_replay_and_improves(spark):
    """Gap-bit totals == a Python replay; a clustered layout costs
    fewer bits than a scattered one (the WebGraph locality claim on a
    constructed example)."""
    from linkgraph.build import adjacency_gap_stats

    edges = [(0, 1), (0, 2), (0, 100), (5, 6), (5, 64)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["src", "dst"]))
    row = adjacency_gap_stats(df, "t").collect()[0]
    adj = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    bits = 0
    for s, ds in adj.items():
        ds.sort()
        gaps = [ds[0] + 1] + [b - a for a, b in zip(ds, ds[1:])]
        bits += sum(g.bit_length() for g in gaps)
    assert (row["n_lists"], row["n_edges"], row["total_gap_bits"]) == (
        len(adj), len(edges), bits
    )
    # clustered neighbors beat scattered ones at equal degree
    near = spark.createDataFrame(
        pd.DataFrame([(0, 1), (0, 2), (0, 3)], columns=["src", "dst"])
    )
    far = spark.createDataFrame(
        pd.DataFrame([(0, 100), (0, 900), (0, 500)], columns=["src", "dst"])
    )
    b_near = adjacency_gap_stats(near, "n").collect()[0]["total_gap_bits"]
    b_far = adjacency_gap_stats(far, "f").collect()[0]["total_gap_bits"]
    assert b_near < b_far


def test_edge_diff_and_degree_delta_match_set_replay(spark):
    """Snapshot diff ops: set-based replay, duplicate rows collapse,
    unchanged vertices absent from degree_delta."""
    from linkgraph.build import degree_delta, edge_diff

    old = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    new = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 4), (4, 0), (3, 0)], "src long, dst long"
    )
    diff = {
        (r["src"], r["dst"]): r["change"]
        for r in edge_diff(old, new).collect()
    }
    assert diff == {(2, 3): "removed", (2, 4): "added", (4, 0): "added"}

    dd = {r["id"]: (r["d_out"], r["d_in"]) for r in degree_delta(old, new).collect()}
    # vertex 2: out 1->1, in 1->1 (unchanged, absent); vertex 3: out
    # 1->1 BUT in 1->0; vertex 4: out 0->1, in 0->1; vertex 0: in 1->2
    assert 2 not in dd and 1 not in dd
    assert dd[3] == (0, -1)
    assert dd[4] == (1, 1)
    assert dd[0] == (0, 1)
