"""Kernel correctness vs driver-side oracles on the FIXTURES.md §2
fixtures: test-graph.input parity, path graph, rMAT, web-sample,
asymmetric-pin."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from linkgraph.build import build_graph_from_edges, build_graph_from_pages
from linkgraph.datagen import (
    PagesSpec,
    asymmetric_pin_edges,
    generate_pages,
    parse_adjacency_graph,
    path_graph_edges,
    rmat_edges,
)
from linkgraph.kernels import (
    bfs,
    connected_components,
    label_propagation,
    pagerank,
    pagerank_delta,
    triangle_count,
)
from tests.oracles import (
    bfs_levels_numpy,
    cc_directed_hashmin_numpy,
    cc_numpy,
    labelprop_numpy,
    pagerank_delta_numpy,
    pagerank_numpy,
    triangle_count_numpy,
)

# FIXTURES.md §2a: the reference's test-graph.input (4 nodes, edges
# {0→1, 2→3}), vendored as AdjacencyGraph text
REFERENCE_FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "test-graph.input")


def _graph(spark, edges_pdf: pd.DataFrame, n: int):
    return build_graph_from_edges(
        spark.createDataFrame(edges_pdf, "src long, dst long"), n=n, num_partitions=4
    )


@pytest.fixture(scope="module")
def rmat_graph(spark):
    pdf = rmat_edges(scale=6, edge_factor=6)
    n = 1 << 6
    g = _graph(spark, pdf, n)
    yield g, pdf, n
    g.unpersist()


def test_testgraph_input_parity(spark):
    with open(REFERENCE_FIXTURE) as f:
        pdf = parse_adjacency_graph(f.read())
    assert {(r.src, r.dst) for r in pdf.itertuples()} == {(0, 1), (2, 3)}
    g = _graph(spark, pdf, 4)
    # CC labels [0,0,2,2] (FIXTURES.md §2a) — directed and symmetrized agree
    for sym in (True, False):
        res = connected_components(g, symmetrize_edges=sym)
        comp = {r["id"]: r["comp"] for r in res.df.collect()}
        assert comp == {0: 0, 1: 0, 2: 2, 3: 2}
    # BFS from 0 reaches {0,1}
    levels = {r["id"]: r["level"] for r in bfs(g, 0).df.collect()}
    assert levels == {0: 0, 1: 1}
    # triangles = 0
    assert triangle_count(g).count == 0
    g.unpersist()


def test_path_graph_edge_map_semantics(spark):
    """The reference's operator test (ligra.rs:350-370): frontier {1} on
    0→1→2→3 must touch exactly edge (1,2) and produce frontier {2}."""
    from pyspark.sql import functions as F

    from linkgraph.frontier import edge_map

    g = _graph(spark, path_graph_edges(), 4)
    frontier = spark.createDataFrame([(1,)], "id long")
    out = edge_map(g, frontier, aggs=[F.min("src").alias("parent")])
    rows = out.collect()
    assert [(r["dst"], r["parent"]) for r in rows] == [(2, 1)]
    g.unpersist()


def test_pagerank_matches_numpy(rmat_graph):
    g, pdf, n = rmat_graph
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    res = pagerank(g, tol=1e-6, max_iter=60)
    expected, it = pagerank_numpy(n, src, dst, tol=1e-6, max_iter=60)
    got = res.df.toPandas().sort_values("id")["rank"].to_numpy()
    assert res.iterations == it
    np.testing.assert_allclose(got, expected, atol=1e-9)


def test_pagerank_dangling_mass_conserved(spark):
    # star with a dangling sink: 0→1, 2→1 ; vertex 1 has no out-edges
    g = _graph(spark, pd.DataFrame({"src": [0, 2], "dst": [1, 1]}), 3)
    res = pagerank(g, tol=1e-10, max_iter=200)
    ranks = res.df.toPandas().sort_values("id")["rank"].to_numpy()
    expected, _ = pagerank_numpy(
        3, np.array([0, 2]), np.array([1, 1]), tol=1e-10, max_iter=200
    )
    np.testing.assert_allclose(ranks, expected, atol=1e-12)
    assert abs(ranks.sum() - 1.0) < 1e-9  # dangling mass keeps ||r||₁ = 1
    g.unpersist()


def test_pagerank_delta_matches_reference_transcription(rmat_graph):
    g, pdf, n = rmat_graph
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    res = pagerank_delta(g, max_iterations=20)
    expected = pagerank_delta_numpy(n, src, dst, max_iterations=20)
    got = res.df.toPandas().sort_values("id")["rank"].to_numpy()
    np.testing.assert_allclose(got, expected, atol=1e-12)


def test_pagerank_delta_multi_round_frontier_survives(spark):
    """The q_pagerank_delta_multi fixture (edges 0→1, 0→2, 1→2; n=3)
    must keep vertex 0 active past round 0 (quirk 1: 1/3 > 2·0.15+0.01)
    so the LOOP BODY executes a sparse-frontier round — the driver
    oracle for the multi-round path depends on exactly this 2-round
    trajectory."""
    pdf = pd.DataFrame({"src": [0, 0, 1], "dst": [1, 2, 2]})
    g = _graph(spark, pdf, 3)
    res = pagerank_delta(g, max_iterations=8)
    assert res.rounds == 2  # round 0 + ONE real loop round, then error<tol
    expected = pagerank_delta_numpy(
        3, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), max_iterations=8
    )
    got = res.df.toPandas().sort_values("id")["rank"].to_numpy()
    np.testing.assert_allclose(got, expected, atol=1e-12)
    # the loop round really changed ranks (round-0 values differ)
    assert abs(got[2] - 0.575) > 1e-3
    g.unpersist()


def test_cc_matches_union_find(rmat_graph):
    g, pdf, n = rmat_graph
    res = connected_components(g)
    got = res.df.toPandas().sort_values("id")["comp"].to_numpy()
    expected = cc_numpy(n, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    np.testing.assert_array_equal(got, expected)


def test_cc_asymmetric_pin(spark):
    """SURVEY §2.5(4): directed hash-min != undirected CC on {1→0, 2→1}."""
    pdf = asymmetric_pin_edges()
    g = _graph(spark, pdf, 4)
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    undirected = connected_components(g, symmetrize_edges=True)
    got_u = undirected.df.toPandas().sort_values("id")["comp"].to_numpy()
    np.testing.assert_array_equal(got_u, cc_numpy(4, src, dst))  # [0,0,0,3]
    directed = connected_components(g, symmetrize_edges=False)
    got_d = directed.df.toPandas().sort_values("id")["comp"].to_numpy()
    np.testing.assert_array_equal(got_d, cc_directed_hashmin_numpy(4, src, dst))
    assert not (got_u == got_d).all()  # they genuinely differ here
    g.unpersist()


def test_bfs_levels_match(rmat_graph):
    g, pdf, n = rmat_graph
    res = bfs(g, root=0)
    got = {r["id"]: r["level"] for r in res.df.collect()}
    assert got == bfs_levels_numpy(n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), 0)
    # every non-root parent is a vertex one level up with an edge to the child
    parents = {r["id"]: r["parent"] for r in res.df.collect()}
    edge_set = {(r.src, r.dst) for r in pdf.itertuples()}
    for v, p in parents.items():
        if v != 0:
            assert (p, v) in edge_set
            assert got[p] == got[v] - 1


def test_labelprop_matches_numpy(rmat_graph):
    g, pdf, n = rmat_graph
    res = label_propagation(g, max_iter=5)
    got = res.df.toPandas().sort_values("id")["label"].to_numpy()
    expected = labelprop_numpy(n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), max_iter=5)
    np.testing.assert_array_equal(got, expected)


def test_triangles_match(rmat_graph):
    g, pdf, n = rmat_graph
    got = triangle_count(g).count
    expected = triangle_count_numpy(n, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert got == expected > 0


def test_web_sample_end_to_end(spark):
    """pages → extract → build → pagerank + cc on the web-sample fixture
    (Zipf hub skew + dangling pages)."""
    pages_pdf = generate_pages(PagesSpec(n_pages=120))
    g = build_graph_from_pages(spark.createDataFrame(pages_pdf), num_partitions=4)
    # oracle graph from the golden edges with the engine's own id mapping
    v = {r["url"]: r["id"] for r in g.vertices.collect()}
    from linkgraph.datagen import expected_edges

    golden = expected_edges(pages_pdf)
    src = np.array([v[s] for s, _ in golden])
    dst = np.array([v[d] for _, d in golden])
    res = pagerank(g, tol=1e-6, max_iter=100)
    expected, it = pagerank_numpy(g.n, src, dst, tol=1e-6, max_iter=100)
    got = res.df.toPandas().sort_values("id")["rank"].to_numpy()
    assert res.iterations == it
    np.testing.assert_allclose(got, expected, atol=1e-9)

    comp = connected_components(g).df.toPandas().sort_values("id")["comp"].to_numpy()
    np.testing.assert_array_equal(comp, cc_numpy(g.n, src, dst))
    g.unpersist()


def test_cc_takes_both_directions_in_one_run(spark, monkeypatch):
    """Direction dispatch is live (ligra.rs:58-88): a clique's full
    round-0 frontier exceeds |E|/20 -> dense-pull; once the clique
    settles, only a hanging path's tail keeps changing -> frontier
    volume drops under the threshold -> sparse-push. One run, both
    paths, result still exact. (The r6 small-graph dense override is
    disabled here so the reference rule itself stays pinned; by
    default graphs under LINKGRAPH_DENSE_CHAIN_EDGES run all-dense
    chains — same results, no per-round broadcast.)"""
    monkeypatch.setenv("LINKGRAPH_DENSE_CHAIN_EDGES", "0")
    clique = [(i, j) for i in range(20) for j in range(20) if i != j]
    tail = [(i, i + 1) for i in range(19, 30)]
    pdf = pd.DataFrame(clique + tail, columns=["src", "dst"])
    g = _graph(spark, pdf, 31)
    res = connected_components(g)
    modes = {m["mode"] for m in res.metrics}
    assert modes == {"dense-pull", "sparse-push"}, res.metrics
    # the mode follows the chain-start estimate dispatch used
    for m in res.metrics:
        assert (m["mode"] == "dense-pull") == (m["dispatch_volume"] > g.threshold), m
    got = res.df.toPandas().sort_values("id")["comp"].to_numpy()
    expected = cc_numpy(31, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    np.testing.assert_array_equal(got, expected)
    g.unpersist()


def test_bfs_records_dispatch_mode(rmat_graph):
    g, pdf, n = rmat_graph
    res = bfs(g, root=0)
    assert all(m["mode"] in ("dense-pull", "sparse-push") for m in res.metrics)
    # the wide middle rounds of this small-diameter graph go dense
    assert "dense-pull" in {m["mode"] for m in res.metrics}


def test_pagerank_check_every_parity(rmat_graph):
    """check_every=K chains K rounds per job with in-plan dangling
    mass; executed-iteration ranks must be bit-comparable to the
    round-per-job path (same recurrence, same float op order); the
    salted gather's match up to summation order."""
    from linkgraph.kernels import pagerank

    g, _, _ = rmat_graph
    base = pagerank(g, tol=0.0, max_iter=6).df.orderBy("id").toPandas()
    blocked = pagerank(g, tol=0.0, max_iter=6, check_every=3)
    got = blocked.df.orderBy("id").toPandas()
    assert blocked.iterations == 6
    # execution chains whole blocks (r6): every executed round is
    # accounted exactly once across the chain records
    assert sum(m["iterations_in_block"] for m in blocked.metrics) == 6
    np.testing.assert_allclose(got["rank"], base["rank"], atol=1e-15, rtol=0)
    # salted gather: GROUP BY (dst, pmod(src, salt)) first, then dst
    salted = pagerank(g, tol=0.0, max_iter=6, salt=4).df.orderBy("id").toPandas()
    np.testing.assert_allclose(salted["rank"], base["rank"], atol=1e-15, rtol=0)

    # convergence detection at block boundaries: tol reached mid-block
    # -> stops at the block end with converged=True
    conv = pagerank(g, tol=1e-3, max_iter=40, check_every=4)
    assert conv.converged
    assert conv.iterations % 4 == 0


def test_msbfs_matches_per_source_bfs(rmat_graph):
    """One msbfs run over 4 lanes == 4 independent NumPy BFS runs:
    (id, source, dist) agrees lane-by-lane, so the composite combine
    key (frontier.py group_extra) and per-lane cond() are exact."""
    from linkgraph.kernels import msbfs

    g, pdf, n = rmat_graph
    sources = [0, 1, 5, 9]
    res = msbfs(g, sources)
    got = {(r["id"], r["source"]): r["dist"] for r in res.df.collect()}
    expected = {}
    for s in sources:
        for v, lvl in bfs_levels_numpy(
            n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), s
        ).items():
            expected[(v, s)] = lvl
    assert got == expected


def test_harmonic_centrality_path_graph(spark):
    """Exact harmonic centrality on an undirected 4-path with all
    vertices as sources: ends get 1 + 1/2 + 1/3, middles 2 + 1/2."""
    from linkgraph.kernels import harmonic_centrality

    pdf = pd.DataFrame(
        {"src": [0, 1, 1, 2, 2, 3], "dst": [1, 0, 2, 1, 3, 2]}
    )
    g = _graph(spark, pdf, 4)
    got = {
        r["id"]: (r["harmonic"], r["reached"])
        for r in harmonic_centrality(g, [0, 1, 2, 3]).collect()
    }
    end = round(1 + 1 / 2 + 1 / 3, 9)
    mid = round(1 + 1 + 1 / 2, 9)
    assert got == {0: (end, 3), 1: (mid, 3), 2: (mid, 3), 3: (end, 3)}


def test_kcore_matches_numpy_peeling(rmat_graph):
    from linkgraph.build import symmetrize
    from linkgraph.kernels import kcore
    from tests.oracles import kcore_numpy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    sym_pdf = gs.edges.toPandas()
    for k in (2, 4):
        got = {r["id"]: r["deg"] for r in kcore(gs, k).df.collect()}
        assert got == kcore_numpy(
            n, sym_pdf["src"].to_numpy(), sym_pdf["dst"].to_numpy(), k
        )
    gs.unpersist()


def test_kcore_cascade_peels_in_rounds(spark):
    """Triangle + 2-tail: round 1 peels the leaf, round 2 the now-
    exposed tail vertex, round 3 is the fixpoint — the cascade (not
    just the first sweep) must execute."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import kcore

    e = pd.DataFrame({"src": [0, 1, 2, 2, 3], "dst": [1, 2, 0, 3, 4]})
    g = build_graph_from_edges(
        symmetrize(spark.createDataFrame(e, "src long, dst long")),
        num_partitions=2,
    )
    r = kcore(g, 2)
    assert {x["id"]: x["deg"] for x in r.df.collect()} == {0: 2, 1: 2, 2: 2}
    assert [m["removed"] for m in r.metrics] == [1, 1, 0]
    g.unpersist()


def test_coreness_matches_sequential_peeling(rmat_graph):
    """Parallel bucket peeling must equal the Batagelj-Zaveršnik
    sequential min-degree algorithm vertex-for-vertex, and the
    degeneracy must be the max core."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coreness
    from tests.oracles import coreness_numpy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    sym_pdf = gs.edges.toPandas()
    res = coreness(gs)
    got = {r["id"]: r["core"] for r in res.df.collect()}
    assert got == coreness_numpy(
        sym_pdf["src"].to_numpy(), sym_pdf["dst"].to_numpy()
    )
    assert res.degeneracy == max(got.values())
    gs.unpersist()


def test_coreness_consistent_with_fixed_k_kernel(rmat_graph):
    """Contract: kcore(g, k) membership == {v : coreness(g) >= k}."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coreness, kcore

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    cores = {r["id"]: r["core"] for r in coreness(gs).df.collect()}
    for k in (2, 4):
        want = {v for v, c in cores.items() if c >= k}
        assert {r["id"] for r in kcore(gs, k).df.collect()} == want
    gs.unpersist()


def test_coreness_triangle_with_tail(spark):
    """Triangle 0-1-2 with tail 2-3-4: level 1 peels the leaf, the
    cascade peels the exposed tail vertex at the SAME level, then the
    level jumps to 2 and the triangle goes at once."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coreness

    e = pd.DataFrame({"src": [0, 1, 2, 2, 3], "dst": [1, 2, 0, 3, 4]})
    g = build_graph_from_edges(
        symmetrize(spark.createDataFrame(e, "src long, dst long")),
        num_partitions=2,
    )
    res = coreness(g)
    assert {r["id"]: r["core"] for r in res.df.collect()} == {
        0: 2, 1: 2, 2: 2, 3: 1, 4: 1
    }
    assert res.degeneracy == 2
    assert [(m["level"], m["peeled"]) for m in res.metrics] == [
        (1, 1), (1, 1), (2, 3)
    ]
    g.unpersist()


def test_coreness_path_all_core_one(spark):
    """A path is 1-degenerate: every vertex core 1, endpoints peel
    first, the surviving edge pair goes in round 2."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coreness

    e = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    g = build_graph_from_edges(
        symmetrize(spark.createDataFrame(e, "src long, dst long")),
        num_partitions=2,
    )
    res = coreness(g)
    assert {r["id"]: r["core"] for r in res.df.collect()} == {
        0: 1, 1: 1, 2: 1, 3: 1
    }
    assert res.iterations == 2
    g.unpersist()


def test_radii_path_graph(spark):
    """4-path, sources {0, 1}: ecc(0)=3, ecc(1)=2, each reaching all 4
    vertices (self at dist 0 included in `reached`)."""
    from linkgraph.kernels import radii

    pdf = pd.DataFrame(
        {"src": [0, 1, 1, 2, 2, 3], "dst": [1, 0, 2, 1, 3, 2]}
    )
    g = _graph(spark, pdf, 4)
    got = {r["source"]: (r["ecc"], r["reached"]) for r in radii(g, [0, 1]).collect()}
    assert got == {0: (3, 4), 1: (2, 4)}


def test_betweenness_matches_brandes(rmat_graph):
    from linkgraph.build import symmetrize
    from linkgraph.kernels import betweenness
    from tests.oracles import betweenness_numpy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    sym_pdf = gs.edges.toPandas()
    sources = [0, 1, 5, 9]
    got = {r["id"]: r["bc"] for r in betweenness(gs, sources).df.collect()}
    want = betweenness_numpy(
        n, sym_pdf["src"].to_numpy(), sym_pdf["dst"].to_numpy(), sources
    )
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])
    gs.unpersist()


def test_sssp_matches_dijkstra(rmat_graph):
    """Weighted Bellman-Ford vs Dijkstra on rMAT with deterministic
    integer weights w = 1 + (src+dst) % 5."""
    from linkgraph.kernels import sssp
    from tests.oracles import sssp_numpy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    wpdf = g.edges.toPandas()
    wpdf["w"] = (1 + (wpdf["src"] + wpdf["dst"]) % 5).astype(float)
    weights = spark.createDataFrame(wpdf, "src long, dst long, w double")
    res = sssp(g, root=0, weights=weights)
    got = {r["id"]: r["dist"] for r in res.df.collect()}
    want = sssp_numpy(
        n,
        wpdf["src"].to_numpy(),
        wpdf["dst"].to_numpy(),
        wpdf["w"].to_numpy(),
        0,
    )
    assert got == want


def test_sssp_unweighted_equals_bfs_levels(rmat_graph):
    from linkgraph.kernels import sssp

    g, pdf, n = rmat_graph
    got = {r["id"]: r["dist"] for r in sssp(g, root=0).df.collect()}
    want = {
        v: float(l)
        for v, l in bfs_levels_numpy(
            n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), 0
        ).items()
    }
    assert got == want


def test_mis_matches_sequential_greedy(rmat_graph):
    """Parallel priority-greedy MIS == sequential greedy in key order
    (Blelloch/Fineman/Shun SPAA'12), + independence and maximality
    checked structurally."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import mis
    from tests.oracles import mis_greedy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    res = mis(gs)
    got = {r["id"] for r in res.df.collect()}
    verts = [r["id"] for r in gs.vertices.collect()]
    sym_pdf = gs.edges.toPandas()
    edges = set(zip(sym_pdf["src"].tolist(), sym_pdf["dst"].tolist()))
    assert got == mis_greedy(verts, sym_pdf["src"].to_numpy(), sym_pdf["dst"].to_numpy())
    # independence: no edge inside the set
    assert not any((u, v) in edges for u in got for v in got if u != v)
    # maximality: every non-member has a member neighbor
    nbr_in_set = {u for (u, v) in edges if v in got}
    assert all(v in nbr_in_set for v in verts if v not in got)
    assert res.iterations >= 1
    gs.unpersist()


def test_mis_path_graph_and_isolated(spark):
    """Path 0-1-2-3-4 (symmetrized) + isolated vertex 9: the greedy
    key-order fixpoint, with the isolated vertex always a member."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import mis
    from tests.oracles import mis_greedy

    edges = pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 2, 3, 4]})
    sym = symmetrize(spark.createDataFrame(edges, "src long, dst long"))
    g = build_graph_from_edges(sym, num_partitions=2)
    # graft an isolated vertex onto the vertex relation
    from pyspark.sql import functions as F

    g.vertices = g.vertices.union(
        spark.createDataFrame([(9,)], "id long").select(F.col("id"))
    )
    res = mis(g)
    got = {r["id"] for r in res.df.collect()}
    want = mis_greedy(
        [0, 1, 2, 3, 4, 9],
        np.array([0, 1, 2, 3, 1, 2, 3, 4]),
        np.array([1, 2, 3, 4, 0, 1, 2, 3]),
    )
    assert got == want
    assert 9 in got
    g.unpersist()


def test_coloring_matches_sequential_greedy(rmat_graph):
    """Iterated-MIS (Luby) coloring == sequential layer-by-layer replay
    of greedy MIS in key order; properness checked structurally."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coloring
    from tests.oracles import coloring_layered

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    res = coloring(gs)
    got = {r["id"]: r["color"] for r in res.df.collect()}
    verts = [r["id"] for r in gs.vertices.collect()]
    sym_pdf = gs.edges.toPandas()
    want = coloring_layered(verts, sym_pdf["src"].to_numpy(), sym_pdf["dst"].to_numpy())
    assert got == want
    # properness: no edge joins two same-colored vertices
    assert not any(
        got[u] == got[v]
        for u, v in zip(sym_pdf["src"].tolist(), sym_pdf["dst"].tolist())
    )
    # maximality of each layer bounds colors by Δ+1
    max_deg = sym_pdf.groupby("src").size().max()
    assert res.colors_used <= max_deg + 1
    gs.unpersist()


def test_coloring_star_and_triangle(spark):
    """Star K1,4 colors with 2 colors; a triangle needs exactly 3 —
    both must equal the sequential layered replay."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import coloring
    from tests.oracles import coloring_layered

    edges = pd.DataFrame(
        {"src": [0, 0, 0, 0, 5, 6, 5], "dst": [1, 2, 3, 4, 6, 7, 7]}
    )
    sym = symmetrize(spark.createDataFrame(edges, "src long, dst long"))
    g = build_graph_from_edges(sym, num_partitions=2)
    res = coloring(g)
    got = {r["id"]: r["color"] for r in res.df.collect()}
    sp = sym.toPandas()
    want = coloring_layered(
        sorted(got), sp["src"].to_numpy(), sp["dst"].to_numpy()
    )
    assert got == want
    assert len({got[1], got[2], got[3], got[4]}) == 1  # leaves share a color
    assert len({got[5], got[6], got[7]}) == 3  # triangle: all distinct
    g.unpersist()


def test_anf_sketches_match_fm_replay(rmat_graph):
    """FM sketch propagation is bit-exact vs the python replay, the
    convergence Observation stops at the true fixpoint, and the float
    estimate lands within 2x of the exact reach count (K=8 registers)."""
    from linkgraph.kernels import anf, effective_diameter
    from tests.oracles import anf_fm_sketches, bfs_levels_numpy

    g, pdf, n = rmat_graph
    res = anf(g)
    verts = [r["id"] for r in g.vertices.collect()]
    want, rounds = anf_fm_sketches(
        verts, pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    )
    got = {
        r["id"]: [r[f"m{k}"] for k in range(8)] for r in res.df.collect()
    }
    assert got == want
    assert res.iterations == rounds
    # nf estimates are monotone non-decreasing
    assert all(a <= b + 1e-9 for a, b in zip(res.nf, res.nf[1:]))
    # estimate quality: final N(infinity) within 2x of the exact value
    exact = sum(
        len(bfs_levels_numpy(n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), v))
        for v in verts
    )
    assert exact / 2 <= res.nf[-1] <= exact * 2
    assert 0 <= effective_diameter(res) <= res.iterations


def test_hits_matches_numpy(rmat_graph):
    """hub/auth trajectories equal the NumPy replay at float tolerance,
    convergence round included; edgeless graph converges to zeros."""
    from linkgraph.kernels import hits
    from tests.oracles import hits_numpy

    g, pdf, n = rmat_graph
    res = hits(g, tol=1e-6, max_iter=30)
    want_hub, want_auth, rounds = hits_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), tol=1e-6, max_iter=30
    )
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.df.collect()}
    assert res.iterations == rounds
    for v, (h, a) in got.items():
        assert h == pytest.approx(want_hub[v], abs=1e-9)
        assert a == pytest.approx(want_auth[v], abs=1e-9)
    # L2 norms are 1 after convergence (non-empty edge set)
    assert sum(h * h for h, _ in got.values()) == pytest.approx(1.0, rel=1e-9)
    assert sum(a * a for _, a in got.values()) == pytest.approx(1.0, rel=1e-9)


def test_hits_star_graph(spark):
    """Star 0->{1,2,3}: vertex 0 is the only hub (score 1), leaves are
    equal authorities at 1/sqrt(3)."""
    from linkgraph.kernels import hits

    edges = pd.DataFrame({"src": [0, 0, 0], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = hits(g, max_iter=10)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.df.collect()}
    assert got[0][0] == pytest.approx(1.0)
    assert got[0][1] == pytest.approx(0.0)
    for v in (1, 2, 3):
        assert got[v][0] == pytest.approx(0.0)
        assert got[v][1] == pytest.approx(1.0 / np.sqrt(3.0))
    g.unpersist()


def test_katz_matches_numpy(rmat_graph):
    """Katz trajectory equals the NumPy replay at float tolerance,
    convergence round included."""
    from linkgraph.kernels import katz
    from tests.oracles import katz_numpy

    g, pdf, n = rmat_graph
    res = katz(g, alpha=0.05, beta=1.0, tol=1e-6, max_iter=60)
    want, rounds = katz_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(),
        alpha=0.05, beta=1.0, tol=1e-6, max_iter=60,
    )
    got = {r["id"]: r["katz"] for r in res.df.collect()}
    assert res.iterations == rounds
    for v, x in got.items():
        assert x == pytest.approx(want[v], abs=1e-9)


def test_katz_path_closed_form(spark):
    """Path 0->1->2 at fixpoint: katz = (1, 1+a, 1+a+a^2); sources get
    exactly beta; bad params raise."""
    from linkgraph.kernels import katz

    edges = pd.DataFrame({"src": [0, 1], "dst": [1, 2]})
    g = _graph(spark, edges, 3)
    a = 0.1
    res = katz(g, alpha=a, beta=1.0, tol=1e-12, max_iter=20)
    assert res.converged
    got = {r["id"]: r["katz"] for r in res.df.collect()}
    assert got[0] == pytest.approx(1.0)
    assert got[1] == pytest.approx(1.0 + a)
    assert got[2] == pytest.approx(1.0 + a + a * a)
    g.unpersist()
    with pytest.raises(ValueError):
        katz(g, alpha=0.0)
    with pytest.raises(ValueError):
        katz(g, beta=-1.0)


def test_salsa_matches_numpy(rmat_graph):
    """hub/auth trajectories equal the NumPy replay at float tolerance,
    convergence round included; scores are L1 distributions."""
    from linkgraph.kernels import salsa
    from tests.oracles import salsa_numpy

    g, pdf, n = rmat_graph
    res = salsa(g, tol=1e-6, max_iter=30)
    want_hub, want_auth, rounds = salsa_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), tol=1e-6, max_iter=30
    )
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.df.collect()}
    assert res.iterations == rounds
    for v, (h, a) in got.items():
        assert h == pytest.approx(want_hub[v], abs=1e-9)
        assert a == pytest.approx(want_auth[v], abs=1e-9)
    # L1-normalized probability vectors
    assert sum(h for h, _ in got.values()) == pytest.approx(1.0, rel=1e-9)
    assert sum(a for _, a in got.values()) == pytest.approx(1.0, rel=1e-9)


def test_salsa_closed_forms(spark):
    """Star 0->{1,2,3}: hub(0)=1, leaves auth 1/3 each. Connected
    co-citation chain {0,3}->{1,2}: the authority fixpoint is the
    classic indeg/m distribution (Lempel-Moran Prop. 2)."""
    from linkgraph.kernels import salsa

    edges = pd.DataFrame({"src": [0, 0, 0], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = salsa(g, max_iter=10)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.df.collect()}
    assert got[0] == (pytest.approx(1.0), pytest.approx(0.0))
    for v in (1, 2, 3):
        assert got[v][0] == pytest.approx(0.0)
        assert got[v][1] == pytest.approx(1.0 / 3.0)
    g.unpersist()

    edges = pd.DataFrame({"src": [0, 0, 3, 3], "dst": [1, 2, 1, 2]})
    g = _graph(spark, edges, 4)
    res = salsa(g, max_iter=20)
    got = {r["id"]: (r["hub"], r["auth"]) for r in res.df.collect()}
    # auth(v) = indeg(v)/m = 2/4; hub(u) = outdeg(u)/m = 2/4
    for v in (1, 2):
        assert got[v][1] == pytest.approx(0.5, abs=1e-9)
    for u in (0, 3):
        assert got[u][0] == pytest.approx(0.5, abs=1e-9)
    g.unpersist()


def test_random_walks_match_replay(rmat_graph):
    """The distributed walk corpus equals the sequential replay
    exactly (same mix hash, same argmin rule), and is deterministic
    across runs; a different seed reshuffles successors."""
    from linkgraph.kernels import random_walks
    from tests.oracles import random_walks_replay

    g, pdf, n = rmat_graph
    starts = [r["id"] for r in g.vertices.collect()]
    res = random_walks(g, length=5, walks_per_vertex=2, seed=7)
    got = {
        (r["start"], r["walk"], r["step"], r["vertex"])
        for r in res.df.collect()
    }
    want = random_walks_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), starts,
        length=5, walks_per_vertex=2, seed=7,
    )
    assert got == want
    # deterministic re-run
    res2 = random_walks(g, length=5, walks_per_vertex=2, seed=7)
    assert {
        (r["start"], r["walk"], r["step"], r["vertex"])
        for r in res2.df.collect()
    } == got
    # another seed changes at least one successor on this graph
    res3 = random_walks(g, length=5, walks_per_vertex=2, seed=8)
    got3 = {
        (r["start"], r["walk"], r["step"], r["vertex"])
        for r in res3.df.collect()
    }
    assert got3 == random_walks_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), starts,
        length=5, walks_per_vertex=2, seed=8,
    )
    assert got3 != got


def test_random_walks_path_and_deadend(spark):
    """On the directed path 0→1→2→3 every walk marches straight and
    stops at the sink; start-3 walks are a single step-0 row."""
    from linkgraph.kernels import random_walks

    edges = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = random_walks(g, length=10, walks_per_vertex=1, seed=0)
    rows = {
        (r["start"], r["step"]): r["vertex"] for r in res.df.collect()
    }
    # walk from 0 visits 0,1,2,3 then stops (sink), never length 10
    for t, v in enumerate([0, 1, 2, 3]):
        assert rows[(0, t)] == v
    assert (0, 4) not in rows
    assert rows[(3, 0)] == 3 and (3, 1) not in rows
    g.unpersist()


def test_neighbor_sample_matches_replay(rmat_graph):
    """The distributed edge blocks equal the sequential replay; a
    vertex with out-degree <= fanout keeps all its edges; per-layer
    kept-count respects the fanout cap."""
    from linkgraph.kernels import neighbor_sample
    from tests.oracles import neighbor_sample_replay

    g, pdf, n = rmat_graph
    seeds = [0, 1, 2, 3, 5, 8, 13, 21]
    res = neighbor_sample(g, seeds, fanouts=[3, 2], seed=7)
    got = {(r["layer"], r["src"], r["dst"]) for r in res.df.collect()}
    want = neighbor_sample_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), seeds, [3, 2], seed=7
    )
    assert got == want
    # fanout cap per (layer, src)
    import collections

    per = collections.Counter((l, s) for l, s, _ in got)
    for (l, _), c in per.items():
        assert c <= (3 if l == 1 else 2)
    # determinism
    res2 = neighbor_sample(g, seeds, fanouts=[3, 2], seed=7)
    assert {(r["layer"], r["src"], r["dst"]) for r in res2.df.collect()} == got


def test_neighbor_sample_small_degree_keeps_all(spark):
    """Star 0->{1,2,3} with fanout 5 keeps every edge; fanout 2 keeps
    exactly the two hash-smallest leaves; layer 2 from the sampled
    leaves is empty (sinks)."""
    from linkgraph.kernels import neighbor_sample
    from tests.oracles import neighbor_sample_replay

    edges = pd.DataFrame({"src": [0, 0, 0], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = neighbor_sample(g, [0], fanouts=[5, 5], seed=0)
    got = {(r["layer"], r["src"], r["dst"]) for r in res.df.collect()}
    assert got == {(1, 0, 1), (1, 0, 2), (1, 0, 3)}
    res2 = neighbor_sample(g, [0], fanouts=[2], seed=0)
    got2 = {(r["layer"], r["src"], r["dst"]) for r in res2.df.collect()}
    assert len(got2) == 2
    assert got2 == neighbor_sample_replay(
        edges["src"].to_numpy(), edges["dst"].to_numpy(), [0], [2], seed=0
    )
    g.unpersist()


def test_negative_sample_matches_replay(rmat_graph):
    """The distributed negative pairs equal the sequential replay; no
    pair is a real edge or a self-loop; at most k per src; slots are
    dense from 0; determinism across invocations; a different seed
    moves the draw."""
    from linkgraph.kernels import negative_sample
    from tests.oracles import negative_sample_replay

    g, pdf, n = rmat_graph
    res = negative_sample(g, k=3, seed=7)
    got = {(r["src"], r["slot"], r["dst"]) for r in res.df.collect()}
    want = negative_sample_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), k=3, seed=7, n=n
    )
    assert got == want
    edge_set = set(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
    import collections

    per = collections.defaultdict(list)
    for s, slot, d in got:
        assert (s, d) not in edge_set and s != d
        per[s].append(slot)
    for s, slots in per.items():
        assert sorted(slots) == list(range(len(slots))) and len(slots) <= 3
    # every positive src (out_deg >= 1) got at least one negative here
    assert set(per) == set(pdf["src"].tolist())
    res2 = negative_sample(g, k=3, seed=7)
    assert {(r["src"], r["slot"], r["dst"]) for r in res2.df.collect()} == got
    res3 = negative_sample(g, k=3, seed=8)
    assert {(r["src"], r["slot"], r["dst"]) for r in res3.df.collect()} != got


def test_negative_sample_dense_adjacency_falls_short(spark):
    """K3 (0,1,2 fully connected): every candidate for src 0 is a
    neighbor or itself, so src 0 gets ZERO negatives; adding an
    isolated vertex 3 makes it the only legal draw for everyone."""
    from linkgraph.kernels import negative_sample
    from tests.oracles import negative_sample_replay

    full = pd.DataFrame(
        {"src": [0, 0, 1, 1, 2, 2], "dst": [1, 2, 0, 2, 0, 1]}
    )
    g = _graph(spark, full, 3)
    res = negative_sample(g, k=2, seed=0)
    assert res.df.count() == 0
    g.unpersist()
    g2 = _graph(spark, full, 4)
    res2 = negative_sample(g2, k=2, seed=0)
    got = {(r["src"], r["slot"], r["dst"]) for r in res2.df.collect()}
    want = negative_sample_replay(
        full["src"].to_numpy(), full["dst"].to_numpy(), k=2, seed=0, n=4
    )
    assert got == want
    assert {d for _, _, d in got} == {3}
    # 3 has out-degree 0 -> not a source
    assert {s for s, _, _ in got} <= {0, 1, 2}
    g2.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        negative_sample(g2, k=0)


def test_condensation_matches_replay(rmat_graph):
    """(level, size) per component equals the Tarjan + longest-path
    DP replay; the condensed edge set is a DAG that matches."""
    from linkgraph.kernels import condensation
    from tests.oracles import condensation_replay

    g, pdf, n = rmat_graph
    verts = [r["id"] for r in g.vertices.collect()]
    res = condensation(g)
    got = {r["scc"]: (r["level"], r["size"]) for r in res.df.collect()}
    want = condensation_replay(
        verts, pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    )
    assert got == want
    assert res.depth == max(l for l, _ in want.values())
    # the condensed edges never point within a component and agree
    # with the replay's label pairs
    from tests.oracles import scc_tarjan

    labels = scc_tarjan(verts, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    want_edges = {
        (labels[s], labels[d])
        for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist())
        if labels[s] != labels[d]
    }
    assert {
        (r["csrc"], r["cdst"]) for r in res.edges.collect()
    } == want_edges


def test_condensation_closed_forms(spark):
    """Two 2-cycles bridged A→B: levels 0 and 1, sizes 2 and 2.
    A directed path condenses to itself: level = position."""
    from linkgraph.kernels import condensation

    edges = pd.DataFrame(
        {"src": [0, 1, 2, 3, 1], "dst": [1, 0, 3, 2, 2]}
    )
    g = _graph(spark, edges, 4)
    res = condensation(g)
    got = {r["scc"]: (r["level"], r["size"]) for r in res.df.collect()}
    assert got == {0: (0, 2), 2: (1, 2)}
    assert res.depth == 1
    g.unpersist()

    edges = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = condensation(g)
    got = {r["scc"]: (r["level"], r["size"]) for r in res.df.collect()}
    assert got == {v: (v, 1) for v in range(4)}
    assert res.depth == 3
    g.unpersist()


def test_modularity_matches_numpy(rmat_graph):
    """Exact and float paths both equal the brute-force replay for the
    labelprop-3 partition of the rMAT graph."""
    from linkgraph.kernels import label_propagation, modularity
    from tests.oracles import modularity_numpy

    g, pdf, n = rmat_graph
    labels_df = label_propagation(g, max_iter=3).df
    labels = {r["id"]: r["label"] for r in labels_df.collect()}
    want = modularity_numpy(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), labels
    )
    row = modularity(g, labels_df).first()
    assert row["q"] == pytest.approx(want, abs=1e-12)
    assert row["m"] == len(pdf)
    row_f = modularity(g, labels_df, exact=False).first()
    assert row_f["q"] == pytest.approx(want, abs=1e-12)


def test_modularity_closed_forms(spark):
    """Two disjoint directed 3-cycles, perfect partition: Q = 1/2.
    All-in-one partition: Q = 0 (the textbook identities)."""
    from pyspark.sql import functions as F

    from linkgraph.kernels import modularity

    edges = pd.DataFrame(
        {"src": [0, 1, 2, 3, 4, 5], "dst": [1, 2, 0, 4, 5, 3]}
    )
    g = _graph(spark, edges, 6)
    perfect = g.vertices.select(
        "id", (F.col("id") / 3).cast("long").alias("label")
    )
    row = modularity(g, perfect).first()
    assert row["q"] == pytest.approx(0.5)
    assert row["communities"] == 2
    assert row["intra_edges"] == 6
    one = g.vertices.select("id", F.lit(0).cast("long").alias("label"))
    assert modularity(g, one).first()["q"] == pytest.approx(0.0)
    g.unpersist()


def test_degree_distribution_matches_numpy(rmat_graph):
    """Histogram equals an int.bit_length replay (deg-0 vertices in
    bin -1, lo/hi are the exact powers of two)."""
    from linkgraph.kernels import degree_distribution

    g, pdf, n = rmat_graph
    got = {
        (r["direction"], r["bin"]): (r["lo"], r["hi"], r["cnt"])
        for r in degree_distribution(g).collect()
    }
    verts = [r["id"] for r in g.vertices.collect()]
    for direction, col in (("out", "src"), ("in", "dst")):
        degs = dict.fromkeys(verts, 0)
        for v in pdf[col].to_numpy():
            degs[v] += 1
        want: dict[int, int] = {}
        for d in degs.values():
            b = d.bit_length() - 1 if d > 0 else -1
            want[b] = want.get(b, 0) + 1
        for b, cnt in want.items():
            lo, hi = (2**b, 2 ** (b + 1) - 1) if b >= 0 else (0, 0)
            assert got[(direction, b)] == (lo, hi, cnt)
        assert sum(c for (dr, _), (_, _, c) in got.items() if dr == direction) == len(
            verts
        )


def test_power_law_alpha_matches_numpy_and_closed_form(rmat_graph, spark):
    """Hill alpha equals the NumPy replay on the rMAT graph; star
    closed form: out alpha = 1 + 1/ln(8), all-at-dmin in-tail -> NULL."""
    import math

    from linkgraph.kernels import power_law_alpha

    g, pdf, n = rmat_graph
    dmin = 2
    got = {r["direction"]: r for r in power_law_alpha(g, dmin=dmin).collect()}
    verts = [r["id"] for r in g.vertices.collect()]
    for direction, col in (("out", "src"), ("in", "dst")):
        degs = dict.fromkeys(verts, 0)
        for v in pdf[col].to_numpy():
            degs[v] += 1
        tail = [d for d in degs.values() if d >= dmin]
        want = 1.0 + len(tail) / sum(math.log(d / dmin) for d in tail)
        assert got[direction]["tail_n"] == len(tail)
        assert got[direction]["alpha"] == pytest.approx(want, abs=1e-9)

    edges = pd.DataFrame({"src": [0] * 8, "dst": list(range(1, 9))})
    star = _graph(spark, edges, 9)
    s = {r["direction"]: r for r in power_law_alpha(star, dmin=1).collect()}
    assert s["out"]["tail_n"] == 1
    assert s["out"]["alpha"] == pytest.approx(1.0 + 1.0 / math.log(8.0))
    assert s["in"]["tail_n"] == 8
    assert s["in"]["alpha"] is None  # every tail degree == dmin -> ln-sum 0
    star.unpersist()
    with pytest.raises(ValueError):
        power_law_alpha(star, dmin=0)


def test_knn_curve_matches_bruteforce_and_star(rmat_graph, spark):
    """k_nn(k) equals a brute-force symmetrized-adjacency replay on
    the rMAT graph (doubles bit-exact: one division of exact int64s),
    and the star closed form: leaves (deg 1) see knn = n-1, the
    center (deg n-1) sees knn = 1."""
    from linkgraph.kernels import knn_curve

    g, pdf, n = rmat_graph
    adj: dict[int, set[int]] = {}
    for s, d in pdf[["src", "dst"]].to_numpy():
        if s == d:
            continue
        adj.setdefault(int(s), set()).add(int(d))
        adj.setdefault(int(d), set()).add(int(s))
    by_deg: dict[int, tuple[int, int]] = {}
    for v, nbrs in adj.items():
        k = len(nbrs)
        s = sum(len(adj[u]) for u in nbrs)
        cnt, tot = by_deg.get(k, (0, 0))
        by_deg[k] = (cnt + 1, tot + s)
    got = {r["deg"]: r for r in knn_curve(g).collect()}
    assert set(got) == set(by_deg)
    for k, (cnt, tot) in by_deg.items():
        assert got[k]["n_vertices"] == cnt
        assert got[k]["sum_nbr_deg"] == tot
        assert got[k]["knn"] == tot / float(k * cnt)  # bit-exact

    edges = pd.DataFrame({"src": [0] * 8, "dst": list(range(1, 9))})
    star = _graph(spark, edges, 9)
    s = {r["deg"]: r for r in knn_curve(star).collect()}
    assert s[1]["n_vertices"] == 8 and s[1]["knn"] == 8.0
    assert s[8]["n_vertices"] == 1 and s[8]["knn"] == 1.0
    star.unpersist()


def test_conductance_matches_bruteforce(rmat_graph):
    """Per-community (cut, vol, phi) equals a brute-force edge-scan
    replay for the labelprop-3 partition of the rMAT graph — doubles
    bit-exact (single division of int64-valued doubles)."""
    from linkgraph.kernels import conductance, label_propagation

    g, pdf, n = rmat_graph
    labels_df = label_propagation(g, max_iter=3).df
    labels = {r["id"]: r["label"] for r in labels_df.collect()}
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    cut: dict[int, int] = {}
    vol: dict[int, int] = {}
    for u, v in zip(src, dst):
        lu, lv = labels[u], labels[v]
        vol[lu] = vol.get(lu, 0) + 1
        vol[lv] = vol.get(lv, 0) + 1
        if lu != lv:
            cut[lu] = cut.get(lu, 0) + 1
            cut[lv] = cut.get(lv, 0) + 1
    vol_all = 2 * len(pdf)
    got = {r["label"]: r for r in conductance(g, labels_df).collect()}
    assert set(got) == set(vol)
    for lab, r in got.items():
        assert r["cut"] == cut.get(lab, 0)
        assert r["vol"] == vol[lab]
        denom = min(vol[lab], vol_all - vol[lab])
        want = float(cut.get(lab, 0)) / float(denom) if denom > 0 else None
        if want is None:
            assert r["conductance"] is None
        else:
            assert r["conductance"] == want  # bit-exact, no tolerance


def test_conductance_closed_forms(spark):
    """Two 3-cycles joined by one edge: each community has cut 1 and
    vol 7 -> phi = 1/7 both sides. All-in-one partition -> NULL (no
    outside volume)."""
    from pyspark.sql import functions as F

    from linkgraph.kernels import conductance

    edges = pd.DataFrame(
        {"src": [0, 1, 2, 3, 4, 5, 0], "dst": [1, 2, 0, 4, 5, 3, 3]}
    )
    g = _graph(spark, edges, 6)
    perfect = g.vertices.select(
        "id", (F.col("id") / 3).cast("long").alias("label")
    )
    got = {r["label"]: r for r in conductance(g, perfect).collect()}
    assert got[0]["cut"] == 1 and got[0]["vol"] == 7
    assert got[1]["cut"] == 1 and got[1]["vol"] == 7
    assert got[0]["conductance"] == pytest.approx(1 / 7)
    assert got[1]["conductance"] == pytest.approx(1 / 7)
    one = g.vertices.select("id", F.lit(0).cast("long").alias("label"))
    assert conductance(g, one).first()["conductance"] is None
    g.unpersist()


def test_ppr_matches_numpy(rmat_graph):
    """Seeded-teleport trajectories equal the NumPy replay; mass stays
    concentrated near the seeds (seed ranks dominate uniform)."""
    from linkgraph.kernels import ppr
    from tests.oracles import ppr_numpy

    g, pdf, n = rmat_graph
    sources = [0, 1, 2, 3]
    res = ppr(g, sources, tol=1e-6, max_iter=30)
    want, rounds = ppr_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), sources,
        tol=1e-6, max_iter=30,
    )
    got = {r["id"]: r["rank"] for r in res.df.collect()}
    assert res.iterations == rounds
    for v, r in got.items():
        assert r == pytest.approx(want[v], abs=1e-12)
    # restart concentrates mass: every seed outranks the uniform share
    for s in sources:
        assert got[s] > 1.0 / n


def test_spam_mass_composition_identities(rmat_graph):
    """spam_mass == pagerank/ppr composed: rank and trust columns
    equal the individual kernels bit-for-bit, and the mass/rel
    expressions recompute exactly from them."""
    from linkgraph.kernels import pagerank, ppr, spam_mass

    g, pdf, n = rmat_graph
    seeds = [0, 1]
    res = spam_mass(g, seeds, tol=1e-6, max_iter=30)
    got = {r["id"]: r for r in res.df.collect()}
    pr = {r["id"]: r["rank"] for r in pagerank(g, tol=1e-6, max_iter=30).df.collect()}
    tr = {r["id"]: r["rank"] for r in ppr(g, seeds, tol=1e-6, max_iter=30).df.collect()}
    scale = len(seeds) / n
    for v, r in got.items():
        # cross-RUN comparison: partial-sum order varies with partition
        # scheduling, so independent runs agree only to ~1 ulp
        assert r["rank"] == pytest.approx(pr[v], rel=1e-12)
        assert r["trust"] == pytest.approx(tr[v], rel=1e-12)
        # within-row identities are exact IEEE arithmetic
        assert r["spam_mass"] == r["rank"] - r["trust"] * scale
        assert r["rel_mass"] == (r["rank"] - r["trust"] * scale) / r["rank"]
    with pytest.raises(ValueError):
        spam_mass(g, [])


def test_spam_mass_flags_unreachable_farm(spark):
    """Closed form: a 2-cycle 'spam farm' unreachable from the trusted
    core gets trust 0 and rel_mass exactly 1; the core side sits
    well below it."""
    from linkgraph.kernels import spam_mass

    edges = pd.DataFrame({"src": [0, 2, 3], "dst": [1, 3, 2]})
    g = _graph(spark, edges, 4)
    res = spam_mass(g, [0], tol=1e-10, max_iter=60)
    got = {r["id"]: r for r in res.df.collect()}
    for v in (2, 3):
        assert got[v]["trust"] == 0.0
        assert got[v]["rel_mass"] == 1.0
    for v in (0, 1):
        assert got[v]["trust"] > 0.0
        assert got[v]["rel_mass"] < 1.0
    g.unpersist()


def test_ppr_full_seed_set_equals_pagerank(rmat_graph):
    """With S = V the recurrence degenerates to global PageRank."""
    from linkgraph.kernels import ppr

    g, pdf, n = rmat_graph
    res = ppr(g, list(range(n)), tol=0.0, max_iter=3)
    pr = pagerank(g, tol=0.0, max_iter=3)
    got = {r["id"]: r["rank"] for r in res.df.collect()}
    want = {r["id"]: r["rank"] for r in pr.df.collect()}
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_scc_matches_tarjan(rmat_graph):
    """Orzan coloring SCC equals iterative Tarjan on the directed rMAT
    fixture (min-member labels), and the assignment covers every
    vertex exactly once."""
    from linkgraph.kernels import scc
    from tests.oracles import scc_tarjan

    g, pdf, n = rmat_graph
    res = scc(g)
    got = {r["id"]: r["scc"] for r in res.df.collect()}
    want = scc_tarjan(range(n), pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert got == want
    assert len(got) == n


def test_scc_two_cycles_bridge(spark):
    """1->2->3->1 bridged to 4->5->6->4: exactly the two 3-cycles plus
    no cross-SCC merging over the bridge edge."""
    from linkgraph.kernels import scc

    edges = pd.DataFrame(
        {"src": [1, 2, 3, 3, 4, 5, 6], "dst": [2, 3, 1, 4, 5, 6, 4]}
    )
    g = _graph(spark, edges, 7)
    res = scc(g)
    got = {r["id"]: r["scc"] for r in res.df.collect()}
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == got[6] == 4
    assert got[0] == 0  # isolated vertex is its own singleton
    g.unpersist()


def test_scc_dag_all_singletons(spark):
    """A DAG has only trivial SCCs — everything trims, no coloring SCC
    survives; the descending path also exercises the outer peel."""
    from linkgraph.kernels import scc

    edges = pd.DataFrame({"src": [5, 4, 3, 2, 1], "dst": [4, 3, 2, 1, 0]})
    g = _graph(spark, edges, 6)
    res = scc(g)
    got = {r["id"]: r["scc"] for r in res.df.collect()}
    assert got == {v: v for v in range(6)}
    g.unpersist()


def test_bowtie_matches_replay(rmat_graph):
    """Bow-tie classes equal the Tarjan+BFS replay on the rMAT
    fixture, and core metadata agrees."""
    from linkgraph.kernels import bowtie
    from tests.oracles import bowtie_classes, scc_tarjan

    g, pdf, n = rmat_graph
    res = bowtie(g)
    got = {r["id"]: r["cls"] for r in res.df.collect()}
    want = bowtie_classes(range(n), pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert got == want
    scc = scc_tarjan(range(n), pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert res.core_size == sum(1 for rep in scc.values() if rep == res.core_label)


def test_bowtie_textbook_shape(spark):
    """IN chain -> 3-cycle CORE -> OUT chain, plus a disconnected
    island: the four classes land exactly where Broder drew them."""
    from linkgraph.kernels import bowtie

    edges = pd.DataFrame(
        {
            # 0 -> 1 -> (2,3,4 cycle) -> 5 -> 6 ; island 7->8
            "src": [0, 1, 2, 3, 4, 4, 5, 7],
            "dst": [1, 2, 3, 4, 2, 5, 6, 8],
        }
    )
    g = _graph(spark, edges, 9)
    res = bowtie(g)
    got = {r["id"]: r["cls"] for r in res.df.collect()}
    assert {v: got[v] for v in (2, 3, 4)} == {2: "CORE", 3: "CORE", 4: "CORE"}
    assert got[0] == got[1] == "IN"
    assert got[5] == got[6] == "OUT"
    assert got[7] == got[8] == "OTHER"
    assert res.core_label == 2 and res.core_size == 3
    g.unpersist()


def test_clustering_matches_replay(rmat_graph):
    """Per-vertex (tri, coeff) equals the brute-force neighbor-pair
    replay on the rMAT fixture; rollups are consistent with the rows."""
    import math

    from linkgraph.kernels import local_clustering
    from tests.oracles import clustering_replay

    g, pdf, n = rmat_graph
    res = local_clustering(g)
    got = {r["id"]: (r["tri"], r["coeff"]) for r in res.df.collect()}
    want = clustering_replay(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == want[v][0]
        assert math.isclose(got[v][1], want[v][1], rel_tol=1e-12)
    assert res.triangles * 3 == sum(t for t, _ in want.values())
    assert math.isclose(
        res.avg_coeff,
        sum(c for _, c in want.values()) / len(want),
        rel_tol=1e-12,
    )


def test_clustering_closed_forms(spark):
    """Triangle graph: every coeff 1.0; star: hub and leaves 0.0 with
    zero triangles; global transitivity matches by hand."""
    from linkgraph.kernels import local_clustering

    tri = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0]})
    g = _graph(spark, tri, 3)
    res = local_clustering(g)
    assert {r["id"]: (r["tri"], r["coeff"]) for r in res.df.collect()} == {
        0: (1, 1.0), 1: (1, 1.0), 2: (1, 1.0)
    }
    assert res.triangles == 1 and res.global_coeff == 1.0
    g.unpersist()

    star = pd.DataFrame({"src": [0, 0, 0, 0], "dst": [1, 2, 3, 4]})
    g = _graph(spark, star, 5)
    res = local_clustering(g)
    got = {r["id"]: (r["tri"], r["coeff"]) for r in res.df.collect()}
    assert got == {v: (0, 0.0) for v in range(5)}
    assert res.triangles == 0 and res.global_coeff == 0.0
    g.unpersist()


def test_linkpred_matches_replay(rmat_graph):
    """CN/AA scores equal the brute-force replay on the rMAT fixture,
    with and without the center-degree skew cap."""
    import math

    from linkgraph.kernels import link_prediction
    from tests.oracles import linkpred_replay

    g, pdf, n = rmat_graph
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    for cap in (None, 8):
        res = link_prediction(g, max_center_deg=cap, min_cn=1)
        got = {(r["u"], r["w"]): (r["cn"], r["aa"]) for r in res.df.collect()}
        want = linkpred_replay(src, dst, min_cn=1, max_center_deg=cap)
        assert set(got) == set(want)
        for p in want:
            assert got[p][0] == want[p][0]
            assert math.isclose(got[p][1], want[p][1], rel_tol=1e-9)


def test_linkpred_closed_forms(spark):
    """Path 0-1-2: (0,2) has cn=1, aa=1/ln 2; square 0-1-2-3: the two
    diagonals score cn=2, aa=2/ln 2; adjacent pairs never appear."""
    import math

    from linkgraph.kernels import link_prediction

    path = pd.DataFrame({"src": [0, 1], "dst": [1, 2]})
    g = _graph(spark, path, 3)
    got = {(r["u"], r["w"]): (r["cn"], r["aa"])
           for r in link_prediction(g).df.collect()}
    assert set(got) == {(0, 2)}
    assert got[(0, 2)][0] == 1
    assert math.isclose(got[(0, 2)][1], 1.0 / math.log(2), rel_tol=1e-12)
    g.unpersist()

    square = pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 2, 3, 0]})
    g = _graph(spark, square, 4)
    got = {(r["u"], r["w"]): (r["cn"], r["aa"])
           for r in link_prediction(g, min_cn=2).df.collect()}
    assert set(got) == {(0, 2), (1, 3)}
    for p in got:
        assert got[p][0] == 2
        assert math.isclose(got[p][1], 2.0 / math.log(2), rel_tol=1e-12)
    g.unpersist()


def test_densest_matches_replay(rmat_graph):
    """Peel rounds, best round, and densities equal the Bahmani replay
    on the rMAT fixture."""
    import math

    from linkgraph.kernels import densest_subgraph
    from tests.oracles import densest_replay

    g, pdf, n = rmat_graph
    res = densest_subgraph(g, epsilon=0.1)
    peel, best_r, best, densities = densest_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), eps=0.1
    )
    assert {r["id"]: r["peel"] for r in res.df.collect()} == peel
    assert res.best_round == best_r
    assert math.isclose(res.best_density, best, rel_tol=1e-12)
    assert len(res.densities) == len(densities)
    for a, b in zip(res.densities, densities):
        assert math.isclose(a, b, rel_tol=1e-12)
    members = {r["id"] for r in res.members().collect()}
    assert members == {v for v, p in peel.items() if p >= best_r}


def test_densest_clique_plus_tail(spark):
    """K5 with a pendant chain: the chain peels first, the clique is
    the winning subgraph with density (5 choose 2)/5 = 2.0."""
    from itertools import combinations

    from linkgraph.kernels import densest_subgraph

    edges = [(a, b) for a, b in combinations(range(5), 2)]
    edges += [(4, 5), (5, 6), (6, 7)]
    pdf = pd.DataFrame(edges, columns=["src", "dst"])
    g = _graph(spark, pdf, 8)
    res = densest_subgraph(g, epsilon=0.1)
    members = {r["id"] for r in res.members().collect()}
    assert members == {0, 1, 2, 3, 4}
    assert res.best_density == 2.0
    g.unpersist()


def test_graphstats_matches_replay(rmat_graph):
    """One-row stats equal the brute-force replay on the rMAT fixture."""
    import math

    from linkgraph.kernels import graph_stats
    from tests.oracles import graphstats_replay

    g, pdf, n = rmat_graph
    row = graph_stats(g).df.first().asDict()
    want = graphstats_replay(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    for k in ("n", "m", "recip_edges", "max_deg"):
        assert row[k] == want[k], k
    for k in ("reciprocity", "avg_deg", "assortativity"):
        assert math.isclose(row[k], want[k], rel_tol=1e-12), k


def test_graphstats_closed_forms(spark):
    """Directed 2-cycle: reciprocity 1; star: assortativity -1 (perfect
    disassortativity), reciprocity 0."""
    from linkgraph.kernels import graph_stats

    two = pd.DataFrame({"src": [0, 1], "dst": [1, 0]})
    g = _graph(spark, two, 2)
    row = graph_stats(g).df.first().asDict()
    assert row["m"] == 2 and row["recip_edges"] == 2 and row["reciprocity"] == 1.0
    # 1-regular graph: zero degree variance -> assortativity undefined
    assert row["assortativity"] is None
    g.unpersist()

    star = pd.DataFrame({"src": [0, 0, 0, 0], "dst": [1, 2, 3, 4]})
    g = _graph(spark, star, 5)
    row = graph_stats(g).df.first().asDict()
    assert row["reciprocity"] == 0.0
    assert row["assortativity"] == -1.0
    assert row["max_deg"] == 4 and row["n"] == 5 and row["m"] == 4
    g.unpersist()


def test_ktruss_matches_replay(rmat_graph):
    """k-truss edges + in-truss supports equal the peeling replay on
    the rMAT fixture for several k."""
    from linkgraph.kernels import ktruss
    from tests.oracles import ktruss_replay

    g, pdf, n = rmat_graph
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    for k in (3, 4, 5):
        res = ktruss(g, k=k)
        got = {(r["u"], r["w"]): r["support"] for r in res.df.collect()}
        assert got == ktruss_replay(src, dst, k=k), f"k={k}"


def test_ktruss_closed_forms(spark):
    """K4 with a pendant triangle: 4-truss = exactly the K4 (every K4
    edge has support 2); 3-truss keeps both triangles but not the
    bridge; 5-truss is empty."""
    from linkgraph.kernels import ktruss

    # K4 on 0..3, triangle on 4..6, bridge 3-4
    edges = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3),
             (4, 5), (4, 6), (5, 6), (3, 4)]
    pdf = pd.DataFrame(edges, columns=["src", "dst"])
    g = _graph(spark, pdf, 7)

    res4 = ktruss(g, k=4)
    got4 = {(r["u"], r["w"]): r["support"] for r in res4.df.collect()}
    assert got4 == {(0, 1): 2, (0, 2): 2, (0, 3): 2,
                    (1, 2): 2, (1, 3): 2, (2, 3): 2}

    res3 = ktruss(g, k=3)
    assert {(r["u"], r["w"]) for r in res3.df.collect()} == set(edges) - {(3, 4)}

    assert ktruss(g, k=5).df.count() == 0
    g.unpersist()


def test_egonet_matches_replay(rmat_graph):
    """Ball distances + induced edges equal the BFS replay on the rMAT
    fixture for all three directions and radii 1/2."""
    from linkgraph.kernels import ego_net
    from tests.oracles import egonet_replay

    g, pdf, n = rmat_graph
    src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    seeds = [0, 5]
    for direction in ("out", "in", "both"):
        for radius in (1, 2):
            res = ego_net(g, seeds, radius=radius, direction=direction)
            got_d = {r["id"]: r["dist"] for r in res.vertices.collect()}
            got_e = {(r["src"], r["dst"]) for r in res.edges.collect()}
            want_d, want_e = egonet_replay(src, dst, seeds, radius, direction)
            assert got_d == want_d, (direction, radius)
            assert got_e == want_e, (direction, radius)


def test_egonet_radius_zero_and_direction(spark):
    """radius 0 = just the seeds (plus any seed-to-seed edges); a
    directed path distinguishes out from in."""
    from linkgraph.kernels import ego_net

    path = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    g = _graph(spark, path, 4)
    r0 = ego_net(g, [1, 2], radius=0)
    assert {r["id"]: r["dist"] for r in r0.vertices.collect()} == {1: 0, 2: 0}
    assert {(r["src"], r["dst"]) for r in r0.edges.collect()} == {(1, 2)}

    out1 = ego_net(g, [1], radius=1, direction="out")
    assert {r["id"] for r in out1.vertices.collect()} == {1, 2}
    in1 = ego_net(g, [1], radius=1, direction="in")
    assert {r["id"] for r in in1.vertices.collect()} == {0, 1}
    g.unpersist()


def test_matching_matches_sequential_greedy(rmat_graph):
    """Parallel priority-greedy maximal matching == sequential greedy
    in ascending edge-key order (SPAA'12 on the line graph), plus
    validity (vertex-disjoint) and maximality checked structurally."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import maximal_matching
    from tests.oracles import matching_greedy

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
    gs = build_graph_from_edges(sym, num_partitions=4)
    res = maximal_matching(gs)
    got = {(r["u"], r["v"]) for r in res.df.collect()}
    assert got == matching_greedy(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    # validity: matched edges are vertex-disjoint
    ends = [x for e in got for x in e]
    assert len(ends) == len(set(ends))
    # maximality: every live canonical edge has a matched endpoint
    matched_vs = set(ends)
    sym_pdf = gs.edges.toPandas()
    canon = {
        (min(u, v), max(u, v))
        for u, v in zip(sym_pdf["src"].tolist(), sym_pdf["dst"].tolist())
        if u != v
    }
    assert all(u in matched_vs or v in matched_vs for u, v in canon)
    assert res.iterations >= 1
    gs.unpersist()


def test_matching_path_and_empty(spark):
    """Path 0-1-2-3-4: replay fixpoint (2 disjoint edges); an edgeless
    graph returns an empty (u, v) frame without iterating forever."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import maximal_matching
    from tests.oracles import matching_greedy

    edges = pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 2, 3, 4]})
    sym = symmetrize(spark.createDataFrame(edges, "src long, dst long"))
    g = build_graph_from_edges(sym, num_partitions=2)
    res = maximal_matching(g)
    got = {(r["u"], r["v"]) for r in res.df.collect()}
    want = matching_greedy(edges["src"].to_numpy(), edges["dst"].to_numpy())
    assert got == want
    assert len(got) == 2  # a path P5 has a perfect-but-one matching
    g.unpersist()

    # empty graph: vertices only, no edges
    import pyspark.sql.functions as F  # noqa: F401

    g2 = build_graph_from_edges(
        spark.createDataFrame([], "src long, dst long"), n=3, num_partitions=1
    )
    res2 = maximal_matching(g2)
    assert res2.df.columns == ["u", "v"]
    assert res2.df.count() == 0
    assert res2.iterations <= 1
    g2.unpersist()


def test_msf_matches_kruskal(rmat_graph):
    """Borůvka MSF == Kruskal under the strict (w,u,v) order (the MSF
    is unique), on deterministic integer weights; forest size ==
    n_in_components - n_components checked structurally."""
    from linkgraph.kernels import connected_components, minimum_spanning_forest
    from tests.oracles import msf_kruskal

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    # deterministic integer weights: a fixed hash of the edge pair
    wpdf = pdf.copy()
    wpdf["w"] = (
        (wpdf[["src", "dst"]].min(axis=1) * 31 + wpdf[["src", "dst"]].max(axis=1) * 17)
        % 101
        + 1
    )
    weights = spark.createDataFrame(wpdf, "src long, dst long, w long")
    res = minimum_spanning_forest(g, weights=weights)
    got = {(r["u"], r["v"], r["w"]) for r in res.df.collect()}
    want = msf_kruskal(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), wpdf["w"].to_numpy()
    )
    assert got == want
    assert res.total_weight == sum(w for _, _, w in want)
    # structural: |forest| = |vertices touched by edges... | use CC count
    cc = connected_components(g, symmetrize_edges=True)
    n_comp = cc.df.select("comp").distinct().count()
    n_verts = g.vertices.count()
    assert len(got) == n_verts - n_comp
    assert res.iterations >= 1


def test_msf_unweighted_and_closed_forms(spark):
    """Unweighted MSF of a path = the path itself; a weighted 4-cycle
    drops exactly its heaviest edge; empty graph -> empty forest."""
    from linkgraph.kernels import minimum_spanning_forest

    # path 0-1-2-3 (directed input; kernel canonicalizes)
    g = build_graph_from_edges(
        spark.createDataFrame(
            pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]}),
            "src long, dst long",
        ),
        num_partitions=2,
    )
    res = minimum_spanning_forest(g)
    assert {(r["u"], r["v"]) for r in res.df.collect()} == {(0, 1), (1, 2), (2, 3)}
    g.unpersist()

    # 4-cycle with weights 1,2,3,9 -> forest drops the 9 edge
    edges = pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 2, 3, 0]})
    wdf = pd.DataFrame(
        {"src": [0, 1, 2, 3], "dst": [1, 2, 3, 0], "w": [1, 2, 3, 9]}
    )
    g2 = build_graph_from_edges(
        spark.createDataFrame(edges, "src long, dst long"), num_partitions=2
    )
    res2 = minimum_spanning_forest(
        g2, weights=spark.createDataFrame(wdf, "src long, dst long, w long")
    )
    got2 = {(r["u"], r["v"], r["w"]) for r in res2.df.collect()}
    assert got2 == {(0, 1, 1), (1, 2, 2), (2, 3, 3)}
    assert res2.total_weight == 6
    g2.unpersist()

    # empty graph
    g3 = build_graph_from_edges(
        spark.createDataFrame([], "src long, dst long"), n=2, num_partitions=1
    )
    res3 = minimum_spanning_forest(g3)
    assert res3.df.count() == 0
    assert res3.total_weight == 0
    g3.unpersist()


def test_edge_jaccard_matches_bruteforce(rmat_graph):
    """Per-edge Jaccard == brute-force neighbor-set replay on the
    symmetrized rMAT graph, exact doubles (int64-derived)."""
    from linkgraph.kernels import edge_jaccard

    g, pdf, n = rmat_graph
    res = edge_jaccard(g)
    got = {
        (r["u"], r["v"]): (r["cn"], r["deg_u"], r["deg_v"], r["jaccard"])
        for r in res.df.collect()
    }
    nbrs: dict[int, set[int]] = {}
    for u, v in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if u == v:
            continue
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    canon = {(min(u, v), max(u, v)) for u in nbrs for v in nbrs[u]}
    assert set(got) == canon
    for u, v in canon:
        cn = len(nbrs[u] & nbrs[v])
        du, dv = len(nbrs[u]), len(nbrs[v])
        exp = cn / (du + dv - cn)
        gcn, gdu, gdv, gj = got[(u, v)]
        assert (gcn, gdu, gdv) == (cn, du, dv)
        assert gj == exp  # same fixed-order expression, bit-exact


def test_edge_jaccard_closed_forms(spark):
    """Triangle: every edge has cn=1, J=1/3. Star: cn=0, J=0."""
    from linkgraph.kernels import edge_jaccard

    tri = build_graph_from_edges(
        spark.createDataFrame(
            pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 0]}),
            "src long, dst long",
        ),
        num_partitions=2,
    )
    rows = edge_jaccard(tri).df.collect()
    assert len(rows) == 3
    assert all(r["cn"] == 1 and r["jaccard"] == 1 / 3 for r in rows)
    tri.unpersist()

    star = build_graph_from_edges(
        spark.createDataFrame(
            pd.DataFrame({"src": [0, 0, 0], "dst": [1, 2, 3]}),
            "src long, dst long",
        ),
        num_partitions=2,
    )
    rows = edge_jaccard(star).df.collect()
    assert len(rows) == 3
    assert all(r["cn"] == 0 and r["jaccard"] == 0.0 for r in rows)
    star.unpersist()


def test_pagerank_weighted_matches_numpy(rmat_graph):
    """Weighted PageRank == NumPy replay of the same recurrence with
    row-normalized weights + dangling redistribution."""
    from linkgraph.kernels import pagerank_weighted

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    epdf = g.edges.toPandas()
    epdf["w"] = ((epdf["src"] * 13 + epdf["dst"] * 7) % 5 + 1).astype("int64")
    weights = spark.createDataFrame(epdf, "src long, dst long, w long")
    res = pagerank_weighted(g, weights, tol=0.0, max_iter=4)
    got = {r["id"]: r["rank"] for r in res.df.collect()}

    ids = sorted(r["id"] for r in g.vertices.collect())
    idx = {v: i for i, v in enumerate(ids)}
    nn = len(ids)
    P = np.zeros((nn, nn))
    wsum: dict[int, float] = {}
    for s, d, w in epdf.itertuples(index=False):
        wsum[s] = wsum.get(s, 0) + w
    for s, d, w in epdf.itertuples(index=False):
        P[idx[s], idx[d]] = w / wsum[s]
    r = np.full(nn, 1.0 / nn)
    has_out = np.array([ids[i] in wsum for i in range(nn)])
    for _ in range(4):
        dm = r[~has_out].sum()
        r = 0.15 / nn + 0.85 * (r @ P + dm / nn)
    assert np.allclose(
        np.array([got[v] for v in ids]), r, atol=1e-12, rtol=0
    )
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved


def test_pagerank_weighted_uniform_equals_unweighted(rmat_graph):
    """All weights equal -> p = 1/out_deg, must reproduce the
    unweighted kernel's ranks exactly (same recurrence)."""
    from pyspark.sql import functions as F

    from linkgraph.kernels import pagerank, pagerank_weighted

    g, pdf, n = rmat_graph
    weights = g.edges.withColumn("w", F.lit(3).cast("long"))
    res_w = pagerank_weighted(g, weights, tol=0.0, max_iter=3)
    res_u = pagerank(g, tol=0.0, max_iter=3)
    gw = {r["id"]: r["rank"] for r in res_w.df.collect()}
    gu = {r["id"]: r["rank"] for r in res_u.df.collect()}
    assert set(gw) == set(gu)
    for v in gw:
        assert abs(gw[v] - gu[v]) < 1e-14


def test_eigen_matches_numpy(rmat_graph):
    """Eigenvector-centrality trajectory equals the NumPy replay at
    float tolerance, convergence round included; the converged vector
    has unit L2 norm."""
    from linkgraph.kernels import eigenvector_centrality
    from tests.oracles import eigen_numpy

    g, pdf, n = rmat_graph
    res = eigenvector_centrality(g, tol=1e-6, max_iter=60)
    want, rounds = eigen_numpy(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), tol=1e-6, max_iter=60
    )
    got = {r["id"]: r["score"] for r in res.df.collect()}
    assert res.iterations == rounds
    for v, x in got.items():
        assert x == pytest.approx(want[v], abs=1e-9)
    assert sum(x * x for x in got.values()) == pytest.approx(1.0, rel=1e-9)


def test_eigen_closed_forms(spark):
    """2-cycle 0<->1: both vertices at 1/sqrt(2) (the principal
    eigenvector of a symmetric 2-cycle). DAG path 0->1->2: mass drains
    off the source each round and the iteration collapses toward the
    sink — a documented caveat, must converge rather than throw."""
    from linkgraph.kernels import eigenvector_centrality

    edges = pd.DataFrame({"src": [0, 1], "dst": [1, 0]})
    g = _graph(spark, edges, 2)
    res = eigenvector_centrality(g, tol=1e-12, max_iter=30)
    assert res.converged
    got = {r["id"]: r["score"] for r in res.df.collect()}
    assert got[0] == pytest.approx(1.0 / np.sqrt(2.0))
    assert got[1] == pytest.approx(1.0 / np.sqrt(2.0))
    g.unpersist()

    path = pd.DataFrame({"src": [0, 1], "dst": [1, 2]})
    g2 = _graph(spark, path, 3)
    res2 = eigenvector_centrality(g2, tol=1e-9, max_iter=30)
    got2 = {r["id"]: r["score"] for r in res2.df.collect()}
    assert got2[0] == pytest.approx(0.0)  # no in-edges
    g2.unpersist()


def test_ppr_sweep_matches_replay(rmat_graph):
    """ACL sweep on the rMAT fixture: member set, sweep positions,
    best_k, and phi all equal the sequential replay."""
    from linkgraph.kernels import ppr_sweep
    from tests.oracles import ppr_sweep_replay

    g, pdf, n = rmat_graph
    sources = [0, 1, 2, 3]
    res = ppr_sweep(g, sources, tol=1e-6, max_iter=30)
    order, best_k, best_phi = ppr_sweep_replay(
        n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), sources,
        tol=1e-6, max_iter=30,
    )
    rows = res.df.collect()
    assert res.best_k == best_k
    assert res.phi == pytest.approx(best_phi, abs=1e-12)
    assert len(rows) == best_k
    got_pos = {r["id"]: r["sweep_pos"] for r in rows}
    want_pos = {v: k for k, v in enumerate(order[:best_k], start=1)}
    assert got_pos == want_pos
    for r in rows:
        assert r["best_k"] == best_k
        assert r["phi"] == pytest.approx(best_phi, abs=1e-12)


def test_ppr_sweep_barbell_closed_form(spark):
    """Two triangles joined by one bridge, seeded in the left one:
    the sweep recovers exactly the left triangle with phi = 1/7
    (cut 1, vol 7 < 2m - vol)."""
    from linkgraph.kernels import ppr_sweep

    tri_a = [(0, 1), (1, 2), (2, 0)]
    tri_b = [(3, 4), (4, 5), (5, 3)]
    bridge = [(2, 3)]
    und = tri_a + tri_b + bridge
    edges = pd.DataFrame(
        {
            "src": [u for u, v in und] + [v for u, v in und],
            "dst": [v for u, v in und] + [u for u, v in und],
        }
    )
    g = _graph(spark, edges, 6)
    res = ppr_sweep(g, [0], tol=1e-10, max_iter=60)
    members = {r["id"] for r in res.df.collect()}
    assert members == {0, 1, 2}
    assert res.best_k == 3
    assert res.phi == pytest.approx(1.0 / 7.0, abs=1e-12)
    g.unpersist()


def test_ppr_sweep_guards(rmat_graph):
    """max_sweep bounds the candidate order; bad params raise."""
    from linkgraph.kernels import ppr_sweep

    g, pdf, n = rmat_graph
    res = ppr_sweep(g, [0], tol=1e-6, max_iter=10, max_sweep=5)
    assert res.best_k <= 5
    with pytest.raises(ValueError):
        ppr_sweep(g, [0], max_sweep=0)
    with pytest.raises(ValueError):
        ppr_sweep(g, [])


def test_closeness_matches_bfs_replay(rmat_graph):
    """Sampled closeness == the per-source BFS replay rollup; the
    division is bit-exact (one int64/int64 double division)."""
    from collections import defaultdict

    from linkgraph.kernels import closeness_centrality

    g, pdf, n = rmat_graph
    sources = [0, 1, 5, 9]
    acc = defaultdict(lambda: [0, 0])  # id -> [sum_dist, reached]
    for s in sources:
        for v, lvl in bfs_levels_numpy(
            n, pdf["src"].to_numpy(), pdf["dst"].to_numpy(), s
        ).items():
            if lvl > 0:
                acc[v][0] += lvl
                acc[v][1] += 1
    got = {r["id"]: r for r in closeness_centrality(g, sources).collect()}
    assert set(got) == set(acc)
    for v, (sd, rc) in acc.items():
        assert got[v]["sum_dist"] == sd
        assert got[v]["reached"] == rc
        assert got[v]["closeness"] == rc / sd  # exact IEEE division


def test_closeness_path_graph(spark):
    """Undirected 4-path, all sources: ends see distances {1,2,3}
    (closeness 3/6), middles {1,1,2} (closeness 3/4)."""
    from linkgraph.kernels import closeness_centrality

    pdf = pd.DataFrame(
        {"src": [0, 1, 1, 2, 2, 3], "dst": [1, 0, 2, 1, 3, 2]}
    )
    g = _graph(spark, pdf, 4)
    got = {
        r["id"]: (r["sum_dist"], r["reached"], r["closeness"])
        for r in closeness_centrality(g, [0, 1, 2, 3]).collect()
    }
    assert got == {
        0: (6, 3, 0.5),
        1: (4, 3, 0.75),
        2: (4, 3, 0.75),
        3: (6, 3, 0.5),
    }
    g.unpersist()


# ---------------------------------------------------------------------------
# butterfly counting (bipartite 4-cycles)
# ---------------------------------------------------------------------------


def _butterfly_replay(edges: list[tuple[int, int]], cap: int | None = None):
    """Brute-force butterfly count: codeg over left pairs through
    centers on the LEFT side (cap = center-degree guard)."""
    from collections import defaultdict
    from itertools import combinations

    nbrs = defaultdict(set)
    for u, v in edges:
        nbrs[u].add(v)
    codeg = defaultdict(int)
    for u, right in nbrs.items():
        if cap is not None and len(right) > cap:
            continue
        for a, b in combinations(sorted(right), 2):
            codeg[(a, b)] += 1
    wedges = sum(codeg.values())
    bf = sum(c * (c - 1) // 2 for c in codeg.values())
    return wedges, bf


def test_butterflies_match_bruteforce(rmat_graph, spark):
    """Butterfly count on a bipartite-ized rMAT graph (dst shifted to
    a disjoint id space) == brute replay; count is side-invariant."""
    from linkgraph.kernels import butterfly_count

    _, pdf, n = rmat_graph
    bip = pdf.copy()
    bip = bip.drop_duplicates()
    bip["dst"] = bip["dst"] + 1000
    edges = spark.createDataFrame(bip, "src long, dst long")
    elist = list({(int(r.src), int(r.dst)) for r in bip.itertuples()})

    res_l = butterfly_count(edges, center="left")
    res_r = butterfly_count(edges, center="right")
    res_a = butterfly_count(edges, center="auto")
    row_l = res_l.df.first()
    row_r = res_r.df.first()
    row_a = res_a.df.first()
    # wedge totals differ per side; the butterfly count cannot
    wedges_l, bf = _butterfly_replay(elist)
    assert row_l["wedges"] == wedges_l
    assert row_l["butterflies"] == bf
    assert row_r["butterflies"] == bf
    assert row_a["butterflies"] == bf
    assert res_a.center in ("left", "right")
    assert row_l["m"] == len(elist)
    assert row_l["n_left"] == len({u for u, _ in elist})
    assert row_l["n_right"] == len({v for _, v in elist})


def test_butterflies_center_deg_cap(rmat_graph, spark):
    """max_center_deg drops wedges through hub centers, exactly as the
    capped replay does (the documented skew guard, not an approximation
    of the uncapped count)."""
    from linkgraph.kernels import butterfly_count

    _, pdf, _ = rmat_graph
    bip = pdf.drop_duplicates().copy()
    bip["dst"] = bip["dst"] + 1000
    edges = spark.createDataFrame(bip, "src long, dst long")
    elist = list({(int(r.src), int(r.dst)) for r in bip.itertuples()})
    cap = 4
    row = butterfly_count(edges, center="left", max_center_deg=cap).df.first()
    wedges, bf = _butterfly_replay(elist, cap=cap)
    assert (row["wedges"], row["butterflies"]) == (wedges, bf)


def test_butterflies_closed_forms(spark):
    """K_{3,4}: C(3,2)*C(4,2) = 18 butterflies. A single 4-cycle: 1.
    A star (one left hub): 0 (no second left vertex)."""
    from linkgraph.kernels import butterfly_count

    k34 = spark.createDataFrame(
        pd.DataFrame(
            [(u, 100 + v) for u in range(3) for v in range(4)],
            columns=["src", "dst"],
        ),
        "src long, dst long",
    )
    row = butterfly_count(k34).df.first()
    assert row["butterflies"] == 18
    assert (row["n_left"], row["n_right"], row["m"]) == (3, 4, 12)

    cyc = spark.createDataFrame(
        pd.DataFrame({"src": [0, 0, 1, 1], "dst": [100, 101, 100, 101]}),
        "src long, dst long",
    )
    assert butterfly_count(cyc).df.first()["butterflies"] == 1

    star = spark.createDataFrame(
        pd.DataFrame({"src": [0, 0, 0], "dst": [100, 101, 102]}),
        "src long, dst long",
    )
    # through the hub (left) side: 3 wedges, still no butterfly;
    # auto picks the right side (0 wedges) — count agrees either way
    row = butterfly_count(star, center="left").df.first()
    assert row["butterflies"] == 0 and row["wedges"] == 3
    assert butterfly_count(star).df.first()["butterflies"] == 0


def test_butterflies_pairs_table(spark):
    """res.pairs is the codeg>=2 co-citation table."""
    from linkgraph.kernels import butterfly_count

    # 0 and 1 share {100, 101}; 2 shares only 100 with them
    e = spark.createDataFrame(
        pd.DataFrame(
            {"src": [0, 0, 1, 1, 2], "dst": [100, 101, 100, 101, 100]}
        ),
        "src long, dst long",
    )
    # pairs of LEFT vertices share right neighbors, so they surface
    # when the wedges pivot on the RIGHT side
    res = butterfly_count(e, center="right")
    pairs = {(r["u"], r["w"]): r["codeg"] for r in res.pairs.collect()}
    assert pairs == {(0, 1): 2}


def test_resolve_redirects_matches_python_replay(spark):
    """Pointer-doubling resolution == a sequential chain-walk replay
    on a random functional map (chains, loops, loop-feeders), plus
    closed forms: chain / 2-cycle / self-loop / empty."""
    from linkgraph.kernels import resolve_redirects

    rng = np.random.default_rng(11)
    srcs = list(range(100))
    dsts = [int(rng.integers(0, 130)) for _ in srcs]  # 100..129 = terminals
    rmap = {s: d for s, d in zip(srcs, dsts) if s != d}
    df = spark.createDataFrame(
        pd.DataFrame({"src": list(rmap), "dst": [rmap[s] for s in rmap]})
    )
    got = {
        r["src"]: (r["target"], r["chain_len"], r["is_cycle"])
        for r in resolve_redirects(df).collect()
    }

    def walk(s: int):
        cur, d, seen = rmap[s], 1, {s}
        while cur in rmap:
            if cur in seen:
                return (None, None, True)  # on or into a loop
            seen.add(cur)
            cur, d = rmap[cur], d + 1
        return (cur, d, False)

    assert got == {s: walk(s) for s in rmap}

    # closed forms
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (12, 12)]
    small = spark.createDataFrame(pd.DataFrame(rows, columns=["src", "dst"]))
    g = {
        r["src"]: (r["target"], r["chain_len"], r["is_cycle"])
        for r in resolve_redirects(small).collect()
    }
    assert g == {
        1: (4, 3, False),
        2: (4, 2, False),
        3: (4, 1, False),
        10: (None, None, True),
        11: (None, None, True),
        12: (None, None, True),  # self-loop
    }
    empty = spark.createDataFrame(pd.DataFrame(columns=["src", "dst"]), "src long, dst long")
    assert resolve_redirects(empty).count() == 0


def test_pseudo_diameter_matches_bfs_replay(rmat_graph):
    """Double sweep == a sequential BFS replay on the symmetrized
    rMAT graph: sweep sources, farthest vertices (max dist, min id),
    and eccentricities all exact; the bound is a true lower bound on
    the replayed all-pairs diameter of the start component."""
    from collections import deque

    from linkgraph.kernels import pseudo_diameter

    g, pdf, n = rmat_graph
    adj: dict[int, set[int]] = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        adj.setdefault(int(s), set()).add(int(d))
        adj.setdefault(int(d), set()).add(int(s))

    def bfs_dists(src):
        dist = {src: 0}
        q = deque([src])
        while q:
            u = q.popleft()
            for v in sorted(adj.get(u, ())):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    res = pseudo_diameter(g, sweeps=3)
    rows = {r["sweep"]: r for r in res.df.collect()}
    cur = min(adj)
    best = 0
    for s in range(3):
        dist = bfs_dists(cur)
        ecc = max(dist.values())
        far = min(v for v, d in dist.items() if d == ecc)
        got = rows[s]
        assert got["source"] == cur and got["farthest"] == far and got["ecc"] == ecc
        best = max(best, ecc)
        cur = far
    assert res.pseudo_diameter == best
    # lower bound on the true diameter of the start component
    comp = bfs_dists(min(adj))
    true_diam = max(max(bfs_dists(v).values()) for v in comp)
    assert best <= true_diam


def test_pseudo_diameter_path_and_star_closed_forms(spark):
    """A path graph's double sweep finds the TRUE diameter from any
    start (sweep 2 lands on an endpoint); a star's is 2."""
    import pandas as pd

    from linkgraph.kernels import pseudo_diameter

    # directed path 0->1->..->6, start mid via min id = 0 (an endpoint
    # already); use edges 3->4.. plus 3->2.. so min id 0 is interior:
    # build path on ids 0..6 but relabel so the min id sits mid-path
    order = [3, 1, 4, 0, 5, 2, 6]  # position of each id along the path
    path_edges = [(order[i], order[i + 1]) for i in range(6)]
    g = build_graph_from_edges(
        spark.createDataFrame(pd.DataFrame(path_edges, columns=["src", "dst"])),
        num_partitions=2,
    )
    res = pseudo_diameter(g, sweeps=2)
    assert res.pseudo_diameter == 6  # true diameter of P7
    g.unpersist()

    star = [(0, i) for i in range(1, 8)]
    g2 = build_graph_from_edges(
        spark.createDataFrame(pd.DataFrame(star, columns=["src", "dst"])),
        num_partitions=2,
    )
    res2 = pseudo_diameter(g2, sweeps=2)
    assert res2.pseudo_diameter == 2
    rows = {r["sweep"]: r for r in res2.df.collect()}
    assert rows[0]["source"] == 0 and rows[0]["ecc"] == 1
    assert rows[1]["ecc"] == 2
    g2.unpersist()

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pseudo_diameter(g2, sweeps=0)


def test_node2vec_matches_replay(rmat_graph):
    """The distributed biased-walk corpus equals the sequential
    replay exactly (same mix, same weight classes, same cumsum-modulo
    draw); deterministic across runs; seed-sensitive; the
    max_neighbors cap replays too."""
    from linkgraph.kernels import node2vec_walks
    from tests.oracles import node2vec_replay

    g, pdf, n = rmat_graph
    starts = [r["id"] for r in g.vertices.collect()]

    def run(**kw):
        return {
            (r["start"], r["walk"], r["step"], r["vertex"])
            for r in node2vec_walks(g, **kw).df.collect()
        }

    kw = dict(length=4, walks_per_vertex=2, alpha_return=1,
              alpha_common=4, alpha_forward=2, seed=7)
    got = run(**kw)
    want = node2vec_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), starts,
        length=4, walks_per_vertex=2, alphas=(1, 4, 2), seed=7,
    )
    assert got == want
    assert run(**kw) == got  # deterministic
    got8 = run(**{**kw, "seed": 8})
    assert got8 == node2vec_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), starts,
        length=4, walks_per_vertex=2, alphas=(1, 4, 2), seed=8,
    )
    assert got8 != got
    capped = run(**{**kw, "max_neighbors": 2})
    assert capped == node2vec_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), starts,
        length=4, walks_per_vertex=2, alphas=(1, 4, 2), seed=7,
        max_neighbors=2,
    )


def test_node2vec_closed_forms(spark):
    """Path graphs force forward moves; a 2-cycle with overwhelming
    alpha_return oscillates; parameter guards raise."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from linkgraph.kernels import node2vec_walks

    edges = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    g = _graph(spark, edges, 4)
    res = node2vec_walks(g, length=10, walks_per_vertex=1, seed=3)
    rows = {(r["start"], r["step"]): r["vertex"] for r in res.df.collect()}
    for t, v in enumerate([0, 1, 2, 3]):
        assert rows[(0, t)] == v
    assert (0, 4) not in rows
    g.unpersist()

    # 0<->1 plus 1->2: with alpha_return >> others the walk at vertex 1
    # (arrived from 0) returns to 0 — P(return) = R/(R+a_fwd) with
    # R = 2^20; the integer draw r = mix % (R + a_fwd) lands in the
    # return interval unless mix mod is in the top a_fwd values, so
    # assert the overwhelming-majority behavior over many walks
    edges2 = pd.DataFrame({"src": [0, 1, 1], "dst": [1, 0, 2]})
    g2 = _graph(spark, edges2, 3)
    res2 = node2vec_walks(
        g2, length=2, walks_per_vertex=64,
        alpha_return=1 << 20, alpha_common=1, alpha_forward=1,
        seed=5, starts=g2.vertices.where(F.col("id") == 0),
    )
    steps2 = [
        r["vertex"] for r in res2.df.where(
            (F.col("start") == 0) & (F.col("step") == 2)
        ).collect()
    ]
    assert len(steps2) == 64
    # nearly all walks 0->1->0; allow the ~64/2^20 chance of a 2
    assert steps2.count(0) >= 62
    g2.unpersist()

    with _pytest.raises(ValueError):
        node2vec_walks(g2, length=-1)
    with _pytest.raises(ValueError):
        node2vec_walks(g2, alpha_return=0)
    with _pytest.raises(ValueError):
        node2vec_walks(g2, alpha_common=(1 << 20) + 1)
    with _pytest.raises(ValueError):
        node2vec_walks(g2, max_neighbors=0)


def test_rich_club_matches_replay_and_closed_forms(rmat_graph, spark):
    """phi(k) == a brute-force replay over the symmetrized simple
    graph (ints exact, phi bit-exact doubles); K5: phi = 1 at every
    threshold below the clique degree; star: hubs-only classes go
    NULL below 2 members."""
    from linkgraph.kernels import rich_club

    g, pdf, n = rmat_graph
    adj: dict[int, set[int]] = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        if s == d:
            continue
        adj.setdefault(int(s), set()).add(int(d))
        adj.setdefault(int(d), set()).add(int(s))
    deg = {v: len(ns) for v, ns in adj.items()}
    edges = {(u, v) for u, ns in adj.items() for v in ns if u < v}
    got = {r["k"]: (r["rich_n"], r["rich_e"], r["phi"]) for r in rich_club(g).collect()}
    assert set(got) == set(deg.values())
    for k in got:
        rn = sum(1 for v in deg if deg[v] > k)
        re_ = sum(1 for u, v in edges if deg[u] > k and deg[v] > k)
        phi = 2.0 * re_ / (rn * (rn - 1)) if rn >= 2 else None
        grn, gre, gphi = got[k]
        assert (grn, gre) == (rn, re_)
        if phi is None:
            assert gphi is None
        else:
            assert gphi == phi  # one fixed-order division, bit-exact

    # K5: every vertex degree 4 -> only class k=4, rich_n = 0 -> NULL
    k5 = [(i, j) for i in range(5) for j in range(5) if i < j]
    g5 = _graph(spark, pd.DataFrame(k5, columns=["src", "dst"]), 5)
    rows5 = {r["k"]: r for r in rich_club(g5).collect()}
    assert set(rows5) == {4}
    assert rows5[4]["rich_n"] == 0 and rows5[4]["phi"] is None
    g5.unpersist()

    # K5 plus a pendant vertex: class k=1 -> the 5 clique members
    # (deg > 1) form a perfect club, phi = 1.0
    k5p = k5 + [(0, 5)]
    g5p = _graph(spark, pd.DataFrame(k5p, columns=["src", "dst"]), 6)
    rows5p = {r["k"]: r for r in rich_club(g5p).collect()}
    assert rows5p[1]["rich_n"] == 5 and rows5p[1]["rich_e"] == 10
    assert rows5p[1]["phi"] == 1.0
    g5p.unpersist()


def test_attribute_assortativity_replay_and_closed_forms(rmat_graph, spark):
    """r == a brute-force mixing-matrix replay (bit-exact double);
    perfect homophily gives r = 1; a bipartite-only cross pattern is
    maximally disassortative; single-label graphs go NULL."""
    from linkgraph.kernels import attribute_assortativity

    g, pdf, n = rmat_graph
    lab_map = {v: int(v) % 3 for v in range(n)}
    labels = spark.createDataFrame(
        [(v, l) for v, l in lab_map.items()], "id long, label long"
    )
    got = attribute_assortativity(g, labels).collect()[0].asDict()
    from collections import Counter

    mix = Counter(
        (lab_map[int(s)], lab_map[int(d)]) for s, d in zip(pdf["src"], pdf["dst"])
    )
    m = sum(mix.values())
    diag = sum(c for (a, b), c in mix.items() if a == b)
    A = Counter()
    B = Counter()
    for (a, b), c in mix.items():
        A[a] += c
        B[b] += c
    S = sum(A[k] * B[k] for k in set(A) | set(B))
    assert (got["m"], got["diag"], got["cross"]) == (m, diag, S)
    assert got["r"] == float(m * diag - S) / float(m * m - S)

    # homophily: two disjoint 2-cycles, labels by component -> r = 1
    e1 = pd.DataFrame({"src": [0, 1, 2, 3], "dst": [1, 0, 3, 2]})
    g1 = _graph(spark, e1, 4)
    l1 = spark.createDataFrame([(0, 0), (1, 0), (2, 1), (3, 1)], "id long, label long")
    assert attribute_assortativity(g1, l1).collect()[0]["r"] == 1.0
    # pure cross-linking (bipartite 2-cycle), balanced marginals
    l2 = spark.createDataFrame([(0, 0), (1, 1), (2, 0), (3, 1)], "id long, label long")
    r2 = attribute_assortativity(g1, l2).collect()[0]["r"]
    assert r2 == -1.0  # diag 0, m=4, S = 2*2 + 2*2 = 8 -> -8/8
    # single label -> denominator 0 -> NULL
    l3 = spark.createDataFrame([(i, 7) for i in range(4)], "id long, label long")
    assert attribute_assortativity(g1, l3).collect()[0]["r"] is None
    g1.unpersist()


def test_rw_sample_matches_walk_replay(rmat_graph, spark):
    """The sampled vertex set == the replayed walks' touched set; the
    edge set is exactly the induced subgraph; a path seeded at its
    head samples its reachable prefix."""
    from pyspark.sql import functions as F

    from linkgraph.kernels import rw_sample
    from tests.oracles import random_walks_replay

    g, pdf, n = rmat_graph
    seeds = g.vertices.where(F.col("id") % 7 == 0).select("id")
    verts, edges = rw_sample(g, seeds, length=3, walks_per_seed=2, seed=9)
    got_v = {r["id"] for r in verts.collect()}
    seed_ids = [r["id"] for r in seeds.collect()]
    want_rows = random_walks_replay(
        pdf["src"].to_numpy(), pdf["dst"].to_numpy(), seed_ids,
        length=3, walks_per_vertex=2, seed=9,
    )
    want_v = {v for (_, _, _, v) in want_rows}
    assert got_v == want_v
    got_e = {(r["src"], r["dst"]) for r in edges.collect()}
    all_e = {(int(s), int(d)) for s, d in zip(pdf["src"], pdf["dst"])}
    assert got_e == {(s, d) for s, d in all_e if s in want_v and d in want_v}

    # path: seeding vertex 0 of 0->1->2->3 with length 2 touches 0,1,2
    edges_p = pd.DataFrame({"src": [0, 1, 2], "dst": [1, 2, 3]})
    gp = _graph(spark, edges_p, 4)
    sv, se = rw_sample(
        gp, gp.vertices.where(F.col("id") == 0), length=2, walks_per_seed=1, seed=0
    )
    assert {r["id"] for r in sv.collect()} == {0, 1, 2}
    assert {(r["src"], r["dst"]) for r in se.collect()} == {(0, 1), (1, 2)}
    gp.unpersist()


def test_kclique_count_matches_bruteforce(rmat_graph, spark):
    """k=3 equals triangle_count; k=4 equals an itertools brute force
    on the symmetrized rMAT graph; K5 closed forms (C(5,4) = 5 K4s,
    one K5 at k=5); guard raises."""
    from itertools import combinations

    import pytest as _pytest

    from linkgraph.kernels import kclique_count, triangle_count

    g, pdf, n = rmat_graph
    adj: dict[int, set[int]] = {}
    for s, d in zip(pdf["src"], pdf["dst"]):
        if s == d:
            continue
        adj.setdefault(int(s), set()).add(int(d))
        adj.setdefault(int(d), set()).add(int(s))
    assert kclique_count(g, 3).count == triangle_count(g).count
    # brute force K4 over vertices with degree >= 3 only (speed)
    cand = [v for v, ns in adj.items() if len(ns) >= 3]
    want = 0
    for a, b, c, d in combinations(sorted(cand), 4):
        if (
            b in adj[a] and c in adj[a] and d in adj[a]
            and c in adj[b] and d in adj[b] and d in adj[c]
        ):
            want += 1
    assert kclique_count(g, 4).count == want

    k5 = pd.DataFrame(
        [(i, j) for i in range(5) for j in range(5) if i < j],
        columns=["src", "dst"],
    )
    g5 = _graph(spark, k5, 5)
    assert kclique_count(g5, 4).count == 5
    assert kclique_count(g5, 5).count == 1
    assert kclique_count(g5, 6).count == 0
    with _pytest.raises(ValueError):
        kclique_count(g5, 2)
    with _pytest.raises(ValueError):
        kclique_count(g5, 7)
    g5.unpersist()


# ---------------------------------------------------------------------------
# trussness (full truss decomposition)
# ---------------------------------------------------------------------------


def test_trussness_matches_sequential_peeling(rmat_graph):
    """Parallel bucket peeling must equal the textbook sequential
    min-support edge peeling edge-for-edge, and max_truss must be the
    max truss number."""
    from linkgraph.build import symmetrize
    from linkgraph.kernels import trussness
    from tests.oracles import trussness_py

    g, pdf, n = rmat_graph
    res = trussness(g)
    got = {(r["u"], r["w"]): r["truss"] for r in res.df.collect()}
    sym = symmetrize(
        g.edges.sparkSession.createDataFrame(pdf, "src long, dst long")
    ).toPandas()
    assert got == trussness_py(sym["src"].to_numpy(), sym["dst"].to_numpy())
    assert res.max_truss == max(got.values())


def test_trussness_consistent_with_fixed_k_kernel(rmat_graph):
    """Contract: ktruss(g, k) edge set == {e : trussness(g) >= k}."""
    from linkgraph.kernels import ktruss, trussness

    g, pdf, n = rmat_graph
    tr = {(r["u"], r["w"]): r["truss"] for r in trussness(g).df.collect()}
    for k in (3, 4):
        want = {e for e, t in tr.items() if t >= k}
        assert {
            (r["u"], r["w"]) for r in ktruss(g, k).df.collect()
        } == want


def test_trussness_k4_with_pendant_triangle(spark):
    """K4 edges have truss 4; the pendant triangle's edges truss 3."""
    from linkgraph.kernels import trussness

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    tri = [(3, 4), (3, 5), (4, 5)]
    g = _graph(spark, pd.DataFrame(k4 + tri, columns=["src", "dst"]), 6)
    res = trussness(g)
    got = {(r["u"], r["w"]): r["truss"] for r in res.df.collect()}
    assert got == {**{e: 4 for e in k4}, **{e: 3 for e in tri}}
    assert res.max_truss == 4
    g.unpersist()


def test_trussness_path_all_two(spark):
    """A triangle-free graph: every edge has truss exactly 2."""
    from linkgraph.kernels import trussness

    g = _graph(spark, path_graph_edges(), 4)
    got = {(r["u"], r["w"]): r["truss"] for r in trussness(g).df.collect()}
    assert got == {(0, 1): 2, (1, 2): 2, (2, 3): 2}
    g.unpersist()


# ---------------------------------------------------------------------------
# landmark distance oracle
# ---------------------------------------------------------------------------


def _adj_from_pdf(pdf: pd.DataFrame, reverse: bool = False):
    adj: dict[int, list[int]] = {}
    for s, d in zip(pdf["src"].tolist(), pdf["dst"].tolist()):
        if reverse:
            s, d = d, s
        adj.setdefault(s, []).append(d)
    return adj


def test_landmark_distances_match_bfs_replay(rmat_graph):
    """d_from / d_to must equal per-landmark forward / reverse BFS."""
    from linkgraph.kernels import landmark_distances
    from tests.oracles import bfs_dists_py

    g, pdf, n = rmat_graph
    landmarks = [0, 5, 9]
    rows = landmark_distances(g, landmarks).collect()
    fwd_adj = _adj_from_pdf(pdf)
    rev_adj = _adj_from_pdf(pdf, reverse=True)
    expected: dict[tuple[int, int], list] = {}
    for lm in landmarks:
        for v, d in bfs_dists_py(fwd_adj, lm).items():
            expected.setdefault((v, lm), [None, None])[0] = d
        for v, d in bfs_dists_py(rev_adj, lm).items():
            expected.setdefault((v, lm), [None, None])[1] = d
    got = {
        (r["id"], r["landmark"]): [r["d_from"], r["d_to"]] for r in rows
    }
    assert got == expected


def test_estimate_distances_path_exact_and_tiebreak(spark):
    """On 0→1→2→3: bounds through landmarks are exact path distances;
    equal bounds resolve to the smaller landmark id; pairs with no
    landmark certificate are absent."""
    from linkgraph.kernels import estimate_distances, landmark_distances

    g = _graph(spark, path_graph_edges(), 4)
    idx = landmark_distances(g, [1, 2])
    pairs = spark.createDataFrame(
        [(0, 3), (3, 0), (0, 2)], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): (r["ub"], r["via"])
        for r in estimate_distances(idx, pairs).collect()
    }
    # (0,3): via 1 → 1+2 = 3; via 2 → 2+1 = 3; tie → landmark 1
    # (0,2): via 1 → 1+1 = 2; via 2 → 2+0 = 2; tie → landmark 1
    # (3,0): 3 reaches no landmark → absent
    assert got == {(0, 3): (3, 1), (0, 2): (2, 1)}
    g.unpersist()


def test_estimate_distances_upper_bound_property(rmat_graph):
    """Every published bound must be >= the true directed distance and
    equal to the best landmark relay in the replay."""
    from linkgraph.kernels import estimate_distances, landmark_distances
    from tests.oracles import bfs_dists_py

    g, pdf, n = rmat_graph
    landmarks = [0, 7]
    idx = landmark_distances(g, landmarks)
    srcs = [1, 2, 3]
    dsts = [4, 8, 12]
    pairs = g.edges.sparkSession.createDataFrame(
        [(s, t) for s in srcs for t in dsts], "src long, dst long"
    )
    got = {
        (r["src"], r["dst"]): (r["ub"], r["via"])
        for r in estimate_distances(idx, pairs).collect()
    }
    fwd_adj = _adj_from_pdf(pdf)
    rev_adj = _adj_from_pdf(pdf, reverse=True)
    d_from = {lm: bfs_dists_py(fwd_adj, lm) for lm in landmarks}
    d_to = {lm: bfs_dists_py(rev_adj, lm) for lm in landmarks}
    for s in srcs:
        true_d = bfs_dists_py(fwd_adj, s)
        for t in dsts:
            cands = [
                (d_to[lm][s] + d_from[lm][t], lm)
                for lm in landmarks
                if s in d_to[lm] and t in d_from[lm]
            ]
            if not cands:
                assert (s, t) not in got
                continue
            assert got[(s, t)] == min(cands)
            if t in true_d:
                assert got[(s, t)][0] >= true_d[t]


# ---------------------------------------------------------------------------
# louvain_moves (modularity-ascent local moves)
# ---------------------------------------------------------------------------


def test_louvain_moves_parity_matches_replay(rmat_graph):
    """schedule='parity', fixed rounds: distributed == sequential
    replay vertex-for-vertex (exact integer gains, no tolerance)."""
    from linkgraph.kernels import louvain_moves
    from tests.oracles import louvain_moves_py

    g, pdf, n = rmat_graph
    res = louvain_moves(g, max_iter=6, schedule="parity")
    got = {r["id"]: r["comm"] for r in res.df.collect()}
    want = louvain_moves_py(
        pdf["src"].to_numpy(),
        pdf["dst"].to_numpy(),
        batch_of={v: v % 2 for v in range(n)},
        n_batches=2,
        max_iter=6,
    )
    for v, c in want.items():
        assert got[v] == c, v
    # vertices with no edges never move
    for v in set(got) - set(want):
        assert got[v] == v


def test_louvain_moves_coloring_matches_replay(rmat_graph):
    """schedule='coloring' (default): replay fed the KERNEL's own
    color classes must agree exactly, and the run must reach the
    quiet-cycle fixpoint certificate."""
    from pyspark.sql import functions as F

    from linkgraph.build import build_graph_from_edges, symmetrize
    from linkgraph.kernels import louvain_moves
    from linkgraph.kernels.coloring import coloring
    from tests.oracles import louvain_moves_py

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    sym = symmetrize(
        spark.createDataFrame(pdf, "src long, dst long")
    ).where(F.col("src") != F.col("dst"))
    gs = build_graph_from_edges(sym)
    cres = coloring(gs)
    batch = {r["id"]: r["color"] for r in cres.df.collect()}
    res = louvain_moves(g, max_iter=60)
    assert res.metrics[-1]["converged"]
    got = {r["id"]: r["comm"] for r in res.df.collect()}
    want = louvain_moves_py(
        pdf["src"].to_numpy(),
        pdf["dst"].to_numpy(),
        batch_of=batch,
        n_batches=cres.colors_used,
        max_iter=60,
    )
    for v, c in want.items():
        assert got[v] == c, v
    gs.unpersist()


def test_louvain_moves_recovers_planted_partition(spark):
    """4 planted 12-vertex blocks (dense inside, one bridge between
    consecutive blocks): the converged communities are exactly the
    blocks and modularity is high."""
    import itertools

    from linkgraph.kernels import louvain_moves, modularity

    edges = []
    for b in range(4):
        base = 12 * b
        edges += [
            (base + i, base + j)
            for i, j in itertools.combinations(range(12), 2)
            if (i + j) % 3 != 0  # dense but not complete
        ]
    edges += [(11, 12), (23, 24), (35, 36)]  # sparse bridges
    g = _graph(spark, pd.DataFrame(edges, columns=["src", "dst"]), 48)
    res = louvain_moves(g, max_iter=80)
    assert res.metrics[-1]["converged"]
    got = {r["id"]: r["comm"] for r in res.df.collect()}
    blocks = [{got[12 * b + i] for i in range(12)} for b in range(4)]
    assert all(len(s) == 1 for s in blocks), blocks
    assert len({next(iter(s)) for s in blocks}) == 4
    q = modularity(g, res.df.withColumnRenamed("comm", "label"))
    assert q.collect()[0]["q"] > 0.6
    g.unpersist()


def test_louvain_moves_validates_schedule(rmat_graph):
    from linkgraph.kernels import louvain_moves

    g, _, _ = rmat_graph
    with pytest.raises(ValueError):
        louvain_moves(g, schedule="nope")


def test_pagerank_warm_start_converges_to_same_fixpoint(rmat_graph):
    """init_ranks warm start: restarting from converged scores
    converges immediately; after a graph change, warm and cold runs
    reach the same (unique) fixpoint, warm in fewer iterations."""
    from linkgraph.kernels import pagerank

    g, pdf, n = rmat_graph
    cold = pagerank(g, tol=1e-10, max_iter=300)
    warm_same = pagerank(g, tol=1e-10, max_iter=300, init_ranks=cold.df)
    assert warm_same.iterations <= 2
    a = cold.df.toPandas().sort_values("id")["rank"].to_numpy()
    b = warm_same.df.toPandas().sort_values("id")["rank"].to_numpy()
    np.testing.assert_allclose(a, b, atol=1e-9)

    # perturb the graph: add a few edges, rebuild
    spark = g.edges.sparkSession
    extra = pd.DataFrame({"src": [1, 2, 3], "dst": [40, 41, 42]})
    g2 = _graph(spark, pd.concat([pdf, extra], ignore_index=True), n)
    cold2 = pagerank(g2, tol=1e-10, max_iter=300)
    warm2 = pagerank(g2, tol=1e-10, max_iter=300, init_ranks=cold.df)
    a2 = cold2.df.toPandas().sort_values("id")["rank"].to_numpy()
    b2 = warm2.df.toPandas().sort_values("id")["rank"].to_numpy()
    np.testing.assert_allclose(a2, b2, atol=1e-8)
    assert warm2.iterations <= cold2.iterations
    g2.unpersist()


def test_louvain_multilevel_parity_matches_replay(rmat_graph):
    """Full multilevel Louvain under the parity schedule: distributed
    == sequential replay (move phases + contraction), exactly."""
    from linkgraph.kernels import louvain
    from tests.oracles import louvain_py

    g, pdf, n = rmat_graph
    res = louvain(g, max_iter=30, schedule="parity", max_levels=4)
    got = {r["id"]: r["comm"] for r in res.df.collect()}
    want = louvain_py(
        pdf["src"].to_numpy(),
        pdf["dst"].to_numpy(),
        n_batches=2,
        max_iter=30,
        max_levels=4,
    )
    for v, c in want.items():
        assert got[v] == c, v
    # isolated vertices keep their own label
    for v in set(got) - set(want):
        assert got[v] == v


def test_louvain_multilevel_merges_hierarchy(spark):
    """Two-scale planted graph: 8 K6 cliques, 6 bridges per clique
    pair inside each of two super-groups, one bridge across groups.
    Phase 1 finds the cliques (8 communities); the CONTRACTED level
    must merge further (measured: clique pairs — full-group merges
    are blocked by modularity's own resolution math, checked by the
    exact integer gain). Pinned: a second level runs, communities
    shrink below 8, none spans the two groups, and multilevel Q is
    at least single-phase Q."""
    import itertools

    from linkgraph.kernels import louvain, louvain_moves, modularity

    edges = []
    for c in range(8):
        base = 6 * c
        edges += [
            (base + i, base + j)
            for i, j in itertools.combinations(range(6), 2)
        ]
    # 6 in-group bridges per clique pair
    for group in (range(4), range(4, 8)):
        for a, b in itertools.combinations(group, 2):
            edges += [(6 * a + i, 6 * b + (i + 1) % 6) for i in range(6)]
    edges += [(0, 47)]  # single cross-group bridge
    g = _graph(spark, pd.DataFrame(edges, columns=["src", "dst"]), 48)
    res = louvain(g, max_iter=80, max_levels=5)
    assert res.levels >= 2
    got = {r["id"]: r["comm"] for r in res.df.collect()}
    groups = [{got[v] for v in range(24)}, {got[v] for v in range(24, 48)}]
    assert len(groups[0] | groups[1]) < 8  # contraction merged cliques
    assert not (groups[0] & groups[1])  # nothing spans the two groups
    q_multi = modularity(
        g, res.df.withColumnRenamed("comm", "label")
    ).first()["q"]
    one = louvain_moves(g, max_iter=80)
    q_one = modularity(
        g, one.df.withColumnRenamed("comm", "label")
    ).first()["q"]
    assert q_multi >= q_one - 1e-12
    g.unpersist()


def test_louvain_weighted_unit_degeneration(rmat_graph):
    """louvain_weighted with all weights 1 equals louvain exactly."""
    from pyspark.sql import functions as F

    from linkgraph.build import symmetrize
    from linkgraph.kernels import louvain, louvain_weighted

    g, pdf, n = rmat_graph
    spark = g.edges.sparkSession
    base = louvain(g, max_iter=20, schedule="parity", max_levels=3)
    # feed the same undirected structure as a unit-weighted edge list
    und = (
        symmetrize(spark.createDataFrame(pdf, "src long, dst long"))
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst", F.lit(1).alias("weight"))
    )
    w = louvain_weighted(
        und, max_iter=20, schedule="parity", max_levels=3
    )
    got_b = {r["id"]: r["comm"] for r in base.df.collect()}
    got_w = {r["id"]: r["comm"] for r in w.df.collect()}
    for v, c in got_w.items():
        assert got_b[v] == c, v


def test_louvain_weighted_heavy_bridge_rebinds(spark):
    """Two triangles joined by one bridge 2-3: at weight 1 the bridge
    is ignored (each triangle is a community, 2 stays with 0,1); at
    weight 50 the bridge dominates modularity and rips 2 and 3 OUT of
    their triangles into their own community (all-in-one is never the
    answer — a single community has Q = 0 by definition)."""
    from linkgraph.kernels import louvain_weighted

    tri = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5)]
    rows = [(s, d, 1) for s, d in tri]
    light = spark.createDataFrame(
        rows + [(2, 3, 1)], "src long, dst long, weight long"
    )
    heavy = spark.createDataFrame(
        rows + [(2, 3, 50)], "src long, dst long, weight long"
    )
    res_l = louvain_weighted(light, max_iter=40)
    comm_l = {r["id"]: r["comm"] for r in res_l.df.collect()}
    assert len(set(comm_l.values())) == 2
    assert comm_l[0] == comm_l[1] == comm_l[2]
    assert comm_l[3] == comm_l[4] == comm_l[5]
    res_h = louvain_weighted(heavy, max_iter=40)
    comm_h = {r["id"]: r["comm"] for r in res_h.df.collect()}
    assert comm_h[2] == comm_h[3]  # the heavy pair binds
    assert comm_h[2] not in (comm_h[0], comm_h[4])  # ripped out
    assert comm_h[0] == comm_h[1] and comm_h[4] == comm_h[5]
    assert len(set(comm_h.values())) == 3


def test_louvain_degenerate_graphs_terminate(spark):
    """r5 ADVICE fix: coloring on a graph whose contraction leaves no
    off-diagonal edges returns colors_used=0; louvain must not divide
    by zero (it % n_colors). Single edge, self-loop-only, and disjoint
    cliques (every component collapses to one community at level 1)
    all previously crashed with ZeroDivisionError."""
    from linkgraph.kernels import louvain, louvain_moves
    from linkgraph.kernels.louvain import louvain_weighted

    # single edge: level 1 contracts to one self-loop vertex
    g1 = build_graph_from_edges(
        spark.createDataFrame([(0, 1)], "src long, dst long")
    )
    r1 = louvain(g1)
    comm = {r["id"]: r["comm"] for r in r1.df.collect()}
    assert comm[0] == comm[1]
    g1.unpersist()

    # self-loop only: zero off-diagonal edges at level 0
    g0 = build_graph_from_edges(
        spark.createDataFrame([(5, 5)], "src long, dst long")
    )
    assert [tuple(r) for r in louvain_moves(g0).df.collect()] == [(5, 5)]
    rw = louvain_weighted(
        spark.createDataFrame([(5, 5, 1)], "src long, dst long, weight long")
    )
    assert [tuple(r) for r in rw.df.collect()] == [(5, 5)]
    g0.unpersist()

    # three disjoint 4-cliques: each collapses to one community
    edges = [
        (b * 10 + u, b * 10 + v)
        for b in range(3)
        for u in range(4)
        for v in range(4)
        if u != v
    ]
    g2 = build_graph_from_edges(
        spark.createDataFrame(edges, "src long, dst long")
    )
    r2 = louvain(g2)
    comm2 = {r["id"]: r["comm"] for r in r2.df.collect()}
    assert len(set(comm2.values())) == 3
    for b in range(3):
        assert len({comm2[b * 10 + u] for u in range(4)}) == 1
    g2.unpersist()


def test_pseudo_diameter_validates_input(spark):
    """r5 ADVICE fix: empty graph and absent start id raise clear
    ValueErrors instead of TypeError / silent ecc=0."""
    from linkgraph.kernels import pseudo_diameter

    gempty = build_graph_from_edges(
        spark.createDataFrame([], "src long, dst long")
    )
    with pytest.raises(ValueError, match="no vertices"):
        pseudo_diameter(gempty)
    gempty.unpersist()

    g = build_graph_from_edges(
        spark.createDataFrame([(0, 1)], "src long, dst long")
    )
    with pytest.raises(ValueError, match="not a vertex"):
        pseudo_diameter(g, start=999)
    g.unpersist()


def test_negative_sample_high_bits_decorrelate(spark):
    """r5 ADVICE fix: the candidate draw mixes the FULL src — sources
    congruent mod 2^20 must draw different candidate sequences. Build
    a graph on {0, 2^20} plus enough filler vertices that draws
    survive the hole filter, then compare the two slates."""
    from linkgraph.kernels import negative_sample
    from tests.oracles import negative_sample_replay

    n = 64
    lo, hi = 0, 1 << 20
    pairs = [(lo, 1), (hi, 2)] + [(3, i) for i in range(4, n)]
    src = np.array([p[0] for p in pairs], dtype=np.int64)
    dst = np.array([p[1] for p in pairs], dtype=np.int64)
    g = build_graph_from_edges(
        spark.createDataFrame(pairs, "src long, dst long"), n=hi + 1
    )
    res = negative_sample(g, k=4, seed=7)
    rows = {(r["src"], r["slot"], r["dst"]) for r in res.df.collect()}
    want = negative_sample_replay(src, dst, k=4, seed=7, n=hi + 1)
    assert rows == want
    seq_lo = sorted((s, d) for s, sl, d in rows if s == lo)
    seq_hi = sorted(d for s, sl, d in rows if s == hi)
    assert seq_hi and [d for _, d in seq_lo] != seq_hi
    g.unpersist()
