"""Plan-shape regression tests: pin the physical-plan properties the
engine's scale story depends on, so a refactor that silently
reintroduces a Window sort, loses a broadcast, or breaks parquet
pushdown fails CI — not a 100 TB run.

These assert on executedPlan().toString() BEFORE execution (the
initial plan), which is deterministic for a given session config —
no AQE runtime re-plan has happened yet.
"""

from __future__ import annotations

import importlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from linkgraph.build import build_graph_from_edges
from linkgraph.datagen import rmat_edges
from linkgraph.frontier import edge_map
from linkgraph.kernels import connected_components, label_propagation, pagerank, scc
from linkgraph.loop import loop_width


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tiny_graph(spark):
    g = build_graph_from_edges(
        spark.createDataFrame(
            pd.DataFrame({"src": [0, 1, 2, 0], "dst": [1, 2, 0, 2]})
        ),
        num_partitions=2,
    )
    yield g
    g.unpersist()


def test_labelprop_winner_has_no_window_node(spark):
    """The min_by winner pick must stay a hash aggregation — a
    row_number regression would add a Window (and its per-partition
    sort) back into every labelprop round."""
    counts = spark.createDataFrame(
        pd.DataFrame({"dst": [0, 0, 1], "label": [1, 2, 1], "cnt": [2, 1, 1]})
    )
    winners = counts.groupBy("dst").agg(
        F.min_by("label", F.struct(F.negate(F.col("cnt")), F.col("label"))).alias(
            "new_label"
        )
    )
    assert "Window" not in _plan(winners)


def test_edge_map_sparse_push_broadcasts_the_frontier(spark, tiny_graph):
    """Sparse-push mode must plan a broadcast join (the frontier is the
    build side): losing it turns every small-frontier round into an
    m-row shuffle."""
    frontier = spark.createDataFrame([(0,)], "id long")
    out = edge_map(
        tiny_graph, frontier, aggs=[F.count("*").alias("c")], dense=False, volume=0
    )
    assert "BroadcastExchange" in _plan(out)


def test_edge_map_dense_pull_does_not_broadcast(spark, tiny_graph):
    """Dense-pull mode must NOT force a broadcast build of the (full)
    frontier — at scale that build side is the n-row state. (Catalyst
    may still auto-broadcast a genuinely tiny side; disable the
    threshold to model the at-scale planner decision.)"""
    from linkgraph.session import conf_override

    frontier = tiny_graph.vertices.select("id")
    with conf_override(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        out = edge_map(
            tiny_graph, frontier, aggs=[F.count("*").alias("c")],
            dense=True, volume=10**9,
        )
        plan = _plan(out)
    assert "BroadcastExchange" not in plan


def test_cc_bitmap_frontier_filter_is_exchange_free(spark, tiny_graph):
    """The CC frontier is a boolean filter over the checkpointed state
    (the D9 bitmap rep) — deriving it must not cost a shuffle."""
    state = (
        tiny_graph.vertices.select(
            "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
        )
        .localCheckpoint(eager=True)
    )
    frontier = state.where(F.col("changed")).select("id", "comp")
    assert "Exchange" not in _plan(frontier)


def test_parquet_scan_pushes_filter_and_prunes_columns(spark, sf_dir):
    """Filters and projections must reach the parquet scan: a plan
    reading all columns for a 2-column projection is wrong at any
    scale (SURVEY §4; the north rule's corpus is columnar)."""
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 10)
        .select("doc_id")
    )
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "LessThan(doc_id,10)" in plan
    # ReadSchema carries only the pruned column
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" not in read_schema


def test_cosine_topk_plan_is_scan_parallel_not_cartesian(spark):
    """The exact top-k baseline must keep its scan-parallel shape: one
    corpus scan feeding a per-partition partial top-k (mapInPandas),
    with NO cartesian/broadcast-nested-loop join and no n*q-row
    exchange — the final window only ever sees the pruned partials.
    A crossJoin regression would reintroduce the skewed single-key
    shuffle this plan removed."""
    from linkgraph.pipeline import cosine_topk

    emb = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(0.1), F.col("id").cast("double")).cast(
            "array<float>"
        ).alias("embedding"),
    )
    plan = _plan(cosine_topk(emb, k=3, max_queries=4, max_rows=None))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_kcore_round_shapes(spark, tiny_graph):
    """kcore's per-round plan must keep its two scale properties:
    (1) the degree recount rides the src-partitioned cached edge table
    with NO exchange between the scan and the aggregate, and (2) the
    removed-set filter is a broadcast anti-join, never an edge
    shuffle."""
    from pyspark.sql import functions as F2

    deg = tiny_graph.edges.groupBy("src").agg(F2.count(F2.lit(1)).alias("deg"))
    plan = _plan(deg)
    agg_part = plan.split("InMemoryTableScan")[0]
    assert "Exchange" not in agg_part

    removed = spark.createDataFrame([(0,)], "src long")
    nxt = tiny_graph.edges.join(F2.broadcast(removed), "src", "left_anti").join(
        F2.broadcast(removed.withColumnRenamed("src", "dst")), "dst", "left_anti"
    )
    nplan = _plan(nxt)
    assert "BroadcastExchange" in nplan
    assert "ShuffledHashJoin" not in nplan and "SortMergeJoin" not in nplan


def test_mis_min_key_gather_is_exchange_free(spark, tiny_graph):
    """mis/coloring's per-round min-key gather must ride the
    src-partitioned cached edge table with no exchange between the
    scan and the aggregate (the kcore degree-recount property)."""
    from linkgraph.kernels.mis import priority_key

    mk = tiny_graph.edges.groupBy("src").agg(
        F.min(priority_key(F.col("dst"))).alias("nk")
    )
    plan = _plan(mk)
    agg_part = plan.split("InMemoryTableScan")[0]
    assert "Exchange" not in agg_part


def test_anf_round_aggregates_map_side(spark, tiny_graph):
    """One ANF round = one partial+final bit_or aggregation (map-side
    combined: two HashAggregate levels around a single exchange) and
    NO per-row python: the plan must stay whole-stage codegen JVM ops
    with no 'Python' operator nodes."""
    from linkgraph.kernels.anf import _seed_bit

    state = tiny_graph.vertices.select(
        "id", _seed_bit(F.col("id"), 0).alias("m0")
    )
    gathered = edge_map(
        tiny_graph,
        state,
        aggs=[F.expr("bit_or(m0)").alias("g0")],
        reverse=True,
        dense=True,
        volume=tiny_graph.m,
    )
    plan = _plan(gathered)
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Python" not in plan and "BatchEvalPython" not in plan


def test_scc_sweep_accept_is_equi_join_not_nested_loop(spark, tiny_graph):
    """The multi-lane accept (edge_map group_extra, then a lane/color
    equality filter, as in frontier.traverse's lanes under msbfs and
    betweenness)
    filters candidates by color equality AFTER an equi-join on dst;
    Catalyst must plan a hash/broadcast equi-join
    (the color predicate is a post-join filter), never fall to a
    nested-loop/cartesian — that would be an n^2 sweep at scale. Also
    pins that the cond() anti-join (exclude_dst) sits BELOW the
    message aggregation, so already-marked targets do no agg work."""
    frontier = spark.createDataFrame([(0, 0)], "id long, scc long")
    marked = frontier
    cand = edge_map(
        tiny_graph,
        frontier,
        aggs=[F.count("*").alias("_msgs")],
        reverse=True,
        volume=0,
        exclude_dst=marked,
        group_extra=["scc"],
    ).select("dst", "scc")
    colors = spark.createDataFrame([(0, 0), (1, 0)], "id long, color long")
    accept = (
        cand.join(colors.withColumnRenamed("id", "dst"), "dst")
        .where(F.col("color") == F.col("scc"))
        .select(F.col("dst").alias("id"), "scc")
    )
    plan = _plan(accept)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # anti-join (cond) below the aggregate: the first HashAggregate
    # from the top must appear before any anti-join text ends, i.e.
    # the anti join string occurs after the aggregate in top-down
    # plan order (children print below parents)
    agg_pos = plan.find("HashAggregate")
    anti_pos = plan.find("LeftAnti")
    assert agg_pos != -1 and anti_pos != -1 and agg_pos < anti_pos


def test_kmeans_assignment_is_single_stage_no_python(spark):
    """The k-means assignment must stay ONE codegen projection over
    the input: no Exchange (it's per-row), no Python eval (the folds
    are built-in higher-order functions)."""
    from linkgraph.pipeline.embedcluster import _dist2

    df = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    cents = [[0.0, 0.5], [1.0, 0.5]]
    best = F.array_min(
        F.array(
            *[
                F.struct(
                    _dist2(F.col("embedding"), c).alias("d"),
                    F.lit(j).cast("long").alias("c"),
                )
                for j, c in enumerate(cents)
            ]
        )
    )
    plan = _plan(df.select("vec_id", best["c"].alias("cluster")))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_hash_sample_is_scan_plus_filter_only(spark):
    """Deterministic sampling must plan as a bare Filter over the
    scan: any Exchange or Python node means it stopped being a free
    pushed-through predicate."""
    from linkgraph.pipeline import hash_sample

    df = spark.createDataFrame(
        [(i, "t") for i in range(10)], "doc_id long, text string"
    )
    plan = _plan(hash_sample(df, 0.5, seed=3))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Filter" in plan


def test_matching_min_key_is_partial_final_agg_no_window(spark, tiny_graph):
    """The per-vertex min incident key must stay a partial+final
    aggregation over the endpoint union (struct min plans as
    SortAggregate — fine, it still combines map-side); a
    window/row_number regression would lose the partial combine and
    single-partition the hot vertex."""
    from linkgraph.kernels.matching import _key_struct, edge_priority

    cur = tiny_graph.edges.where(F.col("src") != F.col("dst")).select(
        edge_priority(F.least("src", "dst"), F.greatest("src", "dst")).alias("h"),
        F.least("src", "dst").alias("u"),
        F.greatest("src", "dst").alias("v"),
    )
    inc = cur.select(F.col("u").alias("vid"), _key_struct().alias("k")).union(
        cur.select(F.col("v").alias("vid"), _key_struct().alias("k"))
    )
    plan = _plan(inc.groupBy("vid").agg(F.min("k").alias("mk")))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine = hub-skew-safe


def test_gopher_bigram_mode_is_two_hash_aggs_no_window(spark):
    """gopher_quality's top-bigram stage must stay explode -> two hash
    aggregations keyed by doc (map-side combinable) — a window/rank
    rewrite would add a per-doc sort to every corpus scan; and no
    per-row Python anywhere."""
    from linkgraph.pipeline import gopher_quality

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b a b c", "x y"]})
    )
    plan = _plan(gopher_quality(docs))
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final x two stages
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_feature_prop_round_is_equi_join_plus_hash_agg(spark):
    """A feature_propagation round must plan the edges-to-state join
    as an equi-join (never nested-loop) feeding a partial+final hash
    aggregation — the m*dim shuffle is the op's documented cost, a
    BNLJ or a Window would be a different (broken) operator."""
    from linkgraph.pipeline.embedprop import _prop_round

    state = spark.createDataFrame(
        [(i, 0, i * 1000) for i in range(6)], "id long, dim long, q long"
    )
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    plan = _plan(_prop_round(edges, state))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_url_canon_is_single_stage_no_exchange(spark):
    """canonicalize_urls must stay one whole-stage-codegen projection:
    any Exchange means someone added a shuffle to a per-row op."""
    from linkgraph.pipeline import canonicalize_urls

    # a Range-backed source: a literal local frame constant-folds to a
    # LocalTableScan and hides the projection we want to pin
    df = spark.range(10).select(
        F.concat(
            F.lit("http://a.com/x/"), F.col("id"), F.lit("?utm_source=1#f")
        ).alias("url")
    )
    plan = _plan(canonicalize_urls(df))
    assert "Exchange" not in plan  # zero shuffles
    # one JVM Project (the higher-order array filter keeps the top
    # projection out of codegen, but it is still JVM-side, no Python)
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    # two Projects max: the fixture's url builder + the canonicalizer
    assert plan.count("Project") <= 2


def test_pack_sequences_has_no_global_sort(spark):
    """The packing prefix sum must be the two-phase range-partitioned
    scan — a global Sort (single-partition window) would serialize the
    100 TB path. RangePartitioning + mapInPandas is the pinned shape."""
    from linkgraph.pipeline import pack_sequences

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(20), "text": ["a b c"] * 20})
    )
    out = pack_sequences(df, budget=4, num_partitions=3)
    plan = _plan(out)
    assert "Window" not in plan
    assert "rangepartitioning" in plan.lower()
    assert "MapInPandas" in plan


def test_copy_candidates_joins_on_fingerprint_no_cartesian(spark):
    """The pair join must stay an equi-join keyed on the fingerprint —
    a cartesian/nested-loop regression is the n² failure mode."""
    from linkgraph.pipeline import copy_candidates

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["a b c d e f g h", "a b c d e f g h"]})
    )
    plan = _plan(copy_candidates(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppr_sweep_edge_tagging_broadcasts_ranked_set(spark, tiny_graph):
    """The sweep's one m-row pass must broadcast the <= max_sweep-row
    ranked set onto the edges (never shuffle the edge table on a
    rank key), and the prefix windows run over the bounded ranked
    rows only."""
    from linkgraph.kernels import ppr_sweep

    res = ppr_sweep(tiny_graph, [0], tol=0.0, max_iter=2, max_sweep=8)
    # result plan is downstream of the severed sweep frame; assert on
    # the member output: no Cartesian anywhere, and the kernel ran the
    # bounded path (best_k <= max_sweep)
    plan = _plan(res.df)
    assert "CartesianProduct" not in plan
    assert res.best_k <= 8


def test_pmi_pair_generation_is_projection_no_join(spark):
    """pmi_topk's window pair generation must stay a codegen
    projection (nested transform over sequence) — a positions
    self-join would shuffle the token table on doc_id."""
    from linkgraph.pipeline import pmi_topk

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e "), F.col("id") % 3).alias("text"),
    )
    plan = _plan(pmi_topk(df, window=2, min_count=1, k=10))
    # joins allowed only for the two broadcast marginal lookups and
    # the one-row N cross join — never a SortMerge/ShuffledHash pair
    # expansion keyed on doc_id
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bm25_no_unbounded_cartesian_and_scan_side_filter(spark):
    """bm25_topk: the only nested-loop join is the one-row avgdl
    broadcast; the query-vocab IN must reach the term filter before
    any shuffle (no full-vocab tf relation)."""
    from linkgraph.pipeline import bm25_topk

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e "), F.col("id") % 3).alias("text"),
    )
    plan = _plan(bm25_topk(df, "a e", k=5))
    assert "CartesianProduct" not in plan
    # the stats cross join is broadcast nested-loop over ONE row —
    # any other nested loop is a regression
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "EvalPython" not in plan
    # term IN (...) appears as a Filter, not post-aggregation
    assert plan.count("Exchange") <= 6  # aggs + TakeOrdered, no extras


def test_inverted_index_single_term_keyed_shuffle(spark):
    """inverted_index: exactly the (doc,term) agg + term agg exchanges
    — posting-list assembly must not add sorts/joins."""
    from linkgraph.pipeline import inverted_index

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e "), F.col("id") % 3).alias("text"),
    )
    plan = _plan(inverted_index(df))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2


def test_normalized_dedup_is_projection_plus_one_shuffle(spark):
    """normalized_dup_groups: one JVM normalization projection + the
    hash-keyed partial+final agg — no Python, no joins, <= 1
    exchange (exact_dup_groups' profile)."""
    from linkgraph.pipeline import normalized_dup_groups

    df = spark.range(30).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("A  b!! 5 "), F.col("id") % 3).alias("text"),
    )
    plan = _plan(normalized_dup_groups(df))
    assert "Join" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") <= 1


def test_covisitation_pair_join_keyed_on_session(spark):
    """The pair expansion must be an equi-join on (user, session) —
    never cartesian/nested-loop; the marginal lookups broadcast."""
    import pandas as pd

    from linkgraph.pipeline import covisitation

    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2, 2],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:00"] * 2 + ["2024-01-01 01:00:00"] * 2
            ),
            "item": [1, 2, 1, 3],
        }
    )
    plan = _plan(covisitation(spark.createDataFrame(pdf), min_count=1))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_resolve_redirects_equi_joins_only(spark):
    """Pointer doubling must stay equi-joins on the pointer key."""
    import pandas as pd

    from linkgraph.kernels import resolve_redirects

    df = spark.createDataFrame(
        pd.DataFrame({"src": [1, 2, 3], "dst": [2, 3, 4]})
    )
    plan = _plan(resolve_redirects(df))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_c4_quality_is_single_stage_no_exchange(spark):
    """c4_quality must stay one whole-stage-codegen projection — any
    Exchange or Python node means a shuffle crept into a per-row op."""
    from linkgraph.pipeline import c4_quality

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("word one two three. Second. Third "), F.col("id")).alias("text"),
    )
    plan = _plan(c4_quality(df))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_chunk_documents_no_exchange_no_python(spark):
    """chunk_documents = projection + Generate (posexplode), still
    zero shuffles and zero Python."""
    from linkgraph.pipeline import chunk_documents

    df = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b c d e f g h i j k "), F.col("id")).alias("text"),
    )
    plan = _plan(chunk_documents(df, window=4, overlap=1))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert "Generate" in plan  # the posexplode


def test_cms_build_is_partial_final_single_exchange(spark):
    """count_min_sketch must keep the partial+final aggregate shape:
    one Exchange on (d, bucket), partial_count BEFORE it (map-side
    combine collapses the shuffle to P·depth·width rows)."""
    from linkgraph.pipeline import count_min_sketch

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w x y z "), F.col("id")).alias("text"),
    )
    plan = _plan(count_min_sketch(docs, depth=2, width=8, seed=1))
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan  # map-side combine below the shuffle
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_bloom_probe_broadcasts_the_filter(spark):
    """bloom_probe must broadcast the (tiny) filter side — a
    SortMergeJoin or shuffled join on the probe stream would shuffle
    the corpus for a m/32-row table."""
    from linkgraph.pipeline import bloom_build, bloom_probe

    docs = spark.range(10).select(F.concat(F.lit("k"), "id").alias("key"))
    b = bloom_build(docs, "key", m_bits=64, k=2)
    plan = _plan(bloom_probe(b, docs, "key", m_bits=64, k=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan  # AND folds map-side


def test_hll_register_agg_is_partial_final(spark):
    """hll_distinct's register build = partial+final MAX onto 2^b
    keys; the estimate side stays one tiny aggregate."""
    from linkgraph.pipeline import hll_distinct

    vals = spark.range(50).select(F.concat(F.lit("v"), "id").alias("term"))
    regs, est = hll_distinct(vals, b=4, seed=1)
    plan = _plan(regs)
    assert "partial_max" in plan
    assert "EvalPython" not in plan and "MapInPandas" not in plan


def test_node2vec_step_plan_shape(spark):
    """One biased step = two ShuffledHashJoins (scatter + distance-1
    test) and the two stacked windows SHARING one (start, walk)
    Exchange — no SortMergeJoin, no cartesian, no Python."""
    import pandas as pd

    from linkgraph.build import build_graph_from_edges
    from linkgraph.kernels.node2vec import _step
    from linkgraph.session import conf_override

    edges_pdf = pd.DataFrame({"src": [0, 1, 2, 0], "dst": [1, 2, 0, 2]})
    g = build_graph_from_edges(spark.createDataFrame(edges_pdf), num_partitions=2)
    pe = g.edges.select(
        F.col("src").alias("p_src"), F.col("dst").alias("p_dst"), F.lit(1).alias("d1")
    )
    pos = g.vertices.select(
        F.col("id").alias("start"),
        F.lit(0).cast("long").alias("walk"),
        F.col("id").alias("prev"),
        F.col("id").alias("vertex"),
    )
    with conf_override(
        spark,
        {
            "spark.sql.join.preferSortMergeJoin": "false",
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        plan = _plan(_step(pos, g.edges, pe, 1, 7, (1, 4, 2), None))
    assert plan.count("ShuffledHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("Window") == 2
    # the stacked windows share one partitioning exchange
    assert plan.count("Exchange hashpartitioning(start") == 1
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    g.unpersist()


def test_sever_loop_stays_flat(spark):
    """Pins the sever() narrow-diamond rule (checkpoint.py): a round
    with two un-aggregated checkpointed-state paths meeting in one
    join compounds localCheckpoint ~2.6x per round (0.6 s -> minutes
    by round ~22 on 64 rows). louvain_moves' round is the shape that
    originally triggered it; 22 rounds must stay flat."""
    import pandas as pd

    from linkgraph.build import build_graph_from_edges
    from linkgraph.datagen import rmat_edges
    from linkgraph.kernels import louvain_moves

    pdf = rmat_edges(scale=6, edge_factor=6)
    g = build_graph_from_edges(
        spark.createDataFrame(pdf, "src long, dst long"), n=64, num_partitions=4
    )
    res = louvain_moves(g, max_iter=22, schedule="parity")
    walls = [m["wall_s"] for m in res.metrics]
    assert len(walls) == 22
    head = sum(walls[:5]) / 5
    tail = sum(walls[-3:]) / 3
    # compounding puts the tail at ~10-60x the head by round 22;
    # flat runs sit within noise of 1x
    assert tail < 8 * head + 0.5, (head, tail, walls)
    g.unpersist()


# kernel module -> a call that builds >= 3 rounds in its first chain
# (scc: the first chain of its backward sweep; its coloring runs
# through cc's label loop, so cc's rows pin that round)
ROUND_KERNELS = {
    "linkgraph.kernels.pagerank": lambda g: pagerank(g, tol=0.0, max_iter=4),
    "linkgraph.kernels.labelprop": lambda g: label_propagation(g, max_iter=4),
    "linkgraph.kernels.cc": lambda g: connected_components(g, max_iter=4),
    "linkgraph.kernels.scc": scc,
}


def _round_exchanges(monkeypatch, module: str, g, rnd: int = 3) -> list[str]:
    """The output partitionings of the Exchanges in the executed plan
    of round ``rnd``, captured live by wrapping the kernel module's
    ``fixpoint`` step. The walk follows plan children only, so the
    plan under a cached InMemoryRelation (an inner child of its scan)
    is not counted."""
    mod = importlib.import_module(module)
    real = mod.fixpoint
    plans = []

    def fixpoint(edges, *, step, **kw):
        def probe(cur, e):
            out = step(cur, e)
            plans.append(out._jdf.queryExecution().executedPlan())
            return out

        return real(edges, step=probe, **kw)

    monkeypatch.setattr(mod, "fixpoint", fixpoint)
    ROUND_KERNELS[module](g).df.count()
    out, todo = [], [plans[rnd - 1]]
    while todo:
        node = todo.pop()
        if "Exchange" in node.nodeName():
            out.append(node.outputPartitioning().toString())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return sorted(out)


@pytest.fixture(scope="module")
def width2_graph(spark):
    g = build_graph_from_edges(
        spark.createDataFrame(rmat_edges(scale=14, seed=3), "src long, dst long")
    )
    assert (g.m, loop_width(g.m), g.edges.rdd.getNumPartitions()) == (119_821, 2, 2)
    yield g
    g.unpersist()


@pytest.mark.parametrize(
    "module, expected",
    [
        ("linkgraph.kernels.labelprop", []),
        ("linkgraph.kernels.cc", []),
        ("linkgraph.kernels.scc", []),
        ("linkgraph.kernels.pagerank", ["BroadcastPartitioning(IdentityBroadcastMode)"]),
    ],
)
def test_round_plan_at_width_one_has_no_hash_exchange(
    spark, monkeypatch, module, expected
):
    """Below 64k edges the build and the loop use one partition, which
    satisfies every clustered distribution: a steady-state round has no
    scatter, gather or apply exchange. pagerank keeps only its one-row
    dangling-mass broadcast; labelprop, cc and the scc sweep have no
    exchange at all."""
    g = build_graph_from_edges(
        spark.createDataFrame(rmat_edges(scale=8, seed=3), "src long, dst long")
    )
    assert loop_width(g.m) == 1
    assert _round_exchanges(monkeypatch, module, g) == expected
    g.unpersist()


def test_pagerank_round_plan_at_width_two(spark, monkeypatch, width2_graph):
    """At width 2 a steady-state pagerank round exchanges only the
    gather (hash on dst) and the one-row dangling mass (SinglePartition,
    then its broadcast): the scatter join reads the state in place, no
    n-row exchange keyed on src."""
    ex = _round_exchanges(monkeypatch, "linkgraph.kernels.pagerank", width2_graph)
    assert len(ex) == 3, ex
    assert ex[0] == "BroadcastPartitioning(IdentityBroadcastMode)", ex
    assert ex[1] == "SinglePartition", ex
    assert ex[2].startswith("hashpartitioning(dst#") and ex[2].endswith(", 2)"), ex


def test_labelprop_round_plan_at_width_two(spark, monkeypatch, width2_graph):
    """At width 2 a labelprop round exchanges only on its gather keys
    (dst, then (dst, label)); the scatter join reads the state in
    place."""
    ex = _round_exchanges(monkeypatch, "linkgraph.kernels.labelprop", width2_graph)
    assert len(ex) == 2, ex
    assert all(x.startswith("hashpartitioning(dst#") for x in ex), ex


@pytest.mark.parametrize("module", ["linkgraph.kernels.cc", "linkgraph.kernels.scc"])
def test_frontier_round_plan_at_width_two(spark, monkeypatch, width2_graph, module):
    """At width 2 a cc round and an scc sweep round exchange only their
    gather key (hash on dst): the scatter join reads the state and the
    src-laid-out edge cache (the sweep's transposed copy) in place, and
    the apply join meets the gather on the vertex id alone."""
    ex = _round_exchanges(monkeypatch, module, width2_graph)
    assert len(ex) == 1, ex
    assert ex[0].startswith("hashpartitioning(dst#") and ex[0].endswith(", 2)"), ex


def _executed_node_names(plan) -> list[str]:
    """The node names of an executed (AQE) plan. The walk follows plan
    children only, so the plan under a cached InMemoryRelation is not
    counted (as in ``_round_exchanges``); it steps into the adaptive
    root and its query stages, which hold their subtrees outside
    ``children()``."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node.nodeName())
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def test_triangle_count_plan_below_cap(spark, monkeypatch):
    """rmat_kernels' triangle_count (R-MAT scale 11, seed 3, below the
    broadcast cap), captured live from its executed count query: the
    wedge self-join is the one ShuffledHashJoin, reading the cached
    orientation co-partitioned; the close is the one BroadcastHashJoin;
    no SortMergeJoin and no Sort touch the wedge stream."""
    from linkgraph.kernels import triangle_count
    from tests.oracles import triangle_count_numpy

    pdf = rmat_edges(scale=11, seed=3)
    g = build_graph_from_edges(spark.createDataFrame(pdf, "src long, dst long"))
    plans = []

    def count(self):
        agg = self.groupBy().count()
        n = agg.collect()[0][0]
        plans.append(agg._jdf.queryExecution().executedPlan())
        return n

    with monkeypatch.context() as m:
        m.setattr(type(g.edges), "count", count)
        got = triangle_count(g).count
    assert got == triangle_count_numpy(1 << 11, pdf["src"].to_numpy(), pdf["dst"].to_numpy())
    assert len(plans) == 1
    names = _executed_node_names(plans[0])
    assert names.count("ShuffledHashJoin") == 1, names
    assert names.count("BroadcastHashJoin") == 1, names
    assert "SortMergeJoin" not in names and "Sort" not in names, names
    g.unpersist()


def test_page_extraction_parses_each_page_once(spark):
    """Each page goes through its extraction UDF once: one
    ArrowEvalPython in the executed plans of edges_from_pages, of the
    streaming edge projection (on a batch frame) and of anchor_texts.
    From a plain explode Catalyst infers size(hrefs) > 0 and pushes it
    below the UDF projection, which evaluates the UDF a second time."""
    from linkgraph.datagen import PagesSpec, generate_pages
    from linkgraph.extract import anchor_texts, edges_from_pages
    from linkgraph.streaming import page_stream_to_edges

    pages = spark.createDataFrame(generate_pages(PagesSpec(n_pages=20)))
    for make in (edges_from_pages, page_stream_to_edges, anchor_texts):
        assert _plan(make(pages)).count("ArrowEvalPython") == 1, make.__name__


def test_committed_plan_audit_is_clean():
    """The committed plan-audit artifact (tools/plan_audit.py ->
    PLANS_r6.json, r5 fallback) must show zero CartesianProduct and
    zero row-at-a-time Python UDF eval (BatchEvalPython) in every
    audited plan — including the r6 `round:` rows that audit one
    MID-LOOP round plan per chained iterative kernel — and every
    subject must have produced a plan (no errors). Regenerate with
    `python tools/plan_audit.py` after plan-affecting changes — this
    test is the round-over-round regression tripwire."""
    import json
    import os

    here = os.path.dirname(__file__)
    path = None
    for cand in ("PLANS_r6.json", "PLANS_r5.json"):
        p = os.path.join(here, "..", cand)
        if os.path.exists(p):
            path = p
            break
    if path is None:
        import pytest as _pytest

        _pytest.skip("no PLANS_r*.json audit generated yet this round")
    with open(path) as f:
        audit = json.load(f)["plans"]
    assert audit, "empty audit"
    errors = {n: p["error"] for n, p in audit.items() if "error" in p}
    assert not errors, errors
    dirty = {
        n: p
        for n, p in audit.items()
        if p.get("cartesian", 0) or p.get("batch_eval_python", 0)
    }
    assert not dirty, dirty
