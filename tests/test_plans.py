"""Plan-shape regression tests (SURVEY.md §4.3.2): the physical plans
the 100 TB posture relies on must actually materialize.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.plans.assertions import (
    assert_in_plan,
    plan_text,
)
from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.sources.io import load_tables
from tests.conftest import TEST_SF_DIR, manifest_listing, py4j_commands

load_all_query_modules()


def test_filter_pushdown_reaches_parquet_scan(spark):
    """The pricing-summary shipdate filter must land in PushedFilters."""
    df = REGISTRY["agg_pricing_summary"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "PushedFilters" in text
    assert "l_shipdate" in text.split("PushedFilters")[1].splitlines()[0]


def test_column_pruning_on_wide_table(spark):
    """A 2-column projection over documents must not scan text."""
    t = load_tables(spark, TEST_SF_DIR)
    df = t["documents"].select("doc_id", "lang").filter(F.col("lang") == "en")
    text = plan_text(df)
    schema_line = text.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in schema_line and "lang" in schema_line
    assert "text" not in schema_line


def test_broadcast_join_for_dims(spark):
    df = REGISTRY["join_broadcast"].fn(spark, TEST_SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")


def test_star_join_broadcasts_dims_without_hints(spark):
    """Planner (not hints) should pick broadcast for the small dims."""
    df = REGISTRY["join_inner_star"].fn(spark, TEST_SF_DIR)
    assert_in_plan(df, "BroadcastHashJoin")


def test_global_topk_is_take_ordered(spark):
    df = REGISTRY["limit_topk"].fn(spark, TEST_SF_DIR)
    assert_in_plan(df, "TakeOrderedAndProject")


def test_band_join_is_broadcast_nested_loop(spark):
    df = REGISTRY["join_theta_range"].fn(spark, TEST_SF_DIR)
    assert_in_plan(df, "BroadcastNestedLoopJoin")


def test_whole_stage_codegen_in_agg(spark):
    """Codegen spans only materialize in the AQE-final executed plan,
    so run the query first, then inspect executedPlan."""
    import re

    df = REGISTRY["agg_pricing_summary"].fn(spark, TEST_SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    # codegen stages render as "*(N) Operator" in the executed plan
    assert re.search(r"\*\(\d+\)", executed), executed


def test_bucketed_join_has_no_shuffle(spark):
    """Joining two tables bucketed+sorted on the join key must not add
    an Exchange (the whole point of paying the shuffle at write time)."""
    from pyspark_analytics_library_spark.operators.skew import bucketed_join_pair

    df = bucketed_join_pair(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "SortMergeJoin" in text, text
    assert "Exchange" not in text, text


def test_salted_join_never_replicates_probe(spark):
    """The probe (lineitem) side must appear without a Generate/explode
    above it — only the build side replicates."""
    df = REGISTRY["join_salted_skew"].fn(spark, TEST_SF_DIR)
    # correctness of results is oracle-checked; here just pin that the
    # plan contains exactly one Generate (the build-side explode).
    # Formatted explain renders each operator once in the tree
    # ("Generate (4)") and once in the details ("(4) Generate").
    text = plan_text(df)
    assert text.count("Generate (") == 1, text


def test_order_priority_uses_semi_join(spark):
    """Q4's EXISTS must compile to a left-semi join, never a full
    join + distinct."""
    df = REGISTRY["query_order_priority"].fn(spark, TEST_SF_DIR)
    assert "LeftSemi" in plan_text(df)


def test_forecast_revenue_is_scan_level(spark):
    """Q6: every predicate reaches the parquet scan and only the
    four referenced lineitem columns are read."""
    df = REGISTRY["query_forecast_revenue"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "PushedFilters" in text
    schema_line = text.split("ReadSchema")[1].splitlines()[0]
    assert "l_orderkey" not in schema_line
    assert "l_extendedprice" in schema_line


def test_large_volume_broadcasts_qualifying_keys(spark):
    """Q18: the post-HAVING key set joins orders as a broadcast
    left-semi, so the fact table is never shuffled against itself."""
    df = REGISTRY["query_large_volume"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "LeftSemi" in text
    assert "BroadcastHashJoin" in text


def test_dormant_balance_uses_anti_join(spark):
    """Q22's NOT EXISTS must compile to a left-anti join."""
    df = REGISTRY["query_dormant_balance"].fn(spark, TEST_SF_DIR)
    assert "LeftAnti" in plan_text(df)


def test_partitioned_layout_prunes_partitions(spark):
    """The lang filter on a lang-partitioned layout must appear as a
    PartitionFilters entry on the scan, not a post-scan Filter over
    all files."""
    df = REGISTRY["scan_partition_pruning"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "PartitionFilters" in text
    pf_line = text.split("PartitionFilters")[1].splitlines()[0]
    assert "lang" in pf_line


def test_dpp_inserts_dynamic_pruning_subquery(spark):
    """scan_dpp: the runtime partition filter must appear as a
    dynamicpruning expression in the fact scan's PartitionFilters —
    the join must prune directories, not post-filter rows."""
    df = REGISTRY["scan_dpp"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "dynamicpruning" in text.lower(), text
    pf_line = text.split("PartitionFilters")[1].splitlines()[0]
    assert "dynamicpruning" in pf_line.lower(), pf_line


def test_market_share_broadcasts_dims_and_pushes_filters(spark):
    """Q8 shape: dimension filters must reach the scans and the small
    dims must broadcast — a silent regression to shuffled sort-merge
    joins on dims is the classic 100 TB plan rot."""
    df = REGISTRY["query_market_share"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text, text
    assert "PushedFilters" in text, text
    # (The plan legitimately contains SortMergeJoin too: lineitem ⋈
    # orders is fact-fact and must shuffle — only the DIM hops are
    # pinned to broadcast here.)


def test_nation_profit_broadcasts_dims_and_pushes_filters(spark):
    """Q9 shape: same guarantees for the 6-way star."""
    df = REGISTRY["query_nation_profit"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "BroadcastHashJoin" in text, text
    assert "PushedFilters" in text, text


def test_waiting_suppliers_semi_and_anti(spark):
    """Q21's double correlation must compile to one LeftSemi and one
    LeftAnti hash join — never a join + distinct or a nested loop over
    the full pair space."""
    df = REGISTRY["query_waiting_suppliers"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "LeftSemi" in text, text
    assert "LeftAnti" in text, text
    assert "CartesianProduct" not in text, text


def test_disjunct_revenue_derives_scan_filters(spark):
    """Q19's OR-of-ANDs: Catalyst must derive the single-side
    prefilters and push them into the scans (brand disjunction on
    part, quantity bound on lineitem)."""
    df = REGISTRY["query_disjunct_revenue"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "PushedFilters" in text, text
    assert "p_brand" in text, text


def test_small_qty_revenue_broadcasts_brand_parts(spark):
    """Q17: the brand's partkey set must reach lineitem as a
    broadcast, not a shuffled join."""
    df = REGISTRY["query_small_qty_revenue"].fn(spark, TEST_SF_DIR)
    assert "BroadcastHashJoin" in plan_text(df)


def test_text_chunk_is_shuffle_free(spark):
    """Chunking is row-local: the plan must contain no Exchange below
    the final (presentation) sort."""
    df = REGISTRY["text_chunk"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    # exactly the sort's exchange, nothing structural
    assert text.count("Exchange") <= 2, text
    assert "Generate" in text, text


def test_lateral_join_decorrelates(spark):
    """The LATERAL LIMIT-per-key subquery must decorrelate to a window
    rank — never a per-row nested loop."""
    df = REGISTRY["join_lateral"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "CartesianProduct" not in text, text
    assert "Window" in text, text


def _shuffle_count(df) -> int:
    text = df._jdf.queryExecution().executedPlan().toString()
    return text.count("Exchange") - text.count("BroadcastExchange")


def test_ohlc_single_exchange(spark):
    """Window partition key is the projected bar attribute, so the
    follow-up groupBy reuses the window's hashpartitioning — one
    shuffle total (a second appears if the window partitions by the
    date_trunc expression inline)."""
    df = REGISTRY["ts_ohlc"].fn(spark, TEST_SF_DIR)
    assert _shuffle_count(df) == 1


def test_centroid_is_one_aggregate_pass(spark):
    """Per-dimension avg aggregates: one hash-agg shuffle plus the
    output sort, never the 3-exchange posexplode/reassembly shape."""
    df = REGISTRY["sim_centroid"].fn(spark, TEST_SF_DIR)
    assert _shuffle_count(df) <= 2


def test_degree_stats_has_no_self_join(spark):
    """Edge generation is collect_set + row-local double explode: no
    join operator in the plan, and the full chain (bucket agg, pair
    distinct, degree, histogram, sort) stays at 5 exchanges."""
    df = REGISTRY["graph_degree_stats"].fn(spark, TEST_SF_DIR)
    text = plan_text(df)
    assert "Join" not in text
    assert _shuffle_count(df) <= 5


def test_pagerank_iterations_broadcast_rank_vector(spark):
    """Every PageRank step joins edges to the vertex-sized rank vector
    via broadcast: 2 joins per iteration × 3 iterations = at least 6
    BroadcastHashJoins.  (The one legitimate sort-merge join is the
    big-big lineitem⋈orders edge BUILD, outside the loop.)"""
    df = REGISTRY["graph_pagerank_nations"].fn(spark, TEST_SF_DIR)
    assert plan_text(df).count("BroadcastHashJoin") >= 6


def test_unpivot_is_expand_not_join(spark):
    """UNPIVOT must compile to generated row expansion (Expand), not a
    union of four scans."""
    df = REGISTRY["sql_unpivot_melt"].fn(spark, TEST_SF_DIR)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in text
    assert text.count("FileScan parquet") == 1


def test_cc_edge_join_uses_nchars_bucket_key(spark):
    """The connected-components candidate edge build must equi-join on
    (lang, floor(n_chars/3) bucket), not lang alone — 5 distinct langs
    would mean 5 giant skewed join buckets at corpus scale.  The
    |Δn_chars| ≤ 2 predicate stays as a residual."""
    from pyspark_analytics_library_spark.operators.dedup import candidate_edges

    t = load_tables(spark, TEST_SF_DIR)
    d = t["documents"].select("doc_id", "lang", "n_chars")
    edges = candidate_edges(d)
    text = edges._jdf.queryExecution().executedPlan().toString()
    join_lines = [l for l in text.splitlines() if "HashJoin" in l or "SortMergeJoin" in l]
    assert join_lines, text
    assert any("bkt_a" in l and "bkt_b" in l for l in join_lines), join_lines


def test_distinct_range_window_single_shuffle(spark):
    """The DISTINCT-in-window query must stay one (user_id) exchange —
    the collect_set frame evaluates inside the window's own shuffle,
    never as a separate distinct aggregation."""
    df = REGISTRY["win_distinct_range"].fn(spark, TEST_SF_DIR)
    assert _shuffle_count(df) == 1


def test_entropy_reuses_counts_exchange(spark):
    """agg_entropy references the (lang, source) counts subtree twice
    (once directly, once for per-lang totals); the physical plan must
    reuse that exchange, not aggregate the documents scan twice."""
    df = REGISTRY["agg_entropy"].fn(spark, TEST_SF_DIR)
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in text, text


def test_repetition_shuffles_counts_not_tokens(spark):
    """text_repetition's per-doc rollup must consume the (doc, word)
    counts (map-side combined), never re-shuffle raw exploded tokens:
    both aggregates appear as partial+final HashAggregate pairs."""
    df = REGISTRY["text_repetition"].fn(spark, TEST_SF_DIR)
    text = df._jdf.queryExecution().executedPlan().toString()
    assert text.count("HashAggregate") >= 4, text
    assert "partial_sum" in text and "partial_count" in text, text
    assert "Generate explode" in text


def test_ngram_prefix_filter_stays_equi_join(spark):
    """The prefix-filtered set-similarity join is the web-scale path;
    every join in it must be a hash/sort-merge equi-join — a nested-loop
    or cartesian fallback would silently reintroduce the pair space the
    filter exists to avoid."""
    from pyspark_analytics_library_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_tables(spark, TEST_SF_DIR)["documents"]
    text = plan_text(ngram_jaccard_pairs(docs, prefix_filter=True))
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    # The filter machinery must actually be IN the plan — if the flag
    # silently fell back to the unfiltered join, the equi-join
    # assertions above would still pass while the web-scale path (now
    # the declared query dedup_ngram_jaccard_prefixed) went untested:
    # the df-rank window that orders each doc's shingles...
    assert "row_number" in text, text
    # ...and the exact verify on the candidate pairs' full shingle sets.
    assert "array_intersect" in text, text
    # The unfiltered path must have NEITHER (it counts join hits
    # directly and never ranks shingles).
    plain = plan_text(ngram_jaccard_pairs(docs, prefix_filter=False))
    assert "row_number" not in plain and "array_intersect" not in plain


def test_resample_interp_grid_build_is_broadcast(spark):
    """ts_resample_interp's only nested-loop join is the dense-grid
    build: a generated hour sequence (one row per hour between
    min/max ts) crossed with the distinct event types — both
    broadcast-sized regardless of fixture scale.  The event-sized
    side must join that grid by hash, and nothing data-sized may fall
    into a nested-loop/cartesian: at 100 TB that would replicate the
    events table per grid row."""
    df = REGISTRY["ts_resample_interp"].fn(spark, TEST_SF_DIR)
    # executedPlan (not the formatted explain): operator arguments must
    # be inline so the NLJ's build subtree is textually under it
    text = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert text.count("BroadcastNestedLoopJoin") == 1, text
    assert "CartesianProduct" not in text
    # the NLJ's build side is the generated hour grid, not event data
    nlj_tail = text.split("BroadcastNestedLoopJoin")[1]
    assert "explode(sequence(" in nlj_tail, nlj_tail[:800]
    # events attach to the grid via hash join
    assert "BroadcastHashJoin" in text or "SortMergeJoin" in text, text


def test_corpus_sized_join_sides_never_statically_broadcast(spark):
    """The round-9 sf≈10 probe showed Catalyst statically broadcasting
    corpus-sized, text-exploded join sides off the compressed parquet
    file-size estimate (notEnoughMemoryToBuildAndBroadcastTable at
    500k docs).  The merge hints pinning those joins shuffle-based must
    survive refactors: at fixture scale the estimates make EVERY side
    broadcast-eligible, so any BroadcastHashJoin appearing in these
    plans means a hint was lost.  ``pipeline_contamination_check`` is
    the asymmetric case: BOTH its corpus-proportional sides — the
    train-gram set and the contaminated-doc-id set `hits` (a fixed
    2/16 sha-nibble fraction of the corpus in the worst case; ADVICE
    r9 flagged an earlier F.broadcast pin on it) — are merge-hinted,
    while the single provably-bounded frame (the per-LANGUAGE
    `contaminated` aggregate, ≤ |languages| rows) is explicitly
    F.broadcast — exactly one BroadcastHashJoin, no more, no fewer."""
    for name in ("dedup_ngram_jaccard", "dedup_ngram_jaccard_prefixed",
                 "dedup_fuzzy_minhash", "text_unigram_logprob"):
        text = plan_text(REGISTRY[name].fn(spark, TEST_SF_DIR))
        assert "BroadcastHashJoin" not in text, name
        assert "SortMergeJoin" in text, name
    import re

    contam = plan_text(REGISTRY["pipeline_contamination_check"].fn(spark, TEST_SF_DIR))
    # Formatted explain prints each node twice (tree + detail); count
    # the "(NN) BroadcastHashJoin" detail headers, one per node.
    bhj_nodes = re.findall(r"^\(\d+\) BroadcastHashJoin", contam, re.MULTILINE)
    assert len(bhj_nodes) == 1, contam
    # Both corpus-proportional semi-joins (test-grams→train-grams and
    # docs→hits) must be the sort-merge ones.  The detail headers omit
    # the join type, so count the tree lines ("SortMergeJoin LeftSemi
    # (NN)"), one per node.
    smj_semi = re.findall(r"SortMergeJoin LeftSemi \(\d+\)", contam)
    assert len(smj_semi) == 2, contam


def test_sparse_census_adjacency_broadcast_is_reused(spark, tmp_path):
    """The sparse triangle census joins the SAME out-neighborhood
    adjacency twice (src side inner, dst side left).  The broadcast
    relation — whose in-memory footprint is what the
    broadcastNbrsMaxEdges cap sizes — must be built and shipped ONCE
    and reused for the second join: a ReusedExchange over the single
    BroadcastExchange in the executed plan (ADVICE r10 flagged the
    risk of two separate exchanges of the same adjacency; Spark's
    canonicalization dedupes them, and this test pins that the
    formulation stays dedupe-able)."""
    from itertools import combinations

    from pyspark.sql.types import LongType

    from pyspark_analytics_library_spark.operators.graph import (
        _sparse_triangle_sum_frame,
    )

    k6 = spark.createDataFrame(
        [(u, v) for u, v in combinations(range(1, 7), 2)], "u long, v long"
    )
    k6.selectExpr("least(u,v) as src", "greatest(u,v) as dst").write.parquet(
        str(tmp_path / "e_dir")
    )
    e_dir = spark.read.parquet(str(tmp_path / "e_dir"))
    e_dir.groupBy("src").agg(F.collect_set("dst").alias("nb")).write.parquet(
        str(tmp_path / "nbrs")
    )
    nbrs = spark.read.parquet(str(tmp_path / "nbrs"))
    tri = _sparse_triangle_sum_frame(e_dir, nbrs, True, LongType())
    assert tri.collect()[0]["t"] == 20  # K6: 20 triangles
    final = tri._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in final, final


def test_dense_census_guard_is_conjunctive(spark, tmp_path, monkeypatch):
    """The dense branch's ``edges.toPandas()`` is the one driver
    materialization in the census; the double guard (vertices ≤ cap AND
    edges ≤ cap, graph.py dispatch) is all that stands between it and a
    driver OOM (VERDICT r14 #6).  Pin that the guard is a CONJUNCTION:
    a graph over EITHER cap dispatches sparse even when the other cap
    is misconfigured astronomically high — so one careless conf bump
    cannot re-route a huge edge list through the driver — and both
    dispatches agree on the census numbers."""
    from itertools import combinations

    import pyspark_analytics_library_spark.operators.graph as graph_mod

    k6 = spark.createDataFrame(
        [(u, v) for u, v in combinations(range(1, 7), 2)], "u long, v long"
    )
    calls = []
    real_sparse = graph_mod._sparse_triangle_sum_frame

    def tracking_sparse(*a, **kw):
        calls.append(1)
        return real_sparse(*a, **kw)

    monkeypatch.setattr(graph_mod, "_sparse_triangle_sum_frame", tracking_sparse)
    v_cap = "spark.analytics.graph.denseMatmulMaxVertices"
    e_cap = "spark.analytics.graph.denseMatmulMaxEdges"

    def census(caps):
        with scoped_conf(
            spark, {"spark.analytics.scratchDir": str(tmp_path / "scratch"), **caps}
        ):
            return tuple(graph_mod.triangle_census(spark, k6).collect()[0])

    # stock caps: K6 (6 vertices / 15 edges) is dense — sparse untouched
    dense_row = census({})
    assert calls == [], "fixture-sized graph should take the dense path"
    # edge cap exceeded, vertex cap misconfigured sky-high → sparse
    assert census({v_cap: 10**9, e_cap: 10}) == dense_row
    assert calls == [1], "edge cap alone must force the sparse dispatch"
    # vertex cap exceeded, edge cap misconfigured sky-high → sparse
    assert census({v_cap: 3, e_cap: 10**12}) == dense_row
    assert calls == [1, 1], "vertex cap alone must force the sparse dispatch"


def test_sparse_census_reclaims_scratch_before_returning(spark, tmp_path):
    """The sparse census collects its one scalar internally and must
    delete the whole scratch generation (e_dir + nbrs parquet) before
    returning — repeated census calls in a long-lived app must not
    accumulate one generation per call (VERDICT r9 'what's wrong' #2,
    ADVICE r9)."""
    import os

    from itertools import combinations

    from pyspark_analytics_library_spark.operators.graph import triangle_census

    k6 = spark.createDataFrame(
        [(u, v) for u, v in combinations(range(1, 7), 2)], "u long, v long"
    )
    scratch_base = str(tmp_path / "scratch")
    with scoped_conf(
        spark,
        {
            "spark.analytics.scratchDir": scratch_base,
            "spark.analytics.graph.denseMatmulMaxEdges": 1,
        },
    ):
        row = tuple(triangle_census(spark, k6).collect()[0])
    assert row == (15, 60, 20, 1.0)
    app_dirs = []
    for root, dirs, _files in os.walk(scratch_base):
        for d in dirs:
            if not (d.startswith("pyspark_analytics_") or d == "iter"):
                app_dirs.append(os.path.join(root, d))
    # The process root and its iter/ parent may remain; every per-call
    # generation (uuid leaf) and its e_dir/nbrs contents must be gone.
    assert app_dirs == [], app_dirs


def test_asof_join_single_exchange_zero_joins(spark):
    """VERDICT r11 #7: the as-of union+window plan's scale invariant —
    proven at 100 M × 150 M rows in the round-11 probe (SCALE.md) —
    pinned as a plan test: exactly ONE shuffle Exchange (the window's
    hashpartitioning on the key) and ZERO join operators of any kind.
    A regression that re-expresses as-of as a range join + rank would
    pass correctness while re-introducing the join blow-up the
    union+window design exists to avoid."""
    df = REGISTRY["join_asof"].fn(spark, TEST_SF_DIR)
    assert _shuffle_count(df) == 1, plan_text(df)
    text = plan_text(df)
    joins = [
        ln for ln in text.splitlines()
        if "Join" in ln and "JoinSelection" not in ln
    ]
    assert not joins, joins


def test_scd2_history_window_only_zero_joins(spark):
    """Round-13: the SCD-2 merge frame's scale invariant — the
    close-out is ONE window over the merge key with ZERO join
    operators (an outer-join formulation would shuffle both sides and
    reintroduce exactly what the union+window design avoids).  Pinned
    on the pre-sink frame via the extracted scd2_history helper, the
    same way join_asof's single-Exchange shape is pinned."""
    from pyspark_analytics_library_spark.sources.io import load_tables
    from pyspark_analytics_library_spark.sources.scan_queries import scd2_history

    df = scd2_history(load_tables(spark, TEST_SF_DIR)["orders"])
    assert _shuffle_count(df) == 1, plan_text(df)
    text = plan_text(df)
    joins = [
        ln for ln in text.splitlines()
        if "Join" in ln and "JoinSelection" not in ln
    ]
    assert not joins, joins
    assert "Window" in text, text


def test_scd1_merged_window_only_zero_joins(spark):
    """Round-14: the SCD-1 twin of the scd2 pin, on the extracted
    scd1_merged core — priority-union + keeper-window is ONE shuffle on
    the merge key with ZERO join operators (the anti-join MERGE
    spelling shuffles both sides twice).  Added with the extraction so
    the refactor can never silently regrow a join."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.sources.io import load_tables
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    base = load_tables(spark, TEST_SF_DIR)["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = base.filter(F.col("o_orderkey") % 97 == 0).withColumn(
        "o_orderstatus", F.lit("U")
    )
    df = scd1_merged(base, updates)
    assert _shuffle_count(df) == 1, plan_text(df)
    text = plan_text(df)
    joins = [
        ln for ln in text.splitlines()
        if "Join" in ln and "JoinSelection" not in ln
    ]
    assert not joins, joins
    assert "Window" in text, text


def _file_scan_metrics(df):
    """Post-execution (numFiles, staticFilesNum) for every
    FileSourceScanExec in the executed plan, walking through AQE
    query-stage wrappers (their subtree hangs off plan()/
    finalPhysicalPlan(), not children())."""
    out = []

    def walk(node):
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            ms = node.metrics()
            try:
                static = ms.apply("staticFilesNum").value()
            except Exception:
                static = None  # non-partitioned scan: no DPP metrics
            out.append((ms.apply("numFiles").value(), static))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        for meth in ("plan", "finalPhysicalPlan"):
            try:
                walk(getattr(node, meth)())
            except Exception:
                pass

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_dpp_scan_reads_fewer_files_than_static(spark, tmp_path):
    """VERDICT r11 #7, second invariant: DPP must not merely appear in
    the plan (test_dpp_inserts_dynamic_pruning_subquery pins that) —
    the EXECUTED fact scan must open fewer files than the static
    layout holds (the round-11 probe measured 9 of 200 files at 100 M
    rows; this pins the same scan-metric relation at fixture scale).

    The declared scan_dpp query's ≥40-docs dim admits every lang at
    fixture SFs (pruning there only pays at probe scale), so this test
    builds the SELECTIVE variant of the same shape: the dim keeps only
    langs holding ≥25 % of the corpus (English only, at every fixture
    SF) — the same groupBy+HAVING Filter the declared query uses,
    because DPP's PartitionPruning rule requires a selective FILTER
    predicate on the build side (a join-derived dim, e.g. argmax via
    self-join on max(n), does NOT qualify — probed while writing this
    test; that refusal condition is documented in scan_queries.py).
    The fact scan must then open exactly 1 of the 5 lang directories,
    attested by the scan's own numFiles/staticFilesNum SQLMetrics, not
    the plan string."""
    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, TEST_SF_DIR)
    path = str(tmp_path / "dpp_selective")
    t["documents"].select("doc_id", "n_chars", "lang").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)
    fact = spark.read.parquet(path)
    threshold = int(0.25 * t["documents"].count())  # test-side scalar
    dim = (
        t["documents"]
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= threshold)
        .select(F.col("lang").alias("dim_lang"))
    )
    df = (
        fact.join(F.broadcast(dim), fact.lang == F.col("dim_lang"))
        .groupBy(F.col("lang").cast("string").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    assert "dynamicpruning" in plan_text(df).lower()
    # collect() (not count()) — the metrics walk below reads THIS
    # DataFrame's executed plan, and count() runs a different one.
    assert len(df.collect()) == 1
    partitioned = [
        (n, s) for n, s in _file_scan_metrics(df) if s is not None
    ]
    assert partitioned, "no partitioned FileSourceScan found in executed plan"
    num_files, static_files = partitioned[0]
    assert static_files == 5, (num_files, static_files)
    assert num_files == 1, (num_files, static_files)


def test_scan_jdbc_reads_sharded(spark):
    """The declared scan_jdbc query must read through the PARTITIONED
    jdbc path — `Scan JDBCRelation(...) [numPartitions=4]` in the plan
    and 4 RDD partitions — not the single-connection funnel.  This is
    the 100 TB-relevant half of the JDBC surface: an unsharded
    production ingest serializes the whole table through one executor
    no matter how large the cluster."""
    df = REGISTRY["scan_jdbc"].fn(spark, TEST_SF_DIR)
    assert_in_plan(df, "JDBCRelation(nation_jdbc) [numPartitions=4]")


def test_no_query_plans_a_shuffled_cartesian(spark):
    """Registry-wide anti-pattern guard: no declared query's plan may
    contain a CartesianProduct (the shuffled all-pairs join).  The
    package's documented cross joins are all bounded-small sides that
    plan as BroadcastNestedLoopJoin — a future query (or a planner-
    behavior change) that degrades to a shuffled cartesian fails here
    with its name, not at 100 TB.

    Skips the queries whose fn() runs eager driver-paced work
    (iterative loops, streaming runs, sink round-trips) — their plans
    are audited by their own dedicated tests, and building them here
    would re-run minutes of jobs for a string grep."""
    eager_or_streaming = {
        # iterative / sink-writing queries
        "dedup_connected_components", "dedup_watermarked",
        "pipeline_fuzzy_dedup", "pipeline_fuzzy_dedup_exact",
        "sim_kmeans_assign", "graph_triangles",
        "graph_pagerank_nations", "graph_degree_stats",
        "sim_topk_exact", "sim_threshold_pairs", "sim_knn_labels",
        "sim_ivf_approx", "sim_range_search",
        "scan_jdbc", "sink_parquet_roundtrip", "sink_csv_roundtrip",
        "scan_json_roundtrip", "scan_orc_roundtrip", "scan_csv_options",
        "scan_partition_pruning", "scan_schema_evolution", "scan_dpp",
        "sink_merge_upsert", "sink_partition_overwrite",
        "join_bucketed_colocated", "udf_gapply", "sample_stratified",
        "ts_resample_interp",
    }
    offenders = []
    for name, spec in REGISTRY.items():
        if name in eager_or_streaming or name.startswith("stream_"):
            continue
        df = spec.fn(spark, TEST_SF_DIR)
        if "CartesianProduct" in plan_text(df):
            offenders.append(name)
    assert not offenders, (
        f"shuffled CartesianProduct planned by: {offenders}"
    )


def test_mor_masked_read_is_broadcast_anti_join(spark, tmp_path):
    """Round 17: the merge-on-read masked scan must plan the tombstone
    mask as a BROADCAST anti-join (tombstones are update-batch-sized by
    construction; a sort-merge there would shuffle the whole table per
    read), and a table with no tombstones must plan a PLAIN scan —
    zero joins, the mask is pay-for-what-you-use."""
    from pyspark_analytics_library_spark.sources import commit as cm

    target = str(tmp_path / "t")
    base = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    cm.table_init(base, target, "k", n_buckets=4)

    clean = cm.table_read(spark, target)
    text = plan_text(clean)
    assert "Join" not in text, "no-tombstone read must not plan a join"

    cm.table_delete(spark, target, [1, 2, 3])
    masked = cm.table_read(spark, target)
    text = plan_text(masked)
    assert "BroadcastHashJoin" in text and "LeftAnti" in text, text
    assert masked.count() == 1997


def test_mor_clean_files_skip_the_anti_join(spark, tmp_path):
    """Round 18 (VERDICT r17 next #2): the masked scan must apply the
    tombstone anti-join ONLY to files a tombstone can actually mask.
    A tombstone whose key range is disjoint from every data file's
    range (and both sides null-free) leaves ALL files clean — the
    read plans a PLAIN scan, zero joins, even though tombstones are
    live in the manifest."""
    from pyspark_analytics_library_spark.sources import commit as cm

    target = str(tmp_path / "t")
    base = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
    )
    cm.table_init(base, target, "k", n_buckets=4)
    # Key far outside every file's [min, max]: masks nothing, provably.
    cm.table_delete(spark, target, [5_000_000])
    assert manifest_listing(target)[1], "tombstone must be live in the manifest"
    df = cm.table_read(spark, target)
    assert "Join" not in plan_text(df), (
        "range-disjoint tombstones must not cost the scan a join"
    )
    assert df.count() == 2000

    # An overlapping tombstone re-introduces the join — but only for
    # the files it can mask; the clean buckets stay join-free via the
    # union's plain branch (split asserted entry-level in
    # test_merge_safety; here we pin the join shape stays broadcast).
    cm.table_delete(spark, target, [7])
    masked = cm.table_read(spark, target)
    text = plan_text(masked)
    assert "BroadcastHashJoin" in text and "LeftAnti" in text, text
    assert masked.count() == 1999


def test_cc_step_shares_one_phase1_subtree(spark, tmp_path):
    """Round-20 phase-2 restructure pin: one group-min round's plan must
    execute the EDGE-SIZED phase-1 subtree exactly once — the group-min
    aggregate and its join probe consume a single shared repartition(k)
    exchange (ReusedExchange statically with AQE off).  The previous
    two-join shape computed the whole phase-1 join three times per
    round (plans/r20/cc_round_step_before.txt: 10 exchanges)."""
    from pyspark_analytics_library_spark.operators.dedup import _cc_step

    sym_rows = [(1, 2), (2, 1), (2, 3), (3, 2), (10, 11), (11, 10)]
    spark.createDataFrame(sym_rows, "src long, dst long").write.parquet(
        str(tmp_path / "sym")
    )
    sym = spark.read.parquet(str(tmp_path / "sym"))
    spark.createDataFrame(
        [(v, v) for v in (1, 2, 3, 10, 11)], "v long, label long"
    ).write.parquet(str(tmp_path / "lab"))
    lab = spark.read.parquet(str(tmp_path / "lab"))
    start = lab.select("v", "label", F.col("label").alias("base_label"))
    with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
        once = _cc_step(sym, start)
        text = once._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "ReusedExchange" in text, text
    # the sym parquet is scanned exactly once in the whole round plan
    assert text.count(str(tmp_path / "sym")) == 1, text


def test_census_scratch_reclaimed_on_failure(spark, tmp_path, monkeypatch):
    """Round-20 (ADVICE r19): an exception inside the census body —
    here injected into the dense numpy section, between the edge write
    and the normal-path delete — must not leak the scratch generation."""
    import numpy as np
    import pytest

    from pyspark_analytics_library_spark.operators.graph import triangle_census

    monkeypatch.setattr(
        np, "zeros", lambda *a, **k: (_ for _ in ()).throw(RuntimeError("injected"))
    )
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "u long, v long")
    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        with pytest.raises(RuntimeError, match="injected"):
            triangle_census(spark, edges)
    leftovers = list(tmp_path.glob("pyspark_analytics_*/iter/*"))
    assert leftovers == [], leftovers


def test_minhash_verify_and_band_exchanges_are_reused(spark):
    """Round-20 pin (VERDICT r19 next #5): the LSH pipeline references
    the shingle-bearing corpus subtree four times (band self-join a/b
    sides; verify joins sh_a/sh_b), but AQE's stage cache must dedupe
    each pair — the executed plan carries a ReusedExchange for the
    band-keyed exchange AND one for the id-keyed shingle exchange, so
    the expensive shingle build runs exactly twice (once per key
    shape), not four times.  If this pin breaks, materialize
    ``shingled`` to scratch instead (measured candidate in
    OPTIMIZATION_r20.md)."""
    import re

    from pyspark_analytics_library_spark.operators.dedup import (
        minhash_lsh_pairs,
    )

    docs = load_tables(spark, TEST_SF_DIR)["documents"].select(
        "doc_id", "text", "lang"
    )
    pairs = minhash_lsh_pairs(docs)
    pairs.collect()
    text = pairs._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    final = text.split("== Initial Plan ==")[0]
    reused = re.findall(r"ReusedExchange.*?hashpartitioning\(([a-z_]+)", final)
    assert "band_id" in reused, final
    assert "id_a" in reused or "id_b" in reused, final


def test_lsh_table_keys_is_one_expression_matching_in_order_fold(spark):
    """The LSH bucket keys are ONE SQL expression: building the column
    costs a handful of py4j commands (the call-by-call build cost ~31k),
    the planes constant folds away before execution, and every key
    equals a numpy twin that folds the dot product over dimensions in
    order — the same left fold the expression evaluates — so keys are
    bit-identical to the per-plane formulation."""
    import numpy as np

    from pyspark_analytics_library_spark.operators.similarity import (
        _PLANES,
        lsh_table_keys,
    )

    with py4j_commands() as sent:
        keys = lsh_table_keys("embedding")
    assert 0 < sent.count <= 10, sent.count

    df = load_tables(spark, TEST_SF_DIR)["embeddings"].select(
        "embedding", keys.alias("tk")
    )
    assert (
        df.schema["tk"].dataType.simpleString()
        == "array<struct<table:int,key:bigint>>"
    )
    rows = df.collect()
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    P = np.array(_PLANES, dtype=np.float64)
    n_tables, n_bits, dim = P.shape
    P = P.reshape(n_tables * n_bits, dim)
    acc = np.zeros((len(E), len(P)))
    for d in range(dim):
        acc = acc + E[:, d, None] * P[None, :, d]
    bits = (acc > 0).reshape(len(E), n_tables, n_bits)
    want = (bits * (1 << np.arange(n_bits))).sum(axis=2)
    got_tables = [[t.table for t in r.tk] for r in rows]
    got_keys = np.array([[t.key for t in r.tk] for r in rows])
    assert got_tables == [list(range(n_tables))] * len(rows)
    assert (got_keys == want).all()

    qe = REGISTRY["sim_lsh_approx"].fn(spark, TEST_SF_DIR)._jdf.queryExecution()  # noqa: SLF001
    assert "from_json" in qe.analyzed().toString()
    assert "from_json" not in qe.optimizedPlan().toString()
