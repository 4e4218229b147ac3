"""Physical-plan audits — pins the scale-critical plan shapes.

These are the properties that matter at 100 TB (SURVEY.md §4,
README "Scale posture"): filters and column pruning reaching the
parquet scan, dims broadcast instead of shuffled, no accidental
cross products. Asserting them keeps plan regressions (a lost
pushdown, a broadcast turned sort-merge-shuffle) from slipping in
silently — correctness tests alone would never notice.
"""

from __future__ import annotations

import re

import pytest

from gmall_realtime2021_spark.plans import get_plans

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return get_plans()[name].build(spark, SF)._jdf.queryExecution().executedPlan().toString()


def _scan_columns(plan: str, table: str) -> str:
    """The FileScan output column list for the scan of `table`."""
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\][^\n]*", plan):
        if f"{table}.parquet" in m.group(0):
            return m.group(1)
    raise AssertionError(f"no FileScan of {table} in plan")


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(spark, "pricing_summary")
    # date filter reaches the scan
    assert re.search(r"DataFilters: \[[^\]]*l_shipdate", plan)
    # column pruning: join/orderkey columns are not read
    cols = _scan_columns(plan, "lineitem")
    assert "l_orderkey" not in cols and "l_partkey" not in cols


def test_shipping_priority_hint_fails_closed_on_unknown_input_size(spark, tmp_path):
    """The broadcast hint is gated on the orders input size; a missing
    or non-local path has unknown size (None), and the plan then
    carries no hint, while the local fixture keeps it."""
    from gmall_realtime2021_spark.tables import input_bytes

    uri = "file://" + SF  # readable by Spark, not a local os path
    assert input_bytes(str(tmp_path), "orders") is None
    assert input_bytes(uri, "orders") is None
    assert input_bytes(SF, "orders") > 0

    def hinted(sf_dir: str) -> bool:
        df = get_plans()["shipping_priority"].build(spark, sf_dir)
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    assert hinted(SF)
    assert not hinted(uri)


def test_json_parse_filters_reach_scan(spark):
    plan = _plan(spark, "json_parse_project")
    filters = re.search(r"DataFilters: \[([^\]]*)\]", plan).group(1)
    assert "length(props" in filters and "event_type" in filters


def test_dim_joins_broadcast(spark):
    for name in ("dim_enrich_left", "product_stats", "province_stats"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # left-outer semantics of the dim enrichment (J3)
    assert "LeftOuter" in _plan(spark, "dim_enrich_left")


def test_product_stats_dim_scan_pruned(spark):
    cols = _scan_columns(_plan(spark, "product_stats"), "part")
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names == {"p_partkey", "p_brand"}


def test_order_wide_no_cross_product(spark):
    plan = _plan(spark, "order_wide")
    # equi-join on the key with the range as a post-join filter —
    # never a nested-loop cross product
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_ann_broadcasts_query_side(spark):
    # brute-force top-k is an intentional broadcasted cross: the
    # small query set must be the build side
    plan = _plan(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin BuildLeft" in plan or "BroadcastNestedLoopJoin BuildRight" in plan


def test_multimodal_meta_never_scans_payload(spark):
    plan = _plan(spark, "multimodal_meta")
    cols = _scan_columns(plan, "documents")
    assert "text" in cols  # payload/meta derive from text here
    # the binary payload column is synthesized, never persisted — the
    # scan must not materialize anything beyond what meta needs
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names <= {"doc_id", "text"}


@pytest.mark.parametrize("name", ["visitor_stats", "product_stats", "keyword_stats"])
def test_aggregates_are_partial(spark, name):
    # map-side combine (partial_*) before the exchange — the shape
    # that keeps 100 TB shuffles proportional to groups, not rows
    plan = _plan(spark, name)
    assert "partial_" in plan, name


def test_forecast_revenue_scan_minimal(spark):
    plan = _plan(spark, "forecast_revenue")
    filters = re.search(r"DataFilters: \[([^\]]*)\]", plan).group(1)
    assert "l_discount" in filters and "l_quantity" in filters
    cols = _scan_columns(plan, "lineitem")
    names = {c.split("#")[0] for c in cols.split(",")}
    assert names == {"l_extendedprice", "l_discount", "l_quantity"}


def _hash_exchanges(plan: str) -> int:
    return len(re.findall(r"Exchange hashpartitioning", plan))


def test_corpus_map_side_plans_shuffle_free(spark):
    # chunking and repetition scoring are pure per-row expressions:
    # no hash shuffle anywhere (RoundRobin from fan_out is local-mode
    # repartitioning of a single-row-group file, not a key shuffle)
    for name in ("doc_chunks", "repetition_stats"):
        plan = _plan(spark, name)
        assert _hash_exchanges(plan) == 0, name


def test_stratified_sample_broadcasts_rates(spark):
    plan = _plan(spark, "stratified_sample")
    assert "BroadcastHashJoin" in plan
    assert _hash_exchanges(plan) == 0


def test_region_rollup_single_expand_single_shuffle(spark):
    plan = _plan(spark, "region_rollup")
    assert "Expand" in plan  # grouping sets in ONE pass, not N
    assert _hash_exchanges(plan) == 1
    assert "BroadcastHashJoin" in plan  # dims never shuffle


def test_asof_attribution_merge_not_explode(spark):
    # the merge-based as-of must never devolve into an inequality
    # nested-loop join (the quadratic formulation)
    plan = _plan(spark, "asof_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert _hash_exchanges(plan) <= 2  # vdd agg + window on user_id


def test_churned_customers_anti_join_filtered_probe(spark):
    plan = _plan(spark, "churned_customers")
    assert "LeftAnti" in plan
    # the date predicate reaches the orders scan (probe filtered
    # before the join, not after)
    assert re.search(r"DataFilters: \[[^\]]*o_orderdate", plan)


def test_daily_event_pivot_one_shuffle(spark):
    # conditional-aggregate pivot: one shuffle, not .pivot()'s two
    assert _hash_exchanges(_plan(spark, "daily_event_pivot")) == 1


def test_tfidf_window_formulation_three_shuffles(spark):
    # agg + term-window + doc-windows (rank reuses doc partitioning);
    # the join formulation costs 6 — pin the cheap shape
    assert _hash_exchanges(_plan(spark, "tfidf_topterms")) == 3


def test_running_total_one_shuffle(spark):
    assert _hash_exchanges(_plan(spark, "running_total")) == 1


def test_kmeans_iteration_one_shuffle(spark):
    # assignment is map-side (Arrow matrix pass); only the
    # (cell, pos) update aggregate shuffles
    assert _hash_exchanges(_plan(spark, "kmeans_iteration")) == 1


def test_trailing_revenue_one_shuffle(spark):
    assert _hash_exchanges(_plan(spark, "trailing_revenue")) == 1


def test_pq_adc_join_carries_codes_not_vectors(spark):
    # the ADC search's join input must be the 8-int code table — the
    # embedding arrays are consumed map-side during encoding and must
    # not appear in the join output or any exchange
    plan = _plan(spark, "ann_pq_topk")
    join = re.search(r"BroadcastHashJoin.*|BroadcastNestedLoopJoin.*", plan)
    assert join is not None
    # no hash shuffle before the rank window: queries broadcast, the
    # corpus streams its codes straight from the map side
    assert _hash_exchanges(plan) <= 1  # the top-k window only


def test_pq_codes_map_side_only(spark):
    # encoding is a pure per-row pass: no hash shuffle at all
    assert _hash_exchanges(_plan(spark, "pq_codes")) == 0


def test_data_mix_single_bounded_shuffle(spark):
    # one partial-agg shuffle on source; the totals row broadcasts
    plan = _plan(spark, "data_mix_weights")
    assert "partial_" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivfpq_broadcast_and_code_stream(spark):
    # composed IVF-PQ: query side broadcast (probe cells exploded),
    # corpus side streams (cell, codes) from the map side — at most
    # the top-k window exchange
    plan = _plan(spark, "ann_ivfpq_topk")
    assert "BroadcastHashJoin" in plan
    assert _hash_exchanges(plan) <= 1


def test_duplicate_spans_linear_no_pair_join(spark):
    """Span dedup must stay linear and single-pass (r14 shape): no
    join of ANY kind — the duplicated-span flag is a min/max window
    over the sh-keyed exchange — and the corpus is Arrow-hashed
    exactly ONCE (one consumer, so no cache materialization either)."""
    # a live span-array cache from another test would be substituted
    # into this plan by the CacheManager (and the InMemoryRelation
    # re-prints the cached subtree's Arrow line) — drop session caches
    # so the pin sees the plan a fresh query compiles
    from gmall_realtime2021_spark.operators.dedup import release_caches

    release_caches()
    plan = _plan(spark, "duplicate_spans")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # r14: the groupBy(sh).count_distinct + shuffle-join-back pair was
    # replaced by min(id)!=max(id) over (partition by sh): span rows
    # cross the wire once, the join is gone, and the span table no
    # longer needs to be persisted for a second reader.
    assert "Join" not in plan, "span stats must not join at all"
    assert plan.count("ArrowEvalPython") == 1, "corpus must be Arrow-hashed exactly once"
    assert "Window" in plan


def test_semantic_dedup_single_cell_exchange(spark):
    """SemDeDup's shape: one hash exchange on cell feeding
    FlatMapGroupsInPandas; no pair join materializes."""
    plan = _plan(spark, "semantic_dedup")
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("SortMergeJoin") == 0 and "CartesianProduct" not in plan
    assert re.search(r"Exchange hashpartitioning\(cell", plan)


def test_incremental_probe_carries_ids_only(spark):
    """The band-key probe join must carry ids, never shingle arrays
    (the arrays re-join only for candidate verification)."""
    plan = _plan(spark, "dedup_incremental")
    m = re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[band_key[^\n]*", plan)
    assert m, "no equi-join on band_key found"
    assert "sh#" not in m.group(0), "shingle arrays cross the probe join"


def test_disjunctive_revenue_residuals_pushed_both_scans(spark):
    """Q19 shape: Catalyst must extract per-side residuals of the
    cross-side OR — the quantity hull reaches the lineitem scan and
    the brand/size disjunction reaches the part scan — while the
    full disjunction evaluates on the (broadcast) join."""
    plan = _plan(spark, "disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    li = re.search(r"FileScan parquet [^\n]*lineitem[^\n]*", plan).group(0)
    pt = re.search(r"FileScan parquet [^\n]*part\.parquet[^\n]*", plan).group(0)
    assert "Or(" in li.split("PushedFilters: [")[1] and "l_quantity" in li
    assert "Or(" in pt.split("PushedFilters: [")[1] and "p_brand" in pt
    # column pruning: revenue needs 4 lineitem columns, no dates/keys beyond partkey
    assert "l_shipdate" not in li and "l_orderkey" not in li


def test_waiting_orders_no_correlated_reshuffles(spark):
    """The Q21 aggregation rewrite: one grouped pass over the
    order-line join and an order-grain self-join — not three passes
    over lineitem — and the top-10 is TakeOrderedAndProject, never a
    global sort."""
    df = get_plans()["waiting_orders"].build(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan and "Sort " not in plan.split("TakeOrderedAndProject")[0]
    # the (order, supplier) grain table feeds both per_order and the
    # blame join; AQE must REUSE its exchange at runtime so lineitem
    # and orders are scanned/joined once, not per consumer
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and final.count("ReusedExchange") >= 1


def test_bilateral_trade_dims_broadcast(spark):
    plan = _plan(spark, "bilateral_trade")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_rag_retrieval_broadcasts_hits_and_prunes_docs(spark):
    """The doc join must broadcast the query-count-sized hit list
    (BroadcastHashJoin) and prune the documents scan to the payload
    columns; the single nested-loop join is the labeled exact-ANN
    baseline (broadcast queries × corpus), not an accident."""
    plan = _plan(spark, "rag_retrieval")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    cols = _scan_columns(plan, "documents")
    assert "n_chars" not in cols


def test_product_type_profit_dim_filter_pushed(spark):
    """Q9 shape: the part-name substring filter must reach the part
    scan (StringContains pushdown) so the broadcast build is
    pre-filtered, and the lineitem scan must not read dates or tax —
    profit needs only keys, qty, price, discount."""
    plan = _plan(spark, "product_type_profit")
    pt = re.search(r"FileScan parquet [^\n]*part\.parquet[^\n]*", plan).group(0)
    assert "StringContains(p_name,red)" in pt.split("PushedFilters: [")[1]
    li = _scan_columns(plan, "lineitem")
    assert "l_shipdate" not in li and "l_tax" not in li and "l_returnflag" not in li
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_priority_line_counts_range_pushed_single_agg(spark):
    """Q12 shape: the shipdate range prunes the lineitem scan
    (PushedFilters carries both bounds) and the conditional counts
    run as ONE partial/final agg pass — never two filtered joins."""
    plan = _plan(spark, "priority_line_counts")
    li = re.search(r"FileScan parquet [^\n]*lineitem[^\n]*", plan).group(0)
    pushed = li.split("PushedFilters: [")[1]
    assert "GreaterThanOrEqual(l_shipdate" in pushed and "LessThan(l_shipdate" in pushed
    assert plan.count("partial_count") == 2  # both CASE counts in one pass
    assert plan.count("FileScan parquet") == 2  # each table scanned once


def test_customer_order_distribution_outer_semantics_kept(spark):
    """Q13 shape: the priority predicate pushes to the ORDERS scan
    (ON-clause placement — it must not filter customers), the join
    stays LeftOuter, and the per-customer count is partial before
    its exchange (map-side combine on the custkey grain)."""
    plan = _plan(spark, "customer_order_distribution")
    od = re.search(r"FileScan parquet [^\n]*orders[^\n]*", plan).group(0)
    assert "Not(EqualTo(o_orderpriority,5-LOW))" in od.split("PushedFilters: [")[1]
    cu = re.search(r"FileScan parquet [^\n]*customer[^\n]*", plan).group(0)
    assert "o_orderpriority" not in cu
    assert "LeftOuter" in plan
    assert "partial_count(o_orderkey" in plan


def test_rfm_segments_reuses_base_aggregate(spark):
    """The means table derives from the per-customer base aggregate;
    AQE must REUSE that exchange at runtime (one custkey aggregation,
    not two), and the threshold joins must be broadcast-scalar
    nested-loops — never a shuffle."""
    df = get_plans()["rfm_segments"].build(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final and final.count("ReusedExchange") >= 1
    assert "SortMergeJoin" not in final and "CartesianProduct" not in final


def test_event_transitions_single_user_shuffle(spark):
    """Lag window + grouped count: one hash exchange on user_id, one
    on the tiny (prev, next) key — and map-side partial counts before
    the second."""
    plan = _plan(spark, "event_transitions")
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2
    assert "partial_count" in plan


def test_first_touch_attribution_no_asof_window(spark):
    """First-touch needs no merge window: a struct-min per user and
    ONE user-keyed join. The view/purchase filters must reach the
    events scans."""
    plan = _plan(spark, "first_touch_attribution")
    assert "min(fv" in plan or "partial_min" in plan
    assert plan.count("FileScan parquet") == 2
    assert "EqualTo(event_type,view)" in plan and "EqualTo(event_type,purchase)" in plan


def test_dedup_edit_distance_candidates_only(spark):
    """Levenshtein must run above the banded candidate join — no
    all-pairs: no cartesian/BNLJ anywhere, and the length gate plus
    bounded (3-arg) levenshtein appear in the plan."""
    plan = _plan(spark, "dedup_edit_distance")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan and "Some(64)" in plan  # bounded 3-arg form
    # the per-pair verify must sit above the (a, b) rebalance exchange,
    # not inherit the band join's cluster-skewed layout — without this
    # one task does nearly all the Levenshtein work on templated corpora
    assert "Exchange hashpartitioning(a" in plan


def test_abc_classification_window_on_aggregate(spark):
    """The Pareto cumsum runs over the BRAND aggregate, never raw
    lineitem: the plan must aggregate (partial+final) BEFORE the range
    exchange that feeds the distributed prefix sum — and since the r05
    reshape, with NO SinglePartition exchange at all (the old global
    window pin; superseded by range_prefix_sums)."""
    plan = _plan(spark, "abc_classification")
    assert "Exchange SinglePartition" not in plan
    assert "Exchange rangepartitioning" in plan  # split below must actually split
    after_range = plan.split("Exchange rangepartitioning")[-1]
    assert "HashAggregate" in after_range and "partial_sum" in after_range


def test_user_feature_matrix_one_pass_no_expand(spark):
    """All five typed counts + value fuse into the user aggregate (one
    CASE pass); the single distinct column rewrites to the two-level
    aggregate — no Expand (3× row blowup) in the plan."""
    plan = _plan(spark, "user_feature_matrix")
    assert "Expand" not in plan
    assert plan.count("FileScan parquet") == 1
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2


def test_session_funnel_shares_user_sort(spark):
    """Sessionization lag, the cumulative session-id window, and the
    per-session aggregate all run on ONE user_id exchange and ONE
    (ts, event_id) sort; only the final 1-row funnel aggregate is
    single-partition."""
    plan = _plan(spark, "session_funnel")
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1
    assert plan.count("Exchange SinglePartition") == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


def test_next_purchase_examples_grain_then_shared_frames(spark):
    """Point-in-time examples: raw events collapse to (user, day)
    grain FIRST (partial+final agg), then the past and future RANGE
    frames share one day-ordered sort — two exchanges, one sort,
    never a per-event window."""
    plan = _plan(spark, "next_purchase_examples")
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2
    assert len(re.findall(r"\bSort \[", plan)) == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_basket_pairs_no_self_join(spark):
    """Market-basket pairs come from the per-order array combinations
    expression — two hash exchanges total (basket build, pair count),
    zero joins of any kind."""
    plan = _plan(spark, "basket_pairs")
    assert _hash_exchanges(plan) == 2
    for j in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert j not in plan


def test_dau_wau_coverage_expansion_no_window_sort(spark):
    """The sliding 7-day distinct runs as coverage expansion over the
    deduped (user, day) grain: no window Sort over users, no self-join
    chain — only hash aggregates and the broadcast-scalar max-day."""
    plan = _plan(spark, "dau_wau_stickiness")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert len(re.findall(r"\bSort \[", plan)) == 0


def test_graph_plans_no_cartesian(spark):
    """Graph plans are key-join shapes end to end: the wedge and
    contribution joins must never fall back to a cartesian/BNLJ
    (only pagerank's broadcast-scalar node-count crossJoin is a
    BNLJ, and triangle's closure probe is an equi-join)."""
    for name in ("pagerank_iteration", "triangle_count"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in _plan(spark, "triangle_count")


def test_discount_elasticity_single_aggregate(spark):
    """The whole regression is one broadcast dim join + one
    partial/final 4-counter aggregate — no second pass, no window."""
    plan = _plan(spark, "discount_elasticity")
    assert plan.count("BroadcastHashJoin") == 1
    assert _hash_exchanges(plan) == 1
    assert "partial_sum" in plan and "Window" not in plan


def test_dynamic_gap_sessions_share_one_sort(spark):
    """The running-max reach window, the cumulative session-id window,
    and the session aggregate all share ONE user_id exchange and ONE
    (ts, event_id) sort — the fixed-gap sessionizer's shape holds for
    the dynamic gap."""
    plan = _plan(spark, "dynamic_gap_sessions")
    assert _hash_exchanges(plan) == 1
    assert len(re.findall(r"\bSort \[", plan)) == 1


@pytest.mark.parametrize("name", ["abc_classification", "customer_quartiles"])
def test_prefix_sum_plans_have_no_single_partition_exchange(spark, name):
    """The r05 reshape replaced the global ordered windows (ntile /
    running share) with the range-partitioned two-phase prefix sum —
    the ONLY single-partition sorts in the catalog. Pin that they
    never come back."""
    plan = _plan(spark, name)
    assert "Exchange SinglePartition" not in plan, name


def test_hybrid_retrieval_funnel_shape(spark):
    """Sparse retrieve → dense re-rank: the token posting-list join
    must be an equi-join (no cartesian anywhere), and the cosine leg
    must join candidate IDS to the vector store — bounded by lexical
    candidates, never all-pairs."""
    plan = _plan(spark, "hybrid_retrieval")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # candidate aggregate keyed on the (query, doc) pair
    assert "Exchange hashpartitioning(q_id" in plan


def test_bm25_inverted_index_shape(spark):
    """BM25 is a token-keyed inverted-index pipeline: partial
    aggregation builds the postings, the query terms broadcast, and
    nothing is all-pairs. The per-pair score fold must be the
    order-fixed aggregate (sort + fold), not a bare float sum."""
    plan = _plan(spark, "bm25_topk")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan  # postings/df built with map-side combine
    # per-pair score is an integer (nano-unit) sum: map-side combined,
    # codegen hash agg — never an object-based ordered-float fold
    assert "partial_sum" in plan and "ObjectHashAggregate" not in plan


def test_semantic_decontamination_broadcast_scan(spark):
    """Eval vectors broadcast against ONE linear corpus scan (the
    deliberate broadcast cross); the per-doc argmax is a PARTIAL
    max(struct) aggregate — one shuffled row per doc, never the
    corpus × eval scored set a row_number window would exchange."""
    plan = _plan(spark, "semantic_decontamination")
    assert "BroadcastNestedLoopJoin" in plan  # tiny eval side, broadcast
    assert "CartesianProduct" not in plan
    assert _hash_exchanges(plan) == 1  # the argmax aggregate only
    assert "partial_max" in plan  # map-side combined, no window


@pytest.mark.parametrize(
    "name", ["image_phash_pairs", "audio_fingerprint_pairs", "video_fingerprint_pairs"]
)
def test_media_pairs_fingerprint_cache_and_no_cartesian(spark, name):
    """A media pairing plan's scale contract: no cartesian anywhere,
    all expansion joins broadcast (fingerprint/candidate frames are
    tiny), and the persisted fingerprint frame actually substitutes —
    every one of its plan-side references reads the InMemoryRelation,
    so the Arrow hashing pass over payloads runs ONCE at execution no
    matter how many sides consume it."""
    from gmall_realtime2021_spark.operators.dedup import release_caches

    plan = _plan(spark, name)
    release_caches()
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    # fp is read on 6 sides (uniq band buckets x2 via self-join, intra
    # x2, cross expansion x2) — each must be an in-memory scan
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 5


def test_image_phash_no_key_shuffle(spark):
    """image_phash is one linear Arrow pass: the only exchange is the
    deliberate fan_out round-robin rebalance below the kernel (the
    same pattern every Arrow text kernel uses to spread hashing
    across tasks) — no hash/range shuffle exists, so nothing ever
    co-locates payload bytes by key."""
    plan = _plan(spark, "image_phash")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert len(re.findall(r"MapInPandas", plan)) == 1


@pytest.mark.parametrize(
    "name", ["image_dedup_incremental", "audio_dedup_incremental", "video_dedup_incremental"]
)
def test_media_dedup_incremental_probe_shape(spark, name):
    """An incremental media probe is the two-sided band join at
    distinct-fingerprint grain: no cartesian anywhere, and the shared
    fingerprint cache feeds the incoming side, the index side, and
    the final left join — payload hashing runs once. (The final
    best-match left join may sort-merge: both its sides are
    delivery-sized and keyed by incoming id, so that exchange scales
    with the delivery, not the index.)"""
    from gmall_realtime2021_spark.operators.dedup import release_caches

    plan = _plan(spark, name)
    release_caches()
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"InMemoryTableScan", plan)) >= 3


def test_bucketed_join_no_exchange_no_sort(spark):
    """The materialized bucketed layout (sources/warehouse.py): the
    lineitem⋈orders merge join and the per-order aggregate above it
    run with ZERO exchanges (bucket partitioning satisfies the join
    distribution on both sides and the agg clustering) and zero
    per-query sorts (one pre-sorted file per bucket + the scan
    ordering conf in session.ENGINE_CONFIG)."""
    plan = _plan(spark, "bucketed_order_totals")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Sort [" not in plan
    # both scans actually read the bucketed storage
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount" in plan


def test_bucketed_order_wide_no_exchange(spark):
    """The flagship interval join (order_wide) on the bucketed layout:
    the orderkey equi-join rides the buckets with the 30-day interval
    predicate as the merge join's residual — zero exchanges of any
    kind, zero sorts, both scans bucketed."""
    plan = _plan(spark, "bucketed_order_wide")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Sort [" not in plan
    assert plan.count("Bucketed: true") == 2
    # the interval bound stayed a residual, not a nested-loop driver
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bucketed_payment_wide_no_exchange(spark):
    """The asymmetric interval self-join (payment_wide) on the
    user-bucketed events layout: both self-join sides and the
    per-user aggregate ride the buckets — zero exchanges of any kind,
    zero sorts, both scans bucketed, the 30-minute window and
    event-id inequality as merge residuals."""
    plan = _plan(spark, "bucketed_payment_wide")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert "Sort [" not in plan
    assert plan.count("Bucketed: true") == 2
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_bucketed_payment_enrich_no_exchange_no_sort(spark):
    """The BOUNDED-OUTPUT serving form (VERDICT r11 item #1): the
    per-payment 30-minute range window rides the user-bucketed,
    (user_id, ts)-sorted events layout — the Window's required
    distribution AND ordering are both satisfied by the scan, so the
    whole plan has zero exchanges, zero sorts, and NO JOIN at all
    (the pair-materializing step is gone, not just aggregated away)."""
    plan = _plan(spark, "bucketed_payment_enrich")
    assert "Window" in plan
    assert "Exchange" not in plan
    assert "Sort [" not in plan
    assert "Join" not in plan
    assert plan.count("Bucketed: true") == 1


def test_bucketed_payment_enrich_day_pruned_no_exchange(spark):
    """The DATE-BOUNDED serving form (VERDICT r12 item #4) on the
    day-partitioned + user-bucketed layout: the day range lands in
    PartitionFilters (planning-time pruning — the scan reads the
    serving window + one margin day, never the history), the bucket
    metadata still satisfies the window's hash(user_id) distribution
    (zero exchanges, no join), and the only sort is the bucket-local
    one the multi-day scan needs (in-bucket order is per (day,bucket)
    file) — a sort without a shuffle."""
    plan = _plan(spark, "bucketed_payment_enrich_day")
    assert "Window" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.count("Bucketed: true") == 1
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "event_date" in m.group(1) and ">=" in m.group(1)
    # the bucket-local sort is expected; what is NOT allowed is a
    # shuffle feeding it
    assert len(re.findall(r"Sort \[", plan)) == 1


def test_partitioned_events_pruning(spark):
    """The date-partitioned event layout: the range predicate lands in
    PartitionFilters (directory pruning at planning time), not just in
    DataFilters — at 100 TB this is the 10-days-vs-whole-table scan."""
    plan = _plan(spark, "events_daily_partitioned")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "event_date" in m.group(1) and ">=" in m.group(1)


@pytest.mark.parametrize("name", ["gap_fill_daily", "daily_revenue_anomaly"])
def test_dashboard_plans_prune_event_partitions(spark, name):
    """The r11 rewires (VERDICT r10 item #4): the analysis-window
    range on the date-partitioned event log must land in
    PartitionFilters — planning-time directory pruning — and the
    purchase-type predicate must still push into the surviving files'
    scan."""
    plan = _plan(spark, name)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, name
    assert "event_date" in m.group(1) and ">=" in m.group(1), name
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(event_type,purchase\)", plan), name


@pytest.mark.parametrize("name", ["cohort_retention", "dau_wau_stickiness"])
def test_engagement_plans_read_partition_metadata_day(spark, name):
    """cohort_retention / dau_wau_stickiness on the partitioned log:
    the day grain comes from the partition column (directory
    metadata), so the scan materializes ONLY user_id — ts is never
    read."""
    plan = _plan(spark, name)
    scan = re.search(r"FileScan parquet [^\n]*", plan).group(0)
    assert "ReadSchema: struct<user_id:bigint>" in scan, scan


def test_ann_ivf_partitioned_dynamic_pruning(spark):
    """The at-rest IVF index (sources/warehouse.ensure_ivf_embeddings):
    the broadcast probe join on the cell partition column must insert
    a DYNAMIC partition pruning expression into the index scan — only
    probed-cell directories open at runtime — and the probe side must
    be pure JVM expressions (a Python UDF there disqualifies the DPP
    subquery; the corpus-side Arrow kernel is gone from query time
    entirely)."""
    plan = _plan(spark, "ann_ivf_partitioned")
    m = re.search(r"PartitionFilters: \[([^\]]*dynamicpruning[^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan, marker
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan


def test_bucketed_q3_one_broadcast_zero_shuffles(spark):
    """The Q3 shape switched onto the bucketed layout
    (bucketed_shipping_priority): the dim broadcast join preserves the
    streamed side's bucket partitioning/ordering, so the fact merge
    join AND the per-order aggregate ride the buckets — exactly ONE
    BroadcastExchange in the whole plan, zero shuffle exchanges, zero
    sorts."""
    plan = _plan(spark, "bucketed_shipping_priority")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" in plan
    assert plan.count("BroadcastExchange") == 1
    assert not re.search(r"Exchange hashpartitioning", plan)
    assert not re.search(r"\n\s*[+:]- Sort ", plan)


def test_train_split_stats_prunes_eval_partitions(spark):
    """The split-partitioned corpus: the split='train' predicate must
    land in PartitionFilters (the val/test directories are never
    listed — the leakage guarantee as a physical property), and the
    scan must read only the stat columns, never doc_id."""
    plan = _plan(spark, "train_split_stats")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "split" in m.group(1) and "train" in m.group(1), plan
    scan = re.search(r"FileScan parquet [^\n]*", plan).group(0)
    assert "doc_id" not in scan
