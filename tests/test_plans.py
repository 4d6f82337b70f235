"""Plan-quality gates (the 100 TB design checks, SURVEY §4): these
assert the *physical plan shape*, not results — a regression here is a
scale bug even when answers stay correct."""

from __future__ import annotations

import re

import pytest

from aws_ipl_data_pipeline_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_flagship_is_broadcast_and_topk(spark):
    p = formatted_plan(spark, "top_customers_by_revenue")
    assert "SortMergeJoin" not in p  # dims broadcast; fact never shuffles to join
    assert p.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in p  # top-k, not a full sort


def test_flagship_column_pruning(spark):
    p = formatted_plan(spark, "top_customers_by_revenue")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    li = next(s for s in schemas if "l_orderkey" in s)
    # 11-column lineitem pruned to exactly the 3 used
    assert sorted(c.split(":")[0] for c in li.split(",")) == [
        "l_discount",
        "l_extendedprice",
        "l_orderkey",
    ]


def test_q1_filter_pushdown(spark):
    p = formatted_plan(spark, "q1_pricing_summary")
    assert re.search(r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate", p)
    # partial (map-side) + final aggregation
    assert p.count("HashAggregate") >= 2


def test_pattern_predicates_pushed(spark):
    p = formatted_plan(spark, "filter_pattern")
    assert "StringContains(p_name,gear)" in p
    assert "StringStartsWith(p_name,red)" in p


def test_range_join_is_not_nested_loop(spark):
    """The bucketed rewrite must keep the inequality join an equi-join —
    BroadcastNestedLoopJoin here would be quadratic at scale."""
    p = formatted_plan(spark, "range_join_events")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_dim_joins_broadcast(spark):
    for q in ("broadcast_dim_revenue", "renamed_key_join", "standings_points"):
        p = formatted_plan(spark, q)
        assert "BroadcastHashJoin" in p, q


@pytest.mark.slow
def test_no_python_udf_in_relational_core(spark):
    """Everything except the fuzzy/multimodal operators must stay
    JVM-side (no BatchEvalPython / ArrowEvalPython in the plan)."""
    # ann_ivf/ann_lsh: numpy-matmul assignment (HOF folds are
    # interpreted, measured ~10-50x slower); dedup_simhash: numpy bit
    # votes replace a 64-conditional-agg JVM formulation (~2.3x)
    python_ok = {
        "fuzzy_name_match",
        "multimodal_features",
        "ann_ivf_topk",
        "ann_lsh_topk",
        "ann_lsh_radius_curve",  # same memoized add_lsh_bucket build
        "dedup_simhash",
        # PQ encoding: vectorized numpy argmin over m subspaces — the
        # JVM form would be m×k unrolled distance exprs per row (huge
        # codegen); ADC *scoring* stays JVM-side (pq_topk LUT fold)
        "ann_pq_topk",
        "ann_ivfpq_topk",
        # the exact-rerank oracle companions run the same Arrow encode
        "ann_pq_topk_reranked",
        "ann_ivfpq_topk_reranked",
        # IVF cell assignment + per-cell numpy GEMM (blocked-path twin)
        "dedup_embedding_cosine_ivf",
        # same IVF pair generator feeding the star-contraction clusters
        "semantic_dedup_clusters_ivf",
        # same sanctioned numpy cell-assignment as ann_ivf_topk, batched
        "ann_batch_ivf_topk",
        # composes batch_ivf_topk above, so inherits its Arrow encode
        "ann_recall_eval",
        "ann_ndcg_eval",
        "ann_probe_recall_curve",  # the same composition, swept 5x
        # broadcast-benchmark GEMM over the train scan (r9): the JVM
        # form would be a |bench|-way join or per-row HOF over a
        # broadcast array — measured orders slower than one numpy
        # matmul per Arrow batch; zero shuffles either way
        "semantic_decontamination",
    }
    for name in REGISTRY:
        if name in python_ok:
            continue
        p = formatted_plan(spark, name)
        assert "EvalPython" not in p, f"{name} fell off the JVM fast path"


def _nodes(p: str, kind: str) -> int:
    """Count physical nodes of a kind: formatted explain prints each
    node twice (tree + detail) — the '(<id>) <Kind>' detail lines count
    each node exactly once."""
    return len(re.findall(rf"\(\d+\) {kind}", p))


def test_grouping_sets_single_scan(spark):
    """ROLLUP/CUBE must be one scan + Expand, not one rescan per
    grouping set (2^k scans at scale)."""
    for q in ("rollup_pricing", "cube_pricing"):
        p = formatted_plan(spark, q)
        assert "Expand" in p, q
        assert _nodes(p, "Scan parquet") == 1, q


def test_pivot_static_schema_single_scan(spark):
    """Explicit pivot values → no eager distinct pre-scan; one pass."""
    p = formatted_plan(spark, "pivot_status_qty")
    assert _nodes(p, "Scan parquet") == 1


def test_salted_agg_two_exchanges(spark):
    """Two-phase salted aggregation is exactly two shuffles: (key,salt)
    partial then key final — more means the rewrite regressed."""
    p = formatted_plan(spark, "skew_salted_agg")
    assert _nodes(p, "Exchange") == 2


def test_set_ops_stay_hash_based(spark):
    for q in ("except_customers", "intersect_customers"):
        p = formatted_plan(spark, q)
        assert "CartesianProduct" not in p, q
        assert "BroadcastNestedLoopJoin" not in p, q


def test_percentile_partial_aggregation(spark):
    """Exact percentile still map-side combines its collection buffer:
    partial + final HashAggregate pair around a single exchange."""
    p = formatted_plan(spark, "percentiles_by_segment")
    assert _nodes(p, "Exchange") == 1
    assert "partial_percentile" in p


def test_relational_core_in_whole_stage_codegen(spark):
    """The hot scalar paths must run inside fused codegen stages
    ('[codegen id : N]' in formatted mode), not interpreted expression
    trees. (AQE-wrapped multi-stage plans only annotate codegen in the
    runtime-final plan, so gate the single-stage batteries.)"""
    for q in ("scalar_battery", "string_battery", "date_functions_battery"):
        p = formatted_plan(spark, q)
        assert "codegen id" in p, q


@pytest.mark.slow
def test_entry_runs_on_vanilla_session(spark):
    import __spark_entry__ as E

    assert len(E.entry(spark).collect()) == 10
    assert set(E.oracle_sql()) <= set(E.queries())


def test_window_battery_single_exchange(spark):
    """Every window function in the battery shares the (o_custkey)
    partitioning: one Exchange + one Sort feed all nine columns — the
    shuffle is paid once, not per-function."""
    p = formatted_plan(spark, "window_battery")
    assert _nodes(p, "Exchange") == 1
    assert _nodes(p, "Sort") == 1


def test_correlated_subquery_decorrelated(spark):
    """Catalyst must rewrite the correlated scalar subquery to an
    aggregate + join (no per-row subquery re-execution plan nodes)."""
    p = formatted_plan(spark, "correlated_subquery")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert _nodes(p, "HashAggregate") >= 1


def test_pii_redaction_map_only(spark):
    """Redaction is a pure scan→project pipeline: zero shuffles."""
    p = formatted_plan(spark, "text_pii_redaction")
    assert _nodes(p, "Exchange") == 0


def test_embedding_cosine_no_cartesian(spark):
    # the registered embedding near-dup must be the reducer-blocked GEMM
    # plan: one shuffle on the block-pair key, never a CartesianProduct
    p = formatted_plan(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in p


def test_quality_weighted_sample_map_only(spark):
    # pure per-row decision: no shuffle anywhere in the plan
    p = formatted_plan(spark, "quality_weighted_sample")
    assert "Exchange" not in p


def test_vocab_topk_is_take_ordered(spark):
    # top-k by doc_freq must be TakeOrderedAndProject, not a full sort
    p = formatted_plan(spark, "vocab_top_terms")
    assert "TakeOrderedAndProject" in p


def test_stratified_sample_single_exchange(spark):
    # one hash shuffle on the stratum key feeds the ranking window
    p = formatted_plan(spark, "stratified_sample_by_source")
    assert _nodes(p, "Exchange") == 1


def test_funnel_single_exchange(spark):
    """Three stacked conditional-min windows and the final per-user
    rollup share one user_id partitioning: exactly 1 Exchange."""
    p = formatted_plan(spark, "funnel_analysis")
    assert _nodes(p, "Exchange") == 1
    assert _nodes(p, "Window") == 3


def test_data_quality_single_scan(spark):
    """Every expectation folds into one aggregation over one scan — a
    second scan means the contract stopped being single-pass."""
    p = formatted_plan(spark, "data_quality_report")
    assert _nodes(p, "Scan parquet") == 1


def test_deep_star_join_all_broadcast(spark):
    """Five-table star join: the fact side flows through a chain of
    broadcast hash joins and never sort-merge-shuffles to join."""
    p = formatted_plan(spark, "regional_revenue_rollup")
    assert _nodes(p, "BroadcastHashJoin") == 4
    assert "SortMergeJoin" not in p


def test_anomaly_rollup_before_window(spark):
    """Exactly two shuffles: the (type, day) rollup collapses raw
    events first, then only that tiny frame reshuffles once for the
    per-type trailing windows."""
    p = formatted_plan(spark, "event_rate_anomalies")
    assert _nodes(p, "Exchange") == 2


def test_tfidf_idf_join_broadcasts(spark):
    """The idf join-back is on a vocabulary-sized dimension — it must
    broadcast, never sort-merge-shuffle the (doc, term) side."""
    p = formatted_plan(spark, "tfidf_top_terms")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_chunking_is_map_only(spark):
    """Chunking must be a zero-shuffle map pass: split/sequence/explode/
    slice pipeline straight from the scan, no Python per row."""
    p = formatted_plan(spark, "document_chunking")
    assert _nodes(p, "Exchange") == 0
    assert "EvalPython" not in p


def test_chunk_then_pack_single_shard_shuffle(spark):
    """The composition shuffles exactly once — on the shard key for the
    packing window; a global-window plan (single partition) or a second
    shuffle is a 100 TB regression."""
    p = formatted_plan(spark, "chunk_then_pack")
    assert _nodes(p, "Exchange") == 1
    assert "SinglePartition" not in p


def test_centroid_assign_is_map_only(spark):
    """Literal-centroid argmin is pure projection: no Exchange, no
    Python, distances unrolled to JVM expressions. (The O(k·dim) seed
    collect happens before the plan under test.)"""
    p = formatted_plan(spark, "embedding_centroid_assign")
    assert _nodes(p, "Exchange") == 0
    assert "EvalPython" not in p


def test_temperature_mix_fact_table_single_pass(spark):
    """The fact table is read once and filtered map-side; the per-lang
    rates come back via broadcast joins (k-row dims), never a fact
    shuffle."""
    p = formatted_plan(spark, "source_mixing_temperature")
    assert _nodes(p, "BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in p


def test_runtime_bloom_filter_on_selective_fact_join(spark):
    """Spark's runtime bloom-filter join filtering prunes the fact side
    of a selective fact⋈fact join before the shuffle. The size
    thresholds (creation side small enough, application side big
    enough) are what gate it in production; locally the application
    floor is dropped to show the rewrite fires — the conf posture a
    100 TB deployment inherits with defaults."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan  # applied on the fact scan side
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_parquet_aggregate_pushdown_footer_only_scan(spark):
    """COUNT/MIN/MAX with no filter and no grouping can be answered
    from parquet FOOTER statistics alone — zero row-group decode, the
    100 TB "how big is this table" path. Requires the DSv2 parquet
    reader (aggregate pushdown is not implemented in the v1 path), so
    the conf posture is pinned here in an isolated scope rather than
    session-wide: PushedAggregation must appear in the scan and the
    answers must match the row-decoding plan."""
    confs = {
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.sql.sources.useV1SourceList": "",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from pyspark.sql import functions as F

        # numeric columns only: Spark's parquet aggregate pushdown
        # declines MIN/MAX on timestamp columns (a pushed timestamp
        # stat silently falls back to row decode — worth knowing when
        # laying out a stats-serving table)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        agg = li.agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        p = agg._jdf.queryExecution().explainString(mode)
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_extendedprice)]" in p, p
        got = agg.collect()[0]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    want = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_extendedprice").alias("mx"),
        )
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


def test_semantic_chunking_single_doc_shuffle(spark):
    """Segment explode is map-side; the running-total window and the
    reassembly groupBy share one doc-key partitioning — exactly one
    Exchange, never a global window."""
    p = formatted_plan(spark, "semantic_chunking")
    assert _nodes(p, "Exchange") == 1
    assert "SinglePartition" not in p


def test_q3_q5_join_shapes(spark):
    """Q3: filtered dim broadcast, dates pushed, TakeOrdered top-k.
    Q5: six-way join with every dimension side broadcast — at most the
    lineitem⋈orders pair may shuffle; never a cartesian product."""
    p3 = formatted_plan(spark, "q3_shipping_priority")
    assert "TakeOrderedAndProject" in p3
    assert "CartesianProduct" not in p3
    assert p3.count("BroadcastHashJoin") >= 1
    assert "PushedFilters" in p3 or "pushedfilters" in p3.lower()

    p5 = formatted_plan(spark, "q5_local_supplier_volume")
    assert "CartesianProduct" not in p5
    assert p5.count("BroadcastHashJoin") >= 4
    assert p5.count("SortMergeJoin") <= 1


def test_map_only_scoring_queries_zero_exchange(spark):
    """quality_classifier and random_projection_embed are pure per-row
    column expressions — the plan must contain NO Exchange at all (the
    100 TB contract: scoring/projection touch every row exactly once,
    embarrassingly parallel)."""
    for q in ("quality_classifier", "random_projection_embed"):
        p = formatted_plan(spark, q)
        assert _nodes(p, "Exchange") == 0, q
        assert "PythonUDF" not in p, q


def test_segment_dedup_two_shuffles(spark):
    """Segment dedup = one window on the segment digest + one doc-key
    reassembly groupBy; anything more is a regression."""
    p = formatted_plan(spark, "segment_dedup")
    assert _nodes(p, "Exchange") <= 2
    assert "SinglePartition" not in p
    assert "CartesianProduct" not in p


def test_batch_ann_no_corpus_shuffle_before_rank(spark):
    """Batched ANN: queries broadcast; the only shuffle is the skinny
    per-query rank window (plus AQE bookkeeping) — the corpus is never
    hash-repartitioned to score."""
    p = formatted_plan(spark, "ann_batch_topk")
    assert _nodes(p, "BroadcastNestedLoopJoin") + _nodes(p, "BroadcastHashJoin") >= 1
    assert _nodes(p, "Exchange") <= 2
    assert "CartesianProduct" not in p


def test_q19_disjunction_pushed_to_both_scans(spark):
    """TPC-H Q19's OR-of-ANDs: Catalyst must derive the per-side
    residual disjunctions, so the part scan prunes on brand/size and
    the lineitem scan prunes on the quantity envelope — at 100 TB that
    row-group pruning is the difference between scanning 3 brands'
    worth of data and scanning everything."""
    p = formatted_plan(spark, "q19_disjunctive_pushdown")
    assert re.search(r"PushedFilters: \[[^\]]*Or\([^\]]*p_brand", p)
    assert re.search(r"PushedFilters: \[[^\]]*Or\([^\]]*l_quantity", p)
    assert "CartesianProduct" not in p


def test_exists_shapes_compile_to_semi_anti_joins(spark):
    """EXISTS / IN-subquery / NOT EXISTS must become hash semi/anti
    joins (never a per-row subquery or nested loop over the fact
    side)."""
    p4 = formatted_plan(spark, "q4_priority_exists")
    assert "LeftSemi" in p4
    assert "CartesianProduct" not in p4
    # q18's IN-subquery aggregate doubles as the output aggregate, so
    # the rewrite is stronger than a semi join: ONE lineitem scan (the
    # per-order agg), threshold filter, inner join — assert single scan
    p18 = formatted_plan(spark, "q18_large_volume_customer")
    li_scans = len(re.findall(r"Location:[^\n]*lineitem\.parquet", p18))
    assert li_scans == 1, f"q18 should scan lineitem once, saw {li_scans}"
    assert "CartesianProduct" not in p18
    p22 = formatted_plan(spark, "q22_dormant_customers")
    assert "LeftAnti" in p22
    assert "CartesianProduct" not in p22
    # the scalar AVG subquery is a 1-row broadcast — the only
    # nested-loop join allowed anywhere in the shape
    assert _nodes(p22, "BroadcastNestedLoopJoin") <= 1


def test_classic_join_shapes_all_dims_broadcast(spark):
    """Q3/Q5/Q7/Q8/Q10/Q15-Q18/Q21: every dimension side broadcasts; at
    most one shuffle join (lineitem⋈orders) survives. None of these
    queries hints a broadcast: the planner must choose them itself."""
    for q in (
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q7_volume_shipping",
        "q8_market_share",
        "q10_returned_items",
        "q15_top_supplier",
        "q16_supplier_part_counts",
        "q17_small_quantity_revenue",
        "q18_large_volume_customer",
        "q21_sole_blame_supplier",
    ):
        p = formatted_plan(spark, q)
        assert _nodes(p, "SortMergeJoin") <= 1, q
        assert "CartesianProduct" not in p, q
        assert _nodes(p, "BroadcastHashJoin") >= 2, q


def test_r5_decorrelation_shapes(spark):
    """Q2/Q9/Q11/Q12/Q20 (r5): the correlated shapes must decorrelate
    to hash joins + windows — never a per-row subquery, nested loop
    over a fact side, or cartesian product; every true dimension side
    broadcasts."""
    # Q2: the correlated min-cost subquery is a per-part MIN window on
    # the already-joined catalog (one part-key exchange), all dims
    # broadcast — no re-aggregating self-join, no SMJ at any scale
    p2 = formatted_plan(spark, "q2_min_cost_supplier")
    assert _nodes(p2, "Window") == 1
    assert _nodes(p2, "SortMergeJoin") == 0
    assert _nodes(p2, "BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p2

    # Q9: fact ⋈ derived-catalog on the composite key + orders join may
    # shuffle (they're fact-sized at scale); part/supplier/nation stay
    # broadcast; the family filter must prune the part scan
    p9 = formatted_plan(spark, "q9_product_type_profit")
    assert _nodes(p9, "SortMergeJoin") <= 2
    assert _nodes(p9, "BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in p9
    assert re.search(r"PushedFilters: \[[^\]]*p_name", p9)

    # Q11: global-scalar threshold = 1-row broadcast (BNLJ ≤ 1 is the
    # only nested loop allowed); region supplier set semi-prunes
    p11 = formatted_plan(spark, "q11_important_stock")
    assert "LeftSemi" in p11
    assert _nodes(p11, "BroadcastNestedLoopJoin") <= 1
    assert _nodes(p11, "SortMergeJoin") == 0
    assert "CartesianProduct" not in p11

    # Q12: the cross-table lateness predicate is a join residual; the
    # ship-window predicate must push to the lineitem scan; at most the
    # one orders⋈lineitem shuffle join
    p12 = formatted_plan(spark, "q12_late_shipments")
    assert _nodes(p12, "SortMergeJoin") <= 1
    assert "CartesianProduct" not in p12
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", p12)

    # Q20: nested semijoin chain — the family filter prunes before the
    # aggregates, the pair comparison is an equi-join residual, the
    # supplier membership compiles to LeftSemi
    p20 = formatted_plan(spark, "q20_potential_promotion")
    assert "LeftSemi" in p20
    assert _nodes(p20, "SortMergeJoin") <= 2
    assert "CartesianProduct" not in p20


def test_r5_dedup_shapes(spark):
    """IVF-celled embedding dedup: the only shuffle is the cell key
    (one hash Exchange into the per-cell GEMM), never a cartesian.
    Incremental near-dup: the batch side (bands and verification sets)
    must ride broadcast joins — the corpus is never self-joined."""
    p = formatted_plan(spark, "dedup_embedding_cosine_ivf")
    assert "CartesianProduct" not in p
    assert len(re.findall(r"Arguments: hashpartitioning\(cell", p)) >= 1
    assert _nodes(p, "SortMergeJoin") == 0

    p2 = formatted_plan(spark, "dedup_incremental_minhash")
    assert "CartesianProduct" not in p2
    assert _nodes(p2, "BroadcastHashJoin") >= 2  # band keys + verify sets
    assert "BroadcastNestedLoopJoin" not in p2


def test_sessionize_single_user_partitioning(spark):
    """Sessionization: the lag window, the prefix-sum window, and the
    per-session rollup all ride ONE user_id hash partitioning — the
    plan may contain exactly one hash Exchange (the final ORDER BY adds
    a range Exchange; presentation only)."""
    p = formatted_plan(spark, "sessionize_events")
    hash_ex = len(re.findall(r"Arguments: hashpartitioning", p))
    assert hash_ex == 1, f"expected 1 hash exchange, plan has {hash_ex}"
    assert "SinglePartition" not in p


def test_seq_length_histogram_single_fact_exchange(spark):
    """The histogram aggregates doc-grain → bucket-grain in one
    exchange; the cumulative-share windows run over the ~30-row bucket
    frame only (single-partition there is by design and safe)."""
    p = formatted_plan(spark, "seq_length_histogram")
    assert _nodes(p, "Scan parquet") == 1
    assert len(re.findall(r"Arguments: hashpartitioning", p)) <= 1


def test_scd2_single_user_exchange(spark):
    """SCD2 build: change-detect lag, interval-close lead, and the
    change filter all share the user_id partitioning — one hash
    exchange total."""
    p = formatted_plan(spark, "scd2_user_state")
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 1
    assert "SinglePartition" not in p


def test_diversity_sample_map_side_bucketing(spark):
    """Diversity sampling: the bucket id is computed map-side (JVM
    fold, no Python) — the only hash exchange is the per-bucket quota
    window."""
    p = formatted_plan(spark, "diversity_sample")
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 1
    assert "EvalPython" not in p
    assert "SinglePartition" not in p


def test_q21_non_equi_semi_anti_hash_joins(spark):
    """Q21's correlated EXISTS/NOT EXISTS with the other-supplier
    inequality must compile to hash semi/anti joins carrying the
    inequality as a residual join condition — never a nested loop over
    the fact side."""
    p = formatted_plan(spark, "q21_sole_blame_supplier")
    assert "LeftSemi" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "BroadcastNestedLoopJoin") == 0


def test_join_strategy_hints_respected(spark):
    """Join-strategy hints are part of the tuning surface: when a
    dimension is too big to broadcast, SHUFFLE_HASH avoids the
    sort-merge sort; MERGE forces it; BROADCAST overrides the size
    estimate. Assert Catalyst honors each (the escape hatch the 100 TB
    operator reaches for when statistics mislead the planner)."""
    li = REGISTRY["q1_pricing_summary"]  # noqa: F841 — just for the spark fixture style
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )

    def plan_of(df):
        return df._jdf.queryExecution().explainString(mode)

    j_sh = lineitem.join(
        orders.hint("shuffle_hash"), lineitem.l_orderkey == orders.o_orderkey
    )
    assert "ShuffledHashJoin" in plan_of(j_sh)
    j_sm = lineitem.join(
        orders.hint("merge"), lineitem.l_orderkey == orders.o_orderkey
    )
    assert "SortMergeJoin" in plan_of(j_sm)
    j_b = lineitem.join(
        orders.hint("broadcast"), lineitem.l_orderkey == orders.o_orderkey
    )
    assert "BroadcastHashJoin" in plan_of(j_b)


def test_shuffle_shards_no_global_sort(spark):
    """The epoch shuffle must never degenerate to a single-partition
    global sort: exactly one Exchange (hash on shard) and no
    SinglePartition anywhere — per-shard position windows are the
    whole point of the shard key."""
    p = formatted_plan(spark, "training_shuffle_shards")
    assert "SinglePartition" not in p
    assert _nodes(p, "Exchange") == 1


def test_sequence_packing_default_is_sharded(spark):
    """VERDICT r7 #4: the registered `sequence_packing` default must be
    the scale path — one hash exchange on the shard key, never a
    single-partition global window or sort. The exact concat-then-chunk
    global layout survives only under the explicit
    `sequence_packing_global` name."""
    p = formatted_plan(spark, "sequence_packing")
    assert "SinglePartition" not in p
    assert re.search(r"hashpartitioning\(source", p)


def test_length_bucketed_batches_one_shard_exchange(spark):
    """VERDICT r8 #6: the batch-max window's (shard, batch_id)
    clustering is satisfied by the rank window's hashpartitioning(shard)
    — shard is a subset of the clustering keys — so the whole layout
    costs exactly ONE keyed exchange and never a single-partition
    window. A second exchange appearing here means the window specs
    drifted apart (e.g. the batch-max window lost the shard prefix)."""
    p = formatted_plan(spark, "length_bucketed_batches")
    assert "SinglePartition" not in p
    assert re.search(r"hashpartitioning\(source", p)
    assert _nodes(p, "Exchange") == 1


def test_collocation_pmi_plan_shape(spark):
    """collocation_pmi's one-gate-per-claim pin: the final top-k is
    TakeOrderedAndProject (never a global Sort of the bigram space),
    every corpus-side aggregate is a partial/final HashAggregate pair
    (map-side combine before its exchange), and the totals frame
    reaches the join as a broadcast — no CartesianProduct, and the
    registry-wide BNLJ bound gate covers the keyless-agg build side."""
    p = formatted_plan(spark, "collocation_pmi")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "BroadcastNestedLoopJoin") == 1
    # no standalone global sort node (top-k must not plan Sort+Limit)
    assert not re.search(r"\n\s*[+:]- Sort ", p)


def test_copurchase_lift_plan_shape(spark):
    """copurchase_lift's one-gate-per-claim pin: pairs come from the
    inverted-index equi-self-join on the basket key (SortMergeJoin or
    shuffled hash — never CartesianProduct), the apriori support prune
    and pair counts are partial/final HashAggregate pairs (map-side
    combine), the total-baskets frame reaches the plan as the single
    broadcast BNLJ (bounded by the registry-wide keyless-agg gate),
    and the top-100 is TakeOrderedAndProject, never a global Sort."""
    p = formatted_plan(spark, "copurchase_lift")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert _nodes(p, "BroadcastNestedLoopJoin") == 1
    assert not re.search(r"\n\s*[+:]- Sort ", p)


def test_timeseries_windows_share_one_user_clustering(spark):
    """gap_fill_interpolate / rolling_24h_stats / user_value_trend /
    user_twap all
    claim their window work rides ONE user-keyed clustering: window
    functions group into at most two Window nodes (gap-fill's forward
    + reversed running frames; rolling's three RANGE-frame aggs and
    the trend's centering MIN each in one), never a SinglePartition
    window, and nothing plans more than the one user-hash exchange
    (zero when the source is a single split — the clustering is then
    already satisfied). Gap-fill's frames must both be RUNNING
    (unbounded PRECEDING) — an unbounded-following frame is O(n²) per
    key (measured 14.8 s vs 1.6 s at sf0.1)."""
    for name in (
        "gap_fill_interpolate",
        "rolling_24h_stats",
        "user_value_trend",
        "user_twap",
    ):
        p = formatted_plan(spark, name)
        assert p.count("Window") >= 1, name
        assert "SinglePartition" not in p, name
        assert "CartesianProduct" not in p, name
        assert len(re.findall(r"Exchange hashpartitioning", p)) <= 1, name
        # the O(n²)-per-key frame shape: a MOVING start that re-
        # aggregates the tail for every row. Whole-partition frames
        # (unboundedpreceding -> unboundedfollowing, no moving edge,
        # e.g. the trend's centering MIN) are computed once per key
        # and stay allowed.
        assert not re.search(
            r"currentrow\$\(\), unboundedfollowing", p.lower()
        ), name
        # user_value_trend's final aggregate must reuse the window's
        # clustering: no exchange may sit between Window and the agg
        if name == "user_value_trend":
            seg = p.split("Window")[0]  # nodes ABOVE the window
            assert "Exchange" not in seg, seg


def test_topk_windows_run_on_bounded_prefix(spark):
    """VERDICT r6 #1-#3: rank_topk / slice_rows / vocab_coverage_curve
    must take the top-k FIRST (TakeOrderedAndProject — per-partition
    heaps, no global sort) and run their rank/cumsum window only on the
    bounded prefix. The `% 1` partition key is the bounded_window_key
    marker: a window carrying it is the deliberate single-partition
    form over a <=k-row frame; an unpartitioned window over the full
    input would show an empty partition spec (and WindowExec's
    single-partition warning) instead."""
    for name in ("rank_topk", "slice_rows", "vocab_coverage_curve"):
        p = formatted_plan(spark, name)
        assert "TakeOrderedAndProject" in p, name
        assert "Window" in p, name
        assert re.search(r"% 1\)", p), name  # bounded_window_key marker


def test_filtered_ivf_predicate_before_scoring_with_pruning(spark):
    """VERDICT r9 #3: ann_filtered_ivf_topk must apply the metadata
    predicate INSIDE the probed cells — one codegen'd Filter carrying
    BOTH the cell IN-list (pruning retained) and the label equality,
    sitting BELOW the cosine-scoring Project, so the fold never
    touches excluded vectors — then TakeOrderedAndProject, zero
    exchanges (map-only scan + driver top-k). The IN-list length also
    pins the starvation-aware widening: at sf0.001 the ~10%-selective
    same-label predicate starves the base 4/16 probe, so the cut rule
    must have widened past 4 while still pruning (< 16)."""
    p = formatted_plan(spark, "ann_filtered_ivf_topk")
    assert "TakeOrderedAndProject" in p
    assert "Exchange" not in p
    m = re.search(r"Condition : (.*)", p)
    assert m, p
    cond = m.group(1)
    assert re.search(r"cell#\d+ IN \(", cond), cond  # pruning retained
    assert re.search(r"label#\d+ = ", cond), cond  # predicate pre-scoring
    # the scoring fold appears only ABOVE the filter (later plan node)
    assert p.index("Condition :") < p.index("aggregate(zip_with")
    probes = re.search(r"cell#\d+ IN \(([\d,]+)\)", cond).group(1).split(",")
    assert 4 < len(probes) < 16, probes  # widened, still pruned


def test_attribution_single_user_exchange(spark):
    """attribution_last_touch: the three null-masked last(ignorenulls)
    recoveries must share ONE user-clustered window — one Exchange end
    to end, no join (the asof-like attribution is a window pass, not a
    self-join), and the event_type IN pre-filter pushed to the scan."""
    p = formatted_plan(spark, "attribution_last_touch")
    assert _nodes(p, "Exchange") == 1
    assert _nodes(p, "Window") == 1  # all three last() in one WindowExec
    assert "Join" not in p
    assert "PushedFilters" in p and "In(event_type" in p


def test_funnel_paths_fact_shuffles_once(spark):
    """session_funnel_paths: lag window, prefix-sum numbering, AND the
    per-session path aggregate share the user_id exchange
    (HashPartitioning(user) satisfies the (user, session_seq)
    clustering); only the aggregated per-session paths cross the
    second, skinny exchange. Top-k is TakeOrderedAndProject, never a
    global sort."""
    p = formatted_plan(spark, "session_funnel_paths")
    assert _nodes(p, "Exchange") == 2
    assert "TakeOrderedAndProject" in p
    parts = re.findall(r"Arguments: hashpartitioning\((\w+)#", p)
    assert sorted(parts) == ["path", "user_id"], parts


@pytest.mark.slow
def test_transition_matrix_marginal_is_window_not_join(spark):
    """event_transition_matrix: the row marginal must be a window over
    the 25-cell aggregated frame, never a join — a join's second
    branch re-executes the whole fact lineage (measured 5 exchanges
    with the user window and pair agg duplicated vs 3 with the
    window form: user clustering, pair agg, from_type window)."""
    p = formatted_plan(spark, "event_transition_matrix")
    assert "Join" not in p
    assert _nodes(p, "Exchange") == 3
    assert _nodes(p, "Window") == 2  # the lead() + the marginal sum


def test_point_in_time_join_is_joinless(spark):
    """point_in_time_state: the SCD2 interval predicate must compile
    to the union-window as-of rewrite — ZERO join nodes in the plan
    (the BETWEEN form would be a nested loop at scale), user-clustered
    exchanges only, no SinglePartition."""
    p = formatted_plan(spark, "point_in_time_state")
    assert not re.findall(r"\(\d+\) \w*Join", p)
    assert "SinglePartition" not in p
    assert _nodes(p, "Exchange") <= 3


def test_no_cartesian_anywhere_and_bnlj_only_broadcast_sided(spark):
    """Registry-wide scale gate (r7, modeled on the EvalPython gate):
    NO query may plan a CartesianProduct — quadratic at scale, always a
    bug here. BroadcastNestedLoopJoin is allowed ONLY for queries that
    deliberately broadcast a tiny side against the fact (batched ANN:
    the query set broadcasts; scalar-subquery shapes) — everywhere else
    it means a join lost its equi-condition.

    r8 (VERDICT r7 #5): the allowlist is no longer name-only — for
    every allowlisted query, EVERY BNLJ's build side must carry
    structural evidence that it is bounded (see
    test_bnlj_build_sides_are_bounded below), so a future edit cannot
    silently grow a "tiny" side."""
    bnlj_ok = set(BNLJ_OK)
    offenders = []
    for name in REGISTRY:
        p = formatted_plan(spark, name)
        if _nodes(p, "CartesianProduct"):
            offenders.append((name, "CartesianProduct"))
        if name not in bnlj_ok and _nodes(p, "BroadcastNestedLoopJoin"):
            offenders.append((name, "BroadcastNestedLoopJoin"))
    assert not offenders, offenders


# The BNLJ allowlist, shared by the registry-wide gate above and the
# bound gate below. Every entry deliberately broadcasts a tiny side:
# query/term-set scoring joins (ann_*/bm25: literal query sets, the
# memoized IVF cell table), or 1-row global-stats/threshold frames
# crossJoined back (never a driver collect).
BNLJ_OK = (
    "ann_batch_topk",
    "ann_batch_ivf_topk",
    "ann_recall_eval",  # composes the two above
    "ann_ndcg_eval",  # composes the same two batch specs
    "ann_probe_recall_curve",  # same composition swept; 1-row |gt| frame
    "hard_negative_mining",  # broadcast literal-IN query set (batch_topk)
    "ann_dim_recall_curve",  # broadcast query set per dim + 1-row |gt| frame
    "bm25_retrieval",  # broadcast query-term frame
    "dedup_embedding_cosine",  # broadcast probe/threshold block
    "q11_important_stock",
    "q22_dormant_customers",
    "vocab_coverage_curve",
    "corpus_drift_psi",
    "source_mixing_temperature",
    "token_budget_mix",
    "curriculum_order",
    "hybrid_rank_fusion",  # post-limit fused frame + 1-row norms
    "theta_sketch_exact_battery",  # 1-row keyless-agg reference sketch
    "collocation_pmi",  # 1-row keyless-agg corpus totals frame
    "copurchase_lift",  # 1-row keyless-agg total-baskets frame
    "decayed_engagement",  # 1-row keyless-agg reference-time frame
    "chi2_source_lang",  # 1-row keyless-agg grand-total frame
    "cusum_drift_alarms",  # 1-row keyless-agg target frame
    "embedding_label_drift",  # 1-row keyless-agg global self-dot frame
    "curation_pipeline_e2e",  # 1-row keyless-agg n_min frame (the
    # temperature_mix rate pattern, inlined for the funnel's mix stage)
    "pagerank_covisit",  # 1-row keyless-agg |nodes| frame (r12: the
    # teleport divisor moved in-plan so the loop runs plan-once with
    # no driver count jobs)
    "personalized_pagerank_covisit",  # 1-row keyless-agg |seeds| frame
    # (same r12 in-plan divisor)
)

# Structural evidence that a broadcast side cannot grow with the data:
# a global (no-key) aggregate collapses to one row; limits/top-k cap the
# row count; LocalTableScan/ExistingRDD are driver-materialized literal
# frames (here: the memoized IVF cell table, literal query sets); a
# pushed literal IN-list caps rows at the list length. A literal Range
# is handled separately so its extent can be asserted too.
_BNLJ_BOUND = re.compile(
    r"HashAggregate\(keys=\[\]"
    r"|SortAggregate\(key=\[\]"
    r"|ObjectHashAggregate\(keys=\[\]"
    r"|GlobalLimit|TakeOrderedAndProject|CollectLimit"
    r"|LocalTableScan|Scan ExistingRDD"
    r"|\bIN \("
)


def _walk_jplan(node):
    yield node
    kids = node.children()
    it = kids.iterator()
    while it.hasNext():
        yield from _walk_jplan(it.next())


def test_bnlj_build_sides_are_bounded(spark):
    """VERDICT r7 #5: tighten the BNLJ allowlist from names to BOUNDS.
    For each allowlisted query, every BroadcastNestedLoopJoin's build
    side subtree must contain an upstream bound — a keyless (1-row)
    aggregate, a limit/top-k, a driver-materialized literal frame, a
    literal IN-list filter, or a small literal Range. The pre-AQE
    ``sparkPlan`` is walked (AQE wraps ``executedPlan`` into a single
    opaque node; the r7 audit note) and the build side is picked by the
    join's own buildSide, not guessed from string layout. If this gate
    fails, an allowlisted query's broadcast side lost its bound — fix
    the query, don't widen the regex."""
    unbounded = []
    n_joins = 0
    for name in BNLJ_OK:
        df = REGISTRY[name].fn(spark, SF)
        plan = df._jdf.queryExecution().sparkPlan()
        for node in _walk_jplan(plan):
            if node.getClass().getSimpleName() != "BroadcastNestedLoopJoinExec":
                continue
            n_joins += 1
            kids = node.children()
            build = kids.apply(0 if node.buildSide().toString() == "BuildLeft" else 1)
            ts = build.treeString()
            if _BNLJ_BOUND.search(ts):
                continue
            m = re.search(r"Range \((\d+), (\d+)", ts)
            if m and int(m.group(2)) - int(m.group(1)) <= (1 << 12):
                continue
            unbounded.append((name, ts.splitlines()[0]))
    # every allowlisted query actually plans >=1 BNLJ at this SF — a
    # zero count would mean the gate is asserting nothing
    assert n_joins >= len(BNLJ_OK), n_joins
    assert not unbounded, unbounded
