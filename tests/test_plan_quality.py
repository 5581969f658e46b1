"""Physical-plan assertions: the 100 TB properties the engine promises
(SURVEY.md §4) must be visible in `.explain` — predicate pushdown into
the parquet scan, column pruning, broadcast joins for small dims,
TakeOrderedAndProject for top-k, partial+final hash aggregation (the
combiner the reference never registered). A plan regression here is a
scale bug even when results stay correct."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from mapreduce_itwiki_spark.plans import catalog

from conftest import SF_SMALL


def plan_of(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0] or (
        "LessThan(l_shipdate" in plan
    )
    # column pruning: the scan must not read all 11 lineitem columns
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema
    assert read_schema.count(":") <= 6, read_schema


def test_broadcast_join_for_dims(spark):
    plan = plan_of(spark, "join_broadcast_dims")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_never_total_sorts(spark):
    plan = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in plan


def test_window_topk_group_limit_pushdown(spark):
    plan = plan_of(spark, "window_topk_per_group")
    assert "WindowGroupLimit" in plan  # rank filter pushed below the window


def test_partial_aggregation_everywhere(spark):
    """The reference's missing combiner (no setCombinerClass,
    CountReference.java:322-356): Spark must plan partial+final."""
    plan = plan_of(spark, "wiki_incoming_refs")
    assert plan.count("HashAggregate") >= 4  # partial+final for dedup AND count


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "semi_join_customers_with_orders")
    assert "LeftSemi" in plan


def test_ann_broadcasts_query_vector(spark):
    plan = plan_of(spark, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf_probe_broadcasts_and_heaps_topk(spark):
    """IVF ANN: the nlist-row centroid/probe frames must ride
    broadcasts (never shuffle the corpus against them), the candidate
    restriction must stay a semi-join (at scale: partition pruning on
    the cid-partitioned index), and the final top-k must be a
    per-partition heap, not a total sort."""
    plan = plan_of(spark, "ann_ivf_topk")
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_knn_graph_topk_is_group_limited(spark):
    """k-NN graph: the per-source top-k must run as WindowGroupLimit
    (per-partition heap before the exchange) and candidate generation
    must be the banded equi-join, never a cartesian pair blow-up."""
    plan = plan_of(spark, "knn_graph_lsh")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_pq_scan_broadcasts_index_and_heaps_topk(spark):
    """PQ ANN: the codebook and ADC-table frames (PQ_M × PQ_CODES rows)
    must ride broadcasts — the corpus-side encode/scan never shuffles
    against them; the candidate restriction stays a semi-join; both
    top-k stages are per-partition heaps (TakeOrderedAndProject); the
    encode argmin is a partial+final MIN-struct aggregation, never a
    per-row window over the corpus."""
    plan = plan_of(spark, "ann_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "Window" not in plan  # argmin via MIN-struct agg, not row_number


def test_label_propagation_is_agg_only(spark):
    """LPA: each round must be join + partial+final hash aggregations —
    no window functions (the argmax is a MIN over (-count, label)
    structs), no cartesian blow-up."""
    plan = plan_of(spark, "label_propagation_communities")
    assert plan.count("HashAggregate") >= 4  # partial+final × 2 rounds
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_query_is_shuffle_free(spark):
    """join_orders_lineitem_bucketed: the orderkey join must read
    co-located buckets with ZERO Exchange on either join side — the only
    Exchange in the whole plan is the final tiny groupBy(priority)."""
    df = catalog.queries()["join_orders_lineitem_bucketed"](spark, SF_SMALL)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, plan
    import re

    # exactly ONE physical Exchange (the groupBy) — none under the join
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchange == 1, plan


def test_no_cartesian_or_rowwise_python_anywhere(spark):
    """GLOBAL plan hygiene over the whole catalog: no query may plan a
    CartesianProduct (unbounded pair blow-up) or BatchEvalPython
    (row-at-a-time Python UDF — the non-Arrow slow path). Arrow-batched
    Python (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
    PythonUDTF) is the sanctioned boundary. Streaming/sink queries that
    execute eagerly on build are exercised by the parity suite instead
    and are never built here (the ``skip`` set); the top-level output
    schema gate covers every entry in ``test_query_matches_oracle``,
    which builds each one anyway."""
    skip = {
        # these EXECUTE on construction (streaming drains, table/file
        # writes) — plan text of the final select isn't the interesting
        # part and building them twice doubles test time
        "streaming_hourly_rollup",
        "streaming_sessionize_stateful",
        "streaming_dedup_watermark",
        "streaming_enrich_join",
        "streaming_sliding_counts",
        "csv_sink_roundtrip",
        "jsonl_sink_roundtrip",
        "multimodal_binaryfile_ingest",  # writes the per-doc PNG files eagerly
        "streaming_foreach_batch_upsert",  # drains the stream on build
        "streaming_neardup_ingest",  # drains the stream on build
        "streaming_ann_ingest",  # drains the stream on build
        "wiki_xml_roundtrip",
        "join_orders_lineitem_bucketed",
        "schema_evolution_merge",
        "partitioned_events_prune",
        "pagerank_linkgraph",  # loop checkpoints eagerly
        "dedup_connected_components",
        "bpe_train_merges",  # training loop collects per round on build
        "bpe_train_encode",
        # r10 lifecycle entries: building them RUNS the index writes
        # (undersized build + remeasured retrain; retune verb) — the
        # final select is a tiny union of aggregate rows
        "ann_ivf_index_retrain_measured",
        "ann_policy_retune_loop",
    }
    offenders = {}
    for name, fn in sorted(catalog.queries().items()):
        if name in skip:
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_SMALL).explain("formatted")
        plan = buf.getvalue()
        bad = [
            marker
            for marker in ("CartesianProduct", "BatchEvalPython")
            if marker in plan
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_partitioned_query_prunes_at_plan_time(spark):
    """partitioned_events_prune: the type filter must surface as a
    PartitionFilter on the scan (directory prune), never a pushed data
    filter."""
    plan = plan_of(spark, "partitioned_events_prune")
    assert "PartitionFilters" in plan
    section = plan.split("PartitionFilters", 1)[1].split("\n")[0]
    assert "etype" in section, section


def test_prefix_sums_never_window_whole_language(spark):
    """token_budget_head / pack_documents_greedy scale gate: the
    document-level running sum must be shard-decomposed — a window that
    orders doc-level rows (doc_id) while partitioning by bare lang puts
    an entire language on one task at 100 TB. Legal windows are
    (lang, shard)-partitioned doc-level cumsums and the lang-partitioned
    offsets window over the tiny per-shard totals (orders by shard, no
    doc_id, input is an Aggregate)."""
    import re

    for name in (
        "token_budget_head",
        "pack_documents_greedy",
        "curate_and_pack_pipeline",
    ):
        plan = plan_of(spark, name)
        specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
        assert specs, f"{name}: no window in plan"
        doc_level = [s for s in specs if "doc_id#" in s]
        assert doc_level, f"{name}: no doc-level cumsum window found"
        for s in doc_level:
            assert "shard#" in s, (
                f"{name}: doc-level window not shard-partitioned "
                f"(single task owns a whole language at scale): {s}"
            )
        # the offsets pass reads per-shard totals, not documents
        assert plan.count("HashAggregate") >= 2, plan


def test_q5_supplier_broadcast_is_size_gated(spark):
    """q5's supplier hint must follow the session broadcast threshold:
    supplier scales with SF (~700 M rows at TPC-H 100 TB), and an
    explicit F.broadcast would OVERRIDE the threshold. At test scale
    the gate hints (supplier join is a BroadcastHashJoin); with the
    threshold disabled the same code must leave supplier to a shuffle
    join while the constant-size nation/region hints stay broadcast."""
    plan = plan_of(spark, "q5_local_supplier_volume")
    assert "s_suppkey" in plan and "BroadcastHashJoin" in plan

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, "q5_local_supplier_volume")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    supplier_joins = []
    for sec in plan.split("\n\n"):
        header = sec.strip().split("\n")[0]
        if "Join" not in header:
            continue
        key_lines = [l for l in sec.split("\n") if l.lstrip().startswith(("Left keys", "Right keys"))]
        if any("s_suppkey" in l for l in key_lines):
            supplier_joins.append((header, sec))
    assert supplier_joins, plan
    for header, sec in supplier_joins:
        assert "Broadcast" not in header, (
            "supplier broadcast-hinted despite disabled threshold:\n" + sec
        )


def test_bloom_runtime_filter_prunes_fact_scan(spark):
    """The bloom entry's pinned plan must carry Catalyst's runtime
    filter — bloom_filter_agg on the selective orders side and a
    might_contain filter on the lineitem side BEFORE the join — and the
    builder must restore the session confs it scoped (a leak would
    inject bloom subqueries into every later shuffle join and disable
    dim broadcasts session-wide)."""
    df = catalog.queries()["bloom_runtime_filter_join"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in plan, plan
    # the probe sits in a Filter over the lineitem scan's join key
    probe = [l for l in plan.splitlines() if "might_contain" in l]
    assert probe and any("l_orderkey" in l for l in probe), plan
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1"
    app_thr = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    assert spark.conf.get(app_thr).lower() not in ("1kb", "1024b")


def test_minhash_candidates_reuse_signature_exchange(spark):
    """minhash_candidate_pairs scale gate: when the band self-join runs
    as a shuffle join (the only shape possible at 100 TB — neither side
    of a corpus-wide self-join broadcasts), both sides must read ONE
    shuffle of band rows (ReusedExchange on the (band_id, band_key)
    hash exchange) so the md5-per-shingle signature pipeline — the
    dominant per-byte cost — runs exactly once. At sf0.001 AQE would
    broadcast the tiny band table instead (reusing only the scan-side
    exchange), so pin the at-scale shape by disabling auto-broadcast
    for this one query. AQE applies exchange reuse at runtime, so
    execute first and inspect the final adaptive plan."""
    from mapreduce_itwiki_spark.operators.dedup import minhash_candidate_pairs
    from mapreduce_itwiki_spark.sources.parquet import load_table

    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
        cands = minhash_candidate_pairs(docs)
        cands.collect()
        plan = cands._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "isFinalPlan=true" in plan
    reused = [l for l in plan.splitlines() if "ReusedExchange" in l]
    assert any("band_key" in l for l in reused), plan


def test_minhash_verify_never_broadcasts_arrays(spark):
    """pair_jaccard's broadcast discipline: only the slim (doc_a, doc_b)
    candidate list may be broadcast — a BroadcastExchange carrying the
    fat shingle-array column is a driver OOM at 100 TB. The
    array-carrying join must be shuffled-hash (no array sort-merge)."""
    plan = plan_of(spark, "dedup_minhash_lsh")
    assert "ShuffledHashJoin" in plan
    for section in plan.split("\n\n"):
        header = section.strip().split("\n")[0]
        if "BroadcastExchange" not in header:
            continue
        input_lines = [l for l in section.split("\n") if l.startswith("Input")]
        for line in input_lines:
            assert "sh_" not in line and "sh#" not in line, (
                f"BroadcastExchange carries a shingle array: {line}"
            )


def test_chunker_is_map_side_only(spark):
    """chunk_documents_overlap is pure 1→N column algebra (sequence +
    explode + slice): its plan must contain NO Exchange at all — at
    100 TB the chunker runs at scan speed, one stage, zero shuffle."""
    plan = plan_of(spark, "chunk_documents_overlap")
    assert "Exchange" not in plan, plan
    assert "Generate" in plan  # the explode fan-out


def test_weighted_sample_is_takeordered(spark):
    """weighted_sample_topk must plan as TakeOrderedAndProject —
    per-partition top-k heaps merged at the driver — never a global
    Sort (a total order of 100 TB for a 100-row sample)."""
    plan = plan_of(spark, "weighted_sample_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort " not in plan


def test_repetition_quality_partial_aggs(spark):
    """repetition_quality's three signals all aggregate on doc_id (high
    cardinality): every aggregate must be partial+final (map-side
    combine), and the only window partitions by doc_id — never by a
    low-cardinality column like lang."""
    plan = plan_of(spark, "repetition_quality")
    assert plan.count("HashAggregate") >= 4
    assert "partitionBy=[lang]" not in plan.replace(" ", "")


def test_cached_scan_reuse_reads_cache_twice(spark):
    """cached_scan_reuse's two aggregation branches must BOTH read the
    persisted frame (InMemoryTableScan) instead of re-scanning parquet —
    the point of caching a multi-consumer upstream."""
    plan = plan_of(spark, "cached_scan_reuse")
    # (the formatted plan re-prints the cached relation's BUILD plan —
    # including its parquet scan — under every consumer, so counting
    # "Scan parquet" can't distinguish live scans; the InMemoryTableScan
    # per branch is the property that matters)
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_quality_quantile_windows_over_aggregate_only(spark):
    """quality_quantile_filter scale gate: the ranking window must run
    over the (lang, quality)-AGGREGATED frame (bounded by distinct
    rounded scores), never over document rows — a lang-partitioned
    window on the corpus would put a whole language on one task. Also
    the per-lang cutoffs must come back as a broadcast join."""
    import re

    plan = plan_of(spark, "quality_quantile_filter")
    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
    assert specs, "no window in plan"
    for s in specs:
        assert "doc_id#" not in s, f"window over document rows: {s}"
    assert "BroadcastHashJoin" in plan, "cutoffs not broadcast back"


def test_shuffle_shard_order_window_is_shard_partitioned(spark):
    """shuffle_shard_order scale gate: position assignment must window
    per shard (bounded by shard size), never as one global total-order
    row_number."""
    import re

    plan = plan_of(spark, "shuffle_shard_order")
    specs = re.findall(r"windowspecdefinition\((.*?)specifiedwindowframe", plan)
    assert specs, "no window in plan"
    for s in specs:
        assert "shard#" in s, f"global (unpartitioned) row_number window: {s}"


def test_incremental_agg_merge_is_two_level_aggregate(spark):
    """incremental_agg_merge must aggregate each batch to state rows
    BEFORE the merge level — at least the two batch aggregates plus the
    final merge must appear as hash aggregates with partial phases."""
    plan = plan_of(spark, "incremental_agg_merge")
    assert plan.count("HashAggregate") >= 4, plan
    assert "partial" in plan.lower(), plan


def test_q6_all_predicates_reach_scan(spark):
    """TPC-H Q6 is the pushdown litmus test: all three predicate columns
    must appear in PushedFilters and the scan must read only the 4
    referenced columns."""
    plan = plan_of(spark, "q6_forecast_revenue")
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    # 4 columns = 4 type colons + the "ReadSchema:" separator itself
    assert read_schema.count(":") <= 5, read_schema


def test_q19_disjunction_splits_to_both_scans(spark):
    """The OR-of-ANDs predicate spans both join sides; Catalyst must
    derive single-side disjunctions and push them into EACH parquet
    scan (quantity bands → lineitem, brand/size bands → part) while the
    equi-key keeps a hash join — never a nested loop."""
    plan = plan_of(spark, "q19_discounted_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed_blocks = [
        seg.split("\n")[0] for seg in plan.split("PushedFilters")[1:]
    ]
    assert any("l_quantity" in b and "Or(" in b for b in pushed_blocks), pushed_blocks
    assert any("p_brand" in b and "Or(" in b for b in pushed_blocks), pushed_blocks


def test_q4_exists_is_semi_join(spark):
    """Correlated EXISTS must decorrelate to a left-semi (one output row
    per order, no fan-out + dedup)."""
    plan = plan_of(spark, "q4_order_priority")
    assert "LeftSemi" in plan


def test_q18_semi_filter_and_takeordered(spark):
    """The HAVING subquery must semi-filter orders (not inner-join +
    dedup) and the top-100 must be TakeOrdered, not a total sort."""
    plan = plan_of(spark, "q18_large_volume_customer")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_q10_topk_is_takeordered(spark):
    plan = plan_of(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in plan


def test_q22_not_exists_is_anti_join(spark):
    plan = plan_of(spark, "q22_global_sales_opportunity")
    assert "LeftAnti" in plan


def test_duplicate_spans_partition_by_doc(spark):
    """The island-merge windows must partition on doc_id (bounded by one
    document) — never a single-partition window — and duplicated-gram
    membership must be a semi join against the dup fingerprint set."""
    plan = plan_of(spark, "duplicate_span_extents")
    assert "hashpartitioning(doc_id" in plan
    assert "SinglePartition" not in plan
    assert "LeftSemi" in plan


def test_q2_argmin_single_eligible_pass(spark):
    """The decorrelated MIN must be a window over the eligible frame —
    exactly one lineitem scan (a groupBy-min + self-join would scan and
    aggregate it twice) — and the top-100 a TakeOrderedAndProject."""
    plan = plan_of(spark, "q2_min_cost_supplier")
    scans = plan.count("lineitem.parquet")
    assert scans == 1, f"expected 1 lineitem scan, saw {scans}"
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan  # window keys on partkey


def test_q21_semi_then_anti_on_same_fact(spark):
    """EXISTS → left-semi, NOT EXISTS → left-anti, both with the
    different-supplier inequality as a residual on the orderkey
    equi-join — never a nested loop — and top-100 via TakeOrdered."""
    plan = plan_of(spark, "q21_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q20_semi_join_no_fanout(spark):
    """The qualifying-supplier probe must reach supplier as a left-semi
    (IN-subquery), so suppliers are never duplicated by multi-part
    qualification."""
    plan = plan_of(spark, "q20_excess_share_suppliers")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q16_not_in_is_anti_join(spark):
    plan = plan_of(spark, "q16_supplier_part_counts")
    assert "LeftAnti" in plan
    # the size IN-list must reach the part scan
    assert "In(p_size" in plan or "p_size IN" in plan, "size filter not pushed"


def test_q13_outer_join_preserves_zero_customers(spark):
    """The priority exclusion must sit under the outer join (filter on
    the orders side), never above it — a post-join filter would drop
    the zero-order customers the distribution exists to count."""
    plan = plan_of(spark, "q13_customer_order_distribution")
    assert "LeftOuter" in plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters")[1:]]
    assert any("o_orderpriority" in b for b in pushed), pushed


def test_pca_moments_single_pass_arrow_combine(spark):
    """The PCA gram pass must be Arrow-batched (MapInPandas, never
    row-wise Python), reduce map-side (one partial+final agg pair over
    the moment rows — the ONLY exchange), and scan only the embedding
    column. This is the shape that keeps distributed PCA at one corpus
    pass with a d²-row shuffle at 100 TB."""
    import re

    from mapreduce_itwiki_spark.operators import pca
    from mapreduce_itwiki_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    df = pca.moments(emb, checkpoint=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    # exactly one shuffle (the moments groupBy); coalesce adds none
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, flags=re.M))
    assert n_exchange == 1, plan
    n_agg = len(re.findall(r"^\(\d+\) HashAggregate", plan, flags=re.M))
    assert n_agg == 2, plan  # partial + final
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "vec_id" not in read_schema and "label" not in read_schema


def test_feature_hash_partial_aggs_and_no_vocab_join(spark):
    """feature_hash_vectorize is the no-vocabulary vectorizer: ONE
    explode → hash → partial+final agg, no join anywhere (a dictionary
    join is exactly what the hashing trick exists to avoid)."""
    plan = plan_of(spark, "feature_hash_vectorize")
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "Join" not in plan, plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_target_encode_broadcasts_category_stats(spark):
    """target_encode_loo must broadcast the tiny per-category (sum, n)
    frame back — never window over low-cardinality event_type (the
    single-task-per-group scale-killer)."""
    plan = plan_of(spark, "target_encode_loo")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan, plan


def test_ols_trend_windows_by_user_only(spark):
    """ols_trend_per_user: the rank window partitions on
    high-cardinality user_id (bounded tasks), and the fit itself is one
    partial+final agg — no second corpus pass, no join."""
    import re

    plan = plan_of(spark, "ols_trend_per_user")
    assert "Window" in plan
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("user_id" in s for s in win_specs), win_specs
    # exactly one corpus scan: the sufficient-statistics form never
    # rejoins raw events
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans == 1, plan
    assert plan.count("HashAggregate") >= 2


def test_logreg_broadcasts_weights_both_steps(spark):
    """logreg_gd_steps: gradients are partial+final aggs (shuffle
    carries d partial sums) and BOTH weight frames come back as
    broadcasts (the 1-row pivot via BroadcastNestedLoopJoin, the d-row
    frame via BroadcastHashJoin) — no shuffle join against model
    state, no row-wise Python."""
    plan = plan_of(spark, "logreg_gd_steps")
    assert plan.count("HashAggregate") >= 4  # two gradient passes
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_skyline_windows_are_sharded(spark):
    """skyline_pareto_parts: the only doc-level-cardinality window must
    partition by the price shard; the unpartitioned window may run only
    over the tiny per-shard totals (input is an Aggregate). The final
    dominance probe joins the price-group frame back by shuffle and the
    shard offsets by broadcast."""
    import re

    plan = plan_of(spark, "skyline_pareto_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # shard-offset frame
    # every Window over price-level rows names shard in its partition
    # spec; only the per-shard-totals offsets window may omit it
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    unsharded = [s for s in win_specs if "shard" not in s]
    assert len(unsharded) <= 1, win_specs


def test_market_basket_pairs_expand_basket_locally(spark):
    """market_basket_rules: pair generation must be the basket-local
    array expansion (ONE shuffle to per-order item arrays, map-side
    ≤ C(basket,2) fan-out) — never a lineitem self-join (no join on
    l_orderkey anywhere in the plan) and never a cartesian."""
    plan = plan_of(spark, "market_basket_rules")
    assert "CartesianProduct" not in plan
    assert "l_orderkey" in plan  # the basket groupBy key
    # the only joins are the tiny rule↔item-count lookups on pa/pb
    for seg in plan.split("Join")[1:]:
        head = seg.split("\n")[0]
        assert "l_orderkey" not in head, head
    assert plan.count("HashAggregate") >= 6  # baskets, pairs, items


def test_seasonal_anomaly_broadcasts_baseline(spark):
    """seasonal_hour_anomaly: the 24-row hour-of-day baseline comes
    back as a broadcast — never a window over low-cardinality hod."""
    plan = plan_of(spark, "seasonal_hour_anomaly")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan, plan


def test_naive_bayes_windows_by_doc_only(spark):
    """naive_bayes_langid: the only window is the per-document argmax
    (high-cardinality doc_id); the class fan-out and default frame are
    broadcasts; no row-wise Python anywhere."""
    import re

    plan = plan_of(spark, "naive_bayes_langid")
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("doc_id" in s for s in win_specs), win_specs
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_bellman_ford_rounds_are_join_agg_only(spark):
    """weighted_shortest_path: every relaxation round must be an
    equi-join + partial+final MIN agg — no cartesian, no window beyond
    the doc-bounded bigram lead, no Python."""
    import re

    plan = plan_of(spark, "weighted_shortest_path")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 6  # ≥ partial+final × 3 rounds
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert all("doc_id" in s for s in win_specs), win_specs


def test_auc_windows_over_score_groups_only(spark):
    """classifier_auc_eval: the midrank computation may window only
    over the score-group frame — every doc-level stage is an agg, the
    shard offsets come back by broadcast, and at most one window spec
    (the per-shard-totals offsets) omits the shard key."""
    import re

    plan = plan_of(spark, "classifier_auc_eval")
    assert "BroadcastHashJoin" in plan
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    unsharded = [s for s in win_specs if "shard" not in s]
    assert len(unsharded) <= 1, win_specs


def test_pr_curve_windows_over_score_groups_only(spark):
    """classifier_pr_curve: same discipline as the AUC — doc-level
    stages are aggs, windows run only over the score-group frame
    (sharded), offsets and totals come back as broadcasts."""
    import re

    plan = plan_of(spark, "classifier_pr_curve")
    assert "BroadcastHashJoin" in plan
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    unsharded = [s for s in win_specs if "shard" not in s]
    assert len(unsharded) <= 1, win_specs


def test_allpairs_prefix_join_not_cartesian(spark):
    """allpairs_prefix_jaccard: candidates come from the prefix-prefix
    equi-join on the shingle key — never a cartesian — and verification
    is JVM array math (no Python); the per-doc prefix sort is a bounded
    (doc)-keyed aggregate, never a corpus-wide window."""
    plan = plan_of(spark, "allpairs_prefix_jaccard")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 4


def test_chi2_windows_over_vocab_aggregate_only(spark):
    """chi2_feature_selection: the ranking window runs over the
    (lang × vocab) aggregate frame with the rank filter pushed as
    WindowGroupLimit; class margins and the corpus total ride
    broadcasts; the doc-level stages are aggs only."""
    plan = plan_of(spark, "chi2_feature_selection")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_fuzzy_match_blocks_by_variant_join(spark):
    """fuzzy_name_match_dist1: candidates must come from the
    (position, variant) equi-join — never a quadratic name comparison
    (no cartesian, no nested-loop over customer²); verification is the
    JVM levenshtein (no Python)."""
    plan = plan_of(spark, "fuzzy_name_match_dist1")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_ols_residuals_shuffle_on_user_only(spark):
    """ols_residual_metrics: both passes key on high-cardinality
    user_id — the windows are user-partitioned and the model join is an
    equi-join on user_id."""
    import re

    plan = plan_of(spark, "ols_residual_metrics")
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs and all("user_id" in s for s in win_specs), win_specs
    assert "CartesianProduct" not in plan


def test_ecdf_windows_are_sharded(spark):
    """value_quantile_rank: same shard-decomposition gate as the AUC —
    the only unsharded window may be the per-shard-totals offsets; the
    row-level stage is a join back on the value key, never a global
    cume_dist."""
    import re

    plan = plan_of(spark, "value_quantile_rank")
    assert "BroadcastHashJoin" in plan
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    unsharded = [s for s in win_specs if "shard" not in s]
    assert len(unsharded) <= 1, win_specs


def test_ab_test_is_single_scan_agg(spark):
    """ab_test_welch: the whole analysis must be aggs over ONE events
    scan — no window, no join back to row-level data."""
    import re

    plan = plan_of(spark, "ab_test_welch")
    assert "Window" not in plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans == 1, plan
    assert plan.count("HashAggregate") >= 4  # moments + pivot, partial+final


def test_kaplan_meier_windows_are_sharded(spark):
    """kaplan_meier_churn: day-frame windows must partition by the day
    shard; only the per-shard-totals offsets windows may omit it."""
    import re

    plan = plan_of(spark, "kaplan_meier_churn")
    win_specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win_specs, plan
    unsharded = [s for s in win_specs if "shard" not in s]
    assert len(unsharded) <= 2, win_specs  # two offsets frames (churn, term)


def test_bootstrap_is_one_scan_fanout_agg(spark):
    """bootstrap_mean_ci: all B replicates ride ONE events scan as a
    map-side explode — no window, no join, one corpus-sized agg pair."""
    import re

    plan = plan_of(spark, "bootstrap_mean_ci")
    assert "Window" not in plan
    assert "Join" not in plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans == 1, plan


def test_bm25_topk_is_takeordered_with_slim_broadcasts(spark):
    """bm25_topk: top-k must be TakeOrderedAndProject (no global sort),
    the idf/avgdl frames must broadcast, and the only Generate (the
    token explode) must be followed by the pre-shuffle term filter so
    the (doc, term) agg never shuffles the full token stream."""
    plan = plan_of(spark, "bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the term filter sits between the explode and the aggregation:
    # formatted plans list operators in execution order per subtree
    gen = plan.index("Generate")
    assert "Filter" in plan[gen : gen + 400], "term filter not adjacent to explode"


def test_tree_split_windows_only_over_histogram(spark):
    """tree_split_histogram: the corpus-sized stage is ONE partial+final
    histogram agg; every Window must run downstream of it (over the
    bins×features frame), and the per-feature argmax must plan as
    WindowGroupLimit."""
    import re

    plan = plan_of(spark, "tree_split_histogram")
    assert "WindowGroupLimit" in plan
    assert plan.count("HashAggregate") >= 2  # partial+final histogram
    assert "CartesianProduct" not in plan
    # windows downstream of the histogram agg: formatted-plan operator
    # numbers increase leaf → root, so every Window's number must exceed
    # the first (partial) HashAggregate's
    aggs = [int(n) for n in re.findall(r"\((\d+)\) HashAggregate", plan)]
    wins = [int(n) for n in re.findall(r"\((\d+)\) Window", plan)]
    assert aggs and wins and min(wins) > min(aggs)


def test_als_half_step_broadcasts_item_factors(spark):
    """als_half_step: item factors join as a broadcast (never a
    sort-merge of the ratings frame against a dim), and the normal
    equations are ONE five-sum partial+final agg — no per-user Python."""
    plan = plan_of(spark, "als_half_step")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "FlatMapGroupsInPandas" not in plan and "BatchEvalPython" not in plan
    import re

    # one grouped agg carries all five Gram/moment sums together, and
    # the whole solve costs ≤4 shuffles (ratings agg, factors distinct,
    # user agg — plus nothing else)
    assert "sum((y1" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4


def test_contrastive_negatives_fanout_is_map_side(spark):
    """contrastive_negatives: the ×K fan-out must be a Generate
    (explode) with no join multiplying the corpus, and the only cross
    join in the plan is the broadcast 1-row count frame."""
    plan = plan_of(spark, "contrastive_negatives")
    assert "Generate" in plan
    assert "CartesianProduct" not in plan
    import re

    # any BNLJ present must be the single 1-row n_docs cross (its join
    # condition references n_docs), never a data-sized cross
    bnlj = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    if bnlj:
        assert len(bnlj) == 1
        assert "n_docs" in plan


def test_jl_projection_is_shuffle_free(spark):
    """embedding_random_projection: the whole operator must be ONE
    map-side projection over the scan — no Exchange, no Generate, no
    Python eval; this is the property that makes JL the 100 TB
    dimensionality reducer (vs PCA's covariance pass)."""
    import re

    plan = plan_of(spark, "embedding_random_projection")
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "Generate" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_output_reads_checkpoint_not_lineage(spark):
    """kcore_membership: the peeling loop runs at build time; the
    RETURNED frame must read the final round's localCheckpoint (Scan
    ExistingRDD) and aggregate partial+final — never re-execute the
    edge-construction lineage (the connected-components round-3
    lesson: post-checkpoint frames must read the checkpoint)."""
    plan = plan_of(spark, "kcore_membership")
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # lineage truly truncated
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_top_components_is_single_arrow_map_stage(spark):
    """embedding_top_components: ONE Arrow-batched python map over the
    scan — no shuffle, no pandas boxing stage beyond the MapInArrow
    node itself (the within-batch explode emits k rows per vector
    without a Generate or join)."""
    import re

    plan = plan_of(spark, "embedding_top_components")
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "PythonMapInArrow" in plan
    assert not re.findall(r"\(\d+\) Exchange", plan)
    assert "Generate" not in plan


def test_raw_frame_rank_filters_get_partial_group_limit(spark):
    """Rank filters whose window partitions by a LOW-cardinality key
    (lang) over a raw or near-raw frame are only scale-safe because
    WindowGroupLimit runs in Partial mode BELOW the exchange: each map
    task keeps top-k per lang locally, so the per-lang reduce task
    receives ≤ k×tasks rows, never the whole language. Assert the
    map-side half exists — a Final-only plan would funnel every row of
    a language through one task at 100 TB."""
    for name in ("balanced_sample_per_lang", "top_tokens_per_lang"):
        plan = plan_of(spark, name)
        assert "WindowGroupLimit" in plan, name
        assert ", Partial" in plan and ", Final" in plan, name


def test_fanout_skips_exchange_for_prepartitioned_input(spark):
    """fanout (functions/par.py): the explicit repartition before
    signature math exists to decouple parallelism from file splits —
    a few MB of local parquet is 1-2 splits. A 100 TB scan is already
    thousands of splits, so there the full-text exchange is pure cost:
    _fanout must return a well-partitioned input UNCHANGED and still
    fan out a narrow one."""
    from mapreduce_itwiki_spark.functions.par import fanout as _fanout

    n = spark.sparkContext.defaultParallelism
    docs = spark.range(0, 1000).selectExpr(
        "id AS doc_id", "repeat('tok ', 5) AS text"
    )
    wide = docs.repartition(n + 4, "doc_id")
    assert _fanout(wide, "doc_id") is wide  # no Exchange added
    narrow = docs.coalesce(1)
    fanned = _fanout(narrow, "doc_id")
    assert fanned is not narrow
    assert fanned.rdd.getNumPartitions() == max(n, 2)


def test_wiki_linkcount_plans_no_python(spark, tmp_path):
    """The namesake pipeline is JVM-side end to end: the page parse is
    the built-in from_xml, so no Python worker is started for it, and
    the physical plan evaluates that parse once per block."""
    from mapreduce_itwiki_spark.operators.linkgraph import incoming_reference_counts
    from mapreduce_itwiki_spark.sources.xml_pages import read_pages

    p = tmp_path / "pages.xml"
    p.write_text(
        "<mediawiki><page><title>A</title><revision><text>[[B]]</text>"
        "</revision></page></mediawiki>\n",
        encoding="utf-8",
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        incoming_reference_counts(read_pages(spark, str(p))).explain("extended")
    plan = buf.getvalue()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, marker
    assert plan.split("== Physical Plan ==")[1].count("from_xml(") == 1, plan


def test_ann_batch_corpus_scans_independent_of_batch_size(spark):
    """The batch-ANN contract (VERDICT r4 #3): corpus-side work is ONE
    shared pass — the number of parquet scans in the physical plan must
    not grow with the number of queries, the query-side frames must
    ride broadcasts, and the per-query top-k must be a WindowGroupLimit
    heap, never a total sort."""
    from pyspark.sql import functions as F

    from mapreduce_itwiki_spark.operators import similarity
    from mapreduce_itwiki_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")

    def nscans(n_q):
        q = emb.filter(F.col("vec_id") < n_q).select(F.col("vec_id").alias("qid"))
        df = similarity.lsh_batch_topk(emb, q, k=10)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    p2, p64 = nscans(2), nscans(64)
    assert p2.count("Scan parquet") == p64.count("Scan parquet")
    for plan in (p2, p64):
        assert "WindowGroupLimit" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastExchange" in plan

    plan = plan_of(spark, "ann_batch_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ann_batch_pq_scan_is_one_pass(spark):
    """Batch PQ: the ADC tables for all queries ride ONE broadcast into
    the code scan (never a per-query scan), shortlist and re-rank are
    per-qid WindowGroupLimit heaps, and nothing goes cartesian."""
    plan = plan_of(spark, "ann_batch_pq_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_ann_batch_ivf_probe_is_broadcast_and_group_limited(spark):
    """Batch IVF: centroids/probe ride broadcasts (nlist rows), the
    candidate restriction joins the inverted lists once, and both the
    per-query probe argmin and the final per-query top-k run as
    WindowGroupLimit heaps."""
    plan = plan_of(spark, "ann_batch_ivf_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2


def test_ann_sampled_training_filters_before_lloyd(spark):
    """Sampled quantizer training (VERDICT r4 #4): the md5 coin filter
    must sit in the training subtree (the Lloyd round sees ~1/4 of the
    corpus) while the final top-k stays TakeOrderedAndProject and the
    candidate restriction a semi-join — same gates as the full-corpus
    twins."""
    from mapreduce_itwiki_spark.operators import similarity
    from mapreduce_itwiki_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    # the training subtrees (the final query plans hide them behind the
    # lazy localCheckpoint): the md5 coin filter must reach the scan
    # stage of the Lloyd round
    for train in (
        similarity.ivf_centroids(emb, sample_mod=similarity.TRAIN_SAMPLE_MOD),
        similarity.pq_codebooks(
            similarity._pq_sub_rows(emb), sample_mod=similarity.TRAIN_SAMPLE_MOD
        ),
    ):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            train.explain("formatted")
        tplan = buf.getvalue()
        assert "md5" in tplan
        assert "CartesianProduct" not in tplan
    # sampled training is the DEFAULT since r6 (VERDICT r5 #8):
    # ann_ivf_topk / ann_pq_topk are the sampled entries; the
    # *_full_train twins keep the full-corpus training oracle
    for name in ("ann_ivf_topk", "ann_pq_topk", "ann_ivf_full_train",
                 "ann_pq_full_train"):
        plan = plan_of(spark, name)
        assert "TakeOrderedAndProject" in plan, name
        assert "LeftSemi" in plan, name
        assert "CartesianProduct" not in plan, name


def test_ann_index_scan_is_partition_pruned(spark):
    """The persisted-index read (VERDICT r5 #3) must prune to the
    query's probed pkey partitions: the scan shows the literal
    pkey IN-list under PartitionFilters, and the final top-k stays a
    per-partition heap. The probe-then-prune lookup is the entire value
    of ann_index_build — an unpruned read would re-scan all
    2^BAND_BITS·LSH_BANDS partitions per query."""
    plan = plan_of(spark, "ann_index_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ann_index_multiprobe_scan_is_partition_pruned(spark):
    """The multi-probe candidate read (r9) must stay statically pruned:
    the Hamming-1 probe set — own keys plus every one-bit flip,
    generated driver-side — lands as one literal pkey IN-list under
    PartitionFilters (≤ LSH_BANDS·(band_bits+1) directories), and the
    top-k stays a per-partition heap. Widening the probe must never
    degrade to a full index scan."""
    plan = plan_of(spark, "ann_index_multiprobe_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ann_index_probe_scan_is_partition_pruned(spark, tmp_path):
    """The PROBE read of the persisted index (the shard fetch inside
    ann_index_topk / ann_index_batch_topk) must itself be pruned
    (ADVICE r6): the pkeys derived driver-side from the query embedding
    land as a literal IN-list under PartitionFilters, so the probe
    touches ≤ LSH_BANDS of the 2^BAND_BITS·LSH_BANDS directories — the
    old vec_id-only probe scanned them all."""
    from mapreduce_itwiki_spark.operators import similarity
    from mapreduce_itwiki_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "annidx_probe")
    similarity.ann_index_write(emb, path)
    qvec = list(emb.filter("vec_id = 0").select("embedding").take(1)[0].embedding)
    pkeys = similarity.pkeys_py(qvec)
    assert 1 <= len(pkeys) <= similarity.LSH_BANDS
    probe = (
        spark.read.parquet(path)
        .filter(F.col("pkey").isin(pkeys))
        .filter(F.col("vec_id") == 0)
        .select("pkey", "shard")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    # and the probe finds the query's actual band rows
    assert {r.pkey for r in probe.collect()} == set(pkeys)


def test_coverage_reports_never_do_pairwise_work(spark):
    """The cap-coverage monitoring queries (VERDICT r5 #2) must stay
    runnable on the full corpus: pure aggregation rollups — no
    self-joins of band/prefix rows (no pairwise candidate generation),
    no cartesian products, no Python workers. minhash_coverage_report
    (ADVICE r6 — previously ungated) legitimately JOINS band rows back
    to their per-bucket counts on the aggregation keys (fan-out 1, not
    pairwise), so for it only the cartesian/Python assertions apply."""
    for name in (
        "ann_lsh_coverage_report",
        "allpairs_coverage_report",
        "minhash_coverage_report",
        "semdedup_coverage_report",
    ):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        if name != "minhash_coverage_report":
            assert "SortMergeJoin" not in plan, name


def test_ann_index_batch_scan_is_partition_pruned(spark):
    """The batch index lookup must keep the literal pkey IN-list on the
    candidate scan (one pruned scan for the whole query batch) and rank
    per-qid top-k as WindowGroupLimit."""
    plan = plan_of(spark, "ann_index_batch_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ivf_index_scan_is_partition_pruned(spark):
    """The persisted IVF lists must be read with cid partition pruning
    (the nprobe cells only) and the top-k must stay a per-partition
    heap."""
    plan = plan_of(spark, "ann_ivf_index_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "cid" in pf, pf
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_minhash_index_probe_is_pruned_and_broadcast(spark, tmp_path):
    """The persisted near-dup index probe must show the three scale
    properties its docstring claims: (a) the index scan is partition-
    pruned by the batch-derived pkey IN-list, (b) the frozen hot-bucket
    ceiling is a PUSHED ``bsz`` predicate (no corpus-wide window at
    probe time), and (c) the batch side is broadcast — no shuffle, sort
    or cartesian of corpus band rows."""
    from mapreduce_itwiki_spark.operators import dedup
    from mapreduce_itwiki_spark.sources.parquet import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    path = str(tmp_path / "mhidx")
    dedup.minhash_index_write(docs.filter(F.col("doc_id") < 250), path)
    cands = dedup.neardup_candidates_against_index(
        spark, path, docs.filter(F.col("doc_id") >= 250)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cands.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and ("INSET" in pf or "IN" in pf), pf
    assert "LessThanOrEqual(bsz" in plan, plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_index_append_count_read_is_pruned(spark, tmp_path):
    """The only index-side read in ann_index_append — the per-bucket
    occupancy count — must be partition-pruned by the batch's pkey
    IN-list AND column-pruned to the two grouping keys (never the
    embeddings). Reconstructs the operator's oldc read the way
    test_ann_index_probe_scan_is_partition_pruned reconstructs the
    probe."""
    from mapreduce_itwiki_spark.operators import similarity
    from mapreduce_itwiki_spark.sources.parquet import load_table

    emb = load_table(spark, SF_SMALL, "embeddings")
    path = str(tmp_path / "ann_append_prune")
    similarity.ann_index_write(emb.filter("vec_id < 300"), path)
    batch = emb.filter("vec_id >= 300 and vec_id < 310")
    pkeys = sorted(
        {
            f"{b}_{k}"
            for r in batch.select("embedding").collect()
            for b, k in enumerate(similarity.band_keys_py(list(r.embedding)))
        }
    )
    oldc = (
        spark.read.parquet(path)
        .filter(F.col("pkey").isin(pkeys))
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("oc"))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oldc.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    rs = plan.split("ReadSchema")[1].split("\n")[0]
    assert "embedding" not in rs, rs  # column pruning: keys only


def test_semdedup_pairwise_is_cluster_grouped_arrow_kernel(spark):
    """semdedup_prune's pairwise stage must be the blocked numpy kernel
    grouped by (cid, shard) — FlatMapGroupsInPandas, no cartesian
    product, no corpus×corpus join; the quantizer's full-corpus scan is
    cut by the localCheckpoint so training never re-executes per
    consumer branch."""
    plan = plan_of(spark, "semdedup_prune")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_scan_is_pruned_and_rerank_is_takeordered(spark):
    """The IVF-PQ composite must show both halves of its story in the
    plan: the PQ encode/ADC work sits behind the probed-cells semi-join
    (LeftSemi — at scale: cid partition pruning over the code table),
    the ADC table and codebooks ride broadcasts, and both the shortlist
    and the final top-k are TakeOrderedAndProject — never a full
    sort."""
    plan = plan_of(spark, "ann_ivfpq_topk")
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_index_code_scan_is_pruned_and_embedding_free(spark):
    """The persisted IVF-PQ query (VERDICT r7 #1) must prove both
    claims in the plan: (a) the code-table scan carries the probed-cell
    literal cid IN-list under PartitionFilters (static partition
    pruning over PQ_M-byte rows), and (b) that scan's ReadSchema holds
    only (vec_id, codes) — the float embedding column is structurally
    absent from the compressed table, so the ADC stage can never read
    it. Embeddings appear only in the corpus scans (query fetch +
    rerank semi-join). Shortlist and final top-k stay TakeOrdered."""
    plan = plan_of(spark, "ann_ivfpq_index_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "cid" in pf and "IN" in pf, pf
    # the scan section that reads `codes` must not read embeddings
    for section in plan.split("Scan parquet")[1:]:
        schema = section.split("ReadSchema")[1].split("\n")[0] if "ReadSchema" in section else ""
        if "codes" in schema:
            assert "embedding" not in schema, schema
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tuned_index_scan_is_partition_pruned(spark):
    """The non-default-geometry index lookup (VERDICT r7 #2) keeps the
    probe-then-prune shape: the 6-bit pkey IN-list lands under
    PartitionFilters and the top-k stays a per-partition heap —
    retuning the band width changes WHICH partitions prune, never
    WHETHER they do."""
    plan = plan_of(spark, "ann_index_tuned_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_probe_coverage_report_is_pruned_and_pairwise_free(spark):
    """The PROBE_CAP monitor must cost what the probe it monitors
    costs: the index read carries the batch-derived pkey IN-list under
    PartitionFilters (plus the pushed shard = 0 screen), the batch band
    rows ride a broadcast, and no cosine/pairwise math appears — counts
    only."""
    plan = plan_of(spark, "ann_probe_coverage_report")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "pkey" in pf and "IN" in pf, pf
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ivfpq_index_batch_scan_is_pruned(spark):
    """The persisted-IVFPQ batch lookup keeps the whole-batch pruning
    contract: the code-table read carries the literal cid IN-list
    (union of every query's probed cells) under PartitionFilters, the
    ADC table rides a broadcast, and no cartesian appears."""
    plan = plan_of(spark, "ann_ivfpq_index_batch_topk")
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("\n")[0]
    assert "cid" in pf and "IN" in pf, pf
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
