"""Physical-plan shape assertions — the scale contract, enforced.

Correctness says the answer is right; these say the *plan* is the one
that survives 100x data: dimensions broadcast, filters pushed to the
parquet scan, partition pruning at the file listing, whole-stage
codegen covering the hot expressions.
"""

from __future__ import annotations

from velib_lakehouse_spark import registry
from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_dim_joins_are_broadcast(spark):
    plan = _plan(registry.QUERIES["join_broadcast_chain"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_join_strategies(spark):
    semi = _plan(registry.QUERIES["semi_orders_with_lines"](spark, SF_DIR))
    anti = _plan(registry.QUERIES["anti_parts_never_ordered"](spark, SF_DIR))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_sparkline_is_one_station_pass(spark):
    """``velib_sparkline`` is a projection of ``station_summary``: one
    ``events`` scan and one Exchange, hashed on the station, feeding
    both the ``row_number`` window and the ``groupBy``, with no join of
    any kind (so no shuffled SortMergeJoin as ``events`` grows)."""
    plan = _plan(registry.QUERIES["velib_sparkline"](spark, SF_DIR))
    assert plan.count("Exchange") == 1
    assert "Exchange hashpartitioning(station_code#" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("FileScan") == 1
    assert "/events.parquet" in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _formatted(registry.QUERIES["tpch_q1_pricing"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_reads_only_needed_columns(spark):
    plan = _formatted(registry.QUERIES["distinct_pairs"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "o_orderstatus" in read_schema and "o_orderpriority" in read_schema
    assert "o_totalprice" not in read_schema


def test_lake_read_partition_prunes(spark, tmp_path):
    """A ``domain`` read of a log table opens only the retained
    partitions' files: every input file sits under a kept ``part=``
    directory, and there are fewer of them than the table's live files."""
    from velib_lakehouse_spark.catalog import load_table
    from velib_lakehouse_spark.sources.lake import PRUNE_CUTOFF
    from velib_lakehouse_spark.sources.snapshots import (
        commit_stream_batch,
        live_files,
        read_table,
    )
    from velib_lakehouse_spark.streaming.silver import (
        SILVER_SCHEMA,
        silver_transform,
    )

    table = str(tmp_path / "silver")
    silver = silver_transform(load_table(spark, SF_DIR, "events"))
    commit_stream_batch(table, "load", 0, silver, "date")
    dates = {part for _, part in live_files(table)}
    kept = {d for d in dates if d >= PRUNE_CUTOFF}
    assert 0 < len(kept) < len(dates)

    pruned = read_table(spark, table, SILVER_SCHEMA, domain=kept).inputFiles()
    live = read_table(spark, table, SILVER_SCHEMA).inputFiles()
    assert pruned
    assert all(f.split("/part=")[1].split("/")[0] in kept for f in pruned)
    assert len(pruned) < len(live)


def test_history_windows_share_one_shuffle(spark):
    """net_flow (lag) and moving_avg_1h (range frame) partition on the
    same key: Catalyst must plan exactly one Exchange feeding both
    Window operators — the property that keeps the history enrichment a
    single-shuffle job at any scale."""
    df = registry.QUERIES["velib_history_enrich"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange") == 1
    assert plan.count("Window") == 2


def test_whole_stage_codegen_covers_agg(spark):
    df = registry.QUERIES["tpch_q1_pricing"](spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )
    assert "WholeStageCodegen" in plan


def test_quality_classifier_is_shuffle_free(spark):
    """The classifier must stay a single map-side codegen projection —
    any Exchange in its plan means a feature accidentally aggregates."""
    plan = _plan(registry.QUERIES["quality_classifier_score"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_event_funnel_pushes_type_filters_to_scan(spark):
    plan = _formatted(registry.QUERIES["event_funnel"](spark, SF_DIR))
    pushed = plan.split("PushedFilters")
    assert len(pushed) > 1
    assert any("event_type" in seg[:300] for seg in pushed[1:])


def test_banded_lsh_has_no_cartesian(spark):
    """Candidate generation must stay an equality join on
    (band, bucket) — a CartesianProduct or non-broadcast nested loop
    means the banding degenerated to all-pairs."""
    plan = _plan(registry.QUERIES["ann_banded_lsh_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_inverted_index_salted_window_bounds_partitions(spark):
    """Both min-K stages must appear (salted then final): two Window
    operators, with WindowGroupLimit pushdown on each."""
    plan = _plan(registry.QUERIES["inverted_index"](spark, SF_DIR))
    assert plan.count("Window [") >= 2
    assert plan.count("WindowGroupLimit") >= 2


def test_zipf_topn_gets_window_group_limit(spark):
    plan = _plan(registry.QUERIES["zipf_slope_audit"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_semdedup_assignment_is_map_side(spark):
    """Cluster assignment must be the inlined-centroid argmin (no join,
    no window) and pairing must be a cid-keyed equality join — never a
    cartesian product over the corpus."""
    plan = _plan(registry.QUERIES["semdedup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_curriculum_has_no_corpus_sized_global_window(spark):
    """The only partition-less window runs over DISTINCT cost values
    (grid-bounded); it must sit above an aggregate, so the corpus
    itself is never pulled to one partition."""
    plan = _plan(registry.QUERIES["curriculum_phases"](spark, SF_DIR))
    assert plan.count("Window") <= 2  # cum-sum (+reuse), nothing else
    assert "HashAggregate" in plan


def test_unpivot_compiles_to_expand(spark):
    """The melt must be the native Expand node (map-side row fan-out),
    not a union of per-column scans."""
    plan = _plan(registry.QUERIES["unpivot_metrics"](spark, SF_DIR))
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_dynamic_partition_pruning_on_join(spark, tmp_path):
    """Joining a date-partitioned fact against a filtered dim on the
    partition column must insert DynamicPruningExpression — partition
    pruning driven by the JOIN at runtime, the file-skipping feature a
    date-partitioned 100 TB silver table lives on."""
    from pyspark.sql import functions as F

    base = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "date", F.to_date("ts")
    )
    fact_dir = str(tmp_path / "fact")
    dim_dir = str(tmp_path / "dim")
    base.write.mode("overwrite").partitionBy("date").parquet(fact_dir)
    base.select("date").distinct().withColumn(
        "tag", F.expr("day(date) % 7")
    ).write.mode("overwrite").parquet(dim_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).filter("tag = 1")
    plan = _plan(fact.join(dim, "date").groupBy("tag").count())
    assert "dynamicpruning" in plan.lower()


def test_runtime_bloom_filter_prunes_join_probe_side(spark):
    """With a selective build side and a shuffled join, the runtime
    bloom filter must appear on the probe side (might_contain), cutting
    shuffled probe rows before the join — the row-level analogue of
    DPP.  Thresholds are tuned down because the fixture is small; on a
    cluster the defaults (10 GB probe side) gate it to genuinely large
    scans."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            "o_totalprice > 350000"
        )
        plan = _plan(
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        assert "bloomfilter" in plan.lower() or "might_contain" in plan.lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_arrow_batch_stats_is_shuffle_free(spark):
    """mapInArrow must pipeline inside the scan stage — an Exchange
    means the Arrow boundary accidentally repartitioned."""
    plan = _plan(registry.QUERIES["arrow_batch_stats"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInArrow" in plan or "PythonMapInArrow" in plan


def test_winnow_single_exchange(spark):
    """Winnowing's window, distinct, and rollup must all reuse the one
    doc_id hash partitioning — a second exchange would mean the packed
    keys reshuffle between stages."""
    plan = _plan(registry.QUERIES["winnow_fingerprints"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_snm_window_join_is_equi_not_range(spark):
    """Sorted-neighborhood pairing must plan the PAIR join as a keyed
    equi join on (block, rank) — a range predicate would force the
    corpus through a nested loop.  (The 3-row gaps fan-out is a
    broadcast nested loop BY DESIGN — tiny constant side, like every
    broadcast-scalar crossJoin in the repo — so it is allowed.)"""
    plan = _plan(registry.QUERIES["sorted_neighborhood_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    # the keyed pair join exists (any hash/merge strategy qualifies)
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_bloom_bitset_and_eval_set_broadcast(spark):
    """The Bloom set-bits table (<= m rows) and the eval shingle set
    must broadcast into the probe stream.  (The final per-doc rollup
    joins on doc_id may plan as SMJ depending on cached-stats state —
    that shuffle is key-bounded and correct at scale, so it is not
    constrained here.)"""
    plan = _plan(registry.QUERIES["bloom_membership_audit"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_salted_join_is_shuffled_and_spread(spark):
    """skew_salted_join exists to pin the shuffled-join shape with the
    composite (key, salt) — a broadcast would silently hide the
    technique, and the join keys must carry the salt."""
    plan = _plan(registry.QUERIES["skew_salted_join"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    join_line = next(l for l in plan.splitlines() if "ShuffledHashJoin" in l)
    assert "salt" in join_line and "user_id" in join_line


def test_file_skipping_scan_carries_partition_filter(spark):
    """The qualifying-slice list must reach the file listing as a
    partition filter (files skipped, not read-and-dropped)."""
    plan = _plan(registry.QUERIES["lake_file_skipping"](spark, SF_DIR))
    scan_lines = [
        l for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters" in l
    ]
    assert any(
        "slice" in l.split("PartitionFilters", 1)[1][:200] for l in scan_lines
    ), f"no slice PartitionFilter in: {scan_lines}"


# ---- Unpartitioned-window audit (VERDICT r4 #2) -----------------------

# Unpartitioned Window operators pull their whole input through ONE
# task — acceptable only when the input frame is bounded by
# construction (a bucket/vocabulary/path-catalog aggregate), never over
# an entity-cardinality frame (customers, documents, events).  Every
# exemption here names the bounded frame and caps its node count;
# every other registered query must have zero partition-less Window
# nodes (checked per query in tests/test_oracle_parity.py).  Each cap
# is the count measured at sf0.001, windows inside persisted subplans
# included, so a new global window fails.
BOUNDED_UNPARTITIONED_WINDOWS = {
    # offsets running-sums over RFM_RANK_BUCKETS(=32)-row bucket-count
    # frames, one Window node per _two_phase_global_tile call, three
    # calls; each call persists its input (the previous call's output),
    # so the first two calls' windows sit in cached relations
    "rfm_segmentation": 3,
    # offsets over the per-month count frame (~#months rows)
    "global_enumerate_rows": 1,
    # documented vocabulary/catalog-bounded frames (VERDICT r4 #3:
    # monitored, not blocked — all sit above aggregates)
    "vocab_coverage": 2,
    "event_path_mining": 1,
    "curriculum_phases": 1,
    # cum-count walks over the 64-bin histogram and the distinct-price
    # frame (value-range-bounded; docstring: audit-only exact pass)
    "histogram_quantile_audit": 3,
    # cumulative walk over the APCT_BUCKETS(=1024)-row bucket grid —
    # the bounded phase-1 frame of the exact rank selection (phase 2's
    # window is bucket-partitioned and not counted).  Counted 2x: the
    # `chosen` subtree (which embeds the walk) feeds both the
    # bucket-membership semi-join and the final rank join, and this
    # audit walks the tree, so the shared branch is visited twice.
    "approx_percentile_parity_audit": 2,
    # ranked walk over the per-source count frame (source-cardinality-
    # bounded, sits above an aggregate — the Gini index is a statistic
    # of the source distribution, not of rows)
    "source_concentration_gini": 1,
    # r8 rotation brought these into the audited window: global
    # normalizing sums over the LANGUAGE INVENTORY (rows = n_languages;
    # the docstrings call the single-partition window out as the
    # no-rescan alternative to a broadcast-agg pass)
    "corpus_mix_temperature": 2,
    "corpus_mix_apply": 2,
    # global CDF cumsum over the fixed DRIFT_BUCKETS grid (64 rows)
    "source_drift_ks": 1,
    # r9 rotation brought these into the audited window:
    # vocabulary ranking (Zipf-bounded, above the word-count aggregate;
    # docstring names ordered bucketing as the extreme-scale successor)
    "export_tokenized_sequences": 1,
    # three bounded windows: the dense top-k row_number carries a
    # rank<=20 predicate Spark pushes as WindowGroupLimit (partial
    # top-k per input partition before the single-partition finish);
    # the lexical re-rank runs over bm25_rank's LIMIT-20 output; the
    # fused re-rank over the <=40-row full-outer union of both lists
    "hybrid_rank_fusion": 3,
    # count-of-counts cumulative walk over DISTINCT per-key
    # multiplicity values (value-range-bounded; the corpus-sized
    # per-key rank window it replaced was rewritten this round)
    "join_skew_audit": 1,
    # gold's own alert transform (pipeline.build_alerts): the 4 h
    # cutoff's max over the latest rows, at most one per station, after
    # coalesce(1); test_pipeline.py::test_gold_is_one_pass_over_silver
    # pins the same window in gold
    "velib_alerts": 1,
}


def _unpartitioned_window_count(df) -> int:
    """Partition-less Window nodes in the optimized plan, including those
    inside cached relations (a ``persist()`` in the query).  A cached
    relation is entered once per distinct cache, since it is computed
    once, through its physical plan: there a nested cache is again an
    in-memory scan rather than the inlined plan it caches."""
    jvm = df.sparkSession._jvm
    stack, n, seen = [df._jdf.queryExecution().optimizedPlan()], 0, set()
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind in ("Window", "WindowExec") and node.partitionSpec().isEmpty():
            n += 1
        if kind == "InMemoryTableScanExec":
            node = node.relation()
            kind = "InMemoryRelation"
        if kind == "InMemoryRelation":
            builder = node.cacheBuilder()
            key = jvm.System.identityHashCode(builder)
            if key not in seen:
                seen.add(key)
                stack.append(builder.cachedPlan())
            continue
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.inputPlan())
            continue
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    return n


def test_priority_sample_uses_take_ordered(spark):
    """The sample + tau must come from a map-side partial top-K
    (TakeOrderedAndProject), never a global sort — the one-pass
    distributed sampler contract."""
    plan = _plan(
        registry.QUERIES["priority_sample_subset_sum"](spark, SF_DIR)
    )
    assert "TakeOrderedAndProject" in plan
    # a global Sort outside TakeOrdered would mean the limit pushdown
    # regressed into a full-corpus sort
    assert "Sort [prio_milli" not in plan


def test_srp_hamming_candidates_stay_equi_join(spark):
    """Candidate generation must be the (band, bucket) equality join on
    bit-sliced signatures — no CartesianProduct (all-pairs) and no
    re-projection of the plane dots per band (the signature fold
    appears once per scan branch, not once per band)."""
    plan = _plan(registry.QUERIES["srp_hamming_topk_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_qmr_windows_are_partitioned_and_bounded(spark):
    """Every window in the quantile rollup is partitioned (by prio) —
    the generic unpartitioned-window audit covers the budget, this
    pins the positive shape: the estimate path reads the merged
    bin-count frame, not the raw rows."""
    df = registry.QUERIES["quantile_sketch_merge_rollup"](spark, SF_DIR)
    jplan = df._jdf.queryExecution().optimizedPlan()
    stack, n_part, n_unpart = [jplan], 0, 0
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Window":
            if node.partitionSpec().isEmpty():
                n_unpart += 1
            else:
                n_part += 1
        kids = node.children()
        for i in range(kids.size()):
            stack.append(kids.apply(i))
    assert n_unpart == 0
    assert n_part >= 2  # merged-bin cumulative + exact-value cumulative


def test_mg_summary_stays_broadcast_and_top_k(spark):
    """Misra-Gries: everything downstream of the (shard, word) count is
    |shards| x K-bounded — the per-shard thresholds, the summary, and
    the bounds frame must all join back by BROADCAST, the global
    top-(K+1) must be a map-side partial top-K, and no all-pairs shape
    may appear (the scalar combines are broadcast-tiny crossJoins)."""
    plan = _plan(registry.QUERIES["heavy_hitters_mg_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_mor_delete_files_apply_as_broadcast_anti_joins(spark):
    """Merge-on-read contract: the base scan is never rewritten and the
    delete files apply as BROADCAST anti/semi joins (the MoR premise is
    |deletes| << |base|); an SMJ here would mean the planner shuffled
    the full base table to apply a small delete set."""
    plan = _plan(registry.QUERIES["merge_on_read_deletes"](spark, SF_DIR))
    assert "LeftAnti" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mta_touch_join_is_keyed_not_cartesian(spark):
    """The purchases x touches lookback join must keep user_id as an
    equality key (hash/merge join with the time band as a post-filter),
    never degrade to a cartesian/nested-loop all-pairs over two
    fact-sized inputs."""
    plan = _plan(registry.QUERIES["multitouch_attribution"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_wq_probe_joins_stay_keyed(spark):
    """Weighted quantiles: the cumulative table is (lang, value)-keyed
    and the probe joins keep the lang equality key; windows are
    partitioned by lang (generic unpartitioned-window audit covers the
    budget)."""
    plan = _plan(registry.QUERIES["weighted_quantiles_exact"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dimsum_pair_join_is_doc_keyed_and_panel_broadcast(spark):
    """DIMSUM's pair generation must be the doc_id-keyed self-join of
    the panel-filtered count table (fan-out bounded by C(PANEL, 2) per
    doc), with the panel+norm frame BROADCAST — no cartesian shape, no
    shuffle of the raw count table against itself beyond the doc key."""
    plan = _plan(registry.QUERIES["dimsum_cosine_estimate"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pjs_stats_passes_stay_keyed(spark):
    """Partition join-size audit: statistics and the exact side run as
    keyed aggregations/joins; the 2 x B-row stats frames and the
    B-row median frame join back by broadcast — no all-pairs shape."""
    plan = _plan(registry.QUERIES["partition_join_size_audit"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivm_join_delta_terms_are_keyed_joins(spark):
    """Every IVM delta term joins on the order key — no cartesian
    shape; the delta filters must reach the scans (pushed, so dA|><|B
    reads only delta rows on the build side)."""
    df = registry.QUERIES["ivm_join_view_delta"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
