"""Empty-input hardening: every core operator must run (not raise) on
0-row tables with the production schemas.

At 100 TB, empty inputs are routine — a partition-pruned read that
matches nothing, a fresh date partition, a quiet ingestion tick.  An
operator that NPEs or divides by zero on an empty frame takes the whole
pipeline run down; this pins the contract that empty in = empty (or
well-defined aggregate) out.
"""

from __future__ import annotations

import pytest

from velib_lakehouse_spark import registry
from tests.conftest import SF_DIR

# empty in -> empty out
EMPTY_TO_EMPTY = [
    "velib_silver_parse",
    "velib_history_enrich",
    "velib_dedup_latest",
    "velib_alerts",
    "velib_sparkline",
    "velib_enrich_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_incremental_minhash",
    "dedup_embedding_cosine",
    "simhash_sketch",
    "text_stats",
    "token_count",
    "repetition_stats",
    "sessionize_events",
    "pack_sequences",
    "export_shuffled_shards",
    "stratified_split",
    "deterministic_sample",
    "decontaminate_ngram",
    "corpus_composition",
    "tpch_q1_pricing",
    "topn_orders_per_customer",
    "collect_ordered_quantities",
    # round-3 additions
    "dedup_canonicalize",
    "ngram_novelty",
    "corpus_mix_temperature",
    "corpus_mix_apply",
    "dsir_importance_weights",
    "inverted_index",
    "hybrid_rank_fusion",
    "quality_classifier_score",
    "zipf_slope_audit",
    "split_leakage_audit",
    "bpe_merge_step",
    "ann_banded_lsh_topk",
    "ann_recall_audit",
    "ann_banded_recall_audit",
    "embedding_outliers",
    "event_funnel",
    "retention_cohorts",
    # this session's additions
    "semdedup",
    "curriculum_phases",
    "contrastive_triplets",
    "decontaminate_embedding",
    "event_path_mining",
    "minhash_estimate_audit",
    "arrow_batch_stats",
    "unpivot_metrics",
    "grouping_sets_orders",
    "variant_shred_stats",
    "full_outer_activity_reconcile",
    "e2e_curation_report",
    "lake_retention_sweep",
    "csv_roundtrip_scan",
    # round-8 additions: the growth batch on 0-row tables (no signature
    # rows, no sketches, no graph nodes, no live rows to compact)
    "dedup_weighted_minhash",
    "theta_sketch_set_algebra",
    "ann_graph_beam_audit",
    "compaction_execute",
    # round-9 additions: no candidate pairs, no vocabulary to merge, no
    # rows for the racing writers to stage
    "dedup_weighted_minhash_capped",
    "dedup_icws_weighted_minhash",
    "bpe_train_merges",
    "bpe_encode_tokens",
    "snapshot_concurrent_commit",
    # round-10 additions: no micro-batches to commit, nothing to
    # compact, no candidate pairs, no vocabulary, no graph, no days of
    # activity, nothing to clone or fingerprint
    "streaming_txn_sink",
    "snapshot_optimize_transactional",
    "dedup_icws_capped",
    "bpe_train_merges_batched",
    "bfs_hop_levels",
    "hll_sliding_distinct",
    "snapshot_shallow_clone",
    "wordpiece_train_merges",
    "bigram_perplexity_filter",
    "multimodal_image_phash_neardup",
    "connected_components_star",
]
# empty in -> a defined aggregate row (global aggregates)
EMPTY_TO_AGG = ["velib_alert_bands", "velib_health"]


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("t_empty_sf"))
    from velib_lakehouse_spark.catalog import TABLES, load_table

    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


@pytest.mark.parametrize("name", EMPTY_TO_EMPTY)
def test_empty_input_yields_empty_output(spark, empty_sf_dir, name):
    assert registry.QUERIES[name](spark, empty_sf_dir).count() == 0


@pytest.mark.parametrize("name", EMPTY_TO_AGG)
def test_empty_input_yields_defined_aggregate(spark, empty_sf_dir, name):
    rows = registry.QUERIES[name](spark, empty_sf_dir).collect()
    assert len(rows) == 1


def test_empty_health_counts_zero(spark, empty_sf_dir):
    """The station roll-up keeps the empty-lake answer: no events and no
    active stations, not NULLs."""
    (row,) = registry.QUERIES["velib_health"](spark, empty_sf_dir).collect()
    assert row.n_events == 0
    assert row.active_stations == 0
