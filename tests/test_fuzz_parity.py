"""Randomized differential parity: the fixed fixtures can only prove
the operators right on one dataset; these generate adversarial corpora
(heavy duplication, shared shingles, degenerate docs) and re-run the
Spark-vs-DuckDB comparison on them.

Also pins that the per-document text operators stay linear: a single
giant document must process in bounded time (an accidentally quadratic
nested-lambda would time out the suite).
"""

from __future__ import annotations


import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import TABLES, load_table
from tests.conftest import SF_DIR
from tests.oracle_harness import compare

VOCAB = ["alpha", "beta", "gamma", "delta", "x", "y", "row", "scan", "the"]

docs_strategy = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=0, max_size=12).map(" ".join),
    min_size=1,
    max_size=25,
)

FUZZED_QUERIES = [
    "dedup_exact",
    "dedup_ngram_jaccard",
    "token_count",
    "repetition_stats",
    "doc_fingerprint",
    "stratified_split",
    "gopher_quality_filter",
    "tfidf_top_terms",
    "vocab_coverage",
    "unigram_logprob_score",
    "corpus_quality_report",
    "bm25_rank",
    "lang_id_heuristic",
    "simhash_sketch",
    "dedup_minhash_lsh",
    "text_stats",
    "text_clean_redact",
    "quality_topk_mix",
    "decontaminate_ngram",
    "pack_sequences",
    "export_shuffled_shards",
    "corpus_composition",
    "dedup_clusters",
    "source_drift_ks",
    "dedup_containment",
    "lang_consistency_audit",
    "chunk_documents",
    "dedup_chunks",
    "length_quantiles_by_source",
    "bigram_lm_top",
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
    "pmi_collocations",
    "corpus_profile",
    "export_tokenized_sequences",
    "weighted_sample_topk",
    "curriculum_phases",
    "minhash_estimate_audit",
    "arrow_batch_stats",
    "e2e_curation_report",
    # round-4 additions
    "rake_keyphrases",
    "winnow_fingerprints",
    "hll_distinct_audit",
    "bloom_membership_audit",
    "ppjoin_prefix_candidates",
    "sorted_neighborhood_pairs",
    "compaction_binpack_plan",
    "multimodal_audio_window_stats",
    # late round-4 additions
    "dup_span_removal",
    "chunk_cdc",
    "multimodal_image_ahash_neardup",
    "hll_merge_rollup",
    # round-6 additions: the DAG's lineage arithmetic over random
    # corpora (dup groups, eval collisions, short docs all fuzzed)
    "curation_dag_lineage",
    # round-6 second batch: register max-merge + inclusion-exclusion
    # must hold on corpora with empty/identical/disjoint source vocabs
    "hll_set_overlap_audit",
    # round-7: the priority-sampling estimator must stay exact-side
    # correct and boundary-safe (corpus <= K -> tau = 0 -> est exact)
    # on degenerate corpora: all-empty docs, single language, heavy dups
    "priority_sample_subset_sum",
    # round-7 second batch: the MG prune/merge arithmetic must hold on
    # corpora with fewer than K distinct words per shard (t = 0 paths),
    # all-duplicate streams, and empty shards; the weighted-quantile
    # cumulative walk on tied values and zero-token docs
    "heavy_hitters_mg_audit",
    "weighted_quantiles_exact",
    # DIMSUM: every sampling decision is md5-thresholded, so random
    # corpora (norm ties, single-doc panels, all-light pairs p = 1)
    # must reproduce bit-exactly across engines
    "dimsum_cosine_estimate",
    # round-8: the weighted-Jaccard replica expansion on heavy-dup and
    # zero-word corpora (reflexive-join constants, disjoint-term pairs);
    # KMV bottom-K on sources whose shingle sets are empty, identical,
    # or below K (exact-mode theta = S sentinel paths)
    "dedup_weighted_minhash",
    "theta_sketch_set_algebra",
    # round-9: ICWS on random corpora — idf boundary cases (term in
    # every doc -> idf_q = 1), single-term docs, heavy dups (reflexive
    # constants), and the engine-vs-DuckDB double argmin agreement the
    # estimator rides on; the capped consumer's rank determinism on
    # tied weighted-Jaccard values; BPE's merge decisions on corpora
    # with 1-char words, all-identical words, and zero-pair stages
    "dedup_icws_weighted_minhash",
    "dedup_weighted_minhash_capped",
    "bpe_train_merges",
    "bpe_encode_tokens",
]


@pytest.fixture(scope="module")
def fuzz_base_dir(spark, tmp_path_factory):
    """All tables empty; each example overwrites documents.parquet."""
    out = str(tmp_path_factory.mktemp("t_fuzz_sf"))
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


@given(texts=docs_strategy)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_corpus_matches_oracle(spark, fuzz_base_dir, texts):
    rows = [
        (i, t, ["en", "fr"][i % 2], "src%d" % (i % 3), len(t))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{fuzz_base_dir}/documents.parquet"
    )
    # Operators persist() reused frames with a documented cache lifetime
    # of "one bounded session / clearCache() between jobs"; each example
    # rewrites the same path, so honor that contract here or the
    # CacheManager plan-matches a stale cached relation.
    spark.catalog.clearCache()
    for name in FUZZED_QUERIES:
        problems = compare(
            registry.QUERIES[name](spark, fuzz_base_dir),
            registry.ORACLE[name],
            fuzz_base_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)


def test_giant_document_stays_linear(spark, fuzz_base_dir):
    """A 50k-word document through the sketch/stat operators: completes
    quickly (linear) and produces sane values."""
    words = " ".join(VOCAB[i % len(VOCAB)] for i in range(50_000))
    spark.createDataFrame(
        [(0, words, "en", "src0", len(words))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{fuzz_base_dir}/documents.parquet")
    spark.catalog.clearCache()  # same stale-cache contract as the doc fuzz

    rep = registry.QUERIES["repetition_stats"](spark, fuzz_base_dir).collect()
    assert rep[0].n_words == 50_000
    assert rep[0].n_distinct_words == len(VOCAB)

    sim = registry.QUERIES["simhash_sketch"](spark, fuzz_base_dir).collect()
    assert len(sim) == 1 and sim[0].simhash > 0

    tok = registry.QUERIES["token_count"](spark, fuzz_base_dir).collect()
    assert tok[0].ws_tokens == 50_000


# ---- streaming surface fuzz (VERDICT r2 next-round #6) ---------------------
#
# Randomized event sets (duplicate (user, ts) pairs, bursty/sparse gaps,
# ties at window edges) are streamed through the watermarked operators
# and diffed against the same DuckDB oracles the driver uses.  The
# streaming source needs a single FILE named events.parquet (the glob
# contract), so each example writes one and shares a dir of empty
# sibling tables.

STREAMING_FUZZED = [
    "streaming_windowed_counts",
    "streaming_dedup",
    "streaming_session_windows",
    "streaming_stateful_enumerate",
    "streaming_static_enrich",
]

_BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z

events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # user_id
        st.integers(min_value=0, max_value=7_200),  # ts offset (s)
        st.integers(min_value=0, max_value=100),    # value
    ),
    min_size=2,
    max_size=60,
)


@pytest.fixture(scope="module")
def stream_fuzz_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("t_fuzz_stream"))
    for t in TABLES:
        if t == "events":
            continue
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


@given(events=events_strategy)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_event_stream_matches_oracle(spark, stream_fuzz_dir, events):
    import os

    from pyspark.sql import functions as F

    rows = [
        (
            i,
            _BASE_US + off * 1_000_000,
            uid,
            ["move", "check"][i % 2],
            float(val),
            "{}",
        )
        for i, (uid, off, val) in enumerate(events)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts_us long, user_id long, event_type string,"
            " value double, props string",
        )
        .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    tmp = f"{stream_fuzz_dir}/_one"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(f"{tmp}/{part}", f"{stream_fuzz_dir}/events.parquet")
    spark.catalog.clearCache()  # same stale-cache contract as the doc fuzz

    for name in STREAMING_FUZZED:
        problems = compare(
            registry.QUERIES[name](spark, stream_fuzz_dir),
            registry.ORACLE[name],
            stream_fuzz_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)


# ---- batch event-operator fuzz (round-3 event analytics + graph) -----------
#
# Random event sets with the REAL event-type vocabulary and multi-week
# spreads: funnel stage ties, users with no signup, hours shared by
# every user (edge-cap boundary), repeated (user, hour) activity.

EVENT_BATCH_FUZZED = [
    "event_funnel",
    "pandas_cogroup_paired_spend",
    "streaming_join_left_outer",
    "skew_salted_join",
    # round-5: the Python-datasource feed parses the same events files
    # (post-epoch corpus — the documented floor==truncate assumption)
    "streaming_python_datasource_feed",
    # round-4 event analytics
    "peak_concurrency_daily",
    "cusum_changepoint_audit",
    "seasonal_naive_backtest",
    "kcore_peeling",
    "link_prediction_common_neighbors",
    "rolling_active_users",
    "event_rate_anomaly",
    "retention_cohorts",
    "pagerank_user_graph",
    "triangle_count",
    "streaming_join_click_purchase",
    "event_path_mining",
    "variant_shred_stats",
    "full_outer_activity_reconcile",
    # round-8: the executed compaction on random event corpora —
    # empty dates after deletes, all-deleted files, single-bin dates
    "compaction_execute",
    # round-6: the backfill merge must reconstruct ANY event corpus
    # exactly (random late/replay class membership, multi-day spreads)
    "streaming_backfill_merge",
    # round-6 second batch: doubled-median rank selection must hold on
    # tied/degenerate series; the power-of-two decay on arbitrary
    # day spreads (horizon boundary, single-day users)
    "mad_robust_outlier_days",
    "recency_decay_engagement",
    # round-7: the cross-partition replay reconcile must reconstruct
    # ANY event corpus (random late/replay membership incl. the empty
    # late batch, multi-day collision spreads)
    "backfill_dedup_reconcile",
    # round-7 second batch: MoR delete-file precedence on corpora where
    # a row is hit by BOTH delete kinds / no errors / all-erased users;
    # attribution credit conservation on touchless purchases, ts ties,
    # and lookback-boundary touches
    "merge_on_read_deletes",
    "multitouch_attribution",
]

_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

batch_events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),               # user_id
        st.integers(min_value=0, max_value=30 * 86_400),     # ts offset (s)
        st.integers(min_value=0, max_value=4),               # event type idx
        st.integers(min_value=0, max_value=100),             # value
    ),
    min_size=2,
    max_size=80,
)


@given(events=batch_events_strategy)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_batch_events_match_oracle(spark, stream_fuzz_dir, events):
    import os

    from pyspark.sql import functions as F

    rows = [
        (
            i,
            _BASE_US + off * 1_000_000,
            uid,
            _EVENT_TYPES[t],
            float(val),
            # mixed payload shapes: present / absent key, exercising
            # the variant accessors' null-safety
            '{"k": %d}' % val if i % 3 else "{}",
        )
        for i, (uid, off, t, val) in enumerate(events)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "event_id long, ts_us long, user_id long, event_type string,"
            " value double, props string",
        )
        .withColumn("ts", F.expr("timestamp_micros(ts_us)"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    tmp = f"{stream_fuzz_dir}/_one"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    os.replace(f"{tmp}/{part}", f"{stream_fuzz_dir}/events.parquet")
    spark.catalog.clearCache()  # same stale-cache contract as the doc fuzz
    for name in EVENT_BATCH_FUZZED:
        problems = compare(
            registry.QUERIES[name](spark, stream_fuzz_dir),
            registry.ORACLE[name],
            stream_fuzz_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)


# ---- embedding-family fuzz ------------------------------------------------
#
# The document fuzz above never touches the embeddings table; these
# generate random 64-dim vector sets with planted near-duplicates
# (v[2i+1] = v[2i] + tiny noise) and run the full embedding family —
# dedup, SemDeDup, quantization, centroids, dispersion, outliers, and
# every ANN variant incl. the IVF Lloyd loop — against the oracles.

EMBEDDING_FUZZED = [
    # round-8: graph build + unrolled beam on random panels — empty
    # buckets, disconnected entry points, beams wider than the corpus
    "ann_graph_beam_audit",
    "pq_adc_topk",
    "feature_quantile_bins",
    "embedding_centroids",
    "embedding_quantize_int8",
    "embedding_dispersion",
    "embedding_outliers",
    "dedup_embedding_cosine",
    "semdedup",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_banded_lsh_topk",
    "ann_recall_audit",
    "ann_banded_recall_audit",
    "ann_ivf_topk",
    "contrastive_triplets",
    "decontaminate_embedding",
]


@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_vecs=st.integers(min_value=12, max_value=40),
)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_embeddings_match_oracle(spark, fuzz_base_dir, seed, n_vecs):
    import numpy as np

    rng = np.random.RandomState(seed)
    vecs = rng.normal(size=(n_vecs, 64)).astype("float32")
    # plant near-duplicate pairs: odd ids shadow their predecessor
    for i in range(1, n_vecs, 2):
        vecs[i] = vecs[i - 1] + rng.normal(scale=0.01, size=64).astype(
            "float32"
        )
    rows = [
        (i, [float(x) for x in vecs[i]], int(i % 5)) for i in range(n_vecs)
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{fuzz_base_dir}/embeddings.parquet"
    )
    spark.catalog.clearCache()  # same stale-cache contract as the doc fuzz
    for name in EMBEDDING_FUZZED:
        problems = compare(
            registry.QUERIES[name](spark, fuzz_base_dir),
            registry.ORACLE[name],
            fuzz_base_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)


# ---- TPC-H table fuzz ------------------------------------------------------
#
# The document/event/embedding fuzz above never varies the relational
# tables, so the 22 TPC-H shapes and the orders-family operators only
# ever saw the fixed generated data.  These examples fuzz orders +
# lineitem (consistent FK domains against the REAL sf0.001 dimensions)
# and diff every orders/lineitem-consuming query against its oracle —
# hunting empty-group, zero-denominator, tie, and rounding edges the
# fixed data cannot hit.

TPCH_FUZZED = [
    "tpch_q1_pricing",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping",
    "tpch_q4_priority_check",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_nation_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_parts",
    "tpch_q12_lateness_priority",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_share",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracket_revenue",
    "tpch_q20_heavy_shippers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_idle_customers",
    # orders-family operators
    "rollup_cube_orders",
    "cube_status_priority",
    "pivot_status_counts",
    "topn_orders_per_customer",
    "join_left_order_counts",
    "semi_orders_with_lines",
    "anti_parts_never_ordered",
    "expectation_suite_audit",
    "pareto_frontier_orders",
    "grouping_sets_orders",
    "global_enumerate_rows",
    "table_checksum_audit",
    "lake_file_skipping",
    "rfm_segmentation",
    # round-5: the last window ops with no fuzz row (fresh scratch per
    # call, so corpus rewrites are safe)
    "histogram_quantile_audit",
    "basket_affinity_pairs",
    "ivm_incremental_rollup",
    "snapshot_diff_cdc",
    # round-6: GK rank-bound verdict + exact two-phase selection under
    # random duplicate-heavy (and possibly empty) lineitem
    "approx_percentile_parity_audit",
]

_O_STATUS = ["O", "F", "P"]
_O_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_L_RF = ["A", "N", "R"]
_L_LS = ["O", "F"]

tpch_orders_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=149),        # custkey
        st.integers(min_value=0, max_value=2),          # status idx
        st.integers(min_value=100, max_value=6_000_000),  # totalprice cents
        st.integers(min_value=0, max_value=2400),       # orderdate offset (d)
        st.integers(min_value=0, max_value=4),          # priority idx
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=199),   # partkey
                st.integers(min_value=0, max_value=9),     # suppkey
                st.integers(min_value=1, max_value=50),    # quantity
                st.integers(min_value=100, max_value=1_000_000),  # price c
                st.integers(min_value=0, max_value=10),    # discount %
                st.integers(min_value=0, max_value=8),     # tax %
                st.integers(min_value=0, max_value=2),     # returnflag idx
                st.integers(min_value=0, max_value=1),     # linestatus idx
                st.integers(min_value=-30, max_value=120), # shipdate offset
            ),
            min_size=0,
            max_size=3,
        ),
    ),
    min_size=1,
    max_size=30,
)


@pytest.fixture(scope="module")
def tpch_fuzz_dir(spark, tmp_path_factory):
    """Real sf0.001 dimensions, empty non-relational tables; each
    example overwrites orders.parquet + lineitem.parquet."""
    out = str(tmp_path_factory.mktemp("t_fuzz_tpch"))
    for t in TABLES:
        src = load_table(spark, SF_DIR, t)
        if t in ("orders", "lineitem"):
            continue
        if t not in ("customer", "supplier", "part", "nation", "region"):
            src = src.limit(0)
        src.write.mode("overwrite").parquet(f"{out}/{t}.parquet")
    return out


@given(orders=tpch_orders_strategy)
@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_tpch_tables_match_oracle(spark, tpch_fuzz_dir, orders):
    import datetime

    base = datetime.datetime(1995, 1, 1)
    o_rows, l_rows = [], []
    for i, (ck, si, tp, do, pi, lines) in enumerate(orders):
        okey = 1000 + i
        odate = base + datetime.timedelta(days=do)
        o_rows.append(
            (okey, ck, _O_STATUS[si], tp / 100.0, odate, _O_PRIO[pi])
        )
        for j, (pk, sk, qty, pc, dpct, tpct, rf, ls, soff) in enumerate(lines):
            l_rows.append(
                (
                    okey,
                    pk,
                    sk,
                    j + 1,
                    float(qty),
                    pc / 100.0,
                    dpct / 100.0,
                    tpct / 100.0,
                    _L_RF[rf],
                    _L_LS[ls],
                    odate + datetime.timedelta(days=soff),
                )
            )
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tpch_fuzz_dir}/orders.parquet"
    )
    spark.createDataFrame(
        l_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long,"
        " l_quantity double, l_extendedprice double, l_discount double,"
        " l_tax double, l_returnflag string, l_linestatus string,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tpch_fuzz_dir}/lineitem.parquet"
    )
    spark.catalog.clearCache()  # same stale-cache contract as the doc fuzz
    for name in TPCH_FUZZED:
        problems = compare(
            registry.QUERIES[name](spark, tpch_fuzz_dir),
            registry.ORACLE[name],
            tpch_fuzz_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)


# ---- TPC-H-shaped fuzz (round-7 fourth batch) -------------------------------
#
# Random orders/lineitem corpora: empty partitions, delta slices that
# cover none/all of a side, orderkeys with no lineitems and vice versa,
# repeated keys with extreme per-key fan-out.  Exercises the
# statistics/uniformity arithmetic of the join-size audit and the
# three-term IVM delta rule where the fixed fixture cannot.

TPCH_DELTA_FUZZED = [
    "partition_join_size_audit",
    "ivm_join_view_delta",
    "join_shuffle_revenue",
]

orders_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # o_orderkey
        st.integers(min_value=0, max_value=9),    # custkey
        st.integers(min_value=0, max_value=400),  # price (as int)
        st.integers(min_value=0, max_value=60),   # orderdate offset days
    ),
    min_size=0,
    max_size=30,
    unique_by=lambda t: t[0],
)
lines_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),   # l_orderkey
        st.integers(min_value=0, max_value=300),  # extendedprice int
        st.integers(min_value=0, max_value=10),   # discount %
    ),
    min_size=0,
    max_size=60,
)


@pytest.fixture(scope="module")
def tpch_delta_fuzz_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("t_fuzz_tpchd"))
    for t in TABLES:
        if t in ("orders", "lineitem"):
            continue
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


@given(orders=orders_strategy, lines=lines_strategy)
@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_random_tpch_delta_tables_match_oracle(spark, tpch_delta_fuzz_dir, orders, lines):
    import datetime

    base = datetime.date(1995, 1, 1)
    o_rows = [
        (
            k,
            c,
            "O",
            float(p),
            base + datetime.timedelta(days=d),
            "1-URGENT",
        )
        for k, c, p, d in orders
    ]
    l_rows = [
        (
            k,
            1,
            1,
            i,
            1.0,
            float(p),
            dsc / 100.0,
            0.0,
            "N",
            "O",
            base,
        )
        for i, (k, p, dsc) in enumerate(lines)
    ]
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string,"
        " o_totalprice double, o_orderdate date, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tpch_delta_fuzz_dir}/orders.parquet"
    )
    spark.createDataFrame(
        l_rows,
        "l_orderkey long, l_partkey long, l_suppkey long,"
        " l_linenumber long, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{tpch_delta_fuzz_dir}/lineitem.parquet"
    )
    spark.catalog.clearCache()
    for name in TPCH_DELTA_FUZZED:
        problems = compare(
            registry.QUERIES[name](spark, tpch_delta_fuzz_dir),
            registry.ORACLE[name],
            tpch_delta_fuzz_dir,
        )
        assert not problems, f"{name}: " + "; ".join(problems)
