"""Semantic tests for the round-3 additions: hybrid RRF retrieval,
cluster canonicalization, temperature mixing, stream-stream join.

The oracle-parity sweep already pins cross-engine equality; these pin
the *semantics* (the properties a user relies on) on the real corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from velib_lakehouse_spark.operators.curation import (
    MIX_BUDGET_DOCS,
    corpus_mix_temperature,
)
from velib_lakehouse_spark.operators.dedup import dedup_canonicalize
from velib_lakehouse_spark.operators.retrieval import (
    RRF_K,
    hybrid_rank_fusion,
)
from velib_lakehouse_spark.operators.streaming import (
    JOIN_WINDOW_SECONDS,
    streaming_join_click_purchase,
)


def test_hybrid_fusion_scores_and_ranks(spark):
    rows = hybrid_rank_fusion(spark, SF_DIR).collect()
    assert rows, "fusion produced no rows"
    # fused_rank is a dense permutation 1..N
    ranks = sorted(r["fused_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    for r in rows:
        expect = 0.0
        if r["rank_lex"] is not None:
            expect += 1.0 / (RRF_K + r["rank_lex"])
        if r["rank_dense"] is not None:
            expect += 1.0 / (RRF_K + r["rank_dense"])
        assert abs(r["rrf"] - expect) < 1e-6
    # a doc present in both lists must outrank a doc present in only
    # one list at an equal-or-worse single-system rank
    both = [r for r in rows if r["rank_lex"] and r["rank_dense"]]
    if both:
        best_both = min(both, key=lambda r: r["fused_rank"])
        singles = [
            r
            for r in rows
            if (r["rank_lex"] is None) != (r["rank_dense"] is None)
        ]
        for s in singles:
            s_rank = s["rank_lex"] or s["rank_dense"]
            b_rank = max(best_both["rank_lex"], best_both["rank_dense"])
            if s_rank >= b_rank:
                assert best_both["fused_rank"] < s["fused_rank"]


def test_canonicalize_elects_one_winner_per_cluster(spark):
    out = dedup_canonicalize(spark, SF_DIR)
    per_cluster = (
        out.groupBy("cluster_id")
        .agg(
            F.sum(F.col("is_canonical").cast("int")).alias("n_canon"),
            F.countDistinct("canonical_id").alias("n_ids"),
            F.max("n_chars").alias("max_chars"),
            F.max_by("n_chars", F.col("is_canonical").cast("int")).alias(
                "canon_chars"
            ),
        )
        .collect()
    )
    assert per_cluster
    for r in per_cluster:
        assert r["n_canon"] == 1, "exactly one canonical per cluster"
        assert r["n_ids"] == 1, "all members agree on the canonical"
        assert r["canon_chars"] == r["max_chars"], "longest doc wins"
    # the mapping covers every document exactly once
    assert out.count() == out.select("doc_id").distinct().count()


def test_temperature_mix_boosts_tail_languages(spark):
    rows = corpus_mix_temperature(spark, SF_DIR).collect()
    assert len(rows) >= 2
    assert abs(sum(r["weight"] for r in rows) - 1.0) < 1e-4
    assert (
        abs(sum(r["expected_docs"] for r in rows) - MIX_BUDGET_DOCS)
        <= len(rows)
    )
    head = max(rows, key=lambda r: r["n_docs"])
    tail = min(rows, key=lambda r: r["n_docs"])
    assert head["boost"] < 1.0, "head language must be down-sampled"
    assert tail["boost"] > 1.0, "tail language must be up-sampled"
    # sqrt temperature flattens but must not invert the ordering
    assert head["weight"] > tail["weight"]


def test_stream_stream_join_matches_batch_range_join(spark):
    out = streaming_join_click_purchase(spark, SF_DIR)
    rows = out.collect()
    for r in rows:
        assert 0 <= r["click_to_purchase_ms"] <= JOIN_WINDOW_SECONDS * 1000
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from velib_lakehouse_spark.catalog import load_table

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("cts"),
    )
    batch = p.join(c, "user_id").filter(
        (F.col("pts") >= F.col("cts"))
        & (
            F.col("pts")
            <= F.col("cts") + F.expr(f"interval {JOIN_WINDOW_SECONDS} seconds")
        )
    )
    assert batch.count() == len(rows)
    stream_pairs = {(r["purchase_id"], r["click_id"]) for r in rows}
    batch_pairs = {
        (r["purchase_id"], r["click_id"]) for r in batch.collect()
    }
    assert stream_pairs == batch_pairs
