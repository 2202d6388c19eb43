"""Golden-behavior tests for the late round-4 operators: properties the
oracle-parity sweep can't see (shift robustness, removal semantics,
perceptual collapse), on hand-built corpora with known answers."""

from __future__ import annotations

import pytest

from velib_lakehouse_spark import registry
from velib_lakehouse_spark.catalog import TABLES, load_table
from tests.conftest import SF_DIR
from tests.oracle_harness import compare


@pytest.fixture(scope="module")
def golden_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("t_goldops_sf"))
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


def _write_docs(spark, out, texts):
    rows = [
        (i, t, "en", "src%d" % (i % 2), len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")


SHARED = "the quick brown fox jumps over the lazy dog again and again"


def test_dup_span_removal_keeps_first_occurrence(spark, golden_dir):
    """Doc 0 (canonical) keeps the shared sentence; doc 1 loses it;
    unique text survives on both sides."""
    _write_docs(
        spark,
        golden_dir,
        [
            SHARED + " unique tail zero",
            "prefix one " + SHARED + " suffix one",
            "totally different text with no overlap at all here",
        ],
    )
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["dup_span_removal"](spark, golden_dir).collect()
    }
    assert SHARED in out[0]["cleaned_text"]
    assert out[0]["removed_tokens"] == 0
    assert "quick brown fox" not in out[1]["cleaned_text"]
    assert "prefix one" in out[1]["cleaned_text"]
    assert "suffix one" in out[1]["cleaned_text"]
    assert out[2]["removed_tokens"] == 0


def test_chunk_cdc_boundaries_survive_prefix_insert(spark, golden_dir):
    """Content-defined chunking is shift-robust: prepending words to a
    document leaves every boundary after the edit in place, so the
    tail chunks keep identical hashes (this is exactly what fixed-size
    blocks lose)."""
    body = " ".join("w%d" % (i % 97) for i in range(400))
    _write_docs(spark, golden_dir, [body, "inserted words up front " + body])
    rows = registry.QUERIES["chunk_cdc"](spark, golden_dir).collect()
    hashes = {0: set(), 1: set()}
    for r in rows:
        hashes[r["doc_id"]].add(r["chunk_hash"])
    common = hashes[0] & hashes[1]
    # all but the first boundary-window chunks realign -> most hashes shared
    assert len(common) >= max(1, len(hashes[0]) - 2)


def test_chunk_cdc_covers_document_exactly(spark, golden_dir):
    body = " ".join("t%d" % i for i in range(100))
    _write_docs(spark, golden_dir, [body, "short doc"])
    rows = registry.QUERIES["chunk_cdc"](spark, golden_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        assert chunks[0]["start_word"] == 0
        for prev, nxt in zip(chunks, chunks[1:]):
            assert nxt["start_word"] == prev["start_word"] + prev["n_chunk_words"]
    # docs shorter than the rolling window emit one whole-doc chunk
    assert len(by_doc[1]) == 1
    assert by_doc[1][0]["chunk_text"] == "short doc"


def test_image_ahash_collapses_exact_dups_and_pairs_near_dups(spark, golden_dir):
    base = "".join(chr(65 + (i * 7) % 26) for i in range(256))
    near = base[:200] + base[200:].lower()  # perturb a contiguous range
    _write_docs(spark, golden_dir, [base, base, near])
    rows = registry.QUERIES["multimodal_image_ahash_neardup"](
        spark, golden_dir
    ).collect()
    # docs 0 and 1 are byte-identical -> one class (members=2), so any
    # emitted pair must be between class reps 0 and 2
    for r in rows:
        assert (r["rep_a"], r["rep_b"]) == (0, 2)
        assert r["members_a"] == 2


def test_streaming_left_outer_emits_unmatched_purchases(spark, golden_dir):
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 1.0, ""),
            (2, "2024-01-01 10:30:00", 7, "purchase", 9.5, ""),
            (3, "2024-01-02 18:00:00", 8, "purchase", 4.25, ""),
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).selectExpr(
        "event_id", "cast(ts as timestamp) ts", "user_id", "event_type",
        "value", "props"
    ).coalesce(1).write.mode("overwrite").parquet(f"{golden_dir}/events.parquet")
    rows = {
        r["purchase_id"]: r
        for r in registry.QUERIES["streaming_join_left_outer"](
            spark, golden_dir
        ).collect()
    }
    assert rows[2]["matched"] == 1 and rows[2]["click_id"] == 1
    assert rows[3]["matched"] == 0 and rows[3]["click_id"] is None
    problems = compare(
        registry.QUERIES["streaming_join_left_outer"](spark, golden_dir),
        registry.ORACLE["streaming_join_left_outer"],
        golden_dir,
    )
    assert not problems, problems


def test_hll_merge_rollup_merge_always_matches_direct(spark, golden_dir):
    _write_docs(
        spark,
        golden_dir,
        ["alpha beta gamma", "beta gamma delta", "epsilon zeta", "alpha"],
    )
    rows = registry.QUERIES["hll_merge_rollup"](spark, golden_dir).collect()
    assert rows
    assert all(r["merge_matches_direct"] == 1 for r in rows)
    assert all(r["exact_distinct"] > 0 for r in rows)


def test_table_checksum_localizes_a_divergence(spark, golden_dir):
    """The semantic claim of the fingerprint audit: a one-row change
    flips exactly its own partition's checksums, every other partition
    fingerprint stays bit-identical (that is what makes it a re-sync
    localizer rather than a table-wide boolean)."""
    orders = load_table(spark, SF_DIR, "orders")
    orders.write.mode("overwrite").parquet(f"{golden_dir}/orders.parquet")
    spark.catalog.clearCache()
    base = {
        r["month"]: r
        for r in registry.QUERIES["table_checksum_audit"](
            spark, golden_dir
        ).collect()
    }
    victim = orders.orderBy("o_orderkey").first()
    from pyspark.sql import functions as F

    perturbed = orders.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") == victim["o_orderkey"],
            F.col("o_totalprice") + 0.01,
        ).otherwise(F.col("o_totalprice")),
    )
    perturbed.write.mode("overwrite").parquet(f"{golden_dir}/orders.parquet")
    spark.catalog.clearCache()
    after = {
        r["month"]: r
        for r in registry.QUERIES["table_checksum_audit"](
            spark, golden_dir
        ).collect()
    }
    victim_month = victim["o_orderdate"].strftime("%Y-%m")
    assert set(base) == set(after)
    for month, row in base.items():
        other = after[month]
        assert row["n_rows"] == other["n_rows"]
        same = (
            row["sum_checksum"] == other["sum_checksum"]
            and row["xor_checksum"] == other["xor_checksum"]
        )
        assert same == (month != victim_month), month
    # restore the fixture's empty orders for any later test in the module
    orders.limit(0).write.mode("overwrite").parquet(
        f"{golden_dir}/orders.parquet"
    )
    spark.catalog.clearCache()


def test_global_enumeration_is_contiguous(spark):
    rows = (
        registry.QUERIES["global_enumerate_rows"](spark, SF_DIR)
        .orderBy("global_seq")
        .collect()
    )
    assert [r["global_seq"] for r in rows] == list(range(1, len(rows) + 1))


def test_file_skipping_telemetry_not_vacuous(spark):
    """The predicate window spans ~2 of ~13 half-year files: the audit
    must report real skipping, and the scanned subset must still hold
    every matching row (n_match <= rows_scanned < table size)."""
    row = registry.QUERIES["lake_file_skipping"](spark, SF_DIR).collect()[0]
    assert row["n_files_skipped"] >= 1
    assert row["n_files"] > row["n_files_skipped"]
    assert 0 < row["n_match"] <= row["rows_scanned"]
    total = load_table(spark, SF_DIR, "orders").count()
    assert row["rows_scanned"] < total
