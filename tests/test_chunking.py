"""Crafted-corpus semantics for the chunking / block-dedup operators
(the oracle-parity and fuzz suites check cross-engine agreement; these
pin the *intended* behavior on inputs where it is computable by hand)."""

from __future__ import annotations

import pytest

from velib_lakehouse_spark.catalog import TABLES, load_table
from velib_lakehouse_spark.operators.chunking import (
    BLOCK_WORDS,
    CHUNK_STRIDE,
    CHUNK_WORDS,
    chunk_documents,
    dedup_chunks,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def crafted_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("t_chunk_sf"))
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    return out


def _write_docs(spark, out, texts):
    rows = [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out}/documents.parquet")


def test_chunk_windows_cover_and_overlap(spark, crafted_dir):
    """80 words -> starts at 0,24,48,72; full chunks are CHUNK_WORDS
    long, the tail is truncated, and consecutive chunks overlap by
    CHUNK_WORDS - CHUNK_STRIDE words."""
    words = [f"w{i}" for i in range(80)]
    _write_docs(spark, crafted_dir, [" ".join(words)])
    got = {
        r.chunk_idx: r for r in chunk_documents(spark, crafted_dir).collect()
    }
    assert sorted(got) == [0, 1, 2, 3]
    assert [got[i].start_word for i in range(4)] == [0, 24, 48, 72]
    assert [got[i].n_chunk_words for i in range(4)] == [32, 32, 32, 8]
    # overlap: chunk 1 starts CHUNK_STRIDE in, so its first words are the
    # last CHUNK_WORDS - CHUNK_STRIDE words of chunk 0
    tail0 = got[0].chunk_text.split(" ")[CHUNK_STRIDE:]
    head1 = got[1].chunk_text.split(" ")[: CHUNK_WORDS - CHUNK_STRIDE]
    assert tail0 == head1
    # every word appears in some chunk
    seen = {w for r in got.values() for w in r.chunk_text.split(" ")}
    assert seen == set(words)


def test_dedup_chunks_keeps_first_occurrence_and_reassembles(spark, crafted_dir):
    """One shared BLOCK_WORDS block across three docs: kept only in the
    lowest (doc_id, idx); unique blocks always survive; texts reassemble
    in block order."""
    shared = " ".join(f"s{i}" for i in range(BLOCK_WORDS))
    u = lambda d, k: " ".join(f"d{d}u{k}_{i}" for i in range(BLOCK_WORDS))
    texts = [
        shared + " " + u(0, 0),          # doc 0: shared at idx 0 (winner)
        u(1, 0) + " " + shared,          # doc 1: shared at idx 1 (dropped)
        shared,                           # doc 2: only the shared block
    ]
    _write_docs(spark, crafted_dir, texts)
    got = {r.doc_id: r for r in dedup_chunks(spark, crafted_dir).collect()}
    assert got[0].n_blocks == 2 and got[0].n_kept == 2
    assert got[0].dedup_text == texts[0]
    assert got[1].n_blocks == 2 and got[1].n_kept == 1
    assert got[1].dedup_text == u(1, 0)
    assert got[2].n_blocks == 1 and got[2].n_kept == 0
    assert got[2].dedup_text == ""
