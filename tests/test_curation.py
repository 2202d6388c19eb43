"""Crafted-input tests for the redaction pipeline (the synthetic corpus
contains no emails or digit runs, so the oracle never exercises those
branches — these inputs do)."""

from __future__ import annotations

from pyspark.sql import functions as F

from velib_lakehouse_spark.operators.curation import clean_text_expr


def _clean(spark, s: str) -> str:
    df = spark.createDataFrame([(s,)], "text string")
    return df.select(clean_text_expr(F.col("text")).alias("c")).collect()[0].c


def test_email_redaction(spark):
    assert (
        _clean(spark, "Contact John.Doe+spam@Example.co.uk today")
        == "contact <email> today"
    )


def test_long_digit_runs_masked_short_kept(spark):
    assert _clean(spark, "call 4155551234 or ext 42") == "call <number> or ext 42"


def test_symbols_stripped_whitespace_collapsed(spark):
    assert _clean(spark, "A  B\t(c)! [d]#e") == "a b c d e"


def test_jsonl_shard_export_roundtrip_and_stability(spark, tmp_path):
    """The shuffled-shard writer must produce a hive shard layout whose
    contents round-trip and are byte-stable across re-writes (the
    resumable-export contract)."""
    import os

    from velib_lakehouse_spark import registry
    from velib_lakehouse_spark.operators.training import (
        N_EXPORT_SHARDS,
        write_jsonl_shards,
    )
    from tests.conftest import SF_DIR

    export = registry.QUERIES["export_shuffled_shards"](spark, SF_DIR)
    out = str(tmp_path)
    write_jsonl_shards(export, out)

    shards = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(shards) == N_EXPORT_SHARDS

    back = spark.read.json(f"{out}/shard=*")
    assert back.count() == export.count()
    # positions within every shard are dense 0..n-1
    got = {
        (int(p.split("=")[1]), r.pos)
        for p in shards
        for r in spark.read.json(f"{out}/{p}").collect()
    }
    assert got == {(r.shard, r.pos) for r in export.collect()}

    # byte-stability: a second write produces identical shard contents
    def shard_bytes(root):
        blobs = {}
        for p in sorted(os.listdir(root)):
            if not p.startswith("shard="):
                continue
            parts = sorted(
                f for f in os.listdir(f"{root}/{p}") if f.endswith(".json")
            )
            blobs[p] = b"".join(
                open(f"{root}/{p}/{f}", "rb").read() for f in parts
            )
        return blobs

    first = shard_bytes(out)
    write_jsonl_shards(export, out)
    assert shard_bytes(out) == first


def test_idempotent_on_clean_text(spark):
    once = _clean(spark, "Order 1234567 from a.b@c.de NOW!!")
    assert once == "order <number> from <email> now"
    assert _clean(spark, once) == once
