"""Streaming behaviour tests (SURVEY.md §5 strategy 3).

AvailableNow + checkpoint gives run-to-completion semantics that are
deterministic and testable (the reference's own design choice,
reference src/assets/silver.py:62-63): assert the partitioned layout,
and that restarting from the same checkpoint is idempotent (T2).
"""

from __future__ import annotations

import os
import tempfile
import time

from pyspark.sql import functions as F

from velib_lakehouse_spark.sources.snapshots import live_files, read_commits, read_table
from velib_lakehouse_spark.streaming.silver import SILVER_SCHEMA, run_silver_stream
from tests.conftest import SF_DIR


def test_silver_stream_partitioned_layout_and_idempotent_restart(spark):
    out = tempfile.mkdtemp(prefix="t_silver_out_")
    ckpt = tempfile.mkdtemp(prefix="t_silver_ckpt_")

    meta = run_silver_stream(spark, SF_DIR, out, ckpt)
    first = read_table(spark, out, SILVER_SCHEMA)
    n1 = first.count()
    expected = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert n1 == expected > 0
    assert meta["rows_processed"] == expected  # T5 progress introspection

    # one log commit per micro-batch, adding one part=YYYY-MM-DD
    # directory per date the batch touched
    commits = read_commits(out)
    assert [c["stream_txn"]["batch_id"] for c in commits] == list(
        range(meta["n_batches"])
    )
    dates = {part for _, part in live_files(out)}
    assert len(dates) > 1
    assert all(len(d) == 10 for d in dates)
    assert all(
        rel.split("/")[-1] == f"part={d}" and os.path.isdir(os.path.join(out, rel))
        for rel, d in live_files(out)
    )

    # restart from the same checkpoint: nothing reprocessed
    meta2 = run_silver_stream(spark, SF_DIR, out, ckpt)
    assert read_table(spark, out, SILVER_SCHEMA).count() == n1
    assert meta2["rows_processed"] == 0
    assert len(read_commits(out)) == len(commits)

    # schema contract of the silver table: the data files themselves
    # carry SILVER_SCHEMA, the partition column included
    on_disk = spark.read.parquet(*[os.path.join(out, rel) for rel, _ in live_files(out)])
    assert on_disk.dtypes == first.dtypes
    assert set(first.columns) == {
        "event_id",
        "station_code",
        "k",
        "event_type",
        "bikes_available",
        "last_reported",
        "date",
    }


def test_streaming_sessions_agree_with_batch(spark):
    """Every session the stream closes must exist identically in the
    batch sessionization (same gap): same (station, start, end, count)."""
    from velib_lakehouse_spark.operators.relational2 import sessionize_events
    from velib_lakehouse_spark.streaming.silver import streaming_session_windows

    streamed = {
        (r.station_code, r.session_start_ms, r.n_events)
        for r in streaming_session_windows(spark, SF_DIR).collect()
    }
    assert streamed  # the 30-day fixture must close plenty of sessions
    batch = {
        (r.user_id, r.session_start_ms, r.n_events)
        for r in sessionize_events(spark, SF_DIR).collect()
    }
    assert streamed <= batch


def test_streaming_dedup_deterministic_winner_on_crafted_duplicates(spark):
    """True duplicates with different payloads must resolve to the
    min-event_id row, not an arbitrary first-seen one (the fixtures have
    no duplicate (station, ts) pairs, so this crafts some)."""
    from pyspark.sql import functions as F

    from velib_lakehouse_spark.streaming.silver import streaming_dedup

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    # duplicate 50 early rows with a HIGHER event_id and a shifted value:
    # the original (lower event_id) must win
    dup = (
        e.orderBy("event_id")
        .limit(50)
        .select(
            (F.col("event_id") + 10_000_000).alias("event_id"),
            "ts",
            "user_id",
            "event_type",
            (F.col("value") + 1000.0).alias("value"),
            "props",
        )
    )
    crafted_dir = tempfile.mkdtemp(prefix="t_dedup_events_")
    # streaming source globs 'events.parquet' — write one file of that name
    e.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ).unionByName(dup).coalesce(1).write.mode("overwrite").parquet(
        f"{crafted_dir}/one"
    )
    one = [
        f for f in os.listdir(f"{crafted_dir}/one") if f.endswith(".parquet")
    ][0]
    os.replace(f"{crafted_dir}/one/{one}", f"{crafted_dir}/events.parquet")

    got = streaming_dedup(spark, crafted_dir)
    by_key = {}
    for r in got.collect():
        by_key.setdefault((r.station_code, r.last_reported_ms), []).append(r)
    assert all(len(v) == 1 for v in by_key.values())
    # every emitted event_id is an original (winner = min event_id)
    assert all(r.event_id < 10_000_000 for r in got.collect())
    assert all(r.bikes_available < 1000.0 for r in got.collect())


def test_stateful_enumerate_state_carries_across_batches(spark):
    """Split events into two time-ordered files and force one file per
    micro-batch: ordinals must keep counting and the first gap of batch
    two must be measured against batch one's last event (state), so the
    multi-batch output equals the single-batch/window semantics."""
    from velib_lakehouse_spark.catalog import load_table
    from velib_lakehouse_spark.streaming.silver import (
        streaming_stateful_enumerate,
    )

    e = load_table(spark, SF_DIR, "events").select("event_id", "ts", "user_id")
    cut = e.agg(F.expr("percentile(unix_millis(ts), 0.5)")).first()[0]
    crafted_dir = tempfile.mkdtemp(prefix="t_state_events_")
    for suffix, part in (
        ("", e.filter(F.unix_millis("ts") <= cut)),
        ("_late", e.filter(F.unix_millis("ts") > cut)),
    ):
        tmp = f"{crafted_dir}/stage{suffix}"
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        one = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        os.replace(f"{tmp}/{one}", f"{crafted_dir}/events{suffix}.parquet")
    now = time.time()
    os.utime(f"{crafted_dir}/events.parquet", (now - 60, now - 60))
    os.utime(f"{crafted_dir}/events_late.parquet", (now, now))

    got = streaming_stateful_enumerate(spark, crafted_dir, max_files_per_trigger=1)

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = e.select(
        F.col("user_id").alias("station_code"),
        "event_id",
        F.row_number().over(w).cast("bigint").alias("ordinal"),
        ((F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)) / 1_000_000)
        .cast("bigint")
        .alias("gap_s"),
        (F.unix_micros("ts") / 1000).cast("bigint").alias("ts_ms"),
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_transform_with_state_gated_on_protobuf(spark):
    """The state-v2 operator (transformWithStateInPandas) registers only
    when google.protobuf exists — its state-server protocol needs it;
    without the gate, query start crashes the streaming Python runner.
    Where available, the emitted table must match the per-user batch
    aggregate; where not, the registry must not expose it."""
    from velib_lakehouse_spark.streaming import silver
    from velib_lakehouse_spark import registry

    if not silver.tws_available():
        assert "streaming_tws_user_stats" not in registry.QUERIES
        return

    from tests.oracle_harness import compare
    from tests.conftest import SF_DIR

    problems = compare(
        silver.streaming_tws_user_stats(spark, SF_DIR),
        silver.ORACLE["streaming_tws_user_stats"],
        SF_DIR,
    )
    assert not problems, "; ".join(problems)


def test_dedup_within_watermark_expires_key_state(spark):
    """dropDuplicatesWithinWatermark TTL semantics: a key re-arriving
    inside the delay is dropped; after the watermark passes the first
    arrival's ts + delay the state is evicted, so a fresh (non-late)
    re-arrival of the same key is emitted AGAIN — the behavior that
    bounds state at O(keys per horizon) where plain dropDuplicates
    grows forever."""
    import datetime

    from velib_lakehouse_spark.streaming.silver import (
        _drain_memory_sink,
        _event_stream,
    )

    base = datetime.datetime(2026, 1, 1)

    def ev(eid, sec, uid, etype):
        return (eid, base + datetime.timedelta(seconds=sec), uid, etype, 1.0, "{}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    crafted_dir = tempfile.mkdtemp(prefix="t_wm_dedup_")
    batches = [
        [ev(1, 1000, 1, "view"), ev(2, 1030, 1, "view")],  # dup within delay
        [ev(3, 1400, 2, "click")],  # raises max event time to 1400
        # the watermark in effect during a batch derives from data seen
        # through the PREVIOUS batch, so the 1350 watermark (and the
        # eviction of (1,view), expiry 1050) lands during this filler:
        [ev(4, 1395, 3, "view")],
        [ev(5, 1360, 1, "view")],  # state evicted, not late -> re-emitted
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        tmp = f"{crafted_dir}/stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        one = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        # _event_stream reads its schema from {dir}/events.parquet and
        # globs events*.parquet; later files sort after by mtime
        name = "events.parquet" if i == 0 else f"events_late{i}.parquet"
        os.replace(f"{tmp}/{one}", f"{crafted_dir}/{name}")
        os.utime(f"{crafted_dir}/{name}", (now - 60 + i, now - 60 + i))

    stream = (
        _event_stream(spark, crafted_dir, max_files_per_trigger=1)
        .select("user_id", "ts", "event_type")
        .withWatermark("ts", "50 seconds")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    got = sorted(
        (r.user_id, int((r.ts - base).total_seconds()), r.event_type)
        for r in _drain_memory_sink(spark, stream, "t_wm_dedup_sink").collect()
    )
    assert got == [
        (1, 1000, "view"),
        (1, 1360, "view"),
        (2, 1400, "click"),
        (3, 1395, "view"),
    ]
