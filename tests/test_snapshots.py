"""Versioned snapshot tables: atomic commit, time travel, vacuum."""

from __future__ import annotations

import json
import os

import pytest

from velib_lakehouse_spark.catalog import load_table
from velib_lakehouse_spark.sources.snapshots import (
    read_commits,
    read_snapshot,
    table_head,
    vacuum_data,
    write_snapshot,
)
from tests.conftest import SF_DIR


def _versions(table: str) -> list[str]:
    return sorted(d for d in os.listdir(table) if d.startswith("v="))


def test_snapshot_versions_and_time_travel(spark, tmp_path):
    table = str(tmp_path / "gold")
    o = load_table(spark, SF_DIR, "orders")

    v0 = write_snapshot(o.limit(10), table)
    v1 = write_snapshot(o.limit(25), table)
    assert (v0, v1) == (0, 1)
    assert table_head(table) == 1
    # each version is one whole-table overwrite naming its v=N directory
    assert [(c["action"], c["adds"]) for c in read_commits(table)] == [
        ("overwrite", [["v=0", None]]),
        ("overwrite", [["v=1", None]]),
    ]

    assert read_snapshot(spark, table).count() == 25  # latest
    assert read_snapshot(spark, table, version=0).count() == 10  # time travel

    # a torn/aborted write never surfaces: drop a half-written dir
    (tmp_path / "gold" / "v=99").mkdir()
    assert read_snapshot(spark, table).count() == 25


def test_vacuum_keeps_current(spark, tmp_path):
    table = str(tmp_path / "gold")
    o = load_table(spark, SF_DIR, "orders")
    for n in (5, 10, 15, 20):
        write_snapshot(o.limit(n), table)
    assert _versions(table) == ["v=0", "v=1", "v=2", "v=3"]

    res = vacuum_data(table, keep_last=2)
    assert (res["removed"], res["kept"]) == (2, 2)
    assert _versions(table) == ["v=2", "v=3"]
    assert read_snapshot(spark, table).count() == 20
    assert read_snapshot(spark, table, version=2).count() == 15
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, table, version=0)


# ---- optimistic concurrency (r8 VERDICT next-round #2) ----------------------


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k bigint, prio string")


def test_interleaved_writers_one_winner_one_retry_no_lost_rows(spark, tmp_path):
    """The canonical race: B stages a delete from v0, A commits an
    append into B's read window, B detects ConcurrentAppend, re-stages
    from v1 and commits — final state has A's rows minus B's predicate,
    i.e. nothing lost and nothing resurrected."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    schema = "k bigint, prio string"
    base = _mk(spark, [(1, "U"), (2, "U"), (3, "U"), (10, "L")])

    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(base, table, "base", "prio"), []),
    )

    calls = {"b": 0}

    def stage_b(rv):
        calls["b"] += 1
        cur = snap.read_table(spark, table, schema, version=rv, domain={"U"})
        kept = cur.filter("k % 2 != 0")  # delete even urgent keys
        adds = snap.stage_partition_files(
            kept, table, f"b{calls['b']}", "prio"
        )
        removes = [f for f in snap.live_files(table, rv) if f[1] == "U"]
        return adds, removes

    b_read = snap.table_head(table)
    b_pre = stage_b(b_read)

    # A appends an even AND an odd urgent key while B is stalled
    a_rows = _mk(spark, [(4, "U"), (5, "U")])
    entry_a = snap.optimistic_commit(
        table, "append", {"U"}, "a",
        lambda rv: (snap.stage_partition_files(a_rows, table, "a", "prio"), []),
    )
    assert entry_a["attempt"] == 1 and entry_a["conflicts"] == []

    entry_b = snap.optimistic_commit(
        table, "delete", {"U"}, "b", stage_b, prestaged=(b_read, *b_pre)
    )
    assert entry_b["attempt"] == 2
    assert entry_b["conflicts"] == [
        {"kind": "ConcurrentAppend", "with_version": entry_a["version"]}
    ]
    assert calls["b"] == 2  # the re-stage actually re-read the snapshot

    got = {
        (r.k, r.prio)
        for r in snap.read_table(spark, table, schema).collect()
    }
    # odd urgent keys survive (1, 3 from base; 5 from A), evens die
    # (2 from base; 4 from A — the lost-update check), L untouched
    assert got == {(1, "U"), (3, "U"), (5, "U"), (10, "L")}


def test_disjoint_domain_append_never_retries(spark, tmp_path):
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    base = _mk(spark, [(1, "U"), (10, "L")])
    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(base, table, "base", "prio"), []),
    )
    # two appends from the SAME stale read version: appends are blind,
    # both commit first-attempt
    r0 = snap.table_head(table)
    adds1 = snap.stage_partition_files(
        _mk(spark, [(2, "U")]), table, "w1", "prio"
    )
    adds2 = snap.stage_partition_files(
        _mk(spark, [(11, "L")]), table, "w2", "prio"
    )
    e1 = snap.optimistic_commit(
        table, "append", {"U"}, "w1", None, prestaged=(r0, adds1, [])
    )
    e2 = snap.optimistic_commit(
        table, "append", {"L"}, "w2", None, prestaged=(r0, adds2, [])
    )
    assert (e1["attempt"], e2["attempt"]) == (1, 1)
    assert e1["conflicts"] == [] and e2["conflicts"] == []
    assert snap.read_table(spark, table, "k bigint, prio string").count() == 4


def test_delete_delete_same_domain_conflicts(spark, tmp_path):
    """Delete racing delete in one domain: the later writer READ rows
    the earlier one's commit removed, so the kind is reader
    invalidation (ConcurrentDeleteRead) per Delta's checker order —
    ConcurrentDeleteDelete is reserved for removal-vs-removal without
    a logical read (see the rewrite tests)."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    schema = "k bigint, prio string"
    base = _mk(spark, [(1, "U"), (2, "U"), (3, "U")])
    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(base, table, "base", "prio"), []),
    )

    def deleter(name, predicate_keep):
        calls = {"n": 0}

        def stage(rv):
            calls["n"] += 1
            cur = snap.read_table(spark, table, schema, version=rv, domain={"U"})
            adds = snap.stage_partition_files(
                cur.filter(predicate_keep), table, f"{name}{calls['n']}", "prio"
            )
            removes = [f for f in snap.live_files(table, rv) if f[1] == "U"]
            return adds, removes

        return stage

    r0 = snap.table_head(table)
    s1 = deleter("d1", "k != 1")
    s2 = deleter("d2", "k != 2")
    pre2 = s2(r0)
    e1 = snap.optimistic_commit(table, "delete", {"U"}, "d1", s1)
    e2 = snap.optimistic_commit(
        table, "delete", {"U"}, "d2", s2, prestaged=(r0, *pre2)
    )
    assert e1["attempt"] == 1
    assert e2["attempt"] == 2
    assert e2["conflicts"][0]["kind"] == "ConcurrentDeleteRead"
    got = {r.k for r in snap.read_table(spark, table, schema).collect()}
    assert got == {3}  # both deletes applied, neither lost


def test_optimize_rewrite_interleaves(spark, tmp_path):
    """Delta's OPTIMIZE concurrency contract through the log: a
    concurrent delete in the domain aborts/retries the compactor
    (ConcurrentDeleteDelete), a concurrent APPEND does not (its file
    survives the rewrite untouched), and the rewrite preserves data."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    schema = "k bigint, prio string"
    base = _mk(spark, [(1, "U"), (2, "U"), (3, "U"), (10, "L")])
    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(base, table, "base", "prio"), []),
    )
    snap.optimistic_commit(
        table, "append", {"U"}, "a1",
        lambda rv: (snap.stage_partition_files(
            _mk(spark, [(4, "U")]), table, "a1", "prio"), []),
    )

    def compactor(tag):
        calls = {"n": 0}

        def stage(rv):
            calls["n"] += 1
            cur = snap.read_table(spark, table, schema, version=rv,
                                  domain={"U"})
            adds = snap.stage_partition_files(
                cur, table, f"{tag}{calls['n']}", "prio")
            removes = [f for f in snap.live_files(table, rv) if f[1] == "U"]
            return adds, removes

        return stage, calls

    # compactor stages, a delete races it -> retry on DeleteDelete
    c1, c1_calls = compactor("c1_")
    rv = snap.table_head(table)
    pre = c1(rv)
    snap.optimistic_commit(
        table, "delete", {"U"}, "del",
        lambda rv2: (
            snap.stage_partition_files(
                snap.read_table(spark, table, schema, version=rv2,
                                domain={"U"}).filter("k != 2"),
                table, "del", "prio"),
            [f for f in snap.live_files(table, rv2) if f[1] == "U"],
        ),
    )
    e1 = snap.optimistic_commit(
        table, "rewrite", {"U"}, "c1", c1, prestaged=(rv, *pre))
    assert e1["attempt"] == 2
    assert e1["conflicts"][0]["kind"] == "ConcurrentDeleteDelete"
    assert c1_calls["n"] == 2  # re-staged from the post-delete snapshot
    # row 2 stays deleted: the stale staged file must not resurrect it
    assert {r.k for r in snap.read_table(spark, table, schema).collect()} \
        == {1, 3, 4, 10}

    # compactor stages, an append races it -> NO conflict, file survives
    c2, _ = compactor("c2_")
    rv2 = snap.table_head(table)
    pre2 = c2(rv2)
    snap.optimistic_commit(
        table, "append", {"U"}, "a2",
        lambda rv3: (snap.stage_partition_files(
            _mk(spark, [(5, "U")]), table, "a2", "prio"), []),
    )
    e2 = snap.optimistic_commit(
        table, "rewrite", {"U"}, "c2", c2, prestaged=(rv2, *pre2))
    assert e2["attempt"] == 1 and e2["conflicts"] == []
    live_u = [f for f in snap.live_files(table) if f[1] == "U"]
    assert len(live_u) == 2  # compacted file + the surviving append
    assert {r.k for r in snap.read_table(spark, table, schema).collect()} \
        == {1, 3, 4, 5, 10}

    # disjoint-partition rewrite from a stale read sails through
    c3, _ = compactor("c3_")

    def stage_low(rv4):
        cur = snap.read_table(spark, table, schema, version=rv4, domain={"L"})
        adds = snap.stage_partition_files(cur, table, "c3", "prio")
        return adds, [f for f in snap.live_files(table, rv4) if f[1] == "L"]

    e3 = snap.optimistic_commit(
        table, "rewrite", {"L"}, "c3", stage_low, prestaged=(0, *stage_low(0)))
    assert e3["attempt"] == 1 and e3["conflicts"] == []


def test_try_commit_cas_exactly_one_winner(tmp_path):
    """The CAS primitive itself, raced by real threads — exactly one
    O_EXCL create succeeds per version."""
    import threading

    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    results = []
    barrier = threading.Barrier(8)

    def worker(i):
        barrier.wait()
        results.append(
            (i, snap.try_commit(table, 7, {"version": 7, "txn": f"w{i}",
                                           "action": "append", "adds": [],
                                           "removes": [], "domain": None}))
        )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sum(1 for _, ok in results if ok) == 1
    # and the losers' retry path sees the winner's entry
    assert len(snap.read_commits(table)) == 1


def test_log_checkpoint_equivalence_and_retention(spark, tmp_path):
    """Checkpoint + vacuum_log: state reads are identical before and
    after retiring the checkpointed prefix; time travel below the
    horizon and stale transactions fail loudly instead of folding a
    partial log."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    schema = "k bigint, prio string"
    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(
            _mk(spark, [(1, "U"), (10, "L")]), table, "base", "prio"), []),
    )
    for i in range(2, 6):  # v1..v4: appends
        snap.optimistic_commit(
            table, "append", {"U"}, f"w{i}",
            lambda rv, i=i: (snap.stage_partition_files(
                _mk(spark, [(i, "U")]), table, f"w{i}", "prio"), []),
        )
    head = snap.table_head(table)
    assert head == 4
    before = snap.live_files(table)
    before_rows = {r.k for r in snap.read_table(spark, table, schema).collect()}

    v = snap.write_log_checkpoint(table)
    assert v == head
    # checkpointed state == folded state, prefix still present
    assert snap.live_files(table) == before
    removed = snap.vacuum_log(table)
    assert removed == 5  # v0..v4 retired, checkpoint carries the state
    assert snap.table_head(table) == head
    assert snap.live_files(table) == before
    assert {r.k for r in snap.read_table(spark, table, schema).collect()} \
        == before_rows

    # commits on top of a checkpoint-only log keep working
    e = snap.optimistic_commit(
        table, "append", {"L"}, "post",
        lambda rv: (snap.stage_partition_files(
            _mk(spark, [(11, "L")]), table, "post", "prio"), []),
    )
    assert e["version"] == head + 1
    assert snap.read_table(spark, table, schema).count() == len(before_rows) + 1

    # time travel below the retention horizon is a loud error
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        snap.live_files(table, version=2)

    # a transaction whose read window was vacuumed must restart
    with _pytest.raises(RuntimeError, match="retention horizon"):
        snap.optimistic_commit(
            table, "delete", {"U"}, "stale",
            lambda rv: ([], []),
            prestaged=(1, [], []),
        )


def test_live_files_horizon_guard_covers_every_gap_shape(spark, tmp_path):
    """The three silent-wrong shapes the r9 advice flagged all raise:
    (a) a stale covering checkpoint whose bridging commits were
    vacuumed, (b) a checkpoint-only log asked for a version below the
    checkpoint, (c) a version beyond the head."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    snap.optimistic_commit(
        table, "overwrite", None, "base",
        lambda rv: (snap.stage_partition_files(
            _mk(spark, [(1, "U")]), table, "base", "prio"), []),
    )
    for i in range(2, 8):  # v1..v6
        snap.optimistic_commit(
            table, "append", {"U"}, f"w{i}",
            lambda rv, i=i: (snap.stage_partition_files(
                _mk(spark, [(i, "U")]), table, f"w{i}", "prio"), []),
        )
    # checkpoint at v2 (simulate by trimming: checkpoint now, at head=6,
    # then a second one; instead build the two-checkpoint shape directly
    # by checkpointing v6 and hand-writing a v2 checkpoint from the fold)
    v2_state = snap.live_files(table, 2)
    d = snap._log_dir(table)
    (d / "00000002.ckpt.json").write_text(
        json.dumps({"version": 2, "live": v2_state})
    )
    snap.write_log_checkpoint(table)  # v6
    snap.vacuum_log(table)  # retires commits v0..v6

    # (a) v4 resolves the v2 checkpoint but commits v3-v4 are gone
    with pytest.raises(FileNotFoundError, match="retention horizon"):
        snap.live_files(table, version=4)
    # v2 itself is exactly the checkpoint — still readable
    assert snap.live_files(table, version=2) == v2_state

    # (b) checkpoint-only log, request below the oldest checkpoint
    (d / "00000002.ckpt.json").unlink()
    with pytest.raises(FileNotFoundError, match="retention horizon"):
        snap.live_files(table, version=1)

    # (c) beyond the head
    with pytest.raises(FileNotFoundError, match="does not exist"):
        snap.live_files(table, version=99)

    # head reads keep working either way
    assert len(snap.live_files(table)) > 0


def test_try_commit_publishes_full_content_atomically(tmp_path):
    """The commit file is never visible empty/partial: the loser's
    entry never appears, the winner's parses completely, and no temp
    droppings survive either path."""
    from velib_lakehouse_spark.sources import snapshots as snap

    table = str(tmp_path / "t")
    big = {"version": 3, "txn": "w", "action": "append", "domain": None,
           "adds": [[f"f{i}", "U"] for i in range(5000)], "removes": []}
    assert snap.try_commit(table, 3, big)
    assert not snap.try_commit(table, 3, {"version": 3, "txn": "loser"})
    entries = snap.read_commits(table)
    assert len(entries) == 1 and entries[0]["txn"] == "w"
    assert len(entries[0]["adds"]) == 5000
    assert not list(snap._log_dir(table).glob("._commit_*"))


def test_conflict_matrix_three_kinds():
    """The full WriteSerializable taxonomy, kind by kind."""
    from velib_lakehouse_spark.sources.snapshots import _conflicts_with

    app = {"action": "append", "domain": ["U"]}
    dele = {"action": "delete", "domain": ["U"]}
    rew = {"action": "rewrite", "domain": ["U"]}
    # blind append commutes with everything
    assert _conflicts_with("append", {"U"}, dele) is None
    assert _conflicts_with("append", None, rew) is None
    # domain readers: append in window -> ConcurrentAppend,
    # any file-removal -> ConcurrentDeleteRead
    assert _conflicts_with("delete", {"U"}, app) == "ConcurrentAppend"
    assert _conflicts_with("delete", {"U"}, dele) == "ConcurrentDeleteRead"
    assert _conflicts_with("overwrite", None, rew) == "ConcurrentDeleteRead"
    # rewrite reads no rows: append commutes, removal overlap is
    # removal-vs-removal -> ConcurrentDeleteDelete
    assert _conflicts_with("rewrite", {"U"}, app) is None
    assert _conflicts_with("rewrite", {"U"}, dele) == "ConcurrentDeleteDelete"
    assert _conflicts_with("rewrite", {"U"}, rew) == "ConcurrentDeleteDelete"
    # disjoint domains never conflict
    assert _conflicts_with("delete", {"L"}, dele) is None
    assert _conflicts_with("rewrite", {"L"}, rew) is None


def test_stage_partition_files_reserves_part_column(spark, tmp_path):
    """The ``part`` directory key would silently drop a data column of
    the same name from the files, so such a frame is refused."""
    from velib_lakehouse_spark.sources import snapshots as snap

    df = spark.createDataFrame([(1, "x")], "part bigint, p string")
    with pytest.raises(ValueError, match="part"):
        snap.stage_partition_files(df, str(tmp_path), "t", "p")
