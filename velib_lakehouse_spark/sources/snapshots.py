"""Log-structured tables: the one table protocol of the medallion.

The reference lands silver through Spark's file sink and overwrites gold
in place with raw parquet, so a reader racing the writer can see a
half-deleted directory (reference src/assets/velib_alerte.py:70-72).
Delta/Iceberg fix that with a transaction log; their jars are not in
this build, so this module implements the minimal version of the same
idea on plain parquet, and both medallion tables use it:

* data is staged in directories under the table root, invisible until
  a commit names them: ``v=N/`` for a whole-table snapshot (gold,
  ``write_snapshot``), ``<txn>/part=<value>/`` for partitioned writes
  (silver's micro-batches, ``commit_stream_batch``);
* the table state is the fold of append-only commit files in ``_log/``,
  each created by an atomic compare-and-swap, so readers
  (``read_snapshot``, ``read_table``) resolve only fully-written files
  at the head or at any retained version (time travel);
* streaming commits carry ``(app_id, batch_id)`` and are idempotent,
  which with Spark's replayable checkpoint gives exactly-once;
* checkpoints bound the fold, ``vacuum_log`` retires the log prefix and
  ``vacuum_data`` deletes what no retained version reaches;
  ``retire_partitions`` chains them into partition retention.

Only what the medallion needs lives here.  The showcase's shallow clone
(``sources/lake.py:shallow_clone``) is a first commit of absolute-path
adds; ``live_files`` and ``vacuum_data`` read those as they are.

Real Delta is out of reach here (no delta-spark/Iceberg jars, no
installs), so ``format("delta")`` cannot initialize; on a cluster with
the jars, enable Delta's session extension and catalog and point these
writers at ``format("delta")``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from velib_lakehouse_spark.session import apply_safe_confs

# ---- optimistic concurrency: log-structured multi-writer commits -----------
#
# Protocol (Delta's, on plain files, with its conflict taxonomy
# ConcurrentAppend / ConcurrentDeleteRead / ConcurrentDeleteDelete):
#   1. a writer STAGES its data directories under the table root
#      (invisible — table state is defined only by the log);
#   2. it attempts to create `_log/{version:08d}.json` with
#      O_CREAT|O_EXCL — the filesystem's atomic compare-and-swap: for
#      each version exactly one writer's create succeeds;
#   3. a loser (file already exists) re-reads the log, checks every
#      commit it raced against for a SEMANTIC conflict against its own
#      action + domain, and either bumps its version and re-tries
#      (no overlap — its staged files are still valid) or re-stages
#      from the new snapshot first (overlap — its staged files were
#      computed from stale reads).
#
# Domains are partition-value sets — the granularity Delta infers from
# predicates; `None` means the whole table (blind overwrite).

_LOG_DIR = "_log"


def _log_dir(table_path: str) -> Path:
    return Path(table_path) / _LOG_DIR


# commit files are ``{V:08d}.json``; checkpoints (see the retention
# section below) are ``{V:08d}.ckpt.json``; ``._``-prefixed temp files
# never match
_LOG_NAME = re.compile(r"^(\d{8})\.(ckpt\.)?json$")


def _log_versions(table_path: str) -> tuple[list[int], list[int]]:
    """(commit versions, checkpoint versions), each ascending, from the
    ``_log/`` file names alone: no log file is opened."""
    d = _log_dir(table_path)
    if not d.is_dir():
        return [], []
    commits, ckpts = [], []
    for name in os.listdir(d):
        m = _LOG_NAME.match(name)
        if m:
            (ckpts if m.group(2) else commits).append(int(m.group(1)))
    return sorted(commits), sorted(ckpts)


def _head(commit_vs: list[int], ckpt_vs: list[int]) -> int:
    return max(commit_vs[-1:] + ckpt_vs[-1:], default=-1)


def _load(table_path: str, version: int, suffix: str = "json") -> dict:
    return json.loads((_log_dir(table_path) / f"{version:08d}.{suffix}").read_text())


def read_commits(table_path: str, after: int = -1) -> list[dict]:
    """Retained commit entries above version ``after``, version order
    (checkpoint files are state snapshots, not commits, and are
    excluded).  Only those commit files are parsed."""
    return [_load(table_path, v) for v in _log_versions(table_path)[0] if v > after]


def table_head(table_path: str) -> int:
    """Highest committed version, or -1 for an empty log: the highest
    commit or checkpoint file name (after log retention the newest
    checkpoint may BE the head, with zero tail commits).  Parses no
    log file, so its cost does not grow with the commits' size."""
    return _head(*_log_versions(table_path))


def try_commit(table_path: str, version: int, entry: dict) -> bool:
    """Atomic CAS: create the version's log file if and only if no one
    else has.  Returns False when the version is taken (caller lost the
    race and must re-validate against the winner's entry).

    The full entry is written to a temp file FIRST and published via
    ``os.link`` — an atomic create-with-content that raises on loss.
    A bare ``O_CREAT|O_EXCL`` open followed by the json write would
    leave the commit file visible empty/partial between the two calls,
    and a rival's validation read inside ``optimistic_commit`` could
    parse the torn entry."""
    d = _log_dir(table_path)
    d.mkdir(parents=True, exist_ok=True)
    path = d / f"{version:08d}.json"
    fd, tmp = tempfile.mkstemp(dir=d, prefix="._commit_")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(entry, f)
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def live_files(table_path: str, version: int | None = None) -> list[list]:
    """``[path, partition]`` pairs live at ``version`` (default head):
    the newest checkpoint at-or-below ``version`` (if any) plus the
    fold of adds minus removes over the retained tail commits.

    Raises when the fold cannot be reconstructed exactly: ``version``
    beyond the head, or any commit in ``(base_checkpoint, version]``
    retired by ``vacuum_log`` — a partial fold would silently drop
    commits, so Delta's log-retention trade is surfaced loudly
    whichever shape the gap takes (no covering checkpoint, a stale
    covering checkpoint with the bridging commits vacuumed, or a
    checkpoint-only log asked for an older version)."""
    commit_vs, ckpt_vs = _log_versions(table_path)
    head = _head(commit_vs, ckpt_vs)
    if version is not None and version > head:
        raise FileNotFoundError(
            f"version {version} does not exist yet (head: {head})"
        )
    live: dict[str, str] = {}
    base_version = -1
    ckpt = _latest_checkpoint(table_path, ckpt_vs, version)
    if ckpt is not None:
        live = {path: part for path, part in ckpt["live"]}
        base_version = ckpt["version"]
    target = version if version is not None else head
    if target > base_version:
        # the fold needs EVERY commit in (base_version, target]
        # contiguously retained; versions are contiguous by
        # construction, so oldest_retained <= base_version + 1 proves it
        oldest_retained = commit_vs[0] if commit_vs else None
        if oldest_retained is None or oldest_retained > base_version + 1:
            raise FileNotFoundError(
                f"version {target} predates the log-retention horizon"
                f" (base checkpoint: v{base_version}, oldest retained"
                f" commit: {oldest_retained})"
            )
    for v in commit_vs:
        if v <= base_version:
            continue
        if v > target:
            break
        c = _load(table_path, v)
        if c["action"] == "overwrite" and c.get("domain") is None:
            live.clear()
        for path, _part in c.get("removes", []):
            live.pop(path, None)
        for path, part in c.get("adds", []):
            live[path] = part
    return [[p, part] for p, part in sorted(live.items())]


def read_table(
    spark: SparkSession,
    table_path: str,
    schema: str,
    version: int | None = None,
    domain: set[str] | None = None,
) -> DataFrame:
    """Snapshot read at ``version`` (default head), optionally
    restricted to a partition-value ``domain``.  The explicit schema
    keeps empty snapshots readable (zero live files)."""
    apply_safe_confs(spark)
    files = live_files(table_path, version)
    if domain is not None:
        files = [f for f in files if f[1] in domain]
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_path, rel) for rel, _ in files]
    )


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Commit ``df`` as the whole table: one ``overwrite`` whose single
    add is the fresh ``v=N`` directory, N being the committed version;
    returns N.  One writer per table (the scheduler serialises ticks):
    racing writers would stage into the same ``v=N``."""

    def stage(read_version: int) -> tuple[list, list]:
        rel = f"v={read_version + 1}"
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(table_path, rel))
        return [[rel, None]], []

    return optimistic_commit(table_path, "overwrite", None, "snapshot", stage)["version"]


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read the head, or time-travel to ``version``; raises
    FileNotFoundError for an empty log or a vacuumed version."""
    apply_safe_confs(spark)
    if table_head(table_path) < 0:
        raise FileNotFoundError(f"no committed version at {table_path}")
    paths = [os.path.join(table_path, rel) for rel, _ in live_files(table_path, version)]
    if not all(os.path.exists(p) for p in paths):
        raise FileNotFoundError(f"version {version} of {table_path} was vacuumed")
    return spark.read.parquet(*paths)


def stage_partition_files(
    df: DataFrame, table_path: str, txn: str, part_col: str
) -> list[list]:
    """Stage ``df`` as one parquet directory per ``part_col`` value,
    ``<txn>/part=<value>/`` under the table root (invisible until
    committed); returns the ``[relative_path, partition_value]``
    add-list.

    One partitioned write job — no per-partition driver loop; the
    partition column is duplicated into the ``part`` directory key so
    the data files keep it as a regular column (snapshot reads take a
    bare directory list, no hive discovery), which is why ``df`` may not
    carry a column of that name.  Writer parallelism follows the
    upstream partitioning on purpose: adds are DIRECTORIES, so the file
    count per partition is free to vary — a repartition on the
    partition value would cap the write at |partition values| tasks,
    the 100 TB straggler shape."""
    if "part" in df.columns:
        raise ValueError("stage_partition_files reserves the column name 'part'")
    out = os.path.join(table_path, txn)
    (
        df.withColumn("part", F.col(part_col))
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(out)
    )
    return [
        [os.path.join(txn, child.name), child.name.split("=", 1)[1]]
        for child in sorted(Path(out).glob("part=*"))
        if child.is_dir()
    ]


def _conflicts_with(action: str, domain: set[str] | None, other: dict) -> str | None:
    """Delta's WriteSerializable conflict matrix, domain-granular.

    Actions differ in what they READ and what files they REMOVE, and
    the taxonomy follows from that split (Delta's ConflictChecker
    order: added-vs-read, then removed-vs-read, then removed-vs-
    removed):

    * blind APPEND commutes with everything — it read nothing and
      removed nothing;
    * DELETE / OVERWRITE read their domain's rows, so an intervening
      overlapping commit invalidates what they staged: vs append ->
      **ConcurrentAppend** (files appeared that the predicate should
      have read), vs anything that removed files (delete / overwrite /
      rewrite) -> **ConcurrentDeleteRead** (files the transaction read
      were deleted out from under it);
    * REWRITE (OPTIMIZE-style compaction, data-preserving) reads no
      logical rows — a concurrent append commutes (its new files simply
      were not compacted this pass), but an overlapping file-removal
      (delete / overwrite / rewrite) -> **ConcurrentDeleteDelete**
      (two operations removed the same files — Delta's "two concurrent
      compactions" case);
    * domain ``None`` (whole table) overlaps every domain.
    """
    if action == "append":
        return None
    o_domain = other.get("domain")
    overlap = (
        domain is None
        or o_domain is None
        or bool(set(domain) & set(o_domain))
    )
    if not overlap:
        return None
    other_removes = other["action"] in ("delete", "overwrite", "rewrite")
    if action == "rewrite":
        return "ConcurrentDeleteDelete" if other_removes else None
    if other["action"] == "append":
        return "ConcurrentAppend"
    return "ConcurrentDeleteRead" if other_removes else None


MAX_ATTEMPTS = 5  # CAS rounds before a transaction gives up


def optimistic_commit(
    table_path: str,
    action: str,
    domain: set[str] | None,
    txn: str,
    stage_fn,
    prestaged: tuple[int, list, list] | None = None,
    stream_txn: dict | None = None,
) -> dict:
    """Stage-validate-CAS loop; returns the winning log entry.

    ``stage_fn(read_version) -> (adds, removes)`` stages data files
    computed FROM the snapshot at ``read_version``.  ``prestaged``
    injects an already-staged attempt (read_version, adds, removes) —
    how callers model a writer that staged BEFORE a rival committed.

    Each attempt validates against every commit in
    ``(read_version, head]``: a semantic conflict (``_conflicts_with``)
    forces a re-stage from the new head; a lost CAS with NO semantic
    conflict just bumps the version and re-tries the same staged files
    (Delta: blind appends never re-write their data).
    """
    if prestaged is not None:
        read_version, adds, removes = prestaged
    else:
        read_version = table_head(table_path)
        adds, removes = stage_fn(read_version)
    conflicts: list[dict] = []
    for attempt in range(1, MAX_ATTEMPTS + 1):
        commit_vs, ckpt_vs = _log_versions(table_path)
        head = _head(commit_vs, ckpt_vs)
        # validation needs EVERY commit in (read_version, head]; log
        # retention (vacuum_log) may have retired part of that window,
        # in which case the transaction cannot prove itself conflict-
        # free and must restart from a fresh snapshot (Delta raises the
        # same way when a txn outlives the log retention period)
        oldest = commit_vs[0] if commit_vs else head + 1
        if read_version < oldest - 1 and head > read_version:
            raise RuntimeError(
                f"txn {txn}: read snapshot v{read_version} predates the"
                f" log-retention horizon (oldest retained commit:"
                f" v{oldest}); restart from a fresh snapshot"
            )
        conflict = None
        for v in commit_vs:
            if v <= read_version:
                continue
            other = _load(table_path, v)
            kind = _conflicts_with(action, domain, other)
            if kind is not None:
                conflict = {"kind": kind, "with_version": other["version"]}
                break
        if conflict is not None:
            conflicts.append(conflict)
            read_version = head
            adds, removes = stage_fn(read_version)
            continue
        entry = {
            "version": head + 1,
            "txn": txn,
            "action": action,
            "domain": sorted(domain) if domain is not None else None,
            "read_version": read_version,
            "attempt": attempt,
            "adds": adds,
            "removes": removes,
            "conflicts": conflicts,
            "committed_at": time.time(),
        }
        if stream_txn is not None:
            entry["stream_txn"] = stream_txn
        if try_commit(table_path, head + 1, entry):
            return entry
        # lost the CAS race: loop re-validates against the winner
    raise RuntimeError(f"txn {txn}: gave up after {MAX_ATTEMPTS} attempts")


# ---- streaming micro-batch commits (the Delta `txn` action) ----------------
#
# A Structured Streaming sink achieves exactly-once by pairing Spark's
# replayable checkpoint (same batch id => same data) with an IDEMPOTENT
# commit: Delta's streaming writer records a `txn` action
# (appId, version=batchId) in every commit, and a restarted query that
# re-offers an already-committed batchId is dropped by the log instead
# of double-appending.  Same protocol here: commits carry an optional
# `stream_txn` {app_id, batch_id}; the per-app high-water mark is the
# idempotence test, and log checkpoints fold the mark forward so log
# retention cannot forget it (Delta checkpoints persist txn actions for
# exactly this reason).


def last_txn_batch(table_path: str, app_id: str) -> int:
    """Highest batch_id committed by streaming app ``app_id`` (-1 if
    never): the newest checkpoint's carried mark, advanced by the
    commits after it (the checkpoint already folded the ones before)."""
    best = after = -1
    ckpt = _latest_checkpoint(table_path, _log_versions(table_path)[1])
    if ckpt is not None:
        best = int(ckpt.get("txns", {}).get(app_id, -1))
        after = ckpt["version"]
    for c in read_commits(table_path, after):
        t = c.get("stream_txn")
        if t is not None and t["app_id"] == app_id:
            best = max(best, int(t["batch_id"]))
    return best


def commit_stream_batch(
    table_path: str,
    app_id: str,
    batch_id: int,
    df,
    part_col: str,
) -> dict | None:
    """Idempotently commit one micro-batch as a blind append; returns
    the log entry, or ``None`` when ``batch_id`` is already committed
    (a restart replaying the batch after a crash between the log commit
    and Spark's own checkpoint commit — the double-write Delta's `txn`
    action exists to absorb).  The log is parsed once, for that test:
    the commit itself validates against the commits after the head it
    staged at, usually none.

    The domain recorded on the entry is the REAL partition set the
    batch touched (derived from the staged directories), so a racing
    batch deleter/compactor on an overlapping partition sees the
    stream's append in its validation window and retries; a blind
    append itself never retries for semantic reasons, only for lost
    CAS races.
    """
    if batch_id <= last_txn_batch(table_path, app_id):
        return None
    txn = f"{app_id}#{batch_id}"
    adds = stage_partition_files(df, table_path, txn, part_col)
    if not adds:
        return None  # empty micro-batch: nothing to commit
    domain = {part for _, part in adds}
    return optimistic_commit(
        table_path,
        "append",
        domain,
        txn,
        None,
        prestaged=(table_head(table_path), adds, []),
        stream_txn={"app_id": app_id, "batch_id": int(batch_id)},
    )


# ---- log checkpointing + retention (the Delta _last_checkpoint story) -------
#
# `live_files` folds the whole commit log; at one commit per micro-batch
# that read grows linearly forever.  Delta solves it with periodic
# checkpoints — a self-contained snapshot of the live-file state at
# version V — after which (a) state reads load the newest checkpoint
# and fold only the tail, and (b) log entries at or before V can be
# retired (log retention), bounding both cost and file count.  Same
# protocol here: checkpoint files are `{V:08d}.ckpt.json`, written
# tmp-then-atomic-rename (readers never see a torn checkpoint), and
# commit files keep the `{V:08d}.json` CAS contract.

def write_log_checkpoint(table_path: str) -> int:
    """Materialize the live-file state at the current head into a
    checkpoint file; returns the checkpointed version.  Idempotent —
    re-checkpointing the same head rewrites the same content.

    Streaming-app high-water marks (`stream_txn` actions) are folded
    into the checkpoint: retiring the commits that carried them must
    not reopen the idempotence window, or a post-retention restart
    could double-append a replayed batch."""
    head = table_head(table_path)
    if head < 0:
        raise FileNotFoundError(f"no commits to checkpoint at {table_path}")
    state = live_files(table_path, head)
    prev = _latest_checkpoint(table_path, _log_versions(table_path)[1])
    txns: dict[str, int] = dict(prev.get("txns", {})) if prev else {}
    for c in read_commits(table_path):
        t = c.get("stream_txn")
        if t is not None:
            txns[t["app_id"]] = max(
                txns.get(t["app_id"], -1), int(t["batch_id"])
            )
    d = _log_dir(table_path)
    fd, tmp = tempfile.mkstemp(dir=d, prefix="._ckpt_")
    with os.fdopen(fd, "w") as f:
        json.dump({"version": head, "live": state, "txns": txns}, f)
    os.replace(tmp, d / f"{head:08d}.ckpt.json")
    return head


def _latest_checkpoint(
    table_path: str, ckpt_vs: list[int], version: int | None = None
) -> dict | None:
    """Newest of the checkpoints ``ckpt_vs`` at or below ``version``
    (None = any)."""
    below = [v for v in ckpt_vs if version is None or v <= version]
    return _load(table_path, below[-1], "ckpt.json") if below else None


def vacuum_log(table_path: str) -> int:
    """Retire every commit file at or before the newest checkpoint;
    returns the number removed.  Time travel to a version strictly
    below the checkpoint dies with it (Delta's log-retention trade) —
    `live_files` raises for such requests rather than silently
    returning a partial fold."""
    commit_vs, ckpt_vs = _log_versions(table_path)
    if not ckpt_vs:
        return 0
    victims = [v for v in commit_vs if v <= ckpt_vs[-1]]
    for v in victims:
        (_log_dir(table_path) / f"{v:08d}.json").unlink()
    return len(victims)


# ---- physical data vacuum (Delta VACUUM) ------------------------------------


def vacuum_data(table_path: str, keep_last: int = 1) -> dict:
    """Physically delete data directories unreachable from the newest
    ``keep_last`` versions — Delta's VACUUM, the step that actually
    reclaims bytes after ``vacuum_log`` has reclaimed metadata.
    Returns ``{"removed": n, "kept": m, "horizon": v}`` (directories
    deleted, top-level data directories kept).

    Reachability is the union of ``live_files`` over the retained
    version window (checkpointed-away versions are already unreadable).
    A top-level directory (``v=N`` or ``<txn>``) no reachable add lies
    in goes whole; inside a kept ``<txn>``, so does every partition
    directory no reachable add names — a batch that wrote many dates
    frees the retired ones.  ``_``/``.``-prefixed entries (the log)
    are never touched.

    Two Delta-documented hazards carry over on purpose and are pinned
    in tests rather than papered over:

    * time travel below the horizon dies at READ time (the log entry
      may survive, the bytes do not) — same failure surface as Delta;
    * a SHALLOW CLONE (``sources/lake.py``) whose source is vacuumed
      loses the cloned bytes: the clone's absolute-path adds dangle,
      and its reads fail loudly.  Source retention must outlive clones
      (the CLONE contract).
    """
    head = table_head(table_path)
    if head < 0:
        raise FileNotFoundError(f"no commits at {table_path}")
    horizon = max(0, head - keep_last + 1)
    keep: dict[str, set[str]] = {}  # top-level dir -> live partition dirs
    for v in range(horizon, head + 1):
        try:
            for rel, _part in live_files(table_path, v):
                if not os.path.isabs(rel):
                    top, *sub = Path(rel).parts
                    keep.setdefault(top, set()).update(sub)
        except FileNotFoundError:
            continue  # below the log-retention horizon: nothing to keep
    removed = kept = 0
    for child in sorted(Path(table_path).iterdir()):
        if not child.is_dir() or child.name.startswith(("_", ".")):
            continue
        if child.name not in keep:
            shutil.rmtree(child)
            removed += 1
            continue
        kept += 1
        live_parts = keep[child.name]
        if not live_parts:
            continue  # the add is the directory itself (``v=N``)
        for part in sorted(child.iterdir()):
            if part.is_dir() and part.name not in live_parts:
                shutil.rmtree(part)
                removed += 1
    return {"removed": removed, "kept": kept, "horizon": horizon}


def retire_partitions(table_path: str, min_keep_value: str) -> int:
    """Partition retention as a logged delete of every partition value
    below ``min_keep_value``, then a log checkpoint + ``vacuum_log`` and
    ``vacuum_data`` (time travel to earlier versions ends here).
    Returns the number of partition values retired."""
    retired = {part for _, part in live_files(table_path) if part < min_keep_value}
    if not retired:
        return 0
    optimistic_commit(
        table_path, "delete", retired, "retention",
        lambda rv: ([], [f for f in live_files(table_path, rv) if f[1] in retired]),
    )
    write_log_checkpoint(table_path)
    vacuum_log(table_path)
    vacuum_data(table_path)
    return len(retired)
