"""The registry queries that build a table or ship the package leave
nothing in the temp directory once their process exits: every scratch
directory the package makes sits under ``tempdirs.scratch_dir``'s
per-process root, which one exit hook removes."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

from tests.conftest import SF_DIR

ROOT = pathlib.Path(__file__).resolve().parents[1]

# one query per kind of scratch-directory user: log tables, a snapshot,
# the streaming sinks and checkpoints, a parquet drain, a view, a CSV
# export, the cached file-skipping layout, and the package zip a pandas
# UDF ships to the Python workers
TABLE_BUILDERS = [
    "lake_partition_pruned",
    "lake_gold_snapshot",
    "snapshot_diff_cdc",
    "lake_file_skipping",
    "streaming_backfill_merge",
    "streaming_silver_availablenow",
    "streaming_gold_foreachbatch",
    "streaming_windowed_counts",
    "ivm_incremental_rollup",
    "csv_roundtrip_scan",
    "arrow_batch_stats",
]

_RUN = """
import sys
from velib_lakehouse_spark import registry
from velib_lakehouse_spark.session import get_spark

spark = get_spark(cpus=2)
for name in sys.argv[2:]:
    assert registry.QUERIES[name](spark, sys.argv[1]).collect()
spark.stop()
"""


def test_table_building_queries_leave_no_temp_dir(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ, TMPDIR=str(tmp), SPARK_LOCAL_DIRS=str(tmp_path / "spark-local")
    )
    subprocess.run(
        [sys.executable, "-c", _RUN, SF_DIR, *TABLE_BUILDERS],
        cwd=ROOT,
        env=env,
        check=True,
        timeout=900,
    )
    assert sorted(os.listdir(tmp)) == []


def test_package_makes_temp_dirs_only_through_scratch_dir():
    pkg = ROOT / "velib_lakehouse_spark"
    callers = [
        str(p.relative_to(pkg))
        for p in pkg.rglob("*.py")
        if "mkdtemp(" in p.read_text() and p.name != "tempdirs.py"
    ]
    assert callers == []
