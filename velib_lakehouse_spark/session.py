"""SparkSession factory.

Mirrors the capability of the reference's session builder
(reference src/resources.py:67-104: local master, small shuffle-partition
count, S3A credentials, explicit memory sizing) re-expressed for a
generic deployment: AQE on, UTC session time zone, Arrow enabled for the
pandas interop paths.  On a real cluster the same builder is used with
``master`` unset (picked up from spark-submit) — nothing here is
local-mode specific except the defaults.

The driver JVM this factory launches starts with
``-XX:CompileThresholdScaling=5`` (``DRIVER_JIT_OPTS``): every JIT tier's
compile thresholds are five times the HotSpot default.  A medallion step
is a short job in a cold JVM -- the reference materializes each layer
every 5 minutes in its own ``local[1]`` session, draining with
``Trigger.AvailableNow`` -- and at the default thresholds HotSpot spends
much of that job compiling Spark's own code, which stops being hot before
the compiled code pays back.  JVM CPU by thread (``tools/tick_cost.py``,
1,500 stations, 3 h history, 4 cores), default -> scaled: the C1/C2
compiler threads used >= 5.2 -> 2.3 of the 15.5 -> 8.9 CPU-s of session
start, >= 14.8 -> 8.1 of the 31.3 -> 24.1 CPU-s of the history drain
(task threads 5.4 -> 5.9), and 2.6 -> 1.0 CPU-s of the first steady
tick.  Whole-stage codegen compiles nothing new after the drain, so this
is tier-up, not query compilation.  With the scaling, briefly-hot code
stays in the interpreter or C1 while loops that run long still reach C2.
Stopping at C1 (``-XX:TieredStopAtLevel=1``) saves more at start, but at
a 1-day history a tick's CPU doubles, because C1 code runs slower.  The
option applies only to the local-mode JVM started here: on a cluster
spark-submit launches the executors and sets their options, and a
session built elsewhere keeps its own JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that are runtime-settable and that every query in this package
# depends on.  They are (re-)applied defensively by the catalog layer
# because the harness may hand us a session we did not build.
SAFE_RUNTIME_CONFS: dict[str, str] = {
    # Oracle comparisons (DuckDB) use naive/UTC timestamps.
    "spark.sql.session.timeZone": "UTC",
    # The events table has been generated both as parquet TIMESTAMP(NANOS)
    # (no native Spark type; read as nanosecond longs and converted by the
    # catalog) and as naive microsecond timestamps (which Spark 4 would
    # otherwise infer as TIMESTAMP_NTZ — a type unix_millis & friends
    # reject).  Reading naive us-timestamps as plain TimestampType under
    # the UTC session gives the same instants DuckDB sees.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Launch-time option of the driver JVM (see the module docstring).
DRIVER_JIT_OPTS = "-XX:CompileThresholdScaling=5"


def get_spark(
    app_name: str = "velib-lakehouse-spark",
    cpus: int | str | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (falls back to ``*``).
    Shuffle partitions follow the core count — at local scale the
    200-partition default just adds scheduling overhead; on a cluster
    size ``spark.sql.shuffle.partitions`` to ~2-3x total cores through
    ``extra_confs`` (AQE coalesces down).
    A ``spark.driver.extraJavaOptions`` in ``extra_confs`` is appended
    after ``DRIVER_JIT_OPTS``; the JVM keeps the last copy of a repeated
    ``-XX`` flag, so the caller's value wins.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    shuffle_partitions = int(cpus) if str(cpus).isdigit() else 32

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Heap sizing: local mode leaves the JVM at the 1 GiB pyspark
        # default, which is nothing like a production executor.  On a
        # cluster this comes from spark-submit; locally the stress/scale
        # harnesses export SPARK_GRAFT_DRIVER_MEM to size the single JVM
        # like the machine it runs on (measured: the 16x scale stress
        # dies in BroadcastExchange under the 1 GiB default).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "1g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, and dynamic join-strategy switching.  This is the
        # 100TB-scale answer to skewed keys and mis-sized shuffles.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-interop boundary (pandas_udf/mapInPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in SAFE_RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    confs = dict(extra_confs or {})
    java_opts = " ".join(
        filter(None, [DRIVER_JIT_OPTS, confs.pop("spark.driver.extraJavaOptions", "")])
    )
    builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in confs.items():
        builder = builder.config(k, v)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


from contextlib import contextmanager


@contextmanager
def tuned_shuffle(spark: SparkSession, n: int | None = None):
    """Temporarily size shuffle partitions to the machine (restored on
    exit).  Stateful streaming and iterative jobs otherwise inherit the
    session default (often 200), which at small-cluster/local scale is
    pure task-scheduling overhead per micro-batch/iteration."""
    n = n or spark.sparkContext.defaultParallelism
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


_SHIPPED: set[str] = set()


def ensure_package_on_workers(spark: SparkSession) -> None:
    """Ship this package to executor Python workers.

    Module-level functions used in pandas UDFs are cloudpickled *by
    reference* — workers must be able to ``import velib_lakehouse_spark``.
    When the driver process wasn't started from the repo root (any real
    harness), that import fails; zipping the package and ``addPyFile``-ing
    it makes every operator self-contained regardless of cwd or cluster
    layout.  Idempotent per SparkContext.  The zip sits in a
    ``tempdirs.scratch_dir``, removed at process exit.
    """
    sc = spark.sparkContext
    app_id = sc.applicationId  # unique per context (id() could be reused)
    if app_id in _SHIPPED:
        return
    import zipfile

    # imported here: the medallion core never ships the package
    from velib_lakehouse_spark import tempdirs

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempdirs.scratch_dir("velib_pkg_"), "velib_lakehouse_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    sc.addPyFile(zpath)
    _SHIPPED.add(app_id)


def apply_safe_confs(spark: SparkSession) -> None:
    """Apply the runtime confs this package's queries rely on.

    Safe to call repeatedly; used when the session was built elsewhere.
    """
    for k, v in SAFE_RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - immutable conf on some builds
            pass
