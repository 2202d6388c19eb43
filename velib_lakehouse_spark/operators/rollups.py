"""Materialized-rollup and slowly-changing-dimension patterns.

* ``hypertable_rollup`` — the continuous-aggregate pattern (hypertable
  rollups): maintain a fine-grained (hourly) pre-aggregate and answer
  coarser (daily) queries by *re-aggregating the rollup* instead of the
  raw events.  The exact-decimal sum convention makes the two-level
  aggregation literally equal to the direct computation (associativity),
  which the oracle asserts by computing the daily answer straight from
  the raw table.  At 100 TB this is the difference between scanning the
  events table and scanning 1/300th of it.

* ``scd2_merge`` — MERGE-less slowly-changing-dimension type 2: apply a
  deterministic change-batch to a dimension with the classic anti-join +
  union + window composition (close the old row, open the new one).
  This is the CDC/upsert shape Delta's MERGE INTO performs; expressed
  relationally it runs on any Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from velib_lakehouse_spark.catalog import load_table
from velib_lakehouse_spark.tempdirs import scratch_dir


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily stats answered from an hourly pre-aggregate (rollup reuse)."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("bucket_hour"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("v"),
            F.max("value").alias("mx"),
        )
    )
    # the coarser query consumes ONLY the rollup
    return (
        hourly.groupBy(
            F.date_format("bucket_hour", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("v"), 2).cast("double").alias("total_value"),
            F.max("mx").alias("max_value"),
        )
    )


# The deterministic "change batch": every customer in BUILDING moves to
# segment WEB, and every custkey divisible by 10 gets a 100.0 balance
# bump.  Derived from the dimension itself so the operator needs no
# side-channel input.
def _changes(c: DataFrame) -> DataFrame:
    changed = c.filter(
        (F.col("c_mktsegment") == "BUILDING") | (F.col("c_custkey") % 10 == 0)
    )
    return changed.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.when(F.col("c_mktsegment") == "BUILDING", "WEB")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.round(
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 100.0)
            .otherwise(F.col("c_acctbal")),
            2,
        ).alias("c_acctbal"),
    )


def scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 upsert without MERGE: anti-join + union + validity flags.

    Output: one row per (custkey, version) with is_current; changed keys
    carry two versions (the closed v1 and the open v2), unchanged keys
    one open v1.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
    )
    updates = _changes(load_table(spark, sf_dir, "customer"))

    # rows that actually differ from the current dimension row
    diff = updates.alias("u").join(
        c.alias("d"), "c_custkey"
    ).filter(
        (F.col("u.c_mktsegment") != F.col("d.c_mktsegment"))
        | (F.col("u.c_acctbal") != F.col("d.c_acctbal"))
    ).select("u.c_custkey", "u.c_name", "u.c_nationkey",
             "u.c_mktsegment", "u.c_acctbal")

    closed_old = c.join(diff.select("c_custkey"), "c_custkey", "left_semi").select(
        "*",
        F.lit(1).alias("version"),
        F.lit(False).alias("is_current"),
    )
    untouched = c.join(diff.select("c_custkey"), "c_custkey", "left_anti").select(
        "*", F.lit(1).alias("version"), F.lit(True).alias("is_current")
    )
    opened_new = diff.select(
        "*", F.lit(2).alias("version"), F.lit(True).alias("is_current")
    )
    return closed_old.unionByName(untouched).unionByName(opened_new)


ORACLE: dict[str, str | None] = {
    "hypertable_rollup": """
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               event_type,
               count(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS total_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    "scd2_merge": """
        WITH dim AS (
          SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                 ROUND(c_acctbal, 2) AS c_acctbal
          FROM customer
        ),
        updates AS (
          SELECT c_custkey, c_name, c_nationkey,
                 CASE WHEN c_mktsegment = 'BUILDING' THEN 'WEB'
                      ELSE c_mktsegment END AS c_mktsegment,
                 ROUND(CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 100.0
                            ELSE c_acctbal END, 2) AS c_acctbal
          FROM customer
          WHERE c_mktsegment = 'BUILDING' OR c_custkey % 10 = 0
        ),
        diff AS (
          SELECT u.* FROM updates u JOIN dim d USING (c_custkey)
          WHERE u.c_mktsegment <> d.c_mktsegment
             OR u.c_acctbal <> d.c_acctbal
        )
        SELECT d.*, 1 AS version, false AS is_current
        FROM dim d WHERE c_custkey IN (SELECT c_custkey FROM diff)
        UNION ALL
        SELECT d.*, 1 AS version, true AS is_current
        FROM dim d WHERE c_custkey NOT IN (SELECT c_custkey FROM diff)
        UNION ALL
        SELECT diff.*, 2 AS version, true AS is_current FROM diff
    """,
}

QUERIES = {
    "hypertable_rollup": hypertable_rollup,
    "scd2_merge": scd2_merge,
}


# ---- event funnel + retention cohorts --------------------------------------

FUNNEL_STAGE_WINDOW_S = 7 * 86400  # max gap between consecutive stages
WEEK_MS = 7 * 86400 * 1000


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage conversion funnel per user (view -> click ->
    purchase), each stage within FUNNEL_STAGE_WINDOW_S of the previous —
    the product-analytics staple, expressed as cascaded earliest-match
    aggregations (no window over the raw stream).

    Scale: each stage is one partial-aggregated min() per user — three
    user-keyed shuffles total; the stage frames are one row per
    qualifying user and join back user-keyed (AQE broadcasts them while
    they fit).  No per-user event sorting anywhere, so a power user
    with millions of events costs map-side min-combining, not a sort.

    Determinism: stage times are epoch-ms longs (TZ-free), gaps are
    integer comparisons.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ms")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ms").alias("view_ms"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ms") >= F.col("view_ms"))
            & (F.col("ms") <= F.col("view_ms") + FUNNEL_STAGE_WINDOW_S * 1000)
        )
        .groupBy("user_id")
        .agg(F.min("ms").alias("click_ms"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ms") >= F.col("click_ms"))
            & (F.col("ms") <= F.col("click_ms") + FUNNEL_STAGE_WINDOW_S * 1000)
        )
        .groupBy("user_id")
        .agg(F.min("ms").alias("purchase_ms"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ms",
            "click_ms",
            "purchase_ms",
            (
                F.lit(1)
                + F.when(F.col("click_ms").isNotNull(), 1).otherwise(0)
                + F.when(F.col("purchase_ms").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("funnel_depth"),
        )
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by signup week, counted
    in every later week they produced any event; retention is the share
    of the cohort still active at each offset.

    Scale: one distinct-(user, week) shuffle (partial-aggregated) and a
    user-keyed join against the cohort frame (one row per user); the
    output is cohorts x offsets rows — tiny at any corpus size.

    Determinism: weeks are integer epoch-ms buckets (floor division by
    a constant, TZ- and calendar-free); retention is ppm integer
    division.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr(f"unix_millis(ts) div {WEEK_MS}").alias("week"),
    )
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("week").alias("cohort_week"))
    )
    active = ev.select("user_id", "week").distinct()
    cells = (
        active.join(cohort, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = cohort.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return cells.join(sizes, "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        (F.expr("n_active * 1000000 div cohort_size") / F.lit(1_000_000.0)).alias(
            "retention"
        ),
    )


ORACLE["event_funnel"] = f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events
    ),
    v AS (
      SELECT user_id, CAST(min(ms) AS BIGINT) AS view_ms
      FROM ev WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT ev.user_id, CAST(min(ms) AS BIGINT) AS click_ms
      FROM ev JOIN v ON ev.user_id = v.user_id
      WHERE ev.event_type = 'click'
        AND ev.ms >= v.view_ms
        AND ev.ms <= v.view_ms + {FUNNEL_STAGE_WINDOW_S * 1000}
      GROUP BY ev.user_id
    ),
    p AS (
      SELECT ev.user_id, CAST(min(ms) AS BIGINT) AS purchase_ms
      FROM ev JOIN c ON ev.user_id = c.user_id
      WHERE ev.event_type = 'purchase'
        AND ev.ms >= c.click_ms
        AND ev.ms <= c.click_ms + {FUNNEL_STAGE_WINDOW_S * 1000}
      GROUP BY ev.user_id
    )
    SELECT v.user_id, v.view_ms, c.click_ms, p.purchase_ms,
           CAST(1 + (CASE WHEN c.click_ms IS NOT NULL THEN 1 ELSE 0 END)
                  + (CASE WHEN p.purchase_ms IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS funnel_depth
    FROM v
    LEFT JOIN c ON v.user_id = c.user_id
    LEFT JOIN p ON v.user_id = p.user_id
"""

ORACLE["retention_cohorts"] = f"""
    WITH ev AS (
      SELECT user_id, event_type,
             CAST(epoch_ms(ts) // {WEEK_MS} AS BIGINT) AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, CAST(min(week) AS BIGINT) AS cohort_week
      FROM ev WHERE event_type = 'signup' GROUP BY user_id
    ),
    active AS (SELECT DISTINCT user_id, week FROM ev),
    cells AS (
      SELECT cohort_week, week - cohort_week AS week_offset,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM active a JOIN cohort c ON a.user_id = c.user_id
      WHERE week >= cohort_week
      GROUP BY cohort_week, week - cohort_week
    ),
    sizes AS (
      SELECT cohort_week, CAST(count(DISTINCT user_id) AS BIGINT)
               AS cohort_size
      FROM cohort GROUP BY cohort_week
    )
    SELECT cells.cohort_week, cells.week_offset, cells.n_active,
           sizes.cohort_size,
           (cells.n_active * 1000000 // sizes.cohort_size) / 1000000.0
             AS retention
    FROM cells JOIN sizes ON cells.cohort_week = sizes.cohort_week
"""

QUERIES["event_funnel"] = event_funnel
QUERIES["retention_cohorts"] = retention_cohorts


PATH_TOP_N = 20


def event_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event paths: the most common length-3 event-type sequences
    users actually follow (view>click>purchase vs view>error>view ...)
    — the navigation-mining staple behind funnel design.

    Scale shape: paths come from two ``lead`` windows per user (one
    (user_id)-keyed shuffle; a power user is a sorted stream, never a
    collected array), the count is a partial-aggregated groupBy on the
    path string, and the final top-N ranks an aggregate whose size is
    bounded by |event_type|^3 (125 here) — so the partition-less
    rank window at the end orders a value-bounded frame, not the
    corpus.

    Determinism: event order is (epoch-us, event_id) — total within a
    user; ties on path counts break lexicographically.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    paths = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    rank_w = Window.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
    return (
        counts.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= PATH_TOP_N)
        .select("path", "n_occurrences", F.col("rank").cast("bigint").alias("rank"))
    )


ORACLE["event_path_mining"] = f"""
    WITH ordered AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    counts AS (
      SELECT event_type || '>' || t2 || '>' || t3 AS path,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM ordered
      WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n_occurrences, rank FROM (
      SELECT *, CAST(row_number() OVER (
               ORDER BY n_occurrences DESC, path ASC) AS BIGINT) AS rank
      FROM counts
    ) WHERE rank <= {PATH_TOP_N}
"""
QUERIES["event_path_mining"] = event_path_mining


# ---- CUBE rollup, CDC merge, rate anomaly (round 4) -------------------------


def rollup_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional CUBE aggregate over orders (status x priority).

    One pass produces all 2^2 grouping sets with map-side partial
    aggregation — the OLAP cube primitive (the GROUPING SETS sibling of
    ``grouping_sets_orders``).  Grouping flags disambiguate real NULL
    dimension values from subtotal rows; money sums go through the
    decimal convention (functions/exact.py) so every grouping set is
    engine- and partitioning-exact.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "g_status",
            "g_priority",
            "n_orders",
            "total_price",
        )
    )


ORACLE["rollup_cube_orders"] = """
    SELECT COALESCE(o_orderstatus, '(all)') AS status,
           COALESCE(o_orderpriority, '(all)') AS priority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           count(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""
QUERIES["rollup_cube_orders"] = rollup_cube_orders


# CDC changelog application (Delta-CDF / MERGE INTO semantics composed
# from joins): the event stream splits at a fixed instant into a base
# snapshot and a change batch; value < CDC_TOMBSTONE_BELOW marks a
# tombstone (delete).  Both constants are part of the operator's
# defined semantics and mirrored in the oracle.
CDC_CUTOFF_MS = 1_705_363_200_000  # 2024-01-16T00:00:00Z
CDC_TOMBSTONE_BELOW = 5.0


def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE a keyed change batch into a snapshot: upsert + tombstone.

    The lakehouse CDC-apply shape (Delta/Iceberg MERGE INTO, re-expressed
    as a full-outer join so it runs on plain parquet): per user, the
    latest pre-cutoff event (tombstones applied) is the base state; the
    latest post-cutoff event is the change.  Emitted actions: UPDATE /
    DELETE (key in both), INSERT (change only), KEEP (base only) — the
    audit a production MERGE writes to its commit log.  Latest-wins
    ordering is (ts, event_id), a total order, so the merge is a pure
    function of the data.  One shuffle per side for the latest-row
    window, one join keyed on user_id; at 100 TB the change batch is
    small relative to the snapshot and broadcast-joins.
    """
    e = load_table(spark, sf_dir, "events").withColumn(
        "ms", F.unix_millis("ts")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ms"), F.desc("event_id")
    )
    base = (
        e.filter(F.col("ms") < CDC_CUTOFF_MS)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("value") >= CDC_TOMBSTONE_BELOW)
        .select("user_id", F.col("value").alias("old_value"))
    )
    change = (
        e.filter(F.col("ms") >= CDC_CUTOFF_MS)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("value").alias("ch_value"),
            F.col("ms").alias("change_ts_ms"),
            (F.col("value") < CDC_TOMBSTONE_BELOW).alias("tomb"),
        )
    )
    merged = base.join(change, "user_id", "full_outer")
    action = (
        F.when(F.col("ch_value").isNull(), F.lit("KEEP"))
        .when(F.col("old_value").isNull() & F.col("tomb"), F.lit("NOOP"))
        .when(F.col("old_value").isNull(), F.lit("INSERT"))
        .when(F.col("tomb"), F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
    )
    new_value = F.when(F.col("tomb"), F.lit(None).cast("double")).otherwise(
        F.col("ch_value")
    )
    return merged.select(
        "user_id",
        action.alias("action"),
        "old_value",
        new_value.alias("new_value"),
        "change_ts_ms",
    )


ORACLE["cdc_merge_upsert"] = f"""
    WITH base AS (
      SELECT user_id, value AS old_value FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        FROM events WHERE epoch_ms(ts) < {CDC_CUTOFF_MS}
      ) WHERE rn = 1 AND value >= {CDC_TOMBSTONE_BELOW}
    ),
    change AS (
      SELECT user_id, value AS ch_value, ms AS change_ts_ms,
             value < {CDC_TOMBSTONE_BELOW} AS tomb
      FROM (
        SELECT user_id, value, epoch_ms(ts) AS ms,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        FROM events WHERE epoch_ms(ts) >= {CDC_CUTOFF_MS}
      ) WHERE rn = 1
    )
    SELECT COALESCE(b.user_id, c.user_id) AS user_id,
           CASE WHEN c.ch_value IS NULL THEN 'KEEP'
                WHEN b.old_value IS NULL AND c.tomb THEN 'NOOP'
                WHEN b.old_value IS NULL THEN 'INSERT'
                WHEN c.tomb THEN 'DELETE'
                ELSE 'UPDATE' END AS action,
           b.old_value,
           CASE WHEN c.tomb THEN NULL ELSE c.ch_value END AS new_value,
           c.change_ts_ms
    FROM base b FULL OUTER JOIN change c ON b.user_id = c.user_id
"""
QUERIES["cdc_merge_upsert"] = cdc_merge_upsert


# An hour is anomalous when its event count exceeds RATE_FACTOR x the
# user's own mean hourly rate (over their ACTIVE hours) — pure integer
# comparison c * n_hours > RATE_FACTOR * total, no floating point.
RATE_FACTOR = 2


def event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly rate-spike detection (abuse/bot screening).

    Two-level shape: one shuffle groups (user, hour) counts, then a
    window over user_id derives each user's total and active-hour count
    without a second aggregate-join — the partial-agg-plus-window
    pattern that keeps shuffled bytes O(user-hours).  The verdict is
    exact integer arithmetic, so it is partitioning- and engine-stable.
    """
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id",
        F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("user_id")
    stats = hourly.select(
        "user_id",
        "hour_ms",
        "n_events",
        F.sum("n_events").over(w).alias("user_total_events"),
        F.count(F.lit(1)).over(w).alias("n_active_hours"),
    )
    return stats.filter(
        F.col("n_events") * F.col("n_active_hours")
        > RATE_FACTOR * F.col("user_total_events")
    )


ORACLE["event_rate_anomaly"] = f"""
    WITH hourly AS (
      SELECT user_id, epoch_ms(date_trunc('hour', ts)) AS hour_ms,
             count(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT user_id, hour_ms, n_events,
             CAST(SUM(n_events) OVER (PARTITION BY user_id) AS BIGINT)
               AS user_total_events,
             count(*) OVER (PARTITION BY user_id) AS n_active_hours
      FROM hourly
    )
    SELECT user_id, hour_ms, n_events, user_total_events, n_active_hours
    FROM stats
    WHERE n_events * n_active_hours > {RATE_FACTOR} * user_total_events
"""
QUERIES["event_rate_anomaly"] = event_rate_anomaly


# ---- Incremental view maintenance: partial-agg merge vs recompute ----

IVM_CUT_BASE = "2000-01-01"  # view materialized over orders before this
IVM_CUT_NEW = "2001-01-01"  # delta batch: orders in [base, new)


def ivm_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: refresh a per-customer
    order rollup by MERGING the stored view with the delta batch's
    partial aggregates — never re-reading history.

    The base view (orders before ``IVM_CUT_BASE``) is materialized to
    parquet; the refresh unions it with the delta rollup (orders in
    [base, new)) and re-aggregates — sums and counts merge by addition
    (algebraic aggregates), and the average is DERIVED from the merged
    sums, the classic IVM rule (avg itself does not merge).  The query
    returns the refreshed view; the oracle recomputes it from scratch
    over the full range, so the driver's compare IS the
    incremental-equals-full identity.

    Scale shape: refresh cost is O(|view| + |delta|), independent of
    history size — the reason warehouses maintain views incrementally.
    One scan of the stored view, one pruned scan of the delta window
    (the date filter reaches the parquet scan), one merge shuffle on
    the view key.  Money stays integer cents end to end.
    """

    from velib_lakehouse_spark.functions.exact import cents

    def rollup(lo: str | None, hi: str) -> DataFrame:
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderdate") < F.lit(hi).cast("date")
        )
        if lo is not None:
            o = o.filter(F.col("o_orderdate") >= F.lit(lo).cast("date"))
        return o.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )

    view_path = scratch_dir("ivm_view_")
    rollup(None, IVM_CUT_BASE).write.mode("overwrite").parquet(view_path)
    stored = spark.read.parquet(view_path)
    delta = rollup(IVM_CUT_BASE, IVM_CUT_NEW)
    merged = (
        stored.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        "revenue_cents",
        F.expr("revenue_cents div n_orders").alias("avg_order_cents"),
    )


ORACLE["ivm_incremental_rollup"] = f"""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             // count(*) AS avg_order_cents
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{IVM_CUT_NEW} 00:00:00'
    GROUP BY o_custkey
"""
QUERIES["ivm_incremental_rollup"] = ivm_incremental_rollup


# ---- Rolling distinct active users (7-day sliding MAU/DAU) ----

ROLL_DAYS = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day rolling distinct active users over a trailing
    ``ROLL_DAYS``-day window, with the same-day count alongside — the
    DAU/WAU pair every activity dashboard is built on.

    Distinct-count does NOT compose over sliding windows (a user active
    on two days must count once), so the window cannot be a frame over
    a pre-aggregated daily series.  The scale-correct shape: dedup
    activity to (user, day) once, then join against the DAY SPINE — a
    calendar-bounded frame that stays broadcastable at ANY corpus
    scale (10 years = 3 653 rows) — with a range predicate, and count
    distinct users per spine day.  Fan-out is exactly ROLL_DAYS rows
    per (user, day): linear, partitioned by spine day.
    """
    e = load_table(spark, sf_dir, "events")
    activity = e.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("day")
    ).distinct()
    spine = activity.select(F.col("day").alias("d")).distinct()
    joined = activity.join(
        F.broadcast(spine),
        (F.col("day") <= F.col("d"))
        & (F.col("day") >= F.date_sub(F.col("d"), ROLL_DAYS - 1)),
    )
    return (
        joined.groupBy("d")
        .agg(
            F.count_distinct("u").alias("active_7d"),
            F.count_distinct(
                F.when(F.col("day") == F.col("d"), F.col("u"))
            ).alias("active_1d"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "active_7d",
            "active_1d",
        )
    )


ORACLE["rolling_active_users"] = f"""
    WITH activity AS (
      SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day FROM events
    ),
    spine AS (SELECT DISTINCT day AS d FROM activity)
    SELECT strftime(d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT a.u) AS BIGINT) AS active_7d,
           CAST(count(DISTINCT CASE WHEN a.day = s.d THEN a.u END)
                AS BIGINT) AS active_1d
    FROM spine s
    JOIN activity a
      ON a.day <= s.d AND a.day >= s.d - {ROLL_DAYS - 1}
    GROUP BY d
"""
QUERIES["rolling_active_users"] = rolling_active_users


# ---- Sweep-line peak concurrency ----


def peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent users per day, by sweep line: each user's daily
    activity interval [first event, last event] contributes a +1 at its
    start and a -1 after its end; the running sum over the
    time-ordered deltas is the instantaneous concurrency, whose max is
    the day's peak — the classic interval-overlap counting algorithm,
    impossible to express as a plain groupBy (overlap is an ORDER
    property).

    Tie policy: touching intervals count as concurrent — at equal
    timestamps +1 sorts before -1 (delta descending), with user id as
    the final tiebreak so the running sum is deterministic under any
    partitioning.

    Scale shape: the interval build is one (user, day) aggregation;
    the sweep is one window partitioned BY DAY — a day's deltas are
    2 x daily-active-users, so partitions stay bounded and days
    parallelize.  Output: one row per day with peak concurrency and
    the number of active users (peak <= active always).
    """
    e = load_table(spark, sf_dir, "events")
    iv = (
        e.select(
            F.col("user_id").alias("u"),
            F.to_date("ts").alias("day"),
            F.col("ts").alias("t"),
        )
        .groupBy("u", "day")
        .agg(F.min("t").alias("lo"), F.max("t").alias("hi"))
    )
    deltas = iv.select(
        "day", F.col("lo").alias("t"), F.lit(1).alias("delta"), "u"
    ).unionByName(
        iv.select(
            "day", F.col("hi").alias("t"), F.lit(-1).alias("delta"), "u"
        )
    )
    sweep = Window.partitionBy("day").orderBy(
        F.col("t").asc(), F.col("delta").desc(), F.col("u").asc()
    )
    running = deltas.select(
        "day", F.sum("delta").over(sweep).alias("conc")
    )
    return (
        running.groupBy("day")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrent"))
        .join(
            iv.groupBy("day").agg(
                F.count(F.lit(1)).alias("n_active_users")
            ),
            "day",
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_concurrent",
            "n_active_users",
        )
    )


ORACLE["peak_concurrency_daily"] = """
    WITH iv AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS day,
             min(ts) AS lo, max(ts) AS hi
      FROM events GROUP BY 1, 2
    ),
    deltas AS (
      SELECT day, lo AS t, 1 AS delta, u FROM iv
      UNION ALL
      SELECT day, hi AS t, -1 AS delta, u FROM iv
    ),
    running AS (
      SELECT day,
             sum(delta) OVER (PARTITION BY day
                              ORDER BY t ASC, delta DESC, u ASC
                              ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    )
    SELECT strftime(r.day, '%Y-%m-%d') AS day,
           CAST(max(r.conc) AS BIGINT) AS peak_concurrent,
           CAST(a.n AS BIGINT) AS n_active_users
    FROM running r
    JOIN (SELECT day, count(*) AS n FROM iv GROUP BY day) a
      ON a.day = r.day
    GROUP BY r.day, a.n
"""
QUERIES["peak_concurrency_daily"] = peak_concurrency_daily


# ---- CUSUM change-point audit (Page 1954) ----


def cusum_changepoint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user change-point detection by the CUSUM statistic: the
    maximum deviation of the running sum from its linear interpolation,
    ``D_t = |S_t * n - t * S_n|`` — large when the series' mean shifts
    partway through (the statistic behind Page's cumulative-sum control
    chart).  Emits per user the series length, the total, the max
    deviation (scaled by n to stay integer — no division), and the
    earliest index attaining it.

    Scale shape: values centify map-side; ONE shuffle on user_id
    drives the ordering window (row_number + running sum + the full-
    partition n/S_n aggregates all share it), then a per-user argmax
    aggregation over (D, -t) structs — O(1) state per user.  Ordering
    carries event_id as the unique tiebreak.
    """
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        F.col("user_id").alias("u"),
        F.col("ts").alias("t"),
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("v"),
    )
    ow = Window.partitionBy("u").orderBy("t", "event_id")
    full = Window.partitionBy("u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.partitionBy("u").orderBy("t", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = base.select(
        "u",
        F.row_number().over(ow).alias("rn"),
        F.sum("v").over(cum).alias("s_t"),
        F.count(F.lit(1)).over(full).alias("n"),
        F.sum("v").over(full).alias("s_n"),
    ).select(
        "u",
        "rn",
        "n",
        "s_n",
        F.abs(F.col("s_t") * F.col("n") - F.col("rn") * F.col("s_n")).alias(
            "d"
        ),
    )
    return (
        scored.groupBy("u")
        .agg(
            F.max("n").alias("n_events"),
            F.max("s_n").alias("total_centi"),
            F.max("d").alias("d_max_scaled"),
            F.min(F.struct(F.negate(F.col("d")).alias("nd"), F.col("rn")))
            .getField("rn")
            .alias("t_star"),
        )
        .select(
            F.col("u").alias("user_id"),
            "n_events",
            "total_centi",
            "d_max_scaled",
            F.col("t_star").cast("bigint").alias("t_star"),
        )
    )


ORACLE["cusum_changepoint_audit"] = """
    WITH base AS (
      SELECT user_id AS u, ts AS t, event_id,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    scored AS (
      SELECT u,
             row_number() OVER w AS rn,
             sum(v) OVER (PARTITION BY u ORDER BY t, event_id
                          ROWS UNBOUNDED PRECEDING) AS s_t,
             CAST(count(*) OVER (PARTITION BY u) AS BIGINT) AS n,
             CAST(sum(v) OVER (PARTITION BY u) AS BIGINT) AS s_n
      FROM base
      WINDOW w AS (PARTITION BY u ORDER BY t, event_id)
    ),
    dd AS (
      SELECT u, rn, n, s_n, abs(s_t * n - rn * s_n) AS d FROM scored
    )
    SELECT u AS user_id,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(max(s_n) AS BIGINT) AS total_centi,
           CAST(max(d) AS BIGINT) AS d_max_scaled,
           CAST(min(CASE WHEN d = md THEN rn END) AS BIGINT) AS t_star
    FROM (SELECT *, max(d) OVER (PARTITION BY u) AS md FROM dd)
    GROUP BY u
"""
QUERIES["cusum_changepoint_audit"] = cusum_changepoint_audit


# ---- Seasonal-naive forecast backtest ----

SEASON_MS = 24 * 3600 * 1000  # daily seasonality


def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict this hour =
    same hour yesterday) over each user's hourly value series — the
    baseline every forecasting system must beat, and the standard
    data-quality probe for seasonality (a small MAE means the series
    IS daily-periodic).

    Emits per user: hours scored (those with a same-hour-yesterday
    observation), MAE and mean bias in integer centi-units
    (truncated), computed over hourly TOTALS so the arithmetic stays
    exact.

    Scale shape: the hourly rollup is one (user, hour) aggregation;
    the forecast is a SHIFTED-KEY EQUI-JOIN of the series onto itself
    (hour = hour - 24h) — no window, no range join, co-partitioned on
    the same key, so the whole backtest is two shuffles of one compact
    series regardless of raw event volume.

    The series frame feeds BOTH sides of that self-join, so it is
    pinned — without the persist the raw-event scan+rollup replays per
    branch and compounds (measured 8.4x time for 4x data at 256x,
    SCALE.md r5; the same class as the rfm_segmentation fix).  Cache
    lifetime: module convention, operators/dedup.py:38.
    """
    e = load_table(spark, sf_dir, "events")
    series = (
        e.select(
            F.col("user_id").alias("u"),
            F.expr(f"unix_millis(ts) div {SEASON_MS // 24}").alias("hour"),
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
        .groupBy("u", "hour")
        .agg(F.sum("v").alias("total"))
        .persist()
    )
    fc = series.select(
        "u",
        (F.col("hour") + 24).alias("hour"),
        F.col("total").alias("forecast"),
    )
    scored = series.join(fc, ["u", "hour"]).select(
        "u",
        (F.col("total") - F.col("forecast")).alias("err"),
    )
    return (
        scored.groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("n_hours_scored"),
            F.sum(F.abs(F.col("err"))).alias("abs_err_sum"),
            F.sum("err").alias("err_sum"),
        )
        .select(
            F.col("u").alias("user_id"),
            "n_hours_scored",
            F.expr("abs_err_sum div n_hours_scored").alias("mae_centi"),
            F.expr("err_sum div n_hours_scored").alias("bias_centi"),
        )
    )


ORACLE["seasonal_naive_backtest"] = f"""
    WITH series AS (
      SELECT user_id AS u, epoch_ms(ts) // {SEASON_MS // 24} AS hour,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT s.u, s.total - f.total AS err
      FROM series s
      JOIN series f ON f.u = s.u AND f.hour = s.hour - 24
    )
    SELECT u AS user_id,
           CAST(count(*) AS BIGINT) AS n_hours_scored,
           CAST(sum(abs(err)) AS BIGINT) // count(*) AS mae_centi,
           CAST(sum(err) AS BIGINT) // count(*) AS bias_centi
    FROM scored GROUP BY u
"""
QUERIES["seasonal_naive_backtest"] = seasonal_naive_backtest


# ---- Integer-exact OLS trend slope per series ----


def trend_slope_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of the hourly value series: the exact OLS
    slope in closed form,
    ``slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)``, computed ENTIRELY in
    integer arithmetic (x = hour index, y = centi totals) with the
    division as a single integer div on the 1e6-scaled numerator — so
    the emitted micro-slope is bit-exact under any partitioning, unlike
    a float covariance.  Slope sign and magnitude answer "is this
    series growing?" — the screening step before any real forecaster.

    Scale shape: one (user, hour) rollup, then ONE aggregation per user
    accumulating the four sums — O(1) state per series, map-side
    partials.  Degenerate series (n < 2 or zero x-variance) emit NULL
    slope rather than a fake 0.
    """
    e = load_table(spark, sf_dir, "events")
    series = (
        e.select(
            F.col("user_id").alias("u"),
            F.expr("unix_millis(ts) div 3600000").alias("x"),
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
        .groupBy("u", "x")
        .agg(F.sum("v").alias("y"))
    )
    # rebase x per user so products stay far from int64 range
    sums = (
        series.join(
            series.groupBy("u").agg(F.min("x").alias("x0")), "u"
        )
        .select("u", (F.col("x") - F.col("x0")).alias("x"), "y")
        .groupBy("u")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    return sums.select(
        F.col("u").alias("user_id"),
        F.col("n").alias("n_hours"),
        "sy",
        F.expr(
            "CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0"
            " THEN (n * sxy - sx * sy) * 1000000 div (n * sxx - sx * sx)"
            " END"
        ).alias("slope_micro_centi_per_hour"),
    )


ORACLE["trend_slope_per_user"] = """
    WITH series AS (
      SELECT user_id AS u, epoch_ms(ts) // 3600000 AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    rb AS (
      SELECT s.u, s.x - m.x0 AS x, s.y
      FROM series s
      JOIN (SELECT u, min(x) AS x0 FROM series GROUP BY u) m ON m.u = s.u
    ),
    sums AS (
      SELECT u, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM rb GROUP BY u
    )
    SELECT u AS user_id, n AS n_hours, sy,
           CASE WHEN n >= 2 AND n * sxx - sx * sx <> 0
                THEN (n * sxy - sx * sy) * 1000000
                       // (n * sxx - sx * sx)
           END AS slope_micro_centi_per_hour
    FROM sums
"""
QUERIES["trend_slope_per_user"] = trend_slope_per_user


# ---- Integer-exact z-score outlier days ----

ZSCORE_K = 2  # flag days beyond K sigma


def zscore_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-total outlier detection at |z| > K sigma, decided
    ENTIRELY in integer arithmetic: |x - mean| > K*sigma is equivalent
    to ``(x*n - S)^2 * n > K^2 * (n*Q - S^2) * n`` ... reduced to the
    cross-multiplied form ``(x*n - S)^2 > K^2 * (n*Q - S^2)`` with
    S = sum, Q = sum of squares — no division, no sqrt, no float, so
    the verdict is bit-exact under any partitioning (a float z-score
    flips marginal days between engines).

    Emits flagged (user, day) rows with the day total and the two
    exact comparison sides.  Scale shape: one (user, day) rollup, one
    per-user aggregate joined back broadcast-light on the user key —
    two key-bounded shuffles; population stats use n >= 2 days.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.col("user_id").alias("u"),
            F.to_date("ts").alias("day"),
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
        .groupBy("u", "day")
        .agg(F.sum("v").alias("x"))
    )
    stats = daily.groupBy("u").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    return (
        daily.join(stats, "u")
        .filter(F.col("n") >= 2)
        .select(
            F.col("u").alias("user_id"),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("day_total_centi"),
            F.expr("(x * n - s) * (x * n - s)").alias("dev_sq_scaled"),
            F.expr(f"{ZSCORE_K * ZSCORE_K} * (n * q - s * s)").alias(
                "threshold_scaled"
            ),
        )
        .filter(F.col("dev_sq_scaled") > F.col("threshold_scaled"))
    )


ORACLE["zscore_outlier_days"] = f"""
    WITH daily AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT u, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s,
             CAST(sum(x * x) AS BIGINT) AS q
      FROM daily GROUP BY u
    )
    SELECT d.u AS user_id,
           strftime(d.day, '%Y-%m-%d') AS day,
           d.x AS day_total_centi,
           (d.x * t.n - t.s) * (d.x * t.n - t.s) AS dev_sq_scaled,
           {ZSCORE_K * ZSCORE_K} * (t.n * t.q - t.s * t.s)
             AS threshold_scaled
    FROM daily d JOIN stats t ON d.u = t.u
    WHERE t.n >= 2
      AND (d.x * t.n - t.s) * (d.x * t.n - t.s)
          > {ZSCORE_K * ZSCORE_K} * (t.n * t.q - t.s * t.s)
"""
QUERIES["zscore_outlier_days"] = zscore_outlier_days


# ---- Integer-exact MAD (median absolute deviation) robust outliers ----

MAD_K = 3  # flag days beyond K * MAD
MAD_MIN_DAYS = 4  # below this a median is too thin to call outliers


def _doubled_median(df: DataFrame, key: str, col: str, out: str) -> DataFrame:
    """Per-``key`` DOUBLED median of ``col``: 2*median, integer-exact.

    ``2*median = x[(n+1)//2] + x[(n+2)//2]`` over the 1-indexed sorted
    values (odd n picks the middle twice, even n the two middles), so
    the halving that makes medians fractional never happens — both
    engines select the same VALUES at the same ranks regardless of how
    row_number breaks ties between equal values.  One rank window +
    one conditional aggregation per call, both partitioned by ``key``
    — the exact-median shape that survives any partitioning because
    state per key is a single sort, not an all-pairs pass.
    """
    w = Window.partitionBy(key).orderBy(col)
    ranked = df.select(
        key,
        col,
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("n"),
    )
    return ranked.groupBy(key).agg(
        F.max("n").alias("n"),
        (
            F.sum(
                F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(col))
                .otherwise(F.lit(0))
            )
            + F.sum(
                F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col(col))
                .otherwise(F.lit(0))
            )
        ).alias(out),
    )


def mad_robust_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily-total outliers by the ROBUST rule |x - median| >
    K * MAD, decided entirely in integer arithmetic.  Where the z-score
    (``zscore_outlier_days``) lets one extreme day inflate sigma and
    mask itself, median/MAD have a 50% breakdown point — the screen a
    data-quality pipeline runs when the outliers ARE the contamination.

    Scaling trick: with ``med2 = 2*median`` and ``dev2 = |2x - med2|``
    (twice the true deviation) and ``mad4 = 2*median(dev2)`` (four
    times the true MAD), the rule |x - med| > K*MAD is exactly
    ``2*dev2 > K*mad4`` — no halving, no floats, bit-exact under any
    partitioning or engine.

    Scale shape: one (user, day) rollup, then two rank-window +
    conditional-aggregation passes (median, then MAD), all partitioned
    by user — key-bounded sorts, no global window, no all-pairs.
    ``daily`` and ``dev`` are persisted (cache-lifetime convention in
    operators/dedup.py:38): each feeds two downstream branches, and
    unpersisted the events rollup recomputes four times (isolated 64x
    stress: 53.1 s before, 7.0 s after).  Population needs
    n >= MAD_MIN_DAYS days.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.col("user_id").alias("u"),
            F.to_date("ts").alias("day"),
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
        .groupBy("u", "day")
        .agg(F.sum("v").alias("x"))
        .persist()
    )
    med = _doubled_median(daily, "u", "x", "med2")
    dev = daily.join(med, "u").select(
        "u",
        "day",
        "x",
        "n",
        "med2",
        F.abs(F.lit(2) * F.col("x") - F.col("med2")).alias("dev2"),
    ).persist()
    mad = _doubled_median(dev.select("u", "dev2"), "u", "dev2", "mad4").select(
        "u", "mad4"
    )
    return (
        dev.join(mad, "u")
        .filter(F.col("n") >= MAD_MIN_DAYS)
        .filter(F.lit(2) * F.col("dev2") > F.lit(MAD_K) * F.col("mad4"))
        .select(
            F.col("u").alias("user_id"),
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("x").alias("day_total_centi"),
            F.col("med2").alias("median_doubled"),
            F.col("dev2").alias("abs_dev_doubled"),
            F.col("mad4").alias("mad_quadrupled"),
        )
    )


ORACLE["mad_robust_outlier_days"] = f"""
    WITH daily AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT u, day, x,
             row_number() OVER (PARTITION BY u ORDER BY x) AS rn,
             count(*) OVER (PARTITION BY u) AS n
      FROM daily
    ),
    med AS (
      SELECT u, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN x ELSE 0 END)
                  + sum(CASE WHEN rn = (n + 2) // 2 THEN x ELSE 0 END)
                  AS BIGINT) AS med2
      FROM ranked GROUP BY u
    ),
    dev AS (
      SELECT d.u, d.day, d.x, m.n, m.med2,
             abs(2 * d.x - m.med2) AS dev2
      FROM daily d JOIN med m ON m.u = d.u
    ),
    dev_ranked AS (
      SELECT u, dev2,
             row_number() OVER (PARTITION BY u ORDER BY dev2) AS rn,
             count(*) OVER (PARTITION BY u) AS n
      FROM dev
    ),
    mad AS (
      SELECT u,
             CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
                  + sum(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END)
                  AS BIGINT) AS mad4
      FROM dev_ranked GROUP BY u
    )
    SELECT d.u AS user_id,
           strftime(d.day, '%Y-%m-%d') AS day,
           d.x AS day_total_centi,
           d.med2 AS median_doubled,
           d.dev2 AS abs_dev_doubled,
           m.mad4 AS mad_quadrupled
    FROM dev d JOIN mad m ON m.u = d.u
    WHERE d.n >= {MAD_MIN_DAYS}
      AND 2 * d.dev2 > {MAD_K} * m.mad4
"""
QUERIES["mad_robust_outlier_days"] = mad_robust_outlier_days


# ---- Integer-exact recency-decay engagement weighting ----

DECAY_HORIZON_DAYS = 14  # half-life = 1 day; ages past the horizon drop


def recency_decay_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted per-user engagement with EXACT power-of-two
    decay: a day aged ``a`` days (relative to the corpus max day)
    weighs ``2^(H - a)`` for a 1-day half-life — the float
    ``exp(-lambda*age)`` weighting rescaled by 2^H so every weight is
    an integer power of two and the weighted sum is bit-exact under
    any partitioning (no transcendental whose last ulp differs between
    engines).  This is the freshness score a training-data mixer uses
    to up-weight recent crawl slices.

    Scale shape: one (user, day) rollup, one 1-row global max-day
    broadcast, one final per-user aggregation with map-side partials —
    O(1) state per user, no window, no join wider than the 1-row
    scalar.  Ages beyond DECAY_HORIZON_DAYS contribute < 2^-H of the
    freshest day and are dropped exactly (weight would round below 1),
    which also caps the shifted magnitudes far inside int64.
    """
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.col("user_id").alias("u"),
            F.to_date("ts").alias("day"),
            F.expr("cast(round(value * 100) as bigint)").alias("v"),
        )
        .groupBy("u", "day")
        .agg(F.sum("v").alias("x"))
    )
    ref = daily.agg(F.max("day").alias("ref_day"))
    aged = (
        daily.crossJoin(F.broadcast(ref))
        .select(
            "u",
            "x",
            "ref_day",
            F.datediff("ref_day", "day").alias("age"),
        )
        .filter(F.col("age") <= DECAY_HORIZON_DAYS)
    )
    return aged.groupBy("u").agg(
        F.first(F.date_format("ref_day", "yyyy-MM-dd")).alias("horizon_end"),
        F.count(F.lit(1)).alias("n_days_in_horizon"),
        F.sum("x").alias("sum_centi"),
        F.sum(
            F.expr(
                f"x * shiftleft(cast(1 as bigint),"
                f" {DECAY_HORIZON_DAYS} - age)"
            )
        ).alias("decayed_scaled"),
    ).select(
        F.col("u").alias("user_id"),
        "horizon_end",
        "n_days_in_horizon",
        "sum_centi",
        "decayed_scaled",
    )


ORACLE["recency_decay_engagement"] = f"""
    WITH daily AS (
      SELECT user_id AS u, CAST(ts AS DATE) AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ),
    ref AS (SELECT max(day) AS ref_day FROM daily),
    aged AS (
      SELECT d.u, d.x, r.ref_day,
             datediff('day', d.day, r.ref_day) AS age
      FROM daily d CROSS JOIN ref r
      WHERE datediff('day', d.day, r.ref_day) <= {DECAY_HORIZON_DAYS}
    )
    SELECT u AS user_id,
           strftime(min(ref_day), '%Y-%m-%d') AS horizon_end,
           CAST(count(*) AS BIGINT) AS n_days_in_horizon,
           CAST(sum(x) AS BIGINT) AS sum_centi,
           CAST(sum(x * (CAST(1 AS BIGINT)
                         << ({DECAY_HORIZON_DAYS} - age))) AS BIGINT)
             AS decayed_scaled
    FROM aged GROUP BY u
"""
QUERIES["recency_decay_engagement"] = recency_decay_engagement


MTA_LOOKBACK_DAYS = 7  # attribution window: touches within 7 days count


def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch revenue attribution: every purchase's value is
    credited back to the click/view touches that preceded it within a
    7-day lookback, under the three classic models side by side —
    first-touch (all credit to the earliest touch), last-touch (all to
    the latest), and linear (equal split).  Purchases with no touch in
    the window credit a synthetic ``direct`` channel under all three.
    One row per channel with the three model totals — the
    marketing-attribution table every event warehouse serves.

    Exactness contract: credits are integer cents; the linear split is
    ``v div n`` per touch with the remainder ``v - n * (v div n)``
    assigned to the LAST touch, so every model's column sums to exactly
    the total purchase cents (conservation, asserted in tests).  Touch
    order is (ts, event_id) — total, so first/last are unambiguous
    under timestamp ties in both engines.

    Scale shape: ONE user-keyed shuffle joins purchases to touches
    (band predicate ``p_ts - 7d <= t_ts < p_ts`` — per-user frames
    bounded by the lookback, the same shape as ``range_join_periods``;
    AQE skew-split handles hot users); the per-purchase windows
    (row_number asc/desc + count) run inside the join's partitioning
    on frames bounded by per-user touch rate x 7 days; the final
    rollup reduces to |channels| rows.  No collects, no global windows.
    """
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_eid"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
        F.expr("cast(round(value * 100) as bigint)").alias("v"),
    )
    touches = e.filter(
        F.col("event_type").isin("click", "view")
    ).select(
        F.col("event_id").alias("t_eid"),
        F.col("user_id").alias("t_uid"),
        F.col("event_type").alias("t_type"),
        F.col("ts").alias("t_ts"),
    )
    cand = purchases.join(
        touches,
        (F.col("p_uid") == F.col("t_uid"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (
            F.col("t_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {MTA_LOOKBACK_DAYS} DAYS")
        ),
    )
    w_asc = Window.partitionBy("p_eid").orderBy(
        F.col("t_ts").asc(), F.col("t_eid").asc()
    )
    w_desc = Window.partitionBy("p_eid").orderBy(
        F.col("t_ts").desc(), F.col("t_eid").desc()
    )
    ranked = cand.select(
        "p_eid",
        "t_type",
        "v",
        F.row_number().over(w_asc).alias("rn_first"),
        F.row_number().over(w_desc).alias("rn_last"),
        F.count(F.lit(1))
        .over(Window.partitionBy("p_eid"))
        .alias("n"),
    )
    attributed = ranked.groupBy(F.col("t_type").alias("channel")).agg(
        F.count(F.lit(1)).alias("n_assignments"),
        F.sum(F.when(F.col("rn_first") == 1, F.col("v")).otherwise(0)).alias(
            "first_touch_centi"
        ),
        F.sum(F.when(F.col("rn_last") == 1, F.col("v")).otherwise(0)).alias(
            "last_touch_centi"
        ),
        F.sum(
            F.expr("v div n")
            + F.when(
                F.col("rn_last") == 1, F.expr("v - n * (v div n)")
            ).otherwise(0)
        ).alias("linear_centi"),
    )
    direct = (
        purchases.join(
            cand.select("p_eid").distinct(), "p_eid", "left_anti"
        )
        .agg(
            F.count(F.lit(1)).alias("n_assignments"),
            F.coalesce(F.sum("v"), F.lit(0)).alias("first_touch_centi"),
        )
        .select(
            F.lit("direct").alias("channel"),
            "n_assignments",
            "first_touch_centi",
            F.col("first_touch_centi").alias("last_touch_centi"),
            F.col("first_touch_centi").alias("linear_centi"),
        )
    )
    return attributed.unionByName(direct)


ORACLE["multitouch_attribution"] = f"""
    WITH purchases AS (
      SELECT event_id AS p_eid, user_id AS p_uid, ts AS p_ts,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT event_id AS t_eid, user_id AS t_uid,
             event_type AS t_type, ts AS t_ts
      FROM events WHERE event_type IN ('click', 'view')
    ),
    cand AS (
      SELECT p.p_eid, t.t_type, p.v, t.t_ts, t.t_eid
      FROM purchases p JOIN touches t
        ON t.t_uid = p.p_uid
       AND t.t_ts < p.p_ts
       AND t.t_ts >= p.p_ts - INTERVAL {MTA_LOOKBACK_DAYS} DAY
    ),
    ranked AS (
      SELECT p_eid, t_type, v,
             row_number() OVER (PARTITION BY p_eid
                                ORDER BY t_ts ASC, t_eid ASC) AS rn_first,
             row_number() OVER (PARTITION BY p_eid
                                ORDER BY t_ts DESC, t_eid DESC) AS rn_last,
             count(*) OVER (PARTITION BY p_eid) AS n
      FROM cand
    ),
    attributed AS (
      SELECT t_type AS channel,
             CAST(count(*) AS BIGINT) AS n_assignments,
             CAST(sum(CASE WHEN rn_first = 1 THEN v ELSE 0 END) AS BIGINT)
               AS first_touch_centi,
             CAST(sum(CASE WHEN rn_last = 1 THEN v ELSE 0 END) AS BIGINT)
               AS last_touch_centi,
             CAST(sum(v // n + CASE WHEN rn_last = 1
                                    THEN v - n * (v // n)
                                    ELSE 0 END) AS BIGINT) AS linear_centi
      FROM ranked GROUP BY t_type
    ),
    direct AS (
      SELECT 'direct' AS channel,
             CAST(count(*) AS BIGINT) AS n_assignments,
             CAST(coalesce(sum(v), 0) AS BIGINT) AS first_touch_centi,
             CAST(coalesce(sum(v), 0) AS BIGINT) AS last_touch_centi,
             CAST(coalesce(sum(v), 0) AS BIGINT) AS linear_centi
      FROM purchases p
      WHERE NOT EXISTS (SELECT 1 FROM cand c WHERE c.p_eid = p.p_eid)
    )
    SELECT * FROM attributed UNION ALL SELECT * FROM direct
"""
QUERIES["multitouch_attribution"] = multitouch_attribution


WQ_QS = (25, 50, 90)  # audited percentiles


def weighted_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact WEIGHTED quantiles per group — the length distribution of
    the corpus *as the trained model samples it*: a p50 document length
    weighted by token count answers "how long is the document the
    median TOKEN lives in", which is systematically larger than the
    doc-sampled median whenever long docs carry more tokens (they do).
    Emits, per language and percentile: the token-weighted quantile of
    ``n_chars``, the unweighted quantile for contrast, their gap, and
    the total token mass — the table a data-mixing owner reads before
    setting sequence lengths and packing budgets (pairs with
    ``dsir_importance_weights``, where the weights are importance
    ratios instead of token counts).

    Definition (lower weighted order statistic): q's quantile is the
    smallest value v whose cumulative weight reaches ``ceil(q/100 x
    W)``; all arithmetic is integer (targets via ``(q x W + 99) div
    100``), ties collapse by pre-aggregating weight per (lang, value),
    so both engines walk identical cumulative tables — bit-exact.

    Scale shape: ONE (lang, value)-keyed shuffle with map-side partial
    sums builds the cumulative table; the per-lang window walks frames
    bounded by DISTINCT values (not rows — the pre-aggregation is the
    scale move); quantile probes join against the bounded cumulative
    frame.  At 100 TB the same probe runs against
    ``quantile_sketch_merge_rollup``'s merged bins when within-bin
    error is acceptable; this op is the exact tier of that pair.
    """
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "lang",
        F.col("n_chars").alias("val"),
        F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias(
            "w"
        ),
    )
    vals = (
        docs.groupBy("lang", "val")
        .agg(
            F.sum("w").alias("wsum"),
            F.count(F.lit(1)).alias("csum"),
        )
        .persist()
    )
    win = Window.partitionBy("lang").orderBy("val").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vals.select(
        "lang",
        "val",
        F.sum("wsum").over(win).alias("cumw"),
        F.sum("csum").over(win).alias("cumn"),
    ).persist()
    totals = vals.groupBy("lang").agg(
        F.sum("wsum").alias("total_w"), F.sum("csum").alias("n_docs")
    )
    probes = totals.select(
        "lang",
        "total_w",
        "n_docs",
        F.explode(F.array(*[F.lit(q) for q in WQ_QS])).alias("q"),
    ).select(
        "lang",
        F.col("q").cast("bigint").alias("q"),
        "total_w",
        "n_docs",
        F.expr("(q * total_w + 99) div 100").alias("target_w"),
        F.expr("(q * n_docs + 99) div 100").alias("target_n"),
    )
    wq = (
        probes.join(
            cum.select(
                F.col("lang").alias("clang"), "val", "cumw"
            ),
            (F.col("lang") == F.col("clang"))
            & (F.col("cumw") >= F.col("target_w")),
        )
        .groupBy("lang", "q")
        .agg(F.min("val").alias("weighted_q_chars"))
    )
    uq = (
        probes.join(
            cum.select(
                F.col("lang").alias("clang"), "val", "cumn"
            ),
            (F.col("lang") == F.col("clang"))
            & (F.col("cumn") >= F.col("target_n")),
        )
        .groupBy("lang", "q")
        .agg(F.min("val").alias("unweighted_q_chars"))
    )
    return (
        probes.select("lang", "q", "total_w", "n_docs")
        .join(wq, ["lang", "q"])
        .join(uq, ["lang", "q"])
        .select(
            "lang",
            "q",
            "total_w",
            "n_docs",
            "weighted_q_chars",
            "unweighted_q_chars",
            (
                F.col("weighted_q_chars") - F.col("unweighted_q_chars")
            ).alias("weight_shift_chars"),
        )
    )


ORACLE["weighted_quantiles_exact"] = f"""
    WITH docs AS (
      SELECT lang, n_chars AS val,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x <> '')) AS BIGINT) AS w
      FROM documents
    ),
    vals AS (
      SELECT lang, val, CAST(sum(w) AS BIGINT) AS wsum,
             CAST(count(*) AS BIGINT) AS csum
      FROM docs GROUP BY lang, val
    ),
    cum AS (
      SELECT lang, val,
             CAST(sum(wsum) OVER (PARTITION BY lang ORDER BY val
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
             CAST(sum(csum) OVER (PARTITION BY lang ORDER BY val
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumn
      FROM vals
    ),
    totals AS (
      SELECT lang, CAST(sum(wsum) AS BIGINT) AS total_w,
             CAST(sum(csum) AS BIGINT) AS n_docs
      FROM vals GROUP BY lang
    ),
    probes AS (
      SELECT lang, CAST(q AS BIGINT) AS q, total_w, n_docs,
             (q * total_w + 99) // 100 AS target_w,
             (q * n_docs + 99) // 100 AS target_n
      FROM totals
      CROSS JOIN (SELECT unnest(ARRAY{list(WQ_QS)}) AS q)
    ),
    wq AS (
      SELECT p.lang, p.q, min(c.val) AS weighted_q_chars
      FROM probes p JOIN cum c
        ON c.lang = p.lang AND c.cumw >= p.target_w
      GROUP BY p.lang, p.q
    ),
    uq AS (
      SELECT p.lang, p.q, min(c.val) AS unweighted_q_chars
      FROM probes p JOIN cum c
        ON c.lang = p.lang AND c.cumn >= p.target_n
      GROUP BY p.lang, p.q
    )
    SELECT p.lang, p.q, p.total_w, p.n_docs,
           wq.weighted_q_chars, uq.unweighted_q_chars,
           wq.weighted_q_chars - uq.unweighted_q_chars
             AS weight_shift_chars
    FROM probes p
    JOIN wq ON wq.lang = p.lang AND wq.q = p.q
    JOIN uq ON uq.lang = p.lang AND uq.q = p.q
"""
QUERIES["weighted_quantiles_exact"] = weighted_quantiles_exact


IVMJ_O_MOD = 10  # orders with o_orderkey % 10 == 0 arrive as the delta
IVMJ_L_MOD = 7   # lineitems with l_orderkey % 7 == 0 arrive as the delta


def ivm_join_view_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta-rule classic
    that ``ivm_incremental_rollup`` (aggregate-only) cannot express:
    with inserts dA and dB arriving on BOTH sides of V = A |><| B, the
    view delta is the three-term rule

        dV = dA |><| B  UNION ALL  A |><| dB  UNION ALL  dA |><| dB

    (A, B = pre-delta states; missing any term loses rows, counting
    dA |><| dB twice duplicates them — the audit proves the refreshed
    view equals a from-scratch rebuild row for row).  The view here is
    daily revenue (exact scale-4 micro-units, the repo's
    cents(a) * cents(b) pure-long convention) over orders |><|
    lineitem; deltas are the
    deterministic slices o_orderkey % {O} == 0 / l_orderkey % {L} == 0,
    so both engines replay the identical ingest.  Emits one row per
    order date: the incrementally-refreshed aggregates, the
    from-scratch rebuild, and the match verdicts.

    Scale shape: each delta term is ONE keyed shuffle whose probe side
    is delta-bounded (at 100 TB: dA |><| B prunes B to delta keys via
    the join itself — cost O(|delta| x match fan-out), never a history
    rescan; the aggregate merge is addition on the view key, the same
    algebraic-merge rule as the rollup IVM).  The from-scratch side
    exists only because this is an audit.  Money stays integer cents.
    """
    from velib_lakehouse_spark.functions.exact import cents_product

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        (F.col("o_orderkey") % IVMJ_O_MOD == 0).alias("is_delta_o"),
    )
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        cents_product(
            F.col("l_extendedprice"), 1 - F.col("l_discount")
        ).alias("rev"),
        (F.col("l_orderkey") % IVMJ_L_MOD == 0).alias("is_delta_l"),
    )
    o_base = o.filter(~F.col("is_delta_o"))
    o_delta = o.filter("is_delta_o")
    l_base = l.filter(~F.col("is_delta_l"))
    l_delta = l.filter("is_delta_l")

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderdate").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rev").alias("rev_micro"),
        )

    j = lambda a, b: a.join(b, a["o_orderkey"] == b["l_orderkey"])  # noqa: E731
    v_old = agg(j(o_base, l_base))
    dv = agg(
        j(o_delta, l_base)
        .select("o_orderdate", "rev")
        .unionByName(j(o_base, l_delta).select("o_orderdate", "rev"))
        .unionByName(j(o_delta, l_delta).select("o_orderdate", "rev"))
    )
    refreshed = (
        v_old.unionByName(dv)
        .groupBy("o_orderdate")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("rev_micro").alias("rev_micro"),
        )
    )
    rebuilt = agg(j(o, l)).select(
        F.col("o_orderdate").alias("rdate"),
        F.col("n_lines").alias("full_n_lines"),
        F.col("rev_micro").alias("full_rev_micro"),
    )
    return (
        refreshed.join(
            rebuilt, refreshed["o_orderdate"] == rebuilt["rdate"], "full"
        )
        .select(
            F.coalesce("o_orderdate", "rdate").alias("o_orderdate"),
            F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
            F.coalesce("rev_micro", F.lit(0)).alias("rev_micro"),
            F.coalesce("full_n_lines", F.lit(0)).alias("full_n_lines"),
            F.coalesce("full_rev_micro", F.lit(0)).alias("full_rev_micro"),
        )
        .select(
            "o_orderdate",
            "n_lines",
            "rev_micro",
            (F.col("n_lines") == F.col("full_n_lines")).alias(
                "n_matches"
            ),
            (F.col("rev_micro") == F.col("full_rev_micro")).alias(
                "rev_matches"
            ),
        )
    )


ORACLE["ivm_join_view_delta"] = f"""
    WITH o AS (
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
             o_orderkey % {IVMJ_O_MOD} = 0 AS is_delta_o
      FROM orders
    ),
    l AS (
      SELECT l_orderkey,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round((1 - l_discount) * 100) AS BIGINT) AS rev,
             l_orderkey % {IVMJ_L_MOD} = 0 AS is_delta_l
      FROM lineitem
    ),
    v_old AS (
      SELECT o_orderdate, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(rev) AS BIGINT) AS rev_micro
      FROM o JOIN l ON l.l_orderkey = o.o_orderkey
      WHERE NOT is_delta_o AND NOT is_delta_l
      GROUP BY o_orderdate
    ),
    dv AS (
      SELECT o_orderdate, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(rev) AS BIGINT) AS rev_micro
      FROM (
        SELECT o.o_orderdate, l.rev
        FROM o JOIN l ON l.l_orderkey = o.o_orderkey
        WHERE is_delta_o AND NOT is_delta_l
        UNION ALL
        SELECT o.o_orderdate, l.rev
        FROM o JOIN l ON l.l_orderkey = o.o_orderkey
        WHERE NOT is_delta_o AND is_delta_l
        UNION ALL
        SELECT o.o_orderdate, l.rev
        FROM o JOIN l ON l.l_orderkey = o.o_orderkey
        WHERE is_delta_o AND is_delta_l
      )
      GROUP BY o_orderdate
    ),
    refreshed AS (
      SELECT o_orderdate, CAST(sum(n_lines) AS BIGINT) AS n_lines,
             CAST(sum(rev_micro) AS BIGINT) AS rev_micro
      FROM (SELECT * FROM v_old UNION ALL SELECT * FROM dv)
      GROUP BY o_orderdate
    ),
    rebuilt AS (
      SELECT o_orderdate AS rdate, CAST(count(*) AS BIGINT) AS full_n_lines,
             CAST(sum(rev) AS BIGINT) AS full_rev_micro
      FROM o JOIN l ON l.l_orderkey = o.o_orderkey
      GROUP BY o_orderdate
    )
    SELECT coalesce(r.o_orderdate, b.rdate) AS o_orderdate,
           coalesce(r.n_lines, 0) AS n_lines,
           coalesce(r.rev_micro, 0) AS rev_micro,
           coalesce(r.n_lines, 0) = coalesce(b.full_n_lines, 0)
             AS n_matches,
           coalesce(r.rev_micro, 0) = coalesce(b.full_rev_micro, 0)
             AS rev_matches
    FROM refreshed r FULL JOIN rebuilt b ON b.rdate = r.o_orderdate
"""
QUERIES["ivm_join_view_delta"] = ivm_join_view_delta
