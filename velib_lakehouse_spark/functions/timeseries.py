"""Time-series window helpers (the reference's core temporal semantics).

The reference expresses all time-series behaviour relationally with
window functions (reference src/assets/velib_alerte.py:45-48 dedup-to-
latest; the implied history silver's lag/moving-average columns,
SURVEY.md §2.9).  These helpers package those idioms:

* ``latest_per_key``   — top-1-per-group dedup (row_number desc == 1)
* ``net_flow``         — value minus previous value per key (lag)
* ``trailing_avg``     — range-frame average over a trailing window of
  seconds, computed in exact decimal (``DEC``)

All of them shuffle once on the partition key and nothing else — the
window ordering rides the same hash partitioning, which is the plan you
want on a cluster (one exchange per key-change, no driver involvement).
Every ordering includes a tiebreak column; with a unique one (event_id)
results are total-ordered and reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the exact-sum decimal type; functions/exact.py imports it from here
DEC = "decimal(18,4)"


def latest_per_key(df: DataFrame, key: str, order: str, tiebreak: str) -> DataFrame:
    """Dedup to the most recent row per key.

    Mirrors reference src/assets/velib_alerte.py:45-48 (row_number over
    PARTITION BY station ORDER BY last_reported DESC, rank == 1), with an
    explicit tiebreak: ``event_id`` makes it total; gold breaks a
    (station, ts) tie on ``bikes_available``.
    """
    w = Window.partitionBy(key).orderBy(F.col(order).desc(), F.col(tiebreak).desc())
    out = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return out.drop("rn")


def net_flow(key: str, order: str, tiebreak: str, value: str) -> Column:
    """value - lag(value) per key: the reconstructed ``net_flow`` column
    (SURVEY.md §2.9; consumed as ``trend`` by reference
    src/assets/velib_alerte.py:54,61).  NULL on each key's first row —
    downstream ``trend <= 0`` predicates treat NULL as non-matching in
    both Spark and ANSI SQL, which is the pinned behaviour.
    """
    w = Window.partitionBy(key).orderBy(F.col(order).asc(), F.col(tiebreak).asc())
    return F.col(value) - F.lag(value).over(w)


def trailing_avg_seconds(key: str, ts: str, value: str, seconds: int) -> Column:
    """Trailing ``seconds``-window average per key (RANGE frame), exact.

    The reconstructed ``moving_avg_1h`` (SURVEY.md §2.9): a RANGE frame
    over epoch seconds, inclusive at both ends — matching DuckDB's
    ``RANGE BETWEEN n PRECEDING AND CURRENT ROW`` over
    ``CAST(floor(epoch(ts)) AS BIGINT)``.  Sum is decimal-exact so the
    double result is identical across engines and partitionings.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).cast("long"))
        .rangeBetween(-seconds, 0)
    )
    exact_sum = F.sum(F.col(value).cast(DEC)).over(w).cast("double")
    return F.round(exact_sum / F.count(value).over(w), 6)
