"""Seeded Vélib-shaped input generator for the medallion benchmark.

One station reading per station per 5-minute tick, one parquet file per
tick, laid out the way ``velib_lakehouse_spark`` reads a scale-factor
directory:

* ``events.parquet/`` is a directory with one part file per tick; the
  streaming silver job (``streaming.silver._event_stream``) streams it
  and ``catalog.load_table`` reads it as one table;
* ``customer.parquet`` is the station dimension; a seeded share of its
  stations never reports, so ``/health/pipeline`` sees zombie stations.

Columns of ``events``: ``event_id`` (monotone across ticks), ``ts``
(naive microsecond timestamp jittered inside its tick), ``user_id`` (the
station), ``event_type``, ``value`` (bikes, a bounded random walk on a
0.01 grid so both signs of ``net_flow`` occur and a share of stations
sits under the 10 and 50 alert thresholds) and ``props`` = ``{"k": n}``.

Everything derives from the seed: the same seed and sizes give
byte-identical files.  ``python3 perfbench/gen.py --seed 1 --out DIR``
writes a small lake for inspection.
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TICK_S = 300
# Two hours before midnight UTC: lakes of more than 24 ticks span two
# silver date partitions, as a real backlog or history does.
EPOCH_US = 1_709_330_400 * 1_000_000  # 2024-03-01T22:00:00
VALUE_MAX = 200.0
STEP_MAX = 12.0
EVENT_TYPES = np.array(["station_status", "station_status", "station_status", "dock_change"])

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


@dataclass
class StationFeed:
    """Deterministic per-tick reading source for ``n_stations`` stations.

    Tick ``i`` depends only on the seed and ``i``'s predecessors, so a
    feed can be advanced one tick at a time (the tick workload lands
    files as it goes) and still match a feed generated in one pass.
    """

    seed: int
    n_stations: int
    n_zombies: int

    def __post_init__(self) -> None:
        rng = np.random.default_rng([self.seed, 0])
        n_dim = self.n_stations + self.n_zombies
        keys = np.arange(1, n_dim + 1, dtype=np.int64)
        zombies = rng.choice(keys, size=self.n_zombies, replace=False)
        self.all_keys = keys
        self.stations = np.setdiff1d(keys, zombies)  # sorted, reporting
        self._level = np.round(rng.uniform(0, VALUE_MAX, self.n_stations), 2)
        self.next_tick = 0
        self.next_event_id = 1

    def tick(self) -> pa.Table:
        """The readings of the next tick, one row per reporting station."""
        i = self.next_tick
        rng = np.random.default_rng([self.seed, 1, i])
        step = np.round(rng.uniform(-STEP_MAX, STEP_MAX, self.n_stations), 2)
        level = self._level + step
        # reflect at the bounds: a bounded walk keeps every band populated
        level = np.where(level < 0, -level, level)
        level = np.where(level > VALUE_MAX, 2 * VALUE_MAX - level, level)
        self._level = np.round(level, 2)
        jitter = rng.integers(0, TICK_S * 1_000_000, self.n_stations)
        ts = EPOCH_US + i * TICK_S * 1_000_000 + jitter
        n = self.n_stations
        event_ids = np.arange(self.next_event_id, self.next_event_id + n, dtype=np.int64)
        ks = rng.integers(0, 1000, n)
        table = pa.table(
            {
                "event_id": event_ids,
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": self.stations,
                "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
                "value": self._level,
                "props": [f'{{"k": {k}}}' for k in ks],
            },
            schema=EVENTS_SCHEMA,
        )
        self.next_tick += 1
        self.next_event_id += n
        return table


def customer_table(feed: StationFeed) -> pa.Table:
    """The station dimension: every station, reporting or not."""
    rng = np.random.default_rng([feed.seed, 2])
    keys = feed.all_keys
    segments = np.array(["MECHANICAL", "EBIKE", "MIXED", "PARK", "HUB"])
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Station#{k:06d}" for k in keys],
            "c_acctbal": np.round(rng.uniform(10, 70, len(keys)), 2),
            "c_mktsegment": segments[rng.integers(0, len(segments), len(keys))],
        }
    )


def events_dir(lake: str) -> str:
    return os.path.join(lake, "events.parquet")


def event_files(lake: str) -> list[str]:
    """The lake's tick files in landing order."""
    d = events_dir(lake)
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))


def write_tick(feed: StationFeed, lake: str, staging: str | None = None) -> str:
    """Write the feed's next tick as one part file and return its path.

    With ``staging`` the file is written there first and renamed into
    the events directory, so a streaming reader never sees a partial
    file (the landing step of a real fetch job).
    """
    i = feed.next_tick
    name = f"part-{i:05d}.parquet"
    table = feed.tick()
    dest = os.path.join(events_dir(lake), name)
    if staging is None:
        pq.write_table(table, dest)
        return dest
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.replace(tmp, dest)
    return dest


def make_lake(feed: StationFeed, lake: str, n_ticks: int) -> None:
    """Write the dimension and the feed's next ``n_ticks`` tick files."""
    os.makedirs(events_dir(lake), exist_ok=True)
    pq.write_table(customer_table(feed), os.path.join(lake, "customer.parquet"))
    for _ in range(n_ticks):
        write_tick(feed, lake)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--stations", type=int, default=1500)
    ap.add_argument("--zombies", type=int, default=50)
    ap.add_argument("--ticks", type=int, default=12)
    args = ap.parse_args()
    make_lake(StationFeed(args.seed, args.stations, args.zombies), args.out, args.ticks)


if __name__ == "__main__":
    main()
