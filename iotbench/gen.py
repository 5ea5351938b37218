"""Seeded input generators for the three workloads.

Everything the program sees is written here as parquet files; the
program never sees the seed. Timestamps are written in microseconds
(UTC): Spark 4 refuses pyarrow's default nanosecond parquet timestamps.

- Taxi trips follow the 17-column DEBS 2015 schema (FIXTURES.md F2).
  Their density is that of the data DEBS 2015 replays, the New York
  taxi trips of 2013: about 173 million in the year, so about 474k a
  day and 9.9k per 30-minute Q1 window, spread evenly over the day.
  Pickup and dropoff each fall off the grid in 5% of trips, the two
  in-range filter selectivities of Q1 (BASELINE.md, 0.95 and 0.95).
  Routes are drawn from a Zipf law with exponent 1.1 over a pool of
  20k (start cell, end cell) pairs whose cells cluster around the grid
  centre. That route concentration is an assumption, not a measurement:
  no published figure for the 2013 data was at hand.
- Wearable readings follow FIXTURES.md F3: 25 Hz per device, about 10%
  vibe readings, and an accelerometer magnitude that oscillates around
  the step threshold so that roughly 2% of readings end a step
  (BASELINE.md: step selectivity 0.020).
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# grid of taxi Q1 (striot_spark/sources/csv.py, Taxi.hs:83-118)
GRID_ORIGIN_LAT = 41.474937
GRID_ORIGIN_LON = -74.913585
Q1_CELL_LAT = 0.004491556
Q1_CELL_LON = 0.005986
Q1_MAX_CELL = 300

TAXI_EPOCH_S = 1_356_998_400  # 2013-01-01T00:00:00Z, the DEBS 2015 year
TAXI_TRIPS_PER_DAY = 173_000_000 / 365  # New York taxi trips of 2013
TAXI_OFF_GRID = 0.05  # per trip end: Q1 in-range selectivity 0.95
ROUTE_POOL = 20_000  # assumed
ROUTE_ZIPF_S = 1.1  # assumed
WEAR_EPOCH_S = 1_420_070_400  # 2015-01-01T00:00:00Z

STEP_THRESHOLD = 1250  # WearableStreams.hs:165-173
WEAR_HZ = 25
WEAR_PERIOD_MS = 1000 // WEAR_HZ

TS_US_UTC = pa.timestamp("us", tz="UTC")


def table_hash(table: pa.Table) -> str:
    """sha256 of a table's Arrow IPC stream: equal tables, equal hash."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _hex_pool(rng: np.random.Generator, n: int) -> pa.Array:
    """n distinct-looking 32-hex-digit ids (MD5-shaped, like medallions)."""
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    return pa.array([bytes(r).hex().upper() for r in raw])


def route_weights() -> np.ndarray:
    """Probability of each route of the pool, most frequent first."""
    w = 1.0 / np.arange(1, ROUTE_POOL + 1) ** ROUTE_ZIPF_S
    return w / w.sum()


def taxi_trips(
    seed: int, n_trips: int, trips_per_day: float = TAXI_TRIPS_PER_DAY
) -> pa.Table:
    """DEBS-schema trips, sorted by dropoff time, with Zipf route skew."""
    rng = np.random.default_rng([seed, 1])
    cells = np.clip(
        np.rint(rng.normal(150, 40, size=(ROUTE_POOL, 4))), 1, Q1_MAX_CELL
    ).astype(np.int64)
    route = rng.choice(ROUTE_POOL, size=n_trips, p=route_weights())
    c = cells[route]

    def coord(cell, origin, size, sign):
        # the middle 70% of the cell: far from a boundary even in float32
        jitter = rng.uniform(-0.35, 0.35, size=n_trips)
        return (origin + sign * (cell - 0.5 + jitter) * size).astype(np.float32)

    plat = coord(c[:, 0], GRID_ORIGIN_LAT, Q1_CELL_LAT, -1)
    plon = coord(c[:, 1], GRID_ORIGIN_LON, Q1_CELL_LON, 1)
    dlat = coord(c[:, 2], GRID_ORIGIN_LAT, Q1_CELL_LAT, -1)
    dlon = coord(c[:, 3], GRID_ORIGIN_LON, Q1_CELL_LON, 1)
    # missing GPS fixes read as 0.0 in the DEBS data: outside the grid;
    # each trip end independently, on its latitude or its longitude
    for lat, lon in ((plat, plon), (dlat, dlon)):
        bad = rng.random(n_trips) < TAXI_OFF_GRID
        on_lat = rng.random(n_trips) < 0.5
        lat[bad & on_lat] = 0.0
        lon[bad & ~on_lat] = 0.0

    span_s = max(1, round(n_trips / trips_per_day * 86_400))
    dropoff_us = np.sort(
        TAXI_EPOCH_S * 1_000_000
        + rng.integers(0, span_s, size=n_trips) * 1_000_000
    )
    trip_s = rng.integers(120, 3600, size=n_trips)
    pickup_us = dropoff_us - trip_s * 1_000_000
    fare = (2.5 + trip_s / 60 * rng.uniform(0.4, 0.9, size=n_trips)).astype(
        np.float32
    )
    tip = (fare * rng.uniform(0, 0.25, size=n_trips)).astype(np.float32)
    taxis = _hex_pool(rng, 13_000)
    drivers = _hex_pool(rng, 30_000)
    pay = pa.array(["CRD", "CSH"])
    f32 = lambda a: pa.array(a, pa.float32())  # noqa: E731
    return pa.table(
        {
            "medallion": pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, 13_000, size=n_trips), pa.int32()), taxis
            ),
            "hack_license": pa.DictionaryArray.from_arrays(
                pa.array(rng.integers(0, 30_000, size=n_trips), pa.int32()),
                drivers,
            ),
            "pickup_datetime": pa.array(pickup_us, pa.int64()).cast(TS_US_UTC),
            "dropoff_datetime": pa.array(dropoff_us, pa.int64()).cast(TS_US_UTC),
            "trip_time_in_secs": pa.array(trip_s, pa.int32()),
            "trip_distance": f32(trip_s / 240.0),
            "pickup_longitude": f32(plon),
            "pickup_latitude": f32(plat),
            "dropoff_longitude": f32(dlon),
            "dropoff_latitude": f32(dlat),
            "payment_type": pa.DictionaryArray.from_arrays(
                pa.array((rng.random(n_trips) < 0.4).astype(np.int8)), pay
            ),
            "fare_amount": f32(fare),
            "surcharge": f32(np.full(n_trips, 0.5)),
            "mta_tax": f32(np.full(n_trips, 0.5)),
            "tip_amount": f32(tip),
            "tolls_amount": f32(np.zeros(n_trips)),
            "total_amount": f32(fare + tip + 1.0),
        }
    )


@dataclass(frozen=True)
class WearablePlan:
    """Shape of a wearable feed: ``devices`` keys, each sampled at 25 Hz
    for ``files * file_s`` seconds, cut into ``files`` time slices."""

    devices: int
    files: int
    file_s: float

    @property
    def samples_per_file(self) -> int:
        return round(self.file_s * WEAR_HZ)

    @property
    def events(self) -> int:
        return self.devices * self.files * self.samples_per_file


def wearable_readings(seed: int, plan: WearablePlan) -> pa.Table:
    """Readings of every device, ordered by file slice then device.

    Columns: device, seq (per-device sample number), event_time, x, y,
    z, vibe, file_seq (the slice, i.e. the file the reading ships in)."""
    rng = np.random.default_rng([seed, 2])
    d, s = plan.devices, plan.files * plan.samples_per_file
    i = np.arange(s)
    period = rng.uniform(40, 60, size=(d, 1))
    phase = rng.uniform(0, 2 * np.pi, size=(d, 1))
    amp = rng.uniform(300, 500, size=(d, 1))
    mag = STEP_THRESHOLD + amp * np.sin(2 * np.pi * i / period + phase)
    mag += rng.normal(0, 30, size=(d, s))
    # a slowly turning unit vector per device carries the magnitude
    u = rng.normal(size=(d, 1, 3)) + 0.05 * rng.normal(size=(d, s, 3))
    u /= np.linalg.norm(u, axis=2, keepdims=True)
    xyz = np.rint(u * mag[:, :, None]).astype(np.int32)
    vibe = (rng.random((d, s)) < 0.1).astype(np.int32)
    offset_ms = rng.integers(0, WEAR_PERIOD_MS, size=(d, 1))
    t_us = (WEAR_EPOCH_S * 1000 + offset_ms + i * WEAR_PERIOD_MS) * 1000

    # file-major order: slice k holds samples [k*spf, (k+1)*spf) of all devices
    spf = plan.samples_per_file

    def order(a: np.ndarray) -> np.ndarray:
        a = np.broadcast_to(a, (d, s))
        return a.reshape(d, plan.files, spf).transpose(1, 0, 2).ravel()

    return pa.table(
        {
            "device": pa.array(order(np.arange(d)[:, None]).astype(np.int32)),
            "seq": pa.array(order(i[None, :]).astype(np.int64)),
            "event_time": pa.array(order(t_us), pa.int64()).cast(TS_US_UTC),
            "x": pa.array(order(xyz[:, :, 0])),
            "y": pa.array(order(xyz[:, :, 1])),
            "z": pa.array(order(xyz[:, :, 2])),
            "vibe": pa.array(order(vibe)),
            "file_seq": pa.array(order(i[None, :] // spf).astype(np.int32)),
        }
    )


def write_files(
    table: pa.Table, out_dir: str, n_files: int, mtime_step_s: float | None = None
) -> list[str]:
    """Split ``table`` into ``n_files`` equal row ranges, one parquet file
    each, named in order; returns the paths. With ``mtime_step_s``, the
    files' mtimes step by that much in file order, all in the past: the
    file source reads files in mtime order, and files written back to
    back can share a millisecond."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table.num_rows
    t0 = time.time() - 3600 - n_files * (mtime_step_s or 0)
    paths = []
    for k in range(n_files):
        lo, hi = rows * k // n_files, rows * (k + 1) // n_files
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path, coerce_timestamps="us")
        if mtime_step_s is not None:
            os.utime(path, (t0 + k * mtime_step_s, t0 + k * mtime_step_s))
        paths.append(path)
    return paths
