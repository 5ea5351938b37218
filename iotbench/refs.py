"""Reference results the benchmark checks the program against.

- Taxi Q1 is recomputed in DuckDB SQL straight from the generated trip
  files: the same grid, in-range filter, 30-minute tumbling windows,
  rank-based top-k and dedup-on-change as ``frequent_routes``.
- Wearable steps are recomputed in pandas per device: drop vibe
  readings, ed = intSqrt(x^2+y^2+z^2), keep a reading when the previous
  kept reading of the same device was above the threshold and this one
  is at or below it.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa

from gen import (
    GRID_ORIGIN_LAT,
    GRID_ORIGIN_LON,
    Q1_CELL_LAT,
    Q1_CELL_LON,
    Q1_MAX_CELL,
    STEP_THRESHOLD,
)

_Q1_SQL = f"""
WITH j AS (
  SELECT CAST(floor(({GRID_ORIGIN_LAT}::DOUBLE - pickup_latitude::DOUBLE)
                    / {Q1_CELL_LAT}::DOUBLE) + 1 AS INTEGER) AS sa,
         CAST(floor((pickup_longitude::DOUBLE - {GRID_ORIGIN_LON}::DOUBLE)
                    / {Q1_CELL_LON}::DOUBLE) + 1 AS INTEGER) AS so,
         CAST(floor(({GRID_ORIGIN_LAT}::DOUBLE - dropoff_latitude::DOUBLE)
                    / {Q1_CELL_LAT}::DOUBLE) + 1 AS INTEGER) AS ea,
         CAST(floor((dropoff_longitude::DOUBLE - {GRID_ORIGIN_LON}::DOUBLE)
                    / {Q1_CELL_LON}::DOUBLE) + 1 AS INTEGER) AS eo,
         CAST(floor(epoch(dropoff_datetime) / 1800) * 1800 AS BIGINT) AS win
  FROM read_parquet(?)),
r AS (
  SELECT win, concat_ws('>', concat_ws(',', sa, so), concat_ws(',', ea, eo))
           AS route
  FROM j
  WHERE sa BETWEEN 1 AND {Q1_MAX_CELL} AND so BETWEEN 1 AND {Q1_MAX_CELL}
    AND ea BETWEEN 1 AND {Q1_MAX_CELL} AND eo BETWEEN 1 AND {Q1_MAX_CELL}),
ranked AS (
  SELECT win, route,
         rank() OVER (PARTITION BY win ORDER BY count(*) DESC, route) AS rnk
  FROM r GROUP BY win, route),
lists AS (
  SELECT win, string_agg(route, '|' ORDER BY rnk, route) AS top_routes
  FROM ranked WHERE rnk <= ? GROUP BY win)
SELECT win, top_routes FROM (
  SELECT win, top_routes, lag(top_routes) OVER (ORDER BY win) AS prev
  FROM lists)
WHERE prev IS NULL OR prev <> top_routes
ORDER BY win
"""


def taxi_q1(trip_glob: str, k: int) -> list[tuple[int, str]]:
    """(window start in epoch seconds, '|'-joined top-k routes) rows."""
    import duckdb

    with duckdb.connect() as con:
        return [(int(w), r) for w, r in con.execute(_Q1_SQL, [trip_glob, k]).fetchall()]


def wearable_steps(readings: pa.Table) -> pd.DataFrame:
    """(device, seq) of every reading that ends a step."""
    df = readings.select(["device", "seq", "event_time", "x", "y", "z", "vibe"]).to_pandas()
    df = df[df["vibe"] == 0].sort_values(["device", "event_time", "seq"], kind="mergesort")
    sq = df["x"].astype(np.int64) ** 2 + df["y"].astype(np.int64) ** 2 + df["z"].astype(np.int64) ** 2
    ed = pd.Series([math.isqrt(v) for v in sq.to_numpy()], index=df.index)
    prev = ed.groupby(df["device"]).shift(1)
    hit = prev.notna() & (prev > STEP_THRESHOLD) & (ed <= STEP_THRESHOLD)
    return df.loc[hit, ["device", "seq"]].reset_index(drop=True)


def mismatches(got, expected) -> int:
    """Rows in one result and not the other (duplicates count)."""
    from collections import Counter

    g, e = Counter(got), Counter(expected)
    return sum(((g - e) + (e - g)).values())
