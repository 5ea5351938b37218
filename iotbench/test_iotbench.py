"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest iotbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import refs  # noqa: E402
import run  # noqa: E402
from stats import due_latencies_ms, tail_percentile, unit_percentiles  # noqa: E402

SMALL = gen.WearablePlan(devices=5, files=3, file_s=2.0)


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: gen.taxi_trips(seed, 5_000),
        lambda seed: gen.wearable_readings(seed, SMALL),
    ],
    ids=["taxi", "wearable"],
)
def test_seed_fixes_the_input_hash(make):
    assert gen.table_hash(make(7)) == gen.table_hash(make(7))
    assert gen.table_hash(make(7)) != gen.table_hash(make(8))


def test_wearable_shape_follows_the_fixture():
    t = gen.wearable_readings(3, gen.WearablePlan(devices=20, files=4, file_s=10.0))
    assert t.num_rows == 20 * 4 * 250
    vibe = sum(t.column("vibe").to_pylist()) / t.num_rows
    assert 0.08 < vibe < 0.12
    steps = len(refs.wearable_steps(t))
    ed_events = t.num_rows - sum(t.column("vibe").to_pylist())
    assert 0.01 < steps / ed_events < 0.04
    # file k holds exactly slice k of every device
    fs = t.column("file_seq").to_pylist()
    assert fs == sorted(fs) and fs[-1] == 3


def test_taxi_shape_follows_the_stated_traffic():
    import numpy as np

    n = 200_000
    t = gen.taxi_trips(5, n)
    # density of the 2013 data: n trips span n / 474k days
    drop = t.column("dropoff_datetime").cast("int64").to_numpy() / 1e6
    days = (drop.max() - drop.min()) / 86_400
    assert days == pytest.approx(n / gen.TAXI_TRIPS_PER_DAY, rel=0.01)

    def cells(lat, lon):
        la = np.floor((gen.GRID_ORIGIN_LAT - t.column(lat).to_numpy().astype(np.float64))
                      / gen.Q1_CELL_LAT) + 1
        lo = np.floor((t.column(lon).to_numpy().astype(np.float64) - gen.GRID_ORIGIN_LON)
                      / gen.Q1_CELL_LON) + 1
        return la, lo

    c = np.stack(cells("pickup_latitude", "pickup_longitude")
                 + cells("dropoff_latitude", "dropoff_longitude"), axis=1)
    ok = ((c >= 1) & (c <= gen.Q1_MAX_CELL)).all(axis=1)
    # two in-range filters of selectivity 0.95 each
    assert ok.mean() == pytest.approx(0.95 * 0.95, abs=0.005)
    _, counts = np.unique(c[ok], axis=0, return_counts=True)
    counts = np.sort(counts)[::-1] / ok.sum()
    # route shares follow the stated Zipf law: 14.6% on the top route,
    # 39% on the top ten
    w = gen.route_weights()
    assert counts[0] == pytest.approx(w[0], rel=0.03)
    assert counts[:10].sum() == pytest.approx(w[:10].sum(), rel=0.03)


def test_taxi_reference_and_planted_wrong_row(tmp_path):
    t = gen.taxi_trips(11, 20_000, trips_per_day=20_000)
    gen.write_files(t, str(tmp_path), 2)
    expected = refs.taxi_q1(str(tmp_path / "*.parquet"), 3)
    assert len(expected) > 10
    assert refs.mismatches(list(expected), expected) == 0
    win, routes = expected[3]
    planted = list(expected)
    planted[3] = (win, routes + "|1,1>1,1")
    assert refs.mismatches(planted, expected) == 2
    assert refs.mismatches(expected[:-1], expected) == 1
    assert refs.mismatches(expected + expected[:1], expected) == 1


def test_planted_wrong_step_fails_the_reference():
    t = gen.wearable_readings(5, SMALL)
    expected = list(refs.wearable_steps(t).itertuples(index=False, name=None))
    assert expected
    got = list(expected)
    d, s = got[0]
    got[0] = (d, s + 1)
    assert refs.mismatches(got, expected) == 2


def test_step_reference_on_a_hand_made_feed():
    import pyarrow as pa

    thr = gen.STEP_THRESHOLD
    # magnitudes along x: above, at, above, below (vibe), below, below
    mags = [thr + 5, thr, thr + 1, thr - 9, thr - 1, thr - 2]
    vibe = [0, 0, 0, 1, 0, 0]
    n = len(mags)
    t = pa.table(
        {
            "device": pa.array([1] * n, pa.int32()),
            "seq": pa.array(range(n), pa.int64()),
            "event_time": pa.array(range(n), pa.int64()).cast(gen.TS_US_UTC),
            "x": pa.array(mags, pa.int32()),
            "y": pa.array([0] * n, pa.int32()),
            "z": pa.array([0] * n, pa.int32()),
            "vibe": pa.array(vibe, pa.int32()),
        }
    )
    # prev > thr >= cur: seq 1 (thr+5 -> thr) and seq 4 (thr+1 -> thr-1,
    # the vibe reading in between is dropped before the crossing test)
    got = list(refs.wearable_steps(t).itertuples(index=False, name=None))
    assert got == [(1, 1), (1, 4)]


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 1001))
    assert tail_percentile(xs) == (0.99, 990)
    lvl, v = tail_percentile(list(range(1, 501)))
    assert (lvl, v) == (0.98, 490)
    assert sum(x > v for x in range(1, 501)) == 10
    lvl, v = tail_percentile(list(range(1, 101)))
    assert (lvl, v) == (0.9, 90)
    assert tail_percentile([3.0, 1.0, 2.0]) == (1.0, 3.0)
    with pytest.raises(ValueError):
        tail_percentile([])


def test_one_slow_unit_does_not_set_the_tail():
    fast = [list(range(1, 101)), list(range(2, 102))]
    slow = [x * 10 for x in range(1, 101)]
    # pooled, the slow unit's samples would make up the whole tail
    assert tail_percentile(fast[0] + fast[1] + slow)[1] > 500
    p50, lvl, p99 = unit_percentiles(fast + [slow])
    assert (p50, lvl, p99) == (51.5, 0.9, 91)
    # one unit (the live feed): its own median and tail
    assert unit_percentiles([slow]) == (505.0, 0.9, 900)


def test_due_time_latency_counts_a_stall():
    # files due every 0.5 s from t0 = 100; the system stalls and delivers
    # files 0-3 together at 102.0, then file 4 on time (+0.2 s)
    receipts = [(k, 102.0) for k in range(4)] + [(4, 102.2)]
    lat = due_latencies_ms(receipts, 100.0, 0.5)
    assert lat == pytest.approx([2000.0, 1500.0, 1000.0, 500.0, 200.0])
    # a late generator does not hide latency: due time, not release time
    assert due_latencies_ms([(2, 103.0)], 100.0, 0.5) == pytest.approx([2000.0])


def test_benchmark_json_matches_the_metrics_printed():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    import workloads

    # every gated workload runs; wearable_catchup runs but is not gated
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS) - {
        "wearable_catchup"
    }
    assert spec["command"][-1] == os.path.relpath(run.__file__, HERE.parent)
