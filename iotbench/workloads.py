"""The three workloads. Each returns a ``Result``.

- ``taxi_replay``: closed loop, one job at a time: taxi Q1
  (``frequent_routes``) over a bounded trip history, repeated.
- ``wearable_live``: open loop: a wall-clock generator releases one
  file of readings every ``LIVE.file_s`` seconds into the directory a
  file stream watches, never waiting for the system.
- ``wearable_catchup``: the same stream query drains a staged backlog
  with ``availableNow`` in a few large micro-batches, repeatedly.
"""

from __future__ import annotations

import math
import os
import threading
import time
from dataclasses import dataclass, field

import pyarrow.compute as pc

import gen
import refs
from stats import due_latencies_ms, median, tail_percentile, unit_percentiles
from tracing import SparkRest, Tracer, progress_metrics

# Sizes: large enough that one measured unit (a pass, a drain, a
# micro-batch) takes about a second on four cores, small enough that the
# slowest run of the benchmark stays well inside its time limit. The
# traffic's density and skew are set in gen.py; TAXI_TRIPS only sets
# how much history a pass replays (2.1 days at the 2013 density).
TAXI_TRIPS = 1_000_000
TAXI_FILES = 8
TAXI_K = 10
TAXI_WARM_PASSES = 8
LIVE = gen.WearablePlan(devices=100, files=0, file_s=0.4)
# a new stream query's micro-batches keep getting faster for about its
# first 15 s, whether or not a warm query ran before it
LIVE_WARM_S = 16.0
LIVE_PREWARM_FILES = 2
# the timed feed is cut into windows of this many files (4 s), the
# latency units: a window spans a few micro-batches, so one slow batch
# sets the tail of its own window only
LIVE_WINDOW_FILES = 10
# three batches: the latency median falls inside the middle batch's
# cluster of receipts, not in the gap between two clusters
CATCHUP = gen.WearablePlan(devices=40, files=3, file_s=200.0)
CATCHUP_FILES_PER_BATCH = 1
MIN_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: Tracer
    rest: SparkRest | None  # set in traced runs only


@dataclass
class Result:
    events: int
    run_s: list[float]  # one entry per timed pass or drain
    # latency samples of each timed unit: a pass, a drain, or a window of
    # the live feed
    latency_ms: list[list[float]]
    attempted: int = 0
    failed: int = 0
    per_layer: dict[str, float] = field(default_factory=dict)
    notes: dict = field(default_factory=dict)

    def end_to_end(self) -> dict[str, float]:
        p50, lvl, p99 = unit_percentiles(self.latency_ms)
        self.notes.update(
            latency_samples=sum(map(len, self.latency_ms)),
            latency_units=len(self.latency_ms),
            latency_tail_level=lvl,
        )
        return {
            "events_per_s": self.events / median(self.run_s),
            "latency_p50_ms": p50,
            "latency_p99_ms": p99,
        }


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- taxi_replay -------------------------------------------------------------


def taxi_replay(ctx: Ctx) -> Result:
    from pyspark.sql import functions as F

    from striot_spark.functions.analytics import topk
    from striot_spark.sources.csv import frequent_routes, trips_to_journeys

    spark, tr = ctx.spark, ctx.tracer
    trip_dir = os.path.join(ctx.work, "trips")
    with tr.span("gen.taxi_trips"):
        table = gen.taxi_trips(ctx.seed, TAXI_TRIPS)
        gen.write_files(table, trip_dir, TAXI_FILES)
    with tr.span("ref.duckdb_q1"):
        expected = refs.taxi_q1(os.path.join(trip_dir, "*.parquet"), TAXI_K)
    res = Result(events=TAXI_TRIPS, run_s=[], latency_ms=[])

    def full_pass() -> list[tuple[int, str]]:
        with tr.span("sources.read_parquet"):
            trips = spark.read.parquet(trip_dir)
        with tr.span("sources.frequent_routes"):
            q1 = frequent_routes(trips, TAXI_K)
        with tr.span("core.collect"):
            rows = q1.select(F.col("window_start").cast("long"), "top_routes").collect()
        return [(r[0], r[1]) for r in rows]

    def checked_pass() -> float:
        res.attempted += 1
        t = time.perf_counter()
        with tr.span("pass.full"):
            rows = full_pass()
        dt = time.perf_counter() - t
        if refs.mismatches(rows, expected):
            res.failed += 1
        res.notes["out_rows"] = len(rows)
        return dt

    # warm-up: file listing, codegen, and the JIT, which keeps speeding
    # passes up for the first few
    for _ in range(TAXI_WARM_PASSES):
        checked_pass()
    stop = time.perf_counter() + ctx.seconds
    while time.perf_counter() < stop or len(res.run_s) < MIN_REPEATS:
        if ctx.rest is not None and len(res.run_s) == MIN_REPEATS - 1:
            before = ctx.rest.job_ids()
        dt = checked_pass()
        res.run_s.append(dt)
        # every result row of a pass waits the whole pass
        res.latency_ms.append([dt * 1000.0] * res.notes["out_rows"])
        if ctx.rest is not None and len(res.run_s) == MIN_REPEATS:
            spark_m = ctx.rest.stage_metrics(ctx.rest.job_ids() - before, dt)
            break
    if ctx.rest is None:
        return res

    # traced: time the Q1 prefixes, each forced to completion by a noop
    # write, to split a pass between the layers it calls
    def journeys():
        return trips_to_journeys(spark.read.parquet(trip_dir))

    def ranked():
        # frequent_routes up to its topk call
        j = trips_to_journeys(spark.read.parquet(trip_dir)).withColumn(
            "route",
            F.concat_ws(
                ">",
                F.concat_ws(",", F.col("start_cell.clat"), F.col("start_cell.clon")),
                F.concat_ws(",", F.col("end_cell.clat"), F.col("end_cell.clon")),
            ),
        ).withColumn("win", F.window("dropoff_time", "30 minutes"))
        with tr.span("functions.topk"):
            return topk(
                j.select(F.col("win.start").alias("window_start"), "route"),
                ["window_start"],
                "route",
                TAXI_K,
            )

    scan, upto_topk = [], []
    for _ in range(MIN_REPEATS):
        t = time.perf_counter()
        with tr.span("pass.scan_prefix"):
            _noop(journeys())
        scan.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tr.span("pass.topk_prefix"):
            _noop(ranked())
        upto_topk.append(time.perf_counter() - t)
    rows_in = spark.read.parquet(trip_dir).count()
    res.per_layer = {
        "sources.scan_ms": median(scan) * 1000.0,
        "sources.rows_in": float(rows_in),
        "sources.valid_ratio": journeys().count() / rows_in,
        "functions.topk_ms": (median(upto_topk) - median(scan)) * 1000.0,
        "functions.topk.rows_out": float(ranked().count()),
        "operators.lag_filter_ms": (median(res.run_s) - median(upto_topk)) * 1000.0,
        "out.rows": float(res.notes["out_rows"]),
        "sink.rows": float(res.notes["out_rows"]),
        **spark_m,
    }
    return res


# -- the wearable step query -------------------------------------------------

WEAR_SCHEMA = (
    "device int, seq long, event_time timestamp, x int, y int, z int, "
    "vibe int, file_seq int"
)


def step_query(ctx: Ctx, src_dir: str, max_files: int | None):
    """filter(vibe==0) -> ed = intSqrt(x^2+y^2+z^2) -> per-device step
    crossing (prev > threshold >= ed) (WearableExample.hs:66-96)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from striot_spark.streaming import runtime as RT

    tr = ctx.tracer
    with tr.span("streaming.file_stream"):
        sdf = RT.file_stream(
            ctx.spark, src_dir, StructType.fromDDL(WEAR_SCHEMA),
            max_files_per_trigger=max_files,
        )
    ed = sdf.filter(F.col("vibe") == 0).withColumn(
        "ed",
        F.floor(F.sqrt(F.col("x") * F.col("x") + F.col("y") * F.col("y")
                       + F.col("z") * F.col("z"))).cast("int"),
    )
    thr = gen.STEP_THRESHOLD
    with tr.span("streaming.filter_acc_stream"):
        steps = RT.filter_acc_stream(
            ed,
            step=lambda acc, row: (row["ed"],),
            init=(None,),
            pred=lambda row, acc: acc[0] is not None and acc[0] > thr >= row["ed"],
            key=["device"],
            time_col="event_time",
            state_type="prev int",
            tiebreak="seq",
        )
    return steps.select("device", "seq", "file_seq")


class Sink:
    """foreachBatch sink: records each step with the wall time it arrived.
    ``ms`` holds the time of each whole callback, the collect of the
    batch's steps included."""

    def __init__(self):
        # written by the query's callback thread, read once it has stopped
        self.receipts: list[tuple[int, int, int, float]] = []
        self.ms: list[float] = []

    def __call__(self, df, batch_id: int) -> None:
        t = time.perf_counter()
        rows = df.collect()
        received = time.time()
        self.receipts.extend((r[0], r[1], r[2], received) for r in rows)
        self.ms.append((time.perf_counter() - t) * 1000.0)

    def steps(self) -> list[tuple[int, int]]:
        return [(d, s) for d, s, _, _ in self.receipts]


def _start(ctx: Ctx, steps, sink: Sink, name: str, available_now: bool):
    w = steps.writeStream.foreachBatch(sink).queryName(name).option(
        "checkpointLocation", os.path.join(ctx.work, "ck", name)
    )
    w = w.trigger(availableNow=True) if available_now else w.trigger(processingTime="0 seconds")
    return w.start()


def _stream_layers(ctx: Ctx, q, wall_s: float, jobs_before: set[int], sink: Sink) -> dict:
    import json

    out = progress_metrics([json.loads(p.json) for p in q.recentProgress], wall_s)
    out.update(ctx.rest.stage_metrics(ctx.rest.job_ids() - jobs_before, wall_s))
    out["sink.rows"] = float(len(sink.receipts))
    out["sink.ms"] = median(sink.ms) if sink.ms else 0.0
    out["out.rows"] = float(len(sink.receipts))
    return out


def _await(wait) -> bool:
    """Run a query's wait call; False when the query failed."""
    from pyspark.errors import StreamingQueryException

    try:
        wait()
        return True
    except StreamingQueryException:
        return False


# -- wearable_live -----------------------------------------------------------


def wearable_live(ctx: Ctx) -> Result:
    tr = ctx.tracer
    n_files = math.ceil((LIVE_WARM_S + ctx.seconds) / LIVE.file_s)
    warm_files = math.ceil(LIVE_WARM_S / LIVE.file_s)
    plan = gen.WearablePlan(LIVE.devices, n_files, LIVE.file_s)
    staged, live = os.path.join(ctx.work, "staged"), os.path.join(ctx.work, "live")
    os.makedirs(live)
    with tr.span("gen.wearable_readings"):
        table = gen.wearable_readings(ctx.seed, plan)
        paths = gen.write_files(table, staged, n_files)
    with tr.span("ref.pandas_steps"):
        expected = list(refs.wearable_steps(table).itertuples(index=False, name=None))

    # the first stateful query of a session runs cold (Python workers,
    # state store, JIT): drain the feed's first files once before it starts
    warm_table = table.filter(pc.less(table["file_seq"], LIVE_PREWARM_FILES))
    warm_dir = os.path.join(ctx.work, "prewarm")
    gen.write_files(warm_table, warm_dir, LIVE_PREWARM_FILES, mtime_step_s=1.0)
    warm_sink = Sink()
    with tr.span("streaming.prewarm"):
        wq = _start(ctx, step_query(ctx, warm_dir, 1), warm_sink, "live_prewarm", True)
        warm_ok = _await(wq.awaitTermination)
    warm_expected = list(refs.wearable_steps(warm_table).itertuples(index=False, name=None))
    warm_failed = (not warm_ok) + (refs.mismatches(warm_sink.steps(), warm_expected) > 0)

    sink = Sink()
    jobs_before = ctx.rest.job_ids() if ctx.rest else set()
    q = _start(ctx, step_query(ctx, live, None), sink, "wearable_live", False)
    late_ms: list[float] = []
    t0 = time.time() + 0.5

    def release() -> None:
        # open loop: file k goes out at t0 + k * file_s, whatever the system does
        for k, p in enumerate(paths):
            due = t0 + k * LIVE.file_s
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            # the file source orders files by mtime: make it the due
            # time, not the staging time, which ties within a millisecond
            os.utime(p, (due, due))
            os.rename(p, os.path.join(live, os.path.basename(p)))
            late_ms.append((time.time() - due) * 1000.0)

    gen_thread = threading.Thread(target=release, daemon=True)
    with tr.span("streaming.live_feed"):
        gen_thread.start()
        gen_thread.join()
    t_fed = time.time()
    with tr.span("streaming.final_drain"):
        ok = _await(q.processAllAvailable)
    t_done = time.time()
    q.stop()

    res = Result(events=plan.events, run_s=[t_done - t0], latency_ms=[])
    windows = max(1, (n_files - warm_files) // LIVE_WINDOW_FILES)
    res.latency_ms = [[] for _ in range(windows)]
    for _, _, f, t in sink.receipts:
        if f >= warm_files:
            w = min((f - warm_files) // LIVE_WINDOW_FILES, windows - 1)
            res.latency_ms[w] += due_latencies_ms([(f, t)], t0, LIVE.file_s)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    res.attempted = len(batches) + 2
    res.failed = warm_failed + (not ok) + (refs.mismatches(sink.steps(), expected) > 0)
    res.notes.update(
        batches=len(batches),
        steps=len(expected),
        batch_ms=[p.durationMs.get("triggerExecution") for p in batches],
        batch_rows=[p.numInputRows for p in batches],
    )
    if ctx.rest is not None:
        res.per_layer = _stream_layers(ctx, q, t_done - t0, jobs_before, sink)
        res.per_layer["streaming.source.lag_end_s"] = t_done - t_fed
        res.per_layer["gen.late_ms_p99"] = tail_percentile(late_ms)[1]
    return res


# -- wearable_catchup --------------------------------------------------------


def wearable_catchup(ctx: Ctx) -> Result:
    tr = ctx.tracer
    backlog = os.path.join(ctx.work, "backlog")
    with tr.span("gen.wearable_readings"):
        table = gen.wearable_readings(ctx.seed, CATCHUP)
        gen.write_files(table, backlog, CATCHUP.files, mtime_step_s=1.0)
    with tr.span("ref.pandas_steps"):
        expected = list(refs.wearable_steps(table).itertuples(index=False, name=None))

    res = Result(events=CATCHUP.events, run_s=[], latency_ms=[])

    def drain(name: str) -> tuple:
        sink = Sink()
        t = time.time()
        with tr.span("streaming.drain", query=name):
            q = _start(ctx, step_query(ctx, backlog, CATCHUP_FILES_PER_BATCH), sink, name, True)
            ok = _await(q.awaitTermination)
        dt = time.time() - t
        res.attempted += 1 + len([p for p in q.recentProgress if p.numInputRows > 0])
        res.failed += (not ok) + (refs.mismatches(sink.steps(), expected) > 0)
        return dt, [(r[3] - t) * 1000.0 for r in sink.receipts], sink, q

    drain("catchup_warm")  # the first stateful query of a session runs cold
    stop = time.perf_counter() + ctx.seconds
    while time.perf_counter() < stop or len(res.run_s) < MIN_REPEATS:
        jobs_before = ctx.rest.job_ids() if ctx.rest else set()
        dt, lat, sink, q = drain(f"catchup_{len(res.run_s)}")
        res.run_s.append(dt)
        res.latency_ms.append(lat)
    res.notes.update(drains=len(res.run_s), steps=len(expected))
    if ctx.rest is not None:
        # the last drain stands for all of them
        res.per_layer = _stream_layers(ctx, q, dt, jobs_before, sink)
    return res


WORKLOADS = {
    "taxi_replay": taxi_replay,
    "wearable_live": wearable_live,
    "wearable_catchup": wearable_catchup,
}
