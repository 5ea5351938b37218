"""Structured Streaming lowering — the online half of the engine.

Reference parity: StrIoT's distributed runtime (``src/Striot/
Nodes.hs:52-167``) runs each operator partition as a process consuming
an unbounded event list over TCP/Kafka/MQTT with a bounded-channel
backpressure of 10 events (``Nodes.hs:208-215``). All of that maps onto
Structured Streaming: sources → transformations → sinks, micro-batch
admission control as backpressure, checkpointing for exactly-once.

Deliberate capability *additions* over the reference (SURVEY.md §2.6):
watermarks + late-data policy. The reference lets late events land in
whichever window is still open; here lateness is explicit and bounded.

The same Stream operators lower as follows in streaming mode:
- filter/map/expand/merge: identical DataFrame ops (unbounded input);
- chopTime/session windows: native ``window()`` / ``session_window()``
  with watermark;
- scan/filterAcc (general): ``applyInPandasWithState`` per key — state
  lives in the state store, sharded by key (the single-key form has the
  same throughput ceiling as the reference's one lazy list);
- count-based windows (chop n / sliding n): inherently order-dependent →
  stateful operator per key; exposed only keyed in streaming.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# -- sources -----------------------------------------------------------------


def rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Synthetic source (reference: Source vertex with an IO action run
    at a rate, ``StreamGraph.hs:117``); columns (timestamp, value)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-replay source: new files in ``path`` become micro-batches.
    ``max_files_per_trigger`` splits a backlog into multiple batches
    (deterministic multi-batch replay for watermark/late-data tests)."""
    reader = spark.readStream.schema(schema).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def stage_ordered_files(
    dfs: Sequence[DataFrame],
    base_dir: str,
    order_cols: Sequence[str] = ("ts", "event_id"),
) -> None:
    """Replay-harness staging: write each frame as ONE parquet file into
    ``base_dir``, named and mtime-stepped by position, so the file
    source lists (and with ``maxFilesPerTrigger=1`` batches) them in
    exactly this order. This is how the multi-batch robustness tests
    and the out-of-order replay queries (q101) construct a
    DETERMINISTIC adversarial arrival order: the file source orders new
    files by modification time, which a bulk parquet write leaves
    effectively tied — explicit second-stepped mtimes remove the tie in
    any environment. ``order_cols`` fixes the within-file row order
    (default matches the events schema; document replays pass their
    own id column)."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(base_dir, exist_ok=True)
    t0 = time.time() - 3600 - 10 * len(dfs)
    for i, df in enumerate(dfs):
        tmp = f"{base_dir}__part{i}"
        df.repartition(1).sortWithinPartitions(*order_cols).write.mode(
            "overwrite"
        ).parquet(tmp)
        src = glob.glob(f"{tmp}/part-*.parquet")[0]
        dst = f"{base_dir}/f{i:03d}.parquet"
        shutil.copyfile(src, dst)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
        shutil.rmtree(tmp)


def kafka_reader_options(
    bootstrap: str, topic: str, starting: str = "latest"
) -> dict[str, str]:
    """The option set ``kafka_stream`` hands Spark's kafka source —
    factored out so the plumbing is testable without the
    spark-sql-kafka package (tests/test_kafka.py)."""
    if not bootstrap or not topic:
        raise ValueError("kafka needs bootstrap servers and a topic")
    if starting not in ("latest", "earliest") and not starting.startswith("{"):
        raise ValueError(
            "startingOffsets must be latest|earliest|a JSON offset map, "
            f"got {starting!r}"
        )
    return {
        "kafka.bootstrap.servers": bootstrap,
        "subscribe": topic,
        "startingOffsets": starting,
    }


# to_json's DEFAULT timestamp format truncates to milliseconds — a
# lossy serde that silently breaks event-time joins downstream; both
# directions pin full microsecond precision (round-trip is test-pinned)
_KAFKA_TS_FMT = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


def kafka_json_parse(df: DataFrame, value_schema: str) -> DataFrame:
    """Ingress serde: kafka's ``value`` (binary JSON, one event per
    message — the reference serializes events the same way,
    ``Nodes/Kafka.hs:98-109``) → typed columns. Pure projection, shared
    by the stream reader and the brokerless tests."""
    return df.select(
        F.from_json(
            F.col("value").cast("string"), value_schema, _KAFKA_TS_FMT
        ).alias("e")
    ).select("e.*")


def kafka_json_serde(df: DataFrame) -> DataFrame:
    """Egress serde: all columns → one JSON message in ``value``
    (``Nodes/Kafka.hs:52-58`` serializes whole events per message; the
    null key means round-robin partition assignment — set a key column
    upstream to co-partition by it instead)."""
    return df.select(
        F.lit(None).cast("string").alias("key"),
        F.to_json(F.struct(*df.columns), _KAFKA_TS_FMT).alias("value"),
    )


def kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting: str = "latest",
    value_schema: str | None = None,
) -> DataFrame:
    """Kafka ingress (reference transport: ``Nodes/Kafka.hs:24-119``).
    Requires the spark-sql-kafka package on the cluster; the option
    composition and JSON serde are pinned brokerless by
    tests/test_kafka.py. With ``value_schema`` the JSON payload is
    parsed into those typed columns (mirrors ``socket_stream``)."""
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(bootstrap, topic, starting).items():
        reader = reader.option(k, v)
    df = reader.load()
    return df if value_schema is None else kafka_json_parse(df, value_schema)


def socket_stream(
    spark: SparkSession,
    host: str,
    port: int,
    value_schema: str | None = None,
) -> DataFrame:
    """TCP line ingress — the reference's NATIVE transport: every
    inter-node edge in a deployed striot graph is a TCP socket carrying
    serialized events (``src/Striot/Nodes/TCP.hs:33-120``,
    ``Nodes.hs:52-167``). Spark's built-in ``socket`` source gives one
    string column ``value`` per line; with ``value_schema`` each line is
    parsed as a JSON event into those typed columns (the reference
    serializes events the same one-per-message way).

    Unlike the reference's raw sockets, this source is NOT replayable —
    no offsets, so no exactly-once recovery (Spark documents it for
    testing; Kafka/MQTT/file sources are the production edges). Kept
    for transport parity and local wiring tests.
    """
    df = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    if value_schema is None:
        return df
    return df.select(
        F.from_json(F.col("value"), value_schema).alias("e")
    ).select("e.*")


# -- windowed aggregation ----------------------------------------------------


def window_agg_stream(
    sdf: DataFrame,
    time_col: str,
    duration: str,
    aggs: dict[str, Column],
    key: Sequence[str] = (),
    watermark: str = "10 minutes",
    slide: str | None = None,
    origin: str | None = None,
) -> DataFrame:
    """Tumbling event-time window + watermark (chopTime, streaming
    form). With ``slide``, an overlapping sliding window — Spark's
    native scale-path for slidingTime (SURVEY.md §2.2: per-event slide
    explodes row counts; a coarse slide granularity is the documented
    100 TB default, the per-event form stays batch-only).

    ``origin`` (ISO timestamp string) reproduces the reference's
    first-event window alignment (``FunctionalProcessing.hs:118-126``)
    exactly like the batch ``ChopTime(origin=...)`` lowering: Spark's
    ``window()`` takes a startTime OFFSET, not an instant, so the origin
    is reduced modulo the slide (== duration when tumbling). Windows
    then start at origin + k*slide instead of epoch + k*slide."""
    from striot_spark.operators.windows import origin_offset

    win_args = [F.col(time_col), duration, slide or duration]
    if origin is not None:
        win_args.append(origin_offset(origin, slide or duration))
    out = (
        sdf.withWatermark(time_col, watermark)
        .groupBy(F.window(*win_args), *key)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *key,
        *aggs.keys(),
    )


def session_agg_stream(
    sdf: DataFrame,
    time_col: str,
    gap: str,
    aggs: dict[str, Column],
    key: Sequence[str] = (),
    watermark: str = "30 minutes",
) -> DataFrame:
    """Native session windows (the capability the reference hand-builds
    with streamScan, ``examples/wearable/WearableStreams.hs:175-189``)."""
    out = (
        sdf.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap), *key)
        .agg(*[c.alias(n) for n, c in aggs.items()])
    )
    return out.select(
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        *key,
        *aggs.keys(),
    )


def join_e_stream(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    window_seconds: int,
    theta: Column | None = None,
    watermark: str = "10 minutes",
    suffixes: tuple[str, str] = ("_l", "_r"),
) -> DataFrame:
    """Streaming streamJoinE (``src/Striot/FunctionalProcessing.hs:
    161-173``): both streams are bucketed into aligned tumbling windows,
    joined within the window pair (equi-join on the window id), and
    filtered by the theta predicate. Watermarks on both sides bound the
    join state — the capability the reference's in-memory zip lacks.

    Columns are suffixed per side; the theta predicate references the
    suffixed names.

    The join key is ``F.window(time_col, ...)`` equality — NOT
    hand-rolled epoch arithmetic: the window struct carries the
    event-time watermark metadata through the projection, which is what
    lets Spark derive state-eviction predicates for the stream-stream
    join. (An aliased ``cast/mod`` expression drops that metadata, and
    join state then grows unboundedly on an unbounded feed.) The public
    ``window_id`` output column (epoch seconds of the window start,
    identical to the batch lowering's id) is derived AFTER the join.
    """
    dur = f"{window_seconds} seconds"
    l = left.withWatermark(time_col, watermark)
    r = right.withWatermark(time_col, watermark)
    l = l.select(
        F.window(F.col(time_col), dur).alias("__win"),
        *[F.col(c).alias(f"{c}{suffixes[0]}") for c in left.columns],
    )
    r = r.select(
        F.window(F.col(time_col), dur).alias("__win"),
        *[F.col(c).alias(f"{c}{suffixes[1]}") for c in right.columns],
    )
    joined = (
        l.join(r, "__win")
        .withColumn("window_id", F.col("__win.start").cast("long"))
        .drop("__win")
    )
    return joined.filter(theta) if theta is not None else joined


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_sec: float,
    upper_sec: float,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming bounded time-interval join: each left row pairs with
    right rows of the same key whose event time falls in
    ``[left_ts + lower_sec, left_ts + upper_sec]`` (inclusive) — the
    streaming form of ``operators/join.py:interval_join``, lowered to
    Spark's native stream-stream inner join with a time-range
    condition.

    The range condition is written directly on the two watermarked
    event-time columns (not on derived epoch values) so Spark can
    derive state-eviction bounds from it: a buffered right row is
    dropped once the left watermark passes ``right_ts - lower``, a
    left row once the right watermark passes ``left_ts + upper``.
    Without a recognizable time-range condition, stream-stream join
    state grows forever.

    ``left_ts``/``right_ts`` and non-key columns must have distinct
    names across the sides (rename before calling); ``key_cols`` may
    share names — the right side's copies are dropped from the output.
    """
    lower_us = int(round(lower_sec * 1_000_000))
    upper_us = int(round(upper_sec * 1_000_000))
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    rk = {k: f"__rk_{k}" for k in key_cols}
    r = r.select(
        *[F.col(c).alias(rk.get(c, c)) for c in right.columns]
    )
    cond = (
        F.col(right_ts)
        >= F.col(left_ts) + F.expr(f"INTERVAL {lower_us} MICROSECOND")
    ) & (
        F.col(right_ts)
        <= F.col(left_ts) + F.expr(f"INTERVAL {upper_us} MICROSECOND")
    )
    for k in key_cols:
        cond = cond & (F.col(k) == F.col(rk[k]))
    return l.join(r, cond, "inner").drop(*rk.values())


def join_w_stream(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    r_time_col: str,
    left_seconds: int,
    right_seconds: int,
    left_aggs: dict[str, Column],
    right_aggs: dict[str, Column],
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming streamJoinW (``src/Striot/FunctionalProcessing.hs:
    175-178``; unequal per-side window lengths ``examples/taxi/
    Taxi.hs:302``) — the streaming form of ``operators/join.py:join_w``,
    for ARBITRARY whole-second window-length pairs (reference parity;
    the nesting-only restriction was lifted in round 5).

    Lowering: the Spark 3.5+ *multiple stateful operators* pattern —
    each side is windowed and aggregated independently (watermarked
    incremental state), then the two aggregated window streams are
    stream-stream joined. The join key must carry event-time watermark
    metadata or the join cannot evict buffered state (epoch arithmetic
    on the start would grow state forever), and chained time windows
    (``window()`` on a window column, SPARK-40821) only preserve that
    metadata when the inner window NESTS in the outer one. Arbitrary
    length pairs are made nestable via their LCM: both sides lift their
    window column into the ``lcm(left_seconds, right_seconds)``-length
    chained window (each side nests by construction), the streams
    equi-join on that LCM window, and a post-join filter keeps exactly
    the pairs where the right window contains the left window's START —
    the batch ``join_w`` alignment rule. The containing right window
    provably shares the left window's LCM bucket (``lcm % right == 0``
    forces right-window boundaries onto LCM boundaries), so the filter
    loses nothing. When lengths nest (``right % left == 0``) the LCM is
    ``right_seconds`` and this degenerates to the direct window join.

    Scale note: join state buffers one LCM bucket's window rows per
    side (``lcm/left + lcm/right`` rows) until the watermark passes the
    bucket's end, so the state horizon is ONE LCM window length.
    Near-coprime second counts (e.g. 3599 and 7200 → LCM ≈ 300 days)
    make that horizon huge — the cost of exact reference semantics on
    such pairs; prefer window lengths with a small LCM.

    Output rows appear when BOTH sides' windows are finalized by their
    watermarks (inner join; the trailing unfinalized windows of a
    bounded replay are withheld — drain comparisons should restrict to
    closed windows). Output schema matches the batch form:
    ``left_window`` / ``right_window`` (epoch seconds of the window
    starts) + the agg columns of both sides.
    """
    import math

    if left_seconds <= 0 or right_seconds <= 0:
        raise ValueError("window lengths must be positive whole seconds")
    m = math.lcm(int(left_seconds), int(right_seconds))
    ldur = f"{left_seconds} seconds"
    rdur = f"{right_seconds} seconds"
    mdur = f"{m} seconds"
    lw = (
        left.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), ldur))
        .agg(*[c.alias(n) for n, c in left_aggs.items()])
    )
    # the chained LCM window is each stream's ONE event-time column; the
    # per-side window rides along as a PLAIN struct (a fresh struct()
    # drops the time-window/watermark metadata — two event-time columns
    # in one stream is an analysis error)
    def _plain(alias: str):
        return F.struct(
            F.col("window.start").alias("start"),
            F.col("window.end").alias("end"),
        ).alias(alias)

    lw = lw.select(
        F.window(F.col("window"), mdur).alias("__mwin"),
        _plain("__lwin"),
        *left_aggs.keys(),
    )
    rw = (
        right.withWatermark(r_time_col, watermark)
        .groupBy(F.window(F.col(r_time_col), rdur))
        .agg(*[c.alias(n) for n, c in right_aggs.items()])
    )
    rw = rw.select(
        F.window(F.col("window"), mdur).alias("__mwin"),
        _plain("__rwin"),
        *right_aggs.keys(),
    )
    joined = lw.join(rw, "__mwin", "inner").filter(
        (F.col("__rwin.start") <= F.col("__lwin.start"))
        & (F.col("__lwin.start") < F.col("__rwin.end"))
    )
    return joined.select(
        F.col("__lwin.start").cast("long").alias("left_window"),
        F.col("__rwin.start").cast("long").alias("right_window"),
        *left_aggs.keys(),
        *right_aggs.keys(),
    )


# -- stateful operators ------------------------------------------------------
#
# Two lowerings exist for each stateful operator:
# - transformWithStateInPandas (``tws.py``) — Spark 4's replacement API
#   (named state vars, per-state TTL, timers); needs protobuf + RocksDB
#   state store on the workers. EXPERIMENTAL: its engine behavior has
#   never been executed in this image (no protobuf), so it must be
#   requested explicitly with ``api="tws"``.
# - applyInPandasWithState (below) — the legacy API, engine-exercised by
#   every streaming test and driver query (no Python-side server
#   dependency). This is what ``api="auto"`` resolves to.
# Both share identical ordering/accumulator semantics, pinned by
# tests/test_tws.py against the batch oracle; the TWS engine-parity test
# (``test_scan_stream_tws_matches_batch``) is the promotion bar — when it
# is green on a protobuf-equipped image, "auto" may prefer TWS again.


def _resolve_api(api: str) -> str:
    if api == "auto":
        # Deliberately NOT tws_available()-gated: even where protobuf
        # exists, TWS stays opt-in (api="tws") until the engine parity
        # test has run somewhere reproducible (VERDICT r03 'weak'
        # adjudication). Plan construction with api="tws" works without
        # protobuf — only execution needs the state server.
        return "legacy"
    if api not in ("tws", "legacy"):
        raise ValueError(f"api must be auto|tws|legacy, got {api!r}")
    return api


def scan_stream(
    sdf: DataFrame,
    step: Callable[[Any, dict], Any],
    init: Any,
    out_field: str,
    out_type: str,
    key: Sequence[str],
    time_col: str,
    state_type: str = "acc double",
    api: str = "auto",
    tiebreak: str | None = None,
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Streaming streamScan via applyInPandasWithState; ``api="tws"``
    requests the experimental transformWithStateInPandas lowering
    instead (``api="auto"`` always runs applyInPandasWithState) — see
    the section comment above.

    Per-key state (a single accumulator encoded in ``state_type``);
    events within a micro-batch are processed in event-time order
    (``tiebreak`` names a second sort column so equal timestamps get a
    deterministic total order — required whenever the accumulator is
    order-sensitive under ties and the oracle orders by the same pair).
    Cross-batch order is arrival order — the same guarantee the
    reference's distributed merge gives (``Nodes/TCP.hs:52-59``).
    ``carry_cols`` names extra input columns passed through to the
    output unchanged (e.g. the tiebreak id, so a downstream finalize
    can pick the LAST accumulator value per tied instant with
    ``max_by`` instead of assuming monotonicity — ADVICE r05 on q92).

    State never times out by design (a running scan's accumulator lives
    for the stream's lifetime, like the reference's), so total state =
    one tuple per DISTINCT KEY — bound the key domain, or (on the TWS
    path) pass ``ttl_ms`` via ``tws.scan_stream_tws`` so abandoned
    keys expire.

    Keyed vs global: the reference's ``streamScan``
    (``FunctionalProcessing.hs:188-191``) folds ONE accumulator over
    the totally ordered stream — reproduce that exactly by passing a
    constant key (``F.lit(0)`` column; oracle-gated as q92). That form
    routes every event through one state partition, so its throughput
    ceiling is a single core's fold rate — use it only when the fold is
    genuinely global (cross-entity invariants). Any per-entity
    accumulator should key on the entity (q89's form): same semantics
    per key, parallel state, the scale-safe default.
    """
    if _resolve_api(api) == "tws":
        if carry_cols:
            raise ValueError("carry_cols is not supported on the TWS path")
        from striot_spark.streaming.tws import scan_stream_tws

        return scan_stream_tws(
            sdf, step, init, out_field, out_type, key, time_col, state_type,
            tiebreak=tiebreak,
        )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key = list(key)
    carry = [*key, time_col, *carry_cols]
    sort_cols = [time_col] if tiebreak is None else [time_col, tiebreak]
    fields = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    out_schema = ", ".join(
        [f"`{c}` {fields[c]}" for c in carry] + [f"`{out_field}` {out_type}"]
    )

    def fn(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc = state.get[0] if state.exists else init
        # concat BEFORE sorting: Spark chunks a large per-key batch into
        # several frames, and a per-chunk sort would only order within
        # chunks — the whole batch must sort as one (memory bound = one
        # key's one micro-batch, the operator's documented granularity)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            out = []
            for row in pdf.to_dict("records"):
                acc = step(acc, row)
                out.append(acc)
            res = pdf[carry].copy()
            res[out_field] = out
            yield res
        state.update((acc,))

    return sdf.groupBy(*key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def filter_acc_stream(
    sdf: DataFrame,
    step: Callable[[Any, dict], Any],
    init: tuple,
    pred: Callable[[dict, Any], bool],
    key: Sequence[str],
    time_col: str,
    state_type: str = "acc double",
    api: str = "auto",
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming streamFilterAcc via applyInPandasWithState;
    ``api="tws"`` requests the experimental transformWithStateInPandas
    lowering instead (``api="auto"`` always runs applyInPandasWithState;
    see the stateful-operators section comment).

    Exact reference semantics (``src/Striot/FunctionalProcessing.hs:
    181-185``): the predicate sees the accumulator *before* this event's
    update; the accumulator is updated on every event, kept or not.
    State is a tuple matching ``state_type``'s fields, per key; events
    within a micro-batch are processed in event-time order (``tiebreak``
    names a second sort column for a deterministic total order under
    equal timestamps — pass it whenever keep/drop decisions are
    order-sensitive and the oracle tie-breaks on the same column),
    cross-batch order is arrival order (the distributed reference merge
    guarantee, ``Nodes/TCP.hs:52-59``).
    """
    if _resolve_api(api) == "tws":
        from striot_spark.streaming.tws import filter_acc_stream_tws

        return filter_acc_stream_tws(
            sdf, step, init, pred, key, time_col, state_type,
            tiebreak=tiebreak,
        )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key = list(key)
    sort_cols = [time_col] if tiebreak is None else [time_col, tiebreak]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    )

    def fn(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc = tuple(state.get) if state.exists else tuple(init)
        # concat before sorting — see scan_stream: a chunked batch must
        # order as ONE sequence or the accumulator sees wrong order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            keep = []
            for row in pdf.to_dict("records"):
                keep.append(bool(pred(row, acc)))
                acc = tuple(step(acc, row))
            yield pdf[pd.Series(keep, index=pdf.index)]
        state.update(acc)

    return sdf.groupBy(*key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# -- sinks -------------------------------------------------------------------


def zip_join_stream(
    left: DataFrame,
    right: DataFrame,
    time_col: str,
    id_col: str,
    value_col: str,
) -> DataFrame:
    """Streaming streamJoin — the reference's POSITIONAL pairwise zip
    (``FunctionalProcessing.hs:148-155``: nth left event pairs with
    nth right event) as one stateful operator.

    Both streams merge under a side tag and a SINGLE constant state
    key: the reference's zip is inherently globally sequential (its
    runtime consumes two totally ordered in-memory lists), so like the
    global-order scan (q92) this form's throughput ceiling is one
    state partition — it exists for semantic parity; keyed/windowed
    joins (`join_e_stream`, `interval_join_stream`) are the scale
    path. Within a micro-batch events are processed in
    (time, id) order; cross-batch order is arrival order — the same
    guarantee the reference's distributed merge gives
    (``Nodes/TCP.hs:52-59``). State buffers only the UNPAIRED prefix
    of the side that is ahead (ids + values + the emitted-pair
    cursor), so state size is the inter-stream lag, not the stream.

    Output: (zip_pos, l_id, l_val, r_id, r_val).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    merged = (
        left.select(
            F.lit(0).alias("__side"),
            F.col(time_col).alias("__ts"),
            F.col(id_col).alias("__id"),
            F.col(value_col).alias("__val"),
        )
        .unionByName(
            right.select(
                F.lit(1).alias("__side"),
                F.col(time_col).alias("__ts"),
                F.col(id_col).alias("__id"),
                F.col(value_col).alias("__val"),
            )
        )
        .withColumn("__k", F.lit(0))
    )
    out_schema = (
        "zip_pos bigint, l_id bigint, l_val double, "
        "r_id bigint, r_val double"
    )
    state_schema = (
        "e bigint, pend_side int, pend_ids array<bigint>, "
        "pend_vals array<double>"
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            e, pend_side, pend_ids, pend_vals = state.get
            # empty state arrays can round-trip as None (same contract
            # _pend_arrays guards): normalize before use
            pend_ids = list(pend_ids or [])
            pend_vals = list(pend_vals or [])
        else:
            e, pend_side, pend_ids, pend_vals = 0, -1, [], []
        lids: list = []
        lvals: list = []
        rids: list = []
        rvals: list = []
        if pend_side == 0:
            lids, lvals = pend_ids, pend_vals
        elif pend_side == 1:
            rids, rvals = pend_ids, pend_vals
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(
                ["__ts", "__id"], kind="mergesort"
            )
            for r in pdf.to_dict("records"):
                if r["__side"] == 0:
                    lids.append(r["__id"])
                    lvals.append(r["__val"])
                else:
                    rids.append(r["__id"])
                    rvals.append(r["__val"])
        n = min(len(lids), len(rids))
        if n:
            yield pd.DataFrame(
                {
                    "zip_pos": range(e, e + n),
                    "l_id": lids[:n],
                    "l_val": lvals[:n],
                    "r_id": rids[:n],
                    "r_val": rvals[:n],
                }
            )
        if len(lids) > n:
            state.update((e + n, 0, lids[n:], lvals[n:]))
        elif len(rids) > n:
            state.update((e + n, 1, rids[n:], rvals[n:]))
        else:
            state.update((e + n, -1, [], []))

    return merged.groupBy("__k").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: explicit override for the bounded-drain width pin (int; <= 0 means
#: "do not pin", i.e. keep the session width); unset = derive
DRAIN_WIDTH_CONF = "striot.stream.drainWidth"
#: target staged-input bytes per shuffle partition for a bounded drain:
#: the derived width is ceil(staged_bytes / this), floored at
#: DRAIN_WIDTH_FLOOR and capped at the SESSION width. Every stateful
#: operator (and every foreachBatch merge) pays per-partition
#: commit/scheduling cost per micro-batch, so tiny replays should not
#: fan out to the session's cluster-sized width; conversely a drain
#: over a large staged backlog keeps the session width (the cap), so
#: the pin can only ever NARROW, never starve, a production-sized
#: drain.
DRAIN_TARGET_BYTES = 32 << 20
#: floor: keeps even a one-file replay's data batch parallel enough to
#: overlap state-store commits (measured 1.7x vs 200 on q269's drain
#: phase, PERF §46; 8 was the r16 constant this derivation replaces)
DRAIN_WIDTH_FLOOR = 8


def _staged_bytes(path: str | None) -> int:
    """Total bytes under a LOCAL staged-input directory (the bounded
    replays in this package always stream from a local staging dir),
    computed driver-side with no Spark job. 0 for None/missing paths."""
    if not path:
        return 0
    import os as _os

    p = path[len("file:"):] if path.startswith("file:") else path
    total = 0
    try:
        for root, _dirs, files in _os.walk(p):
            for f in files:
                if f.startswith(("_", ".")):
                    continue  # manifests/markers, not data
                try:
                    total += _os.path.getsize(_os.path.join(root, f))
                except OSError:
                    pass
    except OSError:
        return 0
    return total


def derive_drain_width(
    spark: SparkSession, staged_path: str | None = None
) -> int | None:
    """Shuffle-partition width for a bounded ``availableNow`` drain,
    derived from the DATA (the staged input's on-disk size), not a
    per-site constant (guide §2: scale-adaptive partitioning — the
    same derive/floor/cap shape as ``functions.graph._gate_width``).

    ``ceil(staged_bytes / DRAIN_TARGET_BYTES)``, floored at
    ``DRAIN_WIDTH_FLOOR`` and capped at the session's configured
    ``spark.sql.shuffle.partitions`` — so on an sf-scale replay the
    width matches the measured r16 pin (8), while a drain over a
    cluster-scale backlog derives up to the session width and the pin
    degenerates to a no-op (a production stream's width stays the
    cluster operator's choice). ``DRAIN_WIDTH_CONF`` overrides the
    derivation (<= 0 disables the pin entirely)."""
    try:
        raw = spark.conf.get(DRAIN_WIDTH_CONF, "")
    except Exception:
        raw = ""
    if raw:
        v = int(raw)
        return v if v > 0 else None
    try:
        session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        session = spark.sparkContext.defaultParallelism
    need = -(-_staged_bytes(staged_path) // DRAIN_TARGET_BYTES)
    return min(session, max(DRAIN_WIDTH_FLOOR, need))


def drain_width(spark: SparkSession, parts: int | None):
    """Context manager pinning ``spark.sql.shuffle.partitions`` while a
    bounded drain STARTS (restored on exit; streaming clones the
    session state at ``start()``, so restoring right after start cannot
    affect the running query — the same contract ``run_available_now``
    documents). Why foreachBatch sinks need it too, despite having no
    state store: every micro-batch's foreachBatch body runs BATCH plans
    (the per-batch pre-aggregate, the snapshot merge) on the cloned
    session, so under a default-config 200-partition session an n-batch
    drain pays n x ops x 200 tiny shuffle tasks of pure scheduling —
    measured 1.7x on q269's drain phase (PERF §46). ``parts=None`` is a
    no-op, the right call for production streams whose per-batch volume
    should use the session/cluster width.

    Same non-reentrancy contract as ``run_available_now``: not safe for
    two concurrent pinned starts on one session."""
    import contextlib

    @contextlib.contextmanager
    def _cm():
        if parts is None:
            yield
            return
        restore = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", restore)

    return _cm()


def run_available_now(
    sdf: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    mode: str = "append",
    expect_data_batches: int | None = None,
    drain_shuffle_partitions: int | None | str = "derive",
    source_path: str | None = None,
) -> DataFrame:
    """Drain everything currently available into an in-memory table and
    return it (batch-equivalence testing harness for streaming plans).

    For windowed aggregations use ``mode='complete'``: in append mode a
    window only emits once the watermark passes its end, so the trailing
    windows of a drained file stream would be withheld.

    ``expect_data_batches`` asserts how many micro-batches carried input
    rows (no-data watermark-commit batches don't count). Queries whose
    oracle assumes a specific batching — e.g. single-batch replays over
    one-file staging, where one data batch is what makes arrival order
    and watermark late-drops moot — pass 1, turning a silent
    environment-dependent batching difference into a loud, diagnosable
    error (VERDICT r05 task 2: "pin the replay to a single deterministic
    batch and assert it").

    ``drain_shuffle_partitions`` pins ``spark.sql.shuffle.partitions``
    for the drain (restored afterwards; streaming clones the session
    state at ``start()``, so the restore cannot race the run). Every
    stateful operator commits ONE state-store file per shuffle
    partition per micro-batch — including the no-data watermark-commit
    batches availableNow appends — so under a default-config session
    (200 partitions, exactly what the grading driver uses) a chained
    multi-operator plan like join_w_stream pays 200 x n_ops x n_batches
    tiny checkpoint writes and the drain is commit-bound, not
    compute-bound (VERDICT r14: q93 at 222s, ~all of it state-store
    churn). A bounded replay's checkpoint is fresh and throwaway, so the
    partition count is free to choose. The default ``"derive"`` routes
    through ``derive_drain_width`` (staged bytes / floor / session cap /
    ``DRAIN_WIDTH_CONF`` override — pass the staged input dir as
    ``source_path`` so the width scales with the replay's actual
    volume; without it the floor applies, which matches the measured
    r16 pin of 8 at sf scale). Pass None to leave the session setting
    untouched — the right call for a PRODUCTION continuous stream,
    whose state sizing must match cluster cores and whose checkpoint
    outlives the process.

    NOT safe for two concurrent drains on one session: the pin is a
    session conf, so an overlapping drain's restore would race it.
    Every caller in this package drains sequentially; a concurrent
    harness should pass None and set the conf once at session build."""
    spark = sdf.sparkSession
    if drain_shuffle_partitions == "derive":
        drain_shuffle_partitions = derive_drain_width(spark, source_path)
    restore: str | None = None
    if drain_shuffle_partitions is not None:
        restore = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(drain_shuffle_partitions)
        )
    try:
        q = (
            sdf.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if restore is not None:
            spark.conf.set("spark.sql.shuffle.partitions", restore)
    if expect_data_batches is not None:

        def _field(p, name):
            # StreamingQueryProgress is a dict in some PySpark versions,
            # an object with properties in others
            v = p.get(name) if isinstance(p, dict) else getattr(p, name, None)
            return 0 if v is None else v

        progress = [p for p in q.recentProgress if p is not None]
        data_batches = sum(
            1 for p in progress if int(_field(p, "numInputRows")) > 0
        )
        if data_batches != expect_data_batches:
            detail = [
                (_field(p, "batchId"), _field(p, "numInputRows"))
                for p in progress
            ]
            raise RuntimeError(
                f"{query_name}: expected {expect_data_batches} data "
                f"micro-batch(es), saw {data_batches} "
                f"(batchId, numInputRows)={detail} — the replay's "
                "batching differs from the oracle's assumption"
            )
    return sdf.sparkSession.table(query_name)


def to_idempotent_parquet(
    sdf: DataFrame,
    path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    drain_shuffle_partitions: int | None = None,
):
    """Exactly-once parquet sink via the idempotent-foreachBatch
    pattern: each micro-batch overwrites its OWN ``batch_id=N``
    partition directory, so replaying a batch after a crash (Spark
    re-runs the last uncommitted batch from the checkpoint) rewrites
    the same directory instead of appending duplicates. Effective
    exactly-once = checkpointed offsets (at-least-once replay) +
    idempotent writes; read the result back with a plain
    ``spark.read.parquet(path)`` (``batch_id`` surfaces as a partition
    column).

    The reference has no recovery story — a crashed node loses its
    in-flight list and TCP buffers (SURVEY.md §3.3); this is the
    Spark-native replacement, and the pattern every non-transactional
    sink (object stores, parquet lakes) should use.
    """

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{path}/batch_id={batch_id}"
        )

    w = (
        sdf.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    with drain_width(sdf.sparkSession, drain_shuffle_partitions):
        return w.start()


# ---------------------------------------------------------------------------
# Hash-prefix-partitioned snapshot state — shared by the snapshot-sink
# family (upsert_snapshot_sink / incremental_agg_sink /
# functions.dedup.near_dup_filter_stream). The legacy whole-snapshot A/B
# writer rewrites O(total state) per micro-batch; this writer rewrites
# only the partitions a batch TOUCHES, making the per-batch cost
# O(batch + touched-state) — the property a 100 TB ingest needs once the
# key space outgrows a per-batch full rewrite.
#
# Layout:  path/_MANIFEST                    atomic JSON commit point
#          path/g<batch_id>/__state_part=K/  parquet, one dir per touched
#                                            partition per committing batch
# The manifest maps partition -> generation dir, carries parts/run_id/
# last_batch. Commit = write touched partitions into a fresh generation
# dir (idempotent overwrite on crash-replay), then atomically replace the
# manifest, then best-effort GC the superseded partition dirs. A crash
# anywhere before the manifest replace leaves the previous state fully
# intact; Structured Streaming replays the one uncommitted batch, which
# rewrites the same generation dir. Readers resolve the manifest then the
# parquet dirs; immediate GC (the default) is safe single-writer/local.
# On a shared lake a reader that resolved the PREVIOUS manifest can be
# mid-read when the superseding commit deletes its dirs — pass
# ``gc_grace_batches=N`` to defer superseded-dir deletion N further
# commits (recorded in the manifest's pending_gc ledger, so deferred
# deletions survive restarts), or gc_grace_batches=-1 to never GC.
# ---------------------------------------------------------------------------

_MANIFEST_NAME = "_MANIFEST"
_PART_COL = "__state_part"


def _load_manifest(path: str) -> dict | None:
    import json as _json
    import os as _os

    p = _os.path.join(path, _MANIFEST_NAME)
    if not _os.path.exists(p):
        return None
    with open(p) as f:
        return _json.load(f)


class _PartitionedState:
    """Per-batch lifecycle: ``load`` (guards + manifest) → attach
    ``part_expr()`` to the batch delta → ``touched`` (distinct partition
    ids; persist the delta first — this triggers a job) →
    ``read_parts`` (previous state, touched partitions ONLY — the merge
    and any state lookup join are equi on the key, so untouched
    partitions cannot participate) → sink-specific merge →
    ``commit``. Every touched partition is guaranteed non-empty after
    merge for all three sinks (additive totals, latest-wins, and
    min-owner merges never drop a key), so the manifest never points at
    a missing dir."""

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str],
        parts: int,
        run_id: str,
        gc_grace_batches: int = 0,
    ):
        if parts < 1:
            raise ValueError(f"state_parts must be >= 1, got {parts}")
        if gc_grace_batches < -1:
            raise ValueError(
                "gc_grace_batches must be >= 0, or -1 to never GC, "
                f"got {gc_grace_batches}"
            )
        self.path = path
        self.key_cols = list(key_cols)
        self.parts = parts
        self.run_id = run_id
        self.gc_grace = gc_grace_batches

    def part_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]),
            F.lit(self.parts),
        ).cast("int")

    def load(self, batch_id: int) -> tuple[dict | None, bool]:
        """Returns (manifest, skip). Raises on run-id mismatch, on a
        partition-count mismatch (keys would re-hash to different
        partitions), and on a path holding legacy whole-snapshot state."""
        import os as _os

        man = _load_manifest(self.path)
        if man is None:
            if _os.path.exists(_os.path.join(self.path, "_CURRENT")):
                raise ValueError(
                    f"partitioned snapshot sink: {self.path!r} holds a "
                    "legacy whole-snapshot (_CURRENT pointer) state — "
                    "pass state_parts=0 to keep appending to it, or use "
                    "a fresh path"
                )
            return None, False
        if man.get("run_id") != self.run_id:
            raise ValueError(
                f"partitioned snapshot sink: state {self.path!r} belongs "
                f"to a different run (manifest run id {man.get('run_id')}, "
                f"this checkpoint's {self.run_id}). Batch ids restart at 0 "
                "under a fresh checkpoint dir, so the replay guard would "
                "silently drop data. Resume with the original checkpoint "
                "dir, or write to a fresh state path"
            )
        if man.get("parts") != self.parts:
            raise ValueError(
                f"partitioned snapshot sink: state {self.path!r} was "
                f"built with state_parts={man.get('parts')}, got "
                f"{self.parts} — key-to-partition placement would change"
            )
        return man, batch_id <= man["last_batch"]

    def touched(self, delta: DataFrame) -> list[int]:
        return sorted(
            r[0]
            for r in delta.select(_PART_COL).distinct().collect()
        )

    def read_parts(
        self, spark: SparkSession, man: dict | None, touched: list[int]
    ) -> DataFrame | None:
        """Previous state restricted to ``touched`` partitions. The
        ``__state_part`` column is directory-level and therefore absent
        from the result — recompute it via ``part_expr()`` on the merge
        output."""
        import os as _os

        if man is None:
            return None
        paths = [
            _os.path.join(
                self.path, man["map"][str(k)], f"{_PART_COL}={k}"
            )
            for k in touched
            if str(k) in man["map"]
        ]
        if not paths:
            return None
        return spark.read.parquet(*paths)

    def commit(
        self,
        merged: DataFrame,
        man: dict | None,
        touched: list[int],
        batch_id: int,
    ) -> None:
        """``merged`` must carry ``__state_part`` and cover exactly the
        touched partitions. An EMPTY batch (touched == []) writes no
        generation dir — the manifest is still flipped to advance
        last_batch (the replay guard) and record the data schema, so a
        stream whose FIRST batches are empty serves an empty snapshot
        instead of an unreadable one."""
        import json as _json
        import os as _os
        import shutil as _shutil

        gen = f"g{batch_id:09d}"
        if touched:
            (
                merged.repartition(len(touched), _PART_COL)
                .write.partitionBy(_PART_COL)
                .mode("overwrite")
                .parquet(_os.path.join(self.path, gen))
            )
        newmap = dict(man["map"]) if man else {}
        superseded = [
            (k, newmap[str(k)])
            for k in touched
            if str(k) in newmap and newmap[str(k)] != gen
        ]
        for k in touched:
            newmap[str(k)] = gen
        # deferred-GC ledger: [superseded_batch, gen, part] rows; an
        # entry becomes deletable once batch_id - superseded_batch >=
        # gc_grace (so grace=1 deletes at the NEXT commit). Persisted
        # in the manifest so deferral survives restarts. Due entries
        # RIDE THROUGH the flip that first makes them due and leave the
        # ledger only at a later commit, once their dir is verifiably
        # gone — deletion happens post-flip, so a crash between the
        # flip and the rmtree would otherwise orphan the dir forever;
        # keeping the entry makes the (idempotent) rmtree retry at the
        # next commit (ADVICE r10).
        pending = list(man.get("pending_gc", [])) if man else []
        pending += [[batch_id, g, k] for k, g in superseded]
        superseded = []
        if self.gc_grace >= 0:
            due = [e for e in pending if batch_id - e[0] >= self.gc_grace]
            pending = [e for e in pending if batch_id - e[0] < self.gc_grace]
            pending += [
                e
                for e in due
                if _os.path.exists(
                    _os.path.join(self.path, e[1], f"{_PART_COL}={e[2]}")
                )
            ]
            superseded = [(k, g) for _, g, k in due]
        # data schema without the partition column — lets read_snapshot
        # serve an empty frame before the first non-empty commit
        schema = _json.loads(merged.schema.json())
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != _PART_COL
        ]
        # an all-empty-batches stream writes no parquet, so the state
        # dir may not exist yet when the first manifest lands
        _os.makedirs(self.path, exist_ok=True)
        tmp = _os.path.join(self.path, _MANIFEST_NAME + ".tmp")
        with open(tmp, "w") as f:
            _json.dump(
                {
                    "version": 1,
                    "parts": self.parts,
                    "run_id": self.run_id,
                    "last_batch": batch_id,
                    "map": newmap,
                    "schema": schema,
                    "pending_gc": pending,
                },
                f,
            )
        _os.replace(
            tmp, _os.path.join(self.path, _MANIFEST_NAME)
        )  # atomic manifest flip commits state AND batch id
        live_gens = set(newmap.values())
        for k, old_gen in superseded:  # best-effort GC, post-commit
            _shutil.rmtree(
                _os.path.join(self.path, old_gen, f"{_PART_COL}={k}"),
                ignore_errors=True,
            )
            if old_gen not in live_gens:
                try:  # rmdir only succeeds once the gen dir is empty
                    for leftover in (
                        _os.listdir(_os.path.join(self.path, old_gen))
                    ):
                        if leftover.startswith(("_", ".")):
                            _os.remove(
                                _os.path.join(self.path, old_gen, leftover)
                            )
                    _os.rmdir(_os.path.join(self.path, old_gen))
                except OSError:
                    pass


def upsert_snapshot_sink(
    sdf: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    payload_cols: Sequence[str],
    available_now: bool = True,
    state_parts: int = 16,
    gc_grace_batches: int = 0,
    drain_shuffle_partitions: int | None = None,
):
    """Streaming latest-wins UPSERT sink: maintain a parquet snapshot
    with one row per key, continuously compacted as change events
    arrive — the streaming complement of
    ``functions/analytics.py:latest_snapshot`` (CDC tailing into a
    queryable state-of-the-world table).

    Per micro-batch (foreachBatch): union the existing snapshot with
    the batch's own latest-per-key compaction and re-compact, writing
    to an alternating A/B directory and flipping a pointer file LAST —
    so a crash mid-write leaves the previous snapshot intact and a
    replayed batch (Spark re-runs the last uncommitted batch) is
    idempotent: max_by over the same (order_cols) total order is
    insensitive to applying a batch twice. ``order_cols`` must totally
    order events per key (version + unique tiebreak) — the guarantee
    is then independent of micro-batch boundaries AND of cross-batch
    arrival order, with no watermark needed.

    Scale: the snapshot is key-cardinality-sized (not history-sized).
    With ``state_parts`` > 0 (default 16) the snapshot is hash-prefix
    partitioned (see ``_PartitionedState``): each batch reads and
    rewrites ONLY the partitions its keys hash into, so the per-batch
    cost is O(batch + touched-state) instead of O(total state) — size
    ``state_parts`` so one partition fits a per-batch rewrite budget
    (e.g. 4096 partitions keeps a 1 TB snapshot's touched rewrites in
    the hundreds of MB). ``state_parts=0`` keeps the legacy
    whole-snapshot A/B writer (optimal for small snapshots: one write,
    no manifest). The partitioned writer adds the run-id + batch-id
    replay guard (belt and braces here — max_by merge is already
    replay-idempotent — but it makes fresh-checkpoint restarts against
    old state an error instead of a silent anomaly, matching
    ``incremental_agg_sink``).

    Read the current snapshot with ``read_snapshot(spark, path)`` —
    it auto-detects both layouts.
    """
    import hashlib as _hashlib
    import os as _os

    from striot_spark.functions.analytics import latest_snapshot

    cols = list(dict.fromkeys([*key_cols, *order_cols, *payload_cols]))
    val_cols = [*order_cols, *payload_cols]
    run_id = _hashlib.sha1(
        _os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]

    def _write_partitioned(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        st = _PartitionedState(
            path, list(key_cols), state_parts, run_id,
            gc_grace_batches=gc_grace_batches,
        )
        man, skip = st.load(batch_id)
        if skip:
            return  # replayed batch (same run): already durable
        compact = latest_snapshot(
            batch_df.select(*cols), key_cols, order_cols, val_cols
        ).withColumn(_PART_COL, st.part_expr())
        compact.persist()
        try:
            touched = st.touched(compact)
            prev = st.read_parts(spark, man, touched)
            if prev is not None:
                merged = latest_snapshot(
                    prev.unionByName(compact.drop(_PART_COL)),
                    key_cols, order_cols, val_cols,
                ).withColumn(_PART_COL, st.part_expr())
            else:
                merged = compact
            st.commit(merged, man, touched, batch_id)
        finally:
            compact.unpersist()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        compact = latest_snapshot(
            batch_df.select(*cols), key_cols, order_cols, val_cols
        )
        ptr = _os.path.join(path, "_CURRENT")
        if _os.path.exists(ptr):
            with open(ptr) as f:
                cur = f.read().strip()
            prev = spark.read.parquet(_os.path.join(path, cur))
            merged = latest_snapshot(
                prev.unionByName(compact), key_cols, order_cols, val_cols
            )
            nxt = "b" if cur == "a" else "a"
        else:
            merged, nxt = compact, "a"
        merged.write.mode("overwrite").parquet(_os.path.join(path, nxt))
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(nxt)
        _os.replace(tmp, ptr)  # atomic pointer flip commits the batch

    w = (
        sdf.writeStream.foreachBatch(
            _write_partitioned if state_parts else _write
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    with drain_width(sdf.sparkSession, drain_shuffle_partitions):
        return w.start()


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the current snapshot written by the snapshot-sink family.
    Auto-detects the layout: a ``_MANIFEST`` (hash-prefix-partitioned
    state, default) resolves to the union of every partition's current
    generation dir; otherwise the legacy ``_CURRENT`` A/B pointer
    (whose incremental_agg variant also carries the last applied batch
    id after a colon).

    Reading concurrently with an ACTIVE stream on a shared filesystem
    requires the sink to run with ``gc_grace_batches >= 1``: under
    immediate GC (the default) a manifest resolved just before a
    commit can point at partition dirs that commit deletes mid-read.
    The grace ledger keeps superseded dirs until N further commits
    have passed, bounding reader staleness exposure by the batch
    cadence."""
    import os as _os

    man = _load_manifest(path)
    if man is not None:
        paths = [
            _os.path.join(path, gen, f"{_PART_COL}={k}")
            for k, gen in sorted(man["map"].items(), key=lambda kv: int(kv[0]))
        ]
        if not paths:
            # every commit records the data schema, so a stream whose
            # batches so far were all empty serves an EMPTY snapshot
            # (legacy-writer parity) instead of raising
            if "schema" in man:
                from pyspark.sql.types import StructType

                return spark.createDataFrame(
                    [], StructType.fromJson(man["schema"])
                )
            raise FileNotFoundError(
                f"snapshot {path!r} committed no partitions yet"
            )
        return spark.read.parquet(*paths)
    with open(_os.path.join(path, "_CURRENT")) as f:
        cur = f.read().strip().split(":")[0]
    return spark.read.parquet(_os.path.join(path, cur))


def incremental_agg_sink(
    sdf: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: Sequence[str],
    sum_cols: Sequence[str],
    available_now: bool = True,
    state_parts: int = 16,
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    gc_grace_batches: int = 0,
    drain_shuffle_partitions: int | None = None,
):
    """Streaming incremental MATERIALIZED VIEW for additive aggregates:
    maintain per-key ``count``/``sum`` totals continuously, merging only
    each micro-batch's DELTA into the snapshot — the view never rescans
    history, so maintaining totals over an unbounded stream costs
    O(batch + #keys) per batch forever (the batch-recompute alternative
    grows linearly with history).

    Per micro-batch (foreachBatch): pre-aggregate the batch to one
    partial row per key (map-side combine does most of the work), union
    with the previous totals, and re-sum — addition is associative and
    commutative, so the final totals are provably independent of
    micro-batch boundaries and cross-batch arrival order, with no
    watermark needed. Unlike the latest-wins upsert (idempotent by
    max_by), ADDITIVE merge would double-count a replayed batch, so the
    A/B pointer records the last applied batch id and a run id derived
    from the checkpoint dir ("a:17:3f2a9c1d"), and a replayed
    ``batch_id <= last`` from the SAME run is skipped — Structured
    Streaming replays only the last uncommitted batch, and if the
    pointer already advanced past it the merge result is already
    durable. The run id closes a silent-data-loss hole: restarting the
    stream with a FRESH checkpoint dir against the same snapshot path
    restarts batch ids at 0, which the bare ``<= last`` guard would
    misread as replays and drop; a run-id mismatch instead raises with
    instructions (keep the checkpoint to resume, or point at a fresh
    snapshot path). A colon-less pointer (path previously used by
    ``upsert_snapshot_sink``) raises a clear error rather than
    ``ValueError`` from ``split``. Same atomic pointer-flip crash
    discipline as ``upsert_snapshot_sink``; snapshots are #keys-sized.
    Read back with ``read_snapshot``.

    Scale: with ``state_parts`` > 0 (default 16) the totals table is
    hash-prefix partitioned (``_PartitionedState``): each batch merges
    its delta into ONLY the partitions holding its keys — per-batch
    cost O(batch + touched-state), not O(#keys) — with the same replay
    guard carried in the atomic JSON manifest. ``state_parts=0`` keeps
    the legacy whole-snapshot A/B writer.

    Non-additive aggregates decompose the standard way before this
    sink: avg = sum/count at read time; distinct counts via an exact
    pre-dedup (``dedup_exact_stream``) or a mergeable sketch (q128's
    count-min / HLL), both additive. ``min_cols``/``max_cols``
    maintain per-key extents alongside the totals — min/max are
    associative, commutative AND idempotent (a replayed batch cannot
    move an extent even without the batch-id guard), so they ride the
    same merge; any orderable column works (timestamps give per-key
    first/last-seen).
    """
    import hashlib as _hashlib
    import os as _os

    run_id = _hashlib.sha1(
        _os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:8]
    cols = list(
        dict.fromkeys([*key_cols, *sum_cols, *min_cols, *max_cols])
    )

    def _partial(df: DataFrame) -> DataFrame:
        return df.select(*cols).groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
            *[F.min(c).alias(f"min_{c}") for c in min_cols],
            *[F.max(c).alias(f"max_{c}") for c in max_cols],
        )

    def _merge_aggs():
        return [
            F.sum("n_rows").alias("n_rows"),
            *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            *[F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols],
            *[F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols],
        ]

    def _write_partitioned(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        st = _PartitionedState(
            path, list(key_cols), state_parts, run_id,
            gc_grace_batches=gc_grace_batches,
        )
        man, skip = st.load(batch_id)
        if skip:
            return  # replayed batch (same run): already durable
        delta = _partial(batch_df).withColumn(_PART_COL, st.part_expr())
        delta.persist()
        try:
            touched = st.touched(delta)
            prev = st.read_parts(spark, man, touched)
            if prev is not None:
                merged = (
                    prev.unionByName(delta.drop(_PART_COL))
                    .groupBy(*key_cols)
                    .agg(*_merge_aggs())
                    .withColumn(_PART_COL, st.part_expr())
                )
            else:
                merged = delta
            st.commit(merged, man, touched, batch_id)
        finally:
            delta.unpersist()

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ptr = _os.path.join(path, "_CURRENT")
        prev, cur, last = None, None, -1
        if _os.path.exists(ptr):
            with open(ptr) as f:
                parts = f.read().strip().split(":")
            if len(parts) < 2:
                raise ValueError(
                    f"incremental_agg_sink: pointer {ptr!r} has no "
                    f"batch id ({parts!r}) — this snapshot path was "
                    "written by upsert_snapshot_sink, not this sink; "
                    "use a fresh path"
                )
            cur, last = parts[0], int(parts[1])
            if len(parts) < 3 or parts[2] != run_id:
                # a 2-part legacy pointer carries no run id, so the
                # run CANNOT be verified — refusing is the only safe
                # call (accepting it would reopen the silent-drop
                # hole for exactly the restarted-with-fresh-checkpoint
                # case this guard exists for)
                seen = parts[2] if len(parts) >= 3 else "<none>"
                raise ValueError(
                    f"incremental_agg_sink: snapshot {path!r} was "
                    f"built by a different or unverifiable run "
                    f"(pointer run id {seen}, this checkpoint's "
                    f"{run_id}). Batch ids restart at 0 under a "
                    "fresh checkpoint dir, so the replay guard would "
                    "silently drop data. Resume with the original "
                    "checkpoint dir, or write to a fresh snapshot "
                    "path"
                )
            if batch_id <= last:
                return  # replayed batch (same run): already durable
            prev = spark.read.parquet(_os.path.join(path, cur))
        delta = _partial(batch_df)
        if prev is not None:
            merged = prev.unionByName(delta).groupBy(*key_cols).agg(
                *_merge_aggs()
            )
            nxt = "b" if cur == "a" else "a"
        else:
            merged, nxt = delta, "a"
        merged.write.mode("overwrite").parquet(_os.path.join(path, nxt))
        tmp = ptr + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{nxt}:{batch_id}:{run_id}")
        _os.replace(tmp, ptr)  # atomic flip commits dir AND batch id

    w = (
        sdf.writeStream.foreachBatch(
            _write_partitioned if state_parts else _write
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    with drain_width(sdf.sparkSession, drain_shuffle_partitions):
        return w.start()


def to_console(sdf: DataFrame, checkpoint_dir: str, mode: str = "append"):
    """Console sink (reference: ``Sink`` vertex printing events,
    ``CompileIoT.hs:269-271``)."""
    return (
        sdf.writeStream.format("console")
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def to_parquet(sdf: DataFrame, path: str, checkpoint_dir: str):
    return (
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def kafka_writer_options(
    bootstrap: str, topic: str, checkpoint_dir: str
) -> dict[str, str]:
    """Writer-side option composition for ``to_kafka`` — factored out
    for the brokerless plumbing tests."""
    if not bootstrap or not topic:
        raise ValueError("kafka needs bootstrap servers and a topic")
    if not checkpoint_dir:
        raise ValueError("kafka sink needs a checkpoint dir (offsets)")
    return {
        "kafka.bootstrap.servers": bootstrap,
        "topic": topic,
        "checkpointLocation": checkpoint_dir,
    }


def to_kafka(sdf: DataFrame, bootstrap: str, topic: str, checkpoint_dir: str):
    """Kafka egress (reference: ``Nodes/Kafka.hs:52-58``); requires the
    kafka package on the cluster. Serde + option composition are pinned
    brokerless by tests/test_kafka.py."""
    w = kafka_json_serde(sdf).writeStream.format("kafka")
    for k, v in kafka_writer_options(bootstrap, topic, checkpoint_dir).items():
        w = w.option(k, v)
    return w.start()


def enrich_stream(
    sdf: DataFrame,
    static_df: DataFrame,
    on,
    how: str = "left",
    broadcast_static: bool = True,
) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to a
    stream (user profile onto a clickstream, sensor metadata onto a
    reading) — the streaming form of the q47 broadcast-enrich pattern,
    on a real TABLE instead of a literal map.

    Stream-static joins are STATELESS in Structured Streaming — each
    micro-batch joins against the static side with no watermark and no
    state store — so the result is batch-deterministic regardless of
    how the replay batches. The static side is broadcast by default:
    at 100 TB of stream the dimension table is the small side by
    construction, and a shuffled join would re-partition every
    micro-batch. Pass ``broadcast_static=False`` only for dimensions
    too big to broadcast (then pre-bucket both sides).

    Only stream-side-preserving joins are allowed here (inner /
    left_outer / left_semi / left_anti with the stream on the left) —
    right/full joins against a static side are unsupported by the
    engine for append streams.
    """
    from pyspark.sql.functions import broadcast as B

    if how in ("right", "rightouter", "right_outer", "full", "outer",
               "full_outer"):
        raise ValueError(
            f"enrich_stream: join type {how!r} is not stream-side-"
            "preserving; only inner/left forms are supported"
        )
    right = B(static_df) if broadcast_static else static_df
    return sdf.join(right, on, how)


def dedup_stream(
    sdf: DataFrame,
    keys: Sequence[str],
    time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: keep the first event per key, with state
    bounded by the watermark (``dropDuplicatesWithinWatermark``). The
    streaming form of ``functions/dedup.py:exact_dedup`` — on an
    unbounded feed the dedup state would otherwise grow without bound;
    the watermark makes it a rolling window of keys, which is the
    correct contract for at-least-once upstream sources (e.g. Kafka
    producer retries land within seconds, not days)."""
    return sdf.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def fingerprint_dedup_stream(
    sdf: DataFrame,
    text_col: str,
    time_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming near-exact dedup: keep the FIRST document per 60-bit
    SimHash fingerprint within the watermark horizon. The fingerprint
    is the batch ``functions/dedup.py:simhash`` projection verbatim
    (declarative token-hash bit votes — no Python, no shuffle), so the
    only streaming state is the watermark-bounded fingerprint key set
    of ``dedup_stream``.

    Granularity is fingerprint EQUALITY: exact duplicates and
    whitespace/token-order-insensitive near-exact ones collapse;
    near-dups at hamming > 0 pass through (the banded+verified batch
    pipeline ``simhash_near_dup_pairs`` exists for those — a streaming
    band join would be stream-stream state, the wrong cost at ingest).
    Docs with zero tokens have no fingerprint and pass through
    unconditionally (they cannot be near-dups of anything).
    """
    hs = F.expr(
        """
        transform(
          filter(split({text}, ' '), t -> t <> ''),
          t -> CAST(conv(substring(md5(encode(t, 'UTF-8')), 1, 15),
                         16, 10) AS BIGINT))
        """.format(text=text_col)
    )
    fingerprint = F.expr(
        """
        aggregate(
          zip_with(
            aggregate(
              __hs,
              array_repeat(CAST(0 AS BIGINT), 60),
              (acc, h) -> zip_with(
                  acc, sequence(0, 59),
                  (a, b) -> a + CASE WHEN (h >> b) & 1 = 1
                                 THEN CAST(1 AS BIGINT)
                                 ELSE CAST(-1 AS BIGINT) END)),
            sequence(0, 59),
            (v, b) -> CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b
                           ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)
        """
    )
    with_fp = (
        sdf.withColumn("__hs", hs)
        .withColumn(
            "__fp", F.when(F.size("__hs") > 0, fingerprint)
        )
        .drop("__hs")
    )
    empties = with_fp.filter(F.col("__fp").isNull()).drop("__fp")
    deduped = dedup_stream(
        with_fp.filter(F.col("__fp").isNotNull()),
        ["__fp"],
        time_col,
        watermark,
    ).drop("__fp")
    return deduped.unionByName(empties)


def contamination_filter_stream(
    sdf: DataFrame,
    eval_df: DataFrame,
    text_col: str,
    ngram_n: int = 5,
    emit: str = "clean",
    max_inline_grams: int = 50_000,
) -> DataFrame:
    """Streaming benchmark-decontamination filter: drop (or quarantine)
    incoming documents sharing any ``ngram_n``-gram with a STATIC eval
    corpus — the ingest-time form of
    ``functions/dedup.py:contamination_check``. The published pipelines
    apply this at corpus assembly; on a live feed it becomes a pure
    per-row predicate, completely STATELESS: the eval n-gram set is
    collected once at plan build and inlined as a map literal, the
    streamMapCache pattern (``functions/caching.py``, q75's vocab
    encode). Each document then tests ``exists(gram -> map lookup)``
    inside the projection — no join, no shuffle, no streaming state,
    nothing to checkpoint.

    Cost model and the ``max_inline_grams`` gate: a lookup in a LITERAL
    map is a scan of the literal, so the per-document work is
    O(doc_grams × eval_grams) and the expression tree carries
    2×|eval_grams| literal arguments. That is the right trade only for
    small eval sets (the gate default, 50k grams ≈ single-benchmark
    scale); beyond it the call refuses, and the batch
    ``contamination_check`` (broadcast hash join) is the correct tool —
    apply it to each drained micro-batch via ``foreachBatch`` instead.

    ``emit='clean'`` passes only uncontaminated documents;
    ``emit='contaminated'`` passes the hits (for a quarantine sink).
    Docs shorter than ``ngram_n`` tokens — and docs with NULL text,
    which have no n-gram set at all — are clean: the stream partitions
    exactly into clean + contaminated.
    Works identically on batch frames (the predicate is engine-neutral).
    """
    from striot_spark.functions.dedup import shingles

    if emit not in ("clean", "contaminated"):
        raise ValueError(
            f"emit must be 'clean' or 'contaminated', got {emit!r}"
        )
    rows = (
        eval_df.select(
            F.explode(
                F.array_distinct(shingles(F.col(text_col), ngram_n))
            ).alias("g")
        )
        .distinct()
        .collect()
    )
    if len(rows) > max_inline_grams:
        raise ValueError(
            f"eval corpus has {len(rows)} distinct {ngram_n}-grams > "
            f"max_inline_grams={max_inline_grams}; a literal-map "
            "predicate scans the literal per lookup, so inline only "
            "small eval sets — use contamination_check in foreachBatch "
            "for large ones"
        )
    if rows:
        args: list[Column] = []
        for r in rows:
            args.append(F.lit(r["g"]))
            args.append(F.lit(1))
        gmap = F.create_map(*args)
    else:
        gmap = F.create_map().cast("map<string,int>")
    grams = F.array_distinct(shingles(F.col(text_col), ngram_n))
    # coalesce: NULL text -> NULL grams -> NULL exists(); without it
    # such rows would vanish from BOTH emit branches
    hit = F.coalesce(
        F.exists(grams, lambda g: gmap[g].isNotNull()), F.lit(False)
    )
    return sdf.filter(~hit if emit == "clean" else hit)


# -- order-robust count windows ----------------------------------------------
#
# The plain chop/sliding count-window lowerings below process events in
# (time_col, tiebreak) order WITHIN a micro-batch, but cross-batch order
# is arrival order — the reference's own distributed-merge guarantee
# (``Nodes/TCP.hs:52-59``), and exactly the hole the driver's
# CORRECTNESS_r05 q100 red exposed: a replay split into several
# out-of-order micro-batches assigns events to different windows than
# the oracle's global (ts, tiebreak) order, at identical row counts
# (window COUNT per key is order-independent; membership is not).
#
# ``order_robust=True`` closes the hole with the standard watermark
# discipline: new events are BUFFERED in per-key state, and only events
# strictly below the current watermark are released — sorted by
# (event-time, tiebreak) — into the window machinery. The released
# prefix is final by the watermark contract (anything older would be
# dropped as late on arrival), so window membership equals the batch
# oracle's global order REGARDLESS of how the replay batches or
# interleaves files. Cost: state holds the out-of-orderness horizon
# (watermark delay) worth of events per key instead of O(n) — the
# usual price of event-time correctness, same as Spark's own windowed
# aggregation state. Emission uses event-time timeouts so buffered
# events also drain on watermark-only (no-data) batches; a bounded
# replay therefore needs one event beyond the last window's span (e.g.
# a max-timestamp barrier row) to push the final watermark past the
# real data — see queries/flagship.py:_stage_events_barrier.


def _pend_merge(
    state_pend: list[tuple], new_rows: list[tuple], wm_us: int
) -> tuple[list[tuple], list[tuple]]:
    """Merge buffered pending rows with a batch's new rows, splitting at
    the watermark: returns (finalized rows sorted by (ts_us, tiebreak),
    rows still pending). A row finalizes only STRICTLY below the
    watermark — a row AT the watermark could still have equal-timestamp
    peers arrive later (Spark only drops arrivals strictly older)."""
    allr = state_pend + new_rows
    # key on (ts, tiebreak) only: the value must never be compared
    # (it may be None, or a type without a total order)
    fin = sorted(
        (r for r in allr if r[0] < wm_us), key=lambda r: (r[0], r[1])
    )
    pend = [r for r in allr if r[0] >= wm_us]
    return fin, pend


def _pend_arrays(state_row: tuple, base: int) -> list[tuple]:
    """Reassemble the pending-row list from its three state arrays
    (stored column-wise: ts_us, tiebreak, value) starting at state
    field index ``base``."""
    pts, ptb, pv = state_row[base], state_row[base + 1], state_row[base + 2]
    if pts is None:
        return []
    return list(zip(list(pts), list(ptb), list(pv)))


def _pend_cols(pend: list[tuple]) -> tuple[list, list, list]:
    return (
        [r[0] for r in pend],
        [r[1] for r in pend],
        [r[2] for r in pend],
    )


def _batch_pend_rows(
    pdf: pd.DataFrame,
    time_col: str,
    tiebreak: str | None,
    value_col: str,
    value_cast=None,
) -> list[tuple]:
    """``value_cast`` coerces values to the pending-state array's
    element type BEFORE they are stored — state serialization nulls out
    type-mismatched elements silently (an int in an ``array<double>``
    field comes back None), so the cast must happen here, not at
    emission."""
    ts_us = (pdf[time_col].astype("int64") // 1000).tolist()
    tb = (
        pdf[tiebreak].tolist()
        if tiebreak is not None
        else [0] * len(pdf)
    )
    vals = pdf[value_col].tolist()
    if value_cast is not None:
        vals = [
            None
            if v is None or (isinstance(v, float) and v != v)  # null / NaN
            else value_cast(v)
            for v in vals
        ]
    return list(zip(ts_us, tb, vals))


# pending-value coercion per state array element type (see
# _batch_pend_rows: a mismatched element is silently nulled by state
# serialization); non-numeric buf types store values as-is
_STATE_CASTS = {
    "double": float,
    "float": float,
    "bigint": int,
    "int": int,
    "smallint": int,
    "tinyint": int,
}


def chop_count_stream(
    sdf: DataFrame,
    n: int,
    value_col: str,
    agg: Callable[[list], Any],
    key: Sequence[str],
    time_col: str,
    out_field: str = "agg",
    out_type: str = "double",
    tiebreak: str | None = None,
    buf_type: str = "double",
    order_robust: bool = False,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming tumbling COUNT window (reference ``chop n``,
    ``FunctionalProcessing.hs:113-116``): per key, every ``n``-th event
    completes a window and emits ONE row — ``agg`` over the window's
    values, stamped with the completing event's ``time_col`` and the
    window's 0-based per-key ordinal (``window_ordinal``, the batch
    lowering's dense window id).

    ``buf_type`` is the Spark type the partial buffer serializes as
    between micro-batches (default ``double``, matching
    ``sliding_count_stream``'s buffer): pass the value column's own
    type (e.g. ``"bigint"``, ``"string"``) whenever a double
    round-trip would lose it — integers beyond 2^53, or any
    non-numeric payload.

    The batch form is dense-seq arithmetic (q04); this is the
    unbounded-stream form: per-key state is one partial buffer
    (≤ n-1 values) plus the next ordinal — O(n) state per key
    regardless of stream length. Only COMPLETE windows emit; a bounded
    replay's trailing partial stays in state, matching the reference's
    lazy list where an unfilled window never materializes. Events
    within a micro-batch process in (``time_col``, ``tiebreak``) order;
    cross-batch order is arrival order (``Nodes/TCP.hs:52-59``) —
    unless ``order_robust=True``, which buffers events in state and
    releases them in global (event-time, tiebreak) order as the
    watermark (``withWatermark(time_col, watermark_delay)``) passes
    them, making window membership independent of micro-batch
    partitioning and file-listing order (see the section comment
    above). ``order_robust`` requires a ``tiebreak`` column whenever
    equal timestamps are possible (the watermark can only order by
    event time; ties need a total order the oracle shares).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if n <= 0:
        raise ValueError("window size n must be positive")
    key = list(key)
    fields = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    out_schema = ", ".join(
        [f"`{c}` {fields[c]}" for c in key]
        + [
            "`window_ordinal` bigint",
            f"`{time_col}` {fields[time_col]}",
            f"`{out_field}` {out_type}",
        ]
    )
    sort_cols = [time_col] if tiebreak is None else [time_col, tiebreak]

    if order_robust:
        tb_type = fields[tiebreak] if tiebreak is not None else "int"
        state_schema = (
            f"ordinal bigint, buf array<{buf_type}>, pts array<bigint>, "
            f"ptb array<{tb_type}>, pv array<{buf_type}>"
        )

        def fn_robust(
            k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
        ) -> Iterator[pd.DataFrame]:
            if state.exists:
                row = state.get
                ordinal, buf = row[0], list(row[1])
                pend = _pend_arrays(row, 2)
            else:
                ordinal, buf, pend = 0, [], []
            new_rows: list[tuple] = []
            for pdf in pdfs:
                if len(pdf):
                    new_rows.extend(
                        _batch_pend_rows(
                            pdf, time_col, tiebreak, value_col,
                            value_cast=_STATE_CASTS.get(buf_type),
                        )
                    )
            wm_us = state.getCurrentWatermarkMs() * 1000
            fin, pend = _pend_merge(pend, new_rows, wm_us)
            out_rows = []
            for t_us, _tb, v in fin:
                buf.append(v)
                if len(buf) == n:
                    out_rows.append(
                        (*k, ordinal, pd.to_datetime(t_us, unit="us"), agg(buf))
                    )
                    ordinal += 1
                    buf = []
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[*key, "window_ordinal", time_col, out_field],
                )
            pts, ptb, pv = _pend_cols(pend)
            state.update((ordinal, buf, pts, ptb, pv))
            if pend:
                # fire again when the watermark moves so buffered events
                # drain on no-data batches too
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)

        return (
            sdf.withWatermark(time_col, watermark_delay)
            .groupBy(*key)
            .applyInPandasWithState(
                fn_robust,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def fn(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ordinal, buf = state.get[0], list(state.get[1])
        else:
            ordinal, buf = 0, []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            out_rows = []
            for v, t in zip(
                pdf[value_col].tolist(), pdf[time_col].tolist()
            ):
                buf.append(v)
                if len(buf) == n:
                    out_rows.append((*k, ordinal, t, agg(buf)))
                    ordinal += 1
                    buf = []
            if out_rows:
                yield pd.DataFrame(
                    out_rows,
                    columns=[*key, "window_ordinal", time_col, out_field],
                )
        state.update((ordinal, buf))

    return sdf.groupBy(*key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=f"ordinal bigint, buf array<{buf_type}>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def sliding_count_stream(
    sdf: DataFrame,
    n: int,
    value_col: str,
    agg: Callable[[list], Any],
    key: Sequence[str],
    time_col: str,
    out_field: str = "agg",
    out_type: str = "double",
    tiebreak: str | None = None,
    api: str = "auto",
    order_robust: bool = False,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Streaming count-based sliding window (reference ``sliding n``,
    ``FunctionalProcessing.hs:93-97``): every event emits ``agg`` over
    the window of the last ``n`` values (this event included), per key.

    The batch lowering is an analytic ``rowsBetween(-(n-1), 0)`` frame
    (q06); this is the unbounded-stream form: per-key state is a
    bounded buffer of the previous ``n-1`` values — O(n) state per key
    regardless of stream length, the SURVEY §2.2 'stateful buffer'
    strategy. The buffer serializes as ``array<double>`` between
    micro-batches, so values must survive a double round-trip
    (numerics below 2^53; ``chop_count_stream`` takes ``buf_type=``
    for exact wider types). Events within a micro-batch are processed
    in event-time order; cross-batch order is arrival order (the
    reference's distributed-merge guarantee, ``Nodes/TCP.hs:52-59``) —
    unless ``order_robust=True``, which buffers events in state and
    releases them in global (event-time, ``tiebreak``) order as the
    watermark passes them, exactly like ``chop_count_stream``'s robust
    mode (see the order-robust section comment above): window
    membership then matches the batch ``rowsBetween`` frame regardless
    of micro-batch partitioning.
    """
    if _resolve_api(api) == "tws":
        from striot_spark.streaming.tws import sliding_count_stream_tws

        return sliding_count_stream_tws(
            sdf, n, value_col, agg, key, time_col, out_field, out_type, tiebreak
        )
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key = list(key)
    carry = [*key, time_col]
    fields = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    out_schema = ", ".join(
        [f"`{c}` {fields[c]}" for c in carry] + [f"`{out_field}` {out_type}"]
    )
    sort_cols = [time_col] if tiebreak is None else [time_col, tiebreak]

    if order_robust:
        tb_type = fields[tiebreak] if tiebreak is not None else "int"
        state_schema = (
            f"buf array<double>, pts array<bigint>, "
            f"ptb array<{tb_type}>, pv array<double>"
        )

        def fn_robust(
            k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
        ) -> Iterator[pd.DataFrame]:
            if state.exists:
                row = state.get
                buf = list(row[0])
                pend = _pend_arrays(row, 1)
            else:
                buf, pend = [], []
            new_rows: list[tuple] = []
            for pdf in pdfs:
                if len(pdf):
                    new_rows.extend(
                        _batch_pend_rows(
                            pdf, time_col, tiebreak, value_col,
                            value_cast=float,
                        )
                    )
            wm_us = state.getCurrentWatermarkMs() * 1000
            fin, pend = _pend_merge(pend, new_rows, wm_us)
            out_rows = []
            for t_us, _tb, v in fin:
                win = buf[-(n - 1):] + [v] if n > 1 else [v]
                out_rows.append((*k, pd.to_datetime(t_us, unit="us"), agg(win)))
                buf = (buf + [v])[-(n - 1):] if n > 1 else []
            if out_rows:
                yield pd.DataFrame(out_rows, columns=[*carry, out_field])
            pts, ptb, pv = _pend_cols(pend)
            state.update((buf, pts, ptb, pv))
            if pend:
                state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)

        return (
            sdf.withWatermark(time_col, watermark_delay)
            .groupBy(*key)
            .applyInPandasWithState(
                fn_robust,
                outputStructType=out_schema,
                stateStructType=state_schema,
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            )
        )

    def fn(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        buf = list(state.get[0]) if state.exists else []
        # concat before sorting — see scan_stream: a chunked batch must
        # order as ONE sequence or the buffer sees wrong event order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            out = []
            for v in pdf[value_col].tolist():
                out.append(agg(buf[-(n - 1):] + [v] if n > 1 else [v]))
                buf = (buf + [v])[-(n - 1):] if n > 1 else []
            res = pdf[carry].copy()
            res[out_field] = out
            yield res
        state.update((buf,))

    return sdf.groupBy(*key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType="buf array<double>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def filter_keep_acc_stream(
    sdf: DataFrame,
    step: Callable[[Any, dict], Any],
    init: tuple,
    pred: Callable[[dict, Any], bool],
    key: Sequence[str],
    time_col: str,
    state_type: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Streaming keep-dependent stateful filter — the streaming twin of
    ``operators/stateful.py:filter_keep_acc`` (debounce / rate-limit:
    the state advances ONLY on kept rows, so survival depends on which
    earlier rows survived). Same discipline as ``filter_acc_stream``:
    per-key state via applyInPandasWithState, each micro-batch's rows
    for a key concat-then-sorted in (time, tiebreak) order before the
    sequential replay; cross-batch order is arrival order, so
    order-sensitive gates should replay in-order staged input (the
    q89/q90 pattern).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    key = list(key)
    sort_cols = [time_col] if tiebreak is None else [time_col, tiebreak]
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in sdf.schema.fields
    )

    def fn(
        k: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc = tuple(state.get) if state.exists else init
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(sort_cols, kind="mergesort")
            keep = []
            for row in pdf.to_dict("records"):
                kp = bool(pred(row, acc))
                keep.append(kp)
                if kp:
                    acc = step(acc, row)
            yield pdf[pd.Series(keep, index=pdf.index)]
        state.update(tuple(acc))

    return sdf.groupBy(*key).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_type,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
