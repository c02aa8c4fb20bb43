"""Structured Streaming operators: incremental image ingest -> cell aggregation.

The reference is pure batch (Spark 2.2, no watermarks/state anywhere — SURVEY.md
§2.8); its incremental story is snapshot-based checkpointed batch, which this
engine provides via iceberg_lite. These operators are the additional
Structured-Streaming surface for genuinely continuous feeds: file-source ingest
of image batches, watermarked per-cell windowed counts, and streaming
exact-dedup. They reuse the batch engine's Column kernels (cell encode is the
same expression in both modes — Catalyst doesn't care).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cells

# streamed image batches carry an event-time column
STREAM_IMAGES_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("caption", T.StringType(), True),
        T.StructField("event_time", T.TimestampType(), False),
    ]
)


def read_image_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream over a directory of image-batch parquet files."""
    return (
        spark.readStream.format("parquet")
        .schema(STREAM_IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def streaming_cell_counts(
    stream: DataFrame,
    res: int = 7,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked per-(window, cell) counts — the streaming twin of the batch
    rollup. Late rows beyond the watermark are dropped; state is bounded."""
    return (
        stream.withWatermark("event_time", watermark)
        .withColumn("cell", cells.grid_encode_phash(F.col("phash"), res))
        .groupBy(F.window("event_time", window), F.col("cell"))
        .agg(F.count("*").alias("n_images"))
    )


def streaming_pip_counts(
    stream: DataFrame,
    polygons: DataFrame,
    res_min: int = 4,
    res_max: int = 9,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming point-in-polygon: incoming images -> phash anchors -> the SAME
    pip_join plan as batch (stream-static broadcast join: the cover, which
    carries everything the exact refine reads, is a static broadcast, so the
    stream side never shuffles before the windowed agg) -> watermarked
    per-(window, polygon) counts. The batch == streaming equality is asserted
    in tests/test_streaming.py."""
    from . import joins

    pts = (
        stream.withWatermark("event_time", watermark)
        .withColumn("lon", cells.anchor_lon(F.col("phash")))
        .withColumn("lat", cells.anchor_lat(F.col("phash")))
    )
    joined = joins.pip_join(pts, polygons, res_min=res_min, res_max=res_max)
    return joined.groupBy(F.window("event_time", window), F.col("poly_id")).agg(
        F.count("*").alias("n_images")
    )


def streaming_dedup(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup on image_id within the watermark horizon (state is
    expired past it) — the streaming twin of textops.exact_dedup."""
    return stream.withWatermark("event_time", watermark).dropDuplicates(
        ["image_id"]
    )


def streaming_interval_join(
    images: DataFrame,
    labels: DataFrame,
    key: str = "image_id",
    left_time: str = "event_time",
    right_time: str = "label_time",
    max_lag: str = "15 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream INNER join: pair each image event with label
    events for the same key arriving within [event_time, event_time + max_lag]
    — the late-annotation attach of a continuous ingest pipeline (labels trail
    their image by a bounded lag).

    State is bounded on BOTH sides: the watermarks plus the two-sided
    time-range predicate let the engine evict image rows once no matching
    label can still arrive (event_time + max_lag < label watermark) and vice
    versa — without the range condition Spark would have to keep join state
    forever. Exact batch parity (same predicate on static frames,
    interval_join_batch_twin) is asserted in tests/test_streaming.py."""
    li = images.withWatermark(left_time, watermark).alias("l")
    ri = labels.withWatermark(right_time, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_time}") >= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}")
            <= F.col(f"l.{left_time}") + F.expr(f"INTERVAL {max_lag}")
        )
    )
    return li.join(ri, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_time}").alias(left_time),
        F.col(f"r.{right_time}").alias(right_time),
        F.col("r.label").alias("label"),
    )


def interval_join_batch_twin(
    images: DataFrame,
    labels: DataFrame,
    key: str = "image_id",
    left_time: str = "event_time",
    right_time: str = "label_time",
    max_lag: str = "15 minutes",
) -> DataFrame:
    """Batch twin of streaming_interval_join (identical predicate on static
    frames) — the parity oracle. Inner interval joins emit a row exactly when
    the predicate holds, independent of arrival order, so batch == streaming
    on the same input set."""
    li, ri = images.alias("l"), labels.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_time}") >= F.col(f"l.{left_time}"))
        & (
            F.col(f"r.{right_time}")
            <= F.col(f"l.{left_time}") + F.expr(f"INTERVAL {max_lag}")
        )
    )
    return li.join(ri, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_time}").alias(left_time),
        F.col(f"r.{right_time}").alias(right_time),
        F.col("r.label").alias("label"),
    )


# labels stream: trailing annotations keyed by image_id
STREAM_LABELS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("label_time", T.TimestampType(), False),
    ]
)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append"):
    """Drive a streaming frame to completion against currently-available input
    (test/bench harness): memory sink + processAllAvailable."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


SESSION_OUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("session_start_us", T.LongType(), False),
        T.StructField("session_end_us", T.LongType(), False),
        T.StructField("n_events", T.LongType(), False),
    ]
)

_SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType(), True),
        T.StructField("end_us", T.LongType(), True),
        T.StructField("n", T.LongType(), True),
    ]
)


def streaming_sessionize(
    stream: DataFrame,
    key: str = "image_id",
    ts: str = "event_time",
    gap_minutes: int = 30,
    watermark: str | None = None,
):
    """Custom stateful streaming operator (applyInPandasWithState): gap-based
    sessionization with per-key state carried across micro-batches — the
    streaming twin of engine.temporal.sessionize.

    Emits one row per CLOSED session (a session closes when a later event for
    the same key arrives more than `gap_minutes` after its last event). The
    open tail session stays in the state store only until the EVENT-TIME
    timeout at (last event + gap) fires — once the watermark proves no event
    can extend the session, the tail is emitted as a final session (exactly
    what the batch twin computes) and the state entry is REMOVED. On an
    unbounded key universe (image ids!) per-key state would otherwise
    accumulate forever even though each entry is only three int64s; with the
    timeout the store is bounded by the WATERMARK-ACTIVE key set. A
    processing-time timeout is deliberately not used: it makes the micro-batch
    engine spin empty batches continuously, and its flushes depend on
    wall-clock scheduling rather than data.

    `watermark` (default: the gap itself) is the standard lateness horizon:
    events later than it are dropped by the engine before the operator; late
    events WITHIN it are absorbed into the open session (see below). NOTE on
    the batch-parity claim: the batch twin (engine.temporal.sessionize) sees
    ALL events regardless of lateness, so on inputs containing events more
    than `watermark` late the streaming output legitimately diverges from
    batch — those events never reach this operator. The
    batch==streaming pytest holds on in-horizon data; widen `watermark` if
    the source can be later than the gap. Arrow-batched: the kernel sees
    pandas frames, never per-row Python."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    import pandas as pd

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000
    if watermark is None:
        watermark = f"{gap_minutes} minutes"

    def fn(key_t, pdfs, state: GroupState):
        if state.hasTimedOut:
            # the watermark passed (end + gap): no event can extend this
            # session any more — flush the tail as a final session and drop
            # the state entry
            if state.exists:
                start, end, n = state.get
                state.remove()
                if start is not None:
                    yield pd.DataFrame(
                        [(key_t[0], start, end, n)],
                        columns=["key", "session_start_us",
                                 "session_end_us", "n_events"],
                    )
            return
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(
                (pdf[ts].astype("datetime64[ns]").astype("int64") // 1000).tolist()
            )
        ts_us.sort()
        if state.exists:
            start, end, n = state.get
        else:
            start = end = None
            n = 0
        closed = []
        for t in ts_us:
            if start is None:
                start, end, n = t, t, 1
            elif t - end > gap_us:
                closed.append((key_t[0], start, end, n))
                start, end, n = t, t, 1
            else:
                # cross-batch late data (t <= end, or even t < start) is a
                # normal streaming condition with no watermark: absorb it into
                # the open session, never move its bounds backwards/forwards
                # incorrectly (a late event extends the session backwards; it
                # never retro-splits an already-emitted session)
                start, end, n = min(start, t), max(end, t), n + 1
        state.update((start, end, n))
        # event-time expiry at end + gap; must stay strictly above the current
        # watermark (the API rejects timestamps at/below it, and a key whose
        # last event is already > gap behind the global stream would hit that).
        # ceil the us->ms conversion: flooring would fire the timeout up to
        # 1 ms BEFORE end + gap, early-expiring a session whose extender
        # lands exactly at the boundary
        state.setTimeoutTimestamp(
            max((end + 999) // 1000 + gap_ms, state.getCurrentWatermarkMs() + 1)
        )
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["key", "session_start_us", "session_end_us", "n_events"],
            )

    return (
        stream.selectExpr(f"{key} AS key", f"{ts} AS {ts}")
        .withWatermark(ts, watermark)
        .groupBy("key")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            _SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


TRIP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("trip_idx", T.LongType(), False),
        T.StructField("start_us", T.LongType(), False),
        T.StructField("end_us", T.LongType(), False),
        T.StructField("duration_us", T.LongType(), False),
        T.StructField("n_points", T.LongType(), False),
        T.StructField("length_mm", T.LongType(), False),
    ]
)

_TRIP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("trip_idx", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("last_lon", T.DoubleType()),
        T.StructField("last_lat", T.DoubleType()),
        T.StructField("n", T.LongType()),
        T.StructField("length_mm", T.LongType()),
    ]
)


def streaming_trip_segments(
    stream: DataFrame,
    key: str = "entity_id",
    ts: str = "event_time",
    lon: str = "lon",
    lat: str = "lat",
    gap_minutes: float = 30.0,
    watermark: str | None = None,
):
    """Streaming twin of engine.trajectory.trip_segments: per-entity
    gap-split trips over a fix stream, closed trips emitted as soon as the
    closing gap is OBSERVED (a later fix arrives) or PROVEN (the event-time
    timeout at last_fix + gap fires once the watermark passes it — the open
    tail trip then flushes exactly like the batch twin's last trip, and the
    state entry is removed, bounding the store by the watermark-active
    entity set, same design as streaming_sessionize).

    State per entity is seven scalars: (trip_idx, start_us, last_us,
    last_lon, last_lat, n, length_mm). Legs accumulate as per-leg
    FLOOR-scaled integer millimeters with the exact haversine expression
    order of the batch twin (math.* is the same libm the JVM and DuckDB
    call), so length_mm is bit-identical to batch — integer accumulation
    makes it arrival-batching-invariant too.

    Parity contract: batch == streaming (asserted in tests) when each
    entity's fixes arrive in event-time order ACROSS micro-batches (fixes
    within one batch are sorted before folding, so in-batch disorder is
    fine). A cross-batch late fix cannot retro-split or re-measure already
    folded legs: it is absorbed as a leg from the current trip head, the
    documented divergence — widen the source's ordering guarantee, not this
    operator, if that matters. Events later than `watermark` (default: the
    gap) are dropped by the engine upstream, as with streaming_sessionize."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .joins import _DEG2RAD_F, EARTH_RADIUS_M

    gap_us = int(gap_minutes * 60_000_000)
    gap_ms = int(gap_minutes * 60_000)
    if watermark is None:
        mins = max(int(math.ceil(gap_minutes)), 1)
        watermark = f"{mins} minutes"

    def hav_mm(lon1, lat1, lon2, lat2) -> int:
        dphi = (lat2 - lat1) * _DEG2RAD_F
        dlam = (lon2 - lon1) * _DEG2RAD_F
        a = (
            math.sin(dphi / 2.0) * math.sin(dphi / 2.0)
            + math.cos(lat1 * _DEG2RAD_F)
            * math.cos(lat2 * _DEG2RAD_F)
            * math.sin(dlam / 2.0)
            * math.sin(dlam / 2.0)
        )
        return int(
            math.floor(2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(a)) * 1000.0)
        )

    def close_row(eid, st):
        trip_idx, start, last, _lo, _la, n, mm = st
        return (eid, trip_idx, start, last, last - start, n, mm)

    def fn(key_t, pdfs, state: GroupState):
        import pandas as pd

        eid = key_t[0]
        if state.hasTimedOut:
            if state.exists:
                st = state.get
                state.remove()
                yield pd.DataFrame(
                    [close_row(eid, st)], columns=TRIP_OUT_SCHEMA.names
                )
            return
        fixes = []
        for pdf in pdfs:
            t_us = (
                pdf[ts].astype("datetime64[ns]").astype("int64") // 1000
            ).tolist()
            fixes.extend(zip(t_us, pdf[lon].tolist(), pdf[lat].tolist()))
        fixes.sort()
        st = state.get if state.exists else None
        closed = []
        for t, lo, la in fixes:
            if st is None:
                st = (1, t, t, lo, la, 1, 0)
            else:
                trip_idx, start, last, plon, plat, n, mm = st
                if t - last > gap_us:
                    closed.append(close_row(eid, st))
                    st = (trip_idx + 1, t, t, lo, la, 1, 0)
                else:
                    st = (
                        trip_idx,
                        min(start, t),
                        max(last, t),
                        lo,
                        la,
                        n + 1,
                        mm + hav_mm(plon, plat, lo, la),
                    )
        state.update(st)
        state.setTimeoutTimestamp(
            max(
                (st[2] + 999) // 1000 + gap_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if closed:
            yield pd.DataFrame(closed, columns=TRIP_OUT_SCHEMA.names)

    return (
        stream.selectExpr(
            f"CAST({key} AS LONG) AS entity_id",
            f"{ts} AS {ts}",
            f"CAST({lon} AS DOUBLE) AS {lon}",
            f"CAST({lat} AS DOUBLE) AS {lat}",
        )
        .withWatermark(ts, watermark)
        .groupBy("entity_id")
        .applyInPandasWithState(
            fn,
            TRIP_OUT_SCHEMA,
            _TRIP_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def write_stream_to_table(
    stream: DataFrame,
    location: str,
    range_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming sink into an iceberg_lite table via foreachBatch with IDEMPOTENT
    batch commits: the micro-batch id rides INSIDE the snapshot commit itself
    (Table.append(txn=...), one atomic os.replace — Delta's txnAppId/txnVersion
    pattern), so a batch replayed after a failure (the foreachBatch
    at-least-once contract) is detected via txn_committed() and skipped even if
    the crash happened between the append and any later bookkeeping —
    exactly-once table contents. The checkpoint-lineage record is secondary
    (metrics only; losing it cannot cause a duplicate). Returns the
    StreamingQuery."""
    import tempfile

    from . import iceberg_lite

    table = iceberg_lite.Table(location)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        unit = f"batch-{batch_id}"
        if table.txn_committed(unit):
            return  # replay of an already-committed batch
        before = table.row_count() if table.current_snapshot_id() >= 0 else 0
        sid = table.append(batch_df, range_cols=range_cols, txn=unit)
        table.checkpoint_unit_done(
            "__stream__", unit, sid,
            metrics={"rows": table.row_count(sid) - before},
        )

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix="stream_ckpt_"),
        )
        .start()
    )


GEOFENCE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("zone", T.LongType(), False),
        T.StructField("event", T.StringType(), False),
    ]
)

_GEOFENCE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("zones_csv", T.StringType()),
    ]
)


def streaming_geofence(
    stream: DataFrame,
    rects: list[tuple[int, float, float, float, float]],
    key: str = "entity_id",
    ts: str = "event_time",
    x_col: str = "x",
    y_col: str = "y",
    expire_minutes: float = 60.0,
    watermark: str = "10 minutes",
):
    """Streaming twin of engine.trajectory.geofence_transitions over a rect
    zone layer: per-entity enter/exit events as fixes arrive. Zone labeling
    runs BEFORE the stateful step as the same rect_zones_expr Column HOF the
    batch twin uses (stateless, no stream-static join needed — the zone
    layer inlines as a literal), so the kernel only diffs consecutive zone
    SETS; state per entity is two scalars (last ts + the zone set as a csv
    string).

    Expiry: a track that goes dark `expire_minutes` past its last fix (by
    event time, proven by the watermark) is GC'd WITHOUT emitting exits —
    same contract as the batch twin, where departure is only proven by a
    later fix ('stale track', not 'left the zone'). If the entity
    reappears, its next fix re-enters whatever zones it is in (matching a
    fresh batch run over the post-gap fixes). Cross-batch out-of-order
    fixes: in-batch disorder is sorted away; a fix older than the last
    folded fix is folded in arrival order (documented divergence, as with
    streaming_trip_segments — the transition stream is order-sensitive by
    nature)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .trajectory import rect_zones_expr

    expire_ms = int(expire_minutes * 60_000)

    def fn(key_t, pdfs, state: GroupState):
        import pandas as pd

        eid = key_t[0]
        if state.hasTimedOut:
            if state.exists:
                state.remove()
            return
        fixes = []
        for pdf in pdfs:
            t_us = (
                pdf[ts].astype("datetime64[ns]").astype("int64") // 1000
            ).tolist()
            fixes.extend(zip(t_us, pdf["_zones"].tolist()))
        fixes.sort(key=lambda f: f[0])
        if state.exists:
            last_us, zones_csv = state.get
            cur = set(int(z) for z in zones_csv.split(",") if z != "")
        else:
            last_us, cur = None, set()
        out = []
        for t, zl in fixes:
            nxt = set(int(z) for z in zl)
            for z in sorted(nxt - cur):
                out.append((eid, t, z, "enter"))
            for z in sorted(cur - nxt):
                out.append((eid, t, z, "exit"))
            cur = nxt
            last_us = t
        state.update((last_us, ",".join(str(z) for z in sorted(cur))))
        state.setTimeoutTimestamp(
            max(
                (last_us + 999) // 1000 + expire_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if out:
            yield pd.DataFrame(out, columns=GEOFENCE_OUT_SCHEMA.names)

    return (
        stream.select(
            F.col(key).cast("long").alias("entity_id"),
            F.col(ts).alias(ts),
            rect_zones_expr(
                rects, F.col(x_col).cast("double"), F.col(y_col).cast("double")
            ).alias("_zones"),
        )
        .withWatermark(ts, watermark)
        .groupBy("entity_id")
        .applyInPandasWithState(
            fn,
            GEOFENCE_OUT_SCHEMA,
            _GEOFENCE_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


KIN_OUT_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("ts_us", T.LongType(), False),
        T.StructField("dt_us", T.LongType(), True),
        T.StructField("leg_mm", T.LongType(), True),
        T.StructField("speed_mmps", T.LongType(), True),
        T.StructField("accel_mmps2", T.LongType(), True),
        T.StructField("sector", T.IntegerType(), True),
    ]
)

_KIN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("last_lon", T.DoubleType()),
        T.StructField("last_lat", T.DoubleType()),
        T.StructField("last_speed", T.LongType()),  # -1 encodes NULL
    ]
)


def streaming_kinematics(
    stream: DataFrame,
    key: str = "entity_id",
    ts: str = "event_time",
    lon: str = "lon",
    lat: str = "lat",
    watermark: str = "30 minutes",
    expire_minutes: float = 120.0,
):
    """Streaming twin of engine.trajectory.kinematics: per-fix dt/leg_mm/
    speed/accel/direction-sector rows emitted as each fix arrives, derived
    from four scalars of per-entity state (last ts/lon/lat/speed). All
    arithmetic is the batch twin's exactly — FLOOR-mm haversine legs
    (math.* is the same libm), integer floor-division speeds/accels, the
    pinned comparison-only sector CASE — so emitted rows are bit-identical
    to batch across arbitrary micro-batch splits (asserted in tests).

    State GC: expiry is EVENT-TIME-DEFINED, not batch-schedule-defined — a
    fix arriving more than `expire_minutes` after its predecessor restarts
    the entity with NULL derivatives (checked inline at fold time, so the
    semantics hold even when the fix lands in the same micro-batch the
    timeout would have fired in), and an entity idle past the expiry with NO
    further data has its state removed by the event-time timeout (pure GC,
    no emission). This is the documented divergence-from-batch for gaps
    longer than the expiry (the geofence 'stale, not departed' discipline);
    within the expiry, parity is exact.
    In-batch disorder is sorted before folding; a cross-batch late fix
    (still inside the watermark) computes its derivatives against the
    latest folded fix rather than its true predecessor — widen the source
    ordering guarantee if that matters."""
    import math

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .joins import _DEG2RAD_F, EARTH_RADIUS_M

    expire_ms = int(expire_minutes * 60_000)
    expire_us = int(expire_minutes * 60_000_000)

    def hav_mm(lon1, lat1, lon2, lat2) -> int:
        dphi = (lat2 - lat1) * _DEG2RAD_F
        dlam = (lon2 - lon1) * _DEG2RAD_F
        a = (
            math.sin(dphi / 2.0) * math.sin(dphi / 2.0)
            + math.cos(lat1 * _DEG2RAD_F)
            * math.cos(lat2 * _DEG2RAD_F)
            * math.sin(dlam / 2.0)
            * math.sin(dlam / 2.0)
        )
        return int(
            math.floor(2.0 * EARTH_RADIUS_M * math.asin(math.sqrt(a)) * 1000.0)
        )

    def sector8(dlon: float, dlat: float):
        if dlon > 0 and dlat >= 0 and dlat < dlon:
            return 0
        if dlon > 0 and dlat > 0 and dlat >= dlon:
            return 1
        if dlon <= 0 and dlat > 0 and -dlon < dlat:
            return 2
        if dlon < 0 and dlat > 0 and dlat <= -dlon:
            return 3
        if dlon < 0 and dlat <= 0 and -dlat < -dlon:
            return 4
        if dlon < 0 and dlat < 0 and -dlat >= -dlon:
            return 5
        if dlon >= 0 and dlat < 0 and dlon < -dlat:
            return 6
        if dlon > 0 and dlat < 0 and dlon >= -dlat:
            return 7
        return None  # zero displacement

    def fn(key_t, pdfs, state: GroupState):
        import pandas as pd

        eid = key_t[0]
        if state.hasTimedOut:
            # GC only: kinematics has no pending output at expiry
            if state.exists:
                state.remove()
            return
        fixes = []
        for pdf in pdfs:
            t_us = (
                pdf[ts].astype("datetime64[ns]").astype("int64") // 1000
            ).tolist()
            fixes.extend(zip(t_us, pdf[lon].tolist(), pdf[lat].tolist()))
        fixes.sort()
        st = state.get if state.exists else None
        out = []
        for t, lo, la in fixes:
            if st is not None and t - st[0] > expire_us:
                st = None  # event-time expiry: restart, batch-order-invariant
            if st is None:
                out.append((eid, t, None, None, None, None, None))
                st = (t, lo, la, -1)
                continue
            last, plon, plat, pspeed = st
            dt_us = t - last
            leg = hav_mm(plon, plat, lo, la)
            speed = (leg * 1_000_000) // dt_us if dt_us > 0 else None
            accel = (
                ((speed - pspeed) * 1_000_000) // dt_us
                if speed is not None and pspeed >= 0 and dt_us > 0
                else None
            )
            out.append(
                (eid, t, dt_us, leg, speed, accel, sector8(lo - plon, la - plat))
            )
            st = (t, lo, la, speed if speed is not None else -1)
        state.update(st)
        state.setTimeoutTimestamp(
            max(
                (st[0] + 999) // 1000 + expire_ms,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        if out:
            yield pd.DataFrame(out, columns=KIN_OUT_SCHEMA.names)

    return (
        stream.selectExpr(
            f"CAST({key} AS LONG) AS entity_id",
            f"{ts} AS {ts}",
            f"CAST({lon} AS DOUBLE) AS {lon}",
            f"CAST({lat} AS DOUBLE) AS {lat}",
        )
        .withWatermark(ts, watermark)
        .groupBy("entity_id")
        .applyInPandasWithState(
            fn,
            KIN_OUT_SCHEMA,
            _KIN_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
