"""Driver-gate query that exercises the REAL Structured Streaming path
(readStream → watermark → tumbling window agg → availableNow drain)
and cross-checks the result against a batch SQL oracle — the unified-
model guarantee made into a correctness gate."""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import staging_dir
from filesystemagent_spark.queries import register
from filesystemagent_spark.session import stream_session

# -- shared gate staging/drain machinery (round 9: factored out of the
# -- eight gates, which each hand-rolled these ~50 lines) --------------


def _stage_symlink(sf_dir: str, prefix: str) -> str:
    """A tempdir with the events table symlinked in — file sources need
    DIRECTORIES, and the harness table is a single parquet file."""
    stage = staging_dir(prefix)
    os.symlink(
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(stage, "events.parquet"),
    )
    return stage


def _stage_ordered_batches(stage: str, batches) -> str:
    """Write each DataFrame in `batches` to `<stage>/src` as ONE parquet
    file with strictly ascending mtimes, so a file-source stream with
    maxFilesPerTrigger=1 replays them as ordered micro-batches — the
    staging recipe every controlled-batch gate (late accounting, the
    outer interval joins) shares. Order is load-bearing: watermark
    crossings must happen in the batch the gate's spec says they do."""
    import glob
    import shutil
    import time as _time

    src = os.path.join(stage, "src")
    os.makedirs(src)
    now = _time.time()
    for i, df in enumerate(batches):
        d = os.path.join(stage, f"b{i}")
        df.coalesce(1).write.parquet(d)
        part = glob.glob(os.path.join(d, "part-*.parquet"))[0]
        dst = os.path.join(src, f"batch_{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now - 100 + i * 10,) * 2)
    return src


def _drain_to_memory(
    gs: SparkSession,
    df: DataFrame,
    ckpt_dir: str,
    *,
    output_mode: str | None = None,
    sink_prefix: str = "gate_sink",
):
    """Drain a streaming DataFrame built on ``gs`` (the caller's
    ``stream_session``) into a memory sink with availableNow; returns
    (sink rows, finished query — the query object carries
    recentProgress for metrics-reading gates). One definition so no
    gate can drift on the checkpoint/trigger/drain recipe. The sink's
    view is dropped once read: the returned frame holds the rows."""
    sink = f"{sink_prefix}_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(sink)
    if output_mode:
        writer = writer.outputMode(output_mode)
    q = (
        writer.option("checkpointLocation", os.path.join(ckpt_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    table = gs.table(sink)
    gs.catalog.dropTempView(sink)
    return table, q


def _watermark_tick_batches(spark: SparkSession, ev: DataFrame) -> list:
    """The ONE sentinel tick batch the OUTER interval-join gates
    append: one far-future row per side (sentinel ids -1/-2, user_id
    -1 — disjoint from real keys, and the two sides' timestamps 100h
    apart so the sentinels never join each other). It pushes BOTH
    watermarks past every real row's eligibility window; the eviction
    pass that flushes the unmatched rows then runs in the engine's own
    NO-DATA micro-batch (eviction runs in the batch AFTER the
    watermark advances, and Structured Streaming schedules exactly
    that batch itself when the watermark moved —
    spark.sql.streaming.noDataMicroBatches, pinned on by
    `session.stream_session`). Round 11: a second staged tick batch
    used to play that role — one full extra state schedule (every state
    partition × all four join state stores) plus a staging write job
    per gate, for rows the id-sign filter dropped anyway; results
    verified bit-identical with it gone (scripts/exp_interval_gate.py
    at sf0.01: 3923 rows either way, 4 → 3 micro-batches).
    Sentinels are filtered out post-join by id sign."""
    t1 = ev.agg(F.max("ts")).first()[0]
    tick = spark.createDataFrame(
        [(-1, None, -1, "purchase", 0.0, ""), (-2, None, -1, "view", 0.0, "")],
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    )
    b1 = tick.withColumn(
        "ts",
        F.lit(t1) + F.expr("INTERVAL 4 HOURS")
        + F.when(F.col("event_id") == -2, F.expr("INTERVAL 100 HOURS"))
        .otherwise(F.expr("INTERVAL 0 HOURS")),
    )
    return [b1]


@register(
    "events_stream_tumbling",
    headline=True,
    tags=("streaming", "window", "watermark"),
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs an actual streaming query over the events table (staged
    behind a symlink dir — file sources need directories), drains with
    availableNow into a memory sink, and returns the sink contents.
    Counts only: integer results are stream/batch/oracle exact."""
    from filesystemagent_spark.streaming.events import read_events_stream, windowed_counts

    stage = _stage_symlink(sf_dir, "events_stream_")
    gs = stream_session(spark)
    table, _ = _drain_to_memory(
        gs,
        windowed_counts(read_events_stream(gs, stage), window="1 hour"),
        stage,
        output_mode="complete",
        sink_prefix="events_stream_sink",
    )
    return (
        table
        .select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_stream_sessions",
    tags=("streaming", "stateful", "sessionization"),
    oracle="""
WITH e AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
marked AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
                THEN 1 ELSE 0 END AS new_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
),
agg AS (
    SELECT user_id, sid,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY 1, 2
),
mx AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
SELECT user_id,
       STRFTIME(session_start, '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       STRFTIME(session_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       n_events
FROM agg, mx
WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
   OR session_end + INTERVAL 1800 SECOND < max_ts
ORDER BY user_id, session_start
""",
)
def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (applyInPandasWithState) with
    a full SQL oracle: the stream emits exactly the sessions a batch
    engine can prove CLOSED — every non-final session per user (a
    later event arrived) plus final sessions whose gap timeout the
    terminal watermark (= max event time) passed. The strict
    inequalities mirror the operator's `gap > threshold` split and
    Spark's watermark-passes-timeout firing rule."""
    from filesystemagent_spark.streaming.sessions import sessionize_stream
    from filesystemagent_spark.streaming.events import read_events_stream

    stage = _stage_symlink(sf_dir, "events_sessions_")
    gs = stream_session(spark)
    sessions = sessionize_stream(
        read_events_stream(gs, stage), gap_seconds=1800, watermark="0 seconds"
    )
    table, _ = _drain_to_memory(
        gs, sessions, stage,
        output_mode="append", sink_prefix="events_sessions_sink",
    )
    return (
        table
        .select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "events_stream_dedup_keys",
    tags=("streaming", "stateful", "dedup"),
    oracle="""
SELECT DISTINCT user_id, event_type
FROM events
ORDER BY user_id, event_type
""",
)
def events_stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup as a gate query: dropDuplicates state keyed on
    (user_id, event_type), drained with availableNow. Projected to the
    key columns the result is exactly DISTINCT keys — oracle-exact
    regardless of which physical row won the keep-first race, which is
    what makes a stateful streaming op SQL-checkable at all. The
    watermark-bounded variant (streaming/dedup.py) shares this plan
    with a state TTL."""
    from filesystemagent_spark.streaming.dedup import dedup_stream
    from filesystemagent_spark.streaming.events import read_events_stream

    stage = _stage_symlink(sf_dir, "events_dedup_")
    gs = stream_session(spark)
    table, _ = _drain_to_memory(
        gs,
        dedup_stream(read_events_stream(gs, stage), ["user_id", "event_type"])
        .select("user_id", "event_type"),
        stage,
        sink_prefix="events_dedup_sink",
    )
    return table.orderBy("user_id", "event_type")


def _interval_join_drain(
    spark: SparkSession,
    src_dir: str,
    stage: str,
    *,
    how: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The purchase⋈view interval-join stream both gates share: two
    readers over `src_dir`, |p_ts - v_ts| <= 1800s on user_id,
    watermark 1h, drained availableNow into a memory sink. One
    definition so the inner and outer gates can never drift on the
    join contract or sink recipe."""
    from filesystemagent_spark.streaming.events import read_events_stream
    from filesystemagent_spark.streaming.joins import stream_interval_join

    gs = stream_session(spark)
    stream = read_events_stream(
        gs, src_dir, max_files_per_trigger=max_files_per_trigger
    )
    left = stream.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    right = read_events_stream(
        gs, src_dir, max_files_per_trigger=max_files_per_trigger
    ).filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("user_id"),
        F.col("event_id").alias("v_id"),
        F.col("ts").alias("v_ts"),
    )
    joined = stream_interval_join(
        left, right, on="user_id", left_ts="p_ts", right_ts="v_ts",
        max_gap_seconds=1800, watermark="1 hour", how=how,
    )
    table, _ = _drain_to_memory(
        gs, joined, stage, output_mode="append", sink_prefix="events_sjoin"
    )
    return table


@register(
    "events_stream_interval_join",
    tags=("streaming", "stream-stream-join", "watermark"),
    oracle="""
SELECT l.user_id, l.event_id AS p_id, r.event_id AS v_id,
       epoch_us(CAST(l.ts AS TIMESTAMP)) - epoch_us(CAST(r.ts AS TIMESTAMP)) AS gap_us
FROM events l
JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'purchase' AND r.event_type = 'view'
 AND r.ts >= l.ts - INTERVAL 1800 SECOND
 AND r.ts <= l.ts + INTERVAL 1800 SECOND
ORDER BY p_id, v_id
""",
)
def events_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join as a driver gate: two streaming
    readers over the same source, watermark-bounded join state
    (|purchase.ts - view.ts| <= 1800s on user_id — wide enough to be
    non-vacuous at every harness SF), availableNow drain —
    checked against the batch inequality join the oracle runs. Inner
    interval joins emit exactly the matched pairs, so stream and batch
    agree row-for-row; the watermark exists to BOUND state, not to
    change the result."""
    from filesystemagent_spark.functions.tscompat import epoch_micros

    stage = _stage_symlink(sf_dir, "events_sjoin_")
    return (
        _interval_join_drain(spark, stage, stage, how="inner")
        .select(
            "user_id",
            "p_id",
            "v_id",
            (epoch_micros("p_ts") - epoch_micros("v_ts")).alias("gap_us"),
        )
        .orderBy("p_id", "v_id")
    )


@register(
    "events_stream_incremental_rollup",
    tags=("streaming", "foreachBatch", "exactly-once", "upsert"),
    oracle="""
SELECT STRFTIME(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def events_stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental materialization: the events table is
    re-staged as four files and streamed one file per micro-batch, so
    a stateful hourly aggregation emits UPDATE-mode deltas across four
    batches into the idempotent foreachBatch sink (per-batch-id
    overwrite dirs); the last-writer-wins upsert view must then equal
    the one-shot batch rollup the oracle computes. This gates the
    whole continuous-aggregate story — state carry-over between
    batches, changed-group-only emission, replay-safe writes, and
    version resolution at read."""
    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.streaming.events import read_events_stream
    from filesystemagent_spark.streaming.sinks import (
        read_upserted,
        start_idempotent_file_sink,
    )

    stage = staging_dir("events_increm_")
    src_dir = os.path.join(stage, "src")
    # Re-stage as 4 files so availableNow+maxFilesPerTrigger=1 yields
    # four genuine micro-batches (the harness table is a single file).
    Catalog(spark, sf_dir).events.repartition(4).write.parquet(src_dir)
    stream = read_events_stream(
        stream_session(spark), src_dir, max_files_per_trigger=1
    )
    agg = stream.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        "event_type",
    ).agg(F.count("*").alias("n_events"))
    sink_dir = os.path.join(stage, "rollup")
    q = start_idempotent_file_sink(
        agg,
        sink_dir,
        os.path.join(stage, "_ckpt"),
        output_mode="update",
    )
    q.awaitTermination()
    return read_upserted(spark, sink_dir, ["window_start", "event_type"]).orderBy(
        "window_start", "event_type"
    )


@register(
    "events_stream_late_accounting",
    tags=("streaming", "watermark", "late-data", "accounting"),
    oracle="""
WITH b AS (
    SELECT MIN(CAST(ts AS TIMESTAMP)) AS t0, MAX(CAST(ts AS TIMESTAMP)) AS t1
    FROM events
),
emitted AS (
    SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS ws, COUNT(*) AS n
    FROM events e, b
    WHERE date_trunc('hour', CAST(e.ts AS TIMESTAMP)) + INTERVAL 1 HOUR
          <= b.t1 - INTERVAL 1 HOUR
    GROUP BY 1
),
late_staged AS (
    SELECT CAST(e.ts AS TIMESTAMP) AS ts FROM events e, b
    WHERE CAST(e.ts AS TIMESTAMP) < b.t0 + INTERVAL 1 HOUR
),
fresh_staged AS (
    SELECT CAST(e.ts AS TIMESTAMP) AS ts FROM events e, b
    WHERE CAST(e.ts AS TIMESTAMP) >= b.t1 - INTERVAL 30 MINUTE
),
dropped AS (
    SELECT COUNT(*) AS n FROM (
        SELECT ts FROM late_staged UNION ALL SELECT ts FROM fresh_staged
    ) s, b
    WHERE date_trunc('hour', s.ts) + INTERVAL 1 HOUR <= b.t1 - INTERVAL 1 HOUR
)
SELECT CAST((SELECT COUNT(*) FROM emitted) AS BIGINT)          AS n_windows,
       CAST((SELECT COALESCE(SUM(n), 0) FROM emitted) AS BIGINT) AS sum_events,
       CAST((SELECT n FROM dropped) AS BIGINT)                  AS n_dropped_late,
       CAST((SELECT COUNT(*) FROM late_staged)
            + (SELECT COUNT(*) FROM fresh_staged)
            - (SELECT n FROM dropped) AS BIGINT)                AS n_stragglers_kept
""",
)
def events_stream_late_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA ACCOUNTING gate (round 6): proves rows later
    than the watermark are dropped, in the exact number the spec
    implies, using the engine's own `numRowsDroppedByWatermark`
    accounting.

    Three micro-batches (file source, maxFilesPerTrigger=1, ordered by
    mtime):
      b0 = the full events table        -> watermark W becomes T1 - 1h
      b1 = one tick row at ts == T1     -> W crosses; windows with
                                           end <= W evict/emit BEFORE
                                           the stragglers arrive
      b2 = deliberate stragglers: every first-hour row (all late far
           beyond W) + every last-30-min row (within W, kept)

    Spark's drop rule (pinned empirically on this engine version): a
    batch-N input row is dropped iff its window end <= the watermark
    at batch N's start, and only when the crossing happened in an
    EARLIER batch (same-batch arrivals merge before eviction) — the
    tick batch exists precisely to force that ordering. The returned
    one-row summary (emitted window count + row sum from the
    append-mode sink, dropped count summed from the state operator
    metrics, kept = staged - dropped) is value-hashed against a DuckDB
    oracle that recomputes all four numbers from the same staging
    recipe in SQL. Reference parity: the reference's stream ingest
    has no late-data story at all (monitoring.py ring buffers); this
    is the Spark-first upgrade, and at 100 TB it is the difference
    between 'the rollup is eventually exact' and 'nobody can say what
    the rollup missed'."""
    import json as _json

    from filesystemagent_spark.catalog import Catalog

    ev = Catalog(spark, sf_dir).events.select("event_id", "ts")
    stage = staging_dir("events_late_")
    bounds = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1")).first()
    t0, t1 = bounds["t0"], bounds["t1"]
    batches = [
        ev,                                                   # b0: full table
        ev.filter(F.col("ts") == F.lit(t1)),                  # b1: tick at T1
        ev.filter(F.col("ts") < F.lit(t0) + F.expr("INTERVAL 1 HOUR")).unionByName(
            ev.filter(F.col("ts") >= F.lit(t1) - F.expr("INTERVAL 30 MINUTE"))
        ),                                                    # b2: stragglers
    ]
    src = _stage_ordered_batches(stage, batches)
    from filesystemagent_spark.streaming.events import read_events_stream

    gs = stream_session(spark)
    stream = read_events_stream(gs, src, max_files_per_trigger=1)
    # SINGLETON KEYS: numRowsDroppedByWatermark counts dropped
    # aggregation KEYS (post-partial-agg rows), not raw inputs —
    # grouping on (window, event_id) makes every raw event its own
    # key, so the metric equals the raw dropped-row count the oracle
    # computes. (Found empirically: grouping by window alone reported
    # 1 drop for 3 same-window late rows.)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_id")
        .agg(F.count("*").alias("n"))
    )
    table, q = _drain_to_memory(
        gs, agg, stage,
        output_mode="append", sink_prefix="events_late_sink",
    )
    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else _json.loads(p.json)
        for so in d.get("stateOperators", []):
            dropped += int(so.get("numRowsDroppedByWatermark", 0))
    staged = batches[2].count()
    return table.agg(
        F.countDistinct("w").cast("long").alias("n_windows"),
        F.count("*").cast("long").alias("sum_events"),
        F.lit(dropped).cast("long").alias("n_dropped_late"),
        (F.lit(staged) - F.lit(dropped)).cast("long").alias("n_stragglers_kept"),
    )


@register(
    "events_stream_interval_join_outer",
    tags=("streaming", "stream-stream-join", "outer", "watermark"),
    oracle="""
WITH p AS (
    SELECT user_id, event_id AS p_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT user_id, event_id AS v_id, ts AS v_ts
    FROM events WHERE event_type = 'view'
)
SELECT p.user_id, p.p_id, v.v_id,
       CASE WHEN v.v_id IS NULL THEN NULL
            ELSE epoch_us(p.p_ts) - epoch_us(v.v_ts) END AS gap_us
FROM p LEFT JOIN v ON p.user_id = v.user_id
  AND v.v_ts >= p.p_ts - INTERVAL 1800 SECONDS
  AND v.v_ts <= p.p_ts + INTERVAL 1800 SECONDS
ORDER BY p_id, v_id
""",
)
def events_stream_interval_join_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (round 7): purchases
    with no view within ±30 min must still emit, with a NULL right
    side — the half of the stream-join contract the inner gate can't
    check (unmatched-row eviction discipline).

    Outer results only flush when the watermark passes a row's
    eligibility window, and eviction runs in the batch AFTER the
    watermark advances — so the staging appends one far-future tick
    batch (one row per side, sentinel ids, disjoint user/key space
    and mutually unjoinable timestamps) that pushes both watermarks
    past every real row's window; the engine's no-data micro-batch
    then runs the eviction pass that emits the unmatched purchases
    (round 11 — was a second staged tick batch doing the same job one
    full state schedule more expensively). Sentinels filter out
    post-join; the result must equal the batch LEFT JOIN the oracle
    computes — a swallowed unmatched row, a double emission, or an
    early flush each shifts the hash."""
    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.functions.tscompat import epoch_micros

    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    stage = staging_dir("events_sjoin_outer_")
    src = _stage_ordered_batches(
        stage, [ev, *_watermark_tick_batches(spark, ev)]
    )
    return (
        _interval_join_drain(
            spark, src, stage, how="leftOuter", max_files_per_trigger=1
        )
        .filter(F.col("p_id") >= 0)  # drop the watermark tick sentinels
        .select(
            "user_id", "p_id", "v_id",
            F.when(
                F.col("v_id").isNotNull(),
                epoch_micros("p_ts") - epoch_micros("v_ts"),
            ).alias("gap_us"),
        )
        .orderBy("p_id", "v_id")
    )


@register(
    "events_stream_interval_join_full",
    tags=("streaming", "stream-stream-join", "full-outer", "watermark"),
    oracle="""
WITH p AS (
    SELECT user_id, event_id AS p_id, ts AS p_ts
    FROM events WHERE event_type = 'purchase'
),
v AS (
    SELECT user_id, event_id AS v_id, ts AS v_ts
    FROM events WHERE event_type = 'view'
)
SELECT COALESCE(p.user_id, v.user_id) AS user_id, p.p_id, v.v_id,
       CASE WHEN p.p_id IS NULL OR v.v_id IS NULL THEN NULL
            ELSE epoch_us(p.p_ts) - epoch_us(v.v_ts) END AS gap_us
FROM p FULL JOIN v ON p.user_id = v.user_id
  AND v.v_ts >= p.p_ts - INTERVAL 1800 SECONDS
  AND v.v_ts <= p.p_ts + INTERVAL 1800 SECONDS
ORDER BY p_id, v_id
""",
)
def events_stream_interval_join_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-stream FULL OUTER interval join (round 8) — completes
    the outer family: unmatched PURCHASES and unmatched VIEWS must
    both flush with a NULL opposite side once the watermark passes
    their eligibility windows, with the join key surviving from
    whichever side exists (streaming/joins.py coalesces it; before
    round 8 a fullOuter unmatched-right row came back with a NULL
    key). Same tick-batch staging as the LEFT OUTER gate — the
    sentinels push both watermarks past every real row and the
    engine's no-data micro-batch runs the eviction pass — and the
    result must equal the batch
    FULL JOIN the oracle computes: a swallowed unmatched row on
    EITHER side, a double emission, or a nulled key shifts the
    hash."""
    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.functions.tscompat import epoch_micros

    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    stage = staging_dir("events_sjoin_full_")
    src = _stage_ordered_batches(
        stage, [ev, *_watermark_tick_batches(spark, ev)]
    )
    return (
        _interval_join_drain(
            spark, src, stage, how="fullOuter", max_files_per_trigger=1
        )
        # sentinels flush as unmatched rows on their own side — drop
        # them by id sign, keeping real NULL-side rows
        .filter(
            (F.coalesce(F.col("p_id"), F.lit(0)) >= 0)
            & (F.coalesce(F.col("v_id"), F.lit(0)) >= 0)
        )
        .select(
            "user_id", "p_id", "v_id",
            F.when(
                F.col("p_id").isNotNull() & F.col("v_id").isNotNull(),
                epoch_micros("p_ts") - epoch_micros("v_ts"),
            ).alias("gap_us"),
        )
        .orderBy("p_id", "v_id")
    )
