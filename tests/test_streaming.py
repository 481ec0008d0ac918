"""Streaming slice tests: each query runs as a real Structured
Streaming job (availableNow → memory sink) AND as a batch frame over
the same input; results must be identical — Spark's unified model is
the correctness oracle (plus watermark late-drop behavior checked
explicitly with a two-batch file source)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.streaming import events as S

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")
_EVENTS_FILE = os.path.join(SF_DIR, "events.parquet")


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    """File-source streams read directories; the driver table is a
    single parquet file — stage it behind a symlink."""
    d = tmp_path_factory.mktemp("events_stream_src")
    os.symlink(_EVENTS_FILE, d / "events.parquet")
    return str(d)


def drain(spark, stream_df, name, tmp_path, mode=None):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode or "append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def rows_set(df, cols):
    return {tuple(r[c] for c in cols) for r in df.select(*cols).collect()}


def test_stream_matches_batch_tumbling(spark, tmp_path, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    got = drain(spark, S.windowed_counts(stream), "tumbling_sink", tmp_path, "complete")

    batch = S.windowed_counts(Catalog(spark, SF_DIR).events)
    cols = ["window_start", "window_end", "event_type", "n_events"]
    assert rows_set(got, cols) == rows_set(batch, cols)
    assert got.count() > 0


def test_stream_matches_batch_sliding(spark, tmp_path, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    sliding = S.windowed_counts(stream, window="2 hours", slide="1 hour")
    got = drain(spark, sliding, "sliding_sink", tmp_path, "complete")
    batch = S.windowed_counts(
        Catalog(spark, SF_DIR).events, window="2 hours", slide="1 hour"
    )
    cols = ["window_start", "window_end", "event_type", "n_events"]
    assert rows_set(got, cols) == rows_set(batch, cols)
    # sliding windows overlap: each event lands in 2 one-hour slides
    t = S.windowed_counts(Catalog(spark, SF_DIR).events)
    assert batch.agg(F.sum("n_events")).first()[0] == 2 * t.agg(F.sum("n_events")).first()[0]


def test_threshold_alerts_stream(spark, tmp_path, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    got = drain(spark, S.threshold_alerts(stream), "alerts_sink", tmp_path)
    batch_src = Catalog(spark, SF_DIR).events
    expected = S.threshold_alerts(batch_src)
    assert rows_set(got, ["event_id", "alert_severity"]) == rows_set(
        expected, ["event_id", "alert_severity"]
    )
    # severity CASE boundaries
    sev = {r["event_id"]: r["alert_severity"] for r in got.collect()}
    vals = {r["event_id"]: r["value"] for r in batch_src.filter(F.col("value") > 80).collect()}
    for eid, v in vals.items():
        assert sev[eid] == ("critical" if v > 90 else "warning")


def test_recent_failures_sliding(spark, tmp_path, events_dir):
    stream = S.read_events_stream(spark, events_dir)
    q = S.recent_failures(
        stream, F.col("event_type") == "error", window="6 hours", slide="3 hours", min_failures=2
    )
    got = drain(spark, q, "failures_sink", tmp_path, "complete")
    batch = S.recent_failures(
        Catalog(spark, SF_DIR).events,
        F.col("event_type") == "error",
        window="6 hours",
        slide="3 hours",
        min_failures=2,
    )
    cols = ["window_start", "n_failures"]
    assert rows_set(got, cols) == rows_set(batch, cols)


def test_watermark_drops_late_rows(spark, tmp_path):
    """Two-file source: batch 2 carries an event 3 hours older than
    batch 1's max — beyond the 1h watermark, its window is already
    closed and emitted, so the late row is dropped in append mode."""
    src_dir = tmp_path / "late_events"
    src_dir.mkdir()
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    mk = lambda i, ts, et: (i, ts, 1, et, 1.0, "{}")
    batch1 = [mk(1, base, "click"), mk(2, base + dt.timedelta(minutes=30), "click"),
              mk(3, base + dt.timedelta(hours=4), "click")]
    spark.createDataFrame(batch1, S.EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src_dir / "b1")
    )
    ckpt = str(tmp_path / "ckpt_late")
    sink = str(tmp_path / "sink_late")

    def run_once():
        stream = (
            spark.readStream.schema(S.EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src_dir / "b*"))
        )
        q = (
            S.windowed_counts(stream, window="1 hour", watermark="1 hour")
            .writeStream.format("parquet")
            .outputMode("append")  # only finalized (watermark-passed) windows emit
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # late row: noon window, while max ts seen is 16:00 → watermark 15:00
    late = [mk(99, base + dt.timedelta(minutes=10), "click")]
    spark.createDataFrame(late, S.EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(
        str(src_dir / "b2")
    )
    run_once()  # resumes from the same checkpointed watermark state
    emitted = spark.read.parquet(sink)
    noon = emitted.filter(F.col("window_start") == base)
    # the noon window finalized with 2 events; the late 3rd never lands
    assert [r["n_events"] for r in noon.collect()] == [2]


def test_tail_events(spark):
    ev = Catalog(spark, SF_DIR).events
    tail = S.tail_events(ev, 10).collect()
    assert len(tail) == 10
    ts = [r["ts"] for r in tail]
    assert ts == sorted(ts, reverse=True)
    assert tail[0]["ts"] == ev.agg(F.max("ts")).first()[0]


def test_stateful_sessionization(spark, tmp_path):
    """applyInPandasWithState gap sessionization: sessions close both
    in-batch (gap observed between arriving events) and via event-time
    timeout once the watermark passes last_ts + gap."""
    from datetime import datetime, timedelta

    from filesystemagent_spark.streaming.sessions import sessionize_stream

    t0 = datetime(2026, 1, 1, 8, 0, 0)
    rows = [
        # user 1, session A: 3 events 10s apart
        (1, t0), (1, t0 + timedelta(seconds=10)), (1, t0 + timedelta(seconds=20)),
        # user 1, session B: 2h later (new session), 2 events
        (1, t0 + timedelta(hours=2)), (1, t0 + timedelta(hours=2, seconds=5)),
        # user 2, session C: single event
        (2, t0),
        # sentinel: far-future event pushes the watermark past every
        # real session's last_ts + gap so timeouts fire in this run
        (99, t0 + timedelta(hours=10)),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "user_id long, ts timestamp").write.parquet(src)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    )
    sessions = sessionize_stream(stream, gap_seconds=1800, watermark="0 seconds")
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_test").collect()
    }
    expected = {
        (1, t0, t0 + timedelta(seconds=20), 3),
        (1, t0 + timedelta(hours=2), t0 + timedelta(hours=2, seconds=5), 2),
        (2, t0, t0, 1),
    }
    assert got == expected  # sentinel's session stays open: not emitted


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Unified model: the watermarked stream-stream interval join on
    finite input equals the batch inequality join."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    from filesystemagent_spark.streaming.joins import stream_interval_join

    t0 = datetime(2026, 1, 1, 8, 0, 0)
    purchases = [(u, t0 + timedelta(minutes=m), f"p{u}_{m}")
                 for u in (1, 2) for m in (0, 30, 90)]
    views = [(u, t0 + timedelta(minutes=m), f"v{u}_{m}")
             for u in (1, 2, 3) for m in (2, 28, 65, 200)]
    pdir, vdir = str(tmp_path / "p"), str(tmp_path / "v")
    spark.createDataFrame(purchases, "user_id long, p_ts timestamp, p_id string").write.parquet(pdir)
    spark.createDataFrame(views, "user_id long, v_ts timestamp, v_id string").write.parquet(vdir)

    p_stream = spark.readStream.schema("user_id long, p_ts timestamp, p_id string").parquet(pdir)
    v_stream = spark.readStream.schema("user_id long, v_ts timestamp, v_id string").parquet(vdir)
    joined = stream_interval_join(
        p_stream, v_stream, on="user_id", left_ts="p_ts", right_ts="v_ts",
        max_gap_seconds=600, watermark="0 seconds",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssij_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["p_id"], r["v_id"])
        for r in spark.sql("select * from ssij_test").collect()
    }

    pb = spark.read.parquet(pdir)
    vb = spark.read.parquet(vdir).withColumnRenamed("user_id", "r_user_id")
    batch = pb.join(
        vb,
        (F.col("user_id") == F.col("r_user_id"))
        & (F.abs(F.col("p_ts").cast("double") - F.col("v_ts").cast("double")) <= 600),
    )
    want = {(r["p_id"], r["v_id"]) for r in batch.collect()}
    assert got == want
    assert want  # non-vacuous: some pairs fall inside the gap


def test_streamed_rollup_reaggregates_to_batch_truth(spark, tmp_path, events_dir):
    """The hypertable story end-to-end through the STREAMING engine:
    the 5-min rollup of mergeable partials is maintained by a real
    streaming aggregation, and the 1-hour resolution derived from that
    streamed rollup equals the 1-hour aggregate computed directly from
    raw batch rows — raw data is never re-scanned for coarser views."""
    from filesystemagent_spark.operators import rollup as R

    stream = S.read_events_stream(spark, events_dir)
    fine_stream = R.continuous_aggregate(
        stream, ts_col="ts", value_col="value", group_cols=["event_type"],
        bucket_seconds=300,
    )
    fine = drain(spark, fine_stream, "rollup_sink", tmp_path, "complete")

    coarse_from_stream = R.reaggregate(
        fine, group_cols=["event_type"], bucket_seconds=3600
    )
    direct = R.continuous_aggregate(
        Catalog(spark, SF_DIR).events,
        ts_col="ts", value_col="value", group_cols=["event_type"],
        bucket_seconds=3600,
    )
    cols = ["bucket", "event_type", "n", "min_v", "max_v"]
    assert rows_set(coarse_from_stream, cols) == rows_set(direct, cols)
    # double sums merge in different orders stream-side vs batch-side;
    # equality must hold to float tolerance, which is exactly why the
    # oracle-facing rollup query (events_rollup_reagg) uses decimals.
    a = {(r.bucket, r.event_type): r.sum_v for r in coarse_from_stream.collect()}
    b = {(r.bucket, r.event_type): r.sum_v for r in direct.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-6


def test_stream_on_empty_dir_idles_until_files_arrive(spark, tmp_path):
    """Regression: the footer sniff must not crash when the stream
    starts before the first file lands — the file source idles on the
    declared fallback schema."""
    d = tmp_path / "empty_events"
    d.mkdir()
    stream = S.read_events_stream(spark, str(d))
    assert stream.isStreaming
    got = drain(spark, S.windowed_counts(stream), "empty_sink", tmp_path, "complete")
    assert got.count() == 0


def test_watermark_drop_accounting_is_exact(spark, tmp_path):
    """Pins the semantics events_stream_late_accounting relies on
    (found empirically, round 6): numRowsDroppedByWatermark counts
    dropped aggregation KEYS, so with singleton keys (window,
    event_id) it equals the raw late-row count exactly; and a
    straggler is only dropped when the watermark crossed its window
    end in an EARLIER batch (same-batch arrivals merge before
    eviction), which the tick batch forces."""
    import json
    import time

    src_dir = tmp_path / "acct_events"
    src_dir.mkdir()
    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    mk = lambda i, ts, et: (i, ts, 1, et, 1.0, "{}")
    batches = [
        # b0: max ts 16:00 -> watermark becomes 15:00 for later batches
        [mk(1, base, "click"), mk(2, base + dt.timedelta(hours=4), "click")],
        # b1: tick at max ts — W crosses, noon window evicts/emits
        [mk(3, base + dt.timedelta(hours=4), "click")],
        # b2: three stragglers in the SAME noon window (all late) plus
        # one within-watermark row — exactly 3 must be counted dropped
        [mk(10, base + dt.timedelta(minutes=5), "click"),
         mk(11, base + dt.timedelta(minutes=6), "click"),
         mk(12, base + dt.timedelta(minutes=7), "click"),
         mk(13, base + dt.timedelta(hours=3, minutes=30), "click")],
    ]
    now = time.time()
    for i, rows in enumerate(batches):
        d = src_dir / f"b{i}"
        spark.createDataFrame(rows, S.EVENT_SCHEMA).coalesce(1).write.parquet(str(d))
        for part in d.glob("part-*.parquet"):
            os.utime(part, (now - 100 + i * 10, now - 100 + i * 10))
    stream = (
        spark.readStream.schema(S.EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src_dir / "b*"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_id")
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("acct_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_acct"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    dropped = 0
    for p in q.recentProgress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        for so in d.get("stateOperators", []):
            dropped += int(so.get("numRowsDroppedByWatermark", 0))
    assert dropped == 3
    # emitted = finalized noon window's singleton groups from b0 only
    emitted = spark.table("acct_sink")
    assert {r["event_id"] for r in emitted.collect()} == {1}


def test_gate_drain_restores_callers_no_data_batch_conf(spark, sf_dir):
    """The streaming gates start their streams in session.stream_session's
    child session, which has noDataMicroBatches on and its own shuffle
    count; a caller that turned noDataMicroBatches off keeps its
    setting, and so does an untouched shuffle count."""
    from filesystemagent_spark.queries import registry

    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "false")
    try:
        out = registry()["events_stream_tumbling"].fn(spark, sf_dir)
        assert out.count() > 0
        assert spark.conf.get(key) == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle
    finally:
        spark.conf.unset(key)


def test_gate_starts_its_stream_outside_the_callers_session(
    spark, sf_dir, monkeypatch
):
    """A caller's shuffle count no pin can produce is still in place
    when the gate's stream starts, and the state operator runs with
    stream_session's cores/4 count instead."""
    import json

    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from filesystemagent_spark.queries import registry

    key = "spark.sql.shuffle.partitions"
    seen, started = [], []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        seen.append(spark.conf.get(key))
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        registry()["events_stream_late_accounting"].fn(spark, sf_dir).collect()
    finally:
        spark.conf.set(key, prev)
    assert seen == ["7"]
    p = started[0].recentProgress[0]
    p = p if isinstance(p, dict) else json.loads(p.json)
    assert p["stateOperators"][0]["numShufflePartitions"] == max(
        2, spark.sparkContext.defaultParallelism // 4
    )


def test_two_gates_on_two_threads_leave_the_session_as_it_was(
    spark, sf_dir, duck
):
    """Two streaming gates run at once on one session: both match their
    oracle, no conf of the session changes and no sink view is left in
    its catalog (or in the child session the streams ran in)."""
    from concurrent.futures import ThreadPoolExecutor

    from filesystemagent_spark.queries import registry
    from filesystemagent_spark.session import stream_session
    from tests.oracle_utils import compare

    reg = registry()
    names = ["events_stream_tumbling", "events_stream_sessions"]
    conf = spark.conf.getAll
    views = {t.name for t in spark.catalog.listTables()}
    with ThreadPoolExecutor(2) as pool:
        frames = list(pool.map(lambda n: reg[n].fn(spark, sf_dir), names))
    for name, df in zip(names, frames):
        ok, msg, n = compare(df, duck.sql(reg[name].oracle))
        assert ok and n > 0, f"{name}: {msg}"
    assert spark.conf.getAll == conf
    assert {t.name for t in spark.catalog.listTables()} == views
    child = stream_session(spark)
    assert not [t for t in child.catalog.listTables() if "_sink_" in t.name]


def test_nanos_timestamps_read_truncated_to_micros(spark, tmp_path):
    """TIMESTAMP(NANOS) parquet reads through the session's nanosAsLong
    conf, in the catalog and in the gates' stream session alike, and
    comes back truncated to microseconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from filesystemagent_spark.queries.streaming_gate import _drain_to_memory
    from filesystemagent_spark.session import stream_session

    ns = [1_700_000_000_123_456_789, 1_700_003_600_000_000_999]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": ["view", "purchase"],
            "value": [1.0, 2.0],
            "props": ["", ""],
        }
    )
    sf = tmp_path / "sfnanos"
    sf.mkdir()
    pq.write_table(table, str(sf / "events.parquet"))
    assert pq.read_schema(str(sf / "events.parquet")).field("ts").type.unit == "ns"
    want = ["2023-11-14 22:13:20.123456", "2023-11-14 23:13:20.000000"]

    def rendered(df):
        return sorted(
            r[0]
            for r in df.select(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
            ).collect()
        )

    assert rendered(Catalog(spark, str(sf)).events) == want
    gs = stream_session(spark)
    drained, _ = _drain_to_memory(
        gs, S.read_events_stream(gs, str(sf)), str(tmp_path)
    )
    assert rendered(drained) == want


def test_callers_stream_listener_sees_gate_progress(spark, sf_dir):
    """The gates' streams run in a child session; a listener added to
    the caller's session still receives their events."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from filesystemagent_spark.queries import registry

    got = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            got.append("started")

        def onQueryProgress(self, event):
            got.append("progress")

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            got.append("terminated")

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        registry()["events_stream_tumbling"].fn(spark, sf_dir).collect()
        deadline = time.time() + 30
        while "terminated" not in got and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert {"started", "progress", "terminated"} <= set(got)
