"""SparkSession factory with scale-oriented defaults, and the one owner
of session confs.

The reference engine hand-tunes thread pools and batch sizes
(/root/reference/config.yaml:8-10, src/agent.py:29-32); in Spark the
equivalent knobs are shuffle partitioning, AQE, and Arrow batching —
set once here so every entry point (tests, bench, driver contract)
gets the same execution profile.

No other module sets a session conf; these are the only entry points:
``get_spark`` launches a session with ``_DEFAULTS``;
``tune_caller_session`` sets ``_RUNTIME_CONFS`` once on a session the
caller built (``get_spark`` and the driver's ``entry()`` call it);
``stream_session`` gives the streaming gates a child session with its
own SQLConf. A setting for one write is a writer option instead.
"""

from __future__ import annotations

import os
import threading
from weakref import WeakKeyDictionary

from pyspark.sql import SparkSession

# Runtime-settable confs that results depend on: set at launch, by
# tune_caller_session and on stream_session children, never per query.
_RUNTIME_CONFS = {
    # Deterministic timestamp semantics for oracle parity: parquet
    # timestamps are naive, so casts and formatting must not shift
    # with a local timezone.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) is unreadable by Spark's native reader;
    # with this on it reads as int64 nanos, which catalog._read_table
    # and streaming.events.read_events_stream truncate to microsecond
    # timestamps.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Let AQE re-plan shuffles UNDER cached plans too (off by default):
    # the maintenance sinks and the LSH/graph operators persist small
    # derived intermediates (guide §5), and with this off every shuffle
    # below a `.cache()`/`.persist()` stays at the static partition
    # count — measured on the IVFPQ lifecycle at sf0.01 under a bare
    # 200-partition session: drains 37 s/60 s → 12 s/8 s, tuner 32 s →
    # 16 s with coalescing allowed. Values are partitioning-invariant.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
}

# Local parallelism follows SPARK_GRAFT_CPUS (default 32) and the JVM
# heap SPARK_GRAFT_DRIVER_MEM (default 16g); see get_spark(). On a real
# cluster the same code runs unchanged: master/shuffle-partitions are
# env-overridable and AQE re-coalesces at runtime anyway.
_DEFAULTS = {
    **_RUNTIME_CONFS,
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # dynamic broadcast — the engine's answer to data skew at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF surface (transform shim, perceptual
    # hashes): batch columnar transfer, not per-row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # DataFrame-debugging call-site capture costs 3-4 extra py4j round
    # trips per DataFrame method (origin getattr + conf.get + set +
    # clear) — measured 1652 → 682 py4j sends and 11.5 s → 2.1 s plan
    # construction for the incremental-dedup headliner (guide §4: the
    # Python boundary; here the boundary is the DRIVER's). Only error
    # messages lose the Python call-site line; results are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Parquet pushdown & pruning are on by default; pinned here as
    # documentation that the engine relies on them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.ui.enabled": "false",
    # Compiled-class LRU (Janino). The default 100 is below the working
    # set of one pass over even a handful of registered queries, so a
    # session that repeats them evicts and recompiles in a cycle — each
    # recompiled class also restarts as cold, un-JIT-ed code. Sized from
    # scripts/codegen_working_set.py (every registered query once):
    # 3162 distinct classes at sf0.001, rounded up to the next power of
    # two for plans that differ at other scale factors. The cache only
    # holds classes a session actually compiled, so a session running a
    # few queries pays nothing for the headroom. Static conf: it only
    # applies to sessions get_spark() launches.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def tune_caller_session(spark: SparkSession) -> None:
    """Set ``_RUNTIME_CONFS`` on ``spark``, once, so that no query sets
    a conf; and disable pyspark's DataFrame-debugging call-site capture
    for this process — 3-4 extra py4j round trips per DataFrame method
    (origin getattr + conf.get + set + clear), measured 1652 → 682
    sends / 11.5 s → 2.1 s constructing the incremental-dedup plan.
    The conf is STATIC (can't be set on a caller-provided live session,
    e.g. the driver's bare one), but pyspark gates the whole feature on
    a process-global cache that exists precisely so the check is cheap;
    pinning it False is equivalent to having built the session with the
    conf off. Only error messages lose the Python call-site line.

    The codegen class-cache size in _DEFAULTS is static too, and unlike
    the debugging gate it has no Python-side switch: a caller's live
    session keeps the size it was launched with."""
    # Respect a caller that explicitly enabled the debugging conf.
    # `_enable_debugging_cache` is private to pyspark (present and
    # load-bearing in pyspark 4.1.2).
    import pyspark.errors.utils as _eu

    key = "spark.python.sql.dataFrameDebugging.enabled"
    if spark.conf.get(key, "false").lower() != "true":
        _eu._enable_debugging_cache = False
    for key, value in _RUNTIME_CONFS.items():
        spark.conf.set(key, value)


_STREAM_LOCK = threading.Lock()
_STREAM_SESSIONS: WeakKeyDictionary = WeakKeyDictionary()  # caller -> child


def stream_session(spark: SparkSession) -> SparkSession:
    """The child session the streaming gates start their streams on:
    one ``spark.newSession()`` per caller session, which shares the
    SparkContext and the cache but has its own SQLConf and temp views,
    so two threads can run gates on one session and neither session's
    confs change. The child gets ``_RUNTIME_CONFS`` plus two stream
    confs:

    - ``spark.sql.shuffle.partitions`` = cores/4: a stateful stream
      schedules every state partition each micro-batch and pays a
      state-store open/commit per partition, so a bare session's 200
      are pure overhead at gate scale, and the count is frozen into
      the first checkpoint (measured at sf0.1 local[32] on the
      tumbling gate: 16 → 1.40 s, 8 → 1.05 s best-of-3).
    - ``noDataMicroBatches.enabled``: the outer interval-join gates
      flush unmatched rows in the engine's no-data micro-batch.

    One child per caller session, not per call: each session that
    starts a stream adds a listener bus to the SparkContext for the
    context's lifetime. Stream listeners are per session, so the
    caller's are mirrored onto the child on every call and still see
    the gates' progress."""
    with _STREAM_LOCK:
        child = _STREAM_SESSIONS.get(spark)
        if child is None:
            child = _STREAM_SESSIONS[spark] = spark.newSession()
            cores = spark.sparkContext.defaultParallelism
            for key, value in {
                **_RUNTIME_CONFS,
                "spark.sql.shuffle.partitions": str(max(2, cores // 4)),
                "spark.sql.streaming.noDataMicroBatches.enabled": "true",
            }.items():
                child.conf.set(key, value)
        caller, own = (s._jsparkSession.streams() for s in (spark, child))
        want, have = set(caller.listListeners()), set(own.listListeners())
        for listener in want - have:
            own.addListener(listener)
        for listener in have - want:
            own.removeListener(listener)
    return child


def get_spark(
    app_name: str = "filesystemagent-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` sizes local parallelism; on a cluster pass an
    explicit ``master`` or let spark-submit provide one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # In local mode the driver IS the executor: the 1g default heap is
    # the first thing to fall over under 32 concurrent tasks. Applied
    # only when this factory launches the JVM (getOrCreate on a live
    # session ignores it — e.g. under the round driver's own session).
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate() on an already-running JVM ignores static confs
    # (e.g. the dataFrameDebugging switch above) — pin the Python-side
    # gate explicitly so every entry point gets the same behavior.
    tune_caller_session(spark)
    return spark


def compiled_class_count(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far (one per codegen
    cache miss) — the counter scripts/codegen_working_set.py and the
    cache tests read."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
