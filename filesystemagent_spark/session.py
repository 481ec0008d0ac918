"""SparkSession factory with scale-oriented defaults.

The reference engine hand-tunes thread pools and batch sizes
(/root/reference/config.yaml:8-10, src/agent.py:29-32); in Spark the
equivalent knobs are shuffle partitioning, AQE, and Arrow batching —
set once here so every entry point (tests, bench, driver contract)
gets the same execution profile.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local parallelism follows SPARK_GRAFT_CPUS (default 32) and the JVM
# heap SPARK_GRAFT_DRIVER_MEM (default 16g); see get_spark(). On a real
# cluster the same code runs unchanged: master/shuffle-partitions are
# env-overridable and AQE re-coalesces at runtime anyway.
_DEFAULTS = {
    # Runtime re-planning: partition coalescing, skew-join splitting,
    # dynamic broadcast — the engine's answer to data skew at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan shuffles UNDER cached plans too (off by default):
    # the maintenance sinks and the LSH/graph operators persist small
    # derived intermediates (guide §5), and with this off every shuffle
    # below a `.cache()`/`.persist()` stays at the static partition
    # count — measured on the IVFPQ lifecycle at sf0.01 under a bare
    # 200-partition session: drains 37 s/60 s → 12 s/8 s, tuner 32 s →
    # 16 s with coalescing allowed. Values are partitioning-invariant.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow for any pandas-UDF surface (transform shim, perceptual
    # hashes): batch columnar transfer, not per-row pickling.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic timestamp semantics for oracle parity.
    "spark.sql.session.timeZone": "UTC",
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
    """Disable pyspark's DataFrame-debugging call-site capture for this
    process — 3-4 extra py4j round trips per DataFrame method
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
    try:  # pragma: no cover - attribute private to pyspark
        import pyspark.errors.utils as _eu

        # Respect a caller that explicitly ENABLED the debugging conf on
        # its session — only pin the gate off when the conf is unset or
        # false. `_enable_debugging_cache` is private to pyspark
        # (verified present and load-bearing in pyspark 4.1.2; a rename
        # just means this optimization silently stops applying, which the
        # except below already tolerates).
        try:
            explicit_on = (
                spark.conf.get(
                    "spark.python.sql.dataFrameDebugging.enabled", "false"
                ).lower()
                == "true"
            )
        except Exception:
            explicit_on = False
        if not explicit_on and getattr(
            _eu, "_enable_debugging_cache", None
        ) is not False:
            _eu._enable_debugging_cache = False
    except Exception:
        pass
    try:
        # Runtime-settable (unlike the debugging conf): AQE coalescing
        # under cached plans — see _DEFAULTS for the measured effect.
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
    except Exception:  # pragma: no cover - older Spark without the conf
        pass


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
