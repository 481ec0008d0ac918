"""Batch incremental materialized-view maintenance.

The streaming side of continuous aggregation lives in
streaming/sinks.py + queries/streaming_gate.py (micro-batch deltas
through an idempotent upsert sink). This module is the BATCH half: a
rollup materialized over a hive-partitioned source, refreshed
partition-by-partition — recompute ONLY the source partitions that
changed, swap ONLY the matching output directories (dynamic partition
overwrite), and every coarser resolution derives from the stored
mergeable partials (operators/rollup.py) without touching raw rows.

Why this is the 100 TB shape: a day's restatement on a 3-year events
table re-scans 1/1000th of the data; the refresh is idempotent (same
input → same bytes), so retries and replays are safe; and because only
partials are stored, late-arriving data merged into one partition
never corrupts derived averages.

Reference analog: the run-result/baseline stores (SURVEY §2.1
S21-S22) persist whole snapshots; this is the same persistence idea
upgraded with incremental maintenance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.operators.rollup import continuous_aggregate, time_bucket


class MaterializedRollup:
    """A continuous aggregate (time-bucketed mergeable partials) stored
    hive-partitioned by a date key, with partition-incremental refresh.

    Layout: ``{mv_dir}/pday=YYYY-MM-DD/*.parquet`` — one MV partition
    per source day, each holding (bucket, *group_cols, n, sum_v,
    min_v, max_v) partials for that day's rows.
    """

    PART_COL = "pday"

    def __init__(
        self,
        source_dir: str,
        mv_dir: str,
        *,
        ts_col: str = "ts",
        value_col: str = "value",
        group_cols: list[str] | None = None,
        bucket_seconds: int = 3600,
    ):
        self.source_dir = source_dir
        self.mv_dir = mv_dir
        self.ts_col = ts_col
        self.value_col = value_col
        self.group_cols = group_cols if group_cols is not None else ["event_type"]
        self.bucket_seconds = bucket_seconds

    # -- internals -------------------------------------------------

    def _source(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.source_dir)

    def _bucket_day(self, ts: Column) -> Column:
        """The day of the row's BUCKET — the expression the partition
        key derives from. Refresh scoping and staleness detection must
        both use this (not the raw-ts day): when ``bucket_seconds``
        does not divide 86400 a bucket can span midnight, and a row's
        raw-ts day then differs from the MV partition it lands in.
        Filtering by raw-ts day would emit an incomplete partial for
        the straddling bucket and dynamic overwrite would replace the
        neighboring day's directory with it."""
        return F.date_format(time_bucket(ts, self.bucket_seconds), "yyyy-MM-dd")

    def _partials_for(self, src: DataFrame) -> DataFrame:
        rollup = continuous_aggregate(
            src,
            ts_col=self.ts_col,
            value_col=self.value_col,
            group_cols=self.group_cols,
            bucket_seconds=self.bucket_seconds,
        )
        # The partition key derives from the bucket, so a source row
        # always lands in the MV partition of its own day — refresh
        # scope is computable from the data alone.
        return rollup.withColumn(
            self.PART_COL, F.date_format("bucket", "yyyy-MM-dd")
        )

    # -- public API ------------------------------------------------

    def build(self, spark: SparkSession) -> None:
        """Full (re)build — the bootstrap path."""
        self._partials_for(self._source(spark)).write.mode(
            "overwrite"
        ).partitionBy(self.PART_COL).parquet(self.mv_dir)

    def refresh(self, spark: SparkSession, days: list[str]) -> None:
        """Incrementally refresh the MV partitions for `days`
        (YYYY-MM-DD): re-aggregate ONLY those days' source rows and
        dynamically overwrite ONLY those output directories. Calling
        it twice with the same source state is a byte-level no-op
        (idempotent); calling it after a restatement converges the MV
        to the restated source — including a restatement that removes
        a day entirely (the now-empty partition directory is dropped,
        since dynamic overwrite only touches partitions it writes).

        Scoping is by BUCKET-derived day (see ``_bucket_day``) so the
        filter matches the partition key exactly for any
        ``bucket_seconds``, midnight-straddling buckets included."""
        src = self._source(spark).filter(
            self._bucket_day(F.col(self.ts_col)).isin(days)
        )
        partials = self._partials_for(src).persist()
        try:
            # Small collect: one row per refreshed day (the worklist is
            # day-granular, never fact-sized).
            present = {
                r[0] for r in partials.select(self.PART_COL).distinct().collect()
            }
            partials.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(self.PART_COL).parquet(self.mv_dir)
        finally:
            partials.unpersist()
        # Days requested but producing zero partials: dynamic overwrite
        # wrote nothing for them, so the stale directory would survive
        # forever. Delete it through the Hadoop FS API (works on any
        # filesystem the session can write, not just file://).
        empty = [d for d in days if d not in present]
        if empty:
            jvm = spark._jvm
            hconf = spark._jsc.hadoopConfiguration()
            for day in empty:
                path = jvm.org.apache.hadoop.fs.Path(
                    f"{self.mv_dir}/{self.PART_COL}={day}"
                )
                fs = path.getFileSystem(hconf)
                if fs.exists(path):
                    fs.delete(path, True)

    def read(self, spark: SparkSession) -> DataFrame:
        """The maintained rollup (partition column included — filters
        on it prune directories)."""
        return spark.read.parquet(self.mv_dir)

    def stale_days(self, spark: SparkSession) -> list[str]:
        """Days whose source rows disagree with the MV's stored row
        counts — the refresh worklist after an append/restatement of
        unknown scope. One aggregate over each side at day grain (the
        MV side reads partials only), then a full-outer compare."""
        src_days = (
            self._source(spark)
            .groupBy(
                # bucket-derived day, matching the partition key (see
                # _bucket_day) — raw-ts day would mis-assign rows whose
                # bucket straddles midnight and report phantom drift.
                self._bucket_day(F.col(self.ts_col)).alias(self.PART_COL)
            )
            .agg(F.count("*").alias("_src_n"))
        )
        mv_days = (
            self.read(spark)
            # partition-column type inference reads the dir value back
            # as DATE; compare as the string the writer produced.
            .groupBy(F.col(self.PART_COL).cast("string").alias(self.PART_COL))
            .agg(F.sum("n").alias("_mv_n"))
        )
        out = (
            src_days.join(mv_days, self.PART_COL, "full_outer")
            .filter(
                ~F.col("_src_n").eqNullSafe(F.col("_mv_n"))
            )
            .select(self.PART_COL)
            .orderBy(self.PART_COL)
        )
        return [r[0] for r in out.collect()]
