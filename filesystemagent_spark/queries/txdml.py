"""TxTable DML under the oracle (SURVEY.md §2.2 S11 — catalog
sink/upsert, upgraded to the transactional table format).

The reference's catalog upsert is a sqlite INSERT OR REPLACE
(/root/reference/src/catalog.py); at 100 TB the engine's answer is the
transactional table (`sources/txtable.py`): snapshot-isolated MERGE,
row-level DELETE with stats-pruned file rewrite, and a write-time
change feed. Until round 5 that component was pytest-only; this query
puts the full DML lifecycle — init → merge (updates + inserts) →
delete → snapshot read → change-feed replay — under the driver's
DuckDB oracle, which re-derives the same final state and change images
in pure SQL (MERGE here is whole-row replace: anti-join ∪ batch).

Everything is deterministic: the update/insert batches derive from the
events fixture by modular predicates, so both engines compute
identical row sets with no clock, uuid, or ordering dependence.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import staging_dir
from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.queries import register
from filesystemagent_spark.sources.txtable import TxTable


def _dec(c):
    return c.cast("decimal(18,6)")


def _agg():
    # built lazily: Column construction needs an active session
    return [
        F.count("*").alias("n_rows"),
        F.sum(_dec(F.col("value"))).cast("double").alias("total_value"),
        F.countDistinct("user_id").alias("n_users"),
    ]


@register(
    "events_txtable_dml",
    headline=True,  # the storage engine's DML path under bench guard
    tags=("txtable", "merge", "delete", "change-feed", "snapshot"),
    oracle="""
WITH ups AS (
    SELECT event_id, ts, user_id, event_type,
           value * 2 AS value, 'updated' AS props
    FROM events WHERE event_type = 'click' AND event_id % 7 = 0
),
ins AS (
    SELECT event_id + 100000000 AS event_id, ts, user_id,
           'synthetic' AS event_type, value, props
    FROM events WHERE event_id % 997 = 0
),
upserts AS (SELECT * FROM ups UNION ALL SELECT * FROM ins),
merged AS (
    SELECT * FROM events
    WHERE event_id NOT IN (SELECT event_id FROM upserts)
    UNION ALL SELECT * FROM upserts
),
snapshot AS (SELECT * FROM merged WHERE event_type <> 'error'),
changes AS (
    SELECT 'insert' AS key, user_id, value FROM events
    UNION ALL SELECT 'upsert', user_id, value FROM upserts
    UNION ALL SELECT 'update_preimage', user_id, value
    FROM events WHERE event_type = 'click' AND event_id % 7 = 0
    UNION ALL SELECT 'delete', user_id, value
    FROM merged WHERE event_type = 'error'
)
SELECT 'snapshot' AS section, event_type AS key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM snapshot GROUP BY 2
UNION ALL
SELECT 'changes' AS section, key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM changes GROUP BY 2
ORDER BY section, key
""",
)
def events_txtable_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full transactional-table lifecycle, oracle-checked end to end:

    v1  init(events)                  — snapshot + implicit insert image
    v2  merge_into(updates ∪ inserts) — whole-row upsert on event_id,
                                        change_feed staged at write time:
                                        post-images AND update_preimages
                                        (the replaced click rows)
    v3  delete_where(type = 'error')  — stats-pruned file rewrite,
                                        delete images staged

    The result unions a per-type rollup of the FINAL SNAPSHOT
    (`t.read`) with a per-change-type rollup of the CHANGE FEED
    (`t.table_changes(1..)`), so a wrong merge anti-join, a missed or
    over-broad delete, a stale snapshot manifest, or a wrong/missing
    change image each shifts a hashed value. Update/insert batches are
    modular-predicate slices of the fixture — deterministic in both
    engines."""
    ev = Catalog(spark, sf_dir).events
    stage = staging_dir("events_txdml_")
    t = TxTable(os.path.join(stage, "tbl"))
    t.init(ev)

    ups = (
        ev.where((F.col("event_type") == "click") & (F.col("event_id") % 7 == 0))
        .withColumn("value", F.col("value") * 2)
        .withColumn("props", F.lit("updated"))
    )
    ins = (
        ev.where(F.col("event_id") % 997 == 0)
        .withColumn("event_id", F.col("event_id") + F.lit(100000000))
        .withColumn("event_type", F.lit("synthetic"))
    )
    t.merge_into(ups.unionByName(ins), ["event_id"], change_feed=True)
    t.delete_where(spark, [("event_type", "=", "error")], change_feed=True)

    snap_agg = (
        t.read(spark)
        .groupBy(F.col("event_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("snapshot").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    ch_agg = (
        t.table_changes(spark, 1)
        .groupBy(F.col("_change_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("changes").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    return snap_agg.unionByName(ch_agg).orderBy("section", "key")


@register(
    "events_txtable_cdf_stream",
    tags=("txtable", "change-feed", "streaming", "python-datasource"),
    oracle="""
WITH base AS (SELECT * FROM events WHERE user_id % 10 = 0),
ups AS (
    SELECT event_id, ts, user_id, event_type,
           value * 2 AS value, 'updated' AS props
    FROM base WHERE event_type = 'click' AND event_id % 5 = 0
),
pre AS (
    SELECT * FROM base WHERE event_type = 'click' AND event_id % 5 = 0
),
del AS (
    SELECT * FROM base
    WHERE event_type = 'view' AND event_id NOT IN (SELECT event_id FROM ups)
),
feed AS (
    SELECT 'insert' AS key, user_id, value FROM base
    UNION ALL SELECT 'upsert', user_id, value FROM ups
    UNION ALL SELECT 'update_preimage', user_id, value FROM pre
    UNION ALL SELECT 'delete', user_id, value FROM del
)
SELECT key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM feed GROUP BY key ORDER BY key
""",
)
def events_txtable_cdf_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING change-feed source under the oracle (it was
    pytest-only): build a TxTable from a deterministic events slice,
    run merge (with pre-images) + delete, then consume the feed through
    the REGISTERED `txtable_changes` Python DataSource — a real
    checkpointed readStream -> parquet drain, arrow-batched per-file
    partitions — and roll the drained rows up by change type. The
    oracle re-derives every image class in SQL, so a wrong offset, a
    dropped part, a mis-typed image, or a schema-cast bug in the stream
    reader shifts a hashed value."""
    from filesystemagent_spark.sources.txchanges import register_txtable_changes

    ev = Catalog(spark, sf_dir).events.where(F.col("user_id") % 10 == 0)
    stage = staging_dir("events_cdf_stream_")
    t = TxTable(os.path.join(stage, "tbl"))
    t.init(ev)
    ups = (
        ev.where((F.col("event_type") == "click") & (F.col("event_id") % 5 == 0))
        .withColumn("value", F.col("value") * 2)
        .withColumn("props", F.lit("updated"))
    )
    t.merge_into(ups, ["event_id"], change_feed=True)
    t.delete_where(spark, [("event_type", "=", "view")], change_feed=True)

    register_txtable_changes(spark)
    out = os.path.join(stage, "out")
    q = (
        spark.readStream.format("txtable_changes")
        .option("path", t.path).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", os.path.join(stage, "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy(F.col("_change_type").alias("key"))
        .agg(*_agg())
        .orderBy("key")
    )


@register(
    "events_txtable_mor_dml",
    tags=("txtable", "merge-on-read", "tombstone", "change-feed"),
    oracle="""
WITH vis AS (SELECT * FROM events WHERE event_type <> 'error'),
ups AS (
    SELECT event_id, ts, user_id, event_type,
           value * 3 AS value, 'u' AS props
    FROM events WHERE event_id % 11 = 0
),
merged AS (
    SELECT * FROM vis WHERE event_id NOT IN (SELECT event_id FROM ups)
    UNION ALL SELECT * FROM ups
),
changes AS (
    SELECT 'insert' AS key, user_id, value FROM events
    UNION ALL SELECT 'delete', user_id, value
    FROM events WHERE event_type = 'error'
    UNION ALL SELECT 'upsert', user_id, value FROM ups
    UNION ALL SELECT 'update_preimage', user_id, value
    FROM vis WHERE event_id IN (SELECT event_id FROM ups)
)
SELECT 'snapshot' AS section, event_type AS key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM merged GROUP BY 2
UNION ALL
SELECT 'changes' AS section, key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM changes GROUP BY 2
ORDER BY section, key
""",
)
def events_txtable_mor_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ delete lifecycle under the oracle (round 6):

    v1  init(events)
    v2  delete_where(type='error', mode='mor') — NO file rewrite: the
        commit records a tombstone over the stats-pruned file set;
        delete images staged by SCANNING those files
    v3  merge_into(event_id % 11 slice, value*3) — reads touched files
        THROUGH the tombstone (no resurrection), prunes rewritten
        files out of it, and — because the batch includes 'error'-typed
        rows whose originals v2 deleted — proves tombstone SCOPING:
        the re-upserted rows survive while the originals stay gone.

    The result unions the final-snapshot per-type rollup with the
    change-feed per-type rollup, exactly like `events_txtable_dml`;
    DuckDB replays the tombstone as a plain anti-filter. A resurrection
    bug, an over-broad tombstone, a missed pre-image, or a feed image
    leaking already-deleted rows each shifts a hashed value."""
    ev = Catalog(spark, sf_dir).events
    stage = staging_dir("events_txmor_")
    t = TxTable(os.path.join(stage, "tbl"))
    t.init(ev)
    t.delete_where(
        spark, [("event_type", "=", "error")], mode="mor", change_feed=True
    )
    ups = (
        ev.where(F.col("event_id") % 11 == 0)
        .withColumn("value", F.col("value") * 3)
        .withColumn("props", F.lit("u"))
    )
    t.merge_into(ups, ["event_id"], change_feed=True)
    snap_agg = (
        t.read(spark)
        .groupBy(F.col("event_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("snapshot").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    ch_agg = (
        t.table_changes(spark, 1)
        .groupBy(F.col("_change_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("changes").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    return snap_agg.unionByName(ch_agg).orderBy("section", "key")


@register(
    "events_txtable_incremental_join",
    tags=("txtable", "change-feed", "incremental-view", "join", "streaming"),
    oracle="""
WITH l0 AS (
    SELECT event_id, user_id, value FROM events WHERE user_id % 5 = 0
),
r AS (SELECT DISTINCT user_id, user_id % 7 AS tier FROM events),
ups AS (
    SELECT event_id, user_id, value * 2 AS value
    FROM l0 WHERE event_id % 3 = 0
),
ins AS (
    SELECT event_id + 100000000 AS event_id, user_id + 5 AS user_id, value
    FROM l0 WHERE event_id % 11 = 0
),
batch AS (SELECT * FROM ups UNION ALL SELECT * FROM ins),
merged AS (
    SELECT * FROM l0 WHERE event_id NOT IN (SELECT event_id FROM batch)
    UNION ALL SELECT * FROM batch
),
final AS (SELECT * FROM merged WHERE user_id <> 0)
SELECT f.event_id, f.user_id, f.value, r.tier
FROM final f JOIN r ON f.user_id = r.user_id
ORDER BY f.event_id, f.user_id
""",
)
def events_txtable_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance under the oracle: a fact
    TxTable (events slice keyed by event_id, join key user_id) runs
    init -> MERGE (value updates + join-key-moving inserts) -> DELETE,
    all with the change feed; `start_incremental_join_sink` consumes
    the feed stream and maintains derived = L ⋈ R (R = the user
    dimension) — post-image joins merge in, affected-key slices die
    via merge-on-read key-list tombstones, exactly-once via batch_id
    stamps. The returned derived rows must equal the one-shot SQL join
    of the FINAL snapshot, which is exactly what the oracle computes —
    a missed retraction, a stale partner after a join-key move, or a
    double-applied batch each shifts the hash. Two drains, so the
    oracle checks BOTH sink branches: the first drains only the init
    version (derived bootstraps), the DML lands between them, and the
    second drain must retract via the merge-on-read key-list tombstone
    and merge the post-image joins — a single drain would hit only the
    bootstrap path."""
    from filesystemagent_spark.streaming.sinks import start_incremental_join_sink

    ev = Catalog(spark, sf_dir).events
    left = ev.where(F.col("user_id") % 5 == 0).select(
        "event_id", "user_id", "value"
    )
    right = ev.select("user_id").distinct().withColumn(
        "tier", F.col("user_id") % 7
    )
    stage = staging_dir("events_ivm_join_")
    src = TxTable(os.path.join(stage, "src"))

    def drain():
        start_incremental_join_sink(
            spark,
            os.path.join(stage, "src"),
            right,
            os.path.join(stage, "derived"),
            os.path.join(stage, "ckpt"),
            on="user_id",
            left_pk="event_id",
            right_pk="user_id",
        ).awaitTermination()

    src.init(left)
    drain()  # bootstrap: derived <- v1 join
    ups = left.where(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    ins = (
        left.where(F.col("event_id") % 11 == 0)
        .withColumn("event_id", F.col("event_id") + F.lit(100000000))
        .withColumn("user_id", F.col("user_id") + F.lit(5))
    )
    src.merge_into(ups.unionByName(ins), ["event_id"], change_feed=True)
    src.delete_where(spark, [("user_id", "=", 0)], change_feed=True)
    drain()  # incremental: tombstone retraction + post-image merge
    return (
        TxTable(os.path.join(stage, "derived"))
        .read(spark)
        .select("event_id", "user_id", "value", "tier")
        .orderBy("event_id", "user_id")
    )


@register(
    "events_txtable_bidirectional_join",
    tags=("txtable", "change-feed", "streaming", "join-view",
          "bidirectional", "delete-keys"),
    oracle="""
WITH l0 AS (
    SELECT event_id, user_id, value FROM events WHERE user_id % 5 = 0
),
r0 AS (SELECT DISTINCT user_id, user_id % 7 AS tier FROM events),
ups AS (
    SELECT event_id, user_id, value * 2 AS value
    FROM l0 WHERE event_id % 3 = 0
),
ins AS (
    SELECT event_id + 100000000 AS event_id, user_id + 5 AS user_id, value
    FROM l0 WHERE event_id % 11 = 0
),
lbatch AS (SELECT * FROM ups UNION ALL SELECT * FROM ins),
lfin AS (
    SELECT * FROM l0 WHERE event_id NOT IN (SELECT event_id FROM lbatch)
    UNION ALL SELECT * FROM lbatch
),
lfin2 AS (SELECT * FROM lfin WHERE user_id <> 0),
rup AS (SELECT user_id, tier + 100 AS tier FROM r0 WHERE user_id % 2 = 0),
rfin AS (
    SELECT * FROM r0 WHERE user_id NOT IN (SELECT user_id FROM rup)
    UNION ALL SELECT * FROM rup
),
rfin2 AS (SELECT * FROM rfin WHERE user_id % 35 <> 0)
SELECT f.event_id, f.user_id, f.value, r.tier
FROM lfin2 f JOIN rfin2 r ON f.user_id = r.user_id
ORDER BY f.event_id, f.user_id
""",
)
def events_txtable_bidirectional_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BIDIRECTIONAL join-view maintenance under the oracle (round 7):
    L (events slice, pk event_id) AND R (user dimension, pk user_id)
    are both TxTables with change feeds, and
    `start_bidirectional_join_sinks` maintains derived = L ⋈ R from
    both feeds. Between drains BOTH sides mutate:

      L: MERGE (value updates + join-key-moving inserts) then a
         DELETE (user_id = 0) via the predicate path;
      R: MERGE (tier bump for even users — fans out to every matching
         L row) then a DELETE of the users divisible by 35 via
         `delete_keys` (the file-backed key-list tombstone, fed by a
         modular predicate the where-grammar can't express — and its
         change_feed images drive the R-side retraction downstream).

    The derived rows must equal the one-shot SQL join of the two
    FINAL snapshots — exactly what the oracle computes. A missed
    R-side retraction, a stale tier after the dimension update, or a
    cross-feed stamp collision each shifts the hash."""
    from filesystemagent_spark.streaming.sinks import (
        start_bidirectional_join_sinks,
    )

    ev = Catalog(spark, sf_dir).events
    left = ev.where(F.col("user_id") % 5 == 0).select(
        "event_id", "user_id", "value"
    )
    right = ev.select("user_id").distinct().withColumn(
        "tier", F.col("user_id") % 7
    )
    stage = staging_dir("events_bidir_join_")
    lp, rp = os.path.join(stage, "L"), os.path.join(stage, "R")
    L, R = TxTable(lp), TxTable(rp)

    def drain():
        ql, qr = start_bidirectional_join_sinks(
            spark, lp, rp, os.path.join(stage, "derived"),
            os.path.join(stage, "ckl"), os.path.join(stage, "ckr"),
            on="user_id", left_pk="event_id", right_pk="user_id",
        )
        ql.awaitTermination()
        qr.awaitTermination()

    L.init(left)
    R.init(right)
    drain()  # bootstrap from both feeds' v1 images
    # L-side DML
    ups = left.where(F.col("event_id") % 3 == 0).withColumn(
        "value", F.col("value") * 2
    )
    ins = (
        left.where(F.col("event_id") % 11 == 0)
        .withColumn("event_id", F.col("event_id") + F.lit(100000000))
        .withColumn("user_id", F.col("user_id") + F.lit(5))
    )
    L.merge_into(ups.unionByName(ins), ["event_id"], change_feed=True)
    L.delete_where(spark, [("user_id", "=", 0)], change_feed=True)
    # R-side DML: tier bump + key-set dimension delete
    R.merge_into(
        R.read(spark)
        .where(F.col("user_id") % 2 == 0)
        .withColumn("tier", F.col("tier") + F.lit(100)),
        ["user_id"],
        change_feed=True,
    )
    R.delete_keys(
        R.read(spark).where(F.col("user_id") % 35 == 0).select("user_id"),
        ["user_id"],
        change_feed=True,
    )
    drain()  # both legs retract + rebuild against final snapshots
    return (
        TxTable(os.path.join(stage, "derived"))
        .read(spark)
        .select("event_id", "user_id", "value", "tier")
        .orderBy("event_id", "user_id")
    )


@register(
    "events_txtable_update_dml",
    tags=("txtable", "update", "mor", "change-feed", "snapshot"),
    oracle="""
WITH base AS (
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events WHERE user_id % 10 = 3
),
after_del AS (SELECT * FROM base WHERE event_type <> 'error'),
fin AS (
    SELECT event_type,
           user_id,
           CASE WHEN value >= 90 THEN value + 1000 ELSE value END AS value
    FROM after_del
),
changes AS (
    SELECT 'insert' AS key, user_id, value FROM base
    UNION ALL
    SELECT 'delete', user_id, value FROM base WHERE event_type = 'error'
    UNION ALL
    SELECT 'update_preimage', user_id, value
    FROM after_del WHERE value >= 90
    UNION ALL
    SELECT 'upsert', user_id, value + 1000
    FROM after_del WHERE value >= 90
)
SELECT 'snapshot' AS section, event_type AS key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM fin GROUP BY 2
UNION ALL
SELECT 'changes' AS section, key, COUNT(*) AS n_rows,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM changes GROUP BY 2
ORDER BY section, key
""",
)
def events_txtable_update_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE ... SET ... WHERE under the oracle (round 7) — the DML
    verb between MERGE and DELETE, composed with a live MoR tombstone:

    v1  init(events slice)
    v2  delete_where(type='error', mode='mor', feed) — tombstone only
    v3  update_where(value >= 90 -> value += 1000, props = 'hot',
        mode='mor', feed) — ALSO metadata-plus-post-images: the old
        matched rows die via a second tombstone stacked on the
        delete's (the pre-image scan reads THROUGH it, so deleted
        rows must not resurrect as updates) and the transformed rows
        append; the snapshot read resolves BOTH stacked tombstones

    The snapshot rollup catches a resurrect, a missed/over-broad
    update, a type drift, or a wrong stacked-tombstone read; the
    change rollup catches wrong or missing images (the preimages must
    be the post-DELETE matching rows, not the raw base)."""
    ev = Catalog(spark, sf_dir).events
    base = ev.where(F.col("user_id") % 10 == 3)
    stage = staging_dir("events_txupdate_")
    t = TxTable(os.path.join(stage, "tbl"))
    t.init(base)
    t.delete_where(
        spark, [("event_type", "=", "error")], mode="mor", change_feed=True
    )
    t.update_where(
        spark, [("value", ">=", 90.0)],
        {"value": "value + 1000", "props": "'hot'"},
        mode="mor", change_feed=True,
    )
    snap_agg = (
        t.read(spark)
        .groupBy(F.col("event_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("snapshot").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    ch_agg = (
        t.table_changes(spark, 1)
        .groupBy(F.col("_change_type").alias("key"))
        .agg(*_agg())
        .select(F.lit("changes").alias("section"), "key",
                "n_rows", "total_value", "n_users")
    )
    return snap_agg.unionByName(ch_agg).orderBy("section", "key")
