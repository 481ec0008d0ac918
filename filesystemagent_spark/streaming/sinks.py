"""Streaming sinks with exactly-once file semantics via foreachBatch.

Structured Streaming's checkpoint guarantees each micro-batch id is
processed at least once; making the WRITE idempotent upgrades that to
exactly-once. The file-sink pattern here: every batch writes to a
deterministic `batch_id=<id>` directory with mode=overwrite, so a
replayed batch overwrites its own previous (possibly partial) output
instead of appending duplicates. Readers see the union of batch dirs;
layout.compact handles the small-file tail.

This is the parquet-only stand-in for a transactional MERGE sink
(Delta/Iceberg); the keyed-upsert view on top resolves multiple
versions of a key to the newest batch — the same last-writer-wins
contract as sources/listing.merge_catalog.

Every sink starts through `_start_batches`, which runs each
micro-batch inside its own `caching.tracked_scope()`: whatever a batch
persists (its change-feed images, a merge's updates) is released when
the batch returns, so a sink that runs for days holds no cache from
earlier batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope


def _change_feed_reader(
    spark: SparkSession,
    source_table: str,
    checkpoint: str,
    max_versions_per_trigger: int | None,
) -> DataFrame:
    """The change-feed stream every feed-driven sink reads: admission
    bound plus a durable cursor file INSIDE the checkpoint, so the
    bound survives even a restart flow where Spark never reveals the
    checkpointed offset to the reader (the third belt; see
    sources/txchanges.py). The cursorfile rides the checkpoint's own
    filesystem — driver-local paths via plain IO, remote stores via
    pyarrow.fs inside the reader (the reader's _make_cursor_store
    degrades to belt-off when the URI can't be serviced)."""
    reader = spark.readStream.format("txtable_changes").option(
        "path", source_table
    )
    if max_versions_per_trigger is not None:
        reader = reader.option(
            "maxversionspertrigger", str(max_versions_per_trigger)
        )
    return reader.option(
        "cursorfile", _cursorfile_location(checkpoint)
    ).load()


def _start_batches(
    stream_df: DataFrame,
    apply_batch,
    checkpoint: str,
    *,
    available_now: bool,
    output_mode: str | None = None,
):
    """Start `stream_df` with `apply_batch(batch_df, batch_id)` as its
    foreachBatch callback under `checkpoint`. Each call runs inside a
    `tracked_scope()`, so the batch's persists are released with it."""

    def scoped(batch_df: DataFrame, batch_id: int) -> None:
        with tracked_scope():
            apply_batch(batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(scoped).option(
        "checkpointLocation", checkpoint
    )
    if output_mode:
        writer = writer.outputMode(output_mode)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _local_checkpoint_dir(checkpoint: str) -> str | None:
    """The checkpoint as a driver-local filesystem path, or None when
    it lives on a remote store (hdfs://, s3a://, ...) where a plain
    open() cannot write the cursor belt. Handles every file: URI
    spelling Hadoop accepts (file:/p, file:///p) — a naive '://'
    substring test would misread file:/p as local-relative and skip
    file:///p entirely. A file: URI with a REMOTE authority
    (file://otherhost/p) is NOT driver-local: treating it as /p would
    write the cursor to a wrong local location."""
    from urllib.parse import urlparse

    parsed = urlparse(checkpoint)
    if parsed.scheme in ("", "file") and parsed.netloc in ("", "localhost"):
        return parsed.path or checkpoint
    return None


def _cursorfile_location(checkpoint: str) -> str:
    """Where the durable cursor belt lives for ANY checkpoint: joined
    locally for driver-local checkpoints, URI-joined for remote ones
    (hdfs://, s3a://, ...) where the reader writes it through
    pyarrow.fs — see sources/txchanges.py for the store selection and
    the non-atomic-rename caveat on object stores."""
    local_dir = _local_checkpoint_dir(checkpoint)
    if local_dir is not None:
        return os.path.join(local_dir, "txchanges_cursor.json")
    return checkpoint.rstrip("/") + "/txchanges_cursor.json"


def start_idempotent_file_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    output_mode: str | None = None,
):
    """Write each micro-batch to `<path>/batch_id=<n>/` with overwrite —
    replay-safe: a batch re-run after a crash rewrites its own dir.
    `output_mode="update"` turns a stateful aggregation upstream into
    an incremental materialization: each batch emits only the groups
    it changed (with their full new values), and `read_upserted`
    resolves every key to its newest version."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return _start_batches(
        stream_df, write_batch, checkpoint,
        available_now=available_now, output_mode=output_mode,
    )


def read_upserted(
    spark: SparkSession, path: str, keys: list[str] | str
) -> DataFrame:
    """Resolve the batch-dir union to one row per key: the version
    from the highest batch_id wins (last-writer-wins upsert view).
    `basePath` keeps the partition column available as `batch_id`."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    df = spark.read.option("basePath", path).parquet(path)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("batch_id").desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )


def start_txtable_merge_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: list[str] | str,
    *,
    available_now: bool = True,
    output_mode: str | None = None,
):
    """Streaming MERGE: each micro-batch upserts into a TxTable
    (sources/txtable.py) — the transactional upgrade of the batch-dir
    union sink above. Exactly-once comes from two layers:

    - foreachBatch applies batches in order under the checkpoint, so a
      batch can only ever be REPLAYED (crash between commit and
      checkpoint), never reordered;
    - the sink stamps every commit with its batch_id in the manifest's
      app metadata and skips batches at-or-below the last applied id —
      a replayed batch observes its own prior commit and becomes a
      no-op instead of re-merging.

    Readers get snapshot-isolated views of the keyed table at any
    moment (no batch-dir unioning, no last-writer-wins window), and a
    concurrent BATCH writer merging the same table retries through the
    same CAS rather than losing updates.
    """
    from filesystemagent_spark.sources.txtable import TxTable

    key_list = [keys] if isinstance(keys, str) else list(keys)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = TxTable(table_path)
        applied = t.latest_app_value("batch_id")
        if applied is not None and applied >= batch_id:
            return  # replayed batch: already committed
        t.merge_into(batch_df, key_list, app={"batch_id": batch_id})

    return _start_batches(
        stream_df, write_batch, checkpoint,
        available_now=available_now, output_mode=output_mode,
    )


def start_incremental_agg_sink(
    spark: SparkSession,
    source_table: str,
    derived_table: str,
    checkpoint: str,
    *,
    group_col: str,
    value_col: str,
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
):
    """Maintain a derived per-group aggregate table from a source
    TxTable's CHANGE FEED — the consumer the update PRE-IMAGES exist
    for: each micro-batch applies signed deltas

        new_agg = old + f(insert ∪ upsert) − f(update_preimage ∪ delete)

    so the derived table tracks `SELECT group, COUNT(*), SUM(value)`
    exactly without ever rescanning the source (at 100 TB the source
    scan is the thing you can't afford per refresh). Group membership
    changes are handled for free: the pre-image subtracts from the old
    group, the post-image adds to the new one.

    Exactly-once: the same two layers as the MERGE sink — ordered
    batches under the checkpoint plus a batch_id stamp in the derived
    table's app metadata, so a replayed batch no-ops. Groups whose
    count reaches zero keep a row with n_rows=0 (MERGE is upsert-only;
    filter them on read or vacuum them with delete_where offline)."""
    from filesystemagent_spark.sources.txtable import TxTable

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = TxTable(derived_table)
        # walk past app-less maintenance commits (compact/restore): the
        # head's app alone would reset the stamp and double-apply a replay
        applied = t.latest_app_value("batch_id")
        if applied is not None and applied >= batch_id:
            return  # replayed batch: already applied
        sign = F.when(
            F.col("_change_type").isin("update_preimage", "delete"), F.lit(-1)
        ).otherwise(F.lit(1))
        delta = (
            batch_df.withColumn("_sign", sign)
            .groupBy(group_col)
            .agg(
                F.sum("_sign").alias("_dn"),
                F.sum(F.col("_sign") * F.col(value_col)).alias("_dv"),
            )
        )
        if t.latest_version() == 0:
            t.init(
                delta.select(
                    F.col(group_col),
                    F.col("_dn").alias("n_rows"),
                    F.col("_dv").alias("total"),
                ),
                app={"batch_id": batch_id},
            )
            return
        current = t.read(spark).select(group_col, "n_rows", "total")
        updates = (
            delta.join(current, group_col, "left")
            .select(
                F.col(group_col),
                (F.coalesce(F.col("n_rows"), F.lit(0)) + F.col("_dn")).alias(
                    "n_rows"
                ),
                (F.coalesce(F.col("total"), F.lit(0)) + F.col("_dv")).alias(
                    "total"
                ),
            )
        )
        t.merge_into(updates, [group_col], app={"batch_id": batch_id})

    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def start_incremental_join_sink(
    spark: SparkSession,
    source_table: str,
    right_df: DataFrame,
    derived_table: str,
    checkpoint: str,
    *,
    on: str,
    left_pk: str,
    right_pk: str,
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
):
    """Maintain a derived INNER EQUI-JOIN table  L ⋈ R  from L's
    CHANGE FEED — incremental view maintenance for joins, the
    continuous-pipeline shape where the joined view (documents ⋈
    metadata, events ⋈ dimension) must track a mutating fact table
    without rescanning it.

    Per micro-batch (one or more source commits):
      1. affected = the batch's distinct left primary keys — every
         image type counts (insert/upsert/update_preimage/delete)
      2. the derived table's slice for those keys dies via a
         MERGE-ON-READ key-list tombstone (delete_keys(affected,
         mode='mor') — the affected keys are staged as a PARQUET SIDE
         FILE the tombstone references, so they NEVER ride through the
         driver or the manifest; readers anti-join the covered files
         against it, the Iceberg equality-delete-file shape)
      3. the batch's POST-images (insert ∪ upsert) join R and merge
         back on (left_pk, right_pk)
    Join-key updates move partners correctly (old partners die with
    the pk slice, new ones come from the post-image join); deletes
    just die. R is read per batch — dimension semantics; for a
    mutating R, `start_bidirectional_join_sinks` runs this sink on
    both feeds with the roles swapped.

    Exactly-once: batch_id stamp in the derived table's app metadata
    (checked before step 2), carried by the batch's LAST commit — the
    merge when post-images exist, else the delete, else an app-only
    commit (a batch whose delete no-ops must still be recorded, or it
    replays forever) — so replays skip entirely; a crash between
    delete and merge re-runs both (the re-delete adds a
    redundant-but-harmless tombstone, then the merge lands and
    stamps). Scale: keys stay on the executors end to end — a 10^8-key
    backfill batch costs one side-file write plus the joins, with O(1)
    driver memory and a manifest that never grows with the key
    count."""
    from filesystemagent_spark.sources.txtable import _where_cond

    def read_right(prune):
        # a generic DataFrame can't stats-prune a manifest, but the
        # footprint filter still pushes down to whatever source backs
        # it (parquet row-group pruning) and shrinks the join input
        if prune is None:
            return right_df
        return right_df.filter(_where_cond(prune))

    apply_batch = _join_view_apply(
        derived_table, read_right, on=on, this_pk=left_pk,
        merge_keys=[left_pk, right_pk], stamp_key="batch_id",
        fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
    )
    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def _start_feed_sink(
    spark, source_table, checkpoint, apply_batch, *,
    available_now, max_versions_per_trigger,
):
    from filesystemagent_spark.sources.txchanges import register_txtable_changes

    register_txtable_changes(spark)
    stream = _change_feed_reader(
        spark, source_table, checkpoint, max_versions_per_trigger
    )
    return _start_batches(
        stream, apply_batch, checkpoint, available_now=available_now
    )


def _post_key_prune(post: DataFrame, on: str) -> list | None:
    """The batch's post-image join-key footprint as a predicate the
    OTHER side's read can prune with — `[(on, 'in', values)]` when the
    batch touches few keys, `[(on, '>=', lo), (on, '<=', hi)]` when
    wide (the true aggregated extremes, same discipline as
    _merge_probe), or None when the keys aren't orderable scalars
    (NaN/complex → no pruning, full read). Restricting the other side
    to this footprint is exact for the inner-join view: a row whose
    key no post-image carries cannot produce a joined row."""
    from filesystemagent_spark.sources.txtable import _merge_probe

    p = _merge_probe(post, [on])[on]
    if p is None:
        return None
    if p[0] == "empty":
        return [(on, "in", [])]  # no post-images: the join is empty
    if p[0] == "range":
        return [(on, ">=", p[1]), (on, "<=", p[2])]
    return [(on, "in", p[1])]


def _batch_images(batch_df: DataFrame, id_col: str):
    """The change-feed reduction every feed sink shares, so an
    image-ordering fix lands in one place. Returns (imgs, latest,
    before):

    - ``latest``  — each key's LAST image in the batch
      (update_preimage sorts before its version's post-image, so a
      version's own pre-image always loses);
    - ``before``  — each key's pre-batch state: its EARLIEST pre-state
      image (update_preimage/delete sort first within a version; a key
      first seen as insert/upsert did not exist before the batch) —
      the subtraction side for ledgers and df deltas.

    ``imgs`` is every image with the helper columns ``_rn_last`` and
    ``_rn_first`` (``latest`` and ``before`` carry them too). It is
    persisted through ``track_persist`` (both filters and any
    downstream build share one execution of the windows), so the
    batch's ``tracked_scope`` releases it."""
    from pyspark.sql import Window

    pri = F.when(
        F.col("_change_type") == "update_preimage", F.lit(0)
    ).otherwise(F.lit(1))
    w_last = Window.partitionBy(id_col).orderBy(
        F.col("_commit_version").desc(), pri.desc()
    )
    pre_pri = F.when(
        F.col("_change_type").isin("update_preimage", "delete"), F.lit(0)
    ).otherwise(F.lit(1))
    w_first = Window.partitionBy(id_col).orderBy(
        F.col("_commit_version").asc(), pre_pri.asc()
    )
    imgs = track_persist(
        batch_df.withColumn("_rn_last", F.row_number().over(w_last))
        .withColumn("_rn_first", F.row_number().over(w_first))
    )
    latest = imgs.filter(F.col("_rn_last") == 1)
    before = imgs.filter(
        (F.col("_rn_first") == 1)
        & F.col("_change_type").isin("update_preimage", "delete")
    )
    return imgs, latest, before


def _apply_index_batch(
    t,
    spark,
    *,
    batch_id: int,
    stamp_key: str,
    latest: DataFrame,
    id_col: str,
    new_rows: DataFrame,
    merge_keys: list[str],
    app_extra: dict | None = None,
    app_extra_init: dict | None = None,
    has_new: bool | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
    maintain_every: int | None = None,
    maintain_keep_last: int = 8,
    maintain_retention_seconds: float = 600.0,
) -> None:
    """The init / tombstone+merge / fold tail every single-table index
    sink shares, with the last-commit-carries-stamp discipline: the
    batch's LAST commit carries {stamp_key: batch_id} (+ app_extra) —
    the merge when new rows exist, else the delete (delete_keys falls
    back to an app-only commit when its stats prove the delete a
    no-op). ``app_extra_init`` overrides the extras on the init path
    (e.g. the IVF drift ledger's baseline snapshot); ``has_new`` lets
    a caller that already counted the new rows (a ledger agg) skip
    the extra isEmpty action. ``maintain_every`` paces long-horizon
    retention (see `_maybe_pace_retention`)."""
    from filesystemagent_spark.sources.txtable import TxTable  # noqa: F401

    if t.latest_version() == 0:
        t.init(
            new_rows,
            app={stamp_key: batch_id, **(app_extra_init or app_extra or {})},
        )
        return
    app = {stamp_key: batch_id, **(app_extra or {})}
    if has_new is None:
        has_new = not new_rows.isEmpty()
    t.delete_keys(
        latest.select(id_col), [id_col], mode="mor",
        app=None if has_new else app,
    )
    if has_new:
        t.merge_into(new_rows, merge_keys, app=app)
    # delete-only runs stack MoR tombstones; fold under the shared
    # policy (measured without it: depth 6 / covered_frac 1.0)
    _maybe_fold_tombstones(t, spark, fold_depth, fold_covered_frac)
    _maybe_pace_retention(
        t, spark, batch_id, every=maintain_every,
        keep_last=maintain_keep_last,
        retention_seconds=maintain_retention_seconds,
    )


def _ledger_continuation(t, keys: tuple[str, ...], build) -> dict:
    """The pre-ledger guard the drift-ledger sinks share: continuation
    extras need a baseline to adjust from — on a table whose app
    metadata lacks ANY ledger key (built by an older sink, or by
    hand), seeding the running sums from zero would fabricate a
    valid-LOOKING ledger off a wrong base, so the extras are skipped
    entirely and the drift-info reader keeps raising its honest 'no
    drift ledger' error. ``build(prev)`` returns the extras dict given
    the previous app values."""
    prev = t.latest_app_values(keys)  # one manifest walk, not len(keys)
    if t.latest_version() > 0 and any(v is None for v in prev.values()):
        return {}
    return build(prev)


def _maybe_pace_retention(
    t,
    spark,
    batch_id: int,
    *,
    every: int | None,
    keep_last: int = 8,
    small_file_bytes: int = 8 << 20,
    target_bytes: int = 64 << 20,
    retention_seconds: float = 600.0,
) -> None:
    """Long-horizon retention pacing for a continuous sink loop
    (measured in scripts/exp_sink_longevity.py): every
    applying micro-batch is 1–3 TxTable commits plus
    O(shuffle-partitions) small staged files, so an UNPACED loop
    accretes ~8 files/batch forever and a commit log that grew to
    ~5 MB by batch 150 at sf0.01 — per-batch drain time stays flat
    (file-granular merges skip untouched files) but the manifest
    chain, file census, and disk footprint all trend up unbounded.

    Every ``every`` applied batches: bounded BIN-PACK compaction
    (cost proportional to the small-file TAIL — the accretion product
    — never the table; the no-op guard keeps an idle loop from
    burning versions), then version expiry and vacuum. The sink is
    its index table's only WRITER (retrains run between drains) and
    the exactly-once stamp lives in the newest commits so
    ``keep_last`` ≥ 4 always preserves it — but READERS are not
    serialized with the sink: a serving query binds a version's
    concrete file paths and scans them while batches keep landing, so
    expiry and vacuum both carry ``retention_seconds`` (review
    finding) — a version must be BOTH beyond keep_last AND older than
    the window to expire, and vacuum skips recently-touched dirs —
    bounding any in-flight reader's exposure to queries longer than
    the window (pass 0 only where no concurrent reader can exist:
    tests, offline maintenance). Bin-packing does NOT re-cluster —
    packed files span wider key ranges than the sink's staged layout,
    so a probe-heavy index (cells/codes/band tables) should still get
    a RARE full re-clustering compact through the maintenance CLI;
    this hook is the frequent cheap tier."""
    if every is None or every <= 0 or (batch_id + 1) % every:
        return
    t.compact(
        spark, small_file_bytes=small_file_bytes, target_bytes=target_bytes
    )
    t.expire_versions(
        keep_last=max(4, keep_last), older_than_seconds=retention_seconds
    )
    t.vacuum(grace_seconds=retention_seconds)


def _maybe_fold_tombstones(
    t, spark, fold_depth: int, fold_covered_frac: float
) -> None:
    """The MoR tombstone-materialization policy every feed-driven sink
    shares (SCALE.md-measured thresholds: fold when depth > 4 OR
    covered_frac > 0.5). Post-image batches USUALLY self-materialize —
    the merge rewrites the covered files, pruning the tombstone — but
    DELETE-ONLY batches stack plainly (measured: six delete-only
    batches left the BM25 postings at depth 6 with covered_frac 1.0
    — every read paying six anti-joins over every
    file), and a MIXED batch that deletes key A while upserting key B
    leaves A's files covered. So the check runs after EVERY applying
    batch, on BOTH thresholds. Layout-only commit: feed-transparent,
    and exactly-once stamps are unaffected (latest_app_value walks
    past it)."""
    info = t.tombstone_info()
    if info["depth"] > fold_depth or info["covered_frac"] > fold_covered_frac:
        t.materialize_tombstones(spark)


def _join_view_apply(
    derived_table: str,
    other_df_fn,
    *,
    on: str,
    this_pk: str,
    merge_keys: list[str],
    stamp_key: str,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
):
    """The per-batch join-view maintenance step, parameterized over
    which side's feed drives it: dedup the batch to each key's latest
    image, kill the derived slice for the affected keys via a
    file-backed MoR key tombstone, join the post-images against the
    OTHER side and merge back. `other_df_fn(prune)` returns the other
    side restricted AT LEAST to the post-images' join-key footprint
    when `prune` (a txtable where-conjunction) is given — at 100 TB
    the per-batch full dimension scan is the dominant cost, so the
    TxTable-backed legs stats-prune their file list with it and a
    generic DataFrame applies it as a pushdown-able filter; prune=None
    means the footprint wasn't provable and the full read is required.
    `stamp_key` isolates the exactly-once stamp per feed so two legs
    maintaining the same view never clobber each other's replay
    detection. `fold_depth` / `fold_covered_frac` are the
    tombstone-materialization policy thresholds (defaults = the
    SCALE.md-measured CLI policy: fold when depth > 4 OR covered_frac
    > 0.5).

    An EMPTY micro-batch (availableNow drains emit one when the feed
    has nothing new) returns without writing a stamp — deliberately:
    stamping would cost a commit per idle tick, and replaying an empty
    batch is an idempotent no-op, so the 'last commit carries the
    stamp' discipline only needs to hold for batches that commit
    anything at all."""
    from filesystemagent_spark.sources.txtable import CommitConflict, TxTable

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = TxTable(derived_table)
        applied = t.latest_app_value(stamp_key)
        if applied is not None and applied >= batch_id:
            return  # replayed batch: already applied
        # One batch can span several source COMMITS (the feed source
        # batches by admission, and availableNow drains fall back to a
        # single batch): only each key's LATEST image may contribute —
        # an earlier version's insert for a since-updated or
        # since-deleted key is superseded, and a version's own
        # update_preimage always loses to its post-image.
        latest = _batch_images(batch_df, this_pk)[1]
        if latest.isEmpty():
            return
        post = latest.filter(
            F.col("_change_type").isin("insert", "upsert")
        ).drop("_rn_last", "_rn_first", "_change_type", "_commit_version")
        # persisted so the isEmpty probe and the merge share ONE
        # execution of the post-image ⋈ other-side join per batch;
        # the other side reads ONLY the files the batch's join-key
        # footprint can touch (prune derived from the persisted
        # post-images — one tiny distinct/agg job per batch)
        new_rows = track_persist(
            post.join(other_df_fn(_post_key_prune(post, on)), on)
        )
        if t.latest_version() == 0:
            try:
                t.init(new_rows, app={stamp_key: batch_id})
                return
            except CommitConflict:
                pass  # the other leg initialized concurrently
        has_new = not new_rows.isEmpty()
        # the batch's LAST commit carries the stamp: a delete-only
        # batch would otherwise never stamp (the empty merge no-ops)
        # and every replay would add a redundant tombstone;
        # delete_keys itself falls back to an app-only commit when its
        # stats prove the delete a no-op, so the stamp lands exactly
        # once on every path
        t.delete_keys(
            latest.select(this_pk), [this_pk], mode="mor",
            app=None if has_new else {stamp_key: batch_id},
        )
        if has_new:
            t.merge_into(new_rows, merge_keys, app={stamp_key: batch_id})
        _maybe_fold_tombstones(
            t, batch_df.sparkSession, fold_depth, fold_covered_frac
        )

    return apply_batch


def start_bidirectional_join_sinks(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    derived_table: str,
    checkpoint_left: str,
    checkpoint_right: str,
    *,
    on: str,
    left_pk: str,
    right_pk: str,
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
):
    """Maintain  L ⋈ R  when BOTH sides mutate: two feed-driven sinks
    over the same derived table — L's feed kills/rebuilds the
    `left_pk` slice joining post-images against R's CURRENT snapshot;
    R's feed does the symmetric thing on `right_pk` against L's
    current snapshot. Returns (left_query, right_query).

    Consistency model (drain consistency): a drain that runs after
    DML has COMMITTED on both sides converges the view to the exact
    one-shot join of the two final snapshots —
      - a key touched on one side only is rebuilt by that side's leg
        against the other side's (unchanged) snapshot;
      - a key pair touched on BOTH sides is rebuilt by both legs,
        each computing against the other's final snapshot, and the
        (left_pk, right_pk)-keyed merge makes the double write
        idempotent;
      - concurrent drains serialize through the derived table's CAS
        (merge/delete retry on conflict, re-reading the fresh
        snapshot), so neither leg's commit is lost.
    Mid-drain mutation of the opposite side can leave a stale joined
    row until that side's own leg drains — run the legs until both
    feeds are fully consumed (availableNow drains of committed DML
    always are).

    Exactly-once per feed: the legs stamp DISTINCT app keys
    (batch_id_l / batch_id_r), and `latest_app_value` walks past the
    other leg's commits, so interleaved or concurrent batches from
    both feeds never confuse each other's replay detection."""
    from filesystemagent_spark.sources.txtable import TxTable

    # each leg stats-prunes the OTHER side's file list to the batch's
    # join-key footprint (read(where=...) drops files whose min/max
    # stats prove no overlap) — a batch touching one key range of a
    # clustered table reads only that range's files instead of the
    # full snapshot, the difference between O(batch) and O(table) per
    # micro-batch at 100 TB; prune=None falls back to the full read
    left_leg = _join_view_apply(
        derived_table,
        lambda prune: TxTable(right_table).read(spark, where=prune),
        on=on, this_pk=left_pk,
        merge_keys=[left_pk, right_pk], stamp_key="batch_id_l",
        fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
    )
    right_leg = _join_view_apply(
        derived_table,
        lambda prune: TxTable(left_table).read(spark, where=prune),
        on=on, this_pk=right_pk,
        merge_keys=[left_pk, right_pk], stamp_key="batch_id_r",
        fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
    )
    ql = _start_feed_sink(
        spark, left_table, checkpoint_left, left_leg,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )
    qr = _start_feed_sink(
        spark, right_table, checkpoint_right, right_leg,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )
    return ql, qr
