"""Stored inverted index for lexical retrieval (BM25 over TxTable).

The 100 TB retrieval shape: tokenize the corpus ONCE into a posting
table (term, doc_id, tf, dl) plus a per-term document-frequency table,
persist both in the transactional table format, and answer every
query from the index — the corpus text is never rescanned. This is
the lexical mirror of the incremental-dedup story
(operators/dedup.minhash_band_index): a derived, storable,
incrementally-maintainable artifact replaces recomputation.

Scale shape of the query path: ONE stats-pruned
`TxTable.read(where=[("term", "in", terms)])` per index table — the
postings are written range-partitioned and sorted on term, so the
manifest's per-file min/max prunes non-matching files BEFORE Spark
plans the scan (and parquet row-group stats prune inside the
survivors). A T-term query is 2 Spark jobs, not ~2T. Nothing in the
query path is proportional to corpus size except the postings
actually read.

Exact-float contract: the per-(term, doc) BM25 part is computed
row-locally with the same IEEE expression as the full-scan scorer
(queries/documents._bm25_scored), and parts combine in FIXED term
order (a pivot + literal-ordered addition, NOT a grouped float sum,
whose order is nondeterministic at 3+ terms) — so index-answered
scores are bit-identical to the full scan and the same DuckDB oracle
replays them.

Reference parity: the reference greps files per query
(/root/reference/src — content search is a full scan per call); an
inverted index is what that becomes at engine scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope
from filesystemagent_spark.sources.txtable import TxTable


def build_bm25_index(
    docs: DataFrame,
    index_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_term_partitions: int = 8,
) -> tuple[TxTable, TxTable]:
    """Tokenize once and persist (postings, term_df) TxTables under
    `index_dir`. Postings are range-partitioned AND sorted on term so
    every file covers a tight term range (manifest stats skipping does
    the rest at query time). Corpus scalars (n_docs, avgdl) ride the
    postings table's app metadata — they are the model, two doubles.
    Returns the two opened tables."""
    from filesystemagent_spark.functions import text as T

    post_t = TxTable(os.path.join(index_dir, "postings"))
    with tracked_scope():
        # persisted: the scalars agg AND the postings write both consume
        # it — without the persist the tokenizer (the dominant cost of
        # an index build) runs over the whole corpus twice
        toks = track_persist(
            docs.select(
                F.col(id_col).alias("doc_id"),
                T.tokens(F.col(text_col)).alias("tk"),
            )
        )
        scalars = toks.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.avg(F.size("tk").cast("double")).alias("avgdl"),
        ).collect()[0]
        postings = (
            toks.select(
                "doc_id",
                F.size("tk").cast("double").alias("dl"),
                F.explode("tk").alias("term"),
            )
            .groupBy("term", "doc_id", "dl")
            .agg(F.count("*").cast("double").alias("tf"))
            .repartitionByRange(n_term_partitions, "term")
            .sortWithinPartitions("term", "doc_id")
        )
        post_t.init(
            postings,
            app={
                "n_docs": float(scalars["n_docs"]),
                "avgdl": float(scalars["avgdl"]),
            },
        )
    # df(term) = posting rows per term (postings are (term, doc) grain)
    term_t = TxTable(os.path.join(index_dir, "terms"))
    term_t.init(
        post_t.read(docs.sparkSession)
        .groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .repartitionByRange(n_term_partitions, "term")
        .sortWithinPartitions("term")
    )
    return post_t, term_t


def start_bm25_index_sink(
    spark: SparkSession,
    source_table: str,
    index_dir: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    n_term_partitions: int = 8,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
    maintain_every: int | None = None,
    maintain_retention_seconds: float = 600.0,
):
    """INCREMENTAL index maintenance from the source corpus's CHANGE
    FEED — the continuous-ingest twin of `build_bm25_index`,
    completing the 'derived artifact replaces recomputation' story:
    documents merge/update/delete in the source TxTable and the
    (postings, terms) index tracks them WITHOUT ever rescanning the
    corpus or the index itself.

    The trick that keeps it index-scan-free: document-frequency and
    corpus-scalar deltas come entirely from the feed's images. Per
    micro-batch, each touched doc contributes its BEFORE state (its
    earliest update_preimage/delete image — the reason pre-images
    exist) as negative term counts and its AFTER state (latest
    insert/upsert image) as positive ones:

      postings: delete_keys(touched doc_ids, mode='mor')  — the
                file-backed key tombstone — then merge the AFTER
                postings;  (term, doc_id) grain
      terms:    df' = df − |{before docs ∋ term}| + |{after docs ∋
                term}|, merged with a term-footprint-pruned read of
                the old rows (rows reaching df=0 stay, like the agg
                sink's zero-count groups);
      scalars:  n_docs / total_dl adjust by the same before/after
                counts and ride the postings commit's app metadata
                (avgdl = total_dl / n_docs, recorded too so
                `bm25_from_index` keeps working unchanged).

    Exactly-once: the two tables stamp INDEPENDENTLY (same
    `bm25_batch_id` key, each checked before writing), so a crash
    between the postings and terms commits replays only the missing
    half; a replayed delete adds a redundant-but-harmless tombstone
    (the `_join_view_apply` discipline). Empty batches return
    unstamped — idempotent no-ops. Query-path scores from the
    maintained index are bit-identical to a fresh full build over the
    final corpus (pinned by tests/test_training_queries.py and the
    `doc_bm25_incremental_index` oracle). The postings
    table's MoR tombstones fold under the shared sink policy
    (`fold_depth`/`fold_covered_frac`) — delete-only runs otherwise
    stack one anti-join per batch over every covered read."""
    from filesystemagent_spark.functions import text as T
    from filesystemagent_spark.sources.txtable import _merge_probe
    from filesystemagent_spark.streaming.sinks import (
        _batch_images,
        _maybe_fold_tombstones,
        _maybe_pace_retention,
        _start_feed_sink,
    )

    post_path = os.path.join(index_dir, "postings")
    term_path = os.path.join(index_dir, "terms")
    STAMP = "bm25_batch_id"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        post_t, term_t = TxTable(post_path), TxTable(term_path)
        # ONE manifest walk per table per batch (guide §7.3): the stamp
        # and the running corpus scalars resolve together instead of
        # three separate O(versions) walks on the postings table.
        pa = post_t.latest_app_values((STAMP, "n_docs", "total_dl"))
        ap = pa[STAMP]
        at = term_t.latest_app_value(STAMP)
        done_p = ap is not None and ap >= batch_id
        done_t = at is not None and at >= batch_id
        if done_p and done_t:
            return  # fully replayed batch
        # the shared change-feed reduction (streaming/sinks); this sink
        # keeps its own two-table tail — the postings and terms halves
        # stamp independently, which _apply_index_batch can't express
        _, latest_imgs, before_imgs = _batch_images(batch_df, id_col)
        tokenized = lambda df: track_persist(  # noqa: E731
            df.select(
                F.col(id_col).alias("doc_id"),
                T.tokens(F.col(text_col)).alias("tk"),
            )
        )
        before = tokenized(before_imgs)
        after = tokenized(
            latest_imgs.filter(F.col("_change_type").isin("insert", "upsert"))
        )
        # ONE driver action for all four batch scalars (guide §7.3:
        # fixed per-action scheduling cost dominates KB-scale
        # micro-batches): conditional aggregation over the union of
        # the two cached image sets replaces two separate agg jobs —
        # and populates both caches for the builds below.
        side = lambda s, col: F.when(F.col("_side") == s, col)  # noqa: E731
        b_n, b_dl, a_n, a_dl = (
            before.withColumn("_side", F.lit(0))
            .unionByName(after.withColumn("_side", F.lit(1)))
            .agg(
                F.count(side(0, F.lit(1))),
                F.coalesce(F.sum(side(0, F.size("tk"))), F.lit(0)),
                F.count(side(1, F.lit(1))),
                F.coalesce(F.sum(side(1, F.size("tk"))), F.lit(0)),
            )
            .first()
        )
        if a_n == 0 and b_n == 0:
            return  # empty batch: idempotent no-op, unstamped
        if not done_p:
            new_post = (
                after.select(
                    "doc_id",
                    F.size("tk").cast("double").alias("dl"),
                    F.explode("tk").alias("term"),
                )
                .groupBy("term", "doc_id", "dl")
                .agg(F.count("*").cast("double").alias("tf"))
                .repartitionByRange(n_term_partitions, "term")
                .sortWithinPartitions("term", "doc_id")
            )
            if post_t.latest_version() == 0:
                post_t.init(
                    new_post,
                    app={
                        "n_docs": float(a_n),
                        "total_dl": float(a_dl),
                        "avgdl": float(a_dl) / a_n if a_n else 0.0,
                        STAMP: batch_id,
                    },
                )
            else:
                n0 = float(pa["n_docs"] or 0.0)
                tdl0 = float(pa["total_dl"] or 0.0)
                n1 = n0 + a_n - b_n
                tdl1 = tdl0 + float(a_dl) - float(b_dl)
                scalars = {
                    "n_docs": n1,
                    "total_dl": tdl1,
                    "avgdl": (tdl1 / n1) if n1 else 0.0,
                    STAMP: batch_id,
                }
                touched = before.select("doc_id").unionByName(
                    after.select("doc_id")
                )
                post_t.delete_keys(touched, ["doc_id"], mode="mor")
                # a_n already counted the after set — no isEmpty job
                if a_n == 0:
                    post_t.commit_app(scalars)
                else:
                    post_t.merge_into(
                        new_post, ["term", "doc_id"], app=scalars
                    )
                _maybe_fold_tombstones(
                    post_t, spark, fold_depth, fold_covered_frac
                )
        if not done_t:
            per_term = lambda df, sign: (  # noqa: E731
                df.select(F.explode(F.array_distinct("tk")).alias("term"))
                .groupBy("term")
                .agg((F.count("*") * sign).cast("double").alias("_delta"))
            )
            delta = (
                per_term(after, 1)
                .unionByName(per_term(before, -1))
                .groupBy("term")
                .agg(F.sum("_delta").alias("_delta"))
                # a term present in both images of an update nets
                # to zero — rewriting its row would be correct but
                # pure churn (most of an update batch's vocabulary)
                .filter(F.col("_delta") != 0)
            )
            if term_t.latest_version() == 0:
                term_t.init(
                    delta.select("term", F.col("_delta").alias("df"))
                    .repartitionByRange(n_term_partitions, "term")
                    .sortWithinPartitions("term"),
                    app={STAMP: batch_id},
                )
            elif (p := _merge_probe(delta, ["term"])["term"]) == ("empty",):
                # the probe (needed below anyway) doubles as the
                # emptiness check — one driver action, not two. No
                # net df change (an update that kept every term's
                # presence) — merge_into's empty no-op would skip
                # the app, so stamp explicitly: the 'last commit
                # carries the stamp' discipline
                term_t.commit_app({STAMP: batch_id})
            else:
                # footprint-pruned read of the old rows: the batch
                # vocabulary bounds the slice (vals probe when
                # narrow, min/max range when wide)
                where = (
                    None
                    if p is None
                    else [("term", "in", p[1])]
                    if p[0] == "vals"
                    else [("term", ">=", p[1]), ("term", "<=", p[2])]
                    if p[0] == "range"
                    else [("term", "in", [])]
                )
                current = term_t.read(spark, where=where).select(
                    "term", "df"
                )
                updates = delta.join(current, "term", "left").select(
                    "term",
                    (
                        F.coalesce(F.col("df"), F.lit(0.0))
                        + F.col("_delta")
                    ).alias("df"),
                )
                term_t.merge_into(updates, ["term"], app={STAMP: batch_id})
        # long-horizon retention pacing, both tables (see
        # streaming/sinks._maybe_pace_retention; n_docs/total_dl
        # scalars survive — latest_app_value walks past
        # maintenance commits)
        _maybe_pace_retention(
            post_t, spark, batch_id, every=maintain_every,
            retention_seconds=maintain_retention_seconds,
        )
        _maybe_pace_retention(
            term_t, spark, batch_id, every=maintain_every,
            retention_seconds=maintain_retention_seconds,
        )

    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def bm25_from_index(
    spark: SparkSession,
    index_dir: str,
    terms: tuple[str, ...],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Answer a BM25 top-k from the stored index: ONE stats-pruned read
    per table — `("term", "in", terms)` reaches the manifest's per-file
    min/max before Spark plans either scan, so only the files whose term
    range intersects the query vocabulary are scanned (and parquet
    row-group stats prune inside the survivors). Per-term frequencies
    come back in the same single `terms` scan and fold driver-side; the
    per-(term, doc) part is computed row-locally, parts pivoted and
    added in FIXED term order (bit-identical to the full-scan scorer).
    The corpus text is never touched, and a T-term query is 2 Spark
    jobs, not ~2T (one read + one collect per term would be)."""
    post_t = TxTable(os.path.join(index_dir, "postings"))
    term_t = TxTable(os.path.join(index_dir, "terms"))
    # corpus scalars ride commit app metadata; maintenance commits that
    # don't refresh them (compact, vacuum-era merges) publish their own
    # app, so walk back to the newest commit that carries them
    scal = post_t.latest_app_values(("n_docs", "avgdl"))  # one walk
    n_docs_v, avgdl_v = scal["n_docs"], scal["avgdl"]
    if n_docs_v is None or avgdl_v is None:
        raise ValueError(f"no corpus scalars recorded in {index_dir}/postings")
    n_docs, avgdl = float(n_docs_v), float(avgdl_v)

    vocab = [("term", "in", list(terms))]
    dfs = {
        r["term"]: float(r["df"])
        for r in term_t.read(spark, where=vocab).collect()
    }
    matched = post_t.read(spark, where=vocab).select(
        "doc_id", "term", "tf", "dl"
    )

    def part_expr(i: int, t: str):
        df_t = dfs.get(t, 0.0)
        if df_t == 0.0:
            return F.lit(0.0)
        # ln through the JVM (F.log), not python's libm: the full-scan
        # scorer computes it JVM-side, and libm builds differ by ulps.
        # The argument is pre-folded driver-side with the exact IEEE op
        # sequence the scorer uses, so the ln input is bit-identical.
        idf = F.log(F.lit((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0))
        tfd = F.col(f"tf_{i}")
        return idf * (tfd * (k1 + 1.0)) / (
            tfd + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl))
        )

    # pivot columns are aliased by term INDEX, not term text: a term
    # containing '.', ' ', or '`' would otherwise break F.col parsing
    # (dots parse as struct access). The term→index map stays driver-side.
    pivoted = matched.groupBy("doc_id").agg(
        F.max("dl").alias("dl"),  # dl is per-doc constant
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0.0)
            ).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    score = None
    for i, t in enumerate(terms):  # FIXED order — matches the full scan's fold
        p = part_expr(i, t)
        score = p if score is None else score + p
    return (
        pivoted.select("doc_id", F.round(score, 6).alias("bm25"))
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )
