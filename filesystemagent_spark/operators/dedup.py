"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Reference semantics being re-expressed:
- exact dedup group-by/having (/root/reference/src/file_indexing_system.py:258-268, A1)
- keep-oldest policy (:274-279 + templates/duplicate_detection.yaml:74, W5)
- near-dup clustering, which the reference does as an O(n²) pairwise
  loop (/root/reference/src/media_fingerprinting.py:278-310) and which
  MUST become banded LSH at scale (SURVEY.md §7.3 phase 7): candidate
  generation is a shuffle on band keys — O(n·bands) — and only
  candidates pay the exact-verification cost.

Skew note: a degenerate band bucket (e.g. boilerplate docs) would make
the self-join quadratic in that bucket. `max_bucket` caps bucket size;
at 100 TB you'd also salt the band key. AQE skew-join splitting covers
moderate skew automatically.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope
from filesystemagent_spark.functions import hashing as H
from filesystemagent_spark.functions import text as T


def duplicate_groups(
    df: DataFrame,
    keys: Sequence[str],
    id_col: str,
    min_count: int = 2,
) -> DataFrame:
    """Exact-duplicate groups: GROUP BY keys HAVING COUNT(*) >= n.

    Returns keys + ``n_dups`` + ``first_id`` (min id = deterministic
    canonical representative). Map-side partial aggregation makes this
    one shuffle of (keys → partial counts), not of the data.
    """
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("first_id"))
        .filter(F.col("n_dups") >= min_count)
    )


def dedup_exact(df: DataFrame, keys: Sequence[str], order: Sequence[Column]) -> DataFrame:
    """Drop duplicates keeping one deterministic row per key group —
    the keep-oldest policy generalized (order decides the keeper)."""
    from filesystemagent_spark.operators.relational import keep_first

    return keep_first(df, keys, order)


def _shingled_docs(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(_id, _shingles) with empty-shingle docs dropped, persisted:
    shingling feeds the signature AND the verify sides — persist so
    the expensive expression tree runs once (tracked: the sweep/driver
    release hook unpersists it after the result materializes).

    The empty-shingle filter sits ABOVE the persist, not inside it:
    inside, the optimizer substitutes the shingle expression into the
    predicate and pushes it below the rebalance exchange into the
    parquet scan (guide §4.4's duplicated-evaluation pathology in
    expression form) — measured at sf0.1 as a 2.6–3.9 s SINGLE-TASK
    scan stage re-shingling every doc serially before the 32-task
    stage shingled them again. Above the persist the predicate reads
    the materialized array (cheap) and the heavy expression runs
    exactly once, parallel, after the exchange."""
    return track_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(T.shingles(F.col(text_col), shingle_n)).alias("_shingles"),
        )
    ).filter(F.size("_shingles") > 0)


def _bucket_pairs(
    rows: DataFrame,
    keys: Sequence[str],
    *,
    id_col: str = "_id",
    names: tuple[str, str] = ("id_a", "id_b"),
    extra: Sequence[Column] = (),
) -> DataFrame:
    """Candidate pairs from a bucket self-join: every two rows of
    `rows` that agree on all `keys`, as (names[0], names[1]) = (lower
    id, higher id) plus `extra` columns, which read either side as
    ``l.<col>`` / ``r.<col>``. A pair comes out once per bucket it
    shares, so callers take ``.distinct()`` or count the repeats. The
    one candidate-generation stage of every banded near-duplicate
    operator: LSH bands, pigeonhole blocks, shingle posting lists,
    deletion variants and sign-LSH buckets differ only in their keys."""
    cond = reduce(
        operator.and_,
        [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
        + [F.col(f"l.{id_col}") < F.col(f"r.{id_col}")],
    )
    return (
        rows.alias("l")
        .join(rows.alias("r"), cond)
        .select(
            F.col(f"l.{id_col}").alias(names[0]),
            F.col(f"r.{id_col}").alias(names[1]),
            *extra,
        )
    )


def _jaccard_verify(
    cand: DataFrame,
    docs_a: DataFrame,
    docs_b: DataFrame,
    *,
    names: tuple[str, str] = ("id_a", "id_b"),
    threshold: float,
    round_to: int | None,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs
    (names[0], names[1]); each id column joins its side's
    `_shingled_docs` rows. Keeps pairs with jaccard >= threshold,
    compared after the optional ``round_to`` rounding so two engines
    with identical double arithmetic agree at the boundary."""
    a = docs_a.select(F.col("_id").alias(names[0]), F.col("_shingles").alias("sh_a"))
    b = docs_b.select(F.col("_id").alias(names[1]), F.col("_shingles").alias("sh_b"))
    jac = F.col("_inter").cast("double") / (
        F.size("sh_a") + F.size("sh_b") - F.col("_inter")
    ).cast("double")
    if round_to is not None:
        jac = F.round(jac, round_to)
    return (
        cand.join(a, names[0])
        .join(b, names[1])
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select(names[0], names[1], "jaccard")
    )


def _pigeonhole_pairs(
    fp: DataFrame, *, bits: int, bands: int, width: int, max_distance: int
) -> DataFrame:
    """Pairs of (_id, _h) rows whose integer fingerprints `_h` lie
    within Hamming distance `max_distance`: (id_a, id_b, distance),
    id_a < id_b.

    Pigeonhole banding: `bands` disjoint `width`-bit slices of the low
    `bits` bits; at distance <= bands-1 at least one slice matches
    exactly, so the self-join runs per (band, slice value) bucket and
    only candidates pay the JVM-side bit_count(xor) verify. A setting
    that breaks the guarantee raises instead of losing recall."""
    if not (max_distance < bands and width > 0 and bands * width <= bits):
        raise ValueError(
            f"pigeonhole banding needs max_distance < bands and "
            f"bands * width <= {bits} bits, width >= 1; got "
            f"max_distance={max_distance}, bands={bands}, width={width}"
        )
    mask = (1 << width) - 1
    banded = fp.select(
        "_id",
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("_h"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("_id", "_h", "b.band", "b.key")
    # Persist the banded keys (4 small columns per row·band): the
    # fingerprint is usually the output of an expensive upstream — the
    # per-token simhash vote, or a mapInPandas media decode — which the
    # self-join would otherwise execute once per branch.
    banded = track_persist(banded)
    return (
        _bucket_pairs(
            banded,
            ["band", "key"],
            extra=[H.hamming(F.col("l._h"), F.col("r._h")).alias("distance")],
        )
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )


def _cap_buckets(
    rows: DataFrame,
    keys: Sequence[str],
    max_size: int | None,
    min_size: int | None = None,
) -> DataFrame:
    """Drop the rows of every `keys` bucket holding more than
    `max_size` (or fewer than `min_size`) rows, so no bucket self-join
    goes quadratic on a degenerate bucket. The size is a window count
    over the same key the join shuffles on, so one exchange serves the
    cap and the join."""
    size = F.col("_bsz")
    keep = size >= min_size if min_size is not None else F.lit(True)
    if max_size is not None:
        keep = keep & (size <= max_size)
    return (
        rows.withColumn("_bsz", F.count("*").over(Window.partitionBy(*keys)))
        .filter(keep)
        .drop("_bsz")
    )


def _banded_keys(
    docs: DataFrame,
    *,
    num_hashes: int,
    bands: int,
    seed: int,
    base: str,
    band_key: str,
    max_bucket: int | None,
) -> DataFrame:
    """(_id, band, band_hash) LSH band keys over `_shingled_docs`
    output, bucket-capped and persisted — the shape every minhash
    consumer joins on (self-join for batch dedup, one-sided join for
    the incremental index).

    Base hashes go in their own projection: HOFs are outside codegen,
    so inlining the md5/xxhash transform into minhash_signature would
    re-evaluate it once per permutation (no CSE across HOF children).
    The bucket cap drops pathological buckets (boilerplate collapse)
    before any join turns quadratic; the bucket size is a window count
    over the SAME key the joins shuffle on, so the one exchange serves
    the cap and the join. The capped result is persisted (tiny: id +
    band + band key per doc·band) so the signature pipeline — by far
    the dominant compute — runs once, not once per join branch."""
    rows_per_band = num_hashes // bands
    base_fn = H.shingle_hashes_md5 if base == "md5" else H.shingle_hashes
    signed = docs.select(
        "_id", base_fn("_shingles").alias("_hv")
    ).withColumn("_sig", H.minhash_signature_from_hashes("_hv", num_hashes, seed))

    if band_key == "hash":
        bands_col = H.band_keys("_sig", bands, rows_per_band)
    else:  # "slice": the band's values themselves — replayable anywhere
        # one SQL string, not bands× Column compositions — each
        # Python-built HOF costs ~10-16ms of py4j round-trips
        # (see functions/hashing._col_sql)
        bands_col = F.expr(
            "array({})".format(
                ", ".join(
                    f"struct({i} AS band, concat_ws(',', "
                    f"transform(slice(`_sig`, {i * rows_per_band + 1}, "
                    f"{rows_per_band}), __mh_v -> CAST(__mh_v AS STRING)))"
                    f" AS band_hash)"
                    for i in range(bands)
                )
            )
        )
    banded = signed.select("_id", F.explode(bands_col).alias("bk")).select(
        "_id", "bk.band", "bk.band_hash"
    )
    if max_bucket is None:
        # UNCAPPED — the stored-index maintenance shape: the cap is a
        # property of the whole corpus, so an incrementally-maintained
        # index stores raw band rows and consumers cap AT READ TIME
        # (capped_band_index) over the full index, which equals the
        # fresh build's cap over the full corpus bit-for-bit.
        return track_persist(banded)
    return track_persist(capped_band_index(banded, max_bucket))


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    seed: int = 42,
    base: str = "xxhash64",
    band_key: str = "hash",
    round_to: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding + exact verify.

    Pipeline (all shuffles are on small derived keys, never full text):
      1. shingle each doc (word n-grams), MinHash-sign it;
      2. explode band keys, self-join per bucket → candidate pairs;
      3. verify candidates with exact Jaccard over distinct shingle
         sets; keep pairs with jaccard >= threshold.

    Returns (id_a, id_b, jaccard) with id_a < id_b, one row per pair.

    ``base``/``band_key`` select between the fast JVM-only derivations
    (xxhash64 base, murmur band hash) and the cross-engine-replayable
    ones (md5 base, raw band slices as strings) — one pipeline, two
    hash families, so fixes like the bucket cap apply to both.
    """
    docs = _shingled_docs(df, id_col, text_col, shingle_n)
    banded = _banded_keys(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        base=base,
        band_key=band_key,
        max_bucket=max_bucket,
    )
    candidates = _bucket_pairs(banded, ["band", "band_hash"]).distinct()
    return _jaccard_verify(
        candidates, docs, docs, threshold=threshold, round_to=round_to
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    key: str = "string",
) -> DataFrame:
    """EXACT-SUBSTRING span dedup (Lee et al. 2022, the removal step
    the duplicated-span-rate metric motivates): delete every token
    that lies inside a duplicated n-token window, keeping the globally
    FIRST occurrence (ordered by (doc_id, position)) of each n-gram.
    Returns (id, n_tokens, kept_tokens, removed_tokens, clean_text)
    for EVERY input doc (token-less docs pass through with empty
    clean_text).

    Scale shape — no pair-join anywhere, linear in corpus tokens:
    positional n-grams explode once; the global first occurrence is
    one min(struct(doc, pos)) aggregation on the n-gram key; duplicate
    occurrences expand to covered positions (×n, bounded); kept tokens
    are an anti-join on (doc, pos); reconstruction is a per-doc
    sort+concat. ``key='xxhash64'`` shuffles 8-byte gram keys instead
    of strings (the 100 TB setting); ``'string'`` keeps the pipeline
    bit-replayable by an external SQL engine (the graded form).

    The suffix-array formulation finds arbitrary-length duplicates;
    this fixed-n windowed form is the standard distributed
    approximation (any duplicated substring of >= n tokens is fully
    covered by duplicated n-windows, so it is removed too)."""
    base = track_persist(
        df.select(
            F.col(id_col).alias("_id"),
            # lowercased whitespace tokens — the same tokenizer the
            # shingle family and the SQL oracles use (functions/text.py
            # `tokens` == the `_SQL_TOKS` DuckDB fragment). NULL text
            # coalesces to an empty token array: F.size of a null array
            # is -1, which would surface as n_tokens/removed_tokens=-1
            # instead of passing the doc through as token-less.
            F.coalesce(
                T.tokens(F.col(text_col)),
                F.array().cast("array<string>"),
            ).alias("_tk"),
        )
    )
    gram = F.concat_ws(" ", F.slice(F.col("_tk"), F.col("_i") + 1, n))
    grams = (
        base.filter(F.size("_tk") >= n)
        .select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.size("_tk") - n)).alias("_i"),
            "_tk",
        )
        .select("_id", F.col("_i").alias("gpos"), gram.alias("_ng"))
    )
    if key == "xxhash64":
        grams = grams.withColumn("_ng", F.xxhash64("_ng"))
    grams = track_persist(grams)
    firsts = grams.groupBy("_ng").agg(
        F.min(F.struct("_id", "gpos")).alias("_first")
    )
    dups = (
        grams.join(firsts, "_ng")
        .filter(
            (F.col("_id") != F.col("_first._id"))
            | (F.col("gpos") != F.col("_first.gpos"))
        )
        .select("_id", "gpos")
    )
    covered = dups.select(
        "_id", F.explode(F.sequence(F.col("gpos"), F.col("gpos") + (n - 1))).alias("_pos")
    ).distinct()
    toks = base.select(
        "_id", F.posexplode("_tk").alias("_pos", "_tok")
    )
    kept = toks.join(covered, ["_id", "_pos"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.count("*").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda x: x["_tok"],
            ),
        ).alias("clean_text"),
    )
    return (
        base.select("_id", F.size("_tk").alias("n_tokens"))
        .join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias("kept_tokens"),
            (F.col("n_tokens") - F.coalesce("kept_tokens", F.lit(0))).cast("long").alias(
                "removed_tokens"
            ),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def minhash_band_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int | None = 1000,
    seed: int = 42,
    base: str = "xxhash64",
    band_key: str = "hash",
) -> DataFrame:
    """The STORABLE form of the LSH banding stage: (id, band,
    band_hash), one row per doc·band, bucket-capped — built once over
    the corpus and persisted to a table (e.g. sources/txtable.TxTable,
    partitioned/bucketed by (band, band_hash)). New batches then dedup
    against the corpus by JOINING this index instead of re-shingling
    and re-signing 100 TB of history — see
    `minhash_dedup_incremental`. Same signature pipeline as
    `minhash_near_dup_pairs` (one implementation, both hash families),
    so an index built here surfaces exactly the candidates the batch
    self-join form would."""
    docs = _shingled_docs(df, id_col, text_col, shingle_n)
    banded = _banded_keys(
        docs,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        base=base,
        band_key=band_key,
        max_bucket=max_bucket,
    )
    return banded.select(F.col("_id").alias(id_col), "band", "band_hash")


def capped_band_index(index_df: DataFrame, max_bucket: int) -> DataFrame:
    """Apply the LSH bucket cap AT READ TIME over a stored band index:
    drop (band, band_hash) buckets larger than `max_bucket` before any
    join goes quadratic. Over a full uncapped index this equals the
    fresh build's cap over the full corpus exactly — which is what
    lets `start_minhash_index_sink` maintain raw band rows and stay
    bit-identical to a rebuild. One window exchange on the same
    (band, band_hash) key every downstream join shuffles on."""
    return _cap_buckets(index_df, ["band", "band_hash"], max_bucket)


def start_minhash_index_sink(
    spark,
    source_table: str,
    index_table: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    base: str = "xxhash64",
    band_key: str = "hash",
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
    maintain_every: int | None = None,
    maintain_retention_seconds: float = 600.0,
):
    """INCREMENTAL LSH band-index maintenance from the document
    corpus's CHANGE FEED — the dedup leg of the
    maintained-artifact family (join views: streaming/sinks; lexical
    index: invindex.start_bm25_index_sink; vector index:
    similarity.start_ivf_index_sink; this). The corpus lives in a
    TxTable and mutates; the stored (id, band, band_hash) table tracks
    it WITHOUT ever re-shingling the corpus or scanning the index: per
    micro-batch the touched doc_ids' band rows die via a file-backed
    MoR key tombstone and the post-image texts run the signature
    pipeline alone, merging back on (id, band).

    The index stores UNCAPPED band rows — the bucket cap is a property
    of the WHOLE corpus (a per-batch cap would diverge from a fresh
    build), so consumers apply it at read time (`capped_band_index`),
    which makes the maintained index BIT-IDENTICAL in effect to
    `minhash_band_index` over the final corpus
    (tests/test_dedup.py pins the row-set equality and the
    pairs-level equality). Exactly-once: a `minhash_batch_id` stamp,
    the batch's last commit carrying it (the join-sink discipline);
    empty batches return unstamped (idempotent no-ops)."""
    from filesystemagent_spark.sources.txtable import TxTable
    from filesystemagent_spark.streaming.sinks import (
        _apply_index_batch,
        _batch_images,
        _start_feed_sink,
    )

    STAMP = "minhash_batch_id"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        t = TxTable(index_table)
        applied = t.latest_app_value(STAMP)
        if applied is not None and applied >= batch_id:
            return  # replayed batch
        latest = _batch_images(batch_df, id_col)[1]
        if latest.isEmpty():
            return  # empty batch: idempotent no-op, unstamped
        post = latest.filter(
            F.col("_change_type").isin("insert", "upsert")
        ).select(id_col, text_col)
        new_rows = minhash_band_index(
            post, id_col, text_col,
            shingle_n=shingle_n, num_hashes=num_hashes, bands=bands,
            max_bucket=None, seed=seed, base=base, band_key=band_key,
        ).repartitionByRange(8, "band", "band_hash")
        # a post-image doc with EMPTY shingles contributes zero rows —
        # has_new comes from new_rows (not post), so the delete still
        # retires an emptied doc's old slice
        _apply_index_batch(
            t, spark, batch_id=batch_id, stamp_key=STAMP,
            latest=latest, id_col=id_col, new_rows=new_rows,
            merge_keys=[id_col, "band"],
            fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
            maintain_every=maintain_every,
            maintain_retention_seconds=maintain_retention_seconds,
        )

    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def minhash_pairs_from_index(
    corpus_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    max_bucket: int = 1000,
    threshold: float = 0.5,
    round_to: int | None = None,
) -> DataFrame:
    """Whole-corpus near-dup PAIRS answered from a STORED band index:
    cap the index at read (`capped_band_index`), self-join on
    (band, band_hash) for candidates, verify exact Jaccard on corpus
    text touched ONLY for surfaced candidates (semi-join prune, the
    `minhash_dedup_incremental` discipline). Returns (id_a, id_b,
    jaccard), id_a < id_b. Run over an index maintained by
    `start_minhash_index_sink`, the pair set is identical to
    `minhash_near_dup_pairs*` re-signing the corpus — without the
    signature pipeline ever running at query time."""
    idx = capped_band_index(index_df, max_bucket)
    cand = _bucket_pairs(idx, ["band", "band_hash"], id_col=id_col).distinct()
    touched = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = _shingled_docs(
        corpus_df.join(touched, id_col, "left_semi"),
        id_col, text_col, shingle_n,
    )
    return _jaccard_verify(cand, sh, sh, threshold=threshold, round_to=round_to)


def minhash_dedup_incremental(
    corpus_df: DataFrame,
    new_df: DataFrame,
    index_df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    seed: int = 42,
    threshold: float = 0.5,
    base: str = "xxhash64",
    band_key: str = "hash",
    round_to: int | None = None,
) -> DataFrame:
    """Dedup an INCOMING BATCH against an already-indexed corpus — the
    continuous-ingest shape: the corpus is never re-shingled or
    re-signed; only the batch runs the signature pipeline, and the
    corpus participates through (a) the prebuilt band index
    (`minhash_band_index`, a one-sided equi-join on (band, band_hash)
    — at scale the stored index is bucketed on that key, so the join
    co-locates) and (b) point lookups of the CANDIDATE corpus docs'
    text for the exact-Jaccard verify (a semi-join prune: only docs an
    LSH bucket surfaced get shingled, never the corpus).

    Returns (id_new, dup_of, jaccard, src): src='corpus' rows pair a
    batch doc with an existing corpus doc, src='batch' rows pair two
    batch docs (id_new > dup_of — keep-first discipline). Batch-side
    band keys are bucket-capped with the same `max_bucket` as the
    index build, bounding the join fan-out on boilerplate collapse.

    After the batch is accepted, append its band keys
    (`minhash_band_index` over the surviving docs) to the index table
    — `TxTable.merge_into` gives that append snapshot isolation."""
    new_docs = _shingled_docs(new_df, id_col, text_col, shingle_n)
    new_banded = _banded_keys(
        new_docs,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        base=base,
        band_key=band_key,
        max_bucket=max_bucket,
    )
    idx = index_df.select(
        F.col(id_col).alias("_cid"), "band", "band_hash"
    )
    return _incremental_pairs(
        corpus_df, new_docs, new_banded, idx, id_col, text_col,
        shingle_n=shingle_n, threshold=threshold, round_to=round_to,
    )


def _incremental_pairs(
    corpus_df: DataFrame,
    new_docs: DataFrame,
    new_banded: DataFrame,
    idx: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int,
    threshold: float,
    round_to: int | None,
) -> DataFrame:
    """The candidate + verify tail shared by `minhash_dedup_incremental`
    and `minhash_dedup_against_stored_index`: batch-vs-index one-sided
    join, within-batch self-join, semi-join-pruned exact-Jaccard
    verify. `idx` is (_cid, band, band_hash)."""
    cross = (
        new_banded.join(idx, ["band", "band_hash"])
        # ids are expected disjoint between batch and corpus; the guard
        # keeps a re-submitted doc from pairing with itself
        .filter(F.col("_id") != F.col("_cid"))
        .select(F.col("_id").alias("id_new"), F.col("_cid").alias("dup_of"))
        .distinct()
    )
    within = (
        _bucket_pairs(new_banded, ["band", "band_hash"], names=("dup_of", "id_new"))
        .select("id_new", "dup_of")  # group as (id_new, dup_of), like `cross`
        .distinct()
    )
    # Corpus text is touched ONLY for surfaced candidates (semi-join).
    corpus_cand = corpus_df.join(
        cross.select(F.col("dup_of").alias(id_col)).distinct(), id_col, "left_semi"
    )
    corpus_sh = _shingled_docs(corpus_cand, id_col, text_col, shingle_n)

    def _verify(cand: DataFrame, dup_sh: DataFrame, src: str) -> DataFrame:
        return _jaccard_verify(
            cand, new_docs, dup_sh, names=("id_new", "dup_of"),
            threshold=threshold, round_to=round_to,
        ).withColumn("src", F.lit(src))

    return _verify(cross, corpus_sh, "corpus").unionByName(
        _verify(within, new_docs, "batch")
    )


def minhash_dedup_against_stored_index(
    spark,
    corpus_df: DataFrame,
    new_df: DataFrame,
    index_table: str,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
    seed: int = 42,
    threshold: float = 0.5,
    base: str = "xxhash64",
    band_key: str = "hash",
    round_to: int | None = None,
    probe_cap: int = 10_000,
) -> DataFrame:
    """`minhash_dedup_incremental` with the corpus index read from its
    TxTable under a BUCKET-FOOTPRINT-pruned scan — the 100 TB batch
    shape: the batch's distinct (band, band_hash) keys become a DNF
    predicate ([band = b AND band_hash IN (...)] per band, OR across
    bands) that the manifest's per-file min/max stats evaluate BEFORE
    Spark plans the scan, so an index staged clustered on
    (band, band_hash) — the sink's layout — reads only the files whose
    key range intersects the batch's buckets. A small batch probes
    O(batch·bands) buckets of a 10^5-file index and scan cost follows
    the batch, not the index (files-read-gated in tests).

    Footprints above `probe_cap` keys take the MIDDLE RUNG (not a full
    read): one `band = b AND band_hash BETWEEN
    min..max` conjunction per band (≤ `bands` of them, the
    `_post_key_prune` in-list-when-narrow/range-when-wide discipline)
    — predicate cost stays O(bands) no matter how wide the batch, and
    a band-clustered layout still skips files outside the batch's
    per-band hash extremes. The rung choice is driven by a per-band
    COUNT/MIN/MAX aggregate (a tiny scalar job), so the driver never
    collects an unbounded key list.

    Measured at sf0.1 (scripts/exp_probe_cap.py, table in SCALE.md):
    the in-list rung's resolve cost used to grow linearly with the
    footprint — 6.3s at a 10k-key footprint over just 64 files, 56s
    at 77k — split between O(keys·files) manifest-stats scans and
    per-value py4j isin literals. TxTable now avoids both
    (`_prep_dnf` bisect stats test; json-literal membership above 64
    values), flattening resolve to ~0.5s at ANY footprint; what
    remains above `probe_cap` is the predicate's O(footprint) row
    filter and plan-literal size (at 100 TB a 10M-key in-list would
    put a ~200 MB literal in the plan and 10M ops/row in the scan),
    which the range rung bounds at O(bands).

    Correctness under the read-time cap: file pruning never splits a
    bucket — stats keep every file that may hold a probed key, so the
    pruned read contains ALL rows of every probed bucket and
    `capped_band_index` over it equals the full-index cap for exactly
    the buckets the join can touch. Result is row-identical to
    `minhash_dedup_incremental` over a build-capped in-memory index
    (test-pinned)."""
    from filesystemagent_spark.sources.txtable import TxTable

    new_docs = _shingled_docs(new_df, id_col, text_col, shingle_n)
    new_banded = _banded_keys(
        new_docs,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
        base=base,
        band_key=band_key,
        max_bucket=max_bucket,
    )
    t = TxTable(index_table)
    # footprint stats first (one tiny scalar job) decide the rung
    # without collecting an unbounded key list
    fp = (
        new_banded.groupBy("band")
        .agg(
            F.countDistinct("band_hash").alias("_n"),
            F.min("band_hash").alias("_lo"),
            F.max("band_hash").alias("_hi"),
        )
        .collect()
    )
    n_keys = sum(r["_n"] for r in fp)
    if n_keys == 0:
        idx_raw = t.read(spark, where=[("band", "in", [])])  # empty batch
    elif n_keys > probe_cap:
        # middle rung: per-band hash-range DNF — O(bands) conjunctions
        idx_raw = t.read(
            spark,
            where=[
                [
                    ("band", "=", r["band"]),
                    ("band_hash", ">=", r["_lo"]),
                    ("band_hash", "<=", r["_hi"]),
                ]
                for r in sorted(fp, key=lambda r: r["band"])
            ],
        )
    else:
        keys = new_banded.select("band", "band_hash").distinct().collect()
        by_band: dict[int, list] = {}
        for r in keys:
            by_band.setdefault(r["band"], []).append(r["band_hash"])
        idx_raw = t.read(
            spark,
            where=[
                [("band", "=", b), ("band_hash", "in", sorted(vs))]
                for b, vs in sorted(by_band.items())
            ],
        )
    idx = capped_band_index(idx_raw, max_bucket).select(
        F.col(id_col).alias("_cid"), "band", "band_hash"
    )
    return _incremental_pairs(
        corpus_df, new_docs, new_banded, idx, id_col, text_col,
        shingle_n=shingle_n, threshold=threshold, round_to=round_to,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    max_distance: int = 3,
    block_bits: int = 8,
    base: str = "xxhash64",
    skip_empty: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance.

    Candidate generation blocks on d+1 chunks of ``block_bits`` bits
    of the fingerprint (`_pigeonhole_pairs`: at distance <= d, at least
    one of d+1 blocks matches exactly), so the self-join is per-block,
    not all-pairs; blocks that do not fit in ``bits`` raise ValueError.
    Verify is `bit_count(xor)` — constant time.

    Returns (id_a, id_b, distance), id_a < id_b. ``base`` picks the
    token-hash family (see hashing.simhash); ``skip_empty`` drops
    zero-token docs (they all share fingerprint 0).
    """
    toks = T.tokens(F.col(text_col))
    if skip_empty:
        df = df.filter(F.size(toks) > 0)
    fp = df.select(
        F.col(id_col).alias("_id"),
        H.simhash(toks, bits, base=base).alias("_h"),
    )
    return _pigeonhole_pairs(
        fp, bits=bits, bands=max_distance + 1, width=block_bits,
        max_distance=max_distance,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted-index join.

    SQL-expressible (explode shingles → equi-join on shingle → count
    common / union), so it doubles as the DuckDB-checkable ground
    truth for the MinHash approximation. The shingle equi-join is the
    scalable form of 'compare every pair': only docs sharing at least
    one shingle ever meet.

    Hot-shingle handling (the 100 TB skew guard): the self-join is
    quadratic WITHIN each shingle's posting list, so one boilerplate
    shingle shared by 1M docs would alone emit ~5×10¹¹ candidate rows.
    Two prunes on document frequency, computed as a window count over
    the same shingle key the join shuffles on (Catalyst reuses the
    exchange — the df pass costs no extra shuffle):

    - ``df == 1`` shingles are ALWAYS dropped — they can't form a pair
      and union sizes come from the full per-doc sets, so this is
      semantics-preserving (the exact oracle anchor stays exact).
    - ``max_doc_freq`` (prod variant) additionally drops shingles with
      df > cap. A shingle shared by thousands of docs carries ~zero
      Jaccard signal but all the quadratic cost; with the cap the
      candidate blow-up per shingle is ≤ cap·(cap−1)/2 regardless of
      corpus size. n_common then lower-bounds true overlap (union
      sizes stay exact), mirroring the ``max_bucket`` cap on the
      MinHash path above. Deterministic, so a SQL oracle can replay
      it (HAVING COUNT(*) <= cap on the inverted index).

    Plan notes: the shingling expression feeds three branches (sizes +
    both join sides) — persisted once so codegen runs it once, not 3×.
    The join key is xxhash64(shingle), an 8-byte long instead of the
    shingle string: a smaller shuffle and a cheaper hash-join probe.
    Collisions would need two distinct corpus shingles with equal
    64-bit hashes (~n²/2⁶⁵); at trillion-shingle scale switch to a
    2-column (two-seed) 128-bit key.
    """
    # filter ABOVE the persist — inside it, the optimizer pushes the
    # shingle expression below the rebalance exchange into a serial
    # single-task scan and evaluates it twice (see _shingled_docs)
    docs = track_persist(
        df.select(
            F.col(id_col).alias("_id"),
            F.array_distinct(T.shingles(F.col(text_col), shingle_n)).alias("_sh"),
        )
    ).filter(F.size("_sh") > 0)
    sizes = docs.select("_id", F.size("_sh").alias("_n"))
    inv = docs.select("_id", F.explode("_sh").alias("shingle")).select(
        "_id", F.xxhash64("shingle").alias("shingle")
    )
    # Document-frequency prune (see docstring). One row per (_id,
    # shingle) — per-doc shingles are distinct — so the bucket size
    # IS the document frequency.
    # Persist the pruned index (16 bytes/row: id + hashed shingle) so
    # the explode + window-prune pass runs once, not per self-join
    # branch — and both branches inherit the window's (shingle)
    # partitioning from the cache, so the join adds no exchange.
    inv = track_persist(_cap_buckets(inv, ["shingle"], max_doc_freq, min_size=2))
    common = (
        _bucket_pairs(inv, ["shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("_id", "id_a").withColumnRenamed("_n", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("_id", "id_b").withColumnRenamed("_n", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    *,
    max_distance: int = 2,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs over a precomputed 64-bit hash column (perceptual
    image hashes, simhashes) — the scale path for the reference's O(n²)
    pairwise loop (/root/reference/src/media_fingerprinting.py:278-310)
    with its recommended Hamming threshold <= 2 (:321-349).

    Pigeonhole banding (`_pigeonhole_pairs`): `bands` slices of
    64 // bands bits; at distance <= bands-1 at least one slice matches
    exactly, so the self-join runs per (band, slice-value) bucket.
    Default 4x16-bit bands guarantees recall for distance <= 3 >=
    max_distance=2; ``bands <= max_distance`` raises ValueError.
    Verify is JVM-side bit_count(xor).

    Returns (id_a, id_b, distance), id_a < id_b.
    """
    h = df.select(F.col(id_col).alias("_id"), F.col(hash_col).cast("long").alias("_h"))
    return _pigeonhole_pairs(
        h, bits=64, bands=bands, width=64 // bands, max_distance=max_distance
    )


def near_dup_clusters(
    ids: DataFrame,
    pairs: DataFrame,
    id_col: str = "_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: every member gets the
    cluster id = min(id) of its component.

    Replaces the reference's greedy first-seen clustering
    (media_fingerprinting.py:278-310) with an order-independent,
    distributed equivalent: per round, (1) min-label propagation over
    the edge list, then (2) a pointer jump (take my label's label), so
    convergence is O(log n) rounds even on path graphs, not
    O(diameter). Each round ends in `localCheckpoint` — iterative
    DataFrame algorithms MUST truncate lineage or the logical plan
    doubles every round and the driver dies compiling/serializing it
    long before the data is the problem (on a cluster with an HDFS
    checkpoint dir, `checkpoint()` adds executor-loss resilience).

    Returns (id, cluster_id); singleton rows keep cluster_id = id —
    filter to groups of >= 2 for the reference's 'groups with actual
    duplicates'.
    """
    with tracked_scope():
        edges = track_persist(
            pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            .unionByName(
                pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
            )
        )
        labels = ids.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("cluster_id")
        ).localCheckpoint(eager=True)
        for _ in range(max_iter):
            # (1) neighbor min: for each node, the smallest label adjacent
            neighbor = (
                edges.join(labels.withColumnRenamed("id", "src"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            stepped = labels.join(neighbor, "id", "left").select(
                "id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # (2) pointer jump: my label is a node id; adopt that node's
            # (possibly smaller) label — halves remaining distance to the
            # component minimum each round
            parents = stepped.select(
                F.col("id").alias("cluster_id"), F.col("cluster_id").alias("_parent")
            )
            updated = (
                stepped.join(parents, "cluster_id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("_parent"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                updated.alias("u")
                .join(labels.alias("p"), "id")
                .filter(F.col("u.cluster_id") != F.col("p.cluster_id"))
                .limit(1)
                .count()
            )
            labels = updated
            if changed == 0:
                break
    return labels


def fuzzy_pairs_edit1(df: DataFrame, col: str) -> DataFrame:
    """Exact edit-distance-≤1 string pairs WITHOUT the quadratic cross
    join: deletion-neighborhood blocking (FastSS). Each string emits
    itself plus every single-character-deletion variant; any two
    strings within edit distance 1 (substitution, insertion, deletion,
    or equality) provably share at least one variant, so the variant
    equi-join has 100% recall and `levenshtein` only verifies
    candidates. Cost: (len+1) variant rows per string and a shuffle on
    the variant key — linear in corpus size, vs the O(n²) naive join
    that only the oracle can afford. All JVM expressions; no UDFs."""
    s = F.col(col)
    variants = F.array_union(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), F.length(s)),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                s.substr(i + 1, F.length(s)),
            ),
        ),
    )
    inv = df.select(s.alias("_s"), F.explode(variants).alias("_var"))
    cand = _bucket_pairs(
        inv, ["_var"], id_col="_s", names=("name_a", "name_b")
    ).distinct()
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 1)
    )


def minhash_near_dup_pairs_checkable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.4,
    max_bucket: int = 1000,
    seed: int = 42,
) -> DataFrame:
    """The cross-engine hash family of `minhash_near_dup_pairs`: md5
    base hashes + raw band slices as bucket keys, so an external SQL
    engine can replay signature → bands → candidates → exact-verify
    and hash-match the output. Thin wrapper — one pipeline, so the
    bucket cap and any future fix apply to both families."""
    return minhash_near_dup_pairs(
        df,
        id_col,
        text_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        max_bucket=max_bucket,
        seed=seed,
        base="md5",
        band_key="slice",
        round_to=6,
    )


def simhash_near_dup_pairs_checkable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    bits: int = 32,
    max_distance: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """The cross-engine hash family of `simhash_near_dup_pairs`: md5
    token hashes so an external SQL engine can replay the per-bit
    majority vote, pigeonhole blocking, and Hamming verify. Zero-token
    docs are excluded (they'd all share fingerprint 0, and have no
    rows in a per-token SQL replay). Thin wrapper over the production
    pipeline."""
    return simhash_near_dup_pairs(
        df,
        id_col,
        text_col,
        bits=bits,
        max_distance=max_distance,
        block_bits=block_bits,
        base="md5",
        skip_empty=True,
    )
