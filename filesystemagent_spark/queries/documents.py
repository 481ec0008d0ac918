"""Text-analysis + dedup queries over the `documents` table.

The training-data-pipeline surface (BASELINE.json north-star):
language ID, quality scoring, token counting, fingerprinting, and the
dedup cascade (exact → prefix → n-gram Jaccard → MinHash LSH →
SimHash). The SQL-expressible members carry DuckDB oracles; the LSH
members are approximate-by-design and recorded rows-only, with their
exact ground truth checked in tests/ against ngram_jaccard_pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import staging_dir
from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.functions import text as T
from filesystemagent_spark.operators import dedup as D
from filesystemagent_spark.queries import register

# DuckDB fragments mirroring functions/text.py — kept adjacent so the
# two tokenizer definitions evolve together.
_SQL_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


def _sql_list(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _sql_hits(words) -> str:
    return f"len(list_filter(toks, t -> list_contains({_sql_list(words)}, t)))"



def _doc_text_rebalanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Narrow (doc_id, text) projection, rebalanced across the cluster.

    The harness parquet carries ONE row group per file, so the scan —
    and any shingling/hashing expression pipelined into it — would run
    in a single task. Shingle-family queries are compute-bound on that
    expression, so spread the narrow projection first; with a properly
    chunked source this exchange is a no-op-sized safety net."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return docs.repartition(spark.sparkContext.defaultParallelism)


@register(
    "doc_lang_stats",
    tags=("agg", "text"),
    oracle=f"""
WITH tokd AS (
    SELECT lang, n_chars, len({_SQL_TOKS}) AS n_tokens
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_tokens,
       CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens
FROM tokd
GROUP BY lang
ORDER BY lang
""",
)
def doc_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language tag — token counting as a
    JVM expression, aggregated. The scan reads only (lang, n_chars,
    text); at 100 TB the tokenizer runs inside codegen, no Python."""
    docs = Catalog(spark, sf_dir).documents
    return (
        docs.withColumn("n_tokens", T.token_count(F.col("text")))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            # exact integer sum → double → IEEE divide: identical in both
            # engines; ROUND(AVG(..)) diverges on exact rounding boundaries.
            (F.sum(F.col("n_tokens").cast("long")).cast("double") / F.count("*")).alias("avg_tokens"),
            (F.sum(F.col("n_chars").cast("long")).cast("double") / F.count("*")).alias("avg_chars"),
            F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        )
        .orderBy("lang")
    )


@register(
    "doc_token_stats",
    tags=("text", "projection"),
    oracle=f"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_tokens,
       len(regexp_extract_all(lower(text), '{T.WORD_RE}')) AS n_words,
       md5(array_to_string({_SQL_TOKS}, ' ')) AS fingerprint
FROM documents
ORDER BY doc_id
""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document projection: whitespace tokens, BPE-ish word tokens,
    md5 fingerprint over the normalized token stream (F1/F13 analog)."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tokens"),
        F.size(T.word_tokens(F.col("text"))).alias("n_words"),
        T.fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


@register(
    "doc_prefix_dups",
    tags=("dedup", "agg"),
    oracle="""
SELECT md5(substr(text, 1, 50)) AS prefix_hash,
       COUNT(*) AS n_dups,
       CAST(MIN(doc_id) AS BIGINT) AS first_id,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
HAVING COUNT(*) >= 2
ORDER BY n_dups DESC, prefix_hash
""",
)
def doc_prefix_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups on a 50-char prefix hash — the A1
    group-by/having dedup with md5 as the content key. Min-id is the
    deterministic canonical representative (keep-first policy)."""
    docs = Catalog(spark, sf_dir).documents.withColumn(
        "prefix_hash", F.md5(F.substring("text", 1, 50))
    )
    return (
        docs.groupBy("prefix_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min("doc_id").alias("first_id"),
            F.sum("n_chars").alias("total_chars"),
        )
        .filter(F.col("n_dups") >= 2)
        .orderBy(F.col("n_dups").desc(), "prefix_hash")
    )


@register(
    "doc_dedup_keep_first",
    tags=("dedup", "window"),
    oracle="""
SELECT doc_id, lang, n_chars
FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY md5(substr(text, 1, 50)) ORDER BY doc_id
    ) AS rn
    FROM documents
)
WHERE rn = 1
ORDER BY doc_id
""",
)
def doc_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup OUTPUT (not just the groups): keep exactly one doc per
    content key under the keep-oldest policy with a deterministic
    doc_id tie-break (W5; /root/reference/src/file_indexing_system.py:274-279
    + SURVEY §7.5's tie-break requirement)."""
    from filesystemagent_spark.operators.dedup import dedup_exact

    docs = Catalog(spark, sf_dir).documents.withColumn(
        "prefix_hash", F.md5(F.substring("text", 1, 50))
    )
    kept = dedup_exact(docs, ["prefix_hash"], [F.col("doc_id").asc()])
    return kept.select("doc_id", "lang", "n_chars").orderBy("doc_id")


@register(
    "doc_dedup_report",
    tags=("dedup", "agg", "report"),
    oracle="""
WITH g AS (
    SELECT md5(substr(text, 1, 50)) AS h,
           COUNT(*) AS n,
           SUM(n_chars) AS total_chars,
           arg_min(n_chars, doc_id) AS kept_chars
    FROM documents GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS total_docs,
       COUNT(*) AS n_groups,
       CAST(COUNT(CASE WHEN n >= 2 THEN 1 END) AS BIGINT) AS n_dup_groups,
       CAST(SUM(CASE WHEN n >= 2 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_redundant_docs,
       CAST(SUM(CASE WHEN n >= 2 THEN total_chars - kept_chars ELSE 0 END) AS BIGINT)
           AS wasted_chars
FROM g
""",
)
def doc_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate report rollup (A2-A3): corpus totals + wasted
    space if every non-keeper were dropped
    (/root/reference/src/file_indexing_system.py:321-341). min_by picks
    the keeper's size — the doc the keep-first policy retains."""
    docs = Catalog(spark, sf_dir).documents.withColumn(
        "h", F.md5(F.substring("text", 1, 50))
    )
    g = docs.groupBy("h").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("total_chars"),
        F.min_by("n_chars", "doc_id").alias("kept_chars"),
    )
    dup = F.col("n") >= 2
    return g.agg(
        F.sum("n").alias("total_docs"),
        F.count("*").alias("n_groups"),
        F.count_if(dup).alias("n_dup_groups"),
        F.sum(F.when(dup, F.col("n") - 1).otherwise(0)).alias("n_redundant_docs"),
        F.sum(F.when(dup, F.col("total_chars") - F.col("kept_chars")).otherwise(0)).alias(
            "wasted_chars"
        ),
    )


_SQL_PUNCT = "[!-/:-@\\[-`{-~]"

@register(
    "doc_quality",
    tags=("text", "projection"),
    oracle=f"""
WITH feats AS (
    SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), scored AS (
    SELECT doc_id,
           CAST(len(toks) AS DOUBLE) AS n_tok,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE CAST({ _sql_hits(T.STOPWORDS_EN) } AS DOUBLE) / len(toks) END AS sw_ratio,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE CAST(length(text) - length(regexp_replace(text, '{_SQL_PUNCT}', '', 'g')) AS DOUBLE)
                     / length(text) END AS punct_ratio
    FROM feats
)
SELECT doc_id,
       ROUND(0.4 * LEAST(n_tok / 100.0, 1.0)
           + 0.4 * LEAST(sw_ratio * 4.0, 1.0)
           + 0.2 * (1.0 - LEAST(punct_ratio * 2.0, 1.0)), 6) AS quality
FROM scored
ORDER BY doc_id
""",
)
def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score per document (length, stopword-rate,
    punctuation-soup penalty) — a standard pre-training filter."""
    docs = Catalog(spark, sf_dir).documents
    return docs.select(
        "doc_id", T.quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


@register(
    "doc_lang_confusion",
    tags=("text", "agg"),
    oracle=f"""
WITH tokd AS (
    SELECT lang, {_SQL_TOKS} AS toks FROM documents
), hits AS (
    SELECT lang,
           { _sql_hits(T.STOPWORDS_EN) } AS en,
           { _sql_hits(T.STOPWORDS_ES) } AS es,
           { _sql_hits(T.STOPWORDS_DE) } AS de,
           { _sql_hits(T.STOPWORDS_FR) } AS fr
    FROM tokd
)
SELECT lang,
       CASE WHEN greatest(en, es, de, fr) = 0 THEN 'und'
            WHEN en = greatest(en, es, de, fr) THEN 'en'
            WHEN es = greatest(en, es, de, fr) THEN 'es'
            WHEN de = greatest(en, es, de, fr) THEN 'de'
            ELSE 'fr' END AS guessed_lang,
       COUNT(*) AS n_docs
FROM hits
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def doc_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: stopword-argmax guess vs the
    table's lang tag."""
    docs = Catalog(spark, sf_dir).documents
    return (
        docs.select("lang", T.lang_guess(F.col("text")).alias("guessed_lang"))
        .groupBy("lang", "guessed_lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang", "guessed_lang")
    )


@register(
    "doc_near_dup_jaccard",
    tags=("dedup", "join", "text"),
    oracle=f"""
WITH sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(tk) - 2),
               i -> array_to_string(tk[i:i+2], ' ')
           )) AS s
    FROM (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
    WHERE len(tk) >= 3
),
inv AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
common AS (
    SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
    FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / (a.n + b.n - n_common) AS jaccard
FROM common
JOIN sz a ON a.doc_id = id_a
JOIN sz b ON b.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (a.n + b.n - n_common) >= 0.4
ORDER BY id_a, id_b
""",
)
def doc_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via inverted-index join —
    the SQL-checkable ground truth for the MinHash approximation.
    jaccard is a ratio of exact ints: bit-identical across engines.

    The harness parquet carries ONE row group per file, so the scan —
    and the shingling expression pipelined into it — would run in a
    single task. Shingling dominates this query's cost, so rebalance
    the narrow (id, text) projection across the cluster first; with a
    properly chunked source this exchange is a no-op-sized safety net.
    """
    docs = _doc_text_rebalanced(spark, sf_dir)
    return (
        D.ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.4)
        .orderBy("id_a", "id_b")
    )


@register(
    "doc_near_dup_jaccard_pruned",
    headline=True,
    tags=("dedup", "join", "text", "scale"),
    oracle=f"""
WITH sh AS (
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len(tk) - 2),
               i -> array_to_string(tk[i:i+2], ' ')
           )) AS s
    FROM (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
    WHERE len(tk) >= 3
),
inv0 AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
keep AS (
    SELECT shingle FROM inv0 GROUP BY shingle
    HAVING COUNT(*) BETWEEN 2 AND 20
),
inv AS (SELECT i.doc_id, i.shingle FROM inv0 i JOIN keep USING (shingle)),
common AS (
    SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(*) AS n_common
    FROM inv l JOIN inv r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, len(s) AS n FROM sh)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / (a.n + b.n - n_common) AS jaccard
FROM common
JOIN sz a ON a.doc_id = id_a
JOIN sz b ON b.doc_id = id_b
WHERE CAST(n_common AS DOUBLE) / (a.n + b.n - n_common) >= 0.4
ORDER BY id_a, id_b
""",
)
def doc_near_dup_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of the Jaccard inverted-index dedup: same
    pipeline as doc_near_dup_jaccard but with the hot-shingle cap
    (max_doc_freq=20) — shingles shared by more docs are dropped
    before the self-join, bounding each posting list's quadratic
    candidate blow-up at 20·19/2 pairs no matter how big the corpus.
    The prune is deterministic, so DuckDB replays it exactly (HAVING
    COUNT(*) <= 20 on the inverted index): this variant is
    hash-checkable, not just recall-tested. Union sizes stay exact;
    n_common lower-bounds true overlap, so reported jaccard is a
    conservative (under-) estimate for pairs sharing hot shingles."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return (
        D.ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.4, max_doc_freq=20
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "doc_dup_ngram_ratio",
    tags=("dedup", "text", "agg", "scale"),
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
wins AS (
    SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS ng
    FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(i)
    WHERE len(tk) >= 5
),
dupn AS (
    SELECT ng FROM (SELECT DISTINCT doc_id, ng FROM wins)
    GROUP BY ng HAVING COUNT(*) >= 2
),
perdoc AS (
    SELECT w.doc_id,
           COUNT(*) AS n_windows,
           CAST(COUNT(d.ng) AS BIGINT) AS dup_windows
    FROM wins w LEFT JOIN dupn d USING (ng)
    GROUP BY w.doc_id
)
SELECT doc_id, n_windows, dup_windows,
       CAST(dup_windows AS DOUBLE) / n_windows AS dup_ratio
FROM perdoc ORDER BY doc_id
""",
)
def doc_dup_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span rate (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): for
    each doc, the fraction of its POSITIONAL 5-gram windows whose
    n-gram also occurs in at least one other document. The standard
    memorization-risk signal when exact suffix-array dedup is too
    expensive — docs above a ratio threshold get span-pruned or
    dropped.

    Scale shape: no pair-join anywhere — explode windows, one
    (ngram, doc)-distinct aggregation for document frequency, one
    semi-join back on the 8-byte xxhash64 n-gram key, one per-doc
    rollup. Every shuffle is key-partitioned and linear in corpus
    token count; a boilerplate n-gram shared by millions of docs costs
    its posting list ONCE in the df table, never a quadratic bucket.
    The exact-ints ratio divides identically in both engines."""
    from filesystemagent_spark.caching import track_persist

    docs = _doc_text_rebalanced(spark, sf_dir)
    wins = track_persist(
        docs.select("doc_id", F.explode(T.shingles(F.col("text"), 5)).alias("ng"))
        .select("doc_id", F.xxhash64("ng").alias("ng"))
    )
    dup_ng = (
        wins.distinct()
        .groupBy("ng")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("ng")
    )
    per_doc = wins.groupBy("doc_id").agg(F.count("*").alias("n_windows"))
    dup_per_doc = (
        wins.join(dup_ng, "ng", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("dup_windows"))
    )
    return (
        per_doc.join(dup_per_doc, "doc_id", "left")
        .withColumn("dup_windows", F.coalesce(F.col("dup_windows"), F.lit(0)).cast("long"))
        .withColumn(
            "dup_ratio",
            F.col("dup_windows").cast("double") / F.col("n_windows").cast("double"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_span_dedup",
    tags=("dedup", "text", "transform", "exact-substring", "cross-engine"),
    oracle=f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
grams AS (
    SELECT doc_id, g.i - 1 AS gpos, array_to_string(tk[g.i:g.i+4], ' ') AS ng
    FROM toks, UNNEST(generate_series(1, len(tk) - 4)) AS g(i)
    WHERE len(tk) >= 5
),
ranked AS (
    SELECT doc_id, gpos,
           ROW_NUMBER() OVER (PARTITION BY ng ORDER BY doc_id, gpos) AS rn
    FROM grams
),
covered AS (
    SELECT DISTINCT doc_id, gpos + o.x AS pos
    FROM ranked, UNNEST(generate_series(0, 4)) AS o(x)
    WHERE rn > 1
),
toklist AS (
    SELECT doc_id, g.i - 1 AS pos, tk[g.i] AS tok
    FROM toks, UNNEST(generate_series(1, len(tk))) AS g(i)
),
kept AS (
    SELECT t.doc_id, t.pos, t.tok
    FROM toklist t ANTI JOIN covered c
      ON t.doc_id = c.doc_id AND t.pos = c.pos
),
rebuilt AS (
    SELECT doc_id, COUNT(*) AS kept_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       COALESCE(len(tk), 0) AS n_tokens,
       COALESCE(kept_tokens, 0) AS kept_tokens,
       COALESCE(len(tk), 0) - COALESCE(kept_tokens, 0) AS removed_tokens,
       COALESCE(clean_text, '') AS clean_text
FROM toks LEFT JOIN rebuilt ON toks.doc_id = rebuilt.doc_id
ORDER BY toks.doc_id
""",
)
def doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup as a TRANSFORM — the removal step that
    `doc_dup_ngram_ratio`'s metric motivates (Lee et al. 2022): every
    token inside a duplicated 5-token window is deleted, the globally
    first occurrence (by (doc_id, position)) of each window is kept,
    and the document is rebuilt from the surviving tokens. The oracle
    replays the COMPLETE pipeline — positional n-grams, global
    first-occurrence ranking, coverage expansion, anti-join,
    order-preserving reconstruction — and must hash-match the
    rebuilt text byte-for-byte. The operator's `key='xxhash64'`
    variant (tests) shuffles 8-byte keys instead of gram strings —
    the 100 TB form of the same plan."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.remove_duplicate_spans(
        docs, "doc_id", "text", n=5, key="string"
    ).orderBy("doc_id")


@register(
    "doc_span_dedup_hashed",
    tags=("dedup", "text", "transform", "exact-substring", "scale"),
)
def doc_span_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB hash family of `doc_span_dedup`: identical semantics
    with the n-gram join key xxhash64'd (8-byte shuffles instead of
    gram strings). Rows-only by design — the hashed key is not
    SQL-replayable — but tests/test_dedup.py proves the two families
    produce identical output row-for-row."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.remove_duplicate_spans(
        docs, "doc_id", "text", n=5, key="xxhash64"
    ).orderBy("doc_id")


@register(
    "doc_minhash_incremental_prod",
    tags=("dedup", "lsh", "minhash", "incremental", "scale"),
)
def doc_minhash_incremental_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production hash family of `doc_minhash_incremental`
    (xxhash64 base hashes + murmur band keys — the JVM-fast path a
    100 TB index would store). Same split, same one-sided index join,
    same semi-join verify; rows-only by design (the graded md5/slice
    twin hash-matches the oracle, and both are one pipeline so fixes
    apply to both)."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    index = D.minhash_band_index(
        corpus, "doc_id", "text",
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS, seed=_MH_SEED,
    )
    return D.minhash_dedup_incremental(
        corpus, batch, index, "doc_id", "text",
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS,
        seed=_MH_SEED, threshold=0.4,
    ).orderBy("id_new", "dup_of")


@register(
    "doc_quality_deciles",
    tags=("window", "ntile", "quality", "curation"),
    oracle=f"""
WITH feats AS (
    SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents
), scored AS (
    SELECT doc_id,
           ROUND(0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.4 * LEAST((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST({_sql_hits(T.STOPWORDS_EN)} AS DOUBLE) / len(toks) END) * 4.0, 1.0)
               + 0.2 * (1.0 - LEAST((CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '{{punct}}', '', 'g')) AS DOUBLE)
                         / length(text) END) * 2.0, 1.0)), 6) AS quality
    FROM feats
), tiled AS (
    SELECT doc_id, quality,
           NTILE(10) OVER (ORDER BY quality ASC, doc_id ASC) AS decile
    FROM scored
)
SELECT decile,
       COUNT(*) AS n_docs,
       MIN(quality) AS min_q,
       MAX(quality) AS max_q
FROM tiled GROUP BY decile ORDER BY decile
""".replace("{punct}", _SQL_PUNCT),
)
def doc_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile profile of the corpus — the cut-line view a
    curation pipeline uses to choose a keep threshold ("drop the
    bottom 3 deciles"). NTILE is order-sensitive at ties, so the
    window orders on (quality, doc_id): deterministic and
    engine-identical. One window (a single global sort at corpus
    grain) + one aggregation; at 100 TB you'd swap NTILE for
    approx-quantile boundary literals to avoid the global sort — the
    same trade documented for zorder_key."""
    docs = Catalog(spark, sf_dir).documents
    from pyspark.sql import Window

    scored = docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))
    w = Window.orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    tiled = scored.withColumn("decile", F.ntile(10).over(w))
    return (
        tiled.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
        )
        .orderBy("decile")
    )


@register("doc_quality_deciles_approx", tags=("quality", "approx", "scale"))
def doc_quality_deciles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of `doc_quality_deciles`: decile boundaries from
    `approx_percentile` (mergeable sketch, one aggregation — NO global
    sort), then a row-local bucket assignment against the 9 collected
    boundary literals. Rows land in the same decile as the exact NTILE
    except within sketch error of a boundary; the agreement bar is
    asserted in tests/test_training_queries.py. Rows-only at the gate
    (approximate by design)."""
    docs = Catalog(spark, sf_dir).documents
    scored = docs.select("doc_id", T.quality_score(F.col("text")).alias("quality"))
    bounds = scored.agg(
        F.percentile_approx(
            "quality", [i / 10.0 for i in range(1, 10)], 10000
        ).alias("b")
    ).collect()[0]["b"]
    decile = F.lit(1)
    for b in bounds:
        decile = decile + F.when(F.col("quality") > b, 1).otherwise(0)
    return (
        scored.withColumn("decile", decile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("quality").alias("min_q"),
            F.max("quality").alias("max_q"),
        )
        .orderBy("decile")
    )


_BM25_TERMS = ("spark", "merge", "window")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def _bm25_oracle(source: str = "documents") -> str:
    """The full-scan BM25 replay over any doc source expression —
    `source` is a table name or a parenthesized subquery producing
    (doc_id, text); the incremental-index query passes the
    DML-transformed corpus."""
    tf = {t: f"len(list_filter(tk, x -> x = '{t}'))" for t in _BM25_TERMS}
    score_terms = " + ".join(
        f"""(ln((s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1.0)
            * (CAST({tf[t]} AS DOUBLE) * {_BM25_K1 + 1.0})
            / (CAST({tf[t]} AS DOUBLE)
               + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * len(tk) / s.avgdl)))"""
        for t in _BM25_TERMS
    )
    dfs = ", ".join(
        f"CAST(COUNT(CASE WHEN list_contains(tk, '{t}') THEN 1 END) AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM {source} AS _src),
stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
           AVG(CAST(len(tk) AS DOUBLE)) AS avgdl, {dfs}
    FROM toks
),
scored AS (
    SELECT doc_id, ROUND({score_terms}, 6) AS bm25
    FROM toks, stats s
)
SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
ORDER BY bm25 DESC, doc_id ASC LIMIT {_BM25_TOPK}
"""


@register(
    "doc_bm25_search",
    tags=("search", "text", "ranking"),
    oracle=_bm25_oracle(),
)
def doc_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval as a first-class query: Okapi BM25 over the
    corpus for a fixed term set, top-{k} by score — the text-search
    twin of `embedding_knn` (ANN is the semantic path, BM25 the
    lexical one; production rerankers blend both).

    Scale shape: per-doc term frequencies are row-local array
    expressions (no explode, no per-term join); the corpus statistics
    (N, avgdl, per-term document frequency) aggregate to ONE row that
    broadcast-joins back — so the whole query is two corpus scans and
    a top-k, no shuffle proportional to tokens. Determinism: scores
    round at 1e-6 (ln differs by ulps across libm builds) with a
    doc_id tie-break, the same ranked-boundary rule as embedding_knn.
    """
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(_BM25_TOPK)
    )


def _match(term: str):
    # factory keeps the lambda unary — PySpark derives HOF arity from
    # the Python signature, so a default-arg capture would turn the
    # second parameter into the array INDEX (same rule as bpe.py).
    return lambda x: x == F.lit(term)


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) for every matching doc (bm25 > 0, rounded 1e-6)
    — shared by doc_bm25_search and the RRF hybrid query."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    tf = {t: F.size(F.filter(F.col("tk"), _match(t))) for t in _BM25_TERMS}
    stats = toks.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("tk").cast("double")).alias("avgdl"),
        *[
            F.count_if(F.array_contains("tk", t)).cast("double").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = toks.crossJoin(F.broadcast(stats))
    dl = F.size("tk").cast("double")
    score = None
    for t in _BM25_TERMS:
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{t}") + 0.5) / (F.col(f"df_{t}") + 0.5)
            + 1.0
        )
        tfd = tf[t].cast("double")
        part = idf * (tfd * (_BM25_K1 + 1.0)) / (
            tfd + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl / F.col("avgdl"))
        )
        score = part if score is None else score + part
    return scored.select("doc_id", F.round(score, 6).alias("bm25")).filter(
        F.col("bm25") > 0
    )


@register(
    "doc_bm25_from_stored_index",
    tags=("search", "text", "ranking", "inverted-index", "txtable"),
    oracle=_bm25_oracle(),
)
def doc_bm25_from_stored_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME BM25 top-k as `doc_bm25_search`, answered from a STORED
    inverted index instead of a corpus scan
    (operators/invindex.py): tokenize once into a (term, doc_id, tf,
    dl) posting TxTable (range-partitioned + sorted on term, corpus
    scalars in app metadata), then ONE stats-pruned `term IN (...)`
    read per table, pivot, and combine parts in fixed term order —
    bit-identical scores, so the one oracle replays both forms. At
    100 TB this is the difference between a full corpus scan per query
    and reading only the matched terms' postings; index build is the
    amortized one-time (and incrementally maintainable) cost."""

    from filesystemagent_spark.operators.invindex import (
        bm25_from_index,
        build_bm25_index,
    )

    stage = staging_dir("bm25_index_")
    build_bm25_index(
        _doc_text_rebalanced(spark, sf_dir), stage, id_col="doc_id",
        text_col="text",
    )
    return bm25_from_index(
        spark, stage, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_k=_BM25_TOPK
    )


_BM25_INC_SOURCE = """(
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 1 THEN text || ' spark merge'
                ELSE text END AS text
    FROM documents
    WHERE doc_id % 11 <> 7
)"""


@register(
    "doc_bm25_incremental_index",
    tags=("search", "text", "inverted-index", "txtable", "change-feed",
          "incremental"),
    oracle=_bm25_oracle(source=_BM25_INC_SOURCE),
)
def doc_bm25_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY MAINTAINED lexical index: the corpus
    lives in a TxTable and mutates — an initial subset, then one merge
    that INSERTS the held-out docs and UPDATES every doc_id%5==1 text
    (appending ' spark merge', deliberately shifting df/tf for the
    query terms), then a keyed DELETE of doc_id%11==7 — while
    `start_bm25_index_sink` (operators/invindex.py) tracks it from the
    CHANGE FEED: postings die/rebuild per touched doc via file-backed
    key tombstones, df deltas come from the feed's pre/post images
    (the corpus and the index are never rescanned), and the corpus
    scalars ride the commit metadata. The final BM25 top-k answered
    from the maintained index must be BIT-IDENTICAL to a full scan of
    the final corpus — which is exactly what the oracle computes over
    the SQL-replayed DML. A missed retraction, a double-applied df
    delta, or a stale scalar shifts the hash."""

    from filesystemagent_spark.operators.invindex import (
        bm25_from_index,
        start_bm25_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    stage = staging_dir("bm25_inc_")
    src = os.path.join(stage, "docs")
    idx = os.path.join(stage, "index")
    ckpt = os.path.join(stage, "ckpt")
    docs = _doc_text_rebalanced(spark, sf_dir)
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 3 != 0))                   # v1
    start_bm25_index_sink(spark, src, idx, ckpt).awaitTermination()
    upd = docs.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 5 == 1)
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.col("text"), F.lit(" spark merge")),
        ).otherwise(F.col("text")).alias("text"),
    )
    t.merge_into(upd, ["doc_id"], change_feed=True)                 # v2
    t.delete_keys(
        docs.filter(F.col("doc_id") % 11 == 7).select("doc_id"),
        ["doc_id"], change_feed=True,
    )                                                               # v3
    start_bm25_index_sink(spark, src, idx, ckpt).awaitTermination()
    return bm25_from_index(
        spark, idx, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, top_k=_BM25_TOPK
    )


def _tfidf_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tfidf) for the same fixed term set: length-normalized
    term frequency × ln(N/(1+df)) — a genuinely different lexical
    scorer than BM25 (no saturation, no length prior), the second
    retriever of the hybrid-fusion query. Same broadcast-stats shape
    as BM25: two corpus scans, zero token-proportional shuffle."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("tk"))
    tf = {t: F.size(F.filter(F.col("tk"), _match(t))) for t in _BM25_TERMS}
    stats = toks.agg(
        F.count("*").cast("double").alias("n_docs"),
        *[
            F.count_if(F.array_contains("tk", t)).cast("double").alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    scored = toks.crossJoin(F.broadcast(stats))
    dl = F.size("tk").cast("double")
    score = None
    for t in _BM25_TERMS:
        part = (tf[t].cast("double") / dl) * F.log(
            F.col("n_docs") / (F.lit(1.0) + F.col(f"df_{t}"))
        )
        score = part if score is None else score + part
    # empty docs: 0/0 is NaN and Spark sorts NaN above every number —
    # guard identically on both engines
    score = F.when(dl > 0, score).otherwise(F.lit(0.0))
    return scored.select("doc_id", F.round(score, 6).alias("tfidf")).filter(
        F.col("tfidf") > 0
    )


_RRF_K, _RRF_PER, _RRF_TOPK = 60, 20, 10


def _hybrid_oracle() -> str:
    tfc = {t: f"len(list_filter(tk, x -> x = '{t}'))" for t in _BM25_TERMS}
    bm_terms = " + ".join(
        f"""(ln((s.n_docs - s.df_{t} + 0.5) / (s.df_{t} + 0.5) + 1.0)
            * (CAST({tfc[t]} AS DOUBLE) * {_BM25_K1 + 1.0})
            / (CAST({tfc[t]} AS DOUBLE)
               + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * len(tk) / s.avgdl)))"""
        for t in _BM25_TERMS
    )
    ti_terms = " + ".join(
        f"(CAST({tfc[t]} AS DOUBLE) / len(tk)) * ln(s.n_docs / (1.0 + s.df_{t}))"
        for t in _BM25_TERMS
    )
    dfs = ", ".join(
        f"CAST(COUNT(CASE WHEN list_contains(tk, '{t}') THEN 1 END) AS DOUBLE) AS df_{t}"
        for t in _BM25_TERMS
    )
    return f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents),
stats AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
           AVG(CAST(len(tk) AS DOUBLE)) AS avgdl, {dfs}
    FROM toks
),
bm AS (
    SELECT doc_id, ROUND({bm_terms}, 6) AS sc FROM toks, stats s
),
ti AS (
    SELECT doc_id,
           ROUND(CASE WHEN len(tk) > 0 THEN {ti_terms} ELSE 0.0 END, 6) AS sc
    FROM toks, stats s
),
bmr AS (
    SELECT doc_id, rnk FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id ASC) AS rnk
        FROM bm WHERE sc > 0
    ) WHERE rnk <= {_RRF_PER}
),
tir AS (
    SELECT doc_id, rnk FROM (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY sc DESC, doc_id ASC) AS rnk
        FROM ti WHERE sc > 0
    ) WHERE rnk <= {_RRF_PER}
),
tagged AS (
    SELECT doc_id, 'bm25' AS retr, rnk FROM bmr
    UNION ALL SELECT doc_id, 'tfidf' AS retr, rnk FROM tir
)
SELECT doc_id,
       ROUND(SUM(1.0 / ({_RRF_K} + rnk)), 9) AS rrf_score,
       COUNT(*) AS n_retrievers,
       MAX(CASE WHEN retr = 'bm25' THEN rnk END) AS rank_bm25,
       MAX(CASE WHEN retr = 'tfidf' THEN rnk END) AS rank_tfidf
FROM tagged
GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {_RRF_TOPK}
"""


@register(
    "doc_hybrid_search_rrf",
    tags=("search", "fusion", "ranking", "rrf"),
    oracle=_hybrid_oracle(),
)
def doc_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via RECIPROCAL-RANK FUSION — the standard
    production recipe for combining retrievers with incomparable score
    scales (here BM25 and length-normalized TF-IDF over the same term
    set; at 100 TB the second leg is the ANN retriever, which plugs
    into the same operator since RRF consumes only RANKS). Each
    retriever contributes its top-{per} as (doc_id, rank); the fusion
    is a union + one aggregation on doc_id
    (operators/relational.rrf_fuse) — no N-way join chain. The oracle
    replays both scorers and the fusion; contributions 1/(k+rank) are
    exact IEEE ops and two-operand addition is commutative, so the
    grouped sum is order-independent with two retrievers."""
    from filesystemagent_spark.operators.relational import grouped_top_k, rrf_fuse

    def ranked(scored: DataFrame, col: str) -> DataFrame:
        top = scored.orderBy(F.col(col).desc(), F.col("doc_id").asc()).limit(
            _RRF_PER
        )
        # rank over the already-TakeOrdered top slice (<= 20 rows)
        return grouped_top_k(
            top.withColumn("_one", F.lit(1)),
            ["_one"],
            [F.col(col).desc(), F.col("doc_id").asc()],
            _RRF_PER,
            keep_rank=True,
        ).select("doc_id", "rnk")

    bm = ranked(_bm25_scored(spark, sf_dir), "bm25")
    ti = ranked(_tfidf_scored(spark, sf_dir), "tfidf")
    return rrf_fuse(
        [("bm25", bm), ("tfidf", ti)],
        id_col="doc_id",
        k=_RRF_K,
        top_k=_RRF_TOPK,
    )


@register("doc_minhash_pairs", tags=("dedup", "lsh", "approx"))
def doc_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (the 100 TB dedup path; SURVEY §7.3
    phase 7). Approximate candidate generation, exact Jaccard verify —
    no SQL oracle; recall vs doc_near_dup_jaccard is asserted in
    tests/test_dedup.py."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.minhash_near_dup_pairs(
        docs, "doc_id", "text", shingle_n=3, num_hashes=64, bands=16, threshold=0.4
    ).orderBy("id_a", "id_b")


@register("doc_simhash_pairs", tags=("dedup", "simhash", "approx"))
def doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup pairs with pigeonhole block
    candidate generation — the constant-space fingerprint alternative
    to MinHash (stands in for the reference's perceptual-hash Hamming
    dedup, /root/reference/src/media_fingerprinting.py:228-276)."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.simhash_near_dup_pairs(
        docs, "doc_id", "text", bits=32, max_distance=3, block_bits=8
    ).orderBy("id_a", "id_b")


@register(
    "doc_curation_funnel",
    tags=("pipeline", "dedup", "text", "agg"),
    oracle=f"""
WITH s1 AS (
    SELECT doc_id, n_chars, lang, text FROM documents
),
s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
feats AS (
    SELECT doc_id, text, {_SQL_TOKS} AS toks FROM s2
),
scored AS (
    SELECT doc_id,
           ROUND(0.4 * LEAST(CAST(len(toks) AS DOUBLE) / 100.0, 1.0)
               + 0.4 * LEAST((CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE CAST({_sql_hits(T.STOPWORDS_EN)} AS DOUBLE) / len(toks) END) * 4.0, 1.0)
               + 0.2 * (1.0 - LEAST((CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(text) - length(regexp_replace(text, '{_SQL_PUNCT}', '', 'g')) AS DOUBLE)
                         / length(text) END) * 2.0, 1.0)), 6) AS quality
    FROM feats
),
s3 AS (
    SELECT s2.* FROM s2 JOIN scored USING (doc_id) WHERE quality >= 0.5
),
s4 AS (
    SELECT * FROM (
        SELECT s3.*, ROW_NUMBER() OVER (
            PARTITION BY md5(text) ORDER BY doc_id
        ) AS rn FROM s3
    ) WHERE rn = 1
)
SELECT * FROM (
    SELECT 1 AS stage, 'total' AS name,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM s1
    UNION ALL
    SELECT 2, 'lang_en', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'quality', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM s3
    UNION ALL
    SELECT 4, 'deduped', COUNT(*), CAST(SUM(n_chars) AS BIGINT) FROM s4
) ORDER BY stage
""",
)
def doc_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data curation pipeline as one query: language
    filter → quality filter → exact dedup keep-first, reporting
    survivors and bytes at every stage. This is the composition the
    individual operators exist for; at 100 TB each stage is a narrow
    projection/filter over one scan plus a single keep-first shuffle
    at the end, and the funnel report is the job's observability."""
    from filesystemagent_spark.operators.relational import keep_first

    docs = Catalog(spark, sf_dir).documents
    s1 = docs.select("doc_id", "n_chars", "lang", "text")
    s2 = s1.filter(F.col("lang") == "en")
    s3 = s2.withColumn("quality", F.round(T.quality_score(F.col("text")), 6)).filter(
        F.col("quality") >= 0.5
    )
    s4 = keep_first(
        s3.withColumn("h", F.md5("text")), ["h"], [F.col("doc_id").asc()]
    )

    def stage(df: DataFrame, n: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(n).alias("stage"),
            F.lit(name).alias("name"),
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
        ).select("stage", "name", "n_docs", "total_chars")

    return (
        stage(s1, 1, "total")
        .unionByName(stage(s2, 2, "lang_en"))
        .unionByName(stage(s3, 3, "quality"))
        .unionByName(stage(s4, 4, "deduped"))
        .orderBy("stage")
    )


@register(
    "part_name_fuzzy_pairs",
    tags=("dedup", "fuzzy", "blocking"),
    oracle="""
WITH names AS (SELECT DISTINCT p_name FROM part)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM names a JOIN names b ON a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 1
ORDER BY name_a, name_b
""",
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary matching: all part-name pairs within edit
    distance 1, via deletion-neighborhood blocking
    (operators/dedup.fuzzy_pairs_edit1). The oracle runs the naive
    quadratic levenshtein join — affordable for DuckDB at sf0.01,
    impossible at corpus scale — and must return the IDENTICAL pair
    set, proving the blocking loses nothing."""
    from filesystemagent_spark.operators.dedup import fuzzy_pairs_edit1

    names = Catalog(spark, sf_dir).part.select("p_name").distinct()
    return (
        fuzzy_pairs_edit1(names, "p_name")
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("name_a", "name_b")
    )


@register(
    "doc_tfidf_top_terms",
    tags=("text", "tfidf", "window"),
    oracle=f"""
WITH toks AS (
    SELECT doc_id, lang,
           unnest(regexp_extract_all(lower(text), '{T.WORD_RE}')) AS term
    FROM documents
), words AS (
    SELECT doc_id, lang, term FROM toks WHERE regexp_matches(term, '^[a-z]{{2,}}$')
), doc_freq AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY term
), lang_tf AS (
    SELECT lang, term, COUNT(*) AS tf FROM words GROUP BY lang, term
), n AS (
    SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
    SELECT lang, term, tf, df,
           ROUND(CAST(tf AS DOUBLE) * n_docs / df, 6) AS score
    FROM lang_tf JOIN doc_freq USING (term) CROSS JOIN n
)
SELECT lang, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, term) <= 5
ORDER BY lang, score DESC, term
""",
)
def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinguishing terms per language by idf-weighted
    frequency: tf_lang(term) × N / df(term). The linear-idf variant is
    deliberate — tf·N/df is a ratio of exact integers, so the double
    is bit-identical in any engine, where log-idf would hang the
    result on libm ulp agreement. The shape is the full TF-IDF
    pipeline: tokenize (JVM regexp, no UDF) → explode → doc-frequency
    agg → per-lang term agg → broadcast-joined scoring → windowed
    top-k; df is a term-keyed table the 100 TB run would persist and
    reuse as the vocabulary."""
    from pyspark.sql import Window

    docs = Catalog(spark, sf_dir).documents
    words = (
        docs.select("doc_id", "lang", F.explode(T.word_tokens(F.col("text"))).alias("term"))
        .filter(F.col("term").rlike("^[a-z]{2,}$"))
    )
    doc_freq = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    lang_tf = words.groupBy("lang", "term").agg(F.count("*").alias("tf"))
    # corpus size as a 1-row broadcast, not a driver-side .count() —
    # the whole query stays one lazy plan.
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        lang_tf.join(doc_freq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double") * F.col("n_docs") / F.col("df"), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 5)
        .drop("_rn")
        .orderBy("lang", F.col("score").desc(), "term")
    )


from filesystemagent_spark.functions.hashing import perm_params as _perm_params  # noqa: E402

_MH_N, _MH_BANDS, _MH_SEED = 16, 4, 42
_MH_VALUES = ", ".join(
    f"({i}, {a}::UBIGINT, {b}::UBIGINT)"
    for i, (a, b) in enumerate(_perm_params(_MH_N, _MH_SEED))
)


@register(
    "doc_minhash_pairs_checkable",
    headline=True,
    tags=("dedup", "lsh", "minhash", "cross-engine"),
    oracle=f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS tk
    FROM documents
), shingled AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
               END) AS sh
    FROM toks
), docs AS (
    SELECT doc_id, sh FROM shingled WHERE len(sh) > 0
), hs AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t.s), 1, 15)) AS UBIGINT) % 2038074743 AS hv
    FROM docs, UNNEST(docs.sh) AS t(s)
), params(i, a, b) AS (VALUES {_MH_VALUES}),
sig AS (
    SELECT doc_id, p.i, MIN((p.a * hv + p.b) % 2038074743) AS mv
    FROM hs CROSS JOIN params p
    GROUP BY doc_id, p.i
), bands AS (
    SELECT doc_id, i // {_MH_N // _MH_BANDS} AS band,
           string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS band_val
    FROM sig GROUP BY doc_id, i // {_MH_N // _MH_BANDS}
), bucket_ok AS (
    -- the production pipeline's max_bucket cap (1000), replayed
    SELECT band, band_val FROM bands GROUP BY band, band_val HAVING COUNT(*) <= 1000
), bands_capped AS (
    SELECT bands.* FROM bands JOIN bucket_ok USING (band, band_val)
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands_capped a JOIN bands_capped b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), verified AS (
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
                 6) AS jaccard
    FROM cand
    JOIN docs da ON da.doc_id = cand.id_a
    JOIN docs db ON db.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.4
ORDER BY id_a, id_b
""",
)
def doc_minhash_pairs_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with the ENTIRE approximate pipeline replayed by the
    oracle: md5-based shingle hashes, the same 16 universal-hash
    permutations, the same 4-band bucketing, the same exact-Jaccard
    verify — DuckDB computes signature → bands → candidates → verified
    pairs independently and must hash-match. The production variant
    (`doc_minhash_pairs`) keeps the faster JVM xxhash64 base and
    murmur band keys; this query proves the ALGORITHM, including which
    pairs LSH surfaces, not just the verified survivors."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.minhash_near_dup_pairs_checkable(
        docs, "doc_id", "text",
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS,
        threshold=0.4, seed=_MH_SEED,
    ).orderBy("id_a", "id_b")


_MH_INCREMENTAL_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS tk
    FROM documents
), shingled AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
               END) AS sh
    FROM toks
), docs AS (
    SELECT doc_id, sh FROM shingled WHERE len(sh) > 0
), hs AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t.s), 1, 15)) AS UBIGINT) % 2038074743 AS hv
    FROM docs, UNNEST(docs.sh) AS t(s)
), params(i, a, b) AS (VALUES {_MH_VALUES}),
sig AS (
    SELECT doc_id, p.i, MIN((p.a * hv + p.b) % 2038074743) AS mv
    FROM hs CROSS JOIN params p
    GROUP BY doc_id, p.i
), bands AS (
    SELECT doc_id, i // {_MH_N // _MH_BANDS} AS band,
           string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS band_val
    FROM sig GROUP BY doc_id, i // {_MH_N // _MH_BANDS}
), corpus_bands AS (
    SELECT * FROM bands WHERE doc_id % 4 <> 0
), batch_bands AS (
    SELECT * FROM bands WHERE doc_id % 4 = 0
), corpus_ok AS (
    SELECT band, band_val FROM corpus_bands
    GROUP BY band, band_val HAVING COUNT(*) <= 1000
), index_bands AS (
    SELECT corpus_bands.* FROM corpus_bands JOIN corpus_ok USING (band, band_val)
), batch_ok AS (
    SELECT band, band_val FROM batch_bands
    GROUP BY band, band_val HAVING COUNT(*) <= 1000
), batch_capped AS (
    SELECT batch_bands.* FROM batch_bands JOIN batch_ok USING (band, band_val)
), cross_cand AS (
    SELECT DISTINCT b.doc_id AS id_new, c.doc_id AS dup_of
    FROM batch_capped b JOIN index_bands c
      ON b.band = c.band AND b.band_val = c.band_val
), within_cand AS (
    SELECT DISTINCT b.doc_id AS id_new, a.doc_id AS dup_of
    FROM batch_capped a JOIN batch_capped b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), cand AS (
    SELECT id_new, dup_of, 'corpus' AS src FROM cross_cand
    UNION ALL
    SELECT id_new, dup_of, 'batch' AS src FROM within_cand
), verified AS (
    SELECT id_new, dup_of,
           ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
                 6) AS jaccard,
           src
    FROM cand
    JOIN docs da ON da.doc_id = cand.id_new
    JOIN docs db ON db.doc_id = cand.dup_of
)
SELECT id_new, dup_of, jaccard, src FROM verified WHERE jaccard >= 0.4
ORDER BY id_new, dup_of
"""


@register(
    "doc_minhash_incremental",
    headline=True,
    tags=("dedup", "lsh", "minhash", "incremental", "cross-engine"),
    oracle=_MH_INCREMENTAL_ORACLE,
)
def doc_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup — the continuous-ingest shape a 100 TB
    training pipeline actually runs: the corpus (doc_id % 4 != 0) is
    represented ONLY by its prebuilt LSH band index
    (`minhash_band_index` — in production stored in a TxTable bucketed
    on the band key; tests/test_dedup.py round-trips exactly that) and
    the incoming batch (doc_id % 4 == 0) is the only data that runs
    the signature pipeline. Candidates come from a one-sided join of
    batch bands against the index plus a within-batch self-join;
    corpus text is touched only for surfaced candidates (semi-join
    prune, plan-gated). The oracle replays the ENTIRE split pipeline —
    signatures, corpus index with its bucket cap, batch cap, one-sided
    + within candidates, exact-Jaccard verify — in the md5/slice hash
    family and must hash-match."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    index = D.minhash_band_index(
        corpus, "doc_id", "text",
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS,
        seed=_MH_SEED, base="md5", band_key="slice",
    )
    return D.minhash_dedup_incremental(
        corpus, batch, index, "doc_id", "text",
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS,
        seed=_MH_SEED, threshold=0.4, base="md5", band_key="slice",
        round_to=6,
    ).orderBy("id_new", "dup_of")


@register(
    "doc_minhash_incremental_stored",
    tags=("dedup", "lsh", "minhash", "incremental", "txtable",
          "stats-pruning", "cross-engine"),
    oracle=_MH_INCREMENTAL_ORACLE,
)
def doc_minhash_incremental_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`doc_minhash_incremental` answered from a STORED band index
    under a bucket-footprint-pruned scan: the corpus's
    UNCAPPED band rows live in a TxTable clustered on
    (band, band_hash); the batch's distinct band keys become a DNF
    predicate the manifest stats evaluate before Spark plans the scan
    (operators/dedup.minhash_dedup_against_stored_index), and the
    bucket cap is applied at read over the probed buckets — which
    equals the in-memory build's corpus-wide cap exactly, so the SAME
    oracle replays both forms. At 100 TB this is the difference
    between scanning the whole band index per batch and reading
    O(batch·bands) buckets' files; tests/test_dedup.py gates the
    files actually read."""

    from filesystemagent_spark.operators.dedup import (
        minhash_dedup_against_stored_index,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    stage = staging_dir("mh_stored_idx_")
    docs = _doc_text_rebalanced(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    batch = docs.filter(F.col("doc_id") % 4 == 0)
    mh = dict(shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS,
              seed=_MH_SEED, base="md5", band_key="slice")
    path = os.path.join(stage, "bandidx")
    TxTable(path).init(
        D.minhash_band_index(
            corpus, "doc_id", "text", max_bucket=None, **mh
        ).repartitionByRange(8, "band", "band_hash")
    )
    return minhash_dedup_against_stored_index(
        spark, corpus, batch, path, "doc_id", "text",
        max_bucket=1000, threshold=0.4, round_to=6, **mh,
    ).orderBy("id_new", "dup_of")


_MH_INC_SOURCE = """(
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 1 THEN text || ' lsh shift'
                ELSE text END AS text
    FROM documents
    WHERE doc_id % 11 <> 5
)"""


@register(
    "doc_minhash_incremental_index",
    tags=("dedup", "lsh", "minhash", "txtable", "change-feed",
          "incremental", "cross-engine"),
    oracle=f"""
WITH src AS (
    SELECT * FROM {_MH_INC_SOURCE} s
), toks AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '') AS tk
    FROM src
), shingled AS (
    SELECT doc_id,
           list_distinct(
               CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
                    ELSE list_transform(range(1, len(tk) - 1),
                                        i -> array_to_string(tk[i:i+2], ' '))
               END) AS sh
    FROM toks
), docs AS (
    SELECT doc_id, sh FROM shingled WHERE len(sh) > 0
), hs AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t.s), 1, 15)) AS UBIGINT) % 2038074743 AS hv
    FROM docs, UNNEST(docs.sh) AS t(s)
), params(i, a, b) AS (VALUES {_MH_VALUES}),
sig AS (
    SELECT doc_id, p.i, MIN((p.a * hv + p.b) % 2038074743) AS mv
    FROM hs CROSS JOIN params p
    GROUP BY doc_id, p.i
), bands AS (
    SELECT doc_id, i // {_MH_N // _MH_BANDS} AS band,
           string_agg(CAST(mv AS VARCHAR), ',' ORDER BY i) AS band_val
    FROM sig GROUP BY doc_id, i // {_MH_N // _MH_BANDS}
), bucket_ok AS (
    SELECT band, band_val FROM bands GROUP BY band, band_val HAVING COUNT(*) <= 1000
), bands_capped AS (
    SELECT bands.* FROM bands JOIN bucket_ok USING (band, band_val)
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands_capped a JOIN bands_capped b
      ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
), verified AS (
    SELECT id_a, id_b,
           ROUND(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))),
                 6) AS jaccard
    FROM cand
    JOIN docs da ON da.doc_id = cand.id_a
    JOIN docs db ON db.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.4
ORDER BY id_a, id_b
""",
)
def doc_minhash_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY MAINTAINED LSH band index — the dedup
    leg of the maintained-artifact family (join views, BM25 postings,
    IVF cells and the MinHash band index). The corpus lives in a TxTable and mutates —
    an initial subset (doc_id % 3 != 0), then one merge that INSERTS
    the held-out docs and UPDATES every doc_id % 7 == 1 text
    (appending ' lsh shift', deliberately changing shingles and
    signatures), then a keyed DELETE of doc_id % 11 == 5 — while
    `start_minhash_index_sink` (operators/dedup.py) tracks it from the
    CHANGE FEED: touched docs' band rows die via file-backed key
    tombstones and only the post-image texts run the signature
    pipeline (the corpus is never re-shingled, the index never
    rescanned). The final near-dup PAIR SET is answered from the
    maintained index alone (`minhash_pairs_from_index`: read-time
    bucket cap + banded self-join + semi-join-pruned exact-Jaccard
    verify) and must be BIT-IDENTICAL to the full checkable pipeline
    over the final corpus — which is exactly what the oracle computes
    over the SQL-replayed DML. A missed band retraction, a stale
    signature, or a double-merged row surfaces or hides a pair and
    shifts the hash."""

    from filesystemagent_spark.operators.dedup import (
        minhash_pairs_from_index,
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    stage = staging_dir("mh_inc_idx_")
    src = os.path.join(stage, "docs")
    idx = os.path.join(stage, "index")
    ckpt = os.path.join(stage, "ckpt")
    docs = _doc_text_rebalanced(spark, sf_dir)
    mh = dict(
        shingle_n=3, num_hashes=_MH_N, bands=_MH_BANDS, seed=_MH_SEED,
        base="md5", band_key="slice",
    )
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 3 != 0))                   # v1
    start_minhash_index_sink(
        spark, src, idx, ckpt, id_col="doc_id", text_col="text", **mh
    ).awaitTermination()
    upd = docs.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 1)
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.col("text"), F.lit(" lsh shift")),
        ).otherwise(F.col("text")).alias("text"),
    )
    t.merge_into(upd, ["doc_id"], change_feed=True)                 # v2
    t.delete_keys(
        docs.filter(F.col("doc_id") % 11 == 5).select("doc_id"),
        ["doc_id"], change_feed=True,
    )                                                               # v3
    start_minhash_index_sink(
        spark, src, idx, ckpt, id_col="doc_id", text_col="text", **mh
    ).awaitTermination()
    return minhash_pairs_from_index(
        t.read(spark), TxTable(idx).read(spark), "doc_id", "text",
        shingle_n=3, max_bucket=1000, threshold=0.4, round_to=6,
    ).orderBy("id_a", "id_b")


@register(
    "doc_simhash_pairs_checkable",
    tags=("dedup", "simhash", "cross-engine"),
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
), th AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(t.tok), 1, 15)) AS UBIGINT) AS h
    FROM toks, UNNEST(toks.tk) AS t(tok)
    WHERE len(tk) > 0
), votes AS (
    SELECT doc_id, b.i AS bit,
           SUM(CASE WHEN (h >> CAST(b.i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM th CROSS JOIN (SELECT UNNEST(range(0, 32)) AS i) b
    GROUP BY doc_id, b.i
), fp AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::UBIGINT << CAST(bit AS INT)) ELSE 0 END)
                AS BIGINT) AS f
    FROM votes GROUP BY doc_id
), blocks AS (
    SELECT doc_id, f, t.b AS blk, (f >> CAST(t.b * 8 AS INT)) & 255 AS blk_val
    FROM fp CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b) t
), pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.f, b.f)) AS INT) AS distance
    FROM blocks a JOIN blocks b
      ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= 3
)
SELECT id_a, id_b, distance FROM pairs ORDER BY id_a, id_b
""",
)
def doc_simhash_pairs_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the oracle replaying the complete
    algorithm — md5 token hashes, 32-bit majority vote, pigeonhole
    block candidates, Hamming verify — independently in SQL. Together
    with `doc_minhash_pairs_checkable` this makes both approximate
    dedup families exactly auditable, not just recall-tested."""
    docs = _doc_text_rebalanced(spark, sf_dir)
    return D.simhash_near_dup_pairs_checkable(
        docs, "doc_id", "text", bits=32, max_distance=3, block_bits=8
    ).orderBy("id_a", "id_b")


# Pluggable "sensitive-term" pattern (word-boundary alternation kept
# RE2-compatible so the oracle's regex engine agrees with Java's).
# Production swaps in email/phone/ID patterns; the synthetic corpus
# has none, so a dictionary pattern keeps the query non-vacuous.
_REDACT_RE = r"\b(customer|order|value|part)\b"


@register(
    "doc_term_redaction",
    tags=("text", "redaction", "regex"),
    oracle=f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, '{_REDACT_RE}')) AS BIGINT) AS n_redacted,
       CAST(LENGTH(regexp_replace(text, '{_REDACT_RE}', '[REDACTED]', 'g')) AS BIGINT)
           AS redacted_len,
       md5(regexp_replace(text, '{_REDACT_RE}', '[REDACTED]', 'g')) AS redacted_md5
FROM documents
ORDER BY doc_id
""",
)
def doc_term_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction pass: replace every dictionary term with a
    placeholder, count the hits, and fingerprint the scrubbed text.
    Pure JVM regex (regexp_count/regexp_replace inside whole-stage
    codegen — no UDF in the hot path); the md5 of the full redacted
    body makes the oracle verify the REPLACEMENT ITSELF, not just the
    hit counts. At scale this runs map-side with zero shuffles."""
    docs = Catalog(spark, sf_dir).documents
    red = F.regexp_replace(F.col("text"), _REDACT_RE, "[REDACTED]")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_REDACT_RE)).cast("long").alias("n_redacted"),
        F.length(red).cast("long").alias("redacted_len"),
        F.md5(red).alias("redacted_md5"),
    ).orderBy("doc_id")
