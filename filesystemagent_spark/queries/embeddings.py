"""Similarity-search queries over the `embeddings` table.

Brute-force cosine top-k carries a DuckDB oracle (exact double math,
element order preserved in both engines); the sign-LSH variant is
approximate by design → rows-only, with recall asserted in
tests/test_similarity.py against the brute-force result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filesystemagent_spark.caching import staging_dir
from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.operators import similarity as S
from filesystemagent_spark.functions import vectors as V
from filesystemagent_spark.queries import register

DIM = 64
N_QUERIES = 10
K = 5

# DuckDB double-precision dot product with left-to-right element order
# (matches F.aggregate's sequential fold).
_SQL_DOT = (
    "list_sum(list_transform(generate_series(1, {dim}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform(generate_series(1, {dim}), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


@register(
    "embedding_norms",
    tags=("vector", "projection"),
    oracle=f"""
SELECT vec_id, label,
       ROUND({_SQL_NORM.format(dim=DIM, a='embedding')}, 6) AS l2_norm
FROM embeddings
ORDER BY vec_id
""",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via codegen'd aggregate — the unit-norm
    sanity projection before any ANN indexing."""
    emb = Catalog(spark, sf_dir).embeddings
    return emb.select(
        "vec_id", "label", F.round(V.l2_norm(F.col("embedding")), 6).alias("l2_norm")
    ).orderBy("vec_id")


_knn_dot = _SQL_DOT.format(dim=DIM, a="q.embedding", b="c.embedding")
_knn_qn = _SQL_NORM.format(dim=DIM, a="q.embedding")
_knn_cn = _SQL_NORM.format(dim=DIM, a="c.embedding")


@register(
    "embedding_knn",
    headline=True,
    tags=("vector", "topk", "join"),
    oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_knn_dot} / ({_knn_qn} * {_knn_cn}), 6) AS cosine
    FROM embeddings q
    CROSS JOIN embeddings c
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
""",
)
def embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{K} for the first {N_QUERIES} vectors —
    broadcast query set × one corpus scan, rank window per query.
    Ranking uses the rounded cosine + id tie-break so both engines
    select identical rows even at float-ulp disagreements."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    # norms materialize once per row before the join (not per pair);
    # same fold order and divide as inline cosine, so the oracle hash
    # is unchanged while per-pair work drops to one dot product
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("_qv"),
            V.l2_norm(F.col("embedding")).alias("_qn"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_cv"),
        V.l2_norm(F.col("embedding")).alias("_cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")), 6
            ),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    from filesystemagent_spark.operators.relational import grouped_top_k

    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        K,
        rank_col="rnk",
        keep_rank=True,
    ).orderBy("query_id", "rnk")


@register(
    "embedding_label_centroids",
    tags=("vector", "agg"),
    oracle=f"""
SELECT label, i AS pos,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 6) AS centroid_val
FROM embeddings
CROSS JOIN generate_series(1, {DIM}) AS t(i)
GROUP BY label, i
ORDER BY label, pos
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid by element position (posexplode + avg) —
    the aggregation shape behind IVF coarse quantizers. At scale the
    explode multiplies rows by DIM but each row is 3 narrow columns;
    partial aggregation collapses them map-side."""
    emb = Catalog(spark, sf_dir).embeddings
    return (
        emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
        .select("label", (F.col("pos0") + 1).alias("pos"), F.col("val").cast("double").alias("val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
        .orderBy("label", "pos")
    )


@register("embedding_ann_recall", tags=("vector", "ann", "eval"))
def embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class query: recall@{K} of
    the sign-LSH index against the exact brute-force ranking, per
    query and overall — the measurement any production ANN deployment
    ships next to the index itself. Both rankings and their
    intersection are computed in one DataFrame program (no driver-side
    set math); the exact side is the same broadcast-once corpus scan
    as `embedding_knn`. Approximate-by-design (LSH side), so recorded
    rows-only; the quality bar (recall >= 0.9 at these settings) is
    asserted in tests/test_similarity.py."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = S.knn_bruteforce(queries, emb, k=K).select("query_id", "neighbor_id")
    approx = S.knn_lsh(
        queries, emb, dim=DIM, k=K, n_planes=2, n_tables=8
    ).select("query_id", "neighbor_id")
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    per_q = (
        exact.groupBy("query_id")
        .agg(F.count("*").alias("n_true"))
        .join(
            hits.groupBy("query_id").agg(F.count("*").alias("n_hit")),
            "query_id",
            "left",
        )
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)).cast("long"))
        .withColumn(
            "recall", F.col("n_hit").cast("double") / F.col("n_true").cast("double")
        )
    )
    return per_q.orderBy("query_id")


NEAR_DUP_THRESHOLD = 0.35  # calibrated to the synthetic corpus (max pair ~0.51)

_pair_dot = _SQL_DOT.format(dim=DIM, a="a.embedding", b="b.embedding")
_pair_an = _SQL_NORM.format(dim=DIM, a="a.embedding")
_pair_bn = _SQL_NORM.format(dim=DIM, a="b.embedding")


@register(
    "embedding_near_dup",
    tags=("vector", "dedup", "join"),
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_pair_dot} / ({_pair_an} * {_pair_bn}), 6) AS cosine
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE ROUND({_pair_dot} / ({_pair_an} * {_pair_bn}), 6) >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs — the dedup
    baseline the LSH/IVF paths are measured against. Thresholds on the
    rounded cosine so both engines agree at the float boundary.
    Physical plan is the blocked (block-matrix) form — bit-identical
    doubles to the row-at-a-time join (asserted in
    tests/test_similarity.py), ~30x its speed at sf0.1."""
    emb = Catalog(spark, sf_dir).embeddings
    return S.cosine_near_dup_pairs_blocked(
        emb, id_col="vec_id", vec_col="embedding", threshold=NEAR_DUP_THRESHOLD
    ).orderBy("id_a", "id_b")


@register("embedding_knn_ivf", tags=("vector", "ivf", "approx"))
def embedding_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via an IVF index: label-derived centroids as
    the coarse quantizer, nprobe=3 cells probed per query. Rows-only
    check; recall vs embedding_knn asserted in
    tests/test_similarity.py. STATIC nprobe: measured 0.49 recall@10
    at sf0.1 on this weak-structure corpus (RECALL.md) — the honest
    default surface is `embedding_knn_ivf_auto` below, which escalates
    nprobe to a recall target."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = S.centroids_from_labels(emb, label_col="label", vec_col="embedding", dim=DIM)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_ivf(
        queries, emb, centroids, id_col="vec_id", vec_col="embedding", k=K, nprobe=3
    ).orderBy("query_id", "rnk")


@register("embedding_knn_lsh", tags=("vector", "lsh", "approx"))
def embedding_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH buckets — the scale
    path where the cross join is impossible. Rows-only check; recall
    vs embedding_knn asserted in tests/test_similarity.py. STATIC
    parameters (4 planes x 4 tables): measured 0.40 recall@10 at sf0.1
    on this weak-structure synthetic corpus (RECALL.md) — the honest
    default surface is `embedding_knn_lsh_auto` below, which tunes to
    a recall target instead of assuming neighbor structure."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_lsh(
        queries,
        emb,
        id_col="vec_id",
        vec_col="embedding",
        dim=DIM,
        k=K,
        n_planes=4,
        n_tables=4,
    ).orderBy("query_id", "rnk")


# the recall bar the auto-tuned registry entries promise; pytest gates
# assert the returned meta's estimate meets it on the test corpora and
# that the emitted rows agree with the exact baseline at that level
AUTO_TARGET_RECALL = 0.8


def embedding_knn_ivf_auto_with_meta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """The registered IVF query's full result: (rows, tuner meta).
    Exposed so the pytest gate can assert meta['recall_estimate'] >=
    AUTO_TARGET_RECALL on the same path the registry runs."""
    from filesystemagent_spark.operators.anntune import knn_ivf_auto

    emb = Catalog(spark, sf_dir).embeddings
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out, meta = knn_ivf_auto(
        queries, emb, centroids, id_col="vec_id", vec_col="embedding",
        k=K, target_recall=AUTO_TARGET_RECALL, sample_queries=N_QUERIES,
    )
    return out.orderBy("query_id", "rnk"), meta


@register(
    "embedding_knn_ivf_auto",
    tags=("vector", "ivf", "approx", "auto-tuned"),
)
def embedding_knn_ivf_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via IVF with TARGET-RECALL auto-tuning
    (operators/anntune.py): nprobe escalates until the sampled recall
    estimate meets {AUTO_TARGET_RECALL} (worst case nprobe = n_cells,
    which is exact — the tuner provably terminates met). This is the
    honest default ANN surface: 0.94 recall@10 measured at sf0.1
    (RECALL.md) vs 0.49 for the static default. Rows-only check;
    recall + agreement-vs-exact gated in tests/test_similarity.py."""
    return embedding_knn_ivf_auto_with_meta(spark, sf_dir)[0]


def embedding_knn_lsh_auto_with_meta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """The registered LSH query's full result: (rows, tuner meta)."""
    from filesystemagent_spark.operators.anntune import knn_lsh_auto

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out, meta = knn_lsh_auto(
        queries, emb, id_col="vec_id", vec_col="embedding", dim=DIM,
        k=K, target_recall=AUTO_TARGET_RECALL, sample_queries=N_QUERIES,
    )
    return out.orderBy("query_id", "rnk"), meta


@register(
    "embedding_knn_lsh_auto",
    tags=("vector", "lsh", "approx", "auto-tuned"),
)
def embedding_knn_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k via sign-LSH with TARGET-RECALL auto-tuning:
    walks the (n_planes, n_tables) ladder until the sampled recall
    estimate meets {AUTO_TARGET_RECALL}; unlike IVF the densest rung
    is not provably exact, so on pathological corpora the meta carries
    met_target=False and the best rung found (0.82 recall@10 measured
    at sf0.1, RECALL.md, vs 0.40 static). Rows-only check; recall +
    agreement-vs-exact gated in tests/test_similarity.py."""
    return embedding_knn_lsh_auto_with_meta(spark, sf_dir)[0]


def embedding_knn_pq_auto_with_meta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """The registered PQ-auto query's full result: (rows, tuner meta).
    Exposed so the pytest gate can assert meta['recall_estimate'] >=
    AUTO_TARGET_RECALL on the same path the registry runs."""
    from filesystemagent_spark.caching import track_persist
    from filesystemagent_spark.operators.anntune import knn_pq_auto

    emb = track_persist(S.normalize(Catalog(spark, sf_dir).embeddings))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    book = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    codes = track_persist(
        S.pq_encode(
            emb, book, id_col="vec_id", vec_col="embedding", dim=DIM,
            m=8, k=16,
        )
    )
    out, meta = knn_pq_auto(
        queries, codes, book, emb, id_col="vec_id",
        vec_col="embedding", dim=DIM, m=8, k_cells=16, k=K,
        target_recall=AUTO_TARGET_RECALL, sample_queries=N_QUERIES,
    )
    return out.orderBy("query_id", "rnk"), meta


@register(
    "embedding_knn_pq_auto",
    tags=("vector", "pq", "approx", "auto-tuned"),
)
def embedding_knn_pq_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with TARGET-RECALL auto-tuned rerank
    depth (the tuner family beside ivf_auto / lsh_auto): ADC scans the
    16x-compressed codes, the tuner doubles the exact-rerank candidate
    depth until the sampled recall meets
    {AUTO_TARGET_RECALL}, terminating provably met at rerank = corpus
    size (exact rescore of everything). The static embedding_knn_pq's
    fixed top-50 rerank measured 0.41 recall@10 at sf0.1 (RECALL.md);
    this surface reports its quality instead of assuming it. Rows-only
    check; recall + agreement-vs-exact gated in
    tests/test_similarity.py."""
    return embedding_knn_pq_auto_with_meta(spark, sf_dir)[0]


@register(
    "embedding_stored_ivf_incremental",
    tags=("vector", "ivf", "txtable", "change-feed", "incremental"),
)
def embedding_stored_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY MAINTAINED vector index (the vector leg of the
    maintained-artifact trilogy beside the join views and the
    incremental BM25 index): the embedding corpus lives in a TxTable
    and mutates — initial three quarters, then a merge that INSERTS
    the held-out quarter and UPDATES every vec_id%7==2 embedding to
    its reverse (moving those vectors between cells), then a keyed
    DELETE of vec_id%9==5 — while
    `operators/similarity.start_ivf_index_sink` tracks the stored
    cell-assignment table from the CHANGE FEED (touched ids die via
    file-backed key tombstones, post-images assign against the FIXED
    stored centroids and merge back; the corpus is never rescanned).
    The final top-k is answered purely from the stored tables.
    Approximate by construction → rows-only; the bit-exact
    maintained-vs-fresh-assign invariant and the stored-vs-in-memory
    answer equality are pinned in
    tests/test_similarity.py::test_ivf_feed_sink_tracks_dml."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    stage = staging_dir("ivf_inc_")
    src = _os.path.join(stage, "corpus")
    idx = _os.path.join(stage, "index")
    ckpt = _os.path.join(stage, "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0.select("vec_id", "embedding"))        # v1
    # the coarse quantizer trains ONCE on the initial labeled corpus
    # and stays fixed between re-trains (the Faiss deploy recipe)
    TxTable(_os.path.join(idx, "centroids")).init(
        S.centroids_from_labels(
            corpus0, label_col="label", vec_col="embedding", dim=DIM
        )
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    t = TxTable(src)
    upd = emb.filter(
        (F.col("vec_id") % 4 == 0) | (F.col("vec_id") % 7 == 2)
    ).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 7 == 2, F.reverse(F.col("embedding"))
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    t.merge_into(upd, ["vec_id"], change_feed=True)                 # v2
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )                                                               # v3
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    stored_centroids = TxTable(_os.path.join(idx, "centroids")).read(spark)
    return S.knn_ivf(
        queries, None,
        stored_centroids,
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
        corpus_cells=S.read_cells_for_queries(
            spark, _os.path.join(idx, "cells"), stored_centroids, queries,
            id_col="vec_id", vec_col="embedding", nprobe=2,
        ),
    ).orderBy("query_id", "rnk")


def _duck_plane_dot(vec: str, plane: list[float]) -> str:
    """DuckDB replay of the Spark-side sign-LSH fold
    (functions/pqkernels.make_lsh_sigs_udf): identical term order,
    identical repr() coefficient literals, left-associative `+` — the
    same IEEE operation sequence (the Arrow kernel accumulates
    dimension-by-dimension in index order for exactly this reason), so
    the sign bits match the Spark side bit-for-bit (no libm, no
    reduction-order ambiguity)."""
    return " + ".join(
        f"CAST({vec}[{i + 1}] AS DOUBLE) * {w!r}" for i, w in enumerate(plane)
    )


_LSH_NP, _LSH_NT, _LSH_SEED = 3, 6, 42  # must match the Spark call below


def _lsh_buckets_sql() -> str:
    """Per-table sign-LSH signatures as a UNION ALL, replaying
    operators/similarity._multi_table_buckets (disjoint seeds per
    table, bit i weight 1<<i)."""
    selects = []
    for t in range(_LSH_NT):
        planes = S._hyperplanes(DIM, _LSH_NP, _LSH_SEED + 1000 * t)
        bits = " + ".join(
            f"(CASE WHEN ({_duck_plane_dot('embedding', p)}) >= 0 "
            f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for i, p in enumerate(planes)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, {bits} AS sig FROM embeddings")
    return "\nUNION ALL\n".join(selects)


@register(
    "embedding_near_dup_lsh",
    tags=("vector", "dedup", "lsh", "scale"),
    oracle=f"""
WITH buck AS (
{_lsh_buckets_sql()}
),
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM buck a
    JOIN buck b ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT c.id_a, c.id_b,
       ROUND({_pair_dot} / ({_pair_an} * {_pair_bn}), 6) AS cosine
FROM cand c
JOIN embeddings a ON a.vec_id = c.id_a
JOIN embeddings b ON b.vec_id = c.id_b
WHERE ROUND({_pair_dot} / ({_pair_an} * {_pair_bn}), 6) >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for embedding_near_dup: sign-LSH bucketed
    candidate generation + exact cosine verify — and, because the
    hyperplanes are seeded deterministic literals, the WHOLE pipeline
    (plane signs → multi-table buckets → candidate pairs → rounded
    cosine) is replayed by the DuckDB oracle and hash-matched, the
    same discipline as doc_minhash_pairs_checkable. Candidate volume
    shrinks ~2^n_planes per table; no O(n²) stage anywhere, so this is
    the form you'd run at 100 TB. Recall vs the exact pair set is
    additionally asserted in tests/test_similarity.py."""
    emb = Catalog(spark, sf_dir).embeddings
    return S.cosine_near_dup_pairs_lsh(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        dim=DIM,
        threshold=NEAR_DUP_THRESHOLD,
        n_planes=_LSH_NP,
        n_tables=_LSH_NT,
        seed=_LSH_SEED,
    ).orderBy("id_a", "id_b")


@register("embedding_knn_int8", tags=("vector", "quantization", "approx"))
def embedding_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k over int8-quantized vectors (4× smaller corpus; the
    per-vector scales cancel inside cosine, so no dequantize pass).
    Rows-only at the gate; recall vs the float32 baseline is pinned in
    tests/test_similarity.py."""
    from filesystemagent_spark.operators.similarity import knn_bruteforce_int8

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_bruteforce_int8(queries, emb, k=K).orderBy("query_id", "rnk")


@register("embedding_knn_ivf_kmeans", tags=("vector", "ivf", "kmeans", "approx"))
def embedding_knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with an UNSUPERVISED coarse quantizer: Lloyd's k-means run
    as pure DataFrame ops (deterministic md5-ordered seeding, broadcast
    assign, posexplode mean update) — the production index-build path
    when no label partition exists. Rows-only check; convergence and
    recall vs embedding_knn asserted in tests/test_similarity.py."""
    emb = Catalog(spark, sf_dir).embeddings
    centroids = S.kmeans_centroids(
        emb, id_col="vec_id", vec_col="embedding", k=16, max_iter=3
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return S.knn_ivf(
        queries, emb, centroids, id_col="vec_id", vec_col="embedding", k=K, nprobe=4
    ).orderBy("query_id", "rnk")


@register("embedding_knn_pq", tags=("vector", "pq", "approx"))
def embedding_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with exact rerank — the compressed
    100 TB path: train m=8 sub-codebooks (k-means per subspace, md5-
    deterministic), encode the corpus to m uint codes (16x smaller
    than raw float32, so the query scan is bandwidth-light), score by
    asymmetric-distance lookup tables, then exactly rerank the top-50
    candidates. Rows-only check; recall vs embedding_knn asserted in
    tests/test_similarity.py. STATIC rerank depth: measured 0.41
    recall@10 at sf0.1 on this weak-structure corpus (RECALL.md) — the
    honest default surface is `embedding_knn_pq_auto` below, which
    escalates the rerank depth to a recall target.

    Codebooks train on vectors normalized to unit L2, making PQ's L2
    ranking equal cosine ranking (operators/similarity.normalize).
    """
    from filesystemagent_spark.caching import track_persist
    from filesystemagent_spark.functions import vectors as V
    from filesystemagent_spark.operators.relational import grouped_top_k

    emb = track_persist(S.normalize(Catalog(spark, sf_dir).embeddings))
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    book = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16, max_iter=2
    )
    codes = S.pq_encode(emb, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16)
    cand = S.knn_pq(
        queries, codes, book, dim=DIM, m=8, k_cells=16, k=50
    ).select("query_id", "neighbor_id")
    rer = (
        cand.join(
            queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")),
            "query_id",
        )
        .join(
            emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("_cv")),
            "neighbor_id",
        )
        .withColumn("cosine", F.round(V.cosine(F.col("_qv"), F.col("_cv")), 6))
    )
    return grouped_top_k(
        rer.select("query_id", "neighbor_id", "cosine"),
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        K,
        keep_rank=True,
    ).orderBy("query_id", "rnk")


_sd_dot = _SQL_DOT.format(dim=DIM, a="a.embedding", b="e.embedding")
_sd_an = _SQL_NORM.format(dim=DIM, a="a.embedding")
_sd_en = _SQL_NORM.format(dim=DIM, a="e.embedding")


@register(
    "embedding_semdedup",
    tags=("vector", "dedup", "semantic"),
    oracle=f"""
WITH dups AS (
    SELECT DISTINCT e.vec_id
    FROM embeddings e
    JOIN embeddings a ON a.label = e.label AND a.vec_id < e.vec_id
    WHERE ROUND({_sd_dot} / ({_sd_an} * {_sd_en}), 6) >= {NEAR_DUP_THRESHOLD}
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
ORDER BY e.vec_id
""",
)
def embedding_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: within each cluster (the label
    column stands in for the k-means assignment —
    `operators/similarity.kmeans_centroids` produces it unsupervised),
    drop any vector whose cosine to a LOWER-ID clustermate crosses the
    threshold; keep-first is the same deterministic survivor rule the
    exact dedup family uses. The pair search never leaves a cluster:
    the label equi-join makes candidate generation O(Σ cluster²)
    instead of O(n²), which is the published SemDeDup scale recipe.
    Thresholding on the ROUNDED cosine keeps the float boundary
    identical across engines.

    This registered form runs UNCAPPED (the exact published recipe,
    the oracle anchor); `embedding_semdedup_capped` is the production
    twin with the cluster-size budget guard."""
    emb = Catalog(spark, sf_dir).embeddings
    return (
        S.semdedup_prune(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            cluster_col="label",
            threshold=NEAR_DUP_THRESHOLD,
        )
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


_SDC_CAP, _SDC_NP, _SDC_SEED = 16, 8, 42  # must match the Spark call below


def _sdc_bucket_sql() -> str:
    planes = S._hyperplanes(DIM, _SDC_NP, _SDC_SEED)
    return " + ".join(
        f"(CASE WHEN ({_duck_plane_dot('embedding', p)}) >= 0 "
        f"THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for i, p in enumerate(planes)
    )


@register(
    "embedding_semdedup_capped_checkable",
    tags=("vector", "dedup", "semantic", "scale"),
    oracle=f"""
WITH sig AS (
    SELECT vec_id, label, embedding,
           COUNT(*) OVER (PARTITION BY label) AS cn,
           {_sdc_bucket_sql()} AS bucket
    FROM embeddings
),
bitsized AS (
    SELECT *, CASE WHEN (cn + {_SDC_CAP - 1}) // {_SDC_CAP} <= 1 THEN 0
                   ELSE CAST(LEAST(length(bin((cn + {_SDC_CAP - 1}) // {_SDC_CAP} - 1)),
                                   {_SDC_NP}) AS INT)
              END AS bits
    FROM sig
),
keyed AS (
    SELECT *, bucket & ((CAST(1 AS BIGINT) << bits) - 1) AS sub FROM bitsized
),
resized AS (
    SELECT *, COUNT(*) OVER (PARTITION BY label, sub) AS sn FROM keyed
),
salted AS (
    SELECT *, vec_id % (CASE WHEN sn <= {_SDC_CAP} THEN 1
                             ELSE (sn + {_SDC_CAP - 1}) // {_SDC_CAP} END) AS salt
    FROM resized
),
dups AS (
    SELECT DISTINCT e.vec_id
    FROM salted e
    JOIN salted a ON a.label = e.label AND a.sub = e.sub AND a.salt = e.salt
                 AND a.vec_id < e.vec_id
    WHERE ROUND({_sd_dot} / ({_sd_an} * {_sd_en}), 6) >= {NEAR_DUP_THRESHOLD}
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dups)
ORDER BY e.vec_id
""",
)
def embedding_semdedup_capped_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup WITH the cluster-size budget guard live AND the whole
    pipeline hash-matched by the oracle: cap=16 makes every gate-SF
    cluster (59-218 rows) actually split, so the graded query runs the
    100 TB machinery — integer-exact split sizing, sign-LSH sub-keys
    from deterministic seeded hyperplanes, and the pmod_id salt hash
    family (`salt_mode="pmod_id"`, mirroring minhash's md5/slice
    checkable family) — and DuckDB replays every step bit-for-bit.
    The xxhash-salted production twin (`embedding_semdedup_capped`)
    and the uncapped published-recipe anchor (`embedding_semdedup`)
    stay registered and sim-checked."""
    emb = Catalog(spark, sf_dir).embeddings
    return (
        S.semdedup_prune(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            cluster_col="label",
            threshold=NEAR_DUP_THRESHOLD,
            dim=DIM,
            max_cluster_size=_SDC_CAP,
            n_planes=_SDC_NP,
            seed=_SDC_SEED,
            salt_mode="pmod_id",
        )
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@register("embedding_semdedup_capped", tags=("vector", "dedup", "semantic", "scale"))
def embedding_semdedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the 100 TB cluster-size budget guard
    (`operators/similarity.semdedup_keys`): oversized clusters are
    refined by sign-LSH bits, with a deterministic salt fallback for
    sign-degenerate blobs, so no comparison group's pair-join exceeds
    ~cap². Approximate-by-design (cross-salt dups of a degenerate blob
    are retained as extra representatives) — recall vs the exact
    anchor is asserted in tests/test_similarity.py, so this entry is
    recorded rows-only."""
    emb = Catalog(spark, sf_dir).embeddings
    return (
        S.semdedup_prune(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            cluster_col="label",
            threshold=NEAR_DUP_THRESHOLD,
            dim=DIM,
            max_cluster_size=64,
        )
        .select("vec_id", "label")
        .orderBy("vec_id")
    )


@register(
    "embedding_hard_examples",
    tags=("vector", "contrastive", "training-data", "topk"),
    oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           (q.label = c.label) AS same_label,
           ROUND({_knn_dot} / ({_knn_qn} * {_knn_cn}), 6) AS cosine
    FROM embeddings q
    CROSS JOIN embeddings c
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
), negs AS (
    SELECT 'hard_negative' AS kind, query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS rnk
    FROM scored WHERE NOT same_label
), poss AS (
    SELECT 'hard_positive' AS kind, query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cosine ASC, neighbor_id ASC
           ) AS rnk
    FROM scored WHERE same_label
)
SELECT kind, query_id, neighbor_id, cosine, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT * FROM negs WHERE rnk <= 3
      UNION ALL SELECT * FROM poss WHERE rnk <= 3)
ORDER BY query_id, kind, rnk
""",
)
def embedding_hard_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-EXAMPLE MINING for contrastive training — per anchor, the
    most-similar DIFFERENT-label vectors (hard negatives: the
    impostors a contrastive loss learns the most from) and the
    least-similar SAME-label vectors (hard positives). Same plan
    family as embedding_knn: broadcast anchor set × one corpus scan,
    norms materialized per row, two rank windows over the scored
    pairs; at 100 TB the scan side swaps for the ANN candidates
    (knn_lsh/knn_ivf produce the same (query, neighbor, cosine)
    grain). Rounded-cosine + id tie-break keeps both engines ranking
    identically.

    SINGLE-PASS: both rank directions ride one window family over
    (query_id, same_label) — the scored broadcast-crossJoin scan runs
    ONCE (one Exchange, two Window sorts) instead of once per branch
    (tests/test_plans.py pins the single scan)."""
    from pyspark.sql import Window

    emb = Catalog(spark, sf_dir).embeddings
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("_ql"),
            F.col("embedding").alias("_qv"),
            V.l2_norm(F.col("embedding")).alias("_qn"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("_cl"),
        F.col("embedding").alias("_cv"),
        V.l2_norm(F.col("embedding")).alias("_cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
                6,
            ),
        )
        .withColumn("same_label", F.col("_ql") == F.col("_cl"))
        .select("query_id", "neighbor_id", "same_label", "cosine")
    )
    base = Window.partitionBy("query_id", "same_label")
    rn_desc = F.row_number().over(
        base.orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    )
    rn_asc = F.row_number().over(
        base.orderBy(F.col("cosine").asc(), F.col("neighbor_id").asc())
    )
    mined = scored.withColumn("_rd", rn_desc).withColumn("_ra", rn_asc)
    same = F.col("same_label")
    return (
        mined.filter((~same & (F.col("_rd") <= 3)) | (same & (F.col("_ra") <= 3)))
        .select(
            F.when(same, F.lit("hard_positive"))
            .otherwise(F.lit("hard_negative"))
            .alias("kind"),
            "query_id",
            "neighbor_id",
            "cosine",
            F.when(same, F.col("_ra")).otherwise(F.col("_rd"))
            .cast("bigint")
            .alias("rnk"),
        )
        .orderBy("query_id", "kind", "rnk")
    )


@register(
    "embedding_hard_examples_ann",
    tags=("vector", "contrastive", "ann", "scale"),
)
def embedding_hard_examples_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of `embedding_hard_examples` the exact miner's
    docstring promises: hard NEGATIVES mined from sign-LSH candidates
    (`knn_lsh` with a widened candidate pool, labels joined back, top-3
    different-label by cosine) — no corpus crossJoin anywhere; hard
    POSITIVES (least-similar SAME-label) from a label-equi-join, which
    is co-partitionable by label and bounded by label-group size (an
    ANN index cannot answer "least similar", and doesn't need to —
    same-label sets are the small dimension of contrastive batches).
    Same (kind, query_id, neighbor_id, cosine, rnk) grain and the same
    rounded-cosine + id tie-breaks as the exact miner. Approximate by
    construction (LSH candidate recall) → rows-only; >=0.9 agreement
    with the exact miner's mined set is pinned in
    tests/test_similarity.py."""
    from pyspark.sql import Window

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    labels = emb.select("vec_id", "label")

    # negatives: widened LSH candidate pool (few planes, many tables
    # -> high recall), labels joined, top-3 different-label per query
    cands = S.knn_lsh(
        queries, emb, dim=DIM, k=64, n_planes=2, n_tables=8
    ).drop("rnk")
    q_lab = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"),
                       F.col("label").alias("_ql"))
    )
    n_lab = labels.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("label").alias("_cl"))
    w_neg = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    negs = (
        cands.join(q_lab, "query_id")
        .join(n_lab, "neighbor_id")
        .filter(F.col("_ql") != F.col("_cl"))
        .withColumn("cosine", F.round(F.col("cosine"), 6))
        .withColumn("rnk", F.row_number().over(w_neg))
        .filter(F.col("rnk") <= 3)
        .select(F.lit("hard_negative").alias("kind"), "query_id",
                "neighbor_id", "cosine", F.col("rnk").cast("bigint"))
    )

    # positives: label-equi-join (co-partitioned, no candidate
    # generation needed), least-similar same-label per query
    q_side = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label"),
        F.col("embedding").alias("_qv"),
        V.l2_norm(F.col("embedding")).alias("_qn"),
    )
    c_side = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label"),
        F.col("embedding").alias("_cv"),
        V.l2_norm(F.col("embedding")).alias("_cn"),
    )
    w_pos = Window.partitionBy("query_id").orderBy(
        F.col("cosine").asc(), F.col("neighbor_id").asc()
    )
    poss = (
        q_side.join(c_side, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                V.cosine_from(F.col("_qv"), F.col("_cv"),
                              F.col("_qn"), F.col("_cn")), 6,
            ),
        )
        .withColumn("rnk", F.row_number().over(w_pos))
        .filter(F.col("rnk") <= 3)
        .select(F.lit("hard_positive").alias("kind"), "query_id",
                "neighbor_id", "cosine", F.col("rnk").cast("bigint"))
    )
    return negs.unionByName(poss).orderBy("query_id", "kind", "rnk")


@register("embedding_knn_stored_ivf", tags=("vector", "ann", "ivf", "txtable", "scale"))
def embedding_knn_stored_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-{K} answered from a STORED IVF index — the third leg of
    the stored-index trilogy (minhash band index: graded; BM25
    inverted index: oracle-matched; this: the vector side). Centroids
    and cell assignments persist in TxTables (built once over the
    corpus); the query batch reads them back and probes nprobe=2 cells
    — the corpus is never re-assigned. Deterministic (label centroids,
    rounded-cosine + id tie-breaks) but approximate by construction →
    rows-only; exact-equivalence of the stored vs in-memory path and
    the incremental accept loop are pinned in
    tests/test_similarity.py::test_ivf_index_txtable_roundtrip_incremental."""

    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)

    stage = staging_dir("ivf_index_")
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    cells = S.assign_cells(
        emb.select("vec_id", "embedding"),
        centroids, id_col="vec_id", vec_col="embedding", nprobe=1,
    ).repartitionByRange(8, "cell_id")  # clustered: probe reads prune
    ct = TxTable(stage + "/centroids")
    ct.init(centroids)
    at = TxTable(stage + "/cells")
    at.init(cells)

    # probe-pruned read: only files whose cell range overlaps
    # the queries' nprobe cells are scanned (plan-gated in
    # tests/test_similarity.py::test_stored_ivf_probe_read_prunes_files)
    stored_centroids = ct.read(spark)
    return S.knn_ivf(
        queries,
        None,
        stored_centroids,
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
        corpus_cells=S.read_cells_for_queries(
            spark, stage + "/cells", stored_centroids, queries,
            id_col="vec_id", vec_col="embedding", nprobe=2,
        ),
    ).orderBy("query_id", "rnk")


@register(
    "embedding_semdedup_incremental",
    tags=("vector", "dedup", "semdedup", "txtable", "incremental",
          "stats-pruning"),
)
def embedding_semdedup_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental SEMANTIC dedup — the SemDeDup
    continuous-ingest shape and the vector twin of
    `doc_minhash_incremental_stored`: the incoming batch (vec_id%4==0
    plus one exact re-submission of a corpus vector under a synthetic
    id, so the query is non-vacuous at any SF) dedups against the
    corpus through the STORED cell table alone — the artifact
    `start_ivf_index_sink` maintains and `knn_ivf` serves from — read
    probe-pruned to exactly the batch's cells
    (operators/similarity.semdedup_incremental). The corpus is never
    re-embedded, re-assigned, or fully scanned; at 100 TB the batch
    bounds one join side and manifest stats bound the other.
    Approximate by construction (published recipe: same-cell
    comparisons only) → rows-only; exactness vs a fresh same-cell
    sweep over the union corpus is pinned in
    tests/test_similarity.py::test_semdedup_incremental_matches_direct_same_cell_sweep."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        semdedup_incremental,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    stage = staging_dir("semdedup_inc_")
    src = _os.path.join(stage, "corpus")
    idx = _os.path.join(stage, "index")
    ckpt = _os.path.join(stage, "ckpt")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        corpus, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(_os.path.join(idx, "centroids")).init(centroids)
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    batch = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .select("vec_id", "embedding")
        .unionByName(
            corpus.orderBy("vec_id").limit(1).select(
                (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
            )
        )
    )
    return semdedup_incremental(
        spark, batch, _os.path.join(idx, "cells"), centroids,
        threshold=0.9, round_to=6,
    ).orderBy("id_new", "dup_of")


@register(
    "embedding_stored_pq_incremental",
    tags=("vector", "pq", "txtable", "change-feed", "incremental"),
)
def embedding_stored_pq_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTALLY MAINTAINED PQ codes (the compressed-vector leg of
    the maintained-artifact family):
    `embedding_knn_pq` re-encodes the corpus inside the query; here
    the 16×-smaller codes table is the PERSISTED artifact, maintained
    from the corpus TxTable's CHANGE FEED by
    `operators/similarity.start_pq_index_sink` (touched ids die via
    file-backed key tombstones, post-images encode against the FIXED
    stored codebook and merge back — the corpus is never re-encoded,
    the Faiss train-once recipe). DML: initial three quarters, then a
    merge that INSERTS the held-out quarter and UPDATES every
    vec_id%7==2 embedding to its reverse (changing those codes), then
    a keyed DELETE of vec_id%9==5. The final ADC top-k is answered
    purely from the stored tables. Approximate by construction →
    rows-only; the bit-exact maintained-vs-fresh-encode invariant and
    stored-vs-in-memory answer equality are pinned in
    tests/test_similarity.py::test_pq_feed_sink_tracks_dml_and_matches_fresh_encode."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    stage = staging_dir("pq_inc_")
    src = _os.path.join(stage, "corpus")
    idx = _os.path.join(stage, "index")
    ckpt = _os.path.join(stage, "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0)                                      # v1
    book = S.pq_codebooks(
        corpus0, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(_os.path.join(idx, "codebook")).init(book)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    t = TxTable(src)
    upd = emb.filter(
        (F.col("vec_id") % 4 == 0) | (F.col("vec_id") % 7 == 2)
    ).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 7 == 2, F.reverse(F.col("embedding"))
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    t.merge_into(upd, ["vec_id"], change_feed=True)                 # v2
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )                                                               # v3
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    stored_book = TxTable(_os.path.join(idx, "codebook")).read(spark)
    stored_codes = TxTable(_os.path.join(idx, "codes")).read(spark)
    return S.knn_pq(
        queries, stored_codes, stored_book, dim=DIM, m=8, k_cells=16, k=K
    ).orderBy("query_id", "rnk")


def embedding_knn_stored_ivf_auto_with_meta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """The registered stored-auto query's full result: (rows, tuner
    meta) — exposed so the pytest gate asserts the estimate and the
    realized agreement on the same path the registry runs."""
    import os as _os

    from filesystemagent_spark.operators.anntune import knn_stored_ivf_auto
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    stage = staging_dir("ivf_auto_idx_")
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(_os.path.join(stage, "centroids")).init(centroids)
    TxTable(_os.path.join(stage, "cells")).init(
        S.assign_cells(
            emb.select("vec_id", "embedding"), centroids,
            id_col="vec_id", vec_col="embedding", nprobe=1,
        ).repartitionByRange(8, "cell_id")
    )
    out, meta = knn_stored_ivf_auto(
        spark, queries, stage, id_col="vec_id", vec_col="embedding",
        k=K, target_recall=AUTO_TARGET_RECALL, sample_queries=N_QUERIES,
    )
    return out.orderBy("query_id", "rnk"), meta


@register(
    "embedding_knn_stored_ivf_auto",
    tags=("vector", "ann", "ivf", "txtable", "auto-tuned", "scale"),
)
def embedding_knn_stored_ivf_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Auto-tuned ANN served from the STORED IVF index:
    `embedding_knn_stored_ivf` probes a static nprobe=2 (measured 0.38
    recall@10 at sf0.1, RECALL.md); this surface tunes nprobe against
    the stored cells table itself (the tuner never re-reads or
    re-assigns the corpus — the cells rows carry the vectors) and
    serves through the probe-pruned read at the chosen nprobe. The
    stored twin of `embedding_knn_ivf_auto`; IVF's ladder ends at the
    provably-exact nprobe = n_cells, so the target is always met.
    Rows-only; the recall + estimate-equals-realized-agreement gate
    lives in tests/test_similarity.py."""
    return embedding_knn_stored_ivf_auto_with_meta(spark, sf_dir)[0]


def embedding_knn_ivfpq_auto_with_meta(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict]:
    """The registered IVFPQ query's full result: (rows, tuner meta) —
    exposed so the pytest gate asserts the estimate and the realized
    agreement on the same path the registry runs. The index is built
    the way production would: the corpus lives in a TxTable, the
    `cluster_by_cells` PQ sink maintains (id, codes, cell_id) rows
    clustered on cell_id from the CHANGE FEED (insert + code-shifting
    update + keyed delete), and serving composes probe-pruned cells
    with ADC + exact rerank (operators/similarity.knn_ivfpq)."""
    import os as _os

    from filesystemagent_spark.operators.anntune import knn_stored_ivfpq_auto
    from filesystemagent_spark.operators.similarity import start_pq_index_sink
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    stage = staging_dir("ivfpq_")
    src = _os.path.join(stage, "corpus")
    idx = _os.path.join(stage, "index")
    ckpt = _os.path.join(stage, "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0.select("vec_id", "embedding"))           # v1
    TxTable(_os.path.join(idx, "centroids")).init(
        S.centroids_from_labels(
            corpus0, label_col="label", vec_col="embedding", dim=DIM
        )
    )
    TxTable(_os.path.join(idx, "codebook")).init(
        S.pq_codebooks(
            corpus0, id_col="vec_id", vec_col="embedding", dim=DIM,
            m=8, k=16, max_iter=2,
        )
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()
    t = TxTable(src)
    t.merge_into(                                                      # v2
        emb.filter(
            (F.col("vec_id") % 4 == 0) | (F.col("vec_id") % 7 == 2)
        ).select(
            "vec_id",
            F.when(
                F.col("vec_id") % 7 == 2, F.reverse(F.col("embedding"))
            ).otherwise(F.col("embedding")).alias("embedding"),
        ),
        ["vec_id"], change_feed=True,
    )
    t.delete_keys(                                                     # v3
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    out, meta = knn_stored_ivfpq_auto(
        spark, queries, idx, src,
        id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k_cells=16,
        k=K, target_recall=AUTO_TARGET_RECALL, sample_queries=N_QUERIES,
    )
    return out.orderBy("query_id", "rnk"), meta


@register(
    "embedding_knn_ivfpq",
    tags=("vector", "ann", "ivf", "pq", "txtable", "auto-tuned",
          "incremental", "stats-pruning", "scale"),
)
def embedding_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ COMPOSED serving over maintained stored artifacts
    (the Faiss IVFPQ + refine recipe, the 100 TB vector shape):
    probe-pruned cells → ADC over ONLY the
    probed cells' codes (read 16× smaller than raw, manifest stats
    skip non-probed files) → exact rerank fetching only the
    candidates' true vectors. The codes table carries cell_id and is
    maintained INCREMENTALLY from the corpus TxTable's change feed
    (`start_pq_index_sink(cluster_by_cells=True)`), and (nprobe,
    rerank) are auto-tuned to the recall target with the
    estimate-equals-realized discipline. Approximate by construction →
    rows-only; the files-read pruning gate, the exactness anchor
    (nprobe=|cells| ∧ rerank=|corpus| == bruteforce), the maintained
    bit-identity, and the recall/agreement gates live in
    tests/test_similarity.py."""
    return embedding_knn_ivfpq_auto_with_meta(spark, sf_dir)[0]


@register(
    "embedding_knn_ivfpq_exact",
    tags=("vector", "ann", "ivf", "pq", "txtable", "exactness", "scale"),
    oracle=f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND({_knn_dot} / ({_knn_qn} * {_knn_cn}), 6) AS cosine
    FROM embeddings q
    CROSS JOIN embeddings c
    WHERE q.vec_id < {N_QUERIES} AND q.vec_id <> c.vec_id
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS rnk
    FROM scored
)
SELECT query_id, neighbor_id, cosine, rnk
FROM ranked WHERE rnk <= {K}
ORDER BY query_id, rnk
""",
)
def embedding_knn_ivfpq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVFPQ serving path made ORACLE-CHECKABLE: at
    nprobe = |cells| and rerank = |corpus| every stage of `knn_ivfpq`
    is exhaustive — the probe covers all cells, ADC retrieves every
    code, and the exact rerank rescoring equals brute force PROVABLY —
    so the same cross-join top-{K} SQL that checks `embedding_knn`
    value-hashes the ENTIRE stored pipeline: the cluster_by_cells
    sink's maintained (codes, cell_id) table, the cell_id IN probe
    read, the per-query LUT ADC equi-join, the id-footprint-pruned
    true-vector fetch (json-membership predicate at this footprint),
    and the rounded-cosine rerank. The approximate twin
    (`embedding_knn_ivfpq`, auto-tuned) stays rows-only; this anchor
    is what lets its tuner terminate met."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        knn_ivfpq,
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    stage = staging_dir("ivfpq_exact_")
    src = _os.path.join(stage, "corpus")
    idx = _os.path.join(stage, "index")
    ckpt = _os.path.join(stage, "ckpt")
    TxTable(src).init(emb.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(_os.path.join(idx, "centroids")).init(centroids)
    TxTable(_os.path.join(idx, "codebook")).init(
        S.pq_codebooks(
            emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
            max_iter=2,
        )
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    n_cells = centroids.count()
    n_corpus = emb.count()
    return knn_ivfpq(
        spark, queries, idx, corpus_table=src,
        dim=DIM, m=8, k_cells=16, k=K,
        nprobe=n_cells, rerank=n_corpus, round_to=6,
    ).orderBy("query_id", "rnk")
