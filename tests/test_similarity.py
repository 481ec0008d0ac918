"""Recall/correctness tests for the approximate similarity paths
(sign-LSH, IVF) against the exact brute-force baseline, plus the
cosine near-dup pair operator vs a DuckDB oracle.

The approximate queries are rows-only at the driver gate; this file is
where their quality bar lives.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.operators import similarity as S

DIM = 64
K = 5
N_QUERIES = 10


def _pairs(rows):
    return {(r["query_id"], r["neighbor_id"]) for r in rows}


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(
        S.knn_bruteforce(queries, emb, id_col="vec_id", vec_col="embedding", k=K).collect()
    )
    centroids = S.centroids_from_labels(emb, label_col="label", vec_col="embedding", dim=DIM)
    approx = S.knn_ivf(
        queries, emb, centroids, id_col="vec_id", vec_col="embedding", k=K, nprobe=3
    ).collect()
    got = _pairs(approx)
    # every query returns exactly K candidates (cells are dense enough)
    assert len(approx) == N_QUERIES * K
    # the synthetic corpus has uniform random labels, so the quantizer
    # captures no cluster structure and recall floors near
    # nprobe/n_cells (= 0.3); on clustered data it approaches 1.0
    recall = len(exact & got) / len(exact)
    assert recall >= 0.3, f"IVF recall too low: {recall}"


def test_ivf_nprobe_all_cells_is_exact(spark, sf_dir):
    """Probing every cell degenerates to exact search — the IVF
    correctness invariant."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    centroids = S.centroids_from_labels(emb, label_col="label", vec_col="embedding", dim=DIM)
    n_cells = centroids.count()
    exact = _pairs(
        S.knn_bruteforce(queries, emb, id_col="vec_id", vec_col="embedding", k=K).collect()
    )
    full = _pairs(
        S.knn_ivf(
            queries, emb, centroids, id_col="vec_id", vec_col="embedding", k=K, nprobe=n_cells
        ).collect()
    )
    assert full == exact


def test_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(
        S.knn_bruteforce(queries, emb, id_col="vec_id", vec_col="embedding", k=K).collect()
    )
    # few planes + several tables: per-plane collision for a cos~0.4
    # neighbor is ~0.6, so 2-plane tables collide ~0.36 each and six
    # tables compound to ~0.93 expected recall
    got = _pairs(
        S.knn_lsh(
            queries,
            emb,
            id_col="vec_id",
            vec_col="embedding",
            dim=DIM,
            k=K,
            n_planes=2,
            n_tables=6,
        ).collect()
    )
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_centroids_shape(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    cent = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    ).collect()
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    assert {r["cell_id"] for r in cent} == labels
    assert all(len(r["centroid"]) == DIM for r in cent)


def test_near_dup_pairs_vs_duckdb(spark, sf_dir, duck):
    emb = Catalog(spark, sf_dir).embeddings
    got = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in S.cosine_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).collect()
    )
    dot = (
        "list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))"
    )
    norm = (
        "sqrt(list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST({v}.embedding[i] AS DOUBLE) * CAST({v}.embedding[i] AS DOUBLE))))"
    )
    want = sorted(
        tuple(r)
        for r in duck.execute(
            f"""
            SELECT a.vec_id, b.vec_id,
                   ROUND({dot} / ({norm.format(v='a')} * {norm.format(v='b')}), 6)
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE ROUND({dot} / ({norm.format(v='a')} * {norm.format(v='b')}), 6) >= 0.3
            """
        ).fetchall()
    )
    assert got == want


def test_blocked_pairs_bit_identical_to_row_form(spark, sf_dir):
    """The block-matrix exact form must reproduce the row-at-a-time
    join EXACTLY — same pairs, same doubles — across block counts
    (including blocks larger than the corpus): this is what licenses
    it to share the SQL oracle in embedding_near_dup."""
    emb = Catalog(spark, sf_dir).embeddings
    want = sorted(
        tuple(r)
        for r in S.cosine_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).collect()
    )
    for n_blocks in (1, 3, 16):
        got = sorted(
            tuple(r)
            for r in S.cosine_near_dup_pairs_blocked(
                emb,
                id_col="vec_id",
                vec_col="embedding",
                threshold=0.3,
                n_blocks=n_blocks,
            ).collect()
        )
        assert got == want, n_blocks


def test_near_dup_lsh_recall(spark, sf_dir):
    """LSH near-dup pairs ⊆ exact pairs (verify step is exact) with
    recall above the multi-table collision bound for this corpus."""
    emb = Catalog(spark, sf_dir).embeddings
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs(
            emb, id_col="vec_id", vec_col="embedding", threshold=0.3
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in S.cosine_near_dup_pairs_lsh(
            emb,
            id_col="vec_id",
            vec_col="embedding",
            dim=DIM,
            threshold=0.3,
            n_planes=3,
            n_tables=6,
        ).collect()
    }
    assert got <= exact  # no false positives possible: exact verify
    assert exact, "fixture should contain near-dup pairs at 0.3"
    recall = len(got) / len(exact)
    # pairs at cosine ~0.3-0.5 sit at theta ~60-72deg: per-table
    # collision ~(1-theta/pi)^3 ~ 0.05-0.1, six tables ~ 0.3-0.5;
    # true near-dups (cos->1) would approach recall 1.0
    assert recall >= 0.2, f"LSH near-dup recall too low: {recall}"


def test_int8_knn_recall_vs_float(spark, sf_dir):
    """int8 quantization must preserve ≥90% of exact top-k neighbors
    (synthetic embeddings are well-spread; 8-bit error is tiny against
    their cosine gaps)."""
    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(
        S.knn_bruteforce(queries, emb, id_col="vec_id", vec_col="embedding", k=K).collect()
    )
    quant = _pairs(
        S.knn_bruteforce_int8(
            queries, emb, id_col="vec_id", vec_col="embedding", k=K
        ).collect()
    )
    assert len(quant & exact) / len(exact) >= 0.9


def test_quantize_int8_bounds(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings.limit(50)
    q = S.quantize_int8(emb, vec_col="embedding")
    row = q.select(
        F.max(F.array_max(F.transform("q_embedding", lambda x: F.abs(x)))).alias("m")
    ).collect()[0]
    assert row.m <= 127


def test_kmeans_inertia_decreases_and_ivf_recall(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    c1 = S.kmeans_centroids(emb, id_col="vec_id", vec_col="embedding", k=8, max_iter=1)
    c3 = S.kmeans_centroids(emb, id_col="vec_id", vec_col="embedding", k=8, max_iter=3)
    i1 = S.kmeans_inertia(emb, c1, id_col="vec_id", vec_col="embedding").collect()[0].inertia
    i3 = S.kmeans_inertia(emb, c3, id_col="vec_id", vec_col="embedding").collect()[0].inertia
    assert i3 <= i1 + 1e-9  # Lloyd's never increases inertia

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(
        S.knn_bruteforce(queries, emb, id_col="vec_id", vec_col="embedding", k=K).collect()
    )
    approx = _pairs(
        S.knn_ivf(
            queries, emb, c3, id_col="vec_id", vec_col="embedding", k=K, nprobe=4
        ).collect()
    )
    assert len(approx & exact) / len(exact) >= 0.5


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    book = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=4, max_iter=1
    )
    codes = S.pq_encode(
        emb, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=4
    )
    rows = codes.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 4 for r in rows for c in r.codes)
    # layout-independence: repartitioned input encodes identically
    codes2 = S.pq_encode(
        emb.repartition(7), book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=4
    )
    assert {(r.vec_id, tuple(r.codes)) for r in rows} == {
        (r.vec_id, tuple(r.codes)) for r in codes2.collect()
    }


def test_pq_rerank_recall_vs_bruteforce(spark, sf_dir):
    """PQ is a candidate generator; with exact rerank over its top-50
    the end-to-end recall must clear the same bar as the other ANN
    paths on this structureless corpus."""
    from filesystemagent_spark.queries import registry

    exact_df = registry()["embedding_knn"].fn(spark, sf_dir)
    got_df = registry()["embedding_knn_pq"].fn(spark, sf_dir)
    exact = _pairs(exact_df.collect())
    got = _pairs(got_df.collect())
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5, f"PQ+rerank recall too low: {recall}"


def test_semdedup_capped_matches_exact_on_real_clusters(spark, sf_dir):
    """With well-sized clusters (cap >= every cluster), the guard is a
    no-op path-wise and the capped prune must equal the exact one; with
    a tight cap it may only RETAIN more (missed cross-group dups),
    never drop a survivor the exact form keeps."""
    emb = Catalog(spark, sf_dir).embeddings
    exact = {
        r.vec_id
        for r in S.semdedup_prune(
            emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
            threshold=0.35,
        ).select("vec_id").collect()
    }
    capped = {
        r.vec_id
        for r in S.semdedup_prune(
            emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
            threshold=0.35, dim=DIM, max_cluster_size=16,
        ).select("vec_id").collect()
    }
    assert exact <= capped


def test_semdedup_capped_recall_on_true_near_dups(spark):
    """The sign-LSH sub-split's recall story holds in the regime dedup
    cares about (θ→0): near-identical copies share hyperplane signs, so
    a tight cap still finds nearly all of what the exact form drops."""
    import math
    import random

    rng = random.Random(7)
    dim, n_base, cap = 16, 120, 40
    rows = []
    vid = 0
    for _ in range(n_base):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in v))
        v = [x / nrm for x in v]
        rows.append((vid, "c", v)); vid += 1
        # two barely-perturbed copies → true near-dups (cos ~0.9999)
        for _ in range(2):
            w = [x + rng.gauss(0, 0.005) for x in v]
            rows.append((vid, "c", w)); vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )
    exact = {
        r.vec_id
        for r in S.semdedup_prune(
            emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
            threshold=0.99,
        ).select("vec_id").collect()
    }
    capped = {
        r.vec_id
        for r in S.semdedup_prune(
            emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
            threshold=0.99, dim=dim, max_cluster_size=cap,
        ).select("vec_id").collect()
    }
    assert exact <= capped
    n_total = emb.count()
    dropped_exact = n_total - len(exact)
    dropped_capped = n_total - len(capped)
    assert dropped_exact >= n_base  # the corpus really is dup-heavy
    assert dropped_capped >= 0.9 * dropped_exact


def test_semdedup_keys_bound_degenerate_single_cluster(spark):
    """One mega-cluster of near-identical vectors (every LSH sign bit
    equal) is the worst case: the spatial split can't separate it, so
    the salt fallback must bound every comparison group."""
    n, cap, dim = 500, 50, 8
    base = [1.0] + [0.0] * (dim - 1)
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.lit("blob").alias("label"),
        F.array(*[F.lit(x + 0.0) for x in base]).alias("embedding"),
    )
    keyed = S.semdedup_keys(
        emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
        dim=dim, max_cluster_size=cap,
    )
    sizes = [
        r.n for r in keyed.groupBy("_sd_key").agg(F.count("*").alias("n")).collect()
    ]
    assert sum(sizes) == n
    # Salting is uniform-hash: groups land near cap, never anywhere
    # near the unsplit n.
    assert max(sizes) <= 2 * cap
    assert len(sizes) >= n // cap
    # And the prune still runs to completion on the degenerate blob,
    # keeping one survivor per comparison group (all are mutual dups).
    kept = S.semdedup_prune(
        emb, id_col="vec_id", vec_col="embedding", cluster_col="label",
        threshold=0.99, dim=dim, max_cluster_size=cap,
    ).count()
    assert kept == len(sizes)


def test_embedding_ann_recall_query_quality_bar(spark, sf_dir):
    """The registered recall-eval query must report high recall at its
    settings (8 tables x 4 planes) and internally consistent counts."""
    from filesystemagent_spark.queries import registry

    rows = registry()["embedding_ann_recall"].fn(spark, sf_dir).collect()
    assert rows, "recall eval returned no queries"
    for r in rows:
        assert 0 <= r.n_hit <= r.n_true
    mean_recall = sum(r.recall for r in rows) / len(rows)
    assert mean_recall >= 0.9, f"mean recall {mean_recall:.3f} below bar"


def test_spark_round_matches_jvm_on_boundaries(spark):
    """Pin the repr(x) == Double.toString(x) assumption behind
    spark_round_half_up (see cosine_near_dup_pairs_blocked): replay a
    battery of HALF_UP-boundary doubles through the running JVM's
    F.round and require bitwise agreement. JDK < 19 may emit
    non-shortest Double.toString digits; if this JVM ever diverges the
    blocked-GEMM/oracle parity claim breaks, and this test fails
    loudly instead of letting it poison correctness silently."""
    import random as _r

    rng = _r.Random(7)
    vals = []
    # exact representable halves at the 1e-6 boundary neighborhood
    for k in range(1, 50):
        base = k / 10.0 + 5e-07
        vals += [base, base - 1e-22, base + 1e-22]
    # shortest-repr values ending in ...5 at scale 7
    vals += [float(f"0.{rng.randrange(10**6):06d}5") for _ in range(200)]
    # random dense mantissas in [0, 1) — the generic regime
    vals += [rng.random() for _ in range(200)]
    df = spark.createDataFrame([(v,) for v in vals], "x double").select(
        F.col("x"), F.round(F.col("x"), 6).alias("r")
    )
    got = {row["x"]: row["r"] for row in df.collect()}
    for v in vals:
        assert got[v] == S.spark_round_half_up(v, 6), (
            f"JVM F.round({v!r}, 6) = {got[v]!r} != python "
            f"{S.spark_round_half_up(v, 6)!r} — Double.toString/repr drift"
        )


def test_ivf_index_txtable_roundtrip_incremental(spark, sf_dir, tmp_path):
    """The IVF index is STORABLE — the embedding mirror of the
    incremental dedup loop: persist centroids + cell assignments to
    TxTables, answer a new batch's top-k by reading them back (same
    result as the in-memory composition), then merge the batch's
    assignments in for the next round. The corpus embeddings are never
    re-assigned; only the batch runs assign_cells."""
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    batch = emb.filter(F.col("vec_id") % 4 == 0).filter(F.col("vec_id") < 40)

    centroids = S.centroids_from_labels(
        corpus, label_col="label", vec_col="embedding", dim=DIM
    )
    cells = S.assign_cells(
        corpus.select("vec_id", "embedding"),
        centroids, id_col="vec_id", vec_col="embedding", nprobe=1,
    )

    ct = TxTable(str(tmp_path / "centroids"))
    ct.init(centroids)
    at = TxTable(str(tmp_path / "cells"))
    at.init(cells)

    direct = S.knn_ivf(
        batch, corpus, centroids,
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
    ).collect()

    # read-back path: corpus candidates come straight from the STORED
    # cell-assignment table via corpus_cells — NO assign pass over the
    # corpus (the point of persisting the index); assignments are a
    # pure function of centroids, so results must match exactly.
    stored_centroids = ct.read(spark)
    via_tables = S.knn_ivf(
        batch,
        None,
        stored_centroids,
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
        corpus_cells=at.read(spark),
    ).collect()
    assert _pairs(direct) == _pairs(via_tables)
    assert len(via_tables) == len(direct) > 0

    # accept the batch: append its assignments under snapshot isolation
    batch_cells = S.assign_cells(
        batch.select("vec_id", "embedding"),
        stored_centroids, id_col="vec_id", vec_col="embedding", nprobe=1,
    )
    at.merge_into(batch_cells, ["vec_id"])
    assert at.read(spark).count() == cells.count() + batch.count()


def test_pq_kernels_run_as_arrow_udfs_not_unrolled_sql(spark, sf_dir):
    """Round-5 regression pin: the PQ argmin/LUT kernels must stay
    Arrow-batched pandas UDFs. Their previous form — fully-unrolled
    literal SQL (2048 terms) — exceeded janino's 64 KB method limit,
    silently failed whole-stage codegen, and ran INTERPRETED per row
    (ERROR CodeGenerator in the logs; 4x slower end to end even at
    sf0.1). ArrowEvalPython in the plan is the observable contract."""
    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    book = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=4, max_iter=1
    )
    codes = S.pq_encode(
        emb, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=4
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_lsh_sigs_run_as_arrow_udf_and_match_sql_fold(spark, sf_dir):
    """Same round-5 pin for the sign-LSH family (it failed codegen the
    same way as PQ), plus the bit-exactness contract: the Arrow
    kernel's dimension-ordered accumulation must reproduce the
    left-to-right SQL fold's sign decisions exactly — the graded LSH
    oracles replay that fold in DuckDB."""
    emb = Catalog(spark, sf_dir).embeddings
    bucketed = S.sign_lsh_bucket(emb, vec_col="embedding", dim=DIM, n_planes=8, seed=42)
    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    # SQL-fold replica for a small sample: same planes, left-to-right
    planes = S._hyperplanes(DIM, 8, 42)
    import pyspark.sql.functions as F2
    bits = " + ".join(
        "IF((" + " + ".join(
            f"CAST(element_at(`embedding`, {i + 1}) AS DOUBLE) * {w!r}"
            for i, w in enumerate(p)
        ) + f") >= 0, CAST({1 << j} AS BIGINT), CAST(0 AS BIGINT))"
        for j, p in enumerate(planes)
    )
    sample = emb.limit(200)
    got = {r.vec_id: r.bucket for r in
           S.sign_lsh_bucket(sample, vec_col="embedding", dim=DIM,
                             n_planes=8, seed=42).collect()}
    ref = {r.vec_id: r.bucket for r in
           sample.withColumn("bucket", F2.expr(bits)).collect()}
    assert got == ref


def test_vector_kernels_null_propagate_bad_rows(spark):
    """The Arrow kernels must match the null semantics of the SQL
    expressions they replaced: a NULL or wrong-length vector yields a
    NULL result for THAT ROW — it must not abort the whole task (a
    single corrupt embedding would otherwise kill a full corpus
    scan)."""
    import numpy as np

    from filesystemagent_spark.functions.pqkernels import (
        make_encode_udf,
        make_lsh_sigs_udf,
    )
    import pyspark.sql.functions as F2

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [1.0, 2.0]),
         (4, [0.0, 1.0, 0.0, 0.0])],
        "id bigint, v array<double>",
    )
    C = np.array([[[1.0, 0.0], [0.0, 1.0]], [[1.0, 1.0], [0.0, 0.0]]])
    enc = make_encode_udf(C)  # m=2, d_sub=2 -> dim 4
    got = {r.id: r.codes for r in df.select("id", enc("v").alias("codes")).collect()}
    assert got[2] is None and got[3] is None
    assert got[1] is not None and got[4] is not None

    sigs = make_lsh_sigs_udf([[[1.0, 0.0, 0.0, 0.0], [0.0, -1.0, 0.0, 0.0]]])
    got2 = {r.id: r.s for r in df.select("id", sigs("v").alias("s")).collect()}
    assert got2[2] is None and got2[3] is None
    assert got2[1] == [3]  # plane0 dot=1 >= 0; plane1 dot=+0.0 >= 0 -> both bits


def test_lsh_buckets_eval_sigs_once_and_skip_bad_rows(spark):
    """_multi_table_buckets evaluates the signature UDF once per row
    (posexplode's inferred size() filter used to add a second
    ArrowEvalPython below the projection), and a NULL or wrong-length
    vector still gets no bucket row."""
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, None), (3, [1.0, 2.0]),
         (4, [0.0, 1.0, 0.0, 0.0])],
        "id bigint, v array<double>",
    )
    banded = S._multi_table_buckets(df, vec_col="v", dim=4, n_planes=2, n_tables=3, seed=7)
    rows = banded.select("id", "bucket").collect()
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython [sigs(") == 1, plan
    per_id = {}
    for r in rows:
        per_id.setdefault(r.id, set()).add(r.bucket.table)
    assert per_id == {1: {0, 1, 2}, 4: {0, 1, 2}}


def _dot_pairs(spark, pairs, n_partitions=1):
    from filesystemagent_spark.functions import vectors as V
    from filesystemagent_spark.functions.pqkernels import make_pair_dot_udf

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "i bigint, a array<float>, b array<float>",
    ).repartition(n_partitions)
    rows = df.select(
        "i",
        make_pair_dot_udf()("a", "b").alias("kernel"),
        V.dot(F.col("a"), F.col("b")).alias("hof"),
    ).collect()
    return {r.i: (r.kernel, r.hof) for r in rows}


def test_pair_dot_kernel_bit_identical_to_hof_dot(spark):
    """The Arrow dot kernel that verifies LSH candidates must return
    the same double as the V.dot expression (the oracle digest hashes
    the rounded cosine), on random 64-d float vectors spread over
    several Arrow batches (one per partition)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n = 3000
    scale = rng.choice([1e-3, 1.0, 1e3], size=(n, 1))
    A = (rng.standard_normal((n, 64)) * scale).astype(np.float32)
    B = rng.standard_normal((n, 64)).astype(np.float32)
    got = _dot_pairs(spark, [(a.tolist(), b.tolist()) for a, b in zip(A, B)], 4)
    assert len(got) == n
    mismatched = [
        i for i, (k, h) in got.items() if k is None or k.hex() != h.hex()
    ]
    assert mismatched == []


def test_pair_dot_kernel_null_and_edge_rows(spark):
    """Same NULLs as V.dot: a NULL array, a NULL element or unequal
    lengths give NULL; empty arrays and zero vectors give +0.0."""
    cases = [
        (None, [1.0, 2.0]),          # NULL array
        ([1.0, 2.0], None),
        ([1.0, None], [1.0, 2.0]),   # NULL element
        ([1.0, 2.0], [1.0, 2.0, 3.0]),  # unequal lengths
        ([], []),                    # empty
        ([0.0, 0.0], [0.0, 0.0]),    # zero vectors
        ([-0.0, 1.0], [1.0, 0.0]),   # a -0.0 product folds to +0.0
        ([1.5, -2.0, 4.0], [2.0, 0.5, 0.25]),
    ]
    got = _dot_pairs(spark, cases)
    assert [got[i][0] for i in range(len(cases))] == [
        None, None, None, None, 0.0, 0.0, 0.0, 3.0
    ]
    for i, (k, h) in got.items():
        assert (k is None and h is None) or k.hex() == h.hex(), (cases[i], k, h)

    # a sliced batch whose valid rows do not lie back to back (the NULL
    # element row sits between them), so the kernel gathers them
    import pyarrow as pa

    from filesystemagent_spark.functions.pqkernels import pair_dot

    t = pa.list_(pa.float32())
    a = pa.array([[9.0], [0.5, 2.0], [1.0, None], [3.0, -1.0]], t).slice(1)
    b = pa.array([[9.0], [4.0, 0.25], [1.0, 2.0], [2.0, 2.0]], t).slice(1)
    assert pair_dot(a, b).to_pylist() == [2.5, None, 4.0]


def test_hard_example_ann_twin_agreement(spark, sf_dir):
    """Round 6: the ANN-candidate twin must agree with the exact miner
    on >=0.9 of the mined (kind, query, neighbor) set — positives are
    exact by construction (label-equi-join), negatives ride the
    widened sign-LSH candidate pool."""
    from filesystemagent_spark.queries import registry

    reg = registry()
    exact = {
        (r.kind, r.query_id, r.neighbor_id)
        for r in reg["embedding_hard_examples"].fn(spark, sf_dir).collect()
    }
    ann = {
        (r.kind, r.query_id, r.neighbor_id)
        for r in reg["embedding_hard_examples_ann"].fn(spark, sf_dir).collect()
    }
    assert exact
    agreement = len(exact & ann) / len(exact)
    assert agreement >= 0.9, f"mined-set agreement {agreement:.3f} < 0.9"
    pos_exact = {t for t in exact if t[0] == "hard_positive"}
    pos_ann = {t for t in ann if t[0] == "hard_positive"}
    assert pos_exact == pos_ann  # positives take no approximation


# -- target-recall tuning (round 7) ---------------------------------


def test_tune_knn_ivf_meets_target_with_monotone_curve(spark, sf_dir):
    """The IVF tuner escalates nprobe until the sampled recall meets
    the target; the curve is non-decreasing (probing more cells only
    ever ADDS candidates) and the tuner always terminates met — at
    worst nprobe = n_cells, which is exact. A corpus the caller
    persisted is still cached when the tuner returns, and the tuner's
    own persists are released."""
    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.operators.anntune import tune_knn_ivf

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    meta = tune_knn_ivf(
        queries, emb, cents, id_col="vec_id", vec_col="embedding",
        k=K, target_recall=0.8, sample_queries=N_QUERIES,
    )
    assert meta["met_target"] and meta["recall_estimate"] >= 0.8
    rs = [c["recall"] for c in meta["curve"]]
    assert all(b >= a - 1e-9 for a, b in zip(rs, rs[1:])), rs
    # the hardest target still terminates: exact at nprobe = n_cells
    owned = emb.select("vec_id", "embedding").persist()
    try:
        level, mark = owned.storageLevel, tracked_count()
        meta1 = tune_knn_ivf(
            queries, owned, cents, id_col="vec_id", vec_col="embedding",
            k=K, target_recall=1.0, sample_queries=N_QUERIES,
        )
        assert owned.storageLevel == level  # the caller's cache survives
        assert tracked_count() == mark
    finally:
        owned.unpersist()
    assert meta1["met_target"] and meta1["nprobe"] <= meta1["n_cells"]


def test_tune_knn_pq_terminates_met_with_monotone_curve(spark, sf_dir):
    """The PQ tuner escalates the exact-rerank depth until the sampled
    recall meets the target; deeper rerank only ADDS rescored
    candidates so the curve is non-decreasing, and rerank = corpus is
    an exact rescore — the tuner always terminates met, even at
    target 1.0."""
    from filesystemagent_spark.operators.anntune import tune_knn_pq

    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    book = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    codes = S.pq_encode(
        emb, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16
    )
    meta = tune_knn_pq(
        queries, codes, book, emb, id_col="vec_id", vec_col="embedding",
        dim=DIM, m=8, k_cells=16, k=K, target_recall=1.0,
        sample_queries=N_QUERIES,
    )
    assert meta["met_target"] and meta["recall_estimate"] == 1.0
    assert meta["rerank"] <= meta["n_corpus"]
    rs = [c["recall"] for c in meta["curve"]]
    assert all(b >= a - 1e-9 for a, b in zip(rs, rs[1:])), rs


def test_knn_ivf_auto_result_matches_estimate(spark, sf_dir):
    """The auto path's RETURNED result achieves the recall its meta
    claims (sample == query set here, so the estimate is exact)."""
    from filesystemagent_spark.operators.anntune import knn_ivf_auto

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    cents = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    out, meta = knn_ivf_auto(
        queries, emb, cents, id_col="vec_id", vec_col="embedding",
        k=K, target_recall=0.8, sample_queries=N_QUERIES,
    )
    exact = _pairs(
        S.knn_bruteforce(
            queries, emb, id_col="vec_id", vec_col="embedding", k=K
        ).collect()
    )
    got = _pairs(out.collect())
    recall = len(exact & got) / len(exact)
    assert recall >= 0.8
    assert abs(recall - meta["recall_estimate"]) < 1e-9


def test_knn_lsh_auto_reports_quality_honestly(spark, sf_dir):
    """LSH tuner: meets a reachable target (the densest rungs approach
    the corpus) and — the round-6 verdict's point — the call site SEES
    the estimate instead of assuming structure that isn't there."""
    from filesystemagent_spark.operators.anntune import knn_lsh_auto

    emb = Catalog(spark, sf_dir).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    out, meta = knn_lsh_auto(
        queries, emb, id_col="vec_id", vec_col="embedding", dim=DIM,
        k=K, target_recall=0.5, sample_queries=N_QUERIES,
    )
    assert meta["met_target"] and meta["recall_estimate"] >= 0.5
    assert {"n_planes", "n_tables", "curve"} <= set(meta)
    exact = _pairs(
        S.knn_bruteforce(
            queries, emb, id_col="vec_id", vec_col="embedding", k=K
        ).collect()
    )
    got = _pairs(out.collect())
    assert len(exact & got) / len(exact) >= 0.5


def test_ivf_feed_sink_tracks_dml(spark, sf_dir, tmp_path):
    """The feed-driven IVF maintenance (round 8,
    operators/similarity.start_ivf_index_sink): the corpus TxTable
    mutates (insert + vector UPDATE that moves rows between cells +
    keyed DELETE) and the stored cells table must end BIT-IDENTICAL to
    a fresh assign over the final corpus (assignment is a pure
    function of the fixed centroids), with the stored-table answer
    equal to the in-memory path and an empty re-drain publishing
    nothing (exactly-once stamp)."""
    import os

    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.operators.similarity import (
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        corpus0, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
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
    t.merge_into(upd, ["vec_id"], change_feed=True)
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    mark = tracked_count()
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    assert tracked_count() == mark  # each micro-batch released its persists

    final = emb.filter(F.col("vec_id") % 9 != 5).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 7 == 2, F.reverse(F.col("embedding"))
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    cells_t = TxTable(os.path.join(idx, "cells"))
    maintained = {
        (r.vec_id, r.cell_id, tuple(r.embedding))
        for r in cells_t.read(spark).collect()
    }
    fresh = {
        (r.vec_id, r.cell_id, tuple(r.embedding))
        for r in S.assign_cells(
            final, centroids, id_col="vec_id", vec_col="embedding", nprobe=1
        ).collect()
    }
    assert maintained == fresh
    # the update really moved at least one vector between cells —
    # otherwise the retraction path proved nothing
    moved = (
        cells_t.read(spark).alias("a")
        .join(
            S.assign_cells(
                corpus0.select("vec_id", "embedding"), centroids,
                id_col="vec_id", vec_col="embedding", nprobe=1,
            ).alias("b"),
            "vec_id",
        )
        .filter("a.cell_id <> b.cell_id")
        .count()
    )
    assert moved > 0

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    via_stored = S.knn_ivf(
        queries, None, TxTable(os.path.join(idx, "centroids")).read(spark),
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
        corpus_cells=cells_t.read(spark),
    ).collect()
    direct = S.knn_ivf(
        queries, final, centroids,
        id_col="vec_id", vec_col="embedding", k=K, nprobe=2,
    ).collect()
    assert sorted(
        [(r.query_id, r.neighbor_id, r.rnk) for r in via_stored]
    ) == sorted([(r.query_id, r.neighbor_id, r.rnk) for r in direct])

    head = cells_t.latest_version()
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    assert cells_t.latest_version() == head  # exactly-once re-drain


def test_ivf_drift_ledger_is_exact_and_flags_drift(spark, sf_dir, tmp_path):
    """The round-9 drift ledger: `start_ivf_index_sink` maintains
    (ivf_cos_sum, ivf_n) — sum/count of each LIVE row's cosine to its
    assigned centroid — by adding post-images and subtracting
    pre-images per batch, with the first applied batch snapshotted as
    the training baseline. Gated four ways: (a) the running mean is
    EXACT — it matches a fresh keep-score assign over the final corpus
    to float-noise; (b) drift_ratio is 1.0 at init; (c) adversarial
    drift (negating most vectors) drops the ratio well below any
    same-distribution state and trips retrain_recommended; (d) the
    ledger rides the exactly-once stamp — a re-drain changes
    nothing."""
    import os

    from filesystemagent_spark.operators.similarity import (
        ivf_drift_info,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    t = TxTable(src)
    t.init(corpus0.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        corpus0, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    info0 = ivf_drift_info(idx)
    assert info0["drift_ratio"] == 1.0          # baseline == live at init
    assert not info0["retrain_recommended"]

    # mutate: insert the held-out quarter, update some, delete some —
    # all three image kinds flow through the ledger
    t.merge_into(
        emb.filter(F.col("vec_id") % 4 == 0).select("vec_id", "embedding"),
        ["vec_id"], change_feed=True,
    )
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    info1 = ivf_drift_info(idx)
    live = t.read(spark)
    fresh_mean, fresh_n = (
        S.assign_cells(
            live, centroids, id_col="vec_id", vec_col="embedding",
            nprobe=1, keep_score=True,
        )
        .agg(F.avg("_cell_cos"), F.count("*"))
        .first()
    )
    assert info1["n_rows"] == fresh_n
    assert abs(info1["mean_assigned_cos"] - fresh_mean) < 1e-9  # exact

    # adversarial drift: negate most vectors; the ratio must fall well
    # below every same-distribution state (absolute thresholds live in
    # the sf0.1 experiment, scripts/exp_ivf_drift.py / SCALE.md)
    t.merge_into(
        live.filter(F.col("vec_id") % 5 != 0).select(
            "vec_id",
            F.transform("embedding", lambda x: (-x).cast("float"))
            .alias("embedding"),
        ),
        ["vec_id"], change_feed=True,
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    info2 = ivf_drift_info(idx)
    assert info2["drift_ratio"] < info1["drift_ratio"] - 0.05
    assert info2["retrain_recommended"]

    # the ledger rides the stamp: an empty re-drain publishes nothing
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    assert ivf_drift_info(idx) == info2


def test_retrain_ivf_index_rebaselines_and_resumes_maintenance(
    spark, sf_dir, tmp_path
):
    """Acting on the drift trigger: retrain_ivf_index rebuilds
    centroids from the live corpus, re-assigns once, re-baselines the
    ledger (drift_ratio back to 1.0), and CARRIES THE SINK'S STAMP so
    maintenance resumes — a re-drain publishes nothing, and post-
    retrain DML keeps the cells table bit-identical to a fresh assign
    against the NEW centroids."""
    import os

    from filesystemagent_spark.operators.similarity import (
        ivf_drift_info,
        retrain_ivf_index,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(src)
    t.init(emb.select("vec_id", "embedding"))
    TxTable(os.path.join(idx, "centroids")).init(
        S.centroids_from_labels(
            emb, label_col="label", vec_col="embedding", dim=DIM
        )
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    # drift the corpus hard, drain, confirm the trigger fires
    t.merge_into(
        emb.filter(F.col("vec_id") % 3 != 0).select(
            "vec_id",
            F.transform("embedding", lambda x: (-x).cast("float"))
            .alias("embedding"),
        ),
        ["vec_id"], change_feed=True,
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    assert ivf_drift_info(idx)["drift_ratio"] < 1.0

    info = retrain_ivf_index(spark, src, idx)
    assert info["drift_ratio"] == 1.0          # fresh baseline
    assert not info["retrain_recommended"]
    assert info["n_rows"] == t.read(spark).count()

    cells_t = TxTable(os.path.join(idx, "cells"))
    head = cells_t.latest_version()
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    assert cells_t.latest_version() == head    # stamp carried: no replay

    # maintenance continues against the NEW centroids
    t.delete_keys(
        emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    new_cents = TxTable(os.path.join(idx, "centroids")).read(spark)
    maintained = {
        (r.vec_id, r.cell_id) for r in cells_t.read(spark).collect()
    }
    fresh = {
        (r.vec_id, r.cell_id)
        for r in S.assign_cells(
            t.read(spark), new_cents,
            id_col="vec_id", vec_col="embedding", nprobe=1,
        ).collect()
    }
    assert maintained == fresh


def test_stored_ivf_probe_read_prunes_files(spark, sf_dir, tmp_path):
    """The stored cells table is staged CLUSTERED on cell_id, so the
    probe-pruned read (read_cells_for_queries) must scan only the
    files whose cell range overlaps the queries' nprobe cells — the
    scan-time pruning knn_ivf's 100 TB note promises — while returning
    exactly the probed cells' rows (results unchanged)."""
    import os

    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    cells = S.assign_cells(
        emb.select("vec_id", "embedding"), centroids,
        id_col="vec_id", vec_col="embedding", nprobe=1,
    ).repartitionByRange(8, "cell_id")
    path = str(tmp_path / "cells")
    t = TxTable(path)
    t.init(cells)
    n_all = len(t.read(spark).inputFiles())
    assert n_all >= 4  # clustered into several cell-range files

    queries = emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding")
    pruned = S.read_cells_for_queries(
        spark, path, centroids, queries,
        id_col="vec_id", vec_col="embedding", nprobe=2,
    )
    assert len(pruned.inputFiles()) < n_all  # stats skipping engaged
    probed = {
        r.cell_id
        for r in S.assign_cells(
            queries, centroids, id_col="vec_id", vec_col="embedding",
            nprobe=2,
        ).select("cell_id").distinct().collect()
    }
    assert {r.cell_id for r in pruned.select("cell_id").distinct().collect()} == probed
    # exact per-cell content: pruning never drops a probed-cell row
    want = cells.filter(F.col("cell_id").isin(*probed)).count()
    assert pruned.count() == want


def test_registered_auto_knn_queries_meet_target_and_agree(spark):
    """Round-8 gate for the REGISTERED auto-tuned ANN surface
    (embedding_knn_{ivf,lsh}_auto): on the sf0.01 corpus the returned
    meta's recall_estimate meets AUTO_TARGET_RECALL, and the emitted
    rows AGREE with the exact baseline at that level (the tuner's
    sample is the full registered query set, so the estimate must be
    the realized agreement, not an extrapolation). IVF's gate is
    unconditional (its ladder escalates to the provably-exact
    nprobe = n_cells); LSH's densest rung may honestly miss on
    pathological data, in which case the meta must SAY so and the
    realized agreement must still match the estimate it reports."""
    sf01 = "/root/testdata/sf0.01"  # the verdict-stated agreement SF
    from filesystemagent_spark.queries.embeddings import (
        AUTO_TARGET_RECALL,
        embedding_knn_ivf_auto_with_meta,
        embedding_knn_lsh_auto_with_meta,
    )

    emb = Catalog(spark, sf01).embeddings
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = _pairs(
        S.knn_bruteforce(
            queries, emb, id_col="vec_id", vec_col="embedding", k=K
        ).collect()
    )

    out, meta = embedding_knn_ivf_auto_with_meta(spark, sf01)
    assert meta["met_target"]
    assert meta["recall_estimate"] >= AUTO_TARGET_RECALL
    agree = len(exact & _pairs(out.collect())) / len(exact)
    assert agree >= AUTO_TARGET_RECALL
    assert abs(agree - meta["recall_estimate"]) < 1e-9

    out, meta = embedding_knn_lsh_auto_with_meta(spark, sf01)
    agree = len(exact & _pairs(out.collect())) / len(exact)
    assert abs(agree - meta["recall_estimate"]) < 1e-9
    if meta["met_target"]:
        assert agree >= AUTO_TARGET_RECALL
    else:  # honest miss: the densest rung's estimate is still reported
        assert meta["recall_estimate"] == max(
            c["recall"] for c in meta["curve"]
        )

    # PQ (round 8): rerank-depth tuner — unconditional like IVF (the
    # ladder tops out at rerank = corpus, an exact rescore)
    from filesystemagent_spark.queries.embeddings import (
        embedding_knn_pq_auto_with_meta,
    )

    out, meta = embedding_knn_pq_auto_with_meta(spark, sf01)
    assert meta["met_target"]
    assert meta["recall_estimate"] >= AUTO_TARGET_RECALL
    agree = len(exact & _pairs(out.collect())) / len(exact)
    assert agree >= AUTO_TARGET_RECALL
    rs = [c["recall"] for c in meta["curve"]]
    assert all(b >= a - 1e-9 for a, b in zip(rs, rs[1:])), rs

    # STORED-index auto (round 9): tuned against the cells table
    # itself, served through the probe-pruned read — unconditional
    # like the in-memory IVF tuner, and the stored serve must realize
    # the agreement the sampled estimate promised
    from filesystemagent_spark.queries.embeddings import (
        embedding_knn_stored_ivf_auto_with_meta,
    )

    out, meta = embedding_knn_stored_ivf_auto_with_meta(spark, sf01)
    assert meta["met_target"]
    assert meta["recall_estimate"] >= AUTO_TARGET_RECALL
    agree = len(exact & _pairs(out.collect())) / len(exact)
    assert agree >= AUTO_TARGET_RECALL
    assert abs(agree - meta["recall_estimate"]) < 1e-9


def test_semdedup_incremental_matches_direct_same_cell_sweep(
    spark, sf_dir, tmp_path
):
    """Incremental semantic dedup (round 9): a batch dedups against
    the corpus through the STORED cell table alone (the same artifact
    the IVF sink maintains and knn_ivf serves from), probe-pruned to
    the batch's cells. Pairs must equal a fresh same-cell cosine sweep
    over the union corpus restricted to pairs touching the batch —
    with guaranteed non-vacuous rows: an exact corpus re-submission
    (src='corpus', cosine 1.0) and an exact within-batch duplicate
    (src='batch', cosine 1.0)."""
    import os

    from filesystemagent_spark.operators.similarity import (
        semdedup_incremental,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 4 != 0)
    dup_src = corpus.orderBy("vec_id").limit(1)
    batch = (
        emb.filter(F.col("vec_id") % 4 == 0)
        .unionByName(dup_src.select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        ))
        .unionByName(dup_src.select(
            (F.col("vec_id") + 2000000).alias("vec_id"), "embedding"
        ))
    )
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    TxTable(src).init(corpus)
    centroids = S.centroids_from_labels(
        Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 4 != 0),
        label_col="label", vec_col="embedding", dim=DIM,
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()

    got = {
        (r.id_new, r.dup_of, r.cosine, r.src)
        for r in semdedup_incremental(
            spark, batch, os.path.join(idx, "cells"), centroids,
            threshold=0.95, round_to=6,
        ).collect()
    }

    # direct sweep: fresh assignment of the UNION, same-cell pairs
    # touching the batch at the same threshold
    union = corpus.unionByName(batch)
    assigned = S.assign_cells(
        union, centroids, id_col="vec_id", vec_col="embedding", nprobe=1
    )
    from filesystemagent_spark.functions import vectors as V

    a = assigned.select(
        F.col("vec_id").alias("ia"), F.col("embedding").alias("va"),
        V.l2_norm(F.col("embedding")).alias("na"), "cell_id",
    )
    b = assigned.select(
        F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"),
        V.l2_norm(F.col("embedding")).alias("nb"), "cell_id",
    )
    pairs = (
        a.join(b, "cell_id")
        .filter(F.col("ia") != F.col("ib"))
        .withColumn(
            "cos",
            F.round(
                V.cosine_from(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cos") >= 0.95)
        .collect()
    )
    batch_ids = {r.vec_id for r in batch.collect()}
    want = set()
    for r in pairs:
        if r.ia in batch_ids and r.ib in batch_ids:
            if r.ib > r.ia:
                want.add((r.ib, r.ia, r.cos, "batch"))
        elif r.ia in batch_ids and r.ib not in batch_ids:
            want.add((r.ia, r.ib, r.cos, "corpus"))
    assert got == want
    base_id = dup_src.first().vec_id
    assert (1000000 + base_id, base_id, 1.0, "corpus") in got
    assert (2000000 + base_id, 1000000 + base_id, 1.0, "batch") in got


def test_ivf_feed_sink_crash_between_delete_and_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Worst-point crash for the IVF sink (the BM25/minhash sinks'
    crash-replay gate applied to the third index sink): the batch's
    key tombstone lands on the cells table, the process dies BEFORE
    the merge stamps. Restart must replay the batch once — redundant
    tombstone, then the merge lands with the stamp AND the drift
    ledger applied exactly once — and converge to the fresh-assign
    state with an exact ledger."""
    import os

    import pytest as _pytest

    from filesystemagent_spark.operators.similarity import (
        ivf_drift_info,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(src)
    t.init(emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    t.merge_into(
        emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
        ["vec_id"], change_feed=True,
    )

    cells_path = os.path.join(idx, "cells")
    orig = TxTable.merge_into
    boom = {"armed": True}

    def failing(self, *a, **kw):
        if boom["armed"] and self.path == cells_path:
            boom["armed"] = False
            raise RuntimeError("injected crash before the cells merge")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "merge_into", failing)
    q = start_ivf_index_sink(spark, src, idx, ckpt)
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    cells_t = TxTable(cells_path)
    assert cells_t.latest_app_value("ivf_batch_id") == 0  # stamp not advanced

    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    final = t.read(spark)
    maintained = {
        (r.vec_id, r.cell_id) for r in cells_t.read(spark).collect()
    }
    fresh = S.assign_cells(
        final, centroids, id_col="vec_id", vec_col="embedding", nprobe=1,
        keep_score=True,
    ).cache()
    assert maintained == {(r.vec_id, r.cell_id) for r in fresh.collect()}
    # the ledger applied exactly once: a double-applied replay would
    # double the batch's cosine contribution
    want_mean, want_n = fresh.agg(F.avg("_cell_cos"), F.count("*")).first()
    info = ivf_drift_info(idx)
    assert info["n_rows"] == want_n
    assert abs(info["mean_assigned_cos"] - want_mean) < 1e-9
    fresh.unpersist()


def test_pq_feed_sink_tracks_dml_and_matches_fresh_encode(
    spark, sf_dir, tmp_path
):
    """The round-9 PQ-codes sink (the compressed-vector leg of the
    maintained-artifact family): the normalized corpus mutates (insert
    + vector UPDATE that changes codes + keyed DELETE) and the stored
    codes table tracks it from the change feed against the FIXED
    codebook. Encoding is a pure function of the codebook, so the
    maintained codes must be BIT-IDENTICAL to a fresh pq_encode over
    the final corpus, the stored-codes knn_pq answer must equal the
    in-memory one, and an empty re-drain publishes nothing."""
    import os

    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.operators.similarity import (
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0)
    book = S.pq_codebooks(
        corpus0, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(os.path.join(idx, "codebook")).init(book)
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
    t.merge_into(upd, ["vec_id"], change_feed=True)
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    mark = tracked_count()
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    assert tracked_count() == mark  # each micro-batch released its persists

    final = t.read(spark)
    codes_t = TxTable(os.path.join(idx, "codes"))
    maintained = {
        (r.vec_id, tuple(r.codes)) for r in codes_t.read(spark).collect()
    }
    fresh_codes = S.pq_encode(
        final, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8,
        k=16,
    )
    fresh = {(r.vec_id, tuple(r.codes)) for r in fresh_codes.collect()}
    assert maintained == fresh
    # the update really changed at least one doc's codes
    changed = (
        codes_t.read(spark).alias("a")
        .join(
            S.pq_encode(
                corpus0, book, id_col="vec_id", vec_col="embedding",
                dim=DIM, m=8, k=16,
            ).alias("b"),
            "vec_id",
        )
        .filter("a.codes <> b.codes")
        .count()
    )
    assert changed > 0

    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    via_stored = S.knn_pq(
        queries, codes_t.read(spark), book, dim=DIM, m=8, k_cells=16, k=K
    ).collect()
    direct = S.knn_pq(
        queries, fresh_codes, book, dim=DIM, m=8, k_cells=16, k=K
    ).collect()
    assert sorted(
        (r.query_id, r.neighbor_id, r.rnk) for r in via_stored
    ) == sorted((r.query_id, r.neighbor_id, r.rnk) for r in direct)

    head = codes_t.latest_version()
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    assert codes_t.latest_version() == head  # exactly-once re-drain


def test_retrain_crash_between_publishes_is_detected_and_resumed(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Review finding (round 9): retrain_ivf_index publishes centroids
    and cells in two non-atomic commits. A crash between them must be
    (a) DETECTED loudly by every consumer (ivf_drift_info and the sink
    refuse mixed-regime answers via the epoch stamps) and (b)
    RECOVERED by re-running retrain_ivf_index, which must resume —
    re-assign against the already-published centroids WITHOUT
    re-training — and converge to a consistent epoch with an exact
    fresh ledger."""
    import os

    import pytest as _pytest

    from filesystemagent_spark.operators.similarity import (
        ivf_drift_info,
        ivf_index_epochs,
        retrain_ivf_index,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(src)
    t.init(emb.select("vec_id", "embedding"))
    TxTable(os.path.join(idx, "centroids")).init(
        S.centroids_from_labels(
            emb, label_col="label", vec_col="embedding", dim=DIM
        )
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()

    cells_path = os.path.join(idx, "cells")
    orig = TxTable.overwrite
    boom = {"armed": True}

    def failing(self, *a, **kw):
        if boom["armed"] and self.path == cells_path:
            boom["armed"] = False
            raise RuntimeError("injected crash before the cells publish")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "overwrite", failing)
    with _pytest.raises(RuntimeError, match="injected crash"):
        retrain_ivf_index(spark, src, idx)

    assert ivf_index_epochs(idx) == (1, 0)  # centroids ahead: mid-retrain
    with _pytest.raises(ValueError, match="mid-retrain"):
        ivf_drift_info(idx)
    # the sink refuses to merge new-regime assignments: push DML and
    # drain — the leg must fail loudly, not mix regimes
    t.merge_into(
        emb.limit(5).select("vec_id", "embedding"), ["vec_id"],
        change_feed=True,
    )
    q = start_ivf_index_sink(spark, src, idx, ckpt)
    with _pytest.raises(Exception, match="mid-retrain"):
        q.awaitTermination()
    # the auto-tuned stored serving path must refuse too — it would
    # otherwise tune AND serve new centroids against old assignments
    # (round-10 advice)
    from filesystemagent_spark.operators.anntune import knn_stored_ivf_auto

    with _pytest.raises(ValueError, match="mid-retrain"):
        knn_stored_ivf_auto(
            spark, emb.filter(F.col("vec_id") < N_QUERIES), idx, k=K
        )

    new_cents = {
        (r.cell_id, tuple(r.centroid))
        for r in TxTable(os.path.join(idx, "centroids")).read(spark).collect()
    }
    info = retrain_ivf_index(spark, src, idx)  # resume path
    assert ivf_index_epochs(idx) == (1, 1)     # converged, NOT re-bumped
    assert {
        (r.cell_id, tuple(r.centroid))
        for r in TxTable(os.path.join(idx, "centroids")).read(spark).collect()
    } == new_cents                              # resume did not re-train
    assert info["drift_ratio"] == 1.0
    maintained = {
        (r.vec_id, r.cell_id)
        for r in TxTable(cells_path).read(spark).collect()
    }
    fresh = {
        (r.vec_id, r.cell_id)
        for r in S.assign_cells(
            t.read(spark),
            TxTable(os.path.join(idx, "centroids")).read(spark),
            id_col="vec_id", vec_col="embedding", nprobe=1,
        ).collect()
    }
    assert maintained == fresh
    # and the sink resumes cleanly after recovery
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()


def test_retrain_epoch_rides_the_data_commit(spark, sf_dir, tmp_path):
    """Round-10 advice: a retrain's new table CONTENT and its
    `ivf_retrain_epoch` stamp must land in ONE commit per table
    (TxTable.overwrite app=) — a separate commit_app leaves a window
    where new-regime data carries the old epoch, the epochs still
    compare EQUAL, and the mixed-regime state the stamps exist to
    detect goes undetected. Pin: the head manifest of BOTH tables
    carries the epoch alongside its data files."""
    import os

    from filesystemagent_spark.operators.similarity import (
        retrain_ivf_index,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    TxTable(src).init(emb.select("vec_id", "embedding"))
    TxTable(os.path.join(idx, "centroids")).init(
        S.centroids_from_labels(
            emb, label_col="label", vec_col="embedding", dim=DIM
        )
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    retrain_ivf_index(spark, src, idx)
    for name in ("centroids", "cells"):
        t = TxTable(os.path.join(idx, name))
        head = t._read_manifest(t.latest_version())
        app = head.get("app") or {}
        assert app.get("ivf_retrain_epoch") == 1, name
        assert head.get("files") or head.get("segments"), name


def test_pre_ledger_cells_table_gets_no_fabricated_ledger(
    spark, sf_dir, tmp_path
):
    """Round-10 advice: on a cells table built BEFORE the drift ledger
    existed (round-8 sink), the sink used to seed the running sum from
    0.0 — a ledger that accumulates deltas off a wrong base and LOOKS
    valid. The fix skips the ledger extras on such tables, so
    ivf_drift_info keeps raising its honest 'no drift ledger' error
    while the cell maintenance itself stays bit-identical to fresh."""
    import os

    from filesystemagent_spark.operators.similarity import (
        ivf_drift_info,
        start_ivf_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = Catalog(spark, sf_dir).embeddings
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id", "embedding"
    )
    t = TxTable(src)
    t.init(corpus0)
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    # simulate the round-8 sink's artifact: a cells table with the
    # batch stamp but NO ledger keys
    cells_path = os.path.join(idx, "cells")
    TxTable(cells_path).init(
        S.assign_cells(
            corpus0, centroids, id_col="vec_id", vec_col="embedding",
            nprobe=1,
        ),
        app={"ivf_batch_id": 0},
    )
    # seed the checkpoint against the already-applied v1, then mutate
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()
    t.merge_into(
        emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "embedding"),
        ["vec_id"], change_feed=True,
    )
    start_ivf_index_sink(spark, src, idx, ckpt).awaitTermination()

    cells_t = TxTable(cells_path)
    assert cells_t.latest_app_value("ivf_batch_id") is not None
    for k in ("ivf_cos_sum", "ivf_n", "ivf_cos_sum0", "ivf_n0"):
        assert cells_t.latest_app_value(k) is None, k
    with pytest.raises(ValueError, match="no drift ledger"):
        ivf_drift_info(idx)
    maintained = {
        (r.vec_id, r.cell_id) for r in cells_t.read(spark).collect()
    }
    fresh = {
        (r.vec_id, r.cell_id)
        for r in S.assign_cells(
            t.read(spark), centroids, id_col="vec_id", vec_col="embedding",
            nprobe=1,
        ).collect()
    }
    assert maintained == fresh


def test_pq_feed_sink_crash_between_delete_and_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Worst-point crash for the PQ sink (round 10 — closes the one
    maintained artifact without an injected-failure gate, completing
    SCALE.md's 'individually test-pinned per sink' guarantee): the
    batch's key tombstone lands on the codes table, the process dies
    BEFORE the merge stamps. Restart must replay the batch once —
    redundant tombstone, then the merge lands with the stamp AND the
    drift ledger applied exactly once — and converge to fresh-encode
    bit-identity with an exact ledger."""
    import os

    from filesystemagent_spark.operators.similarity import (
        pq_drift_info,
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 2 == 0)
    t = TxTable(src)
    t.init(corpus0)
    book = S.pq_codebooks(
        corpus0, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(os.path.join(idx, "codebook")).init(book)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    t.merge_into(
        emb.filter(F.col("vec_id") % 2 == 1), ["vec_id"], change_feed=True
    )

    codes_path = os.path.join(idx, "codes")
    orig = TxTable.merge_into
    boom = {"armed": True}

    def failing(self, *a, **kw):
        if boom["armed"] and self.path == codes_path:
            boom["armed"] = False
            raise RuntimeError("injected crash before the codes merge")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "merge_into", failing)
    q = start_pq_index_sink(spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    codes_t = TxTable(codes_path)
    assert codes_t.latest_app_value("pq_batch_id") == 0  # stamp not advanced

    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    final = t.read(spark)
    maintained = {
        (r.vec_id, tuple(r.codes)) for r in codes_t.read(spark).collect()
    }
    fresh = S.pq_encode_with_err(
        final, book, id_col="vec_id", vec_col="embedding", dim=DIM, m=8,
        k=16,
    ).cache()
    assert maintained == {
        (r.vec_id, tuple(r.codes)) for r in fresh.collect()
    }
    # the ledger applied exactly once: a double-applied replay would
    # double the batch's error contribution
    want_mean, want_n = fresh.agg(F.avg("_pq_err"), F.count("*")).first()
    info = pq_drift_info(idx)
    assert info["n_rows"] == want_n
    assert abs(info["mean_recon_err"] - want_mean) < 1e-9
    fresh.unpersist()


def test_pq_drift_ledger_is_exact_and_flags_drift(spark, sf_dir, tmp_path):
    """The round-10 PQ drift ledger (the IVF discipline ported):
    `start_pq_index_sink` maintains (pq_err_sum, pq_n) — sum/count of
    live rows' reconstruction error against the FIXED codebook — by
    +post-images / −pre-images per batch. Gated four ways like the IVF
    twin: (a) the running mean is EXACT vs a fresh encode-with-err
    over the final corpus; (b) drift_ratio is 1.0 at init; (c)
    adversarial drift (vectors the codebook never saw) RAISES the
    ratio (error grows — opposite direction from IVF's cosine) and
    trips retrain_recommended; (d) the ledger rides the exactly-once
    stamp — a re-drain changes nothing."""
    import os

    from filesystemagent_spark.operators.similarity import (
        pq_drift_info,
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    t = TxTable(src)
    t.init(corpus0)
    book = S.pq_codebooks(
        corpus0, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(os.path.join(idx, "codebook")).init(book)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    info0 = pq_drift_info(idx)
    assert info0["drift_ratio"] == 1.0
    assert not info0["retrain_recommended"]

    # mutate: insert the held-out quarter, delete some — inserts and
    # deletes both flow through the ledger
    t.merge_into(
        emb.filter(F.col("vec_id") % 4 == 0), ["vec_id"], change_feed=True
    )
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    info1 = pq_drift_info(idx)
    live = t.read(spark)
    fresh_mean, fresh_n = (
        S.pq_encode_with_err(
            live, book, id_col="vec_id", vec_col="embedding", dim=DIM,
            m=8, k=16,
        )
        .agg(F.avg("_pq_err"), F.count("*"))
        .first()
    )
    assert info1["n_rows"] == fresh_n
    assert abs(info1["mean_recon_err"] - fresh_mean) < 1e-9  # exact
    # the usage histogram is exact integer arithmetic: the maintained
    # counts equal a fresh per-(subspace, code) count over the final
    # corpus (the discrimination half of the two-signal ledger)
    from filesystemagent_spark.operators.similarity import _pq_code_hist
    from filesystemagent_spark.sources.txtable import TxTable as _T

    fresh_hist = _pq_code_hist(
        S.pq_encode(
            live, book, id_col="vec_id", vec_col="embedding", dim=DIM,
            m=8, k=16,
        )
    )
    stored_hist = {
        k: int(v)
        for k, v in _T(os.path.join(idx, "codes"))
        .latest_app_value("pq_hist").items()
    }
    assert stored_hist == fresh_hist

    # adversarial drift: shuffle vector coordinates (reverse) — the
    # per-subspace distributions change and reconstruction error rises
    t.merge_into(
        live.filter(F.col("vec_id") % 5 != 0).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        ["vec_id"], change_feed=True,
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    info2 = pq_drift_info(idx)
    assert info2["drift_ratio"] > info1["drift_ratio"] + 0.05
    assert pq_drift_info(idx, retrain_ratio=info2["drift_ratio"] - 0.01)[
        "retrain_recommended"
    ]

    # the ledger rides the stamp: an empty re-drain publishes nothing
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    assert pq_drift_info(idx) == info2


def test_retrain_pq_index_rebaselines_resumes_and_survives_crash(
    spark, sf_dir, tmp_path, monkeypatch
):
    """retrain_pq_index end-to-end (round 10): (1) rebuilds the
    codebook from the live corpus and re-baselines the ledger
    (drift_ratio back to 1.0) while CARRYING the sink's stamp (a
    re-drain publishes nothing); (2) a crash between the codebook and
    codes publishes leaves the codebook epoch ahead — pq_drift_info
    and the sink refuse loudly, and a rerun RESUMES without
    re-training; (3) both tables' head manifests carry the epoch
    alongside their data (the atomic overwrite app= discipline)."""
    import os

    from filesystemagent_spark.operators.similarity import (
        pq_drift_info,
        pq_index_epochs,
        retrain_pq_index,
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings).select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    t = TxTable(src)
    t.init(emb)
    book0 = S.pq_codebooks(
        emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(os.path.join(idx, "codebook")).init(book0)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    # drift the corpus, drain
    t.merge_into(
        emb.filter(F.col("vec_id") % 3 != 0).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        ["vec_id"], change_feed=True,
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    assert pq_drift_info(idx)["drift_ratio"] > 1.0

    # crash the retrain between its two publishes
    codes_path = os.path.join(idx, "codes")
    orig = TxTable.overwrite
    boom = {"armed": True}

    def failing(self, *a, **kw):
        if boom["armed"] and self.path == codes_path:
            boom["armed"] = False
            raise RuntimeError("injected crash before the codes publish")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "overwrite", failing)
    with pytest.raises(RuntimeError, match="injected crash"):
        retrain_pq_index(spark, src, idx, dim=DIM, m=8, k_cells=16)
    assert pq_index_epochs(idx) == (1, 0)  # codebook ahead: mid-retrain
    with pytest.raises(ValueError, match="mid-retrain"):
        pq_drift_info(idx)
    t.merge_into(emb.limit(5), ["vec_id"], change_feed=True)
    q = start_pq_index_sink(spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16)
    with pytest.raises(Exception, match="mid-retrain"):
        q.awaitTermination()

    book_t = TxTable(os.path.join(idx, "codebook"))
    new_book = {
        (r.sub_id, r.cell_id, tuple(r.centroid))
        for r in book_t.read(spark).collect()
    }
    info = retrain_pq_index(spark, src, idx, dim=DIM, m=8, k_cells=16)
    assert pq_index_epochs(idx) == (1, 1)      # converged, NOT re-bumped
    assert {
        (r.sub_id, r.cell_id, tuple(r.centroid))
        for r in book_t.read(spark).collect()
    } == new_book                               # resume did not re-train
    assert info["drift_ratio"] == 1.0
    assert not info["retrain_recommended"]
    # epoch rides the data commit on both tables
    for name in ("codebook", "codes"):
        tt = TxTable(os.path.join(idx, name))
        head = tt._read_manifest(tt.latest_version())
        assert (head.get("app") or {}).get("pq_retrain_epoch") == 1, name
        assert head.get("files") or head.get("segments"), name
    # maintenance resumes: the limit(5) merge the sink REFUSED
    # mid-retrain is still pending in the checkpoint — the first
    # post-recovery drain replays it once (content-idempotent: the
    # retrain already encoded those rows), then a further re-drain
    # publishes nothing
    codes_t = TxTable(codes_path)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    maintained = {
        (r.vec_id, tuple(r.codes))
        for r in codes_t.read(spark).collect()
    }
    fresh = {
        (r.vec_id, tuple(r.codes))
        for r in S.pq_encode(
            t.read(spark), book_t.read(spark),
            id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        ).collect()
    }
    assert maintained == fresh
    head_v = codes_t.latest_version()
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16
    ).awaitTermination()
    assert codes_t.latest_version() == head_v


def test_ivfpq_sink_cluster_by_cells_matches_fresh(spark, sf_dir, tmp_path):
    """The cluster_by_cells PQ sink (round 10 — the IVFPQ layout):
    codes rows carry cell_id and stage clustered on it. Both halves
    are pure functions of fixed artifacts (codes ← codebook,
    cell_id ← centroids), so after insert + code-shifting update +
    keyed delete the maintained table must be BIT-IDENTICAL to a
    fresh encode+assign over the final corpus."""
    import os

    from filesystemagent_spark.operators.similarity import (
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    corpus0 = emb.filter(F.col("vec_id") % 4 != 0)
    TxTable(src).init(corpus0.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        corpus0, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    book = S.pq_codebooks(
        corpus0, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
        max_iter=2,
    )
    TxTable(os.path.join(idx, "codebook")).init(book)
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()
    t = TxTable(src)
    t.merge_into(
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
    t.delete_keys(
        emb.filter(F.col("vec_id") % 9 == 5).select("vec_id"),
        ["vec_id"], change_feed=True,
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()

    final = t.read(spark)
    maintained = {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in TxTable(os.path.join(idx, "codes")).read(spark).collect()
    }
    fresh = {
        (r.vec_id, tuple(r.codes), r.cell_id)
        for r in S.pq_encode(
            final, book, id_col="vec_id", vec_col="embedding", dim=DIM,
            m=8, k=16,
        )
        .join(
            S.assign_cells(
                final, centroids, id_col="vec_id", vec_col="embedding",
                nprobe=1,
            ).select("vec_id", "cell_id"),
            "vec_id",
        )
        .collect()
    }
    assert maintained == fresh


def test_knn_ivfpq_prunes_codes_scan_and_is_exact_when_exhaustive(
    spark, sf_dir, tmp_path
):
    """knn_ivfpq's two contracts (round 10): (a) PRUNING — the codes
    scan reads only the files whose cell_id range overlaps the
    queries' probed cells (the whole point of composing the stored
    artifacts; gated on files read, mirroring the stored-IVF gate);
    (b) EXACTNESS ANCHOR — at nprobe = |cells| and rerank = |corpus|
    every stage is exhaustive and the result equals knn_bruteforce
    (what lets the auto-tuner terminate met)."""
    import os

    from filesystemagent_spark.operators.similarity import (
        knn_ivfpq,
        start_pq_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    src = str(tmp_path / "corpus")
    idx = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    TxTable(src).init(emb.select("vec_id", "embedding"))
    centroids = S.centroids_from_labels(
        emb, label_col="label", vec_col="embedding", dim=DIM
    )
    TxTable(os.path.join(idx, "centroids")).init(centroids)
    TxTable(os.path.join(idx, "codebook")).init(
        S.pq_codebooks(
            emb, id_col="vec_id", vec_col="embedding", dim=DIM, m=8, k=16,
            max_iter=2,
        )
    )
    start_pq_index_sink(
        spark, src, idx, ckpt, dim=DIM, m=8, k_cells=16,
        cluster_by_cells=True,
    ).awaitTermination()

    codes_t = TxTable(os.path.join(idx, "codes"))
    n_all = len(codes_t.read(spark).inputFiles())
    assert n_all >= 4  # clustered into several cell-range files

    queries = emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding")
    probed = [
        r.cell_id
        for r in S.assign_cells(
            queries, centroids, id_col="vec_id", vec_col="embedding",
            nprobe=2,
        ).select("cell_id").distinct().collect()
    ]
    pruned = codes_t.read(spark, where=[("cell_id", "in", probed)])
    assert len(pruned.inputFiles()) < n_all  # manifest stats pruned files
    # the pruned read still holds every probed cell's rows
    assert (
        pruned.count()
        == codes_t.read(spark).filter(F.col("cell_id").isin(probed)).count()
    )

    # exactness anchor: exhaustive parameters == brute force
    n_cells = centroids.count()
    n_corpus = TxTable(src).read(spark).count()
    got = sorted(
        (r.query_id, r.neighbor_id, r.rnk)
        for r in knn_ivfpq(
            spark, queries, idx, corpus_table=src,
            dim=DIM, m=8, k_cells=16, k=K,
            nprobe=n_cells, rerank=n_corpus,
        ).collect()
    )
    want = sorted(
        (r.query_id, r.neighbor_id, r.rnk)
        for r in S.knn_bruteforce(
            queries, emb.select("vec_id", "embedding"),
            id_col="vec_id", vec_col="embedding", k=K,
        ).collect()
    )
    assert got == want


def test_knn_stored_ivfpq_auto_recall_and_agreement(spark, sf_dir):
    """The composed IVFPQ auto path on the registry's own recipe
    (maintained clustered codes through DML, then tuned serving):
    the tuner must meet the target, and because the sample IS the
    query batch the realized agreement with brute force must equal
    the estimate exactly — the estimate-equals-realized discipline
    every auto surface in this repo carries."""
    from filesystemagent_spark.queries.embeddings import (
        AUTO_TARGET_RECALL,
        embedding_knn_ivfpq_auto_with_meta,
    )

    emb = S.normalize(Catalog(spark, sf_dir).embeddings)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id", "embedding"
    )
    # ground truth over the FINAL corpus state the registry query
    # leaves behind: (corpus0 ∪ inserts ∪ updates) − deletes
    upd = emb.filter(
        (F.col("vec_id") % 4 == 0) | (F.col("vec_id") % 7 == 2)
    ).select(
        "vec_id",
        F.when(
            F.col("vec_id") % 7 == 2, F.reverse(F.col("embedding"))
        ).otherwise(F.col("embedding")).alias("embedding"),
    )
    final = (
        emb.filter((F.col("vec_id") % 4 != 0) & (F.col("vec_id") % 7 != 2))
        .select("vec_id", "embedding")
        .unionByName(upd)
        .filter(F.col("vec_id") % 9 != 5)
    )
    exact = {}
    for r in S.knn_bruteforce(
        queries, final, id_col="vec_id", vec_col="embedding", k=K
    ).collect():
        exact.setdefault(r.query_id, set()).add(r.neighbor_id)

    out, meta = embedding_knn_ivfpq_auto_with_meta(spark, sf_dir)
    assert meta["met_target"]
    assert meta["recall_estimate"] >= AUTO_TARGET_RECALL
    got = {}
    for r in out.collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    agree = sum(
        len(got.get(q, set()) & nbrs) / len(nbrs)
        for q, nbrs in exact.items() if nbrs
    ) / len(exact)
    assert agree >= AUTO_TARGET_RECALL
    assert abs(agree - meta["recall_estimate"]) < 1e-9
