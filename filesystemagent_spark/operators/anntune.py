"""Target-recall ANN tuning.

The registered LSH/IVF defaults are the right 100 TB shape for
clustered corpora but measured 0.38–0.49 recall@10 at sf0.1 on the
weak-structure synthetic corpus (RECALL.md) — with nothing at the
call site saying so. These tuners close that gap: estimate recall on
a SAMPLED query subset against one brute-forced exact baseline, walk
a parameter ladder of increasing candidate fraction, and return the
first configuration meeting ``target_recall`` — so defaults adapt to
the corpus's actual neighbor structure instead of assuming it.

Cost model: the exact baseline is ONE linear corpus scan against
``sample_queries`` broadcast queries (the same plan as
`knn_bruteforce`); each ladder step is one bucketed/celled probe of
the sample. At 100 TB you run the tuner once per corpus snapshot on
the sample, then serve the full query load with the chosen
parameters — the Faiss/ScaNN "train on a sample, deploy the index"
recipe re-expressed over DataFrames.

Honesty: when even the densest ladder rung misses the target the
result carries ``met_target=False`` and the best rung found —
IVF escalates nprobe to n_cells (provably exact, recall 1.0), so its
tuner always terminates met; LSH's densest rung may still miss on
pathological data, and the caller sees that instead of a silent
sub-half recall.

Reference parity note: the reference has no ANN surface at all; this
file exists for the training-pipeline extension (SURVEY §2's
similarity-search family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filesystemagent_spark.caching import track_persist, tracked_scope
from filesystemagent_spark.operators.similarity import (
    knn_bruteforce,
    knn_ivf,
    knn_lsh,
)

# densifying candidate fraction: ~n_tables / 2^n_planes
LSH_LADDER: tuple[tuple[int, int], ...] = (
    (8, 1), (6, 2), (4, 4), (3, 6), (2, 8), (1, 8),
)


def _topk_sets(df: DataFrame) -> dict:
    by_q: dict = {}
    for r in df.select("query_id", "neighbor_id").collect():
        by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    return by_q


def _recall(approx: dict, exact: dict) -> float:
    if not exact:
        return 1.0
    return sum(
        len(approx.get(q, set()) & nbrs) / len(nbrs)
        for q, nbrs in exact.items() if nbrs
    ) / len(exact)


def _sample(queries: DataFrame, id_col: str, n: int) -> DataFrame:
    # deterministic: first n by id — the tuner must be reproducible
    # (Spark sample() reshuffles per run)
    return queries.orderBy(id_col).limit(n)


def tune_knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
    seed: int = 42,
    ladder: tuple[tuple[int, int], ...] = LSH_LADDER,
) -> dict:
    """Pick (n_planes, n_tables) meeting ``target_recall`` on a sampled
    recall estimate. Returns {n_planes, n_tables, recall_estimate,
    met_target, curve} — curve records every rung tried."""
    with tracked_scope():
        sample = track_persist(_sample(queries, id_col, sample_queries))
        corpus = track_persist(corpus)
        exact = _topk_sets(
            knn_bruteforce(sample, corpus, id_col=id_col, vec_col=vec_col, k=k)
        )
        curve = []
        best = None
        for n_planes, n_tables in ladder:
            r = _recall(
                _topk_sets(
                    knn_lsh(
                        sample, corpus, id_col=id_col, vec_col=vec_col,
                        dim=dim, k=k, n_planes=n_planes, n_tables=n_tables,
                        seed=seed,
                    )
                ),
                exact,
            )
            curve.append(
                {"n_planes": n_planes, "n_tables": n_tables, "recall": r}
            )
            if best is None or r > best["recall"]:
                best = curve[-1]
            if r >= target_recall:
                return {
                    "n_planes": n_planes, "n_tables": n_tables,
                    "recall_estimate": r, "met_target": True, "curve": curve,
                }
        return {
            "n_planes": best["n_planes"], "n_tables": best["n_tables"],
            "recall_estimate": best["recall"], "met_target": False,
            "curve": curve,
        }


def tune_knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
    corpus_cells: DataFrame | None = None,
) -> dict:
    """Pick nprobe meeting ``target_recall``; the ladder doubles up to
    n_cells, where probing every cell is exact — so this tuner ALWAYS
    terminates with met_target=True (worst case: the exact plan, the
    honest answer on structureless data)."""
    n_cells = centroids.count()
    with tracked_scope():
        sample = track_persist(_sample(queries, id_col, sample_queries))
        corpus = track_persist(corpus)
        exact = _topk_sets(
            knn_bruteforce(sample, corpus, id_col=id_col, vec_col=vec_col, k=k)
        )
        curve = []
        nprobe = 1
        while True:
            r = _recall(
                _topk_sets(
                    knn_ivf(
                        sample, corpus, centroids, id_col=id_col,
                        vec_col=vec_col, k=k, nprobe=nprobe,
                        corpus_cells=corpus_cells,
                    )
                ),
                exact,
            )
            curve.append({"nprobe": nprobe, "recall": r})
            if r >= target_recall or nprobe >= n_cells:
                return {
                    "nprobe": nprobe, "n_cells": n_cells,
                    "recall_estimate": r,
                    "met_target": r >= target_recall, "curve": curve,
                }
            nprobe = min(n_cells, nprobe * 2)


def tune_knn_pq(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
) -> dict:
    """Pick the RERANK depth meeting ``target_recall``: PQ's recall
    limiter is ADC quantization error, and the standard fix is exact
    re-scoring of a deeper candidate list
    (operators/similarity.knn_pq_rerank). The ladder doubles rerank
    from 2k up to the corpus size, where ADC retrieves everything and
    the exact rescore makes recall 1.0 — so like the IVF tuner this
    one ALWAYS terminates met (worst case: the exact plan over
    compressed candidates)."""
    from filesystemagent_spark.operators.similarity import knn_pq_rerank

    n_corpus = corpus.count()
    with tracked_scope():
        sample = track_persist(_sample(queries, id_col, sample_queries))
        corpus = track_persist(corpus)
        exact = _topk_sets(
            knn_bruteforce(sample, corpus, id_col=id_col, vec_col=vec_col, k=k)
        )
        curve = []
        rerank = max(2 * k, 10)
        while True:
            r = _recall(
                _topk_sets(
                    knn_pq_rerank(
                        sample, codes, codebook, corpus, id_col=id_col,
                        vec_col=vec_col, dim=dim, m=m, k_cells=k_cells,
                        k=k, rerank=rerank,
                    )
                ),
                exact,
            )
            curve.append({"rerank": rerank, "recall": r})
            if r >= target_recall or rerank >= n_corpus:
                return {
                    "rerank": rerank, "n_corpus": n_corpus,
                    "recall_estimate": r,
                    "met_target": r >= target_recall, "curve": curve,
                }
            rerank = min(n_corpus, rerank * 2)


def knn_pq_auto(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
) -> tuple[DataFrame, dict]:
    """knn_pq_rerank with tuned rerank depth: returns (result, meta)."""
    from filesystemagent_spark.operators.similarity import knn_pq_rerank

    meta = tune_knn_pq(
        queries, codes, codebook, corpus, id_col=id_col, vec_col=vec_col,
        dim=dim, m=m, k_cells=k_cells, k=k, target_recall=target_recall,
        sample_queries=sample_queries,
    )
    out = knn_pq_rerank(
        queries, codes, codebook, corpus, id_col=id_col, vec_col=vec_col,
        dim=dim, m=m, k_cells=k_cells, k=k, rerank=meta["rerank"],
    )
    return out, meta


def knn_lsh_auto(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
    seed: int = 42,
) -> tuple[DataFrame, dict]:
    """knn_lsh with tuned parameters: returns (result, meta) where
    meta carries the chosen rung and the sampled recall estimate —
    the call site SEES the expected quality instead of assuming it."""
    meta = tune_knn_lsh(
        queries, corpus, id_col=id_col, vec_col=vec_col, dim=dim, k=k,
        target_recall=target_recall, sample_queries=sample_queries, seed=seed,
    )
    out = knn_lsh(
        queries, corpus, id_col=id_col, vec_col=vec_col, dim=dim, k=k,
        n_planes=meta["n_planes"], n_tables=meta["n_tables"], seed=seed,
    )
    return out, meta


def knn_ivf_auto(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
    corpus_cells: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """knn_ivf with tuned nprobe: returns (result, meta)."""
    meta = tune_knn_ivf(
        queries, corpus, centroids, id_col=id_col, vec_col=vec_col, k=k,
        target_recall=target_recall, sample_queries=sample_queries,
        corpus_cells=corpus_cells,
    )
    out = knn_ivf(
        queries, corpus, centroids, id_col=id_col, vec_col=vec_col, k=k,
        nprobe=meta["nprobe"], corpus_cells=corpus_cells,
    )
    return out, meta


def knn_stored_ivf_auto(
    spark,
    queries: DataFrame,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
) -> tuple[DataFrame, dict]:
    """IVF auto-tune AGAINST THE STORED INDEX (a static nprobe=2 on
    the stored path measured 0.38 recall@10):
    the tuner's exact baseline and every ladder rung read the stored
    cells table (its rows carry the vectors, so the corpus is never
    re-read or re-assigned), and the final serve goes through the
    PROBE-PRUNED read at the chosen nprobe
    (`read_cells_for_queries` — manifest stats skip non-probed files
    exactly as the static stored path does). `index_dir` is a
    `start_ivf_index_sink` / stored-index layout
    (`<index_dir>/centroids`, `<index_dir>/cells`). Returns
    (result, meta); meta is `tune_knn_ivf`'s (nprobe, recall_estimate,
    met_target, curve) — IVF's ladder escalates to the provably-exact
    nprobe = n_cells, so met_target is always True."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        _check_ivf_epochs,
        read_cells_for_queries,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    # a mid-retrain index (centroids epoch ahead of cells) would tune
    # AND serve new centroids against old assignments — refuse like
    # every other consumer path does
    _check_ivf_epochs(index_dir)
    centroids = TxTable(_os.path.join(index_dir, "centroids")).read(spark)
    cells_path = _os.path.join(index_dir, "cells")
    with tracked_scope():
        cells = track_persist(TxTable(cells_path).read(spark))
        meta = tune_knn_ivf(
            queries, cells.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col, k=k,
            target_recall=target_recall, sample_queries=sample_queries,
            corpus_cells=cells,
        )
    out = knn_ivf(
        queries, None, centroids, id_col=id_col, vec_col=vec_col,
        k=k, nprobe=meta["nprobe"],
        corpus_cells=read_cells_for_queries(
            spark, cells_path, centroids, queries,
            id_col=id_col, vec_col=vec_col, nprobe=meta["nprobe"],
        ),
    )
    return out, meta


def knn_stored_ivfpq_auto(
    spark,
    queries: DataFrame,
    index_dir: str,
    corpus_table: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    k: int = 10,
    target_recall: float = 0.8,
    sample_queries: int = 10,
) -> tuple[DataFrame, dict]:
    """IVFPQ auto-tune against the STORED composed index:
    walk (nprobe, rerank) together — each rung doubles both the probe
    width (candidate coverage: IVF's recall limiter) and the exact-
    rescore depth (quantization error: PQ's recall limiter) — until
    the sampled estimate meets ``target_recall``. The ladder tops out
    at nprobe = |cells| AND rerank = |corpus|, where `knn_ivfpq` is
    provably exact, so like the IVF/PQ tuners this one ALWAYS
    terminates met. The final serve re-runs the chosen rung over the
    full query batch through the probe-pruned codes read and the
    id-footprint-pruned rerank fetch. Returns (result, meta)."""
    import os as _os

    from filesystemagent_spark.operators.similarity import (
        _check_pq_epochs,
        knn_ivfpq,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    _check_pq_epochs(index_dir)  # refuse a mid-retrain index up front
    n_cells = TxTable(_os.path.join(index_dir, "centroids")).read(
        spark
    ).count()
    with tracked_scope():
        corpus = track_persist(TxTable(corpus_table).read(spark))
        n_corpus = corpus.count()
        sample = track_persist(_sample(queries, id_col, sample_queries))
        exact = _topk_sets(
            knn_bruteforce(
                sample, corpus, id_col=id_col, vec_col=vec_col, k=k
            )
        )
        curve = []
        nprobe, rerank = 1, max(2 * k, 10)
        while True:
            r = _recall(
                _topk_sets(
                    knn_ivfpq(
                        spark, sample, index_dir, corpus=corpus,
                        id_col=id_col, vec_col=vec_col, dim=dim, m=m,
                        k_cells=k_cells, k=k, nprobe=nprobe, rerank=rerank,
                    )
                ),
                exact,
            )
            curve.append({"nprobe": nprobe, "rerank": rerank, "recall": r})
            maxed = nprobe >= n_cells and rerank >= n_corpus
            if r >= target_recall or maxed:
                meta = {
                    "nprobe": nprobe, "rerank": rerank,
                    "n_cells": n_cells, "n_corpus": n_corpus,
                    "recall_estimate": r,
                    "met_target": r >= target_recall, "curve": curve,
                }
                break
            nprobe = min(n_cells, nprobe * 2)
            rerank = min(n_corpus, rerank * 2)
    out = knn_ivfpq(
        spark, queries, index_dir, corpus_table=corpus_table,
        id_col=id_col, vec_col=vec_col, dim=dim, m=m, k_cells=k_cells,
        k=k, nprobe=meta["nprobe"], rerank=meta["rerank"],
    )
    return out, meta
