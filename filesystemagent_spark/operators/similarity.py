"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the verifiable baseline, and a
random-hyperplane (sign-LSH) bucketed variant as the scale path —
at 100 TB the cross join is impossible; LSH makes candidate
generation a bucket equi-join.

The per-pair vector math mostly uses the higher-order-function
expressions of functions/vectors.py, which Spark interprets rather than
compiles. The LSH verify in `cosine_near_dup_pairs_lsh` instead runs the
Arrow dot kernel `functions/pqkernels.pair_dot`, bit-identical to
`vectors.dot`, and the signatures and PQ codes come from the other
Arrow kernels there. Hyperplanes and codebooks are deterministic
literals captured in the plan or the kernel closure.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from filesystemagent_spark.functions import vectors as V
from filesystemagent_spark.operators.relational import grouped_top_k


def spark_round_half_up(x: float, round_to: int) -> float:
    """Python replay of Spark's ROUND(double, n): BigDecimal.valueOf(d)
    parses Double.toString(d), then setScale(n, HALF_UP). Python repr()
    is the shortest round-trip decimal, which equals Double.toString on
    a shortest-emitting JVM (JDK >= 19 guaranteed; earlier JDKs agree
    in practice — pinned by test_spark_round_matches_jvm_on_boundaries,
    see cosine_near_dup_pairs_blocked's caveat note)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-round_to)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. The corpus is scanned once, never shuffled;
    the only shuffle is the per-query rank window on query_id.

    Returns (query_id, neighbor_id, cosine, rnk).
    """
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            V.l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        V.l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def sign_lsh_bucket(df: DataFrame, *, vec_col: str, dim: int, n_planes: int = 8, seed: int = 42):
    """Attach a sign-LSH bucket id: bit i = sign(vec · plane_i).
    Cosine-similar vectors collide with high probability.

    The plane dots run as an Arrow-batched kernel
    (functions/pqkernels.make_lsh_sigs_udf) whose dimension-sequential
    accumulation is bit-identical to the left-to-right SQL fold the
    DuckDB oracle replays. It replaced an unrolled n_planes·dim-term
    SQL expression that exceeded janino's method limit and silently
    fell back to interpreted eval (same finding as the PQ kernels — see
    SCALE.md)."""
    from filesystemagent_spark.functions.pqkernels import make_lsh_sigs_udf

    sigs = make_lsh_sigs_udf([_hyperplanes(dim, n_planes, seed)])
    return df.withColumn("bucket", F.element_at(sigs(vec_col), 1))


def cosine_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int | None = 6,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine >= threshold) — the verifiable baseline for embedding-based
    dedup; the reference's pairwise similarity loop
    (/root/reference/src/media_fingerprinting.py:278-310) generalized
    from hash distance to vector cosine.

    O(n²) by construction: correct at fixture scale, the oracle anchor
    for the LSH/IVF scale paths which prune candidates before this
    same exact verify. Thresholding happens on the ROUNDED cosine so
    two engines computing identical double arithmetic agree at the
    boundary.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        V.l2_norm(F.col(vec_col)).alias("_na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        V.l2_norm(F.col(vec_col)).alias("_nb"),
    )
    cos = V.cosine_from(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_near_dup_pairs_blocked(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int | None = 6,
    n_blocks: int = 16,
) -> DataFrame:
    """`cosine_near_dup_pairs` with GEMM-shaped constants: same exact
    quadratic SEMANTICS and bit-identical doubles, ~10x the speed.

    The all-pairs join is re-expressed as a block-matrix product:
    rows hash into ``n_blocks`` blocks, blocks pack into one
    array-of-rows each (collect_list of a few hundred vectors — this
    is block METADATA scale, not table scale), the B*(B+1)/2 block
    pairs cross-join, and an Arrow batch computes each block pair's
    dot-product matrix as D rank-1 outer-product accumulations.

    Exactness argument (why this can share the SQL oracle with the
    row-at-a-time form): the JVM path computes
    fold(acc + aD[d]*bD[d], 0.0) in index order; accumulating
    ``acc += outer(A[:, d], B[:, d])`` over d reproduces the identical
    IEEE operation sequence per pair, float32->float64 widening is
    exact in both, np.sqrt/np.divide are correctly rounded like
    Math.sqrt / Java division, and the final ROUND half-up is applied
    to survivors via Decimal(repr(x)) — the same shortest-decimal +
    HALF_UP semantics as Spark's BigDecimal.valueOf(d).setScale(6).
    The threshold pre-filter keeps a 1e-6 margin so rounding can only
    drop, never add, a boundary pair. tests/test_similarity.py asserts
    full-output equality against the row-at-a-time form.

    Caveat (pinned by test_spark_round_matches_jvm_on_boundaries): the
    repr(x) == Double.toString(x) step assumes the JVM emits the
    shortest round-trip decimal. JDK < 19 (pre-JDK-4511638/Ryu) can
    emit a longer-but-still-roundtripping string for some doubles; for
    a value landing exactly on a 0.5e-6 HALF_UP boundary the two
    decimal forms could quantize differently. The test replays a
    boundary battery through F.round on the running JVM and fails
    loudly if agreement ever breaks, so a JVM change cannot silently
    poison oracle parity.

    Scale: work is still O(n^2) (it is the exact anchor), but each
    task is a dense cache-friendly block product; B grows with n so a
    block stays collect_list-sized."""
    from collections.abc import Iterator

    import pandas as pd

    src = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("_blk"),
    )
    packed = src.groupBy("_blk").agg(
        F.collect_list(F.struct("_id", "_v")).alias("_rows")
    )
    a = packed.select(F.col("_blk").alias("_ba"), F.col("_rows").alias("_ra"))
    b = packed.select(F.col("_blk").alias("_bb"), F.col("_rows").alias("_rb"))
    block_pairs = a.join(b, F.col("_ba") <= F.col("_bb"))

    out_schema = f"id_a long, id_b long, cosine double"  # noqa: F541

    def gemm(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def spark_round(x: float) -> float:
            return spark_round_half_up(x, round_to)

        margin = 10.0 ** -(round_to or 6)
        for pdf in batches:
            outs = []
            for _ba, ra, _bb, rb in zip(
                pdf["_ba"], pdf["_ra"], pdf["_bb"], pdf["_rb"]
            ):
                ids_a = np.array([r["_id"] for r in ra], dtype=np.int64)
                A = np.array([r["_v"] for r in ra], dtype=np.float32).astype(
                    np.float64
                )
                ids_b = np.array([r["_id"] for r in rb], dtype=np.int64)
                B = np.array([r["_v"] for r in rb], dtype=np.float32).astype(
                    np.float64
                )
                dim = A.shape[1]
                acc = np.zeros((len(ids_a), len(ids_b)))
                for d in range(dim):  # left-fold order, like F.aggregate
                    acc += np.outer(A[:, d], B[:, d])
                na = np.zeros(len(ids_a))
                for d in range(dim):
                    na += A[:, d] * A[:, d]
                nb = np.zeros(len(ids_b))
                for d in range(dim):
                    nb += B[:, d] * B[:, d]
                denom = np.outer(np.sqrt(na), np.sqrt(nb))
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom == 0, 0.0, acc / denom)
                # diagonal block pair: i<j inside the block; off-diagonal:
                # every cross pair, ordered by id at emission (the smaller
                # id may live on either side of the block pair)
                if _ba == _bb:
                    order = ids_a[:, None] < ids_b[None, :]
                else:
                    order = ids_a[:, None] != ids_b[None, :]
                ii, jj = np.nonzero(order & (cos >= threshold - margin))
                for i, j in zip(ii, jj):
                    c = float(cos[i, j])
                    if round_to is not None:
                        c = spark_round(c)
                    if c >= threshold:
                        lo, hi = sorted((int(ids_a[i]), int(ids_b[j])))
                        outs.append((lo, hi, c))
            yield pd.DataFrame(outs, columns=["id_a", "id_b", "cosine"])

    return block_pairs.mapInPandas(gemm, out_schema)


def cosine_near_dup_pairs_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 4,
    n_tables: int = 4,
    seed: int = 42,
    round_to: int | None = 6,
) -> DataFrame:
    """Embedding near-dup pairs at scale: multi-table sign-LSH buckets
    generate candidates (bucket self-join, id_a < id_b), exact cosine
    verifies against the threshold. Same output contract as
    `cosine_near_dup_pairs`, whose O(n²) self-join is the recall
    anchor (tests/test_similarity.py).

    Recall for a pair at angle θ is 1-(1-(1-θ/π)^n_planes)^n_tables —
    near 1 for true near-dups (θ→0), which is the regime dedup cares
    about; candidate volume shrinks by ~2^n_planes per table.

    The verify dot is the Arrow kernel `pqkernels.pair_dot`, which
    returns the same doubles as the interpreted `V.dot`, evaluated once
    per distinct candidate. On 4 cores at scale 0.01 (68,968
    candidates) the verify stage takes about 0.5 s in one task. The
    output is hash-partitioned on ``(id_a, id_b)`` by an exchange after
    the threshold filter. A caller's global sort then samples its range
    bounds from that exchange's shuffle files and does not run the
    verify stage again.
    """
    rows = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        V.l2_norm(F.col(vec_col)).alias("_n"),
    )
    banded = _multi_table_buckets(
        rows,
        vec_col="_v",
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    ).select("bucket", "_id")  # candidate generation carries IDS ONLY
    # Tiny (bucket, id) projection, but each self-join branch would
    # otherwise re-run the plane projections over every vector.
    from filesystemagent_spark.caching import track_persist
    from filesystemagent_spark.functions.pqkernels import make_pair_dot_udf
    from filesystemagent_spark.operators.dedup import _bucket_pairs

    banded = track_persist(banded)
    candidates = _bucket_pairs(banded, ["bucket"])
    if n_tables > 1:
        # Dedup BEFORE the vectors attach: the cross-table duplicate
        # shuffle moves 16-byte id pairs, not 2 embedding arrays per
        # candidate (was the dominant cost of this operator).
        candidates = candidates.distinct()
    va = rows.select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), F.col("_n").alias("_na")
    )
    vb = rows.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), F.col("_n").alias("_nb")
    )
    # V.cosine_from's zero guard and divide over the Arrow dot kernel,
    # which is bit-identical to V.dot
    denom = F.col("_na") * F.col("_nb")
    dot = make_pair_dot_udf()("_va", "_vb")
    cos = F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)
    if round_to is not None:
        cos = F.round(cos, round_to)
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
        .repartition("id_a", "id_b")
    )


def semdedup_keys(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    dim: int,
    max_cluster_size: int,
    n_planes: int = 16,
    seed: int = 42,
    salt_mode: str = "xxhash",
) -> DataFrame:
    """Attach ``_sd_key``: a comparison-group key that refines the
    cluster assignment until every group fits the quadratic budget.

    SemDeDup's cost is O(Σ cluster²); one mega-cluster (k chosen too
    small, or a degenerate embedding space) goes quadratic on its own.
    Two refinement layers, both deterministic JVM expressions:

    1. **Spatial split** — clusters over budget are sub-split by the
       low ``ceil(log2(n/cap))`` bits of a sign-LSH signature
       (`sign_lsh_bucket`): cosine-near vectors share hyperplane signs
       with high probability, so true near-dups stay comparable and
       recall survives the split.
    2. **Salt fallback** — a sign-degenerate blob (thousands of
       near-identical vectors: every signature bit equal) defeats any
       spatial split, so sub-groups STILL over budget are salted by
       ``pmod(xxhash64(id), ceil(n/cap))``. Within-salt dups are still
       found; cross-salt dups of the blob are retained as extra
       representatives — bounded over-retention (≈ one survivor per
       salt), never unbounded cost.

    Group sizes are computed as window counts over the same keys the
    pair-join shuffles on, so the sizing passes add no extra exchange
    beyond their own.

    ``salt_mode`` picks the salt hash family, mirroring minhash's
    base/band_key options (one pipeline, two hash families):
    - ``"xxhash"`` (default, production): pmod(xxhash64(id), n_salts)
      — robust to any id distribution, not replayable outside Spark;
    - ``"pmod_id"`` (checkable): pmod(id, n_salts) for numeric ids —
      uniform for the sequential/dense ids the gate tables carry, and
      an external SQL engine replays it exactly (id % n_salts).
    """
    w_c = Window.partitionBy(cluster_col)
    sized = df.withColumn("_cn", F.count("*").over(w_c))
    sized = sign_lsh_bucket(sized, vec_col=vec_col, dim=dim, n_planes=n_planes, seed=seed)
    # Split sizing in INTEGER arithmetic only (no double log/ceil):
    # y = ceil(cn/cap) via (cn+cap-1) div cap, and ceil(log2(y)) via
    # length(bin(y-1)) — identical to the former double formula for
    # every y >= 1 (for x > 1, ceil(log2(x)) == ceil(log2(ceil(x)))),
    # but exactly replayable by an external SQL engine: a libm log
    # whose 1-ulp differences land on a ceil boundary (cn/cap an exact
    # power of 2) can never diverge, because there is no log.
    cap = int(max_cluster_size)
    y = F.expr(f"(_cn + {cap - 1}) div {cap}")
    bits = (
        F.when(y <= 1, F.lit(0))
        .otherwise(F.least(F.length(F.bin(y - 1)), F.lit(n_planes)))
        .cast("int")
    )
    # 2^bits is exact in double for bits <= n_planes (= 16) — safe cast.
    # (shiftleft would be the obvious form, but its numBits argument
    # must be a Python int literal, not a Column.)
    mask = (F.pow(F.lit(2.0), bits).cast("long") - 1).cast("long")
    keyed = sized.withColumn("_sub", F.col("bucket").bitwiseAND(mask)).drop(
        "bucket", "_cn"
    )
    w_s = Window.partitionBy(cluster_col, "_sub")
    keyed = keyed.withColumn("_sn", F.count("*").over(w_s))
    n_salts = (
        F.when(F.col("_sn") <= max_cluster_size, F.lit(1))
        .otherwise(F.expr(f"(_sn + {cap - 1}) div {cap}"))
        .cast("long")
    )
    if salt_mode == "xxhash":
        salt_src = F.xxhash64(F.col(id_col))
    elif salt_mode == "pmod_id":
        salt_src = F.col(id_col).cast("long")
    else:
        raise ValueError(f"unknown salt_mode {salt_mode!r}")
    return (
        keyed.withColumn("_salt", F.pmod(salt_src, n_salts))
        .withColumn(
            "_sd_key",
            F.concat_ws(
                "|",
                F.col(cluster_col).cast("string"),
                F.col("_sub").cast("string"),
                F.col("_salt").cast("string"),
            ),
        )
        .drop("_sub", "_sn", "_salt")
    )


def semdedup_prune(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
    threshold: float = 0.99,
    round_to: int | None = 6,
    dim: int | None = None,
    max_cluster_size: int | None = None,
    n_planes: int = 16,
    seed: int = 42,
    salt_mode: str = "xxhash",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): within each cluster, drop any
    vector whose cosine to a LOWER-ID clustermate crosses the
    threshold — keep-first, the same deterministic survivor rule as
    the exact dedup family. Returns the surviving rows of ``df``.

    ``max_cluster_size=None`` is the exact published recipe
    (O(Σ cluster²), the oracle anchor). With a cap, comparison groups
    are refined by `semdedup_keys` so no group's pair-join exceeds
    ~cap² — the 100 TB guard; requires ``dim``.
    """
    if max_cluster_size is None:
        keyed = df.withColumn("_sd_key", F.col(cluster_col).cast("string"))
    else:
        if dim is None:
            raise ValueError("max_cluster_size requires dim for the LSH sub-split")
        keyed = semdedup_keys(
            df,
            id_col=id_col,
            vec_col=vec_col,
            cluster_col=cluster_col,
            dim=dim,
            max_cluster_size=max_cluster_size,
            n_planes=n_planes,
            seed=seed,
            salt_mode=salt_mode,
        )
    # Norms materialize per ROW before the join; cosine_from is
    # float-identical to cosine (same fold order, same divide) but
    # drops the 4 inline norm evaluations per PAIR (~5x the per-pair
    # arithmetic in this equi-join).
    keyed = keyed.withColumn("_sd_n", V.l2_norm(F.col(vec_col)))
    a = keyed.select(
        F.col("_sd_key").alias("_akey"),
        F.col(id_col).alias("_aid"),
        F.col(vec_col).alias("_avec"),
        F.col("_sd_n").alias("_an"),
    )
    cos = V.cosine_from(
        F.col("_avec"), F.col(vec_col), F.col("_an"), F.col("_sd_n")
    )
    if round_to is not None:
        cos = F.round(cos, round_to)
    dup_ids = keyed.join(
        a,
        (F.col("_sd_key") == F.col("_akey"))
        & (F.col("_aid") < F.col(id_col))
        & (cos >= threshold),
        "left_semi",
    ).select(id_col)
    return df.join(dup_ids, id_col, "left_anti")


def centroids_from_labels(
    df: DataFrame, *, label_col: str, vec_col: str, dim: int
) -> DataFrame:
    """Per-label mean vector, rebuilt as an array column — an IVF
    coarse quantizer derived from existing partitions of the corpus
    (labels here; k-means cells in the general case).

    posexplode → partial-agg avg per (label, pos) → re-assemble via
    sorted collect_list. The explode multiplies rows by `dim` but
    map-side combine collapses them before the shuffle; output is
    n_labels rows, broadcastable by construction.
    """
    return (
        df.select(F.col(label_col).alias("cell_id"), F.posexplode(vec_col).alias("pos", "val"))
        .groupBy("cell_id", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("val"))
        .groupBy("cell_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "val"))), lambda s: s["val"]
            ).alias("centroid")
        )
    )


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    nprobe: int = 1,
    keep_score: bool = False,
) -> DataFrame:
    """Attach the `nprobe` nearest centroid cell ids (by cosine) to each
    row. Centroids are broadcast; the corpus is scanned once with no
    join shuffle — the IVF building block for both index build
    (nprobe=1) and query probing (nprobe>1). The rank window partitions
    on the unique row id only, so the shuffle key stays narrow."""
    cent = F.broadcast(
        centroids.select(
            "cell_id",
            F.col("centroid").alias("_cent"),
            V.l2_norm(F.col("centroid")).alias("_cent_n"),
        )
    )
    ranked = (
        df.withColumn("_row_n", V.l2_norm(F.col(vec_col)))
        .crossJoin(cent)
        .withColumn(
            "_cell_cos",
            V.cosine_from(F.col(vec_col), F.col("_cent"), F.col("_row_n"), F.col("_cent_n")),
        )
        .drop("_cent", "_cent_n", "_row_n")
    )
    out = grouped_top_k(
        ranked,
        [id_col],
        [F.col("_cell_cos").desc(), F.col("cell_id").asc()],
        nprobe,
    )
    return out if keep_score else out.drop("_cell_cos")


def start_ivf_index_sink(
    spark,
    source_table: str,
    index_dir: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
    maintain_every: int | None = None,
    maintain_retention_seconds: float = 600.0,
):
    """INCREMENTAL IVF index maintenance from the embedding corpus's
    CHANGE FEED — the vector leg of the maintained-artifact
    trilogy (join views: streaming/sinks; lexical index:
    invindex.start_bm25_index_sink; this). The corpus lives in a
    TxTable and mutates; the stored cell-assignment table
    (`<index_dir>/cells`, the `corpus_cells` input of `knn_ivf`)
    tracks it without ever rescanning the corpus: per micro-batch the
    touched vec_ids die via a file-backed MoR key tombstone and the
    post-image vectors are assigned to their nearest centroid
    (broadcast from the stored `<index_dir>/centroids` table) and
    merged back.

    Centroids stay FIXED between re-trains — the Faiss deploy recipe
    (train the coarse quantizer on a sample, then serve/append; a
    drifted corpus re-trains offline and re-assigns ONCE). Because
    assignment is a pure function of the centroids, the maintained
    cells table is BIT-IDENTICAL to a fresh assign over the final
    corpus — the invariant
    tests/test_similarity.py::test_ivf_feed_sink_tracks_dml pins.
    Exactly-once: an `ivf_batch_id` stamp on the cells table, the
    batch's last commit carrying it (the join-sink discipline).

    DRIFT LEDGER: fixed centroids decay silently — after
    heavy distribution shift the cells skew and recall drops with no
    error anywhere. Each batch therefore maintains an exact running
    ledger of the live corpus's assignment quality in the same app
    metadata the stamp rides: `ivf_cos_sum`/`ivf_n` (sum of each live
    row's cosine to its assigned centroid, and the live row count)
    adjust by +post-images / −pre-images per batch (the pre-images
    carry the vectors, so the subtraction is exact and O(batch); the
    assignment being a pure function of the fixed centroids means a
    row subtracts the same value it once added, modulo float
    summation order). `ivf_cos_sum0`/`ivf_n0` snapshot the first
    applied batch — the corpus the centroids were trained on.
    `ivf_drift_info` turns the four scalars into the re-train signal;
    the measured recall-vs-ratio policy lives in SCALE.md/RECALL.md."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable
    from filesystemagent_spark.streaming.sinks import (
        _apply_index_batch,
        _batch_images,
        _ledger_continuation,
        _start_feed_sink,
    )

    cells_path = _os.path.join(index_dir, "cells")
    cent_path = _os.path.join(index_dir, "centroids")
    STAMP = "ivf_batch_id"

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cells_t = TxTable(cells_path)
        applied = cells_t.latest_app_value(STAMP)
        if applied is not None and applied >= batch_id:
            return  # replayed batch
        # refuse to assign against mid-retrain centroids: merging
        # new-regime assignments into an old-regime cells table would
        # mix regimes permanently (see retrain_ivf_index)
        _check_ivf_epochs(index_dir)
        imgs, latest, before = _batch_images(batch_df, id_col)
        assigned = None
        cents = TxTable(cent_path).read(spark)
        try:
            if latest.isEmpty():
                return  # empty batch: idempotent no-op, unstamped
            post = latest.filter(
                F.col("_change_type").isin("insert", "upsert")
            ).select(id_col, vec_col)
            # staged CLUSTERED on cell_id: every file covers a tight
            # cell range, so manifest stats skipping serves the probe
            # path (read_cells_for_queries) nprobe/|cells| of the files.
            # keep_score carries each row's assigned-centroid cosine —
            # the drift ledger's addition — dropped before staging.
            assigned = assign_cells(
                post, cents,
                id_col=id_col, vec_col=vec_col, nprobe=1, keep_score=True,
            ).cache()
            # ledger counts track rows that CONTRIBUTE cosine mass
            # (count of the metric column, null-skipping — review
            # finding: count(*) would deflate the mean with rows whose
            # invalid vectors yield null cosine); a_rows drives the
            # merge decision and counts every staged row. Both sides'
            # scalars come from ONE driver action (guide §7.3): a
            # side-marked union replaces the two separate agg jobs —
            # and its a-side pass populates `assigned`'s cache for the
            # staging write below.
            b_assigned = assign_cells(
                before.select(id_col, vec_col), cents,
                id_col=id_col, vec_col=vec_col, nprobe=1, keep_score=True,
            )
            cos = lambda s: F.when(F.col("_side") == s, F.col("_cell_cos"))  # noqa: E731
            a_sum, a_n, a_rows, b_sum, b_n = (
                assigned.select("_cell_cos").withColumn("_side", F.lit(1))
                .unionByName(
                    b_assigned.select("_cell_cos").withColumn(
                        "_side", F.lit(0)
                    )
                )
                .agg(
                    F.coalesce(F.sum(cos(1)), F.lit(0.0)),
                    F.count(cos(1)),
                    F.count(F.when(F.col("_side") == 1, F.lit(1))),
                    F.coalesce(F.sum(cos(0)), F.lit(0.0)),
                    F.count(cos(0)),
                )
                .first()
            )
            staged = assigned.drop("_cell_cos").repartitionByRange(
                8, "cell_id"
            )
            # pre-ledger guard shared with the PQ sink: skip the
            # extras on a table lacking the ledger keys instead of
            # fabricating a zero-based baseline
            ledger_extra = _ledger_continuation(
                cells_t,
                ("ivf_cos_sum", "ivf_n", "ivf_cos_sum0", "ivf_n0"),
                lambda prev: {
                    "ivf_cos_sum": float(prev["ivf_cos_sum"] or 0.0)
                    + float(a_sum) - float(b_sum),
                    "ivf_n": int(prev["ivf_n"] or 0) + int(a_n) - int(b_n),
                    "ivf_cos_sum0": prev["ivf_cos_sum0"],
                    "ivf_n0": prev["ivf_n0"],
                },
            )
            _apply_index_batch(
                cells_t, spark, batch_id=batch_id, stamp_key=STAMP,
                latest=latest, id_col=id_col, new_rows=staged,
                merge_keys=[id_col],
                app_extra_init={
                    "ivf_cos_sum": float(a_sum), "ivf_n": int(a_n),
                    "ivf_cos_sum0": float(a_sum), "ivf_n0": int(a_n),
                },
                app_extra=ledger_extra,
                # the ledger agg already counted the staged rows — no
                # extra isEmpty action (review finding)
                has_new=int(a_rows) > 0,
                fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
                maintain_every=maintain_every,
                maintain_retention_seconds=maintain_retention_seconds,
            )
        finally:
            imgs.unpersist()
            if assigned is not None:
                assigned.unpersist()

    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def ivf_drift_info(index_dir: str, *, retrain_ratio: float = 0.90) -> dict:
    """The stored IVF index's centroid-drift signal, read from the
    ledger `start_ivf_index_sink` maintains in the cells table's app
    metadata (the `last_delete_info` exposure pattern: cheap scalars a
    maintenance loop can poll without a corpus or index scan).

    drift_ratio = (mean cosine of live rows to their assigned
    centroid) / (the same mean over the training-time snapshot). 1.0 =
    no drift; falling values mean the corpus has moved away from the
    fixed centroids — cells widen/skew and recall decays silently.
    `retrain_recommended` fires when the ratio crosses
    `retrain_ratio`; the default 0.90 is measured at sf0.1
    (scripts/exp_ivf_drift.py, table in SCALE.md): same-distribution
    DML holds >= 0.98, a 30% half-blend perturbation sits at 0.94 with
    NO recall loss, and the states that do lose recall@10 (~9 points
    at ratio 0.69, with re-training buying back ~+6) are far below —
    0.90 splits the no-loss and loss regimes with margin on both
    sides. Re-training = rebuild centroids offline, re-assign once,
    restart the sink — the Faiss recipe this sink's docstring names."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    _check_ivf_epochs(index_dir)  # a mid-retrain ledger would be a lie
    t = TxTable(_os.path.join(index_dir, "cells"))
    vals = t.latest_app_values(
        ("ivf_cos_sum", "ivf_n", "ivf_cos_sum0", "ivf_n0")
    )  # one manifest walk, not four
    if any(v is None for v in vals.values()):
        raise ValueError(
            f"no drift ledger in {index_dir}/cells — index predates the "
            "drift-ledger sink or was built without start_ivf_index_sink"
        )
    n, n0 = int(vals["ivf_n"]), int(vals["ivf_n0"])
    mean = float(vals["ivf_cos_sum"]) / n if n else 0.0
    base = float(vals["ivf_cos_sum0"]) / n0 if n0 else 0.0
    ratio = (mean / base) if base else 1.0
    return {
        "n_rows": n,
        "mean_assigned_cos": mean,
        "baseline_mean_cos": base,
        "drift_ratio": ratio,
        "retrain_recommended": ratio < retrain_ratio,
    }


def ivf_index_epochs(index_dir: str) -> tuple[int, int]:
    """(centroids epoch, cells epoch) — the retrain-consistency stamps
    `retrain_ivf_index` writes to BOTH tables. Equal epochs mean the
    centroids and the cell assignments belong to the same regime;
    centroids ahead means a retrain crashed between its two table
    publishes (review finding: the two overwrites cannot be atomic
    across tables, so the gap must be DETECTABLE and RECOVERABLE
    instead). Tables that never retrained carry no stamp → (0, 0)."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    e_cent = TxTable(_os.path.join(index_dir, "centroids")).latest_app_value(
        "ivf_retrain_epoch"
    )
    e_cells = TxTable(_os.path.join(index_dir, "cells")).latest_app_value(
        "ivf_retrain_epoch"
    )
    return int(e_cent or 0), int(e_cells or 0)


def _check_ivf_epochs(index_dir: str) -> None:
    e_cent, e_cells = ivf_index_epochs(index_dir)
    if e_cent != e_cells:
        raise ValueError(
            f"IVF index {index_dir} is mid-retrain (centroids epoch "
            f"{e_cent} vs cells epoch {e_cells}) — a retrain crashed "
            "between its table publishes; run retrain_ivf_index to "
            "complete it (it resumes by re-assigning against the "
            "already-published centroids)"
        )


def retrain_ivf_index(
    spark,
    source_table: str,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    max_iter: int = 5,
) -> dict:
    """Act on `ivf_drift_info`'s re-train signal: rebuild the coarse
    quantizer from the LIVE corpus (k-means, k defaulting to the
    current cell count), re-assign ONCE, and re-baseline the drift
    ledger — the offline Faiss re-train recipe as one call. The sink's
    `ivf_batch_id` stamp is carried forward so feed maintenance
    resumes exactly where it left off (a replayed batch still
    no-ops); the fresh assignment snapshot becomes the new
    `ivf_cos_sum0`/`ivf_n0` baseline, so drift_ratio restarts at 1.0.
    Run between drains (the CAS serializes against a live sink, but a
    retrain racing a batch would waste one of the two).

    Crash consistency (review finding): the centroids and cells
    publishes are two commits on two tables — not atomic. Both carry
    a monotone `ivf_retrain_epoch` IN THE SAME COMMIT as their data
    (TxTable.overwrite's app= — a separate commit_app would leave a
    window where new-regime data carries the old epoch and the
    mixed-regime state goes undetected), centroids
    FIRST: a crash between the publishes leaves the centroids epoch
    ahead, which every consumer path detects loudly (`ivf_drift_info`,
    the IVF sink's apply_batch, `knn_stored_ivf_auto`) instead of
    serving mixed-regime answers, and a rerun of THIS function detects
    it too and RESUMES — it skips the k-means and completes the
    interrupted retrain by re-assigning against the already-published
    centroids. Returns the post-retrain `ivf_drift_info`."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    cells_t = TxTable(_os.path.join(index_dir, "cells"))
    cent_t = TxTable(_os.path.join(index_dir, "centroids"))
    stamp = cells_t.latest_app_value("ivf_batch_id")
    live = TxTable(source_table).read(spark)
    e_cent, e_cells = ivf_index_epochs(index_dir)
    if e_cent == e_cells:
        # normal path: train and publish new centroids, epoch bumped
        n_cells = k if k is not None else cent_t.read(spark).count()
        cents = kmeans_centroids(
            live, k=n_cells, id_col=id_col, vec_col=vec_col,
            max_iter=max_iter,
        )
        epoch = e_cent + 1
        cent_t.overwrite(cents, app={"ivf_retrain_epoch": epoch})
    else:
        # resume an interrupted retrain: the new centroids already
        # landed; only the cells half is missing
        epoch = e_cent
    assigned = assign_cells(
        live, cent_t.read(spark),
        id_col=id_col, vec_col=vec_col, nprobe=1, keep_score=True,
    ).cache()
    try:
        s, n = assigned.agg(
            F.coalesce(F.sum("_cell_cos"), F.lit(0.0)), F.count("*")
        ).first()
        app = {
            "ivf_cos_sum": float(s), "ivf_n": int(n),
            "ivf_cos_sum0": float(s), "ivf_n0": int(n),
            "ivf_retrain_epoch": epoch,
        }
        if stamp is not None:
            app["ivf_batch_id"] = stamp
        cells_t.overwrite(
            assigned.drop("_cell_cos").repartitionByRange(8, "cell_id"),
            app=app,
        )
    finally:
        assigned.unpersist()
    return ivf_drift_info(index_dir)


def read_cells_for_queries(
    spark,
    cells_table: str,
    centroids: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
) -> DataFrame:
    """The PRUNED stored-IVF probe read: resolve the query
    batch's probed cell ids first (nprobe nearest centroids per query
    — a tiny driver-side set, <= n_queries x nprobe), then read the
    stored cells table with a `cell_id IN (...)` predicate so manifest
    stats skipping drops every file whose cell range can't overlap —
    the 'corpus written clustered by cell_id so probing prunes at scan
    time' shape knn_ivf's docstring promises, now real for the stored
    path (the sink and builders stage cells repartitionByRange on
    cell_id). Results are exact for the probe: knn_ivf only ever joins
    candidates on the probed cells, so rows outside them are dead
    weight. Falls back to the full read when the probe set is
    degenerate."""
    from filesystemagent_spark.sources.txtable import TxTable

    probed = [
        r.cell_id
        for r in assign_cells(
            queries.select(F.col(id_col), F.col(vec_col)),
            centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe,
        ).select("cell_id").distinct().collect()
    ]
    t = TxTable(cells_table)
    if not probed:
        return t.read(spark)
    return t.read(spark, where=[("cell_id", "in", probed)])


def semdedup_incremental(
    spark,
    batch_df: DataFrame,
    cells_table: str,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    round_to: int | None = None,
) -> DataFrame:
    """Semantic dedup of an INCOMING BATCH against an indexed corpus —
    the SemDeDup continuous-ingest shape, and the vector twin of
    `dedup.minhash_dedup_against_stored_index`: the corpus participates
    ONLY through its stored cell-assignment table (maintained by
    `start_ivf_index_sink`; the same artifact `knn_ivf` serves from),
    read probe-pruned to exactly the batch's cells
    (`read_cells_for_queries` — manifest stats skip every file whose
    cell range the batch can't touch). Only the batch is assigned at
    query time; the corpus is never re-embedded, re-assigned, or
    fully scanned.

    Published-recipe semantics (nprobe=1, same-cell comparisons only,
    cosine >= threshold): returns (id_new, dup_of, cosine, src) where
    src='corpus' pairs a batch row with an existing corpus row and
    src='batch' pairs two batch rows (id_new > dup_of, keep-first).
    Cost is Σ over probed cells of |batch_cell|·|corpus_cell| — the
    batch bounds one side; a degenerate mega-cell should be split at
    INDEX time (`semdedup_keys`' budget machinery) before this runs.
    Exactness for the recipe is test-pinned: pairs equal a fresh
    same-cell cosine sweep over the union corpus restricted to pairs
    touching the batch."""
    from filesystemagent_spark.caching import track_persist
    from filesystemagent_spark.sources.txtable import TxTable

    # ONE assignment pass serves both the batch keys and the probe
    # footprint (review finding: read_cells_for_queries would re-run
    # assign_cells over the same batch just to collect the cell ids).
    # track_persist: the probe collect materializes it, the returned
    # plan reuses it, the session release hook drains it.
    q = track_persist(
        assign_cells(
            batch_df.select(id_col, vec_col), centroids,
            id_col=id_col, vec_col=vec_col, nprobe=1,
        )
    )
    probed = [r.cell_id for r in q.select("cell_id").distinct().collect()]
    t = TxTable(cells_table)
    corpus_cells = (
        t.read(spark, where=[("cell_id", "in", probed)])
        if probed
        else t.read(spark)
    )
    return _semdedup_pairs(
        q, corpus_cells, id_col=id_col, vec_col=vec_col,
        threshold=threshold, round_to=round_to,
    )


def _semdedup_pairs(
    q: DataFrame,
    corpus_cells: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float,
    round_to: int | None,
) -> DataFrame:
    b = q.select(
        F.col(id_col).alias("id_new"),
        F.col(vec_col).alias("_bv"),
        V.l2_norm(F.col(vec_col)).alias("_bn"),
        "cell_id",
    )
    cos_c = V.cosine_from(F.col("_bv"), F.col("_cv"), F.col("_bn"), F.col("_cn"))
    cos_b = V.cosine_from(F.col("l._bv"), F.col("r._bv"), F.col("l._bn"), F.col("r._bn"))
    if round_to is not None:
        cos_c = F.round(cos_c, round_to)
        cos_b = F.round(cos_b, round_to)
    c = corpus_cells.select(
        F.col(id_col).alias("dup_of"),
        F.col(vec_col).alias("_cv"),
        V.l2_norm(F.col(vec_col)).alias("_cn"),
        "cell_id",
    )
    cross = (
        b.join(c, "cell_id")
        # a re-submitted id never pairs with itself
        .filter(F.col("id_new") != F.col("dup_of"))
        .withColumn("cosine", cos_c)
        .filter(F.col("cosine") >= threshold)
        .select("id_new", "dup_of", "cosine", F.lit("corpus").alias("src"))
    )
    within = (
        b.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.cell_id") == F.col("r.cell_id"))
            & (F.col("l.id_new") < F.col("r.id_new")),
        )
        .withColumn("cosine", cos_b)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("r.id_new").alias("id_new"),
            F.col("l.id_new").alias("dup_of"),
            "cosine",
            F.lit("batch").alias("src"),
        )
    )
    return cross.unionByName(within)


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    corpus_cells: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: corpus rows
    live in their single nearest-centroid cell; each query probes its
    `nprobe` nearest cells and ranks exact cosine only within them.

    Candidate cost drops from |corpus| to ~nprobe/|cells| of it, and
    the cell equi-join shuffles on cell_id — at 100 TB the corpus
    would be written bucketed/partitioned by cell_id so probing prunes
    partitions at scan time instead of shuffling.

    ``corpus_cells`` — pre-assigned (id, vec, cell_id) rows, e.g. a
    STORED assignment table read back from a TxTable: the whole point
    of persisting an IVF index is that queries never re-assign the
    corpus, so when this is given the corpus argument is ignored and
    no assign pass runs over it.
    """
    if corpus_cells is not None:
        c = corpus_cells.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            "cell_id",
        )
    else:
        c = assign_cells(
            corpus.select(
                F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
            ),
            centroids,
            id_col="neighbor_id",
            vec_col="_cv",
            nprobe=1,
        )
    q = assign_cells(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        centroids,
        id_col="query_id",
        vec_col="_qv",
        nprobe=nprobe,
    )
    scored = (
        q.withColumn("_qn", V.l2_norm(F.col("_qv")))
        .join(c.withColumn("_cn", V.l2_norm(F.col("_cv"))), "cell_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
        .drop("_qv", "_cv", "_qn", "_cn", "cell_id")
    )
    # no dedup needed: each corpus row lives in exactly one cell, so a
    # (query, neighbor) pair appears at most once across probed cells
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def _multi_table_buckets(
    df: DataFrame, *, vec_col: str, dim: int, n_planes: int, n_tables: int, seed: int
) -> DataFrame:
    """Explode each row into one (table, bucket) key per hash table.
    Tables use disjoint seeds; keys are (table_id, signature) structs so
    buckets from different tables never collide with each other. All
    tables' signatures come from ONE Arrow kernel pass
    (functions/pqkernels.make_lsh_sigs_udf, bit-exact to the oracle's
    SQL fold), then a JVM posexplode keys them by table id.

    The explode is the outer form: plain posexplode makes the optimizer
    infer a ``size(_sigs) > 0`` filter and push it below the projection,
    which evaluates the signature UDF a second time per row. A NULL or
    wrong-length vector has a NULL signature array, which the outer
    form turns into one ``(null, null)`` row; the ``_sig`` filter drops
    it, so such a row still gets no bucket."""
    from filesystemagent_spark.functions.pqkernels import make_lsh_sigs_udf

    sigs = make_lsh_sigs_udf(
        [_hyperplanes(dim, n_planes, seed + 1000 * t) for t in range(n_tables)]
    )
    return (
        df.withColumn("_sigs", sigs(vec_col))
        .select("*", F.posexplode_outer("_sigs").alias("_table", "_sig"))
        .filter(F.col("_sig").isNotNull())
        .withColumn(
            "bucket",
            F.struct(
                F.col("_table").cast("int").alias("table"),
                F.col("_sig").alias("sig"),
            ),
        )
        .drop("_sigs", "_table", "_sig")
    )


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH
    bucket(s), the standard multi-table construction.

    Per table, the candidate set shrinks by ~2^n_planes and the cross
    join becomes a bucket equi-join; recall compounds across tables as
    1-(1-p^n_planes)^n_tables for per-plane collision probability p.
    Tune n_planes down / n_tables up for recall, the reverse for cost.
    Candidates found in several tables are deduped before the exact
    rank so each pair is scored once.
    """
    q = _multi_table_buckets(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            V.l2_norm(F.col(vec_col)).alias("_qn"),
        ),
        vec_col="_qv",
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    c = _multi_table_buckets(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("_cv"),
            V.l2_norm(F.col(vec_col)).alias("_cn"),
        ),
        vec_col="_cv",
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    candidates = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_qv", "_qn", "neighbor_id", "_cv", "_cn")
    )
    if n_tables > 1:
        candidates = candidates.dropDuplicates(["query_id", "neighbor_id"])
    scored = candidates.withColumn(
        "cosine", V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))
    ).drop("_qv", "_cv", "_qn", "_cn")
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def quantize_int8(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization: scale =
    max(|x|)/127, q_i = round(x_i/scale). 4× less memory/IO than
    float32 — at 100 TB the ANN corpus becomes memory-bandwidth-bound,
    and int8 is the standard first rung (before PQ).

    Pure JVM higher-order functions (aggregate/transform) — no UDF.
    Cosine over the quantized vectors needs no dequantization: the
    per-vector scales cancel in the ratio.
    """
    max_abs = F.aggregate(
        F.col(vec_col),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x.cast("double"))),
    )
    return df.withColumn("_scale", F.greatest(max_abs, F.lit(1e-30)) / F.lit(127.0)).withColumn(
        "q_" + vec_col,
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") / F.col("_scale")).cast("int")
        ),
    ).drop("_scale")


def knn_bruteforce_int8(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k over int8-quantized vectors (same contract as
    knn_bruteforce; cosine is computed on the quantized arrays, where
    the quantization scales cancel). Recall vs the float baseline is
    pinned in tests/test_similarity.py."""
    qq = quantize_int8(queries, vec_col=vec_col).select(
        F.col(id_col), F.col("q_" + vec_col).alias(vec_col)
    )
    qc = quantize_int8(corpus, vec_col=vec_col).select(
        F.col(id_col), F.col("q_" + vec_col).alias(vec_col)
    )
    return knn_bruteforce(qq, qc, id_col=id_col, vec_col=vec_col, k=k)


def kmeans_centroids(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
    max_iter: int = 5,
) -> DataFrame:
    """Unsupervised IVF coarse quantizer: Lloyd's k-means expressed as
    pure DataFrame ops — no pyspark.ml vector conversions, no driver
    math, nothing non-deterministic.

    - init: the k rows with the smallest md5(id) (layout-independent,
      so repartitioning the corpus cannot change the seeding — same
      rule as the train/test split);
    - assign: broadcast the k centroids, argmax cosine per row
      (`assign_cells`, no join shuffle);
    - update: posexplode → per-(cell, pos) partial means → re-assemble
      (map-side combine collapses the dim-fold before the shuffle).

    Per iteration: one broadcast scan + one two-level aggregate. With
    k centroids of dim d the driver handles k·d doubles — broadcast
    scale, never corpus scale. Empty cells keep their previous
    centroid (standard Lloyd's fallback) by left-joining the update
    onto the previous centroid set.
    """
    seeds = (
        df.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_sv"))
        .orderBy(F.md5(F.col("_sid").cast("string")), F.col("_sid"))
        .limit(k)
    )
    centroids = seeds.select(
        F.row_number()
        .over(Window.orderBy(F.md5(F.col("_sid").cast("string")), F.col("_sid")))
        .alias("cell_id"),
        F.transform(F.col("_sv"), lambda x: x.cast("double")).alias("centroid"),
    )
    body = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    for _ in range(max_iter):
        assigned = assign_cells(body, centroids, id_col="_id", vec_col="_v", nprobe=1)
        means = (
            assigned.select("cell_id", F.posexplode("_v").alias("pos", "val"))
            .groupBy("cell_id", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("val"))
            .groupBy("cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("new_centroid")
            )
        )
        centroids = (
            centroids.join(means, "cell_id", "left")
            .select(
                "cell_id",
                F.coalesce(F.col("new_centroid"), F.col("centroid")).alias("centroid"),
            )
        )
        # k rows: materialize per iteration so the lineage doesn't
        # stack max_iter broadcast+agg layers into one giant plan.
        centroids = centroids.sparkSession.createDataFrame(
            centroids.collect(), centroids.schema
        )
    return centroids


def kmeans_inertia(df: DataFrame, centroids: DataFrame, *, id_col: str, vec_col: str):
    """Mean cosine distance (1 - cos) of each row to its assigned
    centroid — the convergence metric for kmeans_centroids tests."""
    assigned = assign_cells(
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")),
        centroids,
        id_col="_id",
        vec_col="_v",
        nprobe=1,
        keep_score=True,
    )
    return assigned.agg(F.avg(F.lit(1.0) - F.col("_cell_cos")).alias("inertia"))


# ---------------------------------------------------------------- PQ


def normalize(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Unit-L2-normalize a vector column (zero vectors pass through).
    After normalization, L2 ranking equals cosine ranking — the bridge
    that lets L2-native structures (PQ) answer cosine queries."""
    n = V.l2_norm(F.col(vec_col))
    return df.withColumn(
        vec_col,
        F.when(n == 0, F.col(vec_col)).otherwise(
            F.transform(F.col(vec_col), lambda x: x.cast("double") / n)
        ),
    )


def pq_codebooks(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    max_iter: int = 3,
) -> DataFrame:
    """Train product-quantization codebooks: split `dim` into `m`
    subspaces and k-means each one independently. Returns
    (sub_id, cell_id, centroid) — m·k rows of dim/m doubles, a
    model-sized artifact (broadcast scale by construction, like the
    IVF centroid set).

    All m subspaces train TOGETHER in one Lloyd's loop over the
    exploded (sub_id, subvector) table: assignment is a row-local
    argmax over the subspace's k centroids (zero shuffle), and
    the update is ONE two-level aggregation producing all m·k new
    centroids — so the whole training runs max_iter+2 jobs total,
    independent of m, instead of m separate k-means loops (which at
    m=8 × max_iter iterations cost ~50 shuffle jobs of per-job
    overhead on a model-sized dataset). Deterministic: md5-seeded
    init (the same k ids seed every subspace), cosine argmax ties to
    the lowest cell id, empty cells keep their previous centroid.

    The m·k-candidate argmax runs as an Arrow-batched pandas UDF (one
    numpy GEMM per subspace per batch, codebook captured in the
    closure — the UDF-level form of a broadcast). This REPLACED a
    fully-unrolled 2048-term SQL expression that silently
    FAILED janino compilation (64 KB method limit) and fell back to
    interpreted per-row eval — locally it burned seconds per iteration
    re-attempting the compile; at 100 TB the interpreted scan would
    have been the bottleneck. The GEMM path is the same shape the
    blocked-cosine operator uses: scan-local, zero shuffle, vectorized.
    """
    from pyspark import StorageLevel

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    subs = (
        df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .select(
            "_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("sub_id"),
                            F.transform(
                                F.slice(F.col("_v"), s * d_sub + 1, d_sub),
                                lambda x: x.cast("double"),
                            ).alias("sv"),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("p"),
        )
        .select("_id", "p.sub_id", F.col("p.sv").alias("_sv"))
        .repartition(par)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    seed_ids = [
        r[0]
        for r in df.select(F.col(id_col).alias("_sid"))
        .orderBy(F.md5(F.col("_sid").cast("string")), F.col("_sid"))
        .limit(k)
        .collect()
    ]
    cell_of = {sid: i + 1 for i, sid in enumerate(seed_ids)}
    books: dict[tuple[int, int], list[float]] = {}
    for r in subs.filter(F.col("_id").isin(list(seed_ids))).collect():
        books[(r["sub_id"], cell_of[r["_id"]])] = [float(x) for x in r["_sv"]]

    def assign_udf():
        # Arrow-batched cosine argmax over all m·k candidates
        # (functions/pqkernels.py): one numpy GEMM per (subspace,
        # batch), the current iteration's codebook in the closure.
        import numpy as np

        from filesystemagent_spark.functions.pqkernels import make_assign_udf

        C = np.zeros((m, k, d_sub))
        for (s, j), cent in books.items():
            C[s, j - 1] = cent
        return make_assign_udf(C)

    for _ in range(max_iter):
        updated = (
            subs.withColumn("cell_id", assign_udf()("sub_id", "_sv"))
            .select("sub_id", "cell_id", F.posexplode("_sv").alias("pos", "val"))
            .groupBy("sub_id", "cell_id", "pos")
            .agg(F.avg("val").alias("val"))
            .groupBy("sub_id", "cell_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda st: st["val"],
                ).alias("centroid")
            )
            .collect()  # <= m*k rows — the model, one job per iteration
        )
        for r in updated:
            books[(r["sub_id"], r["cell_id"])] = [float(x) for x in r["centroid"]]
    subs.unpersist()
    return spark.createDataFrame(
        [(s, c, books[(s, c)]) for s in range(m) for c in range(1, k + 1)],
        "sub_id int, cell_id int, centroid array<double>",
    )


def _collect_codebook(codebook: DataFrame, m: int, k: int) -> list[list[list[float]]]:
    """codebook rows → nested [sub][cell] centroid list. Collecting is
    correct here: the codebook IS the model (m·k·dim/m doubles), the
    same object any PQ engine broadcasts to every worker."""
    rows = codebook.collect()
    books: list[list[list[float]] | None] = [[None] * k for _ in range(m)]
    for r in rows:
        books[r.sub_id][r.cell_id - 1] = list(r.centroid)
    for s, b in enumerate(books):
        if any(c is None for c in b):
            raise ValueError(f"codebook incomplete in subspace {s}")
    return books  # type: ignore[return-value]


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """Encode vectors to m small codes (argmin-L2 centroid per
    subspace): dim floats → m ints (16x compression at m=8/k=16 on
    128-dim float32). Row-local, zero shuffle: an Arrow-batched pandas
    UDF computes all m argmins in one broadcast numpy op per batch,
    the codebook captured in the closure (the UDF-level form of a
    broadcast). Ties break to the lowest cell id (np.argmin takes the
    first min). It replaced a fully-unrolled SQL expression that
    exceeded janino's method limit and fell back to interpreted
    per-row eval (see pq_codebooks)."""
    import numpy as np

    from filesystemagent_spark.functions.pqkernels import make_encode_udf

    books = _collect_codebook(codebook, m, k)
    encode = make_encode_udf(np.asarray(books))
    return df.select(F.col(id_col), encode(vec_col).alias("codes"))


def pq_encode_with_err(
    df: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """`pq_encode` plus each row's reconstruction error
    ||x - decode(codes)||² — (id, codes, _pq_err). The codes half is
    bit-identical to `pq_encode` (same kernel argmin/tie rule,
    test-pinned); the error half feeds the PQ drift ledger, where its
    purity in (vector, codebook) makes pre-image subtraction exact."""
    import numpy as np

    from filesystemagent_spark.functions.pqkernels import make_encode_err_udf

    books = _collect_codebook(codebook, m, k)
    enc = make_encode_err_udf(np.asarray(books))
    return df.select(F.col(id_col), enc(vec_col).alias("_ce")).select(
        id_col,
        F.col("_ce.codes").alias("codes"),
        F.col("_ce.err").alias("_pq_err"),
    )


def _pq_code_hist(codes_df: DataFrame) -> dict:
    """Per-(subspace, code) usage counts of a codes frame — the
    DISCRIMINATION half of the PQ drift ledger. Keys are 'sub:code'
    strings (JSON app metadata), values exact integer counts, so the
    running histogram merges by +post/−pre with NO float error. One
    O(batch·m) aggregation collecting ≤ m·k_cells rows."""
    rows = (
        codes_df.select(F.posexplode("codes").alias("_sub", "_code"))
        .groupBy("_sub", "_code")
        .count()
        .collect()
    )
    return {f"{r['_sub']}:{r['_code']}": int(r["count"]) for r in rows}


def _pq_code_hists_2(both: DataFrame) -> tuple[dict, dict]:
    """`_pq_code_hist` for a side-marked union of two codes frames —
    both histograms from ONE collect (`_side` 1 = post, 0 = pre). Same
    exact-integer semantics per side as two separate calls."""
    rows = (
        both.select("_side", F.posexplode("codes").alias("_sub", "_code"))
        .groupBy("_side", "_sub", "_code")
        .count()
        .collect()
    )
    hists: tuple[dict, dict] = ({}, {})
    for r in rows:
        hists[r["_side"]][f"{r['_sub']}:{r['_code']}"] = int(r["count"])
    return hists[1], hists[0]


def _hist_merge(base: dict, plus: dict, minus: dict) -> dict:
    out = {k: int(v) for k, v in base.items()}
    for k, v in plus.items():
        out[k] = out.get(k, 0) + int(v)
    for k, v in minus.items():
        nv = out.get(k, 0) - int(v)
        if nv:
            out[k] = nv
        else:
            out.pop(k, None)
    return out


def _hist_concentration(hist: dict) -> float:
    """Mean over subspaces of the most-used code's share — 1/k_cells
    on perfectly spread usage, →1.0 when a subspace's rows collapse
    into one code (the discrimination-loss state where ADC distances
    stop separating neighbors even though absolute reconstruction
    error looks fine — measured in scripts/exp_pq_drift.py)."""
    tot: dict[int, int] = {}
    mx: dict[int, int] = {}
    for key, n in hist.items():
        s = int(str(key).split(":")[0])
        n = int(n)
        tot[s] = tot.get(s, 0) + n
        if n > mx.get(s, 0):
            mx[s] = n
    shares = [mx[s] / tot[s] for s in tot if tot[s] > 0]
    return sum(shares) / len(shares) if shares else 0.0


def start_pq_index_sink(
    spark,
    source_table: str,
    index_dir: str,
    checkpoint: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    available_now: bool = True,
    max_versions_per_trigger: int | None = None,
    fold_depth: int = 4,
    fold_covered_frac: float = 0.5,
    cluster_by_cells: bool = False,
    maintain_every: int | None = None,
    maintain_retention_seconds: float = 600.0,
):
    """INCREMENTAL PQ-codes maintenance from the embedding corpus's
    CHANGE FEED — the compressed-vector leg of the
    maintained-artifact family: `embedding_knn_pq` today re-encodes
    the corpus inside every query; at 100 TB the codes (16× smaller
    than the raw vectors) are the thing you persist ONCE and serve
    from. The corpus lives in a TxTable and mutates; the stored codes
    table (`<index_dir>/codes`, the `codes` input of `knn_pq` /
    `knn_pq_rerank`) tracks it: touched ids die via file-backed MoR
    key tombstones, post-image vectors encode against the FIXED stored
    codebook (`<index_dir>/codebook`, the Faiss train-once recipe —
    same discipline as the IVF centroids, and `ivf_drift_info`'s
    ledger pattern applies if a drift signal is ever needed) and merge
    back. Encoding is a pure function of the codebook, so the
    maintained codes are BIT-IDENTICAL to a fresh `pq_encode` over the
    final corpus (test-pinned). Exactly-once: a `pq_batch_id` stamp,
    the batch's last commit carrying it; tombstones fold under the
    shared sink policy.

    DRIFT LEDGER (the IVF discipline ported; without it the PQ
    codebook decays silently): a fixed codebook's
    ADC distances degrade under distribution shift with no error
    anywhere. Each batch maintains `pq_err_sum`/`pq_n` (sum of live
    rows' reconstruction error ||x - decode(codes)||², and the live
    row count) by +post-images / −pre-images — the error is a pure
    function of (vector, fixed codebook), so a row subtracts exactly
    what it added (modulo float summation order) and the running sum
    is EXACT and O(batch). `pq_err_sum0`/`pq_n0` snapshot the first
    applied batch. The ledger ALSO maintains `pq_hist`/`pq_hist0` —
    per-(subspace, code) usage counts, exact integer +post/−pre —
    because the calibration experiment showed absolute error alone
    misses the normalized-corpus failure mode (a mean shift collapsed
    ADC recall with error flat; usage CONCENTRATION is what moves —
    scripts/exp_pq_drift.py, SCALE.md). `pq_drift_info` turns the
    scalars into the re-train signal, and `retrain_pq_index` acts on
    it with epoch-stamped crash-consistent two-table publishes
    (`pq_retrain_epoch`, the IVF pattern).

    ``cluster_by_cells`` (the IVFPQ layout): post-images
    are ALSO assigned to their nearest `<index_dir>/centroids` cell
    and the codes rows become (id, codes, cell_id), staged CLUSTERED
    on cell_id — so `knn_ivfpq`'s probe prunes the codes scan to
    ~nprobe/|cells| of the files via manifest stats, the Faiss IVFADC
    layout. Assignment is a pure function of the fixed centroids, so
    the maintained rows stay bit-identical to a fresh encode+assign
    (test-pinned)."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable
    from filesystemagent_spark.streaming.sinks import (
        _apply_index_batch,
        _batch_images,
        _ledger_continuation,
        _start_feed_sink,
    )

    codes_path = _os.path.join(index_dir, "codes")
    book_path = _os.path.join(index_dir, "codebook")
    cent_path = _os.path.join(index_dir, "centroids")
    STAMP = "pq_batch_id"
    LEDGER_KEYS = (
        "pq_err_sum", "pq_n", "pq_err_sum0", "pq_n0",
        "pq_hist", "pq_hist0",
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        codes_t = TxTable(codes_path)
        applied = codes_t.latest_app_value(STAMP)
        if applied is not None and applied >= batch_id:
            return  # replayed batch
        # refuse to encode against mid-retrain codebooks (see
        # retrain_pq_index): merging new-regime codes into an
        # old-regime codes table would mix regimes permanently
        _check_pq_epochs(index_dir)
        imgs, latest, before = _batch_images(batch_df, id_col)
        encoded = None
        try:
            if latest.isEmpty():
                return  # empty batch: idempotent no-op, unstamped
            book = TxTable(book_path).read(spark)
            post = latest.filter(
                F.col("_change_type").isin("insert", "upsert")
            ).select(id_col, vec_col)
            encoded = pq_encode_with_err(
                post, book,
                id_col=id_col, vec_col=vec_col, dim=dim, m=m, k=k_cells,
            )
            if cluster_by_cells:
                encoded = encoded.join(
                    assign_cells(
                        post, TxTable(cent_path).read(spark),
                        id_col=id_col, vec_col=vec_col, nprobe=1,
                    ).select(id_col, "cell_id"),
                    id_col,
                ).repartitionByRange(8, "cell_id")
            encoded = encoded.cache()
            # ledger counts track rows that CONTRIBUTE error mass
            # (null-skipping count of the metric column — review
            # finding: count(*) deflates the mean with invalid-vector
            # rows whose err is null); a_rows drives the merge
            # Both sides' ledger scalars in ONE action and both code
            # histograms in ONE action (guide §7.3: four agg jobs per
            # micro-batch were fixed driver overhead): side-marked
            # unions over the cached encodings.
            b_encoded = pq_encode_with_err(
                before.select(id_col, vec_col), book,
                id_col=id_col, vec_col=vec_col, dim=dim, m=m, k=k_cells,
            ).cache()
            try:
                both = (
                    encoded.select("_pq_err", "codes")
                    .withColumn("_side", F.lit(1))
                    .unionByName(
                        b_encoded.select("_pq_err", "codes").withColumn(
                            "_side", F.lit(0)
                        )
                    )
                )
                err = lambda s: F.when(  # noqa: E731
                    F.col("_side") == s, F.col("_pq_err")
                )
                a_err, a_n, a_rows, b_err, b_n = both.agg(
                    F.coalesce(F.sum(err(1)), F.lit(0.0)),
                    F.count(err(1)),
                    F.count(F.when(F.col("_side") == 1, F.lit(1))),
                    F.coalesce(F.sum(err(0)), F.lit(0.0)),
                    F.count(err(0)),
                ).first()
                a_hist, b_hist = _pq_code_hists_2(both)
            finally:
                b_encoded.unpersist()
            # pre-ledger guard shared with the IVF sink: skip the
            # extras on a table lacking the ledger keys instead of
            # fabricating a zero-based baseline
            ledger_extra = _ledger_continuation(
                codes_t, LEDGER_KEYS,
                lambda prev: {
                    "pq_err_sum": float(prev["pq_err_sum"] or 0.0)
                    + float(a_err) - float(b_err),
                    "pq_n": int(prev["pq_n"] or 0) + int(a_n) - int(b_n),
                    "pq_err_sum0": prev["pq_err_sum0"],
                    "pq_n0": prev["pq_n0"],
                    "pq_hist": _hist_merge(
                        prev["pq_hist"] or {}, a_hist, b_hist
                    ),
                    "pq_hist0": prev["pq_hist0"],
                },
            )
            _apply_index_batch(
                codes_t, spark, batch_id=batch_id, stamp_key=STAMP,
                latest=latest, id_col=id_col,
                new_rows=encoded.drop("_pq_err"),
                merge_keys=[id_col],
                app_extra_init={
                    "pq_err_sum": float(a_err), "pq_n": int(a_n),
                    "pq_err_sum0": float(a_err), "pq_n0": int(a_n),
                    "pq_hist": a_hist, "pq_hist0": a_hist,
                },
                app_extra=ledger_extra,
                # the ledger agg already counted the staged rows — no
                # extra isEmpty action
                has_new=int(a_rows) > 0,
                fold_depth=fold_depth, fold_covered_frac=fold_covered_frac,
                maintain_every=maintain_every,
                maintain_retention_seconds=maintain_retention_seconds,
            )
        finally:
            imgs.unpersist()
            if encoded is not None:
                encoded.unpersist()

    return _start_feed_sink(
        spark, source_table, checkpoint, apply_batch,
        available_now=available_now,
        max_versions_per_trigger=max_versions_per_trigger,
    )


def pq_index_epochs(index_dir: str) -> tuple[int, int]:
    """(codebook epoch, codes epoch) — the retrain-consistency stamps
    `retrain_pq_index` writes to BOTH tables (the `ivf_index_epochs`
    pattern). Equal epochs mean the codebook and the stored codes
    belong to the same regime; codebook ahead means a retrain crashed
    between its two table publishes. Never-retrained tables → (0, 0)."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    e_book = TxTable(_os.path.join(index_dir, "codebook")).latest_app_value(
        "pq_retrain_epoch"
    )
    e_codes = TxTable(_os.path.join(index_dir, "codes")).latest_app_value(
        "pq_retrain_epoch"
    )
    return int(e_book or 0), int(e_codes or 0)


def _check_pq_epochs(index_dir: str) -> None:
    e_book, e_codes = pq_index_epochs(index_dir)
    if e_book != e_codes:
        raise ValueError(
            f"PQ index {index_dir} is mid-retrain (codebook epoch "
            f"{e_book} vs codes epoch {e_codes}) — a retrain crashed "
            "between its table publishes; run retrain_pq_index to "
            "complete it (it resumes by re-encoding against the "
            "already-published codebook)"
        )


def pq_drift_info(
    index_dir: str,
    *,
    retrain_ratio: float = 2.0,
    concentration_retrain_ratio: float = 2.0,
) -> dict:
    """The stored PQ index's codebook-drift signal, read from the
    ledger `start_pq_index_sink` maintains in the codes table's app
    metadata — `ivf_drift_info`'s sibling for the compressed-vector
    leg (without it the codebook decays silently, the defect the IVF
    ledger closes for the centroids).

    TWO signals, because the calibration experiment
    (scripts/exp_pq_drift.py, table in SCALE.md) showed one is not
    enough:

    - drift_ratio = (mean reconstruction error of live rows) / (the
      training-snapshot mean). RISES when the corpus moves off the
      codebook's support (fit drift — note the opposite direction
      from IVF's falling cosine).
    - concentration_ratio = (mean over subspaces of the most-used
      code's share) / (the same at training time). RISES when the
      corpus COLLAPSES into few codes — the measured failure mode on
      normalized corpora, where a mean shift destroyed ADC recall@10
      (0.24 → 0.07) while absolute reconstruction error stayed flat
      (error ratio ≤ 1.03): quantization still FITS but no longer
      DISCRIMINATES. The histogram is exact integer arithmetic under
      +post/−pre, so this signal has zero float drift.

    `retrain_recommended` fires when EITHER ratio crosses its
    threshold. Measured at sf0.1 (SCALE.md): same-distribution DML
    holds both ≈1.0 (err 1.012, conc 0.982); a mild shift with NO
    recall loss sits at conc 1.22; the first state with real recall
    loss (60% rows shifted, rerank recall 0.236→0.136) sits at
    concentration_ratio 3.80 and the extreme state (recall 0.072) at
    6.51 — while the ERROR ratio stays ≤1.03 across all of them. The
    default 2.0 splits the no-loss and loss regimes with margin on
    both sides; error-ratio 2.0 carries the off-support regime (the
    failure mode the small-corpus tests exercise, where error does
    rise), below every observed no-loss state. Re-training =
    `retrain_pq_index` (rebuild codebook offline, re-encode once,
    restart the sink) — measured to buy back 0.072→0.188 at the
    extreme state."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    _check_pq_epochs(index_dir)  # a mid-retrain ledger would be a lie
    t = TxTable(_os.path.join(index_dir, "codes"))
    keys = (
        "pq_err_sum", "pq_n", "pq_err_sum0", "pq_n0", "pq_hist", "pq_hist0"
    )
    vals = t.latest_app_values(keys)  # one manifest walk, not six
    if any(vals[k] is None for k in keys):
        raise ValueError(
            f"no drift ledger in {index_dir}/codes — index predates the "
            "drift-ledger sink or was built without start_pq_index_sink"
        )
    n, n0 = int(vals["pq_n"]), int(vals["pq_n0"])
    mean = float(vals["pq_err_sum"]) / n if n else 0.0
    base = float(vals["pq_err_sum0"]) / n0 if n0 else 0.0
    if base > 0.0:
        ratio = mean / base
    else:
        ratio = 1.0 if mean <= 0.0 else float("inf")
    conc = _hist_concentration(vals["pq_hist"])
    conc0 = _hist_concentration(vals["pq_hist0"])
    conc_ratio = (conc / conc0) if conc0 > 0.0 else 1.0
    return {
        "n_rows": n,
        "mean_recon_err": mean,
        "baseline_mean_err": base,
        "drift_ratio": ratio,
        "usage_concentration": conc,
        "baseline_concentration": conc0,
        "concentration_ratio": conc_ratio,
        "retrain_recommended": (
            ratio > retrain_ratio
            or conc_ratio > concentration_retrain_ratio
        ),
    }


def retrain_pq_index(
    spark,
    source_table: str,
    index_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    max_iter: int = 3,
) -> dict:
    """Act on `pq_drift_info`'s re-train signal: rebuild the codebook
    from the LIVE corpus (`pq_codebooks`), re-encode ONCE, and
    re-baseline the drift ledger — `retrain_ivf_index`'s recipe for
    the compressed leg. The sink's `pq_batch_id` stamp is carried
    forward so feed maintenance resumes exactly where it left off.

    Crash consistency: two commits on two tables, never atomic. Both
    carry a monotone `pq_retrain_epoch` IN THE SAME COMMIT as their
    data (TxTable.overwrite app=), codebook FIRST — a crash between
    the publishes leaves the codebook epoch ahead, which every
    consumer detects loudly (`pq_drift_info`, the PQ sink's
    apply_batch) instead of serving mixed-regime codes, and a rerun of
    THIS function RESUMES: it skips the k-means and completes the
    interrupted retrain by re-encoding against the already-published
    codebook. Returns the post-retrain `pq_drift_info`."""
    import os as _os

    from filesystemagent_spark.sources.txtable import TxTable

    codes_t = TxTable(_os.path.join(index_dir, "codes"))
    book_t = TxTable(_os.path.join(index_dir, "codebook"))
    stamp = codes_t.latest_app_value("pq_batch_id")
    live = TxTable(source_table).read(spark)
    e_book, e_codes = pq_index_epochs(index_dir)
    if e_book == e_codes:
        # normal path: train and publish the new codebook, epoch bumped
        book = pq_codebooks(
            live, id_col=id_col, vec_col=vec_col, dim=dim, m=m,
            k=k_cells, max_iter=max_iter,
        )
        epoch = e_book + 1
        book_t.overwrite(book, app={"pq_retrain_epoch": epoch})
    else:
        # resume an interrupted retrain: the new codebook already
        # landed; only the codes half is missing
        epoch = e_book
    encoded = pq_encode_with_err(
        live, book_t.read(spark),
        id_col=id_col, vec_col=vec_col, dim=dim, m=m, k=k_cells,
    )
    # IVFPQ layout (cluster_by_cells sink): re-encoding must preserve
    # the cell_id column and clustering — assignment re-runs against
    # the FIXED centroids (a codebook retrain does not move them).
    # Keyed off the codes SCHEMA, not a co-located centroids dir
    # (review finding: a plain PQ index sharing index_dir with IVF
    # artifacts must not be silently flipped to the clustered shape)
    cent_path = _os.path.join(index_dir, "centroids")
    if codes_t.latest_version() > 0 and "cell_id" in codes_t.read(
        spark
    ).columns:
        encoded = encoded.join(
            assign_cells(
                live, TxTable(cent_path).read(spark),
                id_col=id_col, vec_col=vec_col, nprobe=1,
            ).select(id_col, "cell_id"),
            id_col,
        ).repartitionByRange(8, "cell_id")
    encoded = encoded.cache()
    try:
        s, n = encoded.agg(
            F.coalesce(F.sum("_pq_err"), F.lit(0.0)), F.count("*")
        ).first()
        hist = _pq_code_hist(encoded)
        app = {
            "pq_err_sum": float(s), "pq_n": int(n),
            "pq_err_sum0": float(s), "pq_n0": int(n),
            "pq_hist": hist, "pq_hist0": hist,
            "pq_retrain_epoch": epoch,
        }
        if stamp is not None:
            app["pq_batch_id"] = stamp
        codes_t.overwrite(encoded.drop("_pq_err"), app=app)
    finally:
        encoded.unpersist()
    return pq_drift_info(index_dir)


def knn_pq(
    queries: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k by asymmetric distance (ADC): each query
    precomputes a lookup table of squared distances to every centroid
    (m·k_cells doubles, one array column on the broadcast query side);
    scoring a corpus code is then m table lookups instead of dim
    multiplies — the bandwidth win that makes 100 TB vector search
    feasible (the corpus is scanned as codes, 16x smaller than raw).

    Returns (query_id, neighbor_id, approx_dist, rnk); rank ascending
    by estimated L2. Run on normalized vectors for cosine semantics.
    """
    import numpy as np

    from filesystemagent_spark.functions.pqkernels import make_lut_udf

    books = _collect_codebook(codebook, m, k_cells)
    luts = make_lut_udf(np.asarray(books))
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        ).withColumn("_lut", luts("_qv")).drop("_qv")
    )
    scored = (
        q.crossJoin(codes.select(F.col(id_col).alias("neighbor_id"), "codes"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist",
            F.aggregate(
                F.zip_with(
                    F.col("_lut"), F.col("codes"), lambda l, c: F.element_at(l, c + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .drop("_lut", "codes")
    )
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("approx_dist").asc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def knn_pq_rerank(
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
    k: int = 5,
    rerank: int = 50,
) -> DataFrame:
    """PQ with EXACT RERANKING — the standard Faiss recipe for closing
    PQ's quantization-error recall gap: ADC retrieves the top
    ``rerank`` candidates from the compressed codes (the bandwidth
    win: the corpus scan still reads 16x-smaller codes), then ONLY
    those candidates' true vectors are fetched and exactly
    cosine-rescored for the final top-``k``. Recall is monotone in
    ``rerank`` and provably 1.0 at rerank >= corpus size, which is
    what lets a tuner terminate (operators/anntune.tune_knn_pq).

    Scale shape: the candidate set is n_queries x rerank rows — tiny
    next to the corpus — so it broadcasts to the true-vector fetch;
    the full-width corpus is touched only for candidates (the
    IVF-ADC + refine layout at 100 TB: codes in fast storage, raw
    vectors cold). Returns (query_id, neighbor_id, cosine, rnk) like
    knn_bruteforce."""
    cand = knn_pq(
        queries, codes, codebook, id_col=id_col, vec_col=vec_col,
        dim=dim, m=m, k_cells=k_cells, k=rerank,
    ).select("query_id", "neighbor_id")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            V.l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        V.l2_norm(F.col(vec_col)).alias("_cn"),
    )
    scored = (
        F.broadcast(cand)
        .join(c, "neighbor_id")     # true vectors for candidates only
        .join(q, "query_id")
        .withColumn(
            "cosine",
            V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn")),
        )
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    return grouped_top_k(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )


def knn_ivfpq(
    spark,
    queries: DataFrame,
    index_dir: str,
    *,
    corpus: DataFrame | None = None,
    corpus_table: str | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    m: int = 8,
    k_cells: int = 16,
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 50,
    round_to: int | None = None,
) -> DataFrame:
    """IVF+PQ COMPOSED serving over the stored artifacts (the Faiss
    IVFPQ + refine production recipe; flat ADC would scan the entire
    codes table): probe-pruned cells →
    ADC on just those cells' codes → exact rerank from the raw corpus.

    `index_dir` is a `start_pq_index_sink(cluster_by_cells=True)`
    layout: `centroids` (coarse quantizer), `codebook` (PQ), `codes`
    rows (id, codes, cell_id) staged CLUSTERED on cell_id. The three
    pruning rungs, each bounded by the QUERY batch, never the corpus:

    1. PROBE — queries assign to their `nprobe` nearest cells; the
       probed cell ids (≤ n_queries × nprobe, driver-side) become a
       `cell_id IN (...)` predicate the manifest stats evaluate
       pre-scan, so the codes read touches ~nprobe/|cells| of the
       files (files-read-gated in tests) — and what it does read is
       codes, 16× smaller than raw vectors.
    2. ADC — per-query LUT (m·k_cells doubles, broadcast), scored via
       a cell_id EQUI-join against the probed codes (knn_pq's
       crossJoin shape restricted to the probe), top-`rerank` kept.
    3. RERANK — only the ≤ n_queries × rerank candidates' true
       vectors are fetched (id-footprint-pruned read when
       `corpus_table` names a TxTable; plain join when `corpus` is a
       DataFrame) and exactly cosine-rescored for the final top-`k`.

    Exactness anchor: at nprobe = |cells| and rerank = |corpus| every
    stage is exhaustive and the result equals `knn_bruteforce`
    (test-pinned) — which is what lets `knn_stored_ivfpq_auto`'s
    tuning ladder terminate. Returns (query_id, neighbor_id, cosine,
    rnk). Run on normalized vectors for cosine semantics."""
    import os as _os

    import numpy as np

    from filesystemagent_spark.caching import track_persist
    from filesystemagent_spark.functions.pqkernels import make_lut_udf
    from filesystemagent_spark.sources.txtable import TxTable

    if (corpus is None) == (corpus_table is None):
        raise ValueError("exactly one of corpus / corpus_table required")
    _check_pq_epochs(index_dir)
    cent = TxTable(_os.path.join(index_dir, "centroids")).read(spark)
    book = TxTable(_os.path.join(index_dir, "codebook")).read(spark)

    # 1. probe: ONE assignment pass serves both the driver-side cell
    # footprint and the per-(query, cell) join keys
    q_cells = track_persist(
        assign_cells(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
            ),
            cent, id_col="query_id", vec_col="_qv", nprobe=nprobe,
        ).select("query_id", "cell_id")
    )
    probed = [r.cell_id for r in q_cells.select("cell_id").distinct().collect()]
    codes_t = TxTable(_os.path.join(index_dir, "codes"))
    codes = (
        codes_t.read(spark, where=[("cell_id", "in", probed)])
        if probed
        else codes_t.read(spark)
    )

    # 2. ADC on the probed cells only
    books = _collect_codebook(book, m, k_cells)
    luts = make_lut_udf(np.asarray(books))
    q = F.broadcast(
        q_cells.join(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
            ).withColumn("_lut", luts("_qv")).drop("_qv"),
            "query_id",
        )
    )
    scored = (
        q.join(
            codes.select(F.col(id_col).alias("neighbor_id"), "cell_id", "codes"),
            "cell_id",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "approx_dist",
            F.aggregate(
                F.zip_with(
                    F.col("_lut"), F.col("codes"), lambda l, c: F.element_at(l, c + 1)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .select("query_id", "neighbor_id", "approx_dist")
    )
    # each corpus row lives in exactly one cell, so a (query, neighbor)
    # pair appears at most once across probed cells — no dedup needed
    cand = track_persist(
        grouped_top_k(
            scored,
            ["query_id"],
            [F.col("approx_dist").asc(), F.col("neighbor_id").asc()],
            rerank,
        ).select("query_id", "neighbor_id")
    )

    # 3. exact rerank: true vectors for candidates only
    if corpus_table is not None:
        ids = [
            r.neighbor_id
            for r in cand.select("neighbor_id").distinct().collect()
        ]  # bounded: <= n_queries x rerank
        corpus = TxTable(corpus_table).read(
            spark, where=[(id_col, "in", ids)] if ids else None
        )
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            V.l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        V.l2_norm(F.col(vec_col)).alias("_cn"),
    )
    cos = V.cosine_from(F.col("_qv"), F.col("_cv"), F.col("_qn"), F.col("_cn"))
    if round_to is not None:
        # rank on the ROUNDED cosine + id tie-break (the repo-wide
        # cross-engine discipline) so an oracle selects identical rows
        cos = F.round(cos, round_to)
    rescored = (
        F.broadcast(cand)
        .join(c, "neighbor_id")
        .join(qv, "query_id")
        .withColumn("cosine", cos)
        .drop("_qv", "_cv", "_qn", "_cn")
    )
    return grouped_top_k(
        rescored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k,
        keep_rank=True,
    )
