"""Constructed-graph tests for the near-dup operators: Hamming band
recall at distance 1-2, and connected-components label propagation on
topologies the gate oracle can't reach (chains, multi-hop merges)."""

from __future__ import annotations

import pytest

from filesystemagent_spark.catalog import Catalog
from filesystemagent_spark.operators.dedup import (
    hamming_near_dup_pairs,
    near_dup_clusters,
)


def _i64(v: int) -> int:
    """Two's-complement wrap to signed 64-bit (LongType)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def test_hamming_banding_finds_small_distances(spark):
    base = 0x0123456789ABCDEF
    rows = [
        (1, base),
        (2, base ^ 0x1),                # distance 1
        (3, base ^ 0x3),                # distance 2 from base, 1 from id 2
        (4, _i64(base ^ (1 << 63))),    # distance 1 (high bit, different band)
        (5, 0x7EDCBA9876543210),        # far away
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r["id_a"], r["id_b"], r["distance"])
        for r in hamming_near_dup_pairs(df, "id", "h", max_distance=2).collect()
    }
    assert (1, 2, 1) in got
    assert (1, 3, 2) in got
    assert (2, 3, 1) in got
    assert (1, 4, 1) in got
    assert not any(5 in (a, b) for a, b, _ in got)


def test_hamming_banding_excludes_beyond_threshold(spark):
    base = 0
    rows = [(1, base), (2, base ^ 0x7)]  # distance 3 > max 2
    df = spark.createDataFrame(rows, "id long, h long")
    assert hamming_near_dup_pairs(df, "id", "h", max_distance=2).count() == 0
    # settings that break the pigeonhole guarantee raise (an assert
    # vanishes under ``python -O`` and recall would drop silently)
    from filesystemagent_spark.operators.dedup import simhash_near_dup_pairs

    for bands in (2, 128):  # bands <= max_distance; zero-bit slices
        with pytest.raises(ValueError, match="pigeonhole"):
            hamming_near_dup_pairs(df, "id", "h", max_distance=2, bands=bands)
    docs = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):  # 4 x 8 bits > 16
        simhash_near_dup_pairs(docs, "id", "text", bits=16, block_bits=8)


def test_clusters_chain_topology(spark):
    """a-b and b-c edges, no a-c: one component labeled min(id)."""
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 50]], "id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["id"], r["cluster_id"])
        for r in near_dup_clusters(ids, pairs, id_col="id").collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (50, 50)}


def test_clusters_multi_hop_merge(spark):
    """A long path needs several propagation rounds to converge."""
    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    labels = near_dup_clusters(ids, pairs, id_col="id").collect()
    assert {r["cluster_id"] for r in labels} == {0}
    assert len(labels) == n


def test_minhash_recall_vs_exact(spark, sf_dir):
    """MinHash+LSH output is a subset of the exact pair set (verify
    step computes true Jaccard) and banding recall is ~1 for
    high-similarity pairs: P(candidate) = 1-(1-J^rows)^bands ~ 0.9998
    at J=0.8 with 16 bands x 4 rows."""
    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_near_dup_pairs,
        ngram_jaccard_pairs,
    )

    docs = Catalog(spark, sf_dir).documents
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.4
        ).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_near_dup_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.4
        ).collect()
    }
    assert set(got) <= set(exact)
    for pair, j in got.items():
        assert j == exact[pair]  # verify recomputes true jaccard
    high = {p for p, j in exact.items() if j >= 0.8}
    assert high, "fixture should contain high-similarity pairs"
    found_high = high & set(got)
    assert len(found_high) / len(high) >= 0.95, "banding missed high-sim pairs"


def test_ngram_jaccard_max_doc_freq_bounds_hot_shingles(spark):
    """The hot-shingle cap: a boilerplate shingle shared by every doc
    must not explode the self-join. With the cap, (a) the hot shingle
    contributes no candidates, (b) true near-dup pairs whose overlap
    doesn't hinge on boilerplate are still found with jaccard a lower
    bound of the exact value, and (c) pairs are a subset of exact."""
    from filesystemagent_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved worldwide"
    rows = []
    for i in range(40):
        body = f"unique text number {i} about topic {i % 7} item {i}"
        rows.append((i, f"{body} {boiler}"))
    # one true near-dup pair sharing their whole body
    rows.append((100, f"shared body of text alpha beta gamma delta {boiler}"))
    rows.append((101, f"shared body of text alpha beta gamma delta epsilon {boiler}"))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.3
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.3, max_doc_freq=10
        ).collect()
    }
    assert (100, 101) in exact and (100, 101) in capped
    assert set(capped) <= set(exact)
    for pair, j in capped.items():
        assert j <= exact[pair] + 1e-12  # n_common only shrinks


def test_ngram_jaccard_prune_is_exact_when_under_cap(spark, sf_dir):
    """With a cap no shingle reaches, the pruned form equals the exact
    form bit-for-bit (the df==1 drop is always semantics-preserving)."""
    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import ngram_jaccard_pairs

    docs = Catalog(spark, sf_dir).documents
    exact = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.4
        ).collect())
    )
    capped = sorted(
        map(tuple, ngram_jaccard_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.4,
            max_doc_freq=10**9,
        ).collect())
    )
    assert exact == capped


def test_minhash_incremental_matches_full_batch(spark):
    """Incremental dedup (prebuilt corpus index + batch pipeline) must
    surface exactly the full batch run's pairs that touch the batch:
    batch-vs-corpus pairs as src='corpus', batch-vs-batch as
    src='batch', and never a corpus-vs-corpus pair."""
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_incremental,
        minhash_near_dup_pairs,
    )

    body = "the quick brown fox jumps over the lazy dog again and again "
    rows = [
        (1, body * 3),                       # corpus
        (2, body * 3 + "tail one here"),     # corpus, dup of 1
        (4, body * 3 + "tail two here"),     # batch,  dup of 1/2
        (8, body * 3 + "tail three here"),   # batch,  dup of 1/2/4
        (3, "completely different text about spark shuffles " * 5),  # corpus
        (12, "unrelated batch document with its own words " * 5),    # batch
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter("doc_id % 4 != 0")
    batch = df.filter("doc_id % 4 = 0")

    kw = dict(shingle_n=3, num_hashes=16, bands=4, seed=42)
    index = minhash_band_index(corpus, "doc_id", "text", **kw)
    got = {
        (r.id_new, r.dup_of, r.src)
        for r in minhash_dedup_incremental(
            corpus, batch, index, "doc_id", "text", threshold=0.4, **kw
        ).collect()
    }

    full = {
        (r.id_a, r.id_b)
        for r in minhash_near_dup_pairs(
            df, "doc_id", "text", threshold=0.4, **kw
        ).collect()
    }
    batch_ids = {4, 8, 12}
    expect = set()
    for a, b in full:
        if a in batch_ids and b in batch_ids:
            expect.add((b, a, "batch"))  # id_new > dup_of
        elif b in batch_ids:
            expect.add((b, a, "corpus"))
        elif a in batch_ids:
            expect.add((a, b, "corpus"))
    assert got == expect
    assert (4, 1, "corpus") in got and (8, 4, "batch") in got
    assert not any(n not in batch_ids for n, _, _ in got)


def test_minhash_index_txtable_roundtrip(spark, tmp_path):
    """The index is STORABLE: write it to a TxTable, read it back,
    dedup a batch against the read-back index (same result as the
    in-memory index), then merge the accepted batch's band keys in —
    the continuous-ingest loop end-to-end."""
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_incremental,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    body = "one two three four five six seven eight nine ten "
    df = spark.createDataFrame(
        [(1, body * 4), (2, body * 4 + "x y z"), (4, body * 4 + "p q r")],
        "doc_id long, text string",
    )
    corpus, batch = df.filter("doc_id < 4"), df.filter("doc_id = 4")
    kw = dict(shingle_n=3, num_hashes=16, bands=4, seed=42)

    index = minhash_band_index(corpus, "doc_id", "text", **kw)
    t = TxTable(str(tmp_path / "lsh_index"))
    t.init(index.withColumn("band", index["band"].cast("int")))

    direct = minhash_dedup_incremental(
        corpus, batch, index, "doc_id", "text", threshold=0.4, **kw
    )
    via_table = minhash_dedup_incremental(
        corpus, batch, t.read(spark), "doc_id", "text", threshold=0.4, **kw
    )
    assert sorted(map(tuple, direct.collect())) == sorted(
        map(tuple, via_table.collect())
    )
    assert {r.id_new for r in via_table.collect()} == {4}

    # accept the batch: append its band keys under snapshot isolation
    batch_idx = minhash_band_index(batch, "doc_id", "text", **kw)
    t.merge_into(
        batch_idx.withColumn("band", batch_idx["band"].cast("int")),
        ["doc_id", "band"],
    )
    assert t.read(spark).select("doc_id").distinct().count() == 3


def test_remove_duplicate_spans_keep_first_semantics(spark):
    """Constructed corpus: doc 1 owns the span (first by (doc_id,
    pos)); doc 2's copy of it is deleted token-for-token; unique text
    survives; sub-n repeats are untouched; the hashed-key variant is
    identical to the string-key one."""
    from filesystemagent_spark.operators.dedup import remove_duplicate_spans

    span = "alpha beta gamma delta epsilon"          # exactly n=5 tokens
    rows = [
        (1, f"{span} tail one"),
        (2, f"lead in {span} ending two"),            # span duplicated
        (3, "totally unique text with no repeats at all"),
        (4, "tiny"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.asDict()
        for r in remove_duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    # doc 1: first occurrence kept in full
    assert out[1]["removed_tokens"] == 0
    assert out[1]["clean_text"] == f"{span} tail one"
    # doc 2: the 5 duplicated tokens deleted, surroundings survive
    assert out[2]["removed_tokens"] == 5
    assert out[2]["clean_text"] == "lead in ending two"
    # unique / short / empty docs pass through
    assert out[3]["removed_tokens"] == 0
    assert out[4] == {
        "doc_id": 4, "n_tokens": 1, "kept_tokens": 1,
        "removed_tokens": 0, "clean_text": "tiny",
    }
    assert out[5]["n_tokens"] == 0 and out[5]["clean_text"] == ""

    hashed = {
        r.doc_id: r.asDict()
        for r in remove_duplicate_spans(
            df, "doc_id", "text", n=5, key="xxhash64"
        ).collect()
    }
    assert hashed == out


def test_remove_duplicate_spans_covers_long_duplicates(spark):
    """A duplicated substring LONGER than n is fully covered by its
    duplicated n-windows, so the whole copy is removed."""
    from filesystemagent_spark.operators.dedup import remove_duplicate_spans

    long_span = " ".join(f"w{i}" for i in range(12))  # 12-token copy
    df = spark.createDataFrame(
        [(1, long_span), (2, f"{long_span} coda")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.asDict()
        for r in remove_duplicate_spans(df, "doc_id", "text", n=5).collect()
    }
    assert out[1]["removed_tokens"] == 0
    assert out[2]["removed_tokens"] == 12
    assert out[2]["clean_text"] == "coda"


def test_remove_duplicate_spans_matches_reference_model(spark):
    """Seeded randomized corpora vs a naive Python reference
    implementation of the same semantics (global first occurrence by
    (doc_id, pos), cover every other occurrence's n positions)."""
    import random

    from filesystemagent_spark.operators.dedup import remove_duplicate_spans

    rng = random.Random(42)
    vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> many collisions
    n = 3

    def reference(docs):
        toks = {d: s.lower().split() for d, s in docs}
        first: dict[tuple, tuple] = {}
        for d, s in sorted(docs):
            tk = toks[d]
            for i in range(len(tk) - n + 1):
                g = tuple(tk[i : i + n])
                first.setdefault(g, (d, i))
        out = {}
        for d, s in docs:
            tk = toks[d]
            covered = set()
            for i in range(len(tk) - n + 1):
                if first[tuple(tk[i : i + n])] != (d, i):
                    covered.update(range(i, i + n))
            kept = [t for j, t in enumerate(tk) if j not in covered]
            out[d] = (len(tk), len(kept), len(tk) - len(kept), " ".join(kept))
        return out

    for trial in range(3):
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
            for d in range(1, 9)
        ]
        want = reference(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.kept_tokens, r.removed_tokens, r.clean_text)
            for r in remove_duplicate_spans(df, "doc_id", "text", n=n).collect()
        }
        assert got == want, f"trial {trial}"


def test_minhash_feed_sink_tracks_dml_and_matches_fresh_build(
    spark, sf_dir, tmp_path
):
    """The round-9 feed-driven LSH index maintenance
    (operators/dedup.start_minhash_index_sink): the corpus TxTable
    mutates (insert + text UPDATE that shifts signatures + keyed
    DELETE) and the stored band index tracks it from the change feed —
    band rows retract via key tombstones, only post-image texts run
    the signature pipeline. The maintained index must equal a fresh
    UNCAPPED minhash_band_index over the final corpus row-for-row, the
    pairs answered from it (read-time cap) must equal the fresh
    checkable pipeline's pairs, and an empty re-drain must publish
    nothing (exactly-once stamp)."""
    import pyspark.sql.functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_near_dup_pairs_checkable,
        minhash_pairs_from_index,
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    src, idx, ckpt = (str(tmp_path / d) for d in ("docs", "idx", "ckpt"))
    mh = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              base="md5", band_key="slice")
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 3 != 0))
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    upd = docs.filter(
        (F.col("doc_id") % 3 == 0) | (F.col("doc_id") % 7 == 1)
    ).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 1,
            F.concat(F.col("text"), F.lit(" lsh shift")),
        ).otherwise(F.col("text")).alias("text"),
    )
    t.merge_into(upd, ["doc_id"], change_feed=True)
    t.delete_keys(
        docs.filter(F.col("doc_id") % 11 == 5).select("doc_id"),
        ["doc_id"], change_feed=True,
    )
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()

    final = t.read(spark)
    idx_t = TxTable(idx)
    maintained = {
        (r.doc_id, r.band, r.band_hash)
        for r in idx_t.read(spark).collect()
    }
    fresh = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_band_index(
            final, "doc_id", "text", max_bucket=None, **mh
        ).collect()
    }
    assert maintained == fresh
    # the update really changed at least one doc's band keys
    assert any(r[0] % 7 == 1 for r in maintained)
    shifted = {r for r in maintained if r[0] % 7 == 1}
    pre_idx = minhash_band_index(
        docs.filter(F.col("doc_id") % 7 == 1), "doc_id", "text",
        max_bucket=None, **mh,
    )
    pre = {(r.doc_id, r.band, r.band_hash) for r in pre_idx.collect()}
    assert shifted != pre  # stale signatures would have survived

    got_pairs = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_pairs_from_index(
            final, idx_t.read(spark), "doc_id", "text",
            shingle_n=3, max_bucket=1000, threshold=0.4, round_to=6,
        ).collect()
    }
    want_pairs = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_near_dup_pairs_checkable(
            final, "doc_id", "text",
            shingle_n=3, num_hashes=16, bands=4, threshold=0.4, seed=42,
        ).withColumn("jaccard", F.round("jaccard", 6)).collect()
    }
    assert got_pairs == want_pairs

    head = idx_t.latest_version()
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    assert idx_t.latest_version() == head  # exactly-once re-drain


def test_minhash_feed_sink_crash_between_delete_and_merge(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Worst-point crash: the batch's key tombstone lands, the process
    dies BEFORE the merge stamps. Restart must replay the batch once —
    the re-delete is a redundant-but-harmless tombstone, the merge
    lands and stamps — and converge to the fresh-build index."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    src, idx, ckpt = (str(tmp_path / d) for d in ("docs", "idx", "ckpt"))
    mh = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              base="md5", band_key="slice")
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 2 == 0))
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    t.merge_into(
        docs.filter(F.col("doc_id") % 2 == 1), ["doc_id"], change_feed=True
    )

    orig = TxTable.merge_into
    boom = {"armed": True}

    def failing(self, *a, **kw):
        if boom["armed"] and self.path == idx:
            boom["armed"] = False
            raise RuntimeError("injected crash before the index merge")
        return orig(self, *a, **kw)

    monkeypatch.setattr(TxTable, "merge_into", failing)
    q = start_minhash_index_sink(spark, src, idx, ckpt, **mh)
    with _pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    idx_t = TxTable(idx)
    assert idx_t.latest_app_value("minhash_batch_id") == 0  # stamp not advanced

    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    maintained = {
        (r.doc_id, r.band, r.band_hash)
        for r in idx_t.read(spark).collect()
    }
    fresh = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_band_index(
            docs, "doc_id", "text", max_bucket=None, **mh
        ).collect()
    }
    assert maintained == fresh


def test_stored_index_dedup_prunes_bucket_footprint(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The 100 TB batch-dedup shape: deduping a SMALL batch against a
    stored band index must read only the files whose key range
    intersects the batch's (band, band_hash) footprint — the DNF
    predicate reaches the manifest stats before Spark plans the scan —
    and the result must be row-identical to minhash_dedup_incremental
    over the in-memory build-capped index."""
    import pyspark.sql.functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_against_stored_index,
        minhash_dedup_incremental,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    # 2 fresh docs + 1 exact re-submission of a corpus doc under a new
    # id — guarantees a non-vacuous corpus pair at jaccard 1.0
    batch = docs.filter(F.col("doc_id") % 50 == 0).limit(2).unionByName(
        corpus.orderBy("doc_id").limit(1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    kw = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              base="md5", band_key="slice")

    path = str(tmp_path / "bandidx")
    t = TxTable(path)
    t.init(
        minhash_band_index(corpus, "doc_id", "text", max_bucket=None, **kw)
        .repartitionByRange(16, "band", "band_hash")
    )
    n_files = len(t.read(spark).inputFiles())
    assert n_files >= 12  # enough granularity for pruning to matter

    reads = []
    orig = TxTable.read

    def counting(self, *a, **kw2):
        df = orig(self, *a, **kw2)
        if kw2.get("where") is not None:
            reads.append(len(df.inputFiles()))
        return df

    monkeypatch.setattr(TxTable, "read", counting)
    got = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_against_stored_index(
            spark, corpus, batch, path, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, **kw
        ).collect()
    }
    monkeypatch.setattr(TxTable, "read", orig)
    assert reads, "the stored-index read never used a predicate"
    assert max(reads) < n_files, (reads, n_files)  # footprint pruned

    idx_mem = minhash_band_index(
        corpus, "doc_id", "text", max_bucket=1000, **kw
    )
    want = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_incremental(
            corpus, batch, idx_mem, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, **kw
        ).collect()
    }
    assert got == want
    assert any(src == "corpus" and jac == 1.0 for *_, jac, src in got)


def test_stored_dedup_composes_with_sink_maintained_index(
    spark, sf_dir, tmp_path
):
    """The continuous-ingest composition: the band index is MAINTAINED
    by the feed sink while the corpus mutates, and a new batch dedups
    against that maintained index — results must equal deduping
    against a freshly-built index over the same final corpus (the
    uncapped-store/cap-at-read discipline is what makes the two
    identical)."""
    import pyspark.sql.functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_against_stored_index,
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    src, idx, ckpt = (str(tmp_path / d) for d in ("docs", "idx", "ckpt"))
    mh = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              base="md5", band_key="slice")
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 2 == 0))
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    # corpus evolves: inserts + a deletion wave; the sink keeps up
    t.merge_into(
        docs.filter(F.col("doc_id") % 2 == 1), ["doc_id"], change_feed=True
    )
    t.delete_keys(
        docs.filter(F.col("doc_id") % 13 == 3).select("doc_id"),
        ["doc_id"], change_feed=True,
    )
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()

    corpus = t.read(spark)
    # the incoming batch: 2 fresh docs + an exact re-submission
    batch = docs.filter(F.col("doc_id") % 97 == 0).limit(2).unionByName(
        corpus.orderBy("doc_id").limit(1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    got = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_against_stored_index(
            spark, corpus, batch, idx, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, **mh
        ).collect()
    }
    fresh_path = str(tmp_path / "fresh")
    TxTable(fresh_path).init(
        minhash_band_index(corpus, "doc_id", "text", max_bucket=None, **mh)
        .repartitionByRange(8, "band", "band_hash")
    )
    want = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_against_stored_index(
            spark, corpus, batch, fresh_path, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, **mh
        ).collect()
    }
    assert got == want
    assert any(src == "corpus" and jac == 1.0 for *_, jac, src in got)


def test_minhash_sink_releases_its_tracked_caches(spark, sf_dir, tmp_path):
    """A continuous sink must not grow the tracked-persist registry
    per micro-batch: after N drains the registry is back at its
    pre-sink mark (the signature pipeline's intermediates are
    released inside apply_batch, not left for the session hook)."""
    import pyspark.sql.functions as F

    from filesystemagent_spark.caching import tracked_count
    from filesystemagent_spark.operators.dedup import (
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    src, idx, ckpt = (str(tmp_path / d) for d in ("docs", "idx", "ckpt"))
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 2 == 0))
    for i in range(3):  # source DML first — its own merges track caches
        t.merge_into(
            docs.filter(F.col("doc_id") % 7 == i).select(
                "doc_id",
                F.concat("text", F.lit(f" r{i}")).alias("text"),
            ),
            ["doc_id"], change_feed=True,
        )
    before = tracked_count()
    # one version per trigger -> four separate apply_batch invocations
    start_minhash_index_sink(
        spark, src, idx, ckpt, max_versions_per_trigger=1
    ).awaitTermination()
    assert tracked_count() == before


def test_stored_index_dedup_wide_footprint_takes_range_rung(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round 10: a batch whose (band, band_hash) footprint exceeds
    probe_cap used to fall back to a FULL index read (an index-sized
    scan any large batch silently paid). It now takes the middle
    rung — one band = b AND band_hash BETWEEN min..max conjunction per
    band, O(bands) stats cost regardless of footprint width. Forced
    here with probe_cap=0: the read must still carry a predicate
    (never the bare full read) and the result must stay row-identical
    to the in-memory incremental dedup."""
    import pyspark.sql.functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        minhash_band_index,
        minhash_dedup_against_stored_index,
        minhash_dedup_incremental,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 50 == 0).limit(2).unionByName(
        corpus.orderBy("doc_id").limit(1).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    kw = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              base="md5", band_key="slice")
    path = str(tmp_path / "bandidx")
    TxTable(path).init(
        minhash_band_index(corpus, "doc_id", "text", max_bucket=None, **kw)
        .repartitionByRange(16, "band", "band_hash")
    )

    predicated = []
    orig = TxTable.read

    def counting(self, *a, **kw2):
        predicated.append(kw2.get("where") is not None)
        return orig(self, *a, **kw2)

    monkeypatch.setattr(TxTable, "read", counting)
    got = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_against_stored_index(
            spark, corpus, batch, path, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, probe_cap=0, **kw
        ).collect()
    }
    monkeypatch.setattr(TxTable, "read", orig)
    assert predicated and all(predicated), predicated  # never the full read

    idx_mem = minhash_band_index(
        corpus, "doc_id", "text", max_bucket=1000, **kw
    )
    want = {
        (r.id_new, r.dup_of, r.jaccard, r.src)
        for r in minhash_dedup_incremental(
            corpus, batch, idx_mem, "doc_id", "text",
            max_bucket=1000, threshold=0.2, round_to=6, **kw
        ).collect()
    }
    assert got == want
    assert any(src == "corpus" and jac == 1.0 for *_, jac, src in got)


def test_minhash_sink_retention_pacing_bounds_files_and_log(
    spark, sf_dir, tmp_path
):
    """Round 10 (verdict item 6): the longevity experiment
    (scripts/exp_sink_longevity.py, SCALE.md) showed an UNPACED sink
    loop accretes ~8 files per micro-batch and a commit log that grows
    without bound (drain time stays flat — file-granular merges skip
    untouched files — but the manifest chain and disk footprint trend
    up forever). `maintain_every` paces retention: every N applied
    batches the sink bin-packs its small files (bounded: cost follows
    the accreted tail, the no-op guard keeps an idle loop from burning
    versions), expires old versions, and vacuums. Pinned here: (a)
    maintained answers stay bit-identical to a fresh build over the
    final corpus, (b) file and manifest counts stay bounded far below
    the unpaced accretion, (c) exactly-once survives — a re-drain
    publishes nothing."""
    import os

    import pyspark.sql.functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import (
        capped_band_index,
        minhash_band_index,
        start_minhash_index_sink,
    )
    from filesystemagent_spark.sources.txtable import TxTable

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    src, idx, ckpt = (str(tmp_path / d) for d in ("docs", "idx", "ckpt"))
    mh = dict(shingle_n=3, num_hashes=16, bands=4, seed=42)
    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 2 == 0))
    n_batches, every = 12, 4
    start_minhash_index_sink(
        spark, src, idx, ckpt, maintain_every=every,
        maintain_retention_seconds=0.0, **mh
    ).awaitTermination()
    for i in range(n_batches):
        batch = docs.filter(F.col("doc_id") % n_batches == i).select(
            (F.col("doc_id") + (i + 1) * 1_000_000).alias("doc_id"), "text"
        )
        t.merge_into(batch, ["doc_id"], change_feed=True)
        if i % 3 == 2:
            t.delete_keys(
                batch.limit(3).select("doc_id"), ["doc_id"],
                change_feed=True,
            )
        start_minhash_index_sink(
            spark, src, idx, ckpt, maintain_every=every,
            maintain_retention_seconds=0.0, **mh
        ).awaitTermination()

    it = TxTable(idx)
    # (a) bit-identical in effect to a fresh UNCAPPED build + read cap
    corpus = t.read(spark)
    got = {
        (r.doc_id, r.band, r.band_hash)
        for r in capped_band_index(it.read(spark), 1000).collect()
    }
    want = {
        (r.doc_id, r.band, r.band_hash)
        for r in capped_band_index(
            minhash_band_index(
                corpus, "doc_id", "text", max_bucket=None, **mh
            ),
            1000,
        ).collect()
    }
    assert got == want
    # (b) bounded: unpaced accretion measured ~8 files/batch; the
    # paced loop must sit far below it, and the expired commit log
    # must stay near keep_last
    n_files = len(it.read(spark).inputFiles())
    assert n_files < 4 * n_batches, n_files
    manifests = [
        n for n in os.listdir(it.manifest_dir)
        if n.startswith("v") and n.endswith(".json")
    ]
    assert len(manifests) <= 12, len(manifests)
    # (c) exactly-once across retention commits
    head = it.latest_version()
    start_minhash_index_sink(
        spark, src, idx, ckpt, maintain_every=every,
        maintain_retention_seconds=0.0, **mh
    ).awaitTermination()
    assert it.latest_version() == head
