"""Seeded synthetic tables for the benchmark.

Writes the ten tables the registered queries read (``region nation
customer supplier part orders lineitem events documents embeddings``),
one parquet file each, in the schemas of the TPC-H-like fixture set the
engine is developed against. The generator is fitted to that set at
scale 0.01: row counts, key ranges, category sets and shares, the
per-column distinct counts, and the shapes the benchmarked queries
depend on. Ship dates are drawn independently of order dates, as there
(about 48% of lineitems ship more than 90 days after their order, and
some before it); documents are random texts over a 30-word vocabulary
of which exactly 5% are an earlier text plus the token ``dup``, with
rows shuffled. The same seed and scale give byte-identical tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
N_DOCS = 500
N_DUPS = N_DOCS // 20
N_VECS = 500
DIM = 64
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_DAY0 = np.datetime64("1995-01-01", "us")
_EV0 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n: int, lo: int, hi: int) -> np.ndarray:
    return _DAY0 + rng.integers(lo, hi + 1, n) * np.timedelta64(1, "D")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> list:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _documents(rng) -> dict:
    """Random texts; N_DUPS of them copy an earlier text (possibly itself
    a copy) and append the token "dup". The shuffle lets a copy's doc_id
    fall below its source's, which decides the corpus/batch split of the
    incremental dedup query."""
    texts = [" ".join(_pick(rng, WORDS, int(rng.integers(10, 100)))) for _ in range(N_DOCS - N_DUPS)]
    for _ in range(N_DUPS):
        texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
    texts = [texts[i] for i in rng.permutation(N_DOCS)]
    return {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> pa.Table:
    v = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), DIM)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_cust = max(int(150_000 * sf), 50)
    n_part = max(int(200_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_events = int(1_000_000 * sf)
    n_users = max(n_cust // 10, 5)

    cols: dict[str, object] = {}
    cols["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    }
    cols["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    cols["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }
    cols["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    pk = np.arange(n_part, dtype=np.int64)
    cols["part"] = {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    }
    cols["orders"] = {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_orders, 0, 2403),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    }
    cols["lineitem"] = {
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, 1, 2499),
    }
    offs = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    cols["events"] = {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _EV0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }
    cols["documents"] = _documents(rng)

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in TABLES:
        table = _embeddings(rng) if name == "embeddings" else pa.table(cols[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":  # pragma: no cover - manual inspection aid
    import sys

    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
