"""Long-horizon version accretion in the maintenance sinks (round 10,
verdict item 6).

An earlier growth-curve experiment ran 6 batches
per config — enough to show per-batch cost is O(batch) in TABLE size,
but a production maintenance loop runs THOUSANDS of micro-batches, and
every micro-batch is 1–3 TxTable commits: manifest chains grow,
`latest_version()` lists an ever-bigger directory, `latest_app_value`
walks, stats segments accumulate. None of that is exercised by a
6-batch run.

This drives the minhash band-index sink for `n_batches` (default 200)
fixed-size DML batches against the sf0.01 documents corpus — one
commit + one availableNow drain per batch — and records per batch:
  drain_sec      wall time of the drain
  index_versions the index table's committed version count
  manifest_kb    total size of the index's manifest dir (the commit log)
  n_files        data files in the head manifest

Verdict: mean drain time over the LAST quarter vs the FIRST quarter
(after a 10-batch warmup skip), PASS when ratio < 1.5 — the commit-log
depth must not tax the steady state. If it does, the fix is retention
pacing (TxTable.expire_versions + compact) wired into the sink loop.

Run: python scripts/exp_sink_longevity.py [sf_dir] [n_batches] [maintain_every]
A third argument > 0 turns on the round-10 retention hook
(maintain_every) for the before/after comparison.
Output: one JSON line per batch (every 10th printed), a summary line,
and exit code 1 on FAIL; paste the summary into SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dir_kb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / 1024.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    maintain_every = int(sys.argv[3]) if len(sys.argv) > 3 else None
    if maintain_every is not None and maintain_every <= 0:
        maintain_every = None

    from pyspark.sql import functions as F

    from filesystemagent_spark.catalog import Catalog
    from filesystemagent_spark.operators.dedup import start_minhash_index_sink
    from filesystemagent_spark.session import get_spark
    from filesystemagent_spark.sources.txtable import TxTable

    spark = get_spark()
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text").cache()
    n_docs = docs.count()

    stage = tempfile.mkdtemp(prefix="sink_longevity_")
    src = os.path.join(stage, "docs")
    idx = os.path.join(stage, "bandidx")
    ckpt = os.path.join(stage, "ckpt")
    mh = dict(shingle_n=3, num_hashes=16, bands=4, seed=42,
              maintain_every=maintain_every,
              maintain_retention_seconds=0.0)

    t = TxTable(src)
    t.init(docs.filter(F.col("doc_id") % 2 == 0))
    start_minhash_index_sink(spark, src, idx, ckpt, **mh).awaitTermination()
    it = TxTable(idx)
    print(
        f"# corpus {n_docs} docs, seeded index at v{it.latest_version()}",
        flush=True,
    )

    b = 20  # merge size per batch; delete b//5
    rows = []
    for i in range(n_batches):
        lo = (i * b) % n_docs
        batch = docs.filter(
            (F.col("doc_id") % 2 == 1)
            & (F.col("doc_id") % n_docs >= lo)
            & (F.col("doc_id") % n_docs < lo + b)
        ).select(
            (F.col("doc_id") + (i + 1) * 10_000_000).alias("doc_id"), "text"
        )
        t.merge_into(batch, ["doc_id"], change_feed=True)
        if i % 5 == 4:
            t.delete_keys(
                batch.limit(b // 5).select("doc_id"),
                ["doc_id"], change_feed=True,
            )
        t0 = time.monotonic()
        start_minhash_index_sink(
            spark, src, idx, ckpt, **mh
        ).awaitTermination()
        rec = {
            "batch": i,
            "drain_sec": round(time.monotonic() - t0, 3),
            "index_versions": it.latest_version(),
            "manifest_kb": round(_dir_kb(it.manifest_dir), 1),
            "n_files": len(it.read(spark).inputFiles()),
        }
        rows.append(rec)
        if i % 10 == 0 or i == n_batches - 1:
            print(json.dumps(rec), flush=True)

    body = rows[10:]  # skip warmup
    q = max(1, len(body) // 4)
    first = [r["drain_sec"] for r in body[:q]]
    last = [r["drain_sec"] for r in body[-q:]]
    mean_f = sum(first) / len(first)
    mean_l = sum(last) / len(last)
    ratio = mean_l / mean_f if mean_f else float("inf")
    summary = {
        "n_batches": n_batches,
        "maintain_every": maintain_every,
        "mean_drain_first_quarter": round(mean_f, 3),
        "mean_drain_last_quarter": round(mean_l, 3),
        "last_over_first": round(ratio, 3),
        "final_versions": rows[-1]["index_versions"],
        "final_manifest_kb": rows[-1]["manifest_kb"],
        "final_files": rows[-1]["n_files"],
        "pass": ratio < 1.5,
    }
    print(json.dumps(summary), flush=True)
    sys.exit(0 if summary["pass"] else 1)


if __name__ == "__main__":
    main()
