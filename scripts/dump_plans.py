"""Regenerate PLANS.md: the formatted physical plan of every headline
query at sf0.1, annotated with the properties the plan tests pin.
Run after changing any headline query:

    python scripts/dump_plans.py [OUT]

OUT defaults to PLANS.md at the repository root; give another path to
compare the plans of two trees without rewriting either one's file.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from filesystemagent_spark.caching import release_tracked_caches
from filesystemagent_spark.queries import registry
from filesystemagent_spark.session import get_spark

import subprocess

# "-dirty" marks plans generated from uncommitted changes on top of it
_SHA = subprocess.run(
    ["git", "describe", "--always", "--dirty"], capture_output=True, text=True, cwd=_ROOT
).stdout.strip()

HEADER = f"""# PLANS — headline-query physical plans (sf0.1)

Generated at repo HEAD {_SHA}.

Regenerated by `scripts/dump_plans.py`; asserted properties live in
tests/test_plans.py. What to look for per plan: PushedFilters reaching
every parquet scan, ReadSchema pruned to used columns, dims under
BroadcastHashJoin, facts shuffling at aggregated grain, WholeStageCodegen
spanning the expression work.
"""


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_ROOT, "PLANS.md")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    # Non-headline plans worth documenting: scale-shape exemplars (pure
    # pushdown agg, pre-agg-before-join, dedup-then-window-vote).
    EXTRA = ("forecast_revenue", "returned_item_losses", "events_rolling_distinct_users",
             "doc_dup_ngram_ratio", "doc_bm25_search", "doc_near_dup_jaccard_pruned",
             # one maintained-index lifecycle: the final pairs plan over
             # the DNF-stats-pruned stored band index (the 100 TB
             # batch-dedup shape)
             "doc_minhash_incremental_stored",
             # the LSH verify: Arrow dot kernel under a hash exchange
             "embedding_near_dup_lsh")
    out = [HEADER]
    for name, q in registry().items():
        if not q.headline and name not in EXTRA:
            continue
        df = q.fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        release_tracked_caches()  # and the query's staging directories
        # keep the tree + scan/exchange/join detail blocks; drop the
        # expression walls that bury the structure
        keep: list[str] = []
        in_detail = False
        for line in plan.splitlines():
            if line.startswith("("):
                in_detail = any(
                    k in line
                    for k in ("Scan parquet", "Exchange", "BroadcastHashJoin",
                              "SortMergeJoin", "HashAggregate", "TakeOrdered")
                )
            if not line.startswith("(") and ":" in line and not in_detail:
                continue
            if any(k in line for k in ("Output [", "Input [", "Arguments:", "Functions [")):
                line = line[:160] + (" …" if len(line) > 160 else "")
            keep.append(line)
        out.append(f"\n## {name}\n\n```\n" + "\n".join(keep).strip() + "\n```\n")
    with open(out_path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {out_path}")


if __name__ == "__main__":
    main()
