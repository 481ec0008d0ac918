"""Measure the codegen working set of the registered queries.

Spark caches compiled Janino classes in an LRU of
``spark.sql.codegen.cache.maxEntries`` entries; once a session's
distinct generated classes outnumber it, repeated queries recompile in
a cycle. This script runs every registered query once on a session
whose cache never evicts, so each compilation is a distinct class, and
prints the distinct compiled-class count that
``session._DEFAULTS["spark.sql.codegen.cache.maxEntries"]`` is sized
from. Usage:

    python scripts/codegen_working_set.py SF_DIR

where SF_DIR holds the ``<table>.parquet`` files the queries read.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from filesystemagent_spark.caching import release_tracked_caches
from filesystemagent_spark.queries import registry
from filesystemagent_spark.session import compiled_class_count, get_spark

# Far above any working set: no eviction, so compilations == distinct classes.
_NO_EVICTION = "1000000"


def main(sf_dir: str) -> int:
    spark = get_spark(
        app_name="codegen-working-set",
        extra_conf={"spark.sql.codegen.cache.maxEntries": _NO_EVICTION},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry()
    per_query: dict[str, int] = {}
    failed: list[str] = []
    t0 = time.time()
    for name, q in queries.items():
        before = compiled_class_count(spark)
        try:
            q.fn(spark, sf_dir).collect()
        except Exception as e:  # noqa: BLE001 - report and keep measuring
            failed.append(f"{name}: {str(e)[:120]}")
        finally:
            release_tracked_caches()
        per_query[name] = compiled_class_count(spark) - before
    total = sum(per_query.values())
    top = sorted(per_query.items(), key=lambda kv: -kv[1])[:5]
    print(f"queries={len(queries)} failed={len(failed)} wall_s={time.time() - t0:.0f}")
    for line in failed:
        print(f"  failed {line}")
    print("largest: " + ", ".join(f"{n}={c}" for n, c in top))
    print(f"distinct_compiled_classes={total}")
    return 1 if failed else 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    raise SystemExit(main(sys.argv[1]))
