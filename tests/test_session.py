"""Session defaults that change steady-state cost: the codegen class
cache must hold the working set of repeated queries."""

from __future__ import annotations

from filesystemagent_spark.caching import release_tracked_caches
from filesystemagent_spark.queries import registry
from filesystemagent_spark.session import _DEFAULTS, compiled_class_count

# The benchmark's ops: together they compile ~335 distinct classes, well
# above Spark's default cache of 100, so a cache sized below the working
# set evicts them in a cycle and the second round recompiles.
_REPEATED = (
    "pricing_summary",
    "shipping_priority",
    "events_hourly",
    "suppliers_sole_late",
    "orders_lateral_topk",
    "findings_pipeline_ranked",
    "doc_minhash_incremental",
    "doc_near_dup_jaccard_pruned",
    "embedding_near_dup_lsh",
    "events_txtable_mor_dml",
    "events_stream_tumbling",
)


def test_codegen_cache_holds_repeated_queries(spark, sf_dir):
    key = "spark.sql.codegen.cache.maxEntries"
    assert spark.conf.get(key) == _DEFAULTS[key]

    queries = registry()

    def run_all():
        for name in _REPEATED:
            queries[name].fn(spark, sf_dir).collect()
            release_tracked_caches()

    run_all()  # warm: compiles every class these plans need
    # Two plan details are decided at run time, by which AQE query
    # stage finishes first, and both reach the generated code:
    # - the whole-stage-codegen stage ids, which are part of each
    #   generated class (doc_minhash_incremental numbers the same
    #   subplan *(6) in one run and *(7) in another);
    # - the build side of a self-join over one cached frame, whose two
    #   sides are equal in size (embedding_near_dup_lsh broadcasts its
    #   left bucket side in one run and its right in another).
    # So a repeat round can meet a variant for the first time. Repeat
    # until a round compiles nothing, at most 3 times; a cache smaller
    # than the working set recompiles in every round and still fails.
    for _ in range(3):
        before = compiled_class_count(spark)
        run_all()
        if compiled_class_count(spark) == before:
            break
    assert compiled_class_count(spark) - before == 0
