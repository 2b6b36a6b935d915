"""Generated-code reuse (session.CODEGEN_CACHE): a session built by
``get_spark`` keeps the classes it has compiled, so re-running queries it
has already run compiles nothing new. With Spark's 100-entry default the
headline set's ~146 classes thrashed the LRU cache and every round
recompiled ~140 of them."""

from __future__ import annotations

from analytics_data_platform_spark.queries import all_queries
from analytics_data_platform_spark.session import CODEGEN_CACHE, CODEGEN_CACHE_ENTRIES
from bench import compile_counters

# the headline queries that generate the most classes: together more than
# Spark's 100-entry default holds, so a repeat pass under that default
# misses on every lookup (LRU over a cyclic working set) and this test fails
QUERIES = (
    "ann_cosine_topk",
    "asof_purchase_click",
    "dedup_exact_stats",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "sessionize_events",
    "window_lag_events",
)


def test_session_carries_engine_cache_size(spark):
    assert spark.conf.get(CODEGEN_CACHE) == str(CODEGEN_CACHE_ENTRIES)


def test_second_pass_compiles_no_new_classes(spark, sf_dir):
    registry = all_queries()

    def run_pass() -> int:
        before = compile_counters(spark)["codegen_compiles"]
        for name in QUERIES:
            registry[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compile_counters(spark)["codegen_compiles"] - before

    first = run_pass()
    second = run_pass()
    # the first pass may hit classes earlier tests compiled; the point is
    # that the repeat is served entirely from the cache
    assert second == 0, f"repeat pass recompiled {second} classes (first pass: {first})"
