"""Session settings: each generated class is compiled once per session.

Spark caches compiled whole-stage-codegen classes in an LRU keyed by
their generated source, sized by the static conf
``spark.sql.codegen.cache.maxEntries`` (default 100). The entries below
need more than 100 distinct classes between them (about 120 at
sf0.001), so under the default the cache cycles and their second pass
recompiles every class. None of them plans a whole-stage-codegen'd
``limit``, whose counter name comes from a process-wide id and so
compiles fresh classes on every call at any cache size.
"""

from __future__ import annotations

from dataengineer_job_scraper_etl_spark.catalog import all_queries
from dataengineer_job_scraper_etl_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    codegen_compiles,
)

WARM_ENTRIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q18_large_orders",
    "window_top3_orders_per_customer",
    "events_sessionization",
    "vec_cosine_topk",
    "jobs_transform_full",
)


def _pass(spark, sf_dir) -> dict[str, int]:
    qs = all_queries()
    compiles = {}
    for name in WARM_ENTRIES:
        c0 = codegen_compiles(spark)
        qs[name].spark_fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        compiles[name] = codegen_compiles(spark) - c0
    return compiles


def test_session_sizes_the_codegen_cache(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES


def test_second_pass_compiles_no_classes(spark, sf_dir):
    _pass(spark, sf_dir)
    warm = _pass(spark, sf_dir)
    assert sum(warm.values()) == 0, warm
