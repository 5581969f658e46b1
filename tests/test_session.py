"""The engine session's own settings, checked on the shared test
session that every suite runs on."""

from __future__ import annotations

from mapreduce_itwiki_spark.session import codegen_compilations


def test_codegen_cache_holds_the_working_set(spark):
    """160 distinct generated plans (each inlines its own literals), then
    the first ten again: every class is still cached, so the re-run
    compiles nothing. At Spark's default cache of 100 entries the first
    ten were evicted and would recompile."""
    plans = [
        spark.range(4).selectExpr(f"id * {i} + {i + 7} AS x").filter(f"x <> {-i}")
        for i in range(160)
    ]
    for df in plans:
        df.collect()
    before = codegen_compilations(spark)
    for df in plans[:10]:
        df.collect()
    assert codegen_compilations(spark) == before
