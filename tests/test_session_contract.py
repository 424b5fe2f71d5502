"""The engine's correctness depends on specific session conf values
(null semantics, overwrite mode, time zone...). This pins the FULL
semantics-bearing set the session factory promises, so a Spark-version
bump or a stray spark.conf.set can't silently flip engine semantics.

Reference parity: the reference pins its execution-environment contract
in config (reference config.go / main_test.go env fixtures); ours lives
in transformers_spark/session.py ENGINE_CONF.
"""

from __future__ import annotations

import pytest

from transformers_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    DATAFRAME_DEBUGGING,
    ENGINE_CONF,
    apply_engine_conf,
)

# Every conf the engine's SEMANTICS (not just performance) relies on,
# with the value queries assume. A failure here means some catalog
# oracle comparison is about to silently diverge.
SEMANTIC_CONF = {
    # all window calculus + oracle comparison assumes UTC sessions
    "spark.sql.session.timeZone": "UTC",
    # REPLACE_MERGE auto relies on dynamic partition overwrite
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # BigQuery-style permissive casts in transpiled queries
    "spark.sql.ansi.enabled": "false",
    # size(NULL) must be NULL (ANSI/DuckDB), not legacy -1
    "spark.sql.legacy.sizeOfNull": "false",
    # events.ts is parquet TIMESTAMP(NANOS); source layer converts longs
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # naive parquet timestamps read as TIMESTAMP in the UTC session
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

# Performance-bearing conf the factory promises (plan shape at scale).
PERF_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def test_engine_conf_covers_semantic_set():
    """ENGINE_CONF must carry every semantics-bearing conf — if one is
    removed from the factory this fails before any oracle does."""
    for key, value in {**SEMANTIC_CONF, **PERF_CONF}.items():
        assert ENGINE_CONF.get(key) == value, (
            f"session factory no longer pins {key}={value!r} "
            f"(got {ENGINE_CONF.get(key)!r})"
        )


def test_live_session_honors_semantic_conf(spark):
    """The shared test session (built by get_spark) must actually carry
    the promised values — catches a conf that Spark renamed/ignored."""
    for key, value in SEMANTIC_CONF.items():
        assert spark.conf.get(key) == value, f"{key} drifted on live session"
    for key, value in PERF_CONF.items():
        assert spark.conf.get(key) == value, f"{key} drifted on live session"


def test_live_session_sizes_the_codegen_cache(spark):
    """The shared test session (built by get_spark) carries the engine's
    generated-code cache size, not Spark's default of 100."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_live_session_turns_off_dataframe_debugging(spark):
    """The shared test session (built by get_spark) does not capture
    the Python call site of every DataFrame and Column call, and
    PySpark read that setting from it."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == str(
        DATAFRAME_DEBUGGING
    ).lower()
    assert is_debugging_enabled() == DATAFRAME_DEBUGGING


def test_a_compiled_query_shape_survives_a_working_set_of_others(spark):
    """A query shape compiled once is not compiled again after 120
    other shapes ran: the cache holds more than one pass of the
    engine's working set (with Spark's 100 entries it is evicted)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run(i: int) -> None:
        spark.range(4).selectExpr(f"id * 7 + {i} AS v").collect()

    for i in range(121):
        run(i)
    compiled = metrics.METRIC_COMPILATION_TIME().getCount()
    run(0)
    assert metrics.METRIC_COMPILATION_TIME().getCount() == compiled


def test_apply_engine_conf_restores_flipped_conf(spark):
    """A stray spark.conf.set must not survive apply_engine_conf —
    this is the driver-session path (__spark_entry__ wraps every query
    in apply_engine_conf)."""
    runtime_settable = [
        "spark.sql.session.timeZone",
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.ansi.enabled",
        "spark.sql.legacy.sizeOfNull",
    ]
    originals = {k: spark.conf.get(k) for k in runtime_settable}
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.ansi.enabled", "true")
        spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
        apply_engine_conf(spark)
        for key in runtime_settable:
            assert spark.conf.get(key) == SEMANTIC_CONF[key], (
                f"apply_engine_conf failed to restore {key}"
            )
    finally:
        for key, value in originals.items():
            spark.conf.set(key, value)
        apply_engine_conf(spark)


def test_apply_engine_conf_narrows_foreign_shuffle_width(spark):
    """A foreign local session carrying Spark's 200-partition default
    gets resized to machine width; a deliberate narrow setting stands."""
    from transformers_spark.session import default_parallelism

    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        apply_engine_conf(spark)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= max(
            200, 4 * default_parallelism()
        )
        if 200 > 4 * default_parallelism():
            assert (
                int(spark.conf.get("spark.sql.shuffle.partitions"))
                == default_parallelism()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)


@pytest.mark.parametrize("key", sorted(SEMANTIC_CONF))
def test_semantic_conf_documented_in_factory_source(key):
    """Each semantic conf appears literally in session.py — a refactor
    that moves one behind indirection should be a conscious act."""
    import inspect

    import transformers_spark.session as session_mod

    src = inspect.getsource(session_mod)
    assert key in src
