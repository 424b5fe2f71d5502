"""SparkSession factory tuned for the engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same settings
(AQE, dynamic partition overwrite, Arrow, UTC session time) are the
ones we'd ship on a real cluster — only master/memory change there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "ENGINE_CONF", "CODEGEN_CACHE_ENTRIES", "DATAFRAME_DEBUGGING"]

# Generated classes Spark keeps compiled per JVM (static conf
# spark.sql.codegen.cache.maxEntries, see get_spark).
CODEGEN_CACHE_ENTRIES = 1000

# Whether PySpark records the Python call site of every DataFrame and
# Column call (static conf spark.python.sql.dataFrameDebugging.enabled,
# see get_spark).
DATAFRAME_DEBUGGING = False

# Conf we apply everywhere: these are scale-oriented defaults.
ENGINE_CONF: dict[str, str] = {
    # Deterministic time semantics: all window math is done in Python
    # with explicit zones; Spark sessions always run UTC.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: runtime coalescing of shuffle partitions,
    # skew-join splitting, and runtime broadcast conversion — the main
    # levers that make one plan work at sf0.01 and at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # An `insertInto(..., overwrite=True)` replaces only the partitions
    # it writes (the sample fixtures load that way). The loaders do not
    # rely on it: they commit by pointing partitions at new versions.
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # ANSI off: BigQuery-style permissive casts in ported queries.
    "spark.sql.ansi.enabled": "false",
    # ...but keep size(NULL) = NULL (the ANSI/BigQuery/DuckDB answer):
    # with ANSI off Spark's legacy size(NULL) = -1 silently poisons any
    # aggregate over size(split(nullable_text)) while every oracle's
    # len() null-skips — one engine-wide conf beats per-site guards.
    "spark.sql.legacy.sizeOfNull": "false",
    # Parquet TIMESTAMP(NANOS) columns (e.g. events.ts) surface as
    # nano-precision longs; the source layer converts them back to
    # timestamps (see sources/testdata.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps read as TIMESTAMP
    # in the UTC session, not TIMESTAMP_NTZ — matches the DuckDB oracle
    # and keeps unix_micros()/bigint casts valid on event-time columns.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _default_driver_mem() -> str:
    """Driver-heap default derived from physical RAM, not hard-coded:
    ~half of physical memory, clamped to [2g, 24g]. Half leaves room
    for Python workers (Arrow batches live in both processes), the OS
    page cache the parquet scans rely on, and off-heap JVM overhead;
    the clamp keeps the JVM launchable on small hosts and avoids a
    pointlessly huge heap (GC pauses) on big ones. Callers that know
    better set SPARK_GRAFT_DRIVER_MEM."""
    try:
        phys_gib = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ) / (1 << 30)
    except (ValueError, OSError, AttributeError):
        return "4g"
    return f"{max(2, min(24, int(phys_gib / 2)))}g"


def get_spark(
    app_name: str = "transformers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool | None = None,
) -> SparkSession:
    """``hive=True`` (or env TRANSFORMERS_SPARK_HIVE=1) enables the
    embedded Hive metastore so catalog entries (tables, partitioning
    TBLPROPERTIES) persist across sessions/processes — required for the
    container-style CLI where create-table and run-task are separate
    invocations. Default stays in-memory (fast, test-friendly)."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    if hive is None:
        hive = os.environ.get("TRANSFORMERS_SPARK_HIVE", "0").lower() in ("1", "true")
    if hive:
        builder = builder.enableHiveSupport()
    conf = dict(ENGINE_CONF)
    # Heap: Spark's 1g driver default is NOT a local-mode setting — in
    # local[N] the one JVM is driver AND all N executors, so 32 task
    # threads contend for a 1 GiB heap (the r6 sf1 soak OOMed exactly
    # there, at 10x documents in dedup_lsh_precision's exact-jaccard
    # leg). Size it to the machine unless the caller already chose:
    # SPARK_GRAFT_DRIVER_MEM overrides; static conf, so it only takes
    # effect for sessions whose JVM this builder launches (the driver
    # harness's own session keeps its own setting — apply_engine_conf
    # deliberately can't touch a static conf).
    conf.setdefault(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
    )
    # On local[N] there is no cluster to absorb a wide shuffle: width =
    # cores. 2x over-partitioning (the classic straggler hedge) only
    # buys scheduling overhead on a single JVM now that AQE splits
    # skewed partitions at runtime — measured ~15-45% per-query at
    # sf0.1 across the catalog's shuffle-heavy queries. On a real
    # cluster this is overridden (or left to AQE).
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Spark compiles each distinct generated class with Janino and keeps
    # it in an LRU cache of 100 entries by default. The engine runs the
    # same job templates and catalog specs again and again, and one pass
    # of them asks for more classes than that (perfbench, seed 7, at the
    # default): ~130 for the 5 catalog specs of operator_queries and ~50
    # for the 7 templates of daily_jobs, ~20 of which are new in every
    # window because literals are compiled into the code. At 100 each
    # class is evicted before its next use and every op recompiles; at
    # 1,000 a pass of either fits several times over, and no more than
    # 1,000 classes stay loaded. Static conf: a session not built here
    # (one handed to __spark_entry__) keeps Spark's default of 100, and
    # apply_engine_conf cannot change it.
    conf["spark.sql.codegen.cache.maxEntries"] = str(CODEGEN_CACHE_ENTRIES)
    # With DataFrame debugging on (Spark's default), every F.* function
    # and Column method walks the Python stack and makes extra py4j
    # calls (getActiveSession, a conf read, PySparkCurrentOrigin
    # set/clear). Building the five catalog specs of operator_queries
    # took 6,605 round trips with it on and 2,885 with it off (56%
    # fewer; sf0.01, warm session, releases of Java objects not
    # counted). The price is that errors lose their Python call-site
    # context; pass {"spark.python.sql.dataFrameDebugging.enabled":
    # "true"} as extra_conf to get it back while debugging. Static conf,
    # and PySpark caches its value per process on first use: a session
    # not built here (one handed to __spark_entry__) keeps capture on,
    # and apply_engine_conf cannot change it.
    conf["spark.python.sql.dataFrameDebugging.enabled"] = str(
        DATAFRAME_DEBUGGING
    ).lower()
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
    if extra_conf:
        conf.update(extra_conf)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable engine conf to an existing
    session (the driver hands us its own SparkSession)."""
    for key, value in ENGINE_CONF.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # static conf on a running session — keep going
    try:
        # A foreign LOCAL session may carry Spark's 200-partition
        # default — size the shuffle width to the machine instead (same
        # rationale as get_spark; runtime-settable). Never touch a
        # cluster session: the driver's cpu count says nothing about
        # executor parallelism there, and a deliberate wide setting
        # must stand.
        if spark.sparkContext.master.startswith("local") and (
            int(spark.conf.get("spark.sql.shuffle.partitions"))
            > 4 * default_parallelism()
        ):
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(default_parallelism())
            )
    except Exception:
        pass
    if spark.sparkContext.master.startswith("local"):
        _drop_yarn_properties(spark)
    return spark


def _drop_yarn_properties(spark: SparkSession) -> None:
    """Remove the ``yarn.*`` properties — 544 of the Hadoop
    configuration's 1,076, yarn-default.xml's among them — from a local
    session. Every
    job that writes or scans files ships the whole configuration into
    its tasks: a 4-row partitioned parquet save took 123 ms without
    them against 140 ms with them (4-vCPU VM, interleaved saves in one
    session). A local session has no resource manager to read them; a
    cluster session, which may run on YARN, keeps them."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    names = str(conf.getValByRegex(r"^yarn\.").keySet().toString())[1:-1]
    for name in filter(None, names.split(", ")):
        conf.unset(name)
