"""One-call task runner — the engine's equivalent of the reference's
``bq2bq(properties_file, query_file, ..., dstart, dend, execution_time,
dry_run)`` library API + container entrypoint (reference:
executor/bumblebee/bq2bq.py:15-51, executor/main.py:10-39).
"""

from __future__ import annotations

import re
import time
from datetime import datetime

from pyspark.sql import SparkSession

from .config import TaskConfig, task_config_from_env, task_config_from_properties
from .engine import Engine, TransformResult, compile_assets
from .stats import collect_job_stats, next_job_id, write_xcom
from .tracing import init_telemetry, start_child_span
from .windowing import parse_datetime

__all__ = ["run_task", "run_task_files"]


def run_task(
    spark: SparkSession,
    task_config: TaskConfig,
    sql_query: str,
    dstart: datetime | str,
    dend: datetime | str,
    execution_time: datetime | str,
    dry_run: bool = False,
    xcom_path: str | None = None,
    engine: Engine | None = None,
) -> TransformResult:
    """Run one transformation task and write job stats as xcom JSON."""
    if isinstance(dstart, str):
        dstart = parse_datetime(dstart)
    if isinstance(dend, str):
        dend = parse_datetime(dend)
    if isinstance(execution_time, str):
        execution_time = parse_datetime(execution_time)
    started = time.time()
    first_job = next_job_id(spark)
    eng = engine or Engine(spark)
    if task_config.labels:
        label_str = ",".join(f"{k}={v}" for k, v in task_config.labels.items())
        spark.sparkContext.setJobGroup("transformers-spark", label_str)
    # QUERY_PRIORITY → FAIR scheduler pool (reference config.py:159-163
    # maps it to the BigQuery job priority): BATCH jobs yield cluster
    # slots to INTERACTIVE ones when spark.scheduler.mode=FAIR and the
    # pools are weighted accordingly; a thread-local property, so
    # concurrent tasks in one session schedule independently.
    spark.sparkContext.setLocalProperty(
        "spark.scheduler.pool", task_config.query_priority.lower()
    )
    try:
        with start_child_span("Transform") as span:
            span.set_attribute("destination", task_config.destination_table)
            span.set_attribute("load_method", task_config.load_method.value)
            span.set_attribute("dry_run", dry_run)
            result = eng.transform(
                task_config, sql_query, dstart, dend, execution_time, dry_run=dry_run
            )
    finally:
        if task_config.labels:
            spark.sparkContext._jsc.clearJobGroup()
    stats = collect_job_stats(spark, started, first_job=first_job)
    stats.extras["dry_run"] = dry_run
    stats.extras["load_method"] = task_config.load_method.value
    if result.rows_written is not None:
        stats.extras["rows_written"] = result.rows_written
    write_xcom(stats, xcom_path)
    return result


def main() -> None:
    """Container-style entrypoint (reference: executor/main.py:10-39):
    everything from env vars — DSTART/DEND/EXECUTION_TIME, JOB_DIR
    (walked for query.sql), task config from PROJECT/DATASET/TABLE/
    LOAD_METHOD/..., DRY_RUN, XCOM_PATH.

    Run: ``python -m transformers_spark.runner``
    """
    import os

    from .session import get_spark

    dstart = os.environ["DSTART"]
    dend = os.environ["DEND"]
    execution_time = os.environ.get(
        "EXECUTION_TIME", datetime.utcnow().isoformat() + "+00:00"
    )
    dry_run = os.environ.get("DRY_RUN", "false").lower() in ("true", "1", "yes", "y")
    job_dir = os.environ.get("JOB_DIR", "/data")
    query_file = None
    for dirpath, _, files in os.walk(os.path.join(job_dir, "in")):
        for filename in files:
            if filename == "query.sql":
                query_file = os.path.join(dirpath, filename)
    if query_file is None:
        raise FileNotFoundError(f"no query.sql under {job_dir}/in")
    # TRACING_ADDR ≙ the reference's tracingAddr flag (telemetry.go:16):
    # empty → tracing off; spans join an upstream TRACEPARENT if the
    # scheduler exported one.
    shutdown_telemetry = init_telemetry(os.environ.get("TRACING_ADDR", ""))
    spark = get_spark(app_name="transformers-spark-task")
    try:
        run_task_files(
            spark, None, query_file, dstart, dend, execution_time, dry_run=dry_run
        )
    finally:
        spark.stop()
        shutdown_telemetry()


def run_task_files(
    spark: SparkSession,
    properties_file: str | None,
    query_file: str,
    dstart: datetime | str,
    dend: datetime | str,
    execution_time: datetime | str,
    dry_run: bool = False,
    xcom_path: str | None = None,
) -> TransformResult:
    """File-based variant: ini properties (or env when None) + query.sql."""
    if properties_file:
        with open(properties_file) as fh:
            task_config = task_config_from_properties(fh.read())
    else:
        task_config = task_config_from_env()
    with open(query_file) as fh:
        sql_query = fh.read()
    # In the reference lifecycle the scheduler's Go plugin compiles
    # {{ .DSTART }}-style templates per-day BEFORE the container runs
    # (task/bq2bq/main.go:88-168). When the engine is run standalone the
    # raw template can land here directly — compile it the same way.
    if re.search(r"\{\{\s*\.(?:DSTART|DEND|EXECUTION_TIME)", sql_query):
        if isinstance(dstart, str):
            dstart = parse_datetime(dstart)
        if isinstance(dend, str):
            dend = parse_datetime(dend)
        if isinstance(execution_time, str):
            execution_time = parse_datetime(execution_time)
        sql_query = compile_assets(
            sql_query, dstart, dend, task_config.load_method, execution_time
        )
    return run_task(
        spark, task_config, sql_query, dstart, dend, execution_time, dry_run, xcom_path
    )


if __name__ == "__main__":
    main()
