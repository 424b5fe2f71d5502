"""Job statistics + xcom-style JSON output.

The reference accumulates slot-ms and bytes processed per BigQuery job
and writes them to an xcom JSON (reference: executor/bumblebee/
handler.py:1-14, executor/main.py:31-39, writer.py:19-43). The Spark
analogue reads the app status store after the job: executor task time
approximates slot-ms; stage input bytes approximate bytes processed.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

__all__ = ["JobStats", "collect_job_stats", "next_job_id", "write_xcom"]

DEFAULT_XCOM_PATH = "/tmp/transformers_spark/xcom/return.json"


@dataclass
class JobStats:
    execution_time_sec: float = 0.0
    task_time_ms: int = 0  # ≈ slot-ms
    input_bytes: int = 0
    shuffle_bytes: int = 0
    jobs: int = 0
    extras: dict[str, Any] = field(default_factory=dict)

    def as_xcom(self) -> dict[str, Any]:
        return {
            "execution_time": round(self.execution_time_sec, 3),
            "monitoring": {
                "slot_millis": self.task_time_ms,
                "total_bytes_processed": self.input_bytes,
                "shuffle_bytes": self.shuffle_bytes,
                "spark_jobs": self.jobs,
                **self.extras,
            },
        }


def next_job_id(spark: SparkSession) -> int | None:
    """The id the session's next Spark job will get (job ids count up
    from 0 per SparkContext), or None when the py4j surface changed."""
    try:
        return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    except Exception:
        return None


def collect_job_stats(
    spark: SparkSession, started_at: float, first_job: int | None = None
) -> JobStats:
    """Read metrics from the AppStatusStore (best-effort: any py4j
    surface change degrades to wall-time-only stats). With
    ``first_job`` (``next_job_id`` taken when the task started),
    ``jobs`` counts the jobs submitted since then — the task's own, as
    long as no other thread runs jobs on the session meanwhile;
    without it, every job of the application that has no job group.
    Task time and bytes are application totals."""
    stats = JobStats(execution_time_sec=time.time() - started_at)
    try:
        end = next_job_id(spark) if first_job is not None else None
        if end is not None:
            stats.jobs = end - first_job
        else:
            tracker = spark.sparkContext.statusTracker()
            stats.jobs = len(tracker.getJobIdsForGroup(None) or [])
    except Exception:
        pass
    try:
        store = spark._jsparkSession.sparkContext().statusStore()
        it = store.executorList(False).iterator()
        task_time = input_bytes = shuffle_bytes = 0
        while it.hasNext():
            executor = it.next()
            task_time += executor.totalDuration()
            input_bytes += executor.totalInputBytes()
            shuffle_bytes += executor.totalShuffleRead() + executor.totalShuffleWrite()
        stats.task_time_ms = int(task_time)
        stats.input_bytes = int(input_bytes)
        stats.shuffle_bytes = int(shuffle_bytes)
    except Exception:
        pass
    return stats


def write_xcom(stats: JobStats, path: str | None = None) -> str:
    """Write the xcom JSON (reference main.py:31-39 shape)."""
    out_path = path or os.environ.get("XCOM_PATH", DEFAULT_XCOM_PATH)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(stats.as_xcom(), fh)
    return out_path
