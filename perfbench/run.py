#!/usr/bin/env python3
"""Scheduler-facing benchmark of the transformation runner.

Usage, from the repository root::

    python3 perfbench/run.py --workload daily_jobs --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --smoke   # a few ops of every workload, sf0.001

One process, one client, closed loop: the next op starts when the last
one returns. A run generates its inputs from the seed into a fresh work
directory under the checkout, starts Spark on ``local[nproc]``, sets up
the catalog, runs one untimed warm-up pass, times whole passes of the
workload, checks every output against a DuckDB reference (untimed: the
job destinations after the timed phase, the catalog specs in the
warm-up pass) and prints one JSON object as its last line.

A pass runs every template (or spec) of the workload once, in seeded
order. ``--seconds`` sets the number of timed passes: ``seconds`` over
the workload's nominal pass length, at least two. The count does not
depend on how fast the machine happens to be, so every run times the
same mix and the same number of ops; on a shared 4-vCPU VM the speed of
identical runs drifted by up to 40% over tens of minutes. ``--trace 1``
wraps each layer's public functions and reports per-layer metrics per
op instead of the end-to-end ones, plus the tracing overhead.

Steadiness settings, and why:

* one untimed warm-up pass of every template or spec before timing: the
  first pass pays JIT compilation, codegen and Python-worker start-up
  (its CPU is 25-50% above later passes, which agree with each other);
* a fixed number of timed passes (see above) rather than a deadline;
* the heap pinned at 2g, both ``SPARK_GRAFT_DRIVER_MEM`` and ``-Xms``:
  ``peak_rss_mb`` then depends neither on host RAM nor on when G1 chose
  to grow the heap (with a growable heap identical runs read 1.3-1.8 GB;
  committed at start they agree within 2%);
* Spark UI and console progress bar off: neither is part of the
  program's work and the bar writes to the terminal;
* ``local[nproc]``, as the repository's tests run it;
* a fresh process and a fresh work directory for each run, inside the
  checkout, never under ``/tmp``: a ``/tmp`` wipe can drop the page cache
  mid-run;
* a timed pass during which the hypervisor stole more than 3% of the
  CPUs (an idle VM of this kind reads ~1%) earns one extra pass, and the
  least disturbed passes are kept: host contention on a shared VM slowed
  identical runs by up to 2x, CPU time included;
* every run records nproc, load average, buff/cache, heap size, seed and
  the steal share of each timed pass on the line before the result.

``setup_s`` is measured once per run, from process start to the first
timed op: repeating the session start and warm-up inside a run would
cost as much as the run itself.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
MIN_PASSES = 2
STEAL_LIMIT = 0.03  # share of all CPUs; an idle VM of this kind reads ~0.01
MAX_EXTRA_PASSES = 1

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ops_per_s": "1/s",
    "source_rows_per_s": "rows/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "windowing.window_for_s": "s",
    "macros.render_macros_s": "s",
    "dialect.transpile_s": "s",
    "dialect.table_references_s": "s",
    "plans.resolve_s": "s",
    "plans.cache_hit_ratio": "ratio",
    "engine.compile_assets_s": "s",
    "engine.transform_s": "s",
    "engine.transform_self_s": "s",
    "catalog.calls": "count",
    "catalog.call_s": "s",
    "loaders.write_s": "s",
    "loaders.rows_written": "rows",
    "loaders.files_written": "count",
    "loaders.bytes_per_row_written": "B/row",
    "dml.execute_s": "s",
    "stats.collect_job_stats_s": "s",
    "stats.spark_jobs": "count",
    "stats.task_s": "s",
    "stats.input_bytes": "B",
    "stats.shuffle_bytes": "B",
    "stats.failed_tasks": "count",
    "queries.build_s": "s",
    "queries.execute_s": "s",
    "sources.load_table_s": "s",
    "cache.released": "count",
    "session.get_spark_s": "s",
    "tracing.overhead_s": "s",
}


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 samples beyond it (never
    below the median), as (value, percentile)."""
    ordered = sorted(latencies)
    n = len(ordered)
    k = max(n - 11, (n - 1) // 2)
    return ordered[k], 100.0 * (k + 1) / n


def _start_spark(work: str):
    from transformers_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        warehouse_dir=os.path.join(work, "warehouse"),
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.local.dir": os.path.join(work, "spark-local"),
            # no hsperfdata file under /tmp; temp files in the work dir
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    exited: the JVM leaves when its stdin closes, and its workers when
    the JVM is gone."""
    import probes

    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    workers = probes.descendants(jvm.pid)
    spark.stop()
    jvm.stdin.close()
    jvm.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # the next session launches a new JVM
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in workers) and time.monotonic() < deadline:
        time.sleep(0.1)


def _spark_counters(spark) -> dict[str, float]:
    """Cumulative job, task-time, byte and failed-task counters."""
    from transformers_spark.stats import collect_job_stats

    stats = collect_job_stats(spark, time.time())
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1]
    failed = 0
    it = spark._jsparkSession.sparkContext().statusStore().executorList(False).iterator()
    while it.hasNext():
        failed += it.next().failedTasks()
    return {
        "stats.spark_jobs": max(ids) + 1,
        "stats.task_s": stats.task_time_ms / 1000.0,
        "stats.input_bytes": stats.input_bytes,
        "stats.shuffle_bytes": stats.shuffle_bytes,
        "stats.failed_tasks": failed,
    }


def _new_files(root: str, since_ns: int) -> tuple[int, int]:
    """Data files under ``root`` modified at or after ``since_ns``."""
    count = size = 0
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(dirpath, name))
            if st.st_mtime_ns >= since_ns:
                count += 1
                size += st.st_size
    return count, size


def _source_rows(data_dir: str):
    """Rows per op, counted once from the parquet files: per-day
    histograms of each template's source date column, and whole-table
    counts for the catalog specs."""
    from datetime import datetime

    import numpy as np
    import pyarrow.parquet as pq

    from workloads import QUERY_SPECS, TEMPLATES

    epoch = datetime(1970, 1, 1)
    hist = {}
    for t in TEMPLATES.values():
        if t.source not in hist:
            col = pq.read_table(os.path.join(data_dir, f"{t.source}.parquet"),
                                columns=[t.source_date_col]).column(0)
            days = col.cast("int64").to_numpy() // 86_400_000_000
            hist[t.source] = np.cumsum(np.bincount(days, minlength=days.max() + 2))
    table_rows = {}
    for tables in QUERY_SPECS.values():
        for name in tables:
            table_rows[name] = pq.ParquetFile(
                os.path.join(data_dir, f"{name}.parquet")).metadata.num_rows

    def rows(op) -> int:
        if op.kind in QUERY_SPECS:
            return sum(table_rows[name] for name in QUERY_SPECS[op.kind])
        cum = hist[TEMPLATES[op.kind].source]
        lo, hi = (op.start - epoch).days, (op.end - epoch).days
        return int(cum[min(hi, len(cum)) - 1] - (cum[lo - 1] if lo > 0 else 0))

    return rows


def run_workload(workload: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float | None = None, max_ops: int | None = None) -> tuple[dict, dict]:
    """One measured run; returns (result, context)."""
    import datagen
    import probes
    from tracer import Tracer
    from workloads import WORKLOADS, Jobs, schedule

    spec = WORKLOADS[workload]
    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, seed, scale or spec["scale"])
    rows_of = _source_rows(data_dir)

    tracer = Tracer()
    if trace:
        tracer.install()
    started = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - started
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        jobs = Jobs(spark, data_dir, work)
        orchestration = workload != "operator_queries"
        if orchestration:
            jobs.setup_catalog()
        catalog_s = time.perf_counter() - started - session_s
        n_passes = max(MIN_PASSES, round(seconds / spec["pass_s"]))
        passes = schedule(workload, seed, n_passes=1 + n_passes + MAX_EXTRA_PASSES)
        executed = []  # successful ops in order, for the reference replay
        warm_cpu = probes.tree_cpu_s(jvm_pid)
        mismatches = []
        if orchestration:
            for op in passes[0]:
                jobs.run(op, tracer)
                executed.append(op)
        else:
            # The warm-up pass of the catalog specs is their output check:
            # each spec is built, collected and compared with its oracle.
            # A separate check pass after timing would cost a whole pass.
            from reference import check_queries

            mismatches = check_queries(spark, data_dir, [op.kind for op in passes[0]])
        warm_cpu = probes.tree_cpu_s(jvm_pid) - warm_cpu
        warmup_s = time.perf_counter() - started - session_s - catalog_s

        planned = [op for ops in passes[1:1 + n_passes] for op in ops]
        trace_mask = _trace_mask(seed, planned) if trace else [False] * len(planned)
        traced_lat, plain_lat, traced_ops = [], [], []
        by_kind: dict[str, list[float]] = {}
        records = []  # one per timed pass
        attempted = failed = extra = 0
        nproc = len(os.sched_getaffinity(0))
        warehouse = os.path.join(work, "warehouse")
        setup_s = probes.process_start_s()
        for p, ops in enumerate(passes[1:]):
            if p >= n_passes + extra or (max_ops is not None and attempted >= max_ops):
                break
            record = {"latencies": [], "rows": 0}
            cpu0, steal0, t0 = probes.tree_cpu_s(jvm_pid), probes.steal_s(), time.perf_counter()
            for j, op in enumerate(ops[: None if max_ops is None else max_ops - attempted]):
                i = p * len(ops) + j
                tracer.active, tracer.op = i < len(trace_mask) and trace_mask[i], i
                if tracer.active:
                    before = _spark_counters(spark)
                    since_ns = time.time_ns()
                attempted += 1
                op_start = time.perf_counter()
                try:
                    jobs.run(op, tracer)
                except Exception:  # a failed op is counted, not fatal
                    failed += 1
                    traceback.print_exc()
                    continue
                latency = time.perf_counter() - op_start
                record["latencies"].append(latency)
                record["rows"] += rows_of(op)
                by_kind.setdefault(op.kind, []).append(latency)
                executed.append(op)
                if tracer.active:
                    traced_lat.append(latency)
                    traced_ops.append(i)
                    for name, value in _spark_counters(spark).items():
                        tracer.count(name, value - before[name])
                    if orchestration:
                        files, size = _new_files(warehouse, since_ns)
                        tracer.count("loaders.files_written", files)
                        tracer.count("loaders.bytes_written", size)
                    tracer.active = False
                else:
                    plain_lat.append(latency)
            tracer.active = False
            record["wall"] = time.perf_counter() - t0
            record["cpu"] = probes.tree_cpu_s(jvm_pid) - cpu0
            record["steal_share"] = (probes.steal_s() - steal0) / (record["wall"] * nproc)
            records.append(record)
            # A pass during which the hypervisor took a visible share of
            # the CPUs measured the neighbours as much as the program: run
            # one more pass and keep the least disturbed ones.
            if not trace and record["steal_share"] > STEAL_LIMIT and extra < MAX_EXTRA_PASSES:
                extra += 1
        kept = sorted(records, key=lambda r: r["steal_share"])[:n_passes]
        latencies = [v for r in kept for v in r["latencies"]]
        rows = sum(r["rows"] for r in kept)
        wall = sum(r["wall"] for r in kept)
        cpu = sum(r["cpu"] for r in kept)
        peak_rss = probes.peak_rss_mb(jvm_pid)

        check_started = time.perf_counter()
        if orchestration:
            from reference import Reference

            ref = Reference(data_dir)
            for op in executed:
                ref.apply(op)
            mismatches = ref.compare(spark, jobs.engine.catalog)
        check_s = time.perf_counter() - check_started
        for line in mismatches:
            print(f"perfbench: output mismatch: {line}", file=sys.stderr)

        n = len(latencies)
        tail_value, tail_pct = tail(latencies) if n else (0.0, 0.0)
        if trace:
            metrics = tracer.per_op(traced_ops)
            written_bytes = sum(v for (k, _), v in tracer.counts.items() if k == "loaders.bytes_written")
            written_rows = sum(v for (k, _), v in tracer.counts.items() if k == "loaders.rows_written")
            metrics.pop("loaders.bytes_written", None)
            metrics["loaders.bytes_per_row_written"] = written_bytes / written_rows if written_rows else 0.0
            metrics["session.get_spark_s"] = session_s
            metrics["tracing.overhead_s"] = (
                statistics.median(traced_lat) - statistics.median(plain_lat)
                if traced_lat and plain_lat else 0.0
            )
            values = {name: metrics.get(name, 0.0) for name in LAYER_UNITS}
            units = LAYER_UNITS
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(latencies) if n else 0.0,
                "op_tail_s": tail_value,
                "ops_per_s": n / wall if wall else 0.0,
                "source_rows_per_s": rows / wall if wall else 0.0,
                "cpu_s_per_op": cpu / n if n else 0.0,
                "peak_rss_mb": peak_rss,
            }
            units = E2E_UNITS
        result = {
            "correct": not mismatches and n > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
        context = {
            "workload": workload,
            "seed": seed,
            "trace": trace,
            "ops": n,
            "timed_passes": n_passes,
            "tail_percentile": tail_pct,
            "timed_wall_s": wall,
            "warmup_cpu_s": warm_cpu,
            "timed_cpu_s": cpu,
            "pass_steal_share": [round(r["steal_share"], 4) for r in records],
            "kept_passes": sorted(records.index(r) for r in kept),
            "session_s": session_s,
            "catalog_setup_s": catalog_s,
            "warmup_s": warmup_s,
            "check_s": check_s,
            "latencies_s": [round(v, 4) for v in latencies],
            "kind_p50_s": {k: statistics.median(v) for k, v in sorted(by_kind.items())},
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "traced_ops": len(traced_ops),
            "mismatches": mismatches,
            **probes.machine_context(),
        }
        return result, context
    finally:
        tracer.uninstall()
        _stop_spark(spark)


def _trace_mask(seed: int, ops) -> list[bool]:
    """Which timed ops are traced: half of the ops of every template, by
    seeded choice. The other half runs untraced over the same mix and
    gives the median the tracing overhead is measured against."""
    import random

    rng = random.Random(f"trace:{seed}")
    by_kind: dict[str, list[int]] = {}
    for i, op in enumerate(ops):
        by_kind.setdefault(op.kind, []).append(i)
    mask = [False] * len(ops)
    for kind in sorted(by_kind):
        positions = by_kind[kind]
        rng.shuffle(positions)
        for i in positions[: (len(positions) + 1) // 2]:
            mask[i] = True
    return mask


def _make_dirs(work: str) -> None:
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)


def _prepare_environment(work: str) -> None:
    _make_dirs(work)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM too
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path[:0] = [ROOT, HERE]


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", choices=["daily_jobs", "backfill", "operator_queries"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=20)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--smoke", action="store_true",
                        help="a few ops of every workload, traced and untraced, at sf0.001")
    args = parser.parse_args(argv)
    if not args.smoke and not args.workload:
        parser.error("--workload is required unless --smoke is given")
    if not os.path.isfile(os.path.join(ROOT, "transformers_spark", "__init__.py")):
        print("perfbench: transformers_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench-work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)
    try:
        if args.smoke:
            return _smoke(work)
        result, context = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0


def _smoke(work: str) -> int:
    ok = True
    for workload in ("daily_jobs", "backfill", "operator_queries"):
        for trace in (False, True):
            run_dir = os.path.join(work, f"{workload}-{int(trace)}")
            _make_dirs(run_dir)
            result, context = run_workload(
                workload, 1, seconds=1, trace=trace, work=run_dir, scale=0.001, max_ops=4
            )
            print(json.dumps({"context": context}))
            print(json.dumps(result))
            ok &= result["correct"] and not result["failed"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
