"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import run  # noqa: E402
from workloads import TEMPLATES, WORKLOADS, schedule  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    samples = [float(i) for i in range(100)]
    value, pct = run.tail(samples)
    assert value == 89.0 and pct == 90.0  # 10 samples (90..99) beyond it
    value, pct = run.tail([3.0, 1.0, 2.0])
    assert value == 2.0 and pct == pytest.approx(200 / 3)  # too few: the median


def test_schedule_is_seeded_and_keeps_the_mix():
    for workload, spec in WORKLOADS.items():
        a, b = schedule(workload, 7, 5), schedule(workload, 7, 5)
        assert a == b
        assert a != schedule(workload, 8, 5)
        for ops in a:
            assert sorted(op.kind for op in ops) == sorted(name for name, _, _ in spec["pass"])
    ops = [op for ops in schedule("daily_jobs", 7, 50) for op in ops]
    assert 0.1 < sum(op.rerun for op in ops) / len(ops) < 0.3
    mask = run._trace_mask(7, ops)
    for kind in TEMPLATES:
        traced = [m for op, m in zip(ops, mask) if op.kind == kind]
        assert sum(traced) == len(traced) // 2


def test_datagen_is_deterministic(tmp_path):
    import datagen

    datagen.generate(str(tmp_path / "a"), 5, 0.001)
    datagen.generate(str(tmp_path / "b"), 5, 0.001)
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()


@pytest.fixture(scope="module")
def smoke_lines():
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]


def test_smoke_prints_every_metric_with_its_unit(smoke_lines):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS and layers == run.LAYER_UNITS
    results = [line for line in smoke_lines if "metrics" in line]
    assert len(results) == 2 * len(WORKLOADS)
    expected = [e2e, layers] * len(WORKLOADS)
    for result, units in zip(results, expected):
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == units
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_traced_layers_read_zero_where_they_do_not_run(smoke_lines):
    results = [line for line in smoke_lines if "metrics" in line]
    contexts = [line["context"] for line in smoke_lines if "context" in line]
    traced = {
        ctx["workload"]: {k: v["value"] for k, v in res["metrics"].items()}
        for ctx, res in zip(contexts, results) if ctx["trace"]
    }
    queries = traced["operator_queries"]
    assert queries["queries.build_s"] > 0 and queries["queries.execute_s"] > 0
    assert queries["loaders.write_s"] == 0 and queries["dml.execute_s"] == 0
    for workload in ("daily_jobs", "backfill"):
        assert traced[workload]["engine.transform_s"] > 0
        assert traced[workload]["queries.build_s"] == 0
        assert traced[workload]["queries.execute_s"] == 0


def test_output_check_fails_on_one_corrupted_row(tmp_path):
    import datagen
    from reference import Reference
    from tracer import Tracer
    from workloads import Jobs

    work = str(tmp_path)
    run._prepare_environment(work)
    data_dir = os.path.join(work, "data")
    datagen.generate(data_dir, 3, 0.01)
    spark = run._start_spark(work)
    try:
        jobs = Jobs(spark, data_dir, work)
        jobs.setup_catalog()
        ops = schedule("daily_jobs", 3, 1)[0]
        ref = Reference(data_dir)
        for op in ops:
            jobs.run(op, Tracer())
            ref.apply(op)
        assert ref.compare(spark, jobs.engine.catalog) == []

        target = TEMPLATES["merge_order_status"]
        name = jobs.engine.catalog.spark_name(target.fqn)
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW corrupted AS SELECT orderkey, custkey, "
            f"CASE WHEN orderkey = (SELECT MIN(orderkey) FROM {name}) "
            f"THEN 'X' ELSE status END AS status, totalprice, order_date, loaded_from "
            f"FROM {name}"
        )
        spark.table("corrupted").localCheckpoint().write.insertInto(name, overwrite=True)
        spark.catalog.refreshTable(name)
        mismatches = ref.compare(spark, jobs.engine.catalog)
        assert len(mismatches) == 1 and target.fqn in mismatches[0]
    finally:
        spark.stop()
