"""Concurrent-DML contract (round-9 verdict ask 6): CONCSOAK proves
partition REPLACE loads race safely, but MERGE (and every
DML-emulation load) computes its staged replacement BY READING the
destination — two concurrent MERGEs without coordination would race
read-modify-write and lose updates. The contract (loaders.py module
docs): in-process loads on one table SERIALIZE on a per-table lock,
so N concurrent MERGEs produce the state of SOME serial execution
order; cross-process concurrency is unsupported. This module races
two real threads through dml.execute_merge and asserts exactly that,
plus that the commits leave no intent record behind and keep at most
the current version and one replaced one."""

from __future__ import annotations

import os
import threading

import pytest

FQN = "g-project.playground.conc_merge_t"

MERGE_TMPL = """MERGE INTO {sname} T
USING (SELECT k, v FROM {view}) S
ON T.k = S.k
WHEN MATCHED THEN UPDATE SET v = S.v
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)"""


def _state(cat, fqn):
    return sorted((r["k"], r["v"]) for r in cat.read(fqn).collect())


def _apply_upserts(state: dict, upserts) -> dict:
    out = dict(state)
    out.update(upserts)
    return out


@pytest.mark.parametrize("iteration", range(3))
def test_concurrent_merges_serialize_to_a_serial_outcome(
    spark, iteration
):
    from transformers_spark.catalog import Catalog
    from transformers_spark.dml import execute_merge, parse_merge
    from transformers_spark.loaders import Writer

    cat = Catalog(spark)
    writer = Writer(spark, cat)
    cat.create_table(FQN, [("k", "bigint"), ("v", "bigint")])
    sname = cat.spark_name(FQN)
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).createOrReplaceTempView("conc_merge_target_v")
    spark.sql(
        f"INSERT OVERWRITE TABLE {sname} "
        "SELECT k, v FROM conc_merge_target_v"
    )

    # A and B collide on key 1 (order-dependent) and each add a key
    # the other doesn't (a lost update drops one of them).
    batches = {
        "a": {1: 100, 3: 300},
        "b": {1: 111, 4: 400},
    }
    for label, rows in batches.items():
        spark.createDataFrame(
            sorted(rows.items()), "k long, v long"
        ).createOrReplaceTempView(f"conc_merge_src_{label}_v")

    errors: list[BaseException] = []
    barrier = threading.Barrier(len(batches))

    def run(label: str) -> None:
        try:
            stmt = parse_merge(
                MERGE_TMPL.format(
                    sname=sname, view=f"conc_merge_src_{label}_v"
                )
            )
            barrier.wait(timeout=60)
            execute_merge(spark, cat, writer, stmt, FQN)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [
        threading.Thread(target=run, args=(lb,)) for lb in batches
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    initial = {1: 10, 2: 20}
    serial_ab = _apply_upserts(
        _apply_upserts(initial, batches["a"].items()),
        batches["b"].items(),
    )
    serial_ba = _apply_upserts(
        _apply_upserts(initial, batches["b"].items()),
        batches["a"].items(),
    )
    final = _state(cat, FQN)
    assert final in (
        sorted(serial_ab.items()),
        sorted(serial_ba.items()),
    ), f"not a serial outcome: {final}"

    # both commits finished: no intent record is left, and each deleted
    # what the commit before it replaced (loaders.py, "Old versions")
    tdir = cat.versions_dir(sname)
    assert not os.path.exists(os.path.join(tdir, "intent.json"))
    versions = [d for d in os.listdir(tdir) if os.path.isdir(os.path.join(tdir, d))]
    assert len(versions) <= 2, versions


REPLACE_FQN = "g-project.playground.conc_replace_t"


@pytest.mark.parametrize("iteration", range(2))
def test_merge_racing_replace_serializes(spark, iteration):
    """Mixed RMW + REPLACE concurrency on one table (r10 ADVICE item
    1): the MERGE reads the destination while a whole-table REPLACE
    swap rewrites it. With the REPLACE swap window now under the same
    per-table lock, the outcome must be one of the two serial orders —
    a torn outcome (MERGE planned against the pre-REPLACE listing but
    swapped in after it, resurrecting replaced rows) must be
    impossible in-process."""
    from transformers_spark.catalog import Catalog
    from transformers_spark.dml import execute_merge, parse_merge
    from transformers_spark.loaders import Writer

    cat = Catalog(spark)
    writer = Writer(spark, cat)
    cat.create_table(REPLACE_FQN, [("k", "bigint"), ("v", "bigint")])
    sname = cat.spark_name(REPLACE_FQN)
    spark.createDataFrame(
        [(1, 10), (2, 20)], "k long, v long"
    ).createOrReplaceTempView("conc_rr_init_v")
    spark.sql(
        f"INSERT OVERWRITE TABLE {sname} SELECT k, v FROM conc_rr_init_v"
    )
    spark.createDataFrame(
        [(1, 100), (3, 300)], "k long, v long"
    ).createOrReplaceTempView("conc_rr_merge_src_v")
    replace_df = spark.createDataFrame([(5, 50)], "k long, v long")

    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def run_merge() -> None:
        try:
            stmt = parse_merge(
                MERGE_TMPL.format(sname=sname, view="conc_rr_merge_src_v")
            )
            barrier.wait(timeout=60)
            execute_merge(spark, cat, writer, stmt, REPLACE_FQN)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    def run_replace() -> None:
        try:
            barrier.wait(timeout=60)
            writer.overwrite_table(REPLACE_FQN, replace_df)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    threads = [
        threading.Thread(target=run_merge),
        threading.Thread(target=run_replace),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors

    serial_merge_then_replace = [(5, 50)]
    serial_replace_then_merge = [(1, 100), (3, 300), (5, 50)]
    final = _state(cat, REPLACE_FQN)
    assert final in (
        serial_merge_then_replace,
        serial_replace_then_merge,
    ), f"not a serial outcome: {final}"


SELF_READ_FQN = "g-project.playground.conc_self_read"
D1, D2 = "DATE '2024-01-01'", "DATE '2024-01-02'"
# A partitioned scan binds its partition list when it runs, so the
# partitioned arms read the destination at plan time through a script
# variable, as a watermark DECLARE does.
TOP_ID = f"DECLARE top_id INT64 DEFAULT (SELECT MAX(id) FROM `{SELF_READ_FQN}`);\n"
# load A reads its destination; load B writes constants.
# (A's query, B's query, A-then-B, B-then-A) per load method.
SELF_READ_CASES = {
    "replace": (
        f"SELECT id + 1 AS id FROM `{SELF_READ_FQN}`",
        "SELECT 100 AS id",
        [(100,)],
        [(101,)],
    ),
    "replace_fanout": (
        TOP_ID + "SELECT top_id + 1 AS id, DATE '{{ .DSTART | Date }}' AS d",
        "SELECT 100 AS id, DATE '{{ .DSTART | Date }}' AS d",
        [(100, "2024-01-01"), (100, "2024-01-02")],
        [(101, "2024-01-01"), (101, "2024-01-02")],
    ),
    "replace_merge_auto": (
        TOP_ID + f"SELECT top_id + 1 AS id, {D1} AS d",
        f"SELECT 100 AS id, {D1} AS d",
        [(100, "2024-01-01"), (2, "2024-01-02")],
        [(101, "2024-01-01"), (2, "2024-01-02")],
    ),
}


@pytest.mark.parametrize("case", list(SELF_READ_CASES))
def test_self_reading_load_races_another_load_to_a_serial_outcome(
    spark, monkeypatch, case
):
    """A load whose query reads its own destination, racing another
    in-process load of that table through ``Engine.transform``: B starts
    right after A's frame is planned and gets a few seconds. If A's
    plan is not under the table lock, B commits in between and A's
    commit writes a state no serial order gives (A's +1 applied to the
    rows B replaced)."""
    from datetime import datetime

    from transformers_spark.catalog import PartitionKind, PartitionSpec
    from transformers_spark.config import LoadMethod, TaskConfig
    from transformers_spark.engine import Engine, compile_assets

    query_a, query_b, a_then_b, b_then_a = SELF_READ_CASES[case]
    partitioned = case != "replace"
    method = LoadMethod.REPLACE_MERGE if case == "replace_merge_auto" else LoadMethod.REPLACE
    dstart, dend = datetime(2024, 1, 1), datetime(2024, 1, 2 if case == "replace" else 3)
    exec_time = datetime(2024, 1, 4)

    eng_a, eng_b = Engine(spark), Engine(spark)
    cat = eng_a.catalog
    cat.drop_table(SELF_READ_FQN)
    if partitioned:
        cat.create_table(
            SELF_READ_FQN, [("id", "bigint"), ("d", "date")],
            partition=PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="d"),
        )
        initial = f"SELECT 1 AS id, {D1} AS d UNION ALL SELECT 2, {D2}"
    else:
        cat.create_table(SELF_READ_FQN, [("id", "bigint")])
        initial = "SELECT 1 AS id"
    eng_a.writer.append(SELF_READ_FQN, spark.sql(initial))
    cfg = TaskConfig(
        destination_project="g-project",
        destination_dataset="playground",
        destination_table_name="conc_self_read",
        load_method=method,
    )

    def load(eng, template):
        sql = compile_assets(template, dstart, dend, method)
        eng.transform(cfg, sql, dstart, dend, exec_time)

    errors: list[BaseException] = []

    def run_b() -> None:
        try:
            load(eng_b, query_b)
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)

    b = threading.Thread(target=run_b)
    real = Engine._render_and_plan

    def plan_then_race(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        if self is eng_a and b.ident is None:  # A planned its first frame
            b.start()
            b.join(timeout=8)  # time for B to commit, unless it must wait
        return out

    monkeypatch.setattr(Engine, "_render_and_plan", plan_then_race)
    load(eng_a, query_a)
    b.join(timeout=300)
    assert not b.is_alive()
    assert not errors, errors

    rows = cat.read(SELF_READ_FQN).collect()
    final = sorted(
        (r["id"], str(r["d"])) if partitioned else (r["id"],) for r in rows
    )
    assert final in (sorted(a_then_b), sorted(b_then_a)), f"not a serial outcome: {final}"
    cat.drop_table(SELF_READ_FQN)
