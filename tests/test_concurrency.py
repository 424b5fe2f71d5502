"""A18 orchestrator-level concurrency regression (round-8 verdict
ask 6; an 8-worker 10x soak ran in round 9 — this is the always-on
small replica).

Three adjacent-day REPLACE loads run simultaneously against one
destination table, each on its own ``spark.newSession()``. The loaders
set no session conf, and each load holds the table's lock from its
entry step through its commit, so the three end in some serial order.
The concurrent result must equal the serial baseline bit-exactly, per
partition."""

from __future__ import annotations

import threading
from datetime import date, datetime, timedelta

import pytest

from transformers_spark.catalog import Catalog, PartitionKind, PartitionSpec
from transformers_spark.config import LoadMethod, TaskConfig
from transformers_spark.engine import Engine, compile_assets

SRC_FQN = "g-project.playground.conc_test_events"
DEST_FQN = "g-project.playground.conc_test_dest"
EXEC_TIME = datetime(2024, 2, 1, 3, 0, 0)
DAYS = [datetime(2024, 1, 5) + timedelta(days=i) for i in range(3)]

TEMPLATE = f"""
select date(ts) as event_date, count(1) as n
from `{SRC_FQN}`
where ts >= '{{{{ .DSTART }}}}' and ts < '{{{{ .DEND }}}}'
group by date(ts)
"""


def _cfg():
    return TaskConfig(
        destination_project="g-project",
        destination_dataset="playground",
        destination_table_name="conc_test_dest",
        load_method=LoadMethod.REPLACE,
        concurrency=len(DAYS),
    )


@pytest.fixture(scope="module")
def conc_engine(spark):
    eng = Engine(spark)
    from transformers_spark.sources.testdata import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    eng.catalog.create_table(
        SRC_FQN,
        [
            ("event_id", "bigint"),
            ("ts", "timestamp"),
            ("user_id", "bigint"),
            ("event_type", "string"),
            ("value", "double"),
        ],
    )
    events.select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).write.insertInto(eng.catalog.spark_name(SRC_FQN))
    return eng


def _recreate_dest(eng):
    eng.catalog.drop_table(DEST_FQN)
    eng.catalog.create_table(
        DEST_FQN,
        [("event_date", "date"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.INGESTION_DAY),
    )


def _load_day(session, day):
    eng = Engine(session)
    sql = compile_assets(TEMPLATE, day, day + timedelta(days=1),
                         LoadMethod.REPLACE)
    eng.transform(_cfg(), sql, day, day + timedelta(days=1), EXEC_TIME)


def _snapshot(spark, eng):
    rows = spark.table(eng.catalog.spark_name(DEST_FQN)).collect()
    return sorted((str(r["dt"]), str(r["event_date"]), r["n"])
                  for r in rows)


def test_concurrent_adjacent_day_replace_equals_serial(spark, conc_engine):
    _recreate_dest(conc_engine)
    for day in DAYS:
        _load_day(spark, day)
    serial = _snapshot(spark, conc_engine)
    assert len(serial) == len(DAYS), serial

    _recreate_dest(conc_engine)
    barrier = threading.Barrier(len(DAYS))
    errors = []

    def work(day):
        try:
            session = spark.newSession()
            barrier.wait(timeout=60)
            _load_day(session, day)
        except Exception as err:  # noqa: BLE001 — surface in assert
            errors.append(f"{day.date()}: {err!r}")

    threads = [threading.Thread(target=work, args=(d,)) for d in DAYS]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not errors, errors
    assert _snapshot(spark, conc_engine) == serial
