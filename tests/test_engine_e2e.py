"""End-to-end load-method tests: real Spark tables, real writes —
the integration coverage the reference lacks (its tests mock BigQuery;
reference: executor/tests/test_transformation.py asserts only that the
right SQL reaches the mock)."""

from datetime import date, datetime

import pytest

from transformers_spark.catalog import Catalog, PartitionKind, PartitionSpec
from transformers_spark.config import LoadMethod, TaskConfig
from transformers_spark.engine import BREAK_MARKER, Engine, compile_assets

SRC_FQN = "g-project.playground.events_src"
EXEC_TIME = datetime(2024, 2, 1, 3, 0, 0)


@pytest.fixture(scope="module")
def engine(spark):
    eng = Engine(spark)
    # source table: managed copy of the events sample
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
    events.select("event_id", "ts", "user_id", "event_type", "value").write.insertInto(
        eng.catalog.spark_name(SRC_FQN)
    )
    return eng


def cfg(table, method, **kw):
    return TaskConfig(
        destination_project="g-project",
        destination_dataset="playground",
        destination_table_name=table,
        load_method=method,
        **kw,
    )


DAILY_COUNT_SQL = f"""
select date(ts) as event_date, count(1) as n
from `{SRC_FQN}`
where ts >= '__dstart__' and ts < '__dend__'
group by date(ts)
"""


def test_append_accumulates(spark, engine):
    dest = "g-project.playground.append_dest"
    engine.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    c = cfg("append_dest", LoadMethod.APPEND)
    r1 = engine.transform(c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 4), EXEC_TIME)
    first = engine.catalog.read(dest).count()
    engine.transform(c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 4), EXEC_TIME)
    assert first == 3
    assert engine.catalog.read(dest).count() == 6
    # observed output-row metric rides the write (no extra job)
    assert r1.rows_written == 3


def test_replace_non_partitioned_truncates(spark, engine):
    dest = "g-project.playground.replace_dest"
    engine.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    c = cfg("replace_dest", LoadMethod.REPLACE)
    engine.transform(c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 4), EXEC_TIME)
    engine.transform(c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME)
    assert engine.catalog.read(dest).count() == 2  # truncated, not appended


def test_replace_partitioned_per_day_fanout(spark, engine):
    dest = "g-project.playground.replace_part_dest"
    engine.catalog.create_table(
        dest,
        [("event_date", "date"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.INGESTION_DAY),
    )
    template = f"""
select date(ts) as event_date, count(1) as n
from `{SRC_FQN}`
where ts >= '{{{{ .DSTART }}}}' and ts < '{{{{ .DEND }}}}'
group by date(ts)
"""
    compiled = compile_assets(
        template, datetime(2024, 1, 1), datetime(2024, 1, 4), LoadMethod.REPLACE
    )
    assert compiled.count(BREAK_MARKER) == 2  # 3 days → 3 queries
    c = cfg("replace_part_dest", LoadMethod.REPLACE, concurrency=3)
    result = engine.transform(
        c, compiled, datetime(2024, 1, 1), datetime(2024, 1, 4), EXEC_TIME
    )
    assert result.partitions_written == [date(2024, 1, 1), date(2024, 1, 2), date(2024, 1, 3)]
    rows = engine.catalog.read(dest).collect()
    assert len(rows) == 3
    # each day partition holds exactly its day's aggregate
    by_dt = {r["dt"]: r["event_date"] for r in rows}
    assert all(k == v for k, v in by_dt.items())
    # idempotent re-run: same 3 rows
    engine.transform(c, compiled, datetime(2024, 1, 1), datetime(2024, 1, 4), EXEC_TIME)
    assert engine.catalog.read(dest).count() == 3


def test_replace_all_single_partition(spark, engine):
    dest = "g-project.playground.replace_all_dest"
    engine.catalog.create_table(
        dest,
        [("event_date", "date"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.INGESTION_DAY),
    )
    c = cfg("replace_all_dest", LoadMethod.REPLACE_ALL)
    engine.transform(c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 8), EXEC_TIME)
    rows = engine.catalog.read(dest).collect()
    assert len(rows) == 7
    assert {r["dt"] for r in rows} == {date(2024, 1, 1)}  # all in window-start partition


def test_replace_merge_auto_dynamic_overwrite(spark, engine):
    dest = "g-project.playground.merge_auto_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    # pre-populate partitions for Jan 1 and Jan 9 (out of query scope)
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 00:00:00', 999, DATE'2024-01-01'),"
        "       (TIMESTAMP'2024-01-09 00:00:00', 111, DATE'2024-01-09')"
    )
    sql = f"""
select ts as event_ts, count(1) as n
from `{SRC_FQN}`
where ts >= '__dstart__' and ts < '__dend__'
group by ts
"""
    c = cfg("merge_auto_dest", LoadMethod.REPLACE_MERGE)
    engine.transform(c, sql, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME)
    rows = engine.catalog.read(dest).collect()
    dts = {r["dt"] for r in rows}
    # Jan 1-2 replaced (old 999 row gone), Jan 9 untouched
    assert date(2024, 1, 9) in dts
    assert not any(r["n"] == 999 for r in rows)
    assert any(r["n"] == 111 for r in rows)


def test_replace_merge_filter_delete_insert(spark, engine):
    dest = "g-project.playground.merge_filter_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 12:00:00', 999, DATE'2024-01-01'),"
        "       (TIMESTAMP'2024-01-09 00:00:00', 111, DATE'2024-01-09')"
    )
    sql = f"""
select ts as event_ts, count(1) as n
from `{SRC_FQN}`
where ts >= '__dstart__' and ts < '__dend__'
group by ts
"""
    c = cfg(
        "merge_filter_dest",
        LoadMethod.REPLACE_MERGE,
        filter_expression="date(event_ts) >= date('__dstart__') AND date(event_ts) < date('__dend__')",
    )
    engine.transform(c, sql, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME)
    rows = engine.catalog.read(dest).collect()
    assert not any(r["n"] == 999 for r in rows)  # in delete scope
    assert any(r["n"] == 111 for r in rows)  # out of scope, kept


def test_replace_merge_filter_is_partition_scoped(spark, engine):
    """Out-of-scope partitions' files must not be rewritten."""
    import glob
    import os

    dest = "g-project.playground.merge_scope_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 12:00:00', 999, DATE'2024-01-01'),"
        "       (TIMESTAMP'2024-01-09 00:00:00', 111, DATE'2024-01-09')"
    )
    location = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {engine.catalog.spark_name(dest)}")
        .filter("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).removeprefix("file:")
    out_of_scope_files = sorted(glob.glob(os.path.join(location, "dt=2024-01-09", "*")))
    assert out_of_scope_files
    c = cfg(
        "merge_scope_dest",
        LoadMethod.REPLACE_MERGE,
        filter_expression="date(event_ts) >= date('__dstart__') AND date(event_ts) < date('__dend__')",
    )
    sql = f"""
select ts as event_ts, count(1) as n from `{SRC_FQN}`
where ts >= '__dstart__' and ts < '__dend__' group by ts
"""
    engine.transform(c, sql, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME)
    after = sorted(glob.glob(os.path.join(location, "dt=2024-01-09", "*")))
    assert after == out_of_scope_files  # same physical files, untouched
    rows = engine.catalog.read(dest).collect()
    assert not any(r["n"] == 999 for r in rows)  # in-scope old row deleted
    assert any(r["n"] == 111 for r in rows)  # out-of-scope kept


def test_merge_dml_upsert(spark, engine):
    dest = "g-project.playground.booking_counts"
    engine.catalog.create_table(dest, [("date", "date"), ("count", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (DATE'2024-01-01', 5), (DATE'2023-12-31', 7)"
    )
    merge_sql = f"""
MERGE `g-project.playground.booking_counts` S
using
(
select count(1) as count, date(ts) as date
from `{SRC_FQN}`
where date(ts) >= '__dstart__' and date(ts) < '__dend__'
group by date
) N
on S.date = N.date
WHEN MATCHED then
UPDATE SET `count` = N.count
when not matched then
INSERT (`date`, `count`) VALUES(N.date, N.count)
"""
    c = cfg("booking_counts", LoadMethod.MERGE)
    engine.transform(c, merge_sql, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME)
    rows = {r["date"]: r["count"] for r in engine.catalog.read(dest).collect()}
    assert rows[date(2023, 12, 31)] == 7  # untouched (no source match)
    assert rows[date(2024, 1, 1)] != 5  # updated from source
    assert date(2024, 1, 2) in rows  # inserted


def test_delete_dml(spark, engine):
    dest = "g-project.playground.delete_dest"
    engine.catalog.create_table(dest, [("d", "date"), ("v", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (DATE'2024-01-01', 1), (DATE'2024-01-02', 2)"
    )
    c = cfg("delete_dest", LoadMethod.MERGE)
    engine.transform(
        c,
        "DELETE FROM `__destination_table__` WHERE d = DATE'2024-01-01'",
        datetime(2024, 1, 1),
        datetime(2024, 1, 2),
        EXEC_TIME,
    )
    rows = engine.catalog.read(dest).collect()
    assert [r["v"] for r in rows] == [2]


def test_script_declare_set(spark, engine):
    dest = "g-project.playground.script_dest"
    engine.catalog.create_table(dest, [("x", "bigint")])
    c = cfg("script_dest", LoadMethod.MERGE)
    result = engine.transform(
        c,
        f"""
DECLARE power INT64;
SET power = 9001;

WITH simple_sel as (
    SELECT event_id from `{SRC_FQN}`
    WHERE user_id >= 0
)
select count(1) as n, power as p from simple_sel;
""",
        datetime(2024, 1, 1),
        datetime(2024, 1, 2),
        EXEC_TIME,
    )
    assert result.rows and result.rows[0][0]["p"] == 9001


def test_dry_run_no_write(spark, engine):
    dest = "g-project.playground.dry_dest"
    engine.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    c = cfg("dry_dest", LoadMethod.REPLACE)
    engine.transform(
        c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 2), EXEC_TIME, dry_run=True
    )
    assert engine.catalog.read(dest).count() == 0


def test_allow_field_addition_evolves_schema(spark, engine):
    dest = "g-project.playground.evolve_dest"
    engine.catalog.create_table(dest, [("event_date", "date")])
    c = cfg("evolve_dest", LoadMethod.APPEND, allow_field_addition=True)
    engine.transform(
        c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 3), EXEC_TIME
    )
    meta = engine.catalog.get_table(dest)
    assert "n" in meta.column_names
    assert engine.catalog.read(dest).count() == 2


def test_create_never_missing_table_raises(spark, engine):
    c = cfg("no_such_table", LoadMethod.REPLACE)
    with pytest.raises(ValueError, match="table not found"):
        engine.transform(
            c, DAILY_COUNT_SQL, datetime(2024, 1, 1), datetime(2024, 1, 2), EXEC_TIME
        )


def test_merge_errors_on_multi_source_match(spark, engine):
    """BigQuery parity: a target row updated by >1 source row is an error,
    not a silent duplicate."""
    dest = "g-project.playground.merge_multi_dest"
    engine.catalog.create_table(dest, [("k", "bigint"), ("v", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} VALUES (1, 10), (2, 20)"
    )
    merge_sql = """
MERGE `g-project.playground.merge_multi_dest` T
USING (SELECT * FROM VALUES (1, 100), (1, 200) AS s(k, v)) S
ON T.k = S.k
WHEN MATCHED THEN UPDATE SET v = S.v
"""
    c = cfg("merge_multi_dest", LoadMethod.MERGE)
    with pytest.raises(Exception, match="more than one source row"):
        engine.transform(c, merge_sql, datetime(2024, 1, 1), datetime(2024, 1, 2), EXEC_TIME)


def test_merge_pred_failing_matches_keep_row_once(spark, engine):
    """A target row whose matches all fail the AND-pred stays, exactly once —
    and multiple failing matches must not multiply it."""
    dest = "g-project.playground.merge_pred_dest"
    engine.catalog.create_table(dest, [("k", "bigint"), ("v", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} VALUES (1, 10), (2, 20)"
    )
    merge_sql = """
MERGE `g-project.playground.merge_pred_dest` T
USING (SELECT * FROM VALUES (1, 1), (1, 2), (2, 99) AS s(k, v)) S
ON T.k = S.k
WHEN MATCHED AND S.v > 50 THEN UPDATE SET v = S.v
"""
    c = cfg("merge_pred_dest", LoadMethod.MERGE)
    engine.transform(c, merge_sql, datetime(2024, 1, 1), datetime(2024, 1, 2), EXEC_TIME)
    rows = sorted((r["k"], r["v"]) for r in engine.catalog.read(dest).collect())
    # k=1: both matches fail pred -> unchanged, emitted once. k=2: updated.
    assert rows == [(1, 10), (2, 99)]


def test_merge_ordered_update_then_delete_clauses(spark, engine):
    """First applicable WHEN MATCHED clause wins, in statement order."""
    dest = "g-project.playground.merge_ordered_dest"
    engine.catalog.create_table(dest, [("k", "bigint"), ("v", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (1, 10), (2, 20), (3, 30)"
    )
    merge_sql = """
MERGE `g-project.playground.merge_ordered_dest` T
USING (SELECT * FROM VALUES (1, 100), (2, -1), (4, 40) AS s(k, v)) S
ON T.k = S.k
WHEN MATCHED AND S.v > 0 THEN UPDATE SET v = S.v
WHEN MATCHED THEN DELETE
WHEN NOT MATCHED THEN INSERT (k, v) VALUES (S.k, S.v)
"""
    c = cfg("merge_ordered_dest", LoadMethod.MERGE)
    engine.transform(c, merge_sql, datetime(2024, 1, 1), datetime(2024, 1, 2), EXEC_TIME)
    rows = sorted((r["k"], r["v"]) for r in engine.catalog.read(dest).collect())
    # k=1 updated (first clause), k=2 deleted (second clause),
    # k=3 untouched (no source match), k=4 inserted.
    assert rows == [(1, 100), (3, 30), (4, 40)]


def test_delete_dml_partition_scoped(spark, engine):
    """DELETE on a dt-partitioned table rewrites only partitions with
    matching rows; a fully-emptied partition is dropped."""
    from transformers_spark.catalog import PartitionKind, PartitionSpec

    dest = "g-project.playground.delete_part_dest"
    engine.catalog.create_table(
        dest,
        [("d", "date"), ("v", "bigint")],
        partition=PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="d"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} (d, v, dt) "
        "VALUES (DATE'2024-01-01', 1, DATE'2024-01-01'), "
        "(DATE'2024-01-01', 2, DATE'2024-01-01'), "
        "(DATE'2024-01-02', 3, DATE'2024-01-02'), "
        "(DATE'2024-01-03', 4, DATE'2024-01-03')"
    )
    c = cfg("delete_part_dest", LoadMethod.MERGE)
    # empties the 01-01 partition, leaves 01-02/01-03 untouched
    engine.transform(
        c,
        "DELETE FROM `__destination_table__` WHERE d < DATE'2024-01-02'",
        datetime(2024, 1, 1),
        datetime(2024, 1, 2),
        EXEC_TIME,
    )
    rows = sorted(r["v"] for r in engine.catalog.read(dest).collect())
    assert rows == [3, 4]
    parts = {
        r[0]
        for r in spark.sql(
            f"SELECT DISTINCT dt FROM {engine.catalog.spark_name(dest)}"
        ).collect()
    }
    assert str(min(parts)) == "2024-01-02"  # emptied partition dropped


def test_scheduled_backfill_converges_to_one_shot(spark, engine):
    """The scheduler's real contract: running the daily REPLACE task
    once per day over [Jan 1, Jan 6) — including a re-run of one day
    out of order — leaves the destination identical to a single
    backfill run over the whole range. Partition-scoped overwrites
    make per-day runs commutative and idempotent."""
    daily = "g-project.playground.sched_daily_dest"
    oneshot = "g-project.playground.sched_oneshot_dest"
    part = PartitionSpec(kind=PartitionKind.INGESTION_DAY)
    cols = [("event_date", "date"), ("n", "bigint")]
    engine.catalog.create_table(daily, cols, part)
    engine.catalog.create_table(oneshot, cols, part)

    # five scheduled daily runs + an out-of-order re-run of Jan 3
    days = [datetime(2024, 1, d) for d in range(1, 6)]
    for start in days + [datetime(2024, 1, 3)]:
        end = datetime(2024, 1, start.day + 1)
        engine.transform(
            cfg("sched_daily_dest", LoadMethod.REPLACE),
            DAILY_COUNT_SQL, start, end, EXEC_TIME,
        )

    # one-shot backfill over the same range (per-day compile + fan-out)
    template = DAILY_COUNT_SQL.replace("'__dstart__'", "'{{ .DSTART }}'").replace(
        "'__dend__'", "'{{ .DEND }}'"
    )
    compiled = compile_assets(
        template, datetime(2024, 1, 1), datetime(2024, 1, 6), LoadMethod.REPLACE
    )
    engine.transform(
        cfg("sched_oneshot_dest", LoadMethod.REPLACE),
        compiled, datetime(2024, 1, 1), datetime(2024, 1, 6), EXEC_TIME,
    )

    got = sorted(
        (r["dt"], r["event_date"], r["n"])
        for r in engine.catalog.read(daily).collect()
    )
    want = sorted(
        (r["dt"], r["event_date"], r["n"])
        for r in engine.catalog.read(oneshot).collect()
    )
    assert got == want and len(got) == 5


def test_not_null_enforced_and_relaxed(spark, engine):
    """ALLOW_FIELD_RELAXATION (reference bigquery_service.py:111-115
    sets it together with field addition): a NOT NULL destination
    column rejects NULL-producing writes until relaxation is enabled,
    then the catalog records the relaxed (nullable) type."""
    from transformers_spark.catalog import PartitionSpec

    dest = "g-project.playground.relax_dest"
    engine.catalog.create_table(
        dest,
        [("event_id", "bigint NOT NULL"), ("note", "string NOT NULL")],
        PartitionSpec(),
    )
    # (a) source missing the NOT NULL column entirely -> plan-time error
    # (the generic missing-columns check fires before any write)
    src_missing = spark.createDataFrame([(1,)], "event_id bigint")
    with pytest.raises(ValueError, match="missing destination columns"):
        engine.writer.append(dest, src_missing)
    # (b) present but actually NULL -> job-time error from the guard
    src_null = spark.createDataFrame(
        [(1, None)], "event_id bigint, note string"
    )
    with pytest.raises(Exception, match="NOT NULL column"):
        engine.writer.append(dest, src_null)
    # (c) non-null data passes through the guard untouched
    src_ok = spark.createDataFrame([(2, "ok")], "event_id bigint, note string")
    engine.writer.append(dest, src_ok)
    assert engine.catalog.read(dest).count() == 1
    # (d) relaxation: same NULL write succeeds and the recorded type drops
    # the constraint
    engine.writer.append(dest, src_null, allow_field_addition=True)
    meta = engine.catalog.get_table(dest)
    types = dict(meta.columns)
    assert "not null" not in types["note"].lower()
    assert engine.catalog.read(dest).filter("note IS NULL").count() == 1


def test_query_priority_sets_scheduler_pool(spark, engine, tmp_path):
    """QUERY_PRIORITY=BATCH lands the task's jobs in the 'batch' FAIR
    pool (reference config.py:159-163 maps the same knob to BigQuery
    job priority)."""
    from transformers_spark.runner import run_task

    dest = "g-project.playground.priority_dest"
    engine.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    run_task(
        spark,
        cfg(dest.rsplit(".", 1)[1], LoadMethod.APPEND, query_priority="BATCH"),
        DAILY_COUNT_SQL,
        datetime(2024, 1, 1),
        datetime(2024, 1, 8),
        EXEC_TIME,
        xcom_path=str(tmp_path / "xcom.json"),
        engine=engine,
    )
    assert (
        spark.sparkContext.getLocalProperty("spark.scheduler.pool") == "batch"
    )


def test_curation_pipeline_writes_through_engine(spark, engine):
    """Integration: the curation operator stack lands in a managed
    catalog table through the write layer — the operators and the
    orchestration engine compose (filtered corpus in, APPEND out,
    observed rows_written agrees with the table)."""
    from transformers_spark.operators.specs import q_curated_documents

    # the composite already filters to the kept documents
    kept = q_curated_documents(spark, "/root/testdata/sf0.001")
    dest = "g-project.playground.curated_docs"
    engine.catalog.create_table(
        dest,
        [(c, t) for c, t in zip(kept.schema.names,
                                 [f.dataType.simpleString() for f in kept.schema.fields])],
    )
    engine.writer.reset_rows_written()
    engine.writer.append(dest, kept)
    n = engine.catalog.read(dest).count()
    assert n > 0
    assert engine.writer.rows_written == n
    assert n == kept.count()


def test_view_ddl_and_dependency_expansion(spark, engine):
    """Views created under catalog coordinates (BQ-dialect SQL) are
    queryable, and dependency resolution expands them to base tables
    — the referencedTables behavior the reference relies on."""
    from transformers_spark.plans.dependencies import DependencyResolver

    view_fqn = "g-project.playground.events_daily_view"
    engine.catalog.create_view(
        view_fqn,
        f"SELECT DATE(ts) AS d, COUNT(1) AS n FROM `{SRC_FQN}` GROUP BY DATE(ts)",
    )
    spark_name = engine.catalog.spark_name(view_fqn)
    assert spark.table(spark_name).count() > 0
    deps = DependencyResolver(spark=spark).resolve(
        f"SELECT * FROM `{view_fqn}`"
    )
    # the view's BASE table appears in the resolved dependencies
    assert any("events_src" in d for d in deps)
    engine.catalog.drop_view(view_fqn)
    assert not spark.catalog.tableExists(spark_name)


def test_update_statement_partition_scoped(spark, engine):
    """Standalone UPDATE (BigQuery DML surface): rows matching the
    predicate are rewritten in place; out-of-scope partitions keep
    their files untouched."""
    import glob
    import os

    dest = "g-project.playground.update_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 12:00:00', 5, DATE'2024-01-01'),"
        "       (TIMESTAMP'2024-01-09 00:00:00', 7, DATE'2024-01-09')"
    )
    loc = spark.sql(
        f"DESCRIBE TABLE EXTENDED {engine.catalog.spark_name(dest)}"
    ).filter("col_name = 'Location'").collect()[0]["data_type"].replace("file:", "")
    before = set(glob.glob(os.path.join(loc, "dt=2024-01-09", "*.parquet")))
    engine.run_script(
        f"UPDATE `{dest}` SET n = n * 10 WHERE DATE(event_ts) = DATE'2024-01-01'"
    )
    rows = {r["dt"]: r["n"] for r in engine.catalog.read(dest).collect()}
    from datetime import date as _date

    assert rows[_date(2024, 1, 1)] == 50  # updated in place
    assert rows[_date(2024, 1, 9)] == 7  # untouched
    after = set(glob.glob(os.path.join(loc, "dt=2024-01-09", "*.parquet")))
    assert before == after  # out-of-scope partition files not rewritten


def test_update_on_partition_column_moves_rows(spark, engine):
    """An UPDATE that changes the partition field falls back to the
    whole-table staged rewrite and the row LANDS in its new
    partition."""
    dest = "g-project.playground.update_move_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 12:00:00', 5, DATE'2024-01-01')"
    )
    engine.run_script(
        f"UPDATE `{dest}` SET event_ts = TIMESTAMP'2024-02-02 12:00:00' WHERE n = 5"
    )
    from datetime import date as _date

    rows = engine.catalog.read(dest).collect()
    assert len(rows) == 1 and rows[0]["dt"] == _date(2024, 2, 2)


def test_update_evaluates_against_original_row(spark, engine):
    """SQL UPDATE semantics: SET expressions and the predicate see the
    ORIGINAL row — SET a = b, b = a must swap."""
    dest = "g-project.playground.update_swap_dest"
    engine.catalog.create_table(dest, [("a", "bigint"), ("b", "bigint")])
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} VALUES (1, 2), (30, 40)"
    )
    engine.run_script(f"UPDATE `{dest}` SET a = b, b = a WHERE a < 10")
    rows = {tuple(r) for r in engine.catalog.read(dest).collect()}
    assert rows == {(2, 1), (30, 40)}  # swapped, not a=b=2


def test_export_data_statement(spark, engine, tmp_path):
    """BQ EXPORT DATA OPTIONS(...) AS SELECT runs through the script
    runner: wildcard uri -> sharded files, csv header round-trips."""
    import glob
    import os

    dest = str(tmp_path / "out")
    engine.run_script(
        f"EXPORT DATA OPTIONS(uri='{dest}/part-*', format='CSV', header=true) "
        f"AS SELECT event_type, COUNT(1) AS n FROM `{SRC_FQN}` GROUP BY event_type"
    )
    files = glob.glob(os.path.join(dest, "part-*"))
    assert files
    back = spark.read.option("header", "true").csv(dest)
    assert back.count() > 0 and set(back.columns) == {"event_type", "n"}


def test_script_variables_not_substituted_in_literals(spark):
    """BQ scripting never substitutes variables inside string
    literals: after SET power=2, SELECT 'power plant' must keep the
    literal intact (reference: samples/tasks/select/script/query.sql
    scripting semantics)."""
    eng = Engine(spark)
    out = eng.run_script(
        "DECLARE power INT64 DEFAULT 2;\n"
        "SELECT power AS p, 'power plant' AS s, \"max power\" AS d;"
    )
    row = out[-1][0]
    assert row["p"] == 2
    assert row["s"] == "power plant"
    assert row["d"] == "max power"


def test_script_string_variable_value_is_opaque(spark):
    """A substituted string VALUE must not itself be re-substituted by
    a later variable whose name appears inside it."""
    eng = Engine(spark)
    out = eng.run_script(
        "DECLARE a STRING DEFAULT 'power plant';\n"
        "DECLARE power INT64 DEFAULT 2;\n"
        "SELECT a AS s, power AS p;"
    )
    row = out[-1][0]
    assert row["s"] == "power plant" and row["p"] == 2


def test_update_unknown_set_column_raises(spark, engine):
    """BigQuery errors on an unrecognized SET column — a typo must not
    silently no-op the staged rewrite."""
    dest = "g-project.playground.update_badcol_dest"
    engine.catalog.create_table(dest, [("a", "bigint"), ("b", "bigint")])
    spark.sql(f"INSERT INTO {engine.catalog.spark_name(dest)} VALUES (1, 2)")
    with pytest.raises(ValueError, match="nosuch"):
        engine.run_script(f"UPDATE `{dest}` SET nosuch = 1 WHERE a = 1")


def test_update_partition_pseudo_column_rejected(spark, engine):
    """Assigning the internal partition pseudo-column ('dt') is
    rejected outright — it isn't a destination column, and letting it
    through the partition-scoped path would silently drop rows whose
    new dt leaves the affected-partition set."""
    dest = "g-project.playground.update_dtcol_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    spark.sql(
        f"INSERT INTO {engine.catalog.spark_name(dest)} "
        "VALUES (TIMESTAMP'2024-01-01 12:00:00', 5, DATE'2024-01-01')"
    )
    with pytest.raises(ValueError):
        engine.run_script(f"UPDATE `{dest}` SET dt = DATE'2024-03-03' WHERE n = 5")
    # table unchanged
    rows = engine.catalog.read(dest).collect()
    assert len(rows) == 1 and rows[0]["n"] == 5


def test_declare_without_type_keeps_default(spark):
    """BQ allows DECLARE without a type (inferred from DEFAULT) — the
    default must still bind (code-review r3: the optional type group
    must not swallow 'DEFAULT <expr>')."""
    eng = Engine(spark)
    out = eng.run_script("DECLARE n DEFAULT 5;\nSELECT n + 1 AS v;")
    assert out[-1][0]["v"] == 6


def test_replace_merge_filter_on_ingestion_time_table(spark, engine):
    """REPLACE_MERGE with PARTITION_FILTER against an INGESTION_DAY
    table — the load method the engine REQUIRES for such tables — must
    actually run: kept rows stay, filtered rows are replaced, and the
    inserted rows land in the execution-date partition (BigQuery
    stamps loaded rows with the load-time _PARTITIONTIME)."""
    from transformers_spark.loaders import PARTITION_COL

    dest = "g-project.playground.ingest_rm_dest"
    engine.catalog.create_table(
        dest,
        [("k", "bigint"), ("v", "string")],
        PartitionSpec(kind=PartitionKind.INGESTION_DAY),
    )
    # seed two ingestion days
    engine.writer.append(dest, spark.createDataFrame([(1, "old1")], ["k", "v"]),
                         partition_date=date(2024, 1, 1))
    engine.writer.append(dest, spark.createDataFrame([(2, "old2")], ["k", "v"]),
                         partition_date=date(2024, 1, 2))
    exec_day = date(2024, 2, 1)
    engine.writer.delete_insert(
        dest,
        spark.createDataFrame([(3, "new")], ["k", "v"]),
        filter_expression=f"{PARTITION_COL} = DATE'2024-01-01'",
        partition_date=exec_day,
    )
    rows = {r["k"]: (r["v"], r[PARTITION_COL]) for r in engine.catalog.read(dest).collect()}
    assert 1 not in rows                       # filtered day deleted
    assert rows[2] == ("old2", date(2024, 1, 2))  # untouched day kept
    assert rows[3] == ("new", exec_day)        # insert stamped with load day


def test_merge_into_ingestion_time_table(spark, engine):
    """MERGE into an ingestion-time table: updated rows KEEP their
    original partition, inserted rows stamp the load day."""
    from datetime import date as _date

    from transformers_spark.loaders import PARTITION_COL

    dest = "g-project.playground.ingest_merge_dest"
    engine.catalog.create_table(
        dest,
        [("id", "bigint"), ("v", "string")],
        PartitionSpec(kind=PartitionKind.INGESTION_DAY),
    )
    engine.writer.append(dest, spark.createDataFrame([(1, "a")], ["id", "v"]),
                         partition_date=_date(2024, 1, 5))
    spark.createDataFrame([(1, "A"), (2, "B")], ["id", "v"]).createOrReplaceTempView(
        "ingest_merge_src"
    )
    engine.run_script(
        f"MERGE INTO `{dest}` t USING ingest_merge_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"
    )
    rows = {r["id"]: (r["v"], r[PARTITION_COL]) for r in engine.catalog.read(dest).collect()}
    assert rows[1] == ("A", _date(2024, 1, 5))  # update kept its partition
    assert rows[2][0] == "B"
    from datetime import date as _d
    import datetime
    assert rows[2][1] == datetime.date.today()  # insert stamped load day


def test_merge_into_not_null_columns(spark, engine):
    """MERGE into a day-partitioned table whose columns, the partition
    field among them, are NOT NULL: an updated row, an inserted row and
    a row that passes through all land under their own column names,
    and a NULL written to a NOT NULL column still fails the MERGE."""
    dest = "g-project.playground.merge_not_null_dest"
    engine.catalog.create_table(
        dest,
        [("d", "date NOT NULL"), ("k", "bigint NOT NULL"), ("v", "string NOT NULL")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="d"),
    )
    engine.writer.append(dest, spark.createDataFrame(
        [(date(2024, 1, 1), 1, "a"), (date(2024, 1, 2), 2, "b")], "d date, k bigint, v string"
    ))
    merge = """
MERGE `g-project.playground.merge_not_null_dest` T
USING (SELECT * FROM VALUES (1, 'updated', 'x'), ({k}, 'inserted', {w}) AS s(k, v, w)) S
ON T.k = S.k
WHEN MATCHED THEN UPDATE SET v = S.v
WHEN NOT MATCHED THEN INSERT (d, k, v) VALUES (DATE'2024-01-03', S.k, S.w)
"""
    engine.run_script(merge.format(k=3, w="'y'"))
    rows = sorted(tuple(r) for r in engine.catalog.read(dest).select("dt", "d", "k", "v").collect())
    assert rows == [
        (date(2024, 1, 1), date(2024, 1, 1), 1, "updated"),
        (date(2024, 1, 2), date(2024, 1, 2), 2, "b"),
        (date(2024, 1, 3), date(2024, 1, 3), 3, "y"),
    ]
    with pytest.raises(Exception, match="NOT NULL column v"):
        engine.run_script(merge.format(k=4, w="CAST(NULL AS STRING)"))
    assert engine.catalog.read(dest).count() == 3


def test_merge_case_insensitive_set_and_unknown_column(spark, engine):
    """SET/INSERT column names resolve case-insensitively (BigQuery
    identifier semantics); unknown columns raise instead of silently
    passing the old value through."""
    dest = "g-project.playground.merge_ci_dest"
    engine.catalog.create_table(dest, [("id", "bigint"), ("status", "string")])
    spark.sql(f"INSERT INTO {engine.catalog.spark_name(dest)} VALUES (1, 'old')")
    spark.createDataFrame([(1, "upd")], ["id", "v"]).createOrReplaceTempView("ci_src")
    engine.run_script(
        f"MERGE INTO `{dest}` t USING ci_src s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET Status = s.v"
    )
    assert engine.catalog.read(dest).collect()[0]["status"] == "upd"
    with pytest.raises(ValueError, match="not found in"):
        engine.run_script(
            f"MERGE INTO `{dest}` t USING ci_src s ON t.id = s.id "
            "WHEN MATCHED THEN UPDATE SET nosuch = s.v"
        )


def test_overwrite_partitions_empty_map_is_noop(spark, engine):
    dest = "g-project.playground.empty_days_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    engine.writer.overwrite_partitions(dest, {})  # must not raise
    assert engine.catalog.read(dest).count() == 0


def test_rows_written_consistent_for_staged_paths(spark, engine):
    """rows_written must be populated for staged/partition-scoped
    writes, not only the direct insertInto paths."""
    dest = "g-project.playground.rows_written_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    engine.writer.reset_rows_written()
    engine.writer.overwrite_partition(
        dest,
        spark.createDataFrame(
            [(datetime(2024, 1, 1, 5), 1), (datetime(2024, 1, 1, 6), 2)],
            "event_ts timestamp, n bigint",
        ),
        partition_date=date(2024, 1, 1),
    )
    assert engine.writer.rows_written == 2
    engine.writer.reset_rows_written()
    engine.writer.delete_insert(
        dest,
        spark.createDataFrame([(datetime(2024, 1, 2, 5), 3)], "event_ts timestamp, n bigint"),
        filter_expression="n = 1",
    )
    assert engine.writer.rows_written is not None and engine.writer.rows_written >= 2


def test_replace_merge_filter_runs_its_query_once(spark, engine):
    """REPLACE_MERGE with a filter reads the days it inserts from the
    written version, so the query runs once: a UDF in the query's
    filter sees each input row exactly once, and rows_written still
    counts kept plus inserted rows."""
    from pyspark.sql import functions as F

    dest = "g-project.playground.merge_filter_once_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    engine.writer.append(dest, spark.createDataFrame(
        [(datetime(2024, 1, 1, 5), 1), (datetime(2024, 1, 1, 6), 2),
         (datetime(2024, 1, 9), 9)],
        "event_ts timestamp, n bigint",
    ))
    seen = spark.sparkContext.accumulator(0)

    @F.udf("boolean")
    def counted(n):
        seen.add(1)
        return True

    new = spark.createDataFrame(
        [(datetime(2024, 1, 2, h), 10 + h) for h in range(3)],
        "event_ts timestamp, n bigint",
    ).filter(counted("n"))
    engine.writer.reset_rows_written()
    engine.writer.delete_insert(dest, new, filter_expression="n = 1")
    assert seen.value == 3
    assert engine.writer.rows_written == 4  # kept (2024-01-01, 2) + 3 inserts
    assert sorted(r["n"] for r in engine.catalog.read(dest).collect()) == [
        2, 9, 10, 11, 12
    ]


def test_replace_merge_filter_keeps_rows_of_the_null_day(spark, engine):
    """Inserting rows whose partition field is NULL replaces the NULL
    day; its rows outside the filter are kept, as on any other day."""
    dest = "g-project.playground.merge_filter_null_day_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    schema = "event_ts timestamp, n bigint"
    engine.writer.append(dest, spark.createDataFrame(
        [(None, 5), (datetime(2024, 1, 1), 999)], schema
    ))
    engine.writer.delete_insert(
        dest, spark.createDataFrame([(None, 7)], schema), filter_expression="n = 999"
    )
    assert sorted(r["n"] for r in engine.catalog.read(dest).collect()) == [5, 7]


def test_delete_reaches_rows_of_the_null_day(spark, engine):
    """A DELETE whose predicate matches rows with a NULL partition field
    rewrites the NULL day too, as it does any other matched day."""
    dest = "g-project.playground.delete_null_day_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    engine.writer.append(dest, spark.createDataFrame(
        [(None, 5), (None, 6), (datetime(2024, 1, 1), 1)], "event_ts timestamp, n bigint"
    ))
    engine.writer.delete_where(dest, "n = 5")
    assert sorted(r["n"] for r in engine.catalog.read(dest).collect()) == [1, 6]


def _counted_writes(monkeypatch):
    from transformers_spark.loaders import Writer

    writes = []
    original = Writer._write

    def write(self, *args, **kwargs):
        writes.append(kwargs.get("append", False))
        return original(self, *args, **kwargs)

    monkeypatch.setattr(Writer, "_write", write)
    return writes


def test_replace_merge_filter_into_matched_days_writes_once(spark, engine, monkeypatch):
    """New rows that all land in days the filter matched need one
    version write: the new rows and the kept rows of those days go out
    in the same save."""
    dest = "g-project.playground.merge_filter_one_write_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    schema = "event_ts timestamp, n bigint"
    engine.writer.append(dest, spark.createDataFrame(
        [(datetime(2024, 1, 1, 5), 1), (datetime(2024, 1, 1, 6), 2),
         (datetime(2024, 1, 9), 9)], schema,
    ))
    writes = _counted_writes(monkeypatch)
    engine.writer.reset_rows_written()
    engine.writer.delete_insert(
        dest, spark.createDataFrame([(datetime(2024, 1, 1, 7), 3)], schema),
        filter_expression="n = 1",
    )
    assert writes == [False]
    assert engine.writer.rows_written == 2  # kept (2024-01-01, 2) + 1 insert
    assert sorted(r["n"] for r in engine.catalog.read(dest).collect()) == [2, 3, 9]


def test_replace_merge_filter_keeps_rows_of_an_unmatched_day_it_writes(
    spark, engine, monkeypatch
):
    """New rows that land on an existing day with no matching rows keep
    that day's other rows: a second, appending write adds them."""
    dest = "g-project.playground.merge_filter_unmatched_day_dest"
    engine.catalog.create_table(
        dest,
        [("event_ts", "timestamp"), ("n", "bigint")],
        PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="event_ts"),
    )
    schema = "event_ts timestamp, n bigint"
    engine.writer.append(dest, spark.createDataFrame(
        [(datetime(2024, 1, 1), 1), (datetime(2024, 1, 2, 5), 5),
         (datetime(2024, 1, 9), 9)], schema,
    ))
    writes = _counted_writes(monkeypatch)
    engine.writer.delete_insert(
        dest, spark.createDataFrame([(datetime(2024, 1, 2, 6), 6)], schema),
        filter_expression="n = 1",
    )
    assert writes == [False, True]
    assert sorted(r["n"] for r in engine.catalog.read(dest).collect()) == [5, 6, 9]


def test_script_select_with_comment_header_returns_rows(spark):
    """A comment-prefixed SELECT in a script must classify as select
    and return rows (BQ returns them)."""
    eng = Engine(spark)
    out = eng.run_script("-- result\nSELECT 41 + 1 AS v;")
    assert out[-1][0]["v"] == 42


def test_variable_substitution_leaves_qualified_names(spark):
    """A script variable sharing a name with a table alias must not be
    substituted into alias-qualified references (columns take
    precedence over variables in BigQuery name collisions)."""
    from transformers_spark.engine import _substitute_variables

    out = _substitute_variables("SELECT p.x FROM tbl AS p2 WHERE p > 1", {"p": 7})
    assert "p.x" in out and "7 > 1" in out
