"""The version-directory commit (loaders.py) in one process: intent
records roll forward, the hot path makes no catalog scan, a replaced
version stays readable for one more commit and is deleted by the one
after, and a schema mismatch raises instead of writing NULLs. The
process-kill arms live in test_crash_atomicity.py."""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
from datetime import date

import pytest
from pyspark.sql import catalog as pyspark_catalog

from transformers_spark.catalog import Catalog, PartitionKind, PartitionSpec
from transformers_spark.dml import execute_merge, parse_merge
from transformers_spark import loaders
from transformers_spark.loaders import Writer


def _ids(cat, fqn):
    return sorted(r[0] for r in cat.read(fqn).select("id").collect())


def _flat(spark, fqn, rows=((1, "a"), (2, "b"))):
    cat = Catalog(spark)
    writer = Writer(spark, cat)
    cat.drop_table(fqn)
    cat.create_table(fqn, [("id", "bigint"), ("v", "string")])
    writer.append(fqn, spark.createDataFrame(list(rows), "id bigint, v string"))
    return cat, writer


def _part(spark, fqn):
    cat = Catalog(spark)
    writer = Writer(spark, cat)
    cat.drop_table(fqn)
    cat.create_table(
        fqn, [("id", "bigint"), ("d", "date")],
        partition=PartitionSpec(kind=PartitionKind.COLUMN_DAY, field="d"),
    )
    writer.append(fqn, _days(spark, [(1, "2024-01-01"), (2, "2024-01-02")]))
    return cat, writer


def _days(spark, rows):
    return spark.createDataFrame(rows, "id bigint, d string").selectExpr(
        "id", "CAST(d AS DATE) AS d"
    )


def _intent(writer, cat, fqn):
    return os.path.join(writer._versions_dir(cat.spark_name(fqn)), "intent.json")


def _interrupt(monkeypatch, writer):
    """Make the next commit stop after writing its intent record, as a
    failed catalog call would."""
    def fail(self, intent):
        monkeypatch.undo()
        raise RuntimeError("metastore unavailable")

    monkeypatch.setattr(Writer, "_apply", fail)


@pytest.mark.parametrize("next_load", ["append", "replace", "delete", "merge"])
def test_next_load_rolls_an_interrupted_commit_forward(spark, monkeypatch, next_load):
    fqn = f"g-project.playground.intent_{next_load}"
    cat, writer = _flat(spark, fqn)
    _interrupt(monkeypatch, writer)
    with pytest.raises(RuntimeError, match="metastore unavailable"):
        writer.overwrite_table(fqn, spark.createDataFrame(
            [(10, "x"), (20, "y")], "id bigint, v string"))
    assert os.path.exists(_intent(writer, cat, fqn))
    assert _ids(cat, fqn) == [1, 2]  # nothing swapped yet: wholly old

    if next_load == "append":
        writer.append(fqn, spark.createDataFrame([(3, "c")], "id bigint, v string"))
        want = [3, 10, 20]
    elif next_load == "replace":
        # a frame that reads its destination is built under the table
        # lock, after the entry step, as the engine does
        with loaders.table_write_lock(cat.spark_name(fqn)):
            writer.prepare(fqn)
            writer.overwrite_table(fqn, cat.read(fqn).selectExpr("id + 1 AS id", "v"))
        want = [11, 21]
    elif next_load == "delete":
        writer.delete_where(fqn, "id = 20")
        want = [10]
    else:
        spark.createDataFrame([(20, "m"), (30, "n")], "id bigint, v string") \
            .createOrReplaceTempView("intent_merge_src")
        stmt = parse_merge(
            f"MERGE INTO {cat.spark_name(fqn)} T USING intent_merge_src S ON T.id = S.id "
            "WHEN MATCHED THEN UPDATE SET v = S.v "
            "WHEN NOT MATCHED THEN INSERT (id, v) VALUES (S.id, S.v)"
        )
        execute_merge(spark, cat, writer, stmt, fqn)
        want = [10, 20, 30]
    assert _ids(cat, fqn) == want
    assert not os.path.exists(_intent(writer, cat, fqn))
    cat.drop_table(fqn)


def test_multi_day_record_reapplies_idempotently(spark, monkeypatch):
    fqn = "g-project.playground.intent_days"
    cat, writer = _part(spark, fqn)
    _interrupt(monkeypatch, writer)
    with pytest.raises(RuntimeError):
        writer.overwrite_partitions(fqn, {
            date(2024, 1, 2): _days(spark, [(22, "2024-01-02")]),
            date(2024, 1, 3): _days(spark, [(33, "2024-01-03")]),
        })
    path = _intent(writer, cat, fqn)
    with open(path) as fh:
        intent = json.load(fh)
    assert intent["add"] == ["2024-01-03"] and intent["set"] == ["2024-01-02"]
    writer._apply(intent)
    writer._apply(intent)  # a second application changes nothing
    spark.catalog.refreshTable(cat.spark_name(fqn))
    assert _ids(cat, fqn) == [1, 22, 33]
    writer.recover()
    assert not os.path.exists(path)
    assert _ids(cat, fqn) == [1, 22, 33]
    cat.drop_table(fqn)


def test_mixed_case_destination_finds_its_record(spark, monkeypatch):
    """The metastore lowercases stored names; the record path must not
    depend on the casing the caller used."""
    fqn = "g-project.playground.MixedCase_Intent_T"
    cat, writer = _flat(spark, fqn)
    meta = cat.get_table(fqn)
    assert meta.spark_name != meta.spark_name.lower()
    _interrupt(monkeypatch, writer)
    with pytest.raises(RuntimeError):
        writer.overwrite_table(fqn, spark.createDataFrame([(5, "e")], "id bigint, v string"))
    fresh = Writer(spark, Catalog(spark))
    fresh.append(fqn, spark.createDataFrame([(6, "f")], "id bigint, v string"))
    assert _ids(cat, fqn) == [5, 6]
    cat.drop_table(fqn)


def test_recover_clears_a_record_of_a_dropped_table(spark, monkeypatch):
    fqn = "g-project.playground.intent_dropped"
    cat, writer = _flat(spark, fqn)
    _interrupt(monkeypatch, writer)
    with pytest.raises(RuntimeError):
        writer.overwrite_table(fqn, spark.createDataFrame([(5, "e")], "id bigint, v string"))
    versions = writer._versions_dir(cat.spark_name(fqn))
    spark.sql(f"DROP TABLE {cat.spark_name(fqn)}")  # not through Catalog.drop_table
    deleted = writer.recover()
    assert versions in deleted
    assert not os.path.exists(versions)


def test_hot_path_makes_no_catalog_listing(spark, monkeypatch):
    flat = "g-project.playground.hot_flat"
    part = "g-project.playground.hot_part"
    fcat, fwriter = _flat(spark, flat)
    pcat, pwriter = _part(spark, part)

    def boom(*args, **kwargs):
        raise AssertionError("catalog listing on the hot path")

    monkeypatch.setattr(pyspark_catalog.Catalog, "listTables", boom)
    monkeypatch.setattr(pyspark_catalog.Catalog, "listDatabases", boom)
    fwriter.append(flat, spark.createDataFrame([(3, "c")], "id bigint, v string"))
    fwriter.overwrite_table(flat, spark.createDataFrame([(4, "d")], "id bigint, v string"))
    pwriter.append(part, _days(spark, [(3, "2024-01-03")]))
    pwriter.overwrite_partitions(part, {date(2024, 1, 1): _days(spark, [(11, "2024-01-01")])})
    monkeypatch.undo()
    assert _ids(fcat, flat) == [4]
    assert _ids(pcat, part) == [2, 3, 11]
    fcat.drop_table(flat)
    pcat.drop_table(part)


def test_commit_makes_no_sql_call(spark, monkeypatch):
    """A commit is metadata calls on the external catalog: no SQL
    statement and no refreshTable, for a partitioned commit that adds a
    day, one that moves an existing day and an unpartitioned one. A
    read after each commit still sees its rows."""
    from pyspark.sql import SparkSession

    flat = "g-project.playground.nosql_flat"
    part = "g-project.playground.nosql_part"
    fcat, fwriter = _flat(spark, flat)
    pcat, pwriter = _part(spark, part)
    assert _ids(fcat, flat) == [1, 2] and _ids(pcat, part) == [1, 2]
    calls = []

    def spy(name, original):
        def call(*args, **kwargs):
            calls.append(name)
            return original(*args, **kwargs)
        return call

    commits = [
        (pcat, part, lambda: pwriter.overwrite_partition(
            part, _days(spark, [(3, "2024-01-03")]), date(2024, 1, 3)), [1, 2, 3]),
        (pcat, part, lambda: pwriter.overwrite_partition(
            part, _days(spark, [(11, "2024-01-01")]), date(2024, 1, 1)), [2, 3, 11]),
        (fcat, flat, lambda: fwriter.overwrite_table(
            flat, spark.createDataFrame([(4, "d")], "id bigint, v string")), [4]),
    ]
    for cat, fqn, commit, want in commits:
        monkeypatch.setattr(SparkSession, "sql", spy("sql", SparkSession.sql))
        monkeypatch.setattr(
            pyspark_catalog.Catalog, "refreshTable",
            spy("refreshTable", pyspark_catalog.Catalog.refreshTable),
        )
        commit()
        monkeypatch.undo()
        assert calls == []
        assert _ids(cat, fqn) == want
    fcat.drop_table(flat)
    pcat.drop_table(part)


def test_reader_planned_before_a_swap_finishes_on_the_old_version(spark):
    fqn = "g-project.playground.old_reader"
    cat, writer = _flat(spark, fqn)
    before = cat.read(fqn)  # resolves its file listing now
    writer.overwrite_table(fqn, spark.createDataFrame([(9, "z")], "id bigint, v string"))
    assert sorted(r[0] for r in before.select("id").collect()) == [1, 2]
    assert _ids(cat, fqn) == [9]
    cat.drop_table(fqn)


def _dirs(pattern):
    return sorted(glob.glob(pattern))


def test_commits_keep_at_most_one_replaced_version(spark):
    """Each commit deletes what the commit before it replaced, so any
    number of loads leaves the current data plus one replaced commit."""
    flat = "g-project.playground.gc_flat"
    part = "g-project.playground.gc_part"
    fcat, fwriter = _flat(spark, flat)
    pcat, pwriter = _part(spark, part)
    fdir = fwriter._versions_dir(fcat.spark_name(flat))
    pdir = pwriter._versions_dir(pcat.spark_name(part))
    root = os.path.join(os.path.dirname(os.path.dirname(pdir)), "gc_part")
    for i in range(6):
        fwriter.overwrite_table(
            flat, spark.createDataFrame([(i, "x")], "id bigint, v string"))
        pwriter.overwrite_partitions(part, {
            date(2024, 1, d): _days(spark, [(10 * i + d, f"2024-01-0{d}")])
            for d in (1, 2, 3)
        })
        assert len(_dirs(os.path.join(fdir, "*", ""))) <= 2
        assert len(_dirs(os.path.join(pdir, "*", "dt=*"))) <= 6
    assert _ids(fcat, flat) == [5]
    assert _ids(pcat, part) == [51, 52, 53]
    assert len(_dirs(os.path.join(pdir, "*", ""))) == 2
    # the days APPEND wrote under the table root were replaced twice
    assert _dirs(os.path.join(root, "dt=*")) == []
    # a DELETE of one day: the other days' versions stay referenced
    pwriter.delete_where(part, "id = 52")
    pwriter.delete_where(part, "id = 53")
    assert _ids(pcat, part) == [51]
    fcat.drop_table(flat)
    pcat.drop_table(part)
    assert not os.path.exists(fdir) and not os.path.exists(pdir)


def test_a_version_being_written_is_never_deleted(spark):
    """A version is only written under its table's lock, so a commit on
    the table waits until the load writing it is done."""
    fqn = "g-project.playground.gc_in_flight"
    cat, writer = _flat(spark, fqn)
    name = cat.spark_name(fqn)
    pending = os.path.join(writer._versions_dir(name), "pending")

    def commits():
        for i in range(3):
            writer.overwrite_table(fqn, spark.createDataFrame([(i, "x")], "id bigint, v string"))

    other = threading.Thread(target=commits)
    with loaders.table_write_lock(name):
        os.makedirs(pending)  # a load mid-write
        other.start()
        other.join(timeout=5)
        assert other.is_alive()  # its commits wait for the lock
        assert os.path.isdir(pending)
        assert _ids(cat, fqn) == [1, 2]
    other.join(timeout=300)
    assert not other.is_alive()
    assert _ids(cat, fqn) == [2]
    assert not os.path.exists(pending)  # unreferenced once its load is done
    cat.drop_table(fqn)


@pytest.mark.parametrize("drop", ["catalog", "sql"])
def test_recreated_table_ignores_the_dropped_tables_record(spark, monkeypatch, drop):
    fqn = f"g-project.playground.intent_recreated_{drop}"
    cat, writer = _flat(spark, fqn)
    _interrupt(monkeypatch, writer)
    with pytest.raises(RuntimeError):
        writer.overwrite_table(fqn, spark.createDataFrame([(5, "old")], "id bigint, v string"))
    assert os.path.exists(_intent(writer, cat, fqn))
    if drop == "catalog":
        cat.drop_table(fqn)
    else:  # Catalog.create_table clears what a plain DROP left
        spark.sql(f"DROP TABLE {cat.spark_name(fqn)}")
    cat.create_table(fqn, [("id", "bigint"), ("v", "string")])
    writer.append(fqn, spark.createDataFrame([(7, "new")], "id bigint, v string"))
    assert _ids(cat, fqn) == [7]
    writer.overwrite_table(fqn, spark.createDataFrame([(8, "new")], "id bigint, v string"))
    assert _ids(cat, fqn) == [8]
    cat.drop_table(fqn)


def test_concurrent_replaces_never_delete_a_version_in_flight(spark):
    """Eight threads REPLACE one table while each commit deletes what
    the commit before it replaced; every load holds the table lock
    from its entry step through its commit, so no commit deletes a
    version that is still being written."""
    fqn = "g-project.playground.gc_race"
    cat, writer = _flat(spark, fqn)
    errors = []

    def work(i):
        try:
            for j in range(3):
                writer.overwrite_table(
                    fqn, spark.createDataFrame([(10 * i + j, "x")], "id bigint, v string"))
        except Exception as err:  # noqa: BLE001 — reported below
            errors.append(err)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(_ids(cat, fqn)) == 1  # the last commit's row, readable
    cat.drop_table(fqn)


def test_emptied_day_stays_empty_for_a_later_append(spark):
    """A day a load empties keeps a partition on an empty directory, so
    an APPEND of that day never lands beside the day's old files."""
    fqn = "g-project.playground.emptied_day"
    cat, writer = _part(spark, fqn)
    writer.delete_where(fqn, "id = 2")
    assert _ids(cat, fqn) == [1]
    writer.append(fqn, _days(spark, [(5, "2024-01-02")]))
    assert _ids(cat, fqn) == [1, 5]
    writer.recover()
    assert _ids(cat, fqn) == [1, 5]
    cat.drop_table(fqn)


def test_schema_mismatch_raises_through_replace(spark):
    fqn = "g-project.playground.mismatch_replace"
    cat, writer = _flat(spark, fqn)
    bad = spark.createDataFrame([("abc", "x")], "id string, v string")
    with pytest.raises(Exception, match="cast yields NULL"):
        writer.overwrite_table(fqn, bad)
    assert _ids(cat, fqn) == [1, 2]
    # the failed write leaves no version behind
    assert _dirs(os.path.join(writer._versions_dir(cat.spark_name(fqn)), "*", "")) == []
    # a NULL that was NULL already is not a mismatch
    writer.overwrite_table(fqn, spark.createDataFrame([(None, "n")], "id string, v string"))
    assert cat.read(fqn).collect()[0]["id"] is None
    cat.drop_table(fqn)


def test_schema_mismatch_raises_through_merge(spark):
    fqn = "g-project.playground.mismatch_merge"
    cat, writer = _flat(spark, fqn)
    stmt = parse_merge(
        f"MERGE INTO {cat.spark_name(fqn)} T USING (SELECT 'abc' AS k, 'q' AS v) S "
        "ON FALSE WHEN NOT MATCHED THEN INSERT (id, v) VALUES (S.k, S.v)"
    )
    with pytest.raises(Exception, match="cast yields NULL"):
        execute_merge(spark, cat, writer, stmt, fqn)
    assert _ids(cat, fqn) == [1, 2]
    cat.drop_table(fqn)


def test_many_day_commit_moves_every_day(spark):
    """One catalog call moves every existing day of a commit; every day
    must land, and the emptied ones read empty."""
    fqn = "g-project.playground.many_days"
    cat, writer = _part(spark, fqn)
    writer.append(fqn, _days(spark, [(i, f"2024-01-{i:02d}") for i in range(3, 9)]))
    writer.overwrite_partitions(fqn, {
        date(2024, 1, i): _days(spark, [(100 + i, f"2024-01-{i:02d}")]) for i in range(1, 9)
    })
    assert _ids(cat, fqn) == [100 + i for i in range(1, 9)]
    writer.overwrite_table(fqn, _days(spark, [(7, "2024-01-07")]))
    assert _ids(cat, fqn) == [7]
    cat.drop_table(fqn)


def test_whole_table_commit_keeps_table_properties(spark):
    """After whole-table rewrites a FRESH Catalog (no cached meta) reads
    the same partition spec and user TBLPROPERTIES, and the data: a
    commit moves locations, never the table's metadata."""
    rows = [(1, "2024-01-01"), (2, "2024-02-01")]
    for fqn, partition in (
        ("g-project.playground.props_part", PartitionSpec(PartitionKind.COLUMN_DAY, "d")),
        ("g-project.playground.props_flat", PartitionSpec()),
    ):
        cat = Catalog(spark)
        writer = Writer(spark, cat)
        cat.drop_table(fqn)
        cat.create_table(fqn, [("id", "bigint"), ("d", "date")], partition=partition)
        writer.append(fqn, _days(spark, rows))
        sname = cat.spark_name(fqn)
        spark.sql(f"ALTER TABLE {sname} SET TBLPROPERTIES ('custom.prop' = 'keepme')")
        # SET on the partition field moves a row across days: a
        # whole-table rewrite on the partitioned table
        writer.update_where(fqn, {"d": "DATE'2024-03-03'"}, "id = 2")

        fresh = Catalog(spark)
        meta = fresh.get_table(fqn)
        assert meta.partition == partition
        props = {r[0]: r[1] for r in spark.sql(f"SHOW TBLPROPERTIES {sname}").collect()}
        assert props.get("custom.prop") == "keepme"
        got = {r["id"]: str(r["d"]) for r in fresh.read(fqn).collect()}
        assert got == {1: "2024-01-01", 2: "2024-03-03"}
        if partition.is_partitioned:
            moved = fresh.read(fqn).where("id = 2").collect()[0]
            assert str(moved["dt"]) == "2024-03-03"  # dt recomputed from the field
        cat.drop_table(fqn)
