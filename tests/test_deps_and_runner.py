"""Dependency resolution (regex corpus from the reference Go tests +
Catalyst layer), stats/xcom, and the one-call runner."""

import glob
import json
import os
import re
from datetime import datetime

import pytest

from transformers_spark.config import LoadMethod, TaskConfig
from transformers_spark.dialect import table_references
from transformers_spark.plans.dependencies import (
    DependencyResolver,
    destination_urn,
    resolve_with_catalyst,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- regex corpus (ported from task/bq2bq/main_test.go:302-496) -------


def test_simple_from():
    assert table_references("Select * from proj.dataset.table1") == ["proj.dataset.table1"]


def test_join_and_from():
    sql = "select * from proj.ds.t1 join proj.ds.t2 on t1.x = t2.x"
    assert table_references(sql) == ["proj.ds.t1", "proj.ds.t2"]


def test_cte_shadowing_excluded():
    sql = """with proj.ds.cte as (select * from proj.ds.src)
             select * from proj.ds.cte"""
    # WITH-defined names are pseudo-tables
    refs = table_references(sql)
    assert "proj.ds.src" in refs


def test_destination_cycle_guard():
    sql = "select * from proj.ds.dest join proj.ds.src on 1=1"
    assert table_references(sql, destination="proj.ds.dest") == ["proj.ds.src"]


def test_two_part_names_not_matched():
    # only project.dataset.table sequences count (main.go comment)
    assert table_references("select * from dataset.table") == []


def test_hyphenated_project():
    assert table_references("select * from `data-engineering.testing.t1`") == [
        "data-engineering.testing.t1"
    ]


def test_comments_removed_before_scan():
    sql = "-- join `a.b.c`\n/* from `d.e.f` */\nselect * from `g.h.i`"
    assert table_references(sql) == ["g.h.i"]


def test_ignoreupstream_marker():
    sql = "select * from /* @ignoreupstream */ a.b.c join d.e.f on 1=1"
    assert table_references(sql) == ["d.e.f"]


def test_self_reference_dedup():
    sql = "select * from a.b.c join a.b.c x on 1=1"
    assert table_references(sql) == ["a.b.c"]


def test_partition_decorator_stripped():
    sql = "select * from `a.b.c$20200101`"
    assert table_references(sql) == ["a.b.c"]


# --- catalyst layer ---------------------------------------------------


def test_catalyst_resolves_views_to_base_tables(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS depdb")
    spark.sql("CREATE TABLE IF NOT EXISTS depdb.base (x INT) USING PARQUET")
    spark.sql("CREATE OR REPLACE VIEW depdb.v AS SELECT * FROM depdb.base")
    deps = resolve_with_catalyst(spark, "SELECT * FROM depdb.v")
    assert deps == ["depdb.base"]


def test_catalyst_unresolved_and_subqueries(spark):
    deps = resolve_with_catalyst(
        spark,
        "SELECT * FROM p.d.t WHERE EXISTS (SELECT 1 FROM x.y.z)",
    )
    assert set(deps) == {"p_d.t", "x_y.z"}


def test_resolver_caches_and_urns(spark):
    r = DependencyResolver(spark=spark)
    sql = "SELECT * FROM p.d.t"
    first = r.resolve(sql)
    assert first == ["spark://p_d.t"]
    assert r.resolve(sql) is first  # cache hit returns same object


def test_destination_urn():
    assert destination_urn("g-project.playground.t") == "spark://g_project_playground.t"


# --- runner + stats ---------------------------------------------------


def test_run_task_writes_xcom(spark, tmp_path, engine_src):
    from transformers_spark.runner import run_task

    eng, src_fqn = engine_src
    dest = "g-project.playground.runner_dest"
    eng.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    cfg = TaskConfig("g-project", "playground", "runner_dest", LoadMethod.REPLACE)
    xcom = tmp_path / "xcom.json"
    result = run_task(
        spark,
        cfg,
        f"select date(ts) as event_date, count(1) as n from `{src_fqn}` "
        "where ts >= '__dstart__' and ts < '__dend__' group by date(ts)",
        "2024-01-01",
        "2024-01-03",
        "2024-02-01T00:00:00Z",
        xcom_path=str(xcom),
        engine=eng,
    )
    assert result.load_method is LoadMethod.REPLACE
    assert eng.catalog.read(dest).count() == 2
    payload = json.loads(xcom.read_text())
    assert payload["monitoring"]["load_method"] == "REPLACE"
    assert payload["execution_time"] >= 0
    assert payload["monitoring"]["slot_millis"] > 0  # status store reachable


def test_xcom_counts_each_tasks_own_jobs(spark, tmp_path, engine_src):
    """Two tasks in one session: each xcom reports the jobs that task
    ran, not the session's running total, and a task's job group
    (set for labels) is cleared when it returns."""
    from transformers_spark.runner import run_task

    eng, src_fqn = engine_src
    dest = "g-project.playground.runner_jobs_dest"
    eng.catalog.create_table(dest, [("event_date", "date"), ("n", "bigint")])
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def job_ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None)) | set(
            tracker.getJobIdsForGroup("transformers-spark")
        )

    for i, labels in enumerate(({}, {"team": "data"})):
        cfg = TaskConfig(
            "g-project", "playground", "runner_jobs_dest", LoadMethod.REPLACE,
            labels=labels,
        )
        xcom = tmp_path / f"xcom{i}.json"
        before = job_ids()
        run_task(
            spark,
            cfg,
            f"select date(ts) as event_date, count(1) as n from `{src_fqn}` "
            "where ts >= '__dstart__' and ts < '__dend__' group by date(ts)",
            "2024-01-01",
            "2024-01-03",
            "2024-02-01T00:00:00Z",
            xcom_path=str(xcom),
            engine=eng,
        )
        own = job_ids() - before
        reported = json.loads(xcom.read_text())["monitoring"]["spark_jobs"]
        assert reported == len(own) > 0, (reported, sorted(own))
        assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_runner_udf_registry_federated_sample(spark, engine_src):
    """The federated_table sample: CREATE TEMP FUNCTION LANGUAGE js →
    engine maps the name to the registered Python impl."""
    from transformers_spark.engine import Engine
    from transformers_spark.functions.bigquery_compat import DEFAULT_UDF_REGISTRY

    eng0, src_fqn = engine_src
    eng = Engine(spark, catalog=eng0.catalog, udf_registry=DEFAULT_UDF_REGISTRY)
    cfg = TaskConfig("g-project", "playground", "ignored", LoadMethod.MERGE)
    result = eng.transform(
        cfg,
        f"""
CREATE TEMP FUNCTION standardRule(fieldContent STRING, rules ARRAY<STRING>)
RETURNS STRING
LANGUAGE js AS \"\"\"return x\"\"\";

SELECT standardRule(event_type, array('cleanup')) AS method_name
FROM `{src_fqn}` LIMIT 5;
""",
        datetime(2024, 1, 1),
        datetime(2024, 1, 2),
        datetime(2024, 2, 1),
    )
    values = {row["method_name"] for row in result.rows[0]}
    assert values <= {"click", "view", "purchase", "signup", "error"}


@pytest.fixture(scope="module")
def engine_src(spark):
    from transformers_spark.engine import Engine
    from transformers_spark.sources.testdata import load_table

    eng = Engine(spark)
    src = "g-project.playground.deps_events_src"
    if not eng.catalog.table_exists(src):
        eng.catalog.create_table(
            src,
            [
                ("event_id", "bigint"),
                ("ts", "timestamp"),
                ("user_id", "bigint"),
                ("event_type", "string"),
                ("value", "double"),
            ],
        )
        load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).write.insertInto(eng.catalog.spark_name(src))
    return eng, src


class _FlakySession:
    """SparkSession proxy whose .sql fails N times with a given error
    before delegating — the reference's transient-BQ-error simulation
    (factory.go retries transient client errors 3x)."""

    def __init__(self, spark, fails: int, message: str):
        self._spark = spark
        self._fails = fails
        self._message = message
        self.attempts = 0

    def sql(self, q):
        self.attempts += 1
        if self._fails > 0:
            self._fails -= 1
            raise RuntimeError(self._message)
        return self._spark.sql(q)

    def __getattr__(self, name):
        return getattr(self._spark, name)


def test_catalog_retries_transient_ddl_errors(spark, monkeypatch):
    from transformers_spark import catalog as cat_mod
    from transformers_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "_RETRY_BASE_SLEEP_S", 0.0)
    flaky = _FlakySession(spark, fails=2, message="Connection refused by metastore")
    cat = Catalog(flaky)
    meta = cat.create_table("g-project.playground.retry_dest", [("a", "bigint")])
    assert meta.spark_name
    # 2 failures + 1 success for CREATE DATABASE, then CREATE TABLE
    assert flaky.attempts >= 4
    cat.drop_table("g-project.playground.retry_dest")


def test_catalog_does_not_retry_analysis_errors(spark, monkeypatch):
    import pytest as _pytest

    from transformers_spark import catalog as cat_mod
    from transformers_spark.catalog import Catalog

    monkeypatch.setattr(cat_mod, "_RETRY_BASE_SLEEP_S", 0.0)
    flaky = _FlakySession(
        spark, fails=99, message="[PARSE_SYNTAX_ERROR] bad statement"
    )
    cat = Catalog(flaky)
    with _pytest.raises(RuntimeError):
        cat.drop_table("g-project.playground.never_created")
    assert flaky.attempts == 1  # failed fast, no retry


def test_catalog_gives_up_after_max_attempts(spark, monkeypatch):
    import pytest as _pytest

    from transformers_spark import catalog as cat_mod
    from transformers_spark.catalog import Catalog, MAX_CATALOG_ATTEMPTS

    monkeypatch.setattr(cat_mod, "_RETRY_BASE_SLEEP_S", 0.0)
    flaky = _FlakySession(spark, fails=99, message="request timed out")
    cat = Catalog(flaky)
    with _pytest.raises(RuntimeError):
        cat.drop_table("g-project.playground.never_created")
    assert flaky.attempts == MAX_CATALOG_ATTEMPTS


def test_cohort_order_rotation(tmp_path, monkeypatch):
    """_cohort_order: latest-round status wins; not-green first, then
    never-checked (stable catalog order), then green."""
    import json

    import __spark_entry__ as entry_mod

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps(
            {
                "a": {"rows_match": True, "schema_match": True, "hash_match": True},
                "b": {"rows_match": True, "schema_match": True, "hash_match": True},
            }
        )
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps(
            {"b": {"rows_match": False, "schema_match": True, "hash_match": False}}
        )
    )
    monkeypatch.setattr(entry_mod, "_REPO_DIR", str(tmp_path))
    order = entry_mod._cohort_order(["a", "b", "c", "d"])
    # b regressed in r2 -> front; c,d never checked -> middle; a green -> last
    assert order == ["b", "c", "d", "a"]


def test_driver_rotation_staleness_ceiling():
    """Driver-row staleness ceiling (round-8 verdict ask 2): with a
    50-query driver cohort rotating not-green -> never-checked ->
    stalest-green, every catalog query must get a fresh driver row at
    least every ceil(N/50) rounds. Assert (a) no already-checked
    query's latest CORRECTNESS_r*.json row is older than 3 rounds
    behind the newest artifact, and (b) the catalog stays small enough
    (<= 4 cohorts) that the ceiling keeps holding as rounds advance.
    If (b) trips, grow the cohort logic before growing the catalog."""
    import json
    import sys

    sys.path.insert(0, REPO)
    import __spark_entry__ as entry_mod

    rounds: dict[str, int] = {}
    latest_round = 0
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        latest_round = max(latest_round, rnd)
        with open(path) as fh:
            data = json.load(fh)
        for key, row in data.items():
            if isinstance(row, dict):
                rounds[key] = max(rounds.get(key, 0), rnd)

    catalog = list(entry_mod.queries())
    assert latest_round >= 1 and rounds, "no driver artifacts parsed"

    checked = {n: rounds[n] for n in catalog if n in rounds}
    stale = sorted(
        n for n, rnd in checked.items() if latest_round - rnd > 3
    )
    assert not stale, (
        f"queries with latest driver row older than 3 rounds behind "
        f"r{latest_round:02d}: {stale}. The rotation tail grew past "
        "the ceiling — check _cohort_order or shrink per-round query "
        "additions."
    )

    import math

    assert math.ceil(len(catalog) / 50) <= 4, (
        f"catalog has {len(catalog)} queries: > 4 driver cohorts of "
        "50, so the 3-round staleness ceiling can no longer hold "
        "structurally. Raise the cohort size handling before adding "
        "more queries."
    )

    # never-checked queries must all fit in the NEXT driver cohort,
    # or they could starve behind each other indefinitely
    unchecked = [n for n in catalog if n not in rounds]
    assert len(unchecked) <= 50, (
        f"{len(unchecked)} never-driver-checked queries exceed one "
        "cohort — they cannot all be checked next round."
    )


def test_cohort_order_green_staleness(tmp_path, monkeypatch):
    """With everything green, greens rotate by STALENESS: the round of
    each query's latest green row, oldest first — so the driver's
    first-50 sample re-verifies the stalest greens every round instead
    of re-sampling the same catalog prefix forever (round-4 verdict
    ask 1)."""
    import json

    import __spark_entry__ as entry_mod

    green = {"rows_match": True, "schema_match": True, "hash_match": True}
    # a green in r1 only; b green in r1 and re-verified r3; c green r2
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": green, "b": green})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"c": green}))
    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"b": green}))
    monkeypatch.setattr(entry_mod, "_REPO_DIR", str(tmp_path))
    # all green -> staleness order: a (r1) before c (r2) before b (r3);
    # d never checked -> before every green
    assert entry_mod._cohort_order(["a", "b", "c", "d"]) == ["d", "a", "c", "b"]
    # a regression in a later round still jumps the queue entirely
    (tmp_path / "CORRECTNESS_r04.json").write_text(
        json.dumps({"b": {"rows_match": False, "schema_match": True,
                          "hash_match": False}})
    )
    assert entry_mod._cohort_order(["a", "b", "c", "d"]) == ["b", "d", "a", "c"]


def test_catalyst_never_executes_dml(spark):
    """Dependency resolution of an INSERT must not RUN it — spark.sql
    executes commands eagerly, so the 'analyze' path is reserved for
    read statements and DML goes through the parser only (round-4
    review: resolving deps used to duplicate data into the target)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS depdml")
    spark.sql("DROP TABLE IF EXISTS depdml.tgt")
    spark.sql("DROP TABLE IF EXISTS depdml.src")
    spark.sql("CREATE TABLE depdml.src (x INT) USING PARQUET")
    spark.sql("CREATE TABLE depdml.tgt (x INT) USING PARQUET")
    spark.sql("INSERT INTO depdml.src VALUES (1), (2)")
    deps = resolve_with_catalyst(
        spark, "INSERT INTO depdml.tgt SELECT * FROM depdml.src"
    )
    assert spark.table("depdml.tgt").count() == 0  # NOT executed
    assert "depdml.src" in deps


def test_catalyst_dml_parse_failure_falls_back_to_regex(spark, monkeypatch):
    """A DML statement Spark's parser rejects must not silently lose
    its upstream edges (the scheduler would run the job before its
    inputs) — the resolver warns and falls back to regex reference
    extraction over the original SQL (round-4 review)."""
    import warnings as _warnings

    from transformers_spark.plans import dependencies as dep_mod

    def boom(spark_, stmt):
        raise RuntimeError("simulated parse failure")

    monkeypatch.setattr(dep_mod, "_parsed_relations", boom)
    sql = (
        "MERGE INTO `proj-x.ds.tgt` t USING `proj-x.ds.src` s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v"
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        deps = dep_mod.resolve_with_catalyst(
            spark, sql, destination="proj-x.ds.tgt"
        )
    assert "proj_x_ds.src" in deps  # regex fallback, destination excluded
    assert "proj_x_ds.tgt" not in deps
    assert any("regex" in str(w.message) for w in caught)


def test_catalyst_parses_merge_without_into(spark):
    """BigQuery's `MERGE t ...` (no INTO, the shape of the MERGE job
    templates) resolves through Spark's parser: Spark rejects the form
    as written, so the optional INTO is supplied for the parse-only
    path, and no statement goes to the regex fallback."""
    import warnings as _warnings

    sql = (
        "MERGE `proj-x.mart.order_status` T\n"
        "USING (\n"
        "  SELECT o_orderkey, o_orderstatus FROM `proj-x.src.orders`\n"
        "  WHERE o_orderdate >= '2024-01-01'\n"
        ") S\n"
        "ON T.orderkey = S.o_orderkey\n"
        "WHEN MATCHED THEN UPDATE SET status = S.o_orderstatus\n"
        "WHEN NOT MATCHED THEN INSERT (orderkey, status) "
        "VALUES (S.o_orderkey, S.o_orderstatus)"
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        deps = resolve_with_catalyst(
            spark, sql, destination="proj-x.mart.order_status"
        )
    assert deps == ["proj_x_src.orders"]
    assert not [w for w in caught if "regex" in str(w.message)]


def test_dml_fallback_scoped_to_failed_statement(spark, monkeypatch):
    """The regex fallback runs over the FAILED statement's original
    text, not the whole script — whole-script extraction attributed
    every statement's tables to the one failed statement, adding
    spurious dependency edges (round-4 advice)."""
    import warnings as _warnings

    from transformers_spark.plans import dependencies as dep_mod

    def boom(spark_, stmt):
        raise RuntimeError("simulated parse failure")

    monkeypatch.setattr(dep_mod, "_parsed_relations", boom)
    # statement 1 is a SELECT over other_tbl (resolves via the analyze
    # path); statement 2 is the failing DML over src only — other_tbl
    # must NOT be attributed to it twice, and more importantly a script
    # whose ONLY parseable refs differ per statement must keep them
    # scoped. Here we assert the fallback names exactly src's table.
    sql = (
        "MERGE INTO `proj-x.ds.tgt` t USING `proj-x.ds.src` s "
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = s.v;\n"
        "DELETE FROM `proj-x.ds.tgt2` WHERE id IN "
        "(SELECT id FROM `proj-x.ds.purge_list`)"
    )
    seen_texts: list[str] = []
    real_table_references = dep_mod.table_references

    def spy(text, destination=None):
        seen_texts.append(text)
        return real_table_references(text, destination)

    monkeypatch.setattr(dep_mod, "table_references", spy)
    with _warnings.catch_warnings(record=True):
        _warnings.simplefilter("always")
        deps = dep_mod.resolve_with_catalyst(
            spark, sql, destination="proj-x.ds.tgt"
        )
    # both statements' upstreams present, destination excluded
    assert "proj_x_ds.src" in deps
    assert "proj_x_ds.purge_list" in deps
    assert "proj_x_ds.tgt" not in deps
    # SCOPING: each fallback call saw only its own statement's text —
    # the MERGE call must not contain the DELETE's tables or vice versa
    assert len(seen_texts) == 2
    assert "purge_list" not in seen_texts[0] and "src" in seen_texts[0]
    assert "src" not in seen_texts[1] and "purge_list" in seen_texts[1]


def test_catalyst_resolves_statements_with_leading_comments(spark):
    """BQ queries routinely open with /* owner */ blocks — the
    statement classifier must strip them, not skip the statement
    (round-4 review)."""
    spark.sql("CREATE DATABASE IF NOT EXISTS depdb")
    spark.sql("CREATE TABLE IF NOT EXISTS depdb.base (x INT) USING PARQUET")
    spark.sql("CREATE OR REPLACE VIEW depdb.v AS SELECT * FROM depdb.base")
    deps = resolve_with_catalyst(
        spark, "/* owner: team */ SELECT * FROM depdb.v"
    )
    assert deps == ["depdb.base"]


def test_epoch_nanos_integer_exact():
    """dt.timestamp()*1e6 truncates ~1% of microsecond instants 1us
    low (float precision); the integer path must be exact (round-4
    review)."""
    from datetime import datetime, timedelta, timezone

    from transformers_spark.sources.testdata import _epoch_nanos

    # a known float-hostile instant (verified truncating via float)
    dt = datetime(1974, 4, 15, 11, 35, 2, 200348)
    expected_us = (
        dt.replace(tzinfo=timezone.utc)
        - datetime(1970, 1, 1, tzinfo=timezone.utc)
    ) // timedelta(microseconds=1)
    assert _epoch_nanos(dt) == expected_us * 1000
    assert _epoch_nanos(dt) % 1000 == 0
