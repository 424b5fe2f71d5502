"""Config parsing tests (reference: executor/tests/test_config.py)."""

import pytest

from transformers_spark.config import (
    LoadMethod,
    TaskConfig,
    parse_labels,
    task_config_from_env,
    task_config_from_properties,
)

PROPERTIES = """
[DESTINATION]
PROJECT="playground"
DATASET="dev"
TABLE="counts"

[TRANSFORMATION]
WINDOW_SIZE="24h"
WINDOW_OFFSET=""
WINDOW_TRUNCATE_UPTO="d"
TIMEZONE="Asia/Jakarta"

[LOAD]
LOAD_METHOD="REPLACE"
"""


def test_properties_parsing():
    cfg = task_config_from_properties(PROPERTIES)
    assert cfg.destination_table == "playground.dev.counts"
    assert cfg.load_method is LoadMethod.REPLACE
    assert cfg.window_size == "24h"
    assert cfg.window_truncate_upto == "d"
    assert cfg.timezone == "Asia/Jakarta"
    assert cfg.concurrency == 1
    assert cfg.filter_expression is None


def test_env_parsing(monkeypatch):
    monkeypatch.setenv("PROJECT", "prj")
    monkeypatch.setenv("DATASET", "dst")
    monkeypatch.setenv("TABLE", "tbl")
    monkeypatch.setenv("LOAD_METHOD", "APPEND")
    monkeypatch.setenv("CONCURRENCY", "4")
    monkeypatch.setenv("PARTITION_FILTER", "date(x) >= '2020-01-01'")
    cfg = task_config_from_env()
    assert cfg.destination_table == "prj.dst.tbl"
    assert cfg.load_method is LoadMethod.APPEND
    assert cfg.concurrency == 4
    assert cfg.filter_expression == "date(x) >= '2020-01-01'"


def test_missing_required_env_raises(monkeypatch):
    monkeypatch.delenv("PROJECT", raising=False)
    with pytest.raises(AssertionError):
        task_config_from_env()


def test_invalid_timezone_rejected():
    with pytest.raises(Exception):
        TaskConfig("prj", "dst", "tbl", LoadMethod.APPEND, timezone="Not/AZone")


def test_zero_concurrency_rejected():
    with pytest.raises(ValueError):
        TaskConfig("prj", "dst", "tbl", LoadMethod.APPEND, concurrency=0)


def test_zero_window_size_rejected():
    with pytest.raises(ValueError):
        TaskConfig("prj", "dst", "tbl", LoadMethod.REPLACE, window_size="0")


def test_label_parsing():
    assert parse_labels("a=b,c=d") == {"a": "b", "c": "d"}
    with pytest.raises(ValueError):
        parse_labels("a=")


def test_naming_validators_match_reference_rules():
    """reference optimus-plugin-bq2bq.yaml:9-36 via validate.go:15-30:
    ^[a-zA-Z0-9_-]+$, minlength 3 (table maxlength 1024)."""
    # valid shapes, incl. the hyphenated project ids BQ allows
    TaskConfig("g-project", "play_ground", "some-table_1", LoadMethod.APPEND)
    for bad_project in ("ab", "has space", "has.dot", "", "a$b"):
        with pytest.raises(ValueError, match="invalid"):
            TaskConfig(bad_project, "dataset", "table", LoadMethod.APPEND)
    with pytest.raises(ValueError, match="invalid dataset"):
        TaskConfig("project", "d!", "table", LoadMethod.APPEND)
    with pytest.raises(ValueError, match="invalid table"):
        TaskConfig("project", "dataset", "x" * 1025, LoadMethod.APPEND)
    TaskConfig("project", "dataset", "x" * 1024, LoadMethod.APPEND)  # at cap
    with pytest.raises(ValueError, match="invalid execution project"):
        TaskConfig("project", "dataset", "table", LoadMethod.APPEND,
                   execution_project="e p")


def test_query_priority_parse_and_validate(monkeypatch):
    monkeypatch.setenv("PROJECT", "prj")
    monkeypatch.setenv("DATASET", "dst")
    monkeypatch.setenv("TABLE", "tbl")
    monkeypatch.setenv("LOAD_METHOD", "APPEND")
    monkeypatch.setenv("QUERY_PRIORITY", "batch")
    from transformers_spark.config import task_config_from_env

    cfg = task_config_from_env()
    assert cfg.query_priority == "BATCH"  # normalized like the reference
    monkeypatch.setenv("QUERY_PRIORITY", "URGENT")
    with pytest.raises(ValueError, match="QUERY_PRIORITY"):
        task_config_from_env()
    # default is INTERACTIVE (reference config.py:123)
    monkeypatch.delenv("QUERY_PRIORITY")
    assert task_config_from_env().query_priority == "INTERACTIVE"


def test_apply_engine_conf_clamps_foreign_local_width(spark):
    """A foreign local session carrying Spark's 200-partition default
    gets resized to the machine; an explicit moderate setting stands."""
    from transformers_spark.session import apply_engine_conf, default_parallelism

    old = spark.conf.get("spark.sql.shuffle.partitions")
    wide = str(8 * default_parallelism())  # always above the 4x threshold
    try:
        spark.conf.set("spark.sql.shuffle.partitions", wide)
        apply_engine_conf(spark)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default_parallelism()
        moderate = str(2 * default_parallelism())  # always below the 4x threshold
        spark.conf.set("spark.sql.shuffle.partitions", moderate)
        apply_engine_conf(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == moderate
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_window_size_rejects_negative():
    import pytest as _pytest

    from transformers_spark.config import TaskConfig

    with _pytest.raises(ValueError, match="invalid window size"):
        TaskConfig(
            destination_project="proj", destination_dataset="dset",
            destination_table_name="tbl", load_method=_lm("APPEND"),
            window_size="-24h",
        )


def _lm(name):
    from transformers_spark.config import LoadMethod

    return LoadMethod[name]


def test_load_method_case_tolerant_and_helpful():
    import pytest as _pytest

    from transformers_spark.config import _load_method

    assert _load_method("append").name == "APPEND"
    assert _load_method(" Replace ").name == "REPLACE"
    with _pytest.raises(ValueError, match="valid:"):
        _load_method("bogus")


def test_parse_labels_strips_whitespace():
    from transformers_spark.config import parse_labels

    assert parse_labels("owner=data, team=infra") == {
        "owner": "data", "team": "infra"
    }


def test_properties_duplicate_key_rejected_and_labels_parity():
    import pytest as _pytest

    from transformers_spark.config import task_config_from_properties

    good = """
[DESTINATION]
PROJECT="proj"
DATASET="dset"
TABLE="tbl"
[TRANSFORMATION]
LOAD_METHOD="APPEND"
"""
    cfg = task_config_from_properties(good)
    assert cfg.labels == {"owner": "transformers-spark"}  # env-path parity
    dup = good + "\n[LOAD]\nTABLE=\"scratch\"\n"
    with _pytest.raises(ValueError, match="multiple sections"):
        task_config_from_properties(dup)


def test_properties_default_section_not_a_duplicate():
    """configparser injects [DEFAULT] keys into every section's view;
    a key defined once under [DEFAULT] must not trip the multi-section
    duplicate check, and a section may override the DEFAULT value."""
    from transformers_spark.config import task_config_from_properties

    ini = """
[DEFAULT]
EXECUTION_PROJECT="proj-exec"
[DESTINATION]
PROJECT="proj"
DATASET="dset"
TABLE="tbl"
[TRANSFORMATION]
LOAD_METHOD="APPEND"
"""
    cfg = task_config_from_properties(ini)
    assert cfg.execution_project == "proj-exec"

    override = ini.replace(
        'TABLE="tbl"', 'TABLE="tbl"\nEXECUTION_PROJECT="proj-override"'
    )
    assert (
        task_config_from_properties(override).execution_project
        == "proj-override"
    )


def test_properties_explicit_key_equal_to_default_still_duplicates():
    """A section key explicitly set to the SAME value as [DEFAULT] is
    still an explicit key: if another section then sets a different
    value, that is the multi-section ambiguity and must raise — under
    value-equality dedup the second section won silently (round-4
    advice)."""
    import pytest as _pytest

    from transformers_spark.config import task_config_from_properties

    ini = """
[DEFAULT]
EXECUTION_PROJECT="proj-exec"
[DESTINATION]
PROJECT="proj"
DATASET="dset"
TABLE="tbl"
EXECUTION_PROJECT="proj-exec"
[TRANSFORMATION]
LOAD_METHOD="APPEND"
EXECUTION_PROJECT="proj-other"
"""
    with _pytest.raises(ValueError, match="multiple sections"):
        task_config_from_properties(ini)

    # ...and an explicit equal-value key alone (no second section) is
    # fine — it simply restates the default
    single = ini.replace('EXECUTION_PROJECT="proj-other"\n', "")
    assert task_config_from_properties(single).execution_project == "proj-exec"


def test_render_macros_strict_raises_on_leftover():
    import pytest as _pytest

    from transformers_spark.macros import render_macros

    with _pytest.raises(ValueError, match="remain after rendering"):
        render_macros("SELECT 1 WHERE d >= '__dstart__'", strict=True)
    # non-strict keeps the permissive contract
    out = render_macros("SELECT 1 WHERE d >= '__dstart__'")
    assert "__dstart__" in out
