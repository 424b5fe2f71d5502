"""External-table registration, the UDTF registry, and property-based
window-kernel tests."""

import csv
from datetime import datetime, timedelta

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.functions import udtf

from transformers_spark.macros import render_macros
from transformers_spark.windowing import CustomWindow, parse_duration, window_for


# --- external tables ---------------------------------------------------


def test_register_csv_external_table(spark, tmp_path):
    from transformers_spark.catalog import Catalog

    path = tmp_path / "sheet.csv"
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["method", "accuracy"])
        w.writerows([["GET", "0.9"], ["POST", "0.7"], ["GET", "0.9"]])
    cat = Catalog(spark)
    df = cat.register_external_table("ext-proj.sheets.log", str(path), fmt="csv")
    assert df.count() == 3
    # queryable through SQL under the mapped name, DISTINCT works
    assert spark.sql("SELECT DISTINCT method FROM ext_proj_sheets.log").count() == 2
    # DROP removes metadata only — file survives
    cat.drop_table("ext-proj.sheets.log")
    assert path.exists()


# --- property-based window kernel -------------------------------------

DT = st.datetimes(
    min_value=datetime(2000, 1, 2), max_value=datetime(2035, 12, 28)
)


@given(end=DT, hours=st.integers(1, 24 * 400), offset_hours=st.integers(-240, 240))
@settings(max_examples=200, deadline=None)
def test_window_size_and_offset_invariants(end, hours, offset_hours):
    w = window_for(end, f"{hours}h", f"{offset_hours}h", "")
    assert w.end - w.start == timedelta(hours=hours)
    assert w.end == end + timedelta(hours=offset_hours)


@given(end=DT)
@settings(max_examples=200, deadline=None)
def test_week_truncation_always_sunday_of_containing_week(end):
    w = window_for(end, "1w", "0", "w")
    assert w.end.weekday() == 6  # Sunday
    assert w.start.weekday() == 6
    # end is the Sunday that closes the Monday-first week containing `end`
    assert timedelta(0) <= w.end - end.replace(hour=0, minute=0, second=0, microsecond=0) <= timedelta(days=6)


@given(end=DT)
@settings(max_examples=100, deadline=None)
def test_day_truncation_midnight(end):
    w = window_for(end, "1d", "0", "d")
    assert (w.end.hour, w.end.minute, w.end.second, w.end.microsecond) == (0, 0, 0, 0)
    assert w.end - w.start == timedelta(days=1)


@given(n=st.integers(0, 10**6))
@settings(max_examples=100, deadline=None)
def test_duration_roundtrip_seconds(n):
    assert parse_duration(str(n)) == timedelta(seconds=n)


@given(
    start=DT,
    days=st.integers(1, 40),
    text=st.text(
        alphabet=st.characters(blacklist_characters="\x00", codec="utf-8"),
        max_size=200,
    ),
)
@settings(max_examples=100, deadline=None)
def test_macro_rendering_never_touches_non_macro_text(start, days, text):
    w = CustomWindow(start, start + timedelta(days=days))
    rendered = render_macros(text, window=w)
    if "__dstart__" not in text and "__dend__" not in text:
        assert rendered == text


@given(start=DT, days=st.integers(1, 40))
@settings(max_examples=100, deadline=None)
def test_window_days_cover_exactly(start, days):
    w = CustomWindow(start, start + timedelta(days=days))
    day_list = w.days()
    assert len(day_list) == days
    assert day_list[0] == w.start
    assert all((b - a) == timedelta(days=1) for a, b in zip(day_list, day_list[1:]))


# --- UDTF registry -------------------------------------------------------
#
# BigQuery ``CREATE TEMP TABLE FUNCTION`` bodies are not portable: the
# engine maps the function NAME to a Python UDTF class passed as
# Engine(udtf_registry=...). These two sample classes exercise that
# registry.


@udtf(returnType="word string, pos int")
class SplitToWords:
    """Explode a string into (word, position) rows."""

    def eval(self, text: str | None, delim: str = " "):
        if text is None:
            return
        pos = 0
        for token in text.split(delim):
            if token:
                yield token, pos
                pos += 1


@udtf(returnType="token string, n_occurrences int")
class TopNTokens:
    """Most frequent whitespace tokens of a string, ties broken
    alphabetically."""

    def eval(self, text: str | None, n: int = 3):
        if text is None:
            return
        counts: dict[str, int] = {}
        for token in text.split():
            counts[token] = counts.get(token, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        # clamp at 0: a negative n would slice from the END
        # (ranked[:-2] = everything but the two rarest) instead of
        # yielding nothing
        for token, count in ranked[: max(0, n or 0)]:
            yield token, count


UDTF_REGISTRY = {"splitToWords": SplitToWords, "topNTokens": TopNTokens}


def test_topn_tokens_negative_n_yields_nothing():
    # TopNTokens is an @udtf wrapper; .func is the underlying class
    rows = list(TopNTokens.func().eval("a a b c", -1))
    assert rows == []
    assert len(list(TopNTokens.func().eval("a a b c", 2))) == 2


def test_udtf_registry_script(spark):
    """CREATE TEMP TABLE FUNCTION maps to a registered pyspark UDTF,
    callable in the FROM clause of the script body."""
    from transformers_spark.engine import Engine

    eng = Engine(spark, udtf_registry=UDTF_REGISTRY)
    script = """
CREATE TEMP TABLE FUNCTION splitToWords(t STRING, d STRING)
RETURNS TABLE<word STRING, pos INT64> AS (SELECT 1);
SELECT word, pos FROM splitToWords('alpha beta gamma', ' ') ORDER BY pos;
"""
    results = eng.run_script(script)
    rows = [(r["word"], r["pos"]) for r in results[-1]]
    assert rows == [("alpha", 0), ("beta", 1), ("gamma", 2)]


def test_udtf_unregistered_name_raises(spark):
    from transformers_spark.engine import Engine

    eng = Engine(spark)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no Python implementation"):
        eng.run_script(
            "CREATE TEMP TABLE FUNCTION nosuch(t STRING) AS (SELECT 1);\nSELECT 1;"
        )


def test_udtf_lateral_join(spark):
    """UDTF over a column via LATERAL — the per-row explode shape."""
    from transformers_spark.engine import Engine

    eng = Engine(spark, udtf_registry=UDTF_REGISTRY)
    eng.run_script(
        "CREATE TEMP TABLE FUNCTION topNTokens(t STRING, n INT64) AS (SELECT 1);\nSELECT 1;"
    )
    spark.createDataFrame(
        [(1, "x x y"), (2, "z")], ["id", "body"]
    ).createOrReplaceTempView("udtf_src")
    rows = spark.sql(
        "SELECT id, token, n_occurrences FROM udtf_src, "
        "LATERAL topNTokens(body, 1)"
    ).collect()
    got = sorted((r["id"], r["token"], r["n_occurrences"]) for r in rows)
    assert got == [(1, "x", 2), (2, "z", 1)]
