"""The gate layer in tools/: the compare loop every oracle wave shares
(``gatelib.compare_queries``) and the one gate runner (``run_gates.py``)
must keep importing and keep telling green from red."""

import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = os.path.join(REPO, "tools")

QUERY = "windowed_daily_events"


def test_compare_queries_reports_four_checks(spark, sf_dir, monkeypatch):
    monkeypatch.syspath_prepend(TOOLS)
    import gatelib

    from transformers_spark import queries
    from transformers_spark.queries import query_fns

    qs = {QUERY: query_fns()[QUERY]}

    row = gatelib.compare_queries(spark, qs, [QUERY], sf_dir)[QUERY]
    assert row["status"] == "green"
    assert all(row[k] is True for k in gatelib.CHECKS), row

    real = queries.oracle_for
    monkeypatch.setattr(
        queries, "oracle_for",
        lambda name, sf: f"SELECT * FROM ({real(name, sf)}) LIMIT 0",
    )
    row = gatelib.compare_queries(spark, qs, [QUERY], sf_dir)[QUERY]
    assert row["status"] == "MISMATCH"
    assert row["rows_match"] is False


def _run_gates(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(
        "run_gates", os.path.join(TOOLS, "run_gates.py")
    )
    run_gates = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_gates)
    return run_gates


def test_run_gates_imports_and_lists_its_waves(monkeypatch):
    run_gates = _run_gates(monkeypatch)
    waves = run_gates.waves("/data/sf")
    assert [w["label"] for w in waves] == [
        "canon", "null-w1", "null-w2", "null-w3", "null-all", "degentext",
        "badjson", "unicode", "extreme", "duprows", "dupnulls", "skew",
    ]
    # the canon wave checks the base data as it is: nothing to build
    assert waves[0]["dst"] == "/data/sf" and waves[0]["build"] is None


def test_query_filter_narrows_before_first_slices(monkeypatch):
    """--queries narrows BEFORE --first slices: a named query outside
    the first N must still run, never pass the name check and then be
    silently dropped; an unknown name exits non-zero."""
    run_gates = _run_gates(monkeypatch)
    catalog = ["q1", "q2", "q3", "q4", "q5"]
    assert run_gates.select_queries(catalog, "q5,q2", 1) == ["q2"]
    assert run_gates.select_queries(catalog, "q5", 2) == ["q5"]
    assert run_gates.select_queries(catalog, None, 3) == ["q1", "q2", "q3"]
    assert run_gates.select_queries(catalog, None, None) == catalog
    with pytest.raises(SystemExit, match="unknown queries"):
        run_gates.select_queries(catalog, "q1,nosuch", None)


def test_skew_wave_reds_a_guarded_query_over_its_bound(monkeypatch):
    run_gates = _run_gates(monkeypatch)
    bound = run_gates.SKEW_BOUND_S
    results = {
        "order_basket_pairs": {"status": "green", "secs": bound + 1.5},
        "event_path_counts": {"status": "green", "secs": bound - 1.0},
        "windowed_daily_events": {"status": "green", "secs": bound * 2},
    }
    row = {"mismatches": [], "errors": [], **run_gates.skew_times(results)}
    assert row["guarded_secs"] == {
        "order_basket_pairs": bound + 1.5, "event_path_counts": bound - 1.0,
    }
    assert run_gates.red_queries(row) == ["order_basket_pairs"]

    results["order_basket_pairs"]["secs"] = bound
    row.update(run_gates.skew_times(results))
    assert run_gates.red_queries(row) == []
