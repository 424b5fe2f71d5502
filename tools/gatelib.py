"""Shared dual-engine compare loop for the oracle gates.

Every wave runs the same check: run each catalog query on BOTH engines
over one dataset and demand equality. ``run_gates.py`` runs it over the
base data (the ``canon`` wave) and over mutated copies of
sf0.001 it builds (null waves, degenerate text, malformed JSON,
unicode, extreme values, empty-input, duplicate-row, adversarial-skew).
This module holds the one loop they all share so a fix lands
everywhere at once.

A loud ERROR can be a contract (operators like ntiles_wide reject
null keys by design; codebook training rejects empty input) — gates
pass an ``expected_errors`` map {query: exception-name} to pin WHICH
queries legitimately error on a wave's data, and the loop greens them
only when the raised type matches the pin.
"""

from __future__ import annotations

import sys
import time
import traceback


CHECKS = ("rows_match", "schema_match", "hash_match", "pandas_hash_match")


def compare_queries(
    spark,
    qs: dict,
    names: list[str],
    dst: str,
    expected_errors: dict[str, str] | None = None,
) -> dict[str, dict]:
    """Run each query on Spark and its oracle on DuckDB over ``dst``;
    return {name: {"status", "secs", "rows", "oracle_rows", <CHECKS>}}.

    The four checks: row count, column names, the fetchall canon
    (``normalize_rows``) and the driver-faithful pandas canon; None
    means the check was not reached. status is one of
    green | green (expected <Exc>) | MISMATCH | ERROR (<Exc>), and a
    query is green only when all four checks are true."""
    from transformers_spark import cache
    from transformers_spark.canon import (
        duckdb_connect_views,
        normalize_rows,
        pandas_canon,
    )
    from transformers_spark.queries import oracle_for

    expected_errors = expected_errors or {}
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        sdf = None
        t0 = time.perf_counter()
        row: dict = {"rows": None, "oracle_rows": None, **dict.fromkeys(CHECKS)}
        try:
            oracle = oracle_for(name, dst)
            if oracle is None:
                continue
            # the expected_errors pin documents an ENGINE-side contract
            # (e.g. "empty training set"), so only the engine build +
            # collect may satisfy it — an exception of the same type
            # from the DuckDB oracle or the comparison below must stay
            # a loud ERROR, not a silent green
            try:
                # persist: the frame is read twice (collect for the
                # fetchall canon, toPandas for the pandas canon)
                sdf = qs[name](spark, dst).persist()
                spark_cols = [c.lower() for c in sdf.columns]
                spark_rows = [tuple(r) for r in sdf.collect()]
            except Exception as exc:
                exc_name = type(exc).__name__
                if expected_errors.get(name) != exc_name:
                    raise
                row["status"] = f"green (expected {exc_name})"
            else:
                con = duckdb_connect_views(dst)
                res = con.execute(oracle)
                duck_cols = [d[0].lower() for d in res.description]
                duck_rows = res.fetchall()
                row["rows"] = len(spark_rows)
                row["oracle_rows"] = len(duck_rows)
                row["rows_match"] = len(spark_rows) == len(duck_rows)
                row["schema_match"] = sorted(spark_cols) == sorted(duck_cols)
                row["hash_match"] = normalize_rows(
                    spark_rows, spark_cols
                ) == normalize_rows(duck_rows, duck_cols)
                row["pandas_hash_match"] = pandas_canon(
                    sdf.toPandas()
                ) == pandas_canon(con.execute(oracle).fetch_df())
                row["status"] = (
                    "green" if all(row[k] for k in CHECKS) else "MISMATCH"
                )
        except Exception as exc:
            row["status"] = f"ERROR ({type(exc).__name__})"
            row["traceback"] = traceback.format_exc(limit=5)
        finally:
            if sdf is not None:
                sdf.unpersist()
            cache.release()
        row["secs"] = round(time.perf_counter() - t0, 3)
        out[name] = row
        print(
            f"[{i + 1}/{len(names)}] {name}: {row['status']}"
            f" ({row['secs']}s)",
            file=sys.stderr,
        )
    return out


def summarize(results: dict[str, dict]) -> dict:
    greens = [n for n, r in results.items() if r["status"].startswith("green")]
    mism = [n for n, r in results.items() if r["status"] == "MISMATCH"]
    errs = [n for n, r in results.items() if r["status"].startswith("ERROR")]
    return {
        "n_checked": len(results),
        "n_green": len(greens),
        "mismatches": mism,
        "errors": errs,
    }
