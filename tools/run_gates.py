#!/usr/bin/env python
"""The one oracle-gate runner: every wave, one denominator.

Each wave runs every catalog query on Spark and its DuckDB oracle over
one dataset through ``gatelib.compare_queries``:

* ``canon`` — the base-data dual-canon pass over ``--sf-dir`` (default
  sf0.01, the correctness scale), in ``__spark_entry__`` cohort
  order. Its row lists every query's checks, its row counts,
  ``in_driver_sample`` (one of the first 50 ``queries()`` entries, the
  sample the correctness run checks) and ``err`` (the traceback), so it
  diffs against ``CORRECTNESS_r{N}.json``;
* mutated copies of sf0.001 rebuilt from the builders in ``null_gate``,
  ``skew_gate`` and ``empty_gate`` on every run (null waves, degenerate
  text, malformed JSON, unicode, extreme values, duplicate rows,
  adversarial skew), so a builder fix is always in the data;
* empty-input scenarios: all tables empty, then one table at a time
  over the queries whose oracle reads it, with the skips listed
  (``n_checked + n_skipped == n_catalog``).

The catalog comes from ``__spark_entry__.queries()`` on every run, so a
catalog append is in the denominator automatically.

    python tools/run_gates.py --json /tmp/gates.json                 # every wave
    python tools/run_gates.py --waves canon --first 50 --json /tmp/c.json
    python tools/run_gates.py --waves duprows,skew --json /tmp/g.json
    python tools/run_gates.py --queries q1,q2 --json /tmp/newq.json

``--queries`` narrows the catalog before ``--first`` slices it; either
marks the artifact ``restricted: true`` so it can never be mistaken for
the full-denominator artifact. The skew wave also records the seconds
of the two queries its injections target and reds either one slower
than ``SKEW_BOUND_S`` (60 s).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import scratch

import empty_gate
import null_gate
import skew_gate

TABLES = empty_gate.TABLES
# the correctness scale, beside the sf0.001 the waves mutate
DEFAULT_SF_DIR = os.path.join(os.path.dirname(empty_gate.SRC), "sf0.01")
# the correctness run checks the first N queries() entries
CORRECTNESS_SAMPLE = 50

# The skew wave must keep the two queries its injections target bounded,
# not only green: a guarded query slower than this on the skewed data
# reds the wave.
SKEW_GUARDED = ("order_basket_pairs", "event_path_counts")
SKEW_BOUND_S = 60.0


def _null_inject(*maps: dict) -> dict:
    out: dict[str, list[str]] = {}
    for m in maps:
        for t, cols in m.items():
            out[t] = sorted(set(out.get(t, [])) | set(cols))
    return out


def _w(label, dst, builder):
    return {"label": label, "dst": dst, "build": builder}


def select_queries(catalog: list[str], queries: str | None,
                   first: int | None) -> list[str]:
    """The queries a run checks, in catalog (cohort) order. ``queries``
    (comma-separated) narrows BEFORE ``first`` slices: otherwise a query
    named in ``queries`` but outside the first N would pass the
    unknown-name check yet be silently dropped. An unknown name exits
    non-zero."""
    names = catalog
    if queries:
        keep = set(queries.split(","))
        unknown = sorted(keep - set(catalog))
        if unknown:
            sys.exit(f"unknown queries: {unknown}")
        names = [n for n in catalog if n in keep]
    return names[:first] if first else names


def waves(sf_dir: str) -> list[dict]:
    """Every dataset wave in run order: the base-data canon pass, then
    the mutated copies of sf0.001 (the empty-input scenarios follow in
    ``main``)."""
    ng = null_gate
    w1 = ng.INJECT
    w2 = _null_inject(ng.INJECT, ng.INJECT_WAVE2)
    w3 = _null_inject(ng.INJECT, ng.INJECT_WAVE3)
    wall = _null_inject(ng.INJECT, ng.INJECT_WAVE2, ng.INJECT_WAVE3)
    nulldir = scratch.scratch_path("nulldata_sf0.001")
    return [
        _w("canon", sf_dir, None),
        _w("null-w1", nulldir,
           lambda d: ng.build_nulldata(w1, d)),
        _w("null-w2", nulldir + "-w2",
           lambda d: ng.build_nulldata(w2, d)),
        _w("null-w3", nulldir + "-w3",
           lambda d: ng.build_nulldata(w3, d)),
        _w("null-all", nulldir + "-w2-w3",
           lambda d: ng.build_nulldata(wall, d)),
        _w("degentext", scratch.scratch_path("degentext_sf0.001"), ng.build_degenerate_text),
        _w("badjson", scratch.scratch_path("badjson_sf0.001"), ng.build_malformed_json),
        _w("unicode", scratch.scratch_path("unicode_sf0.001"), ng.build_unicode_text),
        _w("extreme", scratch.scratch_path("extreme_sf0.001"), ng.build_extreme_values),
        _w("duprows", scratch.scratch_path("duprows_sf0.001"), ng.build_duplicate_rows),
        _w("dupnulls", scratch.scratch_path("dupnulls_sf0.001"),
           lambda d: ng.build_duplicate_rows(
               d, src_dir=_ensure_nullall(wall))),
        _w("skew", scratch.scratch_path("skew_sf0.001"), skew_gate.build_skewdata),
    ]


def skew_times(results: dict[str, dict]) -> dict:
    """The guarded queries' seconds on the skew wave, and the ones over
    ``SKEW_BOUND_S``."""
    secs = {n: results[n]["secs"] for n in SKEW_GUARDED if n in results}
    return {
        "guarded_secs": secs,
        "overtime": sorted(n for n, t in secs.items() if t > SKEW_BOUND_S),
    }


def red_queries(row: dict) -> list[str]:
    """A wave row's red queries: mismatches, errors and overtime."""
    return row["mismatches"] + row["errors"] + row.get("overtime", [])


def _ensure_nullall(inject: dict) -> str:
    base = scratch.scratch_path("nulldata_sf0.001-w2-w3")
    if not os.path.isdir(base):
        null_gate.build_nulldata(inject, base)
    return base


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", required=True)
    ap.add_argument("--waves", default=None,
                    help="comma-separated wave labels to restrict to "
                         "('canon', mutation labels, 'all-empty', "
                         "'empty:<table>')")
    ap.add_argument("--queries", default=None,
                    help="comma-separated query names to check "
                         "(artifact is marked restricted)")
    ap.add_argument("--first", type=int, default=None,
                    help="check only the first N cohort entries, after "
                         "--queries narrows (the correctness sample: 50)")
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                    help="base data of the canon wave")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse existing scratch wave datasets")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from gatelib import CHECKS, compare_queries, summarize

    from transformers_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    catalog = list(qs)
    names = select_queries(catalog, args.queries, args.first)
    reads = {n: empty_gate.oracle_tables(oracles.get(n, ""))
             for n in catalog}

    want = set(args.waves.split(",")) if args.waves else None

    spark = get_spark(app_name="consolidated-gates")
    spark.sparkContext.setLogLevel("ERROR")

    artifact: dict[str, dict] = {}
    n_red = 0

    def record(label: str, row: dict) -> None:
        nonlocal n_red
        artifact[label] = row
        bad = red_queries(row)
        n_red += len(bad)
        print(f"  {label}: {row['n_green']}/{row['n_checked']}"
              + (f"  RED: {bad}" if bad else ""), file=sys.stderr)

    sample = set(catalog[:CORRECTNESS_SAMPLE])
    for wave in waves(args.sf_dir):
        label, dst = wave["label"], wave["dst"]
        if want and label not in want:
            continue
        if wave["build"] and (not args.skip_build or not os.path.isdir(dst)):
            wave["build"](dst)
        print(f"=== wave {label} ({len(names)} queries) ===",
              file=sys.stderr)
        results = compare_queries(spark, qs, names, dst)
        row = {"data": dst, **summarize(results)}
        if label == "canon":
            row["queries"] = {
                name: {
                    **{k: r[k] for k in CHECKS},
                    "spark_rows": r["rows"],
                    "oracle_rows": r["oracle_rows"],
                    "in_driver_sample": name in sample,
                    "err": r.get("traceback"),
                }
                for name, r in results.items()
            }
        if label == "skew":
            row.update(skew_times(results))
            for n, t in row["guarded_secs"].items():
                print(f"  guarded {n}: {t}s (bound {SKEW_BOUND_S}s)",
                      file=sys.stderr)
        record(label, row)

    # empty-input scenarios: all-empty over everything, then one table
    # at a time over the queries whose oracle reads it (skips listed)
    empty_scenarios = [("all-empty", TABLES)] + [
        (f"empty:{t}", [t]) for t in TABLES
    ]
    for label, empties in empty_scenarios:
        if want and label not in want:
            continue
        if label == "all-empty":
            run_names, skipped = names, []
        else:
            t = empties[0]
            run_names = [n for n in names if t in reads.get(n, set())]
            skipped = [n for n in names if t not in reads.get(n, set())]
        if not run_names:
            continue
        dst = scratch.scratch_path(f"empty_{label.replace(':', '_').replace('-', '_')}_sf0.001")
        if not args.skip_build or not os.path.isdir(dst):
            empty_gate.build_empty(dst, empties)
        expected = {
            n: exc
            for n, exc in empty_gate.EMPTY_ERROR_CONTRACTS.items()
            if n in run_names
            and (label == "all-empty" or "embeddings" in empties)
        }
        print(f"=== wave {label} ({len(run_names)} queries, "
              f"{len(skipped)} skipped-not-reading) ===", file=sys.stderr)
        results = compare_queries(spark, qs, run_names, dst, expected)
        row = {"data": dst, "empties": empties, **summarize(results)}
        row["n_skipped_not_reading"] = len(skipped)
        row["denominator_ok"] = (
            row["n_checked"] + len(skipped) == len(names)
        )
        if expected:
            row["expected_errors"] = {
                n: results[n]["status"] for n in expected if n in results
            }
        record(label, row)

    ok = n_red == 0 and all(
        r.get("denominator_ok", r["n_checked"] == len(names))
        for r in artifact.values()
    )
    summary = {
        "n_catalog": len(catalog),
        "n_queries_run": len(names),
        "restricted": bool(args.queries or args.first),
        "waves": artifact,
        "all_green_full_denominator": ok,
    }
    with open(args.json, "w") as fh:
        json.dump(summary, fh, indent=1)
    print(f"\n=== GATES SUMMARY: catalog={len(catalog)} "
          f"red={n_red} full_denominator_green={ok} ===")
    print(f"wrote {args.json}")
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
