#!/usr/bin/env python
"""ONE gate runner, ONE denominator (round-6 verdict ask 3).

Round 6 left robustness coverage split across per-wave artifacts with
different denominators (the duplicate-row and skew waves at 163
queries, the 5 late additions covered only by a separate replay) —
one catalog append away from a silent hole. This runner kills that drift
class structurally:

* it reads the CURRENT catalog from ``__spark_entry__.queries()``
  every run — a catalog append is automatically in-denominator;
* it REBUILDS every wave dataset from the builders (so a builder fix,
  e.g. the round-7 vertical-tab probe in the degenerate-text wave, is
  always in the data);
* it emits ONE ``--json`` artifact where every mutation-wave row has
  ``n_checked == n_catalog``, and the per-table empty scenarios list
  their skips EXPLICITLY (``n_checked + n_skipped == n_catalog``,
  skipped = query's oracle never reads the emptied table, so its
  result is definitionally identical to the base-data gate).

    python tools/run_gates.py --json /tmp/gates.json
    python tools/run_gates.py --waves duprows,skew --json /tmp/g.json
    python tools/run_gates.py --queries q1,q2 --json /tmp/newq.json

The ``--queries`` restriction is the newq-replay mode (mid-round
catalog append coverage without 168 x 12 compares); the artifact then
records ``restricted: true`` so it can never be mistaken for the
full-denominator round artifact.

The wave datasets come from the builders in ``null_gate``,
``skew_gate`` and ``empty_gate``; every wave runs through
``gatelib.compare_queries``. The skew wave also records the seconds of
the two queries its injections target and reds either one slower than
``SKEW_BOUND_S`` (60 s).
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


def mutation_waves() -> list[dict]:
    ng = null_gate
    w1 = ng.INJECT
    w2 = _null_inject(ng.INJECT, ng.INJECT_WAVE2)
    w3 = _null_inject(ng.INJECT, ng.INJECT_WAVE3)
    wall = _null_inject(ng.INJECT, ng.INJECT_WAVE2, ng.INJECT_WAVE3)
    nulldir = scratch.scratch_path("nulldata_sf0.001")
    return [
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
                         "(mutation labels, 'all-empty', 'empty:<table>')")
    ap.add_argument("--queries", default=None,
                    help="comma-separated query names (newq-replay mode; "
                         "artifact is marked restricted)")
    ap.add_argument("--skip-build", action="store_true",
                    help="reuse existing scratch wave datasets")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from gatelib import compare_queries, summarize

    from transformers_spark.session import get_spark

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    catalog = list(qs)
    names = catalog
    if args.queries:
        keep = args.queries.split(",")
        missing = [q for q in keep if q not in qs]
        if missing:
            sys.exit(f"unknown queries: {missing}")
        names = keep
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

    for wave in mutation_waves():
        label, dst = wave["label"], wave["dst"]
        if want and label not in want:
            continue
        if not args.skip_build or not os.path.isdir(dst):
            wave["build"](dst)
        print(f"=== wave {label} ({len(names)} queries) ===",
              file=sys.stderr)
        results = compare_queries(spark, qs, names, dst)
        row = {"data": dst, **summarize(results)}
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
        "restricted": bool(args.queries),
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
