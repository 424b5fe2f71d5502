#!/usr/bin/env python
"""Local replica of the round driver's correctness gate.

Runs the catalog queries against their DuckDB oracles at a given scale
factor under BOTH canons (native fetchall + the driver-faithful pandas
canon from ``transformers_spark.canon``) and writes ONE artifact the
judge can diff against the driver's ``CORRECTNESS_r{N}.json``:

    python tools/local_gate.py --json /tmp/canon.json             # full catalog
    python tools/local_gate.py --json /tmp/canon.json --first 50  # driver-style sample
    python tools/local_gate.py --json /tmp/canon.json --only windowed_daily_events

Each query runs through the loop every gate shares,
``gatelib.compare_queries``. Output: the ``--json`` file with, per
query: row/schema match, fetchall hash match, pandas hash match, and
any canonicalization error (the driver's ``err`` column equivalent).
The first 50 entries (the driver's sample, by ``__spark_entry__``
cohort order) are listed first and flagged ``"in_driver_sample"``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", required=True,
                    help="path of the artifact to write")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--first", type=int, default=None,
                    help="check only the first N cohort entries (driver style)")
    ap.add_argument("--only", nargs="*", default=None,
                    help="check only these query names (dev iteration)")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from gatelib import CHECKS, compare_queries

    from transformers_spark.session import get_spark

    qs = entry_mod.queries()
    names = list(qs)
    # --only narrows BEFORE --first slices: otherwise a query named in
    # --only but outside the first N passed the unknown-name check yet
    # was silently dropped, so the dev artifact could claim a subset
    # that never ran (r8 ADVICE).
    if args.only:
        unknown = [n for n in args.only if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        names = [n for n in names if n in set(args.only)]
    if args.first:
        names = names[: args.first]

    spark = get_spark(app_name="local-correctness-gate")
    spark.sparkContext.setLogLevel("ERROR")

    checked = compare_queries(spark, qs, names, args.sf_dir)
    n_sample = 50
    results = {
        name: {
            **{k: r[k] for k in CHECKS},
            "spark_rows": r["rows"],
            "oracle_rows": r["oracle_rows"],
            "in_driver_sample": i < n_sample,
            "err": r.get("traceback"),
        }
        for i, (name, r) in enumerate(checked.items())
    }
    with open(args.json, "w") as fh:
        json.dump(
            {
                "sf_dir": args.sf_dir,
                "n_checked": len(results),
                "n_green": sum(
                    r["status"] == "green" for r in checked.values()
                ),
                "canons": ["fetchall", "pandas(driver-faithful)"],
                "queries": results,
            },
            fh,
            indent=1,
        )
    print(f"wrote {args.json}")
    spark.stop()


if __name__ == "__main__":
    main()
