"""Adversarial-skew wave dataset (round-6 verdict ask 2).

Builds a copy of sf0.001 with two degenerate-cardinality injections —
the exact shapes the r5 verdict flagged as "documented in prose, not
enforced":

* lineitem: ONE order with 5,000 distinct parts (a quadratic
  pair-mining basket would emit 12.5M pairs on one join key;
  ``order_basket_pairs``'s BASKET_CAP contract excludes it);
* events: ONE user-day with 50,000 events (an unbounded per-key
  collect would materialize it; ``event_path_counts``'s
  WindowGroupLimit slice ships at most 3 rows per user-day).

The injections change every event/lineitem aggregate, identically in
both engines, so the whole catalog doubles as a skew wave. The wave
runs as ``skew`` in ``tools/run_gates.py``, which also reds
``order_basket_pairs`` or ``event_path_counts`` slower than 60 s:

    python tools/run_gates.py --waves skew --json /tmp/skew.json
"""

from __future__ import annotations

import os
import shutil
import sys

SRC = "/root/testdata/sf0.001"

MEGA_BASKET_PARTS = 5_000
BOT_DAY_EVENTS = 50_000


def build_skewdata(dst_dir: str) -> None:
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if fname == "lineitem.parquet":
            # one mega-order: okey = max+1, 5k distinct synthetic parts
            # (partkeys outside the part table drop from part-joins in
            # BOTH engines; the basket query never joins part)
            duckdb.sql(f"""
COPY (
  SELECT * FROM read_parquet('{src}')
  UNION ALL
  SELECT
    (SELECT MAX(l_orderkey) + 1 FROM read_parquet('{src}')) AS l_orderkey,
    CAST(10000000 + i AS BIGINT) AS l_partkey,
    (SELECT MIN(l_suppkey) FROM read_parquet('{src}')) AS l_suppkey,
    CAST(1 + (i % 7) AS INT) AS l_linenumber,
    CAST(1.0 AS DOUBLE) AS l_quantity,
    CAST(10.0 AS DOUBLE) AS l_extendedprice,
    CAST(0.0 AS DOUBLE) AS l_discount, CAST(0.0 AS DOUBLE) AS l_tax,
    'N' AS l_returnflag, 'O' AS l_linestatus,
    (SELECT MAX(l_shipdate) FROM read_parquet('{src}')) AS l_shipdate
  FROM range({MEGA_BASKET_PARTS}) t(i)
) TO '{dst}' (FORMAT PARQUET)""")
        elif fname == "events.parquet":
            # one bot user-day: user = max+1, 50k events on one day
            duckdb.sql(f"""
COPY (
  SELECT * FROM read_parquet('{src}')
  UNION ALL
  SELECT
    (SELECT MAX(event_id) + 1 FROM read_parquet('{src}')) + i AS event_id,
    TIMESTAMP '2024-03-01 00:00:00'
      + to_microseconds(CAST(i * 1000000 AS BIGINT)) AS ts,
    (SELECT MAX(user_id) + 1 FROM read_parquet('{src}')) AS user_id,
    CASE i % 4 WHEN 0 THEN 'view' WHEN 1 THEN 'click'
               WHEN 2 THEN 'scroll' ELSE 'error' END AS event_type,
    CAST(i % 100 AS DOUBLE) / 10.0 AS value,
    '{{}}' AS props
  FROM range({BOT_DAY_EVENTS}) t(i)
) TO '{dst}' (FORMAT PARQUET)""")
        else:
            shutil.copyfile(src, dst)
    print(f"built {dst_dir} (adversarial skew)", file=sys.stderr)
