"""Untimed output check: every destination against a DuckDB reference.

The reference replays the run's schedule, in order, over the same
parquet files, with each load method's own semantics: APPEND adds the
window's rows again on a re-run, REPLACE and REPLACE_ALL truncate
exactly their partitions, REPLACE_MERGE replaces the days present in the
result (or the rows its filter matches), and MERGE upserts by key.
Catalog specs are compared with their ``__spark_entry__.oracle_sql()``
entry. Both sides go through ``transformers_spark.canon.normalize_rows``.
"""

from __future__ import annotations

from datetime import timedelta

from transformers_spark.canon import duckdb_connect_views, normalize_rows
from transformers_spark.catalog import PARTITION_COL
from transformers_spark.config import LoadMethod

from workloads import TEMPLATES, Op

__all__ = ["Reference", "check_queries"]

# DuckDB reference of each template's result for the window [{s}, {e}).
_RESULT_SQL = {
    "append_events": """
        SELECT event_id, CAST(ts AS DATE) AS event_day, user_id, event_type,
               ROUND(value, 2) AS value
        FROM events WHERE ts >= TIMESTAMP '{s}' AND ts < TIMESTAMP '{e}'""",
    "replace_events_snapshot": """
        SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(value AS DECIMAL(18, 2))) AS DOUBLE) AS total_value
        FROM events WHERE ts >= TIMESTAMP '{s}' AND ts < TIMESTAMP '{e}'
        GROUP BY 1""",
    "replace_orders_daily": """
        SELECT CAST(o_orderdate AS DATE) AS order_date, o_orderpriority AS priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS revenue
        FROM orders WHERE o_orderdate >= TIMESTAMP '{s}' AND o_orderdate < TIMESTAMP '{e}'
        GROUP BY 1, 2""",
    "replace_all_shipments": """
        SELECT l_returnflag AS returnflag, l_linestatus AS linestatus, COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18, 2))) AS DOUBLE) AS quantity
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '{s}' AND l_shipdate < TIMESTAMP '{e}'
        GROUP BY 1, 2""",
    "replace_merge_customers": """
        SELECT CAST(o_orderdate AS DATE) AS order_date, o_custkey AS custkey,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE) AS spend
        FROM orders WHERE o_orderdate >= TIMESTAMP '{s}' AND o_orderdate < TIMESTAMP '{e}'
        GROUP BY 1, 2""",
    "replace_merge_shipments": """
        SELECT CAST(l_shipdate AS DATE) AS ship_day, l_returnflag AS returnflag,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18, 2))) AS DOUBLE) AS gross
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '{s}' AND l_shipdate < TIMESTAMP '{e}'
        GROUP BY 1, 2""",
    "merge_order_status": """
        SELECT o_orderkey AS orderkey, o_custkey AS custkey, o_orderstatus AS status,
               o_totalprice AS totalprice, CAST(o_orderdate AS DATE) AS order_date,
               DATE '{s:%Y-%m-%d}' AS loaded_from
        FROM orders WHERE o_orderdate >= TIMESTAMP '{s}' AND o_orderdate < TIMESTAMP '{e}'""",
}


class Reference:
    """DuckDB copies of every destination, advanced op by op."""

    def __init__(self, data_dir: str):
        self.con = duckdb_connect_views(data_dir)
        for t in TEMPLATES.values():
            cols = ", ".join(f'"{c}" {typ.upper()}' for c, typ in t.columns)
            if t.partition.is_partitioned:
                cols += f', "{PARTITION_COL}" DATE'
            self.con.execute(f'CREATE TABLE "{t.table}" ({cols})')
        self.con.execute(
            "INSERT INTO order_status SELECT o_orderkey, o_custkey, o_orderstatus, "
            "o_totalprice, CAST(o_orderdate AS DATE), NULL FROM orders "
            "WHERE o_orderkey % 4 != 0"
        )

    def apply(self, op: Op) -> None:
        t = TEMPLATES[op.kind]
        table, method = t.table, t.load_method
        rows = _RESULT_SQL[op.kind]

        def result(start, end) -> str:
            return rows.format(s=start, e=end)

        con = self.con
        if method is LoadMethod.APPEND:
            con.execute(f"INSERT INTO {table} {result(op.start, op.end)}")
        elif method is LoadMethod.REPLACE and not t.partition.is_partitioned:
            con.execute(f"DELETE FROM {table}")
            con.execute(f"INSERT INTO {table} {result(op.start, op.end)}")
        elif method is LoadMethod.REPLACE:
            day = op.start
            while day < op.end:
                con.execute(f"DELETE FROM {table} WHERE dt = DATE '{day:%Y-%m-%d}'")
                con.execute(
                    f"INSERT INTO {table} SELECT *, DATE '{day:%Y-%m-%d}' "
                    f"FROM ({result(day, day + timedelta(days=1))})"
                )
                day += timedelta(days=1)
        elif method is LoadMethod.REPLACE_ALL:
            con.execute(f"DELETE FROM {table} WHERE dt = DATE '{op.start:%Y-%m-%d}'")
            con.execute(
                f"INSERT INTO {table} SELECT *, DATE '{op.start:%Y-%m-%d}' "
                f"FROM ({result(op.start, op.end)})"
            )
        elif method is LoadMethod.REPLACE_MERGE:
            day_col = t.partition.field
            con.execute(f"CREATE OR REPLACE TEMP TABLE new_rows AS {result(op.start, op.end)}")
            if t.filter_expression is None:
                con.execute(
                    f"DELETE FROM {table} WHERE dt IN (SELECT {day_col} FROM new_rows)"
                )
            else:
                con.execute(
                    f"DELETE FROM {table} WHERE {day_col} >= DATE '{op.start:%Y-%m-%d}' "
                    f"AND {day_col} < DATE '{op.end:%Y-%m-%d}'"
                )
            con.execute(f"INSERT INTO {table} SELECT *, {day_col} FROM new_rows")
        elif method is LoadMethod.MERGE:
            con.execute(f"CREATE OR REPLACE TEMP TABLE new_rows AS {result(op.start, op.end)}")
            con.execute(
                f"UPDATE {table} SET status = n.status, totalprice = n.totalprice, "
                f"loaded_from = n.loaded_from FROM new_rows n "
                f"WHERE {table}.orderkey = n.orderkey"
            )
            con.execute(
                f"INSERT INTO {table} SELECT * FROM new_rows "
                f"WHERE orderkey NOT IN (SELECT orderkey FROM {table})"
            )
        else:
            raise ValueError(f"no reference for {method}")

    def compare(self, spark, catalog) -> list[str]:
        """Mismatch descriptions, one per destination that differs."""
        mismatches = []
        for t in TEMPLATES.values():
            cols = [c for c, _ in t.columns] + (
                [PARTITION_COL] if t.partition.is_partitioned else []
            )
            got = [tuple(r) for r in catalog.read(t.fqn).select(*cols).collect()]
            want = self.con.execute(f"SELECT {', '.join(cols)} FROM {t.table}").fetchall()
            if normalize_rows(got, cols) != normalize_rows(want, cols):
                mismatches.append(
                    f"{t.fqn}: {len(got)} rows, reference {len(want)} rows, values differ"
                )
        return mismatches


def check_queries(spark, data_dir: str, names) -> list[str]:
    """Each catalog spec against its ``__spark_entry__.oracle_sql()``."""
    import __spark_entry__

    from transformers_spark import cache
    from transformers_spark.queries import QUERIES

    oracles = __spark_entry__.oracle_sql()
    con = duckdb_connect_views(data_dir)
    mismatches = []
    for name in names:
        df = QUERIES[name].build(spark, data_dir)
        cols = [c.lower() for c in df.columns]
        got = [tuple(r) for r in df.collect()]
        cache.release()
        res = con.execute(oracles[name])
        want_cols = [d[0].lower() for d in res.description]
        want = res.fetchall()
        if sorted(cols) != sorted(want_cols) or normalize_rows(got, cols) != normalize_rows(
            want, want_cols
        ):
            mismatches.append(f"{name}: {len(got)} rows, oracle {len(want)} rows, values differ")
    return mismatches

