"""Headline query catalog — the engine's SQL-surface coverage, each
query expressed Spark-first (DataFrame API → Catalyst) with a matching
DuckDB oracle for the correctness gate.

Coverage maps to SURVEY.md §2.B: scans, projections, range predicates,
inner/left/semi joins, CTEs, group-by (incl. ordinals), distinct,
set ops, sorts/limits, date functions (EXTRACT/DATE_TRUNC/CAST), and
the reference's windowed-transformation pattern (macros + half-open
time windows, reference: executor/bumblebee/query.py:70-118).

Numeric stability for the oracle hash-compare: every floating-point
aggregate is computed as an *exact decimal sum* (identical in Spark and
DuckDB regardless of row order / partitioning) and only cast to DOUBLE
at the end. Never sum raw doubles — that's order-dependent.

All engine↔oracle divergence classes discovered by the robustness
gates (null ordering, İ case folding, TRY_CAST, empty-input grouping
sets, duplicate-row multiset semantics, ...) live in ORACLES.md at the
repo root, one fix idiom per class — consult it before writing a new
oracle.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cache
from .macros import render_macros
from .sources.testdata import register_tables
from .windowing import Window, window_for

__all__ = ["QUERIES", "QuerySpec", "query_fns", "oracle_sqls"]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    description: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the same bare-name views


def _money(col: str):
    # Exact decimal for money math: value < 1e8, 4 decimal places.
    return F.col(col).cast("decimal(12,4)")


def _frac(expr):
    # 1±discount/tax style factors: small, 4 decimal places.
    return expr.cast("decimal(7,4)")


# ---------------------------------------------------------------------------
# The engine's flagship windowed transformation (reference parity path):
# a fixed schedule time + (size, offset, truncate) config produces the
# half-open window rendered into the SQL via __dstart__/__dend__ macros.
# ---------------------------------------------------------------------------

EVENTS_SCHEDULE = datetime(2024, 2, 1)
EVENTS_WINDOW: Window = window_for(EVENTS_SCHEDULE, "720h", "", "d")  # 30 days back

WINDOWED_EVENTS_SQL = """
SELECT
  CAST(ts AS DATE)                                   AS event_date,
  event_type,
  COUNT(*)                                           AS n_events,
  COUNT(DISTINCT user_id)                            AS n_users,
  CAST(SUM(TRY_CAST(value AS DECIMAL(12,4))) AS DOUBLE)  AS total_value
FROM events
WHERE ts >= '__dstart__' AND ts < '__dend__'
GROUP BY CAST(ts AS DATE), event_type
"""


def q_windowed_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.testdata import load_table

    # Register a pushdown-friendly pre-windowed view: the raw-nanos
    # range filter reaches the parquet scan; the macro-rendered SQL
    # filter on the converted column then only re-asserts the exact
    # half-open semantics. Registered under its OWN name — replacing
    # the shared "events" view with a filtered one would poison every
    # later query in the session (register_tables skips views it
    # already registered for this sf_dir).
    load_table(
        spark, sf_dir, "events",
        time_filter=("ts", EVENTS_WINDOW.start, EVENTS_WINDOW.end),
    ).createOrReplaceTempView("events_windowed")
    return spark.sql(
        render_macros(
            WINDOWED_EVENTS_SQL.replace("FROM events", "FROM events_windowed"),
            window=EVENTS_WINDOW,
        )
    )


def _windowed_events_oracle() -> str:
    return render_macros(WINDOWED_EVENTS_SQL, window=EVENTS_WINDOW)


# ---------------------------------------------------------------------------
# TPC-H-style relational coverage
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan + filter + hash aggregate (TPC-H Q1 shape). Partial (map-side)
    aggregation and parquet filter/column pushdown come from Catalyst."""
    register_tables(spark, sf_dir, ("lineitem",))
    li = spark.table("lineitem")
    disc_price = _money("l_extendedprice") * _frac(F.lit(1) - F.col("l_discount"))
    charge = disc_price * _frac(F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(_money("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING_SUMMARY = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE)      AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4)))
       AS DOUBLE)                                             AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4))
           * CAST(1 + l_tax AS DECIMAL(7,4))) AS DOUBLE)      AS sum_charge,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join + aggregate + deterministic top-k (TPC-H Q3 shape).
    customer is small → Catalyst broadcasts it; lineitem⋈orders shuffles
    on the join key with AQE sizing."""
    register_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
    cust = spark.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = spark.table("orders").filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    li = spark.table("lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
    revenue = _money("l_extendedprice") * _frac(F.lit(1) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT
  l_orderkey,
  o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join (TPC-H Q5 shape): all dims broadcast, the one big
    shuffle is lineitem⋈orders."""
    register_tables(
        spark, sf_dir, ("region", "nation", "customer", "supplier", "orders", "lineitem")
    )
    region = spark.table("region").filter(F.col("r_name") == "ASIA")
    nation = spark.table("nation")
    cust = spark.table("customer")
    supp = spark.table("supplier")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    revenue = _money("l_extendedprice") * _frac(F.lit(1) - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


ORACLE_LOCAL_SUPPLIER_VOLUME = """
SELECT
  n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4)))
       AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
JOIN supplier ON l_suppkey  = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
GROUP BY n_name
"""


def q_weekly_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week truncation + case-normalized filter — the reference's
    weekly_partitioned sample shape
    (reference: executor/samples/tasks/weekly_partitioned/query.sql)."""
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    return (
        ev.filter(F.lower(F.col("event_type")) == "purchase")
        .groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week_start_date"))
        .agg(
            F.count(F.lit(1)).alias("purchase_count"),
            F.countDistinct("user_id").alias("buyer_count"),
            F.sum(F.col("value").cast("decimal(12,4)")).cast("double").alias("purchase_value"),
        )
    )


ORACLE_WEEKLY_PURCHASES = """
SELECT
  CAST(DATE_TRUNC('week', ts) AS DATE)                AS week_start_date,
  COUNT(*)                                            AS purchase_count,
  COUNT(DISTINCT user_id)                             AS buyer_count,
  CAST(SUM(TRY_CAST(value AS DECIMAL(12,4))) AS DOUBLE)   AS purchase_value
FROM events
WHERE LOWER(event_type) = 'purchase'
GROUP BY CAST(DATE_TRUNC('week', ts) AS DATE)
"""


def q_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + aggregate preserving customers with no orders."""
    register_tables(spark, sf_dir, ("customer", "orders"))
    cust = spark.table("customer")
    orders = spark.table("orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("order_count"),
            F.coalesce(F.sum(_money("o_totalprice")).cast("double"), F.lit(0.0)).alias(
                "total_spent"
            ),
        )
    )


ORACLE_CUSTOMER_ORDER_STATS = """
SELECT
  c_custkey,
  c_name,
  c_mktsegment,
  COUNT(o_orderkey) AS order_count,
  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE), 0.0) AS total_spent
FROM customer
LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name, c_mktsegment
"""


def q_monthly_order_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + EXTRACT + ordinal GROUP BY + IN-list filter, via SQL text
    (the reference passes raw SQL through; Catalyst handles ordinals)."""
    register_tables(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        WITH monthly AS (
          SELECT
            CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS order_year,
            CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
            COUNT(*)                                     AS order_count,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS month_value
          FROM orders
          WHERE o_orderstatus IN ('O', 'F')
          GROUP BY 1, 2
        )
        SELECT order_year, order_month, order_count, month_value
        FROM monthly
        WHERE order_count > 0
        """
    )


ORACLE_MONTHLY_ORDER_ACTIVITY = """
WITH monthly AS (
  SELECT
    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)  AS order_year,
    CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
    COUNT(*)                                     AS order_count,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS month_value
  FROM orders
  WHERE o_orderstatus IN ('O', 'F')
  GROUP BY 1, 2
)
SELECT order_year, order_month, order_count, month_value
FROM monthly
WHERE order_count > 0
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existential semi-join (TPC-H Q4 shape) — LEFT SEMI avoids
    materializing the big side's payload columns."""
    register_tables(spark, sf_dir, ("orders", "lineitem"))
    orders = spark.table("orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = spark.table("lineitem")
    # "has at least one lineitem shipped after the order date"
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


ORACLE_ORDER_PRIORITY_CHECK = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
"""


def q_distinct_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (hash-aggregate dedup)."""
    register_tables(spark, sf_dir, ("events",))
    return spark.table("events").select("user_id", "event_type").distinct()


ORACLE_DISTINCT_EVENT_PAIRS = "SELECT DISTINCT user_id, event_type FROM events"


def q_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + conditional aggregation (TPC-H Q14 shape)."""
    register_tables(spark, sf_dir, ("lineitem", "part"))
    li = spark.table("lineitem")
    part = spark.table("part")
    revenue = _money("l_extendedprice") * _frac(F.lit(1) - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.when(F.col("p_type").startswith("PROMO"), revenue).otherwise(
        F.lit(0).cast("decimal(20,8)")
    )
    return joined.agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(revenue).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


ORACLE_PART_TYPE_SHARE = """
SELECT
  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
       THEN CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4))
       ELSE CAST(0 AS DECIMAL(20,8)) END) AS DOUBLE) AS promo_revenue,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(7,4)))
       AS DOUBLE) AS total_revenue,
  COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
"""


def q_high_value_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: UNION (dedup) of two customer populations, minus
    an EXCEPT'd slice."""
    register_tables(spark, sf_dir, ("customer",))
    cust = spark.table("customer")
    rich = cust.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    negative = cust.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return rich.union(machinery).distinct().exceptAll(negative)


ORACLE_HIGH_VALUE_UNION = """
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


def q_supplier_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + two-level aggregation with HAVING."""
    register_tables(spark, sf_dir, ("supplier", "nation"))
    supp = spark.table("supplier")
    nation = spark.table("nation")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("supplier_count"),
            F.sum(_money("s_acctbal")).cast("double").alias("total_balance"),
        )
        .filter(F.col("supplier_count") >= 1)
    )


ORACLE_SUPPLIER_NATION_ROLLUP = """
SELECT
  n_name,
  COUNT(*) AS supplier_count,
  CAST(SUM(CAST(s_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS total_balance
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
HAVING COUNT(*) >= 1
"""


def _all_specs() -> list["QuerySpec"]:
    from .analytics import analytics_specs
    from .expansion import expansion_specs
    from .expansion2 import expansion2_specs
    from .expansion3 import expansion3_specs
    from .expansion4 import expansion4_specs
    from .expansion5 import expansion5_specs
    from .expansion6 import expansion6_specs
    from .expansion7 import expansion7_specs
    from .operators.specs import pipeline_specs
    from .streaming.specs import streaming_specs

    # newest expansion stays LAST: the driver-cohort rotation orders
    # never-checked queries by catalog position, and appending keeps
    # every pre-existing query's position (and its earlier driver rows)
    # stable.
    return (
        _CORE_SPECS
        + pipeline_specs()
        + analytics_specs()
        + streaming_specs()
        + expansion_specs()
        + expansion2_specs()
        + expansion3_specs()
        + expansion4_specs()
        + expansion5_specs()
        + expansion6_specs()
        + expansion7_specs()
    )


_CORE_SPECS: list[QuerySpec] = [
        QuerySpec(
            "windowed_daily_events",
            "Flagship: half-open transformation window rendered via macros into a daily aggregate",
            q_windowed_daily_events,
            _windowed_events_oracle(),
        ),
        QuerySpec(
            "pricing_summary",
            "TPC-H Q1-shape scan+filter+aggregate",
            q_pricing_summary,
            ORACLE_PRICING_SUMMARY,
        ),
        QuerySpec(
            "shipping_priority",
            "TPC-H Q3-shape 3-way join + top-k",
            q_shipping_priority,
            ORACLE_SHIPPING_PRIORITY,
        ),
        QuerySpec(
            "local_supplier_volume",
            "TPC-H Q5-shape 6-way star join",
            q_local_supplier_volume,
            ORACLE_LOCAL_SUPPLIER_VOLUME,
        ),
        QuerySpec(
            "weekly_purchases",
            "Week-truncated aggregate (weekly_partitioned sample shape)",
            q_weekly_purchases,
            ORACLE_WEEKLY_PURCHASES,
        ),
        QuerySpec(
            "customer_order_stats",
            "LEFT JOIN aggregate preserving unmatched rows",
            q_customer_order_stats,
            ORACLE_CUSTOMER_ORDER_STATS,
        ),
        QuerySpec(
            "monthly_order_activity",
            "CTE + EXTRACT + ordinal GROUP BY + IN-list",
            q_monthly_order_activity,
            ORACLE_MONTHLY_ORDER_ACTIVITY,
        ),
        QuerySpec(
            "order_priority_check",
            "Existential semi-join (TPC-H Q4 shape)",
            q_order_priority_check,
            ORACLE_ORDER_PRIORITY_CHECK,
        ),
        QuerySpec(
            "distinct_event_pairs",
            "SELECT DISTINCT dedup",
            q_distinct_event_pairs,
            ORACLE_DISTINCT_EVENT_PAIRS,
        ),
        QuerySpec(
            "part_type_share",
            "Broadcast join + conditional aggregation (TPC-H Q14 shape)",
            q_part_type_share,
            ORACLE_PART_TYPE_SHARE,
        ),
        QuerySpec(
            "high_value_union",
            "UNION / EXCEPT ALL set operations",
            q_high_value_union,
            ORACLE_HIGH_VALUE_UNION,
        ),
        QuerySpec(
            "supplier_nation_rollup",
            "Join + aggregate + HAVING",
            q_supplier_nation_rollup,
            ORACLE_SUPPLIER_NATION_ROLLUP,
        ),
]

QUERIES: dict[str, QuerySpec] = {spec.name: spec for spec in _all_specs()}


def query_fns() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Catalog callables with cache lifecycle: building a query first
    releases intermediates persisted by PREVIOUS queries (materialized
    by then in every harness — build → collect → build), so cached
    gram/vocab frames don't accumulate across a full catalog run."""

    def with_release(build: Callable[[SparkSession, str], DataFrame]):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            cache.release()
            return build(spark, sf_dir)

        return run

    return {name: with_release(spec.build) for name, spec in QUERIES.items()}


def oracle_sqls() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}


# The multimodal VALUES-literal oracles are materialized from the
# driver's correctness sf (sf0.01); checks at any other sf must
# regenerate them for their own documents table or row/hash compares
# are against the wrong data.
_SF_DEPENDENT_ORACLE_KINDS = {
    "multimodal_image_features": "image",
    "multimodal_audio_features": "audio",
    "multimodal_resize_plan": "resize",
}


def oracle_for(name: str, sf_dir: str) -> "str | None":
    """The oracle SQL for ``name``, regenerated for ``sf_dir`` when the
    catalog literal is sf-bound (shared by the test gate and the
    gate runner, ``tools/run_gates.py``, so neither can drift)."""
    kind = _SF_DEPENDENT_ORACLE_KINDS.get(name)
    if kind is not None:
        from .operators.specs import _multimodal_oracle
        from .sources.testdata import table_path

        return _multimodal_oracle(kind, table_path(sf_dir, "documents"))
    return QUERIES[name].oracle
