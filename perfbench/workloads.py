"""The three workloads: task templates, seeded schedules and one op each.

Every op goes through the program's public functions only. The seed
fixes the order of templates, the windows, and which ops re-run an
earlier window; the program sees only the generated SQL and windows.

* ``daily_jobs`` — one scheduled-job lifecycle per op on a 1-day window:
  ``windowing.window_for`` → ``engine.compile_assets`` →
  ``DependencyResolver.resolve`` → ``runner.run_task`` on one shared
  ``Engine``. About one op in five re-runs an earlier window, as
  scheduler retries do. Chosen because each op touches tens to thousands
  of rows, so fixed per-job cost (planning, catalog calls, commits,
  Spark job count) dominates.
* ``backfill`` — the same lifecycle over 30-90 day windows: per-day
  REPLACE fan-out, REPLACE_MERGE (auto and filtered) and a month-long
  MERGE into a full-history table. Chosen because the bulk write path,
  read-modify-write DML and wide per-day unions dominate.
* ``operator_queries`` — one catalog spec per op from
  ``transformers_spark.queries.QUERIES``, forced with a ``noop`` write,
  then ``cache.release()``. Read-only and compute/shuffle heavy, so it is
  the control for orchestration changes and the target for operator
  changes.
"""

from __future__ import annotations

import functools
import os
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

from transformers_spark import cache, engine, runner, windowing
from transformers_spark.catalog import PartitionKind, PartitionSpec
from transformers_spark.config import LoadMethod, TaskConfig
from transformers_spark.plans import DependencyResolver
from transformers_spark.queries import QUERIES

from datagen import EVENTS_DAYS, EVENTS_FIRST_DAY, ORDERS_FIRST_DAY, ORDERS_LAST_DAY

__all__ = ["TEMPLATES", "QUERY_SPECS", "WORKLOADS", "Op", "schedule", "Jobs"]

TEMPLATE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "templates")
PROJECT = "bench-proj"
SOURCE_TABLES = ("orders", "lineitem", "events")


@dataclass(frozen=True)
class Template:
    name: str
    load_method: LoadMethod
    table: str
    columns: tuple[tuple[str, str], ...]
    partition: PartitionSpec
    source: str  # source table whose date column the window filters
    source_date_col: str
    filter_expression: str | None = None

    @property
    def fqn(self) -> str:
        return f"{PROJECT}.mart.{self.table}"

    @functools.cached_property
    def sql(self) -> str:
        with open(os.path.join(TEMPLATE_DIR, f"{self.name}.sql")) as fh:
            return fh.read()


_COL_DAY = PartitionKind.COLUMN_DAY
TEMPLATES: dict[str, Template] = {t.name: t for t in (
    Template(
        "append_events", LoadMethod.APPEND, "events_log",
        (("event_id", "bigint"), ("event_day", "date"), ("user_id", "bigint"),
         ("event_type", "string"), ("value", "double")),
        PartitionSpec(), "events", "ts",
    ),
    Template(
        "replace_events_snapshot", LoadMethod.REPLACE, "event_type_snapshot",
        (("event_type", "string"), ("n_events", "bigint"), ("n_users", "bigint"),
         ("total_value", "double")),
        PartitionSpec(), "events", "ts",
    ),
    Template(
        "replace_orders_daily", LoadMethod.REPLACE, "orders_daily",
        (("order_date", "date"), ("priority", "string"), ("n_orders", "bigint"),
         ("revenue", "double")),
        PartitionSpec(_COL_DAY, "order_date"), "orders", "o_orderdate",
    ),
    Template(
        "replace_all_shipments", LoadMethod.REPLACE_ALL, "shipments_window",
        (("returnflag", "string"), ("linestatus", "string"), ("n_lines", "bigint"),
         ("quantity", "double")),
        PartitionSpec(PartitionKind.INGESTION_DAY), "lineitem", "l_shipdate",
    ),
    Template(
        "replace_merge_customers", LoadMethod.REPLACE_MERGE, "customer_orders_daily",
        (("order_date", "date"), ("custkey", "bigint"), ("n_orders", "bigint"),
         ("spend", "double")),
        PartitionSpec(_COL_DAY, "order_date"), "orders", "o_orderdate",
    ),
    Template(
        "replace_merge_shipments", LoadMethod.REPLACE_MERGE, "shipments_daily",
        (("ship_day", "date"), ("returnflag", "string"), ("n_lines", "bigint"),
         ("gross", "double")),
        PartitionSpec(_COL_DAY, "ship_day"), "lineitem", "l_shipdate",
        filter_expression="ship_day >= DATE('__dstart__') AND ship_day < DATE('__dend__')",
    ),
    Template(
        "merge_order_status", LoadMethod.MERGE, "order_status",
        (("orderkey", "bigint"), ("custkey", "bigint"), ("status", "string"),
         ("totalprice", "double"), ("order_date", "date"), ("loaded_from", "date")),
        PartitionSpec(), "orders", "o_orderdate",
    ),
)}

# Heavy catalog specs with DuckDB oracles, and the tables each one reads.
# An odd count keeps the median op inside one spec's samples. Five, not
# eight: text_bm25_retrieval, curated_documents and similarity_pq_adc
# would add ~15 s of cold warm-up and ~7 s per pass to every run, which
# the benchmark's run budget cannot carry.
QUERY_SPECS: dict[str, tuple[str, ...]] = {
    "dedup_minhash_lsh": ("documents",),
    "dedup_ngram_jaccard": ("documents",),
    "order_basket_pairs": ("lineitem",),
    "customer_rfm_segments": ("orders",),
    "nation_profit_trend": ("lineitem", "orders", "part", "supplier", "nation"),
}

# Per workload: the data scale, one pass of (template, window days low,
# high) — a pass holds every entry once, in seeded order — and how many
# seconds of ``--seconds`` one timed pass stands for, about a warm pass on
# a 4-vCPU machine; it turns ``--seconds`` into a pass count.
WORKLOADS: dict[str, dict] = {
    "daily_jobs": {
        "scale": 0.1,
        "pass": [(name, 1, 1) for name in TEMPLATES],  # seven load paths
        "rerun_share": 0.2,
        "pass_s": 6.0,
    },
    "backfill": {
        "scale": 0.1,
        "pass": [
            ("replace_orders_daily", 30, 30),
            ("replace_merge_customers", 30, 90),
            ("replace_merge_shipments", 30, 90),
            ("merge_order_status", 28, 31),
        ],
        "rerun_share": 0.0,
        "pass_s": 12.0,
    },
    "operator_queries": {
        "scale": 0.01,
        "pass": [(name, 0, 0) for name in QUERY_SPECS],
        "rerun_share": 0.0,
        "pass_s": 5.0,  # a warm pass takes ~7 s; 5 gives three passes, 15 samples
    },
}


@dataclass(frozen=True)
class Op:
    kind: str  # template or spec name
    end: datetime | None = None  # schedule time = window end
    days: int = 0
    rerun: bool = False

    @property
    def start(self) -> datetime:
        return self.end - timedelta(days=self.days)


def _window_end(rng: random.Random, template: Template, days: int) -> datetime:
    if template.source == "events":
        first, span = EVENTS_FIRST_DAY, EVENTS_DAYS
    else:
        first, span = ORDERS_FIRST_DAY, (ORDERS_LAST_DAY - ORDERS_FIRST_DAY).days
    return first + timedelta(days=rng.randint(days, max(days, span)))


def schedule(workload: str, seed: int, n_passes: int) -> list[list[Op]]:
    """``n_passes`` passes of ops; every pass holds each entry of the
    workload's pass once, so the template mix is the same in every run."""
    spec = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    passes: list[list[Op]] = []
    done: list[Op] = []
    for _ in range(n_passes):
        entries = list(spec["pass"])
        rng.shuffle(entries)
        ops = []
        for name, low, high in entries:
            if name in QUERY_SPECS:
                op = Op(name)
            elif done and passes and rng.random() < spec["rerun_share"]:
                earlier = rng.choice([o for o in done if o.kind == name])
                op = Op(earlier.kind, earlier.end, earlier.days, rerun=True)
            else:
                days = rng.randint(low, high)
                op = Op(name, _window_end(rng, TEMPLATES[name], days), days)
            ops.append(op)
            done.append(op)
        passes.append(ops)
    return passes


class Jobs:
    """Runs ops of one workload against one Spark session."""

    def __init__(self, spark, data_dir: str, work_dir: str):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.xcom_path = os.path.join(work_dir, "xcom.json")
        self.engine = engine.Engine(spark)
        self.resolver = DependencyResolver(spark)

    # -- setup ---------------------------------------------------------
    def setup_catalog(self) -> None:
        """Register the sources in the catalog and create every
        destination (CREATE_NEVER: the engine never creates them itself).
        Sources are parquet tables over hard links to the generated files,
        as pre-existing warehouse tables would be. The MERGE destination
        starts as full history minus every fourth order, so a MERGE both
        updates and inserts."""
        spark, cat = self.spark, self.engine.catalog
        for db in ("bench_proj_src", "bench_proj_mart"):
            spark.sql(f"DROP DATABASE IF EXISTS `{db}` CASCADE")
        spark.sql("CREATE DATABASE `bench_proj_src`")
        for name in SOURCE_TABLES:
            location = os.path.join(self.work_dir, "sources", name)
            os.makedirs(location)
            os.link(os.path.join(self.data_dir, f"{name}.parquet"),
                    os.path.join(location, "part-00000.parquet"))
            spark.sql(f"CREATE TABLE `bench_proj_src`.`{name}` USING PARQUET LOCATION '{location}'")
        for t in TEMPLATES.values():
            cat.create_table(t.fqn, list(t.columns), t.partition)
        status = TEMPLATES["merge_order_status"]
        spark.sql(
            f"INSERT OVERWRITE `bench_proj_mart`.`{status.table}` "
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            "CAST(o_orderdate AS DATE), CAST(NULL AS DATE) "
            "FROM `bench_proj_src`.`orders` WHERE o_orderkey % 4 != 0"
        )

    # -- ops -----------------------------------------------------------
    def run(self, op: Op, span) -> None:
        """One op; ``span(name)`` times the benchmark's own sub-steps."""
        if op.kind in QUERY_SPECS:
            with span("queries.build"):
                df = QUERIES[op.kind].build(self.spark, self.data_dir)
            with span("queries.execute"):
                df.write.format("noop").mode("overwrite").save()
            span.count("cache.released", cache.release())
            return
        t = TEMPLATES[op.kind]
        window = windowing.window_for(op.end, f"{24 * op.days}h", "", "d")
        sql = engine.compile_assets(
            t.sql, window.start, window.end, t.load_method, execution_time=op.end
        )
        # a multi-day REPLACE compiles to one query per day; each reads
        # the same tables, so the first one gives the dependencies
        self.resolver.resolve(sql.split(engine.BREAK_MARKER)[0], t.fqn)
        cfg = TaskConfig(
            destination_project=PROJECT,
            destination_dataset="mart",
            destination_table_name=t.table,
            load_method=t.load_method,
            filter_expression=t.filter_expression,
        )
        result = runner.run_task(
            self.spark, cfg, sql, window.start, window.end, op.end,
            xcom_path=self.xcom_path, engine=self.engine,
        )
        span.count("loaders.rows_written", result.rows_written or 0)
