"""The transformation engine: load-method dispatch over Spark.

Re-expresses the reference's `Transformation` dispatch + strategies
(reference: executor/bumblebee/transformation.py:22-161) Spark-first:

| LOAD_METHOD    | destination          | engine behavior                      |
|----------------|----------------------|--------------------------------------|
| APPEND         | any                  | run query → append                   |
| REPLACE        | non-partitioned      | first break-split query → truncate   |
| REPLACE        | DAY-partitioned      | per-day fan-out, one partition each  |
| REPLACE_ALL    | non-partitioned      | truncate                             |
| REPLACE_ALL    | partitioned          | single partition = window start      |
| REPLACE_MERGE  | non-partitioned      | truncate                             |
| REPLACE_MERGE  | partitioned + filter | delete-by-filter + insert            |
| REPLACE_MERGE  | partitioned (auto)   | dynamic partition overwrite          |
| MERGE          | any                  | script/DML runner (emulated MERGE)   |

Queries are rendered (macros), transpiled (BQ→Spark dialect), executed
by Catalyst, and written through the loaders. Scripts (DECLARE/SET/
CREATE TEMP TABLE/TEMP FUNCTION + DML) run statement-by-statement.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, PartitionKind
from .config import LoadMethod, TaskConfig
from .dialect import (
    classify_statement,
    split_statements,
    table_references,  # noqa: F401 — perfbench/tracer.py wraps engine.table_references
    transpile,
)
from .dml import (
    execute_delete,
    execute_merge,
    execute_update,
    fqn_for_spark_name,
    parse_delete,
    parse_merge,
    parse_update,
)
from .loaders import Writer, table_write_lock
from .macros import render_macros
from .session import apply_engine_conf
from .windowing import CustomWindow, Window, localise_datetime

__all__ = ["Engine", "TransformResult", "BREAK_MARKER", "compile_assets"]

BREAK_MARKER = "--*--optimus-break-marker--*--"


@dataclass
class TransformResult:
    load_method: LoadMethod
    destination: str
    rendered_queries: list[str] = field(default_factory=list)
    partitions_written: list[date] = field(default_factory=list)
    rows: list[Any] = field(default_factory=list)  # script SELECT results
    dry_run: bool = False
    # observed output rows (BQ job output-row statistics analogue);
    # None for dry runs and pure-script tasks with no observed write
    rows_written: int | None = None


def compile_assets(
    query_template: str,
    dstart: datetime,
    dend: datetime,
    load_method: LoadMethod,
    execution_time: datetime | None = None,
) -> str:
    """Per-day template compile (reference: task/bq2bq/main.go:88-168):
    for REPLACE windows > 1 day, render the Go-template once per day
    with {{ .DSTART }}/{{ .DEND }} bound to that day and join the parts
    with the break marker."""

    def render(template: str, start: datetime, end: datetime) -> str:
        def sub(m: re.Match) -> str:
            name, flt = m.group(1).upper(), (m.group(2) or "").strip()
            value = {
                "DSTART": start,
                "DEND": end,
                "EXECUTION_TIME": execution_time or end,
            }.get(name)
            if value is None:
                return m.group(0)
            if flt == "Date":
                return value.strftime("%Y-%m-%d")
            return value.strftime("%Y-%m-%dT%H:%M:%SZ")

        return re.sub(r"\{\{\s*\.(\w+)\s*(?:\|\s*(\w+)\s*)?\}\}", sub, template)

    window_days = (dend - dstart) / timedelta(days=1)
    if load_method is not LoadMethod.REPLACE or window_days <= 1:
        return render(query_template, dstart, dend)
    if window_days != int(window_days):
        raise ValueError("REPLACE window must be a whole number of days for per-day compile")
    parts = []
    day = dstart
    while day < dend:
        parts.append(render(query_template, day, day + timedelta(days=1)))
        day += timedelta(days=1)
    return ("\n" + BREAK_MARKER + "\n").join(parts)


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog | None = None,
        udf_registry: dict[str, tuple[Callable, str]] | None = None,
        udtf_registry: dict[str, Any] | None = None,
    ):
        # The session may be user-created (the driver hands us its own);
        # apply runtime-settable engine conf (UTC, AQE, nanos-parquet,
        # dynamic partition overwrite) so library behavior doesn't depend
        # on who built the session.
        apply_engine_conf(spark)
        self.spark = spark
        self.catalog = catalog or Catalog(spark)
        self.writer = Writer(spark, self.catalog)
        # name -> (python callable, spark return type ddl); the engine's
        # replacement for BQ JS temp functions (reference:
        # samples/tasks/select/federated_table/query.sql:1-6)
        self.udf_registry = udf_registry or {}
        # name → pyspark @udtf class; the table-valued analogue of
        # udf_registry (BQ CREATE TEMP TABLE FUNCTION)
        self.udtf_registry = udtf_registry or {}

    # ------------------------------------------------------------------
    def transform(
        self,
        task_config: TaskConfig,
        sql_query: str,
        dstart: datetime,
        dend: datetime,
        execution_time: datetime,
        dry_run: bool = False,
    ) -> TransformResult:
        result = self._transform(
            task_config, sql_query, dstart, dend, execution_time, dry_run
        )
        # stamp observed output rows once, whatever branch returned
        result.rows_written = self.writer.rows_written
        return result

    def _transform(
        self,
        task_config: TaskConfig,
        sql_query: str,
        dstart: datetime,
        dend: datetime,
        execution_time: datetime,
        dry_run: bool = False,
    ) -> TransformResult:
        tz = task_config.timezone
        l_exec = localise_datetime(execution_time, tz)
        window = CustomWindow(localise_datetime(dstart, tz), localise_datetime(dend, tz))
        dest = task_config.destination_table
        method = task_config.load_method
        result = TransformResult(load_method=method, destination=dest, dry_run=dry_run)
        self.writer.reset_rows_written()

        if method is LoadMethod.MERGE:
            # the script's DML locks and prepares its own targets
            rendered = render_macros(
                sql_query, window=window, execution_time=l_exec,
                destination_table=dest, strict=True,
            )
            result.rendered_queries.append(rendered)
            if not dry_run:
                result.rows = self.run_script(rendered, default_destination=dest)
            else:
                self._dry_run_validate(rendered)
            return result

        if dry_run:  # plans without locking or preparing
            self._load(task_config, sql_query, window, l_exec, result, dry_run)
            return result
        # One critical section per load: the destination's lock is held
        # from the entry step (which finishes an interrupted commit)
        # through plan build, version write and commit, so a query that
        # reads its own destination plans the state its commit replaces,
        # and concurrent in-process loads of one table end in SOME
        # serial order (loaders.py).
        with table_write_lock(self.catalog.spark_name(dest)):
            self.writer.prepare(dest)
            self._load(task_config, sql_query, window, l_exec, result, dry_run)
        return result

    def _load(
        self,
        task_config: TaskConfig,
        sql_query: str,
        window: CustomWindow,
        l_exec: datetime,
        result: TransformResult,
        dry_run: bool,
    ) -> None:
        """Render and plan a non-MERGE load's frames, then make its one
        write: the query's first break-split part, or one frame per day
        for a day-partitioned REPLACE (reference
        MultiPartitionTransformation, transformation.py:362-428)."""
        dest = task_config.destination_table
        method = task_config.load_method
        allow = task_config.allow_field_addition
        # CREATE_NEVER: the destination must exist (an APPEND plans
        # without its metadata)
        meta = None if method is LoadMethod.APPEND else self.catalog.get_table(dest)
        partitioned = meta is not None and meta.partition.is_partitioned
        if (
            method is LoadMethod.REPLACE_MERGE
            and partitioned
            and meta.partition.kind == PartitionKind.INGESTION_DAY
            and task_config.filter_expression is None
        ):
            raise ValueError(
                "partition filter is required for tables partitioned with "
                "INGESTION TIME, e.g. date(`_PARTITIONTIME`) >= date('{{.DSTART}}')"
            )
        parts = sql_query.split(BREAK_MARKER)
        if method is LoadMethod.REPLACE and partitioned:
            days = window.days()
            if len(parts) < len(days):
                raise ValueError(
                    f"query needs to be broken using {BREAK_MARKER}, "
                    f"{len(parts)} queries found, needed {len(days)}"
                )
            jobs = [
                (part, CustomWindow(day, day + timedelta(days=1)))
                for part, day in zip(parts, days)
            ]
            result.partitions_written.extend(
                day.date() if isinstance(day, datetime) else day for day in days
            )
        elif method in (LoadMethod.REPLACE, LoadMethod.REPLACE_ALL) and not partitioned:
            jobs = [(parts[0], window)]
        else:
            jobs = [(sql_query, window)]
        frames = []
        for query, job_window in jobs:
            df, rendered = self._render_and_plan(query, job_window, l_exec, dest)
            frames.append(df)
            result.rendered_queries.append(rendered)
        if dry_run:
            return

        # One write job even for a multi-day REPLACE: the reference fans
        # out N concurrent per-partition BQ jobs; in Spark a single union
        # job scans the source once and parallelizes internally, so
        # CONCURRENCY maps to executor parallelism, not driver threads.
        # Orchestrator-level concurrency (N transforms at once against
        # one table) needs no session isolation: the loaders set no
        # session conf, and the table lock _transform holds serializes
        # the loads of one table
        # (tests/test_concurrency.py, tests/test_concurrent_dml.py).
        if method is LoadMethod.APPEND:
            self.writer.append(
                dest, frames[0], partition_date=l_exec.date(), allow_field_addition=allow
            )
        elif not partitioned:
            self.writer.overwrite_table(dest, frames[0], allow_field_addition=allow)
        elif method is LoadMethod.REPLACE:
            self.writer.overwrite_partitions(
                dest, dict(zip(result.partitions_written, frames)),
                allow_field_addition=allow,
            )
        elif method is LoadMethod.REPLACE_ALL:
            # destination partition = window START (aggregations whose
            # source partitions don't map 1:1; reference
            # SinglePartitionTransformation, transformation.py:235-270)
            self.writer.overwrite_partition(
                dest, frames[0], partition_date=window.start.date(),
                allow_field_addition=allow,
            )
            result.partitions_written.append(window.start.date())
        elif task_config.filter_expression is not None:
            filter_expr = transpile(
                render_macros(
                    task_config.filter_expression, window=window,
                    execution_time=l_exec, destination_table=dest, strict=True,
                )
            )
            self.writer.delete_insert(
                dest, frames[0], filter_expression=filter_expr,
                allow_field_addition=allow,
                # ingestion-time tables stamp inserted rows with the
                # load day (BigQuery's _PARTITIONTIME semantics)
                partition_date=l_exec,
            )
        else:
            self.writer.overwrite_dynamic(dest, frames[0], allow_field_addition=allow)

    # ------------------------------------------------------------------
    def collect_spillover_dates(
        self,
        spillover_sql: str,
        dstart: datetime,
        dend: datetime,
        execution_time: datetime,
        timezone: str = "UTC",
    ) -> list[date]:
        """Legacy spillover: run the spillover query (first column =
        dates) and return the distinct partition dates to re-run
        (reference: transformation.py:489-522)."""
        window = CustomWindow(
            localise_datetime(dstart, timezone), localise_datetime(dend, timezone)
        )
        rendered = render_macros(
            spillover_sql,
            window=window,
            execution_time=localise_datetime(execution_time, timezone),
            strict=True,
        )
        rows = self.spark.sql(transpile(rendered)).collect()
        out: list[date] = []
        for row in rows:
            value = row[0]
            if isinstance(value, datetime):
                value = value.date()
            if value is not None and value not in out:
                out.append(value)
        return out

    # ------------------------------------------------------------------
    def _render_and_plan(
        self, sql_query: str, window: Window, execution_time: datetime, dest: str
    ) -> tuple[DataFrame, str]:
        rendered = render_macros(
            sql_query, window=window, execution_time=execution_time,
            destination_table=dest, strict=True,
        )
        spark_sql = transpile(rendered)
        statements = split_statements(spark_sql)
        if len(statements) == 1:
            return self.spark.sql(statements[0]), rendered
        # script-with-headers (BQ runs these natively; we execute the
        # DDL headers and plan the single SELECT body lazily)
        variables: dict[str, Any] = {}
        last_df: DataFrame | None = None
        for stmt in statements:
            stmt = _substitute_variables(stmt, variables)
            if self._exec_script_header(stmt, variables):
                continue
            if classify_statement(stmt) == "select":
                if last_df is not None:
                    raise ValueError("script must have exactly one SELECT body")
                last_df = self.spark.sql(stmt)
            else:
                raise ValueError(
                    f"unsupported statement in read-path script: {stmt[:60]!r}"
                )
        if last_df is None:
            raise ValueError("script has no SELECT body")
        return last_df, rendered

    def _exec_script_header(self, stmt: str, variables: dict[str, Any]) -> bool:
        """Execute a DDL/variable header statement; False if ``stmt``
        isn't a header."""
        kind = classify_statement(stmt)
        if kind == "declare":
            # DECLARE name [type] [DEFAULT expr] — BQ initializes the
            # variable with the DEFAULT expression (NULL without one)
            # the optional type group must not swallow "DEFAULT <expr>"
            # when the type is omitted (BQ infers it from the default)
            m = re.match(
                r"DECLARE\s+(\w+(?:\s*,\s*\w+)*)(?:\s+(?!DEFAULT\b)[\w<>,() ]+?)?"
                r"(?:\s+DEFAULT\s+(.+?))?\s*;?\s*$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if m:
                default = m.group(2)
                if default is None:
                    value = None
                else:
                    literal = _parse_literal(default)
                    value = (
                        literal
                        if literal is not _NOT_LITERAL
                        else self.spark.sql(f"SELECT {default}").collect()[0][0]
                    )
                for name in re.split(r"\s*,\s*", m.group(1)):
                    variables[name] = value
            return True
        if kind == "set":
            self._run_set(stmt, variables)
            return True
        if kind == "create_temp_function":
            self._register_temp_function(stmt)
            return True
        if kind == "create_temp_table_function":
            self._register_temp_table_function(stmt)
            return True
        if kind == "create_temp_table":
            m = re.match(
                r"CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+`?(\w+)`?\s+AS\s*(.*)$",
                stmt,
                re.IGNORECASE | re.DOTALL,
            )
            if m is None:
                raise ValueError(f"cannot parse CREATE TEMP TABLE: {stmt[:80]!r}")
            name, body = m.group(1), m.group(2).strip()
            if body.startswith("(") and body.endswith(")"):
                body = body[1:-1]
            self.spark.sql(body).createOrReplaceTempView(name)
            return True
        return False

    def _dry_run_validate(self, rendered: str) -> None:
        """Dry-run = Catalyst analysis without execution (the analogue
        of a BigQuery dry run; reference: transformation.py:195-196)."""
        for stmt in split_statements(transpile(rendered)):
            if classify_statement(stmt) == "select":
                self.spark.sql(stmt).explain(mode="cost")

    # -- script runner (MERGE load method / multi-statement scripts) ----

    _VAR_TYPES = ("INT64", "FLOAT64", "STRING", "DATE", "TIMESTAMP", "BOOL")

    # Bare SELECTs in a script return rows to the client (BQ script
    # semantics) — but an unbounded collect of a SELECT over a 100 TB
    # table is a driver OOM. Mirrors BQ's own response-size cap in
    # spirit: scripts wanting large results should write to a table.
    MAX_SCRIPT_RESULT_ROWS = 100_000

    def run_script(self, script: str, default_destination: str | None = None) -> list:
        """Execute a (rendered, BQ-dialect) script statement by
        statement: DECLARE/SET variables, CREATE TEMP TABLE/FUNCTION,
        MERGE/DELETE (emulated), DROP TABLE, SELECT.

        Each bare SELECT's result is returned driver-side, capped at
        ``MAX_SCRIPT_RESULT_ROWS`` — exceeding the cap raises rather
        than silently truncating (or silently OOMing the driver)."""
        variables: dict[str, Any] = {}
        results: list = []
        for raw_stmt in split_statements(script):
            stmt = transpile(raw_stmt)
            stmt = _substitute_variables(stmt, variables)
            if self._exec_script_header(stmt, variables):
                continue
            kind = classify_statement(stmt)
            if kind == "merge":
                parsed = parse_merge(stmt)
                fqn = fqn_for_spark_name(self.catalog, parsed.target) or default_destination
                if fqn is None:
                    raise ValueError(f"unknown MERGE target {parsed.target}")
                execute_merge(self.spark, self.catalog, self.writer, parsed, fqn)
            elif kind == "delete":
                target, predicate = parse_delete(stmt)
                fqn = fqn_for_spark_name(self.catalog, target) or default_destination
                if fqn is None:
                    raise ValueError(f"unknown DELETE target {target}")
                execute_delete(self.spark, self.catalog, self.writer, fqn, predicate)
            elif kind == "update":
                target, assignments, predicate = parse_update(stmt)
                fqn = fqn_for_spark_name(self.catalog, target) or default_destination
                if fqn is None:
                    raise ValueError(f"unknown UPDATE target {target}")
                execute_update(
                    self.spark, self.catalog, self.writer, fqn, assignments, predicate
                )
            elif kind == "export_data":
                from .exports import execute_export_data

                execute_export_data(self.spark, stmt)
            elif kind == "drop_table":
                m = re.match(r"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?(.+)$", stmt, re.IGNORECASE)
                name = m.group(1).strip().strip(";").strip()
                fqn = fqn_for_spark_name(self.catalog, name.replace("`", "")) or name
                self.catalog.drop_table(fqn) if "." in fqn else self.spark.sql(stmt)
            elif kind == "select":
                # take(cap+1): bounded driver transfer even when the
                # result is huge — never a full collect before the check
                rows = self.spark.sql(stmt).take(self.MAX_SCRIPT_RESULT_ROWS + 1)
                if len(rows) > self.MAX_SCRIPT_RESULT_ROWS:
                    raise ValueError(
                        f"script SELECT returned more than "
                        f"{self.MAX_SCRIPT_RESULT_ROWS} rows; write large "
                        "results to a destination table instead of "
                        "returning them to the client"
                    )
                results.append(rows)
            else:
                self.spark.sql(stmt)
        return results

    def _run_set(self, stmt: str, variables: dict[str, Any]) -> None:
        # SET x = <expr>  |  SET (x) = (SELECT AS STRUCT <agg>)
        struct_m = re.match(
            r"SET\s*\(\s*(\w+)\s*\)\s*=\s*\(\s*SELECT\s+AS\s+STRUCT\s+(.*)\)\s*$",
            stmt,
            re.IGNORECASE | re.DOTALL,
        )
        if struct_m:
            name, select_body = struct_m.group(1), struct_m.group(2)
            row = self.spark.sql(f"SELECT {select_body}").collect()[0]
            variables[name] = row[0]
            return
        m = re.match(r"SET\s+(\w+)\s*=\s*(.*)$", stmt, re.IGNORECASE | re.DOTALL)
        if m is None:
            raise ValueError(f"cannot parse SET: {stmt[:80]!r}")
        name, expr = m.group(1), m.group(2).strip().rstrip(";")
        literal = _parse_literal(expr)
        if literal is not _NOT_LITERAL:
            variables[name] = literal
        else:
            variables[name] = self.spark.sql(f"SELECT {expr}").collect()[0][0]

    def _register_temp_function(self, stmt: str) -> None:
        m = re.match(
            r"CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+FUNCTION\s+`?(\w+)`?",
            stmt,
            re.IGNORECASE,
        )
        name = m.group(1)
        if name in self.udf_registry:
            fn, return_type = self.udf_registry[name]
            self.spark.udf.register(name, fn, return_type)
        else:
            raise ValueError(
                f"temp function {name!r} has no Python implementation registered; "
                "JS function bodies are not portable — register one via "
                "Engine(udf_registry={...})"
            )

    def _register_temp_table_function(self, stmt: str) -> None:
        """BQ ``CREATE TEMP TABLE FUNCTION name(...)`` → registered
        Python UDTF. Like scalar temp functions, the statement's SQL
        body is not executed — the NAME maps to a Python implementation
        (Arrow-batched pyspark ``@udtf``), callable in the FROM clause."""
        m = re.match(
            r"CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+FUNCTION\s+`?(\w+)`?",
            stmt,
            re.IGNORECASE,
        )
        name = m.group(1)
        if name not in self.udtf_registry:
            raise ValueError(
                f"temp table function {name!r} has no Python implementation "
                "registered; register a pyspark @udtf class via "
                "Engine(udtf_registry={...})"
            )
        self.spark.udtf.register(name, self.udtf_registry[name])


_NOT_LITERAL = object()


def _parse_literal(expr: str):
    e = expr.strip()
    if re.fullmatch(r"-?\d+", e):
        return int(e)
    if re.fullmatch(r"-?\d+\.\d*", e):
        return float(e)
    if len(e) >= 2 and e[0] in "'\"" and e[-1] == e[0]:
        return e[1:-1]
    if e.upper() in ("TRUE", "FALSE"):
        return e.upper() == "TRUE"
    return _NOT_LITERAL


def _format_literal(value: Any) -> str:
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return str(value)
    if isinstance(value, datetime):
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S.%f')}'"
    if isinstance(value, date):
        return f"DATE '{value.isoformat()}'"
    if isinstance(value, (list, tuple)):
        return "ARRAY(" + ", ".join(_format_literal(v) for v in value) + ")"
    escaped = str(value).replace("'", "\\'")
    return f"'{escaped}'"


def _substitute_variables(stmt: str, variables: dict[str, Any]) -> str:
    """Replace free occurrences of script variables with literals.

    String literals and comments are masked first — BQ scripting never
    substitutes inside a quoted literal (``SET power=2; SELECT 'power
    plant'`` keeps the literal intact). The replacement goes through a
    callable so literal values containing backslashes or ``\\1`` are
    inserted verbatim, not interpreted as regex escapes."""
    if not variables:
        return stmt
    from .dialect import _mask, _unmask

    masked = _mask(stmt)
    text = masked.text
    for name, value in variables.items():
        if value is None:
            continue
        lit = _format_literal(value)

        def repl(_m, _lit=lit):
            # inserted literals become masked slots too, so a later
            # variable whose name appears inside this value's text is
            # not substituted into it
            masked.saved.append(_lit)
            return f"\x00{len(masked.saved) - 1}\x00"

        # lookahead also excludes '.': `p.x` where p is both a
        # variable and a table alias must stay a qualified reference
        # (BigQuery resolves name collisions in favor of the column)
        text = re.sub(rf"(?<![\w`.]){re.escape(name)}(?![\w`.])", repl, text)
    return _unmask(masked, text)
