"""Upstream-dependency resolution & destination URNs.

Two layers, mirroring the reference plugin (reference:
task/bq2bq/main.go:207-345):

* **regex** (`resolve_with_regex`): FROM/JOIN/WITH pattern scan with
  comment stripping, CTE pseudo-table filtering, destination cycle
  guard, and ``/* @ignoreupstream */`` (main.go:370-437). Fast, no
  session needed.
* **Catalyst** (`resolve_with_catalyst`): the replacement for the
  BigQuery dry-run (main.go:439-498). Parse the query → collect
  ``UnresolvedRelation`` nodes (covers subqueries); when the tables
  exist in the session catalog, analyze instead and collect resolved
  base relations — views expand to their underlying tables exactly
  like BQ's ``referencedTables``.

Results are cached with a 24 h TTL keyed by request hash
(main.go:59-61,527-557).
"""

from __future__ import annotations

import hashlib
import re
import time
import warnings
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from ..dialect import (
    _LEADING_COMMENT_RE,
    spark_table_name_from_fqn,
    split_statements,
    table_references,
    transpile,
)
from ..tracing import start_child_span

__all__ = [
    "resolve_with_regex",
    "resolve_with_catalyst",
    "DependencyResolver",
    "destination_urn",
]

URN_FORMAT = "spark://{name}"
CACHE_TTL_SECONDS = 24 * 3600

_UNRESOLVED_RE = re.compile(r"'UnresolvedRelation \[([^\]]+)\]")
_RESOLVED_RE = re.compile(r"\bRelation (\S+?)\[")
# BigQuery allows `MERGE t ...` without INTO; Spark's parser does not
_MERGE_WITHOUT_INTO_RE = re.compile(r"^(\s*MERGE)\s+(?!INTO\b)", re.IGNORECASE)


def destination_urn(fqn: str) -> str:
    """``project.dataset.table`` → ``spark://project_dataset.table``
    (reference GenerateDestination, main.go:183-197; span name from
    main.go:184)."""
    with start_child_span("GenerateDestination") as span:
        span.set_attribute("fqn", fqn)
        return URN_FORMAT.format(name=spark_table_name_from_fqn(fqn))


def resolve_with_regex(sql: str, destination: str | None = None) -> list[str]:
    """Regex-layer dependencies as BQ-style FQNs (span name from
    main.go:371 FindDependenciesWithRegex)."""
    with start_child_span("FindDependenciesWithRegex") as span:
        deps = table_references(sql, destination=destination)
        span.set_attribute("n_dependencies", len(deps))
        return deps


def _parsed_relations(spark: SparkSession, spark_sql: str) -> list[str]:
    parser = spark._jsparkSession.sessionState().sqlParser()
    tree = parser.parsePlan(spark_sql).treeString()
    out = []
    for m in _UNRESOLVED_RE.finditer(tree):
        name = ".".join(p.strip() for p in m.group(1).split(","))
        if name not in out:
            out.append(name)
    return out


def _analyzed_relations(spark: SparkSession, spark_sql: str) -> list[str]:
    tree = spark.sql(spark_sql)._jdf.queryExecution().analyzed().treeString()
    out = []
    for m in _RESOLVED_RE.finditer(tree):
        name = m.group(1).removeprefix("spark_catalog.")
        if name not in out:
            out.append(name)
    return out


def resolve_with_catalyst(
    spark: SparkSession, sql: str, destination: str | None = None
) -> list[str]:
    """Spark-name dependencies for a (possibly multi-statement, BQ
    dialect) query. Statements whose tables all resolve are analyzed
    (views expand to base tables); otherwise the parsed plan's
    unresolved relations are reported. CTE names never appear (Catalyst
    scopes them), so no pseudo-table pass is needed here. Span name
    from main.go:466 (this is the dry-run analogue)."""
    with start_child_span("FindDependenciesWithDryRun") as span:
        deps = _catalyst_relations(spark, sql, destination)
        span.set_attribute("n_dependencies", len(deps))
        return deps


def _catalyst_relations(
    spark: SparkSession, sql: str, destination: str | None = None
) -> list[str]:
    deps: list[str] = []
    dest_spark = spark_table_name_from_fqn(destination) if destination and destination.count(".") == 2 else destination
    stmts = split_statements(transpile(sql))
    # Original (untranspiled) per-statement text for the regex fallback:
    # recoverable whenever the original splits into the same number of
    # statements as the transpiled script (transpile never adds/removes
    # statement boundaries, but guard anyway).
    orig_stmts = split_statements(sql)
    if len(orig_stmts) != len(stmts):
        orig_stmts = [sql] * len(stmts)
    for stmt, stmt_original in zip(stmts, orig_stmts):
        # strip leading comments before classifying (BQ queries
        # routinely open with /* owner */ blocks — dialect.py's
        # classify_statement applies the same rule); without this the
        # statement is silently skipped and its deps lost
        head = _LEADING_COMMENT_RE.sub("", stmt, count=1)
        m = re.match(
            r"^\s*(WITH|SELECT|MERGE|DELETE|INSERT|UPDATE)\b", head, re.IGNORECASE
        )
        if not m:
            continue
        names: list[str]
        if m.group(1).upper() in ("WITH", "SELECT"):
            # analysis (view expansion) is safe only for READ
            # statements: spark.sql() runs commands EAGERLY, so
            # "analyzing" an INSERT/MERGE/UPDATE/DELETE would EXECUTE
            # it — mutating the target as a side effect of dependency
            # resolution. DML goes through the parse-only path (no
            # view expansion, no execution).
            try:
                names = _analyzed_relations(spark, stmt)
            except Exception:
                names = _parsed_relations(spark, stmt)
        else:
            try:
                names = _parsed_relations(
                    spark, _MERGE_WITHOUT_INTO_RE.sub(r"\1 INTO ", head, count=1)
                )
            except Exception:
                # A DML statement Spark's parser rejects must not
                # silently lose its upstream edges (the scheduler would
                # order the job before its inputs). Fall back to the
                # reference-parity regex extraction over the ORIGINAL
                # text of THIS statement when recoverable (whole-script
                # extraction is the last resort: it over-approximates by
                # attributing every statement's tables to the failed one
                # — safe for scheduling, but it can add spurious edges).
                warnings.warn(
                    "dependency resolution: Spark could not parse a DML "
                    f"statement (head: {head[:80]!r}); falling back to "
                    "regex reference extraction for its dependencies",
                    stacklevel=2,
                )
                names = [
                    spark_table_name_from_fqn(fqn)
                    for fqn in table_references(stmt_original, destination)
                ]
        for name in names:
            if name != dest_spark and name not in deps:
                deps.append(name)
    return deps


@dataclass
class _CacheEntry:
    value: list[str]
    at: float


@dataclass
class DependencyResolver:
    """Cached resolver (request-hash keyed, 24 h TTL)."""

    spark: SparkSession | None = None
    ttl_seconds: float = CACHE_TTL_SECONDS
    _cache: dict[str, _CacheEntry] = field(default_factory=dict)

    def resolve(self, sql: str, destination: str | None = None) -> list[str]:
        with start_child_span("GenerateDependencies") as span:
            return self._resolve_traced(span, sql, destination)

    def _resolve_traced(self, span, sql: str, destination: str | None) -> list[str]:
        key = hashlib.md5(f"{destination}\x00{sql}".encode()).hexdigest()
        entry = self._cache.get(key)
        now = time.time()
        if entry is not None and now - entry.at < self.ttl_seconds:
            # span event mirrors main.go:217
            span.add_event("Request found in cache")
            return entry.value
        regex_deps = resolve_with_regex(sql, destination)
        if self.spark is not None:
            spark_names = resolve_with_catalyst(self.spark, sql, destination)
            # union: regex finds BQ FQNs the session may not know;
            # catalyst finds view-expanded/real names.
            mapped = [spark_table_name_from_fqn(d) for d in regex_deps]
            for name in spark_names:
                if name not in mapped:
                    mapped.append(name)
            value = mapped
        else:
            value = [spark_table_name_from_fqn(d) for d in regex_deps]
        urns = [URN_FORMAT.format(name=v) for v in value]
        self._cache[key] = _CacheEntry(value=urns, at=now)
        return urns
