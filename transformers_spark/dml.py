"""DML emulation: MERGE / DELETE over plain Parquet tables.

Vanilla Spark has no MERGE/DELETE for Parquet; the engine emulates
them with join rewrites + a whole-result rewrite. Grammar covers the
reference corpus (reference: executor/samples/tasks/dml/query.sql,
samples/tasks/delete/query.sql, and the generated delete+insert
templates in executor/bumblebee/query.py:6-62):

    MERGE [INTO] target [AS] [alias]
    USING ( subquery ) | table [AS] [alias]
    ON condition
    WHEN MATCHED [AND pred] THEN UPDATE SET c = expr, ... | DELETE
    WHEN NOT MATCHED [BY TARGET] [AND pred] THEN INSERT (cols) VALUES (exprs)
    WHEN NOT MATCHED BY SOURCE [AND pred] THEN DELETE

    DELETE FROM target WHERE pred

Execution keys every target row with a row id, resolves matched
(target, source) pairs to their first applicable WHEN clause, errors
when one target row would be updated/deleted by multiple source rows
(BigQuery parity), and re-emits untouched rows via one anti-join on
the compact row-id set; the final result replaces the target through
the writer's version-directory commit (loaders.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .dialect import _split_top_level_args
from .loaders import Writer

__all__ = ["MergeStatement", "parse_merge", "parse_delete", "parse_update", "execute_merge", "execute_delete", "execute_update"]


@dataclass
class MergeClause:
    kind: str  # matched_update | matched_delete | not_matched_insert | by_source_delete
    pred: str | None = None
    assignments: dict[str, str] = field(default_factory=dict)  # col -> expr
    insert_cols: list[str] = field(default_factory=list)
    insert_vals: list[str] = field(default_factory=list)


@dataclass
class MergeStatement:
    target: str  # spark name (db.table, already transpiled)
    target_alias: str
    source_sql: str | None  # subquery text (transpiled) or None
    source_table: str | None  # spark name when USING <table>
    source_alias: str
    on: str
    clauses: list[MergeClause]


_IDENT = r"(?:`[^`]+`|[\w$]+)(?:\s*\.\s*(?:`[^`]+`|[\w$]+))*"
_MERGE_HEAD_RE = re.compile(
    rf"^\s*MERGE\s+(?:INTO\s+)?({_IDENT})\s*(?:AS\s+)?(\w+)?\s+USING\s+",
    re.IGNORECASE,
)
_KEYWORDS = {"using", "on", "when", "as", "not", "matched", "by", "then"}


def _strip_ident(ident: str) -> str:
    return ".".join(p.strip().strip("`") for p in re.split(r"\.", ident))


def _find_balanced(text: str, start: int) -> int:
    """text[start] == '(' → index just past the matching ')'."""
    depth = 0
    i = start
    while i < len(text):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in MERGE statement")


_WHEN_SPLIT_RE = re.compile(r"\bWHEN\b", re.IGNORECASE)


def _top_level_when_positions(text: str) -> list[int]:
    """Clause-boundary WHENs only: skip WHENs inside parens AND inside
    CASE...END expressions (a top-level ``SET x = CASE WHEN ...`` must
    not split the clause)."""
    positions = []
    depth = 0
    case_depth = 0
    for m in re.finditer(r"[()]|\bWHEN\b|\bCASE\b|\bEND\b", text, re.IGNORECASE):
        tok = m.group(0).upper()
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif tok == "CASE":
            case_depth += 1
        elif tok == "END":
            case_depth = max(0, case_depth - 1)
        elif depth == 0 and case_depth == 0:
            positions.append(m.start())
    return positions


def parse_merge(sql: str) -> MergeStatement:
    """Parse an (already-transpiled) MERGE statement. String literals
    and comments are masked before tokenization (the parse_update
    discipline) so quoted text containing WHEN/THEN/parens/commas
    cannot derail clause splitting; every extracted fragment is
    unmasked on the way out."""
    from .dialect import _mask, _unmask

    masked = _mask(sql)
    stmt = _parse_merge_masked(masked.text)

    def unm(t):
        return None if t is None else _unmask(masked, t)

    stmt.source_sql = unm(stmt.source_sql)
    stmt.on = unm(stmt.on)
    for c in stmt.clauses:
        c.pred = unm(c.pred)
        c.assignments = {k: unm(v) for k, v in c.assignments.items()}
        c.insert_vals = [unm(v) for v in c.insert_vals]
    return stmt


def _parse_merge_masked(sql: str) -> MergeStatement:
    head = _MERGE_HEAD_RE.match(sql)
    if head is None:
        raise ValueError("not a MERGE statement")
    target = _strip_ident(head.group(1))
    target_alias = head.group(2) or "target"
    rest = sql[head.end() :].lstrip()

    source_sql = source_table = None
    if rest.startswith("("):
        end = _find_balanced(rest, 0)
        source_sql = rest[1 : end - 1].strip()
        rest = rest[end:].lstrip()
    else:
        m = re.match(rf"({_IDENT})", rest)
        if m is None:
            raise ValueError("cannot parse MERGE source")
        source_table = _strip_ident(m.group(1))
        rest = rest[m.end() :].lstrip()
    alias_match = re.match(r"(?:AS\s+)?(\w+)\s+", rest, re.IGNORECASE)
    source_alias = "source"
    if alias_match and alias_match.group(1).lower() not in _KEYWORDS:
        source_alias = alias_match.group(1)
        rest = rest[alias_match.end() :].lstrip()

    on_match = re.match(r"ON\b", rest, re.IGNORECASE)
    if on_match is None:
        raise ValueError("MERGE missing ON clause")
    rest = rest[on_match.end() :]
    when_positions = _top_level_when_positions(rest)
    if not when_positions:
        raise ValueError("MERGE has no WHEN clauses")
    on_cond = rest[: when_positions[0]].strip()

    clauses = []
    bounds = when_positions + [len(rest)]
    for i in range(len(when_positions)):
        clause_text = rest[bounds[i] : bounds[i + 1]].strip()
        clauses.append(_parse_when_clause(clause_text))

    return MergeStatement(
        target=target,
        target_alias=target_alias,
        source_sql=source_sql,
        source_table=source_table,
        source_alias=source_alias,
        on=on_cond,
        clauses=clauses,
    )


_MATCHED_RE = re.compile(
    r"^WHEN\s+MATCHED\s*(?:AND\s+(?P<pred>.*?))?\s*THEN\s+(?P<action>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_NOT_MATCHED_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED\s*(?:BY\s+TARGET\s*)?(?:AND\s+(?P<pred>.*?))?\s*THEN\s+(?P<action>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_BY_SOURCE_RE = re.compile(
    r"^WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(?P<pred>.*?))?\s*THEN\s+(?P<action>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_RE = re.compile(
    r"^INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_when_clause(text: str) -> MergeClause:
    by_source = _BY_SOURCE_RE.match(text)
    if by_source:
        action = by_source.group("action").strip().rstrip(";").strip()
        if action.upper() != "DELETE":
            raise ValueError(f"unsupported NOT MATCHED BY SOURCE action: {action!r}")
        return MergeClause(kind="by_source_delete", pred=by_source.group("pred"))
    matched = _MATCHED_RE.match(text)
    if matched and not re.match(r"^WHEN\s+NOT", text, re.IGNORECASE):
        action = matched.group("action").strip().rstrip(";").strip()
        if action.upper() == "DELETE":
            return MergeClause(kind="matched_delete", pred=matched.group("pred"))
        upd = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
        if upd is None:
            raise ValueError(f"unsupported WHEN MATCHED action: {action!r}")
        assignments = {}
        for part in _split_top_level_args(upd.group(1)):
            lhs, sep, rhs = part.partition("=")
            if not sep or not lhs.strip() or not rhs.strip():
                raise ValueError(
                    f"malformed SET assignment in MERGE: {part!r}"
                )
            assignments[lhs.strip().strip("`")] = rhs.strip()
        return MergeClause(
            kind="matched_update", pred=matched.group("pred"), assignments=assignments
        )
    not_matched = _NOT_MATCHED_RE.match(text)
    if not_matched:
        action = not_matched.group("action").strip()
        ins = _INSERT_RE.match(action)
        if ins is None:
            raise ValueError(f"unsupported WHEN NOT MATCHED action: {action!r}")
        cols = [c.strip().strip("`") for c in ins.group("cols").split(",")]
        vals = [v.strip() for v in _split_top_level_args(ins.group("vals"))]
        if len(cols) != len(vals):
            raise ValueError(
                f"MERGE INSERT lists {len(cols)} columns but "
                f"{len(vals)} values (BigQuery rejects the mismatch)"
            )
        return MergeClause(kind="not_matched_insert", pred=not_matched.group("pred"), insert_cols=cols, insert_vals=vals)
    raise ValueError(f"cannot parse WHEN clause: {text[:80]!r}")


# --- execution --------------------------------------------------------------


def fqn_for_spark_name(catalog: Catalog, spark_name: str) -> str | None:
    """Reverse-map a spark table name to its registered FQN."""
    for fqn, meta in catalog._meta.items():
        if meta.spark_name == spark_name:
            return fqn
    return None


_ROWID = "__ts_merge_rowid"
_CLAUSE = "__ts_merge_clause"
_NMATCH = "__ts_merge_nmatch"


def _first_applicable(clauses: list[MergeClause]) -> "F.Column":
    """Index of the first clause whose AND-pred passes (NULL if none) —
    standard MERGE clause-ordering semantics."""
    whens = [
        F.when(
            F.coalesce(F.expr(c.pred), F.lit(False)) if c.pred else F.lit(True),
            F.lit(i),
        )
        for i, c in enumerate(clauses)
    ]
    return F.coalesce(*whens, F.lit(None).cast("int"))


def build_merge_plan(
    spark: SparkSession, catalog: Catalog, writer: Writer, stmt: MergeStatement, fqn: str
) -> DataFrame:
    """Build (without executing) the merged-table plan for ``stmt``.

    Split from ``execute_merge`` so the plan is inspectable — the
    plan-pin tests assert the row-id pass-through anti-join and the
    in-plan duplicate-match guard survive refactors (round-7 verdict
    ask 3).

    Semantics follow the SQL standard / BigQuery (reference:
    executor/samples/tasks/dml/query.sql, executor/bumblebee/query.py:
    6-62), keyed on a per-target-row identity so each target row is
    emitted exactly once:

    * matched (target, source) pairs resolve to the FIRST matched
      clause (in statement order) whose AND-pred passes;
    * a target row updated/deleted by MORE than one source row raises
      (BigQuery errors here; silently picking one or duplicating the
      row would corrupt the table) — the guard is a window count over
      the row id, evaluated inside the plan via ``raise_error``;
    * every target row not updated/deleted passes through unchanged —
      one anti-join on the compact row-id set, so matched-but-
      unaffected and unmatched rows need no separate branches;
    * unmatched source rows insert via their first applicable
      NOT MATCHED clause.

    Row identity is ``monotonically_increasing_id`` on the target scan
    (partition ordinal + row position — stable across the plan's
    branches for one execution, the same identity Delta's merge derives
    from file+position). Scale note: the duplicate-match guard costs
    one extra shuffle of the matched set; the pass-through anti-join
    shuffles only row ids.
    """
    from .catalog import PARTITION_COL, PartitionKind

    meta = catalog.get_table(fqn)
    # Ingestion-time tables: kept/updated rows must RETAIN their
    # original partition (BigQuery never moves _PARTITIONTIME on
    # UPDATE) and inserted rows stamp the load day — so dt rides
    # through the plan instead of being recomputed at the end.
    ingestion = meta.partition.kind == PartitionKind.INGESTION_DAY
    target = (
        catalog.read(fqn, include_partition_col=ingestion)
        .withColumn(_ROWID, F.monotonically_increasing_id())
        .alias(stmt.target_alias)
    )
    if stmt.source_sql is not None:
        source = spark.sql(stmt.source_sql)
    else:
        source = spark.table(stmt.source_table)
    source = source.alias(stmt.source_alias)
    on = F.expr(stmt.on)
    cols = meta.column_names
    # Column references in SET/INSERT lists are case-insensitive
    # (BigQuery identifier semantics) and must resolve — a typo'd or
    # alias-qualified name silently passing the old value through
    # would corrupt the table without an error (same rule as
    # loaders.update_where).
    known = {c.lower() for c in cols}
    for clause in stmt.clauses:
        bad = sorted(
            k
            for k in list(clause.assignments) + clause.insert_cols
            if k.lower() not in known
        )
        if bad:
            raise ValueError(
                f"MERGE into {meta.fqn}: column(s) {bad} not found in "
                f"destination columns {cols}"
            )
        clause.assignments = {k.lower(): v for k, v in clause.assignments.items()}
        clause.insert_cols = [k.lower() for k in clause.insert_cols]

    matched_clauses = [c for c in stmt.clauses if c.kind in ("matched_update", "matched_delete")]
    insert_clauses = [c for c in stmt.clauses if c.kind == "not_matched_insert"]
    by_source_clauses = [c for c in stmt.clauses if c.kind == "by_source_delete"]

    pieces: list[DataFrame] = []
    changed_ids: list[DataFrame] = []  # single-column (_ROWID) frames

    if matched_clauses:
        from pyspark.sql.window import Window

        affected = (
            target.join(source, on, "inner")
            .withColumn(_CLAUSE, _first_applicable(matched_clauses))
            .filter(F.col(_CLAUSE).isNotNull())
            .withColumn(_NMATCH, F.count(F.lit(1)).over(Window.partitionBy(_ROWID)))
        )
        # The guard rides on the row-id column consumed by the
        # pass-through anti-join below, so it cannot be pruned away and
        # fires for BOTH update and delete multi-matches.
        guard = F.when(
            F.col(_NMATCH) > 1,
            F.raise_error(
                F.lit(
                    "MERGE error: a target row in "
                    + meta.fqn
                    + " matched more than one source row for UPDATE/DELETE"
                )
            ),
        ).otherwise(F.col(_ROWID))
        changed_ids.append(affected.select(guard.alias(_ROWID)))
        for i, clause in enumerate(matched_clauses):
            if clause.kind != "matched_update":
                continue  # deletes contribute no rows
            proj = [
                F.expr(clause.assignments[c.lower()]).alias(c)
                if c.lower() in clause.assignments
                else F.col(f"{stmt.target_alias}.`{c}`").alias(c)
                for c in cols
            ]
            if ingestion:
                # updated rows keep their original partition
                proj.append(
                    F.col(f"{stmt.target_alias}.`{PARTITION_COL}`").alias(
                        PARTITION_COL
                    )
                )
            pieces.append(affected.filter(F.col(_CLAUSE) == i).select(*proj))

    if by_source_clauses:
        deleted = (
            target.join(source, on, "left_anti")
            .withColumn(_CLAUSE, _first_applicable(by_source_clauses))
            .filter(F.col(_CLAUSE).isNotNull())
        )
        changed_ids.append(deleted.select(F.col(_ROWID)))

    # Everything not updated/deleted passes through unchanged.
    kept = target
    if changed_ids:
        changed = changed_ids[0]
        for extra in changed_ids[1:]:
            changed = changed.unionByName(extra)
        kept = target.join(changed, _ROWID, "left_anti")
    kept_cols = [F.col(f"`{c}`").alias(c) for c in cols]
    if ingestion:
        kept_cols.append(F.col(f"`{PARTITION_COL}`").alias(PARTITION_COL))
    pieces.append(kept.select(*kept_cols))

    # Source rows with no target match → first applicable INSERT clause.
    if insert_clauses:
        unmatched_source = (
            source.join(target, on, "left_anti")
            .withColumn(_CLAUSE, _first_applicable(insert_clauses))
            .filter(F.col(_CLAUSE).isNotNull())
        )
        for i, clause in enumerate(insert_clauses):
            val_by_col = dict(zip(clause.insert_cols, clause.insert_vals))
            proj = [
                F.expr(val_by_col[c.lower()]).alias(c)
                if c.lower() in val_by_col
                else F.lit(None).alias(c)
                for c in cols
            ]
            if ingestion:
                # inserted rows stamp the load day (_PARTITIONTIME of
                # the DML job, BigQuery semantics)
                proj.append(F.current_date().alias(PARTITION_COL))
            pieces.append(unmatched_source.filter(F.col(_CLAUSE) == i).select(*proj))

    # Cast every piece to the destination schema before the union so
    # branch-specific expression types can't poison the union.
    cast_pieces = [
        writer._align(
            p, meta, allow_field_addition=False, keep_partition_col=ingestion
        )
        for p in pieces
    ]
    result = cast_pieces[0]
    for piece in cast_pieces[1:]:
        result = result.unionByName(piece)
    if not ingestion:
        # COLUMN_DAY recomputes dt from its field; non-partitioned is a
        # no-op. Ingestion-time dt already rides on every piece.
        result = writer._with_dt(result, meta, None)
    return result


def execute_merge(
    spark: SparkSession, catalog: Catalog, writer: Writer, stmt: MergeStatement, fqn: str
) -> int:
    """Run a parsed MERGE against destination ``fqn`` (see
    ``build_merge_plan`` for the semantics and the plan shape).

    The per-table lock spans plan build AND write: the plan reads the
    destination, so building it outside the critical section would let
    a concurrent in-process MERGE swap the files the captured listing
    points at (the concurrent-DML contract, loaders.py module docs —
    in-process loads serialize to SOME serial order; cross-process
    concurrency is unsupported)."""
    from .loaders import table_write_lock

    meta = catalog.get_table(fqn)
    with table_write_lock(meta.spark_name):
        # finish an interrupted commit BEFORE the plan captures the
        # destination's file listing
        writer.prepare(fqn)
        result = build_merge_plan(spark, catalog, writer, stmt, fqn)
        writer.overwrite_from_plan_reading_destination(fqn, result)
    return -1  # affected-row accounting not tracked in round 1


_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+({_IDENT})\s+WHERE\s+(.*)$", re.IGNORECASE | re.DOTALL
)


def parse_delete(sql: str) -> tuple[str, str]:
    m = _DELETE_RE.match(sql.strip().rstrip(";"))
    if m is None:
        raise ValueError("not a DELETE statement")
    return _strip_ident(m.group(1)), m.group(2).strip()


def execute_delete(
    spark: SparkSession, catalog: Catalog, writer: Writer, fqn: str, predicate: str
) -> None:
    writer.delete_where(fqn, predicate)


_UPDATE_HEAD_RE = re.compile(
    rf"^\s*UPDATE\s+({_IDENT})\s+SET\s+", re.IGNORECASE | re.DOTALL
)
_WHERE_TOKEN_RE = re.compile(r"\bWHERE\b", re.IGNORECASE)


def _split_at_top_level_where(text: str) -> tuple[str, str] | None:
    """Split at the first WHERE token at paren depth 0 — a WHERE
    inside a parenthesized subquery (``SET a = (SELECT ... WHERE ...)``)
    must not terminate the SET clause. Operates on masked text, so
    string literals can't fake a WHERE either."""
    depth = 0
    for m in _WHERE_TOKEN_RE.finditer(text):
        depth = text.count("(", 0, m.start()) - text.count(")", 0, m.start())
        if depth == 0:
            return text[: m.start()].rstrip(), text[m.end() :].strip()
    return None


def parse_update(sql: str) -> tuple[str, dict, str]:
    """``UPDATE t SET c = expr, ... WHERE pred`` →
    (target, {col: expr}, predicate). BigQuery requires the WHERE
    clause on UPDATE — so does this parser. String literals are masked
    before splitting (``SET b = 'x, y'`` parses; a literal containing
    the word WHERE can't split the statement), and the SET/WHERE split
    happens at paren depth 0 so subqueries in assignments survive."""
    from .dialect import _mask, _unmask

    masked = _mask(sql.strip().rstrip(";"))
    head = _UPDATE_HEAD_RE.match(masked.text)
    if head is None:
        raise ValueError("not an UPDATE statement")
    rest = masked.text[head.end() :]
    split = _split_at_top_level_where(rest)
    if split is None:
        raise ValueError("not an UPDATE statement (WHERE clause is required)")
    set_text, where_text = split
    assignments = {}
    for part in _split_top_level_args(set_text):
        lhs, sep, rhs = part.partition("=")
        if not sep:
            raise ValueError(f"malformed SET assignment: {part!r}")
        assignments[lhs.strip().strip("`")] = _unmask(masked, rhs.strip())
    return (
        _strip_ident(_unmask(masked, head.group(1))),
        assignments,
        _unmask(masked, where_text),
    )


def execute_update(
    spark: SparkSession,
    catalog: Catalog,
    writer: Writer,
    fqn: str,
    assignments: dict,
    predicate: str,
) -> None:
    writer.update_where(fqn, assignments, predicate)
