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

Execution materializes the USING source once, passes target rows
without a match through one anti-join against it, resolves each matched
target row to its first applicable WHEN clause in one shuffle of the
matched pairs, errors when one target row would be updated/deleted by
multiple source rows (BigQuery parity), and inserts the source rows no
pair touched; the final result replaces the target through the
writer's version-directory commit (loaders.py).
"""

from __future__ import annotations

import re
import uuid
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, _q
from .dialect import _split_top_level_args
from .loaders import Writer, column_sql, quote_ident, quote_string

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


# Internal column names of the MERGE plan. The plan shuffles once, on
# _KEY: a matched (target, source) pair is keyed by its target row's id,
# and — when the statement inserts — again by its source row's id, next
# to that source row, so one window counts both sides' matches.
_ROWID = "__ts_merge_rowid"  # target row identity
_SID = "__ts_merge_sid"  # source row identity, fixed when the source is materialized
_KEY = "__ts_merge_key"  # a target row id, or -1 - a source row id
_KIND = "__ts_merge_kind"  # 0 pair by target row, 1 pair by source row, 2 source row
_CLAUSE = "__ts_merge_clause"  # first applicable WHEN MATCHED clause of a pair
_NAPP = "__ts_merge_napp"  # applicable pairs of a target row
_FIRST = "__ts_merge_first"  # the one pair that stands for its target row
_NPAIRS = "__ts_merge_npairs"  # pairs of a source row
_SRC = "__ts_merge_src"  # a source row's columns, as one struct


_COLUMN_REF = re.compile(r"(?:`?(\w+)`?\s*\.\s*)?`?(\w+)`?")


def _frag(sql: str) -> str:
    """A statement fragment as an operand: parenthesized, and closed on
    a new line so that a trailing ``--`` comment ends inside it."""
    return f"({sql}\n)"


def _first_applicable(clauses: list[MergeClause]) -> str:
    """SQL: index of the first clause whose AND-pred passes (NULL if
    none) — standard MERGE clause-ordering semantics."""
    if not clauses:
        return "CAST(NULL AS INT)"
    whens = " ".join(
        f"WHEN {f'coalesce({_frag(c.pred)}, false)' if c.pred else 'true'} THEN {i}"
        for i, c in enumerate(clauses)
    )
    return f"CASE {whens} END"


def materialize_source(spark: SparkSession, stmt: MergeStatement) -> DataFrame:
    """Evaluate a MERGE's USING source once, into the session's cache,
    with a row id (as Delta Lake's MERGE materializes its source): the
    plan reads it three times, and the planner sees its real size, so a
    small source is broadcast and a large one is not. One Spark job;
    the caller unpersists the frame once the merged table is written."""
    if stmt.source_sql is not None:
        source = spark.sql(stmt.source_sql)
    else:
        source = spark.table(stmt.source_table)
    source = source.selectExpr("*", f"monotonically_increasing_id() AS {_SID}")
    source.persist(StorageLevel.MEMORY_AND_DISK)
    source._jdf.queryExecution().toRdd().count()
    return source


def build_merge_plan(
    spark: SparkSession,
    catalog: Catalog,
    stmt: MergeStatement,
    fqn: str,
    source: DataFrame,
) -> DataFrame:
    """Build (without executing) the merged-table plan for ``stmt``, as
    one SQL text over the target and ``source``, the statement's USING
    source as ``materialize_source`` returns it.

    Split from ``execute_merge`` so the plan is inspectable — the
    plan-pin tests assert its shape (tests/test_plan_pins.py).

    Semantics follow the SQL standard / BigQuery (reference:
    executor/samples/tasks/dml/query.sql, executor/bumblebee/query.py:
    6-62):

    * matched (target, source) pairs resolve to the FIRST matched
      clause (in statement order) whose AND-pred passes;
    * a target row updated/deleted by MORE than one source row raises
      (BigQuery errors here; silently picking one or duplicating the
      row would corrupt the table) — the guard is a window count over
      the target row id, evaluated inside the plan via ``raise_error``;
    * every target row not updated/deleted passes through unchanged;
    * unmatched source rows insert via their first applicable NOT
      MATCHED clause; unmatched target rows are deleted by their first
      applicable NOT MATCHED BY SOURCE clause.

    Plan shape. Target rows without a match pass through one anti-join
    against the source. The matched pairs come from one inner join;
    they, and the source rows when the statement inserts, are shuffled
    once, on the target row id for a pair and on the source row id for
    a source row and its pairs, and a window over that key resolves
    each target row (the duplicate-match guard, the chosen clause) and
    finds the source rows no pair touched. Both joins build on the
    source, so with a broadcastable source the target is scanned twice
    and never shuffled or broadcast; only matched pairs and source rows
    cross the shuffle. Target row identity is
    ``monotonically_increasing_id`` on the one scan that makes pairs,
    so no two branches need to agree on it.
    """
    from .catalog import PARTITION_COL, PartitionKind

    meta = catalog.get_table(fqn)
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

    view = f"__ts_merge_source_{uuid.uuid4().hex}"
    t, s = quote_ident(stmt.target_alias), quote_ident(stmt.source_alias)
    # Ingestion-time tables: kept/updated rows RETAIN their original
    # partition (BigQuery never moves _PARTITIONTIME on UPDATE) and
    # inserted rows stamp the load day, so dt rides through the plan.
    ingestion = meta.partition.kind == PartitionKind.INGESTION_DAY
    out = cols + ([PARTITION_COL] if ingestion else [])
    types = dict(meta.columns) | {PARTITION_COL: "date"}
    slot = {c: f"`__ts_merge_o{i}`" for i, c in enumerate(out)}

    def stored(c: str, sql: str) -> str:
        """The value ``sql``, of column ``c``'s type, as written (a NULL
        in a NOT NULL column fails the job; loaders.column_sql)."""
        return column_sql(sql, c, types[c], meta.fqn, source_type=types[c])

    source_types = {name.lower(): dtype for name, dtype in source.dtypes}
    target_types = {c.lower(): types[c] for c in cols}
    aliases = {stmt.source_alias.lower(): source_types, stmt.target_alias.lower(): target_types}

    def value(expr: str, c: str) -> str:
        """``expr`` cast to column ``c``; the type of an expression that
        only names a column (``SET c = S.c``) is known, so a cast to the
        same type needs no guard."""
        ref = _COLUMN_REF.fullmatch(expr.strip())
        source_type = None
        if ref:
            qualifier, name = (ref.group(1) or "").lower(), ref.group(2).lower()
            if qualifier:
                side = aliases.get(qualifier, {})
            else:
                sides = [side for side in (source_types, target_types) if name in side]
                side = sides[0] if len(sides) == 1 else {}
            source_type = side.get(name)
        return column_sql(expr, c, types[c], meta.fqn, source_type=source_type, alias=False)

    def matched_value(c: str) -> str:
        target_value = f"{t}.{quote_ident(c)}"
        whens = [
            f"WHEN {i} THEN {value(clause.assignments[c.lower()], c)}"
            for i, clause in enumerate(matched_clauses)
            if clause.kind == "matched_update" and c.lower() in clause.assignments
        ]
        if not whens:
            return target_value  # dt of an ingestion-time table included
        return f"CASE {_first_applicable(matched_clauses)} {' '.join(whens)} ELSE {target_value} END"

    def inserted_value(c: str) -> str:
        if c == PARTITION_COL and ingestion:
            return "current_date()"  # _PARTITIONTIME of the DML job
        whens = [
            f"WHEN {i} THEN {value(dict(zip(clause.insert_cols, clause.insert_vals))[c.lower()], c)}"
            for i, clause in enumerate(insert_clauses)
            if c.lower() in clause.insert_cols
        ]
        if not whens:
            return "NULL"
        return f"CASE {_first_applicable(insert_clauses)} {' '.join(whens)} END"

    target = ", ".join(quote_ident(c) for c in out)
    pairs = (
        f"SELECT {t}.{_ROWID}, {s}.{_SID}, {_first_applicable(matched_clauses)} AS {_CLAUSE}, "
        + ", ".join(f"{matched_value(c)} AS {slot[c]}" for c in out)
        + f" FROM (SELECT {target}, monotonically_increasing_id() AS {_ROWID} "
        f"FROM {_q(meta.spark_name)}) AS {t} JOIN {view} AS {s} ON {_frag(stmt.on)}"
    )
    slots = ", ".join(slot[c] for c in out)
    if insert_clauses:
        keyed = (
            f"SELECT {_KEY}, IF({_KEY} >= 0, 0, 1) AS {_KIND}, {_CLAUSE}, {_SID}, {slots}, "
            f"NULL AS {_SRC} FROM ({pairs}) AS p "
            f"LATERAL VIEW explode(array({_ROWID}, -1 - {_SID})) k AS {_KEY} "
            f"UNION ALL SELECT -1 - {_SID}, 2, NULL, {_SID}, "
            + ", ".join("NULL" for _ in out)
            + f", struct({s}.*) FROM {view} AS {s}"
        )
        source_columns = f", count(IF({_KIND} = 1, 1, NULL)) OVER w AS {_NPAIRS}, {_SRC}"
    else:
        keyed = f"SELECT {_ROWID} AS {_KEY}, 0 AS {_KIND}, {_CLAUSE}, {_SID}, {slots} FROM ({pairs}) AS p"
        source_columns = ""
    resolved = (
        f"SELECT {_KEY}, {_KIND}, {_CLAUSE}, {slots}, count({_CLAUSE}) OVER w AS {_NAPP}, "
        f"{_SID} = min({_SID}) OVER w AS {_FIRST}{source_columns} "
        f"FROM ({keyed}) AS u WINDOW w AS (PARTITION BY {_KEY})"
    )
    deletes = [str(i) for i, c in enumerate(matched_clauses) if c.kind == "matched_delete"]
    written = f"{_CLAUSE} IS NOT NULL" + (
        f" AND {_CLAUSE} NOT IN ({', '.join(deletes)})" if deletes else ""
    )
    guard = quote_string(
        f"MERGE error: a target row in {meta.fqn} matched more than one "
        "source row for UPDATE/DELETE"
    )
    keep = (
        f"CASE WHEN {_KIND} = 0 THEN CASE WHEN {_NAPP} > 1 "
        f"THEN CAST(raise_error({guard}) AS BOOLEAN) "
        f"ELSE ({written}) OR ({_NAPP} = 0 AND {_FIRST}) END"
    )
    if insert_clauses:
        keep += (
            f" WHEN {_KIND} = 2 THEN {_NPAIRS} = 0 "
            f"AND {_first_applicable(insert_clauses)} IS NOT NULL"
        )
        values = [
            stored(c, f"CASE WHEN {_KIND} = 0 THEN {slot[c]} ELSE {inserted_value(c)} END")
            for c in out
        ]
        resolved = (
            f"SELECT {_KEY}, {_KIND}, {_CLAUSE}, {slots}, {_NAPP}, {_FIRST}, {_NPAIRS}, "
            f"{_SRC}.* FROM ({resolved}) AS r"
        )
    else:
        values = [stored(c, slot[c]) for c in out]
    keep += " ELSE false END"
    unmatched = f"SELECT {', '.join(stored(c, f'{t}.{quote_ident(c)}') for c in out)} " + (
        f"FROM {_q(meta.spark_name)} AS {t} LEFT ANTI JOIN {view} AS {s} ON {_frag(stmt.on)}"
    )
    if by_source_clauses:
        unmatched += f" WHERE {_first_applicable(by_source_clauses)} IS NULL"
    merged = (
        f"{unmatched} UNION ALL SELECT {', '.join(values)}"
        + f" FROM ({resolved}) AS {s} WHERE {keep}"
    )
    if meta.partition.kind == PartitionKind.COLUMN_DAY:
        merged = (
            f"SELECT *, to_date({quote_ident(meta.partition.field)}) AS {PARTITION_COL} "
            f"FROM ({merged}) AS m"
        )
    source.createOrReplaceTempView(view)
    try:
        return spark.sql(merged)
    finally:
        # the session catalog's own drop: Catalog.dropTempView would
        # also uncache the materialized source the plan reads
        spark._jsparkSession.sessionState().catalog().dropTempView(view)


def execute_merge(
    spark: SparkSession, catalog: Catalog, writer: Writer, stmt: MergeStatement, fqn: str
) -> int:
    """Run a parsed MERGE against destination ``fqn`` (see
    ``build_merge_plan`` for the semantics and the plan shape).

    The per-table lock spans source materialization, plan build AND
    write: the plan reads the destination, so building it outside the
    critical section would let a concurrent in-process MERGE swap the
    files the captured listing points at (the concurrent-DML contract,
    loaders.py module docs — in-process loads serialize to SOME serial
    order; cross-process concurrency is unsupported)."""
    from .loaders import table_write_lock

    meta = catalog.get_table(fqn)
    with table_write_lock(meta.spark_name):
        # finish an interrupted commit BEFORE the plan captures the
        # destination's file listing
        writer.prepare(fqn)
        source = materialize_source(spark, stmt)
        try:
            result = build_merge_plan(spark, catalog, stmt, fqn, source=source)
            writer.overwrite_from_plan_reading_destination(fqn, result)
        finally:
            source.unpersist()
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
