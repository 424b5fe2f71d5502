"""BigQuery → Spark SQL dialect shim.

String-to-string transpile passes for the GoogleSQL constructs that
appear in the reference's query corpus (SURVEY.md §2.B; reference:
executor/samples/tasks/**, executor/bumblebee/query.py templates).
Everything else is passed through untouched — Spark SQL covers it.

Also provides the statement splitter + DDL-header classification the
reference builds on sqlparse (reference: executor/bumblebee/
query.py:155-179), reimplemented here with a quote/comment-aware
scanner (sqlparse isn't available and isn't needed).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

__all__ = [
    "transpile",
    "split_statements",
    "classify_statement",
    "table_references",
    "spark_table_name",
]

# --- identifier mapping -----------------------------------------------------

# BQ addresses tables as `project.dataset.table` with backticks around
# the WHOLE name (and hyphens allowed in project ids); Spark wants
# db.table with per-identifier backticks. We map project+dataset onto
# one Spark database: `project_dataset`.`table`.
_FQN_BACKTICK_RE = re.compile(r"`([\w$][\w\-$]*)\.([\w$]+)\.([\w$][\w\-$]*)`")
# Bare (unbackticked) 3-part names rewrite ONLY in table position
# (after FROM/JOIN/INTO/USING/TABLE/MERGE/UPDATE): a bare a.b.c in
# expression position is almost always alias.struct.field access,
# which a blanket rewrite would silently mangle into a bogus table
# name. Same keyword-anchoring as _TABLE_REF_RE. Known limitation:
# the second name of a comma-separated FROM list isn't rewritten
# (fails loudly at parse, never silently).
_FQN_BARE_RE = re.compile(
    r"\b(FROM|JOIN|INTO|USING|TABLE|MERGE|UPDATE)(\s+)"
    r"([A-Za-z][\w\-]*)\.([A-Za-z]\w*)\.([A-Za-z][\w\-]*)(?![\w`.])",
    re.IGNORECASE,
)


def _sanitize(part: str) -> str:
    return part.replace("-", "_")


def spark_table_name(project: str, dataset: str, table: str) -> str:
    return f"{_sanitize(project)}_{_sanitize(dataset)}.{_sanitize(table)}"


def spark_table_name_from_fqn(fqn: str) -> str:
    project, dataset, table = fqn.split(".")
    return spark_table_name(project, dataset, table)


# --- masking helpers (don't rewrite inside strings/comments) ----------------


@dataclass
class _Masked:
    text: str
    saved: list[str] = field(default_factory=list)


_STRING_OR_COMMENT_RE = re.compile(
    r"""
      '''(?:[^\\]|\\.)*?'''           # triple-quoted
    | \"\"\"(?:[^\\]|\\.)*?\"\"\"
    | (?<![\w'"])[rR]'''(?:[^\\]|\\.)*?'''        # raw triple-quoted: escape
    | (?<![\w'"])[rR]\"\"\"(?:[^\\]|\\.)*?\"\"\"  # sequences aren't PROCESSED,
                                      # but GoogleSQL still keeps a \<quote>
                                      # pair as two literal chars WITHOUT
                                      # terminating the string, so the lexer
                                      # must step over \. pairs. (Triple forms
                                      # listed before the 1-quote form, which
                                      # would otherwise match r'' as an empty
                                      # raw string and mangle the body.)
    | (?<![\w'"])[rR]'''.*?'''        # lenient fallbacks: a raw string with a
    | (?<![\w'"])[rR]\"\"\".*?\"\"\"  # trailing odd backslash is INVALID
                                      # GoogleSQL (unterminated under the
                                      # \.-pair rule); rather than mangle the
                                      # scan, degrade to first-closing-quote
                                      # termination for such inputs only (the
                                      # spec-correct alternatives above win
                                      # for every valid literal)
    | (?<![\w'"])[rR]'(?:[^'\\\n]|\\.)*'   # raw string: \<any> kept verbatim,
    | (?<![\w'"])[rR]"(?:[^"\\\n]|\\.)*"   # ends at first UNPAIRED quote
    | (?<![\w'"])[rR]'[^'\n]*'        # lenient 1-quote fallbacks (same rule)
    | (?<![\w'"])[rR]"[^"\n]*"
    | '(?:[^'\\]|\\.)*'               # single-quoted string
    | "(?:[^"\\]|\\.)*"               # double-quoted string
    | --[^\n]*                        # line comment
    | \#[^\n]*                        # BQ hash comment
    | /\*.*?\*/                       # block comment
    """,
    re.VERBOSE | re.DOTALL,
)


def _mask(sql: str, convert_raw: bool = False) -> _Masked:
    """Mask strings/comments left-to-right. Raw-string prefixes (``r'...'``)
    are recognized DURING the scan, so an ``r`` that sits inside an
    ordinary literal (``'foo r'``) is consumed by the string alternative
    first and never misread as a prefix. With ``convert_raw`` (the
    transpile path), a raw string is saved as an equivalent escaped
    Spark literal; otherwise it round-trips verbatim."""
    masked = _Masked(text="")
    out = []
    last = 0
    for m in _STRING_OR_COMMENT_RE.finditer(sql):
        out.append(sql[last : m.start()])
        out.append(f"\x00{len(masked.saved)}\x00")
        tok = m.group(0)
        if convert_raw:
            tok = _to_spark_literal(tok)
        masked.saved.append(tok)
        last = m.end()
    out.append(sql[last:])
    masked.text = "".join(out)
    return masked


def _to_spark_literal(tok: str) -> str:
    """Convert a masked BigQuery string token to an equivalent Spark
    literal. Spark has no TRIPLE-quoted strings (it parses ``''``
    inside a literal as a doubled-quote escape, so an emitted
    ``'''body'''`` silently evaluates to ``'body'`` WITH quote
    characters), so those forms must be re-emitted as ordinary 1-quote
    literals. Spark 3.0+ does accept 1-quote raw literals (``r'..'``)
    with BigQuery-compatible no-escape semantics, but we normalize
    those too so the emitted SQL never depends on parser mode (e.g.
    ``spark.sql.parser.escapedStringLiterals``):

    - raw (``r'..'`` / ``r'''..'''``): the body is literal text with no
      escape semantics; double backslashes and escape bare quotes.
    - plain triple (``'''..'''``): escape sequences are already
      Spark-compatible; escape only the *unescaped* quote chars the
      triple form allowed in its body.

    Comments and plain 1-quote strings pass through verbatim."""
    is_raw = tok[0] in "rR" and len(tok) >= 3 and tok[1] in "'\""
    body_tok = tok[1:] if is_raw else tok
    if body_tok[0] not in "'\"":
        return tok  # comment
    q = body_tok[0]
    triple = len(body_tok) >= 6 and body_tok[:3] == q * 3 and body_tok.endswith(q * 3)
    if is_raw:
        body = body_tok[3:-3] if triple else body_tok[1:-1]
        return q + body.replace("\\", "\\\\").replace(q, "\\" + q) + q
    if not triple:
        return tok
    body = body_tok[3:-3]
    out = []
    i = 0
    while i < len(body):
        ch = body[i]
        if ch == "\\" and i + 1 < len(body):
            out.append(body[i : i + 2])
            i += 2
            continue
        out.append("\\" + q if ch == q else ch)
        i += 1
    return q + "".join(out) + q


def _unmask(masked: _Masked, text: str) -> str:
    def restore(m: re.Match) -> str:
        return masked.saved[int(m.group(1))]

    return re.sub(r"\x00(\d+)\x00", restore, text)


# --- transpile passes -------------------------------------------------------


def _rewrite_fqns(text: str) -> str:
    def backtick_sub(m: re.Match) -> str:
        return "`{}_{}`.`{}`".format(
            _sanitize(m.group(1)), _sanitize(m.group(2)), _sanitize(m.group(3))
        )

    text = _FQN_BACKTICK_RE.sub(backtick_sub, text)

    def bare_sub(m: re.Match) -> str:
        return "{}{}{}_{}.{}".format(
            m.group(1),
            m.group(2),
            _sanitize(m.group(3)),
            _sanitize(m.group(4)),
            _sanitize(m.group(5)),
        )

    return _FQN_BARE_RE.sub(bare_sub, text)


_NUMERIC_RE = re.compile(r"\bAS\s+NUMERIC\b", re.IGNORECASE)
_INT64_RE = re.compile(r"\bAS\s+INT64\b", re.IGNORECASE)
_FLOAT64_RE = re.compile(r"\bAS\s+FLOAT64\b", re.IGNORECASE)
_BIGNUMERIC_RE = re.compile(r"\bAS\s+BIGNUMERIC\b", re.IGNORECASE)
_DATETIME_CAST_RE = re.compile(r"\bAS\s+DATETIME\b", re.IGNORECASE)
_TS_CONSTRUCTOR_RE = re.compile(r"\bTIMESTAMP\s*\(", re.IGNORECASE)
_DATE_TZ_RE = re.compile(
    r"\bDATE\s*\(\s*([^(),]+?)\s*,\s*(\x00\d+\x00|'[^']*')\s*\)", re.IGNORECASE
)
_CURRENT_DATE_TZ_RE = re.compile(
    r"\bCURRENT_DATE\s*\(\s*(\x00\d+\x00|'[^']*')\s*\)", re.IGNORECASE
)
_DATE_ARITH_HEAD_RE = re.compile(r"\bDATE_(SUB|ADD)\s*\(", re.IGNORECASE)
_DATE_TRUNC_RE = re.compile(r"\bDATE_TRUNC\s*\(", re.IGNORECASE)
_TIMESTAMP_TRUNC_RE = re.compile(r"\bTIMESTAMP_TRUNC\s*\(", re.IGNORECASE)
_IN_UNNEST_RE = re.compile(
    r"((?:[`\w.\x00]+)(?:\((?:[^()]|\([^()]*\))*\))?)\s+(NOT\s+)?IN\s+UNNEST\s*\(\s*([^()]+?)\s*\)",
    re.IGNORECASE,
)


def _split_top_level_args(arg_text: str) -> list[str]:
    args, depth, cur = [], 0, []
    for ch in arg_text:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    args.append("".join(cur).strip())
    return args
_PARTITIONTIME_RE = re.compile(r"`?_PARTITIONTIME`?", re.IGNORECASE)
_COUNTIF_RE = re.compile(r"\bCOUNTIF\s*\(", re.IGNORECASE)
_ARRAY_LITERAL_RE = re.compile(r"(?<![\w`\)\]])\[([^\[\]]*)\]")
_SAFE_CAST_RE = re.compile(r"\bSAFE_CAST\s*\(", re.IGNORECASE)
_REGEXP_CONTAINS_RE = re.compile(r"\bREGEXP_CONTAINS\s*\(", re.IGNORECASE)
_ARRAY_LENGTH_RE = re.compile(r"\bARRAY_LENGTH\s*\(", re.IGNORECASE)
_GENERATE_UUID_RE = re.compile(r"\bGENERATE_UUID\s*\(\s*\)", re.IGNORECASE)
_STARTS_WITH_RE = re.compile(r"\bSTARTS_WITH\s*\(", re.IGNORECASE)
_ENDS_WITH_RE = re.compile(r"\bENDS_WITH\s*\(", re.IGNORECASE)
_SAFE_ARITH_RE = re.compile(
    r"\bSAFE_(DIVIDE|ADD|SUBTRACT|MULTIPLY)\s*\(", re.IGNORECASE
)
_LOGICAL_AND_RE = re.compile(r"\bLOGICAL_AND\s*\(", re.IGNORECASE)
_LOGICAL_OR_RE = re.compile(r"\bLOGICAL_OR\s*\(", re.IGNORECASE)
_GENERATE_ARRAY_RE = re.compile(r"\bGENERATE_ARRAY\s*\(", re.IGNORECASE)
_GENERATE_DATE_ARRAY_RE = re.compile(r"\bGENERATE_DATE_ARRAY\s*\(", re.IGNORECASE)
_ARRAY_TO_STRING_RE = re.compile(r"\bARRAY_TO_STRING\s*\(", re.IGNORECASE)
_FORMAT_FN_RE = re.compile(r"\bFORMAT\s*\(", re.IGNORECASE)
_DIV_FN_RE = re.compile(r"\bDIV\s*\(", re.IGNORECASE)
_TS_ARITH_RE = re.compile(r"\b(?:TIMESTAMP|DATETIME)_(SUB|ADD)\s*\(", re.IGNORECASE)
_INTERVAL_LIT_RE = re.compile(r"INTERVAL\s+(\d+)\s+(\w+)", re.IGNORECASE)
_DIFF_RE = re.compile(r"\b(TIMESTAMP|DATETIME|DATE)_DIFF\s*\(", re.IGNORECASE)
_FORMAT_DT_RE = re.compile(r"\bFORMAT_(?:DATE|DATETIME|TIMESTAMP)\s*\(", re.IGNORECASE)
_PARSE_DATE_RE = re.compile(r"\bPARSE_DATE\s*\(", re.IGNORECASE)
_PARSE_TS_RE = re.compile(r"\bPARSE_(?:DATETIME|TIMESTAMP)\s*\(", re.IGNORECASE)

# strftime → Java SimpleDateFormat codes (the BQ format surface we
# translate; anything else — e.g. %U/%W week numbers, which Spark 3+
# rejects as week-based patterns — raises rather than deferring a
# confusing engine error to query time)
_STRFTIME_TO_JAVA = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "H": "HH", "I": "hh", "M": "mm", "S": "ss", "j": "DDD",
    "b": "MMM", "B": "MMMM", "a": "EEE", "A": "EEEE", "p": "a",
    "Q": "Q", "%": "%",
}


def _strftime_to_java(fmt: str) -> str:
    out, i = [], 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= len(fmt):
                raise ValueError(f"dangling % in format {fmt!r}")
            code = fmt[i + 1]
            try:
                out.append(_STRFTIME_TO_JAVA[code])
            except KeyError:
                raise ValueError(f"unsupported strftime code %{code} in {fmt!r}")
            i += 2
        elif ch.isalpha():
            # literal letters must be quoted in Java — as ONE quoted run
            # per consecutive group ('UTC', not 'U''T''C' which renders
            # with embedded quotes)
            j = i
            while j < len(fmt) and fmt[j].isalpha():
                j += 1
            out.append(f"'{fmt[i:j]}'")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _translate_masked_format(arg: str, masked: "_Masked") -> str:
    """If ``arg`` is a masked string literal holding a strftime format,
    rewrite the saved literal to the Java pattern in place and return
    the placeholder unchanged. Java's literal-text quoting introduces
    single quotes ('T'); inside a single-quoted SQL literal those must
    be doubled or the restored statement won't parse."""
    m = re.fullmatch(r"\x00(\d+)\x00", arg.strip())
    if m is None:
        raise ValueError(f"format argument must be a string literal: {arg!r}")
    idx = int(m.group(1))
    lit = masked.saved[idx]
    quote = lit[0]
    java = _strftime_to_java(lit[1:-1])
    if quote == "'":
        java = java.replace("'", "''")
    masked.saved[idx] = quote + java + quote
    return arg.strip()


def _replace_balanced_call(text: str, pattern: re.Pattern, render) -> str:
    """Replace ``FUNC( <balanced arg> )`` matches of ``pattern`` (which
    must end at the opening paren) using ``render(arg_text)`` — or
    ``render(arg_text, match)`` when the callback takes two args."""
    import inspect

    takes_match = len(inspect.signature(render).parameters) >= 2
    out: list[str] = []
    pos = 0
    while True:
        m = pattern.search(text, pos)
        if m is None:
            out.append(text[pos:])
            return "".join(out)
        depth, i = 1, m.end()
        while i < len(text) and depth:
            if text[i] == "(":
                depth += 1
            elif text[i] == ")":
                depth -= 1
            i += 1
        arg = text[m.end() : i - 1]
        out.append(text[pos : m.start()])
        out.append(render(arg, m) if takes_match else render(arg))
        pos = i


def _rewrite_functions(text: str, masked: _Masked) -> str:
    # TIMESTAMP('...') constructor → CAST(... AS TIMESTAMP); the
    # two-arg BQ form TIMESTAMP(expr, tz) interprets the civil time in
    # tz → TO_UTC_TIMESTAMP. CAST(x AS TIMESTAMP) is unaffected
    # ("TIMESTAMP(" only matches a call shape).
    def _ts_ctor(arg: str) -> str:
        parts = _split_top_level_args(arg)
        if len(parts) == 2:
            return f"TO_UTC_TIMESTAMP({parts[0].strip()}, {parts[1].strip()})"
        return f"CAST({arg.strip()} AS TIMESTAMP)"

    text = _replace_balanced_call(text, _TS_CONSTRUCTOR_RE, _ts_ctor)

    # DATE(ts, 'tz') → TO_DATE(FROM_UTC_TIMESTAMP(ts, 'tz'))
    text = _DATE_TZ_RE.sub(
        lambda m: f"TO_DATE(FROM_UTC_TIMESTAMP({m.group(1).strip()}, {m.group(2)}))", text
    )
    # CURRENT_DATE('tz') → TO_DATE(FROM_UTC_TIMESTAMP(CURRENT_TIMESTAMP(), 'tz'))
    text = _CURRENT_DATE_TZ_RE.sub(
        lambda m: f"TO_DATE(FROM_UTC_TIMESTAMP(CURRENT_TIMESTAMP(), {m.group(1)}))", text
    )
    # DATE_SUB(d, INTERVAL 30 DAY) → DATE_SUB(d, 30); DATE_ADD similar.
    # Balanced-call parse: the operand may nest arbitrarily (e.g. the
    # DATE(ts,'tz') pass above produces TO_DATE(FROM_UTC_TIMESTAMP(..)))
    # — a fixed-depth regex silently left those unrewritten.
    def date_arith(arg_text: str, m: re.Match) -> str:
        op = m.group(1).upper()
        parts = _split_top_level_args(arg_text)
        if len(parts) != 2:
            return f"DATE_{op}({arg_text})"  # already Spark-style
        operand = parts[0].strip()
        iv = re.match(r"^INTERVAL\s+(\d+)\s+(\w+)$", parts[1].strip(), re.IGNORECASE)
        if iv is None:
            return f"DATE_{op}({arg_text})"  # already Spark-style (int)
        n, unit = iv.group(1), iv.group(2)
        if unit.lower().rstrip("s") == "day":
            return f"DATE_{op}({operand}, {n})"
        sign = "-" if op == "SUB" else "+"
        return f"({operand} {sign} INTERVAL {n} {unit})"

    text = _replace_balanced_call(text, _DATE_ARITH_HEAD_RE, date_arith)

    # DATE_TRUNC(d, WEEK(MONDAY)) / DATE_TRUNC(d, MONTH) → arg-swapped
    # Spark call returning DATE (BQ DATE_TRUNC on DATE returns DATE).
    def trunc_render(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) != 2:
            return f"DATE_TRUNC({arg_text})"  # already Spark-style
        operand, part_spec = args
        if re.fullmatch(r"\x00\d+\x00", operand):
            # DATE_TRUNC('part', x): already Spark argument order
            return f"DATE_TRUNC({arg_text})"
        part_match = re.fullmatch(r"(\w+)(?:\s*\(\s*(\w+)\s*\))?", part_spec)
        if part_match is None:
            # first arg is a Spark-style 'part' string literal → untouched
            return f"DATE_TRUNC({arg_text})"
        part, start_day = part_match.group(1).upper(), (part_match.group(2) or "").upper()
        if part == "WEEK" and start_day not in ("", "MONDAY"):
            raise ValueError(f"unsupported week start {start_day!r}: Spark weeks start Monday")
        return f"CAST(DATE_TRUNC('{part}', {operand}) AS DATE)"

    text = _replace_balanced_call(text, _DATE_TRUNC_RE, trunc_render)

    def ts_trunc_render(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if (
            len(args) != 2
            or re.fullmatch(r"\x00\d+\x00", args[0])
            or not re.fullmatch(r"\w+", args[1])
        ):
            return f"DATE_TRUNC({arg_text})"
        return f"DATE_TRUNC('{args[1].upper()}', {args[0]})"

    text = _replace_balanced_call(text, _TIMESTAMP_TRUNC_RE, ts_trunc_render)

    # x IN UNNEST(arr) → ARRAY_CONTAINS(arr, x)
    text = _IN_UNNEST_RE.sub(
        lambda m: (
            f"(NOT ARRAY_CONTAINS({m.group(3)}, {m.group(1)}))"
            if m.group(2)
            else f"ARRAY_CONTAINS({m.group(3)}, {m.group(1)})"
        ),
        text,
    )

    # COUNTIF(p) → COUNT_IF(p)
    text = _COUNTIF_RE.sub("COUNT_IF(", text)

    # BQ array literal [a, b] → array(a, b). `[` preceded by an
    # identifier/)/] is element access — left alone.
    text = _ARRAY_LITERAL_RE.sub(lambda m: f"array({m.group(1)})", text)

    # type spellings
    text = _NUMERIC_RE.sub("AS DECIMAL(38,9)", text)
    text = _INT64_RE.sub("AS BIGINT", text)
    text = _FLOAT64_RE.sub("AS DOUBLE", text)
    text = _BIGNUMERIC_RE.sub("AS DECIMAL(38,18)", text)
    text = _DATETIME_CAST_RE.sub("AS TIMESTAMP", text)

    # SAFE_CAST → TRY_CAST (NULL on failure — identical semantics);
    # composes with the type-spelling pass above, so
    # SAFE_CAST(x AS NUMERIC) ends as TRY_CAST(x AS DECIMAL(38,9))
    text = _SAFE_CAST_RE.sub("TRY_CAST(", text)

    # REGEXP_CONTAINS(s, r) → (s RLIKE r)
    def regexp_contains(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) != 2:
            raise ValueError(f"REGEXP_CONTAINS takes 2 args: {arg_text!r}")
        return f"({args[0]} RLIKE {args[1]})"

    text = _replace_balanced_call(text, _REGEXP_CONTAINS_RE, regexp_contains)

    # straight name swaps
    text = _ARRAY_LENGTH_RE.sub("SIZE(", text)
    text = _GENERATE_UUID_RE.sub("UUID()", text)
    text = _STARTS_WITH_RE.sub("STARTSWITH(", text)
    text = _ENDS_WITH_RE.sub("ENDSWITH(", text)
    # SAFE_DIVIDE/ADD/SUBTRACT/MULTIPLY → TRY_* (NULL instead of
    # error — BQ's SAFE_ and Spark's TRY_ have identical semantics
    # for overflow and division by zero)
    text = _SAFE_ARITH_RE.sub(lambda m: f"TRY_{m.group(1).upper()}(", text)
    # aggregate spellings
    text = _LOGICAL_AND_RE.sub("BOOL_AND(", text)
    text = _LOGICAL_OR_RE.sub("BOOL_OR(", text)
    # GENERATE_ARRAY(a, b[, step]) → SEQUENCE, with BigQuery's
    # empty-on-wrong-direction semantics preserved: BQ's default step
    # is +1 and a start past the end yields [], while Spark's SEQUENCE
    # defaults to step -1 there (silently descending) and ERRORS when
    # an explicit step points the wrong way. The rewrite guards with a
    # lazily-evaluated conditional whose empty branch is a zero-length
    # slice of a 1-element sequence (type-correct empty array).
    def gen_array(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) == 2:
            a, b = args[0].strip(), args[1].strip()
            return (
                f"IF(({a}) <= ({b}), SEQUENCE({a}, {b}), "
                f"SLICE(SEQUENCE({a}, {a}), 1, 0))"
            )
        if len(args) == 3:
            a, b, s = (x.strip() for x in args)
            sm = re.fullmatch(r"-?\d+", s)
            if sm is None:
                raise ValueError(
                    f"GENERATE_ARRAY: only integer-literal steps are "
                    f"supported, got {s!r}"
                )
            cond = f"({a}) <= ({b})" if int(s) > 0 else f"({a}) >= ({b})"
            return (
                f"IF({cond}, SEQUENCE({a}, {b}, {s}), "
                f"SLICE(SEQUENCE({a}, {a}, {s}), 1, 0))"
            )
        raise ValueError(f"GENERATE_ARRAY takes 2-3 args: {arg_text!r}")

    text = _replace_balanced_call(text, _GENERATE_ARRAY_RE, gen_array)
    text = _ARRAY_TO_STRING_RE.sub("ARRAY_JOIN(", text)
    # BQ FORMAT is printf-style, exactly format_string
    text = _FORMAT_FN_RE.sub("FORMAT_STRING(", text)

    # GENERATE_DATE_ARRAY(d1, d2[, INTERVAL n unit]) → SEQUENCE over
    # DATEs; the default step is INTERVAL 1 DAY (BQ's default)
    def gen_date_array(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) == 2:
            step, step_n = "INTERVAL 1 DAY", 1
        elif len(args) == 3:
            im = _INTERVAL_LIT_RE.fullmatch(args[2].strip())
            if not im:
                raise ValueError(
                    "GENERATE_DATE_ARRAY: only INTERVAL <integer> <unit> "
                    f"steps are supported, got {args[2]!r}"
                )
            step, step_n = f"INTERVAL {im.group(1)} {im.group(2)}", int(im.group(1))
        else:
            raise ValueError(f"GENERATE_DATE_ARRAY takes 2-3 args: {arg_text!r}")
        d1 = f"CAST({args[0]} AS DATE)"
        d2 = f"CAST({args[1]} AS DATE)"
        # BQ: wrong-direction ranges are EMPTY; Spark SEQUENCE errors —
        # same lazy-conditional guard as GENERATE_ARRAY
        cond = f"{d1} <= {d2}" if step_n > 0 else f"{d1} >= {d2}"
        return (
            f"IF({cond}, SEQUENCE({d1}, {d2}, {step}), "
            f"SLICE(SEQUENCE({d1}, {d1}, {step}), 1, 0))"
        )

    text = _replace_balanced_call(text, _GENERATE_DATE_ARRAY_RE, gen_date_array)

    # DIV(a, b) → integer division operator
    def div_render(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) != 2:
            raise ValueError(f"DIV takes 2 args: {arg_text!r}")
        return f"(({args[0]}) DIV ({args[1]}))"

    text = _replace_balanced_call(text, _DIV_FN_RE, div_render)

    # TIMESTAMP_ADD/SUB(ts, INTERVAL n unit) → (ts ± INTERVAL n unit).
    # Balanced-paren scan (not a one-level regex) so arbitrarily nested
    # operands — TIMESTAMP_SUB(DATE_TRUNC(CAST(x AS TIMESTAMP), DAY),
    # INTERVAL 1 HOUR) — rewrite too; unrewritable shapes (expression
    # intervals) raise HERE, not as a confusing Spark parse error later.
    def ts_arith_render(arg_text: str, m: re.Match) -> str:
        op = m.group(1).upper()
        sign = "-" if op == "SUB" else "+"
        args = _split_top_level_args(arg_text)
        if len(args) != 2:
            raise ValueError(
                f"TIMESTAMP_{op}/DATETIME_{op} expects "
                f"(expr, INTERVAL <n> <unit>); got ({arg_text})"
            )
        operand, interval = args[0].strip(), args[1].strip()
        im = _INTERVAL_LIT_RE.fullmatch(interval)
        if not im:
            raise ValueError(
                f"TIMESTAMP_{op}: cannot rewrite interval {interval!r} — "
                "only INTERVAL <integer literal> <unit> is supported"
            )
        # nested *_ADD/_SUB inside the operand rewrite recursively
        operand = _replace_balanced_call(operand, _TS_ARITH_RE, ts_arith_render)
        return f"({operand} {sign} INTERVAL {im.group(1)} {im.group(2)})"

    text = _replace_balanced_call(text, _TS_ARITH_RE, ts_arith_render)

    # *_DIFF(later, earlier, unit) → Spark equivalents. BQ semantics
    # differ by family: TIMESTAMP_DIFF counts whole elapsed intervals
    # (fixed-length division) — TIMESTAMPDIFF matches for time units
    # under the engine's pinned UTC session (session.py; ChronoUnit
    # arithmetic would diverge across DST in a civil-zone session).
    # DATE_DIFF and DATETIME_DIFF count date-part BOUNDARY CROSSINGS
    # (DATE_DIFF('2024-03-01','2024-02-28', MONTH) = 1): Y/Q/M become
    # date-part arithmetic, DAY a date diff, and DATETIME time units
    # TIMESTAMPDIFF over unit-truncated operands (whole intervals
    # between truncations ≡ boundaries crossed). BQ WEEK boundaries
    # are Sunday-anchored with no cheap Spark twin → raise loudly.
    def diff_render(arg_text: str, m: re.Match) -> str:
        kind = m.group(1).upper()
        args = _split_top_level_args(arg_text)
        if len(args) != 3:
            raise ValueError(f"{kind}_DIFF takes 3 args: {arg_text!r}")
        later, earlier, unit = args[0], args[1], args[2].upper()
        if kind in ("DATE", "DATETIME"):
            if unit == "DAY":
                return f"DATEDIFF(CAST({later} AS DATE), CAST({earlier} AS DATE))"
            if unit == "YEAR":
                return f"(YEAR({later}) - YEAR({earlier}))"
            if unit == "MONTH":
                return (
                    f"((YEAR({later}) * 12 + MONTH({later})) - "
                    f"(YEAR({earlier}) * 12 + MONTH({earlier})))"
                )
            if unit == "QUARTER":
                return (
                    f"((YEAR({later}) * 4 + QUARTER({later})) - "
                    f"(YEAR({earlier}) * 4 + QUARTER({earlier})))"
                )
            if kind == "DATETIME" and unit in ("SECOND", "MINUTE", "HOUR"):
                return (
                    f"TIMESTAMPDIFF({unit}, DATE_TRUNC('{unit}', {earlier}), "
                    f"DATE_TRUNC('{unit}', {later}))"
                )
            raise ValueError(
                f"{kind}_DIFF unit {unit} has BigQuery boundary-crossing "
                "semantics with no exact Spark rewrite"
            )
        if unit in ("MICROSECOND", "MILLISECOND", "SECOND", "MINUTE", "HOUR", "DAY"):
            return f"TIMESTAMPDIFF({unit}, {earlier}, {later})"
        raise ValueError(
            f"{kind}_DIFF unit {unit}: whole-interval vs boundary "
            "semantics diverge; not rewritten"
        )

    text = _replace_balanced_call(text, _DIFF_RE, diff_render)

    # FORMAT_DATE/DATETIME/TIMESTAMP('%Y-%m-%d', x) →
    # DATE_FORMAT(x, 'yyyy-MM-dd'); the strftime→Java translation
    # happens inside the masked literal
    def format_dt(arg_text: str) -> str:
        args = _split_top_level_args(arg_text)
        if len(args) not in (2, 3):
            raise ValueError(f"FORMAT_DATE/TIMESTAMP takes 2-3 args: {arg_text!r}")
        fmt = _translate_masked_format(args[0], masked)
        operand = args[1]
        if len(args) == 3:  # FORMAT_TIMESTAMP(fmt, ts, tz)
            operand = f"FROM_UTC_TIMESTAMP({operand}, {args[2]})"
        return f"DATE_FORMAT({operand}, {fmt})"

    text = _replace_balanced_call(text, _FORMAT_DT_RE, format_dt)

    # PARSE_DATE/PARSE_TIMESTAMP('%Y%m%d', s) → TO_DATE/TO_TIMESTAMP
    def parse_render(fn: str):
        def render(arg_text: str) -> str:
            args = _split_top_level_args(arg_text)
            if len(args) != 2:
                raise ValueError(f"PARSE_* takes 2 args: {arg_text!r}")
            fmt = _translate_masked_format(args[0], masked)
            return f"{fn}({args[1]}, {fmt})"

        return render

    text = _replace_balanced_call(text, _PARSE_DATE_RE, parse_render("TO_DATE"))
    text = _replace_balanced_call(text, _PARSE_TS_RE, parse_render("TO_TIMESTAMP"))

    # ingestion-time pseudo-column → engine partition column
    text = _PARTITIONTIME_RE.sub("CAST(`dt` AS TIMESTAMP)", text)
    return text


_UTC_SUFFIX_RE = re.compile(
    r"""(['"])(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(?:\.\d+)?)\s+UTC\1"""
)


def _rewrite_literals(saved: list[str]) -> list[str]:
    """BQ timestamp literals like '2020-06-02 02:00:41.634266 UTC' —
    Spark can't parse the zone suffix; strip it (engine time is UTC)."""
    out = []
    for s in saved:
        m = _UTC_SUFFIX_RE.fullmatch(s)
        out.append(f"'{m.group(2)}'" if m else s)
    return out


def transpile(sql: str) -> str:
    """BigQuery SQL text → Spark SQL text. Raw strings (``r'\\d+'``)
    are converted to escaped Spark literals inside the masking scan —
    never by a pre-mask regex, which would misread an ``r`` at the end
    of an ordinary literal as a prefix."""
    masked = _mask(sql, convert_raw=True)
    text = masked.text
    text = _rewrite_fqns(text)
    text = _rewrite_functions(text, masked)
    masked.saved = _rewrite_literals(masked.saved)
    return _unmask(masked, text)


# --- statement splitting & classification -----------------------------------


def split_statements(sql: str) -> list[str]:
    """Split a script on top-level semicolons (string/comment aware)."""
    masked = _mask(sql)
    parts = masked.text.split(";")
    stmts = [_unmask(masked, p).strip() for p in parts]
    return [s for s in stmts if s]


_STMT_KIND_RES = [
    ("create_temp_function", re.compile(r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+FUNCTION\b", re.IGNORECASE)),
    ("create_temp_table_function", re.compile(r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\s+FUNCTION\b", re.IGNORECASE)),
    ("create_temp_table", re.compile(r"^\s*CREATE\s+(?:OR\s+REPLACE\s+)?TEMP(?:ORARY)?\s+TABLE\b", re.IGNORECASE)),
    ("declare", re.compile(r"^\s*DECLARE\b", re.IGNORECASE)),
    ("set", re.compile(r"^\s*SET\b", re.IGNORECASE)),
    ("merge", re.compile(r"^\s*MERGE\b", re.IGNORECASE)),
    ("delete", re.compile(r"^\s*DELETE\b", re.IGNORECASE)),
    ("update", re.compile(r"^\s*UPDATE\b", re.IGNORECASE)),
    ("insert", re.compile(r"^\s*INSERT\b", re.IGNORECASE)),
    ("drop_table", re.compile(r"^\s*DROP\s+TABLE\b", re.IGNORECASE)),
    ("export_data", re.compile(r"^\s*EXPORT\s+DATA\b", re.IGNORECASE)),
    ("create", re.compile(r"^\s*CREATE\b", re.IGNORECASE)),
    ("select", re.compile(r"^\s*(WITH|SELECT)\b", re.IGNORECASE)),
]


_LEADING_COMMENT_RE = re.compile(
    r"^(?:\s+|--[^\n]*(?:\n|$)|#[^\n]*(?:\n|$)|/\*.*?\*/)+", re.DOTALL
)


def classify_statement(stmt: str) -> str:
    # comment headers on statements are routine (BQ runs them fine);
    # classification must see the first real token, not the comment
    stmt = _LEADING_COMMENT_RE.sub("", stmt, count=1)
    for kind, pattern in _STMT_KIND_RES:
        if pattern.match(stmt):
            return kind
    return "other"


# --- table reference extraction (regex layer) -------------------------------

_COMMENT_RE = re.compile(r"(--[^\n]*|/\*.*?\*/)", re.DOTALL)
_HELPER_RE = re.compile(r"/\*\s*(@[a-zA-Z0-9_-]+)\s*\*/")
_TABLE_REF_RE = re.compile(
    r"""(?:FROM|JOIN|MERGE(?:\s+INTO)?|USING)\s+`?([\w\-]+\.[\w\-]+\.[\w\-$]+)`?""",
    re.IGNORECASE,
)
_WITH_NAME_RE = re.compile(
    r"(?:\bWITH\s+|,\s*)(`[^`]+`|[A-Za-z_][\w\-]*(?:\.[\w\-]+)*)\s+AS\s*\(",
    re.IGNORECASE,
)
_IGNORE_UPSTREAM = "@ignoreupstream"


def table_references(sql: str, destination: str | None = None) -> list[str]:
    """Upstream `project.dataset.table` references, excluding CTE names,
    the destination (cycle guard), and /* @ignoreupstream */-marked
    tables (reference: task/bq2bq/main.go:370-437)."""
    # find ignored tables: @ignoreupstream comment immediately preceding a ref
    ignored: set[str] = set()
    pieces = _COMMENT_RE.split(sql)
    for i, piece in enumerate(pieces):
        if _HELPER_RE.search(piece or "") and _IGNORE_UPSTREAM in piece:
            rest = "".join(p for p in pieces[i + 1 :] if not _COMMENT_RE.fullmatch(p or ""))
            m = re.match(r"\s*`?([\w\-]+\.[\w\-]+\.[\w\-$]+)`?", rest)
            if m:
                ignored.add(m.group(1))
    # strip comments (preserving nothing) then collect refs
    stripped = _COMMENT_RE.sub(" ", sql)
    cte_names = {
        m.group(1).strip("`").lower() for m in _WITH_NAME_RE.finditer(stripped)
    }
    refs: list[str] = []
    for m in _TABLE_REF_RE.finditer(stripped):
        ref = m.group(1)
        base = ref.split("$")[0]
        if base.lower() in cte_names:
            continue
        if destination and base == destination:
            continue
        if base in ignored:
            continue
        if base not in refs:
            refs.append(base)
    return refs
