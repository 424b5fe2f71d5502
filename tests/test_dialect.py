"""Dialect shim tests — corpus-driven (reference sample queries)."""

import pytest

from transformers_spark.dialect import (
    classify_statement,
    split_statements,
    table_references,
    transpile,
)


def test_fqn_backtick_rewrite():
    out = transpile("select * from `g-project.playground.booking_log`")
    assert out == "select * from `g_project_playground`.`booking_log`"


def test_fqn_bare_rewrite():
    out = transpile("select * from proj.dataset.table join a.b.c on x = y")
    assert "proj_dataset.table" in out and "a_b.c" in out


def test_fqn_inside_string_untouched():
    out = transpile("select 'proj.dataset.table' as s from `p.d.t`")
    assert "'proj.dataset.table'" in out
    assert "`p_d`.`t`" in out


def test_timestamp_constructor():
    out = transpile("select TIMESTAMP ('2021-09-01T01:02:03') as ts")
    assert out == "select CAST('2021-09-01T01:02:03' AS TIMESTAMP) as ts"
    # CAST ... AS TIMESTAMP untouched
    assert transpile("CAST(x AS TIMESTAMP)") == "CAST(x AS TIMESTAMP)"


def test_date_with_timezone():
    out = transpile("DATE(created_timestamp,'Asia/Jakarta')")
    assert out == "TO_DATE(FROM_UTC_TIMESTAMP(created_timestamp, 'Asia/Jakarta'))"


def test_current_date_tz():
    out = transpile("select CURRENT_DATE('Asia/Jakarta')")
    assert "TO_DATE(FROM_UTC_TIMESTAMP(CURRENT_TIMESTAMP(), 'Asia/Jakarta'))" in out


def test_date_sub_interval():
    assert (
        transpile("DATE_SUB(current_date, INTERVAL 30 day)")
        == "DATE_SUB(current_date, 30)"
    )
    assert transpile("DATE_ADD(d, INTERVAL 2 month)") == "(d + INTERVAL 2 month)"


def test_date_trunc_week_monday():
    out = transpile("DATE_TRUNC(DATE(created_timestamp,'Asia/Jakarta'), WEEK(MONDAY))")
    assert out == (
        "CAST(DATE_TRUNC('WEEK', TO_DATE(FROM_UTC_TIMESTAMP(created_timestamp,"
        " 'Asia/Jakarta'))) AS DATE)"
    )


def test_numeric_cast():
    assert transpile("CAST(x AS NUMERIC)") == "CAST(x AS DECIMAL(38,9))"
    assert transpile("CAST(x AS DATETIME)") == "CAST(x AS TIMESTAMP)"


def test_in_unnest():
    out = transpile("WHERE DATE(`event_timestamp`) IN UNNEST(partitions)")
    assert "ARRAY_CONTAINS(partitions, DATE(`event_timestamp`))" in out


def test_partitiontime():
    out = transpile("WHERE date(`_PARTITIONTIME`) >= '2020-01-01'")
    assert "CAST(`dt` AS TIMESTAMP)" in out


def test_utc_literal_suffix_stripped():
    out = transpile('WHERE load_timestamp = "2020-06-02 02:00:41.634266 UTC"')
    assert out == "WHERE load_timestamp = '2020-06-02 02:00:41.634266'"


def test_split_statements_respects_strings():
    stmts = split_statements("select ';' as a; select 2")
    assert len(stmts) == 2
    assert stmts[0] == "select ';' as a"


def test_classify():
    assert classify_statement("DECLARE power INT64") == "declare"
    assert classify_statement("SET power = 9001") == "set"
    assert classify_statement("MERGE `t` S using (select 1) N on false") == "merge"
    assert classify_statement("WITH x AS (select 1) select * from x") == "select"
    assert classify_statement("DROP TABLE `a`") == "drop_table"


def test_table_references_basic():
    sql = "select * from `a.b.c` join `d-e.f.g` on 1=1"
    assert table_references(sql) == ["a.b.c", "d-e.f.g"]


def test_table_references_cte_and_destination_excluded():
    sql = (
        "WITH step1 AS (select * from proj.ds.src) "
        "select * from step1 join proj.ds.dest on 1=1"
    )
    assert table_references(sql, destination="proj.ds.dest") == ["proj.ds.src"]


def test_table_references_ignoreupstream():
    sql = "select * from /* @ignoreupstream */ `a.b.c` join `d.e.f` on 1=1"
    assert table_references(sql) == ["d.e.f"]


def test_table_references_comments_stripped():
    sql = "-- from `x.y.z`\nselect * from `a.b.c`"
    assert table_references(sql) == ["a.b.c"]


def test_safe_cast_and_regexp_contains():
    assert transpile("SAFE_CAST(x AS INT64)") == "TRY_CAST(x AS BIGINT)"
    assert transpile("CAST(x AS FLOAT64)") == "CAST(x AS DOUBLE)"
    assert transpile("SAFE_CAST(x AS NUMERIC)") == "TRY_CAST(x AS DECIMAL(38,9))"
    out = transpile("WHERE REGEXP_CONTAINS(name, r'^ab+')")
    assert "RLIKE" in out and "REGEXP_CONTAINS" not in out


def test_name_swaps():
    assert transpile("ARRAY_LENGTH(xs)") == "SIZE(xs)"
    assert transpile("GENERATE_UUID()") == "UUID()"
    assert transpile("STARTS_WITH(a, b)") == "STARTSWITH(a, b)"
    assert transpile("ENDS_WITH(a, b)") == "ENDSWITH(a, b)"


def test_timestamp_arith_and_diff():
    assert transpile("TIMESTAMP_ADD(ts, INTERVAL 4 HOUR)") == "(ts + INTERVAL 4 HOUR)"
    assert transpile("TIMESTAMP_SUB(ts, INTERVAL 30 MINUTE)") == "(ts - INTERVAL 30 MINUTE)"
    # nested operands with their own parens rewrite via balanced scan
    assert transpile(
        "TIMESTAMP_SUB(DATE_TRUNC(CAST(x AS TIMESTAMP), DAY), INTERVAL 1 HOUR)"
    ) == "(CAST(DATE_TRUNC('DAY', CAST(x AS TIMESTAMP)) AS DATE) - INTERVAL 1 HOUR)"
    assert transpile(
        "TIMESTAMP_ADD(TIMESTAMP_SUB(ts, INTERVAL 1 DAY), INTERVAL 2 HOUR)"
    ) == "((ts - INTERVAL 1 DAY) + INTERVAL 2 HOUR)"
    # unrewritable interval shapes fail at transpile time, loudly
    with pytest.raises(ValueError, match="INTERVAL"):
        transpile("TIMESTAMP_SUB(ts, INTERVAL x HOUR)")
    assert transpile("TIMESTAMP_DIFF(a, b, HOUR)") == "TIMESTAMPDIFF(HOUR, b, a)"
    assert transpile("DATE_DIFF(d1, d2, DAY)") == \
        "DATEDIFF(CAST(d1 AS DATE), CAST(d2 AS DATE))"
    # DATETIME_DIFF counts boundary crossings too (BQ civil-time family)
    assert transpile("DATETIME_DIFF(a, b, HOUR)") == \
        "TIMESTAMPDIFF(HOUR, DATE_TRUNC('HOUR', b), DATE_TRUNC('HOUR', a))"
    assert transpile("DATETIME_DIFF(a, b, DAY)") == \
        "DATEDIFF(CAST(a AS DATE), CAST(b AS DATE))"
    # BQ DATE_DIFF(.., MONTH/QUARTER/YEAR) counts boundary crossings
    assert transpile("DATE_DIFF(d1, d2, MONTH)") == \
        "((YEAR(d1) * 12 + MONTH(d1)) - (YEAR(d2) * 12 + MONTH(d2)))"
    assert transpile("DATE_DIFF(d1, d2, YEAR)") == "(YEAR(d1) - YEAR(d2))"
    with pytest.raises(ValueError):
        transpile("DATE_DIFF(d1, d2, WEEK)")  # Sunday-anchored, no twin
    with pytest.raises(ValueError):
        transpile("TIMESTAMP_DIFF(a, b, MONTH)")


def test_format_and_parse_date():
    out = transpile("FORMAT_DATE('%Y-%m-%d', d)")
    assert out == "DATE_FORMAT(d, 'yyyy-MM-dd')"
    out = transpile("PARSE_DATE('%Y%m%d', s)")
    assert out == "TO_DATE(s, 'yyyyMMdd')"
    out = transpile("PARSE_TIMESTAMP('%Y-%m-%d %H:%M:%S', s)")
    assert out == "TO_TIMESTAMP(s, 'yyyy-MM-dd HH:mm:ss')"
    # Java literal-letter quotes must be DOUBLED inside the SQL literal
    out = transpile("FORMAT_TIMESTAMP('%Y-%m-%dT%H:%M:%S', ts)")
    assert out == "DATE_FORMAT(ts, 'yyyy-MM-dd''T''HH:mm:ss')"
    with pytest.raises(ValueError):
        transpile("FORMAT_DATE('%Q %V', d)")  # %V unsupported -> loud
    with pytest.raises(ValueError):
        transpile("FORMAT_DATE('%U', d)")  # week-based: banned in Spark 3+


def test_new_rewrites_execute_in_spark(spark):
    rows = spark.sql(transpile(
        "SELECT SAFE_CAST('x' AS INT64) AS bad,"
        " SAFE_CAST('7' AS INT64) AS good,"
        " REGEXP_CONTAINS('abc', 'b') AS has_b,"
        " ARRAY_LENGTH([1, 2, 3]) AS n,"
        " STARTS_WITH('spark', 'sp') AS sw,"
        " TIMESTAMP_DIFF(TIMESTAMP '2024-01-02 03:00:00',"
        "                TIMESTAMP '2024-01-02 01:30:00', MINUTE) AS mins,"
        " DATE_DIFF(DATE '2024-03-01', DATE '2024-01-01', DAY) AS days,"
        " DATE_DIFF(DATE '2024-03-01', DATE '2024-02-28', MONTH) AS months,"
        " DATETIME_DIFF(TIMESTAMP '2024-01-02 00:00:01',"
        "               TIMESTAMP '2024-01-01 23:59:59', DAY) AS dt_days,"
        " FORMAT_TIMESTAMP('%H:%M UTC', TIMESTAMP '2024-05-04 06:07:08') AS hm,"
        " FORMAT_DATE('%Y/%m', DATE '2024-05-04') AS ym,"
        " FORMAT_TIMESTAMP('%Y-%m-%dT%H:%M:%S',"
        "                  TIMESTAMP '2024-05-04 06:07:08') AS iso,"
        " PARSE_DATE('%Y%m%d', '20240504') AS parsed"
    )).collect()
    r = rows[0]
    assert r["bad"] is None and r["good"] == 7
    assert r["has_b"] is True and r["n"] == 3 and r["sw"] is True
    assert r["mins"] == 90 and r["days"] == 60
    assert r["months"] == 1  # boundary crossing, not elapsed months
    assert r["dt_days"] == 1  # midnight crossed though only 2s elapsed
    assert r["hm"] == "06:07 UTC"  # adjacent literal letters quote as one run
    assert r["ym"] == "2024/05" and r["iso"] == "2024-05-04T06:07:08"
    assert str(r["parsed"]) == "2024-05-04"


def test_common_bq_function_rewrites_execute(spark):
    from transformers_spark.dialect import transpile

    rows = spark.sql(transpile(
        "SELECT SAFE_DIVIDE(10, 0) AS dz,"
        " SAFE_DIVIDE(10, 4) AS dq,"
        " DIV(17, 5) AS intdiv,"
        " GENERATE_ARRAY(1, 5, 2) AS ga,"
        " GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-01-04') AS gda,"
        " GENERATE_DATE_ARRAY(DATE '2024-01-01', DATE '2024-03-01',"
        "                     INTERVAL 1 MONTH) AS gdm,"
        " ARRAY_TO_STRING(['a', 'b', 'c'], '-') AS ats,"
        " FORMAT('%d-%s', 7, 'x') AS fmt"
    )).collect()
    r = rows[0]
    assert r["dz"] is None and r["dq"] == 2.5
    assert r["intdiv"] == 3
    assert list(r["ga"]) == [1, 3, 5]
    assert [str(d) for d in r["gda"]] == [
        "2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"
    ]
    assert [str(d) for d in r["gdm"]] == ["2024-01-01", "2024-02-01", "2024-03-01"]
    assert r["ats"] == "a-b-c"
    assert r["fmt"] == "7-x"


def test_logical_agg_rewrites_execute(spark):
    from transformers_spark.dialect import transpile

    rows = spark.sql(transpile(
        "SELECT LOGICAL_AND(x > 0) AS all_pos, LOGICAL_OR(x > 2) AS any_big"
        " FROM (SELECT 1 AS x UNION ALL SELECT 2 UNION ALL SELECT 3)"
    )).collect()
    assert rows[0]["all_pos"] is True and rows[0]["any_big"] is True


def test_format_date_untouched_by_format_rename():
    from transformers_spark.dialect import transpile

    out = transpile("SELECT FORMAT_DATE('%Y', DATE '2024-01-01') AS y")
    assert "FORMAT_STRING" not in out.upper() or "DATE_FORMAT" in out.upper()


def test_generate_array_empty_on_wrong_direction(spark):
    from transformers_spark.dialect import transpile

    rows = spark.sql(transpile(
        "SELECT GENERATE_ARRAY(5, 1) AS e,"
        " GENERATE_ARRAY(1, 3) AS up,"
        " GENERATE_ARRAY(3, 1, -1) AS down,"
        " GENERATE_ARRAY(1, 3, -1) AS e2,"
        " GENERATE_ARRAY(2, 2, -1) AS single,"
        " GENERATE_DATE_ARRAY(DATE '2024-01-02', DATE '2024-01-01') AS ed"
    )).collect()
    r = rows[0]
    assert list(r["e"]) == [] and list(r["ed"]) == []
    assert list(r["up"]) == [1, 2, 3] and list(r["down"]) == [3, 2, 1]
    assert list(r["e2"]) == [] and list(r["single"]) == [2]


def test_transpile_idempotent_on_sample_corpus():
    """transpile(transpile(q)) == transpile(q) for every reference
    sample query — the shim's passes must be stable under re-entry
    (a second run over already-Spark SQL must not rewrite further)."""
    import glob
    import os

    from transformers_spark.dialect import transpile
    from transformers_spark.samples import SAMPLES_ROOT

    files = sorted(
        glob.glob(os.path.join(SAMPLES_ROOT, "**", "query.sql"), recursive=True)
    )
    assert len(files) >= 15
    for path in files:
        sql = open(path).read()
        once = transpile(sql)
        assert transpile(once) == once, path


def test_mask_unmask_roundtrip_property():
    """_mask/_unmask round-trips any SQL text exactly, including
    literals with embedded quotes, comments, and marker-like bytes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from transformers_spark.dialect import _mask, _unmask

    sqlish = st.text(
        alphabet=st.sampled_from(list("abc'\"-/*#\n ();=") + ["\\"]),
        max_size=60,
    )

    @given(sqlish)
    @settings(max_examples=300, deadline=None)
    def check(text):
        # the load-bearing invariant: masking is information-preserving
        # (comments/escapes/unterminated literals may legitimately leave
        # quotes unmasked, so no structural claim beyond the round-trip)
        masked = _mask(text)
        assert _unmask(masked, masked.text) == text

    check()


def test_mask_grammar_position_properties():
    """Grammar-position property suite (round-4 verdict ask 7): the
    raw-string-prefix bug was a GRAMMAR-POSITION class — a literal
    misread because of what sat next to it — not a one-off. Generate
    well-formed token streams (identifiers, keywords, every literal
    form, every comment form) in random positions and assert:

    1. mask -> unmask is the identity;
    2. every literal/comment token is masked (no quote or comment
       opener survives in the masked text);
    3. transpile never alters a plain 1-quote literal's body, even
       bodies that look like rewritable SQL;
    4. raw literals convert to Spark literals that DECODE back to the
       same character sequence."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from transformers_spark.dialect import _mask, _unmask, transpile

    # bodies deliberately include rewrite-triggering text ('r', FQNs,
    # function names) and whitespace, but no quotes/backslashes for the
    # PLAIN form (those are exercised by dedicated tests + raw forms)
    plain_body = st.sampled_from(
        ["", "r", "R", "foo r", "proj.ds.tbl", "DATE(x)", "SELECT",
         "a b  c", "2020-01-01", "it is", "--not a comment", "/*x*/"]
    )
    raw_body = st.sampled_from(
        ["", r"\d+", r"a\.b", "it", r"x\w", "a'?", 'b"?', r"tail\\"]
    )
    ident = st.sampled_from(["t", "x", "abc", "r2", "Rt", "tbl_r"])
    kw = st.sampled_from(["SELECT", "FROM", "WHERE", "AND", "AS", ",", "(", ")"])

    def mk_plain(b, q="'"):
        return q + b + q

    def mk_raw(b, q="'"):
        # a BARE quote inside a 1-quote raw literal terminates it
        # (invalid GoogleSQL for our bodies) — escape it as a \<quote>
        # pair, which raw semantics keep as two literal characters
        b = b.replace(q, "\\" + q)
        # avoid a body whose trailing backslash would pair with the
        # closing quote in 1-quote form (invalid GoogleSQL)
        if b.endswith("\\") and not b.endswith("\\\\"):
            b = b + "\\"
        return "r" + q + b + q

    token = st.one_of(
        ident,
        kw,
        plain_body.map(mk_plain),
        plain_body.map(lambda b: mk_plain(b, '"')),
        raw_body.map(mk_raw),
        raw_body.map(lambda b: "r'''" + b.replace("'''", "") + "'''"),
        plain_body.map(lambda b: "-- " + b),
        plain_body.map(lambda b: "/* " + b.replace("*/", "") + " */"),
        plain_body.map(lambda b: "# " + b),
    )

    @given(st.lists(token, min_size=1, max_size=12))
    @settings(max_examples=300, deadline=None)
    def check(tokens):
        # line comments terminate at newline — join with newlines so
        # every following token survives in a fresh line position
        sql = "\n".join(tokens)
        masked = _mask(sql)
        # (1) identity
        assert _unmask(masked, masked.text) == sql
        # (2) all literal/comment tokens masked: the masked text keeps
        # no quote chars and no comment openers from the generated forms
        for marker in ("'", '"', "--", "/*", "#"):
            assert marker not in masked.text, (marker, sql, masked.text)
        # (3) plain literal bodies survive transpile verbatim
        out = transpile(sql)
        for tok in tokens:
            if tok.startswith("'") and tok.endswith("'") and len(tok) >= 2:
                assert tok in out, (tok, sql, out)
        # (4) raw literals decode back to their body after conversion
        conv = _mask(sql, convert_raw=True)
        for orig, saved in zip(_mask(sql).saved, conv.saved):
            if orig[:1] in "rR" and len(orig) > 1 and orig[1] in "'\"":
                q = orig[1]
                body = orig[4:-3] if orig[1:4] == q * 3 else orig[2:-1]
                dec = (
                    saved[1:-1]
                    .replace("\\" + q, q)
                    .replace("\\\\", "\\")
                )
                assert dec == body, (orig, saved)

    check()


def test_struct_field_access_not_mangled():
    """alias.struct.field in expression position must survive — only
    table-position 3-part names (after FROM/JOIN/INTO/...) rewrite."""
    from transformers_spark.dialect import transpile

    out = transpile("SELECT t.address.city FROM `proj.ds.tbl` t")
    assert "t.address.city" in out
    out2 = transpile("SELECT x FROM proj.ds.tbl WHERE a.b.c > 1")
    assert "FROM proj_ds.tbl" in out2
    assert "a.b.c > 1" in out2  # expression-position path untouched


def test_not_in_unnest():
    from transformers_spark.dialect import transpile

    out = transpile("SELECT * FROM x WHERE id NOT IN UNNEST(ids)")
    assert "(NOT ARRAY_CONTAINS(ids, id))" in out


def test_raw_string_literals():
    """BQ r'...' raw strings become escaped Spark literals with the
    same character sequence."""
    from transformers_spark.dialect import transpile

    out = transpile(r"SELECT REGEXP_CONTAINS(s, r'\d+') FROM t")
    assert r"'\\d+'" in out and " r'" not in out


def test_raw_string_prefix_not_misread_inside_literals():
    """An ordinary literal ending in a standalone 'r' must NOT be
    treated as a raw-string prefix (round-3 ADVICE, high)."""
    from transformers_spark.dialect import transpile

    assert "'r'" in transpile("SELECT 'r' AS g")
    out = transpile("SELECT * FROM t WHERE a = 'foo r' AND b = 'baz'")
    assert "'foo r'" in out and "'baz'" in out
    # capital R and double quotes behave the same
    assert '"R"' in transpile('SELECT "R" AS g')
    # a real raw string still converts even next to ordinary literals
    out2 = transpile(r"SELECT 'r', r'\w+' FROM t")
    assert r"'r', '\\w+'" in out2


def test_raw_string_escaped_quote_pairs():
    """GoogleSQL keeps a backslash-quote pair inside a raw string as
    two literal characters WITHOUT terminating the literal
    (r'it\\'s' == it\\'s); the lexer must step over \\. pairs instead
    of ending the token at the first quote (round-4 review)."""
    from transformers_spark.dialect import transpile

    out = transpile(r"SELECT r'it\'s' AS g")
    assert r"'it\\\'s'" in out and " r'" not in out
    out = transpile(r'SELECT r"a\"b" AS g')
    assert r'"a\\\"b"' in out
    # triple-quoted raw: \' pair does not close the literal early
    out = transpile(r"SELECT r'''a\'''' AS g")
    assert r"'a\\\''" in out and "'''" not in out
    # the rest of the statement is untouched (no cascade mangling)
    out = transpile(r"SELECT r'it\'s' AS a, 'plain' AS b")
    assert "'plain'" in out and out.rstrip().endswith("AS b")


def test_raw_triple_quoted_strings():
    """BQ r'''...''' must convert as a whole, not be misread as an
    empty raw string r'' followed by fragments — and the emitted form
    must be a 1-quote literal, since Spark has no triple-quote syntax
    ('''x''' parses as quote-escapes: the value 'x' WITH quote chars)
    (round-4 review, twice)."""
    from transformers_spark.dialect import transpile

    out = transpile(r"SELECT r'''\d+''' AS x")
    assert r"'\\d+'" in out and " r'" not in out and "'''" not in out
    out = transpile(r'SELECT R"""a\.b""" AS y')
    assert r'"a\\.b"' in out and '"""' not in out
    # empty raw triple collapses to the empty literal
    assert "SELECT '' AS e" in transpile("SELECT r'''''' AS e")
    # raw bodies have NO escape semantics: a body ending in backslash
    # (legal BQ) must not derail the scan or leak fragments
    out = transpile(r"SELECT r'''ab\''' AS x")
    assert r"'ab\\'" in out and "'''" not in out
    # quotes inside the triple body get escaped for the 1-quote form
    out = transpile("SELECT r'''it's ok''' AS x")
    assert r"'it\'s ok'" in out
    # plain (non-raw) triple: keep existing escapes, escape bare quotes
    out = transpile(r"SELECT '''plain\n''' AS z")
    assert r"'plain\n'" in out and "'''" not in out
    out = transpile("SELECT '''don't''' AS z")
    assert r"'don\'t'" in out


def test_triple_quoted_literals_evaluate_correctly(spark):
    """End-to-end: the transpiled literal must EVALUATE in Spark to the
    BigQuery value — the text-level asserts above can't catch an output
    form Spark parses differently than intended."""
    from transformers_spark.dialect import transpile

    cases = [
        (r"SELECT r'''\d+''' AS v", r"\d+"),
        (r"SELECT r'\w+' AS v", r"\w+"),
        ("SELECT r'''it's ok''' AS v", "it's ok"),
        (r"SELECT r'''ab\''' AS v", "ab\\"),
        ("SELECT r'''''' AS v", ""),
        (r"SELECT '''plain\n''' AS v", "plain\n"),
        ("SELECT '''don't''' AS v", "don't"),
        ('SELECT """say "hi" now""" AS v', 'say "hi" now'),
        ("SELECT '''line1\nline2''' AS v", "line1\nline2"),
    ]
    for sql, expected in cases:
        got = spark.sql(transpile(sql)).collect()[0][0]
        assert got == expected, f"{sql!r}: {got!r} != {expected!r}"


def test_classify_statement_skips_leading_comments():
    from transformers_spark.dialect import classify_statement

    assert classify_statement("-- header\nSELECT 1") == "select"
    assert (
        classify_statement("/* note */\nMERGE INTO t USING s ON a WHEN MATCHED THEN DELETE")
        == "merge"
    )


def test_date_arith_nested_operand():
    from transformers_spark.dialect import transpile

    out = transpile("SELECT DATE_SUB(DATE(ts, 'Asia/Jakarta'), INTERVAL 1 DAY) FROM t")
    assert "DATE_SUB(TO_DATE(FROM_UTC_TIMESTAMP(ts, 'Asia/Jakarta')), 1)" in out


def test_timestamp_constructor_two_arg_tz():
    from transformers_spark.dialect import transpile

    out = transpile("SELECT TIMESTAMP('2024-01-01 10:00:00', 'Asia/Jakarta')")
    assert "TO_UTC_TIMESTAMP('2024-01-01 10:00:00', 'Asia/Jakarta')" in out
