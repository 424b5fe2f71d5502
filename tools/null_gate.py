"""Mutation-wave datasets: null injection and value-content variants.

The driver's testdata contains no NULLs, so a whole class of
Spark-vs-DuckDB divergence (size(split(NULL)) = -1, count(*) vs
null-skipping COUNT(col), hashing NULL into a sketch, ...) is
invisible to the regular gate. The builders here copy sf0.001 with
~2% NULLs injected into the nullable VALUE columns of the LLM-pipeline
tables (events.user_id/event_type/value/props, documents.text/lang/
source, embeddings.label — ids, timestamps and vectors stay non-null;
waves 2 and 3 widen the set), or with degenerate text, malformed
JSON, unicode, extreme values or duplicate rows.

A mismatch on such data is a real portability bug: the two engines
disagree on the same input. ``tools/run_gates.py`` builds each wave and
runs the dual-engine compare over every catalog query:

    python tools/run_gates.py --waves null-w1,null-all,duprows --json /tmp/null.json
"""

from __future__ import annotations

import os
import shutil
import sys

SRC = "/root/testdata/sf0.001"

# table -> columns to null-inject (deterministic ~2% by id-hash)
INJECT = {
    "events": ["user_id", "event_type", "value", "props"],
    "documents": ["text", "lang", "source"],
    "embeddings": ["label"],
}
# wave 2: event-time and embedding-vector nulls — these exercise
# window ORDER BY (Spark defaults NULLS FIRST asc, DuckDB NULLS LAST),
# temporal joins, and vector arithmetic, so they are gated separately
INJECT_WAVE2 = {
    "events": ["ts"],
    "embeddings": ["embedding"],
}
# wave 3: the TPC-H side. FK columns (o_custkey, l_partkey, l_suppkey,
# c_nationkey, s_nationkey) are the interesting ones — NOT IN with a
# NULL-bearing subquery must yield the empty set in BOTH engines, and a
# Spark plan that compiled NOT IN to a plain left-anti join would
# diverge here. Value columns exercise null-skipping aggregates and
# NULL group keys. Date/timestamp columns stay non-null: the engine's
# time-null contract was established in wave 2 (event-time operators
# drop NULL event times) and TPC-H dates are PK-like generator outputs.
INJECT_WAVE3 = {
    "customer": ["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    "lineitem": [
        "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    ],
    "part": ["p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "supplier": ["s_name", "s_nationkey", "s_acctbal"],
}
# table -> key EXPRESSION used to derive the deterministic inject hash
# (lineitem's key is composite, so it hashes a fused expression)
KEY = {
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    "customer": "c_custkey",
    "orders": "o_orderkey",
    "lineitem": "(l_orderkey * 8 + l_linenumber)",
    "part": "p_partkey",
    "supplier": "s_suppkey",
    "region": "r_regionkey",
    "nation": "n_nationkey",
}


def build_degenerate_text(dst_dir: str) -> None:
    """documents.text variant: ~2% each of empty string, whitespace-only
    and single-token text (n_chars kept consistent). A DISTINCT
    divergence class from NULL injection: split('') yields [''] (one
    empty token), not [] — tokenizer-adjacent operators that conflate
    the two diverge here, not in the null waves."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if fname != "documents.parquet":
            shutil.copyfile(src, dst)
            continue
        duckdb.sql(f"""
COPY (
  SELECT doc_id,
         CASE WHEN hash(doc_id) % 50 = 0 THEN ''
              WHEN hash(doc_id) % 50 = 1 THEN '   '
              WHEN hash(doc_id) % 50 = 2 THEN 'single'
              -- exotic-whitespace case: vertical tab + form feed, the
              -- Java-\\s-vs-RE2-\\s divergence probe (ORACLES.md class 16)
              WHEN hash(doc_id) % 50 = 3 THEN 'a' || chr(11) || 'b' || chr(12) || 'c'
              ELSE text END AS text,
         lang, source,
         CASE WHEN hash(doc_id) % 50 IN (0, 1, 2, 3) THEN length(
           CASE WHEN hash(doc_id) % 50 = 0 THEN ''
                WHEN hash(doc_id) % 50 = 1 THEN '   '
                WHEN hash(doc_id) % 50 = 3 THEN 'a' || chr(11) || 'b' || chr(12) || 'c'
                ELSE 'single' END) ELSE n_chars END AS n_chars
  FROM read_parquet('{src}')
) TO '{dst}' (FORMAT PARQUET)""")
    print(f"built {dst_dir} (degenerate text)", file=sys.stderr)


def build_unicode_text(dst_dir: str) -> None:
    """documents.text variant: ~10% accented / CJK / emoji / RTL /
    Turkish-İ strings. Case folding is the divergence class: Java/ICU
    full folding (Spark) maps U+0130 to 'i' + U+0307 while DuckDB's
    simple folding gives bare 'i' — oracles pre-replace İ to state the
    Spark contract (found by this gate in round 5)."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    variants = [
        "Éléphant CAFÉ Straße ärger ÜBER naïve",
        "数据 处理 引擎 スパーク データ 処理",
        "emoji 🚀 test 🎉 mixed ascii 🚀 tokens",
        "مرحبا بالعالم نص عربي تجريبي هنا",
        "Türkçe İstanbul ışık DOTTED İİ test",
    ]
    cases = " ".join(
        f"WHEN hash(doc_id) %% 50 = {i} THEN '{v}'" for i, v in enumerate(variants)
    ).replace("%%", "%")
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if fname != "documents.parquet":
            shutil.copyfile(src, dst)
            continue
        duckdb.sql(f"""
COPY (
  SELECT doc_id,
         CASE {cases} ELSE text END AS text,
         lang, source,
         length(CASE {cases} ELSE text END) AS n_chars
  FROM read_parquet('{src}')
) TO '{dst}' (FORMAT PARQUET)""")
    print(f"built {dst_dir} (unicode text)", file=sys.stderr)


def build_extreme_values(dst_dir: str) -> None:
    """events.value variant: ~6% extreme doubles (±1e308, 1e-308).
    Divergence class: with ANSI off, Spark CAST(1e308 AS DECIMAL(p,s))
    yields NULL; DuckDB CAST raises a conversion error (TRY_CAST is
    the lenient twin). This wave MEASURES which oracles still assume
    plain CAST — a red row here is an oracle-portability finding, not
    an engine bug."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if fname != "events.parquet":
            shutil.copyfile(src, dst)
            continue
        duckdb.sql(f"""
COPY (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN hash(event_id) % 50 = 0 THEN 1e308
              WHEN hash(event_id) % 50 = 1 THEN -1e308
              WHEN hash(event_id) % 50 = 2 THEN 1e-308
              ELSE value END AS value,
         props
  FROM read_parquet('{src}')
) TO '{dst}' (FORMAT PARQUET)""")
    print(f"built {dst_dir} (extreme values)", file=sys.stderr)


def build_malformed_json(dst_dir: str) -> None:
    """events.props variant: ~8% malformed JSON ('{', '', 'not json',
    '[1,2'). Spark's get_json_object is LENIENT (NULL on malformed);
    DuckDB's json_extract_string ERRORS — oracles must guard with
    json_valid to state the lenient engine contract."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if fname != "events.parquet":
            shutil.copyfile(src, dst)
            continue
        duckdb.sql(f"""
COPY (
  SELECT event_id, user_id, event_type, ts, value,
         CASE WHEN hash(event_id) % 50 = 0 THEN '{{'
              WHEN hash(event_id) % 50 = 1 THEN ''
              WHEN hash(event_id) % 50 = 2 THEN 'not json'
              WHEN hash(event_id) % 50 = 3 THEN '[1,2'
              ELSE props END AS props
  FROM read_parquet('{src}')
) TO '{dst}' (FORMAT PARQUET)""")
    print(f"built {dst_dir} (malformed json)", file=sys.stderr)


def build_duplicate_rows(dst_dir: str, src_dir: str = SRC) -> None:
    """EVERY table gets ~1% exact duplicate rows (ids included) via a
    deterministic hash-sample UNION ALL. Divergence class: the oracle
    determinism convention breaks ties on id columns (event_id, doc_id,
    ...) — with non-unique ids those ties become nondeterministic in
    BOTH engines unless the tied rows are bit-identical (they are, by
    construction here) or the query reduces them (DISTINCT / aggregate).
    A red row here means a query's output ORDER or slice depends on
    which physical duplicate won — a real contract hole.

    ``src_dir`` lets the wave COMPOSE: pointing it at a null-injected
    copy duplicates null-BEARING rows (ids included), probing the
    dup×null interaction (NULL group keys duplicated, eqNullSafe
    partitions with physical copies, NULL-id tie-breaks)."""
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(src_dir)):
        if not fname.endswith(".parquet"):
            continue
        table = fname[: -len(".parquet")]
        src = os.path.join(src_dir, fname)
        dst = os.path.join(dst_dir, fname)
        key = KEY[table]
        # tiny dimensions (region 5 / nation 25 rows) would rarely hit a
        # 1% sample — duplicate every ~4th row there so the wave
        # actually exercises duplicated dimension keys
        mod = 100 if table not in ("region", "nation") else 4
        duckdb.sql(f"""
COPY (
  SELECT * FROM read_parquet('{src}')
  UNION ALL
  SELECT * FROM read_parquet('{src}') WHERE hash({key}) % {mod} = 0
) TO '{dst}' (FORMAT PARQUET)""")
    print(f"built {dst_dir} (duplicate rows)", file=sys.stderr)


def build_nulldata(inject: dict, dst_dir: str) -> None:
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        table = fname[: -len(".parquet")]
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if table not in inject:
            shutil.copyfile(src, dst)
            continue
        key = KEY[table]
        cols = duckdb.sql(f"DESCRIBE SELECT * FROM read_parquet('{src}')").fetchall()
        exprs = []
        for cname, *_ in cols:
            if cname in inject[table]:
                # ~2% per column, decorrelated across columns by name
                exprs.append(
                    f"CASE WHEN hash({key} + hash('{cname}')) % 50 = 0 "
                    f"THEN NULL ELSE {cname} END AS {cname}"
                )
            else:
                exprs.append(cname)
        duckdb.sql(
            f"COPY (SELECT {', '.join(exprs)} FROM read_parquet('{src}')) "
            f"TO '{dst}' (FORMAT PARQUET)"
        )
    print(f"built {dst_dir}", file=sys.stderr)
