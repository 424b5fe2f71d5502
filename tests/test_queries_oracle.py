"""Replicates the driver's correctness gate locally: run every catalog
query in Spark AND its DuckDB oracle on the same parquet tables, then
compare row count, column names, and order-insensitive values."""

import re

import pytest

from transformers_spark.canon import (
    duckdb_connect_views as _duckdb_con,
    normalize_rows as _normalize,
    pandas_canon as _pandas_canon,
)
from transformers_spark.queries import QUERIES
from transformers_spark.queries import oracle_for as _oracle_for

# DuckDB output types whose pandas conversion diverges from Spark's
# (HUGEINT -> float64 vs bigint; arrays/structs -> unhashable cells;
# unsigned/decimal -> lossy or object) — every oracle must cast these
# away or the driver's pandas canon will mismatch/crash.
_HAZARD_DUCK_TYPE_RE = re.compile(
    r"HUGEINT|UHUGEINT|UTINYINT|USMALLINT|UINTEGER|UBIGINT"
    r"|\[\d*\]|STRUCT|MAP\(|UNION\(|DECIMAL",
    re.IGNORECASE,
)

# Spark-side output types the driver canon crashes on (arrays) or
# coerces lossily (decimal -> object vs DuckDB's float64).
SPARK_HAZARD_TYPE_NAMES = ("array", "struct", "map", "decimal")


@pytest.mark.parametrize("name", [n for n, s in QUERIES.items() if s.oracle])
def test_query_matches_oracle(spark, sf_dir, name):
    spec = QUERIES[name]
    sdf = spec.build(spark, sf_dir)
    hazardous = [
        f.name
        for f in sdf.schema.fields
        if f.dataType.typeName() in SPARK_HAZARD_TYPE_NAMES
    ]
    assert not hazardous, (
        f"{name}: Spark output column(s) {hazardous} have pandas-hostile "
        "types — the driver canon crashes on arrays and diverges on "
        "decimals; emit strings/doubles/bigints instead"
    )
    spark_cols = [c.lower() for c in sdf.columns]
    # persist: the frame is read twice (collect + toPandas) — without
    # this every Spark plan executes twice per gate entry
    sdf = sdf.persist()
    try:
        spark_rows = [tuple(r) for r in sdf.collect()]

        con = _duckdb_con(sf_dir)
        res = con.execute(_oracle_for(name, sf_dir))
        duck_cols = [d[0].lower() for d in res.description]
        duck_rows = res.fetchall()

        assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column mismatch"
        assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"
        assert _normalize(spark_rows, spark_cols) == _normalize(duck_rows, duck_cols), (
            f"{name}: value mismatch"
        )

        # --- driver-faithful pandas canon (round-3 lesson: the fetchall
        # check above is TOO LENIENT — the driver goes through pandas,
        # where HUGEINT becomes float64 and array cells crash sort_values)
        spark_pd = _pandas_canon(sdf.toPandas())
        duck_pd = _pandas_canon(con.execute(_oracle_for(name, sf_dir)).fetch_df())
        assert spark_pd == duck_pd, f"{name}: pandas-canon mismatch (driver would hash-fail)"
    finally:
        sdf.unpersist()


@pytest.mark.parametrize("name", [n for n, s in QUERIES.items() if s.oracle])
def test_oracle_output_dtypes_are_pandas_safe(sf_dir, name):
    """DESCRIBE every oracle and reject output types whose pandas
    conversion diverges from Spark's (HUGEINT, arrays, structs,
    unsigned, DECIMAL) — the round-3 driver failures were exactly
    these, invisible to a fetchall-based gate."""
    con = _duckdb_con(sf_dir)
    rows = con.execute(f"DESCRIBE {_oracle_for(name, sf_dir)}").fetchall()
    bad = [(c, t) for c, t, *_ in rows if _HAZARD_DUCK_TYPE_RE.search(t)]
    assert not bad, (
        f"{name}: oracle emits pandas-hostile type(s) {bad} — cast to "
        "BIGINT/DOUBLE/VARCHAR (array_to_string for lists) in the oracle "
        "and mirror the cast in the Spark query"
    )


def test_every_query_has_an_oracle():
    """no_oracle reached 0 in round 3 — keep it there: a new catalog
    query without a DuckDB oracle would silently downgrade the driver
    gate to a rows-only check."""
    assert not [n for n, s in QUERIES.items() if not s.oracle]


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() > 0
    names = entry_mod.queries().keys()
    oracles = entry_mod.oracle_sql()
    assert set(oracles).issubset(set(names))


def test_windowed_query_does_not_poison_shared_events_view(spark, sf_dir):
    """q_windowed_daily_events registers a pre-filtered events source;
    it must live under its own view name — replacing the shared
    "events" view would silently window every later events query in
    the session (the registration cache skips already-registered
    views)."""
    from transformers_spark.sources.testdata import register_tables

    register_tables(spark, sf_dir, ("events",))  # populate the cache
    full = spark.table("events").count()
    QUERIES["windowed_daily_events"].build(spark, sf_dir).count()
    register_tables(spark, sf_dir, ("events",))  # cache hit: no-op
    assert spark.table("events").count() == full


def test_event_value_moments_degenerate_groups(spark, tmp_path):
    """n=1 and zero-variance groups: NULL on BOTH engines by explicit
    guard (ADVICE r1 — Spark's non-ANSI x/0 is NULL while DuckDB's IEEE
    doubles are inf/NaN, and sqrt(negative cancellation) is NaN here,
    an error there). Runs query AND oracle on a synthetic events table
    that actually contains the degenerate groups the testdata lacks."""
    import duckdb as _duck
    from datetime import datetime as dt

    from transformers_spark.analytics import (
        ORACLE_EVENT_VALUE_MOMENTS,
        q_event_value_moments,
    )

    sf = str(tmp_path / "sfdeg")
    df = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 5), 10, "single", 3.5),
            (2, dt(2024, 1, 1, 6), 11, "constant", 2.0),
            (3, dt(2024, 1, 1, 6), 12, "constant", 2.0),
            (4, dt(2024, 1, 1, 7), 13, "normal", 1.0),
            (5, dt(2024, 1, 1, 8), 14, "normal", 5.0),
        ],
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double",
    )
    # write micros, not INT96: pyarrow reports INT96 as timestamp[ns],
    # which would mis-trigger the source layer's nanos conversion
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        df.write.parquet(f"{sf}/events.parquet")
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)

    out = {r["event_type"]: r for r in q_event_value_moments(spark, sf).collect()}
    assert out["single"]["stddev_value"] is None
    assert out["single"]["corr_value_hour"] is None
    assert out["constant"]["stddev_value"] == 0.0
    assert out["constant"]["corr_value_hour"] is None  # zero variance
    assert out["normal"]["corr_value_hour"] == 1.0  # exact positive corr

    con = _duck.connect()
    con.execute(
        # Spark wrote a directory of part files; glob them for DuckDB
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet/*.parquet')"
    )
    res = con.execute(ORACLE_EVENT_VALUE_MOMENTS)
    cols = [d[0].lower() for d in res.description]
    duck_rows = res.fetchall()
    spark_rows = [tuple(r) for r in q_event_value_moments(spark, sf).collect()]
    assert _normalize(spark_rows, [c.lower() for c in q_event_value_moments(spark, sf).columns]) == _normalize(duck_rows, cols)


def test_dedup_incremental_empty_documents(spark, tmp_path):
    """The 80/20 split threshold is a LAZY broadcast aggregate (round-4
    review: an eager collect crashed on an empty table with
    'None * 4' and scanned the table just to build the plan). Empty
    documents must yield an empty result, not a TypeError."""
    from transformers_spark.operators.specs import q_dedup_incremental

    sf = str(tmp_path / "sfempty")
    empty = spark.createDataFrame(
        [],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    empty.write.parquet(f"{sf}/documents.parquet")
    out = q_dedup_incremental(spark, sf)
    assert out.count() == 0
    assert out.columns == ["new_doc", "matched_doc", "matching_bands"]
