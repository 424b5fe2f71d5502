"""EXPORT DATA writers (exports.py) and file-backed external tables
(Catalog.register_external_table)."""


def test_export_data_roundtrip(spark, tmp_path):
    """Extract-job analogue: csv/json/parquet exports round-trip, the
    single-file form yields exactly one data file, gzip compresses."""
    import glob
    import os

    from transformers_spark.exports import export_data

    df = spark.createDataFrame(
        [(1, 'quote " and, comma'), (2, "plain")], ["id", "text"]
    )
    base = str(tmp_path)
    export_data(df, os.path.join(base, "csv"), "csv", single_file=True)
    export_data(df, os.path.join(base, "json"), "json", compression="gzip")
    export_data(df, os.path.join(base, "pq"), "parquet")
    csv_files = glob.glob(os.path.join(base, "csv", "part-*"))
    assert len(csv_files) == 1  # single-URI form
    back = (
        spark.read.option("header", "true").option("escape", '"')
        .csv(os.path.join(base, "csv"))
    )
    assert {r["text"] for r in back.collect()} == {'quote " and, comma', "plain"}
    assert glob.glob(os.path.join(base, "json", "part-*.gz"))  # compressed
    assert spark.read.parquet(os.path.join(base, "pq")).count() == 2

    import pytest

    with pytest.raises(ValueError):
        export_data(df, base, "avro")


def test_export_data_statement_bq_defaults_and_quotes(spark, tmp_path):
    """EXPORT DATA defaults follow BigQuery (header/overwrite false);
    double-quoted option values with commas parse; degenerate
    destinations are rejected."""
    import os

    import pytest

    from transformers_spark.exports import execute_export_data, parse_export_data

    opts, query = parse_export_data(
        'EXPORT DATA OPTIONS(uri="/tmp/a,b/part-*", format=\'CSV\') AS SELECT 1'
    )
    assert opts["uri"] == "/tmp/a,b/part-*" and query == "SELECT 1"

    dest = str(tmp_path / "out")
    execute_export_data(
        spark,
        f"EXPORT DATA OPTIONS(uri='{dest}/part-*', format='CSV') AS SELECT 1 AS x",
    )
    # header defaults FALSE: the lone line is data, not a header
    import glob

    (f,) = [p for p in glob.glob(os.path.join(dest, "part-*")) if not p.endswith(".crc")]
    assert open(f).read().strip() == "1"
    # overwrite defaults FALSE: a second export to the same uri refuses
    with pytest.raises(Exception):
        execute_export_data(
            spark,
            f"EXPORT DATA OPTIONS(uri='{dest}/part-*', format='CSV') AS SELECT 2 AS x",
        )
    # degenerate destination
    with pytest.raises(ValueError):
        execute_export_data(
            spark, "EXPORT DATA OPTIONS(uri='/out-*', format='CSV') AS SELECT 1"
        )


def test_export_orc_roundtrip(spark, tmp_path):
    from transformers_spark.exports import export_data

    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    dest = str(tmp_path / "orc_out")
    export_data(df, dest, fmt="orc")
    back = spark.read.orc(dest)
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_export_avro_clear_error_without_module(spark, tmp_path):
    """Avro is a BigQuery extract format shipped as Spark's external
    module; without the jar the error must say exactly that (not a
    raw ClassNotFound)."""
    from transformers_spark.exports import export_data

    df = spark.createDataFrame([(1,)], ["id"])
    try:
        export_data(df, str(tmp_path / "avro_out"), fmt="avro")
    except ValueError as err:
        assert "spark-avro" in str(err)
    else:
        # module present on this classpath: round-trip must work
        back = spark.read.format("avro").load(str(tmp_path / "avro_out"))
        assert back.count() == 1


def test_external_table_quoted_path_and_options(spark, tmp_path):
    """Paths/options containing apostrophes must not break the DDL."""
    from transformers_spark.catalog import Catalog

    d = tmp_path / "o'brien"
    d.mkdir()
    spark.createDataFrame([(1, "x")], ["id", "v"]).write.mode("overwrite").parquet(
        str(d / "data")
    )
    cat = Catalog(spark)
    df = cat.register_external_table("extp.ds.quoted", str(d / "data"), fmt="parquet")
    assert df.count() == 1
