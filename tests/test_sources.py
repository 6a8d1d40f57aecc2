"""Source/registration layer tests — the format matrix from
SURVEY.md §5 (reference factories context.rs:37-42, listing.rs)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.ipc
import pytest

from adt_spark.sources import ensure_scheme, path_sql_name, register_table
from adt_spark.sources.delta import DeltaUnavailableError, read_delta
from adt_spark.sources.registry import UnsupportedFormatError


@pytest.fixture(scope="module")
def region_rows(spark, sf_dir):
    return (
        spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
        .orderBy("r_regionkey")
        .collect()
    )


def test_ensure_scheme_local_and_passthrough(tmp_path):
    # port of the reference's URL-normalization unit test
    # (deltatable.rs:620-630): dirs gain a trailing slash, schemes pass.
    d = tmp_path / "t"
    d.mkdir()
    assert ensure_scheme(str(d)) == f"file://{d}/"
    assert ensure_scheme("s3://bucket/key") == "s3://bucket/key"
    f = tmp_path / "x.parquet"
    f.write_bytes(b"")
    assert ensure_scheme(str(f)) == f"file://{f}"


def test_register_parquet(spark, sf_dir, region_rows):
    df = register_table(spark, "src_region", os.path.join(sf_dir, "region.parquet"))
    assert df.orderBy("r_regionkey").collect() == region_rows
    assert spark.sql("select count(*) from src_region").first()[0] == len(region_rows)


def test_register_csv_with_inference(spark, tmp_path, region_rows):
    path = str(tmp_path / "region_csv")
    rows = [(r.r_regionkey, r.r_name) for r in region_rows]
    spark.createDataFrame(rows, "r_regionkey int, r_name string").write.option(
        "header", "true"
    ).csv(path)
    df = register_table(spark, "src_region_csv", path, "csv")
    got = [(r.r_regionkey, r.r_name) for r in df.orderBy("r_regionkey").collect()]
    assert got == rows


def test_register_ndjson_and_multiline_json(spark, tmp_path, region_rows):
    nd = str(tmp_path / "region_nd")
    rows = [(r.r_regionkey, r.r_name) for r in region_rows]
    df_src = spark.createDataFrame(rows, "r_regionkey int, r_name string")
    df_src.write.json(nd)  # NDJSON: one object per line (Spark default)
    df = register_table(spark, "src_region_nd", nd, "ndjson")
    got = [(int(r.r_regionkey), r.r_name) for r in df.orderBy("r_regionkey").collect()]
    assert got == rows


def test_register_partitioned_directory(spark, tmp_path, sf_dir):
    # hive-layout discovery: partition col typed + appended after data
    # cols (reference listing.rs:67-120, deltatable.rs:136-152).
    path = str(tmp_path / "nation_parted")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.partitionBy(
        "n_regionkey"
    ).parquet(path)
    df = register_table(spark, "src_nation_p", path, "parquet", partition_cols=["n_regionkey"])
    assert "n_regionkey" in df.columns
    assert df.columns[-1] == "n_regionkey"  # appended after data columns
    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).count()
    assert df.count() == n
    # partition pruning works through the discovered layout
    assert df.filter("n_regionkey = 1").count() == (
        spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
        .filter("n_regionkey = 1")
        .count()
    )


def test_register_partitioned_missing_col_raises(spark, tmp_path, sf_dir):
    path = str(tmp_path / "nation_flat")
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).write.parquet(path)
    with pytest.raises(ValueError, match="partition columns"):
        register_table(spark, "bad", path, "parquet", partition_cols=["nope"])


def test_arrow_ipc_roundtrip(spark, tmp_path, region_rows):
    table = pa.table(
        {
            "r_regionkey": [r.r_regionkey for r in region_rows],
            "r_name": [r.r_name for r in region_rows],
        }
    )
    path = str(tmp_path / "region.arrow")
    with pa.ipc.new_file(path, table.schema) as writer:
        writer.write_table(table)
    df = register_table(spark, "src_region_arrow", path, "arrow")
    got = [(r.r_regionkey, r.r_name) for r in df.orderBy("r_regionkey").collect()]
    assert got == [(r.r_regionkey, r.r_name) for r in region_rows]

    from adt_spark.sources.arrow_ipc import read_arrow_ipc_distributed

    df2 = read_arrow_ipc_distributed(spark, path)
    assert sorted(tuple(r) for r in df2.collect()) == got


def test_unknown_format_raises(spark):
    with pytest.raises(UnsupportedFormatError):
        register_table(spark, "x", "/nowhere", "orc2")


def test_delta_gated(spark):
    # Without delta-spark jars the native log-replay reader handles the
    # read; a location with no _delta_log is a clear, typed error.
    with pytest.raises((DeltaUnavailableError, FileNotFoundError), match="Delta"):
        read_delta(spark, "/nowhere")


def test_url_table_sugar(spark, sf_dir):
    name = path_sql_name(os.path.join(sf_dir, "region.parquet"), "parquet")
    assert spark.sql(f"select count(*) from {name}").first()[0] == 5


def _local_frame_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("b", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("m", T.DecimalType(12, 2)),
            T.StructField("s", T.StringType()),
            T.StructField("o", T.BooleanType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("tsa", T.ArrayType(T.TimestampType())),
        ]
    )


@pytest.mark.parametrize("host_tz", ["UTC", "America/New_York"])
def test_local_frame_matches_list_path(spark, monkeypatch, host_tz):
    """local_frame collects exactly what createDataFrame(list) does on
    the same rows — NULLs, decimals, dates and (naive, aware and
    nested) timestamps included, under any host time zone — and plans
    as a LocalTableScan, never an RDD scan."""
    import datetime as dt
    import decimal
    import time

    from adt_spark.context import local_frame

    monkeypatch.setenv("TZ", host_tz)
    time.tzset()
    try:
        utc = dt.timezone.utc
        rows = [
            (1, 2**40, 1.5, decimal.Decimal("12.34"), "x", True,
             dt.date(2020, 1, 2), dt.datetime(2020, 3, 8, 2, 30),
             [dt.datetime(2021, 1, 1), None]),
            (None,) * 9,
            (-5, -1, -0.0, decimal.Decimal("-1.00"), "ü", False,
             dt.date(1900, 1, 1),
             dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=utc), []),
        ]
        schema = _local_frame_schema()
        got = local_frame(spark, rows, schema)
        assert got.collect() == spark.createDataFrame(rows, schema).collect()
        assert got.schema == schema
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    finally:
        monkeypatch.undo()
        time.tzset()


def test_local_frame_ddl_dicts_and_empty(spark):
    from adt_spark.context import local_frame

    ddl = "k string, v bigint"
    rows = [{"v": 2, "k": "a"}, {"k": None, "v": None}]
    assert local_frame(spark, rows, ddl).collect() == spark.createDataFrame(
        rows, ddl
    ).collect()
    empty = local_frame(spark, [], ddl)
    assert empty.collect() == [] and empty.columns == ["k", "v"]


def test_local_frame_verifies_rows(spark):
    """The list path's per-row schema verification is kept."""
    from pyspark.sql import types as T

    from adt_spark.context import local_frame

    strict = T.StructType([T.StructField("x", T.IntegerType(), False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(1,), (None,)], strict)
    with pytest.raises(TypeError):
        local_frame(spark, [("a",)], "x int")
