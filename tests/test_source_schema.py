"""The direct encode's source schema comes from the parquet footer.

``engine._parquet_spark_schema`` must report exactly what
``spark.read.parquet(f).schema`` reports (the stored ``spark_schema`` of a
chunk store depends on it), without the schema-inference job: for the
fixture tables, a ``flowforge.datagen`` file (pyarrow ``timestamp[us]``
reads as ``timestamp_ntz``), Spark-written files that carry Spark's own
schema in the footer, and pyarrow-written nested types.
"""

from __future__ import annotations

import datetime as dt
import decimal
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from flowforge import datagen, engine
from flowforge.catalog import Manifest

SF_FILES = sorted(glob.glob("/root/testdata/sf0.001/*.parquet"))


def _assert_same_schema(spark, path: str) -> T.StructType:
    got = engine._parquet_spark_schema(spark, path)
    assert got.jsonValue() == spark.read.parquet(path).schema.jsonValue()
    return got


@pytest.fixture(scope="module")
def webpages(tmp_path_factory):
    return datagen.write_webpages(str(tmp_path_factory.mktemp("src")), 2000,
                                  row_group_size=512)


@pytest.mark.parametrize("path", SF_FILES, ids=os.path.basename)
def test_fixture_tables(spark, path):
    _assert_same_schema(spark, path)


def test_datagen_webpages(spark, webpages):
    schema = _assert_same_schema(spark, webpages)
    assert isinstance(schema["warc_ts"].dataType, T.TimestampNTZType)


def test_session_parquet_conf_is_honoured(spark, webpages):
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        schema = _assert_same_schema(spark, webpages)
    finally:
        spark.conf.set(key, old)
    assert isinstance(schema["warc_ts"].dataType, T.TimestampType)


def test_spark_written_types(spark, tmp_path):
    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", T.DecimalType(18, 4)),
        T.StructField("big", T.DecimalType(30, 2), False),
        T.StructField("pair", T.StructType([
            T.StructField("a", T.IntegerType(), False),
            T.StructField("b", T.StringType())])),
        T.StructField("tags", T.ArrayType(T.StringType(), False)),
        T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
    ])
    row = (1, dt.datetime(2026, 1, 2, 3, 4, 5), decimal.Decimal("1.2345"),
           decimal.Decimal("12.34"), (7, "x"), ["a", "b"], {"k": 1.5})
    out = str(tmp_path / "spark_written")
    spark.createDataFrame([row], schema).coalesce(1).write.parquet(out)
    (path,) = glob.glob(f"{out}/*.parquet")
    got = _assert_same_schema(spark, path)
    assert isinstance(got["ts"].dataType, T.TimestampType)
    assert got["big"].dataType == T.DecimalType(30, 2)


def test_pyarrow_nested_types(spark, tmp_path):
    tbl = pa.table({
        "ts_utc": pa.array([0], pa.timestamp("us", tz="UTC")),
        "ms": pa.array([0], pa.timestamp("ms")),
        "dec": pa.array([decimal.Decimal("3.14")], pa.decimal128(9, 2)),
        "nums": pa.array([[1, 2]], pa.list_(pa.int32())),
        "rec": pa.array([{"x": 1, "y": "z"}],
                        pa.struct([("x", pa.int16()), ("y", pa.string())])),
        "kv": pa.array([[("a", 1)]], pa.map_(pa.string(), pa.int64())),
        "raw": pa.array([b"\x00"], pa.binary()),
        "day": pa.array([dt.date(2026, 1, 1)], pa.date32()),
    })
    path = str(tmp_path / "nested.parquet")
    pq.write_table(tbl, path)
    _assert_same_schema(spark, path)


def test_encode_columns_subset_in_requested_order(spark, webpages, tmp_path):
    out = str(tmp_path / "store")
    engine.run_encode_path(spark, webpages, out, columns=["lang", "url"])
    meta = Manifest(out).read_table_meta()
    assert meta["columns"] == ["lang", "url"]
    assert meta["spark_schema"] == spark.read.parquet(webpages).select(
        "lang", "url").schema.jsonValue()

