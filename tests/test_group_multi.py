"""Composite GROUP BY pushdown: engine.group_multi_table +
chunk.chunk_group_multi (round-5 verdict, next #2).

Pins, against Spark's own groupBy on the source table:

1. two-column GROUP BY with count(*) + sum — the corpus-audit shape —
   row-identical including types;
2. predicates mask the composite kernel exactly (same spec machinery as
   every other grouped kernel);
3. three group columns (code spaces combine multiplicatively, np.unique
   keeps memory at observed groups);
4. nulls form groups in EVERY dimension and all-null agg groups sum to
   NULL (SQL semantics);
5. validation errors for colliding/unknown/duplicate columns.
"""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from flowforge import engine  # noqa: E402

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("gm")) + "/store"
    engine.run_encode_path(spark, DOCS, out, target_rows=128, chunk_rows=64)
    return out


@pytest.fixture(scope="module")
def null_store(spark, tmp_path_factory):
    # nulls in a group dimension AND in the agg column
    df = (spark.read.parquet(DOCS)
          .withColumn("lang", F.expr("nullif(lang, 'en')"))
          .withColumn("n_chars", F.expr(
              "CASE WHEN doc_id % 3 = 0 THEN NULL ELSE n_chars END")))
    out = str(tmp_path_factory.mktemp("gmn")) + "/store"
    engine.run_encode(spark, df, out, buckets=4, salt_col="doc_id")
    return out


def _rows(df):
    return sorted(map(repr, map(tuple, df.collect())))


def test_two_column_group_sum(spark, store):
    src = spark.read.parquet(DOCS)
    got = engine.group_multi_table(spark, store, ["lang", "source"],
                                   agg_specs=[("n_chars", False)])
    want = (src.groupBy("lang", "source")
            .agg(F.count("*").alias("cnt"),
                 F.sum("n_chars").alias("sum0"),
                 F.count("n_chars").alias("nn0"),
                 F.min("n_chars").cast("long").alias("mn0"),
                 F.max("n_chars").cast("long").alias("mx0")))
    assert [f.dataType for f in got.schema.fields] \
        == [f.dataType for f in want.schema.fields]
    assert _rows(got) == _rows(want)


def test_predicates_mask_composite(spark, store):
    src = spark.read.parquet(DOCS)
    got = engine.group_multi_table(
        spark, store, ["lang", "source"], agg_specs=[("n_chars", False)],
        predicates={"n_chars": (100, 2000), "lang": ("in", ["en", "de"])}
    ).select("lang", "source", "cnt", "sum0")
    want = (src.filter((F.col("n_chars").between(100, 2000))
                       & F.col("lang").isin("en", "de"))
            .groupBy("lang", "source")
            .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum0")))
    assert _rows(got) == _rows(want)


def test_three_columns_counts_only(spark, store):
    src = spark.read.parquet(DOCS)
    got = engine.group_multi_table(spark, store,
                                   ["lang", "source", "doc_id"])
    want = (src.groupBy("lang", "source", "doc_id")
            .agg(F.count("*").alias("cnt")))
    assert _rows(got) == _rows(want)


def test_null_groups_and_null_sums(spark, null_store):
    src = engine.decode_table(spark, null_store)
    got = engine.group_multi_table(spark, null_store, ["lang", "source"],
                                   agg_specs=[("n_chars", False)])
    want = (src.groupBy("lang", "source")
            .agg(F.count("*").alias("cnt"), F.sum("n_chars").alias("sum0"),
                 F.count("n_chars").alias("nn0"),
                 F.min("n_chars").cast("long").alias("mn0"),
                 F.max("n_chars").cast("long").alias("mx0")))
    assert _rows(got) == _rows(want)
    # the null-lang groups really exist
    assert got.filter(F.col("lang").isNull()).count() > 0


def test_validation(spark, store):
    with pytest.raises(ValueError, match="at least one"):
        engine.group_multi_table(spark, store, [])
    with pytest.raises(ValueError, match="duplicate"):
        engine.group_multi_table(spark, store, ["lang", "lang"])
    with pytest.raises(ValueError, match="collides"):
        engine.group_multi_table(spark, store, ["lang", "cnt"])
    with pytest.raises(ValueError, match="differ"):
        engine.group_multi_table(spark, store, ["lang"],
                                 agg_specs=[("lang", False)])
    with pytest.raises(ValueError, match="unknown column"):
        engine.group_multi_table(spark, store, ["nope"])
    with pytest.raises(ValueError, match="integral"):
        engine.group_multi_table(spark, store, ["lang"],
                                 agg_specs=[("text", False)])


# --------------------------------------------------------------------------
# agg_specs: several agg columns in one kernel pass (round 5)
# --------------------------------------------------------------------------


def test_agg_specs_multi_column(spark, store):
    """Two value columns + per-column partials vs Spark's own groupBy."""
    src = spark.read.parquet(DOCS)
    got = engine.group_multi_table(
        spark, store, ["lang"],
        agg_specs=[("n_chars", False), ("doc_id", False)])
    want = (src.groupBy("lang")
            .agg(F.count("*").alias("cnt"),
                 F.sum("n_chars").alias("sum0"),
                 F.count("n_chars").alias("nn0"),
                 F.min("n_chars").cast("long").alias("mn0"),
                 F.max("n_chars").cast("long").alias("mx0"),
                 F.sum("doc_id").alias("sum1"),
                 F.count("doc_id").alias("nn1"),
                 F.min("doc_id").cast("long").alias("mn1"),
                 F.max("doc_id").cast("long").alias("mx1")))
    assert _rows(got) == _rows(want)


def test_agg_specs_count_only_mix(spark, null_store):
    """A count-only TEXT column beside a value column, with nulls in both
    group and agg dimensions; sum/mn/mx of the count-only column NULL."""
    src = engine.decode_table(spark, null_store)
    got = engine.group_multi_table(
        spark, null_store, ["source"],
        agg_specs=[("n_chars", False), ("lang", True)])
    g = {r["source"]: (r["cnt"], r["sum0"], r["nn0"], r["nn1"],
                       r["sum1"], r["mn1"], r["mx1"])
         for r in got.collect()}
    w = {r["source"]: (r["cnt"], r["sum0"], r["nn0"], r["nn1"])
         for r in src.groupBy("source")
         .agg(F.count("*").alias("cnt"),
              F.sum("n_chars").alias("sum0"),
              F.count("n_chars").alias("nn0"),
              F.count("lang").alias("nn1")).collect()}
    assert {k: v[:4] for k, v in g.items()} == w
    assert all(v[4] is None and v[5] is None and v[6] is None
               for v in g.values())


def test_agg_specs_with_predicates(spark, store):
    src = spark.read.parquet(DOCS)
    got = engine.group_multi_table(
        spark, store, ["lang", "source"],
        agg_specs=[("n_chars", False), ("doc_id", True)],
        predicates={"n_chars": (100, 2000)}
    ).select("lang", "source", "cnt", "sum0", "nn1")
    want = (src.filter(F.col("n_chars").between(100, 2000))
            .groupBy("lang", "source")
            .agg(F.count("*").alias("cnt"),
                 F.sum("n_chars").alias("sum0"),
                 F.count("doc_id").alias("nn1")))
    assert _rows(got) == _rows(want)


def test_agg_specs_validation(spark, store):
    # the single-agg agg_col/count_only form is gone: agg_specs only
    with pytest.raises(TypeError, match="agg_col"):
        engine.group_multi_table(spark, store, ["lang"], agg_col="n_chars")
    with pytest.raises(ValueError, match="duplicate agg"):
        engine.group_multi_table(
            spark, store, ["lang"],
            agg_specs=[("n_chars", False), ("n_chars", True)])
    with pytest.raises(ValueError, match="differ"):
        engine.group_multi_table(spark, store, ["lang"],
                                 agg_specs=[("lang", True)])
    with pytest.raises(ValueError, match="integral"):
        engine.group_multi_table(spark, store, ["lang"],
                                 agg_specs=[("text", False)])
    # count-only lifts the type restriction
    engine.group_multi_table(spark, store, ["lang"],
                             agg_specs=[("text", True)]).collect()


@pytest.fixture(scope="module")
def ts_store(spark, tmp_path_factory):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (base + dt.timedelta(hours=5 * i), ["en", "de"][i % 2],
         i if i % 5 else None)
        for i in range(1200)
    ]
    # pre-1970: calendar flooring must not round toward zero
    rows += [(dt.datetime(1965, 3, 14, 22, 30) + dt.timedelta(hours=9 * i),
              "old", i) for i in range(40)]
    df = spark.createDataFrame(rows, "ts timestamp, lang string, n int")
    out = str(tmp_path_factory.mktemp("gmts")) + "/store"
    engine.run_encode(spark, df, out, buckets=4, salt_col="lang")
    return out, df


def test_derived_time_keys_direct_api(spark, ts_store):
    """group_multi_table with (src, transform, out_name) group entries:
    derived keys (to_date / date_trunc / calendar parts) computed inside
    the kernel match Spark's own expressions on the source rows — values
    AND derived-field types — including two derived keys sharing one
    source column (read once) and an agg over the derived key's source."""
    out, df = ts_store
    cases = [
        ([("ts", ("date",), "day")], [F.to_date("ts").alias("day")]),
        ([("ts", ("trunc", "week", "UTC"), "wk")],
         [F.date_trunc("week", "ts").alias("wk")]),
        ([("ts", ("part", "year"), "y"), ("ts", ("part", "month"), "m")],
         [F.year("ts").alias("y"), F.month("ts").alias("m")]),
        ([("ts", ("date",), "day"), "lang"],
         [F.to_date("ts").alias("day"), F.col("lang")]),
    ]
    for gspec, exprs in cases:
        fast = engine.group_multi_table(spark, out, gspec,
                                        agg_specs=[("n", False)])
        slow = df.groupBy(*exprs).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n").cast("long").alias("sum0"),
            F.count("n").alias("nn0"),
            F.min("n").cast("long").alias("mn0"),
            F.max("n").cast("long").alias("mx0"))
        assert [f.dataType for f in fast.schema.fields] \
            == [f.dataType for f in slow.schema.fields], gspec
        assert sorted(map(repr, map(tuple, fast.collect()))) \
            == sorted(map(repr, map(tuple, slow.collect()))), gspec
    # min/max over the derived key's own SOURCE column is allowed
    fast = engine.group_multi_table(
        spark, out, [("ts", ("date",), "day")], agg_specs=[("ts", False)])
    slow = df.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.unix_micros(F.min("ts")).alias("mn0"),
        F.unix_micros(F.max("ts")).alias("mx0"))
    fr = {r["day"]: (r["cnt"], r["mn0"], r["mx0"])
          for r in fast.collect()}
    sr = {r["day"]: (r["cnt"], r["mn0"], r["mx0"])
          for r in slow.collect()}
    assert {d: (c, mn, mx) for d, (c, mn, mx) in fr.items()} == sr


def test_derived_time_key_validation(spark, ts_store):
    out, _ = ts_store
    with pytest.raises(ValueError, match="time source"):
        engine.group_multi_table(spark, out, [("lang", ("date",), "d")])
    with pytest.raises(ValueError, match="unknown column"):
        engine.group_multi_table(spark, out, [("nope", ("date",), "d")])
    with pytest.raises(ValueError, match="duplicate group"):
        engine.group_multi_table(
            spark, out, [("ts", ("date",), "d"), ("ts", ("trunc", "day"), "d")])
