"""Aggregate pushdown: count_table / count_plan / value_counts_table.

Reference analog: the reference answers count-style health questions from
its metrics channel without rereading parquet (core/main.go metrics loop);
here COUNT(*) with predicates is answered from commit metadata + the
aggregate kernel decoding predicate columns only, and GROUP BY counts come
out of the codec layer (packed dictionary code streams) without
materializing the column. Oracle in every test is an exact Spark
computation on the source.
"""

from __future__ import annotations

import collections
import glob
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from flowforge import datagen, engine
from flowforge.codecs import chunk as chunklib

ROWS = 4_000


@pytest.fixture(scope="module")
def src_df(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("aggsrc")
    path = datagen.write_webpages(str(d), ROWS)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def store(spark, src_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggstore")) + "/enc"
    engine.run_encode(spark, src_df, out, buckets=8)
    return out


@pytest.fixture(scope="module")
def ts_df(spark):
    """Sorted int 'ts' column (0..N) + a categorical — clustered-mode
    bucket zone maps are tight, so a range count gets interior buckets
    proven all-match off metadata."""
    n = 5_000
    rows = [(i, i * 10, ["a", "b", "c"][i % 3]) for i in range(n)]
    return spark.createDataFrame(rows, "event_id long, ts long, kind string")


@pytest.fixture(scope="module")
def ts_store(spark, ts_df, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("aggts")) + "/enc"
    engine.run_encode(spark, ts_df, out, buckets=16, cluster_col="ts")
    return out


# --------------------------------------------------------------------------
# count_table
# --------------------------------------------------------------------------


def test_count_no_predicates_is_metadata_only(spark, store, src_df,
                                              monkeypatch):
    """Tier 1: bare COUNT(*) is answered in the driver from commit records
    — no chunk file opens (pinned by poisoning the payload reader) and no
    kernel task (pinned by poisoning the kernel factory)."""
    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("chunk payload read on a metadata-only count")

    monkeypatch.setattr(engine, "_read_chunk_payloads", boom)
    monkeypatch.setattr(engine, "_make_group_multi_kernel", boom)
    got = engine.count_table(spark, store).collect()[0]["cnt"]
    assert got == ROWS


def test_count_int_range_matches_exact(spark, ts_store, ts_df):
    lo, hi = 12_340, 33_330
    got = engine.count_table(spark, ts_store,
                             predicates={"ts": (lo, hi)}).collect()[0]["cnt"]
    want = ts_df.filter((F.col("ts") >= lo) & (F.col("ts") <= hi)).count()
    assert got == want > 0


def test_count_plan_classifies_interior_buckets_full(ts_store):
    """A wide window on the clustered column must prove interior buckets
    all-match from commit metadata (zero task I/O) and prune buckets
    outside the window; only boundary buckets stay partial."""
    lo, hi = 12_340, 33_330
    plan = engine.count_plan(ts_store, {"ts": (lo, hi)})
    assert len(plan["full"]) >= 4          # interior buckets proven
    assert len(plan["pruned"]) >= 4        # outside-window buckets dropped
    assert len(plan["partial"]) <= 2       # at most the two boundaries
    assert plan["full_rows"] > 0
    total = plan["full_rows"]
    # full buckets' rows + partials' rows bound the window count
    assert total <= (hi - lo) // 10 + 1


def test_count_all_match_needs_no_kernel(spark, ts_store, ts_df,
                                         monkeypatch):
    """A window covering everything is answered 100% from metadata."""
    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("kernel ran though all buckets were proven")

    monkeypatch.setattr(engine, "_make_group_multi_kernel", boom)
    got = engine.count_table(
        spark, ts_store,
        predicates={"ts": (0, 10 * 5_000)}).collect()[0]["cnt"]
    assert got == ts_df.count()


def test_count_string_eq(spark, store, src_df):
    got = engine.count_table(
        spark, store, predicates={"lang": ("eq", "en")}).collect()[0]["cnt"]
    assert got == src_df.filter(F.col("lang") == "en").count() > 0


def test_count_prefix_and_range_combined(spark, ts_store, ts_df):
    got = engine.count_table(
        spark, ts_store,
        predicates={"kind": ("eq", "b"), "ts": (1_000, 20_000)},
    ).collect()[0]["cnt"]
    want = ts_df.filter(
        (F.col("kind") == "b") & F.col("ts").between(1_000, 20_000)).count()
    assert got == want > 0


def test_count_empty_result(spark, ts_store):
    got = engine.count_table(
        spark, ts_store,
        predicates={"ts": (10_000_000, 20_000_000)}).collect()[0]["cnt"]
    assert got == 0


# --------------------------------------------------------------------------
# agg_table (sum/min/max pushdown, format v7)
# --------------------------------------------------------------------------


_TS_AGGS = {"cnt": ("count",), "sum_id": ("sum", "event_id"),
            "min_id": ("min", "event_id"), "max_id": ("max", "event_id")}


def _ts_oracle(ts_df, lo, hi):
    return (ts_df.filter(F.col("ts").between(lo, hi))
            .agg(F.count("*").alias("cnt"),
                 F.sum("event_id").alias("sum_id"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")).collect()[0])


def test_agg_window_matches_exact(spark, ts_store, ts_df):
    lo, hi = 12_340, 33_330
    got = engine.agg_table(spark, ts_store, _TS_AGGS,
                           predicates={"ts": (lo, hi)}).collect()[0]
    want = _ts_oracle(ts_df, lo, hi)
    assert got.asDict() == want.asDict()
    assert got["cnt"] > 0


def test_agg_no_predicates_is_metadata_only(spark, ts_store, ts_df,
                                            monkeypatch):
    """No predicates -> every bucket classifies full; the kernel (and any
    payload read) must never run."""
    def boom(*a, **kw):  # pragma: no cover - failure path
        raise AssertionError("kernel ran on a metadata-only aggregate")

    monkeypatch.setattr(engine, "_make_group_multi_kernel", boom)
    got = engine.agg_table(spark, ts_store, _TS_AGGS).collect()[0]
    want = _ts_oracle(ts_df, 0, 10 * 5_000)
    assert got.asDict() == want.asDict()


def test_agg_empty_window_sql_semantics(spark, ts_store):
    """SQL over zero matched rows: count = 0, sum/min/max = NULL."""
    got = engine.agg_table(spark, ts_store, _TS_AGGS,
                           predicates={"ts": (9_000_000, 9_999_999)}
                           ).collect()[0]
    assert got["cnt"] == 0
    assert got["sum_id"] is None and got["min_id"] is None \
        and got["max_id"] is None


def test_agg_string_predicate(spark, ts_store, ts_df):
    got = engine.agg_table(
        spark, ts_store,
        aggs={"cnt": ("count",), "sum_id": ("sum", "event_id"),
              "min_id": ("min", "event_id"), "max_id": ("max", "event_id")},
        predicates={"kind": ("eq", "b")}).collect()[0]
    want = (ts_df.filter(F.col("kind") == "b")
            .agg(F.count("*").alias("cnt"),
                 F.sum("event_id").alias("sum_id"),
                 F.min("event_id").alias("min_id"),
                 F.max("event_id").alias("max_id")).collect()[0])
    assert got.asDict() == want.asDict()
    assert got["cnt"] > 0


def test_agg_nulls_in_agg_column(spark, tmpdir_clean):
    """sum/min/max ignore nulls; count(*) counts the row anyway — including
    chunks/buckets where the agg column is ALL null."""
    rows = [(i, None if i % 3 == 0 else i * 7,
             "a" if i < 600 else "b") for i in range(900)]
    df = spark.createDataFrame(rows, "id long, v long, tag string")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=4, salt_col="id")
    got = engine.agg_table(
        spark, out,
        aggs={"cnt": ("count",), "s": ("sum", "v"),
              "lo": ("min", "v"), "hi": ("max", "v")},
        predicates={"tag": ("eq", "a")}).collect()[0]
    want = (df.filter(F.col("tag") == "a")
            .agg(F.count("*").alias("cnt"), F.sum("v").alias("s"),
                 F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0])
    assert got.asDict() == want.asDict()


def test_agg_negative_values(spark, tmpdir_clean):
    rows = [(i, (i - 450) * 11) for i in range(900)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=3, salt_col="id")
    got = engine.agg_table(
        spark, out, aggs={"s": ("sum", "v"), "lo": ("min", "v")},
        predicates={"id": (100, 800)}).collect()[0]
    want = (df.filter(F.col("id").between(100, 800))
            .agg(F.sum("v").alias("s"), F.min("v").alias("lo")).collect()[0])
    assert got.asDict() == want.asDict()


def test_agg_avg(spark, ts_store, ts_df):
    """avg = exact sum / exact non-null count, one double division —
    bit-identical to Spark's own avg over the decoded rows."""
    lo, hi = 7_000, 41_110
    got = engine.agg_table(
        spark, ts_store, {"a": ("avg", "event_id"), "cnt": ("count",)},
        predicates={"ts": (lo, hi)}).collect()[0]
    want = (ts_df.filter(F.col("ts").between(lo, hi))
            .agg(F.avg("event_id").alias("a"),
                 F.count("*").alias("cnt")).collect()[0])
    assert got["cnt"] == want["cnt"] > 0
    assert got["a"] == want["a"]  # exact, not approx: same two ints divided


def test_agg_avg_with_nulls_and_empty(spark, tmpdir_clean):
    rows = [(i, None if i % 4 == 0 else i * 3) for i in range(800)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=4, salt_col="id")
    got = engine.agg_table(spark, out, {"a": ("avg", "v")},
                           predicates={"id": (100, 699)}).collect()[0]
    want = (df.filter(F.col("id").between(100, 699))
            .agg(F.avg("v").alias("a")).collect()[0])
    assert got["a"] == want["a"]
    empty = engine.agg_table(spark, out, {"a": ("avg", "v")},
                             predicates={"id": (5_000, 6_000)}).collect()[0]
    assert empty["a"] is None


def test_agg_validation_errors(spark, store):
    with pytest.raises(ValueError, match="integral"):
        engine.agg_table(spark, store, {"s": ("sum", "lang")})
    with pytest.raises(ValueError, match="unknown column"):
        engine.agg_table(spark, store, {"s": ("sum", "nope")})
    with pytest.raises(ValueError, match="unknown spec"):
        engine.agg_table(spark, store, {"s": ("median", "warc_ts")})
    with pytest.raises(ValueError, match="count takes no column"):
        engine.agg_table(spark, store, {"c": ("count", "lang")})
    with pytest.raises(ValueError, match="aggs is empty"):
        engine.agg_table(spark, store, {})
    with pytest.raises(ValueError, match="reserved"):
        engine.agg_table(spark, store, {"__x": ("min", "warc_ts")})


def test_exact_sum_overflow_safe():
    """Chunk sums must stay exact where np.sum's int64 accumulator wraps."""
    big = (1 << 62) + 12345
    arr = pa.array([big, big, big, -7], type=pa.int64())
    _, meta = chunklib.encode_array(arr, "plain")
    assert meta["sum"] == 3 * big - 7
    arr2 = pa.array([-big, -big, 9], type=pa.int64())
    _, meta2 = chunklib.encode_array(arr2, "plain")
    assert meta2["sum"] == -2 * big + 9


# --------------------------------------------------------------------------
# group_agg_table (grouped count+sum at the codec layer)
# --------------------------------------------------------------------------


def test_group_sums_matches_groupby(spark, ts_store, ts_df):
    got = {r["kind"]: (r["cnt"], r["sum"])
           for r in engine.group_agg_table(
               spark, ts_store, "kind", "event_id").collect()}
    want = {r["kind"]: (r["cnt"], r["s"])
            for r in ts_df.groupBy("kind")
            .agg(F.count("*").alias("cnt"),
                 F.sum("event_id").alias("s")).collect()}
    assert got == want


def test_group_sums_null_semantics(spark, tmpdir_clean):
    """Null group rows form a group; a group whose agg values are all null
    sums to NULL but still counts its rows."""
    rows = []
    for i in range(1200):
        tag = ["x", "y", None, "z"][i % 4]
        v = None if tag == "z" or i % 5 == 0 else i
        rows.append((i, v, tag))
    df = spark.createDataFrame(rows, "id long, v long, tag string")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=4, salt_col="id")
    got = {r["tag"]: (r["cnt"], r["sum"])
           for r in engine.group_agg_table(spark, out, "tag", "v").collect()}
    want = {r["tag"]: (r["cnt"], r["s"])
            for r in df.groupBy("tag")
            .agg(F.count("*").alias("cnt"), F.sum("v").alias("s")).collect()}
    assert got == want
    assert got["z"][1] is None and got["z"][0] == 300


def test_group_sums_validation(spark, ts_store):
    with pytest.raises(ValueError, match="integral"):
        engine.group_agg_table(spark, ts_store, "event_id", "kind")
    with pytest.raises(ValueError, match="must differ"):
        engine.group_agg_table(spark, ts_store, "ts", "ts")
    with pytest.raises(ValueError, match="unknown column"):
        engine.group_agg_table(spark, ts_store, "nope", "event_id")


def test_chunk_group_sums_dict_fast_path():
    """Unit: dict-coded group chunk with nulls in BOTH columns — the code-
    stream path must match a plain pandas groupby."""
    import collections as _c

    gvals = (["alpha"] * 30 + ["beta"] * 20 + [None] * 10) * 3
    avals = [None if i % 7 == 0 else (i - 90) * 3 for i in range(len(gvals))]
    g = pa.array(gvals, type=pa.large_string())
    a = pa.array(avals, type=pa.int64())
    gp, gm = chunklib.encode_array(g, "dict")
    ap, am = chunklib.encode_array(a, "plain")
    t = chunklib.chunk_group_sums(gp, gm, ap, am, len(gvals))
    got = {v: (c, s) for v, c, s in zip(t.column("value").to_pylist(),
                                        t.column("cnt").to_pylist(),
                                        t.column("sum").to_pylist())}
    cnt: _c.Counter = _c.Counter(gvals)
    sums: dict = {}
    for gv, av in zip(gvals, avals):
        if av is not None:
            sums[gv] = sums.get(gv, 0) + av
    want = {k: (cnt[k], sums.get(k)) for k in cnt}
    assert got == want


def test_chunk_group_sums_large_values_exact():
    """Near-bound int64 values that still fit must sum exactly; overflow
    beyond int64 wraps like Spark's non-ANSI sum(long) by design (see
    chunk_group_sums docstring)."""
    big = (1 << 61) + 99
    g = pa.array(["a"] * 3 + ["b"] * 2, type=pa.large_string())
    a = pa.array([big, big, -7, -big, -big], type=pa.int64())
    gp, gm = chunklib.encode_array(g, "dict")
    ap, am = chunklib.encode_array(a, "plain")
    t = chunklib.chunk_group_sums(gp, gm, ap, am, 5)
    got = dict(zip(t.column("value").to_pylist(),
                   t.column("sum").to_pylist()))
    assert got == {"a": 2 * big - 7, "b": -2 * big}


# --------------------------------------------------------------------------
# value_counts_table
# --------------------------------------------------------------------------


def test_value_counts_matches_groupby(spark, store, src_df):
    got = {r["lang"]: r["cnt"]
           for r in engine.value_counts_table(spark, store, "lang").collect()}
    want = {r["lang"]: r["count"]
            for r in src_df.groupBy("lang").count().collect()}
    assert got == want


def test_value_counts_int_column(spark, ts_store, ts_df):
    got = {r["kind"]: r["cnt"]
           for r in engine.value_counts_table(spark, ts_store, "kind").collect()}
    want = {r["kind"]: r["count"]
            for r in ts_df.groupBy("kind").count().collect()}
    assert got == want


def test_value_counts_nulls_group(spark, tmpdir_clean):
    """SQL GROUP BY groups nulls — a null-bearing column must surface a
    null row whose count equals the source's null count."""
    rows = [(i, ["x", "y", None][i % 3]) for i in range(900)]
    df = spark.createDataFrame(rows, "id long, tag string")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=4, salt_col="id")
    got = {r["tag"]: r["cnt"]
           for r in engine.value_counts_table(spark, out, "tag").collect()}
    assert got == {"x": 300, "y": 300, None: 300}


def test_value_counts_rejects_unknown_and_collision(spark, store):
    with pytest.raises(ValueError, match="unknown column"):
        engine.value_counts_table(spark, store, "nope")
    with pytest.raises(ValueError, match="collides"):
        engine.value_counts_table(spark, store, "cnt")


# --------------------------------------------------------------------------
# chunk_value_counts — codec-layer unit tests
# --------------------------------------------------------------------------


def _counts(payload, meta, n):
    # pairs are PARTIAL by contract (RLE emits one pair per run, so a value
    # may repeat) — sum like the engine's reduce-side groupBy does
    t = chunklib.chunk_value_counts(payload, meta, n)
    out: collections.Counter = collections.Counter()
    for v, c in zip(t.column("value").to_pylist(),
                    t.column("cnt").to_pylist()):
        out[v] += c
    return dict(out)


@pytest.mark.parametrize("codec", ["dict", "dictfsst", "rle", "hybrid",
                                   "plain", "fsst"])
def test_chunk_value_counts_bytes_codecs(codec):
    vals = (["alpha"] * 40 + ["beta"] * 25 + [None] * 7 + ["gamma"] * 3
            + ["alpha"] * 10)
    arr = pa.array(vals, type=pa.large_string())
    payload, meta = chunklib.encode_array(arr, codec)
    assert meta["codec"] == codec
    want = collections.Counter(vals)
    assert _counts(payload, meta, len(vals)) == dict(want)


def test_chunk_value_counts_int_codec():
    vals = [7] * 30 + [None] * 5 + [9] * 15
    arr = pa.array(vals, type=pa.int64())
    payload, meta = chunklib.encode_array(arr, "rle")
    assert _counts(payload, meta, len(vals)) == {7: 30, 9: 15, None: 5}


def test_chunk_value_counts_all_null():
    arr = pa.array([None] * 12, type=pa.large_string())
    payload, meta = chunklib.encode_array(arr, "plain")
    assert _counts(payload, meta, 12) == {None: 12}


# --------------------------------------------------------------------------
# _zone_all_match soundness
# --------------------------------------------------------------------------


def test_zone_all_match_requires_zero_nulls():
    st = {"min": 5, "max": 9, "nulls": 1}
    assert not engine._zone_all_match(st, ("range", 0, 100))
    st["nulls"] = 0
    assert engine._zone_all_match(st, ("range", 0, 100))
    # unknown null count (pre-v6 record) is never proven
    assert not engine._zone_all_match({"min": 5, "max": 9},
                                      ("range", 0, 100))


def test_zone_all_match_bytes_truncation_guard():
    """A ZONE_PREFIX-length bmax is a truncation of a possibly-longer max —
    equality with the probe must NOT prove a constant zone."""
    p = b"a" * chunklib.ZONE_PREFIX
    st = {"bmin": chunklib._b64(p), "bmax": chunklib._b64(p), "nulls": 0}
    assert not engine._zone_all_match(st, ("in", [p], [p.decode()]))
    q = b"en"  # sub-prefix-length bounds are exact
    st2 = {"bmin": chunklib._b64(q), "bmax": chunklib._b64(q), "nulls": 0}
    assert engine._zone_all_match(st2, ("in", [q], ["en"]))


def test_zone_all_match_frange_never_proven():
    st = {"min": 0, "max": 10, "nulls": 0}
    assert not engine._zone_all_match(st, ("frange", -100, 100, -1.0, 1.0))


# --------------------------------------------------------------------------
# codec memo determinism (format v6 encode-path change)
# --------------------------------------------------------------------------


def test_codec_memo_keeps_encode_deterministic(spark, src_df, tmpdir_clean):
    """The per-bucket FSST-trial memo must not change what gets written:
    two encodes of the same input produce bytewise-identical chunk files."""
    outs = [os.path.join(tmpdir_clean, d) for d in ("a", "b")]
    for out in outs:
        engine.run_encode(spark, src_df, out, buckets=4)

    def blob(out):
        files = sorted(glob.glob(os.path.join(out, "chunks", "**", "*.parquet"),
                                 recursive=True))
        import pyarrow.parquet as pq
        return {os.path.relpath(f, out):
                pq.read_table(f).to_pydict() for f in files}

    a, b = blob(outs[0]), blob(outs[1])
    assert a.keys() == b.keys()
    assert a == b


def test_validate_aggs_rejects_reserved_alias_for_count():
    """Round-4 advice: a '__'-prefixed COUNT alias must be rejected (it
    previously slipped past validation and collided with avg's internal
    accumulators, silently returning the wrong aggregate)."""
    import pytest as _pytest

    by_name = {"x": "bigint"}
    with _pytest.raises(ValueError, match="reserved"):
        engine._validate_aggs({"__x_sum": ("count",), "x2": ("avg", "x")},
                              by_name)


def test_wrap_i64_matches_spark_long_overflow():
    assert engine._wrap_i64(None) is None
    assert engine._wrap_i64(5) == 5
    assert engine._wrap_i64(2 ** 63) == -(2 ** 63)
    assert engine._wrap_i64(2 ** 64 + 7) == 7
    assert engine._wrap_i64(-(2 ** 63) - 1) == 2 ** 63 - 1


# --------------------------------------------------------------------------
# min/max over time columns (round 5): epoch int64 domain
# --------------------------------------------------------------------------


def _epoch_us(dt_value):
    """Naive datetime (timestamp_ntz) -> epoch micros, pure integer math —
    no tz/utcfromtimestamp round-trips that could shift values."""
    import datetime as _dt
    return (dt_value - _dt.datetime(1970, 1, 1)) // _dt.timedelta(
        microseconds=1)


def test_agg_minmax_timestamp_metadata_only(spark, store, src_df):
    """Bare MIN/MAX(warc_ts) answers from commit-record zone stats (epoch
    micros) — the '10^12-row corpus time span' query with zero decode."""
    got = engine.agg_table(spark, store, {
        "mn": ("min", "warc_ts"), "mx": ("max", "warc_ts")}).collect()[0]
    want = src_df.agg(F.min("warc_ts").alias("mn"),
                      F.max("warc_ts").alias("mx")).collect()[0]
    assert (got["mn"], got["mx"]) \
        == (_epoch_us(want["mn"]), _epoch_us(want["mx"]))


def test_agg_minmax_timestamp_with_predicate(spark, store, src_df):
    """Predicates force boundary buckets through the exact kernel path,
    which must aggregate the decoded timestamp array in int64 (a raw
    pc.min_max would yield a datetime and break the long accumulator)."""
    got = engine.agg_table(
        spark, store,
        {"mn": ("min", "warc_ts"), "mx": ("max", "warc_ts"),
         "c": ("count",)},
        predicates={"lang": ("in", ["en", "de"])}).collect()[0]
    want = src_df.filter(F.col("lang").isin("en", "de")).agg(
        F.min("warc_ts").alias("mn"), F.max("warc_ts").alias("mx"),
        F.count("*").alias("c")).collect()[0]
    assert (got["mn"], got["mx"], got["c"]) \
        == (_epoch_us(want["mn"]), _epoch_us(want["mx"]), want["c"])


def test_agg_sum_over_timestamp_still_rejected(spark, store):
    """Only MIN/MAX extend to time columns — SQL has no sum(timestamp)."""
    with pytest.raises(ValueError, match="integral"):
        engine.agg_table(spark, store, {"s": ("sum", "warc_ts")})
    with pytest.raises(ValueError, match="integral"):
        engine.agg_table(spark, store, {"a": ("avg", "warc_ts")})


# --------------------------------------------------------------------------
# COUNT(col) pushdown (round 5): nncount specs / count_only kernels.
# The counted column's VALUES never decode — null totals come off commit
# records (global, no predicates), and boundary chunks read the validity
# section only. Null-free chunks pass payload=None into the codec layer,
# so these end-to-end tests structurally prove no decode happens (any
# attempt would crash on the missing payload).
# --------------------------------------------------------------------------


def test_agg_nncount_global_matches_exact(spark, store, src_df):
    got = engine.agg_table(spark, store, {
        "c_html": ("nncount", "html"), "c_lang": ("nncount", "lang"),
        "c": ("count",)}).collect()[0]
    want = src_df.agg(F.count("html").alias("c_html"),
                      F.count("lang").alias("c_lang"),
                      F.count(F.lit(1)).alias("c")).collect()[0]
    assert tuple(got) == tuple(want)
    assert got["c_html"] < got["c"]  # html really has nulls


def test_agg_nncount_no_predicates_is_metadata_only(spark, store, src_df,
                                                    monkeypatch):
    """COUNT(col) without predicates = count(*) minus the commit records'
    per-column null totals; the kernel must never run."""
    def boom(*a, **k):
        raise AssertionError("kernel ran on a metadata-only COUNT(col)")

    monkeypatch.setattr(engine, "_make_group_multi_kernel", boom)
    got = engine.agg_table(spark, store, {"c": ("nncount", "html")})
    assert got.collect()[0]["c"] \
        == src_df.filter(F.col("html").isNotNull()).count()


def test_agg_nncount_with_predicate(spark, store, src_df):
    got = engine.agg_table(
        spark, store, {"c": ("nncount", "html"), "n": ("count",)},
        predicates={"lang": ("in", ["en"])}).collect()[0]
    want = src_df.filter(F.col("lang") == "en")
    assert got["c"] == want.filter(F.col("html").isNotNull()).count()
    assert got["n"] == want.count()


def test_agg_nncount_binary_type_allowed(spark, store):
    # nncount is the ONE agg that takes any stored type; sum still rejects
    with pytest.raises(ValueError, match="integral"):
        engine.agg_table(spark, store, {"s": ("sum", "html")})
    engine.agg_table(spark, store, {"s": ("nncount", "html")}).collect()


def test_group_count_only_any_type(spark, store, src_df):
    got = engine.group_agg_table(spark, store, "lang", "html",
                                 count_only=True)
    g = {r["lang"]: (r["cnt"], r["nn"], r["sum"], r["mn"], r["mx"])
         for r in got.collect()}
    w = {r["lang"]: (r["cnt"], r["nn"])
         for r in src_df.groupBy("lang")
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.count("html").alias("nn")).collect()}
    assert {k: v[:2] for k, v in g.items()} == w
    # count_only: sum/mn/mx come back NULL for every group
    assert all(v[2] is None and v[3] is None and v[4] is None
               for v in g.values())


def test_group_count_only_requires_flag_for_nonintegral(spark, store):
    with pytest.raises(ValueError, match="count_only"):
        engine.group_agg_table(spark, store, "lang", "html")


def test_group_multi_count_only_composite(spark, tmpdir_clean):
    """Composite GROUP BY + COUNT(double col) with nulls in group AND
    counted columns; predicate masking composes."""
    rows = []
    for i in range(1500):
        g1 = ["x", "y", None][i % 3]
        g2 = ["p", "q"][i % 2]
        v = None if i % 5 == 0 else float(i)
        rows.append((i, g1, g2, v))
    df = spark.createDataFrame(rows, "id long, g1 string, g2 string, "
                                     "v double")
    out = os.path.join(tmpdir_clean, "enc")
    engine.run_encode(spark, df, out, buckets=4, salt_col="id")
    got = engine.group_multi_table(spark, out, ["g1", "g2"],
                                   agg_specs=[("v", True)])
    g = {(r["g1"], r["g2"]): (r["cnt"], r["nn0"]) for r in got.collect()}
    w = {(r["g1"], r["g2"]): (r["cnt"], r["nn"])
         for r in df.groupBy("g1", "g2")
         .agg(F.count(F.lit(1)).alias("cnt"),
              F.count("v").alias("nn")).collect()}
    assert g == w
    got2 = engine.group_multi_table(
        spark, out, ["g1", "g2"], agg_specs=[("v", True)],
        predicates={"id": (100, 1000)})
    g2_ = {(r["g1"], r["g2"]): (r["cnt"], r["nn0"]) for r in got2.collect()}
    w2 = {(r["g1"], r["g2"]): (r["cnt"], r["nn"])
          for r in df.filter(F.col("id").between(100, 1000))
          .groupBy("g1", "g2")
          .agg(F.count(F.lit(1)).alias("cnt"),
               F.count("v").alias("nn")).collect()}
    assert g2_ == w2


def test_chunk_nonnull_count_unit():
    import numpy as np

    a = pa.array([None if i % 7 == 0 else i for i in range(200)],
                 type=pa.int64())
    p, m = chunklib.encode_array(a, "plain")
    assert chunklib.chunk_nonnull_count(p, m, 200) \
        == sum(1 for i in range(200) if i % 7)
    mask = np.zeros(200, dtype=bool)
    mask[:50] = True
    assert chunklib.chunk_nonnull_count(p, m, 200, mask=mask) \
        == sum(1 for i in range(50) if i % 7)
    # null-free chunk: meta alone answers; payload may be None
    b = pa.array(list(range(100)), type=pa.int64())
    _, m2 = chunklib.encode_array(b, "plain")
    assert chunklib.chunk_nonnull_count(None, m2, 100) == 100
    assert chunklib.chunk_nonnull_count(None, m2, 100, mask=mask[:100]) == 50


def test_chunk_group_sums_count_only_unit():
    gvals = (["alpha"] * 30 + ["beta"] * 20 + [None] * 10) * 3
    avals = [None if i % 7 == 0 else f"t{i}" for i in range(len(gvals))]
    g = pa.array(gvals, type=pa.large_string())
    a = pa.array(avals, type=pa.large_string())
    gp, gm = chunklib.encode_array(g, "dict")
    ap, am = chunklib.encode_array(a, "dict")
    t = chunklib.chunk_group_sums(gp, gm, ap, am, len(gvals),
                                  count_only=True)
    got = {v: (c, nn) for v, c, nn in zip(t.column("value").to_pylist(),
                                          t.column("cnt").to_pylist(),
                                          t.column("nn").to_pylist())}
    cnt = collections.Counter(gvals)
    nn = collections.Counter(gv for gv, av in zip(gvals, avals)
                             if av is not None)
    assert got == {k: (cnt[k], nn.get(k, 0)) for k in cnt}
    assert all(x is None for x in t.column("sum").to_pylist())
    assert all(x is None for x in t.column("mn").to_pylist())
