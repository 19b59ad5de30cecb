"""The one aggregate kernel, checked without Spark (hypothesis).

1. ``chunk.chunk_group_multi`` over one chunk — 0, 1 or 2 group columns
   (plain or a derived time key), every codec, nulls, random masks,
   count-only and value agg specs, composite domains on both sides of the
   dense-bincount / ``np.unique`` selection — equals a plain-Python
   GROUP BY over the decoded, filtered rows;
2. the kernel closure of ``engine._make_group_multi_kernel``, driven with
   ``(bucket, all_match)`` batches the way the driver classifies them,
   merges to the same per-group aggregates over a small store;
3. the dictionary chunk skip: under an IN predicate, a dict-coded chunk
   whose dictionary lacks every probe is dropped without decoding its
   predicate payload, grouped or not.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from flowforge import engine
from flowforge.catalog import Manifest, plan_hash
from flowforge.codecs import bytescodecs, intcodecs
from flowforge.codecs import chunk as chunklib

_T0 = dt.datetime(2024, 3, 1)
_TRANSFORMS = [("date",), ("part", "hour"), ("trunc", "day")]
# agg column kinds -> whether the kind only takes count-only specs
_AGG_KINDS = {"i64": False, "i32": False, "ts": False, "date": False,
              "str": True, "f64": True}


def _values(kind: str, pool: int, n: int, draw) -> pa.Array:
    idx = draw(st.lists(st.one_of(st.none(), st.integers(0, pool - 1)),
                        min_size=n, max_size=n))
    if kind == "str":
        return pa.array([None if i is None else f"s{i}" for i in idx],
                        pa.large_string())
    if kind == "ts":
        return pa.array([None if i is None else _T0 + dt.timedelta(
            minutes=37 * i) for i in idx], pa.timestamp("us"))
    if kind == "date":
        return pa.array([None if i is None else dt.date(2024, 1, 1)
                         + dt.timedelta(days=i) for i in idx], pa.date32())
    if kind == "f64":
        return pa.array([None if i is None else i / 4 for i in idx],
                        pa.float64())
    t = pa.int32() if kind == "i32" else pa.int64()
    return pa.array([None if i is None else i * 7 - 50 for i in idx], t)


def _codec(arr: pa.Array, draw) -> str:
    return draw(st.sampled_from(
        list(bytescodecs.BYTES_CODECS) if chunklib.is_bytes_type(arr.type)
        else list(intcodecs.INT_CODECS)))


def _int64(arr: pa.Array) -> pa.Array:
    if pa.types.is_date(arr.type):
        return arr.cast(pa.int32()).cast(pa.int64())
    return arr.cast(pa.int64())


def _reference(keys: dict, aggs: list, mask, n: int) -> list[tuple]:
    """Plain-Python GROUP BY over the ``n`` decoded rows: ``keys`` {name:
    array}, ``aggs`` [(array, count_only)]; rows laid out as
    chunk_group_multi lays them out. (pyarrow 16's ``group_by`` splits a
    group when one key column is entirely null, so it cannot serve as the
    reference.)"""
    cols = [k.to_pylist() for k in keys.values()]
    vals = [(a if co else _int64(a)).to_pylist() for a, co in aggs]
    groups: dict[tuple, list] = {}
    for i in range(n):
        if mask is not None and not mask[i]:
            continue
        g = groups.setdefault(tuple(c[i] for c in cols),
                              [0] + [[] for _ in aggs])
        g[0] += 1
        for v, xs in zip(vals, g[1:]):
            if v[i] is not None:
                xs.append(v[i])
    rows = []
    for key, (cnt, *per_agg) in groups.items():
        row = [*key, cnt]
        for (_, co), xs in zip(aggs, per_agg):
            row += ([None, len(xs), None, None] if co or not xs
                    else [sum(xs), len(xs), min(xs), max(xs)])
        rows.append(tuple(row))
    return sorted(rows, key=repr)


def _merge(parts: pa.Table, gnames: list[str], n_specs: int) -> list[tuple]:
    """The reduce side of the kernel's partials, in plain Python: sum cnt,
    sum{j} and nn{j}, take the least mn{j} and the greatest mx{j}."""
    fold = {"sum": lambda a, b: a + b, "nn": lambda a, b: a + b,
            "mn": min, "mx": max}
    merged: dict[tuple, list] = {}
    names = engine._partial_names(n_specs)
    for r in parts.to_pylist():
        key = tuple(r[g] for g in gnames)
        cur = merged.get(key)
        if cur is None:
            merged[key] = [r[c] for c in names]
            continue
        cur[0] += r["cnt"]
        for i, c in enumerate(names[1:], 1):
            x, f = r[c], fold[c.rstrip("0123456789")]
            if x is not None:
                cur[i] = x if cur[i] is None else f(cur[i], x)
    return sorted((key + tuple(v) for key, v in merged.items()), key=repr)


@st.composite
def _chunk_case(draw):
    n = draw(st.integers(1, 80))
    groups = []
    for i in range(draw(st.integers(0, 2))):
        kind = draw(st.sampled_from(["str", "i64", "ts"]))
        # pools of a few values keep the composite domain dense; pools of
        # ~n values push two-column domains past n (np.unique)
        pool = draw(st.sampled_from([1, 3, max(1, n)]))
        arr = _values(kind, pool, n, draw)
        transform = (draw(st.sampled_from([None] + _TRANSFORMS))
                     if kind == "ts" else None)
        groups.append((arr, _codec(arr, draw), transform))
    aggs = []
    for kind in draw(st.lists(st.sampled_from(sorted(_AGG_KINDS)),
                              max_size=3)):
        arr = _values(kind, draw(st.integers(1, 40)), n, draw)
        co = _AGG_KINDS[kind] or draw(st.booleans())
        aggs.append((arr, _codec(arr, draw), co))
    mask = draw(st.none() | st.lists(st.booleans(), min_size=n, max_size=n))
    return n, groups, aggs, mask


@settings(max_examples=300, deadline=None)
@given(case=_chunk_case())
def test_chunk_group_multi_matches_arrow_group_by(case):
    n, groups, aggs, mask = case
    g_chunks, keys = [], {}
    for i, (arr, codec, tr) in enumerate(groups):
        p, m = chunklib.encode_array(arr, codec)
        g_chunks.append((p, m, tr))
        keys[f"g{i}"] = (arr if tr is None
                         else chunklib.apply_group_transform(arr, tr))
    a_specs = []
    for arr, codec, co in aggs:
        p, m = chunklib.encode_array(arr, codec)
        # a count-only column's payload is never needed when null-free
        a_specs.append((None if co and not arr.null_count else p, m, co))
    got = chunklib.chunk_group_multi(
        g_chunks, n, mask=None if mask is None else np.array(mask),
        a_specs=a_specs)
    assert got.column_names == list(keys) + engine._partial_names(len(aggs))
    rows = sorted((tuple(r.values()) for r in got.to_pylist()), key=repr)
    assert rows == _reference(keys, [(a, co) for a, _, co in aggs], mask, n)


def test_dense_domain_skips_np_unique(monkeypatch):
    """The dense bincount runs exactly when the composite domain has at
    most n codes; a wider domain takes np.unique. Both agree with the
    reference."""
    calls = []
    unique = np.unique

    def counting(*a, **kw):
        calls.append(1)
        return unique(*a, **kw)

    monkeypatch.setattr(chunklib.np, "unique", counting)
    n = 64
    narrow = pa.array([f"k{i % 4}" for i in range(n)], pa.large_string())
    wide = pa.array([f"w{i}" for i in range(n)], pa.large_string())
    v = pa.array(range(n), pa.int64())
    vp, vm = chunklib.encode_array(v, "plain")
    for cols, want_unique in (([narrow], False), ([narrow, wide], True)):
        g_chunks = [chunklib.encode_array(c, "dict") for c in cols]
        calls.clear()
        got = chunklib.chunk_group_multi(g_chunks, n,
                                         a_specs=[(vp, vm, False)])
        assert bool(calls) == want_unique
        rows = sorted((tuple(r.values()) for r in got.to_pylist()), key=repr)
        keys = {f"g{i}": c for i, c in enumerate(cols)}
        assert rows == _reference(keys, [(v, False)], None, n)


# --------------------------------------------------------------------------
# the kernel closure over a small store, built without Spark
# --------------------------------------------------------------------------

_SPARK_TYPES = {pa.int64(): "long", pa.large_string(): "string",
                pa.timestamp("us"): "timestamp_ntz"}


def _write_store(out: str, tables: list[pa.Table], chunk_rows: int) -> None:
    """A complete salted store, one bucket per table, codecs picked by the
    selector as in a real encode."""
    schema = tables[0].schema
    ph = plan_hash({"mode": "salted", "buckets": len(tables)})
    Manifest(out).write_table_meta({
        "format": engine.FORMAT_VERSION, "columns": schema.names,
        "spark_schema": {"type": "struct", "fields": [
            {"name": f.name, "type": _SPARK_TYPES[f.type], "nullable": True,
             "metadata": {}} for f in schema]},
        "plan": {"format": engine.FORMAT_VERSION, "mode": "salted",
                 "buckets": len(tables), "chunk_rows": chunk_rows,
                 "salt_col": schema.names[0]},
        "plan_hash": ph,
    })
    for b, tbl in enumerate(tables):
        engine._encode_bucket(out, b, tbl, chunk_rows=chunk_rows, phash=ph)


def _bucket_table(b: int, rows: int) -> pa.Table:
    ids = range(b * rows, (b + 1) * rows)
    return pa.table({
        "id": pa.array(ids, pa.int64()),
        "g": pa.array([["a", "b", "c", None][(i * 7) % 4] for i in ids],
                      pa.large_string()),
        "ts": pa.array([_T0 + dt.timedelta(minutes=53 * i) for i in ids],
                       pa.timestamp("us")),
        # bucket 1 holds an all-null chunk of v (no min/sum in its meta)
        "v": pa.array([None if i % 5 == 0 or (b == 1 and i % rows < 64)
                       else (i * 13) % 97 - 40 for i in ids], pa.int64()),
        "s": pa.array([None if i % 3 == 0 else f"t{i}" for i in ids],
                      pa.large_string()),
    })


@pytest.fixture(scope="module")
def kstore(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kernel")) + "/store"
    tables = [_bucket_table(b, 160) for b in range(2)]
    _write_store(out, tables, chunk_rows=64)
    return out, pa.concat_tables(tables)


_GROUPS = [("g", None, "g"), ("ts", ("date",), "day"),
           ("ts", ("part", "hour"), "hr")]


@settings(max_examples=60, deadline=None)
@given(groups=st.lists(st.sampled_from(_GROUPS), max_size=2, unique=True),
       v_spec=st.sampled_from([None, False, True]),
       s_spec=st.booleans(), ts_spec=st.booleans(),
       id_range=st.none() | st.tuples(st.integers(-10, 330),
                                      st.integers(-10, 330)),
       g_in=st.none() | st.lists(st.sampled_from(["a", "b", "zz"]),
                                 min_size=1, max_size=2))
def test_kernel_merges_to_arrow_group_by(kstore, groups, v_spec, s_spec,
                                         ts_spec, id_range, g_in):
    out, src = kstore
    specs = ([("v", v_spec)] if v_spec is not None else []) \
        + ([("s", True)] if s_spec else []) \
        + ([("ts", False)] if ts_spec else [])
    raw = {}
    if id_range is not None:
        raw["id"] = (min(id_range), max(id_range))
    if g_in is not None:
        raw["g"] = ("in", g_in)
    meta, nonempty = engine._plan_store(out)
    by_name = {f["name"]: {"long": "bigint"}.get(f["type"], f["type"])
               for f in meta["spark_schema"]["fields"]}
    preds = engine._normalize_predicates(raw, by_name)
    full, partial, _ = engine._classify_records(nonempty, preds)
    batch = pa.RecordBatch.from_pydict({
        "bucket": pa.array([int(r["bucket"]) for r in full + partial],
                           pa.int64()),
        "all_match": pa.array([True] * len(full) + [False] * len(partial))})
    kernel = engine._make_group_multi_kernel(out, groups, specs, preds)
    batches = [b for b in kernel(iter([batch])) if b.num_rows]

    # reference: filter the source, then group
    keep = pa.array([True] * src.num_rows)
    if "id" in raw:
        lo, hi = raw["id"]
        keep = pc.and_(keep, pc.and_(pc.greater_equal(src["id"], lo),
                                     pc.less_equal(src["id"], hi)))
    if "g" in raw:
        keep = pc.and_kleene(keep, pc.is_in(src["g"],
                                            value_set=pa.array(g_in)))
    rows = src.filter(keep.fill_null(False))
    keys = {o: rows[s].combine_chunks() if tr is None
            else chunklib.apply_group_transform(rows[s].combine_chunks(), tr)
            for s, tr, o in groups}
    want = _reference(keys, [(rows[c].combine_chunks(), co)
                             for c, co in specs], None, rows.num_rows)
    if not batches:
        assert want == []
        return
    got = _merge(pa.Table.from_batches(batches), [o for _, _, o in groups],
                 len(specs))
    assert got == want


# --------------------------------------------------------------------------
# dictionary chunk skip, shared by every route of the kernel
# --------------------------------------------------------------------------


@pytest.fixture()
def dict_store(tmp_path):
    """One bucket of two 64-row chunks: ``tag`` holds only a/c in chunk 0
    and a/b/c in chunk 1, so ``tag IN ('b')`` survives chunk 0's zone map
    (a <= b <= c) and only its dictionary can rule it out."""
    n = 128
    tags = [["a", "c"][(i * 5) % 7 % 2] if i < 64 else ["a", "b", "c"][i % 3]
            for i in range(n)]
    tbl = pa.table({"id": pa.array(range(n), pa.int64()),
                    "tag": pa.array(tags, pa.large_string()),
                    "g": pa.array([["x", "y"][i % 2] for i in range(n)],
                                  pa.large_string())})
    out = str(tmp_path / "store")
    _write_store(out, [tbl], chunk_rows=64)
    return out, tbl


@pytest.mark.parametrize("groups", [[("g", None, "g")], []])
def test_in_probe_absent_from_dictionary_skips_decode(dict_store, groups,
                                                      monkeypatch):
    out, tbl = dict_store
    manifest = Manifest(out)
    metas = engine._chunk_metas(manifest, "tag", 0)
    assert {m["codec"] for m, _ in metas.values()} <= {"dict", "dictfsst"}
    tag_pays = engine._read_chunk_payloads(manifest, "tag", 0, [0, 1])
    decoded = []
    decode = chunklib.decode_array

    def counting(payload, meta, n):
        decoded.extend(s for s, p in tag_pays.items() if p == payload)
        return decode(payload, meta, n)

    monkeypatch.setattr(chunklib, "decode_array", counting)
    preds = engine._normalize_predicates({"tag": ("in", ["b"])},
                                         {"id": "bigint", "tag": "string",
                                          "g": "string"})
    kernel = engine._make_group_multi_kernel(out, groups, [], preds)
    batch = pa.RecordBatch.from_pydict({"bucket": pa.array([0], pa.int64()),
                                        "all_match": pa.array([False])})
    got = pa.Table.from_batches(list(kernel(iter([batch]))))
    assert decoded == [1]  # chunk 0 ruled out by its dictionary alone
    b_rows = tbl.filter(pc.equal(tbl["tag"], "b"))
    assert sum(got.column("cnt").to_pylist()) == b_rows.num_rows
