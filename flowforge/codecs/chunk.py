"""Chunk-level encode/decode: Arrow arrays in, self-describing cells out.

Bridges a ``pyarrow.Array`` (possibly with nulls, of any supported logical
type) to the null-free int64 / bytes codec domains:

- int64 / int32 / int16 / int8 / bool / date32 / timestamp[*] -> int64 domain
- float64 / float32 -> int64 domain via raw-bit view (NaN payloads preserved)
- string / large_string / binary / large_binary -> bytes domain

Nulls are stripped before codec encode and re-inserted on decode from a
framing-level validity bitmap — bit-identical round trip including
interleaved/leading/trailing/all-null patterns (FIXTURES.md §2).
"""

from __future__ import annotations

import re

import numpy as np
import pyarrow as pa

from . import bitpack, bytescodecs, intcodecs
from .framing import pack_sections, pack_validity, unpack_sections, unpack_validity

_I64 = np.int64

_INT_NP = {"int64": _I64, "int32": np.int32, "int16": np.int16, "int8": np.int8}
_BYTES_TYPES = {"string", "large_string", "binary", "large_binary"}
_TS_RE = re.compile(r"^timestamp\[(\w+)(?:, tz=(.+))?\]$")


def parse_type(type_str: str) -> pa.DataType:
    if type_str in _BYTES_TYPES or type_str in _INT_NP or type_str in ("bool", "double", "float"):
        return pa.type_for_alias(type_str)
    if type_str == "date32[day]":
        return pa.date32()
    m = _TS_RE.match(type_str)
    if m:
        return pa.timestamp(m.group(1), tz=m.group(2))
    raise TypeError(f"unsupported chunk type: {type_str}")


def is_bytes_type(t: pa.DataType) -> bool:
    return str(t) in _BYTES_TYPES


def supported_type(t: pa.DataType) -> bool:
    try:
        parse_type(str(t))
        return True
    except TypeError:
        return False


def codec_names(t: pa.DataType) -> list[str]:
    if is_bytes_type(t):
        return list(bytescodecs.BYTES_CODECS)
    return list(intcodecs.INT_CODECS)


def _to_int64(arr: pa.Array) -> np.ndarray:
    """Null-free array -> int64 values (bit-exact for floats/timestamps)."""
    s = str(arr.type)
    if s.startswith("timestamp"):
        # epoch int64 in the column's own unit; unit+tz restored from meta
        return np.asarray(arr.cast(pa.int64()), dtype=_I64)
    if s == "double":
        return np.asarray(arr, dtype=np.float64).view(_I64).copy()
    if s == "float":
        f32 = np.asarray(arr, dtype=np.float32)
        return f32.view(np.int32).astype(_I64)
    if s == "date32[day]":
        return np.asarray(arr.cast(pa.int32()), dtype=_I64)
    return np.asarray(arr.cast(pa.int64()), dtype=_I64)


def _from_int64(values: np.ndarray, t: pa.DataType) -> pa.Array:
    """int64 values -> null-free array of logical type ``t`` (bit-exact)."""
    s = str(t)
    if s.startswith("timestamp"):
        return pa.array(values, type=pa.int64()).cast(pa.timestamp(t.unit, tz=t.tz))
    if s == "double":
        return pa.array(values.view(np.float64), type=pa.float64())
    if s == "float":
        return pa.array(values.astype(np.int32).view(np.float32), type=pa.float32())
    if s == "bool":
        return pa.array(values.astype(np.bool_), type=pa.bool_())
    if s == "date32[day]":
        return pa.array(values.astype(np.int32), type=pa.int32()).cast(pa.date32())
    return pa.array(values.astype(_INT_NP[s]), type=t)


def encode_array(arr: pa.Array, codec: str) -> tuple[bytes, dict]:
    """Encode one Arrow array chunk with ``codec``; output is self-contained."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    null_count = arr.null_count
    validity = b""
    if null_count:
        mask = np.asarray(arr.is_valid(), dtype=bool)
        validity = pack_validity(mask)
    type_str = str(arr.type)
    valid = arr.drop_null() if null_count else arr
    if is_bytes_type(arr.type):
        lengths, data = bytescodecs.arrow_to_parts(valid)
        enc, _ = bytescodecs.BYTES_CODECS[codec]
        body, m = enc(lengths, data)
        bytes_in = int(lengths.sum()) + 8 * n
    else:
        values = _to_int64(valid)
        enc, _ = intcodecs.INT_CODECS[codec]
        body, m = enc(values)
        bytes_in = 8 * n
    payload = pack_sections([validity, body])
    meta = {"codec": codec, "type": type_str, "nulls": int(null_count), "m": m,
            "bytes_in": bytes_in}
    if not is_bytes_type(arr.type) and values.size:
        # zone map: int-domain chunks carry min/max so decode can prune
        # chunks/buckets against range predicates without decoding them.
        # Float columns store the ORDER-PRESERVING key view (the raw bit
        # view does not order; format v5) — predicate bounds are keyed the
        # same way in engine._normalize_predicates
        if type_str in ("double", "float"):
            keys = float_order_keys(values, type_str)
            meta["min"], meta["max"] = int(keys.min()), int(keys.max())
        else:
            meta["min"], meta["max"] = int(values.min()), int(values.max())
            # exact sum over non-null values (format v7): lets SUM/AVG
            # pushdown answer proven-all-match chunks/buckets from metadata
            # alone (engine.agg_table). Exact by construction — Python ints
            # are unbounded; only the accumulation strategy varies
            meta["sum"] = _exact_sum(values, meta["min"], meta["max"])
    elif is_bytes_type(arr.type) and len(valid):
        # bytes zone map: truncated-prefix min/max (see _bytes_zone_map for
        # why prefix comparisons stay sound) enables equality/IN pruning on
        # url/lang-style columns
        bmin, bmax = _bytes_zone_map(valid)
        meta["bmin"], meta["bmax"] = _b64(bmin), _b64(bmax)
    return payload, meta


def _exact_sum(values: np.ndarray, vmin: int, vmax: int) -> int:
    """Exact int sum of an int64 view. np.sum wraps silently on int64
    overflow, so the fast path runs only when ``n * max|v|`` provably fits
    (< 2^62); otherwise accumulate in unbounded Python ints."""
    maxabs = max(abs(vmin), abs(vmax))
    if maxabs == 0 or values.size <= (1 << 62) // maxabs:
        return int(values.sum())
    return int(values.astype(object).sum())


# --------------------------------------------------------------------------
# float zone-map keys (format v5)
# --------------------------------------------------------------------------
#
# The stored int64 bit view of a float column does NOT order (negative
# floats have descending bit patterns), so float zone maps go through the
# standard order-preserving transform instead: keep non-negative bit
# patterns, flip the magnitude bits of negative ones. The result is a
# signed-int64 total order matching Spark's comparison order for every
# value: -inf < negatives < -0=+0 < positives < +inf < NaN. -0.0 is
# normalized to +0.0 first so the two compare equal, and every NaN bit
# pattern (either sign) collapses to the single maximal key — both are
# Spark semantics, deliberately NOT raw IEEE totalOrder (which would put
# sign-bit NaNs below -inf and unsoundly prune them under lower bounds).

_ORDER_MASK = np.int64(0x7FFFFFFFFFFFFFFF)
# bit pattern of -0.0 per logical type, in the stored int64 view
# (float32 bits are sign-extended int32, see _to_int64)
_NEG_ZERO_BITS = {"double": np.int64(np.iinfo(np.int64).min),
                  "float": np.int64(-(1 << 31))}
# NaN detection masks in the stored view (exponent all-ones + mantissa != 0)
_NAN_MASKS = {"double": (np.int64(0x7FF0000000000000),
                         np.int64(0x000FFFFFFFFFFFFF)),
              "float": (np.int64(0x7F800000), np.int64(0x007FFFFF))}
_NAN_KEY = np.int64(np.iinfo(np.int64).max)


def float_order_keys(values: np.ndarray, type_str: str) -> np.ndarray:
    """Stored float bit view -> monotone int64 keys (vectorized).

    Spark collapses every NaN bit pattern — positive or NEGATIVE sign —
    into one value greater than +inf, so all NaN patterns map to the
    maximal key (the raw transform would put sign-bit NaNs BELOW -inf
    and a lower-bound predicate would unsoundly prune an all-NaN chunk;
    pinned in tests/test_float_predicates.py)."""
    v = np.where(values == _NEG_ZERO_BITS[type_str], np.int64(0), values)
    exp, man = _NAN_MASKS[type_str]
    is_nan = ((v & exp) == exp) & ((v & man) != 0)
    return np.where(is_nan, _NAN_KEY, np.where(v >= 0, v, v ^ _ORDER_MASK))


def float_key(x: float, type_str: str) -> int:
    """Key of one predicate bound, in the column's own precision.

    float32 bounds are conservatively widened by one key step after the
    float64 -> float32 rounding (keys are dense over bit patterns, so ±1 in
    key space is exactly one ulp): pruning must never drop a chunk whose
    float32 values straddle the unrounded float64 bound. Exactness comes
    from the row mask, which compares in float64."""
    if type_str == "float":
        # a float64 bound beyond float32 range intentionally overflows to
        # ±inf — the widest conservative key — so the cast warning is noise
        # (it would also trip warnings-as-errors CI); silence it explicitly
        with np.errstate(over="ignore"):
            bits = np.array([np.float32(x)],
                            dtype=np.float32).view(np.int32).astype(np.int64)
    else:
        bits = np.array([np.float64(x)], dtype=np.float64).view(np.int64)
    return int(float_order_keys(bits, type_str)[0])


# prefix cap for bytes zone maps: long enough to separate url/lang-ish
# values, short enough that 10^6 bucket commit records stay tiny
ZONE_PREFIX = 24


def _b64(b: bytes) -> str:
    import base64

    return base64.b64encode(b).decode("ascii")


def b64d(s: str) -> bytes:
    import base64

    return base64.b64decode(s.encode("ascii"))


def _bytes_zone_map(valid: pa.Array) -> tuple[bytes, bytes]:
    """Truncated (min, max) byte prefixes of a null-free binary-ish array.

    Soundness of pruning with truncated prefixes (cap L):
    - ``bmin[:L] <= bmin <= v`` for every value v, so a probe p with
      ``p < bmin[:L]`` satisfies ``p < bmin`` -> no match, prune.
    - if ``p[:L] > bmax[:L]`` then the first differing byte inside L already
      exceeds, so ``p > bmax`` for any bmax suffix -> no match, prune.
    Equality at the truncated boundary is kept (conservative), and the
    exact row filter makes the final result precise either way. Prefixes of
    a max/min commute with truncation (a >= b  =>  a[:L] >= b[:L]), so
    bucket-level merging by plain min/max over chunk prefixes is exact.
    """
    import pyarrow.compute as pc

    mm = pc.min_max(valid.cast(pa.large_binary()))
    bmin, bmax = mm["min"].as_py(), mm["max"].as_py()
    return bmin[:ZONE_PREFIX], bmax[:ZONE_PREFIX]


def probe_in_zone(probe: bytes, bmin_t: bytes, bmax_t: bytes) -> bool:
    """Could ``probe`` exist in a zone with truncated (bmin_t, bmax_t)?"""
    return not (probe < bmin_t or probe[:ZONE_PREFIX] > bmax_t)


def prefix_in_zone(prefix: bytes, bmin_t: bytes, bmax_t: bytes) -> bool:
    """Could any value starting with ``prefix`` exist in the zone? The
    prefix denotes the byte range [prefix, next(prefix)): prune when
    next(prefix) <= bmin_t (<= bmin, so every value is above the range)
    or prefix[:L] > bmax_t (=> prefix > bmax, every value below it)."""
    nxt = _prefix_upper(prefix)
    if nxt is not None and nxt <= bmin_t:
        return False
    return not prefix[:ZONE_PREFIX] > bmax_t


def _prefix_upper(prefix: bytes) -> bytes | None:
    """Smallest byte string greater than every string starting with
    ``prefix`` (increment the last non-0xFF byte); None if unbounded."""
    b = bytearray(prefix)
    while b and b[-1] == 0xFF:
        b.pop()
    if not b:
        return None
    b[-1] += 1
    return bytes(b)


def dict_may_contain(payload: bytes, meta: dict, probes: list[bytes],
                     prefix: bool = False, mode: str | None = None
                     ) -> bool | None:
    """Dictionary short-circuit for equality/IN/prefix/contains/suffix
    predicates: for dict-coded chunks, decode ONLY the (small) dictionary
    value store and test probe membership (or prefix/substring/suffix
    match) — no code-stream unpack, no take(). Returns None when the
    codec has no value-level dictionary (worddict's dictionary is
    token-level, not value-level, so membership there proves nothing).
    ``mode`` overrides the legacy ``prefix`` flag: one of "in"/"eq",
    "prefix", "contains", "suffix"."""
    if meta.get("codec") not in ("dict", "dictfsst"):
        return None
    from . import bytescodecs
    from .framing import unpack_sections

    if mode is None:
        mode = "prefix" if prefix else "in"
    _, body = unpack_sections(payload)
    dict_payload, _ = unpack_sections(body)
    m = meta["m"]
    _, sub_dec = bytescodecs.BYTES_CODECS[m.get("sub", "plain")]
    d_lens, d_data = sub_dec(dict_payload, m["dict"], int(m["ndv"]))
    values = bytescodecs.parts_to_arrow(d_lens, d_data).to_pylist()
    if mode == "prefix":
        return any(v.startswith(p) for p in probes for v in values)
    if mode == "contains":
        return any(p in v for p in probes for v in values)
    if mode == "suffix":
        return any(v.endswith(p) for p in probes for v in values)
    vset = set(values)
    return any(p in vset for p in probes)


def _bytes_logical_cast(arr: pa.Array, t: pa.DataType) -> pa.Array:
    """Dictionary/run value store -> the column's logical type (same cast
    chain decode_array uses)."""
    arr = arr.cast(
        pa.large_string() if t in (pa.string(), pa.large_string())
        else pa.large_binary())
    return arr.cast(t)


def chunk_value_counts(payload: bytes, meta: dict, n: int,
                       mask: np.ndarray | None = None) -> pa.Table:
    """Partial ``(value, cnt)`` rows for one chunk: :func:`chunk_group_multi`
    over one group column and no agg column. Null rows surface as a
    null-value row (SQL GROUP BY groups nulls); ``mask`` (bool[n], from the
    predicate machinery) restricts the counts to matching rows."""
    return chunk_group_multi([(payload, meta)], n, mask=mask) \
        .rename_columns(["value", "cnt"])

def chunk_nonnull_count(payload: bytes | None, meta: dict, n: int,
                        mask: np.ndarray | None = None) -> int:
    """Non-null row count of one chunk — the COUNT(col) pushdown (round 5).
    Reads the validity section ONLY, never decoding values, and touches no
    payload at all for a chunk whose meta shows zero nulls (``payload`` may
    then be None): counting a text column costs bitmap bytes, not FSST
    decompression. ``mask`` restricts to matching rows (WHERE)."""
    if not int(meta["nulls"]):
        return int(mask.sum()) if mask is not None else n
    valid = unpack_validity(unpack_sections(payload)[0], n)
    if mask is not None:
        valid = valid & mask
    return int(valid.sum())


def chunk_group_sums(g_payload: bytes, g_meta: dict,
                     a_payload: bytes | None, a_meta: dict, n: int,
                     mask: np.ndarray | None = None,
                     count_only: bool = False) -> pa.Table:
    """Partial ``(value, cnt, sum, nn, mn, mx)`` rows for one chunk:
    :func:`chunk_group_multi` over one group column and one agg column.
    ``nn`` is the group's non-null agg count (AVG's exact denominator);
    ``count_only`` is the COUNT(col) pushdown, where only ``nn`` is real
    and ``a_payload`` may be None for a null-free chunk."""
    return chunk_group_multi(
        [(g_payload, g_meta)], n, mask=mask,
        a_specs=[(a_payload, a_meta, count_only)]
    ).rename_columns(["value", "cnt", "sum", "nn", "mn", "mx"])

#: date_trunc units the derived-key kernel flooring supports (identical
#: vocabularies in pyarrow's floor_temporal and Spark's date_trunc)
TRUNC_UNITS = frozenset((
    "year", "quarter", "month", "week", "day",
    "hour", "minute", "second", "millisecond", "microsecond"))

#: calendar-part extractors for derived ("part", name) group keys
_PART_FNS = ("year", "quarter", "month", "day",
             "hour", "minute", "second")


def apply_group_transform(arr: pa.Array, transform) -> pa.Array:
    """Project a time column onto its derived GROUP BY key — ``("date",)``
    (CAST AS DATE / to_date), ``("trunc", unit[, out_tz])`` (date_trunc),
    or ``("part", name)`` (year/month/.../second) — BEFORE dictionary
    encoding, so the per-chunk ndv collapses from O(rows) raw timestamps
    to a handful of buckets and the docs-per-day rollup aggregates on tiny
    code streams (round 5).

    Instant (tz-aware) inputs first drop the zone label: Arrow stores
    tz-aware timestamps physically as UTC epoch, so the naive view IS the
    UTC wall clock — the SQL router only routes instant columns under a
    fixed-zero-offset session zone, where Spark's own wall-clock
    projection is exactly UTC. All three kinds floor CALENDAR-wise
    (floor_temporal), matching Spark for pre-1970 values where a plain
    integer division would round toward zero."""
    if pa.types.is_timestamp(arr.type) and arr.type.tz is not None:
        arr = arr.cast(pa.timestamp(arr.type.unit))
    import pyarrow.compute as pc
    kind = transform[0]
    if kind == "date":
        if pa.types.is_date(arr.type):
            return arr
        return pc.floor_temporal(arr, unit="day").cast(pa.date32())
    if kind == "trunc":
        unit = transform[1]
        if unit not in TRUNC_UNITS:
            raise ValueError(f"unsupported trunc unit {unit!r}")
        out = pc.floor_temporal(arr, unit=unit, week_starts_monday=True)
        tz = transform[2] if len(transform) > 2 and transform[2] else "UTC"
        return out.cast(pa.timestamp("us")).cast(pa.timestamp("us", tz=tz))
    if kind == "part":
        name = transform[1]
        if name not in _PART_FNS:
            raise ValueError(f"unsupported part extractor {name!r}")
        return getattr(pc, name)(arr).cast(pa.int32())
    raise ValueError(f"unknown group transform {transform!r}")


def _group_codes(payload: bytes, meta: dict, n: int,
                 transform=None) -> tuple[np.ndarray, pa.Array]:
    """One group column chunk -> (codes int64[n], values) where
    ``values[codes[i]]`` is row i's group value and nulls take the last
    code (a null entry appended to values). Dict-coded bytes chunks read
    the packed code stream directly (no row materialization); anything
    else decodes and dictionary-encodes (vectorized Arrow hash).
    ``transform`` (round 5) derives the key via
    :func:`apply_group_transform` before the dictionary encode."""
    t = parse_type(meta["type"])
    m = meta["m"]
    nulls = int(meta["nulls"])
    n_valid = n - nulls
    if is_bytes_type(t) and meta["codec"] in ("dict", "dictfsst") and n_valid:
        validity, body = unpack_sections(payload)
        dict_payload, code_payload = unpack_sections(body)
        _, sub_dec = bytescodecs.BYTES_CODECS[m.get("sub", "plain")]
        ndv = int(m["ndv"])
        d_lens, d_data = sub_dec(dict_payload, m["dict"], ndv)
        codes = bitpack.unpack(code_payload, int(m["width"]),
                               n_valid).astype(np.int64)
        if nulls:
            gmask = unpack_validity(validity, n)
            full = np.full(n, ndv, dtype=np.int64)
            full[gmask] = codes
            codes = full
        values = _bytes_logical_cast(
            bytescodecs.parts_to_arrow(d_lens, d_data), t)
    else:
        arr = decode_array(payload, meta, n)
        if transform is not None:
            arr = apply_group_transform(arr, transform)
            t = arr.type  # derived key domain (date32/timestamp/int32)
        denc = arr.dictionary_encode()
        idx = denc.indices
        values = denc.dictionary.cast(t)
        ndv = len(values)
        if idx.null_count:
            codes = np.asarray(idx.fill_null(ndv), dtype=np.int64)
            nulls = idx.null_count
        else:
            codes = np.asarray(idx, dtype=np.int64)
            nulls = 0
    if nulls:
        values = pa.concat_arrays(
            [values.combine_chunks() if isinstance(values, pa.ChunkedArray)
             else values, pa.array([None], type=t)])
    elif isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    return codes, values


def _int64_domain(arr: pa.Array) -> pa.Array:
    """Agg values in the int64 domain: integers as they are, timestamps and
    dates as epoch values (the unit chunk metas and commit stats store)."""
    if pa.types.is_integer(arr.type):
        return arr
    if pa.types.is_date(arr.type):
        return arr.cast(pa.int32()).cast(pa.int64())
    return arr.cast(pa.int64())


def chunk_group_multi(g_chunks: list[tuple], n: int,
                      mask: np.ndarray | None = None,
                      a_specs: list[tuple[bytes | None, dict, bool]] = ()
                      ) -> pa.Table:
    """Partial ``(g0..g{k-1}, cnt, sum{j}, nn{j}, mn{j}, mx{j})`` rows for
    one chunk — GROUP BY pushed to the codec layer; the engine's aggregate
    kernel reduces them. With no group column (k = 0) this is the ungrouped
    aggregate: one row, or none when ``mask`` matches no row.

    Per-column code streams combine into one int64 key
    (``code0 * ng1*ng2*... + code1 * ng2*... + ...``). When that composite
    domain has at most ``n`` codes, a dense bincount plus a remap gives the
    observed groups, their counts and each row's group index; otherwise
    ``np.unique`` does (memory O(observed distinct), never O(prod ndv)).
    Group VALUES materialize only once per surviving group via per-column
    dictionary takes: dict-coded bytes columns never materialize rows at
    all; other codecs pay one decode + dictionary_encode. If the
    combined-key domain would overflow int64 (astronomically wide
    composite groups), falls back to Arrow's multi-key hash aggregation on
    decoded columns.

    ``a_specs`` lists the agg columns as ``(payload, meta, count_only)``;
    every one scatters through the same combined key and group index into
    ``sum{j}/nn{j}/mn{j}/mx{j}`` (spec index j). ``nn`` is the group's
    non-null count (AVG's exact denominator); ``mn``/``mx`` are in the
    int64 domain (epoch values for time columns). SQL semantics: nulls form
    groups; a group whose agg values are all null gets NULL sum/mn/mx;
    int64 sums wrap mod 2^64 (wrap-around addition is associative, so this
    is Spark's non-ANSI sum(long) bit for bit).

    A count-only spec is the COUNT(col) pushdown: only ``nn{j}`` is real
    (sum/mn/mx NULL) and the column's values never decode — validity
    section only, no payload at all when its meta shows zero nulls (the
    payload may then be None). Any column type counts.

    A ``g_chunks`` entry is ``(payload, meta)`` or ``(payload, meta,
    transform)`` (derived time keys): the transform projects the column
    through :func:`apply_group_transform` before its codes are computed,
    so ``GROUP BY to_date(ts)`` groups on per-day codes, never raw
    timestamps.

    ``mask`` (bool[n], from the predicate machinery) restricts the
    aggregation to matching rows; it indexes the code streams, so group
    values still never materialize per row."""
    g_chunks = [(e[0], e[1], e[2] if len(e) > 2 else None)
                for e in g_chunks]
    # pre-computed validity for count-only specs (payload is None for a
    # null-free chunk: validity stays None -> the group's nn == cnt)
    pre_valid: list[np.ndarray | None] = [
        (unpack_validity(unpack_sections(p)[0], n)
         if co and int(m["nulls"]) else None)
        for p, m, co in a_specs]
    cols = [_group_codes(p, m, n, transform=tr) for p, m, tr in g_chunks]
    ngs = [max(1, len(v)) for _, v in cols]
    prod = 1
    for ng in ngs:
        prod *= ng
    if prod >= (1 << 62):  # no composite code space: decode + hash-agg
        names = [f"g{i}" for i in range(len(g_chunks))]
        data = {f"g{i}": (decode_array(p, m, n) if tr is None
                          else apply_group_transform(
                              decode_array(p, m, n), tr))
                for i, (p, m, tr) in enumerate(g_chunks)}
        for j, (p, m, co) in enumerate(a_specs):
            if co:
                data[f"v{j}"] = pa.array(
                    (np.ones(n, dtype=bool) if pre_valid[j] is None
                     else pre_valid[j]).astype(np.int64))
            else:
                data[f"v{j}"] = _int64_domain(decode_array(p, m, n))
        tbl = pa.table(data)
        if mask is not None:
            tbl = tbl.filter(pa.array(mask))
        aggs = [([], "count_all")]
        for j, (_, _, co) in enumerate(a_specs):
            aggs.append((f"v{j}", "sum"))
            if not co:
                aggs += [(f"v{j}", "count"), (f"v{j}", "min"),
                         (f"v{j}", "max")]
        r = tbl.group_by(names).aggregate(aggs)
        out = {f"g{i}": r.column(f"g{i}") for i in range(len(g_chunks))}
        out["cnt"] = r.column("count_all").cast(pa.int64())
        null64 = pa.nulls(r.num_rows, pa.int64())
        for j, (_, _, co) in enumerate(a_specs):
            if co:
                out[f"sum{j}"] = null64
                out[f"nn{j}"] = r.column(f"v{j}_sum").cast(pa.int64())
                out[f"mn{j}"] = null64
                out[f"mx{j}"] = null64
            else:
                out[f"sum{j}"] = r.column(f"v{j}_sum").cast(pa.int64())
                out[f"nn{j}"] = r.column(f"v{j}_count").cast(pa.int64())
                out[f"mn{j}"] = r.column(f"v{j}_min").cast(pa.int64())
                out[f"mx{j}"] = r.column(f"v{j}_max").cast(pa.int64())
        return pa.table(out)
    combined = np.zeros(n, dtype=np.int64) if not cols else None
    for (codes, _), ng in zip(cols, ngs):
        combined = codes if combined is None else combined * ng + codes
    if mask is not None:
        combined = combined[mask]
    if prod <= n:
        # dense domain: bincount + remap yields np.unique's (u, inv, cnt)
        dense = np.bincount(combined, minlength=prod)
        u = np.flatnonzero(dense)
        cnt = dense[u]
        if len(u) == prod:  # every code observed: codes are the index
            inv = combined
        elif a_specs:
            remap = np.zeros(prod, dtype=np.int64)
            remap[u] = np.arange(len(u))
            inv = remap[combined]
    else:
        u, inv, cnt = np.unique(combined, return_inverse=True,
                                return_counts=True)
    out = {}
    rem = u
    for i in reversed(range(len(cols))):
        out[f"g{i}"] = cols[i][1].take(pa.array(rem % ngs[i], type=pa.int64()))
        rem = rem // ngs[i]
    out = {f"g{i}": out[f"g{i}"] for i in range(len(cols))}
    out["cnt"] = pa.array(cnt, type=pa.int64())
    for j, (p, m, co) in enumerate(a_specs):
        if co:
            av_valid = pre_valid[j]
            if mask is not None and av_valid is not None:
                av_valid = av_valid[mask]
            nn = np.asarray(
                cnt if av_valid is None
                else np.bincount(inv[av_valid], minlength=len(u)),
                dtype=np.int64)
            null64 = pa.nulls(len(u), pa.int64())
            out[f"sum{j}"] = null64
            out[f"nn{j}"] = pa.array(nn, type=pa.int64())
            out[f"mn{j}"] = null64
            out[f"mx{j}"] = null64
            continue
        a_arr = decode_array(p, m, n)
        if mask is not None:
            a_arr = a_arr.filter(pa.array(mask))
        a_arr = _int64_domain(a_arr)
        if a_arr.null_count:
            avalid = np.asarray(a_arr.is_valid(), dtype=bool)
            av = np.asarray(a_arr.fill_null(0), dtype=np.int64)[avalid]
            ainv = inv[avalid]
        else:
            av = np.asarray(a_arr, dtype=np.int64)
            ainv = inv
        nn = np.bincount(ainv, minlength=len(u))  # non-null agg per group
        # wrap-around int64 accumulation == Spark non-ANSI sum(long)
        acc = np.zeros(len(u), dtype=np.int64)
        np.add.at(acc, ainv, av)
        mn_a = np.full(len(u), np.iinfo(np.int64).max, dtype=np.int64)
        mx_a = np.full(len(u), np.iinfo(np.int64).min, dtype=np.int64)
        np.minimum.at(mn_a, ainv, av)
        np.maximum.at(mx_a, ainv, av)
        out[f"sum{j}"] = pa.array(acc, type=pa.int64(), mask=nn == 0)
        out[f"nn{j}"] = pa.array(nn, type=pa.int64())
        out[f"mn{j}"] = pa.array(mn_a, type=pa.int64(), mask=nn == 0)
        out[f"mx{j}"] = pa.array(mx_a, type=pa.int64(), mask=nn == 0)
    return pa.table(out)

def _spread_nulls(valid_arr: pa.Array, mask: np.ndarray) -> pa.Array:
    """Re-insert nulls: take() with a null-masked index array propagates nulls."""
    idx = np.cumsum(mask, dtype=_I64) - 1
    take_idx = pa.array(idx, type=pa.int64(), mask=~mask)
    return valid_arr.take(take_idx)


def decode_array(payload: bytes, meta: dict, n: int) -> pa.Array:
    """Inverse of :func:`encode_array` — bit-identical."""
    validity, body = unpack_sections(payload)
    null_count = int(meta["nulls"])
    mask = unpack_validity(validity, n) if null_count else None
    n_valid = n - null_count
    t = parse_type(meta["type"])
    if is_bytes_type(t):
        _, dec = bytescodecs.BYTES_CODECS[meta["codec"]]
        lengths, data = dec(body, meta["m"], n_valid)
        valid_arr = bytescodecs.parts_to_arrow(lengths, data).cast(
            pa.large_string() if t in (pa.string(), pa.large_string()) else pa.large_binary()
        )
        out = _spread_nulls(valid_arr, mask) if mask is not None else valid_arr
        return out.cast(t)
    _, dec = intcodecs.INT_CODECS[meta["codec"]]
    values = dec(body, meta["m"], n_valid)
    valid_arr = _from_int64(values, t)
    return _spread_nulls(valid_arr, mask) if mask is not None else valid_arr
