"""SQL aggregate routing: ``spark.sql`` text -> metadata-only aggregation.

The Python Data Source API pushes FILTERS into the chunk store
(:mod:`flowforge.datasource`) but has no aggregate pushdown hook, so
``SELECT count(*) ... WHERE ts BETWEEN ...`` through a registered view
still decodes every surviving chunk just to count rows — while
:func:`flowforge.engine.agg_table` answers the same question from commit/
chunk metadata with zero task I/O on proven buckets. This module closes
that gap the way Spark itself would: let Spark PARSE AND ANALYZE the SQL
(so quoting, case, aliases, timestamp literals are Spark's semantics, not
a regex's), then walk the analyzed logical plan; if it is exactly the
shape the engine can answer —

    Aggregate(count(*) / count(col) over any stored type /
              sum / min / max / avg over int columns — any MIX of agg
              columns (every column rides the one aggregate kernel pass
              with per-column partials), plus ARITHMETIC over those
              aggregates (sum(a)/count(*), sum(a)+sum(b), count(*)*2 ...
              in SELECT or HAVING: embedded aggregates become hidden
              routed outputs, the expression rebuilds over them with the
              analyzer's own casts),
              [group by one or more columns — plain, kernel-computed
               derived TIME buckets (to_date/date_trunc/parts), or
               whitelisted derived SCALAR keys (upper/lower/substring/
               concat/regexp_extract/casts/...): the kernels group the
               RAW source columns and Spark itself evaluates the rebuilt
               expression over the ndv-bounded partials before a
               re-group, so string/Unicode semantics are exactly
               Spark's],
              [Filter(AND of eq / IN / LIKE-prefix / range; plus ONE
               cross-column OR of two branches, answered by
               inclusion-exclusion over conjunctive passes — one-row
               composition ungrouped, per-group null-safe outer-join
               composition grouped)],
              one registered chunk-store view)

— route it to the engine's one aggregate kernel: ``agg_table`` when
ungrouped, ``group_multi_table`` when grouped (both run
``engine._make_group_multi_kernel`` and read the same partial columns
``cnt, sum{j}, nn{j}, mn{j}, mx{j}``). Anything else falls back to the
ordinary filter-pushdown execution of the same statement, so
``store_agg_sql`` is ALWAYS correct and at worst as fast as
``store_sql``. The analyzed plan (not the raw text) is the
contract: a routable and a fallback run of the same statement return the
same rows, pinned by tests/test_sqlagg.py against both paths and DuckDB.

One documented envelope: a routed dim-side ``sum(d.w)`` over a store-dim
join is rebuilt as ``cnt * w`` per matched (partial, dim row) pair (see
:func:`_exec_join`). Long sums are exact, but a double ``w`` rounds once
per product where Spark's row plan rounds once per added row, so the
routed and fallback double sums can differ in the last bits (ulp level),
the same envelope as Spark's own AQE-dependent partial orderings.

Reference analog: the reference has no SQL surface at all (core/*.go is a
fixed ETL); this is part of the repo's query-engine extension.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datasource, engine

_I64_MIN, _I64_MAX = -(2 ** 63), 2 ** 63 - 1

# aggregate-function class name -> engine agg_table spec head
_AGG_FNS = {"Count": "count", "Sum": "sum", "Min": "min", "Max": "max",
            "Average": "avg"}


def _cls(o) -> str:
    return o.getClass().getSimpleName()


class _Unroutable(Exception):
    """Internal: this plan shape is not expressible as an engine pushdown
    (NOT an error — the caller falls back to ordinary execution)."""


def _literal(e, domain: str | None = None):
    """Unwrap Cast(Literal)/Literal -> Python value (str/int/float), in the
    COMPARISON'S domain: the analyzed plan wraps the literal in a Cast to
    the type the comparison actually runs in, so ``value > 1`` against a
    double column carries Cast(1 AS double) — the bound must come back as
    the float 1.0, NOT the int 1 (an int here would later take the
    strict-bound ±1 adjustment and silently drop e.g. value=1.5; round-5
    fix). SQL float literals analyze as decimal (``0.5`` is decimal(1,1));
    cast to a float domain they convert exactly as Spark's own
    decimal->double cast does. ``domain`` overrides the cast-derived type
    for expressions whose children stay uncast (BETWEEN is
    RuntimeReplaceable: its raw bounds carry no Cast, so the caller passes
    the input column's type).

    Timestamp/date literals surface in the ANALYZED plan already converted
    to the engine's epoch units (micros / days), so no timezone math
    happens here. Anything else (null literals, decimals outside a float
    comparison, non-literal expressions) is unroutable."""
    outer = domain or e.dataType().simpleString()
    while _cls(e) == "Cast":
        e = e.child()
    if _cls(e) != "Literal":
        raise _Unroutable(f"non-literal operand {e.sql()}")
    v = e.value()
    if v is None:
        raise _Unroutable("null literal")
    dt = e.dataType().simpleString()
    if dt == "string":
        return str(v)  # py4j surfaces UTF8String as an opaque JavaObject
    if dt in ("float", "double") or outer in ("float", "double"):
        # float-domain comparison: int and decimal literals convert the
        # way Spark's own cast to double would
        if dt in ("float", "double") or dt.startswith("decimal") \
                or dt in ("tinyint", "smallint", "int", "bigint"):
            return float(str(v))
        raise _Unroutable(f"literal type {dt} in a float comparison")
    if dt in ("tinyint", "smallint", "int", "bigint", "date",
              "timestamp", "timestamp_ntz"):
        return int(str(v))
    raise _Unroutable(f"literal type {dt}")


def _attr_name(e) -> str:
    while _cls(e) == "TempResolvedColumn":
        # HAVING BETWEEN keeps its aggregates inline, and their column
        # operands arrive wrapped in the analyzer's TempResolvedColumn
        # (resolved against the Aggregate's child — the store itself)
        e = e.child()
    if _cls(e) != "AttributeReference":
        raise _Unroutable(f"not a plain column: {e.sql()}")
    return str(e.name())


_INT_WIDEN = ("tinyint", "smallint", "int", "bigint")


def _is_col(e) -> bool:
    """True if e is a column reference, possibly under Casts."""
    while _cls(e) == "Cast":
        e = e.child()
    return _cls(e) == "AttributeReference"


def _session_tz_fixed_utc(tz: str | None = None) -> bool:
    """True iff the (session) timezone is a FIXED zero offset — UTC,
    Etc/UTC, GMT, +00:00 — checked against the JVM's own zone rules, not a
    string allow-list. This is exactly the condition under which Spark's
    timestamp_ntz <-> timestamp cast is the identity on epoch micros; any
    zone with DST has a non-monotone wall-clock <-> instant map, so a
    comparison bound cannot be translated across the cast at all."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    if tz is None:
        tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        jvm = spark._jvm
        rules = jvm.java.time.ZoneId.of(tz).getRules()
        return bool(rules.isFixedOffset()) and rules.getOffset(
            jvm.java.time.Instant.EPOCH).getTotalSeconds() == 0
    except Exception:
        return False


def _unwrap_col(e):
    """Strip a value-preserving Cast around the COLUMN side of a
    comparison so natural phrasings route: the analyzer casts the column
    when its type is narrower than the literal's (an int column vs a
    bigint literal; a timestamp_ntz column vs a ``timestamp'...'``
    literal). Unwrapping is sound only when the cast is the identity on
    the engine's physical representation (int64 zone maps / epoch micros):

    - integer widening (tinyint -> ... -> bigint): exact embedding;
    - timestamp <-> timestamp_ntz when the session zone is a fixed zero
      offset (see _session_tz_fixed_utc): both sides are the same
      epoch-micros int64.

    Any other cast stays wrapped and _attr_name falls the plan back.
    Returns (expr, comparison_domain): the possibly-unwrapped expression
    plus the type the comparison actually runs in (the outermost type),
    which is the domain literal bounds must resolve in."""
    dom = str(e.dataType().simpleString())
    if _cls(e) != "Cast":
        return e, dom
    child = e.child()
    if _cls(child) != "AttributeReference":
        return e, dom
    src = str(child.dataType().simpleString())
    if (src in _INT_WIDEN and dom in _INT_WIDEN
            and _INT_WIDEN.index(dom) >= _INT_WIDEN.index(src)):
        return child, dom
    if src == "float" and dom == "double":
        # exact embedding, and the engine's float32 kernels already
        # compare promoted to double (tests/test_float_predicates)
        return child, dom
    if ({src, dom} <= {"timestamp", "timestamp_ntz"}
            and _session_tz_fixed_utc()):
        return child, dom
    return e, dom


#: Spark date_trunc format spellings -> arrow floor_temporal units
_TRUNC_FMT = {
    "year": "year", "yyyy": "year", "yy": "year",
    "quarter": "quarter",
    "month": "month", "mon": "month", "mm": "month",
    "week": "week",
    "day": "day", "dd": "day",
    "hour": "hour", "minute": "minute", "second": "second",
    "millisecond": "millisecond", "microsecond": "microsecond",
}

#: Catalyst calendar-part extractors -> kernel ("part", name) transforms
_PART_CLS = {"Year": "year", "Quarter": "quarter", "Month": "month",
             "DayOfMonth": "day", "Hour": "hour", "Minute": "minute",
             "Second": "second"}


def _time_src(e) -> tuple[str, str]:
    """The underlying time-typed source column of a derived time
    expression, as (name, simple type). Wall-clock projections of an
    INSTANT (``timestamp``) column are session-zone-dependent, so those
    route only under a fixed-zero-offset session zone — the kernels floor
    in UTC (arrow's physical tz-aware representation IS UTC epoch).
    ``timestamp_ntz`` and ``date`` sources are wall-clock-native and
    route under any zone; the ntz->timestamp cast Spark injects under
    date_trunc is unwrapped (and thereby UTC-gated) by _unwrap_col."""
    e, _ = _unwrap_col(e)
    if _cls(e) != "AttributeReference":
        raise _Unroutable(f"derived key over {e.sql()}")
    st = str(e.dataType().simpleString())
    if st not in ("timestamp", "timestamp_ntz", "date"):
        raise _Unroutable(f"derived key over a {st} column")
    if st == "timestamp" and not _session_tz_fixed_utc():
        raise _Unroutable(
            "derived time key on an instant column outside a fixed-UTC "
            "session zone")
    return str(e.name()), st


def _opt_empty(opt) -> bool:
    """True if a py4j-surfaced scala Option is None/empty."""
    if opt is None:
        return True
    try:
        return bool(opt.isEmpty())
    except Exception:
        return str(opt) == "None"


def _parse_group_expr(e) -> tuple[str, tuple | None]:
    """Analyzed grouping expression -> (source column, engine transform).
    Plain columns pass through (transform None); the derived time keys a
    corpus audit types — ``CAST(ts AS DATE)`` / ``to_date(ts)``,
    ``date_trunc(unit, ts)``, ``year/quarter/month/day/hour/minute/
    second(ts)`` — become chunk.apply_group_transform specs computed
    inside the grouped kernels, so docs-per-day over 10^12 rows
    aggregates per-chunk on a handful of derived codes, never raw
    timestamps.

    Everything else tries the DERIVED SCALAR KEY path (round 5):
    a whitelisted deterministic expression over stored columns —
    ``upper(lang)``, ``substring(url, 1, 8)``,
    ``regexp_extract(url, ..., 1)``, ``concat(lang, '-', source)``,
    casts, trims, length — becomes a ``("sqlexpr", sql, srcs)``
    transform: the kernels group on the RAW source columns (dict-coded
    code streams, values materialized once per group) and Spark itself
    evaluates the rebuilt expression over the ndv-bounded partials
    before a re-group, so semantics are exactly Spark's (no reimplemented
    string/Unicode behavior) and the expression runs O(observed raw
    groups) times, never 10^12. Anything else is unroutable (falls
    back)."""
    name = _cls(e)
    if name == "AttributeReference":
        return str(e.name()), None
    try:
        return _time_key(e, name)
    except _Unroutable:
        srcs: list[str] = []
        sql = _sqlexpr_build(e, srcs)
        if not srcs:
            raise _Unroutable(f"group expression {name} reads no column")
        return srcs[0], ("sqlexpr", sql, tuple(srcs))


def _time_key(e, name: str) -> tuple[str, tuple]:
    """The kernel-computed derived TIME keys (see _parse_group_expr)."""
    if name == "Cast" and str(e.dataType().simpleString()) == "date":
        return _time_src(e.child())[0], ("date",)
    if name == "ParseToDate":
        if not _opt_empty(e.format()):
            raise _Unroutable("to_date with an explicit format")
        return _time_src(e.left())[0], ("date",)
    if name == "TruncTimestamp":
        fmt = e.format()
        if _cls(fmt) != "Literal" or fmt.value() is None:
            raise _Unroutable("non-literal date_trunc format")
        unit = _TRUNC_FMT.get(str(fmt.value()).lower())
        if unit is None:
            # Spark returns NULL rows for an unknown format — never route
            raise _Unroutable(f"date_trunc format {str(fmt.value())!r}")
        spark = SparkSession.getActiveSession()
        tz = str(spark.conf.get("spark.sql.session.timeZone"))
        return _time_src(e.timestamp())[0], ("trunc", unit, tz)
    part = _PART_CLS.get(name)
    if part is not None:
        ch = e.children()
        if ch.size() != 1:
            raise _Unroutable(f"{name} arity {ch.size()}")
        inner = ch.apply(0)
        if _cls(inner) == "Cast" \
                and str(inner.dataType().simpleString()) == "date":
            inner = inner.child()  # year(ts) analyzes as Year(CAST AS DATE)
        return _time_src(inner)[0], ("part", part)
    raise _Unroutable(f"group expression {name}")


#: single-child whitelisted scalar functions for derived group keys
_SQLEXPR_FN1 = {"Upper": "upper", "Lower": "lower", "Length": "length",
                "Reverse": "reverse", "StringTrim": "trim",
                "StringTrimLeft": "ltrim", "StringTrimRight": "rtrim",
                "InitCap": "initcap", "Abs": "abs",
                "Floor": "floor", "Ceil": "ceil"}
#: fixed-arity whitelisted functions (class -> (sql name, arity))
_SQLEXPR_FNN = {"Substring": ("substring", 3),
                "StringReplace": ("replace", 3),
                "RegExpExtract": ("regexp_extract", 3),
                "StringLPad": ("lpad", 3), "StringRPad": ("rpad", 3),
                "StringTranslate": ("translate", 3),
                "SplitPart": ("split_part", 3),
                "Round": ("round", 2),  # round(x) analyzes with scale 0
                "Left": ("left", 2), "Right": ("right", 2),
                "Pmod": ("pmod", 2),
                # grouping(col) analyzes to
                # cast((shiftright(spark_grouping_id, k) & 1) as tinyint)
                "ShiftRight": ("shiftright", 2)}
#: variadic whitelisted functions
_SQLEXPR_VAR = {"Concat": "concat", "Coalesce": "coalesce"}
#: binary arithmetic (always parenthesized in the rebuild) — bucketing
#: keys like ``GROUP BY n_chars DIV 1000``; both paths evaluate via
#: Spark, so overflow/ANSI/precision semantics are identical by
#: construction (decimal CheckOverflow wrappers are unknown classes and
#: fall back)
_SQLEXPR_BIN = {"Add": "+", "Subtract": "-", "Multiply": "*",
                "Divide": "/", "Remainder": "%", "IntegralDivide": "DIV",
                "BitwiseAnd": "&"}
#: comparisons / boolean connectives — legal anywhere in a derived key
#: (CASE WHEN n > 2500 THEN 'long' ... END bucketing labels)
_SQLEXPR_CMP = {"EqualTo": "=", "EqualNullSafe": "<=>",
                "GreaterThan": ">", "LessThan": "<",
                "GreaterThanOrEqual": ">=", "LessThanOrEqual": "<="}
_SQLEXPR_CONN = {"And": "AND", "Or": "OR"}


def _sqlexpr_build(e, srcs: list[str], resolve=None) -> str:
    """Whitelisted deterministic scalar expression -> SQL text over
    bare (backquoted) column names, collecting the stored columns it
    reads into ``srcs``. The rebuild preserves the ANALYZED tree —
    including the analyzer's inserted casts — so ``F.expr`` over the
    raw-grouped partials re-analyzes to the identical expression Spark's
    fallback plan evaluates per row: same functions, same coercions,
    value- and type-identical output. Non-whitelisted nodes raise
    _Unroutable (the statement falls back).

    ``resolve`` (optional) maps a subtree to a replacement SQL fragment
    before any other rule — the SELECT-expression-over-group-keys path
    passes a resolver that turns subtrees semantically equal to a
    grouping expression into that group's output column, and makes bare
    column references unroutable (a non-grouped column under an
    Aggregate is not a valid scalar output anyway)."""
    def rec(x):
        return _sqlexpr_build(x, srcs, resolve)

    name = _cls(e)
    if resolve is not None:
        hit = resolve(e)
        if hit is not None:
            return hit
        if name == "AttributeReference":
            raise _Unroutable(
                f"column {e.name()} is not a grouping expression")
    if name == "AttributeReference":
        col = str(e.name())
        if col not in srcs:
            srcs.append(col)
        return f"`{col}`"
    if name == "Literal":
        if e.value() is None:
            # NULL literals carry a type the bare SQL keyword loses
            return f"CAST(NULL AS {e.dataType().sql()})"
        return str(e.sql())
    if name == "Cast":
        return (f"CAST({rec(e.child())} "
                f"AS {e.dataType().sql()})")
    fn = _SQLEXPR_FN1.get(name)
    if fn is not None:
        ch = e.children()
        if ch.size() != 1:
            raise _Unroutable(f"{name} with {ch.size()} args")
        return f"{fn}({rec(ch.apply(0))})"
    hit = _SQLEXPR_FNN.get(name)
    if hit is not None:
        fn, arity = hit
        ch = e.children()
        if ch.size() != arity:
            raise _Unroutable(f"{name} with {ch.size()} args")
        args = ", ".join(rec(ch.apply(i))
                         for i in range(arity))
        return f"{fn}({args})"
    fn = _SQLEXPR_VAR.get(name)
    if fn is not None:
        ch = e.children()
        if ch.size() < 1:
            raise _Unroutable(f"empty {name}")
        args = ", ".join(rec(ch.apply(i))
                         for i in range(ch.size()))
        return f"{fn}({args})"
    sym = _SQLEXPR_BIN.get(name) or _SQLEXPR_CMP.get(name) \
        or _SQLEXPR_CONN.get(name)
    if sym is not None:
        ch = e.children()
        if ch.size() != 2:
            raise _Unroutable(f"{name} with {ch.size()} args")
        return (f"({rec(ch.apply(0))} {sym} "
                f"{rec(ch.apply(1))})")
    if name == "Not":
        return f"(NOT {rec(e.child())})"
    if name == "IsNull":
        return f"({rec(e.child())} IS NULL)"
    if name == "IsNotNull":
        return f"({rec(e.child())} IS NOT NULL)"
    if name == "In":
        ch = e.children()
        if ch.size() < 2:
            raise _Unroutable("empty IN list")
        items = ", ".join(rec(ch.apply(i))
                          for i in range(1, ch.size()))
        return f"({rec(ch.apply(0))} IN ({items}))"
    if name == "Like":
        # the escape char is a constructor param, not a child — a
        # rebuild without the ESCAPE clause would silently change
        # matching, so only the default escape routes
        if str(e.escapeChar()) != "\\":
            raise _Unroutable("LIKE with a custom escape character")
        ch = e.children()
        return (f"({rec(ch.apply(0))} LIKE "
                f"{rec(ch.apply(1))})")
    if name == "If":
        ch = e.children()
        return (f"if({rec(ch.apply(0))}, "
                f"{rec(ch.apply(1))}, "
                f"{rec(ch.apply(2))})")
    if name == "CaseWhen":
        br = e.branches()
        parts = ["CASE"]
        for i in range(br.size()):
            t = br.apply(i)
            parts.append(f"WHEN {rec(t._1())} "
                         f"THEN {rec(t._2())}")
        ev = e.elseValue()
        if ev.isDefined():
            parts.append(f"ELSE {rec(ev.get())}")
        parts.append("END")
        return " ".join(parts)
    raise _Unroutable(f"group expression {name}")


_DAY_US = 86_400_000_000


def _date_proj(e) -> str | None:
    """Column name if ``e`` is a day projection — ``CAST(ts AS DATE)`` /
    ``to_date(ts)`` — of a stored MICROS time column, else None (round 5,
    derived-date predicates). ``WHERE to_date(ts) = date'D'`` then
    rewrites to the exact epoch range ``ts BETWEEN D*day AND
    (D+1)*day - 1`` (floor division: micros in [D*day, (D+1)*day) iff the
    UTC day is D, exact for pre-1970 negatives too), so the predicate
    reaches the zone maps and a ts-clustered store prunes to the day's
    buckets instead of falling back to a full decode. Instant columns are
    fixed-UTC-gated by _time_src; ntz is wall-clock-native. DATE-typed
    sources (days, not micros) never produce these expressions — the
    micros-type check is a guard, not a reachable branch."""
    name = _cls(e)
    try:
        if name == "Cast" and str(e.dataType().simpleString()) == "date":
            col, st = _time_src(e.child())
        elif name == "ParseToDate" and _opt_empty(e.format()):
            col, st = _time_src(e.left())
        else:
            return None
    except _Unroutable:
        return None  # the caller's _attr_name raises -> plan falls back
    return col if st in ("timestamp", "timestamp_ntz") else None


def _date_days(e) -> int:
    """Date-typed literal -> days since epoch (int), else unroutable."""
    v = _literal(e, "date")
    if not isinstance(v, int):
        raise _Unroutable(f"non-date literal {v!r} against a day projection")
    return v


def _year_proj(e) -> str | None:
    """Column name if ``e`` is ``year(ts)`` over a stored micros time
    column, else None. Unlike month/day-of-month, the year projection is
    CONTIGUOUS in epoch time, so ``WHERE year(ts) = N`` rewrites to the
    exact micros range [Jan1(N), Jan1(N+1)) and prunes off zone maps like
    any other ts window. Same zone gate as _date_proj."""
    if _cls(e) != "Year":
        return None
    ch = e.children()
    if ch.size() != 1:
        return None
    inner = ch.apply(0)
    if _cls(inner) == "Cast" \
            and str(inner.dataType().simpleString()) == "date":
        inner = inner.child()  # year(ts) analyzes as Year(CAST AS DATE)
    try:
        col, st = _time_src(inner)
    except _Unroutable:
        return None
    return col if st in ("timestamp", "timestamp_ntz") else None


def _year_start_us(y: int) -> int:
    """Epoch micros of Jan 1st 00:00 UTC of year y (calendar-exact for
    pre-1970), unroutable outside datetime's year range."""
    import datetime as _dt

    if not 1 <= y <= 9999:
        raise _Unroutable(f"year literal {y} outside datetime range")
    return (_dt.date(y, 1, 1).toordinal()
            - _dt.date(1970, 1, 1).toordinal()) * _DAY_US


def _year_literal(e) -> int:
    v = _literal(e)
    if not isinstance(v, int):
        raise _Unroutable(f"non-int literal {v!r} against a year projection")
    return v


def _trunc_proj(e) -> tuple[str, str] | None:
    """(column, unit) if ``e`` is ``date_trunc(unit, ts)`` over a stored
    micros time column, else None. Truncation is monotone and its image
    is the aligned-boundary lattice, so every comparison against a
    timestamp literal T rewrites exactly in epoch micros:
    ``trunc(ts) = T`` -> ts in [T, next(T)) when T is aligned (fallback
    when not — Spark matches nothing, and the engine has no always-false
    spec); ``>= T`` -> ts >= ceil(T); ``> T`` -> ts >= next-after(T);
    ``< T`` -> ts < ceil(T); ``<= T`` -> ts < next-after(T). Same zone
    gate as the other projections (the ntz input cast is unwrapped,
    thereby UTC-gated, inside _time_src)."""
    if _cls(e) != "TruncTimestamp":
        return None
    fmt = e.format()
    if _cls(fmt) != "Literal" or fmt.value() is None:
        return None
    unit = _TRUNC_FMT.get(str(fmt.value()).lower())
    if unit is None:
        return None
    try:
        col, st = _time_src(e.timestamp())
    except _Unroutable:
        return None
    return (col, unit) if st in ("timestamp", "timestamp_ntz") else None


def _us_to_dt(us: int):
    import datetime as _dt

    try:
        return _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=us)
    except OverflowError:
        raise _Unroutable(f"timestamp literal {us} outside datetime range")


def _dt_to_us(d) -> int:
    import datetime as _dt

    return (d - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)


def _floor_unit_us(us: int, unit: str) -> int:
    """Epoch micros -> micros of its unit-aligned floor (calendar floor,
    matching chunk.apply_group_transform / Spark date_trunc in UTC)."""
    import datetime as _dt

    d = _us_to_dt(us)
    if unit == "year":
        f = d.replace(month=1, day=1, hour=0, minute=0, second=0,
                      microsecond=0)
    elif unit == "quarter":
        f = d.replace(month=(d.month - 1) // 3 * 3 + 1, day=1, hour=0,
                      minute=0, second=0, microsecond=0)
    elif unit == "month":
        f = d.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    elif unit == "week":  # Monday
        f = (d - _dt.timedelta(days=d.weekday())).replace(
            hour=0, minute=0, second=0, microsecond=0)
    elif unit == "day":
        f = d.replace(hour=0, minute=0, second=0, microsecond=0)
    elif unit == "hour":
        f = d.replace(minute=0, second=0, microsecond=0)
    elif unit == "minute":
        f = d.replace(second=0, microsecond=0)
    elif unit == "second":
        f = d.replace(microsecond=0)
    elif unit == "millisecond":
        f = d.replace(microsecond=d.microsecond // 1000 * 1000)
    else:  # microsecond
        f = d
    return _dt_to_us(f)


def _next_boundary_us(aligned_us: int, unit: str) -> int:
    """The next unit boundary strictly after an ALIGNED boundary."""
    import datetime as _dt

    d = _us_to_dt(aligned_us)
    if unit == "year":
        nxt = d.replace(year=d.year + 1) if d.year < 9999 else None
    elif unit in ("quarter", "month"):
        step = 3 if unit == "quarter" else 1
        y, m = d.year, d.month + step
        if m > 12:
            y, m = y + 1, m - 12
        nxt = d.replace(year=y, month=m) if y <= 9999 else None
    else:
        delta = {"week": _dt.timedelta(days=7), "day": _dt.timedelta(days=1),
                 "hour": _dt.timedelta(hours=1),
                 "minute": _dt.timedelta(minutes=1),
                 "second": _dt.timedelta(seconds=1),
                 "millisecond": _dt.timedelta(milliseconds=1),
                 "microsecond": _dt.timedelta(microseconds=1)}[unit]
        try:
            nxt = d + delta
        except OverflowError:
            nxt = None
    if nxt is None:
        raise _Unroutable("trunc boundary outside datetime range")
    return _dt_to_us(nxt)


def _trunc_literal_us(e) -> int:
    """Timestamp-typed literal -> epoch micros, for comparisons against a
    date_trunc projection (a date literal would surface as DAYS after the
    cast-unwrap in _literal — reject any non-timestamp type outright)."""
    while _cls(e) == "Cast":
        e = e.child()
    if _cls(e) != "Literal" or e.value() is None:
        raise _Unroutable("non-literal operand against a trunc projection")
    dt = str(e.dataType().simpleString())
    if dt not in ("timestamp", "timestamp_ntz"):
        raise _Unroutable(f"literal type {dt} against a trunc projection")
    return int(str(e.value()))


def _flatten_and(cond) -> list:
    if _cls(cond) == "And":
        return _flatten_and(cond.left()) + _flatten_and(cond.right())
    return [cond]


def _flatten_or(cond) -> list:
    if _cls(cond) == "Or":
        return _flatten_or(cond.left()) + _flatten_or(cond.right())
    return [cond]


def _constraint_to_userform(kind: str, v) -> tuple | str:
    """One OR-branch constraint -> an engine USER predicate form (the
    shapes engine._normalize_spec accepts inside ("or", [...]))."""
    if kind == "eq":
        # float equality -> the inclusive [v, v] range (same Spark-parity
        # reasoning as the AND path: the upper leg excludes NaN)
        return (v, v) if isinstance(v, float) else ("eq", v)
    if kind == "in":
        return ("in", v)
    if kind == "prefix":
        return ("prefix", v)
    if kind in ("contains", "suffix"):
        return (kind, v)
    if kind == "between":
        return (v[0], v[1])
    if kind == "isnull":
        return "isnull"
    if kind == "notnull":
        return "notnull"
    # one-sided float ranges keep None (unbounded) so the kernel skips the
    # missing leg: closing with +-inf would wrongly exclude NaN from a
    # lower bound (Spark: NaN >= v is true; NaN <= +inf is false)
    if kind == "lo":
        return (v, None if isinstance(v, float) else _I64_MAX)
    if kind == "hi":
        return (None if isinstance(v, float) else _I64_MIN, v)
    raise _Unroutable(f"OR branch kind {kind}")


def _leaf_to_constraint(c) -> tuple:
    """One non-AND condition -> ("eq"|"in"|"prefix"|"lo"|"hi"|"isnull"|
    "notnull"|"or", col, value).

    Mirrors datasource.ChunkStoreReader._translate but over analyzed
    Catalyst expressions instead of DS-API filter objects. OR is routable
    when every branch constrains the SAME column (the engine's spec is
    per-column); cross-column OR falls back."""
    name = _cls(c)
    if name == "IsNull":
        return ("isnull", _attr_name(c.child()), None)
    if name == "IsNotNull":
        return ("notnull", _attr_name(c.child()), None)
    if name == "Or":
        branches = _flatten_or(c)
        branch_cons = [[_leaf_to_constraint(leaf)
                        for leaf in _flatten_and(b)] for b in branches]
        # merge single-leaf branches constraining the SAME column into
        # one ("or", col, forms) branch — the engine's native per-column
        # OR spec. `lang='en' OR lang='de'` collapses to one branch (the
        # round-5 same-column path), and `lang='en' OR lang='de' OR
        # n>4000` becomes a TWO-branch cross-column OR whose
        # intersection passes are conflict-free (late round 5)
        by_col: dict[str, list] = {}   # col -> forms (when merging)
        first_con: dict[str, tuple] = {}  # col -> its sole constraint
        col_order: list[str] = []
        rest: list = []
        for bc in branch_cons:
            if len(bc) == 1 and bc[0][0] != "orx":
                k, col, v = bc[0]
                forms = (list(v) if k == "or"
                         else [_constraint_to_userform(k, v)])
                if col not in by_col:
                    by_col[col] = []
                    col_order.append(col)
                    first_con[col] = bc[0]
                else:
                    first_con.pop(col, None)
                by_col[col].extend(forms)
            else:
                rest.append(bc)
        branch_cons = [[first_con.get(col) or ("or", col, by_col[col])]
                       for col in col_order] + rest
        if len(branch_cons) == 1 and not rest:
            return branch_cons[0][0] if col_order[0] in first_con \
                else ("or", col_order[0], by_col[col_order[0]])
        if len(branch_cons) <= 3:
            # cross-column (or multi-leaf-branch) OR of up to three
            # branches: routable via inclusion-exclusion over conjunctive
            # passes — n branch passes, plus every >=2 subset
            # intersection with sign (-1)^(|S|+1) when an additive
            # partial is read (2^n - 1 passes total, which is why n caps
            # at 3) — see _route / _execute_route (round 5)
            for bc in branch_cons:
                for k, _, _v in bc:
                    if k == "orx":
                        raise _Unroutable("nested cross-column OR")
            return ("orx", None, branch_cons)
        raise _Unroutable("cross-column OR beyond three branches")
    if name == "Between":  # RuntimeReplaceable: input BETWEEN lower AND upper
        dcol = _date_proj(c.input())
        if dcol:  # to_date(ts) BETWEEN d1 AND d2 -> exact micros range
            lo, hi = _date_days(c.lower()), _date_days(c.upper())
            return ("between", dcol,
                    (lo * _DAY_US, (hi + 1) * _DAY_US - 1))
        ycol = _year_proj(c.input())
        if ycol:  # year(ts) BETWEEN y1 AND y2 -> exact micros range
            lo, hi = _year_literal(c.lower()), _year_literal(c.upper())
            return ("between", ycol,
                    (_year_start_us(lo), _year_start_us(hi + 1) - 1))
        tproj = _trunc_proj(c.input())
        if tproj:  # trunc(ts) BETWEEN T1 AND T2 -> [ceil(T1), next(floor(T2)))
            tcol, unit = tproj
            t1, t2 = _trunc_literal_us(c.lower()), _trunc_literal_us(c.upper())
            f1 = _floor_unit_us(t1, unit)
            lo = t1 if f1 == t1 else _next_boundary_us(f1, unit)
            hi = _next_boundary_us(_floor_unit_us(t2, unit), unit) - 1
            if lo > hi:
                raise _Unroutable("empty trunc BETWEEN range")
            return ("between", tcol, (lo, hi))
        inp, dom = _unwrap_col(c.input())
        col = _attr_name(inp)
        return ("between", col,
                (_literal(c.lower(), dom), _literal(c.upper(), dom)))
    if name == "EqualTo":
        l, r = c.left(), c.right()
        if not (_is_col(l) or _date_proj(l) or _year_proj(l)
                or _trunc_proj(l)):
            l, r = r, l  # literal = col form
        dcol = _date_proj(l)
        if dcol:  # to_date(ts) = d -> micros in [d*day, (d+1)*day)
            d = _date_days(r)
            return ("between", dcol, (d * _DAY_US, (d + 1) * _DAY_US - 1))
        ycol = _year_proj(l)
        if ycol:  # year(ts) = y -> micros in [Jan1(y), Jan1(y+1))
            y = _year_literal(r)
            return ("between", ycol,
                    (_year_start_us(y), _year_start_us(y + 1) - 1))
        tproj = _trunc_proj(l)
        if tproj:  # trunc(ts) = T (aligned) -> ts in [T, next(T))
            tcol, unit = tproj
            t = _trunc_literal_us(r)
            if _floor_unit_us(t, unit) != t:
                # unaligned literal: Spark matches nothing; the engine has
                # no always-false spec — conservative fallback
                raise _Unroutable("unaligned trunc equality literal")
            return ("between", tcol, (t, _next_boundary_us(t, unit) - 1))
        l, dom = _unwrap_col(l)
        return ("eq", _attr_name(l), _literal(r, dom))
    if name == "In":
        lst = c.list()
        dcol = _date_proj(c.value())
        if dcol:  # to_date(ts) IN (...) -> OR of per-day micros ranges
            forms = []
            for i in range(lst.size()):
                d = _date_days(lst.apply(i))
                forms.append((d * _DAY_US, (d + 1) * _DAY_US - 1))
            return ("or", dcol, forms)
        ycol = _year_proj(c.value())
        if ycol:  # year(ts) IN (...) -> OR of per-year micros ranges
            forms = []
            for i in range(lst.size()):
                y = _year_literal(lst.apply(i))
                forms.append((_year_start_us(y), _year_start_us(y + 1) - 1))
            return ("or", ycol, forms)
        v, dom = _unwrap_col(c.value())
        col = _attr_name(v)
        return ("in", col,
                [_literal(lst.apply(i), dom) for i in range(lst.size())])
    if name == "Like":
        # a custom ESCAPE char changes what the pattern's wildcards MEAN
        # (`'src1!%' ESCAPE '!'` is the literal string "src1%", not a
        # prefix) — routing it as a plain pattern returned wrong rows
        # (live bug found round 5); only the default escape routes, and
        # a default-escape char anywhere in the pattern falls back too
        if str(c.escapeChar()) != "\\":
            raise _Unroutable("LIKE with a custom escape character")
        col = _attr_name(c.left())
        pat = _literal(c.right())
        if (not isinstance(pat, str) or "_" in pat or "\\" in pat):
            raise _Unroutable(f"LIKE pattern {pat!r} is not routable")
        body = pat.strip("%")
        if "%" in body or not body:
            raise _Unroutable(f"LIKE pattern {pat!r} is not routable")
        if pat.startswith("%") and pat.endswith("%"):
            return ("contains", col, body)   # '%x%'
        if pat.endswith("%"):
            return ("prefix", col, body)     # 'x%'
        if pat.startswith("%"):
            return ("suffix", col, body)     # '%x'
        return ("eq", col, body)             # no wildcard: equality
    if name in ("Contains", "StartsWith", "EndsWith"):
        # contains(col, 'x') / startswith / endswith function forms
        kind = {"Contains": "contains", "StartsWith": "prefix",
                "EndsWith": "suffix"}[name]
        v = _literal(c.right())
        if not isinstance(v, str) or not v:
            raise _Unroutable(f"{name} over a non-string or empty literal")
        return (kind, _attr_name(c.left()), v)
    if name in ("GreaterThan", "GreaterThanOrEqual",
                "LessThan", "LessThanOrEqual"):
        l, r = c.left(), c.right()
        flip = not (_is_col(l) or _date_proj(l) or _year_proj(l)
                    or _trunc_proj(l))
        if flip:  # literal <op> col == col <flipped-op> literal
            l, r = r, l
        lower = name.startswith("Greater") ^ flip
        strict = name in ("GreaterThan", "LessThan")
        dcol = _date_proj(l)
        if dcol:
            # day-projection bound -> exact micros bound: to_date(ts) > d
            # iff ts >= (d+1)*day; >= d iff ts >= d*day; < d iff
            # ts <= d*day - 1; <= d iff ts <= (d+1)*day - 1
            d = _date_days(r)
            if lower:
                return ("lo", dcol, (d + 1) * _DAY_US if strict
                        else d * _DAY_US)
            return ("hi", dcol, d * _DAY_US - 1 if strict
                    else (d + 1) * _DAY_US - 1)
        ycol = _year_proj(l)
        if ycol:  # same bound algebra in year units
            y = _year_literal(r)
            if lower:
                return ("lo", ycol, _year_start_us(y + 1) if strict
                        else _year_start_us(y))
            return ("hi", ycol, _year_start_us(y) - 1 if strict
                    else _year_start_us(y + 1) - 1)
        tproj = _trunc_proj(l)
        if tproj:
            # monotone trunc bounds: >= T -> ts >= ceil(T); > T -> ts >=
            # next-after(T); < T -> ts < ceil(T); <= T -> ts < next-after(T)
            tcol, unit = tproj
            t = _trunc_literal_us(r)
            f = _floor_unit_us(t, unit)
            ceil = t if f == t else _next_boundary_us(f, unit)
            nxt_after = _next_boundary_us(f, unit)
            if lower:
                return ("lo", tcol, nxt_after if strict else ceil)
            return ("hi", tcol, ceil - 1 if strict else nxt_after - 1)
        l, dom = _unwrap_col(l)
        col, v = _attr_name(l), _literal(r, dom)
        if isinstance(v, float):
            if name in ("GreaterThan", "LessThan"):
                # strict float bound -> inclusive via nextafter (round 5):
                # doubles are discrete, so x > v == x >= nextafter(v, inf)
                # exactly, and float32 columns compare promoted to float64
                # (Spark semantics) so the same bound is exact for them.
                # NaN parity holds: the engine's lower leg explicitly ORs
                # is_nan (NaN > v is TRUE in Spark) and the upper leg
                # excludes NaN. Infinite literals stay unroutable (x > inf
                # must keep NaN but drop +inf; one inclusive bound cannot).
                if math.isinf(v):
                    raise _Unroutable("strict bound at +-inf")
                v = math.nextafter(v, math.inf if lower else -math.inf)
            return ("lo" if lower else "hi", col, v)
        if name in ("GreaterThan", "LessThan"):
            v = v + 1 if lower else v - 1
            if not _I64_MIN <= v <= _I64_MAX:
                raise _Unroutable("strict bound overflows int64")
        return ("lo" if lower else "hi", col, v)
    raise _Unroutable(f"condition {name}")


def _constraints_to_predicates(constraints: list) -> dict:
    """Merge per-column constraints into engine predicate specs;
    conflicting constraints on one column are unroutable (the engine
    takes ONE spec per column), never silently dropped. Two mergers are
    exact and applied (round 5): ANDed INT-domain bounds intersect
    (``ts > a AND ts <= b AND year(ts) = y`` -> one range via
    lo=max/hi=min; a contradictory intersection is the empty range,
    which the zone maps prove matches nothing), and ``IS NOT NULL``
    alongside any value constraint is dropped (SQL comparisons never
    match null, so the value spec already implies it — the engine's
    specs share that semantics). Float bounds keep the conservative
    fallback: an absent float leg is meaningful (NaN ordering), so
    intersecting them is not a plain max/min."""
    by_col: dict[str, dict] = {}
    for kind, col, v in constraints:
        if kind == "orx":
            # cross-column OR is not a per-column spec; only the ungrouped
            # Aggregate path routes it (inclusion-exclusion), and it splits
            # these out BEFORE calling here — any other caller falls back
            raise _Unroutable("cross-column OR here")
        slot = by_col.setdefault(col, {})
        if kind in ("or", "isnull", "notnull"):
            # null/OR specs must otherwise be the column's only constraint
            # (merging e.g. a range into an OR is not expressible)
            if kind == "notnull" and slot \
                    and not set(slot) & {"or", "isnull", "notnull"}:
                continue  # value constraints already imply NOT NULL
            if slot:
                raise _Unroutable(f"multiple constraints on column {col!r}")
            slot[kind] = v
            continue
        if set(slot) == {"notnull"}:
            slot.pop("notnull")  # subsumed by the incoming value spec
        if kind == "between":
            kind_pairs = (("lo", v[0]), ("hi", v[1]))
        else:
            kind_pairs = ((kind, v),)
        for k, val in kind_pairs:
            if k in ("lo", "hi") and k in slot \
                    and type(val) is int and type(slot[k]) is int:
                # exact intersection of ANDed int-domain bounds
                slot[k] = (max(slot[k], val) if k == "lo"
                           else min(slot[k], val))
                continue
            if k in slot \
                    or (k in ("eq", "in", "prefix", "contains", "suffix")
                        and slot) \
                    or (k in ("lo", "hi") and not set(slot) <= {"lo", "hi"}) \
                    or set(slot) & {"or", "isnull", "notnull"}:
                raise _Unroutable(f"multiple constraints on column {col!r}")
            slot[k] = val
    preds: dict[str, tuple] = {}
    for col, slot in by_col.items():
        if "or" in slot:
            preds[col] = ("or", slot["or"])
        elif "isnull" in slot:
            preds[col] = "isnull"
        elif "notnull" in slot:
            preds[col] = "notnull"
        elif "eq" in slot:
            v = slot["eq"]
            if isinstance(v, float):
                # float equality == the inclusive range [v, v] (round 5):
                # the kernel's upper leg excludes NaN (Spark: NaN = v is
                # false) and +-inf compare exactly; a NaN literal makes
                # the engine refuse the bound -> clean fallback
                preds[col] = (v, v)
            else:
                preds[col] = ("eq", v)
        elif "in" in slot:
            preds[col] = ("in", slot["in"])
        elif "prefix" in slot:
            preds[col] = ("prefix", slot["prefix"])
        elif "contains" in slot:
            preds[col] = ("contains", slot["contains"])
        elif "suffix" in slot:
            preds[col] = ("suffix", slot["suffix"])
        else:
            lo, hi = slot.get("lo"), slot.get("hi")
            if isinstance(lo, float) or isinstance(hi, float):
                # an ABSENT float side must stay None (unbounded), not be
                # closed with +-inf: the kernel's `<= hi` leg excludes NaN
                # even at hi=+inf, while Spark's one-sided `value >= v`
                # keeps NaN (NaN sorts above +inf) — None skips the leg
                # entirely, matching Spark (round-5 fix)
                preds[col] = (lo, hi)
            else:
                preds[col] = (_I64_MIN if lo is None else lo,
                              _I64_MAX if hi is None else hi)
    return preds


def _parse_agg_fn(named) -> tuple[str, tuple]:
    """Alias(AggregateExpression(fn)) -> (alias, engine agg spec).

    ``COUNT(DISTINCT col)`` parses to ``("cntd", col)`` (round 5): it
    routes through the composite group kernel — the distinct column joins
    the GROUP BY dimensions, and the finishing aggregation counts the
    distinct non-null VALUES over the combo rows (SQL: count distinct
    excludes NULL). ``COUNT(DISTINCT <whitelisted expr>)`` parses to
    ``("cntde", sql, srcs)`` — the raw sources join the dimensions and
    the rebuilt expression evaluates per combo row."""
    if _cls(named) != "Alias":
        raise _Unroutable(f"unaliased select item {named.sql()}")
    alias = str(named.name())
    ae = named.child()
    if _cls(ae) != "AggregateExpression":
        raise _Unroutable(f"select item {named.sql()}")
    return alias, _agg_spec_of(ae)


def _agg_spec_of(ae) -> tuple:
    """AggregateExpression -> engine agg spec tuple (shared by plain
    select items and aggregates embedded in arithmetic expressions)."""
    if ae.filter().isDefined():
        # count(*) FILTER (WHERE ...) — the per-aggregate filter is NOT
        # part of the spec; routing without it silently drops the
        # condition (live bug found round 5: the filtered count returned
        # the unfiltered total). Plain select items route through
        # _parse_filtered_agg instead; everywhere else falls back.
        raise _Unroutable("FILTER clause on an aggregate")
    return _agg_spec_core(ae)


def _parse_filtered_agg(e) -> tuple[str, tuple, list]:
    """Alias(AggregateExpression with a FILTER clause) ->
    (alias, inner engine spec, filter constraints). The filter condition
    references STORE columns (never aggregate outputs), so it parses
    with the same constraint machinery as WHERE; at execution the
    aggregate runs as its own predicate pass (statement WHERE AND the
    filter), composed back onto the base group frame."""
    if _cls(e) != "Alias":
        raise _Unroutable(f"unaliased select item {e.sql()}")
    alias = str(e.name())
    ae = e.child()
    cons = [_leaf_to_constraint(leaf)
            for leaf in _flatten_and(ae.filter().get())]
    if any(c[0] == "orx" for c in cons):
        raise _Unroutable("cross-column OR inside a FILTER clause")
    inner = _agg_spec_core(ae)
    if inner[0] in ("cntd", "cntde", "pctl"):
        raise _Unroutable(f"FILTER clause on a {inner[0]} aggregate")
    return alias, inner, cons


def _agg_spec_core(ae) -> tuple:
    if ae.isDistinct():
        fn = ae.aggregateFunction()
        args = fn.children()
        if _cls(fn) == "Count" and args.size() == 1:
            arg = args.apply(0)
            try:
                return ("cntd", _attr_name(arg))
            except _Unroutable:
                # COUNT(DISTINCT <whitelisted expr>) — "distinct hosts":
                # the expression's RAW source columns join the kernel
                # dimensions; the finishing count_distinct runs the
                # rebuilt expression over the O(combos) rows
                srcs: list[str] = []
                sql = _sqlexpr_build(arg, srcs)
                if not srcs:
                    raise _Unroutable("count(distinct) reads no column")
                return ("cntde", sql, tuple(srcs))
        raise _Unroutable(f"distinct aggregate {_cls(fn)}")
    fn = ae.aggregateFunction()
    args = fn.children()
    if _cls(fn) == "Median":
        # exact median = percentile at 0.5 (Spark's own lowering)
        return ("pctl", _attr_name(args.apply(0)), 0.5)
    if _cls(fn) == "Percentile":
        # exact percentile: (col, percentage, frequency); only the
        # scalar-double shape with the default frequency 1 routes — an
        # ARRAY of percentages changes the output type and a frequency
        # column weights rows the combo pass cannot see
        if str(fn.dataType().simpleString()) != "double":
            raise _Unroutable("percentile with an array of percentages")
        if args.size() != 3:
            raise _Unroutable(f"percentile arity {args.size()}")
        freq = args.apply(2)
        if _cls(freq) != "Literal" or str(freq.value()) != "1":
            raise _Unroutable("percentile with a frequency argument")
        pe = args.apply(1)
        while _cls(pe) == "Cast":
            pe = pe.child()
        if _cls(pe) != "Literal" or pe.value() is None:
            raise _Unroutable("non-literal percentile percentage")
        p = float(str(pe.value()))
        if not 0.0 <= p <= 1.0:
            raise _Unroutable("percentile percentage out of [0, 1]")
        return ("pctl", _attr_name(args.apply(0)), p)
    head = _AGG_FNS.get(_cls(fn))
    if head is None:
        raise _Unroutable(f"aggregate {_cls(fn)}")
    if head == "count":
        if args.size() == 1 and _cls(args.apply(0)) == "Literal" \
                and str(args.apply(0).value()) == "1":
            return ("count",)
        if args.size() == 1 \
                and _cls(args.apply(0)) == "AttributeReference":
            # COUNT(col) = non-null count (round 5): commit records and
            # chunk metas carry per-column null totals, so this routes
            # for ANY stored type without decoding the column's values
            return ("nncount", str(args.apply(0).name()))
        raise _Unroutable("count over an expression")
    if args.size() != 1:
        raise _Unroutable("multi-arg aggregate")
    return (head, _attr_name(args.apply(0)))


_EXPR_BINOPS = {"Add": "+", "Subtract": "-", "Multiply": "*",
                "Divide": "/", "Remainder": "%",
                # max(ts) - min(ts): the activity-span audit. The rebuilt
                # Column `-` over the routed (epoch-cast-back) timestamp
                # outputs re-analyzes to the same SubtractTimestamps the
                # fallback evaluates, so the day-time-interval result is
                # value- and type-identical; interval LITERALS anywhere
                # in the statement stay unroutable (_literal/_elit reject
                # them), so no partially-routed interval math exists
                "SubtractTimestamps": "-"}

# Deterministic scalar functions allowed OVER aggregate outputs in SELECT
# expressions and HAVING operands (late round 5): ``round(avg(x), 1)``,
# ``abs(sum(x))``, ``coalesce(sum(x), 0)``, ``greatest(sum(a), sum(b))``.
# The executor re-emits the SAME Spark function over the routed outputs
# with the analyzer's casts preserved, so semantics (HALF_UP rounding,
# IEEE math, null handling) are Spark's own, never a reimplementation.
# Catalyst class -> (pyspark.sql.functions name, min arity, max arity).
_EXPR_SCALAR_FNS = {
    "Abs": ("abs", 1, 1), "Sqrt": ("sqrt", 1, 1), "Exp": ("exp", 1, 1),
    "Log": ("log", 1, 1), "Log10": ("log10", 1, 1), "Log2": ("log2", 1, 1),
    "Signum": ("signum", 1, 1), "Floor": ("floor", 1, 1),
    "Ceil": ("ceil", 1, 1), "Pow": ("pow", 2, 2),
    # round/bround: the scale operand must be a plain int literal (the
    # pyspark builders take a Python int, and a dynamic scale would not
    # be the analyzer's shape anyway)
    "Round": ("round", 2, 2), "BRound": ("bround", 2, 2),
    "Greatest": ("greatest", 2, None), "Least": ("least", 2, None),
    "Coalesce": ("coalesce", 1, None),
}


def _fn_spec(e, operand) -> list:
    """Whitelisted scalar function over aggregate operands -> ["fn",
    pyspark-name, [child specs]]; ``operand`` parses each child (SELECT
    expressions use :func:`_expr_spec`, HAVING uses
    :func:`_arith_operand`)."""
    pyfn, lo, hi = _EXPR_SCALAR_FNS[_cls(e)]
    ch = e.children()
    n = ch.size()
    if n < lo or (hi is not None and n > hi):
        raise _Unroutable(f"{_cls(e)} arity {n}")
    kids = [operand(ch.apply(i)) for i in range(n)]
    if pyfn in ("round", "bround") and not (
            kids[1][0] == "elit"
            and kids[1][1] in ("tinyint", "smallint", "int", "bigint")):
        raise _Unroutable(f"non-literal {pyfn} scale")
    return ["fn", pyfn, kids]


def _elit(e) -> list:
    """Literal inside a SELECT arithmetic expression -> ["elit", type,
    value], preserving the literal's OWN analyzed type so the rebuilt
    expression re-coerces exactly as the original (``count(*) * 0.5``
    is decimal math, not double math — decimals round-trip through their
    exact string form and rebuild via a string cast)."""
    if _cls(e) != "Literal":
        raise _Unroutable(f"expression operand {e.sql()}")
    v = e.value()
    if v is None:
        raise _Unroutable("null literal in expression")
    dt = str(e.dataType().simpleString())
    if dt == "string":
        return ["elit", dt, str(v)]
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return ["elit", dt, int(str(v))]
    if dt in ("float", "double"):
        return ["elit", dt, float(str(v))]
    if dt.startswith("decimal("):
        return ["elit", dt, str(v)]  # exact digits; rebuilt via str cast
    raise _Unroutable(f"expression literal type {dt}")


def _expr_spec(e, aggs: dict, hidden: list, join: dict | None = None) -> list:
    """SELECT item expression over aggregates -> a JSON-safe spec tree
    (round 5): arithmetic (+ - * / %), unary minus, and the analyzer's
    inserted Casts over AggregateExpressions and typed literals. Each
    embedded aggregate registers as a HIDDEN routed output (aliases
    ``_hx0``, ``_hx1``, ... appended to ``hidden``), reused when an
    identical spec is already routed, so ``sum(n)/count(*)`` computes
    the kernel partials once. The executor rebuilds the tree as Column
    arithmetic over the routed outputs — same operand types, same
    coercion, value-identical to the fallback plan. In a JOINED
    statement (``join`` given), an embedded aggregate whose references
    all sit on the DIM side registers as a hidden dim-agg slot instead
    (cnt-weighted re-derivation), so ``sum(s.n)/sum(d.w)`` and
    ``sum(d.w)*2`` route; one aggregate mixing the sides falls back."""
    name = _cls(e)
    if name == "Cast":
        return ["cast", str(e.dataType().simpleString()),
                _expr_spec(e.child(), aggs, hidden, join)]
    if name == "AggregateExpression":
        if join is not None:
            refs = _ref_ids(e)
            if refs and refs <= set(join["dim_ids"]):
                dspec = _dim_agg_spec(e, join)
                dim_aggs = join.setdefault("dim_aggs", {})
                for a, s in dim_aggs.items():
                    if s == dspec:
                        return ["col", a]
                a = f"_hx{len(hidden)}"
                if a in aggs or a in dim_aggs:
                    raise _Unroutable(
                        f"alias {a!r} collides with a hidden slot")
                dim_aggs[a] = dspec
                hidden.append(a)
                return ["col", a]
            if refs and not refs <= set(join["store_ids"]):
                raise _Unroutable(
                    "aggregate operand mixes the two join sides")
        spec = _agg_spec_of(e)
        for a, s in aggs.items():
            if s == spec:
                return ["col", a]
        a = f"_hx{len(hidden)}"
        if a in aggs or (join is not None
                         and a in (join.get("dim_aggs") or {})):
            raise _Unroutable(f"alias {a!r} collides with a hidden slot")
        aggs[a] = spec
        hidden.append(a)
        return ["col", a]
    if name in _EXPR_BINOPS:
        return ["bin", _EXPR_BINOPS[name],
                _expr_spec(e.left(), aggs, hidden, join),
                _expr_spec(e.right(), aggs, hidden, join)]
    if name == "UnaryMinus":
        return ["neg", _expr_spec(e.child(), aggs, hidden, join)]
    if name in _EXPR_SCALAR_FNS:
        return _fn_spec(e, lambda c: _expr_spec(c, aggs, hidden, join))
    if name in ("If", "CaseWhen"):
        return _branch_spec(e, lambda c: _expr_spec(c, aggs, hidden, join))
    return _elit(e)


def _branch_spec(e, operand) -> list:
    """IF / CASE WHEN over aggregate outputs -> ["if", cond, then, else]
    | ["case", [[cond, value], ...], else|None] (late round 5: the
    classification report ``CASE WHEN count(*) > 100 THEN 'hot' ELSE
    'cold' END``). Conditions share the HAVING condition grammar;
    branch values share the expression operand grammar. The executor
    rebuilds via F.when/otherwise — Spark's own CaseWhen evaluation."""
    if _cls(e) == "If":
        ch = e.children()
        return ["if", _cond_spec(ch.apply(0), operand),
                operand(ch.apply(1)), operand(ch.apply(2))]
    br = e.branches()
    branches = [[_cond_spec(br.apply(i)._1(), operand),
                 operand(br.apply(i)._2())] for i in range(br.size())]
    ev = e.elseValue()
    els = operand(ev.get()) if ev.isDefined() else None
    return ["case", branches, els]


def _expr_col(spec: list, df: DataFrame):
    """Rebuild an expression spec tree as a Column over the routed
    aggregate outputs."""
    k = spec[0]
    if k == "bin":
        lc, rc = _expr_col(spec[2], df), _expr_col(spec[3], df)
        return {"+": lc + rc, "-": lc - rc, "*": lc * rc,
                "/": lc / rc, "%": lc % rc}[spec[1]]
    if k == "band":
        return _expr_col(spec[1], df).bitwiseAND(_expr_col(spec[2], df))
    if k == "shr":
        # the parse guaranteed a literal shift amount
        return F.shiftright(_expr_col(spec[1], df), int(spec[2][2]))
    if k == "neg":
        return -_expr_col(spec[1], df)
    if k == "fn":
        pyfn, kids = spec[1], spec[2]
        cols = [_expr_col(s, df) for s in kids]
        if pyfn in ("round", "bround"):
            # the parse guaranteed an int-literal scale
            return getattr(F, pyfn)(cols[0], int(kids[1][2]))
        return getattr(F, pyfn)(*cols)
    if k == "if":
        return F.when(_having_col(spec[1], df),
                      _expr_col(spec[2], df)) \
                .otherwise(_expr_col(spec[3], df))
    if k == "case":
        col = None
        for cond, val in spec[1]:
            c, v = _having_col(cond, df), _expr_col(val, df)
            col = F.when(c, v) if col is None else col.when(c, v)
        if spec[2] is not None:
            col = col.otherwise(_expr_col(spec[2], df))
        return col
    if k == "cast":
        return _expr_col(spec[2], df).cast(spec[1])
    if k == "col":
        return df[spec[1]]
    _, dt, v = spec  # elit
    if dt == "string":
        return F.lit(v)
    if dt.startswith("decimal("):
        # exact: string->decimal cast carries every digit (a double
        # round-trip could perturb >15-significant-digit literals)
        return F.expr(f"CAST('{v}' AS {dt})")
    return F.lit(v).cast(dt)


def _expr_refs(spec: list) -> set:
    """Routed-output aliases an expression spec reads."""
    k = spec[0]
    if k in ("bin", "band", "shr"):
        return _expr_refs(spec[-2]) | _expr_refs(spec[-1])
    if k in ("neg", "cast"):
        return _expr_refs(spec[-1])
    if k == "fn":
        out: set = set()
        for s in spec[2]:
            out |= _expr_refs(s)
        return out
    if k == "if":
        return (_having_col_refs(spec[1]) | _expr_refs(spec[2])
                | _expr_refs(spec[3]))
    if k == "case":
        out = set()
        for cond, val in spec[1]:
            out |= _having_col_refs(cond) | _expr_refs(val)
        if spec[2] is not None:
            out |= _expr_refs(spec[2])
        return out
    return {spec[1]} if k == "col" else set()


def _augmented_out(r: dict) -> list:
    """out_cols with expression entries replaced by the hidden aggregate
    outputs they read — the entry list the finishing selects compute
    BEFORE :func:`_expr_finish` rebuilds the expressions. Group-key
    expressions ("gexpr") are excluded too: the finishing selects append
    them directly (they must evaluate while the group columns are still
    in the frame)."""
    return ([e for e in r["out_cols"] if e[1] not in ("expr", "gexpr")]
            + [(a, "agg", None) for a in (r.get("hidden") or [])])


def _expr_finish(df: DataFrame, r: dict) -> DataFrame:
    """Evaluate expression outputs over the routed aggregates and select
    the visible schema in its declared order (dropping hidden slots).
    Group-key expressions were already computed by the finishing select
    (appended last) — the declared-order select here puts them back in
    SELECT position."""
    exprs = [e for e in r["out_cols"] if e[1] == "expr"]
    if not exprs and not any(e[1] == "gexpr" for e in r["out_cols"]):
        return df
    for name, _, spec in exprs:
        df = df.withColumn(name, _expr_col(spec, df))
    return df.select(*[F.col(n) for n, _, _ in r["out_cols"]])


def _store_view(node, stores) -> str:
    """SubqueryAlias chain -> registered store view name, verified against
    the RELATION ITSELF, not the alias text (late round 5 fix): the old
    top-alias name check routed ``FROM other AS docs`` to store ``docs``
    — the alias shadows the view name in SQL scope, so Spark read
    ``other`` while the route read the store: silently wrong rows. Now
    the aliases are peeled and the node underneath must be the flowforge
    Data Source relation whose ``path`` option is one of the caller's
    registered store directories; the matching view name is returned.
    This also ROUTES aliased stores (``FROM docs d``), which previously
    fell back on the alias/view name mismatch."""
    while _cls(node) == "SubqueryAlias":
        node = node.child()
    if _cls(node) == "View":
        node = node.child()
    if _cls(node) != "DataSourceV2Relation":
        raise _Unroutable(f"relation {_cls(node)}")
    try:
        if str(node.table().name()) != datasource.ChunkStoreDataSource.name():
            raise _Unroutable(
                f"relation is a {node.table().name()} table, not a store")
        path = node.options().get("path")
    except _Unroutable:
        raise
    except Exception as e:  # pragma: no cover - defensive py4j surface
        raise _Unroutable(f"unreadable relation identity: {e}")
    for view, out_dir in stores.items():
        if out_dir == path:
            return view
    raise _Unroutable(f"relation path {path!r} is not a registered store")


def _pure_project_child(node):
    """Child of a Project that only re-selects store columns under their
    own names (pure column pruning — ``FROM (SELECT n_chars FROM docs
    WHERE ...)``); None when the node is not such a projection. Renames
    and expressions stay unroutable here: the walk resolves columns by
    NAME, and a renamed column would silently bind to the wrong store
    column (or none)."""
    if _cls(node) != "Project":
        return None
    pl = node.projectList()
    for i in range(pl.size()):
        if _cls(pl.apply(i)) != "AttributeReference":
            return None
    return node.child()


def _filter_and_relation(node, stores) -> tuple[list, str]:
    """[Filter | SubqueryAlias | pure Project]* chain under an
    Aggregate/Distinct root -> (constraints, view name). Filters at any
    depth are WHERE conjuncts over store columns (filters commute with
    pure column-pruning projections, so a projected subquery's inner
    WHERE collects exactly like a top-level one)."""
    constraints: list = []
    while True:
        c = _cls(node)
        if c == "Filter":
            for leaf in _flatten_and(node.condition()):
                constraints.append(_leaf_to_constraint(leaf))
            node = node.child()
            continue
        if c == "SubqueryAlias":
            node = node.child()
            continue
        ch = _pure_project_child(node)
        if ch is not None:
            node = ch
            continue
        break
    return constraints, _store_view(node, stores)


class _PlanHandle:
    """Holds the dim side's ANALYZED logical plan for a routed join.
    Wrapped so ``json.dumps(route, default=str)`` in --explain prints a
    one-line tag instead of the full multi-line plan tree."""

    def __init__(self, jplan, n_cols: int):
        self.jplan = jplan
        self.n_cols = n_cols

    def __str__(self) -> str:  # pragma: no cover - cosmetic
        return f"<analyzed dim subplan ({self.n_cols} cols)>"

    __repr__ = __str__


def _ref_ids(e) -> set[int]:
    """exprIds of every attribute an expression references."""
    refs = e.references().toSeq()
    return {int(refs.apply(i).exprId().id()) for i in range(refs.size())}


def _out_map(plan) -> dict[int, tuple[str, int]]:
    """plan output -> {exprId: (name, position)} (py4j Seq order)."""
    out = plan.output()
    return {int(out.apply(i).exprId().id()): (str(out.apply(i).name()), i)
            for i in range(out.size())}


def _contains_store_relation(node) -> bool:
    """True if any flowforge Data Source relation sits in the subtree."""
    if _cls(node) == "DataSourceV2Relation":
        try:
            return str(node.table().name()) \
                == datasource.ChunkStoreDataSource.name()
        except Exception:  # pragma: no cover - defensive py4j surface
            return True
    ch = node.children()
    return any(_contains_store_relation(ch.apply(i))
               for i in range(ch.size()))


def _try_store_view(node, stores) -> str | None:
    try:
        return _store_view(node, stores)
    except _Unroutable:
        return None


def _parse_join(node, stores) -> tuple[dict, str]:
    """Inner equi-join of ONE registered store with a small dim subplan ->
    (join description, store view name). The dim side may be any analyzed
    subplan that contains no chunk store (a plain view, a VALUES inline
    table, a filtered/projected subquery — it re-materializes via
    ``Dataset.ofRows`` at execution and is broadcast, so it must be
    small); sides are told apart by exprId, never by column NAME, because
    the natural join spelling ``ON s.lang = d.lang`` has the same name on
    both sides."""
    jt = str(node.joinType().sql())
    if jt not in ("INNER", "LEFT OUTER", "RIGHT OUTER"):
        raise _Unroutable(f"{jt} join")
    if node.condition().isEmpty():
        raise _Unroutable("join without a condition")
    left, right = node.left(), node.right()
    lview = _try_store_view(left, stores)
    rview = _try_store_view(right, stores)
    if lview is not None and rview is not None:
        raise _Unroutable("join of two stores")
    if lview is None and rview is None:
        raise _Unroutable("join without a store side")
    store_side, dim_side = (left, right) if lview else (right, left)
    view = lview if lview is not None else rview
    # outer joins route only when the STORE side is the preserved one
    # (the enrichment join: unmatched store groups keep NULL dim
    # columns). A dim-preserving outer join would emit one bare row per
    # unmatched dim key — not a partial composition.
    if (jt == "LEFT OUTER" and lview is None) \
            or (jt == "RIGHT OUTER" and rview is None):
        raise _Unroutable("dim-preserving outer join")
    if _contains_store_relation(dim_side):
        # a store nested in the dim subplan would re-materialize fully
        # into the broadcast — never the plan to route to
        raise _Unroutable("chunk store inside the dim side of a join")
    store_ids = _out_map(store_side)
    dim_ids = _out_map(dim_side)
    pairs: list[tuple[str, int]] = []  # (store column, dim position)
    for leaf in _flatten_and(node.condition().get()):
        if _cls(leaf) != "EqualTo":
            raise _Unroutable(f"join condition {_cls(leaf)}")
        a, b = leaf.children().apply(0), leaf.children().apply(1)
        if _cls(a) != "AttributeReference" \
                or _cls(b) != "AttributeReference":
            # a Cast here means the key types differ — the kernel's group
            # values carry the store column's own type, so only same-type
            # plain-column equalities route
            raise _Unroutable("join keys must be plain same-type columns")
        aid, bid = int(a.exprId().id()), int(b.exprId().id())
        if aid in store_ids and bid in dim_ids:
            pairs.append((store_ids[aid][0], dim_ids[bid][1]))
        elif bid in store_ids and aid in dim_ids:
            pairs.append((store_ids[bid][0], dim_ids[aid][1]))
        else:
            raise _Unroutable("join equality not across the two sides")
    return {"view": view, "plan": _PlanHandle(dim_side, len(dim_ids)),
            "store_ids": store_ids, "dim_ids": dim_ids,
            "pairs": pairs, "n_dim": len(dim_ids),
            "outer": jt != "INNER"}, view


def _parse_dim_agg(e, join: dict) -> str:
    """Alias(AggregateExpression) whose references all sit on the DIM side
    -> register ``join["dim_aggs"][alias] = (fn, dim position, output type
    SQL)`` and return the alias. Routable fns: sum/min/max/avg over a
    plain dim column and count(col); the value re-derives in the
    post-broadcast finishing from the partial counts (each matched
    (partial, dim-row) pair stands for cnt store rows). Decimal outputs
    fall back: Spark's decimal sum/avg carry exact scale arithmetic the
    cnt-weighted rebuild does not reproduce."""
    if _cls(e) != "Alias":
        raise _Unroutable(f"unaliased select item {e.sql()}")
    alias = str(e.name())
    if alias.startswith("__"):
        raise _Unroutable(f"output alias {alias!r} collides with a "
                          "kernel-internal name")
    spec = _dim_agg_spec(e.child(), join)
    dim_aggs = join.setdefault("dim_aggs", {})
    if alias in dim_aggs:
        raise _Unroutable(f"duplicate output alias {alias!r}")
    dim_aggs[alias] = spec
    return alias


def _dim_agg_spec(ae, join: dict) -> tuple:
    """AggregateExpression over the dim side -> (fn, dim position, output
    type SQL) — the validation shared by plain dim-agg select items and
    dim aggregates embedded in arithmetic expressions."""
    if ae.isDistinct():
        raise _Unroutable("distinct aggregate over the dim side of a join")
    if ae.filter().isDefined():
        raise _Unroutable("FILTER clause on a dim-side aggregate")
    fn = ae.aggregateFunction()
    head = _AGG_FNS.get(_cls(fn))
    if head is None:
        raise _Unroutable(f"aggregate {_cls(fn)} over the dim side")
    args = fn.children()
    if args.size() != 1 or _cls(args.apply(0)) != "AttributeReference":
        raise _Unroutable(
            "dim-side aggregate over an expression in a joined statement")
    aid = int(args.apply(0).exprId().id())
    if aid not in join["dim_ids"]:
        raise _Unroutable("dim-side aggregate argument not a dim output")
    pos = join["dim_ids"][aid][1]
    head = "nncount" if head == "count" else head
    dt = str(ae.dataType().sql())
    if dt.upper().startswith("DECIMAL"):
        raise _Unroutable("decimal aggregate over the dim side of a join")
    return (head, pos, dt)


def _filter_join_relation(node, stores) -> tuple[list, str, dict | None]:
    """[Filter] -> Join | alias chain -> (constraints, view, join|None).

    With a Join under the WHERE, every AND leaf must constrain the STORE
    side only: store-side conjuncts push down as usual; a conjunct
    touching the dim side falls back (phrase it inside the dim view /
    subquery instead — for an INNER join the result is the same)."""
    fcond = None
    if _cls(node) == "Filter":
        fcond = node.condition()
        node = node.child()
    if _cls(node) != "Join":
        constraints = ([_leaf_to_constraint(leaf)
                        for leaf in _flatten_and(fcond)]
                       if fcond is not None else [])
        # _filter_and_relation also peels pure-projection subqueries
        # (FROM (SELECT cols FROM docs WHERE ...)) and collects their
        # inner WHERE conjuncts
        inner_cons, view = _filter_and_relation(node, stores)
        return constraints + inner_cons, view, None
    join, view = _parse_join(node, stores)
    constraints = []
    if fcond is not None:
        dim_idset = set(join["dim_ids"])
        store_idset = set(join["store_ids"])
        dim_leaves = []
        for leaf in _flatten_and(fcond):
            refs = _ref_ids(leaf)
            if refs and refs <= dim_idset:
                # a conjunct over dim columns ONLY pushes INTO the dim
                # subplan before the broadcast — for an INNER join,
                # filter-then-join equals join-then-filter exactly
                # (deterministic predicates only: a nondeterministic one
                # would evaluate once per dim row instead of once per
                # matched output row)
                if join.get("outer"):
                    # under a store-preserving outer join, a post-join
                    # dim predicate also eliminates the NULL-extended
                    # unmatched rows — not the same as filtering the
                    # broadcast (phrase it inside the dim subquery for
                    # that meaning)
                    raise _Unroutable(
                        "dim-side WHERE under an outer join")
                if not leaf.deterministic():
                    raise _Unroutable(
                        "nondeterministic dim-side WHERE in a joined "
                        "statement")
                dim_leaves.append(leaf)
                continue
            if refs & dim_idset:
                raise _Unroutable(
                    "WHERE mixes the store and dim sides of a joined "
                    "statement in one conjunct")
            if not refs & store_idset:
                raise _Unroutable(
                    "WHERE conjunct references neither join side")
            constraints.append(_leaf_to_constraint(leaf))
        if dim_leaves:
            join["plan"] = _filtered_plan(join["plan"], dim_leaves)
    return constraints, view, join


def _filtered_plan(handle: _PlanHandle, leaves: list) -> _PlanHandle:
    """Wrap the dim subplan in a Catalyst Filter over the ANDed analyzed
    conjuncts (exprIds already bound to the plan's own output), so the
    broadcast carries only the surviving dim rows."""
    from pyspark.sql import SparkSession
    jvm = SparkSession.getActiveSession()._jvm
    cond = leaves[0]
    for leaf in leaves[1:]:
        cond = jvm.org.apache.spark.sql.catalyst.expressions.And(cond, leaf)
    jplan = jvm.org.apache.spark.sql.catalyst.plans.logical.Filter(
        cond, handle.jplan)
    return _PlanHandle(jplan, handle.n_cols)


def _route_topk(analyzed, stores: dict[str, str]) -> dict:
    """GlobalLimit(LocalLimit(Sort(Project(SubqueryAlias)))) ->
    engine.topk_table routing. Requires exactly (order_col [ASC|DESC],
    tie_col ASC) sort keys over plain columns, a plain-column projection,
    no WHERE, and an order column with zero nulls in the store (checked
    against the commit records — topk_table excludes null order values,
    so Spark's NULLS FIRST/LAST placement must be moot for parity)."""
    k_expr = analyzed.limitExpr()
    if _cls(k_expr) != "Literal":
        raise _Unroutable("non-literal LIMIT")
    k = int(str(k_expr.value()))
    node = analyzed.child()
    if _cls(node) != "LocalLimit":
        raise _Unroutable("limit without local limit")
    node = node.child()
    if _cls(node) != "Sort":
        raise _Unroutable("LIMIT without ORDER BY")
    so = node.order()
    if so.size() != 2:
        raise _Unroutable("top-k needs exactly (order, tie) sort keys")
    order_key, tie_key = so.apply(0), so.apply(1)
    order_col = _attr_name(order_key.child())
    tie_col = _attr_name(tie_key.child())
    if str(tie_key.direction().sql()) != "ASC":
        raise _Unroutable("tie key must be ASC")
    descending = str(order_key.direction().sql()) == "DESC"
    node = node.child()
    if _cls(node) != "Project":
        raise _Unroutable(f"top-k over {_cls(node)}")
    pl = node.projectList()
    use_cols = [_attr_name(pl.apply(i)) for i in range(pl.size())]
    constraints, view = _filter_and_relation(node.child(), stores)
    predicates = _constraints_to_predicates(constraints)
    out_dir = stores[view]
    meta, nonempty = engine._plan_store(out_dir)
    from pyspark.sql import types as T
    by_type = {f.name: f.dataType.simpleString()
               for f in T.StructType.fromJson(meta["spark_schema"]).fields}
    for col in (order_col, tie_col):
        if not engine._is_predicate_type(by_type.get(col, "")):
            raise _Unroutable(
                f"top-k key {col!r} is {by_type.get(col)} (needs int-ordered)")
    # parity precondition: null order values change Spark's output order
    # (NULLS FIRST/LAST) but topk_table drops them — only route when the
    # store provably has none
    for col in (order_col, tie_col):
        if any(int(rec["columns"].get(col, {}).get("nulls", 0))
               for rec in nonempty):
            raise _Unroutable(f"store has null {col!r} values")
    return {"kind": "topk", "out_dir": out_dir, "order_col": order_col,
            "tie_col": tie_col, "k": k, "descending": descending,
            "use_cols": use_cols, "predicates": predicates}


def _operand_spec(e, ids: dict[int, str]) -> list:
    """HAVING operand -> ["col", routed-output-name] | ["lit", value] |
    ["tlit", time-type, epoch-int]. Casts around an attribute unwrap
    (rebuilding the comparison in DataFrame terms re-applies Spark's own
    type coercion — which is also why time literals come back TYPED, as
    ["tlit", ...]: the executor reconstructs the literal in its own type
    so ``HAVING max_ts > timestamp'X'`` compares timestamp-to-timestamp
    exactly as Spark's original comparison did, instead of a raw
    epoch-int against a timestamp column, round 5)."""
    if _contains_arith(e):
        # HAVING arithmetic over aggregate outputs (round 5):
        # ``HAVING sum(a)/count(*) > x`` — rebuild the expression tree
        # with its analyzed Casts preserved so the routed comparison
        # re-coerces exactly as Spark's
        return _arith_operand(e, ids)
    while _cls(e) == "Cast":
        e = e.child()
    if _cls(e) == "AttributeReference":
        key = int(e.exprId().id())
        if key not in ids:
            raise _Unroutable("HAVING references a non-output expression")
        return ["col", ids[key]]
    if _cls(e) == "AggregateExpression":
        # HAVING BETWEEN keeps its aggregates INLINE (the
        # RuntimeReplaceable never goes through Catalyst's
        # hidden-output hoisting) — bind by engine spec to an output
        # that computes the identical aggregate
        spec = _agg_spec_of(e)
        by_spec = ids.get("__by_spec")
        alias = (by_spec or {}).get(spec)
        if alias is None:
            raise _Unroutable(
                "HAVING aggregate is not among the outputs")
        return ["col", alias]
    v = _literal(e)
    dt = str(e.dataType().simpleString())
    if dt in ("timestamp", "timestamp_ntz", "date"):
        return ["tlit", dt, v]
    return ["lit", v]


def _contains_agg(e) -> bool:
    """True if any node in the expression tree is an AggregateExpression
    — used to pick which _Unroutable to surface when a SELECT item fails
    both the over-aggregates and the over-group-keys rebuilds."""
    if _cls(e) == "AggregateExpression":
        return True
    ch = e.children()
    return any(_contains_agg(ch.apply(i)) for i in range(ch.size()))


def _contains_arith(e) -> bool:
    name = _cls(e)
    if name in _EXPR_BINOPS or name in _EXPR_SCALAR_FNS \
            or name in ("UnaryMinus", "ShiftRight", "BitwiseAnd",
                        "If", "CaseWhen"):
        return True
    if name == "Cast":
        return _contains_arith(e.child())
    return False


def _arith_operand(e, ids: dict[int, str]) -> list:
    """Arithmetic HAVING operand -> expr spec tree (leaves: Aggregate
    outputs by name, type-preserving literals)."""
    name = _cls(e)
    if name == "Cast":
        return ["cast", str(e.dataType().simpleString()),
                _arith_operand(e.child(), ids)]
    if name in _EXPR_BINOPS:
        return ["bin", _EXPR_BINOPS[name],
                _arith_operand(e.left(), ids),
                _arith_operand(e.right(), ids)]
    if name == "UnaryMinus":
        return ["neg", _arith_operand(e.child(), ids)]
    if name == "BitwiseAnd":
        return ["band", _arith_operand(e.left(), ids),
                _arith_operand(e.right(), ids)]
    if name == "ShiftRight":
        # HAVING grouping(col) analyzes to
        # cast((shiftright(spark_grouping_id, k) & 1) as tinyint) over
        # the hidden gid output (late round 5); the shift amount must be
        # a literal for the F.shiftright rebuild
        if _cls(e.right()) != "Literal":
            raise _Unroutable("shiftright by a non-literal amount")
        return ["shr", _arith_operand(e.left(), ids),
                _arith_operand(e.right(), ids)]
    if name in _EXPR_SCALAR_FNS:
        return _fn_spec(e, lambda c: _arith_operand(c, ids))
    if name in ("If", "CaseWhen"):
        return _branch_spec(e, lambda c: _arith_operand(c, ids))
    if name == "AttributeReference":
        key = int(e.exprId().id())
        if key not in ids:
            raise _Unroutable("HAVING references a non-output expression")
        return ["col", ids[key]]
    return _elit(e)


def _cond_spec(c, operand) -> list:
    """Boolean condition (analyzed Catalyst) -> a JSON-safe spec tree the
    executor rebuilds as a DataFrame filter; ``operand`` parses the value
    leaves (HAVING passes :func:`_operand_spec` over Aggregate outputs,
    SELECT CASE/IF conditions pass :func:`_expr_spec` over inline
    aggregates). Anything beyond and/or/not/in/null-tests/comparisons is
    unroutable."""
    name = _cls(c)
    if name == "Cast" and str(c.dataType().simpleString()) == "boolean":
        # HAVING x BETWEEN lo AND hi analyzes to
        # cast(between(...) as boolean) — the RuntimeReplaceable keeps
        # its boolean cast wrapper until optimization
        return _cond_spec(c.child(), operand)
    if name in ("And", "Or"):
        return [name.lower(), _cond_spec(c.left(), operand),
                _cond_spec(c.right(), operand)]
    if name == "Not":
        return ["not", _cond_spec(c.child(), operand)]
    if name == "IsNull":
        return ["isnull", operand(c.child())]
    if name == "IsNotNull":
        return ["notnull", operand(c.child())]
    if name == "In":
        lst = c.list()
        if lst.size() == 0:
            raise _Unroutable("empty IN list")
        items = [operand(lst.apply(i)) for i in range(lst.size())]
        value = operand(c.value())
        if all(s[0] == "lit" or (s[0] == "elit"
                                 and not s[1].startswith("decimal("))
               for s in items):
            return ["in", value,
                    [s[1] if s[0] == "lit" else s[2] for s in items]]
        # non-plain items (time-typed tlits, analyzer-cast literals,
        # expression operands) rebuild as an OR chain of typed ``=``
        # comparisons — exactly equivalent to IN over a flat item list
        # (null value -> null either way; items are never null literals),
        # and each leg re-coerces through Spark's own comparison rules
        spec = None
        for s in items:
            leg = ["cmp", "=", value, s]
            spec = leg if spec is None else ["or", spec, leg]
        return spec
    ops = {"EqualTo": "=", "GreaterThan": ">", "GreaterThanOrEqual": ">=",
           "LessThan": "<", "LessThanOrEqual": "<="}
    if name in ops:
        return ["cmp", ops[name], operand(c.left()), operand(c.right())]
    if name == "Between":
        inp = operand(c.input())
        return ["and",
                ["cmp", ">=", inp, operand(c.lower())],
                ["cmp", "<=", inp, operand(c.upper())]]
    raise _Unroutable(f"HAVING condition {name}")


def _having_spec(c, ids: dict[int, str]) -> list:
    """HAVING condition over Aggregate outputs -> filter spec tree."""
    return _cond_spec(c, lambda e: _operand_spec(e, ids))


def _having_col_refs(spec: list) -> set:
    """Output-column names a HAVING spec tree references."""
    k = spec[0]
    if k in ("and", "or"):
        return _having_col_refs(spec[1]) | _having_col_refs(spec[2])
    if k == "not":
        return _having_col_refs(spec[1])
    if k in ("isnull", "notnull", "in"):
        return _expr_refs(spec[1])
    return _expr_refs(spec[2]) | _expr_refs(spec[3])


def _ntz_from_micros(micros_sql: str):
    """Epoch-micros long SQL expression (a backtick-quoted column or a
    literal) -> TimestampNTZType, with NO timezone arithmetic anywhere
    (session-tz-dependent casts shift values; DST gaps make offset-based
    reconstructions ambiguous). Pure integer splitting: days + intraday
    micros -> make_timestamp_ntz."""
    c = f"({micros_sql})"
    rem = f"pmod({c}, 86400000000)"
    days = f"cast((({c}) - {rem}) div 86400000000 as int)"
    d = f"date_from_unix_date({days})"
    return F.expr(
        f"make_timestamp_ntz(year({d}), month({d}), day({d}), "
        f"cast({rem} div 3600000000 as int), "
        f"cast(pmod({rem}, 3600000000) div 60000000 as int), "
        f"cast(pmod({rem}, 60000000) as decimal(16,6)) / 1000000)")


def _minmax_back(col_name: str, dtype):
    """Kernel min/max long (epoch int64 domain for time columns) -> a
    Column of the source column's own type, so routed and fallback plans
    are schema- AND value-identical drop-ins."""
    ss = dtype.simpleString()
    if ss == "timestamp":
        # kernels carry epoch MICROS (Spark's internal unit, hence the
        # stored arrow unit); a plain long->timestamp cast would misread
        # the value as seconds
        return F.timestamp_micros(F.col(col_name))
    if ss == "timestamp_ntz":
        return _ntz_from_micros(f"`{col_name}`")
    if ss == "date":
        return F.date_from_unix_date(F.col(col_name).cast("int"))
    return F.col(col_name).cast(dtype)


def _operand_col(spec: list, df: DataFrame):
    if spec[0] in ("bin", "band", "shr", "neg", "fn", "if", "case",
                   "cast", "elit"):
        return _expr_col(spec, df)
    if spec[0] == "col":
        return df[spec[1]]
    if spec[0] == "tlit":  # typed time literal from its epoch int
        dt, v = spec[1], int(spec[2])
        if dt == "timestamp":
            return F.timestamp_micros(F.lit(v))
        if dt == "timestamp_ntz":
            return _ntz_from_micros(str(v))
        return F.date_from_unix_date(F.lit(v))  # date (days)
    return F.lit(spec[1])


def _having_col(spec: list, df: DataFrame):
    k = spec[0]
    if k == "and":
        return _having_col(spec[1], df) & _having_col(spec[2], df)
    if k == "or":
        return _having_col(spec[1], df) | _having_col(spec[2], df)
    if k == "not":
        return ~_having_col(spec[1], df)
    if k == "isnull":
        return _operand_col(spec[1], df).isNull()
    if k == "notnull":
        return _operand_col(spec[1], df).isNotNull()
    if k == "in":
        return _operand_col(spec[1], df).isin(spec[2])
    _, op, l, r = spec
    lc, rc = _operand_col(l, df), _operand_col(r, df)
    return {"=": lc == rc, ">": lc > rc, ">=": lc >= rc,
            "<": lc < rc, "<=": lc <= rc}[op]


def _peel_order(node):
    """Root Sort -> (child, raw order) — the order keys resolve to names
    after the Aggregate outputs are known."""
    if _cls(node) != "Sort":
        return node, None
    return node.child(), node.order()


def _resolve_order(order, ids: dict[int, str]) -> list | None:
    if order is None:
        return None
    keys = []
    for i in range(order.size()):
        so = order.apply(i)
        child = so.child()
        if _cls(child) != "AttributeReference":
            raise _Unroutable("ORDER BY over a non-output expression")
        key = int(child.exprId().id())
        if key not in ids:
            raise _Unroutable("ORDER BY references a non-output column")
        direction = str(so.direction().sql())
        # only default null placement (ASC->NULLS FIRST, DESC->NULLS LAST)
        # matches a plain .orderBy re-application
        default_nulls = ("NULLS FIRST" if direction == "ASC"
                         else "NULLS LAST")
        if str(so.nullOrdering().sql()) != default_nulls:
            raise _Unroutable("non-default NULLS ordering")
        keys.append([ids[key], direction == "DESC"])
    return keys


def _parse_gsets(node):
    """Aggregate(Expand(Project(src))) — the analyzed shape of GROUP BY
    ROLLUP / CUBE / GROUPING SETS — parsed into the pieces the router
    needs, or raise _Unroutable.

    Spark lowers grouping sets by duplicating every grouping expression
    in a Project (``lang#0 AS lang#7``), then an Expand that emits one
    projection per grouping set — original columns passed through, each
    key slot either the duplicate attribute or a null literal, plus a
    literal ``spark_grouping_id`` whose bit k is 1 when key k is grouped
    OUT — and a final Aggregate keyed on (keys..., grouping id). The
    parse is strict: any slot that is not exactly that shape (or a
    passthrough that is not the identity) falls back, so a future
    analyzer change degrades to the row-identical fallback, never to a
    wrong answer.

    Returns ``(key_attrs, gid_attr, sets, key_srcs, source_chain)``:
    the Aggregate-side key attributes (what SELECT items reference), the
    grouping-id attribute, ``[(mask, gid), ...]`` per grouping set (mask
    aligned with key order, True = key present), each key's SOURCE
    expression (the Project alias child — a plain column or a derived
    expression for ``ROLLUP(upper(lang))``), and the plan node under the
    Project (where WHERE/relation resolution continues)."""
    expand = node.child()
    ges = node.groupingExpressions()
    gexprs = [ges.apply(i) for i in range(ges.size())]
    if any(_cls(g) != "AttributeReference" for g in gexprs):
        raise _Unroutable("grouping-sets key beyond an attribute")
    gids = [g for g in gexprs if str(g.name()) == "spark_grouping_id"]
    if len(gids) != 1:
        raise _Unroutable("grouping sets without a single grouping id")
    gid_attr = gids[0]
    keys = [g for g in gexprs if g is not gid_attr]
    if not keys:
        raise _Unroutable("grouping sets with no keys")
    out = expand.output()
    out_attrs = [out.apply(i) for i in range(out.size())]
    pos = {int(a.exprId().id()): j for j, a in enumerate(out_attrs)}
    try:
        key_pos = [pos[int(k.exprId().id())] for k in keys]
        gid_pos = pos[int(gid_attr.exprId().id())]
    except KeyError:
        raise _Unroutable("grouping key not in the expand output")
    proj = expand.child()
    if _cls(proj) != "Project":
        raise _Unroutable("expand without a key projection")
    pl = proj.projectList()
    dup_src = {}
    for i in range(pl.size()):
        item = pl.apply(i)
        if _cls(item) == "Alias":
            dup_src[int(item.exprId().id())] = item.child()
    projections = expand.projections()
    special = set(key_pos) | {gid_pos}
    sets: list[tuple[list[bool], int]] = []
    key_srcs: list = [None] * len(keys)
    for pi in range(projections.size()):
        row = projections.apply(pi)
        if row.size() != len(out_attrs):
            raise _Unroutable("expand projection arity mismatch")
        mask = []
        for kj, p in enumerate(key_pos):
            slot = row.apply(p)
            scls = _cls(slot)
            if scls == "Literal":
                if slot.value() is not None:
                    raise _Unroutable("non-null literal in an expand key")
                mask.append(False)
            elif scls == "AttributeReference":
                src = dup_src.get(int(slot.exprId().id()))
                if src is None:
                    raise _Unroutable("expand key not from the projection")
                if key_srcs[kj] is None:
                    key_srcs[kj] = src
                elif not key_srcs[kj].semanticEquals(src):
                    raise _Unroutable("expand key source differs per set")
                mask.append(True)
            else:
                raise _Unroutable(f"expand key slot {scls}")
        g = row.apply(gid_pos)
        if _cls(g) != "Literal" or g.value() is None:
            raise _Unroutable("non-literal grouping id")
        sets.append((mask, int(str(g.value()))))
        for j, a in enumerate(out_attrs):
            # aggregates read the passthrough columns — they must be the
            # identity in EVERY projection, or subtotal rows would
            # aggregate different values than the fallback
            if j in special:
                continue
            slot = row.apply(j)
            if _cls(slot) != "AttributeReference" \
                    or int(slot.exprId().id()) != int(a.exprId().id()):
                raise _Unroutable("expand passthrough is not the identity")
    if any(s is None for s in key_srcs):
        # a key grouped out in EVERY set has no source expression to
        # name (its output is null everywhere) — marginal, fall back
        raise _Unroutable("grouping key absent from every set")
    return keys, gid_attr, sets, key_srcs, proj.child()


_WIN_AGG = {"Sum": "sum", "Min": "min", "Max": "max", "Count": "count",
            "Average": "avg"}
_WIN_RANKERS = {"Rank": "rank", "DenseRank": "dense_rank",
                "RowNumber": "row_number", "PercentRank": "percent_rank",
                "CumeDist": "cume_dist"}


def _win_bound(b):
    """Catalyst frame boundary -> "up" | "uf" | "cr" | int offset."""
    c = _cls(b).rstrip("$")  # frame markers are scala case objects
    if c == "UnboundedPreceding":
        return "up"
    if c == "UnboundedFollowing":
        return "uf"
    if c == "CurrentRow":
        return "cr"
    if c == "UnaryMinus":
        inner = b.child()
        if _cls(inner) == "Literal" \
                and inner.dataType().simpleString() in _INT_WIDEN:
            return -int(str(inner.value()))
        raise _Unroutable("non-integer window frame bound")
    if c == "Literal" and b.dataType().simpleString() in _INT_WIDEN:
        return int(str(b.value()))
    raise _Unroutable(f"window frame bound {c}")


def _win_lit(e):
    """Plain literal -> Python value (lag/lead defaults, ntile buckets)."""
    if _cls(e) != "Literal":
        raise _Unroutable(f"non-literal window argument {_cls(e)}")
    v = e.value()
    if v is None:
        return None
    dt = e.dataType().simpleString()
    if dt in _INT_WIDEN:
        return int(str(v))
    if dt in ("float", "double"):
        return float(str(v))
    if dt == "string":
        return str(v)
    if dt == "boolean":
        return bool(v)
    raise _Unroutable(f"window argument literal type {dt}")


def _win_attr(e, ids: dict[int, str]) -> str:
    if _cls(e) != "AttributeReference":
        raise _Unroutable(f"window operand {_cls(e)} is not an output")
    key = int(e.exprId().id())
    if key not in ids:
        raise _Unroutable("window operand is not an aggregate output")
    return ids[key]


def _parse_window_node(win, ids: dict[int, str], used: set) -> list:
    """One Catalyst Window node -> list of JSON-safe window-expression
    specs over the routed aggregate frame's columns. ``ids`` (exprId ->
    frame column name) gains each window output so stacked Window nodes
    and the post-projection can reference them."""
    exprs = []
    wes = win.windowExpressions()
    for i in range(wes.size()):
        al = wes.apply(i)
        if _cls(al) != "Alias":
            raise _Unroutable("unaliased window expression")
        out = str(al.name())
        wx = al.child()
        if _cls(wx) != "WindowExpression":
            raise _Unroutable(f"window item {_cls(wx)}")
        fn = wx.windowFunction()
        spec = wx.windowSpec()
        part = [_win_attr(spec.partitionSpec().apply(j), ids)
                for j in range(spec.partitionSpec().size())]
        order = []
        so = spec.orderSpec()
        for j in range(so.size()):
            s = so.apply(j)
            order.append([_win_attr(s.child(), ids),
                          str(s.direction().sql()),
                          str(s.nullOrdering().sql())])
        c = _cls(fn)
        frame = None
        if c == "AggregateExpression":
            if fn.isDistinct():
                raise _Unroutable("DISTINCT window aggregate")
            if fn.filter().isDefined():
                raise _Unroutable("FILTER clause on a window aggregate")
            af = fn.aggregateFunction()
            ac = _cls(af)
            pyfn = _WIN_AGG.get(ac)
            if ac in ("First", "Last"):
                # first_value/last_value(col [, ignoreNulls]) — the
                # ignoreNulls flag is a scala constructor param
                fspec = [ac.lower(),
                         _win_attr(af.children().apply(0), ids),
                         bool(af.ignoreNulls())]
            elif pyfn is None:
                raise _Unroutable(f"window aggregate {ac}")
            else:
                ch = af.children()
                if ch.size() != 1:
                    raise _Unroutable("multi-argument window aggregate")
                arg = ch.apply(0)
                if ac == "Count" and _cls(arg) == "Literal":
                    fspec = ["aggstar"]
                else:
                    fspec = ["agg", pyfn, _win_attr(arg, ids)]
            fr = spec.frameSpecification()
            if _cls(fr) != "SpecifiedWindowFrame":
                raise _Unroutable(f"window frame {_cls(fr)}")
            kind = {"RowFrame": "rows", "RangeFrame": "range"}.get(
                _cls(fr.frameType()).rstrip("$"))
            if kind is None:
                raise _Unroutable(f"frame type {_cls(fr.frameType())}")
            frame = [kind, _win_bound(fr.lower()), _win_bound(fr.upper())]
            if kind == "range" and (isinstance(frame[1], int)
                                    or isinstance(frame[2], int)):
                # a literal RANGE bound is typed to the single order key;
                # .rangeBetween(int) rebuilds only the integral case, and
                # calendar/interval bounds have no int rebuild at all
                if len(order) != 1:
                    raise _Unroutable("literal RANGE bound without a "
                                      "single order key")
        elif c in _WIN_RANKERS:
            # the analyzer's fixed default frame; pyspark attaches the
            # same one, and an explicit frame with rankers is an error
            fspec = [_WIN_RANKERS[c]]
        elif c == "NTile":
            n = _win_lit(fn.children().apply(0))
            if not isinstance(n, int):
                raise _Unroutable("non-integer ntile buckets")
            fspec = ["ntile", n]
        elif c == "NthValue":
            n = _win_lit(fn.children().apply(1))
            if not isinstance(n, int):
                raise _Unroutable("non-literal nth_value offset")
            fspec = ["nth_value", _win_attr(fn.children().apply(0), ids),
                     n, bool(fn.ignoreNulls())]
        elif c in ("Lag", "Lead"):
            ch = fn.children()
            if ch.size() != 3:
                raise _Unroutable(f"{c} arity {ch.size()}")
            col = _win_attr(ch.apply(0), ids)
            off = _win_lit(ch.apply(1))
            if not isinstance(off, int):
                raise _Unroutable("non-literal lag/lead offset")
            dflt_e = ch.apply(2)
            while _cls(dflt_e) == "Cast":
                # the analyzer casts the default to the input's type;
                # F.lag/F.lead re-coerce a plain literal the same way
                dflt_e = dflt_e.child()
            dflt = _win_lit(dflt_e)
            fspec = [c.lower(), col, off, dflt]
        else:
            raise _Unroutable(f"window function {c}")
        key = int(al.exprId().id())
        if out.startswith("__"):
            raise _Unroutable("window alias with reserved '__' prefix")
        if out.casefold() in {u.casefold() for u in used}:
            raise _Unroutable(f"window output {out!r} collides with "
                              "an existing column")
        used.add(out)
        ids[key] = out
        exprs.append({"out": out, "fn": fspec, "part": part,
                      "order": order, "frame": frame})
    return exprs


def _route_window(outer, order, limit_k, stores: dict[str, str]):
    """Window functions OVER the aggregate — "share of corpus"
    (``count(*) / sum(count(*)) OVER ()``), "rank languages by volume"
    (``rank() OVER (ORDER BY count(*) DESC)``), running totals, lag
    deltas. Returns None when ``outer`` has no Window below (the caller
    continues with the plain-aggregate walk).

    Catalyst lowers these to Project(Project(Window+(Aggregate))) — the
    inner Aggregate carries analyzer-injected ``_w0`` slots for the
    window operands, the Window node(s) compute over its output, the mid
    projection evaluates result expressions (``_w0 / _we0``), and the
    outer projection drops the temporaries. The Aggregate is EXACTLY the
    already-routable part: route it recursively (full pruning stack),
    then rebuild the windows with pyspark's own Window/F functions over
    the O(groups) routed frame — same rows in each frame, same function
    implementations, so values and types match Spark's plan exactly
    while the store still answers from chunk metadata."""
    ch = outer.child()
    mid = None
    if _cls(ch) == "Project":
        mid, ch = ch, ch.child()
    wins_nodes = []
    while _cls(ch) == "Window":
        wins_nodes.append(ch)
        ch = ch.child()
    if not wins_nodes:
        return None
    if mid is None:
        # single-projection shape: the one Project plays the mid role
        mid, outer = outer, None
    r = _route(ch, stores)
    if r.get("kind") is not None:
        # topk/nested/union route dicts carry no out_cols to bind the
        # window operands against — fall back rather than crash
        raise _Unroutable(f"window over a {r['kind']} route")
    # frame columns after _expr_finish: the child's declared outputs
    # (plus hidden slots, which the mid select never references)
    ids: dict[int, str] = {}
    agg_out = ch.output()
    names = {n for n, _, _ in r["out_cols"]}
    for i in range(agg_out.size()):
        a = agg_out.apply(i)
        nm = str(a.name())
        if nm in names:
            ids[int(a.exprId().id())] = nm
    used = set(names) | set(r.get("hidden") or [])
    wins = [_parse_window_node(w, ids, used)
            for w in reversed(wins_nodes)]
    # mid projection: passthroughs + whitelisted scalar expressions over
    # aggregate and window outputs (the share division, CASE labels, ...)
    mid_entries = []
    mid_ids: dict[int, str] = {}
    seen: dict[str, int] = {}
    plist = mid.projectList()
    for i in range(plist.size()):
        item = plist.apply(i)
        out = str(item.name())
        key = int(item.exprId().id())
        if out in seen:
            if seen[out] == key:
                continue  # the analyzer duplicates rank outputs
            raise _Unroutable(f"duplicate projection name {out!r}")
        if _cls(item) == "Alias":
            expr = item.child()
            if _cls(expr) == "AttributeReference":
                mid_entries.append(["attr", _win_attr(expr, ids), out])
            else:
                def resolve(e, _ids=ids):
                    if _cls(e) == "AttributeReference":
                        return f"`{_win_attr(e, _ids)}`"
                    return None
                srcs: list[str] = []
                sql = _sqlexpr_build(expr, srcs, resolve)
                mid_entries.append(["sqlexpr", sql, out])
        else:
            mid_entries.append(["attr", _win_attr(item, ids), out])
        if out.startswith("__"):
            raise _Unroutable("alias with reserved '__' prefix")
        seen[out] = key
        mid_ids[key] = out
    if len({n.casefold() for n in seen}) != len(seen):
        raise _Unroutable("output names differ only by case")
    # outer projection: plain renames of mid outputs
    final = None
    order_ids = mid_ids
    if outer is not None:
        final = []
        order_ids = {}
        plist = outer.projectList()
        for i in range(plist.size()):
            item = plist.apply(i)
            out = str(item.name())
            key = int(item.exprId().id())
            src_e = item.child() if _cls(item) == "Alias" else item
            if _cls(src_e) != "AttributeReference":
                raise _Unroutable("projection over a non-output "
                                  "expression")
            src_key = int(src_e.exprId().id())
            if src_key not in mid_ids:
                raise _Unroutable("projection of a non-window output")
            final.append([mid_ids[src_key], out])
            order_ids[key] = out
            if _cls(item) != "Alias":
                order_ids.setdefault(src_key, out)
        outs = [o for _, o in final]
        if len({o.casefold() for o in outs}) != len(outs):
            raise _Unroutable("output names differ only by case")
    r["window"] = {"wins": wins, "mid": mid_entries}
    r["final"] = final
    r["final_after_order"] = False
    r["order"] = _resolve_order(order, order_ids)
    r["limit"] = limit_k
    return r


_NESTED_AGG = {"Sum": "sum", "Min": "min", "Max": "max", "Count": "count",
               "Average": "avg"}


def _route_nested(node, having_cond, project, order, limit_k,
                  stores: dict[str, str], final_after_order=False):
    """Two-level aggregation — the aggregate-of-an-aggregate audit:
    ``SELECT avg(c) FROM (SELECT count(*) AS c FROM docs GROUP BY lang)``
    ("average docs per language"), group-size maxima, "how many groups
    exceed N". Returns None when ``node``'s child is not itself an
    aggregate statement (the caller continues the single-level walk).

    The subquery is EXACTLY the already-routable part: route it
    recursively (kernel partials, full pruning stack), then run the
    outer aggregation with pyspark's own groupBy().agg() over the
    O(inner-groups) routed frame — same rows, Spark's own aggregate
    implementations, so values and types match the fallback exactly. A
    Filter between the two levels (outer WHERE or inner HAVING — the
    same filter over inner outputs either way) re-applies over the
    routed frame before the outer aggregation."""
    ch = node.child()
    mid_conds = []
    seen_sub = False
    while True:
        c = _cls(ch)
        if c == "SubqueryAlias":
            ch = ch.child()
            seen_sub = True
        elif c == "Filter":
            # outer WHERE sits ABOVE the SubqueryAlias, the subquery's
            # own HAVING below it — both are filters over the inner
            # outputs and re-apply identically over the routed frame
            mid_conds.append(ch.condition())
            ch = ch.child()
        else:
            break
    if not seen_sub:
        return None
    inner_is_agg = _cls(ch) == "Aggregate" \
        or (_cls(ch) == "Filter" and _cls(ch.child()) == "Aggregate") \
        or (_cls(ch) == "Project"
            and _contains_store_relation(ch)
            and _win_below(ch))
    if not inner_is_agg:
        return None
    ri = _route(ch, stores)
    if ri.get("kind") == "topk":
        raise _Unroutable("outer aggregate over a top-k route")
    # the routed inner frame's columns are the subquery's visible outputs
    ids_in: dict[int, str] = {}
    out = ch.output()
    for i in range(out.size()):
        a = out.apply(i)
        ids_in[int(a.exprId().id())] = str(a.name())
    filters = [_having_spec(c, ids_in) for c in mid_conds]
    # outer grouping keys: plain inner-output columns
    groups = []
    gids: set[int] = set()
    ge = node.groupingExpressions()
    for i in range(ge.size()):
        g = ge.apply(i)
        if _cls(g) != "AttributeReference":
            raise _Unroutable(
                f"outer group expression {_cls(g)} over a subquery")
        key = int(g.exprId().id())
        if key not in ids_in:
            raise _Unroutable("outer group key is not a subquery output")
        groups.append(ids_in[key])
        gids.add(key)
    # outer outputs: group passthroughs + whitelisted aggregates
    aggs = []
    out_names = []
    ids_out: dict[int, str] = {}
    ae = node.aggregateExpressions()
    for i in range(ae.size()):
        item = ae.apply(i)
        out_name = str(item.name())
        key = int(item.exprId().id())
        expr = item.child() if _cls(item) == "Alias" else item
        if _cls(expr) == "AttributeReference":
            if int(expr.exprId().id()) not in gids:
                raise _Unroutable(
                    "outer output is not a group key or aggregate")
            aggs.append([out_name, "group",
                         ids_in[int(expr.exprId().id())], False])
        elif _cls(expr) == "AggregateExpression":
            if expr.filter().isDefined():
                raise _Unroutable("FILTER clause on an outer aggregate")
            af = expr.aggregateFunction()
            ac = _cls(af)
            pyfn = _NESTED_AGG.get(ac)
            if pyfn is None:
                raise _Unroutable(f"outer aggregate {ac}")
            fch = af.children()
            if fch.size() != 1:
                raise _Unroutable("multi-argument outer aggregate")
            arg = fch.apply(0)
            if ac == "Count" and _cls(arg) == "Literal":
                if expr.isDistinct():
                    # count(DISTINCT <literal>) is NOT count(*)
                    raise _Unroutable("outer DISTINCT count of a literal")
                aggs.append([out_name, "countstar", None, False])
            else:
                if _cls(arg) != "AttributeReference" \
                        or int(arg.exprId().id()) not in ids_in:
                    raise _Unroutable(
                        "outer aggregate over a non-output expression")
                if expr.isDistinct() and ac != "Count":
                    raise _Unroutable(f"outer DISTINCT {ac}")
                aggs.append([out_name, pyfn,
                             ids_in[int(arg.exprId().id())],
                             bool(expr.isDistinct())])
        else:
            raise _Unroutable(f"outer output expression {_cls(expr)}")
        if out_name.startswith("__"):
            raise _Unroutable("alias with reserved '__' prefix")
        out_names.append(out_name)
        ids_out[key] = out_name
    if len({n.casefold() for n in out_names}) != len(out_names):
        raise _Unroutable("output names differ only by case")
    if not any(fn != "group" for _, fn, _, _ in aggs):
        raise _Unroutable("outer aggregate with no aggregate outputs")
    gset = {g.casefold() for g in groups}
    if any(fn != "group" and out.casefold() in gset
           for out, fn, _, _ in aggs):
        # a non-group outer output named like a groupBy key would make
        # the post-agg frame's name-based select ambiguous (e.g.
        # `SELECT c AS n, count(*) AS c ... GROUP BY c`)
        raise _Unroutable("outer alias collides with a group column")
    final = None
    if project is not None:
        final = []
        for i in range(project.size()):
            item = project.apply(i)
            out_name = str(item.name())
            src_e = item.child() if _cls(item) == "Alias" else item
            if _cls(src_e) != "AttributeReference":
                raise _Unroutable("projection over a non-output expression")
            src_key = int(src_e.exprId().id())
            if src_key not in ids_out:
                raise _Unroutable("projection of a non-Aggregate output")
            final.append([ids_out[src_key], out_name])
    having = (_having_spec(having_cond, ids_out)
              if having_cond is not None else None)
    return {"kind": "nested",
            "inner": ri,
            "outer": {"filters": filters, "groups": groups, "aggs": aggs},
            "out_dir": ri["out_dir"],
            "having": having,
            "final": final,
            # ORDER BY a hidden outer aggregate (Project(Sort(...)))
            # sorts BEFORE the projection drops it — the caller's flag
            "final_after_order": bool(final_after_order),
            "order": _resolve_order(order, ids_out),
            "limit": limit_k}


def _route_union(node, order, limit_k, stores: dict[str, str]):
    """UNION [ALL] of routable statements — the period-comparison /
    tagged-counts audit (``SELECT 'big' AS tag, count(*) ... UNION ALL
    SELECT 'recent', count(*) ...``). Returns None when ``node`` is not
    a Union (caller continues). Each branch routes independently with
    its own pruning stack; the results union POSITIONALLY (Spark's
    Union semantics — first branch's names win; the analyzer inserts
    cast projections when branch types differ, and those fall back
    through the branch recursion, so only type-identical branches
    route). Plain UNION adds Spark's own distinct() over the combined
    O(groups) frame."""
    distinct = False
    if _cls(node) == "Distinct" and _cls(node.child()) == "Union":
        distinct, node = True, node.child()
    cls = _cls(node)
    if cls not in ("Union", "Except", "Intersect"):
        return None
    is_all = bool(node.isAll()) if cls in ("Except", "Intersect") else True
    kids = node.children()
    subs = [_route(kids.apply(i), stores) for i in range(kids.size())]
    for s in subs:
        if s.get("kind") == "topk":
            raise _Unroutable(f"top-k branch under a {cls.upper()}")
    ids: dict[int, str] = {}
    out = node.output()
    for i in range(out.size()):
        a = out.apply(i)
        ids[int(a.exprId().id())] = str(a.name())
    return {"kind": "union",
            "setop": cls.lower(),
            "all": is_all,
            "subs": subs,
            "distinct": distinct,
            "out_dir": subs[0]["out_dir"],
            "having": None, "final": None, "final_after_order": False,
            "order": _resolve_order(order, ids),
            "limit": limit_k}


def _win_below(proj) -> bool:
    """True when a Project chain has a Window under it (the window-route
    shape) — used to recognize a window subquery under an outer
    aggregate without committing to the full route walk."""
    ch = proj.child()
    if _cls(ch) == "Project":
        ch = ch.child()
    return _cls(ch) == "Window"


def _route(analyzed, stores: dict[str, str]) -> dict:
    """Analyzed plan -> routing description, or raise _Unroutable.

    Routable shapes (round 5 widened):

        [Limit] [Sort] [Project] [Filter=HAVING] Aggregate [Filter=WHERE] store
        [Limit] [Sort] Distinct Project [Filter=WHERE] store
        GlobalLimit LocalLimit Sort Project store        (top-k)

    Multi-column GROUP BY routes to engine.group_multi_table (composite
    code-stream kernel); HAVING re-applies as a filter over the routed
    partial-summed result (its condition only sees Aggregate outputs, so
    this is exactly Spark's own evaluation order); ORDER BY re-applies as
    .orderBy over the tiny aggregated result, LIMIT as .limit on it."""
    limit_k = None
    if _cls(analyzed) == "GlobalLimit":
        try:
            return _route_topk(analyzed, stores)
        except _Unroutable:
            # ORDER BY ... LIMIT k over an AGGREGATE routes too (round 5):
            # peel the limit here, route the aggregate, re-apply
            # order+limit over the O(groups) result. Bare LIMIT with no
            # Sort stays a fallback — which rows survive is plan-dependent
            # and the routed plan is not the fallback plan.
            k_expr = analyzed.limitExpr()
            if _cls(k_expr) != "Literal":
                raise
            node = analyzed.child()
            if _cls(node) != "LocalLimit":
                raise
            inner = node.child()
            # Sort directly, or Project(Sort) when the sort key is a
            # hidden aggregate the outer projection drops again
            if not (_cls(inner) == "Sort"
                    or (_cls(inner) == "Project"
                        and _cls(inner.child()) == "Sort")):
                raise
            limit_k = int(str(k_expr.value()))
            analyzed = inner
    node, order = _peel_order(analyzed)
    if _cls(node) == "Project":
        wr = _route_window(node, order, limit_k, stores)
        if wr is not None:
            return wr
    if _cls(node) in ("Union", "Except", "Intersect") \
            or (_cls(node) == "Distinct"
                and _cls(node.child()) == "Union"):
        ur = _route_union(node, order, limit_k, stores)
        if ur is not None:
            return ur
    if _cls(node) == "Distinct":
        # SELECT DISTINCT cols analyzes as Distinct(Project([cols])) —
        # same engine answer as GROUP BY those cols with the counts
        # dropped. Derived time keys ("SELECT DISTINCT to_date(ts)":
        # which days have data) and scalar keys route the same way
        # through the transform-capable kernels; multiple columns ride
        # the composite kernel (late round 5 — "which (lang, source)
        # combinations exist" is a one-pass metadata answer).
        proj = node.child()
        if _cls(proj) != "Project" or proj.projectList().size() < 1:
            raise _Unroutable("DISTINCT over a non-projection")
        out_names, gnames, gspecs_l, ids = [], [], [], {}
        for i in range(proj.projectList().size()):
            item = proj.projectList().apply(i)
            out_id = int(item.exprId().id())
            if _cls(item) == "Alias":
                out_name, item = str(item.name()), item.child()
            else:
                out_name = str(item.name())
            src, transform = _parse_group_expr(item)
            gname = src if transform is None else out_name
            if transform and transform[0] == "sqlexpr" \
                    and _PARTIAL_COL_RE.match(gname):
                # the regroup frame holds the cnt partial beside the
                # derived key
                raise _Unroutable("group output name collides with a "
                                  "kernel partial column")
            if out_name.startswith("__") or gname.startswith("__"):
                raise _Unroutable("alias with reserved '__' prefix")
            out_names.append(out_name)
            gnames.append(gname)
            gspecs_l.append([src, list(transform) if transform else None,
                             gname])
            ids[out_id] = out_name
        if len(set(gnames)) != len(gnames) \
                or len(set(out_names)) != len(out_names):
            raise _Unroutable("duplicate DISTINCT columns")
        if len({n.lower() for n in out_names}) != len(out_names):
            raise _Unroutable("output names differ only by case")
        sqlexpr_srcs = {s for _, tr, _ in gspecs_l
                        if tr and tr[0] == "sqlexpr" for s in tr[2]}
        derived_outs = {out for _, tr, out in gspecs_l if tr}
        if derived_outs & sqlexpr_srcs:
            # a derived key named like another key's raw source shadows
            # it in the post-kernel frame (same guard as the Aggregate
            # path)
            raise _Unroutable("derived key shadows a raw source column")
        if sqlexpr_srcs and any(_PARTIAL_COL_RE.match(n) for n in gnames):
            raise _Unroutable("group output name collides with a kernel "
                              "partial column")
        constraints, view = _filter_and_relation(proj.child(), stores)
        orx_cons = [c for c in constraints if c[0] == "orx"]
        plain_cons = [c for c in constraints if c[0] != "orx"]
        orx_preds = None
        if orx_cons:
            # DISTINCT over a cross-column OR = the union of the branch
            # passes' group sets — no overlap correction needed (round 5)
            if len(orx_cons) > 1:
                raise _Unroutable("multiple cross-column ORs")
            orx_preds = [_constraints_to_predicates(plain_cons + b)
                         for b in orx_cons[0][2]]
        return {"out_dir": stores[view],
                "group_col": (gspecs_l[0][0]
                              if len(gspecs_l) == 1 and not gspecs_l[0][1]
                              else None),
                "group_cols": gnames,
                "group_specs": gspecs_l,
                "aggs": {},
                "predicates": _constraints_to_predicates(plain_cons),
                "orx": orx_preds,
                "out_cols": [(n, "group", g)
                             for n, g in zip(out_names, gnames)],
                "having": None, "final": None,
                "order": _resolve_order(order, ids),
                "limit": limit_k}
    # peel SELECT-projection and HAVING-filter above the Aggregate
    project = None
    final_after_order = False
    if order is None and _cls(node) == "Project" \
            and _cls(node.child()) == "Sort":
        # ORDER BY a hidden aggregate — "top groups without showing the
        # counts" (SELECT lang ... GROUP BY lang ORDER BY count(*) DESC
        # LIMIT k): Catalyst adds the sort aggregate to the Aggregate
        # outputs and wraps Project(Sort(Aggregate)) to drop it again, so
        # here the projection applies AFTER the sort/limit (flagged for
        # _finish)
        inner, inner_order = _peel_order(node.child())
        if _cls(inner) == "Aggregate" or (
                _cls(inner) == "Filter"
                and _cls(inner.child()) == "Aggregate"):
            project = node.projectList()
            node, order = inner, inner_order
            final_after_order = True
    if project is None and _cls(node) == "Project":
        ch = node.child()
        if _cls(ch) == "Aggregate" or (
                _cls(ch) == "Filter" and _cls(ch.child()) == "Aggregate"):
            project = node.projectList()
            node = ch
    having_cond = None
    if _cls(node) == "Filter" and _cls(node.child()) == "Aggregate":
        having_cond = node.condition()
        node = node.child()
    if _cls(node) != "Aggregate":
        raise _Unroutable(f"root {_cls(node)}")
    nested = _route_nested(node, having_cond, project, order, limit_k,
                           stores, final_after_order)
    if nested is not None:
        return nested
    gsets = None
    gid_attr = None
    if _cls(node.child()) == "Expand":
        # GROUP BY ROLLUP / CUBE / GROUPING SETS: ONE kernel pass at the
        # union-of-keys grouping, then per-set re-aggregations of the
        # O(groups) partials (cnt/sum/nn re-add, mn/mx re-min/max — the
        # same combination multi-bucket finishing performs), unioned
        # with a literal grouping id per set
        gexprs, gid_attr, gsets, key_srcs, src_chain = _parse_gsets(node)
        constraints, view = _filter_and_relation(src_chain, stores)
        parsed = [_parse_group_expr(s) for s in key_srcs]
        join = None
    else:
        constraints, view, join = _filter_join_relation(node.child(),
                                                        stores)
        ges = node.groupingExpressions()
        gexprs = [ges.apply(i) for i in range(ges.size())]
        if join is None:
            parsed = [_parse_group_expr(g) for g in gexprs]
        else:
            # joined statement (late round 5): group keys may come from
            # either side — a dim attribute becomes a ("dimkey", pos)
            # spec the execution resolves from the broadcast dim frame;
            # store keys stay plain kernel dimensions, and TIME-derived
            # store keys (to_date/year/date_trunc — the docs-per-day-
            # per-region audit) derive IN the kernel pass exactly as in
            # un-joined statements. Derived DIM keys, derived-scalar
            # (sqlexpr) store keys, grouping sets, and cross-column ORs
            # keep their named fallbacks in the joined shape.
            parsed = []
            for g in gexprs:
                if _cls(g) == "AttributeReference" \
                        and int(g.exprId().id()) in join["dim_ids"]:
                    pos = join["dim_ids"][int(g.exprId().id())][1]
                    parsed.append((None, ("dimkey", pos)))
                    continue
                gids = _ref_ids(g)
                if not gids <= set(join["store_ids"]):
                    if gids <= set(join["dim_ids"]):
                        raise _Unroutable("derived group key in a "
                                          "joined statement")
                    raise _Unroutable(
                        "group key mixes the two join sides")
                src, tr = _parse_group_expr(g)
                if tr is not None and tr[0] == "sqlexpr":
                    # the post-kernel expression rebuild + re-group does
                    # not compose with the dim join's finishing frame
                    raise _Unroutable("derived scalar group key in a "
                                      "joined statement")
                parsed.append((src, tr))
    # output names: a plain key keeps its column name; a derived key takes
    # the SELECT alias of the first item semantically equal to it (a
    # derived key that never appears in the SELECT has no name to carry
    # into the partials — fall back, the shape is marginal anyway)
    g_names: list[str | None] = [src if tr is None else None
                                 for src, tr in parsed]

    aggs: dict[str, tuple] = {}
    faggs: dict[str, tuple] = {}  # alias -> (inner spec, filter constraints)
    # (output name, "group"|"agg"|"expr", group col name | expr spec | None)
    out_cols: list[tuple[str, str, object]] = []
    hidden: list[str] = []  # generated aliases for expression-embedded aggs
    ids: dict[int, str] = {}  # Aggregate-output exprId -> output name
    aes = node.aggregateExpressions()
    for i in range(aes.size()):
        e = aes.apply(i)
        # a group key may appear plain, re-aliased, or as the full derived
        # expression in the SELECT — match semantically, not by name
        named = e
        out_name = str(e.name())
        out_id = int(e.exprId().id())
        if _cls(e) == "Alias":
            named = e.child()
        matched = next((gi for gi, g in enumerate(gexprs)
                        if named.semanticEquals(g)), None)
        if gid_attr is not None and named.semanticEquals(gid_attr):
            # grouping_id() — or the bare spark_grouping_id attribute
            # Catalyst appends as a hidden output under HAVING
            # grouping(...) shapes — reads the per-set literal id column
            out_cols.append((out_name, "gexpr", "`__gid`"))
        elif matched is not None:
            if g_names[matched] is None:
                g_names[matched] = out_name
            out_cols.append((out_name, "group", g_names[matched]))
        elif _cls(named) == "AggregateExpression":
            if join is not None and _cls(named) == "AggregateExpression" \
                    and _ref_ids(named) \
                    and _ref_ids(named) <= set(join["dim_ids"]):
                # aggregate over the DIM side: each matched (partial,
                # dim-row) pair stands for cnt store rows, so sum(d.w) =
                # SUM(cnt*w), count(d.w) = SUM(cnt where w non-null),
                # min/max(d.w) read the matched dim values directly, and
                # avg = the sum/count quotient — all computed in the
                # post-broadcast finishing, never in the kernels
                alias = _parse_dim_agg(e, join)
                out_cols.append((alias, "agg", None))
            elif named.filter().isDefined() and join is None:
                # count(*) FILTER (WHERE ...) — its own predicate pass
                alias, fspec, fcons = _parse_filtered_agg(e)
                if alias in aggs or alias in faggs:
                    raise _Unroutable(f"duplicate output alias {alias!r}")
                faggs[alias] = (fspec, fcons)
                out_cols.append((alias, "fagg", None))
            else:
                alias, spec = _parse_agg_fn(e)
                if join is not None:
                    if not _ref_ids(named) <= set(join["store_ids"]):
                        # a dim column may share its NAME with a store
                        # column (ON s.lang = d.lang) — aggregate args
                        # bind by exprId, so sum(d.w) must not route as
                        # sum(store.w)
                        raise _Unroutable(
                            "aggregate over the dim side of a join")
                if alias in aggs or alias in faggs:
                    raise _Unroutable(f"duplicate output alias {alias!r}")
                aggs[alias] = spec
                out_cols.append((alias, "agg", None))
        else:
            # arithmetic over aggregates (round 5): sum(a)/count(*),
            # sum(a)+sum(b), count(*)*2 ... — embedded aggregates become
            # hidden routed outputs; the expression rebuilds over them
            if _cls(e) != "Alias":
                raise _Unroutable(f"unaliased select item {e.sql()}")
            try:
                espec = _expr_spec(named, aggs, hidden, join)
                kind = "expr"
                if join is not None and not _ref_ids(named) <= (
                        set(join["store_ids"]) | set(join["dim_ids"])):
                    raise _Unroutable(
                        "aggregate expression beyond the two join sides")
            except _Unroutable:
                if _contains_agg(named):
                    # the expression reads aggregates, so the group-key
                    # rebuild below can never route it — surface the
                    # over-aggregates error (e.g. a reserved-alias
                    # collision), not a generic whitelist miss
                    raise
                # scalar expression over GROUP KEYS in the SELECT
                # (`SELECT upper(lang), count(*) ... GROUP BY lang`):
                # subtrees semantically equal to a grouping expression
                # resolve to that group's output column and the
                # whitelisted rebuild evaluates over the O(groups)
                # finished rows — a derived key must itself be selected
                # to carry a name, so only resolvable keys appear here
                def _resolve(n):
                    if gid_attr is not None \
                            and n.semanticEquals(gid_attr):
                        # grouping(col) = cast((shiftright(gid, k) & 1)
                        # as tinyint) — rebuilds over the per-set id
                        return "`__gid`"
                    for gi, g in enumerate(gexprs):
                        if n.semanticEquals(g):
                            if g_names[gi] is None:
                                raise _Unroutable(
                                    "expression over a derived key "
                                    "missing from the SELECT")
                            return f"`{g_names[gi]}`"
                    return None
                gsrcs: list[str] = []
                espec = _sqlexpr_build(named, gsrcs, resolve=_resolve)
                kind = "gexpr"
                if join is not None and gsrcs:
                    # the joined finishing frame carries only the group
                    # outputs and partials — raw source columns are not
                    # available to re-evaluate against
                    raise _Unroutable("expression over non-key columns "
                                      "in a joined statement")
            if out_name in aggs:
                raise _Unroutable(f"duplicate output alias {out_name!r}")
            out_cols.append((out_name, kind, espec))
        if any(n == out_name for n, _, _ in out_cols[:-1]):
            raise _Unroutable(f"duplicate output name {out_name!r}")
        ids[out_id] = out_name
    for (src, tr), out in zip(parsed, g_names):
        if tr is not None and out is None:
            raise _Unroutable("derived group key not in SELECT")
    group_cols: list[str] = list(g_names)  # resolved output names
    group_specs = [[src, list(tr) if tr else None, out]
                   for (src, tr), out in zip(parsed, g_names)]
    derived = any(tr for _, tr in parsed)
    if len(set(group_cols)) != len(group_cols):
        raise _Unroutable("duplicate GROUP BY columns")
    sqlexpr_srcs = {s for _, tr in parsed if tr and tr[0] == "sqlexpr"
                    for s in tr[2]}
    if sqlexpr_srcs and any(_PARTIAL_COL_RE.match(n) for n in group_cols):
        # the regroup frame holds kernel partial columns alongside the
        # derived keys — an output named like one would collide
        raise _Unroutable("group output name collides with a kernel "
                          "partial column")
    derived_outs = {out for (_, tr), out in zip(parsed, g_names) if tr}
    if derived_outs & sqlexpr_srcs:
        # the post-kernel frame must carry every sqlexpr raw source, but
        # a DERIVED output of the same name shadows it: a sqlexpr key
        # aliased to its own source (_apply_derived's withColumn
        # overwrites the raw column for later-evaluated expressions) or
        # a TIME key whose alias matches a stored column the kernel then
        # never reads ('to_date(ts) AS day' beside 'upper(day)' would
        # evaluate upper over the derived DATE, not the raw string)
        raise _Unroutable(
            "derived key output name shadows a raw source column")
    if not aggs and not faggs and not group_cols \
            and not (join is not None and join.get("dim_aggs")):
        raise _Unroutable("no aggregate outputs")
    # group-by with no aggregates is how Spark analyzes SELECT DISTINCT col
    # — routed to the same codec-layer value-counts kernel, counts dropped
    # engine pushdown is exact only over integral columns (float sums are
    # order-dependent); SQL-valid-but-unpushable types fall back
    meta = datasource._read_meta(stores[view])
    from pyspark.sql import types as T
    by_type = {f.name: f.dataType.simpleString()
               for f in T.StructType.fromJson(meta["spark_schema"]).fields}
    str_mm: set[str] = set()  # string-typed min/max columns (combo route)
    for alias, spec in list(aggs.items()) \
            + [(a, sp) for a, (sp, _) in faggs.items()]:
        if spec[0] == "cntd":
            if spec[1] not in by_type:
                raise _Unroutable(f"count(distinct) over unknown {spec[1]!r}")
            continue  # any stored column type groups (composite kernel);
            # a column that doubles as a derived key's raw source is fine
            # — the execution dedupes kernel dimensions and counts
            # distinct VALUES, not combo rows
        if spec[0] == "cntde":
            for s in spec[2]:
                if s not in by_type:
                    raise _Unroutable(
                        f"count(distinct) over unknown column {s!r}")
            continue
        if spec[0] == "count":
            continue
        if spec[0] == "nncount":
            if spec[1] not in by_type:
                raise _Unroutable(f"count over unknown column {spec[1]!r}")
            continue  # any stored type: null totals are chunk metadata
        a_type = by_type.get(spec[1])
        if a_type in engine._INTEGRAL_TYPES:
            continue
        # MIN/MAX over time columns (grouped or global) route through the
        # epoch-int64 domain — kernel mn/mx partials or commit-record zone
        # stats (round 5); sums/avgs stay integral-only. HAVING over these
        # aliases rebuilds time literals TYPED (_operand_spec "tlit"), so
        # the round-4 conservative fallback is gone.
        if spec[0] in ("min", "max") \
                and a_type in ("timestamp", "timestamp_ntz", "date"):
            continue
        if spec[0] in ("min", "max") and a_type == "string":
            # routes through the composite kernel as a combo dimension
            # (like count(distinct)/percentile) — "alphabetically first
            # source per group" finishes as F.min over the combo rows
            if alias in faggs:
                raise _Unroutable("FILTER clause on a string min/max")
            str_mm.add(spec[1])
            continue
        raise _Unroutable(
            f"{spec[0]}({spec[1]}) over type {a_type}")
    if any(alias.startswith("__") for alias in aggs):
        raise _Unroutable("alias with reserved '__' prefix")
    if hidden and set(hidden) & {n for n, _, _ in out_cols}:
        # a visible output (a group key could too) named like a hidden
        # expression slot would collide in the finishing frame
        raise _Unroutable("output name collides with a hidden slot")
    out_names = [n for n, _, _ in out_cols]
    if len({n.lower() for n in out_names}) != len(out_names):
        # Spark resolves column names case-insensitively by default, so
        # the finishing selects' name-based rebinds (expr/gexpr outputs,
        # declared-order reselect) would hit AMBIGUOUS_REFERENCE on
        # outputs differing only by case — fall back, Spark's positional
        # plan handles them natively
        raise _Unroutable("output names differ only by case")
    if gsets is not None:
        if any(n.lower() == "__gid" for n in out_names + group_cols):
            # the per-set frames carry the grouping id in a __gid column
            raise _Unroutable("output name collides with the grouping id "
                              "column")
        if any(_PARTIAL_COL_RE.match(g) for g in group_cols):
            # the per-set re-aggregation frame holds the kernel partials
            # beside the keys — a key named like one would be ambiguous
            raise _Unroutable("group output name collides with a kernel "
                              "partial column")
    orx_cons = [c for c in constraints if c[0] == "orx"]
    plain_cons = [c for c in constraints if c[0] != "orx"]
    predicates = _constraints_to_predicates(plain_cons)
    orx_preds = None
    orx_signs = None
    if orx_cons:
        if gsets is not None:
            # the inclusion-exclusion composition joins per-group across
            # passes — composing it per grouping SET too is untested
            # surface for a marginal shape
            raise _Unroutable("cross-column OR under grouping sets")
        # cross-column OR routes via inclusion-exclusion: |A or B| =
        # |A| + |B| - |A and B| holds row-wise (SQL WHERE is a row
        # filter; NULL conditions are non-matches on both sides), and
        # count/sum/avg(=sum/nn)/nncount are additive over disjoint row
        # sets while min/max compose as least/greatest of the branch
        # passes — so conjunctive metadata passes answer the OR exactly,
        # ungrouped (one-row composition) or grouped (per-group null-safe
        # outer-join composition, round 5). The A-AND-B pass runs only
        # when an additive partial is read; min/max/DISTINCT-only shapes
        # take two passes. count(distinct) rides the same passes: its
        # value is NOT row-additive (a value can match A-rows and B-rows
        # without any row matching both), but the composite kernel's
        # per-(group, value) combo rows ARE a set union across the branch
        # passes — the finishing count-distinct reads them sign-filtered
        # (see _execute_route's union-with-sign composition).
        if len(orx_cons) > 1:
            raise _Unroutable("multiple cross-column ORs")
        brs = orx_cons[0][2]
        n_br = len(brs)
        orx_preds = [_constraints_to_predicates(plain_cons + b)
                     for b in brs]
        orx_signs = [1] * n_br
        if any(spec[0] in ("count", "nncount", "sum", "avg")
               for spec in aggs.values()) or join is not None:
            # a joined statement always takes the intersection passes:
            # the dim-aggregate composition cnt-weights matched partials
            # whether or not a store-side additive output is selected
            # additive outputs need the intersection passes: IE over n
            # branches takes every subset of size >= 2 with sign
            # (-1)^(|S|+1) — 2^n - 1 passes total, which is why the
            # parser caps n at 3 (7 passes). A subset whose merged
            # constraints conflict on one column raises here and the
            # whole statement falls back row-identically.
            import itertools
            for size in range(2, n_br + 1):
                for combo in itertools.combinations(range(n_br), size):
                    merged = list(plain_cons)
                    for i in combo:
                        merged += brs[i]
                    orx_preds.append(_constraints_to_predicates(merged))
                    orx_signs.append(1 if size % 2 == 1 else -1)
    dspecs = {spec for spec in aggs.values()
              if spec[0] in ("cntd", "cntde")}
    if len(dspecs) > 1 and gsets is not None:
        # extra distinct passes re-aggregate per set and join back on
        # (grouping id, keys) — sound because every pass scans the same
        # predicate-matching rows, so per-set group frames are identical
        # row sets on both sides. EXCEPT under duplicated grouping sets:
        # Spark emits the duplicate rows twice and a per-set equi-join
        # would square them (2×2=4) — only that shape falls back
        masks = [tuple(m) for m, _ in gsets]
        if len(set(masks)) != len(masks):
            raise _Unroutable(
                "multiple count(distinct) under duplicate grouping sets")
    if dspecs:
        # COUNT(DISTINCT d) routes through the composite group kernel with
        # d (or, for a derived expression, its raw source columns) as
        # extra GROUP BY dimensions; alongside it the FULL multi-column
        # family composes (late round 5): the combo rows carry the
        # kernel's per-agg-column cnt/sum/nn/mn/mx partial quads, and
        # sum/nn re-add while mn/mx re-min/max across a group's combo
        # rows (they partition the group), so count(*)/count(col)/sum/
        # avg/min/max over any mix of columns finish beside the distinct
        # count in the one kernel pass. Under a cross-column OR the combo
        # rows union across the inclusion-exclusion passes with a sign
        # column: cnt/sum/nn compose sign-weighted, mn/mx read the
        # branch (sign-positive) passes only — extremes over A OR B need
        # no overlap correction because AB-pass rows are A-rows too
        if len(dspecs) > 1 and orx_preds is not None:
            # the sign-weighted union composition carries ONE distinct
            # value dimension; a second would multiply combo rows
            raise _Unroutable(
                "multiple count(distinct) under cross-column OR")
        dsrcs = []
        for dspec in dspecs:
            for s in ([dspec[1]] if dspec[0] == "cntd"
                      else list(dspec[2])):
                if s not in dsrcs:
                    dsrcs.append(s)
        vcols = {spec[1] for spec in aggs.values()
                 if spec[0] in ("sum", "avg", "min", "max", "nncount")}
        if any(spec[0] not in ("count", "sum", "avg", "min", "max",
                               "nncount", "cntd", "cntde")
               for spec in aggs.values()):
            raise _Unroutable(
                "count(distinct) beside a non-routable aggregate")
        if any(dspec[0] == "cntd" and dspec[1] in group_cols
               for dspec in dspecs):
            raise _Unroutable("count(distinct) column reused")
        if set(dsrcs) & vcols:
            # the kernel's agg column cannot double as a group dimension
            raise _Unroutable("count(distinct) column reused")
        if set(dsrcs) & derived_outs:
            # any derived (time or scalar) key whose ALIAS matches a
            # distinct-source column shadows it in the combo frame: the
            # kernel-dim dedup would skip the raw column and the distinct
            # expression would read derived key values instead
            raise _Unroutable(
                "count(distinct) source shadowed by a derived key name")
        if any(c.startswith("__") for c in group_cols + dsrcs):
            raise _Unroutable("column with reserved '__' prefix")
    elif group_cols:
        # the aggregate kernel carries cnt/sum/nn/mn/mx partials per agg
        # column, every column in one combined-key pass of
        # group_multi_table(agg_specs=...) — so the whole grouped family
        # routes: count(*) + count/sum/avg/min/max over any mix of
        # columns; WHERE masks their code streams. COUNT(col) rides the
        # nn partial; columns referenced ONLY by count(col) never decode
        # (validity bitmaps)
        if any(spec[0] not in ("count", "sum", "avg", "min", "max",
                               "nncount", "pctl")
               for spec in aggs.values()):
            raise _Unroutable(
                "grouped aggregate beyond count(*) + "
                "count/sum/avg/min/max/percentile")
    pctl_cols = {spec[1] for spec in aggs.values() if spec[0] == "pctl"}
    if pctl_cols:
        # exact percentile/median rides the composite kernel like
        # count(distinct): the column joins the GROUP BY dimensions, and
        # the finishing computes the weighted percentile over the
        # O(groups x ndv) (value, count) combo rows — the compositions
        # that would multiply combo rows stay named fallbacks
        if len(pctl_cols) > 1:
            raise _Unroutable("several percentile columns")
        if orx_preds is not None:
            raise _Unroutable("percentile under cross-column OR")
        if gsets is not None:
            raise _Unroutable("percentile under grouping sets")
        if join is not None:
            raise _Unroutable("percentile in a joined statement")
        pcol = next(iter(pctl_cols))
        vcols = {spec[1] for spec in aggs.values()
                 if spec[0] in ("sum", "avg", "min", "max", "nncount")}
        if pcol in group_cols or pcol in vcols:
            # a kernel group dimension cannot double as an agg column
            raise _Unroutable("percentile column reused")
        if pcol in derived_outs:
            raise _Unroutable(
                "percentile source shadowed by a derived key name")
        if pcol.startswith("__") or _PARTIAL_COL_RE.match(pcol):
            raise _Unroutable(
                "percentile column collides with a kernel column")
    strmm = None
    if str_mm:
        # string MIN/MAX rides the composite kernel as a combo dimension;
        # the compositions that would multiply combo rows stay fallbacks
        # (mirrors the percentile guards — the two share one dimension
        # slot, and string vs integral typing makes them exclusive)
        if len(str_mm) > 1:
            raise _Unroutable("several string min/max columns")
        if pctl_cols:
            raise _Unroutable("string min/max beside percentile")
        if dspecs:
            raise _Unroutable("string min/max beside count(distinct)")
        if orx_preds is not None:
            raise _Unroutable("string min/max under cross-column OR")
        if gsets is not None:
            raise _Unroutable("string min/max under grouping sets")
        if join is not None:
            raise _Unroutable("string min/max in a joined statement")
        strmm = next(iter(str_mm))
        svcols = {spec[1] for spec in aggs.values()
                  if spec[0] in ("sum", "avg", "nncount")}
        if strmm in svcols:
            raise _Unroutable("string min/max column reused")
        if strmm in derived_outs:
            raise _Unroutable(
                "string min/max source shadowed by a derived key name")
        if strmm.startswith("__") or _PARTIAL_COL_RE.match(strmm):
            raise _Unroutable(
                "string min/max column collides with a kernel column")
    faggs_route = None
    if faggs:
        # FILTER (WHERE ...) aggregates: each runs as its own predicate
        # pass (statement WHERE AND the filter — conflicting bounds
        # raise here and the statement falls back), composed onto the
        # base group frame by null-safe left joins
        if orx_preds is not None:
            raise _Unroutable("FILTER clause under cross-column OR")
        if gsets is not None:
            raise _Unroutable("FILTER clause under grouping sets")
        sel_groups = {g for _, k, g in out_cols if k == "group"}
        if not sel_groups >= set(group_cols):
            # the composition joins the filtered passes back on the
            # SELECTED group outputs; an unselected GROUP BY key would
            # leave the join keyed on a partial group (row multiplication)
            raise _Unroutable("FILTER clause with an unselected group key")
        if any(n == "_fprobe" for n, _, _ in out_cols):
            # the execution may inject a probe count under this name
            raise _Unroutable("output name collides with the filter "
                              "probe column")
        faggs_route = {
            a: [list(sp), _constraints_to_predicates(plain_cons + fcons)]
            for a, (sp, fcons) in faggs.items()}
    if join is not None:
        if orx_preds is not None and dspecs:
            # count(distinct) rides sign-weighted COMBO rows; composing
            # those with dim-key multiplicity would need sign-aware
            # value dedup per matched pair — stays a named fallback
            raise _Unroutable(
                "count(distinct) under cross-column OR in a joined "
                "statement")
        # kernel pass dimensions: the store-side join keys plus the
        # store-side group keys (deduplicated — a key may be both);
        # TIME-derived store keys derive IN the kernel under their out
        # name (kernel_gargs carries the engine transform triples)
        kframe: list[str] = []
        kgargs: list = []
        for sk, _ in join["pairs"]:
            if sk not in kframe:
                kframe.append(sk)
                kgargs.append(sk)
        for (src, tr), out in zip(parsed, g_names):
            if tr is None:
                if src not in kframe:
                    kframe.append(src)
                    kgargs.append(src)
            elif tr[0] != "dimkey":
                # time-derived store key — evaluated by the kernel pass
                if out in kframe:
                    raise _Unroutable(
                        "derived key output name collides with a kernel "
                        "dimension")
                kframe.append(out)
                kgargs.append((src, tuple(tr), out))
        join["kernel_keys"] = kframe
        join["kernel_gargs"] = kgargs
        jk_pos = {p for _, p in join["pairs"]}
        for (src, tr), out in zip(parsed, g_names):
            if tr is None or (tr[0] == "dimkey" and tr[1] in jk_pos):
                # store keys keep their names; a dim key that IS a join
                # key resolves to the equal store column instead
                continue
            if _PARTIAL_COL_RE.match(out) or out.startswith("__"):
                # the joined finishing frame carries the kernel partials
                # beside the group outputs (dim keys AND derived keys)
                raise _Unroutable(
                    "group output name collides with a kernel column")
        for alias in (join.get("dim_aggs") or {}):
            if _PARTIAL_COL_RE.match(alias):
                # the finishing aggregation emits the re-merged partials
                # under their kernel names beside the dim-agg outputs
                raise _Unroutable(
                    "dim aggregate alias collides with a kernel column")
        dl: list[tuple] = []
        for spec in aggs.values():
            if spec[0] in ("cntd", "cntde") and spec not in dl:
                dl.append(spec)
        if len(dl) > 1:
            # several distinct columns need one kernel pass each plus
            # null-safe per-pass joins — composing that with the dim
            # join is untested surface
            raise _Unroutable(
                "several count(distinct) columns in a joined statement")
        if dl:
            # group outputs carry their COLUMN names through the joined
            # finishing frame (SELECT aliases apply in the final
            # projection), so a re-aliased store key never shadows a
            # distinct source; dim keys named like one are caught by the
            # derived-key-shadow check above. A store column named like
            # a kernel partial would collide when carried beside them.
            srcs0 = [dl[0][1]] if dl[0][0] == "cntd" else list(dl[0][2])
            if any(_PARTIAL_COL_RE.match(s) or s.startswith("__")
                   for s in srcs0):
                raise _Unroutable(
                    "count(distinct) source collides with a kernel column")
    having = None
    if having_cond is not None:
        # "__by_spec" lets HAVING BETWEEN's inline aggregates bind to
        # outputs computing the identical spec (string key beside the
        # int exprIds — never collides)
        hids = dict(ids)
        hids["__by_spec"] = {spec: alias for alias, spec in aggs.items()}
        having = _having_spec(having_cond, hids)
    final = None
    if project is not None:
        final = []  # (source output name, final name)
        for i in range(project.size()):
            item = project.apply(i)
            out_name = str(item.name())
            if _cls(item) == "Alias":
                item = item.child()
            if _cls(item) != "AttributeReference":
                raise _Unroutable("projection over a non-output expression")
            key = int(item.exprId().id())
            if key not in ids:
                raise _Unroutable("projection of a non-Aggregate output")
            final.append((ids[key], out_name))
    return {
        "out_dir": stores[view],
        "join": join,
        "group_col": (group_cols[0]
                      if len(group_cols) == 1 and not derived
                      and gsets is None and join is None else None),
        "group_cols": group_cols,
        "group_specs": group_specs,
        "aggs": aggs,
        "faggs": faggs_route,
        "strmm": strmm,
        "predicates": predicates,
        "orx": orx_preds,
        "orx_signs": orx_signs,
        "orx_branches": (len(orx_cons[0][2]) if orx_cons else None),
        "gsets": ([[list(m), g] for m, g in gsets]
                  if gsets is not None else None),
        "out_cols": out_cols,
        "hidden": hidden,
        "having": having,
        "final": final,
        "final_after_order": final_after_order,
        "order": _resolve_order(order, ids),
        "limit": limit_k,
    }


def _window_exec(df: DataFrame, window: dict) -> DataFrame:
    """Rebuild the parsed Window node stack + mid projection over the
    routed aggregate frame (O(groups) rows). Every function is pyspark's
    own — same implementation Spark's fallback plan runs, just over the
    metadata-answered frame instead of a full decode."""
    from pyspark.sql.window import Window as W

    bound = {"up": W.unboundedPreceding, "uf": W.unboundedFollowing,
             "cr": W.currentRow}
    for node in window["wins"]:
        for x in node:
            w = W.partitionBy(*[F.col(c) for c in x["part"]])
            if x["order"]:
                keys = []
                for name, direction, nulls in x["order"]:
                    c = F.col(name)
                    if direction == "ASC":
                        keys.append(c.asc_nulls_first()
                                    if nulls == "NULLS FIRST"
                                    else c.asc_nulls_last())
                    else:
                        keys.append(c.desc_nulls_first()
                                    if nulls == "NULLS FIRST"
                                    else c.desc_nulls_last())
                w = w.orderBy(*keys)
            if x["frame"] is not None:
                kind, lo, hi = x["frame"]
                lo = bound.get(lo, lo)
                hi = bound.get(hi, hi)
                w = (w.rowsBetween(lo, hi) if kind == "rows"
                     else w.rangeBetween(lo, hi))
            fs = x["fn"]
            k = fs[0]
            if k == "agg":
                col = getattr(F, fs[1])(F.col(fs[2]))
            elif k == "aggstar":
                col = F.count(F.lit(1))
            elif k == "ntile":
                col = F.ntile(fs[1])
            elif k in ("first", "last"):
                col = getattr(F, k)(F.col(fs[1]), fs[2])
            elif k == "nth_value":
                col = F.nth_value(F.col(fs[1]), fs[2], fs[3])
            elif k in ("lag", "lead"):
                col = getattr(F, k)(F.col(fs[1]), fs[2], fs[3])
            else:  # rank / dense_rank / row_number / percent_rank / cume_dist
                col = getattr(F, k)()
            df = df.withColumn(x["out"], col.over(w))
    sel = [(F.expr(spec) if kind == "sqlexpr" else F.col(spec)).alias(out)
           for kind, spec, out in window["mid"]]
    return df.select(*sel)


def _finish(df: DataFrame, r: dict) -> DataFrame:
    """Apply the peeled HAVING / projection / ORDER BY over the routed
    aggregate result (all tiny: O(groups) rows). When the analyzed plan
    was Project(Sort(...)) — ORDER BY a hidden aggregate the projection
    drops — the sort/limit run BEFORE the projection
    (``final_after_order``); otherwise the projection's outputs are what
    the sort saw, so it applies first."""
    if r.get("having") is not None:
        df = df.filter(_having_col(r["having"], df))
    if r.get("window") is not None:
        df = _window_exec(df, r["window"])

    def order_limit(df: DataFrame) -> DataFrame:
        if r.get("order"):
            df = df.orderBy(*[F.col(n).desc() if desc else F.col(n).asc()
                              for n, desc in r["order"]])
        if r.get("limit") is not None:
            df = df.limit(r["limit"])
        return df

    def project(df: DataFrame) -> DataFrame:
        if r.get("final") is not None:
            df = df.select(*[df[src].alias(out)
                             for src, out in r["final"]])
        return df

    if r.get("final_after_order"):
        return project(order_limit(df))
    return order_limit(project(df))


def _orx_shape(r: dict) -> tuple[int, list[int], list[str]]:
    """(branch count, per-pass IE signs, per-pass tags) for a cross-column
    OR route. Route dicts predate the n-branch generalization carry no
    signs — those were always 2 branches (+ optional A-AND-B pass)."""
    n_pass = len(r["orx"])
    n_br = r.get("orx_branches") or 2
    signs = r.get("orx_signs") or ([1, 1, -1][:n_pass])
    return n_br, signs, [f"t{i}" for i in range(n_pass)]


def _orx_agg(spark: SparkSession, r: dict) -> DataFrame:
    """Ungrouped aggregates under a cross-column OR: three routed
    :func:`engine.agg_table` passes — branch A, branch B, A AND B — then
    inclusion-exclusion over the three one-row results. Each pass gets the
    full pruning stack (proven buckets answer from commit records, only
    boundary chunks decode), so ``WHERE ts >= T OR lang = 'x'`` on a
    clustered store still reads a handful of buckets per pass instead of
    falling back to a full decode.

    Composition per aggregate (SQL null semantics):
    count/count(col) = cA + cB - cAB (empty passes contribute 0);
    sum = the same over per-pass sums, NULL iff the composed non-null
    count is 0 (per-pass NULL sums coalesce to 0 — they always co-occur
    with a 0 nn); avg = composed exact sum / composed non-null count, one
    double division exactly like the kernel's own avg; min/max =
    least/greatest of the TWO branch passes (both skip NULLs; the A-and-B
    pass cannot contribute a new extreme), cast back to the column's own
    type for schema parity."""
    out_dir, aggs = r["out_dir"], r["aggs"]
    # partials needed across the passes, deduplicated by (fn, col) spec
    need: dict[tuple, str] = {}

    def req(spec: tuple) -> str:
        return need.setdefault(spec, f"p{len(need)}")

    comp: dict[str, tuple] = {}  # output alias -> composition recipe
    for alias, spec in aggs.items():
        fn = spec[0]
        if fn == "count":
            comp[alias] = ("count", req(("count",)))
        elif fn == "nncount":
            comp[alias] = ("count", req(("nncount", spec[1])))
        elif fn in ("sum", "avg"):
            comp[alias] = (fn, req(("sum", spec[1])),
                           req(("nncount", spec[1])))
        else:  # min / max
            comp[alias] = (fn, req((fn, spec[1])))
    pass_aggs = {a: spec for spec, a in need.items()}
    # the intersection passes only feed the additive compositions —
    # computing min/max partials there would decode agg columns for
    # results the composition never reads
    ab_aggs = {a: spec for a, spec in pass_aggs.items()
               if spec[0] not in ("min", "max")}
    n_br, signs, tags = _orx_shape(r)
    dfs = [
        engine.agg_table(spark, out_dir,
                         ab_aggs if i >= n_br else pass_aggs,
                         predicates=p or None)
        .select(*[F.col(a).alias(f"{a}_{tags[i]}")
                  for a in (ab_aggs if i >= n_br else pass_aggs)])
        for i, p in enumerate(r["orx"])
    ]
    j = dfs[0]
    for d in dfs[1:]:
        j = j.crossJoin(d)

    def ie(p: str):  # IE over one partial across every pass, signed
        out = None
        for s, t in zip(signs, tags):
            leg = F.coalesce(F.col(f"{p}_{t}"), F.lit(0)) * F.lit(s)
            out = leg if out is None else out + leg
        return out

    sel = []
    for name, _, _ in _augmented_out(r):
        k = comp[name]
        if k[0] == "count":
            sel.append(ie(k[1]).cast("long").alias(name))
        elif k[0] == "sum":
            nn = ie(k[2])
            sel.append(F.when(nn > 0, ie(k[1])).cast("long").alias(name))
        elif k[0] == "avg":
            nn = ie(k[2])
            sel.append(F.when(nn > 0, ie(k[1]) / nn)
                       .cast("double").alias(name))
        else:  # min / max in the kernel's int64 domain: null-skipping
            # least/greatest over the BRANCH passes (intersection rows
            # are branch rows too, so they add no extreme)
            f = F.least if k[0] == "min" else F.greatest
            sel.append(f(*[F.col(f"{k[1]}_{tags[i]}")
                           for i in range(n_br)])
                       .cast("long").alias(name))
    out = j.select(*sel)
    if any(aggs[n][0] in ("min", "max") for n, _, _ in _augmented_out(r)):
        from pyspark.sql import types as T
        meta = datasource._read_meta(out_dir)
        by_field = {f.name: f.dataType for f in
                    T.StructType.fromJson(meta["spark_schema"]).fields}
        out = out.select(*[
            _minmax_back(n, by_field[aggs[n][1]]).alias(n)
            if aggs[n][0] in ("min", "max") else F.col(n)
            for n, _, _ in _augmented_out(r)])
    return out


def _agg_src_list(aggs: dict) -> tuple[list[str], set[str]]:
    """Ordered distinct agg source columns and the value-aggregated subset
    (a column is value-aggregated if any sum/avg/min/max spec touches it;
    nncount alone = count-only): :func:`engine._agg_specs`, the derivation
    the kernel passes themselves run, so the partial indices here and in
    every pass agree."""
    specs = engine._agg_specs(aggs)
    return [c for c, _ in specs], {c for c, co in specs if not co}


def _grouped_partials(spark: SparkSession, out_dir: str, aggs: dict,
                      gargs: list, preds: dict | None, merge: bool = True):
    """One grouped kernel pass: a per-group DataFrame carrying the partial
    columns the finishing select reads — ``cnt`` plus ``sum{j}/nn{j}/
    mn{j}/mx{j}`` per agg column — and the agg-column -> index map naming
    them. ``merge=False`` returns the pre-merge per-bucket partials: the
    derived-scalar-key caller re-keys on the rebuilt expression FIRST and
    performs the single groupBy itself, so map-side combine collapses on
    the final low-cardinality key instead of shuffling raw groups."""
    specs = engine._agg_specs(aggs)
    base = engine.group_multi_table(spark, out_dir, gargs,
                                    predicates=preds or None,
                                    agg_specs=specs, merge=merge)
    return base, {c: j for j, (c, _) in enumerate(specs)}


def _orx_grouped(spark: SparkSession, r: dict, gargs: list,
                 kcols: list[str]):
    """Grouped aggregates under a cross-column OR: one grouped kernel pass
    per inclusion-exclusion predicate set (A, B, and — only when an
    additive partial is read — A AND B), composed PER GROUP into a frame
    with the same partial-column names the single-pass finishing select
    reads. The observed group set is the union of the branch passes (a
    group cannot appear only in the A-AND-B pass: its rows match A too),
    joined null-safely (a NULL group value is a real SQL group).

    Per-group composition: cnt / nn additive (cA + cB - cAB, absent
    passes 0); sum additive with the same nn-guard null semantics as the
    ungrouped path; mn/mx = null-skipping least/greatest of the TWO
    branch passes in the kernels' int64 domain (the finishing select
    casts back). min/max/DISTINCT-only shapes skip the third pass
    entirely — extremes and group membership need no overlap
    correction."""
    # compose on the KERNEL group columns (raw sources for derived scalar
    # keys); the caller derives + re-groups onto the final keys after
    out_dir, aggs, gcols = r["out_dir"], r["aggs"], kcols
    # the partial columns the finishing select reads; sums carry their
    # paired nn name for the NULL-iff-no-non-null-rows guard
    parts: list[tuple] = []  # (partial name, kind, aux nn name | None)
    seen: set[str] = set()
    src_probe, _ = _agg_src_list(aggs)  # same derivation as the passes
    jmap_probe = {c: j for j, c in enumerate(src_probe)}

    def kn(kind: str, col: str) -> str:
        return f"{kind}{jmap_probe[col]}"

    def add(name: str, kind: str, aux: str | None = None):
        if name not in seen:
            seen.add(name)
            parts.append((name, kind, aux))

    for spec in aggs.values():
        fn = spec[0]
        if fn == "count":
            add("cnt", "cnt")
        elif fn == "nncount":
            add(kn("nn", spec[1]), "nn")
        elif fn in ("sum", "avg"):
            add(kn("nn", spec[1]), "nn")
            add(kn("sum", spec[1]), "sum", kn("nn", spec[1]))
        elif fn == "min":
            add(kn("mn", spec[1]), "mn")
        else:  # max
            add(kn("mx", spec[1]), "mx")
    preds_list = r["orx"]
    n_br, signs, tags = _orx_shape(r)
    # the intersection passes feed only the additive compositions: demote
    # their min/max specs to nncount on the same column, so a column
    # aggregated ONLY by min/max runs count-only there (validity bitmaps,
    # values never decode) while src_list order — and with it every
    # kernel partial name — stays identical across the passes (mn/mx
    # columns come back NULL in count-only mode, present but unread)
    ab_aggs = {alias: (("nncount", spec[1])
                       if spec[0] in ("min", "max") else spec)
               for alias, spec in aggs.items()}
    passes = []
    for i, p in enumerate(preds_list):
        b, jmap = _grouped_partials(
            spark, out_dir, ab_aggs if i >= n_br else aggs, gargs, p)
        passes.append(b)
    part_names = [n for n, _, _ in parts]
    tagged = [p.select(*[F.col(c).alias(f"{c}__{t}")
                         for c in gcols + part_names])
              for p, t in zip(passes, tags)]
    # observed groups = union of the BRANCH passes (an intersection pass
    # cannot hold a group its branches lack): chain full outer joins over
    # the branches, carrying the coalesced key forward
    u = tagged[0]
    key = {g: u[f"{g}__{tags[0]}"] for g in gcols}
    for i in range(1, n_br):
        t = tagged[i]
        cond = None
        for g in gcols:
            c = key[g].eqNullSafe(t[f"{g}__{tags[i]}"])
            cond = c if cond is None else (cond & c)
        u = u.join(t, cond, "full_outer")
        key = {g: F.coalesce(key[g], u[f"{g}__{tags[i]}"]) for g in gcols}
    for i in range(n_br, len(tagged)):
        t = tagged[i]
        cond = None
        for g in gcols:
            c = key[g].eqNullSafe(t[f"{g}__{tags[i]}"])
            cond = c if cond is None else (cond & c)
        u = u.join(t, cond, "left_outer")

    def ie(name: str):  # signed IE over one partial across every pass
        out = None
        for s, t in zip(signs, tags):
            leg = F.coalesce(F.col(f"{name}__{t}"), F.lit(0)) * F.lit(s)
            out = leg if out is None else out + leg
        return out

    sel = [key[g].alias(g) for g in gcols]
    for name, kind, aux in parts:
        if kind in ("cnt", "nn"):
            sel.append(ie(name).cast("long").alias(name))
        elif kind == "sum":
            sel.append(F.when(ie(aux) > 0, ie(name))
                       .cast("long").alias(name))
        else:  # mn / mx: null-skipping extremes over the branch passes
            f = F.least if kind == "mn" else F.greatest
            sel.append(f(*[F.col(f"{name}__{tags[i]}")
                           for i in range(n_br)])
                       .cast("long").alias(name))
    return u.select(*sel), jmap


#: kernel partial-column names in the grouped frames (cnt + the indexed
#: sum/nn/mn/mx quads); the unindexed names stay reserved too
_PARTIAL_COL_RE = re.compile(r"^(cnt|(sum|nn|mn|mx)\d*)$")


def _apply_derived(base: DataFrame, r: dict) -> DataFrame:
    """Evaluate the derived scalar group keys (``("sqlexpr", sql, srcs)``
    specs) over a raw-grouped partial frame — Spark runs the rebuilt
    expression on O(observed raw groups) rows, never per source row."""
    for src, tr, out in r.get("group_specs") or []:
        if tr and tr[0] == "sqlexpr":
            base = base.withColumn(out, F.expr(tr[1]))
    return base


def _regroup_derived(base: DataFrame, r: dict) -> DataFrame:
    """Re-group a raw-keyed partial frame onto the final (derived +
    plain) keys: raw groups that map to the same derived value merge —
    cnt/sum/nn re-add, mn/mx re-min/max — exactly the combination the
    kernels' own multi-bucket finishing performs, so every downstream
    reader (finishing select, HAVING, avg division, min/max cast-back)
    is unchanged. On the non-orx path the kernels hand over PRE-merge
    per-bucket partials (merge=False), making this the plan's single
    grouped exchange — keyed on the derived value, so Spark's partial
    hash aggregation collapses the shuffle to O(partitions x derived
    ndv) even when the raw source is high-cardinality (GROUP BY
    substring(url, ...) never shuffles per-raw-url rows)."""
    if not any(tr and tr[0] == "sqlexpr"
               for _, tr, _ in r.get("group_specs") or []):
        return base
    base = _apply_derived(base, r)
    fins = []
    for c in base.columns:
        if not _PARTIAL_COL_RE.match(c):
            continue
        if c.startswith("mn"):
            fins.append(F.min(c).cast("long").alias(c))
        elif c.startswith("mx"):
            fins.append(F.max(c).cast("long").alias(c))
        else:  # cnt / sum* / nn* — additive
            fins.append(F.sum(c).cast("long").alias(c))
    if not fins:
        # SELECT DISTINCT over derived keys composed under a cross-column
        # OR: the orx frame carries no partial columns — deduping the
        # derived values IS the re-group (an empty agg() would raise)
        return base.select(*r["group_cols"]).distinct()
    return base.groupBy(*r["group_cols"]).agg(*fins)


def _gsets_expand(base: DataFrame, r: dict) -> DataFrame:
    """ROLLUP / CUBE / GROUPING SETS finishing: re-aggregate the fully
    merged finest-grouping partial frame once per grouping set —
    cnt/sum/nn re-add, mn/mx re-min/max, the exact combination the
    kernels' own multi-bucket merging performs — with grouped-out keys
    as typed nulls and the set's literal grouping id in ``__gid``, then
    union the sets. Every re-aggregation runs over the O(groups) partial
    rows, so a rollup over 10^12 source rows costs ONE kernel pass plus
    per-set shuffles of tiny frames. A set keeping every key skips its
    re-group (the frame is already merged at that grouping); duplicate
    sets union duplicate rows, exactly as Spark's Expand emits them.
    Empty input yields zero rows for every set — including the global
    () set — matching Spark, where Expand emits nothing to group."""
    parts = [c for c in base.columns if _PARTIAL_COL_RE.match(c)]
    gcols = r["group_cols"]
    by_dt = {g: base.schema[g].dataType for g in gcols}
    frames = []
    for mask, gid in r["gsets"]:
        f = base.withColumn("__gid", F.lit(gid).cast("long"))
        if all(mask):
            frames.append(f.select("__gid", *gcols, *parts))
            continue
        present = [g for g, m in zip(gcols, mask) if m]
        fins = []
        for c in parts:
            if c.startswith("mn"):
                fins.append(F.min(c).cast("long").alias(c))
            elif c.startswith("mx"):
                fins.append(F.max(c).cast("long").alias(c))
            else:  # cnt / sum* / nn* — additive (sums wrap mod 2^64
                # identically whether merged once or twice)
                fins.append(F.sum(c).cast("long").alias(c))
        f = f.groupBy("__gid", *present).agg(*fins)
        for g, m in zip(gcols, mask):
            if not m:
                f = f.withColumn(g, F.lit(None).cast(by_dt[g]))
        frames.append(f.select("__gid", *gcols, *parts))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _exec_join(spark: SparkSession, r: dict):
    """Joined-statement execution (late round 5): ONE grouped kernel pass
    keyed on the store-side join keys (plus store-side group keys)
    collapses the store to O(key ndv) pre-merge partial rows with the full
    bucket/zone-map pruning stack; the dim subplan re-materializes via
    ``Dataset.ofRows`` and BROADCASTS into an inner equi-join against
    those partials — a dim row with k key matches duplicates a partial k
    times, exactly the row-level inner-join multiplicity, and NULL store
    keys drop at the equality, matching SQL inner-join semantics — then
    ONE groupBy on the final output keys re-merges the partials (cnt/sum/
    nn re-add, mn/mx re-min/max: the kernels' own multi-bucket
    combination). At 10^12 rows the store never shuffles raw rows: the
    plan's single exchange carries O(partitions x join-key ndv) partials
    keyed on the FINAL group columns."""
    from pyspark.sql import DataFrame as _DF
    jn = r["join"]
    kcols = list(jn["kernel_keys"])
    # ONE count(distinct) composes with the join (the route limits to
    # one): its raw source column(s) ride the kernel pass as extra combo
    # dimensions; the finishing count_distinct runs over the joined combo
    # rows, where dim-key multiplicity duplicates combos but never VALUES
    dspec = next((s for s in r["aggs"].values()
                  if s[0] in ("cntd", "cntde")), None)
    dsrcs: list[str] = []
    if dspec is not None:
        dsrcs = [dspec[1]] if dspec[0] == "cntd" else list(dspec[2])
    ddims = [s for s in dsrcs if s not in kcols]
    kgargs = list(jn.get("kernel_gargs") or kcols)
    if r.get("orx"):
        # cross-column OR (late round 5): the inclusion-exclusion
        # passes compose per kernel-key group BEFORE the dim join — the
        # composed cnt/sum/nn/mn/mx partials are the true OR-matched
        # per-group values, and the dim multiplicity weighting below is
        # linear over them. The route guarantees the intersection
        # passes exist (dim aggregates cnt-weight matched partials);
        # "__orxjc" forces the cnt partial into the composed frame even
        # when no store-side count output asked for it (a dict key
        # only, never a column name)
        r2 = dict(r)
        r2["aggs"] = {**r["aggs"], "__orxjc": ("count",)}
        base, jmap = _orx_grouped(spark, r2, kgargs + ddims, kcols + ddims)
    else:
        base, jmap = _grouped_partials(
            spark, r["out_dir"], r["aggs"], kgargs + ddims,
            r["predicates"] or None, merge=False)
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, jn["plan"].jplan)
    dim = _DF(jdf, spark).toDF(*[f"__dim{i}" for i in range(jn["n_dim"])])
    dim_aggs: dict = jn.get("dim_aggs") or {}
    need = sorted({p for _, p in jn["pairs"]}
                  | {tr[1] for _, tr, _ in r["group_specs"]
                     if tr and tr[0] == "dimkey"}
                  | {p for _, p, _ in dim_aggs.values()})
    dim = F.broadcast(dim.select(*[dim[f"__dim{p}"] for p in need]))
    cond = None
    for sk, p in jn["pairs"]:
        c = base[sk] == dim[f"__dim{p}"]
        cond = c if cond is None else cond & c
    # store-preserving outer join: unmatched store groups keep NULL dim
    # columns — the partial composition is the same left join
    joined = base.join(dim, cond, "left" if jn.get("outer") else "inner")
    jk_store = {p: sk for sk, p in jn["pairs"]}
    sel = []
    for src, tr, out in r["group_specs"]:
        if tr and tr[0] == "dimkey":
            p = tr[1]
            # a dim key that IS a join key equals the store column on
            # every surviving row — read the store side (no payload col).
            # NOT under an outer join: an unmatched row's dim key is
            # NULL while the store key is not.
            col = base[jk_store[p]] \
                if p in jk_store and not jn.get("outer") \
                else dim[f"__dim{p}"]
            sel.append(col.alias(out))
        elif tr:
            # time-derived store key — the kernel pass emitted it typed
            # under its output name
            sel.append(base[out].alias(out))
        else:
            sel.append(base[src].alias(out))
    parts = [c for c in base.columns if _PARTIAL_COL_RE.match(c)]
    # dim-side aggregates (late round 5): every matched (partial, dim-row)
    # pair stands for exactly cnt store rows, so per-pair helper columns
    # cnt-weight the dim value — sum(d.w) re-adds cnt*w, count(d.w)
    # re-adds cnt where w is non-null, min/max read the value, avg is the
    # quotient. Long products are exact (repeated addition of w, cnt
    # times); double products round once where the row plan rounds per
    # addition — within the same ulp envelope as Spark's own AQE-dependent
    # partial orderings.
    helpers = []
    for alias, (fn, p, dt) in dim_aggs.items():
        d, c = dim[f"__dim{p}"], base["cnt"]
        if fn == "sum":
            helpers.append((d.cast(dt) * c).alias(f"__dj_{alias}"))
        elif fn == "avg":
            helpers.append((d.cast("double") * c).alias(f"__dj_{alias}"))
            helpers.append(F.when(d.isNotNull(), c).alias(f"__djn_{alias}"))
        elif fn == "nncount":
            helpers.append(F.when(d.isNotNull(), c).alias(f"__dj_{alias}"))
        else:  # min / max
            helpers.append(d.alias(f"__dj_{alias}"))
    # distinct-source columns not already present as an identically-named
    # group output carry through under their raw names (a group output of
    # the same name IS the same store column — parse guards shadowing)
    outs = {out for _, _, out in r["group_specs"]}
    dcarry = [s for s in dsrcs if s not in outs]
    joined = joined.select(*sel, *[base[c] for c in parts], *helpers,
                           *[base[c] for c in dcarry])
    gcols = r["group_cols"]
    fins = []
    if dspec is not None:
        dval = F.col(dspec[1]) if dspec[0] == "cntd" else F.expr(dspec[1])
        for alias, spec in r["aggs"].items():
            if spec[0] in ("cntd", "cntde"):
                # SQL count(distinct) excludes NULL — count_distinct
                # skips them; 0 (not NULL) over an empty join
                fins.append(F.count_distinct(dval)
                            .cast("long").alias(alias))
    for alias, (fn, p, dt) in dim_aggs.items():
        src = f"__dj_{alias}"
        if fn == "sum":
            # NULL iff no non-null dim value matched — F.sum's own
            # all-null/empty semantics, grouped or not
            e = F.sum(src).cast(dt)
        elif fn == "nncount":
            # count is 0, never NULL — also for a group whose matched dim
            # values are ALL null (the helper emits NULL there, F.sum
            # skips every row)
            e = F.coalesce(F.sum(src), F.lit(0)).cast("long")
        elif fn == "avg":
            e = (F.sum(src) / F.sum(f"__djn_{alias}")).cast(dt)
        elif fn == "min":
            e = F.min(src).cast(dt)
        else:
            e = F.max(src).cast(dt)
        fins.append(e.alias(alias))
    for c in parts:
        if c.startswith("mn"):
            fins.append(F.min(c).cast("long").alias(c))
        elif c.startswith("mx"):
            fins.append(F.max(c).cast("long").alias(c))
        elif gcols:
            # grouped: plain re-adds — a NULL sum partial means zero
            # non-null rows contributed, exactly what F.sum skips
            fins.append(F.sum(c).cast("long").alias(c))
        elif c == "cnt" or c.startswith("nn"):
            # ungrouped: count over an empty join is 0, not NULL
            fins.append(F.coalesce(F.sum(c), F.lit(0))
                        .cast("long").alias(c))
        else:  # ungrouped sum{j}: NULL iff its nn partial total is 0
            fins.append(F.when(F.sum("nn" + c[3:]) > 0, F.sum(c))
                        .cast("long").alias(c))
    if gcols:
        return joined.groupBy(*gcols).agg(*fins), jmap
    return joined.agg(*fins), jmap


def _execute_route(spark: SparkSession, r: dict) -> DataFrame:
    if r.get("kind") == "union":
        # positional set operation over the independently routed
        # branches — the first branch's names win, and the combining op
        # is Spark's own (union/subtract/exceptAll/intersect/
        # intersectAll), so bag/set semantics match the fallback exactly
        df = _execute_route(spark, r["subs"][0])
        setop = r.get("setop", "union")
        for s in r["subs"][1:]:
            other = _execute_route(spark, s)
            if setop == "union":
                df = df.union(other)
            elif setop == "except":
                df = (df.exceptAll(other) if r.get("all")
                      else df.subtract(other))
            else:  # intersect
                df = (df.intersectAll(other) if r.get("all")
                      else df.intersect(other))
        if r["distinct"]:
            df = df.distinct()
        return _finish(df, r)
    if r.get("kind") == "nested":
        # two-level aggregation: the routed inner frame is O(groups)
        # rows; the outer aggregation is pyspark's own groupBy().agg()
        # over it — Spark's aggregate implementations, value- and
        # type-identical to the fallback plan's outer Aggregate
        df = _execute_route(spark, r["inner"])
        o = r["outer"]
        for spec in o["filters"]:
            df = df.filter(_having_col(spec, df))
        sel = []
        for out, fn, operand, distinct in o["aggs"]:
            if fn == "group":
                continue
            if fn == "countstar":
                sel.append(F.count(F.lit(1)).alias(out))
            elif distinct:
                sel.append(F.count_distinct(F.col(operand)).alias(out))
            else:
                sel.append(getattr(F, fn)(F.col(operand)).alias(out))
        df = df.groupBy(*[F.col(g) for g in o["groups"]]).agg(*sel)
        df = df.select(*[(F.col(operand).alias(out) if fn == "group"
                          else F.col(out))
                         for out, fn, operand, _ in o["aggs"]])
        return _finish(df, r)
    if r.get("kind") == "topk":
        return engine.topk_table(
            spark, r["out_dir"], r["order_col"], r["k"],
            descending=r["descending"], tie_col=r["tie_col"],
            columns=r["use_cols"],
            predicates=r.get("predicates") or None)
    out_dir, group_cols = r["out_dir"], r["group_cols"]
    aggs, preds = r["aggs"], r["predicates"]
    if r.get("faggs"):
        # FILTER (WHERE ...) aggregates (round-5 final stretch): the
        # base pass computes the group frame + unfiltered outputs under
        # the statement WHERE (SQL groups form from WHERE-matching rows
        # regardless of per-aggregate filters); each filtered aggregate
        # runs its own kernel pass under WHERE AND filter — pruning per
        # pass — and left-joins back null-safely, so a group whose
        # filter matches nothing keeps count 0 / sum NULL, exactly
        # Spark's semantics
        gouts = [(n, g) for n, k, g in r["out_cols"] if k == "group"]
        base_r = dict(r)
        base_r["faggs"] = None
        base_r["having"] = None
        base_r["final"] = None
        base_r["order"] = None
        base_r["limit"] = None
        base_r["window"] = None
        base_r["out_cols"] = [e for e in r["out_cols"] if e[1] != "fagg"]
        base_r["aggs"] = dict(aggs)
        probe = False
        if not base_r["aggs"] and not (r.get("hidden") or []) \
                and not any(k in ("expr", "gexpr")
                            for _, k, _ in base_r["out_cols"]) \
                and not group_cols:
            # ungrouped statement whose every aggregate is filtered —
            # the base pass needs one output to execute
            probe = True
            base_r["aggs"] = {"_fprobe": ("count",)}
            base_r["out_cols"] = (base_r["out_cols"]
                                  + [("_fprobe", "agg", None)])
        df = _execute_route(spark, base_r)
        if probe:
            df = df.drop("_fprobe")
        for alias, (inner, fpreds) in r["faggs"].items():
            sub = dict(base_r)
            sub["strmm"] = None  # filtered specs are never string min/max
            sub["aggs"] = {alias: tuple(inner)}
            sub["predicates"] = fpreds
            sub["out_cols"] = ([(n, "group", g) for n, g in gouts]
                               + [(alias, "agg", None)])
            sub["hidden"] = []
            fdf = _execute_route(spark, sub)
            if not gouts:
                df = df.crossJoin(fdf)
            else:
                names = [n for n, _ in gouts]
                fdf = fdf.select(
                    *[fdf[n].alias(f"{n}__f") for n in names],
                    fdf[alias])
                cond = None
                for n in names:
                    c = df[n].eqNullSafe(fdf[f"{n}__f"])
                    cond = c if cond is None else (cond & c)
                df = df.join(fdf, cond, "left") \
                       .drop(*[f"{n}__f" for n in names])
            if inner[0] in ("count", "nncount"):
                # count over an unmatched group is 0, never NULL
                df = df.withColumn(
                    alias, F.coalesce(F.col(alias), F.lit(0)))
        df = df.select(*[F.col(n) for n, _, _ in r["out_cols"]])
        return _finish(df, r)
    # engine-facing group args: plain names, (src, transform, out_name)
    # triples for derived time keys, or the RAW source columns for
    # derived scalar keys — those group raw in the kernels and derive +
    # re-group Spark-side (group_specs absent on pre-round-5 route
    # dicts; group_cols alone then means all-plain)
    gspecs = r.get("group_specs")
    if gspecs:
        gargs, kcols = [], []
        for src, tr, out in gspecs:
            if tr and tr[0] == "sqlexpr":
                adds = [(s, s) for s in tr[2]]
            elif tr:
                adds = [(out, (src, tuple(tr), out))]
            else:
                adds = [(out, out)]
            for kname_, garg in adds:
                if kname_ not in kcols:  # a raw src may back several keys
                    kcols.append(kname_)
                    gargs.append(garg)
    else:
        gargs, kcols = list(group_cols), list(group_cols)
    dspecs = {spec for spec in aggs.values()
              if spec[0] in ("cntd", "cntde")}
    if dspecs and not r.get("join"):
        # composite kernel with the distinct column's raw source(s) as
        # extra dimensions (deduped against the kernel group dims); the
        # finishing agg is over O(observed combos) rows and counts
        # distinct VALUES of the (possibly derived) expression — never
        # combo rows, which over-count when a derived group key merges
        # raw groups sharing a value (upper('en')=upper('En') with the
        # same source must count that source once). SEVERAL distinct
        # columns (late round 5) run one kernel pass each — the FIRST
        # carries the non-distinct agg partials — and the per-pass
        # O(groups) results join null-safely on the group keys (every
        # pass scans the same predicate-matching rows, so the observed
        # group sets are identical)
        dlist: list[tuple] = []
        for spec in aggs.values():
            if spec[0] in ("cntd", "cntde") and spec not in dlist:
                dlist.append(spec)

        def ddims_dval(dspec):
            if dspec[0] == "cntd":
                return ([dspec[1]] if dspec[1] not in kcols else [],
                        F.col(dspec[1]))
            return ([s for s in dspec[2] if s not in kcols],
                    F.expr(dspec[1]))

        dmap = {dspec: f"__cntd{i}" for i, dspec in enumerate(dlist)}
        dspec = dlist[0]
        ddims, dval = ddims_dval(dspec)
        # the non-distinct aggregates ride the SAME kernel pass(es): the
        # combo rows PARTITION each group's rows, so the per-agg-column
        # partial quads re-aggregate exactly as multi-bucket merging does
        # (cnt/sum/nn re-add, mn/mx re-min/max) — count(*)/count(col)/
        # sum/avg/min/max over any mix of columns beside the distinct
        # count (late round 5, multi-column since the agg_specs kernel)
        src_list, value_cols = _agg_src_list(aggs)
        jmap = {c: j for j, c in enumerate(src_list)}

        def kn(kind: str, col: str) -> str:
            return f"{kind}{jmap[col]}"

        if r.get("orx"):
            # cross-column OR: one composite-kernel pass per inclusion-
            # exclusion predicate set, unioned with a sign column (+1 for
            # the branch passes, -1 for A AND B). cnt/sum/nn compose as
            # sign-weighted sums per group; count(distinct) and min/max
            # read the BRANCH passes' combo rows only (sign > 0) — the
            # branch (group, value) sets union to exactly the values seen
            # under A OR B and AB-pass rows are A-rows too, so the
            # overlap pass must not cancel values (a value in both
            # branches is still one value) and extremes need no
            # correction. The AB pass demotes min/max to count-only on
            # the same column (keeps src_list order, reads validity only)
            ab_aggs = {alias: (("nncount", spec[1])
                               if spec[0] in ("min", "max") else spec)
                       for alias, spec in aggs.items()}
            n_br, orx_signs, _ = _orx_shape(r)
            passes = []
            for i, (sgn, p) in enumerate(zip(orx_signs, r["orx"])):
                b, jmap = _grouped_partials(
                    spark, out_dir, ab_aggs if i >= n_br else aggs,
                    gargs + ddims, p)
                passes.append(b.withColumn("__sign", F.lit(sgn)))
            base = passes[0]
            for b in passes[1:]:
                base = base.unionByName(b)
            sgn = F.col("__sign")
            fin_aggs = [
                F.coalesce(F.sum(F.col("cnt") * sgn), F.lit(0))
                .cast("long").alias("cnt"),
                F.count_distinct(F.when(sgn > 0, dval))
                .cast("long").alias(dmap[dspec]),
            ]
            for col in src_list:
                fin_aggs.append(F.sum(F.col(kn("nn", col)) * sgn)
                                .cast("long").alias(kn("nn", col)))
                if col in value_cols:
                    fin_aggs.append(F.sum(F.col(kn("sum", col)) * sgn)
                                    .cast("long").alias(kn("sum", col)))
                    fin_aggs.append(
                        F.min(F.when(sgn > 0, F.col(kn("mn", col))))
                        .cast("long").alias(kn("mn", col)))
                    fin_aggs.append(
                        F.max(F.when(sgn > 0, F.col(kn("mx", col))))
                        .cast("long").alias(kn("mx", col)))
        else:
            base, jmap = _grouped_partials(
                spark, out_dir, aggs, gargs + ddims, preds)
            fin_aggs = [
                # count(*) over empty matches Spark's 0 (not null)
                F.coalesce(F.sum("cnt"), F.lit(0))
                .cast("long").alias("cnt"),
                # SQL count(distinct) excludes NULL: count_distinct skips
                # the null group; distinct VALUES, never combo rows
                F.count_distinct(dval).cast("long").alias(dmap[dspec]),
            ]
            for col in src_list:
                fin_aggs.append(F.sum(kn("nn", col))
                                .cast("long").alias(kn("nn", col)))
                if col in value_cols:
                    fin_aggs.append(F.sum(kn("sum", col))
                                    .cast("long").alias(kn("sum", col)))
                    fin_aggs.append(F.min(kn("mn", col))
                                    .cast("long").alias(kn("mn", col)))
                    fin_aggs.append(F.max(kn("mx", col))
                                    .cast("long").alias(kn("mx", col)))
        base = _apply_derived(base, r)  # derived keys over combo rows
        if r.get("gsets"):
            # ROLLUP / CUBE / GROUPING SETS over a distinct count: the
            # finest-grouping combo rows re-aggregate once per set —
            # count_distinct re-COUNTS at that set's grouping (a combo
            # row's value set unions exactly), additive/extreme partials
            # merge as everywhere else — with typed-null absent keys and
            # the set's grouping id, unioned (the dspecs analog of
            # _gsets_expand; every re-aggregation is O(combo rows))
            by_dt = {g: base.schema[g].dataType for g in group_cols}
            frames = []
            for mask, gid in r["gsets"]:
                present = [g for g, m in zip(group_cols, mask) if m]
                f = base.withColumn("__gid", F.lit(int(gid)).cast("long"))
                f = f.groupBy("__gid", *present).agg(*fin_aggs)
                for g, m in zip(group_cols, mask):
                    if not m:
                        f = f.withColumn(g, F.lit(None).cast(by_dt[g]))
                out_aggs = [c for c in f.columns
                            if c != "__gid" and c not in group_cols]
                frames.append(f.select("__gid", *group_cols, *out_aggs))
            fin = frames[0]
            for f in frames[1:]:
                fin = fin.unionByName(f)
        else:
            fin = (base.groupBy(*group_cols).agg(*fin_aggs) if group_cols
                   else base.agg(*fin_aggs))
        for extra in dlist[1:]:
            # one more composite pass per additional distinct column; the
            # per-group distinct counts join back null-safely (NULL is a
            # real SQL group) — both sides are O(groups) rows
            eddims, edval = ddims_dval(extra)
            eb, _ = _grouped_partials(spark, out_dir, {},
                                      gargs + eddims, preds)
            eagg = F.count_distinct(edval).cast("long").alias(dmap[extra])
            if not group_cols:
                fin = fin.crossJoin(eb.agg(eagg))
                continue
            eb = _apply_derived(eb, r)
            if r.get("gsets"):
                # grouping sets: the extra pass re-aggregates once per
                # set exactly like the first, then joins on (grouping id,
                # keys) — null-safe so a real NULL group matches itself;
                # it stays distinct from subtotal NULLs because the ids
                # differ. The route guard rejected duplicate sets (the
                # equi-join would square their duplicated rows)
                eby_dt = {g: eb.schema[g].dataType for g in group_cols}
                eframes = []
                for mask, gid in r["gsets"]:
                    present = [g for g, m in zip(group_cols, mask) if m]
                    f = eb.withColumn(
                        "__gid", F.lit(int(gid)).cast("long"))
                    f = f.groupBy("__gid", *present).agg(eagg)
                    for g, m in zip(group_cols, mask):
                        if not m:
                            f = f.withColumn(
                                g, F.lit(None).cast(eby_dt[g]))
                    eframes.append(
                        f.select("__gid", *group_cols, dmap[extra]))
                efin = eframes[0]
                for f in eframes[1:]:
                    efin = efin.unionByName(f)
                jcols = ["__gid"] + list(group_cols)
            else:
                efin = eb.groupBy(*group_cols).agg(eagg)
                jcols = list(group_cols)
            efin = efin.select(
                *[efin[g].alias(f"{g}__r") for g in jcols],
                efin[dmap[extra]])
            cond = None
            for g in jcols:
                c = fin[g].eqNullSafe(efin[f"{g}__r"])
                cond = c if cond is None else (cond & c)
            fin = fin.join(efin, cond, "inner").drop(
                *[f"{g}__r" for g in jcols])
        by_field = None
        if any(spec[0] in ("min", "max") for spec in aggs.values()):
            from pyspark.sql import types as T
            meta = datasource._read_meta(out_dir)
            by_field = {f.name: f.dataType for f in
                        T.StructType.fromJson(meta["spark_schema"]).fields}
        sel = []
        for name, src, gcol in _augmented_out(r):
            if src == "group":
                sel.append(fin[gcol].alias(name))
                continue
            fn = aggs[name][0]
            if fn == "count":
                sel.append(fin["cnt"].alias(name))
            elif fn in ("cntd", "cntde"):
                sel.append(fin[dmap[aggs[name]]].alias(name))
            elif fn == "avg":
                # Spark avg(long) = wrap-sum / non-null count in one
                # double division — both operands are those exact values
                col = aggs[name][1]
                sel.append((fin[kn("sum", col)]
                            / fin[kn("nn", col)]).alias(name))
            elif fn in ("min", "max"):
                col = aggs[name][1]
                sel.append(_minmax_back(
                    kn("mn" if fn == "min" else "mx", col),
                    by_field[col]).alias(name))
            elif fn == "nncount":
                sel.append(fin[kn("nn", aggs[name][1])].alias(name))
            else:  # sum
                sel.append(fin[kn("sum", aggs[name][1])].alias(name))
        sel += [F.expr(spec).alias(name)
                for name, kind, spec in r["out_cols"] if kind == "gexpr"]
        return _finish(_expr_finish(fin.select(*sel), r), r)
    pctl_list = [(alias, spec) for alias, spec in aggs.items()
                 if spec[0] == "pctl"]
    strmm = r.get("strmm")
    smm_list = ([(alias, spec) for alias, spec in aggs.items()
                 if spec[0] in ("min", "max") and spec[1] == strmm]
                if strmm else [])
    if pctl_list or smm_list:
        # exact percentile / median (round-5 final stretch): the column
        # rides the composite kernel as an extra GROUP BY dimension
        # (exactly like count(distinct)), producing O(groups x ndv)
        # (value, cnt) combo rows; the finishing computes Spark's own
        # interpolated percentile over them — sort by value, cumulative
        # counts, value-at-floor/ceil of p*(N-1), the identical
        # double-arithmetic interpolation — so a 10^12-row median costs
        # one metadata kernel pass. Other aggregates (on OTHER columns)
        # re-aggregate from the same pass's partial quads
        from pyspark.sql.window import Window as W

        pcol = pctl_list[0][1][1] if pctl_list else strmm
        other = {a: s for a, s in aggs.items()
                 if s[0] != "pctl"
                 and not (strmm and s[0] in ("min", "max")
                          and s[1] == strmm)}
        pdims = [pcol] if pcol not in kcols else []
        base, jmap = _grouped_partials(spark, out_dir, other,
                                       gargs + pdims, preds)
        base = _apply_derived(base, r)
        wpart = (W.partitionBy(*[F.col(g) for g in group_cols])
                 if group_cols else W.partitionBy(F.lit(0)))
        if pctl_list:
            nz = F.when(F.col(pcol).isNotNull(), F.col("cnt"))
            base = base.withColumn("__ptot", F.sum(nz).over(wpart))
            base = base.withColumn(
                "__pcum",
                F.sum(nz).over(
                    wpart.orderBy(F.col(pcol).asc_nulls_first())
                    .rowsBetween(W.unboundedPreceding, W.currentRow)))
        pmap: dict[str, str] = {}
        for i, (alias, spec) in enumerate(pctl_list):
            # Spark Percentile.getPercentile: position = p * (N - 1);
            # lower/higher = floor/ceil; result = lowerKey when they
            # meet, else (higher - position) * lowerKey +
            # (position - lower) * higherKey, all in double — rebuilt
            # term-for-term so rounding matches bit-for-bit. "value at
            # count index i" = smallest value whose cumulative count
            # exceeds i; SQL percentile skips NULL values
            pos = (F.lit(float(spec[2]))
                   * (F.col("__ptot") - 1).cast("double"))
            lower = F.floor(pos)
            higher = F.ceil(pos)
            val = F.col(pcol)
            lo = F.min(F.when(val.isNotNull()
                              & (F.col("__pcum") > lower), val)).over(wpart)
            hi = F.min(F.when(val.isNotNull()
                              & (F.col("__pcum") > higher), val)).over(wpart)
            res = F.when(
                F.col("__ptot").isNull() | (F.col("__ptot") == 0),
                F.lit(None).cast("double")
            ).otherwise(
                F.when(lower == higher, lo.cast("double"))
                .otherwise(lo.cast("double")
                           * (higher.cast("double") - pos)
                           + hi.cast("double")
                           * (pos - lower.cast("double"))))
            cname = f"__pctl{i}"
            pmap[alias] = cname
            base = base.withColumn(cname, res)
        src_list, value_cols = _agg_src_list(other)

        def knp(kind: str, col: str) -> str:
            return f"{kind}{jmap[col]}"

        fin_aggs = [F.coalesce(F.sum("cnt"), F.lit(0))
                    .cast("long").alias("cnt")]
        # finished combo outputs carry INTERNAL names in the fin frame —
        # a user alias like "mn" would be ambiguous beside the kernel
        # partial of the same name; the finishing select re-aliases
        fin_map: dict[str, str] = {}
        for alias, cname in pmap.items():
            # constant within each group — any picker works; min skips
            # the NULLs a null-value combo row carries
            fin_map[alias] = f"__fin{len(fin_map)}"
            fin_aggs.append(F.min(cname).alias(fin_map[alias]))
        for alias, spec in smm_list:
            # string MIN/MAX over the combo values: Spark's own
            # null-skipping extremes, already the column's type
            f = F.min if spec[0] == "min" else F.max
            fin_map[alias] = f"__fin{len(fin_map)}"
            fin_aggs.append(f(F.col(strmm)).alias(fin_map[alias]))
        for col in src_list:
            fin_aggs.append(F.sum(knp("nn", col))
                            .cast("long").alias(knp("nn", col)))
            if col in value_cols:
                fin_aggs.append(F.sum(knp("sum", col))
                                .cast("long").alias(knp("sum", col)))
                fin_aggs.append(F.min(knp("mn", col))
                                .cast("long").alias(knp("mn", col)))
                fin_aggs.append(F.max(knp("mx", col))
                                .cast("long").alias(knp("mx", col)))
        fin = (base.groupBy(*group_cols).agg(*fin_aggs) if group_cols
               else base.agg(*fin_aggs))
        by_field = None
        if any(spec[0] in ("min", "max") for spec in other.values()):
            from pyspark.sql import types as T
            meta = datasource._read_meta(out_dir)
            by_field = {f.name: f.dataType for f in
                        T.StructType.fromJson(meta["spark_schema"]).fields}
        sel = []
        for name, src, gcol in _augmented_out(r):
            if src == "group":
                sel.append(fin[gcol].alias(name))
                continue
            fn = aggs[name][0]
            if fn == "pctl" \
                    or (fn in ("min", "max") and aggs[name][1] == strmm):
                sel.append(fin[fin_map[name]].alias(name))
            elif fn == "count":
                sel.append(fin["cnt"].alias(name))
            elif fn == "avg":
                col = aggs[name][1]
                sel.append((fin[knp("sum", col)]
                            / fin[knp("nn", col)]).alias(name))
            elif fn in ("min", "max"):
                col = aggs[name][1]
                sel.append(_minmax_back(
                    knp("mn" if fn == "min" else "mx", col),
                    by_field[col]).alias(name))
            elif fn == "nncount":
                sel.append(fin[knp("nn", aggs[name][1])].alias(name))
            else:  # sum
                sel.append(fin[knp("sum", aggs[name][1])].alias(name))
        sel += [F.expr(spec).alias(name)
                for name, kind, spec in r["out_cols"] if kind == "gexpr"]
        return _finish(_expr_finish(fin.select(*sel), r), r)
    has_sqlexpr = any(tr and tr[0] == "sqlexpr"
                      for _, tr, _ in (gspecs or []))
    if r.get("join"):
        # joined statement: kernel pass on the store-side keys, broadcast
        # inner join against the dim subplan, re-merge partials on the
        # final group columns (grouped) or in one global agg (ungrouped);
        # the shared finishing select below reads the result unchanged
        base, jmap = _exec_join(spark, r)
    elif not group_cols:
        if r.get("orx"):
            return _finish(_expr_finish(_orx_agg(spark, r), r), r)
        df = engine.agg_table(spark, out_dir, aggs, predicates=preds or None)
        # Spark SQL's min/max keep the column's own type; the kernel
        # accumulates in long — cast back so routed and fallback plans are
        # schema-identical drop-ins
        from pyspark.sql import types as T
        meta = datasource._read_meta(out_dir)
        by_field = {f.name: f.dataType for f in
                    T.StructType.fromJson(meta["spark_schema"]).fields}
        sel = []
        for name, _, _ in _augmented_out(r):
            spec = aggs[name]
            if spec[0] in ("min", "max"):
                sel.append(_minmax_back(name, by_field[spec[1]]).alias(name))
            else:
                sel.append(F.col(name))
        return _finish(_expr_finish(df.select(*sel), r), r)
    elif r.get("gsets"):
        # grouping sets: one kernel pass at the finest (union-of-keys)
        # grouping, merged per group (the sqlexpr re-group below when
        # keys are derived), then per-set re-aggregation + union
        base, jmap = _grouped_partials(spark, out_dir, aggs, gargs, preds,
                                       merge=not has_sqlexpr)
        base = _gsets_expand(_regroup_derived(base, r), r)
    elif r.get("orx"):
        # the inclusion-exclusion composition joins per-group across
        # passes, so each pass merges on the raw kernel keys; the derived
        # re-group runs over the composed frame
        base, jmap = _orx_grouped(spark, r, gargs, kcols)
        base = _regroup_derived(base, r)
    else:
        # derived scalar keys skip the kernel-side raw-key merge: the
        # rebuilt expression is applied to the per-bucket partials and
        # the ONE groupBy below runs on the final keys, so map-side
        # combine collapses on the (low-cardinality) derived value even
        # when the raw source is high-cardinality
        base, jmap = _grouped_partials(spark, out_dir, aggs, gargs, preds,
                                       merge=not has_sqlexpr)
        base = _regroup_derived(base, r)

    def kname(kind: str, col: str) -> str:
        # partial-column name for (sum|nn|mn|mx, agg col)
        return f"{kind}{jmap[col]}"

    by_field = None
    if any(spec[0] in ("min", "max") for spec in aggs.values()):
        # Spark's min/max keep the column's own type; the kernels
        # accumulate in the int64 domain — cast back for schema parity
        from pyspark.sql import types as T
        meta = datasource._read_meta(out_dir)
        by_field = {f.name: f.dataType for f in
                    T.StructType.fromJson(meta["spark_schema"]).fields}
    sel = []
    dim_agg_names = (r["join"].get("dim_aggs") or {}) if r.get("join") \
        else {}
    for name, src, gcol in _augmented_out(r):
        if src == "group":
            sel.append(base[gcol].alias(name))
            continue
        if name in dim_agg_names:
            # dim-side aggregate: _exec_join already finished it under
            # its own alias (cnt-weighted re-derivation)
            sel.append(base[name])
            continue
        fn = aggs[name][0]
        if fn in ("cntd", "cntde"):
            # only reachable via the join path (the non-join distinct
            # branch returned above): _exec_join finished it
            sel.append(base[name])
        elif fn == "count":
            sel.append(base["cnt"].alias(name))
        elif fn == "avg":
            # Spark avg(long) = wrap-sum / non-null count in one double
            # division — both operands here are those exact values
            col = aggs[name][1]
            sel.append((base[kname("sum", col)]
                        / base[kname("nn", col)]).alias(name))
        elif fn in ("min", "max"):
            col = aggs[name][1]
            sel.append(_minmax_back(
                kname("mn" if fn == "min" else "mx", col),
                by_field[col]).alias(name))
        elif fn == "nncount":
            sel.append(base[kname("nn", aggs[name][1])].alias(name))
        else:  # sum
            sel.append(base[kname("sum", aggs[name][1])].alias(name))
    # group-key expressions evaluate HERE, while the group columns are
    # still in the frame (one projection — no sequential shadowing)
    sel += [F.expr(spec).alias(name)
            for name, kind, spec in r["out_cols"] if kind == "gexpr"]
    return _finish(_expr_finish(base.select(*sel), r), r)


def route_pruning_stats(r: dict | None) -> dict | None:
    """Driver-side pruning report for a routing description (round-5
    verdict, next #8): how many buckets the routed plan reads vs the store
    total, computed from the commit records with zero task I/O, so
    ``jobs/query.py --explain`` can SHOW the pushdown working.

    ``buckets_full`` answer from metadata or aggregate unmasked (no
    predicate work); ``buckets_masked`` decode predicate columns at
    boundary chunks; ``buckets_read`` is their sum; pruned = total -
    read. Cross-column-OR routes report the SUM across their
    inclusion-exclusion passes (with a ``passes`` key), since each pass
    pays its own reads — ``buckets_read`` may then exceed
    ``buckets_total``."""
    if r is None:
        return None
    if r.get("kind") == "nested":
        # the store work is entirely the inner route's
        return route_pruning_stats(r["inner"])
    if r.get("kind") == "union":
        # each branch pays its own reads — sum across branches (totals
        # sum too: two branches over one store scan its buckets twice)
        acc = {"buckets_total": 0, "buckets_read": 0,
               "buckets_full": 0, "buckets_masked": 0,
               "passes": len(r["subs"])}
        for s in r["subs"]:
            st = route_pruning_stats(s)
            for k in ("buckets_total", "buckets_read",
                      "buckets_full", "buckets_masked"):
                acc[k] += st.get(k, 0)
        return acc
    if r.get("kind") == "topk":
        return engine.topk_plan(
            r["out_dir"], r["order_col"], r["k"],
            descending=r["descending"],
            predicates=r.get("predicates") or None)
    meta, nonempty = engine._plan_store(r["out_dir"])
    from pyspark.sql import types as T
    by_name = {f.name: f.dataType.simpleString()
               for f in T.StructType.fromJson(meta["spark_schema"]).fields}
    if r.get("orx"):
        # inclusion-exclusion passes each read their own surviving
        # buckets, so the counts SUM across passes (a bucket decoded by
        # two passes costs two decodes — buckets_read may exceed
        # buckets_total, which is the honest cost of the OR plan);
        # "passes" makes the denominator explicit in --explain
        n_full = n_masked = 0
        for p in r["orx"]:
            preds = engine._normalize_predicates(p, by_name)
            full, partial, _ = engine._classify_records(nonempty, preds)
            n_full += len(full)
            n_masked += len(partial)
        return {"buckets_total": len(nonempty),
                "passes": len(r["orx"]),
                "buckets_read": n_full + n_masked,
                "buckets_full": n_full,
                "buckets_masked": n_masked}
    if r.get("faggs"):
        # base pass + one pass per filtered aggregate — each pays its
        # own reads (mirrors the orx report: counts SUM across passes)
        n_full = n_masked = n_pass = 0
        for p in [r["predicates"]] + [fp for _, fp in r["faggs"].values()]:
            preds = engine._normalize_predicates(p, by_name)
            full, partial, _ = engine._classify_records(nonempty, preds)
            n_full += len(full)
            n_masked += len(partial)
            n_pass += 1
        return {"buckets_total": len(nonempty),
                "passes": n_pass,
                "buckets_read": n_full + n_masked,
                "buckets_full": n_full,
                "buckets_masked": n_masked}
    preds = engine._normalize_predicates(r["predicates"], by_name)
    full, partial, pruned = engine._classify_records(nonempty, preds)
    return {"buckets_total": len(nonempty),
            "buckets_read": len(full) + len(partial),
            "buckets_full": len(full),
            "buckets_masked": len(partial)}


def route_agg_sql(spark: SparkSession, sql: str,
                  stores: dict[str, str]) -> dict | None:
    """Dry-run the router: the routing description for ``sql``, or None if
    it would fall back. Registers the store views (like store_sql) so the
    statement analyzes. Tests pin routability with this.

    The dry run also BUILDS the routed plan (without executing it) so
    engine-side precondition ValueErrors — e.g. LIMIT 0 into topk_table, or
    a column name colliding with a kernel alias — report as fallback here
    exactly as store_agg_sql would execute them (round-4 advice: the two
    paths previously disagreed)."""
    r, _ = route_agg_sql_reason(spark, sql, stores)
    return r


def route_agg_sql_reason(spark: SparkSession, sql: str,
                         stores: dict[str, str]
                         ) -> tuple[dict | None, str | None]:
    """Like :func:`route_agg_sql`, plus WHY a statement falls back:
    returns ``(route, None)`` when routable, ``(None, reason)`` otherwise
    — the reason is the first unroutable shape the plan walk hit (e.g.
    ``"cross-column OR beyond two branches"``, ``"derived group key not
    in SELECT"``), so a
    user staring at a slow statement can see which clause to rephrase
    (surfaced by ``jobs/query.py --explain``)."""
    datasource.register(spark)
    for name, out_dir in stores.items():
        datasource._load(spark, out_dir, None,
                         pushdown=True).createOrReplaceTempView(name)
    analyzed = spark.sql(sql)._jdf.queryExecution().analyzed()
    try:
        r = _route(analyzed, stores)
        _execute_route(spark, r)  # lazy DataFrame build = precondition check
        return r, None
    except (_Unroutable, ValueError) as e:
        return None, f"{e}"


def store_agg_sql(spark: SparkSession, sql: str, stores: dict[str, str],
                  columns: dict[str, list[str]] | None = None) -> DataFrame:
    """Run one SQL statement over chunk stores with aggregate pushdown.

    Routable aggregate shapes are answered from chunk/commit metadata and
    codec-layer kernels (see module docstring); everything else runs as
    :func:`flowforge.datasource.store_sql` (full filter pushdown). Always
    correct; routing only changes the cost."""
    datasource.register(spark)
    for name, out_dir in stores.items():
        cols = (columns or {}).get(name)
        datasource._load(spark, out_dir, cols,
                         pushdown=True).createOrReplaceTempView(name)
    df = spark.sql(sql)
    analyzed = df._jdf.queryExecution().analyzed()
    try:
        r = _route(analyzed, stores)
        return _execute_route(spark, r)
    except (_Unroutable, ValueError):
        # ValueError = an engine-side planning restriction the router did
        # not pre-check (e.g. a column name colliding with a kernel output
        # alias); the statement is still valid SQL, so execute it normally
        if datasource.max_store_refs(analyzed) > 1:
            # self-union / self-join over one store: the pushdown reader
            # state is shared across identical relations at execution
            # (Spark 4.1.2), so one branch would silently read the
            # other's pruned rows — re-register full-decode views
            for name, out_dir in stores.items():
                cols = (columns or {}).get(name)
                datasource._load(spark, out_dir, cols,
                                 pushdown=False).createOrReplaceTempView(name)
            return spark.sql(sql)
        return df
