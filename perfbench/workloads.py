"""The benchmark's workloads: what each operation runs and how it is checked.

Every workload reads the ``flowforge.datagen.make_webpages`` table
``(url, warc_ts, html, text, lang)`` that set-up generates from the seed;
the engine receives only that parquet file. An operation's ``run`` is the
timed part and returns the user-visible result; ``check`` runs after the
timer stops and compares the result with DuckDB over the source parquet
(scan, sql) or with the source itself (encode). A failed check counts as a
failed operation and is never retried.
"""

from __future__ import annotations

import datetime as dt
import decimal
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from flowforge import datagen, datasource, engine, sqlagg
from flowforge.catalog import Manifest

# 16384 rows = 36 MB logical, in row groups of 2048 rows. Buckets and
# chunks of 4096 rows give 4 buckets, one per core at local[4], each one
# chunk, so the day window below prunes half of them.
ROWS = 16_384
ROW_GROUP_ROWS = 2_048
TARGET_ROWS = 4_096
CHUNK_ROWS = 4_096

VIEW = "pages"
DIM_VIEW = "langs"
LANG_DIM = [("en", "germanic", 1), ("de", "germanic", 2), ("fr", "romance", 3),
            ("es", "romance", 4), ("zh", "sinitic", 5), ("ru", "slavic", 6),
            ("ja", "japonic", 7), ("other", "other", 8)]

# The generated rows are 5 s apart from 2026-01-01 00:00, so ROWS of them
# span ~23 h of warc_ts. This one-day window starts at noon: it covers the
# later half of the buckets.
_DAY = ("TIMESTAMP '2026-01-01 12:00:00'", "TIMESTAMP '2026-01-02 12:00:00'")


def _us(ts: str) -> int:
    """Micros since the epoch of a ``TIMESTAMP '...'`` literal (UTC)."""
    d = dt.datetime.fromisoformat(ts.split("'")[1]).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


class Statement:
    """One SQL statement of the rotation. A ``scan`` statement reads rows
    through the pushdown data source (the router falls back on it) and
    ``preds`` is its filter in ``engine.count_plan`` form; ``ordered``
    says the statement fixes its row order."""

    def __init__(self, name: str, sql: str, preds: dict | None = None,
                 scan: bool = False, ordered: bool = False) -> None:
        self.name, self.sql, self.preds = name, sql, preds
        self.scan, self.ordered = scan, ordered


# A run has time for about three statements, so each routed statement
# combines several routed shapes: a UNION of a global aggregate with a
# FILTER aggregate and an aggregate over the join to the 8-row dimension;
# ROLLUP by lang with HAVING, ORDER BY/LIMIT and a window over the
# aggregate. The one-day scan is the fallback: a full-row read of half the
# store through the pushdown data source. The heaviest statement comes
# first, so the warm-up runs it once and its timed run is not its first.
SQL_STATEMENTS = [
    Statement("union_join",
              f"SELECT count(*) AS n, count(*) FILTER (WHERE lang = 'en') AS n_en "
              f"FROM {VIEW} UNION ALL SELECT count(*) AS n, count(*) AS n_en "
              f"FROM {VIEW} p JOIN {DIM_VIEW} d ON p.lang = d.lang "
              f"WHERE d.family = 'romance'"),
    Statement("rollup_window",
              f"SELECT lang, count(*) AS n, rank() OVER (ORDER BY count(*) DESC) AS r "
              f"FROM {VIEW} GROUP BY ROLLUP(lang) HAVING count(*) > 500 "
              f"ORDER BY n DESC, lang LIMIT 3", ordered=True),
    Statement("scan_day",
              f"SELECT * FROM {VIEW} WHERE warc_ts >= {_DAY[0]} AND warc_ts < {_DAY[1]}",
              {"warc_ts": (_us(_DAY[0]), _us(_DAY[1]) - 1)}, scan=True),
]


# --------------------------------------------------------------------------
# inputs and references
# --------------------------------------------------------------------------

class Source:
    """The generated table and the engine's logical size of each column
    (``bytes_in``: value bytes plus 8 per row for byte columns, 8 per row
    for the others)."""

    def __init__(self, out_dir: str, seed: int) -> None:
        self.path = datagen.write_webpages(out_dir, ROWS, seed=seed,
                                           row_group_size=ROW_GROUP_ROWS)
        self.table = pq.read_table(self.path)
        self.rows = self.table.num_rows
        self.col_bytes = {}
        for f in self.table.schema:
            col = self.table.column(f.name)
            n = 8 * len(col)
            if pa.types.is_binary(f.type) or pa.types.is_string(f.type):
                n += int(pc.sum(pc.binary_length(col)).as_py() or 0)
            self.col_bytes[f.name] = n
        self.logical_bytes = sum(self.col_bytes.values())


def digest(con, relation: str, columns: list[str]) -> tuple:
    """Order-insensitive digest of a relation: row count, then per column
    the non-null count and the sum of DuckDB value hashes."""
    exprs = ["count(*)"]
    for c in columns:
        exprs += [f'count("{c}")', f'sum(hash("{c}"))']
    return con.execute(f"SELECT {', '.join(exprs)} FROM ({relation})").fetchone()


def digest_arrow(con, tbl: pa.Table) -> tuple:
    con.register("perfbench_result", tbl)
    try:
        return digest(con, "SELECT * FROM perfbench_result", tbl.column_names)
    finally:
        con.unregister("perfbench_result")


def _norm(v):
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def rows_of(tbl: pa.Table, ordered: bool) -> list[tuple]:
    rows = [tuple(_norm(v) for v in r)
            for r in zip(*(c.to_pylist() for c in tbl.columns))]
    return rows if ordered else sorted(rows, key=repr)


def du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def build_store(spark, src: str, out_dir: str) -> list:
    return engine.run_encode_path(spark, src, out_dir, target_rows=TARGET_ROWS,
                                  chunk_rows=CHUNK_ROWS)


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------

class Op:
    """One operation kind. ``reset`` runs untimed before ``run``."""

    name = ""

    def reset(self) -> None:
        pass

    def run(self):
        raise NotImplementedError

    def check(self, result) -> str | None:
        """None if the result is right, else what is wrong."""
        raise NotImplementedError


class EncodeOp(Op):
    name = "encode"

    def __init__(self, bench, store: str) -> None:
        self.bench, self.store = bench, store

    def reset(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)

    def run(self):
        return build_store(self.bench.spark, self.bench.source.path, self.store)

    def check(self, result) -> str | None:
        src = self.bench.source
        rows: dict[str, int] = {}
        bytes_in: dict[str, int] = {}
        for r in result:  # the job's own per-(bucket, column) report
            rows[r["column"]] = rows.get(r["column"], 0) + r["n_rows"]
            bytes_in[r["column"]] = bytes_in.get(r["column"], 0) + r["bytes_in"]
        want_rows = {c: src.rows for c in src.col_bytes}
        if rows != want_rows or bytes_in != src.col_bytes:
            return f"job report rows {rows} bytes_in {bytes_in}"
        man = Manifest(self.store)
        commits = man.read_commits(man.read_table_meta()["plan_hash"])
        committed_rows = sum(int(c["n_rows"]) for c in commits)
        committed_bytes = {c: sum(int(r["columns"][c]["bytes_in"]) for r in commits)
                           for c in src.col_bytes}
        if committed_rows != src.rows or committed_bytes != src.col_bytes:
            return (f"commit records rows {committed_rows} "
                    f"bytes_in {committed_bytes}")
        return None


class SqlOp(Op):
    """One statement through ``sqlagg.store_agg_sql``. A scan statement's
    rows are compared by digest, an aggregate's row by row."""

    def __init__(self, bench, st: Statement) -> None:
        self.bench, self.st, self.name = bench, st, st.name
        if st.scan:
            cols = [d[0] for d in bench.duck.execute(
                f"SELECT * FROM ({st.sql}) LIMIT 0").description]
            self.want = digest(bench.duck, st.sql, cols)
        else:
            self.want = rows_of(bench.duck.execute(st.sql).arrow(), st.ordered)

    def run(self):
        return sqlagg.store_agg_sql(self.bench.spark, self.st.sql,
                                    {VIEW: self.bench.store}).toArrow()

    def check(self, result) -> str | None:
        if self.st.scan:
            got = digest_arrow(self.bench.duck, result)
        else:
            got = rows_of(result, self.st.ordered)
        return None if got == self.want else f"got {got} != want {self.want}"


# --------------------------------------------------------------------------
# workloads
# --------------------------------------------------------------------------

class Workload:
    """Set-up, rotation and probes of one workload. ``prepare`` is the
    input generation and store build of set-up; ``warmup_ops`` operations
    run untimed after it."""

    name = ""
    warmup_ops = 1

    def __init__(self, bench) -> None:
        self.bench = bench
        self.snappy_bytes = 0

    def prepare(self, out_dir: str) -> None:
        """Generate the source and write its snappy reference, one row
        group per store chunk."""
        b = self.bench
        b.source = Source(os.path.join(out_dir, "src"), b.seed)
        b.store = os.path.join(out_dir, "store")
        snappy = os.path.join(out_dir, "snappy.parquet")
        pq.write_table(b.source.table, snappy, compression="snappy",
                       row_group_size=CHUNK_ROWS)
        self.snappy_bytes = os.path.getsize(snappy)

    def references(self) -> None:
        """Expected answers, computed once after set-up (untimed)."""
        self.bench.duck.execute(
            f"CREATE OR REPLACE VIEW {VIEW} AS SELECT * FROM "
            f"read_parquet('{self.bench.source.path}')")

    def rotation(self) -> list[Op]:
        raise NotImplementedError

    def store_bytes(self) -> int:
        return du(self.bench.store)

    def final_check(self) -> str | None:
        return None

    def probe(self) -> list[dict]:
        return []


class EncodeWorkload(Workload):
    """Direct-mode encode of the source into a fresh store per operation.
    The first encode of a session starts the workers and compiles; a
    second warm-up encode lets the JVM settle. One pass is
    ``ENCODES_PER_PASS`` encodes, longer than a run's measuring time, so a
    run measures that many."""

    name = "encode_webpages"
    warmup_ops = 2
    ENCODES_PER_PASS = 7

    def rotation(self) -> list[Op]:
        return [EncodeOp(self.bench, self.bench.store)] * self.ENCODES_PER_PASS

    def final_check(self) -> str | None:
        """Decode the last store once and compare it with the source."""
        b = self.bench
        cols = [f.name for f in b.source.table.schema]
        got = digest_arrow(b.duck, engine.decode_table(b.spark, b.store).toArrow())
        want = digest(b.duck, f"SELECT * FROM {VIEW}", cols)
        return None if got == want else f"decoded digest {got} != {want}"

    def probe(self) -> list[dict]:
        """The encode ledger from the store's commit records."""
        ledger = engine.metrics_table(self.bench.spark, self.bench.store).toArrow()
        out = []
        for c in self.bench.source.col_bytes:
            sel = ledger.filter(pc.equal(ledger.column("column"), c))
            codecs: dict[str, int] = {}
            for mix in sel.column("codecs").to_pylist():
                for k in mix.split(","):
                    codecs[k] = codecs.get(k, 0) + 1
            out.append({
                "ledger": c,
                "wall_ms": round(pc.sum(sel.column("wall_ms")).as_py(), 3),
                "bytes_in": pc.sum(sel.column("bytes_in")).as_py(),
                "bytes_out": pc.sum(sel.column("bytes_out")).as_py(),
                "codecs": ",".join(f"{k}:{v}" for k, v in sorted(codecs.items())),
            })
        return out


class SqlWorkload(Workload):
    """Statements through the aggregate router over a store built in
    set-up: routed aggregates and a fallback scan."""

    name = "sql_webpages"
    statements = SQL_STATEMENTS

    def prepare(self, out_dir: str) -> None:
        super().prepare(out_dir)
        b = self.bench
        build_store(b.spark, b.source.path, b.store)
        b.spark.createDataFrame(
            LANG_DIM, "lang string, family string, weight int"
        ).createOrReplaceTempView(DIM_VIEW)

    def references(self) -> None:
        super().references()
        values = ", ".join(f"('{a}', '{b}', {w})" for a, b, w in LANG_DIM)
        self.bench.duck.execute(
            f"CREATE OR REPLACE TABLE {DIM_VIEW} AS SELECT * FROM "
            f"(VALUES {values}) t(lang, family, weight)")

    def rotation(self) -> list[Op]:
        return [SqlOp(self.bench, st) for st in self.statements]

    def probe(self) -> list[dict]:
        """Per statement: the route decision and its reason, the router's
        wall and the buckets the plan reads; for a scan, the buckets
        ``count_plan`` would read next to the partitions the data-source
        scan plans."""
        b = self.bench
        stores = {VIEW: b.store}
        out = []
        for st in self.statements:
            t0 = time.perf_counter()
            route, reason = sqlagg.route_agg_sql_reason(b.spark, st.sql, stores)
            row = {"statement": st.name, "routed": route is not None,
                   "sqlagg.route.s": round(time.perf_counter() - t0, 4),
                   "reason": reason or ""}
            if route is not None:
                stats = sqlagg.route_pruning_stats(route)
                row.update({"prune.buckets_total": stats["buckets_total"],
                            "prune.buckets_read": stats["buckets_read"],
                            "prune.passes": stats.get("passes", 1)})
            if st.scan:
                plan = engine.count_plan(b.store, st.preds or {})
                row.update({
                    "prune.buckets_total": sum(len(plan[k]) for k in
                                               ("full", "partial", "pruned")),
                    "prune.buckets_read": len(plan["full"]) + len(plan["partial"]),
                    "prune.passes": 1,
                    "datasource.partitions_planned": datasource.store_sql(
                        b.spark, st.sql, stores).rdd.getNumPartitions()})
            out.append(row)
        return out


WORKLOADS = {w.name: w for w in (EncodeWorkload, SqlWorkload)}
