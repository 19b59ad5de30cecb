"""Driver-side tracing and the per-layer numbers of a traced run.

``DriverTracer`` wraps the driver's entry points into the engine, the
router, the data source and the catalog, and marks which operation is
running: it writes the operation id to the flag file the worker hook
(``perfbench.daemon``) reads at each task start.

``LayerReport`` joins driver and worker spans by operation id and turns
them into the per-layer metrics named in BENCHMARK.json, plus a printed
table in which the wall shares of all spans and ``spark.uncovered_s`` add
up to the operation wall.
"""

from __future__ import annotations

import os
import statistics

from perfbench import spans
from perfbench.spans import ATTRS, CPU, END, NAME, OP, PARENT, START

COLUMNS = ("url", "warc_ts", "html", "text", "lang")
CODECS = ("plain", "dict", "dictfsst", "rle", "fsst", "hybrid", "worddict",
          "forbp", "deltazz")
KERNELS = ("chunk_group_multi", "chunk_group_sums", "chunk_value_counts",
           "chunk_nonnull_count", "dict_may_contain")
# spans whose inclusive time is reported as a layer total
TOTALS = {"ingress.read_row_groups.s": "ingress.read_row_groups",
          "catalog.write_chunk.s": "catalog.write_chunk",
          "catalog.commit_bucket.s": "catalog.commit_bucket",
          "catalog.compact.s": "catalog.compact",
          "parquet.read_table.s": "parquet.read_table"}
WORKER_TASKS = ("pyworker.task", "pyworker.plan")
# driver spans that only wait for Spark: they cover no time, so what no
# worker span covers while they run stays in spark.uncovered_s
WAITING = ("spark.action",)


class DriverTracer:
    """Span recording in the driver plus the operation flag for workers."""

    def __init__(self, flag_path: str) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        from flowforge import datasource, engine, sqlagg
        from flowforge.catalog import Manifest

        self.flag_path = flag_path
        self.rec = spans.Recorder()
        hooks = [
            (engine, "run_encode_path", "engine.run_encode_path"),
            (engine, "encode_path", "engine.encode_path"),
            (engine, "_plan_store", "engine.plan_store"),
            (engine, "count_table", "engine.count_table"),
            (engine, "agg_table", "engine.agg_table"),
            (engine, "value_counts_table", "engine.value_counts_table"),
            (engine, "group_agg_table", "engine.group_agg_table"),
            (engine, "group_multi_table", "engine.group_multi_table"),
            (engine, "topk_table", "engine.topk_table"),
            (Manifest, "compact", "catalog.compact"),
            (Manifest, "read_commits", "catalog.read_commits"),
            (Manifest, "committed_buckets", "catalog.committed_buckets"),
            (datasource, "store_sql", "datasource.store_sql"),
            (datasource, "_load", "datasource.load"),
            (datasource, "max_store_refs", "datasource.max_store_refs"),
            (sqlagg, "store_agg_sql", "sqlagg.store_agg_sql"),
            (sqlagg, "_route", "sqlagg.route"),
            (sqlagg, "_execute_route", "sqlagg.execute_route"),
            (DataFrame, "collect", "spark.action"),
            (DataFrame, "toArrow", "spark.action"),
        ]
        for owner, attr, name in hooks:
            self.rec.wrap(owner, attr, name)

    def begin(self, op_id: int) -> None:
        with open(self.flag_path, "w", encoding="ascii") as f:
            f.write(str(op_id))
        self.rec.op = op_id

    def end(self) -> None:
        self.rec.op = None
        os.remove(self.flag_path)


class _Acc:
    """Sums for one span label."""

    __slots__ = ("calls", "dur", "self_s", "cpu", "bytes", "share")

    def __init__(self) -> None:
        self.calls = 0
        self.dur = self.self_s = self.cpu = self.share = 0.0
        self.bytes = 0

    def add(self, record: list, self_s: float) -> None:
        self.calls += 1
        self.dur += record[END] - record[START]
        self.self_s += self_s
        self.cpu += record[CPU]
        self.bytes += int((record[ATTRS] or {}).get("bytes", 0))


class LayerReport:
    """Per-layer numbers over the traced operations of one run.

    ``ops`` are the traced samples (dicts with ``id``, ``t0``, ``t1``,
    ``wall``, ``rchar``, ``wchar``); ``batches`` are ``(pid, records)``
    span batches from the driver and every worker."""

    def __init__(self, ops: list[dict], batches: list[tuple[int, list]],
                 driver_pid: int, nproc: int) -> None:
        self.n_ops = len(ops)
        self.nproc = nproc
        self.wall = sum(o["wall"] for o in ops)
        self.by_label: dict[str, _Acc] = {}
        self.by_key: dict[tuple, _Acc] = {}  # (name, codec, column)
        self.under_best = 0  # encode_array calls made by encode_best
        self.worker_busy = 0.0  # thread CPU of worker tasks
        self.driver_self = 0.0
        by_op: dict[int, list[tuple[str, float, float]]] = {o["id"]: [] for o in ops}
        for pid, records in batches:
            for r, pieces in zip(records, spans.self_segments(records)):
                if r[OP] not in by_op:
                    continue
                attrs = r[ATTRS] or {}
                label = self._label(r[NAME], attrs)
                self_s = sum(b - a for a, b in pieces)
                key = (r[NAME], attrs.get("codec"), attrs.get("column"))
                self.by_key.setdefault(key, _Acc()).add(r, self_s)
                self.by_label.setdefault(label, _Acc()).add(r, self_s)
                if (r[NAME] == "codecs.encode_array" and r[PARENT] is not None
                        and records[r[PARENT]][NAME] == "selector.encode_best"):
                    self.under_best += 1
                if r[NAME] in WORKER_TASKS:
                    self.worker_busy += r[CPU]
                if r[NAME] in WAITING:
                    continue
                if pid == driver_pid:
                    self.driver_self += self_s
                by_op[r[OP]].extend((label, a, b) for a, b in pieces)
        self.uncovered = []
        for o in ops:
            share, covered = spans.attribute(by_op[o["id"]], o["t0"], o["t1"])
            for label, s in share.items():
                self.by_label.setdefault(label, _Acc()).share += s
            self.uncovered.append(o["wall"] - covered)
        self.io_read = statistics.mean(o["rchar"] for o in ops) if ops else 0
        self.io_write = statistics.mean(o["wchar"] for o in ops) if ops else 0

    @staticmethod
    def _label(name: str, attrs: dict) -> str:
        if name in ("codecs.encode_array", "codecs.decode_array"):
            return f"{name}.{attrs.get('codec')}"
        if name == "selector.encode_best":
            return f"{name}.{attrs.get('column')}"
        return name

    def _sum(self, name: str, field: str, codec=None, column=None) -> float:
        total = 0.0
        for (n, c, col), acc in self.by_key.items():
            if n == name and (codec is None or c == codec) \
                    and (column is None or col == column):
                total += getattr(acc, field)
        return total

    def metrics(self, probes: list[dict], overhead_s: float) -> dict[str, float]:
        """Per-layer metrics: times are seconds per operation, counts from
        the probes are summed over one pass of the rotation."""
        n = max(1, self.n_ops)
        m: dict[str, float] = {}
        for c in COLUMNS:
            m[f"selector.encode_best.self_s.{c}"] = \
                self._sum("selector.encode_best", "self_s", column=c) / n
            m[f"selector.encode_best.cpu_s.{c}"] = \
                self._sum("selector.encode_best", "cpu", column=c) / n
        best = self._sum("selector.encode_best", "calls")
        m["selector.trials_per_chunk"] = self.under_best / best if best else 0.0
        m["selector.trial_win_frac"] = best / self.under_best if self.under_best else 0.0
        for k in CODECS:
            m[f"codecs.encode_array.self_s.{k}"] = \
                self._sum("codecs.encode_array", "self_s", codec=k) / n
        for c in COLUMNS:
            cpu = self._sum("codecs.encode_array", "cpu", column=c)
            m[f"codecs.encode_mbps.{c}"] = (
                self._sum("codecs.encode_array", "bytes", column=c) / cpu / 1e6
                if cpu else 0.0)
        for k in CODECS:
            m[f"codecs.decode_array.self_s.{k}"] = \
                self._sum("codecs.decode_array", "self_s", codec=k) / n
        for c in COLUMNS:
            cpu = self._sum("codecs.decode_array", "cpu", column=c)
            m[f"codecs.decode_mbps.{c}"] = (
                self._sum("codecs.decode_array", "bytes", column=c) / cpu / 1e6
                if cpu else 0.0)
        for k in KERNELS:
            m[f"codecs.{k}.self_s"] = self._sum(f"codecs.{k}", "self_s") / n
        for metric, name in TOTALS.items():
            m[metric] = self._sum(name, "dur") / n
        m["io.read_bytes"] = float(self.io_read)
        m["io.write_bytes"] = float(self.io_write)
        for k in ("prune.buckets_total", "prune.buckets_read", "prune.passes",
                  "datasource.partitions_planned"):
            m[k] = float(sum(p.get(k, 0) for p in probes))
        routed = [p for p in probes if "routed" in p]
        m["sqlagg.route.s"] = (statistics.mean(p["sqlagg.route.s"] for p in routed)
                               if routed else 0.0)
        m["sqlagg.routed_frac"] = (sum(p["routed"] for p in routed) / len(routed)
                                   if routed else 0.0)
        m["sqlagg.fallbacks"] = float(sum(not p["routed"] for p in routed))
        m["spark.uncovered_s"] = statistics.mean(self.uncovered) if self.uncovered else 0.0
        m["pyworker.busy_frac"] = (self.worker_busy / (self.wall * self.nproc)
                                   if self.wall else 0.0)
        m["pyworker.task.self_s"] = sum(self._sum(t, "self_s") for t in WORKER_TASKS) / n
        m["driver.self_s"] = self.driver_self / n
        m["trace.overhead_s"] = overhead_s
        return m

    def table(self) -> list[str]:
        """The per-layer table: per operation, each label's wall share,
        self time and thread CPU (children included); the shares plus the
        uncovered time equal the mean operation wall."""
        n = max(1, self.n_ops)
        lines = [f"{'layer':44s} {'calls/op':>9s} {'share_s/op':>11s} "
                 f"{'self_s/op':>10s} {'cpu_s/op':>9s}"]
        rows = sorted(self.by_label.items(), key=lambda kv: -kv[1].share)
        for label, acc in rows:
            lines.append(f"{label:44s} {acc.calls / n:9.1f} {acc.share / n:11.4f} "
                         f"{acc.self_s / n:10.4f} {acc.cpu / n:9.4f}")
        shares = sum(a.share for a in self.by_label.values()) / n
        unc = statistics.mean(self.uncovered) if self.uncovered else 0.0
        lines.append(f"{'spark.uncovered_s':44s} {'':9s} {unc:11.4f}")
        lines.append(f"{'= wall (shares + uncovered)':44s} {'':9s} "
                     f"{shares + unc:11.4f}   measured wall/op "
                     f"{self.wall / n:.4f}")
        return lines
