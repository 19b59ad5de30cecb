"""Python-worker hook for the traced run (``spark.python.daemon.module``).

Spark starts ``python -m perfbench.daemon <worker module>`` in place of
``pyspark.daemon``. This module wraps the worker-side layer functions,
then runs PySpark's own daemon loop; every worker forked from it inherits
the wrappers. (``spark.python.worker.module`` cannot carry the hook: the
daemon ignores a worker module whose name does not start with
``pyspark``.)

When a task's first message arrives the worker reads the operation id
from the file named by ``PERFBENCH_TRACE_FLAG``; with no file, tracing is
off for that task. After the task, the spans buffered in memory are
appended to ``$PERFBENCH_SPAN_DIR/<worker pid>.jsonl``.

Importing the engine here, before the fork, means traced workers start
with ``flowforge`` already loaded; untraced runs do not use this module.
"""

from __future__ import annotations

import os
import sys

from pyspark import daemon as _daemon  # reads sys.argv[1] (the worker module)

from perfbench.spans import Recorder


class WorkerHooks:
    """The wrappers of one worker process, and the column bookkeeping the
    codec spans need: ``encode_best`` and ``decode_array`` are not told
    which column they work on. The engine calls them column by column in
    table order, so the position in that cycle names the column; a filtered
    decode reads its payloads through ``_read_chunk_payloads``, which is
    told the column. An encoded array must have its column's type, and a
    decoded chunk the type its position saw first; a mismatch is labelled
    ``?``, not guessed."""

    def __init__(self) -> None:
        self.rec = Recorder()
        self.flag = os.environ.get("PERFBENCH_TRACE_FLAG", "")
        self.span_dir = os.environ.get("PERFBENCH_SPAN_DIR", ".")
        self.task_name = ("pyworker.task" if sys.argv[1:2] in ([], ["pyspark.worker"])
                          else "pyworker.plan")
        self.enc_cols: list[list] = []  # [name, arrow type] per column
        self.enc_i = 0
        self.dec_cols: list[list] = []
        self.dec_i = 0
        self.payload_cols: dict[int, str] = {}  # id(payload) -> column

    # --- column bookkeeping ----------------------------------------------

    @staticmethod
    def _next(cols: list[list], i: int, type_str: str) -> str:
        """Column at position ``i`` of the cycle. A slot with no type yet
        learns the first array's type; later arrays must match it."""
        if not cols:
            return "?"
        slot = cols[i % len(cols)]
        if slot[1] is None:
            slot[1] = type_str
        return slot[0] if slot[1] == type_str else "?"

    def _before_encode_bucket(self, args, kwargs):
        tbl = args[2]
        self.enc_cols = [[f.name, str(f.type)] for f in tbl.schema]
        self.enc_i = 0

    def _before_encode_best(self, args, kwargs):
        col = self._next(self.enc_cols, self.enc_i, str(args[0].type))
        self.enc_i += 1
        return {"column": col}

    def _after_encode_array(self, attrs, args, kwargs, result, parent):
        return {"codec": args[1], "bytes": int(result[1]["bytes_in"]),
                "column": (parent or {}).get("column", "?")}

    def _after_read_payloads(self, attrs, args, kwargs, result, parent):
        for payload in result.values():
            self.payload_cols[id(payload)] = args[1]
        return {"column": args[1]}

    def _before_decode_array(self, args, kwargs):
        meta = args[1]
        col = self.payload_cols.get(id(args[0])) or self._next(
            self.dec_cols, self.dec_i, str(meta.get("type")))
        self.dec_i += 1
        return {"codec": meta.get("codec"), "bytes": int(meta.get("bytes_in", 0)),
                "column": col}

    def _make_decode_kernel(self, orig):
        def make(out_dir, columns, predicates=None):
            # the unfiltered path decodes chunk by chunk, column by column in
            # `columns` order; the filtered path reads its payloads through
            # _read_chunk_payloads, which names the column of each payload
            self.dec_cols = [] if predicates else [[c, None] for c in columns]
            self.dec_i = 0
            self.payload_cols = {}
            return orig(out_dir, columns, predicates)

        return make

    # --- installation ----------------------------------------------------

    def install(self) -> None:
        import pyarrow.parquet as pq

        from flowforge import datasource, engine, selector
        from flowforge.catalog import Manifest
        from flowforge.codecs import chunk

        rec = self.rec
        rec.wrap(engine, "_encode_bucket", "engine.encode_bucket",
                 before=self._before_encode_bucket)
        rec.wrap(selector, "encode_best", "selector.encode_best",
                 before=self._before_encode_best)
        rec.wrap(chunk, "encode_array", "codecs.encode_array",
                 after=self._after_encode_array)
        rec.wrap(chunk, "decode_array", "codecs.decode_array",
                 before=self._before_decode_array)
        rec.wrap(engine, "_read_chunk_payloads", "engine.read_chunk_payloads",
                 after=self._after_read_payloads)
        for kernel in ("chunk_group_multi", "chunk_group_sums",
                       "chunk_value_counts", "chunk_nonnull_count",
                       "dict_may_contain"):
            rec.wrap(chunk, kernel, f"codecs.{kernel}")
        rec.wrap(Manifest, "write_chunk", "catalog.write_chunk")
        rec.wrap(Manifest, "commit_bucket", "catalog.commit_bucket")
        rec.wrap(pq.ParquetFile, "read_row_groups", "ingress.read_row_groups")
        rec.wrap(pq, "read_table", "parquet.read_table")
        rec.wrap(datasource.ChunkStoreReader, "partitions",
                 "datasource.partitions")
        engine._make_decode_kernel = self._make_decode_kernel(
            engine._make_decode_kernel)
        self._hook_tasks()

    def _hook_tasks(self) -> None:
        """A task span runs from the task's first message (the worker
        module's ``check_python_version`` call; before it the worker only
        waits for work) to the end of ``worker_main``. The spans are
        written after PySpark's ``worker`` has flushed the task's output."""
        rec = self.rec
        name = sys.argv[1] if sys.argv[1:2] and sys.argv[1].startswith("pyspark") \
            else "pyspark.worker"
        module = sys.modules[name]
        check = module.check_python_version
        main = _daemon.worker_main
        worker = _daemon.worker
        task: list = []

        def check_python_version(infile):
            rec.op = self._read_op()
            if rec.op is not None:
                task.append(rec.open_span(self.task_name))
            return check(infile)

        def worker_main(infile, outfile):
            try:
                return main(infile, outfile)
            finally:
                while task:
                    rec.close_span(task.pop())
                rec.op = None

        def traced_worker(sock, authenticated):
            try:
                return worker(sock, authenticated)
            finally:
                # a forked worker has its own pid, so its own file
                rec.flush(os.path.join(self.span_dir, f"{os.getpid()}.jsonl"))

        module.check_python_version = check_python_version
        _daemon.worker_main = worker_main
        _daemon.worker = traced_worker

    def _read_op(self) -> int | None:
        try:
            with open(self.flag, encoding="ascii") as f:
                return int(f.read())
        except (OSError, ValueError):
            return None


if __name__ == "__main__":
    WorkerHooks().install()
    _daemon.manager()
