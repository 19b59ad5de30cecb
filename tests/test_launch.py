"""Kernel launch: every per-bucket kernel runs over ``spark.range`` with
task i on slice i of the driver-built work rows (engine._launch).

Pins the slice rule without Spark, the task placement with Spark, and a
source guard that keeps the hidden Python stage from coming back: no
``createDataFrame`` outside the Arrow-frame helper and no ``repartition``
outside the salted data shuffle.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import types as T

from flowforge import engine

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "flowforge")


@pytest.mark.parametrize("n_rows,n_tasks", [
    (0, 4), (1, 4), (3, 16), (16, 16), (4 * 16 + 1, 16), (100, 7)])
def test_task_slices_rule(n_rows, n_tasks):
    slices = engine._task_slices(n_rows, n_tasks)
    assert len(slices) == min(n_rows, n_tasks)
    # contiguous, in row order, covering every row exactly once
    covered = [r for lo, hi in slices for r in range(lo, hi)]
    assert covered == list(range(n_rows))
    sizes = [hi - lo for lo, hi in slices]
    assert all(s >= 1 for s in sizes)
    assert not sizes or max(sizes) - min(sizes) <= 1


def test_launch_runs_slice_i_on_task_i(spark):
    from pyspark import TaskContext

    n_rows, n_tasks = 4 * 4 + 1, 4
    work = pa.RecordBatch.from_pydict({"bucket": list(range(n_rows))})
    schema = T.StructType([T.StructField("bucket", T.LongType()),
                           T.StructField("task", T.LongType())])

    def kernel(batches):
        task = TaskContext.get().partitionId()
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "bucket": b.column("bucket"),
                "task": pa.array([task] * b.num_rows, pa.int64())})

    got = {r["bucket"]: r["task"] for r in
           engine._launch(spark, work, kernel, schema, n_tasks).collect()}
    want = {b: i for i, (lo, hi) in
            enumerate(engine._task_slices(n_rows, n_tasks))
            for b in range(lo, hi)}
    assert got == want
    assert engine._launch(spark, work.slice(0, 0), kernel, schema,
                          n_tasks).collect() == []


def _calls_by_function(path: str, attr: str) -> list[str]:
    """Name of the top-level function around every ``.<attr>(...)`` call
    in ``path`` (``<module>`` outside any function)."""
    tree = ast.parse(Path(path).read_text(), path)
    found = []
    for node in tree.body:
        owner = node.name if isinstance(
            node, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for sub in ast.walk(node):
            if (isinstance(sub, ast.Call)
                    and isinstance(sub.func, ast.Attribute)
                    and sub.func.attr == attr):
                found.append(owner)
    return found


def test_no_hidden_python_stage_in_engine_sources():
    for name in ("engine.py", "sqlagg.py"):
        owners = _calls_by_function(os.path.join(PKG, name),
                                    "createDataFrame")
        assert set(owners) <= {"_arrow_frame"}, (name, owners)
    owners = _calls_by_function(os.path.join(PKG, "engine.py"),
                                "repartition")
    assert set(owners) == {"_partition_one_bucket_per_task"}, owners


def test_warm_tasks_do_not_reread_zip_archives(spark):
    """Every task runs ``importlib.invalidate_caches()`` before its kernel;
    with the guard ``import flowforge`` installs, a worker's later tasks
    read no zip archive directory (pyspark.zip holds about 16 importers)."""
    schema = T.StructType([T.StructField("pid", T.LongType()),
                           T.StructField("reads", T.LongType())])

    def kernel(batches):
        import zipimport

        import flowforge  # noqa: F401  -- the worker imports the package

        reads = getattr(zipimport, "_launch_test_reads", None)
        if reads is None:  # first task on this worker: start counting
            reads = zipimport._launch_test_reads = []
            stock_read = zipimport._read_directory

            def counting(path):
                reads.append(path)
                return stock_read(path)

            zipimport._read_directory = counting
            seen = -1
        else:
            seen = len(reads)
        for b in batches:
            yield pa.RecordBatch.from_pydict({
                "pid": pa.array([os.getpid()] * b.num_rows, pa.int64()),
                "reads": pa.array([seen] * b.num_rows, pa.int64())})

    work = pa.RecordBatch.from_pydict({"i": list(range(4))})
    warm = [(r["pid"], r["reads"]) for _ in range(3)
            for r in engine._launch(spark, work, kernel, schema).collect()
            if r["reads"] >= 0]
    assert warm, "no worker ran two tasks"
    assert all(reads == 0 for _, reads in warm), warm
