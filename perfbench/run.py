"""flowforge benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload sql_webpages --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The process generates the web-pages
table from ``--seed``, starts Spark at ``local[<nproc>]``, sets up the
workload, then runs whole passes of its operations, one at a time, until
``--seconds`` have passed, and checks every result outside the timed
region. It prints a report and, as
the last line, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
its per-layer metrics with ``--trace 1``.

``--trace 1`` starts the Python workers through ``perfbench.daemon`` and
runs every operation twice in a row, once traced and once not. It reports
the per-layer table of the traced operations, the per-statement probes and
the tracing overhead (the median traced-minus-untraced wall of a pair).

Everything the run writes lives under ``.perfbench_work/`` in the checkout
and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402  (needs ROOT on the path)

PAGE_CACHE_NOTE = (
    "inputs and stores sit in the page cache (a few tens of MB), so "
    "latencies are this machine's memory and CPU, not a storage device's")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Bench:
    """Run state shared by the workload and its operations."""

    def __init__(self, seed: int, work: str, nproc: int) -> None:
        import duckdb

        self.seed, self.work, self.nproc = seed, work, nproc
        self.spark = None
        self.source = None  # workloads.Source
        self.store = ""
        self.duck = duckdb.connect()
        self.duck.execute("SET threads TO 2")


def _environment(work: str, trace: bool) -> None:
    """Keep Spark, the JVM and Python's temp files inside ``work``, and put
    the checkout on the workers' import path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["FLOWFORGE_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ["FLOWFORGE_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        span_dir = os.path.join(work, "spans")
        os.makedirs(span_dir)
        os.environ["PERFBENCH_SPAN_DIR"] = span_dir
        os.environ["PERFBENCH_TRACE_FLAG"] = os.path.join(work, "trace.flag")
        confs["spark.python.daemon.module"] = "perfbench.daemon"
    # the launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell"


def _tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it. Below 11 samples no percentile has; the upper
    quartile (interpolated) stands in, since the maximum of a handful of
    operations follows single host stalls."""
    xs = sorted(walls)
    n = len(xs)
    if n >= 11:
        return xs[n - 11], 100.0 * (n - 10) / n
    if n == 1:
        return xs[0], 100.0
    return statistics.quantiles(xs, n=4, method="inclusive")[2], 75.0


def _measure(op, op_id: int, tracer=None) -> dict:
    """Run one operation, timed, then check its result (untimed). CPU and
    I/O are read from /proc just outside the timed interval."""
    me = os.getpid()
    op.reset()
    cpu0, r0, w0 = procstat.sample(me)
    if tracer:
        tracer.begin(op_id)
    err = result = None
    t0 = time.perf_counter()
    try:
        result = op.run()
    except Exception as exc:  # a failed operation is a measured outcome
        err = f"raised {exc!r}"
    t1 = time.perf_counter()
    if tracer:
        tracer.end()
    cpu1, r1, w1 = procstat.sample(me)
    if err is None:
        try:
            err = op.check(result)
        except Exception as exc:
            err = f"check raised {exc!r}"
    return {"id": op_id, "name": op.name, "traced": tracer is not None,
            "t0": t0, "t1": t1, "wall": t1 - t0, "cpu": cpu1 - cpu0,
            "rchar": r1 - r0, "wchar": w1 - w0, "error": err}


def _loop(ops, seconds: float, tracer=None) -> list[dict]:
    """Closed loop, one client: run whole passes of the rotation until
    ``seconds`` have passed. A run is short enough that the JVM is still
    compiling, so operations speed up along the run; whole passes keep the
    median at the same place on that curve from run to run. With a tracer
    each operation runs twice in a row, untraced and traced, the order
    alternating from one step to the next."""
    samples: list[dict] = []
    t_end = time.perf_counter() + seconds
    while not samples or time.perf_counter() < t_end:
        for step, op in enumerate(ops):
            if tracer is None:
                samples.append(_measure(op, len(samples)))
                continue
            for traced in ((False, True) if step % 2 == 0 else (True, False)):
                samples.append(_measure(op, len(samples), tracer if traced else None))
    return samples


def _stop_spark(spark) -> None:
    """Stop Spark, the JVM and the Python daemons it forked, and wait for
    each of them to end."""
    from pyspark import SparkContext

    kids = [p for p in procstat.tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if procstat.alive(p)]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _metadata(bench, workload, args, setup: dict) -> list[str]:
    conf = dict(bench.spark.sparkContext.getConf().getAll())
    keep = sorted(k for k in conf if k.startswith(("spark.sql.", "spark.python.",
                                                   "spark.driver.memory",
                                                   "spark.master",
                                                   "spark.local.dir")))
    src = bench.source
    return [
        f"workload {workload.name}  seed {args.seed}  seconds {args.seconds:g}  "
        f"trace {args.trace}",
        f"nproc {bench.nproc}  master {bench.spark.sparkContext.master}  "
        f"rows {src.rows}  logical_bytes {src.logical_bytes}",
        "spark conf: " + "  ".join(f"{k}={conf[k]}" for k in keep),
        f"note: {PAGE_CACHE_NOTE}",
        "setup: " + "  ".join(f"{k}={v:.3f}s" for k, v in setup.items()),
    ]


def _statement_table(samples: list[dict]) -> list[str]:
    names = list(dict.fromkeys(s["name"] for s in samples))
    lines = [f"{'operation':14s} {'n':>3s} {'p50_wall_s':>11s} {'p50_cpu_s':>10s} "
             f"{'rchar_MB':>9s} {'wchar_MB':>9s} {'failed':>6s}"]
    for n in names:
        ss = [s for s in samples if s["name"] == n]
        lines.append(
            f"{n:14s} {len(ss):3d} {statistics.median(s['wall'] for s in ss):11.4f} "
            f"{statistics.median(s['cpu'] for s in ss):10.3f} "
            f"{statistics.median(s['rchar'] for s in ss) / 1e6:9.2f} "
            f"{statistics.median(s['wchar'] for s in ss) / 1e6:9.2f} "
            f"{sum(1 for s in ss if s['error']):6d}")
    return lines


def _self_check(spec: dict, workload: str, metrics: dict, trace: int) -> None:
    """Every workload BENCHMARK.json names exists here, and every metric it
    names for this mode is emitted with its unit, and nothing else."""
    from perfbench.workloads import WORKLOADS

    named = {w["name"] for w in spec["workloads"]}
    if named != set(WORKLOADS) or workload not in named:
        raise ValueError(f"BENCHMARK.json workloads {sorted(named)} != "
                         f"{sorted(WORKLOADS)}")
    want = {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise ValueError(f"metrics {sorted(set(got) ^ set(want))} differ from "
                         f"BENCHMARK.json (or their units do)")


def main() -> None:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, "flowforge", "__init__.py")):
        _fail(f"no flowforge package next to {os.path.dirname(__file__)}; "
              f"run from the root of a flowforge checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    _environment(work, bool(args.trace))
    bench = Bench(args.seed, work, nproc)
    workload = workloads.WORKLOADS[args.workload](bench)
    try:
        report, result = _run(args, spec, bench, workload, nproc)
    finally:
        if bench.spark is not None:
            _stop_spark(bench.spark)
        bench.duck.close()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print("\n".join(report))
    print(json.dumps(result))


def _run(args, spec, bench, workload, nproc) -> tuple[list[str], dict]:
    from flowforge.session import get_spark

    from perfbench import layers, spans

    # --- set-up: session, input and store, warm-up (all timed once)
    setup: dict[str, float] = {"imports": time.perf_counter() - T_START}
    t = time.perf_counter()
    bench.spark = get_spark(f"perfbench-{workload.name}", master=f"local[{nproc}]",
                            shuffle_partitions=nproc)
    setup["session"] = time.perf_counter() - t
    t = time.perf_counter()
    workload.prepare(os.path.join(bench.work, "data"))
    setup["prepare"] = time.perf_counter() - t
    workload.references()
    ops = workload.rotation()
    t = time.perf_counter()
    for k in range(workload.warmup_ops):
        op = ops[k % len(ops)]
        op.reset()
        op.run()
    setup["warmup"] = time.perf_counter() - t
    setup_s = setup["session"] + setup["prepare"] + setup["warmup"]

    # --- measurement
    tracer = layers.DriverTracer(os.environ["PERFBENCH_TRACE_FLAG"]) if args.trace else None
    steal0, all0 = procstat.host_cpu()
    t = time.perf_counter()
    samples = _loop(ops, args.seconds, tracer)
    loop_s = time.perf_counter() - t
    steal1, all1 = procstat.host_cpu()
    final_err = workload.final_check()
    if final_err:
        samples[-1]["error"] = samples[-1]["error"] or final_err

    walls = [s["wall"] for s in samples]
    failed = sum(1 for s in samples if s["error"])
    p50 = statistics.median(walls)
    tail, tail_pct = _tail(walls)
    logical = bench.source.logical_bytes
    store_bytes = workload.store_bytes()
    report = _metadata(bench, workload, args, setup)
    report.append(f"operations {len(samples)} in {loop_s:.1f} s  failed {failed}  "
                  f"ops_failed_frac {failed / len(samples):.4f}  "
                  f"store_bytes {store_bytes}  snappy_bytes {workload.snappy_bytes}")
    report.append(f"latency_tail_s is p{tail_pct:.1f} of {len(samples)} samples; "
                  f"host steal during the loop "
                  f"{100 * (steal1 - steal0) / max(1, all1 - all0):.1f}% of CPU time")
    report += _statement_table(samples)
    for s in samples:
        if s["error"]:
            report.append(f"FAILED {s['name']}#{s['id']}: {s['error'][:500]}")

    if args.trace:
        probes = workload.probe()
        time.sleep(0.5)  # let workers finish their last span flush
        batches = spans.load_worker_spans(os.environ["PERFBENCH_SPAN_DIR"])
        batches.append((os.getpid(), tracer.rec.spans))
        traced = [s for s in samples if s["traced"]]
        # samples come in pairs of one operation, one traced and one not
        overhead = statistics.median(
            b["wall"] - a["wall"] if b["traced"] else a["wall"] - b["wall"]
            for a, b in zip(samples[::2], samples[1::2]))
        rep = layers.LayerReport(traced, batches, os.getpid(), nproc)
        values = rep.metrics(probes, overhead)
        report.append(f"tracing overhead: median over {len(traced)} pairs of "
                      f"(traced - untraced) wall of one operation = "
                      f"{overhead:+.4f} s")
        report += rep.table()
        for p in probes:
            report.append("probe " + "  ".join(f"{k}={v}" for k, v in p.items()))
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        metrics = {k: {"value": values[k], "unit": units.get(k, "?")} for k in values}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "throughput_gbps": {"value": logical / p50 / 1e9, "unit": "GB/s"},
            "latency_p50_s": {"value": p50, "unit": "s"},
            "latency_tail_s": {"value": tail, "unit": "s"},
            "cpu_s_per_op": {"value": statistics.median(s["cpu"] for s in samples),
                             "unit": "s"},
            "bytes_per_input_byte": {"value": store_bytes / logical, "unit": "ratio"},
            "size_vs_snappy": {"value": store_bytes / workload.snappy_bytes,
                               "unit": "ratio"},
        }
    _self_check(spec, workload.name, metrics, args.trace)
    report += [f"{k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    result = {"correct": failed == 0, "attempted": len(samples), "failed": failed,
              "metrics": metrics}
    return report, result


if __name__ == "__main__":
    main()
