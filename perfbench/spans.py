"""Span capture and span arithmetic for the traced run.

A span is one call of a wrapped layer function: its name, start and end on
``time.perf_counter`` (CLOCK_MONOTONIC, one clock for every process on the
host, so driver and worker spans share a time axis), the thread CPU it
used (``time.thread_time``), the index of its parent span in the same
process, the operation id and a few attributes (codec, column, bytes).

Spans stay in memory. The driver keeps its own until the run ends; a
Python worker appends its spans to one file per process after each task
(``flush``), because Spark ends idle workers with SIGKILL and no exit hook
runs there.

The analysis side needs no Spark: ``self_segments`` cuts each span into
the intervals where it is the innermost active span of its process, and
``attribute`` splits every instant of an operation between the processes
busy at that instant. The shares plus the uncovered remainder add up to
the operation wall exactly.
"""

from __future__ import annotations

import bisect
import functools
import json
import os
import time

# span record layout (a list, so a record is cheap to build and to fill)
NAME, START, END, CPU, PARENT, OP, ATTRS = range(7)


class Recorder:
    """Per-process span buffer. ``op`` is the operation id stamped on new
    spans; no span is recorded while it is None."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op: int | None = None
        self._stack: list[int] = []

    def wrap(self, owner, attr: str, name: str, before=None, after=None
             ) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper.

        ``before(args, kwargs)`` returns the span's attribute dict when the
        call starts, so children can read it; ``after(attrs, args, kwargs,
        result, parent_attrs)`` returns the final attributes. Both run
        outside the timed interval."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if rec.op is None:
                return orig(*args, **kwargs)
            attrs = before(args, kwargs) if before is not None else None
            span = rec.open_span(name, attrs)
            try:
                result = orig(*args, **kwargs)
            finally:
                rec.close_span(span)
            if after is not None:
                parent = span[PARENT]
                span[ATTRS] = after(
                    attrs, args, kwargs, result,
                    rec.spans[parent][ATTRS] if parent is not None else None)
            return result

        setattr(owner, attr, wrapper)

    def open_span(self, name: str, attrs: dict | None = None) -> list:
        """Start a span as a child of the innermost open one."""
        parent = self._stack[-1] if self._stack else None
        self._stack.append(len(self.spans))
        span = [name, 0.0, 0.0, time.thread_time(), parent, self.op, attrs]
        self.spans.append(span)
        span[START] = time.perf_counter()
        return span

    def close_span(self, span: list) -> None:
        """End ``span``, which must be the innermost open one."""
        span[END] = time.perf_counter()
        span[CPU] = time.thread_time() - span[CPU]
        self._stack.pop()

    def flush(self, path: str) -> None:
        """Append the buffered spans to ``path`` (one JSON list per line:
        pid, then the records) and clear the buffer."""
        if not self.spans:
            return
        with open(path, "a", encoding="utf-8") as f:
            f.write(json.dumps([os.getpid(), self.spans]) + "\n")
        self.spans = []


def load_worker_spans(span_dir: str) -> list[tuple[int, list[list]]]:
    """[(pid, records)] from every worker span file, one entry per flush;
    parent indices refer to records of the same entry."""
    out = []
    if not os.path.isdir(span_dir):
        return out
    for name in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, name), encoding="utf-8") as f:
            for line in f:
                pid, records = json.loads(line)
                out.append((pid, records))
    return out


def self_segments(records: list[list]) -> list[list[tuple[float, float]]]:
    """For each record: the sub-intervals where no child of it runs.

    One process runs one wrapped call at a time, so the self segments of
    all records of one process are disjoint."""
    children: dict[int, list[tuple[float, float]]] = {}
    for r in records:
        if r[PARENT] is not None:
            children.setdefault(r[PARENT], []).append((r[START], r[END]))
    segs = []
    for i, r in enumerate(records):
        pieces = []
        cur = r[START]
        for a, b in sorted(children.get(i, ())):
            if a > cur:
                pieces.append((cur, min(a, r[END])))
            cur = max(cur, b)
        if cur < r[END]:
            pieces.append((cur, r[END]))
        segs.append(pieces)
    return segs


def attribute(segments: list[tuple[str, float, float]], t0: float, t1: float
              ) -> tuple[dict[str, float], float]:
    """Split the operation wall [t0, t1] between labelled segments.

    At every instant each active segment gets 1/k of the time, k being the
    number of segments active then (one per busy process, since a
    process's self segments are disjoint). Returns ``(share by label,
    covered seconds)``; covered is the union of all segments and equals
    the sum of the shares, so ``covered + uncovered == t1 - t0``."""
    clipped = [(lab, max(a, t0), min(b, t1)) for lab, a, b in segments]
    clipped = [s for s in clipped if s[2] > s[1]]
    if not clipped:
        return {}, 0.0
    bounds = sorted({x for _, a, b in clipped for x in (a, b)})
    active = [0] * len(bounds)
    for _, a, b in clipped:
        active[bisect.bisect_left(bounds, a)] += 1
        active[bisect.bisect_left(bounds, b)] -= 1
    # per elementary interval i = [bounds[i], bounds[i+1]): seconds per
    # active segment, accumulated so a segment's share is a difference
    acc = [0.0]
    k = 0
    covered = 0.0
    for i in range(len(bounds) - 1):
        k += active[i]
        dt = bounds[i + 1] - bounds[i]
        if k > 0:
            covered += dt
            acc.append(acc[-1] + dt / k)
        else:
            acc.append(acc[-1])
    share: dict[str, float] = {}
    for lab, a, b in clipped:
        i, j = bisect.bisect_left(bounds, a), bisect.bisect_left(bounds, b)
        share[lab] = share.get(lab, 0.0) + acc[j] - acc[i]
    return share, covered
