"""Per-layer tracing for the benchmark's ``--trace 1`` run.

Three sources, none of which changes engine code:

- spans: wrappers around the public functions of the engine layers
  (catalog handles, dedup/similarity operators, findings normalizers,
  TxTable DML, streaming starts), recorded only while a traced op
  runs. A span records name, start, end, parent span and op id; spans
  live in memory and are summarized and written out when the run ends.
  A layer's self time is its span minus its child spans.
- Spark's event log (``spark.eventLog.*``), parsed after the session
  stops, for job/stage/task sums per op interval;
- a ``StreamingQueryListener`` for micro-batch progress.
"""

from __future__ import annotations

import datetime as _dt
import functools
import glob
import inspect
import json
import os
import sys
import threading
import time

LAYERS = ("catalog", "operators", "normalizers", "txtable", "streaming")
TXTABLE_METHODS = ("init", "merge_into", "delete_where", "update_where", "read", "table_changes")
_TXTABLE_WRAPPED = TXTABLE_METHODS + ("overwrite", "delete_keys", "compact")


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        # [name, layer, start, end, parent, op]
        self.spans: list[list] = []
        self._local = threading.local()
        self._seen_handles: set[int] = set()
        self.handle_calls = 0
        self.handle_hits = 0
        self.tables: set[str] = set()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, layer: str, name: str, fn, on_result=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            rec = None
            if self.enabled:
                stack = self._stack()
                rec = [name, layer, time.perf_counter(), None, stack[-1] if stack else None, self.op]
                self.spans.append(rec)
                stack.append(len(self.spans) - 1)
            try:
                out = fn(*args, **kwargs)
            finally:
                if rec is not None:
                    rec[3] = time.perf_counter()
                    stack.pop()
            if on_result is not None:
                on_result(args, out)
            return out

        traced.__bench_original__ = fn
        return traced

    # -- installation --------------------------------------------------

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from filesystemagent_spark import catalog
        from filesystemagent_spark.operators import dedup, similarity
        from filesystemagent_spark.sources import normalizers, txtable

        # Handles are seen on every call, warm-up included, so a hit is a
        # handle the catalog already served in this session. The catalog
        # memo keeps its handles alive, so their ids stay unique.
        def on_handle(args, df) -> None:
            if self.enabled:
                self.handle_calls += 1
                self.handle_hits += id(df) in self._seen_handles
            self._seen_handles.add(id(df))

        def on_tx(args, _out) -> None:
            if self.enabled:
                self.tables.add(args[0].path)

        swaps: dict[int, object] = {}
        for layer, mod, keep in (
            ("operators", dedup, lambda n: True),
            ("operators", similarity, lambda n: True),
            ("normalizers", normalizers, lambda n: n.endswith("_findings")),
        ):
            for name, fn in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or not keep(name)
                ):
                    continue
                w = self.wrap(layer, f"{layer}.{name}", fn)
                setattr(mod, name, w)
                swaps[id(fn)] = w
        # `from x import f` bindings elsewhere in the engine keep the
        # original object; point them at the wrapper too.
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("filesystemagent_spark") or mod is None:
                continue
            for k, v in list(vars(mod).items()):
                if id(v) in swaps and getattr(swaps[id(v)], "__bench_original__", None) is v:
                    setattr(mod, k, swaps[id(v)])

        cls = catalog.Catalog
        cls.table = self.wrap("catalog", "catalog.table", cls.table, on_handle)
        for m in _TXTABLE_WRAPPED:
            orig = getattr(txtable.TxTable, m)
            setattr(txtable.TxTable, m, self.wrap("txtable", f"txtable.{m}", orig, on_tx))
        DataStreamWriter.start = self.wrap("streaming", "streaming.start", DataStreamWriter.start)

    # -- summaries -----------------------------------------------------

    def layer_times(self) -> dict[str, float]:
        """Outermost-span time per layer, self time per layer, and
        per-name time and call count, summed over every traced op."""
        out: dict[str, float] = {}
        child: dict[int, float] = {}
        for rec in self.spans:
            if rec[3] is not None and rec[4] is not None:
                child[rec[4]] = child.get(rec[4], 0.0) + rec[3] - rec[2]
        for i, (name, layer, t0, t1, parent, _op) in enumerate(self.spans):
            if t1 is None:
                continue
            dur = t1 - t0
            out[name] = out.get(name, 0.0) + dur
            out[f"{layer}.self"] = out.get(f"{layer}.self", 0.0) + dur - child.get(i, 0.0)
            if parent is None or self.spans[parent][1] != layer:
                out[f"{layer}.outer"] = out.get(f"{layer}.outer", 0.0) + dur
            out[f"{name}.calls"] = out.get(f"{name}.calls", 0.0) + 1
        return out


def make_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = _dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
            sink.append(
                {
                    "t": ts.timestamp(),
                    "dur": dict(p.durationMs or {}),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressListener()


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def parse_eventlog(log_dir: str, intervals: list[tuple[float, float]]) -> dict[str, float]:
    """Sum job/stage/task figures over the given op intervals (epoch
    seconds). A job or stage belongs to the op whose interval holds its
    submission time."""
    bounds = [(a * 1000.0, b * 1000.0) for a, b in intervals]

    def owner(ms: float) -> int | None:
        for i, (a, b) in enumerate(bounds):
            if a <= ms <= b:
                return i
        return None

    jobs: dict[int, list] = {}
    sums = dict.fromkeys(
        ("stages", "tasks", "task_ms", "cpu_ns", "gc_ms", "input", "sh_write", "sh_read", "spill"),
        0.0,
    )
    for path in glob.glob(os.path.join(log_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = owner(ev["Submission Time"])
                    if op is not None:
                        jobs[ev["Job ID"]] = [op, ev["Submission Time"], None]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][2] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    sub = si.get("Submission Time")
                    if sub is None or owner(sub) is None:
                        continue
                    acc = {
                        a["Name"]: a["Value"]
                        for a in si.get("Accumulables", [])
                        if isinstance(a.get("Value"), int)
                    }
                    g = acc.get
                    sums["stages"] += 1
                    sums["tasks"] += si["Number of Tasks"]
                    sums["task_ms"] += g("internal.metrics.executorRunTime", 0)
                    sums["cpu_ns"] += g("internal.metrics.executorCpuTime", 0)
                    sums["gc_ms"] += g("internal.metrics.jvmGCTime", 0)
                    sums["input"] += g("internal.metrics.input.bytesRead", 0)
                    sums["sh_write"] += g("internal.metrics.shuffle.write.bytesWritten", 0)
                    sums["sh_read"] += g("internal.metrics.shuffle.read.localBytesRead", 0) + g(
                        "internal.metrics.shuffle.read.remoteBytesRead", 0
                    )
                    sums["spill"] += g("internal.metrics.memoryBytesSpilled", 0) + g(
                        "internal.metrics.diskBytesSpilled", 0
                    )
    per_op: dict[int, list] = {}
    for op, s, e in jobs.values():
        if e is not None:
            per_op.setdefault(op, []).append((s, e))
    in_jobs_ms = sum(_union_ms(v) for v in per_op.values())
    sums["jobs"] = float(sum(1 for j in jobs.values() if j[2] is not None))
    sums["in_jobs_s"] = in_jobs_ms / 1000.0
    return sums
