"""Span tracing from outside the engine, with Spark job attribution.

A :class:`Tracer` wraps the engine's public functions at their layer
boundaries (``patch``), records one span per call in memory, and tags
every Spark job with the innermost active span through the
``spark.jobGroup.id`` local property. After each operation,
:meth:`Tracer.end_op` reads that operation's jobs and their stages from
Spark's status store (the UI stays disabled) and folds them into the
per-operation ``session.*`` figures.

What a span measures: a wrapped builder that returns a lazy DataFrame
covers plan construction plus whatever jobs the builder runs eagerly
(counts, checkpoints, collects); the work of the returned plan runs
later, inside the span of the action that executes it.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
from contextlib import contextmanager
from time import perf_counter

import pyarrow.parquet as pq

GROUP_PROP = "spark.jobGroup.id"


def dir_bytes_rows(path: str) -> tuple[int, int]:
    """Bytes and rows of the parquet files directly under ``path``,
    from file sizes and footers only (no Spark job)."""
    n_bytes = n_rows = 0
    if not os.path.isdir(path):
        return 0, 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            f = os.path.join(path, name)
            n_bytes += os.path.getsize(f)
            n_rows += pq.ParquetFile(f).metadata.num_rows
    return n_bytes, n_rows


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.stack: list[dict] = []
        self.op_id = 0
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping
        self._op_first_span = 0

    # -- spans ------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        t_in = perf_counter()
        parent = self.stack[-1] if self.stack else None
        s = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "jobs": 0,
            "child_s": 0.0,
        }
        s["group"] = f"perfbench-{s['id']}"
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setLocalProperty(GROUP_PROP, s["group"])
        s["start"] = perf_counter()
        self.overhead_s += s["start"] - t_in
        try:
            yield s
        finally:
            s["end"] = perf_counter()
            self.stack.pop()
            self.sc.setLocalProperty(GROUP_PROP, parent["group"] if parent else None)
            if parent:
                parent["child_s"] += s["end"] - s["start"]
            self.overhead_s += perf_counter() - s["end"]

    def patch(self, span_name: str, module: str, attr: str, sink: str | None = None) -> None:
        """Wrap ``module.attr`` in a span, everywhere it is looked up.

        Callers that bound the function at import time
        (``from ... import fill_down``) hold their own reference, so every
        loaded engine module whose attribute *is* the original function
        gets the wrapper. ``sink`` names the output-size accounting:
        ``"write"`` for a parquet write, ``"upsert"`` for a keyed merge.
        """
        original = getattr(importlib.import_module(module), attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            path = args[1] if len(args) > 1 else kwargs.get("path")
            before = tracer._sink_before(sink, path)
            with tracer.span(span_name) as s:
                out = original(*args, **kwargs)
            tracer._sink_after(s, sink, path, before)
            return out

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("eurovision_spark") and getattr(mod, attr, None) is original:
                setattr(mod, attr, wrapper)

    def _sink_before(self, sink: str | None, path: str | None):
        if sink != "upsert":
            return None
        t0 = perf_counter()
        existed = os.path.exists(path)
        rows = dir_bytes_rows(path)[1]
        self.overhead_s += perf_counter() - t0
        return existed, rows

    def _sink_after(self, s: dict, sink: str | None, path: str | None, before) -> None:
        if sink is None:
            return
        t0 = perf_counter()
        out_bytes, out_rows = dir_bytes_rows(path)
        if sink == "upsert":
            existed, rows_before = before
            s["new_rows"] = new_rows = out_rows - rows_before
            s["new_bytes"] = new_rows * out_bytes / out_rows if out_rows else 0.0
            if existed:
                # the merged store is written to path_next, then copied back
                nb, nr = dir_bytes_rows(path + "_next")
                out_bytes, out_rows = out_bytes + nb, out_rows + nr
        s["output_bytes"] = out_bytes
        s["output_rows"] = out_rows
        self.overhead_s += perf_counter() - t0

    # -- operations --------------------------------------------------
    def begin_op(self) -> None:
        self.op_id += 1
        self._op_first_span = len(self.spans)

    def end_op(self, wall_s: float, floor_s: float) -> dict:
        """Attribute the finished operation's jobs to its spans and read
        their stage metrics from the status store."""
        t0 = perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store has every event
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        op = {
            "op": self.op_id,
            "wall_s": wall_s,
            "jobs": 0,
            "exec_run_s": 0.0,
            "exec_cpu_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "input_bytes": 0,
            "spill_bytes": 0,
            "peak_exec_mem_bytes": 0,
        }
        intervals = []
        for s in self.spans[self._op_first_span :]:
            for jid in tracker.getJobIdsForGroup(s["group"]):
                s["jobs"] += 1
                op["jobs"] += 1
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    intervals.append(
                        (
                            jd.submissionTime().get().getTime() / 1e3,
                            jd.completionTime().get().getTime() / 1e3,
                        )
                    )
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    self._add_stage(op, store, sid)
        busy = 0.0
        end = float("-inf")
        for a, b in sorted(intervals):
            if b > end:
                busy += b - max(a, end)
                end = b
        op["driver_s"] = max(0.0, wall_s - busy)
        op["floor_share"] = op["jobs"] * floor_s / wall_s if wall_s else 0.0
        self.ops.append(op)
        self.overhead_s += perf_counter() - t0
        return op

    @staticmethod
    def _add_stage(op: dict, store, sid: int) -> None:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — a skipped stage never ran: no attempt recorded
            return
        op["exec_run_s"] += sd.executorRunTime() / 1e3
        op["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        op["gc_s"] += sd.jvmGcTime() / 1e3
        op["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        op["shuffle_read_bytes"] += sd.shuffleReadBytes()
        op["input_bytes"] += sd.inputBytes()
        op["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        op["peak_exec_mem_bytes"] = max(op["peak_exec_mem_bytes"], sd.peakExecutionMemory())

    def span_records(self) -> list[dict]:
        """The spans as written to the trace file: times relative to the
        first span, self time = duration minus child-covered time."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            rec = {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "op": s["op"],
                "start_s": round(s["start"] - t0, 6),
                "end_s": round(s["end"] - t0, 6),
                "self_s": round(dur - s["child_s"], 6),
                "jobs": s["jobs"],
            }
            for k in ("output_bytes", "output_rows", "new_rows", "new_bytes"):
                if k in s:
                    rec[k] = s[k]
            out.append(rec)
        return out
