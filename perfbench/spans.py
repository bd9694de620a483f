"""Span recorder and Spark status-store reader for the traced run.

A span covers one call into a layer: name, start, end, parent span and op
id. Each span gets its own Spark job group, so every job the call
launches is attributed to the innermost open span. When a span closes,
its jobs and their stages are read from ``statusTracker()`` and
``statusStore().lastStageAttempt(sid)`` at once, before the status
store's retention can evict them; both work with the UI disabled.

Spans stay in memory (:attr:`Tracer.spans`) and are written out by the
caller at the end of the run. Spark is lazy, so executor time lands on
the span whose action triggered it, not on the span that built the plan.
"""

from __future__ import annotations

import functools
import statistics
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional

# counters summed over a span's subtree
COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "input_bytes", "input_records", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _union_length(intervals: List[tuple]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans around layer calls. One instance per traced run."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: List[dict] = []
        self.op: Optional[int] = None
        self._stack: List[dict] = []
        self._next = 0
        self.sc = None

    def attach(self, spark) -> None:
        """Start attributing jobs; spans opened before this record time only."""
        if not self.enabled:
            return
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": self._next, "name": name, "op": self.op,
               "parent": parent["id"] if parent else None,
               "group": "perfbench-%d" % self._next}
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)
            self._read_jobs(rec)
            self.spans.append(rec)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def _set_group(self, rec: Optional[dict]) -> None:
        if self.sc is None:
            return
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["group"], rec["name"])

    def _read_jobs(self, rec: dict) -> None:
        rec.update(dict.fromkeys(COUNTERS, 0))
        rec["job_intervals"] = []
        if self.sc is None:
            return
        # the status store is fed asynchronously by the listener bus
        self._bus.waitUntilEmpty(10_000)
        for jid in self.sc.statusTracker().getJobIdsForGroup(rec["group"]):
            job = self._store.job(jid)
            rec["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                rec["job_intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            for sid in _seq(job.stageIds()):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks()
                rec["executor_run_s"] += st.executorRunTime() / 1e3
                rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1e3
                rec["input_bytes"] += st.inputBytes()
                rec["input_records"] += st.inputRecords()
                rec["shuffle_read_bytes"] += st.shuffleReadBytes()
                rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
                rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()


def patch(tracer: Tracer, module, attrs: Dict[str, str]) -> None:
    """Replace ``module.<attr>`` by a traced wrapper named ``attrs[attr]``,
    for the rest of the process."""
    for a, name in attrs.items():
        setattr(module, a, tracer.wrap(name, getattr(module, a)))


def inclusive(spans: List[dict]) -> List[dict]:
    """Per span: wall, self time (wall minus the part its children cover),
    counters summed over its subtree, and driver time (wall covered by no
    job of the subtree)."""
    children: Dict[int, List[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    by_id = {s["id"]: s for s in spans}
    cache: Dict[int, dict] = {}

    def visit(s: dict) -> dict:
        if s["id"] in cache:
            return cache[s["id"]]
        kids = [visit(by_id[k["id"]]) for k in children.get(s["id"], [])]
        wall = s["end"] - s["start"]
        out = {"name": s["name"], "op": s["op"], "wall_s": wall,
               "intervals": list(s["job_intervals"])}
        for c in COUNTERS:
            out[c] = s[c] + sum(k[c] for k in kids)
        for k in kids:
            out["intervals"] += k["intervals"]
        out["self_s"] = wall - _union_length(
            [(k["start"], k["end"]) for k in children.get(s["id"], [])])
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in out["intervals"]]
        out["driver_s"] = wall - _union_length([(a, b) for a, b in clipped if b > a])
        out["parallelism"] = out["executor_run_s"] / wall if wall > 0 else 0.0
        cache[s["id"]] = out
        return out

    return [visit(s) for s in spans]


def per_op_medians(spans: List[dict], ops: List[int]) -> Dict[str, Dict[str, float]]:
    """For each span name and metric: the per-op sum over that name's spans,
    then the median over ``ops``. Spans outside any op (set-up) are summed
    once."""
    rows = inclusive(spans)
    names = sorted({r["name"] for r in rows})
    fields = ("wall_s", "self_s", "driver_s") + COUNTERS
    out: Dict[str, Dict[str, float]] = {}
    for name in names:
        mine = [r for r in rows if r["name"] == name]
        keys = ops if any(r["op"] is not None for r in mine) else [None]
        sums = []
        for op in keys:
            sel = [r for r in mine if r["op"] == op]
            sums.append({f: sum(r[f] for r in sel) for f in fields})
        agg = {f: statistics.median(s[f] for s in sums) for f in fields}
        agg["parallelism"] = agg["executor_run_s"] / agg["wall_s"] if agg["wall_s"] else 0.0
        out[name] = agg
    return out
