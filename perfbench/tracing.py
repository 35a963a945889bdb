"""Benchmark-side tracing: spans around the calls into each layer, plus
per-op counters read from Spark's status store and executed plans.

Nothing inside ``tiny_md_hbase_spark`` is instrumented. A traced op runs
under its own Spark job group, so after it returns the benchmark can
list exactly the jobs it caused, their stages (tasks, executor run time,
input records) and, for a DataFrame op, the QueryExecution's planning
phases and the scan node's metrics. Spans and counters stay in memory
and are written to one JSON file when the run ends; the per-layer
metrics are then derived from that file alone (:func:`derive`).
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

READ_KINDS = ("get", "range", "count", "knn")

# name -> (unit, better); every per-layer metric a traced run emits
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "writer.layout_write_s": ("s", "lower"),
    "index.build_s": ("s", "lower"),
    "index.buckets": ("count", "lower"),
    "index.max_pl": ("count", "lower"),
    **{
        f"spatial.{k}.{m}": (u, "lower")
        for k in READ_KINDS
        for m, u in (
            ("plan_ms", "ms"),
            ("outside_jobs_ms", "ms"),
            ("executor_ms", "ms"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("files_read", "count"),
            ("scan_rows_per_result", "ratio"),
        )
    },
    "write.insert.jobs": ("count", "lower"),
    "write.insert.tasks": ("count", "lower"),
    "write.insert.executor_ms": ("ms", "lower"),
    "write.insert.input_records_per_point": ("ratio", "lower"),
    "write.overflowed_buckets": ("count", "lower"),
    "write.table_scanned_share": ("share", "lower"),
    "write.refresh_ms": ("ms", "lower"),
    "write.append_ms": ("ms", "lower"),
    "writer.compact_ms": ("ms", "lower"),
    "writer.compact_bytes_rewritten": ("bytes", "lower"),
    "writer.files": ("count", "lower"),
    "writer.span_overlap_pairs": ("count", "lower"),
    "writer.bytes_per_point": ("bytes", "lower"),
    "trace.overhead_share": ("share", "lower"),
}


class Tracer:
    """Spans (name, start, end, parent, op id) and per-op counters, kept
    in memory. Disabled, it still records spans (a few per setup step, a
    negligible cost) but reads no Spark counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.facts: dict[str, object] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, op: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": op if op is not None else getattr(self._local, "op", None),
            "start": time.time(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One client op: a job group of its own when tracing, so the
        status store can attribute jobs to it afterwards."""
        self._local.op = op_id
        if self.enabled:
            self.spark.sparkContext.setJobGroup(op_id, kind, False)
        try:
            with self.span(f"op.{kind}", op=op_id) as rec:
                yield rec
        finally:
            self._local.op = None

    def record(self, op_id: str, kind: str, start: float, end: float, df=None, extra=None) -> None:
        """Read the status-store counters of ``op_id``'s jobs (and, given
        the op's DataFrame, its plan metrics) once the listener bus has
        caught up."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        c = {"kind": kind, "start": start, "end": end, "jobs": 0, "tasks": 0,
             "executor_ms": 0, "input_records": 0}
        intervals = []
        for jid in sc.statusTracker().getJobIdsForGroup(op_id):
            job = store.job(jid)
            c["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            stages = job.stageIds()
            for i in range(stages.size()):
                try:
                    st = store.lastStageAttempt(stages.apply(i))
                except Py4JJavaError:  # skipped stages have no attempt in the store
                    continue
                c["tasks"] += st.numTasks()
                c["executor_ms"] += st.executorRunTime()
                c["input_records"] += st.inputRecords()
        c["outside_jobs_ms"] = 1e3 * ((end - start) - _covered(intervals, start, end))
        if df is not None:
            c.update(_plan_counters(df))
        if extra:
            c.update(extra)
        self.ops[op_id] = c

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans, "ops": self.ops, "facts": self.facts}, f)


def _covered(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _plan_counters(df) -> dict:
    """Planning time from the QueryExecution tracker, and the scan nodes'
    output rows and files read from the executed (final adaptive) plan."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    plan_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            plan_ms += p.get().durationMs()
    scans = {"scan_rows": 0, "files_read": 0}

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if "FileSourceScan" in name:
            m = node.metrics()
            for key, metric in (("scan_rows", "numOutputRows"), ("files_read", "numFiles")):
                v = m.get(metric)
                if v.isDefined():
                    scans[key] += v.get().value()
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(qe.executedPlan())
    return {"plan_ms": plan_ms, **scans}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def derive(path: str) -> dict[str, float]:
    """Every :data:`PER_LAYER` metric, from a trace file alone."""
    with open(path) as f:
        tr = json.load(f)
    spans, ops, facts = tr["spans"], tr["ops"], tr["facts"]
    children: dict[int, list] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))

    def self_s(name):
        """Each ``name`` span's duration less what its child spans cover."""
        return [
            s["end"] - s["start"] - _covered(children.get(s["id"], []), s["start"], s["end"])
            for s in spans
            if s["name"] == name
        ]

    out = {
        "session.start_s": sum(self_s("session.start")),
        "writer.layout_write_s": _median(self_s("writer.layout_write")),
        "index.build_s": _median(self_s("index.build")),
        "index.buckets": facts["index.buckets"],
        "index.max_pl": facts["index.max_pl"],
    }
    for kind in READ_KINDS:
        cs = [c for c in ops.values() if c["kind"] == kind]
        rows = sum(c["result_rows"] for c in cs)
        p = f"spatial.{kind}."
        out[p + "plan_ms"] = _median([c["plan_ms"] for c in cs])
        out[p + "outside_jobs_ms"] = _median([c["outside_jobs_ms"] for c in cs])
        out[p + "executor_ms"] = _median([c["executor_ms"] for c in cs])
        out[p + "jobs"] = _mean([c["jobs"] for c in cs])
        out[p + "tasks"] = _mean([c["tasks"] for c in cs])
        out[p + "files_read"] = _mean([c["files_read"] for c in cs])
        out[p + "scan_rows_per_result"] = sum(c["scan_rows"] for c in cs) / max(rows, 1)

    ins = [c for c in ops.values() if c["kind"] == "insert"]
    refresh = {s["op"]: s["end"] - s["start"] for s in spans if s["name"] == "write.refresh"}
    points = sum(c["points"] for c in ins)
    out.update({
        "write.insert.jobs": _mean([c["jobs"] for c in ins]),
        "write.insert.tasks": _mean([c["tasks"] for c in ins]),
        "write.insert.executor_ms": _median([c["executor_ms"] for c in ins]),
        "write.insert.input_records_per_point": sum(c["input_records"] for c in ins) / max(points, 1),
        "write.overflowed_buckets": _mean([c["overflowed"] for c in ins]),
        "write.table_scanned_share": _mean([float(c["table_scanned"]) for c in ins]),
        "write.refresh_ms": 1e3 * _median([refresh.get(k, 0.0) for k in ops if ops[k]["kind"] == "insert"]),
        "write.append_ms": 1e3 * _median(
            [c["end"] - c["start"] - refresh.get(k, 0.0) for k, c in ops.items() if c["kind"] == "insert"]
        ),
    })
    # from spans, not traced ops: a run's only compaction may fall in its
    # untraced half
    compacts = [s for s in spans if s["name"] == "op.compact"]
    out.update({
        "writer.compact_ms": 1e3 * _median([c["end"] - c["start"] for c in compacts]),
        "writer.compact_bytes_rewritten": _mean([c["bytes_rewritten"] for c in compacts]),
        "writer.files": facts["writer.files"],
        "writer.span_overlap_pairs": facts["writer.span_overlap_pairs"],
        "writer.bytes_per_point": facts["writer.bytes_per_point"],
        "trace.overhead_share": 1 - facts["traced_ops_per_s"] / facts["untraced_ops_per_s"],
    })
    return out
