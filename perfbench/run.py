"""Point-store serving benchmark: one closed-loop load generator driving the
public point-store API over one long-lived Spark session.

    python3 perfbench/run.py --workload read_hotspot --seed 1 --seconds 15 --trace 0

Run from the repository root; ``perfbench/selfcheck.py`` checks the
benchmark itself at toy scale. Per run it:

1. generates every input from ``--seed`` (workloads.py) before any
   timing;
2. starts ``session.get_spark`` and builds the served table
   ``SETUP_REPEATS`` times (``setup_s`` = session start + the median
   build);
3. runs an untimed warm-up, then the timed window: ``--seconds`` of
   closed-loop clients (with ``--trace 1``: half untraced, half traced);
4. checks every op against the numpy oracle (oracle.py), and at the end
   of ``ingest_hotspot`` checks the stored index against a from-scratch
   ``index_build_np``;
5. prints one summary line per metric, then, as the last line, one JSON
   object: the end-to-end metrics (``--trace 0``) or the per-layer
   metrics derived from the trace file (``--trace 1``).

The environment the program runs in is pinned here, before the JVM
starts: all host CPUs, a 1 GiB driver, PYTHONPATH at the repository root
(Python workers import the package), and Spark's local dirs, temp files
and tables under ``.perfbench/`` in the repository, removed at exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

from oracle import Oracle, normalize, zvalues  # noqa: E402
from tracing import PER_LAYER, READ_KINDS, Tracer, derive  # noqa: E402
from workloads import (  # noqa: E402
    BATCH_POINTS,
    COMPACT_EVERY,
    INGEST_BATCHES,
    INGEST_READS_PER_STEP,
    OPS_PER_CLIENT,
    WORKLOADS,
    Hotspots,
    Points,
    fixture_points,
    lineitem,
    read_ops,
)

SETUP_REPEATS = 3  # the median is a warm build; the first pays JIT and codegen
# a 1 GiB heap fills in every run, so peak RSS repeats; with 2 GiB it
# swung 15-30% between runs of one seed
DRIVER_MEMORY = "1g"
WARMUP_OPS = 12  # per client; shorter warm-ups left the JIT warming into the timed window
P90_MIN_SAMPLES = 100

# name -> (unit, better); the metrics every workload reports with --trace 0.
# read_p50_ms is the median over all reads of the workload's mix: a
# workload's run holds too few reads of one kind (ingest_hotspot: about
# twelve) for a per-kind median to repeat within a bound.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "read_p50_ms": ("ms", "lower"),
    "bytes_per_point": ("bytes", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}
# Reported in the summary only, where the run has them: per-kind p50s,
# p90s once a kind has P90_MIN_SAMPLES, and the insert figures of ingest.
EXTRA_UNITS = {
    **{f"{k}_p{q}_ms": "ms" for k in READ_KINDS for q in (50, 90)},
    "insert_p50_ms": "ms",
    "insert_points_per_s": "1/s",
    "failed_ops_share": "share",
}


def pin_env(work: str) -> dict[str, str]:
    """Environment of the program under test; must run before the JVM
    starts. Returns what it set, for the summary."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return pinned


def stop_spark() -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _pct(xs: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(xs), q))


class Bench:
    """One workload run over one Spark session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, scale: str, work: str):
        self.name = workload
        self.spec = WORKLOADS[scale][workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.records: list[dict] = []
        self._op_ids = itertools.count(1)
        self._lock = threading.Lock()

    # -- inputs ---------------------------------------------------------

    def generate(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        spec = self.spec
        inputs = os.path.join(self.work, "input")
        os.makedirs(inputs, exist_ok=True)
        self.hotspots = None
        if spec.kind == "fixture":
            li = lineitem(rng, spec.points)
            self.source = os.path.join(inputs, "lineitem.parquet")
            pq.write_table(pa.table(li), self.source)
            table = fixture_points(li)
        else:
            self.hotspots = Hotspots()
            table = self.hotspots.points(rng, spec.points, first_id=0)
            self.source = os.path.join(inputs, "points.parquet")
            pq.write_table(pa.table({"id": table.id, "x": table.x, "y": table.y}), self.source)
        self.seed_table = table
        if spec.ingest:
            import pandas as pd

            n_batches = INGEST_BATCHES
            batches = [
                self.hotspots.points(rng, BATCH_POINTS, first_id=spec.points + i * BATCH_POINTS)
                for i in range(n_batches)
            ]
            self.batches = [pd.DataFrame({"id": b.id, "x": b.x, "y": b.y}) for b in batches]
            self.oracle = Oracle(Points.concat([table] + batches))
            kinds = np.tile(np.array(READ_KINDS), n_batches * INGEST_READS_PER_STEP // len(READ_KINDS))
            self.client_ops = [read_ops(rng, spec, table, self.hotspots, len(kinds), kinds)]
        else:
            self.oracle = Oracle(table)
            self.client_ops = [
                read_ops(np.random.default_rng([self.seed, c]), spec, table, self.hotspots, OPS_PER_CLIENT)
                for c in range(spec.clients)
            ]
        self.cursor = [0] * len(self.client_ops)

    # -- setup ----------------------------------------------------------

    def setup(self) -> None:
        from tiny_md_hbase_spark.session import get_spark

        w0, t0 = time.time(), time.perf_counter()
        self.spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, enabled=False)
        self.tracer.spans.append(
            {"id": 0, "name": "session.start", "parent": None, "op": None, "start": w0, "end": time.time()}
        )
        builds = []
        for r in range(SETUP_REPEATS):
            path = os.path.join(self.work, f"table_{r}")
            t = time.perf_counter()
            with self.tracer.span("setup.build"):
                (self._seed_table if self.spec.ingest else self._build_table)(path)
            builds.append(time.perf_counter() - t)
            if r:
                shutil.rmtree(os.path.join(self.work, f"table_{r - 1}"))
        self.path = path
        self.setup_s = session_s + statistics.median(builds)
        self.live = len(self.seed_table)
        if not self.spec.ingest:
            self.points = self._read_points()
        idx = self._index_rows()
        self.tracer.facts["index.buckets"] = len(idx)
        self.tracer.facts["index.max_pl"] = int(idx[:, 1].max())

    def _source_points(self):
        from pyspark.sql import functions as F

        src = self.spark.read.parquet(self.source)
        if self.spec.kind != "fixture":
            return src
        # the FIXTURES.md points view, expression for expression
        return src.select(
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
            (F.col("l_partkey") % 4096).cast("int").alias("x"),
            ((F.col("l_suppkey") * 997 + F.col("l_orderkey")) % 4096).cast("int").alias("y"),
        )

    def _build_table(self, path: str) -> None:
        from tiny_md_hbase_spark.operators.index import index_build
        from tiny_md_hbase_spark.sources.writer import write_points_zsorted

        with self.tracer.span("writer.layout_write"):
            write_points_zsorted(self._source_points(), f"{path}/points")
        with self.tracer.span("index.build"):
            pts = self.spark.read.parquet(f"{path}/points")
            index_build(pts).write.mode("overwrite").parquet(f"{path}/index")

    def _seed_table(self, path: str) -> None:
        """The ingest table, seeded through ``insert_append``; its index
        refresh gets a span of its own by wrapping
        ``operators.write.refresh_index``."""
        from tiny_md_hbase_spark.operators import write as W

        inner = W.refresh_index

        def traced_refresh(*a, **kw):
            with self.tracer.span("index.build"):
                return inner(*a, **kw)

        W.refresh_index = traced_refresh
        try:
            with self.tracer.span("writer.layout_write"):
                W.table_create(self.spark, path)
                W.insert_append(self.spark, path, self._source_points())
        finally:
            W.refresh_index = inner

    def _read_points(self):
        """The table as the CLI reads it (``cli._points``)."""
        return self.spark.read.parquet(f"{self.path}/points").select("id", "x", "y")

    def _index_rows(self) -> np.ndarray:
        import pyarrow.parquet as pq

        t = pq.read_table(f"{self.path}/index", columns=["bucket_z", "pl", "size"])
        return np.stack([t.column(c).to_numpy() for c in ("bucket_z", "pl", "size")], axis=1)

    # -- ops --------------------------------------------------------------

    def _run_op(self, kind: str, window: str, fn, extra=None) -> dict:
        """Time one op; an op that raises is recorded as failed."""
        with self._lock:
            op_id = f"op-{next(self._op_ids)}"
        rec = {"id": op_id, "kind": kind, "window": window, "live": self.live}
        df = None
        w0 = time.time()
        t0 = time.perf_counter()
        with self.tracer.op(op_id, kind) as span:
            try:
                df, rec["out"] = fn()
            except Exception as e:  # counted in failed_ops_share; the run goes on
                rec["error"] = f"{type(e).__name__}: {e}"
        rec["end"] = time.perf_counter()
        rec["latency"] = rec["end"] - t0
        more = dict(extra(rec) if extra else {})
        if kind in READ_KINDS:
            more["result_rows"] = len(rec.get("out") or [])
        span.update(more)  # spans are kept in untraced windows too
        self.tracer.record(op_id, kind, w0, time.time(), df, more)
        self.records.append(rec)
        return rec

    def _read(self, op, window: str) -> dict:
        from tiny_md_hbase_spark.operators import spatial

        build = {
            "get": spatial.point_get,
            "range": spatial.range_query,
            "count": spatial.range_count,
            "knn": spatial.knn,
        }[op.kind]

        def fn():
            pts = self._read_points() if self.spec.ingest else self.points
            df = build(pts, *op.args)
            return df, df.collect()

        rec = self._run_op(op.kind, window, fn)
        rec["op"] = op
        return rec

    def _read_client(self, c: int, window: str, deadline: float, limit: int | None = None) -> None:
        ops = self.client_ops[c]
        done = 0
        while time.perf_counter() < deadline and (limit is None or done < limit):
            op = ops[self.cursor[c] % len(ops)]
            self.cursor[c] += 1
            self._read(op, window)
            done += 1

    def _ingest_step(self, window: str) -> None:
        """Insert the next batch, compact every COMPACT_EVERY-th batch, then
        run INGEST_READS_PER_STEP reads, every op kind in turn."""
        from tiny_md_hbase_spark.operators import write as W
        from tiny_md_hbase_spark.sources.writer import compact_points_table

        n = self.cursor[0] // INGEST_READS_PER_STEP
        batch = self.spark.createDataFrame(self.batches[n], "id long, x int, y int")
        rec = self._run_op(
            "insert",
            window,
            lambda: (None, W.insert_append_incremental(self.spark, self.path, batch)),
            extra=lambda r: {"points": BATCH_POINTS, "overflowed": 0, "table_scanned": False, **(r.get("out") or {})},
        )
        if "error" not in rec:
            self.live += BATCH_POINTS
        if (n + 1) % COMPACT_EVERY == 0:

            def compact():
                compact_points_table(self.spark, self.path)
                return None, None

            self._run_op(
                "compact", window, compact,
                extra=lambda r: {"bytes_rewritten": _tree_bytes(f"{self.path}/points")},
            )
        self._read_client(0, window, float("inf"), limit=INGEST_READS_PER_STEP)

    def _window(self, window: str, seconds: float, warmup: bool = False) -> tuple[float, float]:
        """Closed-loop clients until the deadline; returns (start, end).
        Ingest runs whole steps, so its window holds no partial step."""
        start = time.perf_counter()
        deadline = start + seconds
        if self.spec.ingest:
            self._ingest_step(window)
            while not warmup and time.perf_counter() < deadline:
                self._ingest_step(window)
        else:
            end, limit = (float("inf"), WARMUP_OPS) if warmup else (deadline, None)
            with ThreadPoolExecutor(self.spec.clients) as pool:
                clients = [pool.submit(self._read_client, c, window, end, limit) for c in range(self.spec.clients)]
                for f in clients:
                    f.result()
        ends = [r["end"] for r in self.records if r["window"] == window]
        return start, max(ends, default=time.perf_counter())

    def _ops_per_s(self, window: str, span: tuple[float, float]) -> float:
        n = sum(1 for r in self.records if r["window"] == window and r["kind"] != "compact")
        return n / max(span[1] - span[0], 1e-9)

    # -- the run ------------------------------------------------------------

    def _phase(self, name: str, fn, *a, **kw):
        t = time.perf_counter()
        out = fn(*a, **kw)
        self.phases[name] = time.perf_counter() - t
        return out

    def run(self) -> dict:
        self.phases: dict[str, float] = {}
        self._phase("generate", self.generate)
        self._phase("setup", self.setup)
        self._phase("warmup", self._window, "warmup", 0, warmup=True)
        if self.trace:
            from tiny_md_hbase_spark.operators import write as W

            half = self.seconds / 2
            untraced = self._window("main", half)
            inner = W.refresh_index_incremental

            def traced_refresh(*a, **kw):
                with self.tracer.span("write.refresh"):
                    return inner(*a, **kw)

            W.refresh_index_incremental = traced_refresh
            self.tracer.enabled = True
            try:
                traced = self._window("traced", half)
            finally:
                self.tracer.enabled = False
                W.refresh_index_incremental = inner
            self.tracer.facts["untraced_ops_per_s"] = self._ops_per_s("main", untraced)
            self.tracer.facts["traced_ops_per_s"] = self._ops_per_s("traced", traced)
        else:
            untraced = self._window("main", self.seconds)
        self.ops_per_s = self._ops_per_s("main", untraced)
        self.peak_rss_mb = _vm_hwm_mb(self.spark._jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
        self._phase("verify", self.verify)
        return self.metrics()

    def verify(self) -> None:
        """Check every read against the oracle and, after ingest, the
        stored index against a from-scratch build over all live points."""
        from tiny_md_hbase_spark.operators.index import index_build_np

        self.failures: list[str] = []
        for r in self.records:
            if "error" in r:
                self.failures.append(f"{r['id']} {r['kind']}: {r['error']}")
            elif "op" in r and normalize(r["op"], r["out"]) != self.oracle.answer(r["op"], r["live"]):
                self.failures.append(f"{r['id']} {r['op']}: result differs from the oracle")
        self.attempted = len(self.records)
        if self.spec.ingest:
            self.attempted += 1
            t = self.oracle.table
            z = zvalues(t.x[: self.live], t.y[: self.live])
            want = np.asarray(index_build_np(z, np.ones(len(z), dtype=np.int64)), dtype=np.int64)
            got = self._index_rows()
            got = got[np.lexsort((got[:, 2], got[:, 1], got[:, 0]))]
            if got.shape != want.shape or not (got == want).all() or got[:, 2].sum() != self.live:
                self.failures.append("stored index differs from index_build_np over all live points")

    def metrics(self) -> dict:
        main = [r for r in self.records if r["window"] == "main" and "error" not in r]
        lat = {k: [1e3 * r["latency"] for r in main if r["kind"] == k] for k in ("insert", *READ_KINDS)}
        reads = [x for k in READ_KINDS for x in lat[k]]
        if not reads:
            raise RuntimeError("no successful read in the timed window; run longer")
        m = {
            "setup_s": self.setup_s,
            "ops_per_s": self.ops_per_s,
            "read_p50_ms": _pct(reads, 50),
            "bytes_per_point": (_tree_bytes(f"{self.path}/points") + _tree_bytes(f"{self.path}/index")) / self.live,
            "peak_rss_mb": self.peak_rss_mb,
            "failed_ops_share": len(self.failures) / self.attempted,
        }
        samples = {"read_p50_ms": len(reads)}
        for k in READ_KINDS:
            if lat[k]:
                m[f"{k}_p50_ms"] = _pct(lat[k], 50)
                samples[f"{k}_p50_ms"] = len(lat[k])
            if len(lat[k]) >= P90_MIN_SAMPLES:
                m[f"{k}_p90_ms"] = _pct(lat[k], 90)
                samples[f"{k}_p90_ms"] = len(lat[k])
        if lat["insert"]:
            m["insert_p50_ms"] = _pct(lat["insert"], 50)
            m["insert_points_per_s"] = BATCH_POINTS * len(lat["insert"]) / (sum(lat["insert"]) / 1e3)
            samples["insert_p50_ms"] = samples["insert_points_per_s"] = len(lat["insert"])
        self.samples = samples
        return m

    def per_layer(self, trace_path: str) -> dict:
        """Finish the trace facts, write the trace file and derive the
        per-layer metrics from it."""
        from tiny_md_hbase_spark.sources.writer import file_z_spans, overlapping_span_pairs

        pts = f"{self.path}/points"
        spans = file_z_spans(self.spark, pts).collect()
        self.tracer.facts.update({
            "writer.files": len(spans),
            "writer.span_overlap_pairs": overlapping_span_pairs(spans),
            "writer.bytes_per_point": (_tree_bytes(pts) + _tree_bytes(f"{self.path}/index")) / self.live,
        })
        self.tracer.write(trace_path, {"workload": self.name, "seed": self.seed, "seconds": self.seconds})
        return derive(trace_path)


def summarize(bench: Bench, metrics: dict, env: dict, per_layer: dict | None) -> None:
    """One line per metric (every metric the run has, with its unit and
    sample count), phase and failure."""
    import pyspark

    print(f"workload {bench.name} seed {bench.seed} seconds {bench.seconds} trace {int(bench.trace)}")
    print(f"env spark {pyspark.__version__} " + " ".join(f"{k}={v}" for k, v in sorted(env.items())))
    units = {k: u for k, (u, _) in END_TO_END.items()} | EXTRA_UNITS
    for name, value in metrics.items():
        n = bench.samples.get(name)
        print(f"metric {name} {value:.6g} {units[name]}" + (f" (n={n})" if n else ""))
    for name, value in (per_layer or {}).items():
        print(f"layer {name} {value:.6g} {PER_LAYER[name][0]}")
    for name, secs in bench.phases.items():
        print(f"phase {name} {secs:.3f} s")
    for f in bench.failures[:20]:
        print(f"FAILED {f}")


def result(bench: Bench, metrics: dict, per_layer: dict | None) -> dict:
    """The final JSON object: the end-to-end metrics, or with a trace the
    per-layer ones."""
    chosen = per_layer if per_layer is not None else {k: metrics[k] for k in END_TO_END}
    table = PER_LAYER if per_layer is not None else END_TO_END
    return {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": {k: {"value": v, "unit": table[k][0]} for k, v in chosen.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS["full"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    env = pin_env(work)
    try:
        bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), "full", work)
        metrics = bench.run()
        per_layer = None
        if args.trace:
            per_layer = bench.per_layer(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    summarize(bench, metrics, env, per_layer)
    print(json.dumps(result(bench, metrics, per_layer)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
