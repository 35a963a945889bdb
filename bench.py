"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract: the LAST stdout line is ONE compact JSON summary —
{"metric": "bench_total_sec", "value": total_sec, "unit": "sec",
"queries": {headline-set only}, "sf": ..., "n_queries": N} — kept under
~1.5 KB so a consumer that tails stdout always captures it (at 96+ timed
queries the full per-query map no longer fits such a tail). The COMPLETE
per-query record (every timing sample, every error) is written to
BENCH_DETAIL.json next to this file.

Each query is forced through the noop sink — full evaluation of every
output column (a bare count() would let Catalyst prune the computed
columns and time nothing), zero driver collection, zero write IO.

Determinism: all scratch I/O (Spark local dirs — shuffle spill,
localCheckpoint blocks — and the tempfile scratch dirs the layout-building
queries materialize into) is pointed at tmpfs (/dev/shm) when available.
The disk behind /tmp has multi-second write-latency phases that showed up
as 2-4x run-to-run swings on the entries that materialize layouts
(index_build recorded 3.3/13.6/8.0 s across identical plans in r05);
RAM-backed scratch measures the compute, which is what the benchmark
compares. Override with SPARK_GRAFT_BENCH_SCRATCH=/path or set it to
"none" to keep the system default.

Warm-up: one UNTIMED full sweep runs before the timed ones (disable
with SPARK_GRAFT_BENCH_WARM_SWEEP=0) so no timed sweep pays the
one-time Catalyst/janino/JIT/listing costs — the r11 driver artifact's
sweep 1 ran 1.9x its siblings on a healthy host purely from first-run
compile, blowing the streaming spread metric. Dead per-query scratch
dirs are reclaimed at every sweep boundary (_clean_scratch) so tmpfs
garbage from layout-materializing entries never pressures the RAM the
later sweeps and the layout section need; free-space samples are
recorded in the artifact (scratch_free_gb).

Streaming spread: stream_* keys take TWO back-to-back samples per sweep
(per-sweep min = the steady-state sample), and the spread metric reads
only SPREAD-ELIGIBLE sweeps — healthy-probed AND total duration within
1.4x of the fastest healthy sweep (a sweep-wide slow phase shows in the
sweep's own duration even when both boundary probes read healthy;
observed 325 s vs 191/211 post-warm-sweep). Minima still use every
sample.

Host-health gate: a fixed CPU+I/O micro-probe (_host_probe) brackets
every sweep and the layout section. A sweep is healthy iff its worst
probe is within 1.3x of the best probe seen AND under the absolute
SPARK_GRAFT_BENCH_PROBE_REF ceiling (default 0.25 s, ~5x the measured
idle-host value of ~0.05 s); unhealthy sweeps trigger extra sweeps (up to
SPARK_GRAFT_BENCH_MAX_SWEEPS, default 6) and an unhealthy layout
section re-runs once. All probe values land in the artifact, so a
degraded host phase is readable in BENCH_r{N}.json itself instead of
masquerading as a code regression (this retired the r08 adjudication,
where three layout keys breached the 2x bar purely on degraded
sweeps).
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO_DIR)

_SCRATCH_DESC = "default"  # recorded verbatim in BENCH_DETAIL.json


def _setup_scratch() -> str | None:
    """Route Spark local dirs + tempfile to tmpfs. Must run before the
    JVM starts (SPARK_LOCAL_DIRS is read at session creation). A
    pre-set SPARK_LOCAL_DIRS is respected, not overridden — and the
    recorded scratch description says so, so a noisy recording on a
    slow preset dir is never mis-attributed to compute. Cleanup is an
    atexit hook: RAM-backed spill must not stay pinned in /dev/shm when
    the run dies mid-way (uncaught exception, Ctrl-C)."""
    global _SCRATCH_DESC
    want = os.environ.get("SPARK_GRAFT_BENCH_SCRATCH")
    if want == "none":
        return None
    base = want or ("/dev/shm" if os.path.isdir("/dev/shm") else None)
    if base is None:
        return None
    if not want and base == "/dev/shm":
        # size guard: the auto-chosen tmpfs must actually fit the scratch
        # layouts the benched queries materialize (z-sorted points,
        # inverted index, clustered/quantized embeddings, write-path
        # tables — low single-digit GiB at sf0.1). On a memory-tight
        # host, spilling to RAM would evict page cache or OOM rather
        # than speed anything up, so fall back to the system default and
        # record that. An EXPLICIT SPARK_GRAFT_BENCH_SCRATCH is always
        # respected — the guard only gates the automatic choice.
        try:
            st = os.statvfs(base)
            free_bytes = st.f_bavail * st.f_frsize
        except OSError:
            free_bytes = 0
        min_free = int(
            os.environ.get("SPARK_GRAFT_BENCH_SCRATCH_MIN_GB", "8")
        ) * (1 << 30)
        if free_bytes < min_free:
            _SCRATCH_DESC = (
                f"default(shm_too_small:{free_bytes >> 30}GiB_free)"
            )
            return None
    scratch = tempfile.mkdtemp(prefix="bench_scratch_", dir=base)
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    parts = []
    preset = os.environ.get("SPARK_LOCAL_DIRS")
    if preset:
        parts.append(f"spark_local_dirs=preset:{preset}")
    else:
        local = os.path.join(scratch, "spark_local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        parts.append("spark_local_dirs=tmpfs")
    tempfile.tempdir = scratch  # mkdtemp() in benched queries lands on tmpfs
    parts.append("tempfile=tmpfs")
    _SCRATCH_DESC = ",".join(parts)
    return scratch


_SCRATCH = _setup_scratch()

from tiny_md_hbase_spark.session import get_spark  # noqa: E402


def _host_probe() -> float:
    """Fixed CPU + scratch-I/O micro-benchmark (~0.05 s on a healthy
    idle host): a deterministic LCG chain over 2M int64 plus a 16 MB
    write+fsync+read (the chain's own buffer) on the same scratch path
    the benched layout queries use. The host has documented multi-minute degraded phases
    where identical code measures 1.5-8x slower (BENCH.md); this probe
    is the phase detector — it runs before and after every sweep and
    around the layout section, so a degraded window is visible IN THE
    ARTIFACT and triggers extra sweeps instead of being recorded as a
    code regression."""
    import numpy as np

    t0 = time.perf_counter()
    a = np.arange(2_000_000, dtype=np.int64)
    for _ in range(6):
        a = a * np.int64(6364136223846793005) + np.int64(1442695040888963407)
    s = int(a[::4096].sum())  # keep the chain live
    d = tempfile.gettempdir()
    p = os.path.join(d, f".bench_probe_{os.getpid()}")
    buf = a.tobytes()  # 16,000,000 bytes — the whole chain buffer
    try:
        with open(p, "wb") as f:
            f.write(buf)
            f.flush()
            os.fsync(f.fileno())
        with open(p, "rb") as f:
            n = len(f.read())
        assert n == len(buf) and s is not None
    finally:
        try:
            os.remove(p)
        except OSError:
            pass
    return time.perf_counter() - t0

# the BASELINE.md bench set (spatial parity) + the north-star pipeline set
BENCH_KEYS = [
    "range_count",
    "range_query",
    "point_get",
    "knn",
    "index_build",
    "zorder_encode",
    "full_scan",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "embedding_knn",
    "hybrid_search_rrf",
    "text_stats",
    "token_count",
    "lang_id",
    "vocab_growth",
    "distance_join",
    "knn_join",
    "quality_score",
    "doc_fingerprint",
    "sessionize",
    "session_paths",
    "windowed_counts",
    "interval_join",
    "time_band_join",
    "grouped_histogram",
    "sales_rollup",
    "dq_check",
    "topk_per_group",
    "asof_join",
    "skew_join",
    "semi_join",
    "anti_join",
    "distinct_count",
    "set_except",
    "sales_cube",
    "pivot",
    "running_total",
    "rollup_hierarchy",
    "sql_pricing_summary",
    "sql_shipping_priority",
    "sql_supplier_volume",
    "sql_returned_revenue",
    "sql_large_orders",
    "table_profile",
    "chunk_documents",
    "decontaminate",
    "decontaminate_hashed",
    "table_profile_approx",
    "approx_quantiles",
    "json_props_stats",
    "source_overlap",
    "embedding_knn_ivf_portable",
    "dedup_embedding_lsh",
    "repetition_stats",
    "knn_3d",
    "text_stats_rollup",
    "dedup_clusters",
    "dedup_clusters_distributed",
    "dedup_clusters_star",
    "spatial_histogram",
    "embedding_knn_batch",
    "corpus_clean",
    "zorder3d_encode",
    "corpus_mix",
    "corpus_stratified",
    "corpus_shuffle",
    "decontaminate_fuzzy",
    "corpus_budget",
    "pii_scrub",
    "winnow_fingerprint",
    "winnow_pairs",
    "corpus_prepare",
    "dedup_semantic",
    "tfidf_top_terms",
    "keyword_search",
    "keyword_search_indexed",
    "lm_bigram_score",
    "anomaly_zscore",
    "embedding_project",
    "embedding_knn_projected",
    "gopher_quality",
    "corpus_jsonl_roundtrip",
    "dedup_incremental",
    "corpus_split",
    "source_cap",
    "dedup_keep_best",
    "centroid_assign",
    "corpus_manifest",
    "sql_zcodec",
    "stream_manifest",
    "embedding_knn_clustered",
    "keyword_search_bm25",
    "line_dedup",
    "embedding_knn_quantized",
    "embedding_knn_quantized_stored",
    "keyword_search_bm25_indexed",
    "span_dedup",
    "span_dedup_hashed",
    "dedup_edit",
    "doc_containment",
    "bpe_pair_counts",
    "bpe_token_count",
    "pagerank",
    "pagerank_weighted",
    "triangle_count",
    "k_core",
    "co_purchase",
    "quality_gate",
    "embedding_profile",
    "stream_ingest_embeddings",
    "polygon_query",
    "skyline",
    "scd2_intervals",
    "change_points",
    "stream_scd2",
    "gap_fill",
    "rolling_stats",
    "ohlc",
    "funnel",
    "retention",
    "shortest_path",
    "corpus_weighted_sample",
    "hilbert_encode",
    "hilbert_decode",
    "sfc_locality",
    "range_query_hilbert",
    "corpus_temperature",
    "corpus_temperature_sample",
    "knn_hilbert",
    "shortest_path_weighted",
    "heavy_hitters_cms",
    "heavy_hitters_cms_merged",
    "corpus_stratified_weighted",
    "stream_sample_stratified",
    "stream_decontaminate",
    "corpus_stratified_quota",
    "stream_output_compact",
    "stream_sample_stratified_quota",
    "decontaminate_bloom",
    "dedup_ttl",
    "stream_dedup_ttl",
    "range_query_zonemap",
    "phrase_search",
    "dedup_ttl_event",
    "stream_dedup_ttl_event",
    "doc_scan_zonemap",
    "emb_scan_zonemap",
    "stream_index_maintain",
    "corpus_redact",
    "collocations",
    "quality_gate_by_source",
]

# entries whose execution includes scratch-layout materialization get one
# extra unconditional sample: their residual I/O phase is the noisiest
# part of the run even on tmpfs (page-cache + allocation effects)
TRIPLE_SAMPLE = {"index_build"}

# the compact stdout summary carries per-query numbers for this set only
# (the BASELINE.md parity queries + the flagship pipeline entries); the
# full map is in BENCH_DETAIL.json
HEADLINE = [
    "range_count",
    "range_query",
    "point_get",
    "knn",
    "index_build",
    "zorder_encode",
    "full_scan",
    "zsort_write",
    "range_query_zsorted",
    "range_query_zcover",
    "knn_indexed_zsorted",
    "dedup_exact",
    "dedup_minhash",
    "ngram_jaccard",
    "embedding_knn",
    "embedding_knn_batch",
    "dedup_embedding_lsh",
    "corpus_prepare",
    "keyword_search_bm25",
    "line_dedup",
    "quality_gate",
    "sessionize",
    # build/probe split entries (the amortized steady-state shape)
    "inverted_index_build",
    "keyword_search_indexed_probe",
    "keyword_search_bm25_indexed_probe",
    "positional_index_build",
    "phrase_search_indexed_probe",
    "embeddings_clustered_build",
    "embedding_knn_clustered_probe",
    "embeddings_quantized_build",
    "embedding_knn_quantized_probe",
]


def _warm_streaming(spark) -> None:
    """One tiny end-to-end streaming query over a staged 64-row parquet
    source through applyInPandasWithState and a memory sink — the same
    machinery every stream_* bench key uses. Run once outside timing."""
    import shutil

    from pyspark.sql import functions as F

    d = tempfile.mkdtemp(prefix="bench_warm_stream_")
    try:
        spark.range(64).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        ).write.parquet(f"{d}/src")

        def fn(key, pdfs, state):
            import pandas as pd

            n = sum(len(p) for p in pdfs)
            state.update((n,))
            yield pd.DataFrame({"k": [key[0]], "n": [n]})

        q = (
            spark.readStream.schema("k long, v long")
            .parquet(f"{d}/src")
            .groupBy("k")
            .applyInPandasWithState(
                fn,
                outputStructType="k long, n long",
                stateStructType="n long",
                outputMode="append",
                timeoutConf="NoTimeout",
            )
            .writeStream.format("memory")
            .queryName("bench_warm_stream_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
        finally:
            # a degraded-host timeout must not leave the stream running
            # against a source/checkpoint the rmtree below deletes —
            # that background failure churn is exactly what the warm-up
            # exists to keep out of sweep 1
            if q.isActive:
                q.stop()
        spark.catalog.dropTempView("bench_warm_stream_sink")
    except Exception as exc:  # noqa: BLE001 — warm-up must never kill the run
        print(f"bench: streaming warm-up skipped: {exc}", file=sys.stderr)
    finally:
        shutil.rmtree(d, ignore_errors=True)


_SCRATCH_FREE_GB: list[float] = []  # free-space samples at cleanup points


def _clean_scratch() -> None:
    """Remove dead per-query scratch directories between sweeps.

    Every layout-materializing queries() entry mkdtemps under the tmpfs
    scratch and nothing reclaimed them until atexit — after three+
    sweeps the scratch holds many GiB of dead layout trees (z-sorted
    tables, inverted indexes, clustered/quantized embeddings, jsonl
    round-trips), and tmpfs pages count against the same RAM the JVM
    heap and page cache need. That pressure lands exactly on the layout
    section, which runs LAST and writes GiBs of its own — the prime
    suspect for the r11 driver artifact's block-wide layout elevation
    (embeddings_clustered_build 2.63x its record with healthy CPU/fsync
    probes; scripts/isolate_layout.py measured a fresh idle host at
    ~1.2x, exonerating the code and BLAS oversubscription). Cleanup is
    safe at sweep boundaries: every timed entry fully materializes
    through the noop sink before the next starts, so no lazy plan holds
    a reference into a dead dir. Spark's own local dirs (shuffle,
    localCheckpoint blocks) are kept — live RDD blocks reference them.
    Free-space samples land in the artifact (scratch_free_gb) so a
    pressured run is readable in BENCH_r{N}.json itself.

    Only ever touches the private bench_scratch_* dir this process
    created — when scratch routing is off (system /tmp), nothing is
    deleted (other processes own entries there) and only the free-space
    sample is taken."""
    d = tempfile.gettempdir()
    if _SCRATCH is None or os.path.realpath(d) != os.path.realpath(_SCRATCH):
        try:
            st = os.statvfs(d)
            _SCRATCH_FREE_GB.append(
                round(st.f_bavail * st.f_frsize / (1 << 30), 1)
            )
        except OSError:
            pass
        return
    for name in os.listdir(d):
        if name == "spark_local":
            continue
        p = os.path.join(d, name)
        try:
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    try:
        st = os.statvfs(d)
        _SCRATCH_FREE_GB.append(round(st.f_bavail * st.f_frsize / (1 << 30), 1))
    except OSError:
        pass


_RECORDS_PATH = os.path.join(_REPO_DIR, "BENCH_RECORDS.json")


def _load_records(sf: float, cpus: int) -> dict[str, float] | None:
    """All-time per-key minima (sec) for THIS (sf, cpus) shape, from the
    committed BENCH_RECORDS.json. Returns {} when the file is absent or
    unreadable (a healthy run may BOOTSTRAP it), and None when a file
    EXISTS for a different shape (records at sf0.1 say nothing about an
    sf0.01 run — and must never be overwritten by one)."""
    try:
        with open(_RECORDS_PATH) as f:
            d = json.load(f)
    except (OSError, ValueError):
        return {}
    if not isinstance(d, dict):  # corrupt root: treat as absent
        return {}
    if d.get("sf") == sf and d.get("cpus") == cpus:
        return {
            k: float(v)
            for k, v in d.get("records", {}).items()
            if isinstance(v, (int, float))
        }
    return None  # other shape's records: read nothing, overwrite nothing


def _save_records(records: dict[str, float], sf: float, cpus: int) -> None:
    with open(_RECORDS_PATH, "w") as f:
        json.dump(
            {
                "sf": sf,
                "cpus": cpus,
                "note": (
                    "all-time per-key minima (sec) at sf0.1 over committed "
                    "BENCH_DETAIL.json history + BENCH_local_r05; "
                    "maintained by bench.py (merge-on-better, healthy runs "
                    "only)"
                ),
                "records": records,
            },
            f,
            indent=1,
            sort_keys=True,
        )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "64g")
    spark = get_spark("tiny-md-hbase-spark-bench", cpus=cpus)
    # the parallelism the session ACTUALLY got (recorded in the detail
    # artifact as cpus_effective)
    cpus_effective = spark.sparkContext.defaultParallelism

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warm the session (JVM/codegen/parquet footer caches + Python UDF
    # workers — a long-running cluster has both) outside timing
    qs["range_count"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    spark.range(64).repartition(cpus).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    # warm the STREAMING machinery too (StreamExecution, state-store
    # provider init, applyInPandasWithState workers, memory sink): the
    # stream_* keys' first sweep otherwise pays this one-time cost and
    # reads ~2x their steady state (r10 stream_scd2 healthy samples
    # 5.97/3.68/2.95 — the spread was warm-up, not I/O phases)
    _warm_streaming(spark)

    # N HEALTHY sweeps (default 3), keep the per-key min: the first
    # execution of each plan pays one-time janino/JIT compilation, and
    # the host has documented multi-minute slow-I/O phases that inflate
    # EVERYTHING 1.5-8x (BENCH.md; the r08 artifact breached the 2x
    # regression bar on three layout keys purely from degraded sweeps).
    # The host-health gate: _host_probe runs before and after every
    # sweep; a sweep is HEALTHY iff max(pre, post) <= 1.3x the best
    # probe seen (and <= the absolute SPARK_GRAFT_BENCH_PROBE_REF
    # ceiling, default 0.25 s ~ 4x the idle-host probe — catches a run
    # that is degraded from its first minute, which a purely relative
    # rule cannot see). Sweeps repeat until SWEEPS healthy ones landed
    # or MAX_SWEEPS (default 6) ran; every probe value and each sweep's
    # health verdict are recorded in the artifact.
    # one failing query must never zero out the whole benchmark run: record
    # the error per-key, keep timing everything else, still emit the JSON line
    results: dict[str, float] = {}
    timings: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    sweep_secs: list[float] = []
    probe_secs: list[float] = []
    sweep_probes: list[tuple[float, float]] = []

    _host_probe()  # warm numpy + page cache outside any recorded probe
    probe_ref = float(os.environ.get("SPARK_GRAFT_BENCH_PROBE_REF", "0.25"))

    def probe() -> float:
        # min of 3 back-to-back reps after a short settle: right after a
        # sweep the JVM is still doing async cleanup/GC, which inflates a
        # single rep 5-10x on a perfectly healthy host (measured: post-
        # sweep 0.18-0.37 s vs 0.03 s pre-sweep). A genuine degraded
        # phase lasts minutes and inflates all three reps; transient
        # churn only the first.
        time.sleep(0.3)
        p = min(_host_probe() for _ in range(3))
        probe_secs.append(round(p, 4))
        return p

    def healthy(pre: float, post: float) -> bool:
        # absolute ceiling (a run degraded from minute one has no good
        # "best" to compare against) + relative-to-best with a jitter
        # floor at probe_ref/2 so sub-threshold absolute noise around a
        # very fast best (0.03 vs 0.05 s) never flags a sweep
        worst = max(pre, post)
        return worst <= probe_ref and worst <= max(
            1.3 * min(probe_secs), 0.5 * probe_ref
        )

    def run_once(key: str) -> float | None:
        t0 = time.perf_counter()
        try:
            qs[key](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            errors[key] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: {key} FAILED: {errors[key]}", file=sys.stderr)
            return None
        return round(time.perf_counter() - t0, 3)

    target_sweeps = int(os.environ.get("SPARK_GRAFT_BENCH_SWEEPS", "3"))
    max_sweeps = int(os.environ.get("SPARK_GRAFT_BENCH_MAX_SWEEPS", "6"))

    # one UNTIMED warm sweep before the timed ones (r11 verdict #2): the
    # first execution of each of the 134 plans pays one-time Catalyst
    # analysis + janino compile + JIT + source-listing costs that belong
    # to no steady state. The boundary host-probes cannot see that phase
    # (it is Spark-internal CPU, not host degradation) — the r11 driver
    # artifact's sweep 1 ran 328 s vs 177/173 while ALL THREE sweeps
    # passed their probes, blowing the streaming spread metric (3.26) on
    # a healthy host. Billing no sweep-1 compile makes every timed sweep
    # steady-state. Errors here are ignored: a key that genuinely fails
    # will fail identically inside the timed sweeps, where it is
    # recorded per-key.
    warm_sweep_sec = None
    if os.environ.get("SPARK_GRAFT_BENCH_WARM_SWEEP", "1") != "0":
        w0 = time.perf_counter()
        for key in BENCH_KEYS:
            try:
                qs[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:  # noqa: BLE001 — timed sweeps record it per-key
                pass
        warm_sweep_sec = round(time.perf_counter() - w0, 3)
        print(f"bench: warm sweep done in {warm_sweep_sec}s", file=sys.stderr)
        _clean_scratch()

    # streaming keys couple to checkpoint/state I/O and StreamExecution
    # startup — a SINGLE sample per sweep bounces 1-2.6x on phase noise
    # that no boundary signal can exclude (observed across three r12
    # runs). They get two back-to-back samples per sweep; the per-sweep
    # MIN is the steady-state sample the spread metric reads.
    stream_sweep_min: dict[str, list[float]] = {}

    while len(sweep_secs) < max_sweeps:
        pre = probe()
        s0 = time.perf_counter()
        for key in BENCH_KEYS:
            if key in errors:
                continue
            dt = run_once(key)
            if dt is None:
                results.pop(key, None)
                continue
            timings.setdefault(key, []).append(dt)
            if key.startswith("stream_"):
                dt2 = run_once(key)
                if dt2 is not None:
                    timings[key].append(dt2)
                    dt = min(dt, dt2)
                stream_sweep_min.setdefault(key, []).append(dt)
            results[key] = min(results.get(key, dt), dt)
        sweep_secs.append(round(time.perf_counter() - s0, 3))
        _clean_scratch()  # reclaim this sweep's dead layout tempdirs
        post = probe()
        sweep_probes.append((round(pre, 4), round(post, 4)))
        # re-evaluate every sweep's health under the current best probe
        # (the baseline improves as healthier phases are observed)
        n_healthy = sum(1 for a, b in sweep_probes if healthy(a, b))
        if n_healthy >= target_sweeps:
            break
        if len(sweep_secs) >= target_sweeps and n_healthy < len(sweep_secs):
            print(
                f"bench: sweep {len(sweep_secs)} done, only {n_healthy} "
                f"healthy (probes {probe_secs}) — extending",
                file=sys.stderr,
            )
    # freeze the health verdicts AT DECISION TIME: the layout-section
    # probes below keep appending to probe_secs, which can move
    # min(probe_secs) and silently rewrite what "healthy" meant when the
    # sweep loop actually stopped — the artifact must record the verdict
    # the gate acted on, not a retroactive one
    sweep_health = [healthy(a, b) for a, b in sweep_probes]
    n_healthy_sweeps = sum(sweep_health)

    # streaming keys couple to checkpoint I/O — their scratch is already
    # tempfile-routed onto the same tmpfs as every other benched query
    # (see _setup_scratch: tempfile.tempdir), but they remain the most
    # host-phase-sensitive entries (stream_scd2 has sampled 4x its record
    # inside one run, BENCH.md). Record their per-sweep steady-state
    # samples (min of the two back-to-back runs — see stream_sweep_min)
    # and the max/min spread over SPREAD-ELIGIBLE sweeps in the
    # artifact, so checkpoint-phase noise is attributable without
    # re-running.
    # a sweep can run 1.5-2x its siblings while BOTH its boundary probes
    # read healthy (observed: 325 s vs 191/211 post-warm-sweep — the
    # slow phase is sweep-wide and Spark-internal or host-I/O the
    # CPU+fsync probe misses). The sweep's own duration is the one
    # signal that always sees it: a healthy sweep whose total exceeds
    # 1.4x the fastest healthy sweep is excluded from the streaming
    # SPREAD metric (its per-key samples still count toward minima —
    # they are valid lower-bound observations, just not spread
    # evidence). Exclusions are recorded in the artifact.
    healthy_totals = [
        s for i, s in enumerate(sweep_secs) if i < len(sweep_health) and sweep_health[i]
    ]
    spread_ok = [
        i < len(sweep_health)
        and sweep_health[i]
        and (not healthy_totals or s <= 1.4 * min(healthy_totals))
        for i, s in enumerate(sweep_secs)
    ]
    streaming_health = {"_spread_sweeps": spread_ok}
    for k in (k for k in BENCH_KEYS if k.startswith("stream_")):
        ts = stream_sweep_min.get(k, [])  # per-sweep min of two samples
        hs = [
            t
            for i, t in enumerate(ts)
            if i < len(spread_ok) and spread_ok[i]
        ]
        if hs:
            streaming_health[k] = {
                "healthy_samples": hs,
                "spread": round(max(hs) / min(hs), 2) if min(hs) > 0 else None,
            }
        elif ts:
            # every sweep failed the health gate: keep the artifact
            # honest — record the samples under an explicit degraded
            # marker instead of passing them off as healthy
            streaming_health[k] = {
                "no_healthy_sweeps": True,
                "all_samples": ts,
                "spread": round(max(ts) / min(ts), 2) if min(ts) > 0 else None,
            }

    # the host has degraded phases where identical code runs 2-8x slower
    # for a stretch; when even the min-of-two disagrees with itself by a
    # lot, take one tie-breaking third sample so a single bad window
    # doesn't get recorded as a regression. Layout-materializing entries
    # (TRIPLE_SAMPLE) take the extra sample unconditionally — their r05
    # recording breached the 2x regression gate on pure I/O-phase noise.
    for key, ts in timings.items():
        if key not in errors and (key in TRIPLE_SAMPLE or max(ts) > 2.5 * min(ts)):
            dt = run_once(key)
            if dt is not None:
                timings[key].append(dt)
                results[key] = min(results[key], dt)

    # every layout-section entry below is min-of-two samples like the main
    # loop — single-shot layout timings flipped 4-6x between identical
    # plans on compile/GC windows (r06: range_query_zcover 0.15 vs 0.99)
    def _probe(name: str, thunk) -> None:
        for _ in range(2):
            t0 = time.perf_counter()
            thunk().write.format("noop").mode("overwrite").save()
            timings.setdefault(name, []).append(
                round(time.perf_counter() - t0, 3)
            )
        results[name] = min(timings[name])

    def _timed(name: str, fn) -> None:
        """Single-sample layout build, recorded in both maps (the detail
        file's 'every timing sample' contract covers the layout entries
        too)."""
        t0 = time.perf_counter()
        fn()
        timings.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
        results[name] = min(timings[name])

    def run_layout_section() -> None:
        """The layout/probe split entries (z-sorted, Hilbert-sorted,
        inverted-index and ANN layouts). Callable more than once: every
        entry accumulates samples into `timings` and keeps the per-key
        min, and a retry first clears the section's error markers so a
        transient failure does not null the whole run."""
        for ek in ("zsorted_layout", "hsorted_layout", "layout_split"):
            errors.pop(ek, None)

        # layout-aware path: materialize the z-clustered table once (timed as
        # the write/cluster cost), then run the pruned reads — the 100 TB
        # deployment shape, where the stored zvalue's cover skips row groups
        # via parquet stats instead of re-encoding per row
        from tiny_md_hbase_spark.operators import spatial
        from tiny_md_hbase_spark.sources import points
        from tiny_md_hbase_spark.sources.writer import (
            load_points_zsorted,
            write_points_zsorted,
        )

        try:
            for i in range(2):
                zdir = tempfile.mkdtemp(prefix=f"bench_zsorted{i}_") + "/points"
                _timed(
                    "zsort_write",
                    lambda zd=zdir: write_points_zsorted(
                        points(spark, sf_dir), zd, num_partitions=cpus
                    ),
                )

            zt = load_points_zsorted(spark, zdir)
            # both names time the same call; both are kept so the BENCH
            # history lines up
            for probe in ("range_query_zsorted", "range_query_zcover"):
                _probe(probe, lambda: spatial.range_query(zt, (512, 1535), (1024, 3071)))
            _probe("knn_indexed_zsorted", lambda: spatial.knn(zt, 2048, 2048, 10))
        except Exception as exc:  # noqa: BLE001
            errors["zsorted_layout"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: zsorted layout FAILED: {errors['zsorted_layout']}", file=sys.stderr)

        # the Hilbert twin of the same layout/probe split — its OWN guard, so
        # a z-side failure never skips these and a failure here is never
        # misattributed to the z layout
        try:
            from tiny_md_hbase_spark.sources.writer import write_points_hsorted

            hdir = tempfile.mkdtemp(prefix="bench_hsorted_") + "/points"
            _timed(
                "hsort_write",
                lambda: write_points_hsorted(
                    points(spark, sf_dir), hdir, num_partitions=cpus
                ),
            )
            ht = spark.read.parquet(hdir)
            _probe(
                "range_query_hcover",
                lambda: spatial.range_query(ht, (512, 1535), (1024, 3071)),
            )
            _probe("knn_hilbert_hsorted", lambda: spatial.knn(ht, 2048, 2048, 10))
        except Exception as exc:  # noqa: BLE001
            errors["hsorted_layout"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: hsorted layout FAILED: {errors['hsorted_layout']}", file=sys.stderr)

        # indexed-search + ANN layouts, build/probe SPLIT: the queries()
        # entries for these keys deliberately rebuild their layout per run
        # (the oracle needs the whole chain), which buries the steady-state
        # query latency under the one-time build. Here each layout is
        # materialized ONCE (timed as *_build) and the searches are timed
        # separately (min of two passes — the first pays codegen) — the
        # amortized shape a deployment actually sees.
        from tiny_md_hbase_spark.sources import load_table
        from tiny_md_hbase_spark.sources import writer as WR

        try:
            docs = load_table(spark, sf_dir, "documents")
            ipath = tempfile.mkdtemp(prefix="bench_ii_") + "/ii"
            _timed("inverted_index_build", lambda: WR.write_inverted_index(docs, ipath))
            _probe(
                "keyword_search_indexed_probe",
                lambda: WR.keyword_search_indexed(spark, ipath),
            )
            _probe(
                "keyword_search_bm25_indexed_probe",
                lambda: WR.keyword_search_bm25_indexed(spark, ipath),
            )

            ppath = tempfile.mkdtemp(prefix="bench_pi_") + "/pi"
            _timed(
                "positional_index_build",
                lambda: WR.write_positional_index(docs, ppath),
            )
            _probe(
                "phrase_search_indexed_probe",
                lambda: WR.phrase_search_positional(spark, ppath),
            )

            emb = load_table(spark, sf_dir, "embeddings")
            from pyspark.sql import functions as F

            qv = [
                float(x)
                for x in emb.filter(F.col("vec_id") == 1)
                .select(F.col("embedding").cast("array<double>").alias("v"))
                .first()
                .v
            ]
            cpath = tempfile.mkdtemp(prefix="bench_cl_") + "/emb"
            _timed(
                "embeddings_clustered_build",
                lambda: WR.write_embeddings_clustered(emb, cpath),
            )
            _probe(
                "embedding_knn_clustered_probe",
                lambda: WR.embedding_knn_clustered(spark, cpath, qv, 10, n_probe=4),
            )

            qpath = tempfile.mkdtemp(prefix="bench_q8_") + "/emb"
            _timed(
                "embeddings_quantized_build",
                lambda: WR.write_embeddings_quantized(emb, qpath),
            )
            _probe(
                "embedding_knn_quantized_probe",
                lambda: WR.embedding_knn_quantized_stored(spark, qpath, qv, 10),
            )
        except Exception as exc:  # noqa: BLE001
            errors["layout_split"] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"bench: layout split FAILED: {errors['layout_split']}", file=sys.stderr)

    # the layout section is probe-gated like the sweeps: the three
    # r08 keys that breached the 2x bar (range_query_zcover,
    # knn_indexed_zsorted, range_query_zsorted) are exactly these
    # scratch-I/O-coupled probes, measured ONCE after the sweeps —
    # a degraded window here used to land straight in the artifact.
    # On an unhealthy probe pair the whole section re-runs (once);
    # minima accumulate, so a healthy retry wins.
    for _attempt in range(2):
        _clean_scratch()  # the section writes GiBs; start it unpressured
        pre_l = probe()
        run_layout_section()
        post_l = probe()
        if healthy(pre_l, post_l):
            break
        if _attempt == 0:
            print(
                f"bench: layout section probes ({pre_l:.3f}, {post_l:.3f}) "
                "unhealthy - re-running the section",
                file=sys.stderr,
            )

    # record-based re-sample discipline (the per-key form of the sweep
    # gate): a key whose run minimum exceeds 2x its ALL-TIME record
    # (BENCH_RECORDS.json) while the host probes read healthy gets up to
    # two extra in-run samples before the reading is recorded — a brief
    # host phase that hit exactly that key's slot in every sweep stops
    # masquerading as a 2x code regression (r10: k_core read 2.44x its
    # record in the artifact while the code was untouched). Keys with
    # records under 0.15 s are exempt (2x of a 0.05 s reading is timer
    # noise, not signal), as are keys the layout section owns.
    records = _load_records(sf, cpus)
    resampled: dict[str, dict] = {}
    over = [
        k
        for k in BENCH_KEYS
        if k in results
        and k not in errors
        and (records or {}).get(k, 0.0) >= 0.15
        and results[k] > 2.0 * records[k]
    ]
    if over:
        pre_r = probe()
        if healthy(pre_r, pre_r):
            for key in over[:16]:
                before = results[key]
                for _ in range(2):
                    dt = run_once(key)
                    if dt is None:
                        # the OPTIONAL extra sample failed; the key's
                        # sweep samples are valid — a transient here
                        # must not convert a benchmarked key into an
                        # errored one (nor null the whole artifact)
                        errors.pop(key, None)
                        print(
                            f"bench: re-sample of {key} failed "
                            "transiently - keeping the sweep minimum",
                            file=sys.stderr,
                        )
                        break
                    timings[key].append(dt)
                    results[key] = min(results[key], dt)
                    if results[key] <= 2.0 * records[key]:
                        break
                resampled[key] = {
                    "record": records[key],
                    "before": before,
                    "after": results[key],
                }
                print(
                    f"bench: {key} read {before:.3f}s vs record "
                    f"{records[key]:.3f}s (>2x) — re-sampled to "
                    f"{results[key]:.3f}s",
                    file=sys.stderr,
                )
        else:
            print(
                f"bench: {len(over)} keys over 2x record but the probe is "
                f"unhealthy ({pre_r:.3f}s) — skipping re-sample, the sweep "
                "health flags already mark this run",
                file=sys.stderr,
            )

    # exempt-key confirmation (r12 verdict #4): keys with sub-0.15 s
    # records skip the re-sample discipline above, so a REAL regression
    # on a fast key (e.g. a lost PushedFilters contract turning a pruned
    # scan into a full scan — exactly what range_query_zsorted exists to
    # measure) would land in the artifact looking identical to timer
    # noise (r12: that key rode the exemption at 2.08x unannotated).
    # Give each such elevation ONE confirmation sample and annotate the
    # artifact either way, so a confirmed-fast key is distinguishable
    # from a genuinely slow one without re-running the bench.
    # scan EVERY timed entry, not BENCH_KEYS: the sub-0.15 s keys this
    # exists for are mostly the layout-section probes (range_query_zsorted
    # et al.), which are timed into `results` without being sweep keys —
    # the r13 driver run read exactly that key at 3x unconfirmed because
    # the first cut of this block only looked at BENCH_KEYS
    exempt_confirms: dict[str, dict] = {}
    exempt_over = [
        k
        for k in sorted(results)
        if k not in errors
        and 0.0 < (records or {}).get(k, 0.0) < 0.15
        and results[k] > 2.0 * records[k]
    ]
    for key in exempt_over[:16]:
        before = results[key]
        if key in qs:
            dt = run_once(key)
            if dt is None:
                # optional extra sample: a transient failure must not
                # convert a benchmarked key into an errored one
                errors.pop(key, None)
            else:
                timings[key].append(dt)
                results[key] = min(results[key], dt)
        # layout-section keys have no standalone runner here — their
        # confirmation re-run is the layout retry loop below; this
        # block still annotates them so the artifact shows the verdict
        exempt_confirms[key] = {
            "record": records[key],
            "before": before,
            "confirmed_min": results[key],
            "still_over_2x": results[key] > 2.0 * records[key],
        }
        print(
            f"bench: exempt key {key} read {before:.3f}s vs sub-0.15s "
            f"record {records[key]:.3f}s (>2x) — confirmation sample -> "
            f"{results[key]:.3f}s",
            file=sys.stderr,
        )

    # the same discipline for the LAYOUT-section entries: they are
    # measured once after the sweeps and their two-attempt probe gate
    # can miss a degraded scratch phase that sits between its probe
    # pairs (observed: all five layout keys 2-8x their records in one
    # run, 30 minutes after a healthy run of identical code). When any
    # layout key exceeds 2x its record under a healthy probe, the whole
    # section re-runs once more — minima accumulate per key.
    # escalation (r12): the r11 driver artifact showed one full-section
    # re-run was not always enough (embeddings_clustered_build stayed at
    # 2.63x through a healthy-probed retry) — keep re-running, with a
    # scratch cleanup before each attempt, until every layout key is
    # under 2x or two extra attempts are spent; minima accumulate.
    # no 0.15 s floor here (unlike the sweep-key re-sample): the fast
    # layout probes (range_query_zsorted at a 0.084 record) are exactly
    # the keys whose 2x elevation must be CONFIRMED by a re-run rather
    # than annotated as noise — the section re-run IS their confirmation
    # sample (r12 verdict #4, closed properly in r13)
    for _retry in range(2):
        layout_over = [
            k
            for k, v in results.items()
            if k not in BENCH_KEYS
            and (records or {}).get(k, 0.0) > 0.0
            and v > 2.0 * records[k]
        ]
        if not layout_over:
            break
        pre_l3 = probe()
        if not healthy(pre_l3, pre_l3):
            print(
                f"bench: layout keys over 2x record ({sorted(layout_over)}) "
                f"but the probe is unhealthy ({pre_l3:.3f}s) — stopping the "
                "section retries, the health flags mark this run",
                file=sys.stderr,
            )
            break
        print(
            f"bench: layout keys over 2x record ({sorted(layout_over)}) "
            f"with a healthy probe — re-running the layout section "
            f"(attempt {_retry + 1}/2)",
            file=sys.stderr,
        )
        _clean_scratch()
        before_vals = {k: results[k] for k in layout_over}
        run_layout_section()
        for k in layout_over:
            prior = resampled.get(k, {})
            resampled[k] = {
                "record": records[k],
                "before": prior.get("before", before_vals[k]),
                "after": results.get(k),
            }

    # layout-section keys got their exempt_confirms verdict BEFORE the
    # section retries above (their confirmation re-run IS the retry
    # loop) — refresh those entries from the post-retry minima so the
    # annotated verdict matches the confirmation sample instead of the
    # pre-retry reading
    for key, entry in exempt_confirms.items():
        if key not in BENCH_KEYS and key in results:
            entry["confirmed_min"] = results[key]
            entry["still_over_2x"] = results[key] > 2.0 * records[key]

    total = round(sum(results.values()), 3)

    # full record -> file (every query, every timing sample, every error)
    detail = {
        "metric": "bench_total_sec",
        "value": None if errors else total,
        "unit": "sec",
        "queries": results,
        "timings": timings,
        "sweep_secs": sweep_secs,
        "probe_secs": probe_secs,
        "sweep_probes": sweep_probes,
        "sweep_health": sweep_health,
        "healthy_sweeps": n_healthy_sweeps,
        "probe_ref": probe_ref,
        "streaming": streaming_health,
        "resampled": resampled,
        "exempt_confirms": exempt_confirms,
        "warm_sweep_sec": warm_sweep_sec,
        "scratch_free_gb": _SCRATCH_FREE_GB,
        "sf": sf,
        "cpus": cpus,
        # read back from the LIVE context, not the env: proves the bench
        # honored $SPARK_GRAFT_CPUS (bench.py main -> session.get_spark
        # builds local[cpus]) — the r14 PERF scaling block flagged
        # "suspect_cpus_ignored" because most sf0.1 keys are
        # per-job-overhead-bound and read ~1.0 across core counts; this
        # field plus the BENCH.md "Scaling at bench SF" note make that
        # interpretable without re-deriving it
        "cpus_effective": cpus_effective,
        "scratch": _SCRATCH_DESC,
    }
    if errors:
        detail["partial_total_sec"] = total
        detail["errors"] = errors
    with open(os.path.join(_REPO_DIR, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    # fold this run's minima back into the records file so the
    # re-sample discipline keeps a live baseline — healthy runs only
    # (a degraded run must not soften future records), never above an
    # existing record. records is None when a DIFFERENT shape's file
    # exists (never overwrite it); {} when absent (bootstrap it).
    if records is not None and n_healthy_sweeps >= 1 and not errors:
        improved = 0
        for k, v in results.items():
            if v < records.get(k, float("inf")):
                records[k] = v
                improved += 1
        if improved:
            _save_records(records, sf, cpus)
            print(
                f"bench: {improved} new per-key records folded into "
                "BENCH_RECORDS.json",
                file=sys.stderr,
            )

    # compact summary -> LAST stdout line, <1.5 KB so a 2000-char stdout
    # tail always captures it whole
    out = {
        "metric": "bench_total_sec",
        "value": None if errors else total,
        "unit": "sec",
        "queries": {k: results[k] for k in HEADLINE if k in results},
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(results),
        "sweep_secs": sweep_secs,
        "probe_secs": probe_secs,
        "healthy_sweeps": n_healthy_sweeps,
        "detail": "BENCH_DETAIL.json",
    }
    if errors:
        # a partial run must not read as a faster full run: value stays
        # null; name the failing keys (messages live in the detail file)
        out["partial_total_sec"] = total
        out["error_keys"] = sorted(errors)[:10]
    line = json.dumps(out)
    if len(line) > 1500:  # belt and braces: drop per-query before truncating
        out.pop("queries", None)
        line = json.dumps(out)
    print(line)  # scratch cleanup happens in the atexit hook


if __name__ == "__main__":
    main()
