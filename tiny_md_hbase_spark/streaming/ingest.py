"""Structured Streaming ingest (SURVEY.md §7 phase 5).

The reference's ingest is a synchronous per-point RPC loop
(``Client.insert``, ``Client.java:55-59``). The Spark-native equivalent is
a micro-batched stream: ``readStream`` over arriving files (or any
source), z-encode each batch with the same native expressions the batch
path uses, append to the z-clustered table via ``foreachBatch``, and
refresh the bucket index per batch — amortizing what the reference paid
per point. Index state is refreshed on the driver each batch from the
table's own files rather than held in the streaming state store: exact,
restart-safe (state lives in the table, not the query), and identical to
the batch semantics.

Also provides a watermarked windowed aggregation over the ``events``
fixture — the streaming analog of ``range_count`` for time ranges — to
exercise late-data handling.

State-directory discovery (the ``batch=<id>`` / ``snapshot=<cutoff>``
trees of the dedup and sampler sinks) routes through the Hadoop
FileSystem API (:func:`fs_exists` / :func:`fs_listdir` /
:func:`fs_rmtree`), so ``table_path`` may live on ANY scheme Spark can
write — ``file://``, ``hdfs://``, ``s3a://`` — and the compaction /
bucket-pruning / exactly-once-replay machinery is identical everywhere.
Bare local paths (no ``://``) take an ``os``-module fast path: the
listings run several times per micro-batch and a py4j round-trip per
call is measurable at local bench scale, while the semantics (names of
children, recursive delete, existence) are the same. One caveat stays:
on S3A the snapshot commit is write-then-delete of plain directories,
not an atomic rename — the ``_SUCCESS``-gated selection rule keeps every
crash window read-exactly-once, but a production deployment on object
storage may still prefer a transactional table format for the OUTPUT
tables (the state trees are small and self-healing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from tiny_md_hbase_spark.fsutil import fs_du, fs_exists, fs_listdir, fs_rmtree
from tiny_md_hbase_spark.operators.index import DEFAULT_THRESHOLD
from tiny_md_hbase_spark.operators.write import (
    refresh_index,
    refresh_index_incremental,
    with_generated_ids,
)
from tiny_md_hbase_spark.sources.writer import with_zvalue, write_zsorted_parts

__all__ = [
    "events_as_points",
    "stream_ingest_points",
    "stream_windowed_counts",
    "stream_sessionize",
    "stream_asof",
    "stream_dedup_events",
    "stream_dedup_docs",
    "stream_dedup_near",
    "stream_sample",
    "read_stream_sample",
    "sample_topk_batch",
    "stream_sample_stratified",
    "read_stream_sample_stratified",
    "sample_stratified_batch",
    "stream_decontaminate",
    "decontaminate_batch_hits",
    "dedup_ttl_batch",
    "stream_dedup_ttl",
    "dedup_ttl_event_batch",
    "stream_dedup_ttl_event",
    "flush_dedup_ttl_event",
    "index_maintain_batch",
    "stream_index_maintain",
    "keyword_search_maintained",
    "keyword_search_bm25_maintained",
    "phrase_search_maintained",
    "compact_maintained_index",
    "stream_ingest_documents_pk",
    "redact_maintained_index",
    "stream_ingest_embeddings",
    "stream_manifest",
    "merge_manifest_batch",
    "fs_exists",
    "fs_listdir",
    "fs_rmtree",
    "fs_du",
    "compact_stream_output",
    "read_stream_output",
]

# ts arrives as TIMESTAMP(NANOS) in the fixtures, surfaced as nanos-long
# (see session.py nanosAsLong); ts_ts() converts where real timestamp
# semantics (windows, watermarks) are needed
EVENTS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def ts_ts(col: str = "ts") -> Column:
    """nanos-long → timestamp (exact integer µs division)."""
    return F.timestamp_micros(F.expr(f"{col} div 1000"))


def events_as_points(events: DataFrame) -> DataFrame:
    """Deterministic spatial projection of the events fixture (same spirit
    as the points view, FIXTURES.md): works identically on batch and
    streaming DataFrames."""
    return events.select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 4096).cast("int").alias("x"),
        ((F.col("event_id") * 997 + F.col("user_id")) % 4096).cast("int").alias("y"),
    )


def stream_ingest_points(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    threshold: int = DEFAULT_THRESHOLD,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream event files into the z-clustered points table.

    Each micro-batch is the reference's insert loop amortized: one
    z-encode pass, one sorted append, one index refresh (incremental
    after the first batch). ``availableNow`` drains the current backlog
    and stops (used by tests/backfills); leave it False for a continuous
    ingest. ``max_files_per_trigger`` bounds batch size (and makes
    availableNow produce several micro-batches).

    Replay semantics: at-least-once — a crash between the points append
    and the index refresh re-appends the batch's points on replay.
    The dedup sinks close this window with batch=<id> overwrite
    partitions (:func:`stream_dedup_docs` / :func:`stream_dedup_near`);
    here the z-clustered layout's directory shape is itself the product,
    so production closes it with a transactional table format instead."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        pts = with_generated_ids(events_as_points(batch))
        had_index = fs_exists(spark, f"{table_path}/index")
        write_zsorted_parts(with_zvalue(pts), f"{table_path}/points", "append")
        if had_index:
            # O(batch + overflowing buckets), not O(table)
            refresh_index_incremental(spark, table_path, pts, threshold=threshold)
        else:
            refresh_index(spark, table_path, threshold=threshold)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SESSION_OUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_events long, sum_value_micros long"
)
SESSION_STATE_SCHEMA = (
    "session_start_us long, last_ts_us long, n_events long, sum_micros long"
)


def _require_event_time(batch, op_name: str, user_id) -> None:
    """Shared loud NULL-event-time contract of the stateful kernels
    (stream_asof / stream_sessionize / stream_scd2): event-time is
    their ordering key, and a NULL ts would otherwise die as
    int(NaN) / astype(int64) deep in a task retry loop with no row
    pointer. Fails the micro-batch naming the offending event_ids."""
    mask = batch["ts_us"].isna()
    if mask.any():
        bad = batch.loc[mask, "event_id"].head(3).tolist()
        raise ValueError(
            f"{op_name} requires a non-NULL event time: event_ids "
            f"{bad} (user_id={user_id}) have NULL ts — filter or "
            f"repair them upstream"
        )


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    gap_us: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """Custom stateful streaming operator: per-user sessionization with
    ``applyInPandasWithState``.

    State per user = the open session (start, last ts, count, sum); a
    batch closes and emits every session whose gap is exceeded either
    within the batch or against the carried state. Closed sessions match
    the batch :func:`~tiny_md_hbase_spark.operators.sessions.sessionize`
    exactly; the still-open tail session per user lives in the state
    store until more data (or a timeout policy) closes it. State size is
    O(active users), independent of stream length.
    """

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start, last, n, s = state.get
        else:
            start = last = None
            n = 0
            s = None
        rows = []
        batch = pd.concat(list(pdfs), ignore_index=True)
        # event-time is the gap rule's input: NULL ts would die at
        # int(NaN) mid-task — fail loudly with the row id instead
        _require_event_time(batch, "stream_sessionize", user_id)
        batch = batch.sort_values(["ts_us", "event_id"])
        for ts, val in zip(batch["ts_us"], batch["value"]):
            ts = int(ts)
            if last is not None and ts - last > gap_us:
                rows.append((user_id, start, last, n, s))
                start, n, s = None, 0, None
            if start is None:
                start = ts
            last = ts
            n += 1
            # exact batch-SUM parity: NULL values are SKIPPED, so a
            # session whose every value is NULL sums to NULL (None),
            # not 0 — the batch operator and its oracle emit NULL there
            if not pd.isna(val):
                s = (0 if s is None else s) + int(round(val * 1_000_000))
        state.update((start, last, n, s))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id",
                "session_start_us",
                "session_end_us",
                "n_events",
                "sum_value_micros",
            ],
        )

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(source_dir)
        .withColumn("ts_us", F.expr("ts div 1000"))
        .select("user_id", "ts_us", "event_id", "value")
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


ASOF_OUT_SCHEMA = (
    "event_id long, user_id long, ts_us long, event_type string, "
    "prev_error_event_id long, prev_error_ts_us long, lag_us long"
)
ASOF_STATE_SCHEMA = "r_eid long, r_ts long"


def stream_asof(
    spark: SparkSession,
    source_dir: str,
    right_type: str = "error",
) -> DataFrame:
    """Streaming backward as-of join within one event stream: every
    non-``right_type`` event is annotated with the most recent
    ``right_type`` event of the same user seen so far — the streaming
    twin of :func:`~tiny_md_hbase_spark.operators.sessions.asof_join`.

    State per user = the latest ``right_type`` (event_id, ts) — O(active
    users), independent of stream length; each batch is sorted per user
    by (ts, side, event_id) with the same tie rule as the batch operator
    (a right row at the same microsecond is visible to left rows at that
    microsecond). Correct for sources that are in-order per key across
    batches (the carried state only advances); cross-batch late arrivals
    would need a watermarked buffer — out of scope, as with the
    reference's strictly-ordered ingest loop.
    """

    def fn(key, pdfs, state):
        import pandas as pd

        (user_id,) = key
        r_eid, r_ts = state.get if state.exists else (None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        _require_event_time(batch, "stream_asof", user_id)
        batch = batch.sort_values(["ts_us", "side", "event_id"])
        rows = []
        for eid, ts, etype, side in zip(
            batch["event_id"], batch["ts_us"], batch["event_type"], batch["side"]
        ):
            eid, ts = int(eid), int(ts)
            if side == 0:
                r_eid, r_ts = eid, ts
            else:
                rows.append(
                    (
                        eid,
                        user_id,
                        ts,
                        etype,
                        r_eid,
                        r_ts,
                        None if r_ts is None else ts - r_ts,
                    )
                )
        state.update((r_eid, r_ts))
        yield pd.DataFrame(rows, columns=ASOF_OUT_SCHEMA.replace(" long", "")
                           .replace(" string", "").split(", "))

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(source_dir)
        .select(
            "user_id",
            F.expr("ts div 1000").alias("ts_us"),
            "event_id",
            "event_type",
            F.when(F.col("event_type") == right_type, 0).otherwise(1).alias("side"),
        )
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_dedup_events(
    spark: SparkSession,
    source_dir: str,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same event within
    the watermark horizon — ``dropDuplicatesWithinWatermark``, the
    streaming twin of ``dedup_exact``.

    Scale shape: state holds one entry per distinct key seen within the
    horizon and is evicted as the watermark advances — bounded by arrival
    rate × horizon, independent of stream length. An unbounded
    ``dropDuplicates`` would grow state forever; at-least-once sources
    (Kafka, file redelivery) make this the correct default for an ingest
    front-door. Keys default to the event identity (event_id); pass e.g.
    a content hash column for payload-level dedup.
    """
    keys = keys or ["event_id"]
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(source_dir)
        .withColumn("ts", ts_ts("ts"))
    )
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_windowed_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type — the
    streaming DataFrame to attach to any sink. Late rows beyond the
    watermark are dropped; state is bounded by watermark horizon ×
    window count, independent of stream length."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(source_dir)
        .withColumn("ts", ts_ts("ts"))
    )
    w = (
        F.window("ts", window, slide)
        if slide
        else F.window("ts", window)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(w.alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact integer micros: a double sum is accumulation-order
            # dependent and would differ run-to-run and engine-to-engine
            F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias(
                "sum_value_micros"
            ),
        )
        .select(
            F.unix_micros(F.col("win.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value_micros",
        )
    )


DOCS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# ---------------------------------------------------------------------------
# Persisted streaming state: batch=<id> partition trees + periodic snapshots.
#
# Every dedup/sampler sink keeps its cross-batch state as plain parquet under
# table_path, one `batch=<id>` directory per micro-batch, OVERWRITTEN on
# replay (exactly-once on plain parquet: own-batch exclusion on the read +
# per-batch overwrite on the write). Left alone, that tree grows one
# directory per batch and every micro-batch's state read lists-and-scans all
# of them — O(total batches) per batch, unbounded over stream lifetime (the
# r11 verdict's What's-wrong #4). The fix is periodic COMPACTION: once
# `compact_every` prior batch directories accumulate, they (plus the prior
# snapshot) fold into one `snapshot=<cutoff>` directory, where cutoff = the
# highest folded batch id. Readers use the highest _SUCCESS-committed
# snapshot plus the batch directories ABOVE its cutoff, so per-batch read
# work is O(snapshot + compact_every) regardless of stream length.
#
# Crash safety, window by window:
#   - mid-snapshot-write: the partial snapshot dir has no _SUCCESS and is
#     ignored by readers; the next trigger rewrites it (mode=overwrite).
#   - after snapshot commit, before source deletion: readers already prefer
#     the new cutoff, and batch dirs <= cutoff are ignored by the selection
#     rule (never double-read); the leftover dirs are swept opportunistically
#     on the next compaction pass.
#   - replay of batch B: compaction only ever folds ids < B while B is the
#     running batch, so B's own prior attempt is never inside a snapshot —
#     the own-batch exclusion stays a pure path-selection rule.
#
# The bands state additionally partitions each directory by a hash bucket of
# (band, bhash) — `bucket=<b>/` subdirectories — so a micro-batch's state
# read LISTS only the buckets its arrivals touch (listing-level pruning, the
# clustered-ANN-layout trick applied to LSH state; r11 verdict #6).
# ---------------------------------------------------------------------------

# directory-level hash buckets of the bands state (see _band_bucket); part of
# the stream_dedup_near _params marker — state written under one modulus and
# read under another would prune to the wrong directories
STATE_BUCKETS = 64


def _band_bucket() -> Column:
    """The bands state's directory-bucket key: a hash bucket of the full
    (band, bhash) bucket identity. xxhash64 is fine here — the bucket is
    state-internal routing, never oracle-visible."""
    return F.pmod(F.xxhash64("band", "bhash"), F.lit(STATE_BUCKETS)).cast("int")


def _state_layout(
    ss: SparkSession, spath: str
) -> tuple[str | None, int, dict[int, str]]:
    """(snapshot_dir, cutoff, live_batch_dirs) for one state tree:
    the highest _SUCCESS-committed ``snapshot=<cutoff>`` directory (None /
    -1 when no snapshot exists) and the ``batch=<id>`` directories with
    id > cutoff (ids at or below it are already folded in — leftovers
    from a crash-interrupted fold, ignored and swept later)."""
    snaps: list[int] = []
    batches: dict[int, str] = {}
    for d in fs_listdir(ss, spath):
        kind, _, val = d.partition("=")
        if not val.lstrip("-").isdigit():
            continue
        if kind == "snapshot" and fs_exists(ss, f"{spath}/{d}/_SUCCESS"):
            snaps.append(int(val))
        elif kind == "batch":
            batches[int(val)] = f"{spath}/{d}"
    cutoff = max(snaps) if snaps else -1
    snap_dir = f"{spath}/snapshot={cutoff}" if snaps else None
    return snap_dir, cutoff, {i: p for i, p in batches.items() if i > cutoff}


def _read_state(
    ss: SparkSession,
    spath: str,
    exclude_batch: int,
    schema: str,
    cols: list[str],
    bucket_in: list[int] | None = None,
) -> DataFrame | None:
    """The pre-batch state relation: snapshot + live batch directories,
    excluding the running batch's own prior attempt (replay idempotence).
    Each directory is read with an EXPLICIT schema (a bucket-partitioned
    directory whose every row was capped away holds only _SUCCESS, which
    schema inference rejects). When ``bucket_in`` is given, pruning is
    done by PATH SELECTION — only the touched ``bucket=<b>/``
    subdirectories are handed to the reader at all, so untouched buckets
    are never listed, let alone scanned (stronger than a partition
    filter, which still lists every leaf to build the file index).
    Returns None when no state exists yet."""
    snap, _cutoff, live = _state_layout(ss, spath)
    dirs = ([snap] if snap else []) + [
        p for i, p in sorted(live.items()) if i != exclude_batch
    ]
    if bucket_in is not None:
        dirs = [
            sub
            for p in dirs
            for b in bucket_in
            if fs_exists(ss, sub := f"{p}/bucket={b}")
        ]
    if not dirs:
        return None
    parts = [ss.read.schema(schema).parquet(p).select(*cols) for p in dirs]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def _maybe_compact(
    ss: SparkSession,
    spath: str,
    batch_id: int,
    every: int,
    schema: str,
    partition_col: str | None = None,
    fold=None,
) -> bool:
    """Fold prior batch directories (ids < the RUNNING batch only — its
    own directory must stay individually excludable for replay) plus the
    prior snapshot into ``snapshot=<max folded id>`` once ``every`` of
    them accumulate. Write-then-delete: the new snapshot commits
    (_SUCCESS) before any source directory is removed, so every crash
    window leaves a tree the selection rule in :func:`_state_layout`
    reads exactly once. Also sweeps leftovers a previous interrupted
    fold left at or below the committed cutoff.

    ``fold`` (DataFrame -> DataFrame, default identity) lets a state
    whose read side aggregates (e.g. the TTL dedup's per-key
    max(last_arrival) + horizon expiry) apply that aggregation
    PHYSICALLY at fold time, so the snapshot stores the reduced state
    instead of the row history — the read-side aggregate over
    (snapshot ∪ deltas) is unchanged because it is idempotent over its
    own output."""
    snap, cutoff, live = _state_layout(ss, spath)
    # opportunistic sweep of crash leftovers the selection rule
    # already ignores: batch dirs <= cutoff, snapshots < cutoff, and
    # uncommitted snapshot dirs below the committed one
    for d in fs_listdir(ss, spath):
        kind, _, val = d.partition("=")
        if not val.lstrip("-").isdigit():
            continue
        v = int(val)
        if (kind == "batch" and v <= cutoff) or (
            kind == "snapshot" and v < cutoff
        ):
            fs_rmtree(ss, f"{spath}/{d}")
    foldable = {i: p for i, p in live.items() if i < batch_id}
    if len(foldable) < every:
        return False
    new_cutoff = max(foldable)
    parts = [
        ss.read.schema(schema).parquet(p)
        for p in ([snap] if snap else []) + [p for _, p in sorted(foldable.items())]
    ]
    merged = parts[0]
    for df in parts[1:]:
        merged = merged.unionByName(df)
    if fold is not None:
        merged = fold(merged)
    writer = merged.write.mode("overwrite")
    if partition_col:
        # one file per non-empty bucket directory instead of
        # files-per-source-dir x buckets
        writer = merged.repartition(partition_col).write.mode(
            "overwrite"
        ).partitionBy(partition_col)
    writer.parquet(f"{spath}/snapshot={new_cutoff}")
    for p in foldable.values():
        fs_rmtree(ss, p)
    if snap:
        fs_rmtree(ss, snap)
    return True


def compact_stream_output(
    spark: SparkSession,
    output_path: str,
    schema: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Maintenance compaction for a streaming OUTPUT tree (the
    ``docs``/``pairs``/``hits`` ``batch=<id>`` directories the sinks
    append): fold every DRAINED batch directory — ids strictly below
    the newest, which a restarted stream may still replay-overwrite —
    plus the prior snapshot into one ``snapshot=<cutoff>`` directory of
    ``target_file_bytes``-sized files. A year-long ingest otherwise
    leaves O(batches) directories for every downstream read to list
    (the state trees got this fix in r12 via :func:`_maybe_compact`;
    this is the same write-then-delete/_SUCCESS discipline applied to
    the output side, sized for bulk reads instead of state lookups).

    Crash safety is :func:`_maybe_compact`'s: the new snapshot commits
    (_SUCCESS) before any source directory is removed, and
    :func:`read_stream_output`'s selection rule (highest committed
    snapshot + batch dirs above its cutoff) reads every crash window
    exactly once. Excluding the newest batch keeps the sinks' replay
    contract intact: a replayed batch overwrites its own directory,
    which must therefore not have been folded away beneath it.

    Returns the number of batch directories folded (0 = nothing to
    do). Idempotent and safe to run while the stream is stopped or
    between triggers of an availableNow drain."""
    snap, _cutoff, live = _state_layout(spark, output_path)
    if not live:
        return 0
    newest = max(live)
    foldable = {i: p for i, p in live.items() if i < newest}
    if not foldable:
        return 0
    new_cutoff = max(foldable)
    src_dirs = ([snap] if snap else []) + [
        p for _, p in sorted(foldable.items())
    ]
    total = sum(fs_du(spark, p) for p in src_dirs)
    n_files = max(1, -(-total // max(1, target_file_bytes)))
    parts = [spark.read.schema(schema).parquet(p) for p in src_dirs]
    merged = parts[0]
    for df in parts[1:]:
        merged = merged.unionByName(df)
    merged.repartition(n_files).write.mode("overwrite").parquet(
        f"{output_path}/snapshot={new_cutoff}"
    )
    for p in src_dirs:
        fs_rmtree(spark, p)
    return len(foldable)


def read_stream_output(
    spark: SparkSession, output_path: str, schema: str
) -> DataFrame:
    """Read a streaming output tree regardless of compaction state:
    the highest _SUCCESS-committed snapshot plus the batch directories
    above its cutoff — the same selection rule the state reads use, so
    pre- and post-:func:`compact_stream_output` reads return the
    identical relation. Empty relation when nothing was drained yet."""
    snap, _cutoff, live = _state_layout(spark, output_path)
    dirs = ([snap] if snap else []) + [p for _, p in sorted(live.items())]
    if not dirs:
        return spark.createDataFrame([], schema)
    parts = [spark.read.schema(schema).parquet(p) for p in dirs]
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


SEEN_STATE_SCHEMA = "h long"
BANDS_STATE_SCHEMA = "doc_id long, band int, bhash long, bucket int"
HS_STATE_SCHEMA = "doc_id long, hs array<long>"

# fold prior state directories into a snapshot once this many accumulate:
# per-batch state reads stay O(snapshot + compact_every) directories
DEFAULT_COMPACT_EVERY = 16


def dedup_docs_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of :func:`stream_dedup_docs` (module-level so the
    replay path is directly testable, like merge_manifest_batch):
    keep-min within the batch, anti-join the persisted seen-set, then
    OVERWRITE this batch's own docs/seen partition directories.

    Replay correctness hinges on ONE exclusion: the seen-set read skips
    ``batch=<this batch_id>``. A replayed batch's prior attempt already
    wrote its survivors' fingerprints; anti-joining against them would
    erase the batch's own survivors (data LOSS, the inverse failure of
    the duplicate-append it replaced), while excluding them recomputes
    the batch against exactly the pre-batch state. The seen-set is a
    snapshot-compacted state tree (module comment above STATE_BUCKETS):
    every ``compact_every`` batches the prior directories fold into one
    snapshot, keeping the per-batch listing/scan O(snapshot +
    compact_every) instead of O(all batches ever)."""
    from tiny_md_hbase_spark.operators.dedup import _content_fp

    ss = batch.sparkSession
    b = batch.withColumn("h", _content_fp("text"))
    keep = b.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    surv = b.join(keep, ["h", "doc_id"])
    seen = _read_state(
        ss, f"{table_path}/seen", batch_id, SEEN_STATE_SCHEMA, ["h"]
    )
    if seen is not None:
        surv = surv.join(seen, "h", "left_anti")
    # lazy: the docs write below is the checkpoint's first consumer and
    # materializes it — including the seen-state read — BEFORE the seen
    # write (the next job) can touch that directory, so the
    # read-before-overwrite ordering holds without a separate eager
    # materialization job per trigger (r15 jobs-per-trigger audit:
    # eager ran 2-3 extra stage-jobs per batch). The seen write then
    # reads the cached checkpoint partitions, never the state dirs.
    surv = surv.localCheckpoint(eager=False)
    surv.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).write.mode("overwrite").parquet(f"{table_path}/docs/batch={batch_id}")
    surv.select("h").write.mode("overwrite").parquet(
        f"{table_path}/seen/batch={batch_id}"
    )
    _maybe_compact(
        ss, f"{table_path}/seen", batch_id, compact_every, SEEN_STATE_SCHEMA
    )


def stream_dedup_docs(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming corpus ingest with cross-batch exact dedup — the
    streaming twin of ``dedup.dedup_incremental``: each micro-batch
    keeps its lowest-``doc_id`` row per content fingerprint, anti-joins
    the persisted ``seen`` fingerprint table (documents whose content
    arrived in ANY earlier batch are dropped), appends the survivors to
    ``{table_path}/docs`` and their fingerprints to
    ``{table_path}/seen``. Per batch the work is O(batch + seen-set) —
    old TEXT is never re-read, only 8-byte fingerprints (the
    incremental-index-refresh pattern of :func:`stream_ingest_points`,
    applied to dedup state).

    Exactly one survivor per distinct content survives the whole drain;
    WHICH doc_id that is follows arrival order (keep-first), so
    cross-run determinism of the id set requires deterministically
    ordered staging — set-level invariants (one-per-content, per-lang
    counts) hold under any order.

    Failure semantics: EXACTLY-ONCE on plain parquet. ``docs`` and
    ``seen`` are ``batch=<id>`` partition trees and each micro-batch
    OVERWRITES its own directory, so ``foreachBatch``'s replay of the
    last uncommitted batch recomputes against the same pre-batch
    seen-set and rewrites identical content instead of re-appending
    its survivors (the same structural close as
    :func:`stream_dedup_near`)."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        dedup_docs_batch(batch, batch_id, table_path, compact_every=compact_every)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_TTL_SCHEMA = DOCS_SCHEMA + ", arrival long"
TTL_STATE_SCHEMA = "h long, last_arrival long"


def _ttl_reduce(b: DataFrame, tick_col: str) -> DataFrame:
    """Tick-reduce step of the TTL admit chain (dedup.dedup_ttl's
    structural hot-key guard, shared by the arrival- and event-time
    sinks): per (h, tick) only the min-doc_id row can ever be admitted
    (any other same-tick row has gap 0), so the rows collapse through a
    map-side-partial ``min_by`` before any window. Input carries
    (doc_id, text, lang, source, n_chars, <tick_col>, h); output is
    (h, _arr, _p)."""
    payload = F.struct("doc_id", "text", "lang", "source", "n_chars").alias(
        "_p"
    )
    return (
        b.select("h", F.col(tick_col).cast("long").alias("_arr"), payload)
        .groupBy("h", "_arr")
        .agg(F.min_by("_p", F.col("_p.doc_id")).alias("_p"))
    )


def _ttl_admit(
    reduced: DataFrame, fronts: DataFrame | None, ttl: int
) -> DataFrame:
    """Epoch-salted lag chain of the TTL admit (the second half of the
    structural guard): run the gap rule per (h, tick div (ttl+1)),
    seeding each epoch with the previous epoch's max tick and — when
    ``fronts`` (h, _arr per-fingerprint prior front) is given — with the
    cross-batch front routed to its own and the next epoch. Epoch
    length ttl+1 makes anything two epochs back always past the
    horizon, so the one-epoch seed preserves the exact gap rule while
    bounding every window partition at ≤ ttl+1 rows + seeds. Seeds
    order BEFORE real rows at tick ties (_seed desc), so redelivery at
    the renewal tick absorbs at gap 0. Returns admitted (h, _arr, _p)."""
    from pyspark.sql.window import Window

    from tiny_md_hbase_spark.operators.dedup import _ttl_floor_epoch

    epoch_len = int(ttl) + 1
    real = reduced.select(
        "h",
        "_arr",
        _ttl_floor_epoch("_arr", epoch_len).alias("_ep"),
        F.lit(0).alias("_seed"),
        "_p",
    )
    ptype = real.schema["_p"].dataType
    rows = real.unionByName(
        real.groupBy("h", "_ep")
        .agg(F.max("_arr").alias("_arr"))
        .select(
            "h",
            "_arr",
            (F.col("_ep") + 1).alias("_ep"),
            F.lit(1).alias("_seed"),
            F.lit(None).cast(ptype).alias("_p"),
        )
    )
    if fronts is not None:
        rows = rows.unionByName(
            fronts.select(
                "h",
                "_arr",
                F.explode(
                    F.array(
                        _ttl_floor_epoch("_arr", epoch_len),
                        _ttl_floor_epoch("_arr", epoch_len) + 1,
                    )
                ).alias("_ep"),
                F.lit(1).alias("_seed"),
                F.lit(None).cast(ptype).alias("_p"),
            )
        )
    w = Window.partitionBy("h", "_ep").orderBy("_arr", F.desc("_seed"))
    return (
        rows.withColumn("_prev", F.lag("_arr").over(w))
        .filter(
            (F.col("_seed") == 0)
            & (F.col("_prev").isNull() | (F.col("_arr") - F.col("_prev") > ttl))
        )
        .select("h", "_arr", "_p")
    )


def dedup_ttl_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    ttl: int,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of :func:`stream_dedup_ttl` (module-level so the
    replay path is directly testable): admit an arriving document iff no
    same-fingerprint occurrence lies within the previous ``ttl``
    arrival ticks — ``dedup.dedup_ttl``'s last-seen-renewal rule carried
    across batches.

    State is (h, last_arrival) upsert DELTAS: each batch writes one row
    per fingerprint it saw (its max in-batch arrival — renewal counts
    every sighting, admitted or suppressed); the read side folds
    ``max(last_arrival)`` per h over (snapshot ∪ deltas). The prior
    occurrence then seeds each fingerprint's in-batch lag-chain as a
    pseudo-row ordered BEFORE the arrivals, so the window computes the
    identical gaps the batch operator sees over the full history.

    EXPIRY is what bounds this state where ``stream_dedup_docs``'s
    seen-set cannot be bounded: at every fold, :func:`_maybe_compact`'s
    ``fold`` hook reduces to per-h max and DROPS fingerprints with
    ``last_arrival < max(last_arrival) - ttl``. That is exact, not
    lossy, under the staging contract enforced below: any future
    arrival is ≥ the fold's max, so a dropped key could only ever
    produce gap > ttl — exactly what its absence produces. Working
    state is O(distinct content in the horizon) for an UNBOUNDED
    stream.

    The in-order contract is STRICT and enforced loudly: every batch's
    min arrival must be ≥ the state front (the max arrival any prior
    batch recorded). Anything weaker silently corrupts — an arrival
    within (front - ttl, front) can (a) have had its suppression
    history expired at a fold whose max exceeded it by > ttl, or
    (b) be a redelivered row ordering BELOW a later renewal of its own
    content, re-admitting what the batch operator suppresses — so the
    refusal line is the front itself, not front - ttl. Equality at the
    front is fine (a redelivered row at the renewal tick absorbs at
    gap 0 via the seed ordering), which keeps same-batch replay AND
    boundary redelivery working; ``repartitionByRange`` staging on the
    arrival tick satisfies the contract by construction.

    The hot-key guard is ``dedup.dedup_ttl``'s, threaded through the
    per-batch chain: TICK-REDUCE (per (h, tick) only the min-doc_id
    row can be admitted — map-side partial ``min_by``, so a same-tick
    flood collapses before any exchange) then EPOCH-SALT (the lag chain
    runs per (h, tick div (ttl+1)), seeded by the previous epoch's max
    tick and by the state front routed to its own and the next epoch),
    bounding every window partition at ≤ ttl+1 rows + seeds.

    Replay safety is the sink family's: own-batch exclusion on the
    state read + per-batch overwrite of docs/state directories."""
    from tiny_md_hbase_spark.operators.dedup import _content_fp

    ss = batch.sparkSession
    b = batch.distinct().withColumn("h", _content_fp("text"))
    state = _read_state(
        ss,
        f"{table_path}/state",
        batch_id,
        TTL_STATE_SCHEMA,
        ["h", "last_arrival"],
    )
    # the tick-reduce shuffle feeds THREE consumers (the batch_min
    # action, the admit chain, the state-delta write) — materialize it
    # once instead of re-running fingerprint+exchange per consumer
    reduced = _ttl_reduce(b, "arrival").localCheckpoint()
    fronts = None
    if state is not None:
        # ONE action for both guard scalars (state front × batch min —
        # two 1-row aggregates crossed), not one collect per relation
        guard = (
            state.agg(F.max("last_arrival").alias("_front"))
            .crossJoin(reduced.agg(F.min("_arr").alias("_bmin")))
            .collect()[0]
        )
        front, batch_min = guard["_front"], guard["_bmin"]
        if front is not None and batch_min is not None and batch_min < front:
            raise ValueError(
                f"stream_dedup_ttl batch {batch_id} contains arrival "
                f"{batch_min}, behind the state front {front}: an"
                " out-of-order batch can re-admit content whose"
                " suppression history was expired or renewed past it."
                " Stage batches in arrival order (repartitionByRange on"
                " the arrival tick) — see the staging contract in the"
                " docstring."
            )
        fronts = state.groupBy("h").agg(F.max("last_arrival").alias("_arr"))
    # surv feeds exactly one consumer (the docs write below), so it is
    # NOT checkpointed — the write materializes the admit chain itself.
    # Safe ordering: the chain reads only state dirs the selection rule
    # keeps (the running batch's own dir is excluded; compaction, which
    # deletes folded dirs, runs after every write in this function).
    surv = _ttl_admit(reduced, fronts, ttl)
    surv.select(
        F.col("_p.doc_id").alias("doc_id"),
        F.col("_p.text").alias("text"),
        F.col("_p.lang").alias("lang"),
        F.col("_p.source").alias("source"),
        F.col("_p.n_chars").alias("n_chars"),
        F.col("_arr").alias("arrival"),
    ).write.mode("overwrite").parquet(f"{table_path}/docs/batch={batch_id}")
    reduced.groupBy("h").agg(F.max("_arr").alias("last_arrival")).write.mode(
        "overwrite"
    ).parquet(f"{table_path}/state/batch={batch_id}")

    def _fold(df: DataFrame) -> DataFrame:
        # expiry without a driver action: the global front rides a
        # broadcast cross-join of the 1-row max (map-side partials on
        # both sides), so the fold is a single job — the write inside
        # _maybe_compact. NULL front (empty state) keeps every row via
        # the coalesce, matching the old None early-return.
        agg = df.groupBy("h").agg(F.max("last_arrival").alias("last_arrival"))
        mx = agg.agg(F.max("last_arrival").alias("_mx"))
        return (
            agg.crossJoin(F.broadcast(mx))
            .filter(
                F.col("last_arrival")
                >= F.coalesce(F.col("_mx"), F.col("last_arrival")) - ttl
            )
            .drop("_mx")
        )

    _maybe_compact(
        ss,
        f"{table_path}/state",
        batch_id,
        compact_every,
        TTL_STATE_SCHEMA,
        fold=_fold,
    )


def stream_dedup_ttl(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    ttl: int,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming horizon-bounded (TTL) dedup — the route-on-arrival twin
    of ``dedup.dedup_ttl`` and the UNBOUNDED-stream replacement for
    :func:`stream_dedup_docs`'s forever-growing seen-set: state is
    per-fingerprint last-arrival, renewed on every sighting and
    physically expired past the ``ttl`` horizon at compaction, so a
    perpetual 100 TB/year ingest carries O(content in the horizon)
    state instead of O(all content ever).

    Source files must arrive in arrival order (stage with
    ``repartitionByRange`` on the arrival tick) — the same contract
    under which the drained ``docs`` tree equals ``dedup.dedup_ttl``
    over everything that arrived, which is why the driver's oracle is
    ``dedup_ttl_sql`` verbatim. Exactly-once by the sink family's
    pattern (own-batch exclusion + per-batch overwrite); the output
    tree is :func:`compact_stream_output`-maintainable like every other
    sink's."""
    reader = spark.readStream.schema(DOCS_TTL_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        dedup_ttl_batch(batch, batch_id, table_path, ttl, compact_every)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_EVENT_SCHEMA = DOCS_SCHEMA + ", event_ts long"
TTL_EVENT_STATE_SCHEMA = "h long, last_event long"
TTL_EVENT_WM_SCHEMA = "max_event long"
TTL_EVENT_PENDING_SCHEMA = DOCS_EVENT_SCHEMA + ", h long"
# terminal flush writes under this id — far above any real micro-batch
# count, so a (contract-violating) post-flush restart cannot overwrite it
TTL_EVENT_FLUSH_ID = 1 << 40


def _read_latest_rewrite(
    ss: SparkSession, spath: str, exclude_batch: int, schema: str
) -> DataFrame | None:
    """Latest-snapshot state (vs the ADDITIVE delta trees of
    :func:`_read_state`): each batch OVERWRITES the full relation into
    its own ``batch=<id>`` directory and readers use the HIGHEST id ≠
    the running batch — the shape for state that shrinks (the event-TTL
    pending buffer: rows leave it when the watermark passes them), which
    a union-of-deltas tree cannot express. Replay safe for the same
    reason as the delta trees: foreachBatch only ever replays the
    newest batch, whose own directory is excluded here, and the
    directory read is always a completed write (an interrupted write
    belongs to the batch that will be replayed, not to any reader).
    Superseded directories (below the one read) are swept in passing."""
    if not fs_exists(ss, spath):
        return None
    ids = []
    for d in fs_listdir(ss, spath):
        kind, _, val = d.partition("=")
        if kind == "batch" and val.lstrip("-").isdigit():
            ids.append(int(val))
    cand = [i for i in ids if i != exclude_batch]
    if not cand:
        return None
    cur = max(cand)
    for i in ids:
        if i < cur:
            fs_rmtree(ss, f"{spath}/batch={i}")
    return ss.read.schema(schema).parquet(f"{spath}/batch={cur}")


def dedup_ttl_event_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    ttl: int,
    lateness: int,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of :func:`stream_dedup_ttl_event` — TTL dedup on
    EVENT time under a watermark, the re-crawl-pipeline form the
    arrival-tick sink cannot express: events arrive out of event-time
    order (bounded by ``lateness``), and the gap rule must still see
    them in event order. The standard streaming answer: BUFFER rows
    until the watermark passes them, then finalize in event-time order.

    Per batch: watermark = max(event_ts ever seen) - lateness; rows
    (arriving ∪ buffered) at or below the new watermark FINALIZE through
    the shared admit chain (:func:`_ttl_reduce` + :func:`_ttl_admit` —
    the same tick-reduce + epoch-salt hot-key guard, keyed on event
    ticks, seeded by the per-fingerprint last FINALIZED event); rows
    above it stay in the pending buffer. Finalization is MONOTONE in
    event time (every newly finalized event ≥ the previous watermark ≥
    every state front), which is what makes the per-h seed exact.

    Late-data policy is the family's loud refusal: a row whose event_ts
    is below the PREVIOUS watermark violated the lateness bound — its
    suppression history may be expired and already-emitted decisions
    can no longer be revised — so the batch fails with the bound named
    rather than silently re-admitting or dropping. (Rows equal to the
    watermark are on time; ties of the same content at the exact
    boundary must co-batch, as with the arrival twin's equal ticks.)

    State: ``state`` (h, last_event — additive deltas, folded with
    expiry below watermark - ttl exactly as the arrival sink's),
    ``wm`` (per-batch max event_ts — additive, folds to one row),
    ``pending`` (the buffer — a :func:`_read_latest_rewrite` full
    snapshot per batch, bounded by lateness × arrival rate). Docs write
    per-batch-overwrite as everywhere. Working state is O(horizon +
    lateness window) for an unbounded stream."""
    from tiny_md_hbase_spark.operators.dedup import _content_fp

    ss = batch.sparkSession
    b = batch.distinct().withColumn("h", _content_fp("text"))

    wm_tree = _read_state(
        ss, f"{table_path}/wm", batch_id, TTL_EVENT_WM_SCHEMA, ["max_event"]
    )
    # ONE action for all three guard scalars (batch min/max event × the
    # previous watermark front) instead of one collect per relation —
    # over the RAW batch: min/max are invariant under distinct, so the
    # guard job skips the dedup exchange and the fingerprint expression
    stats_agg = batch.agg(
        F.min("event_ts").alias("mn"), F.max("event_ts").alias("mx")
    )
    if wm_tree is not None:
        stats = stats_agg.crossJoin(
            wm_tree.agg(F.max("max_event").alias("_pm"))
        ).collect()[0]
        prev_max = stats["_pm"]
    else:
        stats = stats_agg.collect()[0]
        prev_max = None
    if prev_max is not None and stats.mn is not None:
        prev_wm = prev_max - lateness
        if stats.mn < prev_wm:
            raise ValueError(
                f"stream_dedup_ttl_event batch {batch_id} contains "
                f"event_ts {stats.mn}, below the watermark {prev_wm} "
                f"(max event seen {prev_max} - lateness {lateness}): "
                "decisions at or below the watermark are already final. "
                "Raise the lateness bound or repair the source ordering."
            )
    new_max = max(
        v for v in (prev_max, stats.mx) if v is not None
    ) if (prev_max is not None or stats.mx is not None) else None

    pending = _read_latest_rewrite(
        ss, f"{table_path}/pending", batch_id, TTL_EVENT_PENDING_SCHEMA
    )
    allr = b.select(
        "doc_id", "text", "lang", "source", "n_chars", "event_ts", "h"
    )
    if pending is not None:
        allr = allr.unionByName(
            pending.select(
                "doc_id", "text", "lang", "source", "n_chars", "event_ts", "h"
            )
        )
    new_wm = None if new_max is None else new_max - lateness
    final = allr.filter(F.col("event_ts") <= F.lit(new_wm)) if new_wm is not None else allr.limit(0)
    still = allr.filter(F.col("event_ts") > F.lit(new_wm)) if new_wm is not None else allr

    state = _read_state(
        ss,
        f"{table_path}/state",
        batch_id,
        TTL_EVENT_STATE_SCHEMA,
        ["h", "last_event"],
    )
    fronts = (
        state.groupBy("h").agg(F.max("last_event").alias("_arr"))
        if state is not None
        else None
    )
    # materialized once: the reduce feeds the admit chain AND the
    # state-delta write (the arrival sink's rule). surv and still each
    # feed exactly ONE write below, so they stay lazy — their writes
    # materialize them, and every tree they read (state/pending dirs ≠
    # this batch's own output dirs; sweeps only run at listing time or
    # after the writes) is still present when the writes execute.
    reduced = _ttl_reduce(final, "event_ts").localCheckpoint()
    surv = _ttl_admit(reduced, fronts, ttl)
    surv.select(
        F.col("_p.doc_id").alias("doc_id"),
        F.col("_p.text").alias("text"),
        F.col("_p.lang").alias("lang"),
        F.col("_p.source").alias("source"),
        F.col("_p.n_chars").alias("n_chars"),
        F.col("_arr").alias("event_ts"),
    ).write.mode("overwrite").parquet(f"{table_path}/docs/batch={batch_id}")
    reduced.groupBy("h").agg(F.max("_arr").alias("last_event")).write.mode(
        "overwrite"
    ).parquet(f"{table_path}/state/batch={batch_id}")
    ss.range(1).select(
        F.lit(new_max).cast("long").alias("max_event")
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{table_path}/wm/batch={batch_id}"
    )
    still.write.mode("overwrite").parquet(
        f"{table_path}/pending/batch={batch_id}"
    )

    def _fold(df: DataFrame) -> DataFrame:
        agg = df.groupBy("h").agg(F.max("last_event").alias("last_event"))
        if new_wm is None:
            return agg
        # exact expiry: every future finalized event is ≥ the current
        # watermark, so a key whose last finalized event is > ttl below
        # it can only ever produce gap > ttl — same as its absence
        return agg.filter(F.col("last_event") >= new_wm - ttl)

    _maybe_compact(
        ss,
        f"{table_path}/state",
        batch_id,
        compact_every,
        TTL_EVENT_STATE_SCHEMA,
        fold=_fold,
    )
    _maybe_compact(
        ss,
        f"{table_path}/wm",
        batch_id,
        compact_every,
        TTL_EVENT_WM_SCHEMA,
        fold=lambda df: df.agg(F.max("max_event").alias("max_event")),
    )


def flush_dedup_ttl_event(
    spark: SparkSession, table_path: str, ttl: int
) -> int:
    """Terminal close of an event-time TTL dedup table: finalize every
    still-pending row as if the watermark advanced past everything —
    the end-of-stream flush a drained backfill (or an end-of-day close)
    needs before the drained docs tree can equal the batch operator
    over all staged rows. Writes under the reserved
    ``TTL_EVENT_FLUSH_ID`` and empties the pending buffer; idempotent
    (a re-run recomputes from the same pre-flush trees — the flush's
    own directories are excluded from its reads — and overwrites the
    identical output).
    TERMINAL by contract: do not feed more batches into the same
    table_path after flushing — their decisions could no longer be
    ordered against the flushed ones. Returns rows flushed."""
    pending = _read_latest_rewrite(
        spark, f"{table_path}/pending", TTL_EVENT_FLUSH_ID,
        TTL_EVENT_PENDING_SCHEMA,
    )
    n = 0 if pending is None else pending.count()
    if n:
        state = _read_state(
            spark,
            f"{table_path}/state",
            TTL_EVENT_FLUSH_ID,
            TTL_EVENT_STATE_SCHEMA,
            ["h", "last_event"],
        )
        fronts = (
            state.groupBy("h").agg(F.max("last_event").alias("_arr"))
            if state is not None
            else None
        )
        # single consumer (the docs write): materialized by the write
        # itself; it reads only pending/state dirs the flush never
        # overwrites (the flush's own reserved id is excluded)
        surv = _ttl_admit(_ttl_reduce(pending, "event_ts"), fronts, ttl)
        surv.select(
            F.col("_p.doc_id").alias("doc_id"),
            F.col("_p.text").alias("text"),
            F.col("_p.lang").alias("lang"),
            F.col("_p.source").alias("source"),
            F.col("_p.n_chars").alias("n_chars"),
            F.col("_arr").alias("event_ts"),
        ).write.mode("overwrite").parquet(
            f"{table_path}/docs/batch={TTL_EVENT_FLUSH_ID}"
        )
    spark.createDataFrame([], TTL_EVENT_PENDING_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{table_path}/pending/batch={TTL_EVENT_FLUSH_ID}")
    return n


def stream_dedup_ttl_event(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    ttl: int,
    lateness: int,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming EVENT-TIME TTL dedup — :func:`stream_dedup_ttl`'s
    re-crawl twin: the horizon is measured on ``event_ts`` (when the
    content was seen by the crawler), not arrival ticks, so events may
    arrive out of order within a ``lateness`` bound and the rule still
    matches ``dedup.dedup_ttl(staged, ttl, arrival="event_ts")`` over
    everything that arrived — which is why ``dedup_ttl_sql`` with
    ``tick="event_ts"`` is this sink's oracle after a drain +
    :func:`flush_dedup_ttl_event`.

    Mechanics per micro-batch in :func:`dedup_ttl_event_batch`
    (watermark = max event seen - lateness; buffer above it, finalize
    below it through the shared tick-reduce + epoch-salt admit chain;
    refuse rows below the previous watermark loudly). State is bounded
    twice over: the pending buffer by lateness × arrival rate, the
    per-fingerprint last-event table by the ttl horizon at every fold
    — an unbounded stream carries O(horizon + lateness window)."""
    reader = spark.readStream.schema(DOCS_EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        dedup_ttl_event_batch(
            batch, batch_id, table_path, ttl, lateness, compact_every
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_near_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_width: int | None = 64,
    hash_family: str = "portable",
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of :func:`stream_dedup_near` (module-level so
    the replay path is directly testable, like merge_manifest_batch).
    Every state read excludes ``batch=<this batch_id>``: a replayed
    batch's prior attempt already wrote its own partitions, and reading
    them back would double the batch's sketches in the verify union
    (duplicate pair rows) and double-count its enrollment into the
    bucket occupancy (evicting already-enrolled docs under the cap) —
    the exclusion makes the recompute run against exactly the
    pre-batch state, so the overwrite is idempotent.

    State-read scale shape (the two r11-verdict fixes): the bands state
    is written ``bucket=<b>/``-partitioned (a hash bucket of
    (band, bhash), :func:`_band_bucket`), and the read filters on the
    buckets THIS batch's arrivals land in — so a micro-batch lists and
    scans only its touched bucket directories, not the whole routing
    table. Both state trees compact into a snapshot every
    ``compact_every`` batches (module comment above STATE_BUCKETS), so
    per-batch directory count stays bounded over stream lifetime."""
    from pyspark.sql.window import Window

    from tiny_md_hbase_spark.operators.dedup import (
        _banded_from_hs,
        _hashed_shingles,
    )

    ss = batch.sparkSession
    hs_new = _hashed_shingles(batch, n, hash_family).localCheckpoint()
    # banded_new feeds the enrollment write AND the candidate join —
    # checkpoint so the 16-permutation band projection runs once
    banded_new = _banded_from_hs(hs_new, num_hashes, bands).localCheckpoint()
    bands_path = f"{table_path}/bands"
    hs_path = f"{table_path}/hs"
    # the buckets this batch's arrivals touch: state rows outside them
    # cannot share a (band, bhash) key with any arrival, so the state
    # read prunes to these directories at listing time. Bounded
    # metadata collect — at most STATE_BUCKETS ints.
    touched = [
        r.bucket
        for r in banded_new.select(_band_bucket().alias("bucket"))
        .distinct()
        .collect()
    ]
    state_bands = _read_state(
        ss,
        bands_path,
        batch_id,
        BANDS_STATE_SCHEMA,
        ["doc_id", "band", "bhash"],
        bucket_in=touched,
    )
    state_hs = _read_state(
        ss, hs_path, batch_id, HS_STATE_SCHEMA, ["doc_id", "hs"]
    )

    # enrollment: new rows rank behind the bucket's current occupancy
    # (within-batch ties ordered by doc_id) and enroll only while the
    # bucket has room
    if max_bucket_width is None:
        stored_new = banded_new
    else:
        w = Window.partitionBy("band", "bhash").orderBy("doc_id")
        rn = banded_new.withColumn("rn", F.row_number().over(w))
        if state_bands is not None:
            # count occupancy ONLY for buckets this batch lands in (a
            # left-semi prune before the aggregate): counting the whole
            # state every batch would make each micro-batch pay a
            # full-state shuffle — the O(batch x colliding-state)
            # claim, kept honest
            touched_state = state_bands.join(
                banded_new.select("band", "bhash").distinct(),
                ["band", "bhash"],
                "left_semi",
            )
            occ = touched_state.groupBy("band", "bhash").agg(
                F.count(F.lit(1)).alias("occ")
            )
            rn = rn.join(occ, ["band", "bhash"], "left").withColumn(
                "rn", F.col("rn") + F.coalesce("occ", F.lit(0))
            )
        # materialized: its plan reads bands_path (the occupancy
        # join), which the sink overwrites below
        stored_new = rn.filter(F.col("rn") <= max_bucket_width).select(
            "doc_id", "band", "bhash"
        ).localCheckpoint()
    stored = (
        stored_new
        if state_bands is None
        else state_bands.unionByName(stored_new)
    )

    # candidates: stored x ARRIVING on the band key (the arriving side
    # probes even when its own enrollment was capped), then cross-band
    # dedup; least/greatest so a pair is one row no matter which side
    # arrived later
    cand = (
        stored.alias("a")
        .join(banded_new.alias("b"), ["band", "bhash"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hs_all = hs_new if state_hs is None else state_hs.unionByName(hs_new)
    pairs = cand.join(
        hs_all.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
        "doc_a",
    ).join(
        hs_all.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.size("hs_a") + F.size("hs_b") - inter
    jac = inter / union
    out = (
        pairs.filter(jac >= jaccard_threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .localCheckpoint()  # materialize BEFORE the state writes
    )
    # EXACTLY-ONCE state on plain parquet: each table is a batch=<id>
    # partition tree and every write OVERWRITES this batch's own
    # directory — combined with the own-batch exclusion above, a
    # replayed batch rewrites identical content instead of appending
    # duplicates
    out.write.mode("overwrite").parquet(f"{table_path}/pairs/batch={batch_id}")
    # bands state is bucket-partitioned for listing-level pruning (see
    # the read above); repartition on the bucket key first so each batch
    # directory holds one file per non-empty bucket, not tasks x buckets
    stored_new.withColumn("bucket", _band_bucket()).repartition(
        "bucket"
    ).write.mode("overwrite").partitionBy("bucket").parquet(
        f"{bands_path}/batch={batch_id}"
    )
    # persist sketches only for docs that ENROLLED in >= 1 bucket: a
    # doc capped out of every band can never be the stored side of a
    # future pair, so its hs row would be dead state the hs_all union
    # re-reads every batch (this batch's verification used the
    # in-memory hs_new either way)
    hs_new.join(
        stored_new.select("doc_id").distinct(), "doc_id", "left_semi"
    ).write.mode("overwrite").parquet(f"{hs_path}/batch={batch_id}")
    _maybe_compact(
        ss,
        bands_path,
        batch_id,
        compact_every,
        BANDS_STATE_SCHEMA,
        partition_col="bucket",
    )
    _maybe_compact(ss, hs_path, batch_id, compact_every, HS_STATE_SCHEMA)


def stream_dedup_near(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    jaccard_threshold: float = 0.8,
    max_bucket_width: int | None = 64,
    hash_family: str = "portable",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming NEAR-duplicate detection — the streaming twin of
    ``dedup.dedup_minhash_portable``: route-on-arrival MinHash-LSH.
    Each micro-batch computes the portable hashed-shingle sketch and
    min-hash band keys for the arriving documents, joins the arrivals
    against the persisted band-bucket state (plus each other), verifies
    candidates with the exact hashed-set Jaccard, appends surviving
    pairs to ``{table_path}/pairs``, and extends the state tables.

    State = ``{table_path}/bands`` (band, bhash, doc_id — the LSH
    routing table) and ``{table_path}/hs`` (doc_id, hs — the 8-byte-
    per-shingle sketch used for verification). Arriving TEXT is read
    once, ever: per batch the work is O(batch x colliding-state), and
    what persists is hashes, never text — at 100 TB the state is a few
    % of corpus bytes and the candidate join touches only the buckets
    the batch lands in.

    ``max_bucket_width`` caps state growth per band bucket: a bucket
    already holding ``W`` stored docs accepts no more (keep-FIRST in
    arrival order — the streaming analog of the batch cap; arriving
    docs still probe full buckets, they just stop enrolling). This
    bounds the giant-family quadratic hazard exactly like the batch
    guards: a pathological all-identical stream emits at most
    ``W x arrivals`` pairs, not arrivals². With doc_id-ordered arrival
    the drained pair set equals ``dedup.stream_dedup_near_sql``'s
    row_number-capped batch form (oracle-checked); under unordered
    arrival the PAIR SET for uncapped runs is still arrival-order-free
    (every pair is found when its later side arrives), only WHICH docs
    enroll in a full bucket varies.

    ``hash_family`` picks the shingle hash: ``'portable'`` (default)
    is the per-character polynomial fold the DuckDB twin reproduces
    bit-for-bit — the oracle-checkable form; ``'xxhash64'`` is the
    production path (one JVM hash per shingle, no interpreted fold) —
    the same split ``dedup_minhash`` vs ``dedup_minhash_portable``
    make, with a cross-family recall test pinning their agreement.

    The persisted state carries a ``_params`` marker (num_hashes,
    bands, n, jaccard_threshold, hash_family): a later drain into the
    same ``table_path`` with different parameters would silently mix
    incompatible hash domains (old bhash values never matching the new
    family's keys — pairs just missing, no error), so a mismatch raises
    loudly instead. The bucket cap is deliberately NOT in the marker:
    it bounds state growth and may be tuned between runs.

    Replay semantics: EXACTLY-ONCE on plain parquet. The pairs/bands/hs
    tables are ``batch=<id>`` partition trees and every batch writes by
    OVERWRITING its own partition directory, so foreachBatch's replay
    of the last uncommitted batch recomputes from the same pre-batch
    state and rewrites identical content instead of appending
    duplicates — the at-least-once window a naive append sink carries
    is closed structurally (same pattern as :func:`stream_dedup_docs`)."""
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    params = [
        ("num_hashes", num_hashes, "int"),
        ("bands", bands, "int"),
        ("n", n, "int"),
        ("jaccard_threshold", float(jaccard_threshold), "double"),
        ("hash_family", hash_family, "string"),
        # the bands state's directory-bucket modulus: state written
        # under one modulus and read under another would prune to the
        # wrong bucket directories (pairs silently missing, no error)
        ("state_buckets", STATE_BUCKETS, "int"),
    ]

    def _check_params(ss: SparkSession) -> None:
        ppath = f"{table_path}/_params"
        if not fs_exists(ss, ppath):
            write_meta_row(ss, ppath, params)
            return
        meta = ss.read.parquet(ppath).collect()[0]
        got = [(nm, meta[nm]) for nm, _v, _t in params]
        want = [(nm, v) for nm, v, _t in params]
        if got != want:
            raise ValueError(
                f"stream_dedup_near state at {table_path} was built with "
                f"{got}; this drain passed {want} — mixing hash domains "
                "would silently miss pairs. Use a fresh table_path or the "
                "original parameters."
            )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        _check_params(batch.sparkSession)
        dedup_near_batch(
            batch,
            batch_id,
            table_path,
            num_hashes=num_hashes,
            bands=bands,
            n=n,
            jaccard_threshold=jaccard_threshold,
            max_bucket_width=max_bucket_width,
            hash_family=hash_family,
            compact_every=compact_every,
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _latest_state_dir(
    ss: SparkSession, spath: str, exclude_batch: int | None = None
) -> str | None:
    """The highest-numbered ``batch=<id>`` directory under a sampler
    state path, optionally excluding one id (a replayed batch must not
    read its own prior attempt). Monotone top-k makes the latest prior
    directory EXACTLY the top-(k+1) of all prior arrivals, so nothing
    ever needs to read (or keep) more than one directory — per-batch
    work stays O(k) regardless of stream length, and old directories
    are deletable housekeeping (never consulted again except as the
    replay fallback one step back). Listing runs through the Hadoop
    FileSystem API (module docstring), so any scheme works."""
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in fs_listdir(ss, spath)
        if d.startswith("batch=") and d.split("=", 1)[1].lstrip("-").isdigit()
    )
    if exclude_batch is not None:
        ids = [i for i in ids if i != exclude_batch]
    return f"{spath}/batch={ids[-1]}" if ids else None


def _prune_sampler_state(ss: SparkSession, spath: str, batch_id: int) -> None:
    """Sampler-state housekeeping shared by the global and stratified
    samplers: monotone top-k means only the LATEST directory is ever
    consulted again (plus one step back as the replay fallback), so
    keep this batch and the newest prior directory and delete the rest
    — the tree stays O(1) directories over stream lifetime instead of
    one per batch."""
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in fs_listdir(ss, spath)
        if d.startswith("batch=") and d.split("=", 1)[1].lstrip("-").isdigit()
    )
    prior_ids = sorted(i for i in ids if i != batch_id)[-1:]
    keep = {batch_id, *prior_ids}
    for i in ids:
        if i not in keep:
            fs_rmtree(ss, f"{spath}/batch={i}")


def sample_topk_batch(
    batch: DataFrame, batch_id: int, table_path: str, k: int = 500
) -> None:
    """One micro-batch of :func:`stream_sample` (module-level for
    direct replay testing): the batch's DLT priorities (DISTINCT — an
    at-least-once source may re-deliver identical rows, and two copies
    inside one batch would burn two of the k+1 slots and permanently
    evict a true member) merge with the LATEST prior state directory
    and the new top-(k+1) OVERWRITES this batch's own
    ``state/batch=<id>`` directory.

    Replay-safe by the same two rules as the dedup sinks (own-batch
    exclusion + per-batch overwrite), and reading only the latest prior
    directory is EXACT because top-k under inserts is monotone: any row
    of the true top-(k+1) of all arrivals so far survived every
    intermediate top-(k+1), so the latest prior state already holds the
    full top-(k+1) of everything before this batch.

    Contract: ``doc_id`` is the corpus primary key. Re-delivered
    IDENTICAL rows are absorbed exactly (distinct); two different
    documents sharing a doc_id are upstream corruption this sampler
    (like the batch op) cannot detect. A ``_params`` marker stores k;
    a re-drain or read with a different k fails loudly instead of
    silently returning a sample computed under another k."""
    from tiny_md_hbase_spark.operators.text import dlt_priorities
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    ss = batch.sparkSession
    _check_sample_k(ss, table_path, k, write_meta_row)
    spath = f"{table_path}/state"
    cand = (
        dlt_priorities(batch)
        .distinct()
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .limit(k + 1)
    )
    prior_dir = _latest_state_dir(ss, spath, exclude_batch=batch_id)
    if prior_dir is not None:
        prior = ss.read.parquet(prior_dir).select(
            "doc_id", "source", "weight", "q"
        )
        # distinct AFTER the merge too: a row re-delivered in a LATER
        # batch is already in the prior state, and two copies across
        # the union would burn two of the k+1 slots and permanently
        # evict a true top-(k+1) member (the in-batch distinct above
        # only absorbs same-batch redelivery)
        cand = (
            prior.unionByName(cand)
            .distinct()
            .orderBy(F.desc("q"), F.asc("doc_id"))
            .limit(k + 1)
        )
    # single consumer: the write below materializes cand itself. It
    # reads only the prior state dir (≠ this batch's own output dir;
    # pruning runs after the write), so no checkpoint barrier is needed.
    cand.write.mode("overwrite").parquet(f"{spath}/batch={batch_id}")
    _prune_sampler_state(ss, spath, batch_id)


def _check_sample_k(ss: SparkSession, table_path: str, k: int, write_meta_row) -> None:
    ppath = f"{table_path}/_params"
    if not fs_exists(ss, ppath):
        write_meta_row(ss, ppath, [("k", k, "int")])
        return
    stored = ss.read.parquet(ppath).collect()[0]["k"]
    if stored != k:
        raise ValueError(
            f"stream_sample state at {table_path} was built with k={stored}; "
            f"this call passed k={k} — a top-({stored}+1) state cannot answer "
            f"a k={k} sample. Use a fresh table_path or k={stored}."
        )


def stream_sample(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    k: int = 500,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming weight-proportional corpus sampling — the
    route-on-arrival twin of ``text.corpus_weighted_sample`` (DLT
    priority sampling): maintain the top-(k+1) DLT priorities across
    arriving document batches with k-BOUNDED state, so after any drain
    :func:`read_stream_sample` returns EXACTLY what the batch sampler
    would return over everything that arrived (same priorities, same
    tau, same unbiased estimator — the driver oracle is literally
    ``corpus_weighted_sample_sql``).

    Scale shape: per batch ONE narrow projection over the arrivals
    (TakeOrderedAndProject keeps k+1 rows per partition) merged with a
    ≤(k+1)-row state — the 100 TB stream is sampled with state
    independent of stream length, and arriving text is never read at
    all (priorities derive from doc_id and n_chars). Exactly-once by
    the dedup sinks' pattern: per-batch overwrite partitions +
    own-batch exclusion on the state read."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        sample_topk_batch(batch, batch_id, table_path, k)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_sample(
    spark: SparkSession, table_path: str, k: int = 500
) -> DataFrame:
    """The drained sample: the LATEST state directory already IS the
    top-(k+1) of everything that arrived (monotone top-k — see
    :func:`sample_topk_batch`); apply the batch sampler's
    tau/estimator tail to it, yielding the identical (doc_id, source,
    weight, priority, est) relation ``corpus_weighted_sample`` computes
    in one shot. A never-drained (or empty-source) table returns the
    empty relation, exactly like the batch op on an empty corpus; a k
    differing from the drain's stored k fails loudly."""
    from tiny_md_hbase_spark.operators.text import dlt_finish
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    if fs_exists(spark, f"{table_path}/_params"):
        _check_sample_k(spark, table_path, k, write_meta_row)
    latest = _latest_state_dir(spark, f"{table_path}/state")
    if latest is None:
        top = spark.createDataFrame(
            [], "doc_id long, source string, weight long, q double"
        )
    else:
        top = spark.read.parquet(latest).select(
            "doc_id", "source", "weight", "q"
        )
    return dlt_finish(top, k)


def _quota_items(quotas) -> list[tuple[str, int]]:
    """Normalize a quotas relation/dict to sorted (source, quota) pairs.
    Mixture specs are SOURCE-sized metadata (dozens of rows at any
    corpus scale), so the collect is bounded by parameters, not data."""
    if isinstance(quotas, dict):
        items = sorted((s, int(q)) for s, q in quotas.items())
    else:
        items = sorted(
            (r[0], int(r[1])) for r in quotas.select("source", "quota").collect()
        )
    if any(q < 0 for _s, q in items):
        raise ValueError(f"negative quota in {items}")
    return items


def _quota_col(items: list[tuple[str, int]]) -> Column:
    """Per-source quota as a map-literal lookup on ``source`` — NULL
    (hence dropped by every ``<= quota`` filter) for sources outside
    the mixture spec, matching the batch operator's inner join."""
    pairs = [x for s, q in items for x in (F.lit(s), F.lit(int(q)))]
    return F.element_at(F.create_map(*pairs), F.col("source"))


def _quota_fp(items: list[tuple[str, int]]) -> int:
    """Deterministic 63-bit fingerprint of a quota spec (the _params
    marker payload: state drawn under one spec must not be read under
    another — per-source taus would silently disagree)."""
    import hashlib

    h = hashlib.sha256(repr(items).encode()).digest()
    return int.from_bytes(h[:8], "big") % (2**63)


def _check_stratified_params(
    ss: SparkSession, table_path: str, k: int, quota_fp: int | None, write_meta_row
) -> None:
    """The stratified sampler's _params guard: constant-k state stores
    {k}; quota-driven state stores {k: -1, quota_fp} — any cross-mode
    or cross-spec mix fails loudly instead of returning a sample drawn
    under different per-source budgets."""
    ppath = f"{table_path}/_params"
    if quota_fp is None:
        want = [("k", k, "int")]
    else:
        want = [("k", -1, "int"), ("quota_fp", quota_fp, "long")]
    if not fs_exists(ss, ppath):
        write_meta_row(ss, ppath, want)
        return
    stored = ss.read.parquet(ppath).collect()[0].asDict()
    want_d = {nm: v for nm, v, _t in want}
    if stored != want_d:
        raise ValueError(
            f"stream_sample_stratified state at {table_path} was built "
            f"with params {stored}; this call passed {want_d} — a state "
            "drawn under one k/quota spec cannot answer another. Use a "
            "fresh table_path or the original parameters."
        )


def sample_stratified_batch(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    k: int = 10,
    quotas=None,
) -> None:
    """One micro-batch of :func:`stream_sample_stratified`: the batch's
    per-source top-(k_s+1) DLT priorities (distinct — redelivery absorbs
    within AND across batches, as in :func:`sample_topk_batch`) merge
    with the latest prior state directory and the new per-source
    top-(k_s+1) overwrites ``state/batch=<id>``. k_s is the constant
    ``k`` by default, or the per-source quota when a ``quotas``
    relation/dict is given (the streaming twin of
    ``text.corpus_stratified_quota`` — state bound Σ(k_s+1) rows).

    The monotonicity argument is :func:`sample_topk_batch`'s, applied
    per stratum with its own k_s: any row of source ``s``'s true
    top-(k_s+1) over all arrivals survived every intermediate
    per-source top-(k_s+1), so the latest prior directory already holds
    the full per-source state — one directory read per batch,
    independent of stream length. The batch-side top goes through
    skew_safe_topk at the max quota (a giant single-source batch must
    not funnel through one window task); the merge window's input is
    state-bounded."""
    from pyspark.sql.window import Window

    from tiny_md_hbase_spark.operators.text import (
        dlt_priorities,
        skew_safe_topk,
    )
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    ss = batch.sparkSession
    if quotas is None:
        _check_stratified_params(ss, table_path, k, None, write_meta_row)
        kq = F.lit(k)
        kmax = k
    else:
        items = _quota_items(quotas)
        _check_stratified_params(
            ss, table_path, k, _quota_fp(items), write_meta_row
        )
        kq = _quota_col(items)
        kmax = max((q for _s, q in items), default=0)
        if kmax <= 0:
            raise ValueError(f"quota spec allocates nothing: {items}")
    spath = f"{table_path}/state"
    cand = (
        skew_safe_topk(
            dlt_priorities(batch).distinct(),
            ["source"],
            [F.desc("q"), F.asc("doc_id")],
            kmax + 1,
            F.pmod(F.xxhash64("doc_id"), F.lit(8)),
            rank_name="_rn",
        )
        .filter(F.col("_rn") <= kq + 1)
        .drop("_rn")
    )
    prior_dir = _latest_state_dir(ss, spath, exclude_batch=batch_id)
    if prior_dir is not None:
        prior = ss.read.parquet(prior_dir).select(
            "doc_id", "source", "weight", "q"
        )
        cand = prior.unionByName(cand).distinct()
    # re-top per source over the bounded merge (≤ 2 x Σ(k_s+1) rows by
    # construction — a plain per-source window is fine here)
    worder = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    cand = (
        cand.withColumn("_rn", F.row_number().over(worder))
        .filter(F.col("_rn") <= kq + 1)
        .drop("_rn")
    )
    # single consumer: the write below materializes cand itself (reads
    # only the prior state dir ≠ this batch's own output dir; pruning
    # runs after the write) — no checkpoint barrier needed.
    cand.write.mode("overwrite").parquet(f"{spath}/batch={batch_id}")
    _prune_sampler_state(ss, spath, batch_id)


def stream_sample_stratified(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    k: int = 10,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    quotas=None,
) -> StreamingQuery:
    """Streaming PER-SOURCE weight-proportional sampling — the
    route-on-arrival twin of ``text.corpus_stratified_weighted``: an
    independent k-document DLT priority sample per source, maintained
    across arriving batches with state bounded by n_sources x (k+1)
    rows. After any drain :func:`read_stream_sample_stratified` equals
    the batch operator over everything that arrived (same per-source
    priorities, taus, estimators — the driver oracle is
    ``corpus_stratified_weighted_sql`` verbatim). Exactly-once by the
    sampler pattern: per-batch overwrite + own-batch exclusion +
    latest-directory monotone state.

    ``quotas`` (a (source, quota) relation or dict) switches the
    sampler to QUOTA-DRIVEN mode — per-source budgets k_s instead of
    one constant, the streaming twin of
    ``text.corpus_stratified_quota`` (e.g. feed it
    ``corpus_temperature``'s output): state bound becomes Σ(k_s+1)
    rows and the drain must be read back with the same quotas. The
    spec is fingerprinted into the _params marker, so a drain or read
    under a different spec fails loudly."""
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    # normalize once, driver-side: the foreachBatch closure must not
    # capture a DataFrame whose lineage could lapse mid-stream
    quota_items = None if quotas is None else _quota_items(quotas)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        sample_stratified_batch(
            batch,
            batch_id,
            table_path,
            k,
            quotas=dict(quota_items) if quota_items is not None else None,
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_sample_stratified(
    spark: SparkSession, table_path: str, k: int = 10, quotas=None
) -> DataFrame:
    """The drained per-source sample: apply the batch operator's
    per-source tau/estimator tail to the latest state directory (which
    IS the per-source top-(k_s+1) of everything arrived — monotone per
    stratum). Pass the drain's ``quotas`` to read a quota-driven drain
    (tau and the cut compare against each source's own k_s). Empty
    relation when never drained; a mismatched k or quota spec fails
    loudly via the stored ``_params`` marker."""
    from pyspark.sql.window import Window

    from tiny_md_hbase_spark.sources.writer import write_meta_row

    if quotas is None:
        kq = F.lit(k)
        fp = None
    else:
        items = _quota_items(quotas)
        kq = _quota_col(items)
        fp = _quota_fp(items)
    if fs_exists(spark, f"{table_path}/_params"):
        _check_stratified_params(spark, table_path, k, fp, write_meta_row)
    latest = _latest_state_dir(spark, f"{table_path}/state")
    if latest is None:
        top = spark.createDataFrame(
            [], "doc_id long, source string, weight long, q double"
        )
    else:
        top = spark.read.parquet(latest).select(
            "doc_id", "source", "weight", "q"
        )
    wsrc = Window.partitionBy("source")
    worder = Window.partitionBy("source").orderBy(F.desc("q"), F.asc("doc_id"))
    tau = F.when(
        F.count(F.lit(1)).over(wsrc) == kq + 1, F.min("q").over(wsrc)
    ).otherwise(F.lit(0.0))
    return (
        top.select(
            "doc_id",
            "source",
            "weight",
            "q",
            F.row_number().over(worder).alias("_rn"),
            tau.alias("_tau"),
        )
        .filter(F.col("_rn") <= kq)
        .select(
            "doc_id",
            "source",
            "weight",
            F.col("q").alias("priority"),
            F.greatest(F.col("weight").cast("double"), F.col("_tau")).alias(
                "est"
            ),
        )
        .orderBy("source", F.desc("priority"), F.asc("doc_id"))
    )


def decontaminate_batch_hits(
    batch: DataFrame,
    batch_id: int,
    table_path: str,
    gram_n: int = 8,
    broadcast_eval: bool = True,
) -> None:
    """One micro-batch of :func:`stream_decontaminate`: explode the
    arrivals' distinct ``gram_n``-token n-grams, join the persisted
    eval-gram table, count shared grams per (train, eval) pair, and
    OVERWRITE ``hits/batch=<id>``. STATELESS across batches (the eval
    set is fixed for the stream's lifetime), so replay idempotence
    needs only the per-batch overwrite — there is no state read to
    exclude. ``broadcast_eval`` picks the join strategy: True (the
    normal case — eval suites are MB-scale) ships the gram table to
    every executor so the arriving corpus never shuffles; False (an
    eval side too big to broadcast, decided once at stream start by
    :func:`stream_decontaminate`) falls back to a shuffle join — the
    batch pays one exchange on ``g`` but cannot OOM the executors."""
    from tiny_md_hbase_spark.operators.dedup import shingles

    ss = batch.sparkSession
    eval_g = ss.read.parquet(f"{table_path}/_eval_grams")
    if broadcast_eval:
        eval_g = F.broadcast(eval_g)
    hits = (
        batch.select("doc_id", F.explode(shingles("text", gram_n)).alias("g"))
        .join(eval_g, "g")
        .groupBy(F.col("doc_id").alias("train_doc_id"), "eval_doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )
    hits.write.mode("overwrite").parquet(f"{table_path}/hits/batch={batch_id}")


# above this many bytes of materialized eval grams the per-batch join
# falls back from broadcast to shuffle (autoBroadcastJoinThreshold-shaped;
# real eval suites are a few hundred MB of grams at most)
EVAL_BROADCAST_MAX_BYTES = 256 << 20


def stream_decontaminate(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    eval_docs: DataFrame,
    gram_n: int = 8,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    eval_broadcast_max_bytes: int = EVAL_BROADCAST_MAX_BYTES,
) -> StreamingQuery:
    """Streaming benchmark decontamination — the route-on-arrival twin
    of ``text.decontaminate``: every arriving training document is
    checked against a FIXED held-out eval set (``eval_docs``) for any
    shared ``gram_n``-token n-gram, the canonical pre-training hygiene
    pass applied at ingest time instead of as a post-hoc sweep (a hit
    found at arrival can quarantine the document before it ever lands
    in the training mix).

    The eval side is materialized ONCE at stream start —
    ``{table_path}/_eval_grams`` holds (eval_doc_id, g) for the eval
    set's distinct grams, written atomically (mode=overwrite, gated on
    ``_SUCCESS`` so a crash mid-materialization is redone on restart
    instead of silently reusing a partial gram table) — and joined per
    batch. The join strategy is decided HERE, once, from the measured
    size of the materialized gram table: at or below
    ``eval_broadcast_max_bytes`` (default 256 MiB — every real eval
    suite) it is broadcast, so the arriving corpus never shuffles and
    per-batch work is O(batch grams); above it (someone passed a corpus
    as ``eval_docs``) every batch degrades to a shuffle join on ``g``
    instead of OOMing the executors. There is NO cross-batch state at
    all (the eval set is static; a changed eval set is a new stream).
    At 100 TB that is exactly the batch operator's scale story,
    amortized per arrival. Hits append as exactly-once
    ``hits/batch=<id>`` overwrite partitions.

    PRECONDITION for batch equality: the drained hit set over a staged
    corpus equals the batch operator (and ``decontaminate_sql``)
    verbatim only when the staged corpus EXCLUDES the eval documents
    themselves — an eval document arriving in the stream self-hits
    (every gram shared with itself), whereas the batch operator is
    called with disjoint train/eval relations. Feed the stream the
    training side only, or anti-join arrivals on the eval doc_id set
    upstream if the two can overlap."""
    from tiny_md_hbase_spark.operators.dedup import shingles

    eval_path = f"{table_path}/_eval_grams"
    if not fs_exists(spark, f"{eval_path}/_SUCCESS"):
        (
            eval_docs.select(
                F.col("doc_id").alias("eval_doc_id"),
                F.explode(shingles("text", gram_n)).alias("g"),
            )
            .distinct()
            .write.mode("overwrite")
            .parquet(eval_path)
        )
    broadcast_eval = fs_du(spark, eval_path) <= eval_broadcast_max_bytes

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        decontaminate_batch_hits(
            batch, batch_id, table_path, gram_n, broadcast_eval=broadcast_eval
        )

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_manifest(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    n_shards: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming maintenance of the per-shard corpus integrity manifest
    — the incremental twin of ``text.corpus_manifest``, proving that
    manifest's additive design pays off: because the checksum is a SUM
    mod M, merging a batch delta is exact —
    ``(a + b) mod M = ((a mod M) + (b mod M)) mod M`` — so the manifest
    maintained incrementally across micro-batches is BIT-IDENTICAL to
    recomputing it over the full corpus (the driver oracle asserts
    exactly that). Counts and token sums add, doc_id spans min/max
    combine; per batch the work is O(batch) plus a merge over the
    n_shards-row persisted manifest — arriving text is read once, ever.

    Failure semantics: the merge is REPLAY-IDEMPOTENT. ``foreachBatch``
    replays the last uncommitted batch on restart (at-least-once), and a
    naively re-applied delta would double-count into a table whose whole
    purpose is bit-exact auditing — so every manifest row carries the
    ``last_batch_id`` it was merged up to, and a batch whose id is
    already ≤ that stamp is skipped. The overwrite itself happens after
    materialization (a localCheckpoint), so the read-modify-write never
    reads a half-replaced directory; foreachBatch calls are serial, so
    the stamp comparison races nothing."""
    from tiny_md_hbase_spark.operators.text import SHUFFLE_SHARDS, corpus_manifest

    shards = n_shards if n_shards is not None else SHUFFLE_SHARDS
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    mpath = f"{table_path}/manifest"

    def _sink(batch: DataFrame, batch_id: int) -> None:
        merge_manifest_batch(batch, batch_id, mpath, shards)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merge_manifest_batch(
    batch: DataFrame, batch_id: int, mpath: str, shards: int
) -> bool:
    """One micro-batch's manifest merge (the :func:`stream_manifest`
    sink body, module-level so the replay path is directly testable).
    Returns False without touching the table when ``batch_id`` is
    already covered by the stored ``last_batch_id`` stamp — the
    replay-idempotence guard; True when the delta was merged."""
    from tiny_md_hbase_spark.operators.text import FINGERPRINT_MOD, corpus_manifest

    delta = corpus_manifest(batch, shards)
    if fs_exists(batch.sparkSession, mpath):
        old = batch.sparkSession.read.parquet(mpath)
        stamp = old.agg(F.max("last_batch_id")).first()[0]
        if stamp is not None and batch_id <= stamp:
            return False  # replayed batch: its delta is already merged
        merged = (
            old.drop("last_batch_id")
            .unionByName(delta)
            .groupBy("shard")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("sum_tokens").alias("sum_tokens"),
                F.min("min_doc_id").alias("min_doc_id"),
                F.max("max_doc_id").alias("max_doc_id"),
                F.pmod(F.sum("checksum"), F.lit(FINGERPRINT_MOD)).alias(
                    "checksum"
                ),
            )
        )
    else:
        merged = delta
    merged = merged.withColumn("last_batch_id", F.lit(batch_id).cast("long"))
    # materialize BEFORE overwriting the table it was read from; the
    # manifest is n_shards rows (16 by default) — coalesce(1) pins it to
    # ONE file so the next trigger's read+stamp probe lists one footer
    # instead of a shuffle-partition fan of tiny files (guide §6; AQE
    # usually coalesces this anyway, the explicit form guarantees it)
    merged.coalesce(1).localCheckpoint().write.mode("overwrite").parquet(mpath)
    return True


EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_ingest_embeddings(
    spark: SparkSession,
    source_dir: str,
    layout_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming embedding ingest into the cluster-partitioned ANN
    layout: each micro-batch routes through
    ``writer.append_embeddings_clustered`` — assignment under the
    layout's STORED fixed centroids, so a batch lands directly in its
    cluster directories with every prior file untouched and nothing
    ever re-clustered. The embedding-space twin of
    :func:`stream_ingest_points`: per-batch cost is O(batch), the
    at-rest layout is identical to a one-shot batch build (asserted in
    tests), and a full-probe search over the drained stream equals
    exact brute-force kNN over everything ingested.

    The layout (with ``_ivf_meta``) must exist before the stream starts
    — create it with ``write_embeddings_clustered`` (possibly on an
    empty relation). Failure semantics: one idempotency gap —
    ``foreachBatch`` replays the last uncommitted batch, and a crash
    mid-append can duplicate its rows (at-least-once); production
    closes this with a transactional table format (the dedup sinks
    close it with batch=<id> overwrite partitions — see
    :func:`stream_dedup_docs` — but here the cluster-partitioned
    directory shape is itself the layout)."""
    from tiny_md_hbase_spark.sources.writer import (
        append_embeddings_clustered,
    )

    # the layout meta is immutable while the stream runs: read it ONCE
    # here, not once per micro-batch inside the sink — including the
    # centroid-family check (appending rows assigned under a different
    # family than the layout's would silently corrupt routing)
    from tiny_md_hbase_spark.sources.writer import IVF_CENTROID_FAMILY

    meta = spark.read.parquet(f"{layout_path}/_ivf_meta").first()
    n_clusters, dim = int(meta.n_clusters), int(meta.dim)
    family = meta.asDict().get("family")
    if family != IVF_CENTROID_FAMILY:
        raise ValueError(
            f"clustered layout at {layout_path} uses centroid family "
            f"{family!r}; the ingest assigns under "
            f"{IVF_CENTROID_FAMILY!r} — rebuild the layout first"
        )

    reader = spark.readStream.schema(EMB_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        # pass the family read above through with (n_clusters, dim) —
        # the append's guard re-checks it on the fast path too
        append_embeddings_clustered(batch, layout_path, n_clusters, dim, family)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- streaming text-index maintenance ---------------------------------------
# The reference maintains its index ON INSERT (notifyInsertion → maySplit,
# Index.java:175-230); the embeddings layout already has that shape here
# (stream_ingest_embeddings routes each batch into the stored layout). This
# is the TEXT side: the inverted/positional indexes were batch-rebuild only
# (writer.py write_inverted_index / write_positional_index), so a perpetual
# ingest + keyword-search user paid a full corpus re-index per refresh.
# stream_index_maintain appends each micro-batch's POSTINGS into the same
# bucket-partitioned layout as delta directories (batch=<id>/bucket=<b> —
# the bands-state tree shape), maintains the _doc_lens side table
# incrementally, and compacts deltas under the write-then-delete/_SUCCESS
# discipline. Appends are purely ADDITIVE because a document's text arrives
# once (replay overwrites its own batch directory), so the union of deltas
# IS the full posting set — no posting-list merge is ever needed.

MAINT_POSTINGS_SCHEMA = (
    "term string, doc_id long, positions array<long>, tf long, bucket int"
)
MAINT_DOC_LENS_SCHEMA = "doc_id long, dl long"


def index_maintain_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    num_buckets: int,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> None:
    """One micro-batch of :func:`stream_index_maintain`: build the
    batch's positional postings (the phrase-capable superset — tf rides
    along, so ONE maintained tree serves keyword, BM25, and phrase
    probes) under the layout's STORED bucket modulus, overwrite them
    into ``postings/batch=<id>/bucket=<b>`` and the batch's token
    counts into ``_doc_lens/batch=<id>``. O(batch) work: only arriving
    text is tokenized, ever.

    Unlike the one-shot builds, a micro-batch stays ONE task per
    touched bucket (``repartition("bucket")`` — the
    append_embeddings_clustered rule: cluster-width salting would
    multiply small files per trigger for no parallelism a batch-sized
    input can use). Both trees compact every ``compact_every`` batches
    via :func:`_maybe_compact` (postings keep their bucket
    subdirectories through the fold, so query-side path pruning is
    identical pre- and post-compaction)."""
    from tiny_md_hbase_spark.operators.text import tokens
    from tiny_md_hbase_spark.sources.writer import build_postings_positional

    ss = batch.sparkSession
    # tokenize the arriving text ONCE (the lowered token array feeds
    # both the postings build and the _doc_lens write — previously two
    # independent tokenize passes over the batch), and skip the
    # builder's salted exchange: the batch-sized stream stays one task
    # per touched bucket, so only the repartition("bucket") below is
    # needed (stacking both shuffled every posting twice). dl =
    # size(lowered toks) = size(raw toks) — transform preserves length,
    # so zero-token documents still land in _doc_lens exactly as the
    # one-shot build writes them.
    toked = batch.select(
        "doc_id",
        F.transform(tokens("text"), lambda t: F.lower(t)).alias("_toks"),
    ).localCheckpoint()
    # bucket_inline: a micro-batch's posting stream is batch-sized, so
    # the per-row bucket fold beats the vocabulary hash-join's three
    # extra exchanges (see build_postings_positional) — the one-shot
    # corpus builds keep the join.
    postings = build_postings_positional(
        toked,
        num_buckets,
        toks_col="_toks",
        repartition_out=False,
        bucket_inline=True,
    )
    postings.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(f"{index_path}/postings/batch={batch_id}")
    toked.select(
        "doc_id", F.size("_toks").cast("long").alias("dl")
    ).write.mode("overwrite").parquet(
        f"{index_path}/_doc_lens/batch={batch_id}"
    )
    _maybe_compact(
        ss,
        f"{index_path}/postings",
        batch_id,
        compact_every,
        MAINT_POSTINGS_SCHEMA,
        partition_col="bucket",
    )
    _maybe_compact(
        ss,
        f"{index_path}/_doc_lens",
        batch_id,
        compact_every,
        MAINT_DOC_LENS_SCHEMA,
    )


def stream_index_maintain(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    num_buckets: int = 16,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int = DEFAULT_COMPACT_EVERY,
) -> StreamingQuery:
    """Streaming incremental maintenance of the text search index — the
    text-side twin of :func:`stream_ingest_embeddings` and the Spark
    form of the reference's insert-time index maintenance
    (``Index.java:175-230``): each arriving micro-batch's postings land
    as additive deltas in the bucket-partitioned layout, so a perpetual
    ingest keeps keyword/BM25/phrase search fresh at O(batch) per
    trigger instead of O(corpus) per rebuild.

    Query the maintained index with :func:`keyword_search_maintained`,
    :func:`keyword_search_bm25_maintained`, and
    :func:`phrase_search_maintained` — each returns exactly what the
    corresponding probe over a FRESH one-shot build
    (``writer.write_positional_index``) of the same drained corpus
    returns, which is why the scan-form oracles serve them verbatim.
    Exactly-once by the sink family's per-batch-overwrite pattern; the
    ``_index_meta`` bucket-modulus marker is written once at stream
    start (``_SUCCESS``-gated, the eval-grams bootstrap discipline)."""
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    meta_path = f"{index_path}/_index_meta"
    if not fs_exists(spark, f"{meta_path}/_SUCCESS"):
        write_meta_row(spark, meta_path, [("num_buckets", num_buckets, "int")])
    else:
        stored = int(spark.read.parquet(meta_path).first().num_buckets)
        if stored != num_buckets:
            # deltas written under one modulus and pruned under another
            # silently miss postings — refuse, like every layout reader
            raise ValueError(
                f"maintained index at {index_path} was built with "
                f"num_buckets={stored}; restart the stream with that "
                f"value (got {num_buckets})"
            )

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)

    def _sink(batch: DataFrame, batch_id: int) -> None:
        index_maintain_batch(batch, batch_id, index_path, num_buckets,
                             compact_every)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def redact_maintained_index(
    spark: SparkSession, index_path: str, doc_ids: list[int]
) -> int:
    """Right-to-be-forgotten for the SEARCH INDEX: redacting a document
    from the corpus (``writer.redact_documents_pk``) is not enough —
    its postings would keep serving its content to keyword/BM25/phrase
    queries. Physically rewriting the posting tree per request would
    touch every bucket the document's terms hash to, so deletion rides
    the shared tombstone family (``writer.append_tombstones`` — the
    same ``_deleted`` side table the ANN layouts use) and every
    maintained reader anti-joins it — postings AND the ``_doc_lens``
    stats, so N/avgdl stop counting the redacted document exactly as a
    fresh build of the redacted corpus would.
    :func:`compact_maintained_index` applies tombstones PHYSICALLY at
    graduation (the static layout never contains them), which is also
    when the debt is paid down — the standard tombstone-then-compact
    delete of every LSM store. Returns the number of newly recorded
    ids."""
    from tiny_md_hbase_spark.sources.writer import append_tombstones

    return append_tombstones(spark, index_path, doc_ids, "doc_id")


def _maintained_tombstones(
    ss: SparkSession, index_path: str
) -> DataFrame | None:
    from tiny_md_hbase_spark.sources.writer import read_tombstones

    return read_tombstones(ss, index_path, "doc_id")


def _anti_tombstones(df: DataFrame, tombs: DataFrame | None) -> DataFrame:
    from tiny_md_hbase_spark.sources.writer import anti_join_tombstones

    return anti_join_tombstones(df, tombs, "doc_id")


_TOMBS_UNREAD = object()  # sentinel: read the tombstone tree internally


def _maintained_postings(
    ss: SparkSession, index_path: str, qs: list[str], tombs=_TOMBS_UNREAD
) -> DataFrame | None:
    """The query-side read of a maintained index: resolve the stored
    bucket modulus, prune the batch tree BY PATH SELECTION to the query
    terms' bucket subdirectories (the bands-state read applied to
    postings — untouched buckets are never listed), drop tombstoned
    documents, return the pruned posting relation or None when nothing
    was ingested yet. A caller that also anti-joins other relations
    (BM25's ``_doc_lens``) passes its one pre-read ``tombs`` through so
    the ``_deleted`` tree is listed and scanned once per query."""
    from tiny_md_hbase_spark.sources.writer import term_bucket

    num_buckets = int(
        ss.read.parquet(f"{index_path}/_index_meta").first().num_buckets
    )
    buckets = sorted({term_bucket(q, num_buckets) for q in qs})
    idx = _read_state(
        ss,
        f"{index_path}/postings",
        -1,  # queries exclude nothing: no batch id is ever negative
        MAINT_POSTINGS_SCHEMA,
        ["term", "doc_id", "positions", "tf"],
        bucket_in=buckets,
    )
    if idx is None:
        return None
    if tombs is _TOMBS_UNREAD:
        tombs = _maintained_tombstones(ss, index_path)
    return _anti_tombstones(idx, tombs)


def keyword_search_maintained(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...] | None = None,
    k: int = 10,
) -> DataFrame:
    """Conjunctive keyword search over the stream-maintained index —
    ``writer.keyword_search_indexed``'s rows exactly, with partition
    pruning replaced by batch-tree path selection."""
    from tiny_md_hbase_spark.operators.text import SEARCH_TERMS
    from tiny_md_hbase_spark.sources.writer import keyword_rank_postings

    qs = sorted({t.lower() for t in (SEARCH_TERMS if terms is None else terms)})
    if not qs:
        raise ValueError("keyword_search_maintained requires at least one term")
    idx = _maintained_postings(spark, index_path, qs)
    if idx is None:
        return spark.createDataFrame([], "doc_id long, score long")
    return keyword_rank_postings(idx, qs, k)


def keyword_search_bm25_maintained(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 over the stream-maintained index —
    ``writer.keyword_search_bm25_indexed``'s rows exactly: postings from
    the pruned batch tree, N/avgdl/dl from the incrementally-maintained
    ``_doc_lens`` tree (union of deltas — additive because each doc_id
    arrives once), the same expression tree and round(6)."""
    from tiny_md_hbase_spark.operators.text import SEARCH_TERMS
    from tiny_md_hbase_spark.sources.writer import bm25_rank_postings

    qs = sorted({t.lower() for t in (SEARCH_TERMS if terms is None else terms)})
    if not qs:
        raise ValueError(
            "keyword_search_bm25_maintained requires at least one term"
        )
    tombs = _maintained_tombstones(spark, index_path)  # read ONCE
    idx = _maintained_postings(spark, index_path, qs, tombs=tombs)
    lens = _read_state(
        spark,
        f"{index_path}/_doc_lens",
        -1,
        MAINT_DOC_LENS_SCHEMA,
        ["doc_id", "dl"],
    )
    if idx is None or lens is None:
        return spark.createDataFrame([], "doc_id long, bm25 double")
    # tombstoned docs leave the STATS too: N/avgdl must equal a fresh
    # build of the redacted corpus, not just hide the hits
    lens = _anti_tombstones(lens, tombs)
    return bm25_rank_postings(idx, lens, qs, k, k1, b)


def phrase_search_maintained(
    spark: SparkSession,
    index_path: str,
    phrase: tuple[str, ...] | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact phrase search over the stream-maintained positional index —
    ``writer.phrase_search_positional``'s rows exactly (the positional
    intersection core runs over the path-pruned batch tree)."""
    from tiny_md_hbase_spark.operators.text import PHRASE_TERMS
    from tiny_md_hbase_spark.sources.writer import phrase_rank_postings

    qs = [t.lower() for t in (PHRASE_TERMS if phrase is None else phrase)]
    if not qs:
        raise ValueError("phrase_search_maintained requires a non-empty phrase")
    idx = _maintained_postings(spark, index_path, qs)
    if idx is None:
        return spark.createDataFrame([], "doc_id long, n_hits long")
    return phrase_rank_postings(idx, qs, k)


def compact_maintained_index(
    spark: SparkSession, index_path: str, static_path: str
) -> int:
    """GRADUATE a stream-maintained index into the one-shot static
    layout — the end of the incremental index's lifecycle (the HBase
    memstore→HFile major-compaction analog, and the reference's
    split-maintenance end state): the batch-tree postings fold into a
    ``bucket=N/``-partitioned table identical in shape to
    ``writer.write_positional_index``'s output, with ``_index_meta``
    and the ``_doc_lens`` side table, so the EXISTING static readers
    (``keyword_search_indexed`` / ``keyword_search_bm25_indexed`` /
    ``phrase_search_positional``) serve it directly with partition
    pruning instead of batch-tree path selection. Write parallelism is
    the one-shot build's (cluster-width salt on (bucket, crc32(term)));
    the maintained tree is left untouched (the stream may keep
    appending — re-graduate later for a fresher static snapshot).
    Returns the number of posting rows graduated."""
    from tiny_md_hbase_spark.sources.writer import write_meta_row

    num_buckets = int(
        spark.read.parquet(f"{index_path}/_index_meta").first().num_buckets
    )
    postings = _read_state(
        spark,
        f"{index_path}/postings",
        -1,
        MAINT_POSTINGS_SCHEMA,
        ["term", "doc_id", "positions", "tf", "bucket"],
    )
    lens = _read_state(
        spark,
        f"{index_path}/_doc_lens",
        -1,
        MAINT_DOC_LENS_SCHEMA,
        ["doc_id", "dl"],
    )
    if postings is None or lens is None:
        raise ValueError(
            f"maintained index at {index_path} holds no postings yet — "
            "drain the stream before graduating it"
        )
    # tombstones are applied PHYSICALLY here: the static layout never
    # contains a redacted document's postings or length row
    tombs = _maintained_tombstones(spark, index_path)
    postings = _anti_tombstones(postings, tombs)
    lens = _anti_tombstones(lens, tombs)
    para = max(spark.sparkContext.defaultParallelism, num_buckets)
    postings.repartition(para, "bucket", F.crc32("term")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(static_path)
    write_meta_row(
        spark, f"{static_path}/_index_meta",
        [("num_buckets", num_buckets, "int")],
    )
    lens.write.mode("overwrite").parquet(f"{static_path}/_doc_lens")
    return spark.read.parquet(static_path).count()


def stream_ingest_documents_pk(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ingest into the primary-key corpus layout with its
    zone map maintained per batch — the documents-table member of the
    route-on-arrival family (points → z-table, embeddings → clustered
    ANN, postings → maintained index, and now the corpus itself): each
    micro-batch appends id-clustered files and stats ONLY those new
    files into the zone map (``writer.append_documents_pk``), so
    targeted redaction and id-span pruning stay available on a table
    that never stops growing. Replay semantics are
    :func:`stream_ingest_points`'s: at-least-once (a replayed batch
    re-appends; the directory shape is itself the product — production
    closes this with a transactional table format)."""
    from tiny_md_hbase_spark.sources.writer import (
        append_documents_pk,
        write_documents_pk,
        write_pk_zonemap,
    )

    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    docs_path = f"{table_path}/docs"
    zones_path = f"{table_path}/zones"

    def _sink(batch: DataFrame, batch_id: int) -> None:
        if not fs_exists(spark, f"{zones_path}/_SUCCESS"):
            write_documents_pk(batch, docs_path, num_partitions)
            write_pk_zonemap(spark, docs_path, zones_path)
        else:
            append_documents_pk(batch, docs_path, zones_path, num_partitions)

    writer = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


SCD2_OUT_SCHEMA = (
    "user_id long, state string, valid_from long, valid_to long, "
    "n_events long"
)
SCD2_STATE_SCHEMA = "state string, valid_from long, n long"


def stream_scd2(
    spark: SparkSession,
    source_dir: str,
) -> DataFrame:
    """Streaming SCD2 / CDC interval build: the stateful twin of
    :func:`~tiny_md_hbase_spark.operators.timeseries.scd2_intervals`
    via ``applyInPandasWithState``.

    State per user = the OPEN interval (state string, valid_from,
    n_events) — O(active users), independent of stream length. A batch
    emits an interval the moment a different state arrives (its
    ``valid_to`` is exactly the arriving event's timestamp — the same
    value the batch operator's lead() assigns); same-state repeats
    just bump the count. The still-open interval per user stays in the
    state store, which is precisely the batch output's NULL-``valid_to``
    row — the entry closes it with a per-user disjoint-state sentinel
    and maps the sentinel bound back to NULL, so the emitted rows equal
    the batch operator (and its DuckDB oracle) exactly. In-order per
    key across batches, as with the other stream twins."""

    _OUT_COLS = ["user_id", "state", "valid_from", "valid_to", "n_events"]

    def fn(key, pdfs, state):
        # vectorized run-length encoding (shift/cumsum/groupby on the
        # Arrow batch) instead of a per-event Python loop: a run is a
        # maximal same-state stretch; every run but the last closes with
        # valid_to = the next run's valid_from — exactly what the batch
        # operator's lead() assigns
        import pandas as pd

        (user_id,) = key
        has_state = state.exists
        cur, vf0, n0 = state.get if has_state else (None, None, 0)
        batch = pd.concat(list(pdfs), ignore_index=True)
        _require_event_time(batch, "stream_scd2", user_id)
        batch = batch.sort_values(["ts_us", "event_id"])
        et = batch["event_type"].reset_index(drop=True)
        ts = batch["ts_us"].astype("int64").reset_index(drop=True)

        # island rule, EXACTLY the batch operator's chg
        # (timeseries.scd2_intervals: 1 when lag(state) IS NULL OR
        # state <> lag(state)): a row whose PREVIOUS state is NULL —
        # stream start or a NULL-state predecessor — always starts a
        # new island, while a NULL-state row after a non-NULL one is
        # absorbed into it (state <> prev is three-valued NULL -> 0).
        # A plain et.ne(et.shift()) run-split diverged on NULL states
        # (pandas ne treats None as a change in BOTH directions) and
        # str(None) poisoned the state store with the literal 'None'.
        prev = et.shift()
        chg = prev.isna() | (et.notna() & prev.notna() & et.ne(prev))
        run_id = chg.cumsum()
        runs = (
            pd.DataFrame({"et": et, "ts": ts, "run": run_id})
            .groupby("run", sort=True)
            .agg(st=("et", "first"), vf=("ts", "first"), n=("et", "size"))
        )
        carry = []
        if has_state:
            first = runs.iloc[0]
            first_st = None if pd.isna(first["st"]) else first["st"]
            # boundary chg under the same rule, prev = the carried state
            if cur is None or (first_st is not None and first_st != cur):
                # closed the moment the island-starting event arrives
                carry = [(user_id, cur, vf0, int(first["vf"]), n0)]
            else:
                # the open interval continues through the first run —
                # its label is the island's FIRST row's state, i.e. the
                # carried one (the batch run may begin with an absorbed
                # NULL-state row whose 'first' et is NULL)
                runs.iloc[0, runs.columns.get_loc("st")] = cur
                runs.iloc[0, runs.columns.get_loc("vf")] = vf0
                runs.iloc[0, runs.columns.get_loc("n")] = first["n"] + n0

        last = runs.iloc[-1]
        last_st = None if pd.isna(last["st"]) else str(last["st"])
        state.update((last_st, int(last["vf"]), int(last["n"])))

        closed = runs.iloc[:-1].copy()
        closed["vt"] = runs["vf"].shift(-1).iloc[:-1].astype("int64")
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "state": closed["st"],
                "valid_from": closed["vf"],
                "valid_to": closed["vt"],
                "n_events": closed["n"].astype("int64"),
            }
        )
        if carry:
            out = pd.concat(
                [pd.DataFrame(carry, columns=_OUT_COLS), out],
                ignore_index=True,
            )
        yield out

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(source_dir)
        .withColumn("ts_us", F.expr("ts div 1000"))
        .select("user_id", "ts_us", "event_id", "event_type")
    )
    return stream.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SCD2_OUT_SCHEMA,
        stateStructType=SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
