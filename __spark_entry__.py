"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001; ``queries()``
returns one builder per implemented operator (SURVEY.md §2); ``oracle_sql()``
returns the DuckDB-equivalent ANSI SQL for each SQL-expressible key. Column
names/aliases match pairwise so the driver's sorted-column value hash lines
up.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from tiny_md_hbase_spark import sql as _SQLF  # noqa: E402
from tiny_md_hbase_spark import hilbert as HB  # noqa: E402
from tiny_md_hbase_spark import zorder as Z  # noqa: E402
from tiny_md_hbase_spark import zorder_nd as ZND  # noqa: E402
from tiny_md_hbase_spark.operators import analytics as AN  # noqa: E402
from tiny_md_hbase_spark.operators import bpe as _BPE  # noqa: E402
from tiny_md_hbase_spark.operators import graph as _GR  # noqa: E402
from tiny_md_hbase_spark.operators import dedup as D  # noqa: E402
from tiny_md_hbase_spark.operators import index as IX  # noqa: E402
from tiny_md_hbase_spark.operators import intervals as IV  # noqa: E402
from tiny_md_hbase_spark.operators import privacy as PV  # noqa: E402
from tiny_md_hbase_spark.operators import sessions as SES  # noqa: E402
from tiny_md_hbase_spark.operators import similarity as SIM  # noqa: E402
from tiny_md_hbase_spark.operators import spatial  # noqa: E402
from tiny_md_hbase_spark.operators import text as TX  # noqa: E402
from tiny_md_hbase_spark.operators import timeseries as TS  # noqa: E402
from tiny_md_hbase_spark.sources import POINTS_SQL, load_table, points  # noqa: E402

# FIXTURES.md pinned parameters
RECT_X = (512, 1535)
RECT_Y = (1024, 3071)
# flagship rectangle for entry(): x is bounded by the part-table size, which
# at sf0.001 only reaches ~200 — keep the flagship window in the populated
# low-x band so the smoke query returns real matches at every sf
ENTRY_RECT_X = (0, 255)
ENTRY_RECT_Y = (1024, 3071)
KNN_Q = (2048, 2048)
KNN_K = 10
RENDER_PL = 12
DIST_JOIN_R = 4
KNN_JOIN_QS = [(0, 512, 512), (1, 2048, 2048), (2, 4000, 100)]

_POINTS_CTE = f"WITH points AS ({POINTS_SQL})"
# distance_join grid-cell side: 2^cell_bits >= radius (spatial.distance_join)
_DJ_SIDE = 1 << max(1, (DIST_JOIN_R - 1).bit_length())


def _await_drained(q, timeout: int = 300) -> None:
    """Block until an availableNow streaming query drains, failing LOUDLY
    on timeout: reading the sink (or deleting the scratch dir) under a
    still-running query would surface as a partial count — a silent wrong
    answer, or a flaky pass, instead of this explicit error."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} still running after {timeout}s; "
            "sink contents would be partial"
        )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: rectangle count over the derived points view at sf0.001."""
    pts = points(spark, "/root/testdata/sf0.001")
    return spatial.range_count(pts, ENTRY_RECT_X, ENTRY_RECT_Y)


# ---------------------------------------------------------------------------
# queries(): (spark, sf_dir) -> DataFrame, one per operator key
# ---------------------------------------------------------------------------

def _q_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.full_scan(points(spark, sf_dir))


# the derived view has no stored zvalue, so the Spark plan filters by the
# rectangle alone: re-encoding z per row would add expression cost with
# nothing to prune (the z cover pays off on a stored zvalue column)
def _q_range_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.range_query(points(spark, sf_dir), RECT_X, RECT_Y)


def _q_range_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.range_count(points(spark, sf_dir), RECT_X, RECT_Y)


def _q_range_query_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-guided rectangle query: range_query's Spark plan over a
    frame with a stored zvalue adds the ≤16-interval quad-trie z-cover
    (Index.findBucketsInRange discarding z false positives,
    Index.java:155-162) to the residual rect predicate. The zvalue column
    is materialized first (localCheckpoint) — the cover must prune via
    the stored column, never re-encode per row inside the filter."""
    pts = points(spark, sf_dir).withColumn(
        "zvalue", Z.zvalue("x", "y")
    ).localCheckpoint()
    return spatial.range_query(pts, RECT_X, RECT_Y)


def _q_range_query_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping rectangle query: the points are z-clustered into
    files, whose parquet footers carry each row group's x/y and zvalue
    min/max — the zone map. range_query over the written table prunes
    row groups by those stats, served on the driver or through the
    Spark plan's pushed filters, and applies the exact rectangle; the
    result equals the plain rectangle query, so the range_query oracle
    serves verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import write_points_zsorted

    d = tempfile.mkdtemp(prefix="zmap_q_")
    try:
        write_points_zsorted(points(spark, sf_dir), f"{d}/points", num_partitions=16)
        return spatial.range_query(
            spark.read.parquet(f"{d}/points"), RECT_X, RECT_Y
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# corpus/embedding zone-map scan parameters (shared with the oracles)
ZONED_LANG = "en"
ZONED_CHARS = (200, 400)
ZONED_C0 = (0.05, 0.15)
ZONED_NORM_SQ = (0.5, 1.5)


def _q_doc_scan_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation scan through a documents ZONE MAP
    (sources/writer.py write_corpus_zonemap / doc_scan_zonemap — the
    r13 verdict's generalization of file skipping off the points
    table): documents are range-clustered by (lang, n_chars), a
    metadata-sized stats table records each file's language SET and
    n_chars span, and a (lang, length-band) scan prunes whole files by
    path selection before any footer opens, with the exact predicate as
    the pushed residual. Equals the plain filtered scan by
    construction, so a WHERE-clause oracle serves verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        doc_scan_zonemap,
        write_corpus_zonemap,
        write_documents_zoned,
    )

    d = tempfile.mkdtemp(prefix="dzone_q_")
    try:
        write_documents_zoned(
            load_table(spark, sf_dir, "documents"), f"{d}/docs",
            num_partitions=16,
        )
        write_corpus_zonemap(spark, f"{d}/docs", f"{d}/zones")
        return doc_scan_zonemap(
            spark, f"{d}/docs", f"{d}/zones", ZONED_LANG, ZONED_CHARS
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_emb_scan_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding zone-map scan (sources/writer.py write_embedding_zonemap
    / emb_scan_zonemap): vectors range-clustered by their leading
    component, per-file stats record the component span AND the squared-
    norm bounds (the junk-vector sweep — degenerate at 1.0 on this
    unit-normalized fixture, which is itself the health signal), and a
    component-range scan with the norm-band residual prunes files by
    path selection. The per-row norm fold is round(6)-pinned on both
    engines."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        emb_scan_zonemap,
        write_embedding_zonemap,
        write_embeddings_zoned,
    )

    d = tempfile.mkdtemp(prefix="ezone_q_")
    try:
        write_embeddings_zoned(
            load_table(spark, sf_dir, "embeddings"), f"{d}/emb",
            num_partitions=8,
        )
        write_embedding_zonemap(spark, f"{d}/emb", f"{d}/zones")
        return emb_scan_zonemap(
            spark, f"{d}/emb", f"{d}/zones", ZONED_C0, ZONED_NORM_SQ
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


REDACT_MOD = 97  # doc_id % 97 == 0 plays the takedown-request list


def _q_corpus_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted delete-by-id over the primary-key corpus layout
    (sources/writer.py write_documents_pk / redact_documents_pk) — the
    beyond-parity operation the reference's API lacks entirely (no
    delete anywhere, SURVEY §2.5) and every real training-data pipeline
    needs: a takedown/GDPR request against a 100 TB corpus must rewrite
    only the files whose zone-map id span contains a requested id,
    leaving every other file's bytes untouched. Staging: the low-id
    bulk is written pk-clustered, the high-id tail arrives through the
    incremental append path (zone rows statted from ONLY the new
    files), then the request list (doc_id % 97 == 0, collected
    driver-side like a real request queue) is redacted. Returns the
    surviving relation read back THROUGH the zone map's file list — so
    the oracle (a NOT-IN filter) also proves the map stayed complete
    across append and redact."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        append_documents_pk,
        redact_documents_pk,
        write_documents_pk,
        write_pk_zonemap,
    )

    d = tempfile.mkdtemp(prefix="redact_q_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        cut = docs.agg(
            F.percentile_approx("doc_id", 0.8, 10000)
        ).collect()[0][0]
        write_documents_pk(
            docs.filter(F.col("doc_id") <= cut), f"{d}/docs",
            num_partitions=8,
        )
        write_pk_zonemap(spark, f"{d}/docs", f"{d}/zones")
        append_documents_pk(
            docs.filter(F.col("doc_id") > cut), f"{d}/docs", f"{d}/zones",
            num_partitions=2,
        )
        ids = [
            r.doc_id
            for r in docs.filter(F.col("doc_id") % REDACT_MOD == 0)
            .select("doc_id")
            .collect()
        ]
        redact_documents_pk(spark, f"{d}/docs", f"{d}/zones", ids)
        zfiles = [
            r.file
            for r in spark.read.parquet(f"{d}/zones").select("file").collect()
        ]
        return (
            spark.read.parquet(*zfiles)
            .select("doc_id", "lang", "source", "n_chars")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental text-index maintenance end-to-end
    (streaming/ingest.py stream_index_maintain — the r13 verdict's #1
    beyond-parity gap, mirroring the reference's insert-time index
    maintenance Index.java:175-230 on the text side): documents staged
    as ordered files drain through the sink (one file per trigger,
    compact_every=2 so the posting tree folds mid-drain), each batch
    appending its positional postings + token counts as additive deltas
    into the bucket-partitioned layout at O(batch) cost. The post-drain
    probe is the most demanding consumer — BM25 over the maintained
    tree (postings + _doc_lens + corpus stats all incremental) — which
    must equal the scan form row-for-row, so keyword_search_bm25's
    oracle serves verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        keyword_search_bm25_maintained,
        stream_index_maintain,
    )

    d = tempfile.mkdtemp(prefix="sidx_q_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        docs.repartition(4).write.parquet(f"{d}/src")
        _touch_in_order(f"{d}/src")
        q = stream_index_maintain(
            spark,
            f"{d}/src",
            f"{d}/idx",
            f"{d}/ckpt",
            num_buckets=16,
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        _await_drained(q)
        return keyword_search_bm25_maintained(
            spark, f"{d}/idx"
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_range_query_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-guided rectangle query over the HILBERT key (hilbert.py
    hilbert_cover_predicate, on the shared cover kernel): ≤16-interval
    cover + residual rect predicate —
    the same index-scan shape as range_query_cover but on the
    locality-preserving curve (quad cells are contiguous h-intervals,
    so the cover needs no rotation bookkeeping). h is materialized
    first (localCheckpoint) per the codec's usage contract; the oracle
    is the plain rectangle query — a true equivalence check that the
    cover is a lossless superset."""
    from tiny_md_hbase_spark.hilbert import hilbert_cover_predicate

    pts = HB.hilbert_encode(points(spark, sf_dir)).localCheckpoint()
    pred = hilbert_cover_predicate(pts, RECT_X, RECT_Y, 16) & (
        spatial.rect_predicate(RECT_X, RECT_Y)
    )
    return pts.filter(pred).select("id", "x", "y")


POLY_V = [(512, 1024), (1536, 1024), (2048, 2048), (1024, 3072), (256, 2048)]


def _q_polygon_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Convex-polygon containment query (operators/spatial.py
    polygon_query): a pinned CCW pentagon over the populated coordinate
    band; exact BIGINT half-plane tests behind a scan-pushed bbox
    filter — the geofence shape class one step beyond the reference's
    rectangles."""
    return spatial.polygon_query(points(spark, sf_dir), POLY_V)


def _q_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.point_get_lookup(points(spark, sf_dir))


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.knn(points(spark, sf_dir), *KNN_Q, KNN_K)


def _q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join: all point pairs within DIST_JOIN_R, grid-cell
    blocked (one hash-join shuffle, no cross join)."""
    return spatial.distance_join(points(spark, sf_dir), DIST_JOIN_R)


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched exact kNN over the pinned probe set via expanding-window
    candidate pruning + per-probe rank."""
    return spatial.knn_join(
        points(spark, sf_dir), KNN_JOIN_QS, KNN_K, domain_max=4095
    )


def _q_zorder_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return points(spark, sf_dir).select("id", Z.zvalue("x", "y").alias("zvalue"))


def _q_zorder_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = points(spark, sf_dir).select("id", Z.zvalue("x", "y").alias("zvalue"))
    return enc.select("id", Z.z_x("zvalue").alias("x"), Z.z_y("zvalue").alias("y"))


def _q_prefix_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = points(spark, sf_dir).select("id", Z.zvalue("x", "y").alias("zvalue"))
    return enc.select("id", Z.prefix_render("zvalue", RENDER_PL).alias("bucket_name"))


def _q_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IX.index_build(points(spark, sf_dir), threshold=IX.DEFAULT_THRESHOLD)


def _q_index_inspect(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IX.index_inspect(IX.index_build(points(spark, sf_dir)))


def _q_floor_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = IX.index_build(points(spark, sf_dir))
    return IX.floor_lookup(idx, Z.zorder_encode_py(*KNN_Q))


def _q_bucket_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of/floor join at table scale: every point routed to its owning
    bucket via the prefix equi-join (no inequality join), occupancy
    aggregated per bucket (Index.fetchBucket, Index.java:115-122)."""
    pts = points(spark, sf_dir)
    return IX.bucket_route(pts, IX.index_build(pts))


def _q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SES.windowed_counts(load_table(spark, sf_dir, "events"))


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup end-to-end: the events table delivered TWICE
    into a scratch stream source (at-least-once redelivery), drained
    through the watermarked ``dropDuplicatesWithinWatermark`` operator —
    survivors must equal the original table (event_id is unique in the
    fixture)."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="sdedup_q_")
    try:
        ev = load_table(spark, sf_dir, "events")
        ev.write.parquet(f"{d}/src")
        ev.write.mode("append").parquet(f"{d}/src")
        q = (
            ING.stream_dedup_events(spark, f"{d}/src")
            .writeStream.format("memory")
            .queryName("q_stream_dedup_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        return (
            spark.table("q_stream_dedup_sink")
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                "value",
            )
            # detach from the memory sink before the scratch dir goes away
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_text_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.text_stats_rollup(load_table(spark, sf_dir, "documents"))


def _q_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prefix_match as a query: count points sharing the 8-bit z-prefix
    of the pinned kNN query point (Utils.prefixMatch, Utils.java:94-105)."""
    probe = Z.zorder_encode_py(*KNN_Q)
    enc = points(spark, sf_dir).select(Z.zvalue("x", "y").alias("zvalue"))
    return enc.filter(Z.prefix_match("zvalue", F.lit(probe), 8)).agg(
        F.count("*").alias("cnt")
    )


def _q_id_gen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """id_gen (Client.java:177-182): generated ids must be unique per row.
    The generated values are partitioning-dependent, so the checked output
    is the uniqueness invariant, not the ids themselves."""
    from tiny_md_hbase_spark.operators.write import with_generated_ids

    pts = points(spark, sf_dir).drop("id")
    gen = with_generated_ids(pts)
    return gen.agg(
        F.countDistinct("id").alias("n_unique"), F.count("*").alias("n_rows")
    )


def _q_compact_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-then-compact lifecycle (writer.compact_points_table — the
    HBase major-compaction analog behind the reference's store): two
    z-sorted batches appended (file z-spans overlap, pruning degrades),
    then one compaction rewrite (spans disjoint again). Returns the
    post-lifecycle layout observables, value-oracled: data-derived rows
    (rows_total, z_min, z_max) recomputed by DuckDB from the points
    view; layout-spec rows (file counts, disjointness) as pinned
    invariants."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources import writer as WR

    d = tempfile.mkdtemp(prefix="compact_")
    try:
        pts = points(spark, sf_dir)
        path = f"{d}/points"
        WR.write_points_zsorted(pts.filter(F.col("id") % 2 == 0), path, 4)
        WR.write_points_zsorted(
            pts.filter(F.col("id") % 2 == 1), path, 4, mode="append"
        )
        before = WR.file_z_spans(spark, path).collect()
        WR.compact_points_table(spark, d, num_partitions=8)
        after = WR.file_z_spans(spark, path).collect()
        # value-level observables: file counts + post-compaction span
        # disjointness are the layout SPEC (constant under the oracle's
        # TRUE-flag pattern — the range-partitioner's exact cut points are
        # sample-based, so the pre-compaction overlap COUNT is only
        # guaranteed positive, not a stable number); rows_total and the
        # global z extent tie the actual file-footer stats back to the
        # data, which DuckDB recomputes from the points view
        return spark.createDataFrame(
            [
                ("files_before", len(before)),
                ("had_overlap_before", int(WR.overlapping_span_pairs(before) > 0)),
                ("files_after", len(after)),
                ("overlap_pairs_after", WR.overlapping_span_pairs(after)),
                ("rows_total", sum(r.n_rows for r in after)),
                ("z_min", min(r.min_z for r in after)),
                ("z_max", max(r.max_z for r in after)),
            ],
            "metric string, value long",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# table_lifecycle's literal insert batch, shared with its oracle twin
_LIFECYCLE_N = 40
_LIFECYCLE_POINTS_SQL = (
    "SELECT i AS id, CAST(i % 64 AS INTEGER) AS x, "
    f"CAST((i * 5) % 64 AS INTEGER) AS y FROM range({_LIFECYCLE_N}) t(i)"
)


def _q_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_create / insert_append / table_drop (Index.java:77-105,
    Client.java:217-224) driven end-to-end against a scratch path.
    Value-oracled since r08: besides the lifecycle scalars, the query
    emits ONE ROW PER POST-INSERT INDEX BUCKET — the actual on-disk
    index state — which DuckDB recomputes by running the index_build
    recursive-CTE twin over the same literal batch, so the whole
    create→insert→refresh chain is hash-checked, not just smoked."""
    import tempfile

    from tiny_md_hbase_spark.operators import write as W

    d = tempfile.mkdtemp(prefix="lifecycle_")
    path = f"{d}/t"
    W.table_create(spark, path)
    seeded = spark.read.parquet(f"{path}/index").count()
    batch = spark.createDataFrame(
        [(i, i % 64, (i * 5) % 64) for i in range(_LIFECYCLE_N)],
        "id long, x int, y int",
    )
    W.insert_append(spark, path, batch)
    n_rows = spark.read.parquet(f"{path}/points").count()
    idx = spark.read.parquet(f"{path}/index").collect()
    W.table_drop(path)
    import os

    dropped = 0 if os.path.exists(path) else 1
    rows = [
        ("created_index_buckets", seeded),
        ("inserted_rows", n_rows),
        ("index_size_sum", sum(r.size for r in idx)),
        ("dropped", dropped),
    ] + [
        (f"bucket_{r.bucket_z}_pl{r.pl}", r.size) for r in idx
    ]
    return spark.createDataFrame(rows, "stage string, value long")


_INSERT_BATCH = [(900001, 513, 1025), (900002, 514, 1026), (900003, 515, 1027)]


def _q_insert_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-append semantics (SURVEY.md §2.2 insert_append): appended rows
    are immediately visible to queries — count the pinned rectangle after
    unioning a literal batch that lands inside it."""
    pts = points(spark, sf_dir)
    batch = spark.createDataFrame(_INSERT_BATCH, "id long, x int, y int")
    return spatial.range_count(pts.unionByName(batch), RECT_X, RECT_Y)


def _q_write_path_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL write path end-to-end, oracle-checked (operators/write.py
    insert_append + insert_append_incremental → refresh_index_incremental):
    seed a scratch table with 7/8 of the points (full index rebuild), then
    append the remaining 1/8 through the O(batch) incremental refresh —
    only overflowing buckets' z-windows are re-read, the reference's
    insert→notifyInsertion→maySplit chain (Client.java:55-59,
    Index.java:175-230) as one batch job. The refreshed index must equal
    a from-scratch ``index_build`` over ALL points, which is exactly the
    recursive-CTE oracle that checks index_build — so the driver proves
    append + incremental maintenance converges to the canonical trie."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators import write as W

    d = tempfile.mkdtemp(prefix="writepath_")
    path = f"{d}/t"
    try:
        pts = points(spark, sf_dir)
        W.table_create(spark, path)
        W.insert_append(spark, path, pts.filter(F.col("id") % 8 != 0))
        W.insert_append_incremental(spark, path, pts.filter(F.col("id") % 8 == 0))
        return (
            spark.read.parquet(f"{path}/index")
            .select("bucket_z", "pl", "size")
            # detach from the scratch parquet before the dir goes away
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# floor_lookup_batch probes: pinned coordinates spanning the populated
# domain + ONE z outside the index's [00*] cover (x,y <= 4095 means every
# encodable point has z < 2^24; 2^62 begins the [01*] subspace), which the
# prefix equi-join must DROP — the documented divergence from the
# reference's floor-to-preceding-bucket (unreachable on a complete cover)
_FLB_COORDS = [(0, 0), (512, 1024), (2048, 2048), (4000, 100), (4095, 4095)]
_FLB_OUT_OF_COVER = 1 << 62


def _q_floor_lookup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched owning-bucket lookup (operators/index.py floor_lookup_batch
    — ``getRowOrBefore`` at probe-set scale, Index.java:115-122, reworked
    in r05 from an inequality broadcast join to the prefix equi-join over
    the index's distinct prefix lengths)."""
    idx = IX.index_build(points(spark, sf_dir))
    probes = spark.createDataFrame(
        [(Z.zorder_encode_py(x, y),) for x, y in _FLB_COORDS]
        + [(_FLB_OUT_OF_COVER,)],
        "z long",
    )
    return IX.floor_lookup_batch(idx, probes)


# --- scalar codec / predicate functions as checkable queries (SURVEY.md
# §2.2-§2.4). Each key in the §2 inventory gets its own oracle-checked
# entry; parameters (prefix length, bit position) derive from `id` so the
# whole [2, 64] / [1, 62] range is exercised, while staying off shift
# amounts DuckDB rejects as signed-overflow (1<<63).

def _q_bit_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_spread (Utils.makeGap, Utils.java:52-59): x's bits spread to
    even positions of a long."""
    return points(spark, sf_dir).select(
        "id", Z.bit_spread("x").alias("x_spread")
    )


def _q_make_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """make_mask (Utils.makeMask, Utils.java:107-120) over pl in [2, 64]."""
    pl = (F.col("id") % 63 + 2).cast("int")
    return points(spark, sf_dir).select(
        "id", pl.alias("pl"), Z.make_mask(pl).alias("mask")
    )


def _q_set_bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set_bit (Utils.makeBit, Utils.java:148-159): the split-child key
    derivation, bit position in [1, 62] from the MSB."""
    pos = (F.col("id") % 62 + 1).cast("int")
    enc = points(spark, sf_dir).select(
        "id", Z.zvalue("x", "y").alias("zvalue")
    )
    return enc.select(
        "id", pos.alias("pos"), Z.set_bit("zvalue", pos).alias("z_set")
    )


def _q_byte_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """byte_ops (Utils.not/or/and, Utils.java:122-146) doing their real job:
    the bucket max corner ``key | ~mask`` (Index.toRanges,
    Index.java:125-129), then ``& mask`` recovering the key."""
    idx = IX.index_build(points(spark, sf_dir))
    mask = Z.make_mask(F.col("pl"))
    z_max = F.col("bucket_z").bitwiseOR(F.bitwise_not(mask))
    return idx.select(
        "bucket_z",
        "pl",
        z_max.alias("z_max"),
        z_max.bitwiseAND(mask).alias("and_back"),
    )


def _q_bytes_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bytes_concat (Utils.concat, Utils.java:84-92): the cell-value
    packing 4-byte x ‖ 4-byte y, as the columnar ``(x << 32) | y``."""
    return points(spark, sf_dir).select(
        "id",
        F.shiftleft(F.col("x").cast("long"), 32)
        .bitwiseOR(F.col("y").cast("long"))
        .alias("packed_xy"),
    )


def _q_euclid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """euclid_dist (Point.distanceFrom, Point.java:38-42) from the pinned
    query point to every point."""
    qx, qy = KNN_Q
    dx = F.col("x").cast("long") - qx
    dy = F.col("y").cast("long") - qy
    d2 = dx * dx + dy * dy
    return points(spark, sf_dir).select(
        "id", d2.alias("dist_sq"), F.sqrt(d2.cast("double")).alias("dist")
    )


def _q_interval_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interval_preds (Range.include/intersect/distanceFrom/farthestFrom,
    Range.java:42-64) of each point's x against the pinned x-range."""
    lo, hi = RECT_X
    xi = F.col("x").cast("long")
    include = xi.between(lo, hi)
    intersect = (xi <= hi) & (xi + 16 >= lo)  # [x, x+16] vs the range
    dist = F.when(include, F.lit(0).cast("long")).otherwise(
        F.least(F.abs(xi - lo), F.abs(xi - hi))
    )
    farthest = (
        F.when(F.abs(xi - lo) > F.abs(xi - hi), F.lit(lo))
        .otherwise(F.lit(hi))
        .cast("long")
    )
    return points(spark, sf_dir).select(
        "id",
        include.cast("int").alias("includes"),
        intersect.cast("int").alias("intersects"),
        dist.alias("dist_to_range"),
        farthest.alias("farthest_endpoint"),
    )


def _q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.range_filter_stats(points(spark, sf_dir), RECT_X, RECT_Y)


def _q_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IX.split_step(points(spark, sf_dir), parent_pl=8)


def _q_table_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_create (Index.java:77-105): create scratch tables, read the
    seeded index back — must be exactly the root bucket ([00*...*],
    prefix length 2, size 0, Index.java:96-99). The oracle pins that
    seed, so this checks what table_create persisted, not a constant."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators import write as W

    d = tempfile.mkdtemp(prefix="tcreate_")
    try:
        W.table_create(spark, f"{d}/t")
        return (
            spark.read.parquet(f"{d}/t/index")
            .select("bucket_z", "pl", "size")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_table_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """table_drop (CLI drop, Client.java:217-224): create + drop a scratch
    table; observables are existence before/after."""
    import os as _os
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators import write as W

    d = tempfile.mkdtemp(prefix="tdrop_")
    try:
        path = f"{d}/t"
        W.table_create(spark, path)
        existed = 1 if _os.path.exists(f"{path}/points") else 0
        W.table_drop(path)
        dropped = 0 if _os.path.exists(path) else 1
        return spark.createDataFrame(
            [(existed, dropped)], "existed_before int, dropped int"
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- training-data pipeline operators (north star, SURVEY.md §7 phase 6) ---

def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(load_table(spark, sf_dir, "documents"))


def _q_dedup_edit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (operators/dedup.py dedup_edit):
    5-token-window blocked candidates verified by thresholded
    levenshtein ≤ 30 — the character-level member of the dedup family
    (catches intra-token typo edits token shingles miss); the blocking
    genuinely filters here (sf0.1: 1460 candidates → 256 accepted)."""
    return D.dedup_edit(load_table(spark, sf_dir, "documents"))


def _q_doc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (operators/dedup.py
    doc_containment): doc_a with ≥ 9/10 of its distinct 8-grams inside
    doc_b — the quote/embedding relation symmetric Jaccard collapses
    on; integer threshold den·n_shared ≥ num·n_a, no float ratio."""
    return D.doc_containment(load_table(spark, sf_dir, "documents"))


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs at the production parameter point
    (32 hashes × 8 bands), run on the PORTABLE polynomial hash family
    so the whole banding pipeline sits under a value-level oracle
    (dedup.py dedup_minhash_portable; the 16×4 point is the separate
    dedup_minhash_portable key). The Spark-internal xxhash64 form
    remains the non-registry production function, value-checked
    against exact all-pairs Jaccard by dedup_minhash_vs_exact and
    recall-pinned by the planted-pair tests."""
    return D.dedup_minhash_portable(
        load_table(spark, sf_dir, "documents"), num_hashes=32, bands=8
    )


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at a second banding point (hamming ≤ 5
    under 8 × 7-bit bands — pigeonhole still lossless: 5 differing bits
    cannot touch all 8 bands), on the PORTABLE dual-polynomial
    fingerprint so the whole pipeline is value-oracled (dedup.py
    dedup_simhash_portable; the ≤3 × 4-band point is the separate
    dedup_simhash_portable key). The xxhash64 64-bit form remains the
    non-registry production function, its banding losslessness pinned
    by dedup_simhash_band_exact."""
    return D.dedup_simhash_portable(
        load_table(spark, sf_dir, "documents"), max_hamming=5, bands=8
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard(load_table(spark, sf_dir, "documents"))


def _q_dedup_minhash_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-form equivalence oracle for the PRODUCTION (xxhash64) MinHash
    pipeline: its output is checked against the EXACT all-pairs shingle
    Jaccard computed in SQL — no banding, no hashing, just ground truth.
    The exact-verify stage guarantees output ⊆ truth for ANY hash family;
    equality additionally certifies full banding recall on this fixture
    (verified to hold at sf0.001 and sf0.01: every qualifying pair shares
    ≥1 of 8 bands under both hash families). This converts dedup_minhash's
    engine-specific form from a rows-only smoke into a value-checked key;
    the probabilistic recall floor for unseen data stays pinned by the
    planted-pair tests (tests/test_dedup.py). The bucket-width cap is
    DISABLED here (``max_bucket_width=None``): this key's contract is
    equality with uncapped ground truth, so a fixture that ever grows a
    >cap near-dup family must not silently flip it — the cap's drop
    semantics are pinned separately by dedup_minhash_capped."""
    return D.dedup_minhash(
        load_table(spark, sf_dir, "documents"), max_bucket_width=None
    )


def _q_dedup_simhash_band_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-losslessness invariant for the PRODUCTION (xxhash64)
    SimHash: the pigeonhole claim — hamming ≤ 3 of 64 bits ⇒ at least one
    of 4 16-bit bands identical — means the banded pipeline must find
    EXACTLY the pairs a naive all-pairs hamming scan over the same
    fingerprints finds. Both sides run in Spark (the fingerprints are
    engine-specific, so no value-level SQL twin exists); the oracle pins
    the invariant's observable: zero missed, zero extra. The naive side
    is the quadratic verification harness, acceptable only because this
    is a correctness key, never a production path."""
    docs = load_table(spark, sf_dir, "documents")
    sh = D.simhash_table(
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    ).localCheckpoint()
    a, b = sh.alias("a"), sh.alias("b")
    ham = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    naive = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(ham <= 3)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.alias("hamming"),
        )
    )
    banded = D.dedup_simhash(docs)
    missed = naive.join(banded, ["doc_a", "doc_b"], "left_anti").agg(
        F.count("*").alias("n_missed")
    )
    extra = banded.join(naive, ["doc_a", "doc_b"], "left_anti").agg(
        F.count("*").alias("n_extra")
    )
    return missed.crossJoin(extra)


def _q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_minhash_portable(load_table(spark, sf_dir, "documents"))


def _q_dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-bucket width cap FIRING under the value oracle: at
    max_bucket_width=2 the fixture's width-3..5 buckets are dropped on
    BOTH engines (21 of the 25 uncapped pairs survive at sf0.01 — the
    documented recall tradeoff, mirrored bucket-for-bucket by the
    QUALIFY'd count in the SQL twin). The default-cap keys
    (dedup_minhash/_portable) exercise the cap as a no-op; this point
    pins the drop semantics themselves cross-engine."""
    return D.dedup_minhash_portable(
        load_table(spark, sf_dir, "documents"), max_bucket_width=2
    )


def _q_dedup_embedding_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH twin of dedup_minhash_capped: max_bucket_width=40 drops
    the fixture's widest (band, band_bits) buckets (width ≤ 48 at
    sf0.01) before the per-bucket gram verify — 111 of 130 uncapped
    pairs survive, identically in the QUALIFY'd SQL twin."""
    return D.dedup_embedding_lsh(
        load_table(spark, sf_dir, "embeddings"), max_bucket_width=40
    )


def _q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_simhash_portable(load_table(spark, sf_dir, "documents"))


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the synthetic fixture has no true near-dups (max within-label cosine
    # ~0.47 at sf0.01); 0.35 yields a non-vacuous result set (26 pairs at
    # sf0.01, nearest value 8e-4 from the cut — no cross-engine ulp flips)
    # so the oracle actually exercises the dot-product/blocking logic
    return D.dedup_embedding(load_table(spark, sf_dir, "embeddings"), threshold=0.35)


def _q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/similarity.py hybrid_search_rrf):
    BM25 lexical top-50 ⊕ exact-cosine dense top-50, fused by integer
    reciprocal-rank fusion (SCALE div (60 + rank)) on the shared doc
    id — the calibration-free RAG combiner; everything after the two
    top-n retrievers is rank metadata, bounded by n not corpus size."""
    return SIM.hybrid_search_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )


def _q_embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.embedding_knn(load_table(spark, sf_dir, "embeddings"), 1, KNN_K)


def _q_embedding_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SIM.embedding_knn_lsh(load_table(spark, sf_dir, "embeddings"), 1, KNN_K)


def _q_embedding_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k at a second quantizer point
    (8 coarse cells, 2 probed) on the PORTABLE fixed-centroid family,
    so the assign→probe→prune→score pipeline is value-oracled end to
    end (similarity.py embedding_knn_ivf_portable; the 16×4 point is
    the separate embedding_knn_ivf_portable key). The k-means-trained
    production form remains a non-registry function whose machinery is
    value-checked at the n_probe=n_clusters boundary by
    embedding_knn_ivf_kmeans_full and recall-tested vs brute force."""
    return SIM.embedding_knn_ivf_portable(
        load_table(spark, sf_dir, "embeddings"), 1, KNN_K, n_clusters=8, n_probe=2
    )


def _q_embedding_knn_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-able IVF twin: deterministic literal centroids (k-means'
    float-avg centroids can't be reproduced cross-engine; constants can)."""
    return SIM.embedding_knn_ivf_portable(
        load_table(spark, sf_dir, "embeddings"), 1, KNN_K
    )


def _q_embedding_knn_ivf_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe-widening boundary oracle: IVF with n_probe == n_clusters
    scores every cluster, so the result must equal EXACT brute-force kNN
    (recall = 1.0 by construction). The oracle is deliberately the
    exact-kNN SQL — not the IVF twin — so the driver proves the
    assign→probe→prune→score machinery degrades to exact search at its
    widest setting instead of merely agreeing with itself."""
    return SIM.embedding_knn_ivf_portable(
        load_table(spark, sf_dir, "embeddings"), 1, KNN_K, n_probe=16
    )


def _q_embedding_knn_ivf_kmeans_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-form equivalence oracle for the PRODUCTION (k-means-trained)
    IVF: at n_probe == n_clusters every cluster is scored, so the result
    must equal EXACT brute-force kNN for ANY centroid set — the Lloyd
    iterations affect which rows each probe prunes, never the scoring.
    The oracle is the exact-kNN SQL, putting the k-means form's
    assign→probe→prune→score machinery under a value-level check (its
    recall at narrow probes stays covered by the recall-vs-brute test)."""
    return SIM.embedding_knn_ivf(
        load_table(spark, sf_dir, "embeddings"), 1, KNN_K, n_clusters=16, n_probe=16
    )


def _q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py winnow_fingerprint):
    distinct window-minima of token-3-gram hashes, the MOSS robust local
    fingerprint; pure integer math, no shuffle."""
    return TX.winnow_fingerprint(load_table(spark, sf_dir, "documents"))


def _q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end curation pipeline (operators/text.py
    corpus_prepare): PII-scrub → quality filter → exact dedup →
    deterministic mixture → per-language token budget, returning the
    selected-documents manifest."""
    return TX.corpus_prepare(load_table(spark, sf_dir, "documents"))


def _q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/text.py corpus_diff) between the corpus
    and a deterministically derived v2: every 13th doc removed, every
    17th doc's text revised, every 19th re-added under a shifted id —
    mirrored verbatim in the SQL twin so added/removed/changed rows are
    non-vacuously checked."""
    base = load_table(spark, sf_dir, "documents")
    kept = base.filter(F.col("doc_id") % 13 != 0)
    v2 = kept.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" revised"))
        ).otherwise(F.col("text")),
    ).unionByName(
        base.filter(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    return TX.corpus_diff(base, v2)


_CORPUS_V2_CTE = (
    "WITH v2 AS ("
    "SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN text || ' revised' "
    "ELSE text END AS text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 13 != 0 "
    "UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 19 = 0)"
)


def _q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (operators/dedup.py dedup_incremental): the
    corpus is split into an existing part (doc_id < 400) and a NEW
    batch — docs >= 400 plus planted copies (every 7th old doc re-sent
    under a shifted id, and an in-batch double of every 11th new doc) —
    so seen-drop and in-batch keep-min are both non-vacuous; the SQL
    twin derives the same split/plants via CTE."""
    base = load_table(spark, sf_dir, "documents")
    corpus = base.filter(F.col("doc_id") < 400)
    newb = (
        base.filter(F.col("doc_id") >= 400)
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
        )
        .unionByName(
            base.filter(
                (F.col("doc_id") >= 400) & (F.col("doc_id") % 11 == 0)
            ).select(
                (F.col("doc_id") + 3_000_000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
        )
    )
    return D.dedup_incremental(corpus, newb)


_INCR_CTES = (
    "WITH corpus AS (SELECT * FROM documents WHERE doc_id < 400), "
    "new_docs AS ("
    "SELECT * FROM documents WHERE doc_id >= 400 "
    "UNION ALL "
    "SELECT doc_id + 2000000 AS doc_id, text, lang, source, n_chars "
    "FROM corpus WHERE doc_id % 7 = 0 "
    "UNION ALL "
    "SELECT doc_id + 3000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id >= 400 AND doc_id % 11 = 0)"
)


def _q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage pairs over winnowing fingerprints with stop-phrase
    (document-frequency) pruning before the self-join."""
    return TX.winnow_pairs(load_table(spark, sf_dir, "documents"))


def _q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/privacy.py) over the corpus with
    deterministically INJECTED PII — the synthetic fixture contains
    none, and an all-zero redaction count would leave the regex chain
    untested. Every 5th doc gains an email, every 7th a phone + IPv4,
    every 11th a long digit id; the SQL twin injects the identical
    suffixes, so counts and scrubbed text are non-vacuously checked."""
    docs = load_table(spark, sf_dir, "documents")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" tel 555-867-5309 host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" ref 123456789012")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return PV.pii_scrub(injected)


_PII_INJECT_CTE = (
    "WITH injected AS (SELECT doc_id, text "
    "|| CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) "
    "|| '@example.com now' ELSE '' END "
    "|| CASE WHEN doc_id % 7 = 0 THEN ' tel 555-867-5309 host 10.0.' "
    "|| CAST(doc_id % 256 AS VARCHAR) || '.7' ELSE '' END "
    "|| CASE WHEN doc_id % 11 = 0 THEN ' ref 123456789012' ELSE '' END AS text "
    "FROM documents)"
)


def _q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve (operators/text.py
    vocab_growth): new/cumulative distinct token types per document
    prefix bucket — the saturation diagnostic for training-mix
    construction. One corpus pass (first-occurrence doc per token),
    cumulative window over the bucket-sized histogram only. Entry runs
    bucket_docs=2: the synthetic fixture's 31-type vocabulary saturates
    within the first handful of documents, so the default 50-doc
    buckets would collapse the whole curve to one row (the
    dedup_embedding threshold-0.35 pattern — fixture-scaled parameter,
    same operator)."""
    return TX.vocab_growth(load_table(spark, sf_dir, "documents"), bucket_docs=2)


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.text_stats(load_table(spark, sf_dir, "documents"))


def _q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_count(load_table(spark, sf_dir, "documents"))


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.lang_id(load_table(spark, sf_dir, "documents"))


def _q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.quality_score(load_table(spark, sf_dir, "documents"))


def _q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.doc_fingerprint(load_table(spark, sf_dir, "documents"))


def _q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.corpus_clean(load_table(spark, sf_dir, "documents"))


def _q_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.top_tokens(load_table(spark, sf_dir, "documents"), KNN_K)


def _q_text_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-language length percentiles (interpolating, matches
    DuckDB quantile_cont bit-for-bit)."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
            F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
            F.expr("percentile(n_chars, 0.99)").alias("p99_chars"),
        )
    )


# Committed parquet fixture shared by the multimodal queries AND their
# DuckDB oracles (scripts/make_media_fixture.py): 96 deterministic synth
# rows + 12 planted byte-identical duplicates (media_id+1000 for
# media_id % 8 == 0). Opaque-binary plumbing needs both engines to see
# the same bytes — the fixture file is that common ground.
_MEDIA_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures", "media.parquet"
)


def _q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact payload dedup over the media fixture's planted
    byte-identical duplicates. The operator groups on the 8-byte JVM
    xxhash64 (payload bytes never shuffle); the query projects the
    engine-portable observables (kind, keep_id, n_copies, sum_bytes) so
    the DuckDB twin can group on the payload bytes directly — identical
    groups barring a 64-bit collision inside the fixture (none)."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    media = spark.read.parquet(_MEDIA_FIXTURE)
    return (
        MM.media_dedup_exact(media)
        .filter(F.col("n_copies") > 1)
        .select("kind", "keep_id", "n_copies", "sum_bytes")
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode kernel over the media fixture. The fake
    codec's feature[0] is mean(payload[0::8])/255 stored as float32;
    the query emits the exactly-recoverable integer observable
    f0_sum = round(feature[0] · 255 · ceil(n_bytes/8)) — the stride-8
    byte sum (< 2²⁴, so the float32 round-trip error ≪ 0.5 and the
    round() is exact) — which the DuckDB twin recomputes from the raw
    bytes via hex-string arithmetic."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    feats = MM.decode_features(spark.read.parquet(_MEDIA_FIXTURE))
    cnt0 = F.floor((F.col("n_bytes") + F.lit(7)) / F.lit(8)).cast("long")
    return feats.select(
        "media_id",
        "kind",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.round(F.col("feature")[0].cast("double") * 255.0 * cnt0)
        .cast("long")
        .alias("f0_sum"),
    )


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the partitioned-media file path: the
    fixture is written partitionBy(kind, size_bucket), read back (the
    frame job prunes to kind=video files), then demuxed by the
    Arrow-batched kernel. Frame identity crosses engines as
    md5(uppercase-hex(frame bytes)): DuckDB 1.0 cannot md5 a BLOB, but
    both engines agree on hex(payload) and its substrings."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators import multimodal as MM

    d = tempfile.mkdtemp(prefix="media_q_")
    try:
        MM.write_media_partitioned(spark.read.parquet(_MEDIA_FIXTURE), f"{d}/media")
        media = MM.load_media_partitioned(spark, f"{d}/media")
        frames = MM.frame_sample(media, every_ms=250)
        return frames.select(
            "media_id",
            "frame_idx",
            F.length("frame_payload").cast("long").alias("n_bytes"),
            F.md5(F.hex("frame_payload")).alias("frame_md5"),
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Committed WAV fixture for the REAL codec path (wav_decode): 49
# deterministic 16-bit PCM RIFF/WAVE containers — a third with LIST
# metadata chunks before data (some odd-length — word-alignment pad
# coverage) and one zero-sample container (empty data chunk).
# data_off / n_samples columns are ORACLE-side keys only: Spark must
# discover the PCM frames by parsing the chunk list.
_WAV_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests",
    "fixtures",
    "media_wav.parquet",
)


# Committed PPM fixtures for the REAL image codec paths: 49 binary-PPM
# (P6) containers — every third with digit-bearing header comments and
# rotating netpbm whitespace (a byte-layout assumption would compute a
# wrong raster offset), plus 1x1 / 0x5 / 5x0 degenerates — and 8
# concatenated-P6 frame streams (mixed per-frame dims, one single-frame
# stream, one zero-pixel frame mid-stream). width/height/data_off and
# the frame offset/length/dims lists are ORACLE-side keys only: Spark
# must discover them by tokenizing headers / walking the stream.
_PPM_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests",
    "fixtures",
    "media_ppm.parquet",
)
_PPM_STREAM_FIXTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "tests",
    "fixtures",
    "media_ppm_stream.parquet",
)


def _q_ppm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode (operators/multimodal.py ppm_decode): tokenize
    the P6 header (whitespace/comment walk), decode the RGB raster,
    emit exact integer features. even_row_luma is wrong unless WIDTH
    was decoded correctly, so the oracle checks the 2-D layout too."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    return MM.ppm_decode(spark.read.parquet(_PPM_FIXTURE))


def _q_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-level nearest-neighbor image resize
    (operators/multimodal.py ppm_resize): the DuckDB twin rebuilds the
    ENTIRE resized container hex-for-hex (canonical header + sampled
    raster) from the SOURCE payload's hex using the same exact-integer
    grid ``sx = tx*sw // tw`` — any off-by-one in the sampling or the
    re-encode mismatches the full-payload hex compare."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    out = MM.ppm_resize(spark.read.parquet(_PPM_FIXTURE), max_side=12)
    return out.select(
        "media_id",
        "out_w",
        "out_h",
        F.length("payload").cast("long").alias("n_bytes"),
        F.hex("payload").alias("payload_hex"),
    )


def _q_ppm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container demux (operators/multimodal.py ppm_stream_frames):
    walk concatenated-P6 streams image-by-image (per-frame header
    tokenization — frames differ in size), sample every 2nd frame, emit
    the raw frame slice. The oracle slices hex(payload) at the
    generator-known offsets the kernel had to DISCOVER by parsing."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    out = MM.ppm_stream_frames(spark.read.parquet(_PPM_STREAM_FIXTURE), every=2)
    return out.select(
        "media_id",
        "frame_idx",
        "frame_w",
        "frame_h",
        F.length("frame_payload").cast("long").alias("n_bytes"),
        F.hex("frame_payload").alias("frame_hex"),
    )


def _q_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one REAL (library-free) media decode: RIFF/WAVE chunk-walk +
    16-bit PCM frame decode inside an Arrow-batched kernel
    (operators/multimodal.py wav_decode), emitting exact integer audio
    features. The DuckDB twin recomputes every column from
    hex(payload) at the fixture's generator-known data offset — a
    kernel that assumed the canonical 44-byte header instead of parsing
    would mismatch on the 16 LIST-chunk rows."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    return MM.wav_decode(spark.read.parquet(_WAV_FIXTURE))


def _q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup: sign-LSH banded candidates, exact
    cosine verify — whole pipeline under the oracle (deterministic
    hyperplanes inline as SQL literals)."""
    return D.dedup_embedding_lsh(load_table(spark, sf_dir, "embeddings"))


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.py dedup_semantic):
    coarse-cluster on deterministic unit centroids, pairwise-cosine prune
    within clusters only, keep-first survivors — whole pipeline under the
    oracle (centroids inline as SQL literals)."""
    return D.dedup_semantic(load_table(spark, sf_dir, "embeddings"))


def _q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinctive terms by TF-IDF (operators/text.py
    tfidf_top_terms): explode → vocab-sized tf/df aggregates → rounded
    score ranked per language. Corpus count enters as a broadcast 1-row
    aggregate, keeping the plan lazy."""
    return TX.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


def _q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search (operators/text.py keyword_search):
    all-terms containment filter + occurrence-count ranking as per-row
    array kernels — scan → filter → TakeOrderedAndProject, no shuffle
    beyond the top-k."""
    return TX.keyword_search(load_table(spark, sf_dir, "documents"))


def _q_keyword_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi-BM25-ranked disjunctive search (operators/text.py
    keyword_search_bm25): one map-side stats aggregate (N, avgdl,
    per-term df) broadcast into a per-row codegen'd scoring expression →
    TakeOrderedAndProject. The oracle twin folds the identical literals
    in the identical order, with round(6) absorbing last-ulp ln()
    differences."""
    return TX.keyword_search_bm25(load_table(spark, sf_dir, "documents"))


def _q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate line removal (operators/text.py line_dedup): lines
    occurring in >= 2 distinct documents deleted everywhere, documents
    rebuilt in original line order — the C4/RefinedWeb cleaning step.
    Count-distinct on the line's md5, left_anti against the (small)
    boilerplate set, one groupBy(doc_id) rebuild."""
    return TX.line_dedup(load_table(spark, sf_dir, "documents"))


def _q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics (operators/graph.py pagerank): 5 rounds
    of EXACT-integer PageRank over the bidirectional customer↔supplier
    purchase graph, top-20 by (rank desc, kind, key). Integer micro-unit
    semantics make the whole fixed-iteration recurrence bit-identical
    across engines — floating-point PageRank could never hash-match."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return G.pagerank(edges)


def _q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional exact-integer PageRank (operators/graph.py
    pagerank_weighted over purchase_edges_weighted): edge weight = the
    number of distinct orders linking the customer↔supplier pair, rank
    spread proportional to weights via per-edge integer division
    ((rank·w) div W, floored per edge in both engines) — the
    influence-with-volume ranking; reduces exactly to pagerank on
    all-equal weights (pytest-pinned)."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges_weighted(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return G.pagerank_weighted(edges)


def _q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the document near-duplicate graph
    (operators/graph.py doc_overlap_edges → triangle_count): docs are
    linked when they share ≥3 distinct 8-token windows; triangles
    separate tight near-dup CLUSTERS from mere chains (A~B~C without
    A~C), the signal that decides transitive-closure vs pairwise
    dedup. Degree-oriented wedge closure (Suri–Vassilvitskii) on the
    Spark side; the oracle enumerates the same triangle set under id
    order."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.doc_overlap_edges(load_table(spark, sf_dir, "documents"))
    return G.triangle_count(edges)


def _q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the document near-dup graph (operators/graph.py
    k_core over doc_overlap_edges): iterative synchronous peeling
    strips pendant chains, leaving only cyclically-connected dup
    clusters — the density filter that separates transitive-closure
    dedup targets from pairwise ones. The oracle replays the identical
    fixed peel rounds; the operator refuses to return non-fixpoints."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.doc_overlap_edges(load_table(spark, sf_dir, "documents"))
    return G.k_core(edges)


def _q_co_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (operators/graph.py co_purchase):
    top-20 supplier pairs by distinct shared customers — the bipartite
    projection every recommender/co-occurrence miner starts from. The
    incidence list is distinct before the pair join, so the count is a
    plain count(*); the (n_shared desc, supp_a, supp_b) order is total."""
    from tiny_md_hbase_spark.operators import graph as G

    return G.co_purchase(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def _q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training pair statistics (operators/bpe.py
    bpe_pair_counts): top-50 adjacent-symbol pair frequencies over the
    corpus VOCABULARY (the one corpus-sized pass is the word count;
    everything after is vocab-bounded — the 100 TB corpus and the 100 GB
    corpus train on the same sized table). The iterative bpe_train loop
    shares this aggregation and is pinned merge-for-merge against an
    independent Python reference in tests/test_bpe.py."""
    from tiny_md_hbase_spark.operators import bpe as B

    return B.bpe_pair_counts(load_table(spark, sf_dir, "documents"), k=50)


def _q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under a TRAINED BPE vocabulary
    (operators/bpe.py bpe_token_count) — the trained-encode path the
    round-0 pair stats don't reach. The merge list is FIXTURE_MERGES
    (bpe_train on sf0.001, pinned as literals and re-trained in
    tests/test_bpe.py), so both engines evaluate the same fixed
    deterministic function: Spark applies the merges as chained JVM
    aggregate folds over the distinct-word table; the DuckDB oracle
    replays them as anchored string replaces — a cross-engine AND
    cross-form equivalence on the greedy merge scan."""
    from tiny_md_hbase_spark.operators import bpe as B

    return B.bpe_token_count(
        load_table(spark, sf_dir, "documents"), B.FIXTURE_MERGES
    )


def _q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-span removal (operators/text.py span_dedup):
    8-token runs occurring in >= 2 distinct documents deleted from every
    document — the ExactSubstr-style substring-level cleaning step that
    line- and document-level dedup miss. The fixture's exact-duplicate
    document groups guarantee non-vacuous span hits at every sf."""
    return TX.span_dedup(load_table(spark, sf_dir, "documents"))


def _q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix (operators/text.py
    source_overlap): distinct shared 8-gram counts per source pair —
    distinct-before-pair incidence so the count is a plain count(*),
    per-gram fan-out bounded by C(|sources|,2) (source count is
    metadata, no hub cap needed). The fixture's cross-source duplicate
    groups make the matrix non-vacuous at every sf."""
    return TX.source_overlap(load_table(spark, sf_dir, "documents"))


def _q_span_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production variant of span_dedup (operators/text.py
    span_dedup_hashed): LongType span keys from xxhash64 over the
    token-array window — 8-byte shuffle keys, window strings never
    materialized. Oracle = the md5 SQL twin: identical output barring a
    64-bit key collision (~1e-8 at 10^9 spans), the same cross-form
    adjudication as decontaminate_hashed / dedup_minhash_vs_exact."""
    return TX.span_dedup_hashed(load_table(spark, sf_dir, "documents"))


def _q_embedding_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized ANN (operators/similarity.py
    embedding_knn_quantized): corpus-wide max-abs scale → BIGINT dot
    products — exact integer scores, so the oracle match is
    bit-identical with no rounding epsilon."""
    return SIM.embedding_knn_quantized(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding corpus statistics
    (operators/similarity.py embedding_profile): 64×4 columnar
    aggregates in ONE pass, no explode; decimal-cast sums make the
    float statistics order-independent and bit-equal across engines."""
    return SIM.embedding_profile(load_table(spark, sf_dir, "embeddings"))


def _q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-quantile quality filter (operators/text.py
    quality_gate): keep the top ceil(N*0.3) docs by (quality desc,
    doc_id) via the bounded-cardinality histogram threshold — per-score
    counts + a metadata-sized cumulative window + boundary-class
    row_number, never a global sort of the corpus. The oracle is the
    naive row_number reference form the selection must equal."""
    return TX.quality_gate(load_table(spark, sf_dir, "documents"))


def _q_keyword_search_bm25_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Index-accelerated BM25 (sources/writer.py write_inverted_index +
    keyword_search_bm25_indexed): build the bucket-partitioned posting
    layout (now with the _doc_lens side table), then rank reading only
    the query terms' buckets — df from posting counts, N/avgdl from
    _doc_lens, the scan form's exact expression tree over pivoted tf
    columns. Must equal keyword_search_bm25 row-for-row, so its oracle
    SQL applies verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        keyword_search_bm25_indexed,
        write_inverted_index,
    )

    d = tempfile.mkdtemp(prefix="invidx_bm25_q_")
    try:
        write_inverted_index(
            load_table(spark, sf_dir, "documents"), f"{d}/idx"
        )
        return keyword_search_bm25_indexed(spark, f"{d}/idx").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_embedding_knn_quantized_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ANN over the MATERIALIZED int8 layout (sources/writer.py
    write_embeddings_quantized + embedding_knn_quantized_stored): build
    the quantized table (array<tinyint> + stored scale), query it with
    vec_id 1's float vector quantized under the stored scale. Integer
    scores — must equal the scan-form embedding_knn_quantized
    row-for-row, so that oracle applies verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_quantized_stored,
        write_embeddings_quantized,
    )

    d = tempfile.mkdtemp(prefix="sqlayout_q_")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        write_embeddings_quantized(emb, f"{d}/emb")
        q = emb.filter(F.col("vec_id") == 1).first()
        return embedding_knn_quantized_stored(
            spark, f"{d}/emb", [float(x) for x in q.embedding]
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_keyword_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-accelerated keyword search (sources/writer.py
    write_inverted_index + keyword_search_indexed): build the
    bucket-partitioned posting-list layout, then search touching only
    the query terms' bucket directories (partition pruning on literal
    buckets from the portable term hash). Returns exactly the rows of
    `keyword_search` — the scan-form oracle SQL applies verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        keyword_search_indexed,
        write_inverted_index,
    )

    d = tempfile.mkdtemp(prefix="invidx_q_")
    try:
        write_inverted_index(
            load_table(spark, sf_dir, "documents"), f"{d}/idx"
        )
        return keyword_search_indexed(spark, f"{d}/idx").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search, scan form (operators/text.py phrase_search):
    adjacency + order — what conjunctive keyword/BM25 cannot express.
    Per row the start offsets where the n-token window equals the
    phrase, counted by codegen'd array kernels; zero shuffle except the
    final TakeOrderedAndProject."""
    return TX.phrase_search(load_table(spark, sf_dir, "documents"))


def _q_phrase_search_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search over the POSITIONAL inverted index
    (sources/writer.py write_positional_index +
    phrase_search_positional): bucket-partitioned postings carrying
    sorted position lists; the probe reads only the query terms' bucket
    directories (PartitionFilters on literal buckets + term pushdown)
    and folds array_intersect(starts, positions_i - i) across the
    phrase — O(query terms' postings) per query, never O(corpus).
    Returns exactly the scan form's rows, so its oracle SQL applies
    verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        phrase_search_positional,
        write_positional_index,
    )

    d = tempfile.mkdtemp(prefix="pidx_q_")
    try:
        write_positional_index(
            load_table(spark, sf_dir, "documents"), f"{d}/idx"
        )
        return phrase_search_positional(spark, f"{d}/idx").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_corpus_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round trip (sources/jsonl.py): export the
    documents corpus as sharded JSONL, read it back under the enforced
    schema, return the full table — the oracle is a plain SELECT on
    documents, so matching proves the interchange path loses nothing
    (ids, unicode text, nulls, counts)."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.jsonl import (
        read_jsonl_corpus,
        write_jsonl_corpus,
    )

    d = tempfile.mkdtemp(prefix="jsonl_q_")
    try:
        write_jsonl_corpus(
            load_table(spark, sf_dir, "documents"), f"{d}/corpus", n_shards=8
        )
        return (
            read_jsonl_corpus(spark, f"{d}/corpus")
            .select("doc_id", "text", "lang", "source", "n_chars")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/text.py
    corpus_split): LCG-of-doc_id against integer ppm thresholds —
    layout/append-stable, zero shuffle."""
    return TX.corpus_split(load_table(spark, sf_dir, "documents"))


def _q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical Gopher quality rules (operators/text.py
    gopher_quality): five named boolean rules + conjunctive passes flag,
    one row-local codegen pass."""
    return TX.gopher_quality(load_table(spark, sf_dir, "documents"))


def _q_lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram-LM document scoring (operators/text.py
    lm_bigram_score): the perplexity-filter primitive with no external
    model — add-one-smoothed bigram probabilities from vocab-bounded
    aggregates, per-doc nll via a position-ordered deterministic fold."""
    return TX.lm_bigram_score(load_table(spark, sf_dir, "documents"))


def _q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PMI collocations (operators/text.py collocations): adjacent
    token pairs ranked by ASSOCIATION, not frequency — the lift ratio
    c_ab/(c_a*c_b) ranks identically to PMI on a fixed corpus and is
    computed as an exact integer (DECIMAL(38,0) div on Spark, HUGEINT //
    on DuckDB), so no float or libm log ever enters the ordering. The
    min-count guard kills the hapax-pair degeneracy; the top-k is
    TakeOrderedAndProject over vocabulary-joined pair counts."""
    return TX.collocations(load_table(spark, sf_dir, "documents"))


def _q_quality_gate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-quantile quality gate (operators/text.py
    quality_gate_by_source): every source keeps its own top
    ceil(n_source * 0.3) by (quality desc, doc_id) — the
    diversity-preserving form of the global gate (one high-quality
    source can no longer crowd other domains out of the mix). Same
    bounded-cardinality histogram selection, grouped on (source,
    quality): windows run over score CLASSES per source, never
    documents; only each source's boundary class ranks members."""
    return TX.quality_gate_by_source(load_table(spark, sf_dir, "documents"))


def _q_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only resize planning (operators/multimodal.py resize_meta)
    — pure JVM Column math, now ORACLE-checked: the media metadata is
    derived deterministically (dims 16+(i*7)%97 x 16+(i*13)%83, audio
    NULLs) so DuckDB reproduces the same inputs from range(96), and the
    varied dims exercise width-bound, height-bound, AND no-op
    (both sides <= max_side, scale clamps to 1) branches of the
    aspect-preserving floor arithmetic — the constant-dims synth_media
    form checked none of them. synth_media's payload plumbing stays
    covered by multimodal_features/frame_sample/media_dedup."""
    from tiny_md_hbase_spark.operators import multimodal as MM

    meta = spark.range(96).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3).cast("int") + 1,
        ).alias("kind"),
        F.when(F.col("id") % 3 != 1, (16 + (F.col("id") * 7) % 97).cast("int"))
        .alias("width"),
        F.when(F.col("id") % 3 != 1, (16 + (F.col("id") * 13) % 83).cast("int"))
        .alias("height"),
    )
    return MM.resize_meta(meta, max_side=32)


# 3-D derived view (d-dimensional codec demo): 10-bit x/y + 3-bit slot
_P3_BITS = 10


def _points3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("id"),
        (F.col("l_partkey") % 1024).cast("int").alias("x"),
        ((F.col("l_suppkey") * 997 + F.col("l_orderkey")) % 1024).cast("int").alias("y"),
        (F.col("l_linenumber") % 8).cast("int").alias("t"),
    )


_POINTS3D_SQL = (
    "SELECT l_orderkey * 8 + l_linenumber AS id, "
    "CAST(l_partkey % 1024 AS INTEGER) AS x, "
    "CAST((l_suppkey * 997 + l_orderkey) % 1024 AS INTEGER) AS y, "
    "CAST(l_linenumber % 8 AS INTEGER) AS t FROM lineitem"
)


def _q_zorder3d_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points3d(spark, sf_dir)
    return pts.select(
        "id", ZND.zvalue_nd(["x", "y", "t"], _P3_BITS).alias("zvalue3d")
    )


def _q_range_count_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _points3d(spark, sf_dir)
    box = {"x": (0, 511), "y": (256, 767), "t": (1, 4)}
    return pts.filter(ZND.rect_predicate_nd(box)).agg(F.count("*").alias("cnt"))


def _q_knn_3d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-D k nearest neighbors — the d-dimensional generalization of the
    reference's 2-D kNN (SURVEY.md §1.4: 'a d-dimensional generalization
    is mechanical'). Same TakeOrderedAndProject shape: squared distance
    kept exact in integers, (dist2, id) total order, distributed partial
    top-k + driver merge, no shuffle."""
    pts = _points3d(spark, sf_dir)
    qx, qy, qt, k = 512, 512, 4, 10
    d2 = (
        (F.col("x") - qx) * (F.col("x") - qx)
        + (F.col("y") - qy) * (F.col("y") - qy)
        + (F.col("t") - qt) * (F.col("t") - qt)
    ).cast("long")
    return (
        pts.select("id", "x", "y", "t", d2.alias("dist2"))
        .orderBy("dist2", "id")
        .limit(k)
    )


def _q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto skyline over the points table (operators/spatial.py
    skyline): minimize both axes; sort-free window rewrite — per-x
    minima (map-side), strict-cummin over the domain-bounded distinct-x
    table, broadcast join back. Oracle keeps the raw NOT-EXISTS
    dominance predicate (probed against the per-x minima), a genuinely
    different formulation."""
    from tiny_md_hbase_spark.operators import spatial as SP

    return SP.skyline(points(spark, sf_dir))


def _q_spatial_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spatial.spatial_histogram(points(spark, sf_dir), cell_bits=4)


BATCH_QUERY_IDS = (1, 2, 3)


def _q_embedding_knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    embs = load_table(spark, sf_dir, "embeddings")
    queries_df = embs.filter(F.col("vec_id").isin(*BATCH_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return SIM.embedding_knn_batch(embs, queries_df, KNN_K)


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SES.sessionize(load_table(spark, sf_dir, "events"))


def _q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top event-type paths across sessions (operators/sessions.py
    session_paths): sessions cut exactly as sessionize, each session's
    first-8 event types joined '>' and counted — the path-analysis
    report behind funnel refinement. Path truncation bounds distinct
    cardinality at |types|^8; one user_id shuffle end to end."""
    return SES.session_paths(load_table(spark, sf_dir, "events"))


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SES.asof_join(load_table(spark, sf_dir, "events"))


def _q_dq_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (operators/analytics.py dq_check):
    completeness / uniqueness / referential-integrity / domain rules in
    bulk — one fused conditional-aggregation pass per table plus
    key-only anti-joins, one (rule, n_violations, n_checked) row each.
    Three rules are deliberately violated by the fixture so the counts
    are non-vacuous."""
    return AN.dq_check(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.sales_rollup(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def _q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.topk_per_group(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


def _q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.event_type_deviation(load_table(spark, sf_dir, "events"))


def _q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.orders_without_lineitems(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


def _q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.parts_with_shipments(
        load_table(spark, sf_dir, "part"), load_table(spark, sf_dir, "lineitem")
    )


def _q_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.distinct_users(load_table(spark, sf_dir, "events"))


def _q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct estimate under a value-checked bound
    (operators/analytics.py approx_distinct_check): exact per-group
    counts hash-checked against the oracle, the sketch asserted within
    3·rsd of them via the TRUE-flag pattern — converts the formerly
    rows-only key (engine-specific sketch values) into a real oracle.
    The sketch-only production form stays approx_distinct_users."""
    return AN.approx_distinct_check(load_table(spark, sf_dir, "events"))


def _q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.click_days_without_purchase(load_table(spark, sf_dir, "events"))


def _q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.sales_cube(load_table(spark, sf_dir, "lineitem"))


def _q_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SES.rollup_hierarchy(load_table(spark, sf_dir, "events"))


def _q_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SES.latest_state(load_table(spark, sf_dir, "events"))


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.repetition_stats(load_table(spark, sf_dir, "documents"))


def _q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.chunk_documents(load_table(spark, sf_dir, "documents"))


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.decontaminate(load_table(spark, sf_dir, "documents"))


def _q_decontaminate_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production variant: xxhash64(gram) join keys. Oracle = the raw-string
    SQL twin — identical output barring a 64-bit hash collision (~1e-8 at
    10^9 grams)."""
    return TX.decontaminate_hashed(load_table(spark, sf_dir, "documents"))


def _q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/text.py
    decontaminate_bloom) — the LARGE-eval-side scale path: the eval
    grams fold into an m-bit Bloom bitset built as a DataFrame
    aggregate (groupBy(p div 64).agg(bit_or(shiftleft(1, p mod 64))) —
    m/64 rows bounded by the FILTER size), the corpus grams probe it
    via two tiny broadcast joins + codegen bitwise tests, and only the
    survivors cross a deliberate SHUFFLE join for the exact verify —
    the plan for eval sides too big for a broadcast hash table. The
    verify makes the output exact, so the oracle is decontaminate_sql
    verbatim."""
    return TX.decontaminate_bloom(load_table(spark, sf_dir, "documents"))


# TTL-dedup staging: arrival tick = doc_id*8; every 7th doc re-sent
# inside the horizon (+32 < ttl → suppressed), every 11th re-sent past
# it (+192 > ttl → re-admitted). Shared by the batch key, the streaming
# twin, and both oracles.
DEDUP_TTL = 64


def _stage_ttl_arrivals(docs: DataFrame) -> DataFrame:
    base = docs.select(
        "doc_id", "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8).alias("arrival"),
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8 + 32).alias("arrival"),
    )
    far = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8 + 192).alias("arrival"),
    )
    return base.unionByName(near).unionByName(far)


def _touch_in_order(src_dir: str) -> None:
    """Force the file stream's delivery order to match part-file order.
    FileStreamSource processes files by MODIFICATION TIME, and a
    parallel parquet write finishes its tasks in arbitrary order — so a
    4-file range-partitioned staging can arrive 3,1,2,0 even though
    part-00000 holds the lowest range. Operators whose contract needs
    in-order batches (stream_dedup_ttl's arrival ordering) get it by
    bumping mtimes in part-name order (part-00000 oldest), which is
    exactly how a real ingest's files behave: the hour-N file lands
    before the hour-N+1 file."""
    import glob as _glob

    parts = sorted(_glob.glob(f"{src_dir}/part-*"))
    base = os.stat(parts[0]).st_mtime if parts else 0
    for i, p in enumerate(parts):
        os.utime(p, (base + 10 * i, base + 10 * i))


_TTL_STAGED_CTE = (
    "WITH staged AS ("
    "SELECT doc_id, text, lang, source, n_chars, doc_id*8 AS arrival "
    "FROM documents "
    "UNION ALL SELECT doc_id+2000000, text, lang, source, n_chars, "
    "doc_id*8+32 FROM documents WHERE doc_id%7=0 "
    "UNION ALL SELECT doc_id+3000000, text, lang, source, n_chars, "
    "doc_id*8+192 FROM documents WHERE doc_id%11=0) "
)


def _q_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded (TTL) exact dedup (operators/dedup.py dedup_ttl):
    admit a document iff no same-fingerprint occurrence lies within the
    previous ttl arrival ticks, last-seen-renewal semantics (every
    sighting — admitted or suppressed — renews the clock). Since r14
    the lag chain is tick-reduced + epoch-salted (the structural
    hot-key guard: no window partition exceeds ttl+1 rows), an exact
    re-plan of the oracle's plain lag rule. The unbounded-stream answer
    to the forever-growing exact seen-set: state is O(content in the
    horizon). Staged arrivals plant an inside-horizon re-send
    (suppressed) and a past-horizon re-send (re-admitted) of known
    rows."""
    return D.dedup_ttl(
        _stage_ttl_arrivals(load_table(spark, sf_dir, "documents")), DEDUP_TTL
    )


def _q_stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TTL dedup end-to-end (streaming/ingest.py
    stream_dedup_ttl): the same staged arrivals written as
    arrival-ordered files, drained through the per-fingerprint
    last-arrival state sink (renewal on every sighting, physical expiry
    past the horizon at compaction — compact_every=2 so the 4-batch
    drain folds AND expires mid-drain), then read back from the output
    tree. The drained relation must equal the batch operator over
    everything that arrived, so the oracle is dedup_ttl's verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        DOCS_TTL_SCHEMA,
        read_stream_output,
        stream_dedup_ttl,
    )

    d = tempfile.mkdtemp(prefix="sttl_q_")
    try:
        staged = _stage_ttl_arrivals(load_table(spark, sf_dir, "documents"))
        staged.repartitionByRange(4, "arrival").write.parquet(f"{d}/src")
        _touch_in_order(f"{d}/src")  # deliver ranges in arrival order
        q = stream_dedup_ttl(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            ttl=DEDUP_TTL,
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        _await_drained(q)
        out = read_stream_output(
            spark, f"{d}/table/docs", DOCS_TTL_SCHEMA
        ).select("doc_id", "arrival", "lang", "source", "n_chars")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


# Event-time TTL staging: event_ts = doc_id*8 + (doc_id%7)*3 (bounded
# jitter, so events are OUT OF ORDER relative to the arrival staging
# but within the lateness bound); every 7th doc re-sent at event +32
# (< ttl → suppressed), every 11th at +192 (> ttl → re-admitted), each
# arriving one tick after its event. Shared by the batch key, the
# streaming twin, and both oracles.
DEDUP_TTL_EVENT_LATENESS = 64


def _stage_ttl_events(docs: DataFrame) -> DataFrame:
    base = docs.select(
        "doc_id", "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8).alias("arrival"),
        (F.col("doc_id") * 8 + (F.col("doc_id") % 7) * 3).alias("event_ts"),
    )
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8 + 33).alias("arrival"),
        (F.col("doc_id") * 8 + 32).alias("event_ts"),
    )
    far = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
        (F.col("doc_id") * 8 + 193).alias("arrival"),
        (F.col("doc_id") * 8 + 192).alias("event_ts"),
    )
    return base.unionByName(near).unionByName(far)


_TTL_EVENT_STAGED_CTE = (
    "WITH staged AS ("
    "SELECT doc_id, text, lang, source, n_chars, "
    "doc_id*8 + (doc_id%7)*3 AS event_ts FROM documents "
    "UNION ALL SELECT doc_id+2000000, text, lang, source, n_chars, "
    "doc_id*8+32 FROM documents WHERE doc_id%7=0 "
    "UNION ALL SELECT doc_id+3000000, text, lang, source, n_chars, "
    "doc_id*8+192 FROM documents WHERE doc_id%11=0) "
)


def _q_dedup_ttl_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded dedup on EVENT time (operators/dedup.py dedup_ttl
    with arrival='event_ts'): the re-crawl form — a page re-seen within
    ttl EVENT ticks of its previous sighting is suppressed (renewal),
    past it re-admitted — over a staging whose event order differs from
    its arrival order (bounded jitter + re-sends arriving one tick
    after their event). The same structural hot-key guard (tick-reduce
    + epoch-salt) runs on event ticks."""
    return D.dedup_ttl(
        _stage_ttl_events(load_table(spark, sf_dir, "documents")).drop(
            "arrival"
        ),
        DEDUP_TTL,
        arrival="event_ts",
    )


def _q_stream_dedup_ttl_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming event-time TTL dedup end-to-end (streaming/ingest.py
    stream_dedup_ttl_event): arrival-ordered files carry out-of-event-
    order rows; each micro-batch advances the watermark (max event -
    lateness), buffers rows above it and finalizes rows below it
    through the shared admit chain; rows below the previous watermark
    are refused loudly. After the drain, flush_dedup_ttl_event closes
    the pending tail, and the docs tree equals the batch operator on
    event_ts over everything staged — so the oracle is dedup_ttl_sql
    with tick='event_ts' verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        DOCS_EVENT_SCHEMA,
        flush_dedup_ttl_event,
        read_stream_output,
        stream_dedup_ttl_event,
    )

    d = tempfile.mkdtemp(prefix="sttlev_q_")
    try:
        staged = _stage_ttl_events(load_table(spark, sf_dir, "documents"))
        staged.repartitionByRange(4, "arrival").write.parquet(f"{d}/src")
        _touch_in_order(f"{d}/src")  # deliver ranges in arrival order
        q = stream_dedup_ttl_event(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            ttl=DEDUP_TTL,
            lateness=DEDUP_TTL_EVENT_LATENESS,
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        _await_drained(q)
        flush_dedup_ttl_event(spark, f"{d}/table", DEDUP_TTL)
        out = read_stream_output(
            spark, f"{d}/table/docs", DOCS_EVENT_SCHEMA
        ).select("doc_id", "event_ts", "lang", "source", "n_chars")
        return out.localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.table_profile(load_table(spark, sf_dir, "lineitem"))


def _q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction + aggregation
    (operators/analytics.py json_props_stats): props parsed ONCE per
    row with a fixed-schema from_json (JVM Jackson inside the scan
    stage, PERMISSIVE nulls for garbage rows), then map-side-partial
    aggregates per event_type. First exploitation of the events table's
    JSON column."""
    return AN.json_props_stats(load_table(spark, sf_dir, "events"))


def _q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK approximate quantiles under a value-checked rank bound
    (operators/analytics.py approx_quantiles_check): quantile labels +
    exact counts hash-checked, count(col <= v_q) asserted within
    q·n ± 2n/accuracy via the TRUE-flag pattern. One-pass production
    form stays approx_quantiles."""
    return AN.approx_quantiles_check(load_table(spark, sf_dir, "lineitem"))


def _q_table_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch profile under a value-checked bound
    (operators/analytics.py table_profile_approx_check): nulls / exact
    distinct / min / max hash-checked against the oracle, the sketch
    asserted within 3·rsd via the TRUE-flag pattern. The sketch-only
    production form (no k× exact-distinct row expansion) stays
    table_profile_approx."""
    return AN.table_profile_approx_check(load_table(spark, sf_dir, "lineitem"))


def _q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tiny_md_hbase_spark import sql as SQLF

    return SQLF.pricing_summary(spark, sf_dir)


def _q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape through the SQL facade (sql.py shipping_priority):
    segment+date-filtered customer/orders dims joined to lineitem,
    exact integer-micro revenue, top-10 under a total order. Catalyst
    broadcasts the filtered dims; TakeOrderedAndProject, no global
    sort. Oracle = the SAME SQL text on DuckDB."""
    from tiny_md_hbase_spark import sql as SQLF

    return SQLF.shipping_priority(spark, sf_dir)


def _q_sql_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape through the SQL facade (sql.py
    local_supplier_volume): the 6-way snowflake join with the
    customer-supplier same-nation co-location predicate — the classic
    join-order stress test; region/date filters prune before anything
    fact-sized joins. Oracle = the SAME SQL text on DuckDB."""
    from tiny_md_hbase_spark import sql as SQLF

    return SQLF.local_supplier_volume(spark, sf_dir)


def _q_sql_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape through the SQL facade (sql.py
    returned_revenue): quarter + returnflag filters prune the fact
    scan before the customer join; the nation lookup broadcasts;
    top-20 is TakeOrderedAndProject. Oracle = the SAME SQL text on
    DuckDB."""
    from tiny_md_hbase_spark import sql as SQLF

    return SQLF.returned_revenue(spark, sf_dir)


def _q_sql_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape through the SQL facade (sql.py large_orders):
    the HAVING-subquery → semi-join plan (aggregate lineitem once,
    semi-join the qualifying orderkeys back) — the aggregate-subquery
    planning shape Q3/Q5/Q10 don't cover. Oracle = the SAME SQL text
    on DuckDB."""
    from tiny_md_hbase_spark import sql as SQLF

    return SQLF.large_orders(spark, sf_dir)


def _q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.event_type_pivot(load_table(spark, sf_dir, "events"))


def _q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return AN.running_total(load_table(spark, sf_dir, "events"))


def _q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (operators/similarity.py
    embedding_project): 64-d → 16-d on a deterministic literal matrix —
    the dim-reduction preprocessing that cuts ANN dot-product and
    shuffle cost 4x; row-local, no shuffle. Graded in the unpivoted
    (vec_id, label, dim_idx, coord) form: the packed array<double>
    output is unhashable in the driver's pandas canonicalization
    (r06 ERR), and posexplode costs nothing — the generator runs in
    the same row-local stage."""
    return SIM.embedding_project_rows(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_knn_projected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN through the JL projection (operators/similarity.py
    embedding_knn_projected): projected-space top-overfetch*k candidates,
    exact full-vector re-rank — the whole prune→re-rank pipeline under
    the oracle."""
    return SIM.embedding_knn_projected(load_table(spark, sf_dir, "embeddings"))


def _q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flagging (operators/analytics.py
    anomaly_zscore): exact integer-cents sums make the score one
    conversion + sqrt + division — order-independent, hash-exact."""
    return AN.anomaly_zscore(load_table(spark, sf_dir, "events"))


def _q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of join end-to-end: the events table staged into a
    scratch stream source, drained through the stateful
    ``applyInPandasWithState`` operator in one availableNow trigger —
    output must equal the batch ``asof_join`` (same oracle SQL)."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="sasof_q_")
    try:
        load_table(spark, sf_dir, "events").write.parquet(f"{d}/src")
        q = (
            ING.stream_asof(spark, f"{d}/src")
            .writeStream.format("memory")
            .queryName("q_stream_asof_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        return spark.table("q_stream_asof_sink").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization end-to-end. The stateful operator emits a
    session only when it CLOSES; on a bounded replay the per-user tail
    session would stay open in the state store, so the staged source
    appends one far-future sentinel event per user (2× the session gap
    past that user's last event). The sentinel closes every real session
    and its own never emits — output equals batch ``sessionize`` exactly
    (same oracle). ``session_seq`` is reattached by ranking session start
    times per user, which is exact because session starts are strictly
    increasing within a user."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from tiny_md_hbase_spark.streaming import ingest as ING

    gap_ns = SES.SESSION_GAP_US * 1000
    d = tempfile.mkdtemp(prefix="ssess_q_")
    try:
        ev = load_table(spark, sf_dir, "events")
        sentinels = ev.groupBy("user_id").agg(F.max("ts").alias("mts")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.lit(2 * gap_ns)).alias("ts"),
            "user_id",
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
        ev.select(*sentinels.columns).union(sentinels).write.parquet(f"{d}/src")
        q = (
            ING.stream_sessionize(spark, f"{d}/src")
            .writeStream.format("memory")
            .queryName("q_stream_sessionize_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        out = spark.table("q_stream_sessionize_sink")
        seq = Window.partitionBy("user_id").orderBy("session_start_us")
        return (
            out.withColumn(
                "session_seq", (F.row_number().over(seq) - 1).cast("long")
            )
            .select(
                "user_id",
                "session_seq",
                "session_start_us",
                "session_end_us",
                "n_events",
                "sum_value_micros",
            )
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 interval build end-to-end (streaming/ingest.py
    stream_scd2). The stateful operator emits an interval only when the
    NEXT state arrives; on a bounded replay each user's open interval
    would stay in the state store, so the staged source appends one
    far-future disjoint-state sentinel per user — it closes the last
    real interval at the sentinel timestamp, which this entry maps back
    to the batch operator's NULL open end. Output equals batch
    ``scd2_intervals`` exactly (same DuckDB oracle)."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="sscd2_q_")
    try:
        ev = load_table(spark, sf_dir, "events")
        sentinels = ev.groupBy("user_id").agg(F.max("ts").alias("mts")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.lit(3_600_000_000_000)).alias("ts"),
            "user_id",
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
        ev.select(*sentinels.columns).union(sentinels).write.parquet(f"{d}/src")
        q = (
            ING.stream_scd2(spark, f"{d}/src")
            .writeStream.format("memory")
            .queryName("q_stream_scd2_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        out = spark.table("q_stream_scd2_sink")
        bounds = sentinels.select(
            "user_id", F.expr("ts div 1000").alias("sent_us")
        )
        return (
            out.join(bounds, "user_id")
            .select(
                "user_id",
                "state",
                "valid_from",
                F.when(
                    F.col("valid_to") == F.col("sent_us"), F.lit(None)
                ).otherwise(F.col("valid_to")).cast("long").alias("valid_to"),
                "n_events",
            )
            .orderBy("user_id", "valid_from")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming window counts end-to-end. In append mode a
    window only emits once the watermark passes its end; on a bounded
    replay the trailing windows would never finalize, so the staged
    source appends one global sentinel event 4 hours past the last real
    event — far enough that the 2-hour watermark clears every real
    1-hour window. The sentinel's own window never finalizes and its
    event_type is disjoint, so the emitted rows equal the batch window
    aggregation exactly."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="swin_q_")
    try:
        ev = load_table(spark, sf_dir, "events")
        sentinel = ev.agg(F.max("ts").alias("mts")).select(
            F.lit(-1).cast("long").alias("event_id"),
            (F.col("mts") + F.lit(4 * 3600 * 1_000_000_000)).alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("").alias("props"),
        )
        ev.select(*sentinel.columns).union(sentinel).write.parquet(f"{d}/src")
        q = (
            ING.stream_windowed_counts(spark, f"{d}/src")
            .writeStream.format("memory")
            .queryName("q_stream_windowed_sink")
            .outputMode("append")
            .option("checkpointLocation", f"{d}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q)
        return (
            spark.table("q_stream_windowed_sink")
            .filter(F.col("event_type") != "sentinel")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IV.interval_join(load_table(spark, sf_dir, "events"))


def _q_time_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IV.time_band_join(load_table(spark, sf_dir, "events"))


def _q_grouped_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return IV.grouped_histogram(load_table(spark, sf_dir, "lineitem"))


def _q_corpus_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional stratified sample (operators/text.py
    corpus_stratified): exactly 100 docs allocated across (lang,
    source) strata by largest-remainder quotas, picked within each
    stratum by (content-fingerprint, doc_id) order — count-exact where
    corpus_sample is rate-stable; metadata-sized quota windows, one
    stratum-partitioned pick window."""
    return TX.corpus_stratified(load_table(spark, sf_dir, "documents"))


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.corpus_sample(load_table(spark, sf_dir, "documents"))


def _q_pack_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.pack_tokens(load_table(spark, sf_dir, "documents"))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, D.ngram_jaccard(docs))


def _q_dedup_clusters_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED clustering path under the driver oracle:
    collect_limit=0 forces dedup_clusters past the driver union-find
    into min-label propagation to fixpoint (operators/graph.py
    connected_components — one edge⋈labels equi-join + map-side-partial
    min per round, O(component diameter) rounds, no driver graph
    state). Labels converge to the component-minimum doc_id — the same
    unique fixpoint the union-find and the recursive-CTE oracle
    compute, so all three forms must value-match. This is the path a
    >1M-edge pair graph takes at 100 TB; before this key it carried
    only local tests."""
    docs = load_table(spark, sf_dir, "documents")
    return D.dedup_clusters(docs, D.ngram_jaccard(docs), collect_limit=0)


def _q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD clustering form under the one recursive-CTE closure
    oracle: alternating star contraction (operators/graph.py
    connected_components_star — Kiveris et al. 2014), the O(log n)-
    round algorithm for pathological component diameters where
    min-label propagation's O(diameter) rounds would dominate. All
    three forms (driver union-find, min-label fixpoint, star
    contraction) converge to the component-minimum labeling, so one
    oracle text value-checks them all; the operator additionally
    self-verifies with an endpoint-agreement post-condition over the
    input edges."""
    from tiny_md_hbase_spark.operators import graph as G

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard(docs)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    comp = G.connected_components_star(
        docs.select(F.col("doc_id").alias("node")), edges
    )
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def _q_knn_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index/layout-accelerated exact kNN (the reference's best-first
    bucket expansion, Client.java:92-152, as an expanding-square search,
    spatial.py knn_indexed): materialize the z-encoded view, then search
    doubling square windows pruned by the rectangle + z-cover
    predicates until the k-th hit is inside the window. Returns exactly
    the rows of `knn` (same total-order tiebreak) — the plain knn oracle
    SQL applies verbatim."""
    pts = points(spark, sf_dir).withColumn(
        "zvalue", Z.zvalue("x", "y")
    ).localCheckpoint()
    return spatial.knn_indexed(pts, *KNN_Q, KNN_K, domain_max=4095)


def _q_stream_ingest_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest end-to-end (SURVEY.md §7 phase 5; the reference's
    per-point insert RPC loop, Client.java:55-59, amortized to
    micro-batches): stage the events fixture as arriving files, stream
    them through foreachBatch into a z-clustered points table with
    per-batch incremental index refresh (streaming/ingest.py
    stream_ingest_points), then answer the pinned rectangle count FROM
    THE INGESTED TABLE. The oracle computes the same count from the
    events fixture directly — matching proves the z-encode + sorted
    append + readback round trip loses nothing."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="singest_q_")
    try:
        ev = load_table(spark, sf_dir, "events")
        # several files => several micro-batches: first batch builds the
        # index, later ones exercise the incremental refresh path
        ev.repartition(4).write.parquet(f"{d}/src")
        q = ING.stream_ingest_points(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=2,
        )
        _await_drained(q)
        ingested = spark.read.parquet(f"{d}/table/points")
        return spatial.range_count(ingested, RECT_X, RECT_Y).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_ingest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding ingest into the clustered ANN layout
    (streaming/ingest.py stream_ingest_embeddings): the embeddings
    fixture staged as arriving files, drained micro-batch by
    micro-batch through the O(batch) append path under the stored
    centroids, then queried at FULL probe — which must equal exact
    brute-force kNN over the whole fixture, so the exact-kNN oracle
    applies verbatim. Proves route-on-arrival clustering loses
    nothing."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_clustered,
        write_embeddings_clustered,
    )
    from tiny_md_hbase_spark.streaming import ingest as ING

    d = tempfile.mkdtemp(prefix="semb_q_")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        emb.repartition(4).write.parquet(f"{d}/src")
        # initialize the layout (centroids + meta) on an empty relation;
        # every vector then arrives through the streaming append
        write_embeddings_clustered(emb.limit(0), f"{d}/emb")
        q = ING.stream_ingest_embeddings(
            spark,
            f"{d}/src",
            f"{d}/emb",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=2,
        )
        _await_drained(q)
        qv = emb.filter(F.col("vec_id") == 1).first()
        return embedding_knn_clustered(
            spark, f"{d}/emb", [float(x) for x in qv.embedding]
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-dedup end-to-end (streaming/ingest.py
    stream_dedup_docs): the corpus plus planted duplicates (every 7th
    doc re-sent under a shifted id, every 11th doubled) staged as
    arriving files, drained through the cross-batch fingerprint dedup
    sink, then counted per language FROM THE INGESTED TABLE. Exactly
    one survivor per distinct content must remain regardless of batch
    order, so the oracle is count(DISTINCT text) per lang over the same
    staged set. compact_every=2 so the 4-batch drain folds the seen-set
    into a snapshot MID-DRAIN — the driver's oracle covers the
    compaction read path, not just the per-batch one."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import stream_dedup_docs

    d = tempfile.mkdtemp(prefix="sdedup_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        staged = (
            base.unionByName(
                base.filter(F.col("doc_id") % 7 == 0).select(
                    (F.col("doc_id") + 2_000_000).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
            )
            .unionByName(
                base.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 3_000_000).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
            )
        )
        staged.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_dedup_docs(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        _await_drained(q)
        docs = spark.read.parquet(f"{d}/table/docs")
        return (
            docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("lang")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_output_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OUTPUT compaction end-to-end (streaming/ingest.py
    compact_stream_output): the same staged corpus-plus-planted-dups
    drain as stream_dedup_docs, then the drained ``docs/batch=<id>``
    tree is FOLDED into a size-targeted snapshot (write-then-delete
    under _SUCCESS, newest batch excluded for replay safety) and read
    back through read_stream_output's snapshot+live selection rule.
    The per-lang counts must equal the uncompacted drain — i.e. the
    stream_dedup_docs oracle verbatim — proving compaction is purely
    a layout change: O(batches) listing work becomes O(1) directories
    for every downstream read, with zero effect on the relation."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        DOCS_SCHEMA,
        compact_stream_output,
        read_stream_output,
        stream_dedup_docs,
    )

    d = tempfile.mkdtemp(prefix="socompact_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        staged = (
            base.unionByName(
                base.filter(F.col("doc_id") % 7 == 0).select(
                    (F.col("doc_id") + 2_000_000).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
            )
            .unionByName(
                base.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 3_000_000).alias("doc_id"),
                    "text", "lang", "source", "n_chars",
                )
            )
        )
        staged.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_dedup_docs(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        _await_drained(q)
        folded = compact_stream_output(spark, f"{d}/table/docs", DOCS_SCHEMA)
        assert folded >= 1, "drain produced nothing to fold"
        docs = read_stream_output(spark, f"{d}/table/docs", DOCS_SCHEMA)
        return (
            docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"))
            .orderBy("lang")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup detection end-to-end (streaming/ingest.py
    stream_dedup_near): the corpus staged as doc_id-ordered arriving
    files, drained through the route-on-arrival MinHash-LSH sink
    (portable hashed-shingle sketches + band-bucket state + exact
    hashed-set Jaccard verify), then the accumulated PAIRS table read
    back. Uncapped here so the drained pair set is arrival-order-free
    and equals the batch twin exactly (dedup.stream_dedup_near_sql);
    the keep-first bucket cap is pinned by tests instead.
    compact_every=2 so the 4-batch drain folds the bands/hs state into
    snapshots MID-DRAIN — the driver's oracle covers the compaction
    read path (and the bucket-pruned band reads), not just the
    per-batch one."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import stream_dedup_near

    d = tempfile.mkdtemp(prefix="sneardup_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        base.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_dedup_near(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            max_bucket_width=None,
            available_now=True,
            max_files_per_trigger=1,
            compact_every=2,
        )
        _await_drained(q)
        return (
            spark.read.parquet(f"{d}/table/pairs")
            .select("doc_a", "doc_b", "jaccard")  # drop the batch partition col
            .orderBy("doc_a", "doc_b")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming weight-proportional corpus sampling end-to-end
    (streaming/ingest.py stream_sample): the corpus staged as arriving
    files, drained through the k-bounded DLT top-(k+1) state, then the
    sample read back. The drained result is EXACTLY the batch
    corpus_weighted_sample over everything that arrived — the oracle
    is literally corpus_weighted_sample_sql (same priorities, same tau,
    same unbiased estimator, unrounded doubles and all)."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        read_stream_sample,
        stream_sample,
    )

    d = tempfile.mkdtemp(prefix="ssample_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        base.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_sample(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        _await_drained(q)
        return read_stream_sample(spark, f"{d}/table").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_corpus_stratified_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DLT priority sampling (operators/text.py
    corpus_stratified_weighted): an independent weight-proportional
    k-sample per source with per-source tau/estimator — the
    per-stratum form of corpus_weighted_sample a multi-source
    pretraining budget needs. Skew-safe per-source top-(k+1)."""
    return TX.corpus_stratified_weighted(load_table(spark, sf_dir, "documents"))


def _q_corpus_stratified_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-driven per-source DLT sampling (operators/text.py
    corpus_stratified_quota): the temperature schedule decides each
    source's budget (corpus_temperature's exact Hamilton quotas at
    T=2) and the sampler draws exactly that many per source in one
    operator — rank and tau compared to the joined per-source quota
    instead of one constant k (r12 verdict #3). Skew-safe top at the
    max quota; oracle computes quotas + sampling in one chained CTE."""
    return TX.corpus_stratified_quota(
        load_table(spark, sf_dir, "documents"), budget=120, temperature=2.0
    )


def _q_stream_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-source weighted sampling end-to-end
    (streaming/ingest.py stream_sample_stratified): the corpus staged
    as arriving files, drained through the per-source top-(k+1) DLT
    state (bounded by n_sources x (k+1), latest-directory reads), then
    the per-source sample read back — EXACTLY the batch
    corpus_stratified_weighted over everything that arrived, so the
    oracle is corpus_stratified_weighted_sql verbatim."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import (
        read_stream_sample_stratified,
        stream_sample_stratified,
    )

    d = tempfile.mkdtemp(prefix="ssamps_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        base.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_sample_stratified(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        _await_drained(q)
        return read_stream_sample_stratified(spark, f"{d}/table").localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_sample_stratified_quota(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The QUOTA-DRIVEN streaming sampler end-to-end (streaming/
    ingest.py stream_sample_stratified with a quotas spec): the
    temperature schedule's Hamilton quotas (budget=120, T=2 — the same
    spec as corpus_stratified_quota) decide each source's k_s, the
    corpus arrives as files, and the drained per-source state
    (Σ(k_s+1) rows, latest-directory monotone-per-stratum) reads back
    EXACTLY the batch corpus_stratified_quota — so the oracle is
    corpus_stratified_quota_sql verbatim: quotas + sampling in one
    chained CTE, checked against a multi-batch drain."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators.text import corpus_temperature
    from tiny_md_hbase_spark.streaming.ingest import (
        read_stream_sample_stratified,
        stream_sample_stratified,
    )

    d = tempfile.mkdtemp(prefix="ssampq_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        quotas = corpus_temperature(base, budget=120, temperature=2.0)
        base.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_sample_stratified(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
            quotas=quotas,
        )
        _await_drained(q)
        return read_stream_sample_stratified(
            spark, f"{d}/table", quotas=quotas
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming benchmark decontamination end-to-end
    (streaming/ingest.py stream_decontaminate): the TRAIN side of the
    corpus staged as arriving files, the eval side (doc_id % 50 == 0,
    the batch operator's split) materialized once as the broadcast
    eval-gram table, every arrival checked at ingest time. The drained
    hits table equals the batch decontaminate over the whole corpus,
    so the oracle is decontaminate_sql verbatim. Stateless across
    batches; exactly-once via hits/batch=<id> overwrite."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.operators.text import DECON_EVAL_MOD
    from tiny_md_hbase_spark.streaming.ingest import stream_decontaminate

    d = tempfile.mkdtemp(prefix="sdecon_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        train = base.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
        eval_docs = base.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
        train.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_decontaminate(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            eval_docs=eval_docs,
            available_now=True,
            max_files_per_trigger=1,
        )
        _await_drained(q)
        return (
            spark.read.parquet(f"{d}/table/hits")
            .select("train_doc_id", "eval_doc_id", "n_shared_grams")
            .orderBy("train_doc_id", "eval_doc_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted data-mixture sampling (operators/text.py
    corpus_mix): keep each doc with its language's target rate, decided
    by lcg(doc_id) — layout/rerun/append-stable, no shuffle."""
    return TX.corpus_mix(load_table(spark, sf_dir, "documents"))


def _q_corpus_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subset selection (operators/text.py corpus_budget):
    per language, take documents in deterministic shuffle order until
    the running token total fills the budget — turns mixture rates into
    an exact token allocation."""
    return TX.corpus_budget(load_table(spark, sf_dir, "documents"))


def _q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (near-duplicate) train/eval decontamination via the
    portable-MinHash band join + exact shingle-Jaccard verify
    (operators/dedup.py decontaminate_fuzzy) — catches paraphrase-level
    leakage the exact shared-n-gram `decontaminate` misses. Whole
    probabilistic pipeline under the oracle."""
    return D.decontaminate_fuzzy(load_table(spark, sf_dir, "documents"))


def _q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic shuffle/shard manifest (operators/text.py
    corpus_shuffle): pseudo-random shard + dense in-shard position as a
    pure function of doc_id — the write-training-shards step."""
    return TX.corpus_shuffle(load_table(spark, sf_dir, "documents"))


def _q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source frequency cap (operators/text.py source_cap): at most
    ``cap`` documents per source, longest-first — the domain-balancing
    step, implemented as skew-safe two-phase top-N (local rank within
    (source, shard), global re-rank over ≤ cap × n_shards survivors) so
    a dominant crawl host never funnels through one task."""
    return TX.source_cap(load_table(spark, sf_dir, "documents"))


def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merit-based cluster survivor selection (operators/dedup.py
    dedup_keep_best): near-dup clusters from the ngram_jaccard +
    dedup_clusters pipeline, then ONE max_by aggregation picks each
    cluster's longest member as the survivor — no window sort, map-side
    partial argmax."""
    docs = load_table(spark, sf_dir, "documents")
    clusters = D.dedup_clusters(docs, D.ngram_jaccard(docs))
    return D.dedup_keep_best(docs, clusters)


def _q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (operators/similarity.py
    centroid_assign): the k-means / IVF assignment kernel as a
    zero-shuffle per-row array fold against deterministic seed
    centroids, exactly matched by the DuckDB cross-join argmin."""
    return SIM.centroid_assign(load_table(spark, sf_dir, "embeddings"))


def _q_embedding_knn_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over the materialized cluster-partitioned layout
    (sources/writer.py write_embeddings_clustered +
    append_embeddings_clustered + embedding_knn_clustered): HALF the
    embeddings written, the other half APPENDED through the incremental
    path (fixed centroids: O(batch) ingest, no re-clustering), probed at
    n_probe=ALL so the result must equal exact brute-force kNN over the
    union — one recall=1.0 boundary oracle proving both the layout and
    its append maintenance. The pruning evidence (n_probe=4 reads only
    4 partition directories) is pinned separately in
    tests/test_plans.py."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.sources.writer import (
        append_embeddings_clustered,
        embedding_knn_clustered,
        write_embeddings_clustered,
    )

    d = tempfile.mkdtemp(prefix="ivflayout_q_")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        half = F.pmod(F.col("vec_id"), F.lit(2)) == 0
        write_embeddings_clustered(emb.filter(half), f"{d}/emb")
        append_embeddings_clustered(emb.filter(~half), f"{d}/emb")
        q = emb.filter(F.col("vec_id") == 1).first()
        return embedding_knn_clustered(
            spark, f"{d}/emb", [float(x) for x in q.embedding]
        ).localCheckpoint()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_stream_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming manifest maintenance (streaming/ingest.py
    stream_manifest): the corpus staged as arriving files, drained one
    file per micro-batch, each batch's per-shard manifest delta merged
    into the persisted manifest. The additive checksum makes the merge
    exact, so the incrementally-maintained result must be BIT-IDENTICAL
    to the batch corpus_manifest over the whole corpus — which is the
    oracle."""
    import shutil
    import tempfile

    from tiny_md_hbase_spark.streaming.ingest import stream_manifest

    d = tempfile.mkdtemp(prefix="smanifest_q_")
    try:
        base = load_table(spark, sf_dir, "documents")
        base.repartitionByRange(4, "doc_id").write.parquet(f"{d}/src")
        q = stream_manifest(
            spark,
            f"{d}/src",
            f"{d}/table",
            f"{d}/ckpt",
            available_now=True,
            max_files_per_trigger=1,
        )
        _await_drained(q)
        return (
            spark.read.parquet(f"{d}/table/manifest")
            .drop("last_batch_id")  # replay-idempotence stamp, not data
            .orderBy("shard")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _q_sql_zcodec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The z-codec through the SQL-only door (sql.py
    register_codec_functions): Spark SQL scalar UDFs whose bodies the
    planner inlines into whole-stage codegen — encode, decode-back, and
    a prefix self-match over the points view. The oracle pins the
    roundtrip identity (x_rt = x, y_rt = y) and the DuckDB-computed
    z-values, proving the third spelling of the codec (Column / Spark
    SQL / DuckDB SQL) agrees."""
    return _SQLF.zcodec_roundtrip(spark, sf_dir)


def _q_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard integrity manifest (operators/text.py corpus_manifest):
    doc counts, token totals, doc_id spans, and an order-independent
    portable content checksum per corpus_shuffle shard — one map-side
    partial aggregation, the dataset-card / corruption-audit artifact."""
    return TX.corpus_manifest(load_table(spark, sf_dir, "documents"))


def _q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 / CDC state-interval build (operators/timeseries.py
    scd2_intervals): per-user event streams compact to effective-dated
    (state, valid_from, valid_to) intervals via gaps-and-islands —
    consecutive same-state events collapse, valid_to is the next
    interval's start (NULL while current). One user_id shuffle; every
    window and the island aggregation reuse it."""
    return TS.scd2_intervals(load_table(spark, sf_dir, "events"))


def _q_change_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point per event type (operators/timeseries.py
    change_points): argmax of the all-integer scaled cumulative
    deviation n·Σc − t·T over the hourly spine — detects sustained
    level shifts where z-score flagging only sees isolated outliers."""
    return TS.change_points(load_table(spark, sf_dir, "events"))


def _q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per event type with zero-fill + forward-fill
    (operators/timeseries.py gap_fill): raw events collapse to the
    bounded per-type spine with map-side partials first; the ordered
    window only ever sorts span/bucket rows per type."""
    return TS.gap_fill(load_table(spark, sf_dir, "events"))


def _q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24 h sum/count per event type at each observed hourly
    bucket — RANGE frame over integer epoch seconds so gaps behave
    identically in both engines."""
    return TS.rolling_stats(load_table(spark, sf_dir, "events"))


def _q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open/high/low/close hourly downsampling per event type
    (operators/timeseries.py ohlc): first/last resolved by strict
    (ts_us, event_id) order via struct min/max — one map-side-partial
    shuffle, no window."""
    return TS.ohlc(load_table(spark, sf_dir, "events"))


def _q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel, first-touch semantics,
    all stages co-partitioned on user_id."""
    return TS.funnel(load_table(spark, sf_dir, "events"))


def _q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over distinct (user, week)
    activity."""
    return TS.retention(load_table(spark, sf_dir, "events"))


def _q_hilbert_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve encode (hilbert.py): the locality-preserving
    alternative to the reference's Morton/Z keys (Utils.java:32-47) —
    consecutive curve positions are always unit grid steps, so range
    scans cross fewer partition boundaries (Moon et al., TKDE 2001).
    12 chained codegen'd projections carrying (x, y, d) state columns
    (Catalyst won't collapse them — each state column is multiply
    referenced — so the pipeline stays native column arithmetic, ~12x
    the fold form's throughput): no UDF, no shuffle; the DuckDB twin is
    the same transform as 12 chained CTE rounds with per-round renamed
    state columns."""
    return HB.hilbert_encode(
        points(spark, sf_dir).select("id", "x", "y")
    ).select("id", "h")


def _q_hilbert_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse Hilbert transform over an id-derived distance column
    (independent of the encode path; the exact-roundtrip property is
    pytest-pinned separately). Same chained-projection shape, bit
    planes lowest-first."""
    ds = points(spark, sf_dir).select(
        "id", (F.col("id") % (4096 * 4096)).alias("d")
    )
    return HB.hilbert_decode(ds).select("id", "x", "y")


def _q_corpus_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture spec (operators/text.py
    corpus_temperature): per-source Hamilton quotas of a 1,000-doc
    budget under w = sqrt(n) (T=2) — the multilingual-pretraining
    mixture-flattening rule. sqrt is IEEE-correctly-rounded, so
    shares/floors/remainder ranks are bit-identical cross-engine. All
    arithmetic over the SOURCE-sized table; one map-side count is the
    only per-document work."""
    return TX.corpus_temperature(load_table(spark, sf_dir, "documents"))


def _q_corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE the temperature mixture (operators/text.py
    corpus_temperature_sample): exactly 300 documents with per-source
    counts equal to the T=2 Hamilton quotas, picked within each source
    by (content-fingerprint, doc_id) order — spec and execution share
    one quota computation. Broadcast quota join + one source-partitioned
    pick window; same single-shuffle shape as corpus_stratified."""
    return TX.corpus_temperature_sample(
        load_table(spark, sf_dir, "documents"), budget=300
    )


def _q_knn_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding-square exact kNN over the Hilbert-keyed table
    (operators/spatial.py knn_hilbert): each round's window is pruned
    by the ≤16-interval Hilbert cover instead of knn_indexed's z
    cover. Exact: same rows and total order as `knn` (the knn SQL is
    the oracle verbatim)."""
    pts = HB.hilbert_encode(points(spark, sf_dir)).localCheckpoint()
    return spatial.knn_hilbert(pts, *KNN_Q, KNN_K, domain_max=4095)


def _q_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded single-source MIN-COST paths (operators/graph.py
    shortest_path_weighted): 3 Bellman-Ford relaxation rounds over the
    weighted purchase graph (w = distinct linking orders) — exact
    integer costs, early-exit via the count+XOR fingerprint idiom, one
    node-keyed join + min-agg per round. The DuckDB twin enumerates all
    ≤3-edge walks recursively and min-aggregates (equal by the BF
    invariant)."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges_weighted(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return G.shortest_path_weighted(edges)


def _q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters under the TRUE-flag bound oracle
    (operators/analytics.py heavy_hitters_cms): exact top-20 token
    counts value-checked, the STRUCTURAL overcount guarantee
    (estimate ≥ exact for every seed) a pinned-TRUE output column —
    the third sketch family next to the HLL and GK checks, same
    check/production split. The probabilistic eps bound is pinned by
    tests (test_analytics.py::test_cms_eps_bound_from_exact_counts,
    incl. a perturbed seed), NOT by the value oracle: no SQL engine
    can recompute a sketch estimate, and a pinned probabilistic flag
    could legitimately flip on a seed/fixture change (r09 #6)."""
    return AN.heavy_hitters_cms(load_table(spark, sf_dir, "documents"))


def _q_heavy_hitters_cms_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist-and-merge form of the CMS family (operators/analytics.py
    write_cms_shards + heavy_hitters_cms_merged): per-shard Count-Min
    partials materialized as a parquet side table, merged driver-side
    (counters are additive), answered top-k from the MERGED sketch.
    The merge's exactness vs the one-scan sketch is a STRUCTURAL
    output column (bit-for-bit counter equality, any seed), so the
    pinned-TRUE oracle is unconditional; a _cms_meta marker row pins
    the sketch parameters beside the shards and the merge refuses a
    mismatch loudly."""
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="cms_shards_")
    try:
        AN.write_cms_shards(docs, f"{tmp}/shards")
        out = AN.heavy_hitters_cms_merged(docs, f"{tmp}/shards")
    finally:
        # the sketch blobs are already merged driver-side and the output
        # is a collected k-row local relation — the scratch table can go
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _q_sfc_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact space-filling-curve locality comparison (hilbert.py
    sfc_locality): walk the dense order-6 grid in key order under each
    codec and sum the Manhattan step between consecutive cells. Hilbert
    = 4,095 total (every step exactly 1, max 1); Z-order = 8,064 with
    max jump 64 — the quantified reason a Hilbert-clustered layout
    touches fewer partition boundaries per rectangle (Moon et al.,
    TKDE 2001). All-BIGINT output; grid is metadata-sized (4,096
    cells), windows bounded by construction."""
    return HB.sfc_locality(spark)


def _q_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (operators/graph.py
    shortest_path) over the bidirectional customer↔supplier purchase
    graph, ≤3 hops from the lowest customer node. Frontier-style
    Pregel BFS: one frontier⋈edges equi-join + one node-keyed
    left-anti per round, distance table node-sized, lineage cut per
    round; the DuckDB twin is a recursive CTE min-aggregated to hop
    distance."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    return G.shortest_path(edges)


def _q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional k-sample without replacement by DLT priority
    sampling (operators/text.py corpus_weighted_sample): priority =
    w·P/u with u an exact-integer per-doc uniform, top-k planned as
    TakeOrderedAndProject (per-partition top-k, no full sort), plus the
    DLT unbiased weight estimator max(w, τ). The single float division
    has exact-in-double operands, so the DuckDB twin's top-k boundary
    agrees bit-for-bit."""
    return TX.corpus_weighted_sample(load_table(spark, sf_dir, "documents"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks the first 50 keys.
    # Round-14 rotation (derived from CORRECTNESS_r01-r13 by
    # scripts/rotation_audit.py — run it when planning the next one).
    # Window composition (50):
    #   1-8: the eight NEW r14 keys (corpus_redact, collocations,
    #   quality_gate_by_source, dedup_ttl_event, stream_dedup_ttl_event,
    #   doc_scan_zonemap, emb_scan_zonemap, stream_index_maintain) —
    #   rotation_audit invariant 1: new keys enter the window for their
    #   first driver verdict.
    #   9-26: the ENTIRE 18-key r09 staleness cohort (sales_rollup ...
    #   stream_dedup) — the r13 verdict's Next-round #1; burning it
    #   lifts the out-of-window floor to r10.
    #   27-50: the 24 oldest r10 keys per rotation_audit's printed
    #   front (skyline ... corpus_jsonl_roundtrip; dedup_incremental,
    #   anomaly_zscore and embedding_knn_projected were displaced by
    #   the newest keys — they stay r10-verified and lead the next
    #   rotation).
    # Below the marker: every remaining key by ascending last-verdict
    # round — verdict age stays monotone down the dict.
    return {
        # -- r14 window 1-6: the six NEW keys needing first verdicts —
        # targeted delete-by-id over the pk-clustered corpus layout
        # (zone-map-pruned file rewrite — the delete the reference's
        # API lacks entirely),
        "corpus_redact": _q_corpus_redact,
        # PMI collocations — association-ranked adjacent pairs under an
        # exact integer lift score (no float in the ordering)
        "collocations": _q_collocations,
        # per-source exact-quantile gate (grouped histogram selection)
        "quality_gate_by_source": _q_quality_gate_by_source,
        # the event-time TTL dedup pair (watermarked out-of-order
        # arrivals; drain + flush equals the batch operator on event
        # ticks), the corpus/embedding zone-map scans (file skipping
        # generalized off the points table), and streaming text-index
        # maintenance (additive posting deltas; the post-drain BM25
        # probe hash-matches the scan form's oracle).
        "dedup_ttl_event": _q_dedup_ttl_event,
        "stream_dedup_ttl_event": _q_stream_dedup_ttl_event,
        "doc_scan_zonemap": _q_doc_scan_zonemap,
        "emb_scan_zonemap": _q_emb_scan_zonemap,
        "stream_index_maintain": _q_stream_index_maintain,
        # -- r14 window 6-23: the ENTIRE 18-key r09 staleness cohort
        # (the r13 verdict's Next-round #1; the judge re-verified all
        # 18 in r13 — this records them in the driver ledger and lifts
        # the out-of-window floor to r10).
        "sales_rollup": _q_sales_rollup,
        "topk_per_group": _q_topk_per_group,
        "anti_join": _q_anti_join,
        "semi_join": _q_semi_join,
        "distinct_count": _q_distinct_count,
        "set_except": _q_set_except,
        "sales_cube": _q_sales_cube,
        "rollup_hierarchy": _q_rollup_hierarchy,
        "latest_state": _q_latest_state,
        "pivot": _q_pivot,
        "table_profile": _q_table_profile,
        "chunk_documents": _q_chunk_documents,
        "decontaminate": _q_decontaminate,
        "repetition_stats": _q_repetition_stats,
        "corpus_sample": _q_corpus_sample,
        "pack_tokens": _q_pack_tokens,
        "windowed_counts": _q_windowed_counts,
        "stream_dedup": _q_stream_dedup,
        # -- r14 window 24-50: the 27 oldest r10 keys, in
        # rotation_audit's suggested order.
        "skyline": _q_skyline,
        "keyword_search_indexed": _q_keyword_search_indexed,
        "keyword_search_bm25_indexed": _q_keyword_search_bm25_indexed,
        "heavy_hitters_cms": _q_heavy_hitters_cms,
        "dedup_clusters": _q_dedup_clusters,
        "spatial_histogram": _q_spatial_histogram,
        "corpus_clean": _q_corpus_clean,
        "top_tokens": _q_top_tokens,
        "text_percentiles": _q_text_percentiles,
        "text_stats_rollup": _q_text_stats_rollup,
        "zorder3d_encode": _q_zorder3d_encode,
        "range_count_3d": _q_range_count_3d,
        "write_path_refresh": _q_write_path_refresh,
        "floor_lookup_batch": _q_floor_lookup_batch,
        "dedup_simhash_band_exact": _q_dedup_simhash_band_exact,
        "embedding_knn_ivf_kmeans_full": _q_embedding_knn_ivf_kmeans_full,
        "corpus_diff": _q_corpus_diff,
        "corpus_prepare": _q_corpus_prepare,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "keyword_search": _q_keyword_search,
        "lm_bigram_score": _q_lm_bigram_score,
        "gopher_quality": _q_gopher_quality,
        "corpus_split": _q_corpus_split,
        "corpus_jsonl_roundtrip": _q_corpus_jsonl_roundtrip,
        # ---- driver window ends here (first 50 keys) -------------------
        # (dedup_incremental, anomaly_zscore and embedding_knn_projected
        # were displaced from the window tail by the newest r14 keys —
        # they stay r10-verified and lead the next rotation)
        "dedup_incremental": _q_dedup_incremental,
        "anomaly_zscore": _q_anomaly_zscore,
        "embedding_knn_projected": _q_embedding_knn_projected,
        # Below the marker: every remaining key by ascending last-verdict
        # round (r10 remainder, r11, r12, and the r13 window at the back)
        # — verdict age stays monotone down the dict.
        "source_cap": _q_source_cap,
        "dedup_keep_best": _q_dedup_keep_best,
        "centroid_assign": _q_centroid_assign,
        "corpus_manifest": _q_corpus_manifest,
        "sql_zcodec": _q_sql_zcodec,
        "stream_manifest": _q_stream_manifest,
        "gap_fill": _q_gap_fill,
        "rolling_stats": _q_rolling_stats,
        "ohlc": _q_ohlc,
        "funnel": _q_funnel,
        "retention": _q_retention,
        "index_build": _q_index_build,
        "index_inspect": _q_index_inspect,
        "floor_lookup": _q_floor_lookup,
        "ppm_decode": _q_ppm_decode,
        "ppm_resize": _q_ppm_resize,
        "ppm_frames": _q_ppm_frames,
        "wav_decode": _q_wav_decode,
        "dedup_minhash": _q_dedup_minhash,
        "dedup_minhash_portable": _q_dedup_minhash_portable,
        "dedup_minhash_vs_exact": _q_dedup_minhash_vs_exact,
        "dedup_minhash_capped": _q_dedup_minhash_capped,
        "dedup_embedding_lsh": _q_dedup_embedding_lsh,
        "dedup_embedding_lsh_capped": _q_dedup_embedding_lsh_capped,
        "embedding_knn_batch": _q_embedding_knn_batch,
        "heavy_hitters_cms_merged": _q_heavy_hitters_cms_merged,
        "asof_join": _q_asof_join,
        "stream_asof": _q_stream_asof,
        "stream_sessionize": _q_stream_sessionize,
        "dedup_embedding": _q_dedup_embedding,
        "decontaminate_hashed": _q_decontaminate_hashed,
        "knn_3d": _q_knn_3d,
        "span_dedup": _q_span_dedup,
        "bpe_pair_counts": _q_bpe_pair_counts,
        "pagerank": _q_pagerank,
        "co_purchase": _q_co_purchase,
        "resize_meta": _q_resize_meta,
        "span_dedup_hashed": _q_span_dedup_hashed,
        "bpe_token_count": _q_bpe_token_count,
        "dedup_clusters_distributed": _q_dedup_clusters_distributed,
        "approx_quantiles": _q_approx_quantiles,
        "sql_shipping_priority": _q_sql_shipping_priority,
        "sql_supplier_volume": _q_sql_supplier_volume,
        "source_overlap": _q_source_overlap,
        "dedup_clusters_star": _q_dedup_clusters_star,
        "pagerank_weighted": _q_pagerank_weighted,
        "triangle_count": _q_triangle_count,
        "scd2_intervals": _q_scd2_intervals,
        "sql_returned_revenue": _q_sql_returned_revenue,
        "sql_large_orders": _q_sql_large_orders,
        "hybrid_search_rrf": _q_hybrid_search_rrf,
        "session_paths": _q_session_paths,
        "dq_check": _q_dq_check,
        "k_core": _q_k_core,
        "change_points": _q_change_points,
        "vocab_growth": _q_vocab_growth,
        "corpus_stratified": _q_corpus_stratified,
        "embedding_project": _q_embedding_project,
        "approx_distinct": _q_approx_distinct,
        "table_profile_approx": _q_table_profile_approx,
        "sql_pricing_summary": _q_sql_pricing_summary,
        "corpus_stratified_weighted": _q_corpus_stratified_weighted,
        "stream_sample_stratified": _q_stream_sample_stratified,
        "stream_decontaminate": _q_stream_decontaminate,
        "stream_dedup_near": _q_stream_dedup_near,
        "stream_dedup_docs": _q_stream_dedup_docs,
        "stream_sample": _q_stream_sample,
        "bucket_route": _q_bucket_route,
        "insert_append": _q_insert_append,
        "skew_join": _q_skew_join,
        "running_total": _q_running_total,
        "knn_indexed": _q_knn_indexed,
        "stream_ingest_points": _q_stream_ingest_points,
        "corpus_mix": _q_corpus_mix,
        "decontaminate_fuzzy": _q_decontaminate_fuzzy,
        "full_scan": _q_full_scan,
        "range_query": _q_range_query,
        "range_query_cover": _q_range_query_cover,
        "range_count": _q_range_count,
        "point_get": _q_point_get,
        "knn": _q_knn,
        "distance_join": _q_distance_join,
        "knn_join": _q_knn_join,
        "zorder_encode": _q_zorder_encode,
        "zorder_decode": _q_zorder_decode,
        "prefix_render": _q_prefix_render,
        "make_mask": _q_make_mask,
        "bucket_split": _q_bucket_split,
        "prefix_match": _q_prefix_match,
        "bit_spread": _q_bit_spread,
        "set_bit": _q_set_bit,
        "byte_ops": _q_byte_ops,
        "euclid_dist": _q_euclid_dist,
        "interval_preds": _q_interval_preds,
        "range_filter": _q_range_filter,
        "id_gen": _q_id_gen,
        "table_create": _q_table_create,
        "table_drop": _q_table_drop,
        "table_lifecycle": _q_table_lifecycle,
        "compact_layout": _q_compact_layout,
        "dedup_exact": _q_dedup_exact,
        "dedup_simhash_portable": _q_dedup_simhash_portable,
        "embedding_knn": _q_embedding_knn,
        "text_stats": _q_text_stats,
        "token_count": _q_token_count,
        "lang_id": _q_lang_id,
        "quality_score": _q_quality_score,
        "doc_fingerprint": _q_doc_fingerprint,
        "multimodal_features": _q_multimodal_features,
        "media_dedup": _q_media_dedup,
        "frame_sample": _q_frame_sample,
        "corpus_stratified_quota": _q_corpus_stratified_quota,
        "stream_output_compact": _q_stream_output_compact,
        "stream_sample_stratified_quota": _q_stream_sample_stratified_quota,
        "decontaminate_bloom": _q_decontaminate_bloom,
        "dedup_ttl": _q_dedup_ttl,
        "stream_dedup_ttl": _q_stream_dedup_ttl,
        "range_query_zonemap": _q_range_query_zonemap,
        "phrase_search": _q_phrase_search,
        "phrase_search_indexed": _q_phrase_search_indexed,
        "doc_containment": _q_doc_containment,
        "dedup_edit": _q_dedup_edit,
        "stream_scd2": _q_stream_scd2,
        "json_props_stats": _q_json_props_stats,
        "shortest_path": _q_shortest_path,
        "hilbert_encode": _q_hilbert_encode,
        "hilbert_decode": _q_hilbert_decode,
        "sfc_locality": _q_sfc_locality,
        "range_query_hilbert": _q_range_query_hilbert,
        "corpus_temperature": _q_corpus_temperature,
        "corpus_temperature_sample": _q_corpus_temperature_sample,
        "keyword_search_bm25": _q_keyword_search_bm25,
        "line_dedup": _q_line_dedup,
        "quality_gate": _q_quality_gate,
        "embedding_profile": _q_embedding_profile,
        "dedup_simhash": _q_dedup_simhash,
        "embedding_knn_ivf": _q_embedding_knn_ivf,
        "corpus_weighted_sample": _q_corpus_weighted_sample,
        "shortest_path_weighted": _q_shortest_path_weighted,
        "knn_hilbert": _q_knn_hilbert,
        "embedding_knn_ivf_portable": _q_embedding_knn_ivf_portable,
        "embedding_knn_ivf_full": _q_embedding_knn_ivf_full,
        "dedup_semantic": _q_dedup_semantic,
        "embedding_knn_clustered": _q_embedding_knn_clustered,
        "stream_ingest_embeddings": _q_stream_ingest_embeddings,
        "embedding_knn_lsh": _q_embedding_knn_lsh,
        "polygon_query": _q_polygon_query,
        "embedding_knn_quantized": _q_embedding_knn_quantized,
        "embedding_knn_quantized_stored": _q_embedding_knn_quantized_stored,
        "pii_scrub": _q_pii_scrub,
        "winnow_fingerprint": _q_winnow_fingerprint,
        "winnow_pairs": _q_winnow_pairs,
        "corpus_budget": _q_corpus_budget,
        "ngram_jaccard": _q_ngram_jaccard,
        "corpus_shuffle": _q_corpus_shuffle,
        "bytes_concat": _q_bytes_concat,
        "stream_windowed": _q_stream_windowed,
        "sessionize": _q_sessionize,
        "interval_join": _q_interval_join,
        "time_band_join": _q_time_band_join,
        "grouped_histogram": _q_grouped_histogram,
    }


# ---------------------------------------------------------------------------
# oracle_sql(): DuckDB ANSI twins over the pre-registered parquet views
# ---------------------------------------------------------------------------

def _index_cte(points_sql: str = POINTS_SQL) -> str:
    """Recursive-CTE twin of index_build: one-bit-at-a-time splitting
    exactly as ``Index.splitBucket`` (``Index.java:183-230``), threshold 10,
    depth cap 64. ``leafidx`` holds (bucket_z, pl, size). DuckDB refuses to
    left-shift negative numbers, so the prefix mask uses the two's-
    complement identity ``-1 << s == -(1 << s)``. ``points_sql`` lets the
    same trie twin check any (id, x, y) source — the sf view by default,
    the table_lifecycle literal batch otherwise."""
    zsql = Z.zvalue_sql("x", "y")
    mask = "(CASE WHEN {pl} >= 64 THEN CAST(-1 AS BIGINT) ELSE -(CAST(1 AS BIGINT) << (64 - {pl})) END)"
    # CAST to BIGINT: DuckDB's sum(BIGINT) yields HUGEINT (int128), and the
    # driver's value hash is type-sensitive — Spark emits BIGINT here
    size_of = (
        "(SELECT CAST(COALESCE(sum(c), 0) AS BIGINT) FROM zcells WHERE (z & "
        + mask
        + ") = {bz})"
    )
    t_size = size_of.format(pl="t.pl", bz="t.bucket_z")
    return (
        f"WITH RECURSIVE points AS ({points_sql}), "
        f"zcells AS (SELECT {zsql} AS z, CAST(count(*) AS BIGINT) AS c "
        "FROM points GROUP BY 1), "
        "tree(bucket_z, pl) AS ("
        "  SELECT CAST(0 AS BIGINT), 2"
        "  UNION ALL"
        "  SELECT CASE WHEN b.bit = 0 THEN t.bucket_z"
        "              ELSE t.bucket_z | (CAST(1 AS BIGINT) << (63 - t.pl)) END,"
        "         t.pl + 1"
        "  FROM tree t CROSS JOIN (VALUES (0), (1)) b(bit)"
        f"  WHERE t.pl < 64 AND {t_size} > {IX.DEFAULT_THRESHOLD}"
        "), "
        "leafidx AS ("
        f"  SELECT t.bucket_z, t.pl, {t_size} AS size FROM tree t"
        f"  WHERE NOT ({t_size} > {IX.DEFAULT_THRESHOLD} AND t.pl < 64)"
        ")"
    )


_TOKS = TX.tokens_sql("text")  # shared explicit whitespace class (text.py _WS)
_SHINGLES = TX.shingles_sql(3)  # the ONE shared shingle formulation


def _marker_sql(words: list[str]) -> str:
    # coalesce: a NULL-text doc has NULL toks, and len(list_filter(NULL))
    # is NULL — Spark's explode_outer + conditional sum yields 0 for the
    # same doc, so an unguarded NULL here flips lang_id's argmax CASE
    # (every comparison NULL -> falls through to 'es' vs Spark's 'en')
    lst = ", ".join(f"'{w}'" for w in words)
    return f"coalesce(len(list_filter(toks, t -> lower(t) IN ({lst}))), 0)"


def oracle_sql() -> dict[str, str]:
    zsql = Z.zvalue_sql("x", "y")
    all_stop = sorted({w for ws in TX.LANG_MARKERS.values() for w in ws})
    dotsim = (
        "list_sum(list_transform(list_zip(v, qv), p -> p[1] * p[2])) / (norm * qnorm)"
    )
    rect = (
        f"x BETWEEN {RECT_X[0]} AND {RECT_X[1]} "
        f"AND y BETWEEN {RECT_Y[0]} AND {RECT_Y[1]}"
    )
    dist_sq = (
        f"(CAST(x AS BIGINT) - {KNN_Q[0]}) * (CAST(x AS BIGINT) - {KNN_Q[0]}) "
        f"+ (CAST(y AS BIGINT) - {KNN_Q[1]}) * (CAST(y AS BIGINT) - {KNN_Q[1]})"
    )
    # ONE knn oracle string: knn_indexed and knn_hilbert are exact and
    # totally ordered identically to knn, so the same text applies
    # verbatim — shared here so the three can never silently diverge
    knn_oracle = (
        f"{_POINTS_CTE} SELECT id, x, y, dist_sq, sqrt(dist_sq) AS dist "
        f"FROM (SELECT id, x, y, CAST({dist_sq} AS BIGINT) AS dist_sq "
        f"FROM points) ORDER BY dist_sq, id, x, y LIMIT {KNN_K}"
    )
    clusters_sql = (
        "WITH RECURSIVE toks_t AS (SELECT doc_id, lang, "
        f"{_TOKS} AS toks FROM documents), "
        f"sh AS (SELECT doc_id, lang AS blk, {_SHINGLES} AS s, "
        f"len({_SHINGLES}) AS sz FROM toks_t), "
        "jac_pairs AS ("
        "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b"
        "  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id"
        "    AND least(a.sz, b.sz) >= 0.8 * greatest(a.sz, b.sz)"
        "  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
        "    / (a.sz + b.sz - len(list_intersect(a.s, b.s))) >= 0.8"
        "), "
        "edges AS (SELECT doc_a AS a, doc_b AS b FROM jac_pairs "
        "UNION SELECT doc_b, doc_a FROM jac_pairs), "
        "reach(a, b) AS ("
        "  SELECT a, b FROM edges"
        "  UNION"
        "  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a"
        ") "
        "SELECT d.doc_id, "
        "least(d.doc_id, COALESCE((SELECT min(b) FROM reach WHERE a = d.doc_id), "
        "d.doc_id)) AS cluster_id FROM documents d"
    )
    exact_knn_sql = (
        "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings), "
        "n AS (SELECT vec_id, label, v, "
        "sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e), "
        "q AS (SELECT v AS qv, norm AS qnorm FROM n WHERE vec_id = 1) "
        f"SELECT vec_id, label, round({dotsim}, 6) AS cos_sim "
        "FROM n CROSS JOIN q "
        f"ORDER BY cos_sim DESC, vec_id LIMIT {KNN_K}"
    )
    return {
        "full_scan": f"{_POINTS_CTE} SELECT id, x, y FROM points",
        "range_query": f"{_POINTS_CTE} SELECT id, x, y FROM points WHERE {rect}",
        # row-group skipping by footer stats is lossless (stats
        # intersection + exact residual), so the plain rectangle IS the oracle
        "range_query_zonemap": (
            f"{_POINTS_CTE} SELECT id, x, y FROM points WHERE {rect}"
        ),
        # the z-cover is a lossless superset prefilter; the residual rect
        # predicate makes results identical to the plain rectangle query
        "range_query_cover": (
            f"{_POINTS_CTE} SELECT id, x, y FROM points WHERE {rect}"
        ),
        "range_count": (
            f"{_POINTS_CTE} SELECT count(*) AS cnt FROM points WHERE {rect}"
        ),
        "point_get": (
            f"{_POINTS_CTE} SELECT p.id, p.x, p.y FROM points p "
            "JOIN (SELECT x, y FROM points ORDER BY id LIMIT 1) q "
            "USING (x, y)"
        ),
        "knn": knn_oracle,
        "knn_indexed": knn_oracle,
        # the streamed z-table must answer the rectangle count the events
        # fixture itself answers (events_as_points projection inlined)
        "stream_ingest_points": (
            "SELECT count(*) AS cnt FROM ("
            "SELECT CAST(user_id % 4096 AS INTEGER) AS x, "
            "CAST((event_id * 997 + user_id) % 4096 AS INTEGER) AS y "
            "FROM events) "
            f"WHERE x BETWEEN {RECT_X[0]} AND {RECT_X[1]} "
            f"AND y BETWEEN {RECT_Y[0]} AND {RECT_Y[1]}"
        ),
        # same grid-cell blocking as the Spark plan (cell side >= radius,
        # 3x3 neighborhood hash join) — a literal O(n^2) join oracle would
        # not finish at sf0.01
        "distance_join": (
            f"{_POINTS_CTE}, c AS (SELECT id, x, y, "
            f"x // {_DJ_SIDE} AS cx, y // {_DJ_SIDE} AS cy FROM points), "
            "offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),"
            "(0,1),(1,-1),(1,0),(1,1)) "
            "SELECT a.id AS id_a, a.x AS x_a, a.y AS y_a, "
            "b.id AS id_b, b.x AS x_b, b.y AS y_b, "
            "CAST(a.x - b.x AS BIGINT) * (a.x - b.x) "
            "+ CAST(a.y - b.y AS BIGINT) * (a.y - b.y) AS dist_sq "
            "FROM c a JOIN offs o ON true "
            "JOIN c b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy "
            "WHERE (a.id, a.x, a.y) < (b.id, b.x, b.y) "
            "AND CAST(a.x - b.x AS BIGINT) * (a.x - b.x) "
            "+ CAST(a.y - b.y AS BIGINT) * (a.y - b.y) "
            f"<= {DIST_JOIN_R * DIST_JOIN_R}"
        ),
        "knn_join": (
            f"{_POINTS_CTE}, q(qid, qx, qy) AS (VALUES "
            + ", ".join(f"({qid}, {qx}, {qy})" for qid, qx, qy in KNN_JOIN_QS)
            + "), d AS (SELECT q.qid, p.id, p.x, p.y, "
            "CAST(p.x - q.qx AS BIGINT) * (p.x - q.qx) "
            "+ CAST(p.y - q.qy AS BIGINT) * (p.y - q.qy) AS dist_sq "
            "FROM points p CROSS JOIN q) "
            "SELECT qid, id, x, y, dist_sq FROM (SELECT *, row_number() "
            "OVER (PARTITION BY qid ORDER BY dist_sq, id, x, y) AS rn "
            f"FROM d) t WHERE rn <= {KNN_K}"
        ),
        "zorder_encode": (
            f"{_POINTS_CTE} SELECT id, {zsql} AS zvalue FROM points"
        ),
        "zorder_decode": f"{_POINTS_CTE} SELECT id, x, y FROM points",
        "prefix_render": (
            f"{_POINTS_CTE} SELECT id, "
            f"rpad(substring(lpad(bin({zsql}), 64, '0'), 1, {RENDER_PL}), 64, '*') "
            "AS bucket_name FROM points"
        ),
        "index_build": f"{_index_cte()} SELECT bucket_z, pl, size FROM leafidx",
        # append + incremental refresh must converge to the SAME canonical
        # trie a from-scratch build produces: identical oracle text
        "write_path_refresh": (
            f"{_index_cte()} SELECT bucket_z, pl, size FROM leafidx"
        ),
        # owner of z on a prefix-free complete cover == the unique leaf
        # with bucket_z = z & mask(pl); the out-of-cover probe (2^62) joins
        # to nothing in both engines (the documented drop semantics)
        "floor_lookup_batch": (
            f"{_index_cte()}, probes(z) AS (VALUES "
            + ", ".join(
                f"(CAST({Z.zorder_encode_py(x, y)} AS BIGINT))"
                for x, y in _FLB_COORDS
            )
            + f", (CAST({_FLB_OUT_OF_COVER} AS BIGINT))) "
            "SELECT p.z, i.bucket_z, i.pl, i.size FROM probes p JOIN leafidx i "
            "ON (p.z & (CASE WHEN i.pl >= 64 THEN CAST(-1 AS BIGINT) "
            "WHEN i.pl <= 0 THEN CAST(0 AS BIGINT) "
            "ELSE -(CAST(1 AS BIGINT) << (64 - i.pl)) END)) = i.bucket_z"
        ),
        "index_inspect": (
            f"{_index_cte()} SELECT rpad(substring(lpad(bin(bucket_z), 64, '0'), 1, pl), 64, '*') "
            "AS bucket_name, size FROM leafidx ORDER BY bucket_name"
        ),
        "floor_lookup": (
            f"{_index_cte()} SELECT bucket_z, pl, size FROM leafidx "
            f"WHERE bucket_z <= {Z.zorder_encode_py(*KNN_Q)} "
            "ORDER BY bucket_z DESC LIMIT 1"
        ),
        # floor semantics on a prefix-free complete cover == containment:
        # the ASOF JOIN (greatest bucket_z <= z) is the oracle twin of the
        # prefix equi-join route
        "bucket_route": (
            f"{_index_cte()} SELECT i.bucket_z, i.pl, "
            "CAST(sum(zc.c) AS BIGINT) AS n_points "
            "FROM zcells zc ASOF JOIN leafidx i ON zc.z >= i.bucket_z "
            "GROUP BY i.bucket_z, i.pl"
        ),
        "insert_append": (
            f"{_POINTS_CTE}, batch(id, x, y) AS (VALUES "
            + ", ".join(
                f"(CAST({i} AS BIGINT), CAST({x} AS INTEGER), CAST({y} AS INTEGER))"
                for i, x, y in _INSERT_BATCH
            )
            + "), all_pts AS (SELECT * FROM points UNION ALL SELECT * FROM batch) "
            f"SELECT count(*) AS cnt FROM all_pts WHERE {rect}"
        ),
        "prefix_match": (
            f"{_POINTS_CTE} SELECT count(*) AS cnt FROM points "
            f"WHERE (({zsql}) & -(CAST(1 AS BIGINT) << 56)) = "
            f"{Z.zorder_encode_py(*KNN_Q) & (-1 << 56)}"
        ),
        "id_gen": (
            f"{_POINTS_CTE} SELECT CAST(count(*) AS BIGINT) AS n_unique, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM points"
        ),
        "bit_spread": (
            f"{_POINTS_CTE} SELECT id, {Z.spread_sql('x')} AS x_spread "
            "FROM points"
        ),
        "make_mask": (
            f"{_POINTS_CTE} SELECT id, CAST(id % 63 + 2 AS INTEGER) AS pl, "
            "CASE WHEN id % 63 + 2 >= 64 THEN CAST(-1 AS BIGINT) "
            "ELSE -(CAST(1 AS BIGINT) << CAST(64 - (id % 63 + 2) AS INTEGER)) "
            "END AS mask FROM points"
        ),
        "shortest_path": _GR.shortest_path_sql(),
        "corpus_weighted_sample": TX.corpus_weighted_sample_sql(),
        "hilbert_encode": (
            f"{_POINTS_CTE}, {HB.hilbert_encode_chain_sql()} "
            "SELECT id, d12 AS h FROM he12"
        ),
        "hilbert_decode": (
            f"{_POINTS_CTE}, ds AS (SELECT id, id % 16777216 AS d "
            f"FROM points), {HB.hilbert_decode_chain_sql('ds')} "
            "SELECT id, x12 AS x, y12 AS y FROM hd12"
        ),
        "sfc_locality": HB.sfc_locality_sql(),
        # the hilbert cover is a lossless superset prefilter; the residual
        # rect predicate makes results identical to the plain rectangle
        # query — same equivalence-oracle pattern as range_query_cover
        "range_query_hilbert": (
            f"{_POINTS_CTE} SELECT id, x, y FROM points WHERE "
            f"x BETWEEN {RECT_X[0]} AND {RECT_X[1]} "
            f"AND y BETWEEN {RECT_Y[0]} AND {RECT_Y[1]}"
        ),
        "corpus_temperature": TX.corpus_temperature_sql(),
        "corpus_temperature_sample": TX.corpus_temperature_sample_sql(budget=300),
        "shortest_path_weighted": _GR.shortest_path_weighted_sql(),
        "heavy_hitters_cms": AN.heavy_hitters_cms_sql(),
        "heavy_hitters_cms_merged": AN.heavy_hitters_cms_merged_sql(),
        "knn_hilbert": knn_oracle,
        "set_bit": (
            f"{_POINTS_CTE} SELECT id, CAST(id % 62 + 1 AS INTEGER) AS pos, "
            f"({zsql}) | (CAST(1 AS BIGINT) "
            "<< CAST(63 - (id % 62 + 1) AS INTEGER)) AS z_set FROM points"
        ),
        "byte_ops": (
            f"{_index_cte()} SELECT bucket_z, pl, "
            "bucket_z | ~m AS z_max, (bucket_z | ~m) & m AS and_back "
            "FROM (SELECT bucket_z, pl, CASE WHEN pl >= 64 "
            "THEN CAST(-1 AS BIGINT) "
            "ELSE -(CAST(1 AS BIGINT) << (64 - pl)) END AS m FROM leafidx)"
        ),
        "bytes_concat": (
            f"{_POINTS_CTE} SELECT id, "
            "(CAST(x AS BIGINT) << 32) | CAST(y AS BIGINT) AS packed_xy "
            "FROM points"
        ),
        "euclid_dist": (
            f"{_POINTS_CTE} SELECT id, CAST({dist_sq} AS BIGINT) AS dist_sq, "
            f"sqrt(CAST({dist_sq} AS DOUBLE)) AS dist FROM points"
        ),
        "interval_preds": (
            f"{_POINTS_CTE} SELECT id, "
            f"CAST(x BETWEEN {RECT_X[0]} AND {RECT_X[1]} AS INTEGER) "
            "AS includes, "
            f"CAST(x <= {RECT_X[1]} AND x + 16 >= {RECT_X[0]} AS INTEGER) "
            "AS intersects, "
            f"CAST(CASE WHEN x BETWEEN {RECT_X[0]} AND {RECT_X[1]} THEN 0 "
            f"ELSE least(abs(x - {RECT_X[0]}), abs(x - {RECT_X[1]})) END "
            "AS BIGINT) AS dist_to_range, "
            f"CAST(CASE WHEN abs(x - {RECT_X[0]}) > abs(x - {RECT_X[1]}) "
            f"THEN {RECT_X[0]} ELSE {RECT_X[1]} END AS BIGINT) "
            "AS farthest_endpoint FROM points"
        ),
        "range_filter": (
            f"{_POINTS_CTE}, enc AS (SELECT x, y, {zsql} AS z FROM points) "
            "SELECT count(*) FILTER (WHERE z BETWEEN "
            f"{Z.zorder_encode_py(RECT_X[0], RECT_Y[0])} AND "
            f"{Z.zorder_encode_py(RECT_X[1], RECT_Y[1])}) AS n_scanned, "
            "count(*) FILTER (WHERE z BETWEEN "
            f"{Z.zorder_encode_py(RECT_X[0], RECT_Y[0])} AND "
            f"{Z.zorder_encode_py(RECT_X[1], RECT_Y[1])} AND {rect}) "
            "AS n_hits FROM enc"
        ),
        # both child entries always, empty child included (the reference
        # records `count` and `bucketSize - count` unconditionally,
        # Index.java:217-227); split bit of a pl=8 parent is z bit 55
        "bucket_split": (
            f"{_POINTS_CTE}, enc AS (SELECT {zsql} AS z FROM points), "
            "b_par AS (SELECT z & -(CAST(1 AS BIGINT) << 56) AS parent_z, "
            "CAST(count(*) AS BIGINT) AS c FROM enc GROUP BY 1), "
            "p AS (SELECT parent_z FROM b_par ORDER BY c DESC, parent_z "
            "LIMIT 1), "
            "sizes AS (SELECT p.parent_z, "
            "CAST(count(*) FILTER (WHERE ((z >> 55) & 1) = 0) AS BIGINT) "
            "AS left_size, "
            "CAST(count(*) FILTER (WHERE ((z >> 55) & 1) = 1) AS BIGINT) "
            "AS right_size FROM enc JOIN p "
            "ON (enc.z & -(CAST(1 AS BIGINT) << 56)) = p.parent_z "
            "GROUP BY p.parent_z) "
            "SELECT parent_z, parent_z AS child_z, 9 AS pl, left_size AS size "
            "FROM sizes UNION ALL "
            "SELECT parent_z, parent_z | (CAST(1 AS BIGINT) << 55), 9, "
            "right_size FROM sizes"
        ),
        # the seed invariant table_create must persist (Index.java:96-99)
        "table_create": (
            "SELECT CAST(0 AS BIGINT) AS bucket_z, 2 AS pl, "
            "CAST(0 AS BIGINT) AS size"
        ),
        "table_drop": "SELECT 1 AS existed_before, 1 AS dropped",
        "dedup_exact": (
            "SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies "
            "FROM documents GROUP BY text"
        ),
        "dedup_minhash_portable": D.dedup_minhash_portable_sql(),
        "dedup_simhash_portable": D.dedup_simhash_portable_sql(),
        # the default-named keys run the SAME portable hash families at
        # a second parameter point each (production-shaped 32x8 bands /
        # a wider 8x7-bit banding / an 8-cell 2-probe quantizer), so
        # every registry key is value-oracled — the Spark-internal
        # xxhash64 / k-means forms stay as non-registry functions
        # pinned by dedup_minhash_vs_exact / dedup_simhash_band_exact /
        # embedding_knn_ivf_kmeans_full + recall tests
        "dedup_minhash": D.dedup_minhash_portable_sql(num_hashes=32, bands=8),
        "dedup_minhash_capped": D.dedup_minhash_portable_sql(max_bucket_width=2),
        "dedup_simhash": D.dedup_simhash_portable_sql(max_hamming=5, bands=8),
        "embedding_knn_ivf": SIM.embedding_knn_ivf_portable_sql(
            1, KNN_K, n_clusters=8, n_probe=2
        ),
        "doc_containment": D.doc_containment_sql(),
        # ground truth for the JVM minhash form: EXACT all-pairs shingle
        # Jaccard, no banding/hashing — output ⊆ truth always (exact
        # verify), equality == full banding recall on this fixture. The
        # size-ratio prune is lossless (J >= t implies |A|/|B| >= t).
        # NULL text ≡ '' (empty content) — matches the production
        # collapse's coalesce'd fingerprint, so NULL docs rate 1.0
        # against each other and against empty docs on both engines
        "dedup_minhash_vs_exact": (
            f"WITH sh AS (SELECT doc_id, {_SHINGLES} AS s, "
            f"len({_SHINGLES}) AS sz "
            "FROM (SELECT doc_id, "
            f"""{TX.tokens_sql("coalesce(text, '')")} """
            "AS toks FROM documents)) "
            "SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM ("
            "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
            "    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
            "      / (a.sz + b.sz - len(list_intersect(a.s, b.s))) AS jac"
            "  FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
            "    AND least(a.sz, b.sz) >= 0.8 * greatest(a.sz, b.sz)"
            ") WHERE jac >= 0.8"
        ),
        # deterministic media metadata (range-derived dims mirror the
        # Spark entry expression-for-expression); floor/least/fractional-
        # division semantics agree across engines
        "resize_meta": (
            "WITH m AS (SELECT i AS media_id, "
            "CASE CAST(i % 3 AS INTEGER) WHEN 0 THEN 'image' "
            "WHEN 1 THEN 'audio' ELSE 'video' END AS kind, "
            "CASE WHEN i % 3 <> 1 THEN CAST(16 + (i * 7) % 97 AS INTEGER) END AS width, "
            "CASE WHEN i % 3 <> 1 THEN CAST(16 + (i * 13) % 83 AS INTEGER) END AS height "
            "FROM range(96) t(i)) "
            "SELECT media_id, kind, width, height, "
            "CAST(floor(width * least(32 / width, 32 / height, 1.0)) AS INTEGER) "
            "AS target_width, "
            "CAST(floor(height * least(32 / width, 32 / height, 1.0)) AS INTEGER) "
            "AS target_height FROM m WHERE width IS NOT NULL"
        ),
        # the whole create -> insert -> refresh chain hash-checked: the
        # post-insert on-disk index must equal the recursive-CTE trie over
        # the same literal batch; lifecycle scalars ride along (bootstrap
        # bucket count and drop success are the Index.java:96-99 /
        # Client.java:217-224 contract)
        "table_lifecycle": (
            _index_cte(_LIFECYCLE_POINTS_SQL)
            + " SELECT 'created_index_buckets' AS stage, "
            "CAST(1 AS BIGINT) AS value"
            " UNION ALL SELECT 'inserted_rows', "
            "(SELECT CAST(count(*) AS BIGINT) FROM points)"
            " UNION ALL SELECT 'index_size_sum', "
            "(SELECT CAST(COALESCE(sum(size), 0) AS BIGINT) FROM leafidx)"
            " UNION ALL SELECT 'dropped', CAST(1 AS BIGINT)"
            " UNION ALL SELECT 'bucket_' || bucket_z || '_pl' || pl, size "
            "FROM leafidx"
        ),
        # layout spec (file counts, post-compaction disjointness) as
        # pinned invariants + the data-derived rows the file footers must
        # reproduce (row total, global z extent)
        "compact_layout": (
            f"{_POINTS_CTE} "
            "SELECT 'files_before' AS metric, CAST(8 AS BIGINT) AS value"
            " UNION ALL SELECT 'had_overlap_before', 1"
            " UNION ALL SELECT 'files_after', 8"
            " UNION ALL SELECT 'overlap_pairs_after', 0"
            " UNION ALL SELECT 'rows_total', (SELECT count(*) FROM points)"
            f" UNION ALL SELECT 'z_min', (SELECT min({zsql}) FROM points)"
            f" UNION ALL SELECT 'z_max', (SELECT max({zsql}) FROM points)"
        ),
        # ---- multimodal oracles over the committed parquet fixture ------
        # DuckDB sees the exact bytes Spark processes (read_parquet on the
        # committed file); byte values come from hex-string arithmetic
        # since DuckDB 1.0 has no BLOB substring/md5 — both engines agree
        # on uppercase hex(payload)
        "media_dedup": (
            f"SELECT kind, min(media_id) AS keep_id, "
            "CAST(count(*) AS BIGINT) AS n_copies, "
            "CAST(sum(octet_length(payload)) AS BIGINT) AS sum_bytes "
            f"FROM read_parquet('{_MEDIA_FIXTURE}') "
            "GROUP BY kind, hex(payload) HAVING count(*) > 1"
        ),
        # f0_sum = sum of payload bytes at stride-8 offset 0 — the
        # integer the Spark side recovers exactly from the float32
        # feature (see _q_multimodal_features)
        "multimodal_features": (
            "WITH m AS (SELECT media_id, kind, hex(payload) AS hx, "
            "octet_length(payload) AS nb "
            f"FROM read_parquet('{_MEDIA_FIXTURE}')) "
            "SELECT media_id, kind, CAST(nb AS BIGINT) AS n_bytes, "
            "CAST(sum("
            "(strpos('0123456789ABCDEF', substring(hx, u.i * 2 + 1, 1)) - 1) * 16 "
            "+ (strpos('0123456789ABCDEF', substring(hx, u.i * 2 + 2, 1)) - 1)"
            ") AS BIGINT) AS f0_sum "
            "FROM m, unnest(range(0, nb, 8)) AS u(i) "
            "GROUP BY media_id, kind, nb"
        ),
        # mirrors the fake demuxer exactly: n_frames = max(dur//250, 1),
        # step = max(nb//n_frames, 1), frame i = payload[i*step:(i+1)*step]
        # (hex substring beyond the payload end truncates exactly like the
        # Python slice)
        "frame_sample": (
            "WITH v AS (SELECT media_id, hex(payload) AS hx, "
            "CAST(octet_length(payload) AS BIGINT) AS nb, "
            "CAST(duration_ms AS BIGINT) AS dur "
            f"FROM read_parquet('{_MEDIA_FIXTURE}') "
            "WHERE kind = 'video' AND duration_ms IS NOT NULL), "
            "p AS (SELECT media_id, hx, nb, "
            "greatest(dur // 250, 1) AS n_frames, "
            "greatest(nb // greatest(dur // 250, 1), 1) AS step FROM v) "
            "SELECT media_id, CAST(u.i AS INTEGER) AS frame_idx, "
            "CAST(step AS BIGINT) AS n_bytes, "
            "md5(substring(hx, CAST(u.i * step * 2 + 1 AS BIGINT), "
            "CAST(step * 2 AS BIGINT))) AS frame_md5 "
            "FROM p, unnest(range(n_frames)) AS u(i)"
        ),
        # byte-level re-decode of the PCM frames at the fixture's stored
        # data_off (generator-known; Spark PARSES for it): int16 LE
        # samples from hex-string arithmetic, then the same integer
        # aggregates the kernel computes. Zero crossings = sign-class
        # transitions (negative vs non-negative) between consecutive
        # interleaved samples, exactly the kernel's
        # (s[:-1] < 0) != (s[1:] < 0) count.
        # byte-level re-decode of the P6 raster at the fixture's stored
        # data_off (generator-known; Spark TOKENIZES the commented /
        # whitespace-varied header for it): byte values from hex-string
        # arithmetic, then the same exact integer aggregates the kernel
        # computes. even_row_luma needs the decoded WIDTH (row = pixel
        # // w), so a wrong width mismatches even when the flat-raster
        # sums agree. LEFT join + coalesce keeps the 0x5 / 5x0
        # empty-raster rows the per-byte group would drop.
        "ppm_decode": (
            "WITH p AS (SELECT media_id, hex(payload) AS hx, data_off, "
            "width AS w, height AS h "
            f"FROM read_parquet('{_PPM_FIXTURE}')), "
            "b AS (SELECT media_id, CAST(u.i AS BIGINT) AS i, w, "
            "(strpos('0123456789ABCDEF', substring(hx, (data_off + u.i)*2 + 1, 1)) - 1) * 16 "
            "+ (strpos('0123456789ABCDEF', substring(hx, (data_off + u.i)*2 + 2, 1)) - 1) AS v "
            "FROM p, unnest(range(CAST(w AS BIGINT) * h * 3)) AS u(i)), "
            "agg AS (SELECT media_id, "
            "CAST(sum(CASE WHEN i % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_r, "
            "CAST(sum(CASE WHEN i % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g, "
            "CAST(sum(CASE WHEN i % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_b, "
            "CAST(min(v) AS INTEGER) AS min_byte, "
            "CAST(max(v) AS INTEGER) AS max_byte, "
            "CAST(sum(CASE WHEN ((i // 3) // w) % 2 = 0 THEN v ELSE 0 END) AS BIGINT) "
            "AS even_row_luma FROM b GROUP BY media_id) "
            "SELECT p.media_id, CAST(p.w AS INTEGER) AS width, "
            "CAST(p.h AS INTEGER) AS height, "
            "CAST(p.w AS BIGINT) * p.h AS n_pixels, "
            "coalesce(agg.sum_r, 0) AS sum_r, "
            "coalesce(agg.sum_g, 0) AS sum_g, "
            "coalesce(agg.sum_b, 0) AS sum_b, "
            "coalesce(agg.min_byte, 0) AS min_byte, "
            "coalesce(agg.max_byte, 0) AS max_byte, "
            "coalesce(agg.even_row_luma, 0) AS even_row_luma "
            "FROM p LEFT JOIN agg USING (media_id)"
        ),
        # full-payload hex rebuild of the resized container: canonical
        # header + nearest-neighbor-sampled raster, both reconstructed
        # from the SOURCE payload's hex with the same exact-integer grid
        # (sy = ty*sh//th, sx = tx*sw//tw) the kernel uses — any
        # off-by-one in sampling, target sizing, or the re-encode
        # mismatches. Targets mirror _resize_target at max_side=12.
        "ppm_resize": (
            "WITH p AS (SELECT media_id, hex(payload) AS hx, data_off, "
            "width AS sw, height AS sh "
            f"FROM read_parquet('{_PPM_FIXTURE}')), "
            "t AS (SELECT *, "
            "CASE WHEN sw = 0 OR sh = 0 THEN 0 "
            "WHEN greatest(sw, sh) <= 12 THEN sw "
            "ELSE greatest(1, sw * 12 // greatest(sw, sh)) END AS tw, "
            "CASE WHEN sw = 0 OR sh = 0 THEN 0 "
            "WHEN greatest(sw, sh) <= 12 THEN sh "
            "ELSE greatest(1, sh * 12 // greatest(sw, sh)) END AS th "
            "FROM p), "
            "hdr AS (SELECT media_id, tw, th, "
            "'P6' || chr(10) || CAST(tw AS VARCHAR) || ' ' || CAST(th AS VARCHAR) "
            "|| chr(10) || '255' || chr(10) AS hs FROM t), "
            "body AS (SELECT t.media_id, string_agg("
            "substring(t.hx, (t.data_off + ((((u.i // 3) // t.tw) * t.sh // t.th) * t.sw "
            "+ (((u.i // 3) % t.tw) * t.sw // t.tw)) * 3 + (u.i % 3)) * 2 + 1, 2), "
            "'' ORDER BY u.i) AS bh "
            "FROM t, unnest(range(CAST(t.tw AS BIGINT) * t.th * 3)) AS u(i) "
            "GROUP BY t.media_id) "
            "SELECT hdr.media_id, CAST(hdr.tw AS INTEGER) AS out_w, "
            "CAST(hdr.th AS INTEGER) AS out_h, "
            "CAST(length(hdr.hs) + hdr.tw * hdr.th * 3 AS BIGINT) AS n_bytes, "
            "hex(hdr.hs) || coalesce(body.bh, '') AS payload_hex "
            "FROM hdr LEFT JOIN body USING (media_id)"
        ),
        # stream-demux verification: slice hex(payload) at the
        # generator-known per-frame offsets (oracle-side lists) that the
        # kernel DISCOVERED by walking headers; every=2 sampling.
        "ppm_frames": (
            "WITH s AS (SELECT media_id, hex(payload) AS hx, n_frames, "
            "frame_offs, frame_lens, frame_ws, frame_hs "
            f"FROM read_parquet('{_PPM_STREAM_FIXTURE}')) "
            "SELECT media_id, CAST(u.i AS INTEGER) AS frame_idx, "
            "CAST(frame_ws[CAST(u.i + 1 AS INTEGER)] AS INTEGER) AS frame_w, "
            "CAST(frame_hs[CAST(u.i + 1 AS INTEGER)] AS INTEGER) AS frame_h, "
            "CAST(frame_lens[CAST(u.i + 1 AS INTEGER)] AS BIGINT) AS n_bytes, "
            "substring(hx, frame_offs[CAST(u.i + 1 AS INTEGER)] * 2 + 1, "
            "frame_lens[CAST(u.i + 1 AS INTEGER)] * 2) AS frame_hex "
            "FROM s, unnest(range(CAST(n_frames AS BIGINT))) AS u(i) "
            "WHERE u.i % 2 = 0"
        ),
        "wav_decode": (
            "WITH w AS (SELECT media_id, hex(payload) AS hx, data_off, "
            "n_samples AS ns, sample_rate, channels "
            f"FROM read_parquet('{_WAV_FIXTURE}')), "
            "b AS (SELECT media_id, CAST(u.i AS BIGINT) AS i, "
            "(strpos('0123456789ABCDEF', substring(hx, (data_off + u.i*2)*2 + 1, 1)) - 1) * 16 "
            "+ (strpos('0123456789ABCDEF', substring(hx, (data_off + u.i*2)*2 + 2, 1)) - 1) "
            "+ 256 * ((strpos('0123456789ABCDEF', substring(hx, (data_off + u.i*2+1)*2 + 1, 1)) - 1) * 16 "
            "+ (strpos('0123456789ABCDEF', substring(hx, (data_off + u.i*2+1)*2 + 2, 1)) - 1)) AS us "
            "FROM w, unnest(range(ns)) AS u(i)), "
            "s AS (SELECT media_id, i, "
            "CASE WHEN us >= 32768 THEN us - 65536 ELSE us END AS smp FROM b), "
            "z AS (SELECT media_id, smp, "
            "lag(smp) OVER (PARTITION BY media_id ORDER BY i) AS prev FROM s), "
            "agg AS (SELECT media_id, CAST(sum(smp) AS BIGINT) AS sum_samples, "
            "CAST(min(smp) AS INTEGER) AS min_sample, "
            "CAST(max(smp) AS INTEGER) AS max_sample FROM s GROUP BY media_id), "
            "zc AS (SELECT media_id, CAST(coalesce(sum(CASE WHEN prev IS NOT NULL "
            "AND ((prev < 0) <> (smp < 0)) THEN 1 ELSE 0 END), 0) AS BIGINT) "
            "AS zero_crossings FROM z GROUP BY media_id) "
            # LEFT joins + coalesce: a zero-sample WAV (valid container,
            # empty data chunk — fixture row 48 pins it) has no per-sample
            # group, and an inner join would DROP it while the kernel
            # emits its row with the same 0 stats
            "SELECT w.media_id, CAST(w.sample_rate AS INTEGER) AS sample_rate, "
            "CAST(w.channels AS INTEGER) AS channels, "
            "CAST(w.ns AS BIGINT) AS n_samples, "
            "coalesce(agg.sum_samples, 0) AS sum_samples, "
            "coalesce(agg.min_sample, 0) AS min_sample, "
            "coalesce(agg.max_sample, 0) AS max_sample, "
            "coalesce(zc.zero_crossings, 0) AS zero_crossings "
            "FROM w LEFT JOIN agg USING (media_id) "
            "LEFT JOIN zc USING (media_id)"
        ),
        # pigeonhole-losslessness invariant (see the query's docstring):
        # the observable is exactly-zero missed/extra pairs
        "dedup_simhash_band_exact": (
            "SELECT CAST(0 AS BIGINT) AS n_missed, "
            "CAST(0 AS BIGINT) AS n_extra"
        ),
        "ngram_jaccard": (
            "WITH sh AS (SELECT doc_id, lang AS blk, "
            f"{_SHINGLES} AS s, len({_SHINGLES}) AS sz "
            f"FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)) "
            "SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM ("
            "  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
            "    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)"
            "      / (a.sz + b.sz - len(list_intersect(a.s, b.s))) AS jac"
            "  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id"
            "    AND least(a.sz, b.sz) >= 0.8 * greatest(a.sz, b.sz)"
            ") WHERE jac >= 0.8"
        ),
        "dedup_embedding": (
            "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "n AS (SELECT vec_id, label, v, "
            "sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e) "
            "SELECT vec_a, vec_b, round(cos_sim_raw, 6) AS cos_sim FROM ("
            "  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,"
            "    list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))"
            "      / (a.norm * b.norm) AS cos_sim_raw"
            "  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id"
            ") WHERE cos_sim_raw >= 0.35"
        ),
        "embedding_knn_lsh": SIM.embedding_knn_lsh_sql(),
        "embedding_knn_ivf_portable": SIM.embedding_knn_ivf_portable_sql(),
        # the streaming near-dup's drained pair set equals the batch
        # twin exactly when uncapped (the registry staging): same
        # portable hashes, same bands, same hashed-set Jaccard
        "stream_dedup_near": D.stream_dedup_near_sql(max_bucket_width=None),
        # the streaming sampler's drained state re-tops to EXACTLY the
        # batch DLT sample: the oracle IS the batch twin's SQL
        "stream_sample": TX.corpus_weighted_sample_sql(),
        # the stratified pair share one twin — the streaming drain's
        # contract is exact equality with the batch operator
        "corpus_stratified_weighted": TX.corpus_stratified_weighted_sql(),
        "corpus_stratified_quota": TX.corpus_stratified_quota_sql(
            budget=120, temperature=2.0
        ),
        # the streaming quota drain equals the batch operator exactly,
        # so the oracle IS the batch chained CTE
        "stream_sample_stratified_quota": TX.corpus_stratified_quota_sql(
            budget=120, temperature=2.0
        ),
        "stream_sample_stratified": TX.corpus_stratified_weighted_sql(),
        # the streaming decontaminator's drained hits equal the batch
        # operator over the whole corpus — the raw-string twin verbatim
        "stream_decontaminate": TX.decontaminate_sql(),
        "dedup_embedding_lsh": D.dedup_embedding_lsh_sql(),
        "dedup_embedding_lsh_capped": D.dedup_embedding_lsh_sql(
            max_bucket_width=40
        ),
        "dedup_semantic": D.dedup_semantic_sql(),
        "tfidf_top_terms": TX.tfidf_top_terms_sql(),
        "keyword_search": TX.keyword_search_sql(),
        # indexed search must collapse to the scan form: same oracle text
        "keyword_search_indexed": TX.keyword_search_sql(),
        "keyword_search_bm25": TX.keyword_search_bm25_sql(),
        "line_dedup": TX.line_dedup_sql(),
        "span_dedup": TX.span_dedup_sql(),
        # identical output to the md5-keyed form barring a 64-bit span-key
        # collision: the md5 twin IS the oracle (decontaminate_hashed
        # pattern)
        "span_dedup_hashed": TX.span_dedup_sql(),
        "source_overlap": TX.source_overlap_sql(),
        "bpe_pair_counts": _BPE.bpe_pair_counts_sql(k=50),
        "bpe_token_count": _BPE.bpe_token_count_sql(_BPE.FIXTURE_MERGES),
        "pagerank": _GR.pagerank_sql(),
        "pagerank_weighted": _GR.pagerank_weighted_sql(),
        "triangle_count": _GR.triangle_count_sql(),
        "k_core": _GR.k_core_sql(),
        "dedup_edit": D.dedup_edit_sql(),
        "co_purchase": _GR.co_purchase_sql(),
        "embedding_knn_quantized": SIM.embedding_knn_quantized_sql(),
        # stored int8 layout must equal the scan form: same oracle text
        "embedding_knn_quantized_stored": SIM.embedding_knn_quantized_sql(),
        # indexed BM25 must equal the scan form: same oracle text
        "keyword_search_bm25_indexed": TX.keyword_search_bm25_sql(),
        "quality_gate": TX.quality_gate_sql(),
        "embedding_profile": SIM.embedding_profile_sql(),
        "polygon_query": spatial.polygon_query_sql(POINTS_SQL, POLY_V),
        "skyline": spatial.skyline_sql(POINTS_SQL),
        "lm_bigram_score": TX.lm_bigram_score_sql(),
        "gopher_quality": TX.gopher_quality_sql(),
        "corpus_split": TX.corpus_split_sql(),
        "corpus_jsonl_roundtrip": (
            "SELECT doc_id, text, lang, source, n_chars FROM documents"
        ),
        "dedup_incremental": (
            f"{_INCR_CTES} {D.dedup_incremental_sql('corpus', 'new_docs')}"
        ),
        # the staged set = documents + the two planted-dup unions; one
        # survivor per distinct content regardless of batch order
        "stream_dedup_docs": (
            "WITH staged AS (SELECT * FROM documents "
            "UNION ALL SELECT doc_id + 2000000, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 7 = 0 "
            "UNION ALL SELECT doc_id + 3000000, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 11 = 0) "
            "SELECT lang, count(DISTINCT text) AS n_docs FROM staged "
            "GROUP BY lang ORDER BY lang"
        ),
        # compaction is a pure layout change: the post-fold read must
        # equal the uncompacted drain, i.e. the same oracle text
        "stream_output_compact": (
            "WITH staged AS (SELECT * FROM documents "
            "UNION ALL SELECT doc_id + 2000000, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 7 = 0 "
            "UNION ALL SELECT doc_id + 3000000, text, lang, source, n_chars "
            "FROM documents WHERE doc_id % 11 = 0) "
            "SELECT lang, count(DISTINCT text) AS n_docs FROM staged "
            "GROUP BY lang ORDER BY lang"
        ),
        "anomaly_zscore": AN.anomaly_zscore_sql(),
        "embedding_project": SIM.embedding_project_rows_sql(),
        "embedding_knn_projected": SIM.embedding_knn_projected_sql(),
        "embedding_knn": exact_knn_sql,
        "hybrid_search_rrf": SIM.hybrid_search_rrf_sql(),
        # full-probe IVF must collapse to exact kNN: same oracle text
        "embedding_knn_ivf_full": exact_knn_sql,
        # the k-means-trained form at full probe too — ANY centroid set
        # collapses to exact when every cluster is scored
        "embedding_knn_ivf_kmeans_full": exact_knn_sql,
        # full-probe over the cluster-partitioned LAYOUT == exact kNN
        "embedding_knn_clustered": exact_knn_sql,
        # streamed-in layout at full probe must also equal exact kNN
        "stream_ingest_embeddings": exact_knn_sql,
        "winnow_fingerprint": TX.winnow_fingerprint_sql(),
        "winnow_pairs": TX.winnow_pairs_sql(),
        "corpus_diff": (
            f"{_CORPUS_V2_CTE} {TX.corpus_diff_sql('documents', 'v2')}"
        ),
        "corpus_prepare": TX.corpus_prepare_sql(),
        "pii_scrub": f"{_PII_INJECT_CTE} {PV.pii_scrub_sql(table='injected')}",
        "text_stats": (
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "min(n_chars) AS min_chars, max(n_chars) AS max_chars, "
            "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars "
            "FROM documents GROUP BY lang"
        ),
        "token_count": (
            f"SELECT doc_id, CAST(len({_TOKS}) AS INTEGER) AS n_tokens, "
            "CAST(floor(length(text) / 4) AS BIGINT) AS est_bpe_tokens "
            "FROM documents"
        ),
        "lang_id": (
            f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents), "
            "s AS (SELECT doc_id, "
            + ", ".join(
                f"{_marker_sql(words)} AS s_{lang}"
                for lang, words in TX.LANG_MARKERS.items()
            )
            + " FROM t) "
            "SELECT doc_id, CASE "
            "WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en' "
            "WHEN s_de >= s_fr AND s_de >= s_es THEN 'de' "
            "WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred FROM s"
        ),
        "quality_score": (
            # single-source blend (TX.quality_*_sql); qbase extended
            # with the spaces count this oracle alone reports
            "WITH qbase AS ("
            + TX.quality_qbase_sql().replace(
                " FROM documents",
                ", length(regexp_replace(text, '[^ ]', '', 'g')) "
                "AS spaces FROM documents",
            )
            + "), "
            f"qr AS (SELECT doc_id, n_chars, n_tokens, "
            f"{TX.quality_ratios_sql()}, "
            "CASE WHEN n_chars > 0 THEN CAST(spaces AS DOUBLE) / n_chars "
            "END AS space_ratio FROM qbase) "
            "SELECT doc_id, n_chars, n_tokens, alpha_ratio, space_ratio, "
            "stopword_ratio, mean_token_len, "
            f"{TX.quality_blend_sql()} AS quality FROM qr"
        ),
        "doc_fingerprint": (
            f"SELECT doc_id, {TX.doc_fingerprint_sql()} AS fingerprint "
            "FROM documents"
        ),
        "spatial_histogram": (
            f"{_POINTS_CTE} SELECT x >> 4 AS grid_x, y >> 4 AS grid_y, "
            "CAST(count(*) AS BIGINT) AS n_points FROM points "
            "GROUP BY grid_x, grid_y"
        ),
        "embedding_knn_batch": (
            "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "n AS (SELECT vec_id, label, v, "
            "sqrt(list_sum(list_transform(v, x -> x * x))) AS norm FROM e), "
            "q AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM n "
            f"WHERE vec_id IN {BATCH_QUERY_IDS}), "
            "scored AS (SELECT q.query_id, n.vec_id, n.label, "
            "round(list_sum(list_transform(list_zip(n.v, q.qv), p -> p[1] * p[2]))"
            " / (n.norm * q.qnorm), 6) AS cos_sim FROM n CROSS JOIN q) "
            "SELECT query_id, vec_id, label, cos_sim, CAST(rnk AS INTEGER) AS rank "
            "FROM (SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos_sim DESC, vec_id) AS rnk FROM scored) "
            f"WHERE rnk <= {KNN_K}"
        ),
        "corpus_clean": (
            # single-source blend (TX.quality_*_sql)
            f"WITH qbase AS ({TX.quality_qbase_sql()}), "
            f"qr AS (SELECT doc_id, {TX.quality_ratios_sql()} FROM qbase), "
            "scored AS (SELECT doc_id, "
            f"{TX.quality_blend_sql()} AS quality FROM qr), "
            "good AS (SELECT d.doc_id, d.text, d.lang FROM documents d "
            "JOIN scored s ON d.doc_id = s.doc_id WHERE s.quality >= 0.5), "
            "kept AS (SELECT text, min(doc_id) AS keep_id, "
            "arg_min(lang, doc_id) AS lang FROM good GROUP BY text) "
            "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs_kept, "
            f"CAST(sum(len({_TOKS})) AS BIGINT) AS sum_tokens "
            "FROM kept GROUP BY lang"
        ),
        "top_tokens": (
            f"WITH toks AS (SELECT lang, unnest({_TOKS}) AS token FROM documents), "
            "counts AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n "
            "FROM toks GROUP BY lang, token) "
            "SELECT lang, token, n, CAST(rnk AS INTEGER) AS rank FROM ("
            "SELECT *, row_number() OVER (PARTITION BY lang "
            "ORDER BY n DESC, token) AS rnk FROM counts) "
            f"WHERE rnk <= {KNN_K}"
        ),
        "text_percentiles": (
            "SELECT lang, quantile_cont(n_chars, 0.5) AS p50_chars, "
            "quantile_cont(n_chars, 0.9) AS p90_chars, "
            "quantile_cont(n_chars, 0.99) AS p99_chars "
            "FROM documents GROUP BY lang"
        ),
        "zorder3d_encode": (
            f"WITH points3d AS ({_POINTS3D_SQL}) SELECT id, "
            f"{ZND.zvalue_nd_sql(['x', 'y', 't'], _P3_BITS)} AS zvalue3d "
            "FROM points3d"
        ),
        "knn_3d": (
            f"WITH points3d AS ({_POINTS3D_SQL}) "
            "SELECT id, x, y, t, "
            "CAST((x - 512) * (x - 512) + (y - 512) * (y - 512) "
            "+ (t - 4) * (t - 4) AS BIGINT) AS dist2 "
            "FROM points3d ORDER BY dist2, id LIMIT 10"
        ),
        "range_count_3d": (
            f"WITH points3d AS ({_POINTS3D_SQL}) "
            "SELECT count(*) AS cnt FROM points3d "
            "WHERE x BETWEEN 0 AND 511 AND y BETWEEN 256 AND 767 "
            "AND t BETWEEN 1 AND 4"
        ),
        "sessionize": SES.sessionize_sql(),
        "session_paths": SES.session_paths_sql(),
        "asof_join": SES.asof_join_sql(),
        "stream_asof": SES.asof_join_sql(),
        "stream_sessionize": SES.sessionize_sql(),
        "stream_windowed": (
            "WITH e AS (SELECT epoch_us(ts) AS ts_us, event_type, value "
            "FROM events) "
            "SELECT ts_us - ts_us % 3600000000 AS window_start_us, event_type, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) "
            "AS sum_value_micros FROM e GROUP BY 1, 2"
        ),
        "interval_join": IV.interval_join_sql(),
        "time_band_join": IV.time_band_join_sql(),
        "grouped_histogram": IV.grouped_histogram_sql(),
        "sales_rollup": AN.sales_rollup_sql(),
        "dq_check": AN.dq_check_sql(),
        "topk_per_group": AN.topk_per_group_sql(),
        "skew_join": AN.event_type_deviation_sql(),
        "anti_join": AN.orders_without_lineitems_sql(),
        "semi_join": AN.parts_with_shipments_sql(),
        "distinct_count": AN.distinct_users_sql(),
        "set_except": AN.click_days_without_purchase_sql(),
        "json_props_stats": AN.json_props_stats_sql(),
        "sales_cube": AN.sales_cube_sql(),
        "rollup_hierarchy": SES.rollup_hierarchy_sql(),
        "latest_state": SES.latest_state_sql(),
        "pivot": AN.event_type_pivot_sql(),
        "running_total": AN.running_total_sql(),
        "sql_pricing_summary": _SQLF.PRICING_SUMMARY_SQL,
        "sql_shipping_priority": _SQLF.SHIPPING_PRIORITY_SQL,
        "sql_supplier_volume": _SQLF.LOCAL_SUPPLIER_VOLUME_SQL,
        "sql_returned_revenue": _SQLF.RETURNED_REVENUE_SQL,
        "sql_large_orders": _SQLF.LARGE_ORDERS_SQL,
        "table_profile": AN.table_profile_sql(),
        # bounds-checked sketch keys: exact aggregates value-checked, the
        # HLL estimate asserted within 3·rsd via the TRUE-flag pattern
        # (DuckDB's HLL differs register-for-register, so the sketch
        # VALUE itself is never compared — its bound is)
        "approx_distinct": AN.approx_distinct_check_sql(),
        "table_profile_approx": AN.table_profile_approx_check_sql(),
        "approx_quantiles": AN.approx_quantiles_check_sql(),
        "chunk_documents": TX.chunk_documents_sql(),
        "decontaminate": TX.decontaminate_sql(),
        # identical output to the raw-string variant barring a 64-bit hash
        # collision (~1e-8 at 10^9 grams): the raw twin IS the oracle
        "decontaminate_hashed": TX.decontaminate_sql(),
        # the Bloom prefilter is followed by an exact verify join, so the
        # output is decontaminate's exactly (same collision caveat)
        "decontaminate_bloom": TX.decontaminate_sql(),
        # batch + streaming TTL dedup share one oracle: the drained stream
        # must equal the batch operator over the same staged arrivals
        "dedup_ttl": _TTL_STAGED_CTE + D.dedup_ttl_sql("staged", DEDUP_TTL),
        "phrase_search": TX.phrase_search_sql(),
        # the positional-index probe returns the scan form's rows exactly
        "phrase_search_indexed": TX.phrase_search_sql(),
        "stream_dedup_ttl": (
            _TTL_STAGED_CTE + D.dedup_ttl_sql("staged", DEDUP_TTL)
        ),
        # event-time TTL pair: same one-oracle contract on event ticks —
        # the drained+flushed stream must equal the batch operator over
        # the same staged (out-of-event-order) rows
        "dedup_ttl_event": (
            _TTL_EVENT_STAGED_CTE
            + D.dedup_ttl_sql("staged", DEDUP_TTL, tick="event_ts")
        ),
        "stream_dedup_ttl_event": (
            _TTL_EVENT_STAGED_CTE
            + D.dedup_ttl_sql("staged", DEDUP_TTL, tick="event_ts")
        ),
        # zone-map scans equal the plain filtered scans by construction
        # (prune-by-path-selection + exact residual)
        "doc_scan_zonemap": (
            "SELECT doc_id, lang, source, n_chars FROM documents "
            f"WHERE lang = '{ZONED_LANG}' AND n_chars BETWEEN "
            f"{ZONED_CHARS[0]} AND {ZONED_CHARS[1]}"
        ),
        "emb_scan_zonemap": (
            "SELECT vec_id, label FROM embeddings "
            f"WHERE CAST(embedding[1] AS DOUBLE) BETWEEN {ZONED_C0[0]} "
            f"AND {ZONED_C0[1]} AND round(list_sum(list_transform("
            "CAST(embedding AS DOUBLE[]), x -> x*x)), 6) BETWEEN "
            f"{ZONED_NORM_SQ[0]} AND {ZONED_NORM_SQ[1]}"
        ),
        # the maintained index's BM25 probe equals the scan form, whose
        # oracle therefore serves the whole ingest+maintain+query path
        "stream_index_maintain": TX.keyword_search_bm25_sql(),
        # redaction leaves exactly the NOT-IN relation, read back through
        # the zone map's file list (map completeness is part of the check)
        "corpus_redact": (
            "SELECT doc_id, lang, source, n_chars FROM documents "
            f"WHERE doc_id % {REDACT_MOD} != 0"
        ),
        "collocations": TX.collocations_sql(),
        "quality_gate_by_source": TX.quality_gate_by_source_sql(),
        "repetition_stats": TX.repetition_stats_sql(),
        "corpus_stratified": TX.corpus_stratified_sql(),
        "corpus_sample": (
            f"SELECT doc_id, lang, source, n_chars, {TX.doc_fingerprint_sql()} "
            "AS fingerprint FROM documents "
            f"WHERE {TX.doc_fingerprint_sql()} % {TX.SAMPLE_MOD} = 0"
        ),
        "pack_tokens": TX.pack_tokens_sql(),
        "decontaminate_fuzzy": D.decontaminate_fuzzy_sql(),
        "corpus_budget": TX.corpus_budget_sql(),
        "corpus_mix": TX.corpus_mix_sql(),
        "corpus_shuffle": TX.corpus_shuffle_sql(),
        "windowed_counts": SES.windowed_counts_sql(),
        # streaming dedup of a twice-delivered source == the original table
        "stream_dedup": (
            "SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, "
            "value FROM events"
        ),
        "text_stats_rollup": (
            "SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(n_chars) AS BIGINT) AS sum_chars, "
            "CAST(max(n_chars) AS BIGINT) AS max_chars "
            "FROM documents GROUP BY ROLLUP (lang, source)"
        ),
        "dedup_clusters": clusters_sql,
        # same unique fixpoint (component-minimum label): the union-find
        # key's recursive-CTE closure oracle applies verbatim to the
        # distributed min-label path
        "dedup_clusters_distributed": clusters_sql,
        "dedup_clusters_star": clusters_sql,
        "source_cap": TX.source_cap_sql(),
        "centroid_assign": SIM.centroid_assign_sql(),
        "corpus_manifest": TX.corpus_manifest_sql(),
        # the streaming merge must equal the batch manifest bit-for-bit
        "stream_manifest": TX.corpus_manifest_sql(),
        "sql_zcodec": (
            f"{_POINTS_CTE} SELECT id, x, y, {zsql} AS zvalue, "
            "x AS x_rt, y AS y_rt, TRUE AS self_match FROM points"
        ),
        # wrap the cluster labeling (a nested-WITH subquery) and pick
        # each cluster's longest member — the single-window reference
        # form of the Spark side's max_by aggregation
        "dedup_keep_best": (
            "SELECT cluster_id, doc_id AS keep_id, mx AS keep_chars, "
            "nm AS n_members FROM ("
            "  SELECT c.cluster_id, d.doc_id, "
            "    row_number() OVER (PARTITION BY c.cluster_id "
            "      ORDER BY d.n_chars DESC, d.doc_id) AS rn, "
            "    count(*) OVER (PARTITION BY c.cluster_id) AS nm, "
            "    max(d.n_chars) OVER (PARTITION BY c.cluster_id) AS mx "
            f"  FROM ({clusters_sql}) c "
            "  JOIN documents d ON c.doc_id = d.doc_id"
            ") WHERE rn = 1"
        ),
        "scd2_intervals": TS.scd2_intervals_sql(),
        # streaming twin closes open intervals via sentinel and maps the
        # bound back to NULL: equals the batch operator => same oracle
        "stream_scd2": TS.scd2_intervals_sql(),
        "change_points": TS.change_points_sql(),
        "vocab_growth": TX.vocab_growth_sql(bucket_docs=2),
        "gap_fill": TS.gap_fill_sql(),
        "rolling_stats": TS.rolling_stats_sql(),
        "ohlc": TS.ohlc_sql(),
        "funnel": TS.funnel_sql(),
        "retention": TS.retention_sql(),
    }
