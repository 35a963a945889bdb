"""Z-sorted physical layout (SURVEY.md §1.4, §4).

The reference gets spatial locality by making the HBase row key the
Z-order code (``Bucket.java:42-43``): nearby points are byte-adjacent, so
rectangle queries touch few key ranges. The Spark-native equivalent is a
Parquet table range-partitioned and sorted by the ``zvalue`` column:

- ``repartitionByRange("zvalue")`` puts contiguous z-ranges in the same
  file (the analog of HBase regions);
- ``sortWithinPartitions("zvalue")`` orders rows inside each file, so each
  parquet row group's min/max stats cover a tight z-interval;
- queries that carry a ``zvalue BETWEEN`` or ``x/y BETWEEN`` predicate
  are pushed into the scan by Catalyst, and row groups/files wholly
  outside the window are skipped — the same two-phase prune the
  reference's index scan + windowed bucket scans performed, with no
  index RPCs.

At cluster scale the same layout bulk-loads straight into a z-keyed store
(it IS the HFile sort order), and file-level min/max stats give partition
pruning across thousands of files.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from tiny_md_hbase_spark.zorder import zvalue

__all__ = [
    "with_zvalue",
    "write_points_zsorted",
    "load_points_zsorted",
    "compact_points_table",
    "file_z_spans",
    "overlapping_span_pairs",
    "write_bucketed",
    "write_day_partitioned",
    "write_corpus_shards",
    "load_corpus_shard",
    "term_bucket",
    "build_postings",
    "write_inverted_index",
    "keyword_search_indexed",
    "write_embeddings_clustered",
    "append_embeddings_clustered",
    "embedding_knn_clustered",
    "write_embeddings_quantized",
    "embedding_knn_quantized_stored",
    "keyword_search_bm25_indexed",
    "write_points_hsorted",
    "file_h_spans",
    "write_documents_zoned",
    "write_corpus_zonemap",
    "corpus_zonemap_prune",
    "doc_scan_zonemap",
    "write_embeddings_zoned",
    "write_embedding_zonemap",
    "emb_scan_zonemap",
    "write_documents_pk",
    "write_pk_zonemap",
    "append_documents_pk",
    "redact_documents_pk",
    "redact_embeddings_layout",
]


def write_meta_row(
    spark: SparkSession, path: str, cols: list[tuple[str, object, str]]
) -> None:
    """Write a 1-row parquet marker (the ``_meta`` side-table pattern)
    from pure JVM literals: ``spark.range(1).select(lit...)``. A
    local-list ``createDataFrame([...]).coalesce(1).write`` runs the
    write through the Python-RDD-backed path and costs SECONDS per
    call (measured 5-7 s vs 0.3 s for the literal plan on the same
    host) — it was the dominant cost of every layout build that
    persists a parameter marker. ``cols`` is (name, value, sql_type)."""
    spark.range(1).select(
        *[F.lit(v).cast(t).alias(n) for n, v, t in cols]
    ).coalesce(1).write.mode("overwrite").parquet(path)


def write_day_partitioned(
    events: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Materialize the event stream partitioned by day — the standard
    100 TB time-series layout. ``partitionBy("day")`` writes one
    directory per day; a query filtering on ``day`` is pruned at the
    FILE LISTING level (PartitionFilters in the scan), so a one-day
    query against a 3-year table lists and reads ~1/1000 of the files —
    no footer, stat, or row is ever touched for other days. Day is exact
    integer division of the nanos timestamp (µs-floored, matching every
    other time derivation in the engine)."""
    (
        events.withColumn("day", F.expr("(ts div 1000) div 86400000000"))
        .write.mode(mode)
        .partitionBy("day")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    num_buckets: int,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a hash-bucketed, bucket-sorted catalog table.

    Bucketing is the at-rest half of a co-located join: two fact tables
    bucketed on their shared key with the same bucket count join with
    ZERO exchanges — the rows with equal keys are already in matching
    files, so a 100 TB lineitem ⋈ orders that would otherwise shuffle
    both sides every run pays the shuffle once at write time and never
    again. (The read path needs nothing special: Catalyst recognizes the
    bucket spec from the catalog and drops both Exchange nodes; with
    ``sortBy`` it drops the Sorts too.) Read back via ``spark.table``.
    """
    (
        df.repartition(num_buckets, key)
        .write.mode(mode)
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def with_zvalue(points: DataFrame) -> DataFrame:
    if "zvalue" in points.columns:
        return points
    return points.withColumn("zvalue", zvalue("x", "y"))


# Row groups of z-sorted point files. Each row group's x/y/zvalue min/max
# box is the unit that scans and the driver serving path (operators.serving)
# prune by. A write is cut into about ZSORTED_ROW_GROUPS row groups, sized
# from Spark's estimate of the data written, within two bounds:
# - at least 256 KiB: each row group adds ~2 KB of footer and page headers,
#   ~2% of a sf0.1 points table at 256 KiB against ~7% at 64 KiB, and
#   served reads on a 100K-point table were as fast at 256 KiB as at 64;
# - at most Parquet's default of 128 MiB, which every write of more than
#   8 GiB keeps.
ZSORTED_ROW_GROUPS = 64
ZSORTED_ROW_GROUP_MIN_BYTES = 256 * 1024
ZSORTED_ROW_GROUP_MAX_BYTES = 128 * 1024 * 1024


def zsorted_row_group_bytes(enc: DataFrame) -> int:
    """Parquet row-group target for writing ``enc``, from the optimized
    plan's size statistics (no job runs). A plan Spark cannot size, such
    as one over an RDD, gets the upper bound."""
    est = enc._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return min(max(est // ZSORTED_ROW_GROUPS, ZSORTED_ROW_GROUP_MIN_BYTES), ZSORTED_ROW_GROUP_MAX_BYTES)


# Bytes of one z-encoded point row in memory (id long, x int, y int,
# zvalue long): turns the row-group byte bounds into a row count.
_ZSORTED_ROW_BYTES = 24


def zsorted_row_group_rows(n: int) -> int:
    """Parquet row-group length, in rows, for a driver-side write of
    ``n`` z-encoded points: the bounds of :func:`zsorted_row_group_bytes`
    over ``n`` rows of 24 bytes. Spark's write of the same rows cuts its
    row groups at about the same length (10,921 rows at the lower bound)."""
    target = min(
        max(n * _ZSORTED_ROW_BYTES // ZSORTED_ROW_GROUPS, ZSORTED_ROW_GROUP_MIN_BYTES),
        ZSORTED_ROW_GROUP_MAX_BYTES,
    )
    return target // _ZSORTED_ROW_BYTES


def write_zsorted_parts(enc: DataFrame, path: str, mode: str) -> None:
    """The ONE physical write of z-encoded points: each partition sorted
    by ``zvalue`` and cut into row groups of
    :func:`zsorted_row_group_bytes`, so every file and every row group
    carries a tight z (and x/y) min/max box. Callers choose the
    partitioning: a range partition for a full layout, none for an
    appended batch."""
    (
        enc.sortWithinPartitions("zvalue")
        .write.mode(mode)
        .option("parquet.block.size", zsorted_row_group_bytes(enc))
        .parquet(path)
    )


def write_points_zsorted(
    points: DataFrame,
    path: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a points DataFrame as a z-clustered Parquet table.

    ``num_partitions`` sizes the output files; default leaves it to the
    session's shuffle parallelism (on a cluster: pick so each file lands
    near the HDFS block / object-store sweet spot, e.g. total_bytes/512MB).
    ``mode="append"`` adds a new z-sorted batch whose file spans overlap
    the existing ones — pruning degrades until the next compaction, the
    same way HBase memstore flushes stack up HFiles.
    """
    enc = with_zvalue(points)
    if num_partitions:
        enc = enc.repartitionByRange(num_partitions, "zvalue")
    else:
        enc = enc.repartitionByRange("zvalue")
    write_zsorted_parts(enc, path, mode)


def load_points_zsorted(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# Most rows of one file a compaction writes: Spark's advisory partition
# size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``, 64 MiB, the
# data Spark sizes one task's partition at) over rows of
# _ZSORTED_ROW_BYTES, ~2.8M points. With row groups of
# zsorted_row_group_rows a file then holds at most ZSORTED_ROW_GROUPS of
# them, and the serving path's MAX_FILES (128) files hold ~358M points;
# the ingest benchmark's ~57K-point table compacts into one file.
_COMPACT_FILE_ROWS = 64 * 1024 * 1024 // _ZSORTED_ROW_BYTES


def compact_points_table(
    spark: SparkSession, table_path: str, num_partitions: int | None = None
) -> None:
    """Merge the points table's runs into global z-order on the driver —
    the analog of the HBase major compaction backing the reference's
    store, which merges a store's already-sorted HFiles and never
    re-shuffles the table.

    Every appended file is one z-sorted run, but the runs overlap in z,
    which degrades pruning. Compaction reads every data file of
    ``points/`` with pyarrow, through the file system the inserts use
    (:func:`~tiny_md_hbase_spark.operators.write._table_fs`), keeping
    every column and row; a file with
    no ``zvalue`` gets one from :func:`~tiny_md_hbase_spark.zorder.zvalue_np`.
    One stable sort orders the rows null ``zvalue`` first, then by
    ``zvalue``, as ``sortWithinPartitions("zvalue")`` does. The result is
    cut into ``num_partitions`` files (default: one per
    :data:`_COMPACT_FILE_ROWS` rows), each cut moved forward to where
    ``zvalue`` changes, so file z-spans are disjoint; a table with fewer
    distinct z values than files gets fewer files. Each file is written
    in row groups of :func:`zsorted_row_group_rows` of the table.

    The files are written out of place into ``points_compacting/``, so a
    failure there leaves ``points/`` as it was (and the next compaction
    starts ``points_compacting/`` afresh). Then ``points/`` is removed and
    ``points_compacting/`` renamed in its place through
    :func:`~tiny_md_hbase_spark.fsutil.fs_rmtree` and
    :func:`~tiny_md_hbase_spark.fsutil.fs_rename`, which route URI-scheme
    paths through the Hadoop FileSystem API. A crash between those two
    steps loses the points, and a reader during them fails: the swap is
    not a commit.

    Runs no Spark job. The whole table is held on the driver (~24 bytes
    a point, plus the sort's permutation and the copy it takes): the
    scale class of :func:`~tiny_md_hbase_spark.operators.write.refresh_index`,
    which reads every stored ``zvalue``.
    """
    from tiny_md_hbase_spark.fsutil import fs_rename, fs_rmtree
    from tiny_md_hbase_spark.operators.write import (
        _PARQUET_OPTIONS,
        _data_files,
        _sort_by_z,
        _table_fs,
        _with_z,
    )

    fs, root = _table_fs(table_path)
    runs = []
    for path in _data_files(fs, f"{root}/points"):
        with pq.ParquetFile(path, filesystem=fs) as f:
            runs.append(_with_z(f.read()))
    # Spark's schema in a Spark-written footer would hide a zvalue added here
    table = _sort_by_z(pa.concat_tables(runs, promote_options="default")).replace_schema_metadata()
    n = table.num_rows
    z = table["zvalue"]
    zs, valid = z.fill_null(0).to_numpy(), z.is_valid().to_numpy()
    # the rows where a new z value starts: the only places a file may begin
    starts = np.flatnonzero(np.r_[True, (zs[1:] != zs[:-1]) | (valid[1:] != valid[:-1])])
    files = num_partitions or max(1, -(-n // _COMPACT_FILE_ROWS))
    at = np.searchsorted(starts, np.arange(1, files) * n // files)
    cuts = np.unique(starts[at[at < len(starts)]])
    edges = [0, *cuts[cuts > 0].tolist(), n]

    out = f"{root}/points_compacting"
    fs.create_dir(out)
    fs.delete_dir_contents(out)
    rows, tag = zsorted_row_group_rows(n), uuid.uuid4().hex
    for i, (a, b) in enumerate(zip(edges, edges[1:])):
        part = table.slice(a, b - a)
        name = f"{out}/part-{i:05d}-{tag}.parquet"
        pq.write_table(part, name, filesystem=fs, row_group_size=rows, **_PARQUET_OPTIONS)
    fs_rmtree(spark, f"{table_path}/points")
    fs_rename(spark, f"{table_path}/points_compacting", f"{table_path}/points")


def write_corpus_shards(
    documents: DataFrame, path: str, n_shards: int | None = None
) -> None:
    """Materialize the :func:`~tiny_md_hbase_spark.operators.text.corpus_shuffle`
    manifest as the physical training-shard layout: one
    ``shard=N/`` partition directory per shard, rows ordered by the
    deterministic in-shard position ``pos`` — the write-training-data
    step a data loader consumes sequentially.

    Scale shape: ONE exchange — a RANGE partition on (shard, pos) sized
    to the cluster — + an in-partition sort; `partitionBy` on the write
    then splits files per shard directory with no further movement.
    Hash-partitioning on the shard column alone would cap the whole
    write at ``n_shards`` tasks (the inverted-index writer's old
    16-task ceiling); range-partitioning on (shard, pos) keeps write
    parallelism at cluster width while each output file holds a
    CONTIGUOUS ``pos`` run of one shard — sequential-consumption
    locality per file is preserved, not just per directory. The layout
    is reproducible: re-running over the same corpus yields identical
    shard membership and order (pure function of doc_id), so a resumed
    or re-provisioned 100 TB write lands the same documents in the same
    shards."""
    from tiny_md_hbase_spark.operators.text import SHUFFLE_SHARDS, corpus_shuffle

    manifest = corpus_shuffle(
        documents, n_shards=n_shards
    ) if n_shards else corpus_shuffle(documents)
    npart = max(
        documents.sparkSession.sparkContext.defaultParallelism,
        n_shards or SHUFFLE_SHARDS,
    )
    out = (
        documents.join(manifest.select("doc_id", "shard", "pos"), "doc_id")
        .repartitionByRange(npart, "shard", "pos")
        .sortWithinPartitions("shard", "pos")
    )
    out.write.mode("overwrite").partitionBy("shard").parquet(path)


def load_corpus_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One training shard in reading order; partition pruning means only
    that shard's directory is listed/read."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .filter(F.col("shard") == shard)
        .orderBy("pos")
    )


def file_z_spans(spark: SparkSession, pts_path: str) -> DataFrame:
    """Per-file z-span and row count of a stored points table: one
    map-side aggregation grouped on ``input_file_name()`` — the direct
    observable of clustering health (what the parquet footer min/max
    stats expose to the pruner). Columns: (file, min_z, max_z, n_rows).
    """
    from pyspark.sql import functions as F

    df = with_zvalue(spark.read.parquet(pts_path))
    return df.groupBy(F.input_file_name().alias("file")).agg(
        F.min("zvalue").alias("min_z"),
        F.max("zvalue").alias("max_z"),
        F.count("*").alias("n_rows"),
    )


def overlapping_span_pairs(spans: list) -> int:
    """Number of file pairs whose z-spans overlap (driver-side: the file
    list is index-table-sized, thousands at most). 0 == perfectly
    clustered: every z-window query prunes to at most one file per
    boundary. Sweep-line O(f log f)."""
    ivals = sorted((r.min_z, r.max_z) for r in spans)
    pairs = 0
    active: list[int] = []  # max_z of open intervals
    for lo, hi in ivals:
        active = [m for m in active if m >= lo]
        pairs += len(active)
        active.append(hi)
    return pairs


def write_documents_zoned(
    documents: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Corpus layout for zone-map skipping: documents range-clustered by
    (lang, n_chars) — each file then holds one (or a boundary pair of)
    language(s) and a tight n_chars span, which is exactly what makes
    the per-file stats selective. The corpus-table twin of
    :func:`write_points_zsorted` (there the clustering column is the
    space-filling key; here it is the filter columns a curation pass
    actually scans on: language and document length)."""
    if num_partitions:
        enc = documents.repartitionByRange(num_partitions, "lang", "n_chars")
    else:
        enc = documents.repartitionByRange("lang", "n_chars")
    enc.sortWithinPartitions("lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(path)


def write_corpus_zonemap(
    spark: SparkSession, docs_path: str, zones_path: str
) -> None:
    """Zone map for a stored documents table. One row per data file: the
    file's LANGUAGE SET (low-cardinality membership stat — the set
    analog of min/max) and its (min, max) n_chars span, built as one
    map-side aggregation grouped on ``input_file_name()``. On the
    (lang, n_chars)-clustered layout both stats are tight, so a curation
    scan (lang = X AND n_chars BETWEEN ...) prunes whole files before
    any footer is opened. Metadata-sized at 100 TB: one row per file."""
    df = spark.read.parquet(docs_path)
    stats = df.groupBy(F.input_file_name().alias("file")).agg(
        F.sort_array(F.collect_set("lang")).alias("langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count("*").alias("n_rows"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(zones_path)


def corpus_zonemap_prune(
    spark: SparkSession,
    zones_path: str,
    lang: str,
    chars_range: tuple[int, int],
) -> list[str]:
    """File-skipping decision for a corpus scan: keep files whose lang
    set contains the query language AND whose n_chars span intersects
    the query range. Driver-side over the metadata-sized zone table
    (one row per file)."""
    zones = spark.read.parquet(zones_path)
    keep = zones.filter(
        F.array_contains("langs", lang)
        & ~(
            (F.col("max_chars") < chars_range[0])
            | (F.col("min_chars") > chars_range[1])
        )
    ).select("file")
    return [r.file for r in keep.collect()]


def doc_scan_zonemap(
    spark: SparkSession,
    docs_path: str,
    zones_path: str,
    lang: str,
    chars_range: tuple[int, int],
) -> DataFrame:
    """Curation scan through the corpus zone map: prune files by
    (language membership, n_chars span), read ONLY the survivors, apply
    the exact predicate as the pushed residual. Equals the plain
    filtered scan by construction — the zone map makes no
    false-negative claims — so a WHERE-clause oracle serves verbatim.
    Returns (doc_id, lang, source, n_chars)."""
    files = corpus_zonemap_prune(spark, zones_path, lang, chars_range)
    if not files:
        return spark.createDataFrame(
            [], "doc_id long, lang string, source string, n_chars long"
        )
    df = spark.read.parquet(*files)
    return df.filter(
        (F.col("lang") == lang)
        & F.col("n_chars").between(chars_range[0], chars_range[1])
    ).select("doc_id", "lang", "source", "n_chars")


def _emb_norm_sq(v: Column) -> Column:
    # per-row left-to-right double fold — order-deterministic (it is
    # within one array, never across partitions); round(6) pins the
    # boundary against the oracle's list_sum fold
    return F.round(
        F.aggregate(
            v.cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        ),
        6,
    )


def write_embeddings_zoned(
    embeddings: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Embedding layout for zone-map skipping: vectors range-clustered
    by their LEADING COMPONENT — a crude 1-D projection, but enough to
    give each file a tight span of it (the honest claim: for semantic
    pruning the cluster-partitioned ANN layout is the real index; the
    zone map is the cheap generic mechanism that needs no centroids).
    ``num_partitions`` sizes the files explicitly — a bare range
    exchange lets AQE coalesce a small build into one file, which makes
    the zone map a no-op."""
    e = embeddings.withColumn("_c0", F.element_at("embedding", 1))
    if num_partitions:
        e = e.repartitionByRange(num_partitions, "_c0")
    else:
        e = e.repartitionByRange("_c0")
    e.sortWithinPartitions("_c0").drop("_c0").write.mode(
        "overwrite"
    ).parquet(path)


def write_embedding_zonemap(
    spark: SparkSession, emb_path: str, zones_path: str
) -> None:
    """Zone map for a stored embeddings table: per file, the (min, max)
    of the leading component AND of the squared norm. The component
    span prunes range scans on the clustered layout; the NORM BOUNDS
    are the production junk-vector sweep (un-normalized or zero vectors
    betray an upstream bug and get quarantined by a norm-band scan) —
    degenerate on a unit-normalized corpus, where every file's bounds
    read 1.0, and that degeneracy is itself the health signal."""
    df = spark.read.parquet(emb_path)
    c0 = F.element_at("embedding", 1)
    stats = df.groupBy(F.input_file_name().alias("file")).agg(
        F.min(c0).alias("min_c0"),
        F.max(c0).alias("max_c0"),
        F.min(_emb_norm_sq(F.col("embedding"))).alias("min_norm_sq"),
        F.max(_emb_norm_sq(F.col("embedding"))).alias("max_norm_sq"),
        F.count("*").alias("n_rows"),
    )
    stats.coalesce(1).write.mode("overwrite").parquet(zones_path)


def emb_scan_zonemap(
    spark: SparkSession,
    emb_path: str,
    zones_path: str,
    c0_range: tuple[float, float],
    norm_sq_range: tuple[float, float] = (0.5, 1.5),
) -> DataFrame:
    """Component-range scan through the embedding zone map with the
    norm-band residual (the junk-vector sweep): prune files whose
    leading-component span misses ``c0_range`` OR whose norm bounds sit
    wholly outside ``norm_sq_range``, read only the survivors, apply
    both exact predicates as residuals. Returns (vec_id, label)."""
    zones = spark.read.parquet(zones_path)
    keep = zones.filter(
        ~(
            (F.col("max_c0") < c0_range[0])
            | (F.col("min_c0") > c0_range[1])
        )
        & ~(
            (F.col("max_norm_sq") < norm_sq_range[0])
            | (F.col("min_norm_sq") > norm_sq_range[1])
        )
    ).select("file")
    files = [r.file for r in keep.collect()]
    if not files:
        return spark.createDataFrame([], "vec_id long, label int")
    df = spark.read.parquet(*files)
    c0 = F.element_at("embedding", 1)
    return df.filter(
        c0.between(c0_range[0], c0_range[1])
        & _emb_norm_sq(F.col("embedding")).between(
            norm_sq_range[0], norm_sq_range[1]
        )
    ).select("vec_id", "label")


def write_documents_pk(
    documents: DataFrame, path: str, num_partitions: int | None = None
) -> None:
    """Primary-key corpus layout: documents range-clustered by doc_id —
    each file holds a contiguous id span, the prerequisite for
    TARGETED maintenance (redaction, point lookups by id) the same way
    the z-table's key clustering is the prerequisite for rectangle
    pruning. The reference has NO delete anywhere in its API
    (SURVEY §2.5); this layout plus :func:`redact_documents_pk` is the
    beyond-parity answer every real training-data pipeline needs (a
    takedown/GDPR request against a 100 TB corpus must not cost a full
    rewrite)."""
    if num_partitions:
        enc = documents.repartitionByRange(num_partitions, "doc_id")
    else:
        enc = documents.repartitionByRange("doc_id")
    enc.sortWithinPartitions("doc_id").write.mode("overwrite").parquet(path)


PK_ZONE_SCHEMA = (
    "file string, min_id long, max_id long, min_chars long, "
    "max_chars long, n_rows long"
)


def _pk_file_stats(df: DataFrame) -> DataFrame:
    return df.groupBy(F.input_file_name().alias("file")).agg(
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.count("*").alias("n_rows"),
    )


def write_pk_zonemap(
    spark: SparkSession, docs_path: str, zones_path: str
) -> None:
    """Zone map for the primary-key corpus layout: per file, the doc_id
    span (tight on the id-clustered layout — the pruning stat for
    targeted redaction and id-range scans) plus the n_chars span and
    row count. One map-side aggregation; metadata-sized at 100 TB."""
    _pk_file_stats(spark.read.parquet(docs_path)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(zones_path)


def append_documents_pk(
    documents: DataFrame,
    docs_path: str,
    zones_path: str,
    num_partitions: int | None = None,
) -> int:
    """Incremental maintenance of the pk layout + its zone map: append
    the batch as new files, then stat ONLY the new files (set
    difference of the directory listing against the zone table's file
    list — never a table rescan) and append their zone rows. The
    zone-map twin of the z-table's append path: ingest cost is
    O(batch), and the map stays complete — a pruned scan that missed an
    unmapped file would be a FALSE NEGATIVE, which the zone-map family
    never produces. Appended files' id spans may overlap existing ones
    (pruning degrades, exactly the z-span story) until a re-cluster +
    :func:`write_pk_zonemap` rebuild. Returns the number of files
    mapped."""
    from tiny_md_hbase_spark.fsutil import fs_listdir

    spark = documents.sparkSession
    if num_partitions:
        enc = documents.repartitionByRange(num_partitions, "doc_id")
    else:
        enc = documents.repartitionByRange("doc_id")
    enc.sortWithinPartitions("doc_id").write.mode("append").parquet(docs_path)
    known = {
        r.file.rsplit("/", 1)[-1]
        for r in spark.read.parquet(zones_path).select("file").collect()
    }
    new_files = [
        f"{docs_path}/{name}"
        for name in fs_listdir(spark, docs_path)
        if name.endswith(".parquet") and name not in known
    ]
    if not new_files:
        return 0
    stats = _pk_file_stats(spark.read.parquet(*new_files)).localCheckpoint()
    stats.coalesce(1).write.mode("append").parquet(zones_path)
    return len(new_files)


def redact_documents_pk(
    spark: SparkSession,
    docs_path: str,
    zones_path: str,
    doc_ids: list[int],
) -> dict:
    """TARGETED delete-by-id over the pk layout — rewrite ONLY the files
    whose zone-map id span contains a target id; every other file's
    bytes are untouched (its name, mtime, and stats survive verbatim).
    The metadata-driven shape a takedown pipeline needs at 100 TB: k
    requested ids touch at most k files on the id-clustered layout, so
    the rewrite cost is O(k x file size), not O(corpus).

    Mechanics per affected file: read it, anti-filter the target ids,
    write the survivors out-of-place, then swap in map-first order —
    move the replacements in under unique names, PATCH the zone rows
    (drop the replaced files', append the replacements'), and only then
    delete the originals — so a map-routed reader sees a consistent
    relation (pre- or post-redact, never a mix) in every crash window.
    Single-writer maintenance op on plain parquet (the
    compact_points_table caveat: production wraps the swap in a
    transactional table format; a re-run may rewrite files whose id
    SPAN still covers a target, but removes zero rows and leaves the
    relation identical, and a crash between patch and delete leaves
    only map-invisible orphan originals — see the swap comment).
    ``doc_ids`` is a driver-side request list (takedown
    requests are metadata-sized; pass a few thousand at most — batch
    larger sweeps through an anti-join rewrite instead). Only the
    TOUCHED files' zone rows ever reach the driver: the span probe is a
    broadcast range join against the zone table and the zone-table
    patch is a distributed anti-join + union, so a million-file table
    costs the driver O(touched + targets), never O(files). Returns
    {files_total, files_touched, rows_removed}."""
    import uuid

    from tiny_md_hbase_spark.fsutil import fs_listdir, fs_rename, fs_rmtree

    targets = sorted(set(int(i) for i in doc_ids))
    zones_df = spark.read.parquet(zones_path)
    targets_df = spark.createDataFrame([(i,) for i in targets], "id long")
    touched = (
        zones_df.alias("z")
        .join(
            F.broadcast(targets_df).alias("t"),
            (F.col("t.id") >= F.col("z.min_id"))
            & (F.col("t.id") <= F.col("z.max_id")),
            "left_semi",
        )
        .collect()
    )
    out = {
        "files_total": zones_df.count(),
        "files_touched": len(touched),
        "rows_removed": 0,
    }
    if not touched:
        return out
    tfiles = [z.file for z in touched]
    keep = spark.read.parquet(*tfiles).filter(
        ~F.col("doc_id").isin(targets)
    )
    n_before = sum(z.n_rows for z in touched)
    tmp = f"{docs_path}_redacting"
    keep.repartitionByRange(
        max(1, len(tfiles)), "doc_id"
    ).sortWithinPartitions("doc_id").write.mode("overwrite").parquet(tmp)
    # swap order is crash-safety-load-bearing: (1) move replacements in,
    # (2) PATCH THE ZONE MAP, (3) only then delete the originals. A
    # map-routed reader is consistent in every window — before the patch
    # it reads the original files (all still present: the pre-redact
    # relation), after it the replacements (the post-redact relation);
    # deleting originals first would leave the map pointing at missing
    # paths with the replacements invisible, the false negative the
    # zone-map family forbids. A crash between (2) and (3) leaves the
    # originals as unmapped orphans: invisible to map-routed reads,
    # duplicated in raw directory reads until a re-cluster
    # (write_documents_pk + write_pk_zonemap rebuild) or a sweep of
    # files absent from the map reclaims them — the documented
    # plain-parquet residue a transactional table format removes.
    tag = uuid.uuid4().hex[:8]
    moved = []
    for i, name in enumerate(
        sorted(
            n for n in fs_listdir(spark, tmp) if n.endswith(".parquet")
        )
    ):
        dest = f"{docs_path}/part-redact-{tag}-{i:05d}.parquet"
        fs_rename(spark, f"{tmp}/{name}", dest)
        moved.append(dest)
    tfiles_df = spark.createDataFrame(
        [(f,) for f in tfiles], "file string"
    )
    survivors = zones_df.join(F.broadcast(tfiles_df), "file", "left_anti")
    new_stats = (
        _pk_file_stats(spark.read.parquet(*moved)).localCheckpoint()
        if moved
        else spark.createDataFrame([], PK_ZONE_SCHEMA)
    )
    # materialized before overwriting the table being read
    patched = survivors.unionByName(new_stats).localCheckpoint()
    patched.coalesce(1).write.mode("overwrite").parquet(zones_path)
    for z in touched:
        fs_rmtree(spark, z.file)
    fs_rmtree(spark, tmp)
    n_after = (
        new_stats.agg(F.sum("n_rows")).collect()[0][0] if moved else 0
    ) or 0
    out["rows_removed"] = int(n_before - n_after)
    return out


def term_bucket(term: str, num_buckets: int = 16) -> int:
    """Driver-side twin of the index's term-bucket hash: polynomial
    rolling hash over codepoints (``h = h*31 + cp mod 1e9+7``, the
    ``doc_fingerprint`` family) mod ``num_buckets``. Computable in plain
    Python, so a query can name its partition directories as literals —
    the prerequisite for partition pruning at plan time."""
    from tiny_md_hbase_spark.operators.text import FINGERPRINT_MOD

    h = 0
    for ch in term:
        h = (h * 31 + ord(ch)) % FINGERPRINT_MOD
    return h % num_buckets


def _term_bucket_col(term, num_buckets: int):
    from tiny_md_hbase_spark.operators.text import FINGERPRINT_MOD

    codes = F.transform(F.split(term, ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % FINGERPRINT_MOD,
    )
    return F.pmod(h, F.lit(num_buckets)).cast("int")


def _salt_buckets(df: DataFrame, n_dirs: int) -> int:
    """Salt values PER PARTITION DIRECTORY for a salted layout write,
    sized from the plan's estimated bytes so output files land near the
    target size (guide §6: 128 MB - 1 GB files): ``S = ceil(bytes /
    (n_dirs * target))``. A fixed cluster-width salt (the old
    ``max(defaultParallelism, n_dirs)``) is the wrong constant at BOTH
    ends — at bench scale it fans a few MB into n_dirs x cores tiny
    files (measured 496 files for a 1 MB embeddings table, where file
    open/commit overhead dominated the build), and at 100 TB it caps
    write parallelism at the cluster width regardless of data volume.
    Deriving S from the input size gives ~1 file per ``target`` bytes at
    any scale; the salt stays a deterministic pmod so a key's rows still
    land in one task. ``SPARK_GRAFT_TARGET_FILE_BYTES`` overrides the
    128 MB default for clusters that want larger files. Falls back to
    cluster-width salting when plan statistics are unavailable
    (RDD-backed lineage)."""
    target = int(
        os.environ.get("SPARK_GRAFT_TARGET_FILE_BYTES", str(128 << 20))
    )
    para = df.sparkSession.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size = None
    if size is None or size <= 0 or size > (1 << 60):
        return max(1, -(-para // max(1, n_dirs)))
    return max(1, -(-size // (max(1, n_dirs) * target)))


def build_postings(
    documents: DataFrame,
    num_buckets: int = 16,
    salt_buckets: int | None = None,
) -> DataFrame:
    """The pre-write posting table of :func:`write_inverted_index`,
    already carrying the exchange the writer relies on — exposed so the
    plan-contract test can assert the write parallelism (scaling with
    data volume, never capped at the bucket count) on the exact
    DataFrame that gets written.

    The pre-write exchange hash-partitions on (bucket, pmod(crc32(term),
    S)) with S salt values per bucket directory sized by
    :func:`_salt_buckets` (``salt_buckets`` overrides): at 100 TB the
    write fans far beyond the 16-task ceiling a bare
    ``repartition("bucket")`` imposes, while a bench-scale corpus lands
    in ~one file per bucket instead of bucket x cores tiny files. A
    term's postings share one salt value, so they still share one file.

    The portable bucket hash (:func:`_term_bucket_col` — an
    ``F.aggregate`` char fold, CodegenFallback/interpreted, kept
    portable so the query side can compute bucket literals in plain
    Python) is evaluated on ``SELECT DISTINCT term`` — vocabulary-sized
    — and equi-joined back onto the posting stream, NOT projected per
    (term, doc_id) row: postings outnumber the vocabulary by the
    average document frequency (orders of magnitude at corpus scale),
    so the interpreted fold must never sit on the posting-stream side
    of the plan. Bucket assignment is byte-identical either way; the
    join keys the vocabulary on term and AQE broadcasts it when small."""
    from tiny_md_hbase_spark.operators.text import tokens

    postings = (
        documents.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", F.lower("tok").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    vocab = (
        postings.select("term")
        .distinct()
        .withColumn("bucket", _term_bucket_col(F.col("term"), num_buckets))
    )
    postings = postings.join(vocab, "term")
    s = salt_buckets if salt_buckets is not None else _salt_buckets(
        documents, num_buckets
    )
    return postings.repartition(
        num_buckets * s, "bucket", F.pmod(F.crc32("term"), F.lit(s))
    )


def write_inverted_index(
    documents: DataFrame, path: str, num_buckets: int = 16
) -> None:
    """Materialize the corpus inverted index: one posting row per
    (term, doc_id) with its term frequency, laid out as
    ``bucket=N/`` partition directories keyed by a PORTABLE term hash
    (:func:`term_bucket` — not Spark-internal xxhash64, so the query
    side can compute bucket literals without a cluster round trip).

    The single-query scan form (``text.keyword_search``) reads the whole
    corpus per query; this is the repeated-ad-hoc-query build: pay one
    explode + aggregate pass, then every search touches only
    ``len(terms)/num_buckets`` of the index files via partition pruning.
    Scale shape: explode → map-side partial count on (term, doc_id) →
    one exchange on (bucket, crc32(term)) sized to the cluster, so each
    bucket DIRECTORY is written by many tasks in parallel. Partitioning
    on the bucket column alone would cap the write at ``num_buckets``
    non-empty tasks (16 by default) — at 100 TB that one stage becomes
    the pipeline's bottleneck by construction. Salting with the term
    hash keeps write parallelism at cluster width while leaving pruning
    semantics untouched, and because ALL postings of a term share a
    crc32 they land in the same output file — the ``term IN (...)``
    row-group stats inside a probed directory stay as tight as with the
    single-task layout."""
    from tiny_md_hbase_spark.operators.text import tokens

    build_postings(documents, num_buckets).write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(path)
    # persist the bucket modulus: a reader probing with a different
    # num_buckets computes bucket literals under the wrong modulus and
    # silently prunes to the wrong directories. The _meta prefix keeps
    # the marker invisible to the postings read (FileIndex hides _paths)
    write_meta_row(
        documents.sparkSession,
        f"{path}/_index_meta",
        [("num_buckets", num_buckets, "int")],
    )
    # per-document token counts — the BM25 length-normalization side
    # table (underscore-prefixed: invisible to the postings read).
    # Written from `documents`, NOT derived from the postings, so
    # zero-token documents still count toward N/avgdl exactly as the
    # scan form counts them
    documents.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("dl")
    ).write.mode("overwrite").parquet(f"{path}/_doc_lens")


def build_postings_positional(
    documents: DataFrame,
    num_buckets: int = 16,
    toks_col: str | None = None,
    repartition_out: bool = True,
    salt_buckets: int | None = None,
    bucket_inline: bool = False,
) -> DataFrame:
    """Positional posting rows (term, doc_id, positions, tf, bucket):
    the phrase-capable index build. ``posexplode`` keeps each token's
    0-based offset; positions aggregate as a SORTED array per
    (term, doc_id) — ``sort_array(collect_list(pos))``, deterministic
    where bare collect_list is not — so adjacency checks downstream are
    order-stable. Bucketing and the vocabulary-side portable hash join
    are :func:`build_postings`' exactly (the interpreted char fold must
    never ride the posting stream).

    ``toks_col`` names an already-lowered token-array column on
    ``documents`` (a caller that also needs per-doc token counts can
    tokenize ONCE and share the column); default tokenizes here.
    ``repartition_out=False`` skips the final salted exchange for
    callers that re-key the stream themselves (the streaming
    maintenance sink repartitions to one-task-per-bucket — stacking
    both exchanges would shuffle every posting twice). The salted
    exchange is sized by :func:`_salt_buckets` (``salt_buckets``
    overrides) — data-proportional write fan-out, see
    :func:`build_postings`.

    ``bucket_inline=True`` computes the bucket hash directly on each
    posting row instead of once per distinct term via the vocabulary
    hash-join. The join exists so the interpreted char fold never rides
    a CORPUS-sized posting stream; a micro-batch's posting stream is
    batch-sized, where the vocabulary route's three extra exchanges
    (vocab distinct + re-keying both join sides on term) cost more than
    folding a few characters per row — same bucket values, same output,
    one exchange fewer per trigger."""
    from tiny_md_hbase_spark.operators.text import tokens

    toks = (
        F.col(toks_col)
        if toks_col is not None
        else F.transform(tokens("text"), lambda t: F.lower(t))
    )
    postings = (
        documents.select(
            "doc_id",
            F.posexplode(toks).alias("pos", "term"),
        )
        .groupBy("term", "doc_id")
        .agg(
            F.sort_array(F.collect_list(F.col("pos").cast("long"))).alias(
                "positions"
            ),
            F.count("*").cast("long").alias("tf"),
        )
    )
    if bucket_inline:
        postings = postings.withColumn(
            "bucket", _term_bucket_col(F.col("term"), num_buckets)
        )
    else:
        vocab = (
            postings.select("term")
            .distinct()
            .withColumn("bucket", _term_bucket_col(F.col("term"), num_buckets))
        )
        postings = postings.join(vocab, "term")
    if not repartition_out:
        return postings
    s = salt_buckets if salt_buckets is not None else _salt_buckets(
        documents, num_buckets
    )
    return postings.repartition(
        num_buckets * s, "bucket", F.pmod(F.crc32("term"), F.lit(s))
    )


def write_positional_index(
    documents: DataFrame, path: str, num_buckets: int = 16
) -> None:
    """Materialize the positional inverted index — the phrase-search
    build. Layout, salting, and the ``_index_meta`` modulus marker are
    :func:`write_inverted_index`'s (same pruning story: a phrase probe
    reads only its terms' bucket directories); the payload adds each
    posting's sorted position list, ~one extra long per occurrence —
    the standard positional-index size trade (Lucene's .pos file)."""
    build_postings_positional(documents, num_buckets).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(path)
    write_meta_row(
        documents.sparkSession,
        f"{path}/_index_meta",
        [("num_buckets", num_buckets, "int")],
    )


def phrase_search_positional(
    spark: SparkSession,
    path: str,
    phrase: tuple[str, ...] | None = None,
    k: int = 10,
    num_buckets: int | None = None,
) -> DataFrame:
    """Exact phrase search over the positional index — returns exactly
    ``text.phrase_search``'s rows ((doc_id, n_hits), (n_hits desc,
    doc_id) order) without touching the corpus: the classic positional
    posting-list intersection. Read ONLY the query terms' bucket
    directories, then fold left across the phrase: start from term 0's
    position list and for each subsequent term i keep
    ``array_intersect(starts, positions_i - i)`` — the start offsets
    whose i-th token matches — dropping documents the moment the
    intersection empties. Per query the work is O(postings of the
    query's terms), not O(corpus): the point of paying the positional
    build. A phrase with a repeated term intersects the same posting
    list at two distances — no special case."""
    from tiny_md_hbase_spark.operators.text import PHRASE_TERMS

    qs = [t.lower() for t in (PHRASE_TERMS if phrase is None else phrase)]
    if not qs:
        raise ValueError("phrase_search_positional requires a non-empty phrase")
    if num_buckets is None:
        num_buckets = int(
            spark.read.parquet(f"{path}/_index_meta").first().num_buckets
        )
    buckets = sorted({term_bucket(q, num_buckets) for q in qs})
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return phrase_rank_postings(idx, qs, k)


def phrase_rank_postings(idx: DataFrame, qs: list[str], k: int) -> DataFrame:
    """The positional-intersection core of :func:`phrase_search_positional`
    over an ALREADY-PRUNED posting relation (term, doc_id, positions) —
    shared with the stream-maintained index reader
    (``streaming.ingest.phrase_search_maintained``), whose pruning is
    path selection over a batch tree instead of a partition filter."""
    idx = idx.filter(F.col("term").isin(sorted(set(qs)))).select(
        "term", "doc_id", "positions"
    )
    base = idx.filter(F.col("term") == qs[0]).select(
        "doc_id", F.col("positions").alias("starts")
    )
    for i, q in enumerate(qs[1:], 1):
        nxt = idx.filter(F.col("term") == q).select(
            "doc_id",
            F.transform("positions", lambda p: p - i).alias(f"_shift{i}"),
        )
        base = (
            base.join(nxt, "doc_id")
            .select(
                "doc_id",
                F.array_intersect("starts", f"_shift{i}").alias("starts"),
            )
            .filter(F.size("starts") > 0)
        )
    return (
        base.select("doc_id", F.size("starts").cast("long").alias("n_hits"))
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )


def keyword_search_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] | None = None,
    k: int = 10,
    num_buckets: int | None = None,
) -> DataFrame:
    """Conjunctive keyword search over the materialized inverted index —
    returns exactly the rows of ``text.keyword_search`` on the same
    corpus ((doc_id, score), score = total query-term occurrences,
    (score desc, doc_id) order).

    The scan reads ONLY the partition directories of the query terms'
    buckets (bucket literals from :func:`term_bucket`; `term IN (...)`
    prunes row groups inside them via parquet stats), then one
    doc_id-keyed aggregation enforces the conjunction
    (count(distinct term) == len(terms)) and sums tf into the score.
    Per query that is O(matching postings), not O(corpus) — the point
    of building the index."""
    from tiny_md_hbase_spark.operators.text import SEARCH_TERMS

    if num_buckets is None:
        # read the modulus the index was WRITTEN with — a mismatched
        # guess would prune to the wrong directories and return an
        # empty/wrong result with no error
        num_buckets = int(
            spark.read.parquet(f"{path}/_index_meta").first().num_buckets
        )
    qs = sorted(
        {t.lower() for t in (SEARCH_TERMS if terms is None else terms)}
    )
    if not qs:
        # mirror the scan form: explicit empty terms error out rather
        # than silently searching the default query
        raise ValueError("keyword_search_indexed requires at least one term")
    buckets = sorted({term_bucket(q, num_buckets) for q in qs})
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return keyword_rank_postings(idx, qs, k)


def keyword_rank_postings(idx: DataFrame, qs: list[str], k: int) -> DataFrame:
    """The conjunction-and-rank core of :func:`keyword_search_indexed`
    over an already-pruned posting relation (term, doc_id, tf) — shared
    with the stream-maintained index reader."""
    idx = idx.filter(F.col("term").isin(qs))
    return (
        idx.groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").cast("long").alias("score"),
        )
        .filter(F.col("n_terms") == len(qs))
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


# the centroid family of the cluster-partitioned ANN layout: the
# unit-normalized Park-Miller centroids (similarity._unit_centroids).
# Recorded in _ivf_meta and verified by the probe path — assignment and
# probe ranking must share one family or pruning silently misroutes.
IVF_CENTROID_FAMILY = "unit-pm31"


def write_embeddings_clustered(
    embeddings: DataFrame, path: str, n_clusters: int = 16, dim: int = 64
) -> None:
    """Materialize the ANN layout the IVF docstrings promise: embeddings
    written ``partitionBy(ivf_cluster)`` under the portable fixed
    centroids — the embedding-space analog of the z-sorted points table
    (layout IS the index). A probe then reads ONLY the probed clusters'
    partition directories via listing-level pruning; at 10^9 vectors a
    4-of-16 probe touches a quarter of the files before a single dot
    product runs.

    The assignment (similarity.assign_fixed_clusters, under the
    unit-normalized centroid family) is row-local; the pre-write
    exchange hash-partitions on (ivf_cluster, pmod(crc32(vec_id), S))
    with S salt values per cluster sized by :func:`_salt_buckets` —
    partitioning on the cluster column alone would cap the whole build
    at ``n_clusters`` write tasks (the same 16-task ceiling the
    inverted-index writer had), which at 10^9 vectors makes the write
    the bottleneck by construction, while the old fixed cluster-width
    salt fanned a bench-scale table into n_clusters x cores tiny files
    (496 files for 1 MB of vectors — file open/commit overhead was the
    whole build). Listing-level pruning is untouched: probes prune on
    the ``ivf_cluster=N/`` directories, not on file counts.

    ``_ivf_meta`` records the centroid FAMILY beside (n_clusters, dim):
    a probe ranking query-to-centroid distances under a different
    family than the one that assigned the rows would silently prune to
    the wrong directories, so the reader refuses a family it does not
    recognize instead of returning confidently wrong results."""
    from tiny_md_hbase_spark.operators.similarity import assign_fixed_clusters

    assigned = assign_fixed_clusters(embeddings, n_clusters, dim).select(
        "vec_id", "label", F.col("v").alias("embedding"), "ivf_cluster"
    )
    s = _salt_buckets(embeddings, n_clusters)
    assigned.repartition(
        n_clusters * s,
        "ivf_cluster",
        F.pmod(F.crc32(F.col("vec_id").cast("string")), F.lit(s)),
    ).write.mode("overwrite").partitionBy("ivf_cluster").parquet(path)
    write_meta_row(
        embeddings.sparkSession,
        f"{path}/_ivf_meta",
        [
            ("n_clusters", n_clusters, "int"),
            ("dim", dim, "int"),
            ("family", IVF_CENTROID_FAMILY, "string"),
        ],
    )


def append_embeddings_clustered(
    new_embeddings: DataFrame,
    path: str,
    n_clusters: int | None = None,
    dim: int | None = None,
    family: str | None = None,
) -> None:
    """Incremental maintenance of the cluster-partitioned ANN layout:
    assign the NEW batch under the layout's STORED (n_clusters, dim)
    — the fixed portable centroids mean an append never re-clusters or
    rewrites existing data; each new row lands in its cluster's
    directory and every prior file is untouched. The embedding-space
    analog of the z-table's append path (write_points_zsorted
    mode="append"): ingest cost is O(batch), reads stay
    partition-pruned, and a full-probe search over the appended layout
    still equals exact brute-force kNN over the union — no compaction
    step is ever required because cluster membership is a pure function
    of the vector."""
    from tiny_md_hbase_spark.operators.similarity import (
        assign_fixed_clusters,
    )

    if n_clusters is None or dim is None:
        # callers that append repeatedly (the streaming sink) pass the
        # immutable meta through instead of re-reading it per batch —
        # INCLUDING the family they read, so the guard below applies to
        # the pass-through path too instead of being bypassable by it
        spark = new_embeddings.sparkSession
        meta = spark.read.parquet(f"{path}/_ivf_meta").first()
        n_clusters, dim = int(meta.n_clusters), int(meta.dim)
        family = meta.asDict().get("family")
    if family != IVF_CENTROID_FAMILY:
        # appending rows assigned under one centroid family into a
        # layout built under another silently corrupts routing. A
        # caller passing (n_clusters, dim) through MUST pass the family
        # it read from _ivf_meta alongside them — omitting it fails
        # here rather than silently mixing assignment families.
        raise ValueError(
            f"clustered layout at {path} declares centroid family "
            f"{family!r}; appends assign under {IVF_CENTROID_FAMILY!r} "
            "— rebuild the layout, or pass the family read from "
            "_ivf_meta when passing (n_clusters, dim) through"
        )
    assigned = assign_fixed_clusters(
        new_embeddings, n_clusters, dim
    ).select(
        "vec_id", "label", F.col("v").alias("embedding"), "ivf_cluster"
    )
    # unlike the one-shot build, appends stay ONE task per touched
    # cluster: a micro-batch is O(batch) rows, and salting it would
    # multiply small files per trigger — the build-time parallelism
    # concern does not apply to batch-sized increments
    assigned.repartition("ivf_cluster").write.mode("append").partitionBy(
        "ivf_cluster"
    ).parquet(path)


VEC_DELETED_SCHEMA = "vec_id long"

# --- shared tombstone plumbing (the right-to-be-forgotten family) ----------
# One implementation serves every derived-artifact layout: the maintained
# text index (key doc_id), the clustered/quantized ANN layouts (vec_id).
# Ids append to an underscore-prefixed `_deleted` side table (invisible to
# the layout's data read, bounded by total takedowns); readers anti-join
# it; physical removal rides the layout's next rebuild/graduation.


def append_tombstones(
    spark: SparkSession, layout_path: str, ids: list[int], key_col: str
) -> int:
    """Record takedown ids for a stored layout. Returns ids recorded."""
    uniq = sorted(set(int(i) for i in ids))
    if not uniq:
        return 0
    spark.createDataFrame(
        [(i,) for i in uniq], f"{key_col} long"
    ).coalesce(1).write.mode("append").parquet(f"{layout_path}/_deleted")
    return len(uniq)


def read_tombstones(
    spark: SparkSession, layout_path: str, key_col: str
) -> DataFrame | None:
    """The layout's distinct tombstone ids, or None when none exist."""
    from tiny_md_hbase_spark.fsutil import fs_exists

    dpath = f"{layout_path}/_deleted"
    if not fs_exists(spark, dpath):
        return None
    return spark.read.schema(f"{key_col} long").parquet(dpath).distinct()


def anti_join_tombstones(
    df: DataFrame, tombs: DataFrame | None, key_col: str
) -> DataFrame:
    """Drop tombstoned rows (no-op when the layout has no tombstones)."""
    if tombs is None:
        return df
    return df.join(F.broadcast(tombs), key_col, "left_anti")


def redact_embeddings_layout(
    spark: SparkSession, path: str, vec_ids: list[int]
) -> int:
    """Tombstone deletion for a stored embedding layout (clustered OR
    quantized) — the ANN member of the right-to-be-forgotten family
    (``redact_documents_pk`` for the corpus,
    ``ingest.redact_maintained_index`` for the text index): a redacted
    vector can never appear in a top-k again. Returns the number of
    newly recorded ids."""
    return append_tombstones(spark, path, vec_ids, "vec_id")


def _apply_vec_tombstones(
    spark: SparkSession, path: str, df: DataFrame
) -> DataFrame:
    """Anti-join a layout's ``_deleted`` tombstones (no-op when none)."""
    return anti_join_tombstones(
        df, read_tombstones(spark, path, "vec_id"), "vec_id"
    )


def embedding_knn_clustered(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int | None = None,
) -> DataFrame:
    """Cosine top-k over the cluster-partitioned layout: rank the stored
    centroids by distance to ``query_vec`` driver-side (n_clusters × dim
    floats — partitioner metadata), then scan ONLY the ``n_probe``
    nearest clusters' directories (`ivf_cluster IN (...)` prunes at
    file-listing time, asserted in tests/test_plans.py) and run the
    exact cosine top-k inside them.

    ``n_probe=None`` probes every cluster — then the result equals the
    exact brute-force :func:`~tiny_md_hbase_spark.operators.similarity.
    embedding_knn` (the recall=1.0 boundary the oracle pins); smaller
    probes trade recall for a proportionally smaller scan. The query
    vector arrives as a literal (in production: from the embedding
    service), so nothing scans the table to locate it."""
    from tiny_md_hbase_spark.operators.similarity import (
        _unit_centroids,
        cosine,
        probe_order,
    )

    meta = spark.read.parquet(f"{path}/_ivf_meta").first()
    n_clusters, dim = int(meta.n_clusters), int(meta.dim)
    family = meta.asDict().get("family")
    if family != IVF_CENTROID_FAMILY:
        # a layout assigned under a different (or pre-family) centroid
        # set would be probed against the WRONG directories — refuse
        # loudly rather than return a confidently wrong top-k
        raise ValueError(
            f"clustered layout at {path} uses centroid family "
            f"{family!r}; this reader expects {IVF_CENTROID_FAMILY!r} — "
            "rebuild the layout with write_embeddings_clustered"
        )
    cents = _unit_centroids(n_clusters, dim)
    probe = probe_order(query_vec, cents, n_probe)
    qv = F.array(*[F.lit(float(x)) for x in query_vec])
    sim = F.round(cosine(F.col("embedding"), qv), 6)
    base = _apply_vec_tombstones(
        spark, path,
        spark.read.parquet(path).filter(F.col("ivf_cluster").isin(probe)),
    )
    return (
        base.select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(k)
    )


def write_embeddings_quantized(embeddings: DataFrame, path: str) -> None:
    """Materialize the int8 ANN layout: every vector symmetric-quantized
    under ONE corpus-wide max-abs scale and stored as ``array<tinyint>``
    — 4-8x less scan I/O than the float table, which is the entire point
    at 10^9 vectors (the compression IS the speedup; queries never touch
    the float column again). The scale lands beside the data as
    ``_sq_meta`` (underscore-prefixed: invisible to the data read), the
    quantized-search analog of the clustered layout's ``_ivf_meta``.

    One corpus pass computes the scale (map-side partial max), a second
    writes the quantized rows — both row-local under a broadcast 1-row
    scale, no shuffle beyond the scalar aggregate."""
    from tiny_md_hbase_spark.operators.similarity import (
        _maxabs_scale,
        _quantize,
    )

    e = embeddings.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    scale = _maxabs_scale(e)
    q = e.crossJoin(F.broadcast(scale)).select(
        "vec_id",
        "label",
        F.transform(
            _quantize(F.col("v"), F.col("mx")), lambda x: x.cast("byte")
        ).alias("qv"),
    )
    q.write.mode("overwrite").parquet(path)
    scale.coalesce(1).write.mode("overwrite").parquet(f"{path}/_sq_meta")


def embedding_knn_quantized_stored(
    spark: SparkSession, path: str, query_vec: list[float], k: int = 10
) -> DataFrame:
    """Top-k integer dot product over the materialized int8 layout.
    The float query vector is quantized under the STORED scale through
    the same Spark expression the writer used (a 1-row jvm evaluation —
    never Python's round(), whose banker's rounding disagrees with
    Spark's HALF_UP on exact halves), then enters as a BIGINT literal
    array: scan → per-row integer fold → TakeOrderedAndProject. Scores
    are exact integers, so the result equals the scan-form
    :func:`~tiny_md_hbase_spark.operators.similarity.
    embedding_knn_quantized` row-for-row — the oracle applies
    verbatim."""
    from tiny_md_hbase_spark.operators.similarity import _quantize

    meta = spark.read.parquet(f"{path}/_sq_meta").first()
    if meta is None or meta.mx is None:
        raise ValueError(
            f"{path}/_sq_meta holds no scale — the layout was written "
            "from an empty embeddings table"
        )
    mx = float(meta.mx)
    qq = (
        spark.range(1)
        .select(
            _quantize(
                F.array(*[F.lit(float(x)) for x in query_vec]),
                F.lit(mx),
            ).alias("qq")
        )
        .first()
        .qq
    )
    qlit = F.array(*[F.lit(int(v)) for v in qq])
    qscore = F.aggregate(
        F.zip_with(
            F.col("qv").cast("array<long>"), qlit, lambda a, b: a * b
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        _apply_vec_tombstones(spark, path, spark.read.parquet(path))
        .select("vec_id", "label", qscore.alias("qscore"))
        .orderBy(F.col("qscore").desc(), "vec_id")
        .limit(k)
    )


def keyword_search_bm25_indexed(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...] | None = None,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    num_buckets: int | None = None,
) -> DataFrame:
    """Okapi BM25 over the materialized inverted index — returns exactly
    the rows of ``text.keyword_search_bm25`` on the same corpus, so that
    oracle applies verbatim.

    Everything the formula needs comes from the index, never the corpus:
    df(q) = posting-row count per query term (postings are one row per
    (term, doc)); N and avgdl from the ``_doc_lens`` side table (written
    from the documents, so zero-token docs count exactly as the scan
    form counts them); tf from the posting rows. Per query the scan
    touches only the query terms' bucket directories (partition pruning
    on literal buckets) plus the 16-byte-per-doc ``_doc_lens`` table —
    O(matching postings + docs), not O(corpus text).

    Float parity with the scan form is engineered, not hoped for: each
    candidate's (term → tf) rows are pivoted into per-term columns
    (missing term → 0, the scan's tf for an absent term), and the SAME
    expression tree — literals, casts, associativity, term order — is
    applied, ending in the same round(6). The per-term df/stat
    relations are 1-row broadcasts."""
    from tiny_md_hbase_spark.operators.text import SEARCH_TERMS

    if num_buckets is None:
        num_buckets = int(
            spark.read.parquet(f"{path}/_index_meta").first().num_buckets
        )
    qs = sorted(
        {t.lower() for t in (SEARCH_TERMS if terms is None else terms)}
    )
    if not qs:
        # mirror the scan form: an explicit empty term set is an error,
        # not a silent fallback to the default query
        raise ValueError(
            "keyword_search_bm25_indexed requires at least one term"
        )
    buckets = sorted({term_bucket(q, num_buckets) for q in qs})
    lens = spark.read.parquet(f"{path}/_doc_lens")
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    return bm25_rank_postings(idx, lens, qs, k, k1, b)


def bm25_rank_postings(
    idx: DataFrame,
    lens: DataFrame,
    qs: list[str],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """The Okapi-BM25 core of :func:`keyword_search_bm25_indexed` over
    an already-pruned posting relation (term, doc_id, tf) and the
    ``_doc_lens`` side relation (doc_id, dl) — shared with the
    stream-maintained index reader. Float parity discipline per the
    caller's docstring: same expression tree, same round(6)."""
    from tiny_md_hbase_spark.operators.text import bm25_score

    idx = idx.filter(F.col("term").isin(qs))
    stats = lens.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfs = idx.agg(
        *[
            F.sum(F.when(F.col("term") == q, F.lit(1)).otherwise(F.lit(0)))
            .cast("double")
            .alias(f"df_{i}")
            for i, q in enumerate(qs)
        ]
    )
    cand = idx.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == q, F.col("tf"))).alias(f"tf_{i}")
            for i, q in enumerate(qs)
        ]
    )
    joined = (
        cand.join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(dfs))
    )
    dl = F.col("dl").cast("double")
    tf_cols = [
        F.coalesce(F.col(f"tf_{i}"), F.lit(0).cast("long")).cast("double")
        for i in range(len(qs))
    ]
    score = bm25_score(tf_cols, dl, k1, b)
    return (
        joined.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def write_points_hsorted(
    points: DataFrame,
    path: str,
    num_partitions: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize a points DataFrame as a HILBERT-clustered Parquet
    table — :func:`write_points_zsorted`'s twin on the
    locality-preserving curve (tiny_md_hbase_spark.hilbert). Same file
    sizing and append semantics; the stored column is ``h``, computed
    by the chained-projection encoder (pushdown-safe here by
    construction: the write path puts no predicate above the chain, and
    every later probe filters the MATERIALIZED column, which is the
    codec's usage contract). The point-store ops prune a read of it by
    the ``h`` cover of their rectangle
    (:func:`~tiny_md_hbase_spark.operators.spatial._prune`, over
    :func:`~tiny_md_hbase_spark.hilbert.hilbert_cover_py`) — fewer/longer
    index runs per rectangle than z (sfc_locality quantifies the
    clustering advantage), so file/row-group min-max stats skip more of
    the table for the same query."""
    from tiny_md_hbase_spark.hilbert import hilbert_encode

    enc = points if "h" in points.columns else hilbert_encode(points)
    # materialize the encoded table ONCE: repartitionByRange runs a
    # full reservoir-sampling pass over its child to pick range bounds,
    # so without the checkpoint the chained-projection Hilbert encoder
    # — the expensive part of this write — executes TWICE (measured:
    # hsort_write ~2x the encode cost; the z twin's interleave is cheap
    # enough that its double evaluation is noise, so it stays
    # unmaterialized). The checkpoint holds rows the write is about to
    # re-read anyway; it is dropped with the session.
    enc = enc.localCheckpoint()
    if num_partitions:
        enc = enc.repartitionByRange(num_partitions, "h")
    else:
        enc = enc.repartitionByRange("h")
    enc.sortWithinPartitions("h").write.mode(mode).parquet(path)


def file_h_spans(spark: SparkSession, pts_path: str) -> DataFrame:
    """Per-file Hilbert-span and row count of a stored h-clustered
    table — :func:`file_z_spans`'s twin (columns named min_z/max_z so
    :func:`overlapping_span_pairs` applies unchanged; the span values
    are h)."""
    from pyspark.sql import functions as F

    return spark.read.parquet(pts_path).groupBy(
        F.input_file_name().alias("file")
    ).agg(
        F.min("h").alias("min_z"),
        F.max("h").alias("max_z"),
        F.count("*").alias("n_rows"),
    )
