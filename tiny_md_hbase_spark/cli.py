"""Command-line interface mirroring the reference client
(``Client.main``, ``Client.java:160-232``) so a user of the reference can
run the same verbs against a Spark-backed table directory:

    python -m tiny_md_hbase_spark.cli create  <table_dir>
    python -m tiny_md_hbase_spark.cli put     <table_dir> <x> <y> [id]
    python -m tiny_md_hbase_spark.cli get     <table_dir> <x> <y>
    python -m tiny_md_hbase_spark.cli count   <table_dir> <xmin> <ymin> <xmax> <ymax>
    python -m tiny_md_hbase_spark.cli range   <table_dir> <xmin> <ymin> <xmax> <ymax>
    python -m tiny_md_hbase_spark.cli knn     <table_dir> <x> <y> <k>
    python -m tiny_md_hbase_spark.cli index   <table_dir>
    python -m tiny_md_hbase_spark.cli drop    <table_dir>

Pipeline verbs beyond the reference surface (corpus_dir = a documents
parquet file/directory; the north-star LLM-data operators driven the
same way):

    python -m tiny_md_hbase_spark.cli search  <corpus_dir> <term> [term ...]
    python -m tiny_md_hbase_spark.cli rank    <corpus_dir> <term> [term ...]
    python -m tiny_md_hbase_spark.cli quality <corpus_dir>
    python -m tiny_md_hbase_spark.cli gate    <corpus_dir> <keep_frac>
    python -m tiny_md_hbase_spark.cli dedup   <corpus_dir>
    python -m tiny_md_hbase_spark.cli export  <corpus_dir> <out_dir>
    python -m tiny_md_hbase_spark.cli redact  <pk_table_dir> <doc_id> [doc_id ...]

Differences from the reference CLI, on purpose:
- ``knn`` exists as a verb (the reference implements kNN but never wires
  it into ``main``, SURVEY.md §1.3);
- ``range`` returns the rows, not just the count;
- output format follows the reference's ``[id, (x, y)]`` point rendering
  (``Point.java:50-52``) and ``index``'s per-bucket lines
  (``Client.java:204-216``).

Each invocation builds one local SparkSession; per-point ``put`` is the
reference's own (slow) usage shape — batch/streaming ingest is the real
write path (operators/write.py, streaming/ingest.py).
"""

from __future__ import annotations

import sys

import pyarrow as pa
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import spatial
from tiny_md_hbase_spark.operators import write as W
from tiny_md_hbase_spark.session import get_spark

USAGE = __doc__

# The columns the point store writes (operators.write: id/x/y and their
# zvalue). Pinned, so that opening a table runs no schema-inference job.
# zvalue is kept: a read that falls back to Spark prunes by its z cover,
# and every op projects its answer to id/x/y.
_POINTS_SCHEMA = "id long, x int, y int, zvalue long"


def _points(spark, path):
    return spark.read.schema(_POINTS_SCHEMA).parquet(f"{path}/points")


def _bucket_name(z: int, pl: int) -> str:
    # index_inspect's name (zorder.prefix_render): the key's first pl
    # bits, then "*" for each don't-care bit (Utils.java:161-182)
    return format(z & (2**64 - 1), "064b")[:pl].ljust(64, "*")


def _render_points(rows) -> list[str]:
    # Point.java:50-52 format: [id, (x, y)]
    return [f"[{r.id}, ({r.x}, {r.y})]" for r in rows]


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if not argv:
        print(USAGE)
        return 2
    verb, *args = argv
    if verb not in {
        "create", "put", "get", "count", "range", "knn", "index", "drop",
        "search", "rank", "quality", "gate", "dedup", "export", "redact",
    }:
        print(USAGE)
        return 2

    if verb == "drop":
        (path,) = args
        W.table_drop(path)
        print(f"dropped {path}")
        return 0

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark("tiny-md-hbase-spark-cli")
    try:
        if verb == "create":
            (path,) = args
            W.table_create(spark, path)
            print(f"created {path}")
        elif verb == "put":
            path, x, y, *rest = args
            pid = int(rest[0]) if rest else None
            # an Arrow-built local relation: unlike one built from Python
            # rows, the append's collect of it starts no Python worker
            batch = spark.createDataFrame(
                pa.table({
                    "id": pa.array([pid], pa.int64()),
                    "x": pa.array([int(x)], pa.int32()),
                    "y": pa.array([int(y)], pa.int32()),
                }),
                "id long, x int, y int",
            )
            W.insert_append_incremental(spark, path, batch)
            print(f"put ({x}, {y})")
        elif verb == "get":
            path, x, y = args
            rows = spatial.point_get(_points(spark, path), int(x), int(y)).collect()
            for line in _render_points(rows):
                print(line)
        elif verb in ("count", "range"):
            path, xmin, ymin, xmax, ymax = args
            rx, ry = (int(xmin), int(xmax)), (int(ymin), int(ymax))
            pts = _points(spark, path)
            if verb == "count":
                n = spatial.range_count(pts, rx, ry).collect()[0].cnt
                print(n)
            else:
                for line in _render_points(
                    spatial.range_query(pts, rx, ry).orderBy("id", "x", "y").collect()
                ):
                    print(line)
        elif verb == "knn":
            path, x, y, k = args
            rows = spatial.knn(_points(spark, path), int(x), int(y), int(k)).collect()
            for line in _render_points(rows):
                print(line)
        elif verb == "search":
            path, *terms = args
            from tiny_md_hbase_spark.operators.text import keyword_search

            docs = spark.read.parquet(path)
            for r in keyword_search(docs, terms=tuple(terms)).collect():
                print(f"[{r.doc_id}] score: {r.score}")
        elif verb == "rank":
            path, *terms = args
            from tiny_md_hbase_spark.operators.text import (
                keyword_search_bm25,
            )

            docs = spark.read.parquet(path)
            for r in keyword_search_bm25(docs, terms=tuple(terms)).collect():
                print(f"[{r.doc_id}] bm25: {r.bm25}")
        elif verb == "gate":
            path, frac = args
            from tiny_md_hbase_spark.operators.text import quality_gate

            kept = quality_gate(spark.read.parquet(path), float(frac))
            # ONE action: count + worst-kept (quality, doc_id) in the
            # same aggregate — a second pass would re-run the scoring
            # scans; min(struct) is None when nothing is kept
            row = kept.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.struct("quality", "doc_id")).alias("w"),
            ).first()
            if row.n:
                print(f"kept: {row.n} (cutoff quality: {row.w.quality})")
            else:
                print("kept: 0")
        elif verb == "quality":
            (path,) = args
            from tiny_md_hbase_spark.operators.text import gopher_quality

            q = gopher_quality(spark.read.parquet(path))
            agg = q.agg(
                F.count("*").alias("n"),
                F.sum(F.col("passes").cast("int")).alias("ok"),
            ).collect()[0]
            print(f"passed: {agg.ok}/{agg.n}")
        elif verb == "dedup":
            (path,) = args
            from tiny_md_hbase_spark.operators.dedup import dedup_exact

            groups = dedup_exact(spark.read.parquet(path)).filter(
                F.col("n_copies") > 1
            )
            for r in groups.orderBy("keep_id").collect():
                print(f"[{r.keep_id}] copies: {r.n_copies}")
            print(f"duplicate groups: {groups.count()}")
        elif verb == "export":
            path, out = args
            from tiny_md_hbase_spark.sources.jsonl import write_jsonl_corpus

            docs = spark.read.parquet(path)
            write_jsonl_corpus(docs, out, n_shards=8)
            print(f"exported {docs.count()} docs to {out}")
        elif verb == "redact":
            # takedown verb over a pk-clustered corpus table directory
            # ({dir}/docs + {dir}/zones, write_documents_pk layout):
            # rewrites only the files whose zone-map id span holds a
            # requested id — the delete the reference CLI never had
            path, *ids = args
            from tiny_md_hbase_spark.sources.writer import (
                redact_documents_pk,
            )

            res = redact_documents_pk(
                spark, f"{path}/docs", f"{path}/zones",
                [int(i) for i in ids],
            )
            print(
                f"removed {res['rows_removed']} rows, rewrote "
                f"{res['files_touched']}/{res['files_total']} files"
            )
        elif verb == "index":
            (path,) = args
            rows = W._read_index(*W._table_fs(path))
            for name, size in sorted((_bucket_name(z, pl), size) for z, pl, size in rows.tolist()):
                print(f"[{name}] size: {size}")
            print(f"total size: {int(rows[:, 2].sum())}")
        return 0
    finally:
        if not pre_existing:  # don't tear down a session we joined
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
