"""CLI parity tests: the reference's verb surface driven in-process."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from tiny_md_hbase_spark import cli


@pytest.fixture()
def table_dir():
    d = tempfile.mkdtemp(prefix="cli_") + "/t"
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cli_lifecycle(capsys, table_dir, spark):
    # spark fixture keeps the session alive; cli reuses it via getOrCreate
    assert cli.main(["create", table_dir]) == 0
    for x, y, pid in [(5, 7, 1), (5, 7, 2), (100, 200, 3), (101, 201, 4)]:
        assert cli.main(["put", table_dir, str(x), str(y), str(pid)]) == 0
    capsys.readouterr()

    assert cli.main(["get", table_dir, "5", "7"]) == 0
    out = capsys.readouterr().out
    assert "[1, (5, 7)]" in out and "[2, (5, 7)]" in out

    assert cli.main(["count", table_dir, "0", "0", "150", "250"]) == 0
    assert capsys.readouterr().out.strip() == "4"

    assert cli.main(["knn", table_dir, "99", "199", "2"]) == 0
    out = capsys.readouterr().out
    assert "[3, (100, 200)]" in out.splitlines()[0]

    assert cli.main(["index", table_dir]) == 0
    out = capsys.readouterr().out
    assert "total size: 4" in out
    assert "size:" in out

    assert cli.main(["drop", table_dir]) == 0
    import os

    assert not os.path.exists(table_dir)


def test_cli_put_keeps_index_equal_to_full_build(capsys, table_dir, spark):
    """``put`` maintains the index incrementally (the reference's insert →
    notifyInsertion → maySplit path); after enough puts to split buckets,
    the ``index`` verb prints exactly what a from-scratch build renders.
    A point with a negative coordinate lies outside the index's cover: it
    is stored, and no bucket counts it on either path."""
    from tiny_md_hbase_spark.operators.index import index_build, index_inspect

    assert cli.main(["create", table_dir]) == 0
    puts = [(i % 4, 9 - i % 3, i) for i in range(12)] + [(3000, 4000, 12), (-3, 5, 13)]
    for x, y, pid in puts:
        assert cli.main(["put", table_dir, str(x), str(y), str(pid)]) == 0
    capsys.readouterr()

    assert cli.main(["index", table_dir]) == 0
    got = capsys.readouterr().out.splitlines()
    pts = spark.read.parquet(f"{table_dir}/points")
    want = [
        f"[{r.bucket_name}] size: {r.size}"
        for r in index_inspect(index_build(pts)).collect()
    ]
    assert len(want) > 1  # the puts split the root bucket
    assert got == want + [f"total size: {len(puts) - 1}"]


def test_cli_usage(capsys):
    assert cli.main([]) == 2
    assert cli.main(["bogus"]) == 2


def test_cli_pipeline_verbs(capsys, spark, sf_dir):
    corpus = f"{sf_dir}/documents.parquet"
    assert cli.main(["search", corpus, "vector", "merge"]) == 0
    out = capsys.readouterr().out
    assert "score:" in out

    assert cli.main(["quality", corpus]) == 0
    out = capsys.readouterr().out
    assert "passed: " in out and "/" in out

    assert cli.main(["dedup", corpus]) == 0
    out = capsys.readouterr().out
    assert "duplicate groups:" in out

    d = tempfile.mkdtemp(prefix="cli_export_") + "/out"
    try:
        assert cli.main(["export", corpus, d]) == 0
        out = capsys.readouterr().out
        assert "exported" in out
        from tiny_md_hbase_spark.sources import read_jsonl_corpus

        assert read_jsonl_corpus(spark, d).count() == spark.read.parquet(corpus).count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_cli_rank_and_gate(capsys, sf_dir):
    from tiny_md_hbase_spark import cli

    corpus = f"{sf_dir}/documents.parquet"
    assert cli.main(["rank", corpus, "vector", "stream"]) == 0
    out = capsys.readouterr().out
    assert "bm25:" in out

    assert cli.main(["gate", corpus, "0.3"]) == 0
    out = capsys.readouterr().out
    assert "kept: " in out and "cutoff quality:" in out


def test_cli_redact_verb(capsys, spark, sf_dir):
    """The takedown verb over a pk-clustered corpus table: removes the
    requested ids, rewrites only their files, leaves the relation equal
    to the NOT-IN filter."""
    import tempfile as _tf

    from pyspark.sql import functions as F

    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        write_documents_pk,
        write_pk_zonemap,
    )

    d = _tf.mkdtemp(prefix="cli_redact_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        write_documents_pk(docs, f"{d}/docs", num_partitions=8)
        write_pk_zonemap(spark, f"{d}/docs", f"{d}/zones")
        ids = [r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()]
        assert cli.main(["redact", d] + [str(i) for i in ids]) == 0
        out = capsys.readouterr().out
        assert "removed 2 rows" in out
        got = sorted(
            r.doc_id for r in spark.read.parquet(f"{d}/docs").collect()
        )
        want = sorted(
            r.doc_id
            for r in docs.filter(~F.col("doc_id").isin(ids)).collect()
        )
        assert got == want
    finally:
        shutil.rmtree(d, ignore_errors=True)
