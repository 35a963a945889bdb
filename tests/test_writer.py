"""Z-sorted layout tests: round-trip fidelity, predicate pushdown reaching
the parquet scan, and query equivalence on the materialized table."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark.operators import serving, spatial
from tiny_md_hbase_spark.sources import points
from tiny_md_hbase_spark.sources.writer import (
    load_points_zsorted,
    write_points_zsorted,
)


@pytest.fixture(scope="module")
def zsorted(spark, sf_dir):
    pts = points(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="zsorted_") + "/points"
    write_points_zsorted(pts, path, num_partitions=8)
    return pts, load_points_zsorted(spark, path)


def test_roundtrip_and_sorted(zsorted):
    from pyspark.sql import Window as W

    pts, zt = zsorted
    assert zt.count() == pts.count()
    assert set(zt.columns) == {"id", "x", "y", "zvalue"}
    # within-file z order: row order inside a parquet split is preserved,
    # monotonically_increasing_id is ordered within a partition
    tagged = zt.withColumn("pid", F.spark_partition_id()).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    w = W.partitionBy("pid").orderBy("seq")
    unsorted = tagged.withColumn("prev", F.lag("zvalue").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("zvalue") < F.col("prev"))
    )
    assert unsorted.count() == 0
    # across files: range partitioning ⇒ disjoint z spans
    spans = sorted(
        (r.mn, r.mx)
        for r in tagged.groupBy("pid")
        .agg(F.min("zvalue").alias("mn"), F.max("zvalue").alias("mx"))
        .collect()
    )
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo


def test_pushdown_reaches_scan(zsorted, monkeypatch):
    _, zt = zsorted
    monkeypatch.setattr(serving, "MAX_FILES", 0)  # the Spark plan, not the served read
    q = spatial.range_query(zt, (512, 1535), (1024, 3071))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    for col in ("x", "y", "zvalue"):
        assert f"GreaterThanOrEqual({col}" in plan, f"{col} bound not pushed:\n{plan}"


def test_query_equivalence_on_materialized_table(zsorted, monkeypatch):
    pts, zt = zsorted
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    rect = ((512, 1535), (1024, 3071))
    a = spatial.range_query(pts, *rect).orderBy("id", "x", "y").collect()
    b = spatial.range_query(zt, *rect).orderBy("id", "x", "y").collect()
    assert [(r.id, r.x, r.y) for r in a] == [(r.id, r.x, r.y) for r in b]


def test_zcover_query_equivalence_and_tightness(zsorted, monkeypatch):
    pts, zt = zsorted
    monkeypatch.setattr(serving, "MAX_FILES", 0)
    # thin band straddling the y=2047|2048 z split: worst case for the
    # single window, the cover must still return exactly the same rows
    rect = ((0, 4095), (2000, 2100))
    a = spatial.range_query(pts, *rect).orderBy("id", "x", "y").collect()
    b = spatial.range_query(zt, *rect).orderBy("id", "x", "y").collect()
    assert [(r.id, r.x, r.y) for r in a] == [(r.id, r.x, r.y) for r in b]
    # the cover prefilter alone admits far fewer rows than the window
    from tiny_md_hbase_spark.operators.spatial import z_window
    from tiny_md_hbase_spark.zorder import between_any, z_cover_py

    zmin, zmax = z_window(*rect)
    n_window = zt.filter(F.col("zvalue").between(zmin, zmax)).count()
    n_cover = zt.filter(between_any("zvalue", z_cover_py(*rect, 16))).count()
    assert n_cover <= n_window
    assert n_cover < zt.count() / 2


def test_append_then_compact_restores_clustering(spark, sf_dir):
    import shutil

    from tiny_md_hbase_spark.sources.writer import (
        compact_points_table,
        file_z_spans,
        overlapping_span_pairs,
    )

    pts = points(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="compact_t_")
    try:
        path = f"{d}/points"
        write_points_zsorted(pts.filter(F.col("id") % 2 == 0), path, 4)
        write_points_zsorted(pts.filter(F.col("id") % 2 == 1), path, 4, mode="append")
        before = file_z_spans(spark, path).collect()
        assert len(before) == 8
        # two independently range-partitioned batches must overlap in z
        assert overlapping_span_pairs(before) > 0
        rect = ((512, 1535), (1024, 3071))
        want = spatial.range_query(pts, *rect).count()
        assert spatial.range_query(load_points_zsorted(spark, path), *rect).count() == want

        compact_points_table(spark, d, num_partitions=8)
        after = file_z_spans(spark, path).collect()
        assert overlapping_span_pairs(after) == 0
        assert sum(r.n_rows for r in after) == pts.count()
        # query results unchanged by the rewrite
        assert spatial.range_query(load_points_zsorted(spark, path), *rect).count() == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_overlapping_span_pairs_counts():
    from collections import namedtuple

    from tiny_md_hbase_spark.sources.writer import overlapping_span_pairs

    S = namedtuple("S", "min_z max_z")
    assert overlapping_span_pairs([S(0, 1), S(2, 3), S(4, 5)]) == 0
    assert overlapping_span_pairs([S(0, 10), S(5, 15), S(12, 20)]) == 2
    assert overlapping_span_pairs([S(0, 10), S(0, 10), S(0, 10)]) == 3
    # touching endpoints count as overlap (closed z-intervals)
    assert overlapping_span_pairs([S(0, 5), S(5, 9)]) == 1


def test_write_corpus_shards_layout_and_order(spark, sf_dir):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tiny_md_hbase_spark.operators.text import corpus_shuffle
    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        load_corpus_shard,
        write_corpus_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="tmh_shards_")
    try:
        path = f"{d}/shards"
        write_corpus_shards(docs, path)
        # every document lands in exactly the shard the manifest says
        manifest = {
            r.doc_id: (r.shard, r.pos) for r in corpus_shuffle(docs).collect()
        }
        stored = spark.read.parquet(path).select("doc_id", "shard", "pos").collect()
        assert {r.doc_id: (r.shard, r.pos) for r in stored} == manifest
        # a single-shard read is partition-pruned to that directory
        # (input_file_name must be read off the scan, before any sort)
        pruned = spark.read.parquet(path).filter(F.col("shard") == 3)
        files = {
            r.f for r in pruned.select(F.input_file_name().alias("f")).collect()
        }
        assert files and all("shard=3" in f for f in files)
        # reading order is the dense in-shard position
        one = load_corpus_shard(spark, path, 3)
        poss = [r.pos for r in one.select("pos").collect()]
        assert poss == sorted(poss) and poss[0] == 1
        # rewrite reproduces the identical layout (pure function of doc_id)
        path2 = f"{d}/shards2"
        write_corpus_shards(docs.repartition(7), path2)
        stored2 = spark.read.parquet(path2).select("doc_id", "shard", "pos").collect()
        assert {r.doc_id: (r.shard, r.pos) for r in stored2} == manifest
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- inverted index -------------------------------------------------------

@pytest.fixture(scope="module")
def inv_index(spark, sf_dir):
    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import write_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="invidx_") + "/idx"
    write_inverted_index(docs, path)
    return docs, path


def test_inverted_index_search_equals_scan_search(spark, inv_index):
    """The index is an access path, not a different query: indexed search
    must return exactly the scan form's rows in the same rank order."""
    from tiny_md_hbase_spark.operators.text import keyword_search
    from tiny_md_hbase_spark.sources.writer import keyword_search_indexed

    docs, path = inv_index
    got = [(r.doc_id, r.score) for r in keyword_search_indexed(spark, path).collect()]
    want = [(r.doc_id, r.score) for r in keyword_search(docs).collect()]
    assert got == want and got


def test_inverted_index_search_prunes_partitions(spark, inv_index):
    """The point of the layout: the query plan's scan must carry a
    PartitionFilter on the literal buckets of the query terms — only
    those directories are listed/read, O(postings) per query instead of
    O(corpus)."""
    import re

    from tiny_md_hbase_spark import plans as P
    from tiny_md_hbase_spark.sources.writer import (
        keyword_search_indexed,
        term_bucket,
    )

    _, path = inv_index
    q = keyword_search_indexed(spark, path, terms=("vector", "merge"))
    plan = P.explain_str(q, "formatted")
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    want = sorted({term_bucket(t) for t in ("vector", "merge")})
    assert pf and any(
        all(str(b) in f for b in want) and " IN " in f for f in pf
    ), plan


def test_term_bucket_twin_matches_spark_expression(spark):
    """The Python bucket hash (used for partition-pruning literals) and
    the Spark write-side expression must agree on every term, including
    non-ASCII codepoints."""
    from tiny_md_hbase_spark.sources.writer import _term_bucket_col, term_bucket

    terms = ["vector", "stream", "merge", "a", "zzz", "Grüße", "日本語"]
    df = spark.createDataFrame([(t,) for t in terms], "term string")
    got = {
        r.term: r.b
        for r in df.select(
            "term", _term_bucket_col(F.col("term"), 16).alias("b")
        ).collect()
    }
    assert got == {t: term_bucket(t, 16) for t in terms}


def test_inverted_index_bucket_modulus_persisted(spark, sf_dir):
    """The reader must derive the bucket modulus from the index itself:
    an index written with a non-default num_buckets searched with the
    default would compute bucket literals under the wrong modulus and
    silently return nothing."""
    from tiny_md_hbase_spark.operators.text import keyword_search
    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        keyword_search_indexed,
        write_inverted_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="invidx32_") + "/idx"
    write_inverted_index(docs, path, num_buckets=32)
    got = [(r.doc_id, r.score) for r in keyword_search_indexed(spark, path).collect()]
    want = [(r.doc_id, r.score) for r in keyword_search(docs).collect()]
    assert got == want and got


# --- int8 quantized embedding layout --------------------------------------

@pytest.fixture(scope="module")
def sq_layout(spark, sf_dir):
    import shutil

    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import write_embeddings_quantized

    d = tempfile.mkdtemp(prefix="sq_layout_")
    emb = load_table(spark, sf_dir, "embeddings")
    write_embeddings_quantized(emb, f"{d}/emb")
    yield f"{d}/emb", emb
    shutil.rmtree(d, ignore_errors=True)


def test_quantized_layout_stores_int8(spark, sq_layout):
    path, _ = sq_layout
    qv_field = {f.name: f for f in spark.read.parquet(path).schema}["qv"]
    assert qv_field.dataType.simpleString() == "array<tinyint>"
    row = spark.read.parquet(path).first()
    assert all(-127 <= v <= 127 for v in row.qv)


def test_quantized_stored_equals_scan_form(spark, sq_layout):
    from tiny_md_hbase_spark.operators.similarity import (
        embedding_knn_quantized,
    )
    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_quantized_stored,
    )

    path, emb = sq_layout
    q = emb.filter(F.col("vec_id") == 1).first()
    stored = embedding_knn_quantized_stored(
        spark, path, [float(x) for x in q.embedding]
    ).collect()
    scan = embedding_knn_quantized(emb, 1, 10).collect()
    assert [(r.vec_id, r.qscore) for r in stored] == [
        (r.vec_id, r.qscore) for r in scan
    ]


def test_quantized_stored_search_has_no_join(spark, sq_layout):
    from tiny_md_hbase_spark import plans as P
    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_quantized_stored,
    )

    path, emb = sq_layout
    q = emb.filter(F.col("vec_id") == 1).first()
    df = embedding_knn_quantized_stored(
        spark, path, [float(x) for x in q.embedding]
    )
    plan = P.explain_str(df, "simple")
    # the scale and query are baked in as literals at build time: the
    # search itself is scan -> integer fold -> TakeOrderedAndProject
    assert "Join" not in plan and "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


# --- BM25 over the inverted index -----------------------------------------

def test_bm25_indexed_equals_scan_form(spark, inv_index):
    """Float parity is engineered (same expression tree, same round(6)):
    indexed BM25 must return exactly the scan form's rows and scores in
    the same rank order."""
    from tiny_md_hbase_spark.operators.text import keyword_search_bm25
    from tiny_md_hbase_spark.sources.writer import keyword_search_bm25_indexed

    docs, path = inv_index
    got = [
        (r.doc_id, r.bm25)
        for r in keyword_search_bm25_indexed(spark, path).collect()
    ]
    want = [(r.doc_id, r.bm25) for r in keyword_search_bm25(docs).collect()]
    assert got == want and got


def test_bm25_indexed_prunes_to_query_buckets(spark, inv_index):
    """The ranked query keeps the layout's payoff: the postings scan
    carries the PartitionFilter on the query terms' literal buckets."""
    import re

    from tiny_md_hbase_spark import plans as P
    from tiny_md_hbase_spark.sources.writer import (
        keyword_search_bm25_indexed,
        term_bucket,
    )

    _, path = inv_index
    q = keyword_search_bm25_indexed(spark, path, terms=("vector", "merge"))
    plan = P.explain_str(q, "formatted")
    pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
    want = sorted({term_bucket(t) for t in ("vector", "merge")})
    assert pf and any(
        all(str(b) in f for b in want) and " IN " in f for f in pf
    ), plan


def test_doc_lens_side_table_written(spark, inv_index):
    """_doc_lens comes from the documents (zero-token docs included), is
    invisible to the postings read, and matches the corpus token
    counts."""
    from pyspark.sql import functions as F2
    from tiny_md_hbase_spark.operators.text import tokens

    docs, path = inv_index
    lens = spark.read.parquet(f"{path}/_doc_lens")
    assert lens.count() == docs.count()
    want = {
        r.doc_id: r.dl
        for r in docs.select(
            "doc_id", F2.size(tokens("text")).cast("long").alias("dl")
        ).collect()
    }
    got = {r.doc_id: r.dl for r in lens.collect()}
    assert got == want
    # postings read must not pick up the side table's rows
    assert "dl" not in spark.read.parquet(path).columns


# --- incremental append to the clustered ANN layout -----------------------

def test_clustered_append_equals_full_rebuild(spark, sf_dir):
    """Append half the corpus through the incremental path: a full-probe
    search must equal the same search over a one-shot rebuild, and the
    files written by the first batch must remain untouched."""
    import os
    import shutil

    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        append_embeddings_clustered,
        embedding_knn_clustered,
        write_embeddings_clustered,
    )

    d = tempfile.mkdtemp(prefix="ivf_append_")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        q = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
        half = F.pmod(F.col("vec_id"), F.lit(2)) == 0
        write_embeddings_clustered(emb.filter(half), f"{d}/inc")
        before = {
            os.path.join(r, f): os.path.getmtime(os.path.join(r, f))
            for r, _, fs in os.walk(f"{d}/inc")
            for f in fs
            if f.endswith(".parquet") and "_ivf_meta" not in r
        }
        append_embeddings_clustered(emb.filter(~half), f"{d}/inc")
        after = {
            p: os.path.getmtime(p)
            for p in before
        }
        assert before == after  # first batch's files untouched
        write_embeddings_clustered(emb, f"{d}/full")
        inc = [(r.vec_id, r.cos_sim)
               for r in embedding_knn_clustered(spark, f"{d}/inc", q).collect()]
        full = [(r.vec_id, r.cos_sim)
                for r in embedding_knn_clustered(spark, f"{d}/full", q).collect()]
        assert inc == full and len(inc) == 10
    finally:
        shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# write_points_hsorted (Hilbert-clustered layout)
# ---------------------------------------------------------------------------


def test_hsorted_layout_disjoint_spans_and_pruned_probe(spark, sf_dir):
    import tempfile

    from tiny_md_hbase_spark import hilbert as H
    from tiny_md_hbase_spark.operators import spatial
    from tiny_md_hbase_spark.sources import points
    from tiny_md_hbase_spark.sources.writer import (
        file_h_spans,
        overlapping_span_pairs,
        write_points_hsorted,
    )

    pts = points(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="hsorted_") + "/points"
    write_points_hsorted(pts, path, num_partitions=8)
    ht = spark.read.parquet(path)

    # roundtrip: same rows, h matches the reference encoder
    assert ht.count() == pts.count()
    sample = ht.limit(500).collect()
    for r in sample:
        assert r.h == H.hilbert_encode_py(r.x, r.y)

    # fresh write: file h-spans pairwise disjoint (stats-prunable)
    spans = file_h_spans(spark, path).collect()
    assert len(spans) > 1
    assert overlapping_span_pairs(spans) == 0

    # cover-pruned probe over the STORED column equals the plain rect
    rx, ry = (512, 1535), (1024, 3071)
    pred = H.hilbert_cover_predicate(ht, rx, ry, 16) & spatial.rect_predicate(
        rx, ry
    )
    got = ht.filter(pred).select("id", "x", "y")
    want = spatial.range_query(pts, rx, ry)
    assert got.exceptAll(want).isEmpty() and want.exceptAll(got).isEmpty()

    # the cover predicate reaches the parquet scan (pushed filter on h)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "h" in plan.split("PushedFilters")[1][:400]


def test_corpus_zonemap_skips_files_and_stays_exact(spark, sf_dir):
    """r14 generalization of the zone map off the points table: on the
    (lang, n_chars)-clustered documents layout, a (lang, length-band)
    curation scan (a) equals the plain filtered scan, (b) touches a
    strict subset of the files, (c) selects zero files for a language
    that does not exist."""
    import shutil

    from tiny_md_hbase_spark.sources.writer import (
        corpus_zonemap_prune,
        doc_scan_zonemap,
        write_corpus_zonemap,
        write_documents_zoned,
    )

    from tiny_md_hbase_spark.sources import load_table

    d = tempfile.mkdtemp(prefix="dzone_t_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        write_documents_zoned(docs, f"{d}/docs", num_partitions=16)
        write_corpus_zonemap(spark, f"{d}/docs", f"{d}/zones")
        n_files = spark.read.parquet(f"{d}/zones").count()

        lang, rng = "en", (200, 400)
        want = sorted(
            (r.doc_id, r.n_chars)
            for r in docs.filter(
                (F.col("lang") == lang)
                & F.col("n_chars").between(*rng)
            ).collect()
        )
        got = sorted(
            (r.doc_id, r.n_chars)
            for r in doc_scan_zonemap(
                spark, f"{d}/docs", f"{d}/zones", lang, rng
            ).collect()
        )
        assert got == want and len(got) > 0
        touched = corpus_zonemap_prune(spark, f"{d}/zones", lang, rng)
        assert 0 < len(touched) < n_files, (len(touched), n_files)
        # a language-only prune for a minority language touches fewer
        # files than the corpus holds (lang clustering is real)
        zh = corpus_zonemap_prune(spark, f"{d}/zones", "zh", (0, 10**9))
        assert 0 < len(zh) < n_files
        # unknown language: zero files, empty-but-typed result
        assert corpus_zonemap_prune(spark, f"{d}/zones", "xx", rng) == []
        empty = doc_scan_zonemap(spark, f"{d}/docs", f"{d}/zones", "xx", rng)
        assert empty.count() == 0
        assert [f.name for f in empty.schema.fields] == [
            "doc_id", "lang", "source", "n_chars",
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_embedding_zonemap_skips_files_and_stays_exact(spark, sf_dir):
    """Embedding zone map: component-range scan equals the plain
    filtered scan, prunes files on the component-clustered layout, and
    the norm bounds read ~1.0 on the unit-normalized fixture (the
    degenerate-is-healthy signal the docstring promises); a norm band
    excluding 1.0 selects zero files — the junk-vector sweep's empty
    result without opening data."""
    import shutil

    from tiny_md_hbase_spark.sources.writer import (
        emb_scan_zonemap,
        write_embedding_zonemap,
        write_embeddings_zoned,
    )

    from tiny_md_hbase_spark.sources import load_table

    d = tempfile.mkdtemp(prefix="ezone_t_")
    try:
        embs = load_table(spark, sf_dir, "embeddings")
        write_embeddings_zoned(embs, f"{d}/emb", num_partitions=8)
        write_embedding_zonemap(spark, f"{d}/emb", f"{d}/zones")
        zones = spark.read.parquet(f"{d}/zones").collect()
        n_files = len(zones)
        assert all(
            0.99 < z.min_norm_sq <= z.max_norm_sq < 1.01 for z in zones
        )

        c0 = (0.05, 0.15)
        want = sorted(
            r.vec_id
            for r in embs.filter(
                F.element_at("embedding", 1).between(*c0)
            ).collect()
        )
        got = sorted(
            r.vec_id
            for r in emb_scan_zonemap(
                spark, f"{d}/emb", f"{d}/zones", c0
            ).collect()
        )
        assert got == want and len(got) > 0
        # pruning is real: the narrow component band misses most files
        survivors = [
            z for z in zones
            if not (z.max_c0 < c0[0] or z.min_c0 > c0[1])
        ]
        assert 0 < len(survivors) < n_files
        # a norm band excluding 1.0 selects nothing at the FILE level
        none = emb_scan_zonemap(
            spark, f"{d}/emb", f"{d}/zones", c0, norm_sq_range=(2.0, 3.0)
        )
        assert none.count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_redact_documents_pk_targeted_rewrite(spark, sf_dir):
    """The takedown contract on the pk-clustered layout: (a) only files
    whose zone-map id span contains a requested id are rewritten —
    every other file survives byte-identical (same name, same inode
    content); (b) the surviving relation equals the NOT-IN filter;
    (c) the zone map stays complete across the incremental append AND
    the redact (read-through-map equals direct read); (d) a re-run
    removes zero further rows and leaves the relation identical."""
    import shutil

    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        append_documents_pk,
        redact_documents_pk,
        write_documents_pk,
        write_pk_zonemap,
    )

    d = tempfile.mkdtemp(prefix="redact_t_")
    try:
        docs = load_table(spark, sf_dir, "documents")
        cut = docs.agg(F.expr("percentile_approx(doc_id, 0.8, 10000)")).collect()[0][0]
        write_documents_pk(
            docs.filter(F.col("doc_id") <= cut), f"{d}/docs", num_partitions=8
        )
        write_pk_zonemap(spark, f"{d}/docs", f"{d}/zones")
        n_mapped = append_documents_pk(
            docs.filter(F.col("doc_id") > cut), f"{d}/docs", f"{d}/zones",
            num_partitions=2,
        )
        assert n_mapped >= 1
        # map complete after the append: every data file has a zone row
        data_files = {
            f for f in os.listdir(f"{d}/docs") if f.endswith(".parquet")
        }
        zoned = {
            r.file.rsplit("/", 1)[-1]
            for r in spark.read.parquet(f"{d}/zones").collect()
        }
        assert zoned == data_files

        before = {
            f: os.path.getmtime(f"{d}/docs/{f}") for f in data_files
        }
        # two low ids living in few files — the targeted case
        ids = [r.doc_id for r in docs.orderBy("doc_id").limit(2).collect()]
        res = redact_documents_pk(spark, f"{d}/docs", f"{d}/zones", ids)
        assert res["rows_removed"] == 2
        assert 0 < res["files_touched"] < res["files_total"]
        after_files = {
            f for f in os.listdir(f"{d}/docs") if f.endswith(".parquet")
        }
        survivors = set(before) & after_files
        # untouched files: same mtime (bytes never rewritten)
        assert len(survivors) == len(before) - res["files_touched"]
        for f in survivors:
            assert os.path.getmtime(f"{d}/docs/{f}") == before[f]

        want = sorted(
            r.doc_id
            for r in docs.filter(~F.col("doc_id").isin(ids)).collect()
        )
        got = sorted(
            r.doc_id for r in spark.read.parquet(f"{d}/docs").collect()
        )
        assert got == want
        # zone map complete post-redact: read-through equals direct
        zfiles = [r.file for r in spark.read.parquet(f"{d}/zones").collect()]
        assert sorted(
            r.doc_id for r in spark.read.parquet(*zfiles).collect()
        ) == want
        # idempotent re-run: zero rows removed, relation unchanged
        res2 = redact_documents_pk(spark, f"{d}/docs", f"{d}/zones", ids)
        assert res2["rows_removed"] == 0
        assert sorted(
            r.doc_id for r in spark.read.parquet(f"{d}/docs").collect()
        ) == want
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_range_query_exact_after_append_and_compaction(spark, sf_dir, monkeypatch):
    """The footers' per-row-group boxes are the zone map: over a table
    whose two appended z-sorted batches overlap, and again after the
    major compaction, range_query returns exactly the rows of the plain
    rectangle query, served and through the Spark plan; a rectangle
    outside the data is empty with the (id, x, y) schema."""
    import shutil

    from tiny_md_hbase_spark.sources.writer import compact_points_table

    d = tempfile.mkdtemp(prefix="rq_compact_")
    try:
        pts = points(spark, sf_dir)
        write_points_zsorted(pts.filter(F.col("id") % 2 == 0), f"{d}/points", num_partitions=8)
        write_points_zsorted(
            pts.filter(F.col("id") % 2 == 1), f"{d}/points", num_partitions=8, mode="append"
        )
        # sf0.001's derived points only reach ~200 in x/y: a corner and
        # the populated band (the entry keys' ENTRY_RECT convention)
        rects = [((0, 15), (0, 15)), ((32, 95), (16, 127))]
        want = [
            sorted((r.id, r.x, r.y) for r in spatial.range_query(pts, *rect).collect())
            for rect in rects
        ]
        assert all(want)

        def check() -> None:
            table = spark.read.parquet(f"{d}/points")
            for max_files in (serving.MAX_FILES, 0):  # served, then the Spark plan
                with monkeypatch.context() as m:
                    m.setattr(serving, "MAX_FILES", max_files)
                    for rect, rows in zip(rects, want):
                        got = spatial.range_query(table, *rect).collect()
                        assert sorted((r.id, r.x, r.y) for r in got) == rows
                    empty = spatial.range_query(table, (9000, 9999), (0, 10))
                    assert empty.count() == 0
                    assert [f.name for f in empty.schema.fields] == ["id", "x", "y"]

        check()
        compact_points_table(spark, d, num_partitions=16)
        check()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_redact_embeddings_layout_tombstones(spark, sf_dir):
    """ANN right-to-be-forgotten: after tombstoning the clustered
    layout's top hit, the full-probe top-k equals exact brute-force kNN
    over the embeddings WITHOUT that vector; the quantized layout's
    reader honors the same tombstone table."""
    import shutil

    from tiny_md_hbase_spark.operators.similarity import embedding_knn
    from tiny_md_hbase_spark.sources import load_table
    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_clustered,
        embedding_knn_quantized_stored,
        redact_embeddings_layout,
        write_embeddings_clustered,
        write_embeddings_quantized,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
    d = tempfile.mkdtemp(prefix="annred_")
    try:
        write_embeddings_clustered(emb, f"{d}/cl", n_clusters=16)
        top = embedding_knn_clustered(spark, f"{d}/cl", qvec, k=5).collect()
        # not the query's own vector: embedding_knn resolves its query
        # by vec_id inside the relation
        victim = next(r.vec_id for r in top if r.vec_id != 1)
        assert redact_embeddings_layout(spark, f"{d}/cl", [victim]) == 1
        got = [
            (r.vec_id, r.cos_sim)
            for r in embedding_knn_clustered(
                spark, f"{d}/cl", qvec, k=5
            ).collect()
        ]
        want = [
            (r.vec_id, r.cos_sim)
            for r in embedding_knn(
                emb.filter(F.col("vec_id") != victim), 1, 5
            ).collect()
        ]
        assert got == want and victim not in {v for v, _ in got}

        write_embeddings_quantized(emb, f"{d}/sq")
        qtop = embedding_knn_quantized_stored(
            spark, f"{d}/sq", qvec, k=5
        ).collect()
        qvictim = next(r.vec_id for r in qtop if r.vec_id != 1)
        redact_embeddings_layout(spark, f"{d}/sq", [qvictim])
        qgot = {
            r.vec_id
            for r in embedding_knn_quantized_stored(
                spark, f"{d}/sq", qvec, k=5
            ).collect()
        }
        assert qvictim not in qgot and len(qgot) == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_zsorted_row_group_bytes_scales_with_the_write(spark, monkeypatch):
    """Row groups are about 1/ZSORTED_ROW_GROUPS of the estimated write,
    within [ZSORTED_ROW_GROUP_MIN_BYTES, ZSORTED_ROW_GROUP_MAX_BYTES]."""
    from tiny_md_hbase_spark.sources import writer as WR

    small = spark.range(1000).select("id", F.col("id").cast("int").alias("x"))
    assert WR.zsorted_row_group_bytes(small) == WR.ZSORTED_ROW_GROUP_MIN_BYTES
    est = small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    monkeypatch.setattr(WR, "ZSORTED_ROW_GROUP_MIN_BYTES", 1)
    assert WR.zsorted_row_group_bytes(small) == est // WR.ZSORTED_ROW_GROUPS
    monkeypatch.setattr(WR, "ZSORTED_ROW_GROUP_MAX_BYTES", 2)
    assert WR.zsorted_row_group_bytes(small) == 2
