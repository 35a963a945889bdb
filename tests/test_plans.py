"""Physical-plan contracts: the properties the 100 TB scale story rests
on, asserted against the planned (pre-AQE) physical plan so regressions
fail here instead of surfacing as slowdowns on a cluster."""

from __future__ import annotations

import re
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tiny_md_hbase_spark import plans as P
from tiny_md_hbase_spark.operators import analytics as AN
from tiny_md_hbase_spark.operators import dedup as D
from tiny_md_hbase_spark.operators import serving, spatial
from tiny_md_hbase_spark.sources import load_table, points
from tiny_md_hbase_spark.sources.writer import load_points_zsorted, write_points_zsorted


def test_range_query_no_shuffle_pruned_scan(spark, sf_dir):
    q = spatial.range_query(points(spark, sf_dir), (512, 1535), (1024, 3071))
    assert P.exchange_count(q) == 0
    # column pruning: only the three lineitem source columns are read
    (schema,) = P.read_schemas(q)
    assert set(schema.split("<", 1)[1].rstrip(">").split(",")) == {
        "l_orderkey:bigint",
        "l_linenumber:int",
        "l_partkey:bigint",
        "l_suppkey:bigint",
    }
    assert P.wholestage_codegen_ids(q)


def test_range_count_single_scalar_exchange(spark, sf_dir):
    q = spatial.range_count(points(spark, sf_dir), (512, 1535), (1024, 3071))
    # partial count map-side; the only exchange carries one long per task
    assert P.exchange_count(q) <= 1


def test_zsorted_scan_pushes_filters(spark, sf_dir, monkeypatch):
    monkeypatch.setattr(serving, "MAX_FILES", 0)  # the Spark plan, not the served read
    tmp = tempfile.mkdtemp(prefix="plans_zsorted_")
    try:
        write_points_zsorted(points(spark, sf_dir), f"{tmp}/points", num_partitions=4)
        zt = load_points_zsorted(spark, f"{tmp}/points")
        q = spatial.range_query(zt, (512, 1535), (1024, 3071))
        pushed = " ".join(P.pushed_filters(q))
        assert "x" in pushed and "y" in pushed and "zvalue" in pushed
        assert P.exchange_count(q) == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_knn_distributed_topk(spark, sf_dir):
    q = spatial.knn(points(spark, sf_dir), 2048, 2048, 10)
    plan = P.explain_str(q, "simple")
    # TakeOrderedAndProject = per-partition partial top-k + driver merge;
    # a global Sort here would be a full-shuffle regression
    assert "TakeOrderedAndProject" in plan
    assert P.exchange_count(q) == 0


def test_sales_rollup_broadcasts_dims(spark, sf_dir):
    q = AN.sales_rollup(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )
    # both dimension joins broadcast (at fixture scale AQE may broadcast
    # the orders side of the fact-fact join too): no shuffle beyond the
    # fact-fact join (2 exchanges) and the final small-key rollup (1)
    assert P.broadcast_join_count(q) >= 2
    assert P.exchange_count(q) <= 3


def test_topk_per_group_windows_reduced_table(spark, sf_dir):
    q = AN.topk_per_group(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )
    assert P.broadcast_join_count(q) == 1
    # agg exchange on (brand, partkey) + the two skew_safe_topk window
    # exchanges ((brand, _shard) then brand) — the rank sorts run over
    # the reduced per-part table, never the fact rows, and no single
    # task ever sorts a whole brand's parts
    assert P.exchange_count(q) <= 3
    plan = P.explain_str(q, "simple")
    specs = re.findall(r"Window \[row_number\(\)[^\n]*?\], \[([^\]]*)\]", plan)
    assert len(specs) == 2 and "_shard" in specs[1] and "_shard" not in specs[0], plan


def test_dedup_exact_single_shuffle(spark, sf_dir):
    q = D.dedup_exact(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) <= 1


def test_day_partitioned_scan_prunes_partitions(spark, sf_dir):
    import pyspark.sql.functions as F

    from tiny_md_hbase_spark.sources.writer import write_day_partitioned

    tmp = tempfile.mkdtemp(prefix="plans_daypart_")
    try:
        ev = load_table(spark, sf_dir, "events")
        write_day_partitioned(ev, f"{tmp}/events")
        stored = spark.read.parquet(f"{tmp}/events")
        some_day = stored.select("day").limit(1).collect()[0].day
        q = stored.filter(F.col("day") == some_day)
        plan = P.explain_str(q, "formatted")
        # the day predicate prunes at file-listing time, not row level
        assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]
        day_us = int(some_day) * 86_400_000_000
        want = ev.filter(
            (F.expr("(ts div 1000)") >= day_us)
            & (F.expr("(ts div 1000)") < day_us + 86_400_000_000)
        ).count()
        assert q.count() == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    from tiny_md_hbase_spark.sources.writer import write_bucketed

    write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ),
        "t_lineitem_b",
        "l_orderkey",
        4,
    )
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        "t_orders_b",
        "o_orderkey",
        4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the co-located sort-merge path is what's
        # planned (at 100 TB neither fact side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, o = spark.table("t_lineitem_b"), spark.table("t_orders_b")
        q = li.join(o, li["l_orderkey"] == o["o_orderkey"])
        assert P.exchange_count(q) == 0
        assert q.count() == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")
        spark.sql("DROP TABLE IF EXISTS t_orders_b")


def test_aqe_skew_join_split_engages(spark):
    """Behavior evidence for the skew story: on a deliberately skewed
    shuffle join (one key holds ~85% of rows), AQE's skew-join rewrite
    must actually engage — the executed plan's sort-merge join is marked
    skew=true. Thresholds are scaled down so the 2 MB fixture exhibits
    what a 100 TB hot key would."""
    from pyspark.sql import functions as F

    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") < 170_000, F.lit(7))
            .otherwise(F.col("id") % 64)
            .cast("long")
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(64).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        j = left.join(right, "k")
        # execute THIS DataFrame's plan (count() would plan a separate
        # aggregate query) so AQE finalizes it, then inspect the result
        assert len(j.collect()) == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ngram_jaccard_broadcast_is_conditional(spark, sf_dir):
    """Above the broadcast budget the pair join must NOT broadcast the
    corpus shingle table (the 100 TB OOM shape) — it falls back to a
    salted shuffle-hash join; under the budget it broadcasts. Both
    shapes return identical rows (execution-only rewrite)."""
    docs = load_table(spark, sf_dir, "documents")
    small = D.ngram_jaccard(docs)
    assert P.broadcast_join_count(small) >= 1
    base = {(r.doc_a, r.doc_b, r.jaccard) for r in small.collect()}
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        big = D.ngram_jaccard(docs)
        plan = P.explain_str(big, "simple")
        assert "BroadcastExchange" not in plan, plan[:2000]
        assert "ShuffledHashJoin" in plan, plan[:2000]
        assert {(r.doc_a, r.doc_b, r.jaccard) for r in big.collect()} == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_corpus_mix_no_shuffle_pushes_scan(spark, sf_dir):
    """Mixture sampling is row-local: zero exchanges, and the keep
    decision evaluates inside whole-stage codegen over the scan."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.corpus_mix(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) == 0
    assert P.wholestage_codegen_ids(q)


def test_corpus_shuffle_single_exchange(spark, sf_dir):
    """Shard/position assignment costs exactly one shuffle (on shard) —
    the same exchange the downstream sharded write would need anyway."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.corpus_shuffle(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) == 1


def test_decontaminate_fuzzy_broadcasts_eval_side_only(spark, sf_dir):
    """The eval side of the band join (and of the verify join) is
    broadcast — the training corpus must never be built into a hash
    relation. Both joins broadcast; the stream side stays the corpus."""
    from tiny_md_hbase_spark.operators import dedup as DD

    q = DD.decontaminate_fuzzy(load_table(spark, sf_dir, "documents"))
    assert P.broadcast_join_count(q) >= 2
    # every non-broadcast join in the plan must also be on the eval axis:
    # no SortMergeJoin may materialize over the full corpus pair space
    assert "SortMergeJoin" not in P.explain_str(q, "simple")


def test_decontaminate_bloom_plan_shape(spark, sf_dir):
    """The Bloom path's physical contract: the blocked-bitset probe is
    ONE broadcast join on the home word (the m/64-word table is bounded
    by the filter size, never the eval set) carrying both in-word bit
    tests as a single ``bits & need = need`` filter. The verify join's
    strategy is deliberately Catalyst's to pick — broadcast below the
    threshold (as here, at fixture scale), shuffle above it — so the
    contract pinned is: exactly one w-probe broadcast WITH its bit
    test, and the gh verify join exists."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.decontaminate_bloom(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    probes = re.findall(r"BroadcastHashJoin \[(w\d*)#", plan)
    assert probes == ["w"], plan
    assert plan.count("shiftleft(1,") >= 2, plan  # both bit masks computed
    # the conjunction of both bit tests is one bits & need = need filter
    assert re.search(r"bits#\d+L? & need#\d+L?\) = need#\d+L?", plan), plan
    assert re.search(r"Join \[gh#\d+L?\]", plan) or "Join [gh" in plan, plan


def test_dedup_ttl_bounded_exchanges_with_partial_reduce(spark, sf_dir):
    """r14 contract: the structural hot-key guard costs a BOUNDED number
    of 8-byte-keyed exchanges — the (h, tick) reduce, the (h, epoch)
    window, and the epoch-seed aggregate — bought for a hard per-task
    bound (no window partition exceeds ttl+1 rows). The tick-reduce
    must be a real aggregate with MAP-SIDE partials (partial_min_by
    before its exchange), which is what collapses a same-tick flood
    inside its input tasks."""
    from tiny_md_hbase_spark.operators import dedup as DD

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "arrival", F.col("doc_id") * 8
    )
    q = DD.dedup_ttl(docs, 64)
    assert P.exchange_count(q) <= 3
    plan = P.explain_str(q, "simple")
    assert "partial_min_by" in plan, plan[:2000]


def test_winnow_fingerprint_single_exchange(spark, sf_dir):
    """Winnowing is ZERO-shuffle: the whole fold/assemble/slide/dedup
    pipeline runs inside one vectorized Arrow kernel per input split
    (MapInPandas), so the plan has no Exchange at all — the only data
    movement is (doc_id, text) into the Python worker and (doc_id, fp)
    longs back. The former formulation paid a doc_id exchange plus two
    window sorts; this contract pins the improvement."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.winnow_fingerprint(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) == 0
    plan = P.explain_str(q, "simple")
    assert "MapInPandas" in plan, plan[:2000]


def test_corpus_budget_sharded_prefix_sum(spark, sf_dir):
    """Budget selection must never sort a whole language in one task:
    the cumulative window partitions by (lang, bshard) — order-preserving
    h-range shards — with the tiny per-shard offset relation broadcast
    back. Two data shuffles max (the offsets aggregate and the in-shard
    window), and no window partitioned by lang alone."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.corpus_budget(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    # the big-data (n_tokens) window is keyed by (lang, bshard): its
    # partition spec — the bracket list after the window expressions —
    # must contain bshard. Only the tiny shard_tokens aggregate window
    # may partition by lang alone.
    big = re.findall(r"Window \[sum\(n_tokens[^\n]*?\], \[([^\]]*)\]", plan)
    assert big and all("bshard" in s for s in big), plan
    lang_alone = re.findall(r"Window \[sum\((\w+)[^\n]*?\], \[lang#\d+\]", plan)
    assert all(expr == "shard_tokens" for expr in lang_alone), plan
    # offsets come back via broadcast, not a shuffled join
    assert P.broadcast_join_count(q) >= 1
    assert "SortMergeJoin" not in plan


def test_dedup_semantic_single_cluster_exchange(spark, sf_dir):
    """SemDeDup's quadratic term must stay confined to clusters: the
    pairwise stage is ONE exchange on ivf_cluster feeding the
    Arrow-batched per-cluster gram kernel — never a join/nested-loop
    over the whole table (the difference between sum(c_i^2) BLAS work
    and n^2 shuffled pairs at 100 TB)."""
    q = D.dedup_semantic(load_table(spark, sf_dir, "embeddings"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan
    assert P.exchange_count(q) == 1


def test_keyword_search_scan_filter_topk_no_shuffle(spark, sf_dir):
    """Conjunctive search is a single pass: containment filter and term
    counting are per-row array kernels, the top-k is
    TakeOrderedAndProject — no exchange anywhere, and the scan reads
    only (doc_id, text)."""
    from tiny_md_hbase_spark.operators import text as TX

    # other modules cache `documents` session-wide; cached-plan
    # substitution would report the cache's full-width ReadSchema and
    # hide the pruning this test pins
    spark.catalog.clearCache()
    q = TX.keyword_search(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) == 0
    assert "TakeOrderedAndProject" in P.explain_str(q, "simple")
    (schema,) = P.read_schemas(q)
    assert "text" in schema and "lang" not in schema


def test_tfidf_scan_prunes_columns(spark, sf_dir):
    """TF-IDF reads only (doc_id, lang, text); everything after the
    explode aggregates to vocabulary-sized relations."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()  # see test_keyword_search_scan_filter_topk_no_shuffle
    q = TX.tfidf_top_terms(load_table(spark, sf_dir, "documents"))
    schemas = P.read_schemas(q)
    assert schemas and all(
        "n_chars" not in s and "source" not in s for s in schemas
    )


def test_embedding_project_row_local_no_shuffle(spark, sf_dir):
    """The projection claims row-local execution: 16 codegen'd folds per
    row, zero exchanges anywhere in the plan."""
    from tiny_md_hbase_spark.operators import similarity as SIM

    q = SIM.embedding_project(load_table(spark, sf_dir, "embeddings"))
    assert P.exchange_count(q) == 0


def test_source_cap_local_then_global_window(spark, sf_dir):
    """The per-source cap must never sort a whole source in one task:
    phase 1's row_number partitions by (source, shard) — a dominant
    source fans out over the shards — and only the bounded survivor set
    (≤ cap × n_shards rows per source) meets the source-only window."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.source_cap(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    specs = re.findall(r"Window \[row_number\(\)[^\n]*?\], \[([^\]]*)\]", plan)
    assert len(specs) == 2, plan
    # plans print final-operator-first: specs[0] is the global re-rank,
    # specs[1] the sharded local rank
    assert "shard" not in specs[0] and "source" in specs[0], plan
    assert "shard" in specs[1] and "source" in specs[1], plan


def test_centroid_assign_zero_shuffle(spark, sf_dir):
    """Assignment is a per-row fold against literal centroids — no
    exchange anywhere, and only the three needed source columns read."""
    from tiny_md_hbase_spark.operators import similarity as S

    q = S.centroid_assign(load_table(spark, sf_dir, "embeddings"))
    assert P.exchange_count(q) == 0
    plan = P.explain_str(q, "simple")
    assert "Join" not in plan


def test_vocab_rankings_are_two_phase(spark, sf_dir):
    """top_tokens and tfidf_top_terms rank VOCABULARY-sized relations;
    neither may sort a whole language's vocab in one task. Both must go
    through skew_safe_topk: a (lang, _shard) local window feeding a
    lang-only window whose input is bounded by k × n_shards."""
    from tiny_md_hbase_spark.operators import text as TX

    docs = load_table(spark, sf_dir, "documents")
    for q in (TX.top_tokens(docs), TX.tfidf_top_terms(docs)):
        plan = P.explain_str(q, "simple")
        specs = re.findall(
            r"Window \[row_number\(\)[^\n]*?\], \[([^\]]*)\]", plan
        )
        assert len(specs) == 2, plan
        assert "_shard" not in specs[0] and "lang" in specs[0], plan
        assert "_shard" in specs[1] and "lang" in specs[1], plan


def test_corpus_manifest_single_aggregation(spark, sf_dir):
    """The manifest is one scan + one map-side-partial aggregation keyed
    by shard — nothing else may move (no joins, no windows)."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.corpus_manifest(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) == 1
    plan = P.explain_str(q, "simple")
    assert "Join" not in plan and "Window" not in plan


def test_embedding_clustered_layout_prunes_partitions(spark, sf_dir):
    """The materialized ANN layout must deliver listing-level pruning:
    an n_probe=4 query over the ivf_cluster-partitioned table shows the
    probe set in PartitionFilters, and probing all clusters returns
    exactly the brute-force top-k (recall=1.0 boundary)."""
    from tiny_md_hbase_spark.operators.similarity import embedding_knn
    from tiny_md_hbase_spark.sources.writer import (
        embedding_knn_clustered,
        write_embeddings_clustered,
    )

    tmp = tempfile.mkdtemp(prefix="plans_ivf_")
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        write_embeddings_clustered(emb, f"{tmp}/emb")
        qv = [float(x) for x in emb.filter("vec_id = 1").first().embedding]
        probed = embedding_knn_clustered(spark, f"{tmp}/emb", qv, n_probe=4)
        plan = P.explain_str(probed, "formatted")
        assert "PartitionFilters" in plan
        tail = plan.split("PartitionFilters", 1)[1][:200]
        assert "ivf_cluster" in tail, tail
        full = embedding_knn_clustered(spark, f"{tmp}/emb", qv)
        want = [
            (r.vec_id, r.label, r.cos_sim) for r in embedding_knn(emb).collect()
        ]
        got = [(r.vec_id, r.label, r.cos_sim) for r in full.collect()]
        assert got == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bm25_broadcast_stats_then_topk(spark, sf_dir):
    """BM25 is two corpus passes: a map-side partial aggregate for the
    stats relation (broadcast, never shuffled wide) and a scoring pass
    ending in TakeOrderedAndProject. The exchanges are the stats
    aggregate's scalar shuffle + its broadcast — nothing row-count
    sized — and no job runs at plan-construction time."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()
    q = TX.keyword_search_bm25(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only shuffle is the 1-row stats aggregation (partial -> final)
    assert P.exchange_count(q) <= 1
    assert all("n_chars" not in s for s in P.read_schemas(q))


def test_line_dedup_no_cartesian_and_pruned_scan(spark, sf_dir):
    """Boilerplate join runs on the md5 key (anti join, broadcast or
    hashed — never a nested-loop over lines) and the scan reads only
    (doc_id, text)."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()
    q = TX.line_dedup(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert all("lang" not in s and "source" not in s for s in P.read_schemas(q))


def test_knn_quantized_broadcasts_scale_and_query(spark, sf_dir):
    """The max-abs scale and the quantized query are 1-row broadcasts;
    scoring stays a per-row integer fold ending in
    TakeOrderedAndProject — no exchange of the corpus itself beyond the
    scalar max aggregate."""
    from tiny_md_hbase_spark.operators import similarity as SIM

    spark.catalog.clearCache()
    q = SIM.embedding_knn_quantized(load_table(spark, sf_dir, "embeddings"))
    plan = P.explain_str(q, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # two scalar aggregates (scale, again under the query side) at most
    assert P.exchange_count(q) <= 2


def test_span_dedup_no_cartesian_pruned_scan(spark, sf_dir):
    """Span keys join as equi/anti joins (never a nested loop over
    positions) and the scan reads only (doc_id, text)."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()
    q = TX.span_dedup(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert all("lang" not in s and "source" not in s for s in P.read_schemas(q))


def test_span_dedup_hashed_no_cartesian_no_string_keys(spark, sf_dir):
    """The production form keeps span_dedup's join shape (equi/anti
    only, pruned scan) and its span keys are LongType end to end: no
    md5 call and no array_join window-string materialization anywhere
    in the plan — the 8-byte-shuffle-key claim made executable."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()
    q = TX.span_dedup_hashed(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert "md5" not in plan
    assert "array_join" not in plan
    assert "xxhash64" in plan
    assert all("lang" not in s and "source" not in s for s in P.read_schemas(q))


def test_bpe_token_count_vocab_bounded_encode(spark, sf_dir):
    """The trained-encode path touches the corpus once (the word
    explode feeding the (doc_id, word) aggregate); every merge fold
    runs over the DISTINCT-word table, and the mapping joins back as an
    equi-join — no cartesian, no nested loop, scan pruned to
    (doc_id, text)."""
    from tiny_md_hbase_spark.operators import bpe as B

    spark.catalog.clearCache()
    q = B.bpe_token_count(
        load_table(spark, sf_dir, "documents"), B.FIXTURE_MERGES
    )
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert all("lang" not in s and "source" not in s for s in P.read_schemas(q))


def test_bpe_pair_counts_vocab_bounded_topk(spark, sf_dir):
    """The pair explode runs over the AGGREGATED vocabulary (word count
    first — its exchange precedes the pair aggregate) and the final
    top-k is TakeOrderedAndProject, never a global sort."""
    from tiny_md_hbase_spark.operators import bpe as B

    spark.catalog.clearCache()
    q = B.bpe_pair_counts(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # two keyed aggregations: (word) then (left, right)
    assert P.exchange_count(q) == 2
    assert all("lang" not in s for s in P.read_schemas(q))


def test_purchase_edges_equi_join_only(spark, sf_dir):
    """The graph build is one orderkey equi-join + distinct; the
    reverse direction is a projection (union), not a second join."""
    from tiny_md_hbase_spark.operators import graph as G

    spark.catalog.clearCache()
    q = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("Join") >= 1
    # scans read only the join/graph keys
    assert all("o_totalprice" not in s and "l_quantity" not in s
               for s in P.read_schemas(q))


def test_purchase_edges_weighted_equi_join_only(spark, sf_dir):
    """The weighted build adds only a (cust, supp, orderkey)-distinct +
    keyed count on top of the same single orderkey equi-join; the
    reverse direction stays a projection, never a second join."""
    from tiny_md_hbase_spark.operators import graph as G

    spark.catalog.clearCache()
    q = G.purchase_edges_weighted(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert plan.count("Join") >= 1
    # scans read only the join/graph keys
    assert all("o_totalprice" not in s and "l_quantity" not in s
               for s in P.read_schemas(q))


def test_triangle_count_no_cartesian_and_pruned_scan(spark, sf_dir):
    """Both triangle joins are equi-joins (apex key; (src, dst) pair);
    the gram incidence is distinct BEFORE the pair self-join; the
    documents scan reads only (doc_id, text)."""
    from tiny_md_hbase_spark.operators import graph as G

    spark.catalog.clearCache()
    q = G.triangle_count(
        G.doc_overlap_edges(load_table(spark, sf_dir, "documents"))
    )
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert all(
        "lang" not in s and "source" not in s and "n_chars" not in s
        for s in P.read_schemas(q)
    )


def test_dedup_edit_blocked_join_pruned_scan(spark, sf_dir):
    """Candidates come from the gram blocks (no cartesian); full texts
    re-join only on doc_id hash joins; scan reads (doc_id, text) only.
    r14 plan contract: with the df cap in force the candidate stage is
    the single-shuffle GROUPED form — collect_list per gram + bounded
    double explode, NO join on the gram-hash column anywhere in the
    plan (the old self-join planned the tokenize+md5 incidence subtree
    twice with no ReusedExchange — the benchmark-drift root cause);
    with max_gram_df=None the self-join form returns (an unbounded hub
    gram must never collect into one row), and the gram join IS
    present."""
    spark.catalog.clearCache()
    from tiny_md_hbase_spark.operators import dedup as D

    q = D.dedup_edit(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan
    assert "NestedLoop" not in plan
    assert all(
        "lang" not in s and "source" not in s for s in P.read_schemas(q)
    )
    # capped form: the block aggregate exists; the ONLY gram-keyed join
    # is the hub prefilter against the constant-memory df-count keep
    # set (one join — a pair SELF-join would be a second one), and the
    # pair expansion is the joinless bounded double explode
    assert "collect_list" in plan
    import re as _re

    gram_joins = _re.findall(r"Join \[h#\d+\][^\n]*", plan)
    assert len(gram_joins) == 1, gram_joins
    assert plan.count("Generate explode") >= 2, plan[:2000]
    # uncapped form: the blocked self-join returns
    q2 = D.dedup_edit(
        load_table(spark, sf_dir, "documents"), max_gram_df=None
    )
    plan2 = P.explain_str(q2, "simple")
    assert "collect_list" not in plan2
    assert "CartesianProduct" not in plan2 and "NestedLoop" not in plan2


def test_doc_containment_broadcast_is_conditional(spark, sf_dir):
    """The per-doc gram-count side is O(|docs|) — a driver/executor OOM
    if force-broadcast at crawl scale. Above the broadcast budget the
    plan must contain NO BroadcastExchange (AQE falls back to shuffle
    joins); results are identical either way (execution-only rewrite)."""
    spark.catalog.clearCache()
    docs = load_table(spark, sf_dir, "documents")
    base = {
        (r.doc_a, r.doc_b, r.n_shared, r.n_a)
        for r in D.doc_containment(docs).collect()
    }
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        big = D.doc_containment(docs)
        plan = P.explain_str(big, "simple")
        assert "BroadcastExchange" not in plan, plan[:2000]
        got = {
            (r.doc_a, r.doc_b, r.n_shared, r.n_a) for r in big.collect()
        }
        assert got == base
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_scd2_intervals_single_user_shuffle(spark, sf_dir):
    """The lag/flag window, the island numbering, the (user_id, grp)
    aggregation and the lead() stitch all reuse ONE user_id hash
    exchange; the only other exchange is the presentation sort's range
    partitioning. Scan reads only the four used columns."""
    from tiny_md_hbase_spark.operators import timeseries as TS

    spark.catalog.clearCache()
    q = TS.scd2_intervals(load_table(spark, sf_dir, "events"))
    assert P.exchange_count(q) <= 2
    assert all(
        "value" not in s and "props" not in s for s in P.read_schemas(q)
    )


def test_session_paths_single_user_shuffle_pruned_scan(spark, sf_dir):
    """Gap window + per-session collect reuse one user_id exchange;
    the path-count aggregation and top-k add bounded-key work; scan
    reads only the four used columns."""
    from tiny_md_hbase_spark.operators import sessions as SES

    spark.catalog.clearCache()
    q = SES.session_paths(load_table(spark, sf_dir, "events"))
    plan = P.explain_str(q, "simple")
    assert "CartesianProduct" not in plan and "Join" not in plan
    assert all(
        "value" not in s and "props" not in s for s in P.read_schemas(q)
    )


def test_change_points_two_phase_no_join(spark, sf_dir):
    """Raw events collapse to the hourly spine first (map-side
    partial); every window then runs over the spine — no join, no
    cartesian anywhere."""
    from tiny_md_hbase_spark.operators import timeseries as TS

    spark.catalog.clearCache()
    q = TS.change_points(load_table(spark, sf_dir, "events"))
    plan = P.explain_str(q, "simple")
    assert "partial_" in plan
    assert "Join" not in plan
    assert all("props" not in s for s in P.read_schemas(q))


def test_vocab_growth_one_pass_pruned_scan(spark, sf_dir):
    """One corpus pass: explode → min-per-token (map-side partial) →
    bucket histogram; the cumulative window sees only the histogram.
    Scan reads (doc_id, text) only."""
    from tiny_md_hbase_spark.operators import text as TX

    spark.catalog.clearCache()
    q = TX.vocab_growth(load_table(spark, sf_dir, "documents"))
    plan = P.explain_str(q, "simple")
    assert "partial_min" in plan or "partial_" in plan
    assert "Join" not in plan
    assert all(
        "lang" not in s and "source" not in s for s in P.read_schemas(q)
    )


def test_dq_check_fused_aggregates_key_only_anti_joins(spark, sf_dir):
    """Row-local rules fuse into per-table single-pass aggregates; the
    two referential rules appear as anti joins on key columns; no
    cartesian beyond the 1-row bundle crossJoins."""
    from tiny_md_hbase_spark.operators import analytics as AN

    spark.catalog.clearCache()
    q = AN.dq_check(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )
    plan = P.explain_str(q, "simple")
    assert plan.count("LeftAnti") == 2
    # the lineitem scans for rules read no money columns
    assert all("l_extendedprice" not in s for s in P.read_schemas(q))


def test_hybrid_search_rrf_rank_stage_is_metadata_sized(spark, sf_dir):
    """Both retrievers end in TakeOrderedAndProject before the rank
    windows — the fusion never sees corpus-sized data."""
    from tiny_md_hbase_spark.operators import similarity as SIM

    spark.catalog.clearCache()
    q = SIM.hybrid_search_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
    )
    plan = P.explain_str(q, "simple")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan


def test_inverted_index_write_parallelism_exceeds_bucket_count(spark, sf_dir):
    """The posting write must NOT collapse to ``num_buckets`` tasks once
    data volume warrants it: the pre-write exchange hash-partitions on
    (bucket, pmod(crc32(term), S)) with S salt values per bucket — the
    100 TB fix for the 16-task write ceiling a bare
    ``repartition("bucket")`` imposes. S is sized from the plan's byte
    estimate (guide §6 file sizing: a bench-scale corpus must NOT fan
    into bucket x cores tiny files), so the spread contract is pinned
    with an explicit salt_buckets. Pruning semantics are untouched
    (search-equivalence tests in test_writer.py); within a directory a
    term's postings still share one file because they share one salt."""
    from pyspark.sql import functions as F

    from tiny_md_hbase_spark.sources.writer import _salt_buckets, build_postings

    docs = load_table(spark, sf_dir, "documents")
    pp = build_postings(docs, num_buckets=4, salt_buckets=3)
    # the exchange is sized to num_buckets x salt_buckets, never capped
    # at the bucket count
    assert pp.rdd.getNumPartitions() == 12
    assert "crc32" in P.explain_str(pp, "simple")
    # and the spread is real, not just nominal: rows of a single bucket
    # land in more than one task
    spread = (
        pp.withColumn("pid", F.spark_partition_id())
        .groupBy("bucket")
        .agg(F.count_distinct("pid").alias("n_tasks"))
        .agg(F.max("n_tasks").alias("mx"))
        .first()
    )
    assert spread.mx > 1
    # adaptive sizing: a fixture-scale corpus gets S=1 (one file per
    # bucket — no tiny-file fan-out), and S grows linearly with the
    # byte estimate (the 100 TB write parallelism story)
    assert _salt_buckets(docs, 4) == 1
    import os as _os

    _os.environ["SPARK_GRAFT_TARGET_FILE_BYTES"] = "1024"
    try:
        assert _salt_buckets(docs, 4) > 4
    finally:
        del _os.environ["SPARK_GRAFT_TARGET_FILE_BYTES"]


def test_build_postings_fold_is_vocabulary_sided(spark, sf_dir):
    """The portable term-bucket char fold (an ``F.aggregate``
    higher-order lambda — CodegenFallback, interpreted) must be
    evaluated once per DISTINCT term and joined back, never projected
    per (term, doc_id) posting row: postings outnumber the vocabulary
    by the average document frequency. Contract: the optimized plan
    contains the fold exactly once, inside the vocabulary Aggregate
    (grouping on term), with an equi-join on term carrying the bucket
    back to the posting stream."""
    from tiny_md_hbase_spark.sources.writer import build_postings

    pp = build_postings(load_table(spark, sf_dir, "documents"), num_buckets=4)
    lines = pp._jdf.queryExecution().optimizedPlan().toString().splitlines()
    fold_lines = [ln for ln in lines if "aggregate(transform(" in ln]
    assert len(fold_lines) == 1, "\n".join(lines)
    assert fold_lines[0].strip(" :+-").startswith("Aggregate [term"), fold_lines[0]
    assert any("Join Inner, (term" in ln for ln in lines), "\n".join(lines)


def test_skyline_has_no_partitionless_window(spark, sf_dir):
    """skyline's cumulative min must be the two-phase prefix form: every
    WindowExec in the plan carries a partition spec (a bare
    Window.orderBy would move the whole distinct-x table — data-sized
    under SURVEY §1.1's [0, 2^31) domain — into one task). The
    cross-partition carry is a P-row triangular join, so no operator in
    the plan sorts unpartitioned data."""
    q = spatial.skyline(points(spark, sf_dir))
    plan = q._jdf.queryExecution().executedPlan().toString()
    wlines = [ln for ln in plan.splitlines() if "Window [" in ln]
    assert wlines, plan  # the prefix window is still a window
    for ln in wlines:
        # with a partition spec a Window prints THREE bracket groups:
        # Window [exprs], [partition cols], [order cols]
        assert re.search(r"\], \[[^\]]+\], \[[^\]]+\]\s*$", ln), ln


def test_skyline_frontier_join_is_not_force_broadcast(spark, sf_dir):
    """The survivor filter must NOT force-broadcast the frontier: its
    worst case is #distinct-x (corpus-sized on anti-correlated data),
    so a broadcast hint there is an executor-OOM by construction. The
    analyzed plan may carry exactly ONE broadcast hint — the
    cross-partition carry, which is one row per range partition
    (bounded metadata). AQE still broadcasts a small frontier at
    runtime from MEASURED size, which is the correct gate."""
    q = spatial.skyline(points(spark, sf_dir))
    analyzed = q._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1, analyzed


@pytest.mark.parametrize(
    "opname",
    ["decode_features", "wav_decode", "ppm_decode", "ppm_resize", "ppm_stream_frames"],
)
def test_codec_kernel_exchange_width_is_explicit(spark, opname):
    """The `_spread` contract (multimodal.py): every CPU-bound decode
    kernel sits behind an exchange with an EXPLICIT partition count >=
    defaultParallelism. A bare ``repartition(crc32(...))`` (no count)
    lets AQE size the exchange for ~64 MB shuffle blocks and squash a
    32-core Python decode onto 3 tasks — the 19x-at-10x-volume scale
    bug scripts/scale_codecs.py caught in r11; this pins the fix so a
    future AQE/config change cannot silently reintroduce it. Explicit
    counts plan as REPARTITION_BY_NUM (AQE may not coalesce them);
    column-only repartitions plan as REPARTITION_BY_COL (it may)."""
    import os

    from tiny_md_hbase_spark.operators import multimodal as MM

    fix = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    if opname == "decode_features":
        media, q = MM.synth_media(spark, n=49), None
        q = MM.decode_features(media)
    elif opname == "wav_decode":
        media = spark.read.parquet(os.path.join(fix, "media_wav.parquet"))
        q = MM.wav_decode(media)
    elif opname == "ppm_stream_frames":
        media = spark.read.parquet(os.path.join(fix, "media_ppm_stream.parquet"))
        q = MM.ppm_stream_frames(media)
    else:
        media = spark.read.parquet(os.path.join(fix, "media_ppm.parquet"))
        q = getattr(MM, opname)(media)

    plan = P.explain_str(q, "simple")
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "REPARTITION_BY_COL" not in plan, plan

    # the width is real, not just nominal: the kernel (mapInPandas
    # preserves its input partitioning) ran across many tasks — with a
    # bare AQE-sized exchange these tiny fixtures collapse to ONE task
    pids = (
        q.withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert pids >= 4, f"{opname} kernel ran on only {pids} task(s)"


def test_graph_loop_round_single_exchange(spark, sf_dir):
    """The iterative graph operators checkpoint their loop-invariant
    relations PARTITIONED on the per-round join key
    (graph._checkpoint_partitioned), so one pagerank-style round plans
    with exactly ONE shuffle exchange — the fundamental contrib
    groupBy(dst) — and the never-changing edge stream is not
    re-exchanged each round."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    e = G._checkpoint_partitioned(edges.select("src", "dst"), "src")
    deg = G._checkpoint_partitioned(
        e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg")),
        "src",
    )
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(1).cast("long").alias("rank")
    )
    contrib = ranks.join(deg.hint("shuffle_hash"), ranks.node == deg.src).select(
        F.col("node").alias("cnode"), F.expr("rank div deg").alias("contrib")
    )
    inc = (
        e.join(contrib.hint("shuffle_hash"), e.src == F.col("cnode"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("inc"))
    )
    assert P.exchange_count(inc) == 1, P.explain_str(inc, "simple")


def test_maintain_postings_inline_bucket_same_rows_fewer_exchanges(
    spark, sf_dir
):
    """The streaming index-maintenance sink computes posting buckets
    inline (per posting row) instead of via the one-shot builds'
    vocabulary hash-join: identical rows — the bucket is a pure function
    of the term either way — with one exchange fewer per micro-batch."""
    from tiny_md_hbase_spark.operators.text import tokens
    from tiny_md_hbase_spark.sources.writer import build_postings_positional

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id",
        F.transform(tokens("text"), lambda t: F.lower(t)).alias("_toks"),
    ).localCheckpoint()
    via_vocab = build_postings_positional(
        toked, 16, toks_col="_toks", repartition_out=False
    )
    inline = build_postings_positional(
        toked, 16, toks_col="_toks", repartition_out=False, bucket_inline=True
    )
    assert P.exchange_count(inline) < P.exchange_count(via_vocab)
    assert inline.exceptAll(via_vocab).limit(1).count() == 0
    assert via_vocab.exceptAll(inline).limit(1).count() == 0


def test_cc_round_single_exchange_no_convergence_join(spark, sf_dir):
    """r15 min-label CC round contract: labels live hash-partitioned on
    node and edges on src (equal counts), so BOTH per-round joins are
    co-partitioned and a round's only shuffle is the fundamental
    neighbor-min groupBy(dst); convergence is a monotone sum over the
    checkpointed round output, not a label⋈label comparison join — the
    full round plans with exactly ONE exchange and zero sorts."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    labels = G._checkpoint_partitioned(
        edges.select(F.col("src").alias("node")).distinct(), "node"
    ).select("node", F.col("node").alias("comp"))
    e = G._checkpoint_partitioned(edges.select("src", "dst"), "src")
    nbr_min = (
        e.join(labels.hint("shuffle_hash"), e["src"] == labels["node"])
        .groupBy("dst")
        .agg(F.min("comp").alias("nbr"))
    )
    new_labels = labels.join(
        nbr_min.hint("shuffle_hash"), labels["node"] == nbr_min["dst"], "left"
    ).select(
        "node",
        F.least(F.col("comp"), F.coalesce(F.col("nbr"), F.col("comp"))).alias(
            "comp"
        ),
    )
    assert P.exchange_count(new_labels) == 1, P.explain_str(new_labels, "simple")
    assert "Sort " not in P.explain_str(new_labels, "simple")


def test_co_purchase_shared_incidence_exchange_no_sorts(spark, sf_dir):
    """r15 co_purchase contract: the incidence clusters on cust below
    its distinct, so the self-join's two aliases hang off byte-identical
    Exchange subtrees (reused at runtime), the pair join is
    co-partitioned shuffled-hash, and nothing in the plan sorts — the
    plan carries exactly the two incidence exchanges plus the pair
    aggregation's (TakeOrderedAndProject does the top-k without a global
    sort)."""
    from tiny_md_hbase_spark.operators import graph as G

    q = G.co_purchase(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    plan = P.explain_str(q, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # 2 planned incidence exchanges (identical subtrees -> one runtime
    # stage) + 1 pair-count exchange
    assert P.exchange_count(q) == 3, plan
    assert "Sort " not in plan, plan


def test_triangle_count_plans_without_sorts(spark, sf_dir):
    """r15 triangle_count contract: every join over the stats-less
    checkpointed edge/degree/oriented relations is a hinted
    shuffled-hash join — the wedge and closure streams are never sorted
    (the before-plan carried 28 Sort nodes; see plans/r15)."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.doc_overlap_edges(load_table(spark, sf_dir, "documents"))
    q = G.triangle_count(edges)
    plan = P.explain_str(q, "simple")
    assert "SortMergeJoin" not in plan, plan
    assert "Sort " not in plan, plan


def test_pagerank_full_round_single_exchange_no_sorts(spark, sf_dir):
    """r15 pagerank round contract (extends the inc-fragment test
    above): with the rank table's node partitioning RECORDED through
    its per-round checkpoint and the assembly join hinted, a FULL round
    — contrib join, inc aggregation, rank assembly — plans with exactly
    one exchange (the contrib groupBy) and zero sorts."""
    from tiny_md_hbase_spark.operators import graph as G

    edges = G.purchase_edges(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )
    e = G._checkpoint_partitioned(edges.select("src", "dst"), "src")
    deg = G._checkpoint_partitioned(
        e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg")),
        "src",
    )

    def full_round(ranks):
        contrib = ranks.join(
            deg.hint("shuffle_hash"), ranks.node == deg.src
        ).select(
            F.col("node").alias("cnode"), F.expr("rank div deg").alias("contrib")
        )
        inc = (
            e.join(contrib.hint("shuffle_hash"), e.src == F.col("cnode"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inc"))
        )
        return (
            deg.select(F.col("src").alias("node"))
            .join(inc.hint("shuffle_hash"), F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (F.lit(1) + F.expr("(85 * coalesce(inc, 0L)) div 100"))
                .cast("long")
                .alias("rank"),
            )
        )

    r0 = deg.select(
        F.col("src").alias("node"), F.lit(1).cast("long").alias("rank")
    )
    ranks1 = G._checkpoint_keep_partitioning(full_round(r0))
    round2 = full_round(ranks1)
    assert P.exchange_count(round2) == 1, P.explain_str(round2, "simple")
    assert "Sort " not in P.explain_str(round2, "simple")


def test_span_dedup_token_stream_not_reexchanged(spark, sf_dir):
    """r15 span_dedup contract: the tokenized table is checkpointed
    doc_id-partitioned and posexplode preserves that, so the coverage
    join, coverage window, rebuild aggregation and assembly joins add
    NO exchange over the token-level relations — the r14 plan carried 5
    shuffle exchanges, the r15 one carries the fundamental span-key
    aggregation (plus at most a scale-dependent distribution of the
    span-start side)."""
    from tiny_md_hbase_spark.operators import text as TX

    q = TX.span_dedup(load_table(spark, sf_dir, "documents"))
    assert P.exchange_count(q) <= 2, P.explain_str(q, "simple")
