"""Dump the planned physical plans of the headline queries to PLANS.md —
the reviewable artifact behind the scale claims: pushed filters, pruned
schemas, exchange counts, broadcast vs shuffle joins, codegen spans are
all visible without running anything.

Usage: PYTHONPATH=/root/repo python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from tiny_md_hbase_spark import plans as P
from tiny_md_hbase_spark.session import get_spark

# the queries whose physical shape carries the 100 TB story, grouped
AUDIT = [
    ("Reference parity — spatial reads", [
        "range_query", "range_count", "knn", "point_get",
        "polygon_query", "range_query_cover", "range_query_zonemap",
        "range_query_hilbert", "knn_indexed", "knn_hilbert",
    ]),
    ("SFC codecs", [
        "zorder_encode", "hilbert_encode", "hilbert_decode",
    ]),
    ("Index build / routing", [
        "index_build", "bucket_route", "floor_lookup_batch",
    ]),
    ("Retrieval", [
        "phrase_search",
    ]),
    ("Dedup at scale", [
        "dedup_exact", "dedup_minhash_portable", "dedup_minhash_vs_exact",
        "ngram_jaccard", "decontaminate_fuzzy", "decontaminate_bloom",
        "span_dedup", "span_dedup_hashed", "dedup_edit", "dedup_ttl",
    ]),
    ("Graph analytics", [
        "pagerank", "pagerank_weighted", "triangle_count", "k_core",
        "co_purchase", "shortest_path",
    ]),
    ("Tokenizer / sketch verification forms", [
        "bpe_token_count", "approx_quantiles", "approx_distinct",
    ]),
    ("Similarity search", [
        "embedding_knn", "embedding_knn_lsh", "embedding_knn_projected",
        "embedding_knn_quantized", "embedding_profile", "hybrid_search_rrf",
    ]),
    ("Corpus pipeline", [
        "corpus_mix", "corpus_budget", "source_cap", "tfidf_top_terms",
        "corpus_manifest", "keyword_search_bm25", "line_dedup",
        "vocab_growth", "corpus_weighted_sample", "corpus_temperature",
    ]),
    ("Warehouse analytics", [
        "sales_rollup", "topk_per_group", "skew_join", "asof_join",
        "dq_check", "session_paths",
    ]),
    ("Time series", [
        "gap_fill", "rolling_stats", "ohlc", "funnel", "retention",
        "scd2_intervals", "change_points",
    ]),
    ("Warehouse SQL facades", [
        "sql_returned_revenue", "sql_large_orders",
    ]),
    ("Multimodal codecs (Arrow-batched kernels)", [
        "wav_decode", "ppm_decode", "ppm_resize", "ppm_frames",
    ]),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", cpus=8)
    qs = entrymod.queries()

    out = [
        "# PLANS — planned physical plans of the headline queries",
        "",
        f"Generated by `scripts/plan_audit.py` at `{sf_dir}` (plans are",
        "scale-independent: the same logical plan compiles to the same",
        "operator tree at any input size; only AQE runtime re-planning",
        "differs). Read for: `PushedFilters` / `ReadSchema` (scan",
        "pruning), `Exchange` count (shuffles), `BroadcastHashJoin` vs",
        "`SortMergeJoin`, `WholeStageCodegen` spans, window partition",
        "specs (skew safety). Regenerate after plan-affecting changes —",
        "the enforced versions of these properties live in",
        "`tests/test_plans.py`; this file is the human-readable tour.",
        "",
    ]
    # eager queries() entries (they materialize inside the builder) map
    # here to the lazy plan that actually carries their scale story; the
    # audit loop stays generic — add a row, not a branch, for the next one
    def _funnel_plan(spark, sf_dir):
        from tiny_md_hbase_spark.operators import timeseries as TS
        from tiny_md_hbase_spark.sources import load_table

        return TS.funnel_stages(
            load_table(spark, sf_dir, "events"), TS.FUNNEL_STEPS
        )[-1]

    # knn_indexed / knn_hilbert collect their rounds: show round 1's
    # pruned scan; range_query_zonemap: the Spark plan over the written
    # z-sorted table (its served read runs no plan)
    def _knn_round_plan(key):
        def plan(spark, sf_dir):
            from tiny_md_hbase_spark import hilbert as HB
            from tiny_md_hbase_spark import zorder as Z
            from tiny_md_hbase_spark.operators import spatial

            pts = entrymod.points(spark, sf_dir)
            if key == "knn_indexed":
                pts = pts.withColumn("zvalue", Z.zvalue("x", "y"))
            else:
                pts = HB.hilbert_encode(pts)
            return spatial._knn_window(
                pts.localCheckpoint(), *entrymod.KNN_Q, entrymod.KNN_K, spatial._KNN_RADIUS
            )

        return plan

    def _zonemap_plan(spark, sf_dir):
        import atexit
        import shutil
        import tempfile

        from tiny_md_hbase_spark.operators import spatial
        from tiny_md_hbase_spark.sources.writer import write_points_zsorted

        d = tempfile.mkdtemp(prefix="plan_audit_zmap_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        write_points_zsorted(entrymod.points(spark, sf_dir), f"{d}/points", num_partitions=16)
        return spatial._range_plan(
            spark.read.parquet(f"{d}/points"), entrymod.RECT_X, entrymod.RECT_Y
        )

    plan_overrides = {
        "funnel": _funnel_plan,
        "knn_indexed": _knn_round_plan("knn_indexed"),
        "knn_hilbert": _knn_round_plan("knn_hilbert"),
        "range_query_zonemap": _zonemap_plan,
    }

    for section, keys in AUDIT:
        out.append(f"## {section}\n")
        for key in keys:
            df = plan_overrides.get(key, qs[key])(spark, sf_dir)
            plan = P.explain_str(df, "formatted")
            # keep the operator tree + the scan details; drop the long
            # per-node field dumps after the first blank-line separator
            out.append(f"### {key}\n\n```\n{plan.strip()}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
