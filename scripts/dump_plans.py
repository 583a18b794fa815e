"""Print PLANS.md: formatted physical plans of headline queries with
the scale-relevant properties (PushedFilters, broadcasts, exchange
counts) visible. The file is regenerated, not tracked. Run from the
repo root:

    python scripts/dump_plans.py > PLANS.md
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from timeseriesdb_spark.plans import checks  # noqa: E402
from timeseriesdb_spark.registry import QUERIES  # noqa: E402
from timeseriesdb_spark.session import get_spark  # noqa: E402

HEADLINERS = [
    "q_window_max",      # flagship: row-count windowed max
    "q_range_filter",    # predicate pushdown
    "q_last_loc",        # broadcast semi-join + window
    "q_asof_join",       # single-shuffle union-merge
    "q_pricing_summary", # partial+final agg
    "q_ngram_jaccard",   # inverted-index shuffle join
    "q_minhash_signatures",
    "q_resample_interp", # bidirectional running windows
    "q_sessionize",
    "q_revenue_by_nation",
    "q_fcm_residuals",   # predictor residuals: one window + one agg
    "q_dedup_clusters",  # iterative CC: per-round join topology
    "q_ann_ivf",         # JVM-side cell pruning before scoring
    "q_decontaminate",   # broadcast benchmark-ngram probe
    "q_domain_mix",      # one window shuffle + dimension broadcasts
    "q_chunk_documents", # zero-shuffle generator explode
    "q_incremental_neardup",  # band-key probe join, batch-sized state
    "q_m4_downsample",   # one signal-key shuffle: window + bucket agg
    "q_countmin_rollup", # generator explode + two-level partial agg
    "q_hybrid_rrf",      # two bounded rank legs, tiny full-outer fuse
    "q_funnel",          # conditional stage aggs over one user key
    "q_ohlc",            # two direction windows + agg on ONE exchange
    "q_returned_items",  # Q10: pushed returnflag + 3 broadcasts + top-k
    "q_first_touch",     # carry-forward as-of in one signal window
    "q_basket_affinity", # distinct-pair self-join bounded by alphabet
    "q_rolling_quantile",  # r8: selection quantiles, one exchange, JVM
    "q_dup_spans",       # r8: shingle window + gaps-and-islands
    "q_heavy_hitters",   # r8: one fact exchange into bounded tier
    "q_keyphrases",      # r8: islands phrases + doc-keyed aggregates
    "q_lsh_recall",      # r9: one-pass truth frame + broadcast overlay
    "q_ann_recall",      # r9: stratified distributive top-K, int keys
    "q_quantile_rollup",  # r9: (signal, day, bucket) tier + rank finalize
    "q_image_neardup",   # r9: Arrow decode pass + banded-Hamming join
    "q_trending_terms",  # r9: (source, term) tier + HH summarization
    "q_image_incremental",  # r9: checkpointed batch decode, band probes
    "q_audio_dedup",     # r10: clip fingerprint pass + banded keep/drop
    "q_video_dedup",     # r10: container decode + shared banded core
    "q_lang_id_ngram",   # r10: broadcast-join trigram scoring, 1 exchange
    "q_curation",        # r10: full pipeline incl. dropped-ids CC tail
    "q_semantic_decon",  # r11: capped-eval one-pass Arrow scan, 0 shuffle
    "q_dtw_1nn",         # r11: TakeOrdered probe window + broadcast DP
    "q_hll_register_table",  # r11: distinct-prefix collapse + max agg
    "q_video_mean_dhash",    # r11: one Arrow decode+mean pass, no joins
    "q_scd2",            # r11: change filter + intervals on ONE exchange
    "q_feature_snapshot",  # r11: all features in one strictly-before frame
    "q_watermark_lateness",  # r11: two-level arrival carry + rank select
    "q_theilsen_trend",  # r12: md5-window cap under each pair-join input
    "q_bigram_backoff",  # r11: train-split counts broadcast onto tokens
    "q_dedup_graph_stats",   # r11: wedge joins over the bounded edge frame
    "q_skyline",         # r11: dominance anti-join on the aggregate tier
    "q_pla_recon",       # r12: ONE signal-key exchange into the interp kernel
    "q_kmeans_drift_fft",  # r12: recon kernel + shrinking agg chain
    "q_kmeans_drift_grail",  # r13: segment GRAIL embed join + rollup
    "q_interval_join",   # r14: per-date eager agg + binned broadcast range join
]

SF = "/root/testdata/sf0.01"


def final_plan(df) -> str:
    """Execute the query (noop sink) and return the FINAL adaptive plan.

    The pre-execution plan under AQE shows every branch expanded; stage
    reuse (identical subtrees computed once, other branches become
    ReusedQueryStage/ReusedExchange) only appears after execution —
    reading the initial plan alone over-counts scans (e.g. the
    q_ngram_jaccard self-join shows 2-4 parquet scans pre-AQE but
    shingles the corpus exactly once at runtime).

    collect(), not a noop write: a write wraps the plan in a NEW
    QueryExecution, leaving this df's own adaptive plan unexecuted
    (isFinalPlan stays false)."""
    df.collect()
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


def main() -> None:
    spark = get_spark(app_name="plan-dump", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    print("# PLANS — physical plans of headline queries (sf0.01, local[4])")
    print()
    print("Regenerate with `python scripts/dump_plans.py > PLANS.md`.")
    print("Summary line per query: shuffle exchanges / broadcast join /")
    print("pushed filters — the properties tests/test_plans.py asserts.")
    print("Each query shows the pre-execution tree AND the final adaptive")
    print("plan (isFinalPlan=true) — only the latter shows runtime stage")
    print("reuse, AQE-coalesced shuffles, and skew splits.")
    for name in HEADLINERS:
        df = QUERIES[name](spark, SF)
        plan = checks.formatted_plan(df)
        print(f"\n## {name}\n")
        print(
            f"exchanges={checks.exchange_count(df)} "
            f"broadcast_join={checks.has_broadcast_join(df)} "
            f"pushed_filters={checks.pushed_filters(df)}"
        )
        print("\n```")
        # the tree section only (up to the first operator detail block)
        tree = plan.split("\n\n")[0]
        print(tree)
        print("```")
        fp = final_plan(df)
        scans = fp.count("Scan parquet") + fp.count("FileScan parquet")
        reused = fp.count("Reused")
        print(
            f"\nFinal adaptive plan (scan nodes printed={scans} — a reused"
            f" stage re-prints its source subtree; stages reused at"
            f" runtime={reused}, each computed once):"
        )
        print("\n```")
        print(fp.strip())
        print("```")
    spark.stop()


if __name__ == "__main__":
    main()
