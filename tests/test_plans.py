"""Scale-contract tests: assert the physical plans have the properties
that matter at 100 TB (SURVEY.md §4). A green run here means predicate
pushdown, column pruning, broadcast joins, and codegen are actually in
the plans — not just intended.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from timeseriesdb_spark.plans import checks
from timeseriesdb_spark.registry import QUERIES
from timeseriesdb_spark.tables import load_table


def test_range_filter_pushdown(spark):
    df = QUERIES["q_range_filter"](spark, SF_DIR)
    pushed = " ".join(checks.pushed_filters(df))
    assert "value" in pushed, f"value predicate not pushed: {pushed!r}"


def test_range_new_pushes_both_predicates(spark):
    df = QUERIES["q_range_new"](spark, SF_DIR)
    pushed = " ".join(checks.pushed_filters(df))
    assert "user_id" in pushed and "value" in pushed


def test_count_prunes_columns(spark):
    df = QUERIES["q_count"](spark, SF_DIR)
    cols = checks.read_schema(df)
    assert len(cols) <= 1, f"count() should read at most one column, got {cols}"


def test_projection_reads_only_needed_columns(spark):
    ev = load_table(spark, SF_DIR, "events").select("user_id", "value")
    cols = set(checks.read_schema(ev))
    assert cols == {"user_id", "value"}, cols


def test_semi_join_broadcasts_dim_side(spark):
    df = QUERIES["q_low_fuel"](spark, SF_DIR)
    assert checks.has_broadcast_join(df), "dim side should broadcast"


def test_last_loc_single_shuffle(spark):
    # semi-join (broadcast) + window rank → exactly one shuffle (by key)
    df = QUERIES["q_last_loc"](spark, SF_DIR)
    assert checks.has_broadcast_join(df)
    assert checks.exchange_count(df) <= 1, checks.formatted_plan(df)


def test_scalar_aggs_single_pass(spark):
    # partial+final agg (map-side combine before the one shuffle) —
    # the AggStats merge pattern (buffer_pool.rs:757-790) for free
    df = QUERIES["q_agg_stats"](spark, SF_DIR)
    assert checks.exchange_count(df) <= 1
    plan = checks.formatted_plan(df)
    assert "partial_" in plan, plan


def test_asof_join_is_single_shuffle(spark):
    # the union-merge as-of must not range-join: one exchange for the
    # per-user window, no nested-loop join anywhere
    df = QUERIES["q_asof_join"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "NestedLoop" not in plan
    assert checks.exchange_count(df) <= 1, plan


def test_window_max_pushes_nothing_python(spark):
    # flagship query: pure JVM (no Python eval nodes in the plan)
    df = QUERIES["q_window_max"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan


def test_delta_zigzag_stays_jvm(spark):
    df = QUERIES["q_delta_zigzag"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan
    assert checks.exchange_count(df) <= 1


def test_store_partition_pruning(spark, tmp_path):
    from timeseriesdb_spark.sources import store

    path = str(tmp_path / "signal_store")
    ev = load_table(spark, SF_DIR, "events")
    store.write_signal_store(ev, path)

    scan = store.read_signal_store(spark, path).filter(
        (F.col("event_date") == "2024-01-05") & (F.col("user_id") == 3)
    )
    plan = checks.formatted_plan(scan)
    # date predicate prunes partitions (shows in PartitionFilters),
    # signal predicate reaches PushedFilters (file stats prune)
    assert "event_date" in plan
    pushed = " ".join(checks.pushed_filters(scan))
    assert "user_id" in pushed
    # correctness of the pruned read
    n_direct = ev.filter(
        (F.to_date("ts") == "2024-01-05") & (F.col("user_id") == 3)
    ).count()
    assert scan.count() == n_direct


def test_gopher_rules_scan_only(spark):
    # rule filters are pure per-row string arithmetic: no shuffle, no
    # Python, and the scan reads only the two columns used
    df = QUERIES["q_gopher_rules"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) == 0, plan
    assert set(checks.read_schema(df)) <= {"doc_id", "text"}


def test_pii_scan_single_exchange(spark):
    df = QUERIES["q_pii_scan"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan
    assert "partial_" in plan, plan  # map-side combine before the shuffle


def test_vocab_topk_never_sorts_fully(spark):
    # global top-k must be TakeOrderedAndProject on the counted terms,
    # not a full Sort; rank window runs on the k-row result only
    df = QUERIES["q_vocab_topk"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan


def test_interval_join_is_equi_join(spark):
    # the bin trick must plan as a broadcast equi-join with a residual
    # range condition — BroadcastNestedLoopJoin here means the range
    # predicate became the join itself and the plan is O(n*m)
    df = QUERIES["q_interval_join"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan
    # r14 eager aggregation: the probe side must collapse to per-date
    # partials BEFORE the join (dense temporal overlap is density-
    # quadratic on raw rows — SCALING.md sf1 tail (3)), so the plan
    # carries exactly two exchanges: the date partial-agg shuffle and
    # the final per-interval agg shuffle. A HashAggregate must appear
    # below the join in the tree (probe-side pre-agg), not only above.
    assert checks.exchange_count(df) == 2, plan
    join_at = plan.index("BroadcastHashJoin")
    assert "HashAggregate" in plan[join_at:], plan  # below the join
    assert "HashAggregate" in plan[:join_at], plan  # final agg above


def test_regional_revenue_broadcasts_every_dim(spark):
    # Q5 join tree: five broadcast joins CHOSEN FROM STATS at this sf
    # (no hints — orders/customer/supplier are SF-proportional and
    # must be free to shuffle at 100 TB), lineitem is the only
    # shuffled input (the final agg exchange), date filter pushed to
    # the orders scan
    df = QUERIES["q_regional_revenue"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "SortMergeJoin" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan
    pushed = " ".join(checks.pushed_filters(df))
    assert "o_orderdate" in pushed, pushed


def test_drift_scoring_stays_jvm(spark):
    # v2 drift harness: segment features aggregate JVM-side and the
    # kmeans/tree/forest models fold in as literals — a Python node
    # here means raw values are flowing into a UDF again
    for name in ("q_kmeans_drift", "q_tree_drift", "q_forest_drift"):
        df = QUERIES[name](spark, SF_DIR)
        plan = checks.formatted_plan(df)
        assert "Python" not in plan, (name, plan)


def test_pack_sequences_single_shuffle(spark):
    # packing is one running-sum window per source partition: exactly
    # one exchange (hash by source), no Python, scan reads 3 columns
    df = QUERIES["q_pack_sequences"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) == 1, plan
    assert set(checks.read_schema(df)) <= {"doc_id", "source", "text"}


def test_decontaminate_broadcasts_benchmark_ngrams(spark):
    # the benchmark n-gram set is eval-sized, the train side is the
    # corpus: the overlap probe must be a broadcast hash join (a
    # shuffle join here would move the 100 TB side on n-gram keys)
    df = QUERIES["q_decontaminate"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "Python" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_domain_mix_one_window_shuffle(spark):
    # quota fill = one running-sum window hash-partitioned by domain;
    # the avail/weights/budget frames are dimension-sized broadcasts.
    # Corpus-sized exchanges: the window partition + its aggregation
    # input; anything more means the quota join shuffled the fact side
    df = QUERIES["q_domain_mix"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.has_broadcast_join(df), plan
    assert "SortMergeJoin" not in plan, plan


def test_bm25_broadcasts_term_stats(spark):
    # df (vocab-sized) and the per-doc dl join must not shuffle the
    # corpus-side tf rows twice: at least one broadcast join, no
    # Python, and the term filter reaches the scan of the exploded
    # source (isin folds to In predicate on the split output)
    df = QUERIES["q_bm25"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.has_broadcast_join(df), plan


def test_gap_days_single_shuffle_spine(spark):
    # calendar generation is per-signal sequence() — no cross join
    # against a global calendar table, no nested-loop join
    df = QUERIES["q_gap_days"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stl_two_corpus_shuffles(spark):
    # per-signal window + (signal, hour) agg; the seasonal join keys
    # on (signal, hour) — no Python in the whole decomposition
    df = QUERIES["q_stl_decompose"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan


def test_m4_single_shuffle_jvm(spark):
    # min_by/max_by stay JVM-side. Exchange budget: the fact flows
    # through exactly two exchanges — the (signal, day) position window
    # and the partial-agg'd bucket groupBy; the other exchanges in the
    # plan carry only the aggregate-sized (signal, day) counts frame
    # (the two-level pos carry). ≤4 total keeps that contract honest.
    df = QUERIES["q_m4_downsample"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 4, plan


def test_dup_ngram_coverage_never_broadcasts_shingles(spark):
    # the inverted-index df join must stay a shuffle join — a
    # broadcast of the exploded shingle set dies at corpus scale
    df = QUERIES["q_dup_ngram_coverage"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "BroadcastHashJoin" not in plan, plan
    assert "Python" not in plan, plan


def test_no_broadcast_hints_on_sf_proportional_tables():
    # A broadcast HINT is honored regardless of size: pinning one on a
    # table that grows with scale factor (orders/customer/part/
    # supplier/lineitem, or frames derived from them) OOMs executors
    # at 100 TB. Hints are reserved for fixed-cardinality relations
    # (nation/region, 1-row maxima, type alphabets); AQE promotes the
    # SF-proportional joins to broadcast from runtime stats while they
    # fit. This contract scans the operator sources for violations.
    import pathlib
    import re as _re

    src_dir = pathlib.Path(__file__).parent.parent / "timeseriesdb_spark"
    banned = _re.compile(
        r"F\.broadcast\(\s*(orders|cust|customer|part|supp|supplier"
        r"|lineitem|li|sel_orders|s_nat|big)\b"
    )
    hits = []
    for py in sorted(src_dir.rglob("*.py")):
        # whole-file search: \s* spans newlines, so a call formatted
        # as "F.broadcast(\n    orders..." is still caught
        text = py.read_text()
        for m in banned.finditer(text):
            line_no = text.count("\n", 0, m.start()) + 1
            hits.append(f"{py.name}:{line_no}: {m.group(0)!r}")
    assert not hits, "broadcast hint on SF-proportional relation:\n" + "\n".join(hits)


def test_countmin_rollup_single_shuffle_per_level(spark):
    # digest-prefix pre-agg → per-depth cells → merged: one exchange
    # per aggregation level, all JVM-side. Only the FIRST level sees
    # fact rows (and its shuffle carries key-cardinality partials);
    # the explode runs strictly after the pre-agg, so the plan must
    # show the generator ABOVE the first aggregate, never over the
    # scan.
    df = QUERIES["q_countmin_rollup"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 3, plan
    # tree text is top-down, so "an aggregate BELOW the generator"
    # means a HashAggregate occurrence AFTER Generate in the string
    gen = plan.find("Generate")
    assert gen != -1 and plan.rfind("HashAggregate") > gen, plan[:2000]


def test_funnel_stays_jvm_no_cartesian(spark):
    df = QUERIES["q_funnel"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_postings_store_partition_pruning(spark, tmp_path):
    # stored inverted index: term-prefix directories prune, term
    # predicate pushes down, and the probe equals the direct count
    from timeseriesdb_spark.operators.search import (
        postings_probe,
        write_postings_store,
    )
    from timeseriesdb_spark.operators.search import _words

    path = str(tmp_path / "postings")
    doc = load_table(spark, SF_DIR, "documents")
    write_postings_store(doc, path)

    terms = ["query", "merge"]
    probe = postings_probe(spark, path, terms)
    plan = checks.formatted_plan(probe)
    assert "pfx" in plan
    pushed = " ".join(checks.pushed_filters(probe))
    assert "w" in pushed, pushed
    direct = (
        _words(doc)
        .filter(F.col("w").isin(terms))
        .groupBy("w", "doc_id")
        .count()
        .count()
    )
    assert probe.count() == direct > 0


def test_returned_items_broadcast_topk(spark):
    # Q10: returnflag reaches the scan; broadcasts are stats-chosen
    # at this sf (only nation is hinted), one agg shuffle, bounded
    # top-k (no full sort)
    df = QUERIES["q_returned_items"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    pushed = " ".join(checks.pushed_filters(df))
    assert "l_returnflag" in pushed, pushed
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_market_share_single_fact_shuffle(spark):
    # Q8: lineitem is the only shuffled input at this sf;
    # orders/supplier broadcasts are stats-chosen (unhinted), nation
    # hinted — at 100 TB the same code shuffle-joins orders/supplier
    df = QUERIES["q_market_share"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_large_orders_aggregates_before_join(spark):
    # Q18: the qty HAVING runs on the order-grain aggregate; the few
    # survivors broadcast-join back — never a fact-fact shuffle join
    df = QUERIES["q_large_orders"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert checks.has_broadcast_join(df), plan
    assert "SortMergeJoin" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_ohlc_single_shuffle_jvm(spark):
    # both direction windows and the bar agg share one
    # (signal, day) exchange; endpoints stay JVM-side
    df = QUERIES["q_ohlc"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_scd2_single_shuffle_jvm(spark):
    # change filter (lag) and interval build (lead + row_number) are
    # both user-key windows over the same (ts, event_id) order — the
    # filter preserves partitioning, so ONE exchange serves both
    df = QUERIES["q_scd2"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_feature_snapshot_single_shuffle_jvm(spark):
    # every feature (last value + running count per type) rides the
    # same user-key window frame — adding features must not add
    # exchanges or Python nodes
    df = QUERIES["q_feature_snapshot"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_slo_burn_broadcasts_long_window(spark):
    # the 6-hour aggregate is window-count-sized: it must broadcast
    # onto the hourly rows, not shuffle them again
    df = QUERIES["q_slo_burn"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert checks.has_broadcast_join(df), plan
    assert "Python" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_xcorr_semi_join_bounds_fact(spark):
    # only top-k signals' rows survive the broadcast semi-join; the
    # pair alignment must never go nested-loop
    df = QUERIES["q_xcorr_lag"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_corpus_stats_stay_jvm(spark):
    # Zipf/Heaps/KS/PSI/MI: pure JVM pipelines (explode + agg +
    # bounded windows), no Python nodes anywhere
    for name in (
        "q_zipf_slope",
        "q_vocab_growth",
        "q_length_ks",
        "q_psi_drift",
        "q_lang_source_mi",
    ):
        df = QUERIES[name](spark, SF_DIR)
        plan = checks.formatted_plan(df)
        assert "Python" not in plan, (name, plan)


def test_disjunctive_revenue_pushes_common_conjunct(spark):
    # Q19 shape: the common l_quantity<30 bound must reach the scan;
    # part broadcasts; one agg shuffle
    df = QUERIES["q_disjunctive_revenue"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    pushed = " ".join(checks.pushed_filters(df))
    assert "l_quantity" in pushed, pushed
    assert checks.has_broadcast_join(df), plan
    assert checks.exchange_count(df) <= 1, plan


def test_new_profile_queries_stay_jvm(spark):
    for name in (
        "q_value_entropy",
        "q_burstiness",
        "q_dow_profile",
        "q_purchase_intervals",
        "q_top_terms_by_source",
        "q_sustained_threshold",
        "q_anomaly_seasonal",
        "q_paa_error",
        "q_rrd_error",
    ):
        df = QUERIES[name](spark, SF_DIR)
        plan = checks.formatted_plan(df)
        assert "Python" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)


def test_purchase_intervals_pushes_type_filter(spark):
    df = QUERIES["q_purchase_intervals"](spark, SF_DIR)
    pushed = " ".join(checks.pushed_filters(df))
    assert "event_type" in pushed, pushed
    assert checks.exchange_count(df) <= 1, checks.formatted_plan(df)


def test_abandoned_carts_single_window_no_join(spark):
    # the time-bounded anti-join must be ONE reversed window — any
    # join node means the left-anti range-join fallback crept back
    df = QUERIES["q_abandoned_carts"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_revenue_growth_lag_over_aggregate(spark):
    # monthly agg shuffles once; the lag window runs on the months
    # frame (single-partition, aggregate-sized)
    df = QUERIES["q_revenue_growth"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 2, plan


def test_basket_affinity_no_cartesian(spark):
    # the within-order pair join must stay an equi-join on l_orderkey
    # (fan-out bounded by the type alphabet); singles totals broadcast
    df = QUERIES["q_basket_affinity"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert checks.has_broadcast_join(df), plan
    assert "Python" not in plan, plan


def test_order_lead_time_single_shuffle(spark):
    # order-grain min/max agg is the only fact shuffle; orders broadcast
    df = QUERIES["q_order_lead_time"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert checks.has_broadcast_join(df), plan
    assert checks.exchange_count(df) <= 2, plan
    assert "Python" not in plan, plan


def test_hybrid_rrf_broadcasts_tiny_legs(spark):
    # both rank legs are ≤RRF_POOL rows; the fuse must not shuffle the
    # corpus — no nested loop, no Python
    df = QUERIES["q_hybrid_rrf"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan

def test_running_sum_bucketed_carry(spark):
    # Scale contract for the cumulative paths: the FACT window (the
    # one ordered by ts) must partition on (user_id, bkt) — one
    # signal-DAY per task — never the signal alone (which sorts a hot
    # signal's entire history in a single task at 100 TB). The
    # signal-only carry window is fine: it runs over the per-(signal,
    # day) totals frame. And the two-level decimal carry must equal
    # the naive single-window form bit-for-bit (decimal addition is
    # associative).
    import re as _re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from timeseriesdb_spark.tables import load_table

    df = QUERIES["q_running_sum"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    for spec in _re.findall(r"windowspecdefinition\([^)]*\)", plan):
        if "ts#" in spec:
            assert "bkt#" in spec, spec

    naive_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    naive = (
        load_table(spark, SF_DIR, "events")
        .select(
            "user_id",
            "event_id",
            F.sum(F.col("value").cast("decimal(38,6)"))
            .over(naive_w)
            .cast("double")
            .alias("running_sum"),
        )
    )
    got = sorted(
        (r.user_id, r.event_id, r.running_sum) for r in df.collect()
    )
    want = sorted(
        (r.user_id, r.event_id, r.running_sum) for r in naive.collect()
    )
    assert got == want


def test_cusum_no_full_signal_rank_window(spark):
    # The peak pick must be an associative max-over-struct aggregate,
    # not a row_number over the whole signal; the cumulative window
    # must carry the day bucket like q_running_sum.
    import re as _re

    df = QUERIES["q_cusum_changepoint"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "row_number" not in plan, plan
    for spec in _re.findall(r"windowspecdefinition\([^)]*\)", plan):
        if "ts#" in spec:
            assert "bkt#" in spec, spec


def test_with_pos_bucketed_carry(spark):
    # Scale contract for the row-position family (q_window_max, q_paa,
    # q_paa_error, q_rrd_error, q_m4_downsample, q_sax, q_rrd_sample):
    # the ts-ordered row_number window must partition on
    # (user_id, _pbkt) — one signal-DAY per task — never the signal
    # alone; the offset carry runs over the per-(signal, day) counts
    # frame. And the two-level pos must equal the naive single-window
    # row_number bit-for-bit.
    import re as _re

    from pyspark.sql import Window
    from timeseriesdb_spark.operators.windows import _with_pos

    for name in ("q_window_max", "q_paa", "q_m4_downsample", "q_rrd_sample"):
        plan = checks.formatted_plan(QUERIES[name](spark, SF_DIR))
        for spec in _re.findall(r"windowspecdefinition\([^)]*\)", plan):
            if "ts#" in spec:
                assert "_pbkt#" in spec, (name, spec)

    ev = load_table(spark, SF_DIR, "events")
    naive_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    naive = ev.select(
        "user_id",
        "event_id",
        (F.row_number().over(naive_w) - F.lit(1)).alias("pos"),
    )
    got = sorted(
        (r.user_id, r.event_id, r.pos)
        for r in _with_pos(ev).select("user_id", "event_id", "pos").collect()
    )
    want = sorted((r.user_id, r.event_id, r.pos) for r in naive.collect())
    assert got == want


def test_rrd_error_anchor_window_is_chunk_bounded(spark):
    # q_rrd_error's carry-forward anchor must come from a (signal,
    # chunk) partition (≤ RRD_K rows per task), not an ordered scan of
    # the whole signal history.
    import re as _re

    plan = checks.formatted_plan(QUERIES["q_rrd_error"](spark, SF_DIR))
    for spec in _re.findall(r"windowspecdefinition\([^)]*\)", plan):
        if "min_by" in spec or "pos#" in spec:
            continue
        if "ts#" in spec:
            assert "_pbkt#" in spec, spec
    # the min_by anchor window partitions on the floor(pos/k) chunk
    assert "FLOOR" in plan.upper(), plan


def test_tpch_q7_q9_broadcast_dims_only(spark):
    # Q7/Q9 join trees: nation hints only; no Cartesian, no Python,
    # single agg exchange at this sf (AQE broadcasts the rest from
    # stats — at 100 TB those become shuffle joins, which is the point
    # of NOT hinting them), and the dim filters reach the scans.
    for name in ("q_volume_shipping", "q_product_profit"):
        df = QUERIES[name](spark, SF_DIR)
        plan = checks.formatted_plan(df)
        assert "Python" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "NestedLoop" not in plan, (name, plan)
        assert checks.exchange_count(df) <= 2, (name, plan)
    pushed = " ".join(checks.pushed_filters(QUERIES["q_product_profit"](spark, SF_DIR)))
    assert "p_name" in pushed, pushed  # LIKE '%gear%' reaches the part scan


def test_tpch_q12_date_window_pushdown(spark):
    df = QUERIES["q_shipping_lag"](spark, SF_DIR)
    pushed = " ".join(checks.pushed_filters(df))
    assert "l_shipdate" in pushed, pushed
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 2, plan


def test_tpch_q17_partkey_exchange_reuse(spark):
    # the per-part avg agg and the probe join both key on l_partkey:
    # at most two fact exchanges, no window over the fact, no Python
    df = QUERIES["q_small_qty_revenue"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert checks.exchange_count(df) <= 2, plan


def test_tpch_q21_semi_anti_stay_equi_joins(spark):
    # the EXISTS/NOT EXISTS legs must plan as equi semi/anti joins on
    # l_orderkey with the suppkey != residual — a NestedLoop or
    # Cartesian here is the O(n^2) failure mode
    df = QUERIES["q_waiting_suppliers"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoop" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # top-20, not a full sort


def test_tpch_q22_anti_join_and_scalar_threshold(spark):
    # the 1-row threshold frame may BroadcastNestedLoop (fixed
    # cardinality); the orders anti-join must stay an equi hash join
    # and the date filter must reach the orders scan
    df = QUERIES["q_idle_customers"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    pushed = " ".join(checks.pushed_filters(df))
    assert "o_orderdate" in pushed, pushed


def test_ivf_probe_partition_pruning(spark, tmp_path):
    """The stored-IVF probe's cell IN-filter must reach
    PartitionFilters — the write_ivf_store layout claim that a probe
    never opens the (cells - nprobe)/cells fraction of the store."""
    from timeseriesdb_spark.operators import similarity as sim

    emb = load_table(spark, SF_DIR, "embeddings")
    C = sim.train_ivf_centroids(emb)
    path = str(tmp_path / "ivf_store")
    sim.write_ivf_store(emb, path, C)

    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    probe = sim.ivf_probe_stored(spark, path, list(qrow.embedding), C)
    plan = checks.formatted_plan(probe)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan
    # and the probe answers correctly from the pruned read
    assert probe.count() == sim.TOP_K


def test_multimodal_scan_prunes_columns(spark):
    """Every multimodal decode kernel reads ONLY (doc_id, text) —
    payload synthesis happens in the kernel; a scan shipping lang/
    source/n_chars into the Arrow batches would be wasted width."""
    from timeseriesdb_spark.operators import multimodal as mm

    for q in (
        mm.q_multimodal_meta,
        mm.q_multimodal_features,
        mm.q_multimodal_checksum,
        mm.q_multimodal_resize,
    ):
        cols = set(checks.read_schema(q(spark, SF_DIR)))
        assert cols == {"doc_id", "text"}, (q.__name__, cols)


def test_rolling_quantile_single_shuffle_jvm(spark):
    # r8: selection quantiles ride ONE signal-key exchange, all JVM
    # (sort_array/element_at are codegen expressions, not Python)
    df = QUERIES["q_rolling_quantile"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 1, plan


def test_dup_spans_two_exchanges_jvm(spark):
    # r8: one shingle-key window exchange + one doc-key islands
    # exchange (the third is parallelize_small_scan's round-robin
    # spread of the pre-explode doc rows — narrow data, intentional);
    # nothing else moves shingle-sized rows
    df = QUERIES["q_dup_spans"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert checks.exchange_count(df) <= 3, plan


def test_heavy_hitters_single_lineage_jvm(spark):
    # r8: single plan lineage (no join-based re-derivation of the day
    # counts — a four-subtree formulation scans the fact four times),
    # all JVM, with the WindowGroupLimit pushdown on the rank filter.
    # Exchanges: (day,key) partial agg, key window, day rank window,
    # tier-sized day/global windows + candidate groupBy + final sort.
    df = QUERIES["q_heavy_hitters"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    # formatted plans list each node twice (tree + detail section):
    # one fact scan == 2 occurrences; a join-based re-derivation
    # would show 4+ scans == 8+
    assert plan.count("Scan parquet") <= 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert checks.exchange_count(df) <= 7, plan
    assert checks.read_schema(df) == ["ts", "value"] or set(
        checks.read_schema(df)
    ) == {"ts", "value"}


def test_quantile_rollup_jvm_bounded_windows(spark):
    # r9: one fact-sized (signal, day, bucket) partial agg + one
    # merge agg; the cumulative/total windows and the threshold
    # fan-out run over the BOUNDED bucket frame. All JVM, one scan,
    # only (ts, value, user_id) read.
    df = QUERIES["q_quantile_rollup"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan
    assert set(checks.read_schema(df)) == {"ts", "value", "user_id"}
    assert checks.exchange_count(df) <= 4, plan


def test_trending_terms_single_fact_exchange(spark):
    # r9: single plan lineage like heavy hitters — one (source, term)
    # partial count exchange; every later window runs on the bounded
    # tier. Only (text, source) read.
    df = QUERIES["q_trending_terms"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "Python" not in plan, plan
    assert plan.count("Scan parquet") <= 2, plan
    assert "WindowGroupLimit" in plan, plan
    assert set(checks.read_schema(df)) == {"text", "source"}


def test_image_neardup_single_decode_pass(spark):
    # r9: the Arrow decode/fingerprint pass (the ONE intentional
    # Python stage) feeds a band-bucket window + equi-join; the
    # banded join must be an equi-join (hash/merge), never a
    # nested-loop cross product, and only (doc_id, text) is read.
    df = QUERIES["q_image_neardup"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert set(checks.read_schema(df)) == {"doc_id", "text"}


def test_pla_recon_single_exchange(spark):
    """r12: the PLA reconstruction rides ONE signal-key exchange into
    the grouped kernel (the packed_grouped_map contract) — adding the
    interp must not introduce extra shuffles."""
    df = QUERIES["q_pla_recon"](spark, SF_DIR)
    assert checks.exchange_count(df) <= 1, checks.formatted_plan(df)


def test_theilsen_sample_cap_precedes_pair_join(spark):
    """r12: the md5-window subsample must run BEFORE the self join.
    The capped frame is localCheckpoint-materialized, so the join's
    plan must read the checkpoint (ExistingRDD) on BOTH sides and
    contain NO parquet scan of the fact — one fact scan total, pair
    fan-out bounded by K^2/2 per signal, never history^2."""
    df = QUERIES["q_theilsen_trend"](spark, SF_DIR)
    plan = checks.formatted_plan(df)
    assert plan.count("ExistingRDD") >= 2, plan
    assert "Scan parquet" not in plan, plan


def test_small_scan_estimate_decodes_percent_encoded_paths(
    spark, tmp_path, monkeypatch
):
    """spark.read lists a table under a dir with a space as
    file:///…/a%20b/…. The split estimate must decode that URI; if it
    cannot size the files it silently falls back to .rdd, whose full
    physical planning costs ~150 ms per call."""
    from timeseriesdb_spark.operators.common import parallelize_small_scan

    path = str(tmp_path / "a b" / "t.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert any("%20" in f for f in df.inputFiles())

    def no_rdd(self):
        raise AssertionError("parallelize_small_scan fell back to .rdd")

    monkeypatch.setattr(type(df), "rdd", property(no_rdd))
    out = parallelize_small_scan(df, spark)
    # one small file is one split, below the session's parallelism
    assert out is not df
    assert out.count() == 10
