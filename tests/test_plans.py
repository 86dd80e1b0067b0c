"""Physical-plan assertions: the optimizations the engine is designed
around must actually appear in the plans (SURVEY.md §4) — pushdown, column
pruning, broadcast joins, partial aggregation, top-k. A correct result via
the wrong plan is a 100 TB regression waiting to happen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tmdb_movie_data_pipeline_spark.io import load_table
from tmdb_movie_data_pipeline_spark.registry import all_queries

from conftest import physical_nodes


import re


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes: each appears once as '(id) Name' in the
    formatted details section (tree lines would double-count)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.filter(F.col("l_quantity") < 10).select("l_orderkey", "l_quantity")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    # ReadSchema carries only the projected columns — not all 11
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(all_queries()["q5_region_revenue"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 3  # supplier, nation, region
    assert "BroadcastNestedLoopJoin" not in plan


def test_q1_partial_final_aggregate(spark, sf_dir):
    df = all_queries()["q1_pricing_summary"](spark, sf_dir)
    # partial+final HashAggregate = map-side combine before the shuffle
    plan = _plan(df)
    assert _nodes(plan, "HashAggregate") >= 2
    # codegen spans appear once AQE finalizes the plan — materialize this
    # exact DataFrame, then read the executed plan ('*(n)' = codegen'd span)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in final
    assert "*(" in final


def test_q3_topk_is_take_ordered(spark, sf_dir):
    plan = _plan(all_queries()["q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no global sort for ORDER BY+LIMIT


def test_semi_anti_join_plans(spark, sf_dir):
    semi = _plan(all_queries()["join_semi_exists"](spark, sf_dir))
    anti = _plan(all_queries()["join_anti_not_exists"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_dedup_keepfirst_single_shuffle(spark, sf_dir):
    plan = _plan(all_queries()["dedup_keepfirst_events"](spark, sf_dir))
    # one exchange for the window partitionBy; no extra shuffles
    assert _nodes(plan, "Exchange") == 1


def test_minhash_signature_stage_shuffles_once_with_partial_agg(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(minhash_signatures(docs))
    # one shuffle on doc_id; partial min-agg combines map-side so the
    # exchange carries O(docs × seeds), not O(shingles)
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "HashAggregate") == 2
    # md5 must hash a materialized row exactly once — never inside a
    # higher-order lambda that CollapseProject can replicate per seed
    assert plan.count("md5") <= 3


def test_events_scan_prunes_binaryish_columns(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("user_id")
    plan = _plan(ev)
    assert "props" not in plan.split("ReadSchema")[1][:200]


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing on the join key co-locates both sides: the sort-merge join
    plans with ZERO Exchange — the 100 TB fact-fact join pattern (bucket
    once at write time, join shuffle-free forever after)."""
    from tmdb_movie_data_pipeline_spark.io import load_table

    # (warehouse dir is a static conf — bucketed tables land in the default
    # spark-warehouse and are dropped below)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        o = load_table(spark, sf_dir, "orders")
        li = load_table(spark, sf_dir, "lineitem")
        o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
            "b_orders"
        )
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(
            "b_lineitem"
        )
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = _plan(joined)
        assert _nodes(plan, "SortMergeJoin") == 1
        assert _nodes(plan, "Exchange") == 0  # co-located: no shuffle at all
        # sanity: result matches the unbucketed join
        assert joined.count() == o.join(li, o.o_orderkey == li.l_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_banded_range_join_avoids_nested_loop(spark, sf_dir):
    """The banded interval join must plan as equi-joins only: the raw theta
    form degenerates to BroadcastNestedLoopJoin (per-pair interpreted eval),
    the banded form shuffles/broadcasts on the week-bin key."""
    from tmdb_movie_data_pipeline_spark.operators.joins import range_banded

    df = range_banded(spark, sf_dir)
    plan = _plan(df)
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert _nodes(plan, "BroadcastHashJoin") >= 1


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """When the dim side of a shuffle join is selective, Catalyst injects a
    runtime Bloom filter (might_contain) on the fact scan — rows that can't
    join are dropped BEFORE the shuffle. At 100 TB this is the difference
    between shuffling the whole fact table and shuffling the matching 1%."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
    )
    try:
        from tmdb_movie_data_pipeline_spark.io import load_table

        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).count()
        plan = _plan(j)
        assert "might_contain" in plan, "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_percentile_gate_is_take_ordered_not_global_sort(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        quality_percentile_gate,
    )

    plan = _plan(quality_percentile_gate(spark, sf_dir))
    # partial top-k per partition + merge, never a range-shuffled full sort
    assert _nodes(plan, "TakeOrderedAndProject") == 1
    assert "rangepartitioning" not in plan


def test_sequence_packing_windows_on_source_not_single_partition(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.llm_prep import sequence_packing

    plan = _plan(sequence_packing(spark, sf_dir))
    assert "SinglePartition" not in plan  # the 100 TB killer for windows
    assert _nodes(plan, "Window") == 1


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The dynamic dual of the static-salt plan test: with AQE skew-join on,
    the hot partition of a skewed SMJ is split at runtime and 'skew=true'
    lands in the final adaptive plan.

    Two traps this test dodges, both real at any scale: (1) skew splitting
    works on MAP-output boundaries, so the skewed side needs >1 mapper
    (testdata parquet is one row group = one map task — hence the
    repartition); (2) skew detection is byte-based AFTER shuffle
    compression, so a constant hot key with compressible values can hide a
    6x row skew (the md5 payload keeps bytes proportional to rows)."""
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "262144"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "131072")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        fact = (
            spark.range(200_000)
            .repartition(8)  # >1 mapper so the hot partition CAN split
            .select(
                F.when(F.col("id") % 10 < 9, F.lit(0))
                .otherwise(F.pmod(F.col("id"), F.lit(1000)))
                .alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            )
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3 + 1).alias("w")
        )
        df = fact.join(dim, "k")
        df.collect()  # count() clones the QE; collect materializes THIS one
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_join_strategy_hints_are_obeyed(spark, sf_dir):
    """Strategy hints are the manual override when AQE/stats guess wrong at
    scale: each hint must actually flip the physical join operator."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cases = [
        ("merge", "SortMergeJoin"),
        ("shuffle_hash", "ShuffledHashJoin"),
        ("broadcast", "BroadcastHashJoin"),
    ]
    for hint, node in cases:
        plan = _plan(o.join(c.hint(hint), o.o_custkey == c.c_custkey))
        assert _nodes(plan, node) >= 1, f"hint {hint} did not produce {node}"


def test_user_streaks_reuses_one_partitioning_after_dedup(spark, sf_dir):
    """Gaps-and-islands: the (user, day) dedup and the user_id window are
    the ONLY two shuffles — the island agg (user, grp) and the final
    per-user rollup both cluster on a superset of user_id, so Catalyst
    satisfies them from the window's Exchange instead of re-shuffling.
    Four logical regroupings, two physical Exchanges, at any scale."""
    from tmdb_movie_data_pipeline_spark.operators.events import user_streaks

    plan = _plan(user_streaks(spark, sf_dir))
    assert _nodes(plan, "Exchange") == 2, plan


def test_kmv_sketch_dedups_before_the_window(spark, sf_dir):
    """KMV: the row_number that extracts the K-th order statistic must run
    over DISTINCT hashes, not raw events — the dedup's partial aggregate
    shrinks the shuffle to |distinct| before any ordering work happens."""
    from tmdb_movie_data_pipeline_spark.operators.sketches import kmv_distinct

    plan = _plan(kmv_distinct(spark, sf_dir))
    assert _nodes(plan, "Window") == 1
    # dedup partial+final below the window, group agg partial+final above it
    assert _nodes(plan, "HashAggregate") >= 4


def test_incremental_refresh_reads_state_not_history(spark, sf_dir):
    """The refreshed rollup's plan must scan the persisted state parquet and
    the NEW batch only: the orders scan carries a pushed >= split filter,
    and no < split (history) scan appears anywhere — refresh cost is
    O(delta + |groups|), not O(history)."""
    from tmdb_movie_data_pipeline_spark.operators.incremental import (
        incremental_agg_maintenance,
    )

    plan = _plan(incremental_agg_maintenance(spark, sf_dir))
    assert "aggstate_" in plan  # the state table is a real on-disk relation
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in plan
    assert "LessThan(o_orderdate,1996-01-01" not in plan


def test_interval_overlap_join_is_banded_not_nested_loop(spark, sf_dir):
    """Interval × interval overlap must plan as an equi-join on the hour
    band (theta predicate evaluated only within a bucket) — never a
    BroadcastNestedLoopJoin over the full cross product."""
    from tmdb_movie_data_pipeline_spark.operators.joins import interval_overlap

    plan = _plan(interval_overlap(spark, sf_dir))
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_reaches_fact_scan(spark, sf_dir):
    """The year-partitioned fact scan must carry a DynamicPruningSubquery in
    its PartitionFilters — partitions are ELIMINATED at runtime from the
    dim side's values, not post-filtered after a full scan. This is the
    partition-elimination contract that turns a 7-year scan into a 2-year
    scan at 100 TB."""
    from tmdb_movie_data_pipeline_spark.operators.io_roundtrips import (
        join_dynamic_partition_pruning,
    )

    plan = _plan(join_dynamic_partition_pruning(spark, sf_dir))
    assert "dynamicpruning" in plan.lower(), plan


def test_quantile_histogram_states_aggregate_partially(spark, sf_dir):
    """The sketch path must be partial-aggregable: binned counts combine
    map-side before the exchange (the property that bounds the shuffle at
    O(scopes x bins) regardless of corpus size)."""
    from tmdb_movie_data_pipeline_spark.operators.sketches import _QH_WIDTH

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("scope"),
        F.col("l_extendedprice").cast("double").alias("v"),
    )
    states = (
        li.select("scope", F.floor(F.col("v") / _QH_WIDTH).alias("bin"))
        .groupBy("scope", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    plan = _plan(states)
    # partial + final HashAggregate around exactly one exchange
    assert _nodes(plan, "HashAggregate") == 2
    assert _nodes(plan, "Exchange") == 1


def test_cdc_chunker_scan_reads_only_text(spark, sf_dir):
    """Chunking projects the payload (encoded text) and nothing else: the
    wide documents table (embedding etc.) must be pruned at the scan."""
    plan = _plan(all_queries()["multimodal_cdc_chunk_dedup"](spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols == {"text"}, cols


def test_train_split_is_one_scan_and_tiny_exchanges(spark, sf_dir):
    """The split never shuffles the corpus: one scan of 3 columns, then
    (source, split) partial aggregates — every exchange after the scan
    carries cell rows, not documents."""
    plan = _plan(all_queries()["llm_train_val_test_split"](spark, sf_dir))
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(scans) == 1, "corpus must be scanned exactly once"
    cols = {c.split(":")[0] for c in scans[0].split(",") if c}
    assert cols == {"doc_id", "source", "text"}, cols
    # cell aggregation is partial+final; the per-source total is a window
    # over the aggregated cells, never a second corpus aggregate
    assert _nodes(plan, "HashAggregate") == 2
    assert _nodes(plan, "Window") == 1


# -- r6 operator plan pins ----------------------------------------------------


def test_bm25_topk_heap_not_global_sort(spark, sf_dir):
    plan = _plan(all_queries()["text_bm25_topk"](spark, sf_dir))
    # ORDER BY score LIMIT k must be per-partition heaps, not a full sort
    assert _nodes(plan, "TakeOrderedAndProject") == 1
    assert _nodes(plan, "Sort") == 0
    # scoring is pure Catalyst: stats pass + scoring pass, no Python
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rfm_customer_scale_windows_are_partitioned(spark, sf_dir):
    # every customer-scale window (the row_number rank) must be partitioned
    # by the histogram bucket; only the tiny histogram prefix-sums may be
    # unpartitioned (the documented exception). Since the r21 session-2
    # checkpoints, the returned plan shows only the LAST level's window
    # (earlier levels sit behind lazy checkpoint boundaries), so the
    # per-level property is pinned on the shared helper directly — the
    # only rank producer all three levels go through.
    plan = _plan(all_queries()["agg_rfm_segmentation"](spark, sf_dir))
    specs = re.findall(r"row_number\(\) windowspecdefinition\(([^,]*)", plan)
    assert len(specs) >= 1
    assert all("_b" in s for s in specs), specs

    from pyspark.sql import functions as F

    from tmdb_movie_data_pipeline_spark.operators.aggregates import _dist_ntile

    df = spark.range(0, 500).select(
        F.col("id").alias("c_custkey"), (F.col("id") % 37).alias("m")
    )
    helper_plan = _plan(_dist_ntile(df, "m", F.col("m"), 5, n=500))
    helper_specs = re.findall(
        r"row_number\(\) windowspecdefinition\(([^,]*)", helper_plan
    )
    assert len(helper_specs) == 1
    assert all("_b" in s for s in helper_specs), helper_specs


def test_anomaly_zscore_single_exchange(spark, sf_dir):
    plan = _plan(all_queries()["events_anomaly_zscore"](spark, sf_dir))
    # one shuffle for the (type, day) window; moments + filter ride it
    assert _nodes(plan, "Exchange") == 1
    assert "BatchEvalPython" not in plan


def test_bitmap_distinct_stays_jvm_side(spark, sf_dir):
    plan = _plan(all_queries()["agg_bitmap_distinct"](spark, sf_dir))
    assert "bit_or" in plan and "bit_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_lm_is_map_only_extraction(spark, sf_dir):
    plan = _plan(all_queries()["text_bigram_lm"](spark, sf_dir))
    # bigrams come from slice+zip of the token array (map-only): exactly two
    # Exchanges may exist — the (w1,w2) count shuffle and the w1 window —
    # and no join/posexplode-driven doc_id shuffle
    assert _nodes(plan, "Exchange") == 2, plan
    assert _nodes(plan, "SortMergeJoin") == 0
    assert _nodes(plan, "HashAggregate") >= 2  # partial+final bigram count


def test_spatial_grid_join_is_equi_not_nested_loop(spark, sf_dir):
    plan = _plan(all_queries()["join_spatial_grid"](spark, sf_dir))
    # the distance predicate must ride an EQUI join on the grid cells —
    # never a nested-loop/cartesian all-pairs compare
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert (
        _nodes(plan, "BroadcastHashJoin") + _nodes(plan, "SortMergeJoin")
        + _nodes(plan, "ShuffledHashJoin") == 1
    ), plan


def test_sequence_trigrams_topn_is_heap_not_global_sort(spark, sf_dir):
    plan = _plan(all_queries()["events_sequence_trigrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-N, not Sort+Limit


def test_rank_statistics_windows_are_bucket_partitioned(spark, sf_dir):
    # Mann–Whitney + KS: every window over per-VALUE frames must be
    # partitioned by the histogram bucket; only the tiny bucket-histogram
    # prefix-sum may run unpartitioned (same contract as RFM's pin)
    for name in ("stats_mann_whitney", "stats_ks_test"):
        plan = _plan(all_queries()[name](spark, sf_dir))
        specs = re.findall(r"windowspecdefinition\((\S+ ?\S*?),", plan)
        assert specs, plan
        for first_arg in specs:
            # every window must either be PARTITIONED by the bucket
            # ("_b#NL," first) or be the histogram prefix-sum itself
            # (unpartitioned, ORDERED by _b: "_b#NL ASC" first) — an
            # unpartitioned window over per-value rows fails here
            assert re.match(r"_b#\d+L( ASC)?$", first_arg.rstrip(",")), (
                name,
                first_arg,
                plan,
            )
        assert "BatchEvalPython" not in plan


def test_pareto_customer_windows_are_bucket_partitioned(spark, sf_dir):
    plan = _plan(all_queries()["agg_pareto_contribution"](spark, sf_dir))
    # customer-scale cumsum and rank both run inside the _b partitioning
    parted = re.findall(r"windowspecdefinition\(_b#\d+L", plan)
    assert len(parted) >= 2, plan


def test_interval_merge_single_exchange(spark, sf_dir):
    plan = _plan(all_queries()["events_interval_merge"](spark, sf_dir))
    # running-max flag, group cumsum and the final rollup all share the
    # user_id partitioning: exactly one Exchange
    assert _nodes(plan, "Exchange") == 1, plan


def test_cumulative_distinct_two_bounded_exchanges(spark, sf_dir):
    plan = _plan(all_queries()["events_cumulative_distinct"](spark, sf_dir))
    # (user,type) first-seen window, then (user) running sum: exactly two
    # hash Exchanges, O(1) state each — and never a per-row collected set
    assert _nodes(plan, "Exchange") == 2, plan
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "BatchEvalPython" not in plan


# -- plan pins of the round-7 activations ------------------------------------


def test_grouped_order_statistics_have_no_unpartitioned_window(spark, sf_dir):
    # grouped median/quartiles: bucket_offsets(partition_by=...) means EVERY
    # window spec must carry a partition column — zero single-partition
    # windows anywhere in the plan
    for name in ("agg_grouped_median", "agg_grouped_quartiles"):
        plan = _plan(all_queries()[name](spark, sf_dir))
        specs = re.findall(r"windowspecdefinition\((\S+?),", plan)
        assert specs, plan
        for first_arg in specs:
            assert not first_arg.endswith("ASC") and not first_arg.endswith(
                "DESC"
            ), (name, first_arg)
        assert "SinglePartition" not in plan, (name, plan)


def test_weighted_median_windows_are_bucket_partitioned(spark, sf_dir):
    plan = _plan(all_queries()["agg_weighted_median"](spark, sf_dir))
    parted = re.findall(r"windowspecdefinition\(_b#\d+L,", plan)
    assert len(parted) >= 1, plan


def test_link_prediction_wedge_join_is_equi(spark, sf_dir):
    plan = _plan(all_queries()["graph_link_prediction"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-N, not global sort


def test_bigram_and_bpe_stay_jvm_side(spark, sf_dir):
    for name in ("llm_bpe_pair_counts",):
        plan = _plan(all_queries()[name](spark, sf_dir))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bucketed_colocated_join_has_no_exchange_below_join(spark, sf_dir):
    # registered bucketed join: the only Exchange sits ABOVE the
    # SortMergeJoin (final groupBy); the join reads co-located buckets
    plan = _plan(all_queries()["join_bucketed_colocated"](spark, sf_dir))
    tree = plan.split("(1) Scan")[0]
    ex_pos = [i for i, ln in enumerate(tree.splitlines()) if "Exchange" in ln]
    smj_pos = [
        i for i, ln in enumerate(tree.splitlines()) if "SortMergeJoin" in ln
    ]
    assert len(ex_pos) == 1 and len(smj_pos) == 1, tree
    assert ex_pos[0] < smj_pos[0], tree  # exchange above, not feeding, the join


# -- r7 bank plan pins --------------------------------------------------------


def test_longest_dup_run_is_window_join_bounded(spark, sf_dir):
    """No all-pairs anywhere: the cross-doc test is a hash-agg + equi-join
    on the window hash, never a cartesian/NLJ; scan reads only (doc_id,
    text)."""
    df = all_queries()["dedup_longest_dup_run"](spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_minimizer_pairs_join_is_equi_not_nlj(spark, sf_dir):
    """The fingerprint pair join must be keyed on the minimizer hash (an
    equi-join with the id inequality as a post-filter), never a nested
    loop over doc pairs."""
    plan = _plan(all_queries()["dedup_minimizer_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        _nodes(plan, "SortMergeJoin") + _nodes(plan, "ShuffledHashJoin")
        + _nodes(plan, "BroadcastHashJoin")
        >= 1
    )


def test_poisson_bootstrap_is_map_only_plus_aggregates(spark, sf_dir):
    """The B-fold resample is a map-side explode: no join, no window —
    just the replicate aggregate (partial+final) and the final fold."""
    plan = _plan(all_queries()["stats_poisson_bootstrap"](spark, sf_dir))
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
        "Window",
    ):
        assert _nodes(plan, node) == 0, node
    assert _nodes(plan, "HashAggregate") >= 2
    assert _nodes(plan, "Generate") >= 1  # the explode


def test_column_stats_scans_orders_exactly_once(spark, sf_dir):
    """Profiling N columns must not become N scans: the stack fans out
    map-side, so exactly one parquet scan of orders exists."""
    plan = _plan(all_queries()["profile_column_stats"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1


def test_oov_rate_probes_lm_via_broadcast(spark, sf_dir):
    """The LM membership probe is vocabulary-bounded — it must reach the
    bigram relation through a broadcast join, never a shuffled one."""
    plan = _plan(all_queries()["text_oov_bigram_rate"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in plan


def test_clustering_coefficient_has_no_cartesian(spark, sf_dir):
    """Wedge closure over oriented edges: equi-joins only."""
    plan = _plan(all_queries()["graph_clustering_coefficient"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_readability_is_pure_projection(spark, sf_dir):
    """fre_milli is one codegen projection: no Exchange (shuffle) may
    appear anywhere in the plan."""
    plan = _plan(all_queries()["text_readability"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 0
    assert _nodes(plan, "Scan parquet") == 1


def test_token_budget_scans_documents_once(spark, sf_dir):
    """The quota table derives from ONE corpus scan; totals ride back via
    a broadcast, windows run over the |langs| relation only."""
    plan = _plan(all_queries()["llm_token_budget_quota"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_zipf_profile_has_no_global_sort_over_vocab(spark, sf_dir):
    """Vocabulary ranking must come from the frequency-histogram offsets;
    the only Sort nodes may be window-operator locals, never a global
    range-partitioned ordering of the term-frequency relation."""
    plan = _plan(all_queries()["text_zipf_profile"](spark, sf_dir))
    assert "rangepartitioning(freq" not in plan.lower().replace(" ", "")
    # TakeOrderedAndProject absent too: the profile filters, never top-Ks
    assert "TakeOrderedAndProject" not in plan


def test_truncated_rerank_broadcasts_queries(spark, sf_dir):
    """Both passes hang off the broadcast query set; the corpus is never
    shuffled for the coarse scan."""
    plan = _plan(all_queries()["ann_truncated_rerank"](spark, sf_dir))
    assert _nodes(plan, "BroadcastNestedLoopJoin") >= 1  # broadcast cross join
    assert _nodes(plan, "Scan parquet") <= 2  # queries + corpus, no extra passes


def test_lorenz_curve_scans_events_once(spark, sf_dir):
    """Totals come from a window over the activity histogram — a second
    aggregate of the per-user relation would re-scan the corpus."""
    plan = _plan(all_queries()["events_lorenz_curve"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1


def test_ewma_is_one_bounded_explode_no_recurrence(spark, sf_dir):
    """The closed-form EWMA is an explode + hash agg: no window operator
    (a sequential recurrence would appear as a global-sort window), no
    pair product; the weights arrive via broadcast."""
    plan = _plan(all_queries()["events_ewma_smoothing"](spark, sf_dir))
    assert _nodes(plan, "Window") == 0
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "Exchange") <= 2


def test_kruskal_window_runs_over_histogram_only(spark, sf_dir):
    """Tie-averaged doubled ranks come from ONE window over the whole-unit
    value histogram; orders are never pool-sorted."""
    plan = _plan(all_queries()["stats_kruskal_mean_ranks"](spark, sf_dir))
    assert _nodes(plan, "Sort") == 1  # the single histogram-window local
    assert _nodes(plan, "SortMergeJoin") == 0
    assert _nodes(plan, "CartesianProduct") == 0


def test_char_diversity_is_single_scan_two_aggs(spark, sf_dir):
    """Fixed-prefix char explosion → (doc, char) agg → per-doc rollup:
    exactly one corpus scan and two aggregation exchanges."""
    plan = _plan(all_queries()["text_char_diversity"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Exchange") == 2
    assert _nodes(plan, "Window") == 0


def test_source_tvd_joins_only_shared_terms(spark, sf_dir):
    """The pair relation is a term-keyed equi self-join of the staged
    (source, term) counts — no cartesian pair product anywhere, totals
    ride broadcasts."""
    plan = _plan(all_queries()["text_source_tvd"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0


def test_fd_discovery_scans_each_candidate_once(spark, sf_dir):
    """One scan per FD candidate (the config-bounded union), each pruned
    to its two columns; no joins exist at all."""
    from tmdb_movie_data_pipeline_spark.operators.profiling import _FD_CANDIDATES

    plan = _plan(all_queries()["profile_fd_discovery"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == len(_FD_CANDIDATES)
    for j in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert _nodes(plan, j) == 0


def test_silhouette_centroids_come_back_broadcast(spark, sf_dir):
    """The |labels|×dim centroid relation joins back as a BROADCAST hash
    join keyed on dim; no pairwise vector product exists."""
    plan = _plan(all_queries()["ml_silhouette_centroid"](spark, sf_dir))
    assert _nodes(plan, "BroadcastHashJoin") >= 1
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "SortMergeJoin") == 0


def test_kendall_pair_join_is_day_bounded(spark, sf_dir):
    """The pair product runs over the STAGED daily series (scan count 0
    post-checkpoint): the only non-equi joins are the bounded day-pair
    nested loop and the 1-row totals broadcast."""
    plan = _plan(all_queries()["stats_kendall_tau"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 0  # daily series staged once
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 2
    assert _nodes(plan, "SortMergeJoin") == 0


def test_burstiness_topk_is_heap_not_sort(spark, sf_dir):
    """The top-N selection must plan as TakeOrderedAndProject (per-
    partition heaps), never a global Sort over the vocabulary."""
    plan = _plan(all_queries()["text_term_burstiness"](spark, sf_dir))
    assert _nodes(plan, "TakeOrderedAndProject") == 1
    assert _nodes(plan, "Sort") == 0


def test_lift_curve_windows_run_over_score_histogram(spark, sf_dir):
    """One corpus scan to the score histogram; cumulative windows over
    that domain-sized relation only."""
    plan = _plan(all_queries()["ml_lift_gains_curve"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Sort") <= 1  # the single histogram-window local


def test_dbscan_counts_reuse_the_staged_pair_relation(spark, sf_dir):
    """Both endpoint branches read the staged pair relation — the grid
    join must not appear twice (scan count 0 post-checkpoint) and no
    pair product exists outside it."""
    plan = _plan(all_queries()["spatial_dbscan_core"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 0
    assert _nodes(plan, "CartesianProduct") == 0


def test_rolling_mau_explodes_the_collapsed_relation(spark, sf_dir):
    """The contribution explode runs on distinct (user, day) — one scan,
    and the two-level distinct agg plans as hash aggregates with no
    window and no join beyond the 1-row bound broadcast."""
    plan = _plan(all_queries()["events_rolling_mau"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 2  # active relation + max-date bound
    assert _nodes(plan, "Window") == 0
    assert _nodes(plan, "SortMergeJoin") == 0


def test_relational_division_is_two_level_agg(spark, sf_dir):
    """Division = per-group distinct count vs a broadcast universe count:
    partial+final hash aggregates, no correlated anti-join pair."""
    plan = _plan(all_queries()["join_relational_division"](spark, sf_dir))
    assert _nodes(plan, "HashAggregate") >= 4  # two distinct aggs, partial+final
    assert _nodes(plan, "SortMergeJoin") == 0
    assert _nodes(plan, "CartesianProduct") == 0


def test_harmonic_centrality_has_no_cartesian(spark, sf_dir):
    """The three hop legs are equi-joins on the staged edge relation;
    anti-join peeling must not degrade to a nested-loop pair product."""
    plan = _plan(all_queries()["graph_harmonic_centrality"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0


# -- deferred-op pins (pre-audited now; they activate next rotation) ----------


def test_rag_chunking_is_map_only(spark, sf_dir):
    """Chunk slicing is a pure per-row transform: ZERO exchanges in the
    whole plan — the shape a 100 TB re-chunking pass needs."""
    plan = _plan(all_queries()["llm_rag_chunk_overlap"](spark, sf_dir))
    assert _nodes(plan, "Exchange") == 0
    assert _nodes(plan, "Scan parquet") == 1


def test_ols_normal_equations_is_one_scan_one_agg(spark, sf_dir):
    """The multivariate solve is nine partial-aggregable moments: one
    scan, one aggregation exchange, and driver-free rational arithmetic
    on the single row."""
    plan = _plan(all_queries()["ml_ols_normal_equations"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Exchange") == 1
    assert _nodes(plan, "Sort") == 0


def test_equi_depth_histogram_windows_over_value_domain(spark, sf_dir):
    """One scan to the value histogram; the only Sort is the cumulative
    window's local over that domain-sized relation."""
    plan = _plan(all_queries()["agg_equi_depth_histogram"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Sort") <= 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_assortativity_has_no_pair_product(spark, sf_dir):
    """Degree joins are vertex-keyed equi-joins; no cartesian or
    sort-merge pair product anywhere."""
    plan = _plan(all_queries()["graph_degree_assortativity"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "SortMergeJoin") == 0


def test_spatial_knn_reuses_staged_pairs(spark, sf_dir):
    """Top-k per point runs over the staged pair relation (no re-scan);
    the Sorts are the per-point window locals."""
    plan = _plan(all_queries()["spatial_knn_within_radius"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "Sort") <= 2


def test_allen_algebra_is_banded_not_nested_loop(spark, sf_dir):
    """The 13-way classification must reach pairs through the hour-band
    equi-join (same discipline as join_interval_overlap), never a
    BroadcastNestedLoopJoin over the session cross product."""
    plan = _plan(all_queries()["join_allen_interval_algebra"](spark, sf_dir))
    assert _nodes(plan, "BroadcastNestedLoopJoin") == 0
    assert _nodes(plan, "CartesianProduct") == 0


#: The exact-overlap verifiers over the staged LSH candidate pairs, with
#: the Generate (explode) nodes and nested-loop joins each plans. The
#: estimators' two Generates are minhash_signatures' hash-once shingle
#: explode, under each of the two signature join sides; the sweep's one
#: nested loop attaches its broadcast cutoffs. The overlap itself
#: explodes nothing.
_SET_VERIFIERS = {
    "dedup_ngram_jaccard": (0, 0),
    "dedup_minhash_jaccard_estimate": (2, 0),
    "dedup_bbit_minhash_estimate": (2, 0),
    "dedup_threshold_sweep": (2, 1),
}
_JOIN_EXECS = {"SortMergeJoinExec", "ShuffledHashJoinExec", "BroadcastHashJoinExec"}


def _key_names(keys) -> set[str]:
    """Names of the attributes a join's key expressions read."""
    text = " ".join(str(keys.apply(i)) for i in range(keys.size()))
    return set(re.findall(r"(\w+)#\d+", text))


def _assert_pair_keyed(df, generates, nested_loops) -> None:
    """No join of ``df``'s executed plan is keyed on a document id AND a
    shingle (the exploded pair probe), none is a cartesian product, and
    the plan holds ``nested_loops`` nested-loop joins and — unless
    ``generates`` is None — ``generates`` Generate nodes."""
    nodes = list(physical_nodes(df))
    names = [n.getClass().getSimpleName() for n in nodes]
    for node, name in zip(nodes, names):
        if name in _JOIN_EXECS:
            for keys in (node.leftKeys(), node.rightKeys()):
                got = _key_names(keys)
                doc_keyed = bool(got & {"doc_id", "doc_a", "doc_b"})
                assert not (doc_keyed and "shingle" in got), got
    assert names.count("CartesianProductExec") == 0
    assert names.count("BroadcastNestedLoopJoinExec") == nested_loops
    if generates is not None:
        assert names.count("GenerateExec") == generates


@pytest.mark.parametrize("name", sorted(_SET_VERIFIERS))
def test_set_verifier_stays_pair_keyed(spark, sf_dir, name):
    """Each exact-overlap verifier intersects per-document shingle arrays
    per candidate pair: its joins key on document ids, never on a
    (document, shingle) pair, and only the MinHash signatures explode
    shingles."""
    _assert_pair_keyed(all_queries()[name](spark, sf_dir), *_SET_VERIFIERS[name])


def test_weighted_jaccard_stays_pair_keyed(spark, sf_dir):
    """The IDF-weighted verify keeps the same discipline: the overlap is
    per candidate pair, and the only shingle-keyed joins attach the
    vocabulary-sized weight relation — no cartesian anywhere."""
    df = all_queries()["dedup_weighted_jaccard_pairs"](spark, sf_dir)
    _assert_pair_keyed(df, generates=None, nested_loops=0)


def test_pmi_pair_generation_is_map_side(spark, sf_dir):
    """Collocation pairs expand via the nested array transform BEFORE any
    exchange — the only joins in the plan attach the vocabulary-sized
    unigram relation and the 1-row total, after both groupBys."""
    plan = _plan(all_queries()["text_pmi_lift_pairs"](spark, sf_dir))
    # pair pass + staged unigram pass; the total derives from the staged
    # unigrams, so it costs no third corpus scan
    assert _nodes(plan, "Scan parquet") <= 2
    assert _nodes(plan, "CartesianProduct") == 0
    # exactly one nested-loop node is allowed: the broadcast of the 1-row
    # token total (no join condition exists for a scalar attach)
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 1


def test_isotonic_fit_is_histogram_bounded(spark, sf_dir):
    """Everything after the score histogram is O(B2) on a broadcast-sized
    frame: one corpus scan feeds the staged histogram (whose checkpoint
    hides it from downstream plans), the span enumeration joins
    broadcast-side over the B-row frame, and no corpus-sized shuffle or
    cartesian exists anywhere."""
    plan = _plan(all_queries()["ml_isotonic_calibration"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") <= 1
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "SortMergeJoin") == 0
    # theta-joins over the B-row frame broadcast by design
    assert _nodes(plan, "BroadcastNestedLoopJoin") <= 2


def test_rolling_ols_single_window_pass(spark, sf_dir):
    """Five frame sums share ONE window operator over the daily relation
    (Catalyst shares the frame buffer): one exchange for the daily rollup,
    one for the per-type window, one Sort feeding it."""
    plan = _plan(all_queries()["window_rolling_ols_slope"](spark, sf_dir))
    assert _nodes(plan, "Window") == 1
    assert _nodes(plan, "Sort") <= 1


def test_modality_transforms_are_map_only(spark, sf_dir):
    """RLE, silence trim and scene-change detection are per-row decode
    pipelines: ZERO exchanges — the shape a 100 TB modality re-encode
    pass needs (mapInPandas over the scan, nothing else)."""
    for name in (
        "multimodal_rle_compression",
        "multimodal_pcm_silence_trim",
        "multimodal_scene_change_detect",
    ):
        plan = _plan(all_queries()[name](spark, sf_dir))
        assert _nodes(plan, "Exchange") == 0, name
        assert _nodes(plan, "Scan parquet") == 1, name


def test_probe_sweep_reuses_one_scored_relation(spark, sf_dir):
    """The nprobe grid re-ranks ONE scored candidate relation (grid join
    is a broadcast theta on the tiny grid); no cartesian product, and the
    ground-truth side is the same deliberate broadcast Qxcorpus the exact
    baseline pays."""
    plan = _plan(all_queries()["ann_ivf_probe_sweep"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0


def test_permutation_test_shuffles_only_moments(spark, sf_dir):
    """The B=199 relabeling explode is map-side (a literal array explode,
    never a join against a permutation relation); the only exchanges
    carry per-permutation MOMENT rows. The observed side attaches as a
    broadcast 1-row aggregate — no cartesian product, no extra scan-wide
    shuffle."""
    plan = _plan(all_queries()["stats_permutation_diff_test"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "Generate") >= 1  # the explode IS the fan-out
    # two aggregation exchanges (per-b moments, final fold) + the 1-row
    # observed attach; anything beyond that means the explode shuffled
    assert _nodes(plan, "Exchange") <= 4, plan[:2000]


def test_mmr_greedy_composes_bounded_joins(spark, sf_dir):
    """The 4-step greedy loop composes ONE lazy plan whose joins are all
    over pool-bounded relations (|Q| x POOL rows); no cartesian product
    may appear even though the plan tree is deep."""
    plan = _plan(all_queries()["ml_mmr_diversified_topk"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0


def test_unimax_is_single_scan(spark, sf_dir):
    """Water-filling runs entirely over the |langs|-row relation: exactly
    one scan of documents feeds one aggregate; every window after that is
    constant-size."""
    plan = _plan(all_queries()["llm_unimax_language_caps"](spark, sf_dir))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "CartesianProduct") == 0


def test_outlier_clip_ranks_over_histogram_not_rows(spark, sf_dir):
    """The p1/p99 ranks come from the (pos, distinct-value) HISTOGRAM:
    the plan must aggregate BEFORE any window sort (the window's input is
    the histogram aggregate, never the raw exploded rows)."""
    plan = _plan(all_queries()["ml_embedding_outlier_clip"](spark, sf_dir))
    assert _nodes(plan, "CartesianProduct") == 0
    assert _nodes(plan, "Window") >= 1
    # the histogram groupBy must sit below the window: find first Window
    # node id and assert a HashAggregate with a smaller id exists
    import re as _re

    win_ids = [int(m) for m in _re.findall(r"\((\d+)\) Window", plan)]
    agg_ids = [int(m) for m in _re.findall(r"\((\d+)\) HashAggregate", plan)]
    assert win_ids and agg_ids
    # formatted-plan ids grow from the scan upward, so the histogram
    # aggregate feeding the window has a SMALLER id than the window
    assert min(agg_ids) < min(win_ids), (win_ids, agg_ids)


# -- r14-queue plan pins: ready before activation ------------------------------


def test_good_turing_is_two_partial_aggregates_no_window(spark, sf_dir):
    # bigram GT: groupBy(lang, bigram) then the per-lang rollup — both
    # partial-aggregable (map-side combine), ZERO windows, zero Python,
    # and exactly two exchanges (the two groupBy key changes)
    plan = _plan(all_queries()["llm_good_turing_missing_mass"](spark, sf_dir))
    assert "partial_" in plan
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2, plan


def test_sprt_windows_run_over_the_daily_relation_only(spark, sf_dir):
    # the corpus-scale stage is ONE partial-aggregable groupBy(arm, day);
    # the cumulative windows and the crossing join see only the bounded
    # daily relation — the raw-events scan must feed an Aggregate before
    # any Window appears
    plan = _plan(all_queries()["events_sprt_sequential"](spark, sf_dir))
    assert "partial_" in plan
    assert "CartesianProduct" not in plan
    first_window = plan.find("Window")
    assert first_window != -1
    # a partial aggregate exists BELOW the window (plans print top-down,
    # so the aggregate that reduces events appears after the Window text)
    assert "partial_" in plan[first_window:], (
        "raw events reach the window without pre-aggregation"
    )


def test_dsir_reuses_token_explode_exchange(spark, sf_dir):
    """ADVICE r14 / VERDICT r14 #2: llm_dsir_importance_weights derives
    BOTH its 256-bucket profile and its per-doc scoring from ONE
    groupBy(doc_id, lang, bucket) count relation — the token explode +
    md5 must compute once, not once per consumer. The r14 mechanism was
    ReusedExchangeExec in the final adaptive plan; since r21 session 2 the
    sharing is EXPLICIT (a lazy localCheckpoint on the count relation —
    the runtime reuse had stopped firing under bench conditions when the
    consumers' pruning diverged), so the pin now asserts the structural
    property directly: after execution the final plan's scoring join
    reads the checkpoint (Scan ExistingRDD) and the whole plan contains
    NO second token-explode subtree (at most one generator/explode over
    the documents scan)."""
    df = all_queries()["llm_dsir_importance_weights"](spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in final
    assert "Scan ExistingRDD" in final, (
        "the shared groupBy(doc_id, lang, bucket) relation is no longer "
        "materialized once — the r21 checkpoint regressed"
    )
    # the scoring pass must not re-run the token explode: the final plan
    # reads the checkpointed counts, so no Generate/explode node (and no
    # documents scan) may appear in it at all
    assert "Generate explode" not in final, final
    assert final.count("Scan parquet") == 0, (
        "the scoring plan re-scanned the corpus instead of reading the "
        "checkpointed count relation"
    )


def test_filtered_ann_pushes_lang_predicate_and_semi_joins(spark, sf_dir):
    """The filtered-search tiers' plan claims, CI-pinned (r17 activation):
    the lang predicate reaches the documents parquet scan as a pushed
    filter, eligibility applies via semi-joins (never an inner join that
    could duplicate), and the query stays whole-stage-codegen'd JVM work
    (no Python eval, no cartesian product). All three tiers are active
    registrations as of the r18 activation."""
    for name in (
        "ann_filtered_topk",
        "ann_ivf_filtered_topk",
        "ann_filtered_probe_sweep",
    ):
        plan = _plan(all_queries()[name](spark, sf_dir))
        assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, name
        assert _nodes(plan, "BroadcastHashJoin LeftSemi BuildRight") >= 1 or (
            "LeftSemi" in plan
        ), name
        assert "BatchEvalPython" not in plan and "CartesianProduct" not in plan, name
        # eligibility must prune the documents scan to the join key only
        assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan, name
