"""Round-22 optimization pins: every r22 lever is asserted on BOTH sides
of its change — the pre-change shape must agree with (or demonstrably fail
against) the shipped shape, so the optimizations can never silently drift
the results they were proven equivalent on.

Covers:
* the ANSI overflow hardening in dedup_weighted_jaccard_pairs' IDF weight
  (the interpolated INT*INT multiplier constant-folds to an
  ARITHMETIC_OVERFLOW once n_docs >= 2147 — the folded BIGINT literal
  computes the identical value and survives any corpus size);
* the llm_dpo_pair_builder argmax restructure (two ROW_NUMBER windows +
  group-key self-join -> one max_by/min_by groupBy);
* the sketch_hll_union one-pass explode (states ∪ merged-FROM-states ->
  one explode(scope,'__all__') aggregation over the register rows).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from conftest import physical_nodes
from tmdb_movie_data_pipeline_spark.registry import run_query

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


# -- (a) ANSI overflow hardening ------------------------------------------------


def test_interpolated_int_multiplier_overflows_past_2147_docs(spark):
    """Pin the FAILURE MODE the r22 fix removes: 1000000 * (N + 1) with both
    operands as INT literals overflows at constant-folding time under ANSI
    once N >= 2147 — exactly what dedup_weighted_jaccard_pairs hit at
    sf0.1 (N = 5000). If this ever stops raising, the fold in
    operators/dedup.py is no longer load-bearing and may be revisited."""
    df = spark.range(3).agg(
        F.expr("CAST((1000000 * (5000 + 1)) div (COUNT(*) + 1) AS BIGINT)")
        .alias("w")
    )
    with pytest.raises(Exception) as ei:
        df.collect()
    assert "ARITHMETIC_OVERFLOW" in str(ei.value)


def test_folded_bigint_multiplier_matches_at_any_scale(spark):
    """The shipped form: the product folds in Python to one BIGINT-ranged
    literal; same value, no overflow."""
    n_docs = 5000
    df = spark.range(3).agg(
        F.expr(f"CAST({1000000 * (n_docs + 1)} div (COUNT(*) + 1) AS BIGINT)")
        .alias("w")
    )
    assert df.collect()[0][0] == (1000000 * 5001) // 4


def test_weighted_jaccard_explains_and_runs_at_sf001(spark):
    """End-to-end: the registered query plans (explain re-folds constants
    under ANSI — the path that failed at sf0.1) and returns rows."""
    df = run_query(spark, "dedup_weighted_jaccard_pairs", SF_DIR)
    # explainString re-runs constant folding — the r22 failure surface
    assert "Exchange" in df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert df.count() > 0


# -- (b) llm_dpo_pair_builder: window form == argmax form -----------------------


def _dpo_window_form(spark, sf_dir):
    """The pre-r22 shape: two ROW_NUMBER windows + group-key self-join."""
    from pyspark.sql.window import Window as W

    from tmdb_movie_data_pipeline_spark.io import load_table

    docs = load_table(spark, sf_dir, "documents")
    grp = W.partitionBy("source", "lang")
    scored = docs.select(
        "source",
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("reward"),
        F.row_number()
        .over(grp.orderBy(F.col("n_chars").desc(), F.col("doc_id")))
        .alias("rn_best"),
        F.row_number()
        .over(grp.orderBy(F.col("n_chars").asc(), F.col("doc_id")))
        .alias("rn_worst"),
    )
    best = scored.filter(F.col("rn_best") == 1).select(
        "source", "lang",
        F.col("doc_id").alias("chosen_doc_id"),
        F.col("reward").alias("chosen_reward"),
    )
    worst = scored.filter(F.col("rn_worst") == 1).select(
        "source", "lang",
        F.col("doc_id").alias("rejected_doc_id"),
        F.col("reward").alias("rejected_reward"),
    )
    return (
        best.join(worst, ["source", "lang"])
        .withColumn("reward_gap", F.col("chosen_reward") - F.col("rejected_reward"))
        .filter(
            (F.col("chosen_doc_id") != F.col("rejected_doc_id"))
            & (F.col("reward_gap") >= 1)
        )
        .select("source", "lang", "chosen_doc_id", "rejected_doc_id", "reward_gap")
    )


def test_dpo_argmax_form_matches_window_form(spark):
    new = run_query(spark, "llm_dpo_pair_builder", SF_DIR)
    old = _dpo_window_form(spark, SF_DIR)
    assert sorted(new.columns) == sorted(old.columns)
    assert _rows(new.select(*old.columns)) == _rows(old)


def test_dpo_plan_is_single_aggregate_no_window_no_join(spark):
    """The point of the restructure: one partial-aggregable pass — the
    shipped plan carries no Window and no join."""
    df = run_query(spark, "llm_dpo_pair_builder", SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "Window" not in plan
    assert "Join" not in plan


# -- (c) sketch_hll_union: one-pass explode == states ∪ merged ------------------


def _hll_union_two_pass(spark, sf_dir):
    """The pre-r22 shape: per-source states, merged-from-states, union."""
    from tmdb_movie_data_pipeline_spark.io import load_table
    from tmdb_movie_data_pipeline_spark.operators.sketches import (
        HLL_B,
        HLL_M,
        _HLL_ALPHA_M2,
        _HLL_WMAX,
    )

    docs = load_table(spark, sf_dir, "documents")
    h = docs.select(
        "source",
        F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    w = F.shiftright(F.col("hv"), HLL_B)
    rr = h.select(
        "source",
        (F.col("hv") % HLL_M).alias("reg"),
        F.when(w == 0, F.lit(_HLL_WMAX))
        .otherwise(F.lit(_HLL_WMAX) - F.length(F.bin(w)))
        .alias("rho"),
    )
    states = rr.groupBy("source", "reg").agg(F.max("rho").alias("mj"))
    merged = states.groupBy("reg").agg(F.max("mj").alias("mj"))
    scoped = states.select(
        F.col("source").alias("scope"), "reg", "mj"
    ).unionByName(merged.select(F.lit("__all__").alias("scope"), "reg", "mj"))
    s = scoped.groupBy("scope").agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WMAX} - mj)"))
        .alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    est = (
        F.expr(f"{_HLL_ALPHA_M2} * pow(2.0, {_HLL_WMAX})")
        / (
            F.col("s_present")
            + (F.lit(HLL_M) - F.col("n_regs"))
            * F.shiftleft(F.lit(1).cast("long"), _HLL_WMAX)
        ).cast("double")
    ).alias("est_distinct")
    return s.select(
        "scope",
        (F.lit(HLL_M) - F.col("n_regs")).cast("long").alias("v_zero"),
        est,
    )


def test_hll_union_explode_form_matches_two_pass_form(spark):
    new = run_query(spark, "sketch_hll_union", SF_DIR)
    old = _hll_union_two_pass(spark, SF_DIR)
    assert sorted(new.columns) == sorted(old.columns)
    assert _rows(new.select(*old.columns)) == _rows(old)


def _physical_node_counts(df, *names):
    """How many nodes of each named physical operator class the executed
    plan holds, looking through the AQE wrapper."""
    counts = dict.fromkeys(names, 0)
    for node in physical_nodes(df):
        cls = node.getClass().getSimpleName()
        if cls in counts:
            counts[cls] += 1
    return counts


def test_hll_union_plan_has_single_union_free_scan(spark):
    """The explode form plans ONE documents scan and no Union."""
    df = run_query(spark, "sketch_hll_union", SF_DIR)
    counts = _physical_node_counts(df, "UnionExec", "FileSourceScanExec")
    assert counts["UnionExec"] == 0
    assert counts["FileSourceScanExec"] == 1
