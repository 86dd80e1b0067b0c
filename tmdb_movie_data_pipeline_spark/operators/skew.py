"""Skew-mitigation utilities (SURVEY.md §4 R8; the 100 TB contract).

AQE's skew-join splitting handles most hot keys at runtime
(spark.sql.adaptive.skewJoin.enabled, on in session.py). These utilities are
the *static* complement for the cases AQE can't fix:

* ``salted_agg`` — two-phase aggregation for high-cardinality-per-key
  reducers: rows are spread over ``salt`` sub-keys, partially aggregated,
  then re-aggregated per real key. The hot key's rows hit ``salt``
  reducers instead of one. Works for any algebraic aggregate
  (sum/count/min/max).
* ``salted_broadcast_left`` — replicate the small side ``salt`` times and
  salt the big side's key so a broadcast join's *output* partitioning
  doesn't concentrate hot keys downstream.

The registered query pins the semantics: salted and unsalted sums must be
identical (quantized-int sums are order-independent, so this is exact).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register

__all__ = ["salted_agg"]

#: named phase-2 combiners for algebraic aggregates. ``count`` partials
#: re-combine by SUMMING (a count of counts would be wrong); ``avg`` et al.
#: are deliberately absent — a mean of partial means is wrong under salting,
#: so non-decomposable aggregates must be expressed as (sum, count) pairs by
#: the caller and divided after phase 2.
_COMBINERS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "count": F.sum,
    "min": F.min,
    "max": F.max,
}


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, tuple[Column, str | Callable[[Column], Column]]],
    salt: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation with an EXPLICIT combiner per output.

    ``agg_exprs`` maps output name → ``(phase1_aggregate, combiner)`` where
    ``combiner`` is one of the algebraic names in ``_COMBINERS`` ("sum",
    "count", "min", "max") or a callable ``Column -> Column`` applied to the
    phase-1 partial. The combiner is never inferred from the expression —
    inference (e.g. reading the JVM expression string) silently mis-combines
    anything whose name doesn't prefix-match, so an unknown name raises.
    """
    salted = df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[expr.alias(f"_p1_{name}") for name, (expr, _) in agg_exprs.items()]
    )
    combiners = []
    for name, (_, comb) in agg_exprs.items():
        if isinstance(comb, str):
            if comb not in _COMBINERS:
                raise ValueError(
                    f"salted_agg: no combiner named {comb!r} for output {name!r}; "
                    f"known: {sorted(_COMBINERS)}. Non-decomposable aggregates "
                    "(avg, stddev, ...) must be decomposed into sum/count "
                    "partials by the caller."
                )
            comb_fn = _COMBINERS[comb]
        else:
            comb_fn = comb
        combiners.append(comb_fn(F.col(f"_p1_{name}")).alias(name))
    return phase1.groupBy(*key_cols).agg(*combiners)


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(COUNT(*) AS BIGINT)  AS n,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-key aggregation (maximally skewed: 600k rows / 3 keys) computed via
    16-way salting — results must equal the direct plan exactly, which the
    oracle (direct SQL) checks."""
    li = load_table(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty_cents": (F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")), "sum"),
            "n": (F.count(F.lit(1)), "count"),
            "min_key": (F.min("l_orderkey"), "min"),
            "max_key": (F.max("l_orderkey"), "max"),
        },
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty_cents").cast("long").alias("sum_qty_cents"),
        F.col("n").cast("long").alias("n"),
        F.col("min_key").cast("long").alias("min_key"),
        F.col("max_key").cast("long").alias("max_key"),
    )


# -- skewed shuffle join: the case where static salting is the fix ----------
#
# Partial aggregation makes groupBy-skew mostly a non-issue; the place a hot
# key genuinely serializes a stage is a SHUFFLE JOIN whose fact side
# concentrates on one key, when the dim side can't broadcast and AQE's
# skew-join splitting isn't available (pinned partitioning mid-pipeline,
# streaming micro-batches, pre-3.0 clusters). ``skew_salted_join`` spreads
# the hot key over ``_SKEW_SALT`` sub-partitions; its oracle is the direct
# join, so salting must not change results (phase-2 combine is exact
# integer math).

_SKEW_DIM_N = 1000
_SKEW_SALT = 16
#: fact fan-out: each lineitem row contributes this many fact rows. At sf0.1
#: the raw hot key holds ~514k rows — a single reduce task probes that in
#: ~10 ms, far under the job's fixed overhead, so the straggler is invisible
#: locally. ×16 the hot task handles ~8M join rows and genuinely serializes
#: the stage, which is the regime salting exists for (at 100 TB the raw key
#: count is already there; the fan-out only recreates it at sf0.1).
_SKEW_FANOUT = 16


def _skew_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~6/7 of lineitem lands on key 0; the rest spreads over 1..999."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.when(F.col("l_linenumber") % 7 != 0, F.lit(0))
            .otherwise(F.pmod(F.col("l_orderkey"), F.lit(_SKEW_DIM_N)))
            .cast("long")
            .alias("k"),
            F.round(F.col("l_quantity") * 100, 0).cast("long").alias("v"),
        )
        .withColumn("_r", F.explode(F.sequence(F.lit(1), F.lit(_SKEW_FANOUT))))
        .drop("_r")
    )


def _skew_dim(spark: SparkSession) -> DataFrame:
    return spark.range(_SKEW_DIM_N).select(
        F.col("id").alias("k"), (F.col("id") * 3 + 1).cast("long").alias("w")
    )


@register(
    "skew_salted_join",
    oracle=f"""
    WITH fact AS (
        SELECT CASE WHEN l_linenumber % 7 <> 0 THEN 0
                    ELSE l_orderkey % {_SKEW_DIM_N} END AS k,
               CAST(ROUND(l_quantity * 100) AS BIGINT) AS v
        FROM lineitem, UNNEST(generate_series(1, {_SKEW_FANOUT})) AS fan(r)
    ),
    dim AS (
        SELECT CAST(x AS BIGINT) AS k, CAST(x * 3 + 1 AS BIGINT) AS w
        FROM UNNEST(generate_series(0, {_SKEW_DIM_N - 1})) AS t(x)
    )
    SELECT k, CAST(SUM(v * w) AS BIGINT) AS weighted_cents,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM fact JOIN dim USING (k)
    GROUP BY k
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted join-aggregate over the skewed key, with the hot key spread
    over ``_SKEW_SALT`` sub-partitions by replicating the dim side that many
    times. Salting must be invisible in the result: it equals the direct
    join exactly (integer weights/cents, exact combine)."""
    fact = _skew_fact(spark, sf_dir).withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(_SKEW_SALT))
    )
    dim = _skew_dim(spark).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(_SKEW_SALT - 1)))
    )
    return (
        fact.join(dim, ["k", "_salt"])
        .groupBy("k")
        .agg(
            F.sum(F.col("v") * F.col("w")).cast("long").alias("weighted_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )
