"""Join operators (SURVEY.md §2.4 + §2.9 "joins (full menu)").

The reference has exactly two joins, both hand-rolled as dict probes:
J1 genre lookup (src/movie.py:140-142,189) and J2 checkpoint anti-join
(src/movie.py:257-264). This module re-expresses both natively and adds the
full join menu: inner / left / semi / anti multi-way equi-joins, broadcast
dimension joins, a non-equi range join, and a scalable as-of join.

Scale notes:
* dimension tables (region, nation, supplier) ride a **broadcast hash join**
  — zero shuffle for the big side; asserted in tests via the physical plan;
* fact-fact joins (orders⋈lineitem) shuffle on the join key once; AQE
  handles skew at runtime;
* the as-of join deliberately avoids the naive range-join blow-up: it is a
  union + window scan (one shuffle, O(n log n) within partitions) — the
  pattern that survives 100 TB, unlike a theta-join that explodes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import PRICE_SCALE, qsum, qsum_sql
from ..io import load_table
from ..registry import register

__all__ = ["broadcast_lookup", "asof_join"]


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    value_col: str,
    fallback_col: str,
    out_col: str,
) -> DataFrame:
    """J1 parity: left broadcast-join a small dimension and fall back to the
    stringified key when the dimension misses (reference src/movie.py:189 —
    unknown genre id → ``str(id)``)."""
    joined = fact.join(F.broadcast(dim), on=key, how="left")
    return joined.withColumn(
        out_col, F.coalesce(F.col(value_col), F.col(fallback_col).cast("string"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str,
    right_val_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    ``right.ts <= left.ts`` within the same ``on`` key.

    Implemented as union + last_value(ignorenulls) window — a single shuffle
    on ``on`` and a per-partition ordered scan. No range-join row explosion,
    so it scales to billions of rows on both sides (the naive
    ``l JOIN r ON key AND r.ts <= l.ts`` + max() oracle form is quadratic
    per key and exists only for small-scale verification).
    """
    lt = left.withColumn("_side", F.lit(1))
    rt = right.select(
        F.col(on),
        F.col(ts_col),
        F.lit(0).alias("_side"),
        *[F.col(c) for c in right_val_cols],
    )
    l_cols = [c for c in left.columns]
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left rows at equal ts (side 0 < 1) → "<=" semantics
    w = (
        W.partitionBy(on)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = [
        F.last(F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True)
        .over(w)
        .alias(c + suffix)
        for c in right_val_cols
    ]
    asof_ts = (
        F.last(F.when(F.col("_side") == 0, F.col(ts_col)), ignorenulls=True)
        .over(w)
        .alias(ts_col + suffix)
    )
    return (
        unioned.select(*l_cols, F.col("_side"), asof_ts, *carried)
        .filter(F.col("_side") == 1)
        .drop("_side")
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {qsum_sql("l_extendedprice * (1 - l_discount)", PRICE_SCALE)} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d')                 AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-way join → agg → top-k. Catalyst broadcast-joins customer (small
    after the segment filter) and shuffles orders⋈lineitem on the order key;
    the LIMIT plans as TakeOrderedAndProject (top-k, no global sort)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), PRICE_SCALE).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name,
           {qsum_sql("l_extendedprice * (1 - l_discount)", PRICE_SCALE)} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way star join: region/nation/supplier broadcast, orders⋈lineitem
    shuffles once on the order key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            qsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), PRICE_SCALE).alias(
                "revenue"
            )
        )
    )


@register(
    "join_semi_exists",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_quantity > 45
    )
    GROUP BY o_orderpriority
    """,
)
def semi_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join (returns each order once
    regardless of matching line count — no row multiplication)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "join_anti_not_exists",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
    )
    GROUP BY c_mktsegment
    """,
)
def anti_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join; same primitive as the reference's
    checkpoint skip (J2, src/movie.py:257-264).

    The inner side is restricted to 1995 orders so the anti-join output is
    NON-empty at every SF (every testdata customer has some order, so an
    unfiltered NOT EXISTS matches zero rows — a vacuous pass;
    VERDICT r1 "What's wrong" #3)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_broadcast_lookup_fallback",
    oracle="""
    SELECT COALESCE(r_name, CAST(n_regionkey AS VARCHAR)) AS region_label,
           CAST(COUNT(*) AS BIGINT)                       AS n_nations
    FROM nation LEFT JOIN (SELECT * FROM region WHERE r_regionkey <> 0) r
      ON n_regionkey = r_regionkey
    GROUP BY 1
    """,
)
def lookup_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 genre-lookup parity on testdata: left broadcast join with
    stringified-key fallback for misses (region 0 withheld to force the
    NULL path, like an unknown genre id — src/movie.py:189)."""
    n = load_table(spark, sf_dir, "nation")
    r = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_regionkey") != 0)
        .withColumnRenamed("r_regionkey", "n_regionkey")
    )
    looked = broadcast_lookup(n, r, "n_regionkey", "r_name", "n_regionkey", "region_label")
    return looked.groupBy("region_label").agg(F.count(F.lit(1)).alias("n_nations"))


@register(
    "join_range_nonequi",
    oracle="""
    SELECT p_size AS size_class, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM part JOIN supplier
      ON s_acctbal > p_retailprice / 100.0
    WHERE p_size <= 5
    GROUP BY p_size
    """,
)
def range_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join (no equi key): Spark plans BroadcastNestedLoopJoin —
    acceptable only because one side is filtered small + broadcast. At scale
    the engine's as-of/band patterns (see asof_join) replace raw theta joins."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 5)
    s = load_table(spark, sf_dir, "supplier")
    return (
        p.join(F.broadcast(s), s.s_acctbal > p.p_retailprice / 100.0)
        .groupBy(F.col("p_size").alias("size_class"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_asof_prev_view",
    oracle="""
    WITH purchases AS (SELECT * FROM events WHERE event_type = 'purchase'),
         views     AS (SELECT * FROM events WHERE event_type = 'view')
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts)     AS purchase_us,
           MAX(epoch_us(v.ts)) AS prev_view_us
    FROM purchases p LEFT JOIN views v
      ON v.user_id = p.user_id AND v.ts <= p.ts
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)
def asof_prev_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior view.

    Spark side uses the scalable union+window implementation (one shuffle);
    the oracle uses the quadratic join+max form — same result, different
    physical strategy, which is exactly the point.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    out = asof_join(purchases, views, on="user_id", ts_col="ts", right_val_cols=[])
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_us"),
        F.unix_micros(F.col("ts_asof")).alias("prev_view_us"),
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT n_name,
           CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers,
           ROUND(MAX(s_acctbal), 2)         AS max_bal
    FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every nation survives, supplier-less nations count
    zero (COUNT over the nullable side) — the null-extension contract."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            F.round(F.max("s_acctbal"), 2).alias("max_bal"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    WITH buyers AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         rich   AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    SELECT
        CASE WHEN o_custkey IS NULL THEN 'rich_only'
             WHEN c_custkey IS NULL THEN 'buyer_only'
             ELSE 'both' END       AS side,
        CAST(COUNT(*) AS BIGINT)   AS n
    FROM buyers FULL OUTER JOIN rich ON o_custkey = c_custkey
    GROUP BY 1
    """,
)
def full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join + null-side classification — the set-reconciliation
    pattern (which keys exist on which side)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    buyers = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    rich = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    joined = buyers.join(rich, buyers.o_custkey == rich.c_custkey, "full_outer")
    side = (
        F.when(F.col("o_custkey").isNull(), "rich_only")
        .when(F.col("c_custkey").isNull(), "buyer_only")
        .otherwise("both")
    )
    return joined.groupBy(side.alias("side")).agg(F.count(F.lit(1)).alias("n"))


# -- banded interval join: the scalable replacement for theta-join BNLJ ------

_N_PROMOS = 50
_PROMO_EPOCH = "1993-01-01"
_WEEK = 7


def _promo_dim(spark: SparkSession) -> DataFrame:
    """Deterministic variable-length date intervals (a promotions dim):
    promo i covers [epoch + (i*37) % 1500 days, +3 + (i*13) % 28 days)."""
    return spark.range(_N_PROMOS).select(
        F.col("id").alias("promo_id"),
        F.expr(f"date_add(DATE '{_PROMO_EPOCH}', CAST(id * 37 % 1500 AS INT))").alias(
            "start_d"
        ),
        F.expr(
            f"date_add(date_add(DATE '{_PROMO_EPOCH}', CAST(id * 37 % 1500 AS INT)),"
            f" CAST(3 + id * 13 % 28 AS INT))"
        ).alias("end_d"),
    )


@register(
    "join_range_banded",
    oracle=f"""
    WITH promos AS (
        SELECT CAST(x AS BIGINT) AS promo_id,
               DATE '{_PROMO_EPOCH}' + CAST(x * 37 % 1500 AS INTEGER) AS start_d,
               DATE '{_PROMO_EPOCH}' + CAST(x * 37 % 1500 AS INTEGER)
                   + CAST(3 + x * 13 % 28 AS INTEGER) AS end_d
        FROM UNNEST(generate_series(0, {_N_PROMOS - 1})) AS t(x)
    )
    SELECT p.promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM promos p JOIN orders o
      ON o.o_orderdate >= p.start_d AND o.o_orderdate < p.end_d
    GROUP BY p.promo_id
    """,
)
def range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join without a nested-loop: each variable-length interval
    explodes to the week bins it overlaps, facts compute their bin, and the
    match is a plain EQUI-join on the bin plus a residual range filter.

    This is how production interval/band joins scale: candidates are
    O(facts + intervals × bins-per-interval) and shuffle on the bin key,
    where the raw theta join is a BroadcastNestedLoopJoin evaluating every
    (fact, interval) pair (join_range_nonequi documents that trap). A plan
    test pins the no-BNLJ property. An interval spans at most
    ceil(len/7)+1 week bins, so duplicate candidates are bounded and the
    post-filter restores exact semantics — no dedup needed because bins
    partition the timeline (a fact matches an interval in exactly one bin).
    """
    promos = _promo_dim(spark)
    weeks = promos.select(
        "promo_id",
        "start_d",
        "end_d",
        F.explode(
            F.sequence(
                F.expr(f"CAST(floor(datediff(start_d, DATE '1970-01-01') / {_WEEK}) AS BIGINT)"),
                F.expr(
                    f"CAST(floor(datediff(date_sub(end_d, 1), DATE '1970-01-01') / {_WEEK}) AS BIGINT)"
                ),
            )
        ).alias("wk"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("price_cents"),
        F.expr(f"CAST(floor(datediff(o_orderdate, DATE '1970-01-01') / {_WEEK}) AS BIGINT)").alias(
            "wk"
        ),
    )
    return (
        orders.join(F.broadcast(weeks), "wk")
        .filter((F.col("o_orderdate") >= F.col("start_d")) & (F.col("o_orderdate") < F.col("end_d")))
        .groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").cast("long").alias("revenue_cents"),
        )
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH lhs AS (SELECT NULLIF(c_custkey % 7, 3) AS k FROM customer),
    rhs AS (SELECT NULLIF(id, 3) AS k, CAST(id * 2 AS BIGINT) AS w
            FROM range(7) t(id))
    SELECT l.k AS k,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(r.w) AS BIGINT) AS sum_w
    FROM lhs l JOIN rhs r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY l.k
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantic a plain equi-join
    silently drops. The NULL bucket here is 1/7 of the fact side, which is
    also the classic skew trap of null-safe joins at scale: NULL hashes to
    one partition, so a production-size NULL share wants the same salting
    treatment as any hot key (operators/skew.py)."""
    lhs = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_custkey") % 7, F.lit(3)).alias("k")
    )
    rhs = spark.range(7).select(
        F.nullif(F.col("id"), F.lit(3)).alias("k"),
        (F.col("id") * 2).cast("long").alias("w"),
    )
    return (
        lhs.alias("l")
        .join(rhs.alias("r"), F.col("l.k").eqNullSafe(F.col("r.k")))
        .groupBy(F.col("l.k").alias("k"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("r.w").cast("long").alias("sum_w"),
        )
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.price_cents
    FROM customer c, LATERAL (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM orders
        WHERE o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) o
    WHERE c.c_custkey % 50 = 0
    """,
)
def join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's top-2 orders by price,
    written as the per-row subquery a SQL user reaches for. Catalyst
    decorrelates this into a joined window ranking — same physical shape as
    operators/windows.py's top-k — so the lateral form costs one shuffle,
    not one subquery execution per outer row (the 100 TB difference)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("t_cust_lat")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("t_ord_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.price_cents
        FROM t_cust_lat c, LATERAL (
            SELECT o_orderkey,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM t_ord_lat
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) o
        WHERE c.c_custkey % 50 = 0
        """
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_seq,
               epoch_us(ts) AS us
        FROM seq
    ),
    iv AS (
        SELECT user_id, session_seq, MIN(us) AS s, MAX(us) AS e
        FROM sess GROUP BY 1, 2
    ),
    a AS (SELECT * FROM iv WHERE user_id % 2 = 0),
    b AS (SELECT * FROM iv WHERE user_id % 2 = 1),
    p AS (
        SELECT a.user_id AS a_user, b.user_id AS b_user,
               GREATEST(a.s, b.s) AS os, LEAST(a.e, b.e) AS oe
        FROM a JOIN b ON a.s <= b.e AND b.s <= a.e
    )
    SELECT a_user, b_user,
           CAST(COUNT(*) AS BIGINT)       AS n_overlaps,
           CAST(SUM(oe - os) AS BIGINT)   AS total_overlap_us
    FROM p GROUP BY 1, 2
    """,
)
def interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: session intervals of even-id users vs odd-id
    users; for each user pair, how many sessions overlapped in time and for
    how long — concurrency analysis (co-presence, contention windows,
    meeting detection) as a join of two INTERVAL relations, the shape
    banded point-in-range joins (``join_range_banded``) don't cover.

    Scale shape: each interval explodes to the HOUR bands it covers
    (sessions are gap-bounded, so the fanout is small and bounded); the
    pair join is an equi-join on the band key; pairs overlapping several
    shared bands collapse via DISTINCT before aggregation so each session
    pair counts once. No BroadcastNestedLoopJoin anywhere — the theta
    overlap predicate only ever evaluates within a band bucket (pinned in
    tests/test_plans.py). Overlap micros are exact int arithmetic."""
    from .events import sessionize

    _HOUR_US = 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    iv = (
        sessionize(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
    )
    banded = iv.withColumn(
        "band",
        F.explode(
            F.sequence(
                (F.col("s") / _HOUR_US).cast("long"),
                (F.col("e") / _HOUR_US).cast("long"),
            )
        ),
        # both sides of the band self-join consume this relation, and
        # executed plans get zero runtime exchange reuse (r21 survey) — so
        # the sessionize windows + groupBy + explode ran TWICE per action.
        # One row per (session, hour band) it spans: 5 narrow columns, but
        # corpus-scale — it grows with the events table, not bounded.
    ).localCheckpoint(eager=False)
    a = banded.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("a_user"),
        F.col("session_seq").alias("a_seq"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        F.col("band").alias("a_band"),
    )
    b = banded.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("b_user"),
        F.col("session_seq").alias("b_seq"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
        F.col("band").alias("b_band"),
    )
    pairs = (
        a.join(
            b,
            (F.col("a_band") == F.col("b_band"))
            & (F.col("a_s") <= F.col("b_e"))
            & (F.col("b_s") <= F.col("a_e")),
        )
        .select("a_user", "a_seq", "a_s", "a_e", "b_user", "b_seq", "b_s", "b_e")
        .distinct()
    )
    return pairs.groupBy("a_user", "b_user").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum(
            F.least(F.col("a_e"), F.col("b_e"))
            - F.greatest(F.col("a_s"), F.col("b_s"))
        )
        .cast("long")
        .alias("total_overlap_us"),
    )


# -- Allen's interval algebra classification -----------------------------------


@register(
    "join_allen_interval_algebra",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_seq,
               epoch_us(ts) AS us
        FROM seq
    ),
    iv AS (
        SELECT user_id, session_seq, MIN(us) AS s, MAX(us) AS e
        FROM sess GROUP BY 1, 2
    ),
    a AS (SELECT * FROM iv WHERE user_id % 2 = 0),
    b AS (SELECT * FROM iv WHERE user_id % 2 = 1),
    p AS (
        SELECT CASE
                 WHEN a.e < b.s THEN 'precedes'
                 WHEN a.e = b.s THEN 'meets'
                 WHEN b.e < a.s THEN 'preceded_by'
                 WHEN b.e = a.s THEN 'met_by'
                 WHEN a.s = b.s AND a.e = b.e THEN 'equals'
                 WHEN a.s = b.s AND a.e < b.e THEN 'starts'
                 WHEN a.s = b.s THEN 'started_by'
                 WHEN a.e = b.e AND a.s > b.s THEN 'finishes'
                 WHEN a.e = b.e THEN 'finished_by'
                 WHEN a.s > b.s AND a.e < b.e THEN 'during'
                 WHEN a.s < b.s AND a.e > b.e THEN 'contains'
                 WHEN a.s < b.s THEN 'overlaps'
                 ELSE 'overlapped_by' END AS relation,
               a.user_id AS a_user
        FROM a JOIN b
          ON a.s // 3600000000 <= b.e // 3600000000
         AND b.s // 3600000000 <= a.e // 3600000000
    )
    SELECT relation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT a_user) AS BIGINT) AS n_a_users
    FROM p GROUP BY 1
    """,
)
def allen_interval_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen's interval algebra over session pairs: every even-user ×
    odd-user session pair landing in a shared hour band, classified into
    the 13 mutually-exclusive Allen relations (precedes/meets/overlaps/
    starts/during/finishes, their inverses, equals) — the temporal-join
    vocabulary (Allen '83) that plain overlap joins collapse into one bit.
    Schedulers, process miners and conflict detectors branch on exactly
    these distinctions (meets vs overlaps = clean handoff vs contention).

    Shape: the same banded discipline as join_interval_overlap — each
    interval explodes to its covered hour bands (gap-bounded sessions ⇒
    bounded fanout), pairs form on the band equi-key, duplicates from
    multi-band pairs collapse via DISTINCT, and the 13-way CASE is a
    map-side expression on the pair. Disjoint-but-near pairs (precedes/
    meets within a shared hour) are classified too — the relation set is
    band-LOCAL by construction, which is what bounds the output at scale
    (a global before/after classification would be |A|·|B|). The oracle
    reproduces the identical pair set with a floor-div hour-range
    intersection predicate — same semantics, no explode.
    """
    from .events import sessionize

    _HOUR_US = 3600 * 1_000_000
    ev = load_table(spark, sf_dir, "events")
    iv = (
        sessionize(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
        )
    )
    banded = iv.withColumn(
        "band",
        F.explode(
            F.sequence(
                (F.col("s") / _HOUR_US).cast("long"),
                (F.col("e") / _HOUR_US).cast("long"),
            )
        ),
        # same band-self-join shape as join_interval_overlap above: the
        # sessionize+groupBy+explode subtree fed BOTH join sides and
        # executed twice per action; one checkpoint halves it. One row per
        # (session, hour band): grows with the events table.
    ).localCheckpoint(eager=False)
    a = banded.filter(F.col("user_id") % 2 == 0).select(
        F.col("user_id").alias("a_user"),
        F.col("session_seq").alias("a_seq"),
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        F.col("band").alias("band"),
    )
    b = banded.filter(F.col("user_id") % 2 == 1).select(
        F.col("user_id").alias("b_user"),
        F.col("session_seq").alias("b_seq"),
        F.col("s").alias("b_s"),
        F.col("e").alias("b_e"),
        F.col("band").alias("band"),
    )
    pairs = (
        a.join(b, "band")
        .select("a_user", "a_seq", "a_s", "a_e", "b_user", "b_seq", "b_s", "b_e")
        .distinct()
    )
    relation = (
        F.when(F.col("a_e") < F.col("b_s"), "precedes")
        .when(F.col("a_e") == F.col("b_s"), "meets")
        .when(F.col("b_e") < F.col("a_s"), "preceded_by")
        .when(F.col("b_e") == F.col("a_s"), "met_by")
        .when(
            (F.col("a_s") == F.col("b_s")) & (F.col("a_e") == F.col("b_e")),
            "equals",
        )
        .when(
            (F.col("a_s") == F.col("b_s")) & (F.col("a_e") < F.col("b_e")),
            "starts",
        )
        .when(F.col("a_s") == F.col("b_s"), "started_by")
        .when(
            (F.col("a_e") == F.col("b_e")) & (F.col("a_s") > F.col("b_s")),
            "finishes",
        )
        .when(F.col("a_e") == F.col("b_e"), "finished_by")
        .when(
            (F.col("a_s") > F.col("b_s")) & (F.col("a_e") < F.col("b_e")),
            "during",
        )
        .when(
            (F.col("a_s") < F.col("b_s")) & (F.col("a_e") > F.col("b_e")),
            "contains",
        )
        .when(F.col("a_s") < F.col("b_s"), "overlaps")
        .otherwise("overlapped_by")
    )
    return (
        pairs.select(relation.alias("relation"), "a_user")
        .groupBy("relation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("a_user").cast("long").alias("n_a_users"),
        )
    )


# -- Bloom-filter semi-join prefilter -----------------------------------------
#
# The runtime-filter pattern Spark's own InjectRuntimeFilter applies under
# AQE (and Delta/Iceberg apply at scan time): build a tiny Bloom filter
# from the dimension-side join keys, prefilter the fact scan with it, and
# only exact-join the survivors. Here the filter, the probe, and the
# false-positive accounting are all materialized deterministically (shared
# md5 hash family, integer bit ops) so the gate pins the exact behavior:
# zero false negatives — every true match passes the filter — and a
# bit-reproducible false-positive count.

BLOOM_BITS = 64  # deliberately undersized (~60 set positions land in 64
#                    bits) so false positives are VISIBLE in the gate —
#                    production sizing is ~10 bits/key for ~1% FP; the gate
#                    pins the accuracy contract (n_false_neg = 0 ALWAYS,
#                    n_false_pos bit-reproducible), not just the happy path
BLOOM_WORD = 32  # ... as 2 32-bit words (bit index stays clear of signs)
BLOOM_K = 3  # hash functions
_BLOOM_DIM_NATIONS = 5  # suppliers from nations 0..4 form the build side


def _bloom_pos_duck(j: int, key: str) -> str:
    return f"('0x' || substr(md5('{j}_' || CAST({key} AS VARCHAR)), 1, 15))::BIGINT % {BLOOM_BITS}"


def _bloom_pos_spark(j: int, key: str) -> str:
    return (
        f"CAST(conv(substring(md5(concat('{j}_', CAST({key} AS STRING))), 1, 15), 16, 10)"
        f" AS BIGINT) % {BLOOM_BITS}"
    )


@register(
    "join_bloom_prefilter",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT s_suppkey FROM supplier
        WHERE s_nationkey < {_BLOOM_DIM_NATIONS}
    ),
    pos AS (
        {" UNION ALL ".join(
            f"SELECT {_bloom_pos_duck(j, 's_suppkey')} AS p FROM dim"
            for j in range(BLOOM_K)
        )}
    ),
    words AS (
        SELECT p // {BLOOM_WORD} AS w,
               bit_or((1::BIGINT) << (p % {BLOOM_WORD})) AS mask
        FROM pos GROUP BY 1
    ),
    probe AS (
        SELECT l_suppkey,
               {", ".join(
                   f"{_bloom_pos_duck(j, 'l_suppkey')} AS p{j}"
                   for j in range(BLOOM_K)
               )}
        FROM lineitem
    ),
    checked AS (
        SELECT probe.l_suppkey,
               {" AND ".join(
                   f"(COALESCE(w{j}.mask, 0) >> (p{j} % {BLOOM_WORD})) & 1 = 1"
                   for j in range(BLOOM_K)
               )} AS bloom_pass,
               EXISTS (SELECT 1 FROM dim WHERE dim.s_suppkey = probe.l_suppkey)
                   AS is_true
        FROM probe
        {" ".join(
            f"LEFT JOIN words w{j} ON w{j}.w = p{j} // {BLOOM_WORD}"
            for j in range(BLOOM_K)
        )}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_true AND NOT bloom_pass THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_neg
    FROM checked
    """,
)
def bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom prefilter accounting over the lineitem→supplier semi-join:
    one row with probe count, filter-pass count, true-match count, false
    positives, and false negatives (provably 0 — the no-false-negative
    guarantee is IN the checked result, not just asserted in a test).

    Scale shape: the filter build aggregates the (small) dim side into at
    most {BLOOM_BITS // BLOOM_WORD} words; the probe side takes the words
    via {BLOOM_K} BROADCAST joins (the word relation is ~2 KB — this is
    exactly the shuffle-free shape of an engine runtime filter, expressed
    in the declarative layer). The fact scan is touched once; no shuffle
    carries fact rows — the only exchange is the single-row final agg."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    dim = (
        sup.filter(F.col("s_nationkey") < _BLOOM_DIM_NATIONS)
        .select("s_suppkey")
        .distinct()
    )
    pos = dim.select(
        F.explode(
            F.array(
                *[F.expr(_bloom_pos_spark(j, "s_suppkey")) for j in range(BLOOM_K)]
            )
        ).alias("p")
    )
    words = pos.groupBy((F.col("p") / BLOOM_WORD).cast("long").alias("w")).agg(
        F.bit_or(F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD} AS INT))"))
        .alias("mask")
    )
    probe = li.select(
        "l_suppkey",
        *[
            F.expr(_bloom_pos_spark(j, "l_suppkey")).alias(f"p{j}")
            for j in range(BLOOM_K)
        ],
    )
    checked = probe
    for j in range(BLOOM_K):
        wj = words.select(
            F.col("w").alias(f"w{j}"), F.col("mask").alias(f"mask{j}")
        )
        checked = checked.join(
            F.broadcast(wj),
            (F.col(f"p{j}") / BLOOM_WORD).cast("long") == F.col(f"w{j}"),
            "left",
        )
    bloom_pass = None
    for j in range(BLOOM_K):
        bit = F.expr(
            f"(shiftright(COALESCE(mask{j}, CAST(0 AS BIGINT)),"
            f" CAST(p{j} % {BLOOM_WORD} AS INT)) & 1) = 1"
        )
        bloom_pass = bit if bloom_pass is None else (bloom_pass & bit)
    dimkeys = dim.select(F.col("s_suppkey").alias("_dk"))
    checked = checked.join(
        F.broadcast(dimkeys),
        F.col("l_suppkey") == F.col("_dk"),
        "left",
    ).select(
        bloom_pass.alias("bloom_pass"),
        F.col("_dk").isNotNull().alias("is_true"),
    )
    return checked.agg(
        F.count(F.lit(1)).alias("n_probe"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0)).alias("n_pass"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).alias("n_true"),
        F.sum(
            F.when(F.col("bloom_pass") & ~F.col("is_true"), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.sum(
            F.when(F.col("is_true") & ~F.col("bloom_pass"), 1).otherwise(0)
        ).alias("n_false_neg"),
    )


# -- nearest-event asof join (backward OR forward) — deferred r7 queue --------


@register(
    "join_asof_nearest",
    oracle="""
    WITH tagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
               event_type
        FROM events WHERE event_type IN ('view', 'purchase')
    ), ctx AS (
        SELECT user_id, event_id, t, event_type,
               MAX(CASE WHEN is_p = 1 THEN t END) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p,
               MIN(CASE WHEN is_p = 1 THEN t END) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
        FROM tagged
    )
    SELECT event_id, user_id, t AS view_us,
           CASE WHEN next_p IS NULL THEN prev_p
                WHEN prev_p IS NULL THEN next_p
                WHEN t - prev_p <= next_p - t THEN prev_p
                ELSE next_p END AS nearest_purchase_us
    FROM ctx
    WHERE event_type = 'view'
      AND (prev_p IS NOT NULL OR next_p IS NOT NULL)
    """
)
def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event asof join: each view matches the CLOSEST purchase of
    the same user in either time direction (tie -> backward, the
    attribution-friendly default) — the two-sided sibling of
    join_asof_prev_view, and the semantics sensor-fusion pipelines mean
    by "align to nearest reading".

    Implementation is the union-merge form: ONE user-keyed shuffle of the
    combined stream, a running max over preceding purchases and a running
    min over following ones (both windows share the partitioning) — never
    the |views| x |purchases| per-user join a naive two-sided range join
    would do. A purchase AT the view's own timestamp counts as backward
    (frame ends at CURRENT ROW); forward starts strictly after.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("ts")).alias("p_ts"),
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id")
    prev_p = F.max(F.unix_micros("p_ts")).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    next_p = F.min(F.unix_micros("p_ts")).over(
        w.rowsBetween(1, W.unboundedFollowing)
    )
    ctx = tagged.select(
        "event_id",
        "user_id",
        "t",
        "event_type",
        prev_p.alias("prev_p"),
        next_p.alias("next_p"),
    )
    nearest = (
        F.when(F.col("next_p").isNull(), F.col("prev_p"))
        .when(F.col("prev_p").isNull(), F.col("next_p"))
        .when(
            F.col("t") - F.col("prev_p") <= F.col("next_p") - F.col("t"),
            F.col("prev_p"),
        )
        .otherwise(F.col("next_p"))
    )
    return (
        ctx.filter(F.col("event_type") == "view")
        .filter(F.col("prev_p").isNotNull() | F.col("next_p").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("view_us"),
            nearest.alias("nearest_purchase_us"),
        )
    )


# -- pairwise interval-overlap duration — deferred r7 queue -------------------

from .events import _IVL_DUR_CHOICES as _OVD_DUR_CHOICES  # single-sourced:
# the overlap metric MUST share events_interval_merge's synthetic spans


@register(
    "join_interval_overlap_duration",
    oracle=f"""
    WITH v AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + (1 + event_id % {_OVD_DUR_CHOICES})
                              * 60 * 1000000 AS e
        FROM events WHERE event_type = 'view'
    ), p AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + (1 + event_id % {_OVD_DUR_CHOICES})
                              * 60 * 1000000 AS e
        FROM events WHERE event_type = 'purchase'
    ), pairs AS (
        SELECT v.user_id,
               LEAST(v.e, p.e) - GREATEST(v.s, p.s) AS ov
        FROM v JOIN p ON v.user_id = p.user_id
        WHERE LEAST(v.e, p.e) > GREATEST(v.s, p.s)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT)  AS n_overlapping_pairs,
           CAST(SUM(ov) AS BIGINT)   AS total_overlap_us
    FROM pairs GROUP BY user_id
    """
)
def interval_overlap_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total pairwise overlap DURATION between two interval families per
    user (view-spans x purchase-spans, the synthetic durations shared
    with events_interval_merge): Σ max(0, min(ends) − max(starts)) — the
    quantitative sibling of join_interval_overlap, which only finds
    overlapping PAIRS; billing, attribution and co-presence analysis all
    need the overlap AMOUNT in integer microseconds.

    Shape: one user-keyed equi-join with the overlap predicate and
    arithmetic applied in-partition; the pair count is bounded by
    per-user interval counts, never cross-user. At pathological per-user
    densities the banded range join (join_range_banded) is the blocking
    fallback — same predicate, time-bucketed candidates.
    """
    ev = load_table(spark, sf_dir, "events")
    dur_us = (1 + F.col("event_id") % _OVD_DUR_CHOICES) * 60 * 1_000_000

    def spans(etype: str, tag: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select(
            "user_id",
            F.unix_micros("ts").alias(f"{tag}_s"),
            (F.unix_micros("ts") + dur_us).alias(f"{tag}_e"),
        )

    v = spans("view", "v")
    p = spans("purchase", "p")
    ov = F.least(F.col("v_e"), F.col("p_e")) - F.greatest(
        F.col("v_s"), F.col("p_s")
    )
    return (
        v.join(p, "user_id")
        .withColumn("ov", ov)
        .filter(F.col("ov") > 0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_overlapping_pairs"),
            F.sum("ov").cast("long").alias("total_overlap_us"),
        )
    )


# -- null-aware anti join (NOT IN with NULLs) — deferred r7 queue -------------


@register(
    "join_null_aware_anti",
    oracle="""
    WITH clean AS (
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
    ), with_null AS (
        SELECT k FROM clean UNION ALL SELECT NULL
    )
    SELECT 'no_null' AS variant,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM customer WHERE c_custkey NOT IN (SELECT k FROM clean)
    UNION ALL
    SELECT 'with_null',
           CAST(COUNT(*) AS BIGINT)
    FROM customer WHERE c_custkey NOT IN (SELECT k FROM with_null)
    """
)
def null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN under three-valued logic, pinned by CONTRAST: against the
    clean key set the anti-join keeps every non-BUILDING customer; add
    ONE NULL to the same set and ``x NOT IN (...)`` becomes UNKNOWN for
    every x — zero rows survive. Both counts ride in one result, so the
    gate fails if either side of the semantics drifts (a plain LEFT ANTI
    JOIN would silently report the clean count for the nullable set too —
    which is exactly why Spark plans this as a null-aware anti join and
    why the semantics, not just the plan shape, need a pin).

    Scale: Spark's NAAJ broadcasts the key set and short-circuits on the
    null flag — O(probe) with a broadcast, same cost as a plain anti join.
    """
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("t_naaj_customer")
    return spark.sql(
        """
        WITH clean AS (
            SELECT c_custkey AS k FROM t_naaj_customer
            WHERE c_mktsegment = 'BUILDING'
        ), with_null AS (
            SELECT k FROM clean UNION ALL SELECT CAST(NULL AS BIGINT)
        )
        SELECT 'no_null' AS variant, COUNT(*) AS n_kept
        FROM t_naaj_customer
        WHERE c_custkey NOT IN (SELECT k FROM clean)
        UNION ALL
        SELECT 'with_null', COUNT(*)
        FROM t_naaj_customer
        WHERE c_custkey NOT IN (SELECT k FROM with_null)
        """
    )


# -- asof join with staleness tolerance — deferred queue ----------------------

_ASOF_TOL_US = 3_600_000_000  # 1 hour


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH tagged AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END AS p_t,
               event_type
        FROM events WHERE event_type IN ('view', 'purchase')
    ), ctx AS (
        SELECT user_id, event_id, t, event_type,
               MAX(p_t) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_p
        FROM tagged
    )
    SELECT event_id, user_id, t AS view_us,
           CASE WHEN t - prev_p <= {_ASOF_TOL_US}
                THEN prev_p END AS fresh_purchase_us,
           CAST(prev_p IS NOT NULL
                AND t - prev_p <= {_ASOF_TOL_US} AS BOOLEAN) AS is_fresh
    FROM ctx
    WHERE event_type = 'view' AND prev_p IS NOT NULL
    """
)
def asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asof join with a STALENESS TOLERANCE (pandas merge_asof's
    ``tolerance``): each view matches its most recent purchase only if
    that purchase is at most 1 hour old — older state is surfaced as
    NULL-with-a-flag rather than silently used, the freshness contract
    feature lookups and sensor alignment need (a stale join is worse
    than no join: it looks valid). Completes the asof family: backward
    (join_asof_prev_view), nearest (join_asof_nearest), and bounded.

    Shape: identical union-merge single-shuffle form as its siblings;
    the tolerance is a map-side comparison on the already-computed
    running max. Integer microseconds.
    """
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("view", "purchase")).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("t"),
        "event_type",
        F.when(
            F.col("event_type") == "purchase", F.unix_micros("ts")
        ).alias("p_t"),
    )
    w = W.partitionBy("user_id").orderBy("t", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    ctx = tagged.withColumn("prev_p", F.max("p_t").over(w))
    fresh = F.col("t") - F.col("prev_p") <= _ASOF_TOL_US
    return (
        ctx.filter(
            (F.col("event_type") == "view") & F.col("prev_p").isNotNull()
        )
        .select(
            "event_id",
            "user_id",
            F.col("t").alias("view_us"),
            F.when(fresh, F.col("prev_p")).alias("fresh_purchase_us"),
            fresh.alias("is_fresh"),
        )
    )

# -- relational division ---------------------------------------------------------


@register(
    "join_relational_division",
    oracle="""
    WITH req AS (
        SELECT CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_req
        FROM orders
    ),
    cov AS (
        SELECT o_custkey,
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    )
    SELECT o_custkey AS c_custkey, n_orders
    FROM cov, req WHERE n_prio = n_req
    """,
)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — Codd's eighth operator, the 'for ALL' query
    SQL famously lacks syntax for: customers whose orders cover EVERY
    order priority that exists in the data. The divisor is derived from
    the data itself (a 1-row distinct count), so the query stays correct
    when the dimension gains members — the set-coverage formulation
    (per-group distinct count == universe count) instead of the textbook
    double-NOT-EXISTS, because it is one partial+final aggregate where the
    nested-NOT-EXISTS form plans as two correlated anti-joins.

    Shape: two-level agg on (custkey, priority) — map-side combine
    collapses each partition to the distinct pair relation before the
    shuffle — plus a 1-row broadcast for the universe size. At 100 TB the
    pair relation is |customers|×|priorities|-bounded, never order-bounded.
    """
    orders = load_table(spark, sf_dir, "orders")
    req = orders.agg(
        F.countDistinct("o_orderpriority").cast("long").alias("n_req")
    )
    cov = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").cast("long").alias("n_prio"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return (
        cov.crossJoin(F.broadcast(req))
        .filter(F.col("n_prio") == F.col("n_req"))
        .select(F.col("o_custkey").alias("c_custkey"), "n_orders")
    )


# -- skyline (Pareto frontier) via one window pass -----------------------------


@register(
    "join_skyline_pareto",
    oracle="""
    WITH pts AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
               CAST(p_size AS BIGINT) AS size
        FROM part
    )
    SELECT p.p_partkey, p.price_cents, p.size
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.price_cents < p.price_cents AND q.size < p.size
    )
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts under strict 2-D dominance:
    keep every part for which no other part is strictly cheaper AND
    strictly smaller. The oracle states the semantics as the quadratic
    NOT EXISTS self-join; the engine computes the identical set with ONE
    window pass — sort by price, track the running minimum size over all
    strictly-cheaper points (a RANGE frame excluding price ties), and keep
    a point unless that minimum strictly undercuts it. O(n log n) vs the
    oracle's O(n²): the classic 2-D skyline sweep, expressed declaratively.

    Scale shape: one global sort (range-partitioned by Spark's window
    exchange). At 100 TB: local per-partition skylines first (each
    partition's frontier is tiny), then the sweep over the unioned
    frontiers — same operator, prefixed by a mapPartitions-free
    groupBy-less local filter; the window form here IS the merge step."""
    part = load_table(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("size"),
    )
    # all strictly-cheaper points = RANGE frame ending 1 cent before current
    min_cheaper = F.min("size").over(
        W.orderBy("price_cents").rangeBetween(W.unboundedPreceding, -1)
    )
    return (
        pts.withColumn("min_size_cheaper", min_cheaper)
        .filter(
            F.col("min_size_cheaper").isNull()
            | (F.col("min_size_cheaper") >= F.col("size"))
        )
        .select("p_partkey", "price_cents", "size")
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
