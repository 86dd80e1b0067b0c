"""Structured Streaming queries over the events stream (SURVEY.md §2.9
"streaming").

The reference's moral equivalent is batch backfill + JSON checkpoint resume
(src/movie.py:208-222, 247-299); Structured Streaming subsumes that design:
`checkpointLocation` is the WAL, watermarks bound state, windows replace the
month loop.

Each streaming query here has a batch twin in operators/events.py computing
the same logical result — the registered entries run the stream to
completion over the static events parquet (memory sink,
processAllAvailable) and return the sink table, so the driver's DuckDB
oracle can hash-check streaming output against plain SQL. Complete/update
output modes are chosen so no rows are withheld by the final watermark.

Scale notes: watermark + windowed aggregation keeps state O(open windows);
dropDuplicatesWithinWatermark keeps the dedup set bounded; the same code
runs against Kafka by swapping the source format.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    MONEY_SCALE,
    UNIT_SCALE,
    qavg,
    qavg_sql,
    qsum,
    qsum_sql,
    quantize,
)
from ..registry import register
from ..schemas import TESTDATA_SCHEMAS


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the static events parquet (1 file = 1
    micro-batch; swap for format('kafka') in production).

    Read with the declared events schema, like the batch loader
    (io.load_table): `ts` is TIMESTAMP_NTZ in the file and is cast to
    the engine-wide TIMESTAMP.
    """
    raw = (
        spark.readStream.schema(TESTDATA_SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "events.parquet")  # file source wants a dir
        .parquet(sf_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def _run_to_completion(result: DataFrame, output_mode: str) -> DataFrame:
    """Drive a streaming DataFrame over static input to completion via a
    memory sink; return the sink contents as a batch DataFrame."""
    name = "snk_" + uuid.uuid4().hex[:12]
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = result.sparkSession
    return spark.table(name)


def tumbling_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling 1h window per event_type — streaming twin of
    operators.events.tumbling_hourly."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        qsum(F.col("value"), UNIT_SCALE).alias("sum_value"),
        F.approx_count_distinct("user_id").alias("approx_users"),
    )
    out = _run_to_completion(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "stream_tumbling_hourly",
    oracle=f"""
    SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
           event_type,
           CAST(COUNT(*) AS BIGINT)         AS n_events,
           {qsum_sql("value", UNIT_SCALE)}  AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly_stream(spark, sf_dir)


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (event_type, user_id) within the watermark, then
    count — over the static input this equals exact count(distinct)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_type", "user_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))
    return _run_to_completion(agg, "complete")


def sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1h/30min windows (streaming twin of events_sliding_windows)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        qavg(F.col("value"), UNIT_SCALE).alias("avg_value"),
    )
    out = _run_to_completion(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n_events",
        "avg_value",
    )


@register(
    "stream_sliding_windows",
    oracle=f"""
    WITH offsets AS (SELECT UNNEST([0, 30]) AS off_min)
    SELECT epoch_us(date_trunc('hour', ts - to_minutes(off_min))
                    + to_minutes(off_min))                    AS window_start_us,
           CAST(COUNT(*) AS BIGINT)                           AS n_events,
           {qavg_sql("value", UNIT_SCALE)}                    AS avg_value
    FROM events, offsets
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_stream(spark, sf_dir)


def session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30 min gap) per user via F.session_window — the
    built-in stateful sessionizer (batch twin: operators.events.sessionize)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
    )
    out = _run_to_completion(agg, "complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
    )


@register(
    "stream_session_windows",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM seq
    )
    SELECT user_id,
           epoch_us(MIN(ts))        AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess
    GROUP BY user_id, session_seq
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_window_stream(spark, sf_dir)


@register(
    "stream_stream_join",
    # batch twin: interval join — every (purchase, prior-view-within-1h) pair
    oracle="""
    SELECT p.event_id AS purchase_id, v.event_id AS view_id,
           p.user_id, epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases matched to same-user views within
    the preceding hour. Watermarks bound both join states; the time-range
    condition lets Spark expire rows — the canonical streaming enrichment.
    Inner joins emit eagerly, so over static input the append-mode sink
    holds exactly the batch interval-join result.
    """
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "2 hours")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
    )
    out = _run_to_completion(joined, "append")
    return out.select(
        "purchase_id",
        "view_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("v_ts").alias("view_us"),
    )


@register(
    "stream_static_join",
    # batch twin: enrichment join + segment rollup
    oracle=f"""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {qsum_sql("e.value", UNIT_SCALE)} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    customer dimension (re-read per micro-batch, broadcast-sized), rolled up
    by market segment. The static side needs no watermark or state — this is
    the standard dimension-enrichment topology in front of every streaming
    aggregation at scale."""
    from ..io import load_table

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            qsum(F.col("value"), UNIT_SCALE).alias("sum_value"),
        )
    )
    return _run_to_completion(agg, "complete")


@register(
    "stream_stateful_user_stats",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * {UNIT_SCALE}) AS BIGINT)) AS BIGINT)
               AS sum_value,
           epoch_us(MAX(ts)) AS last_seen_us
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (SURVEY §2.9):
    per-user running (count, quantized value sum, last-seen) maintained in
    explicit group state across micro-batches, emitted in update mode.

    The arbitrary-state API is the escape hatch when built-in windows can't
    express the semantics (CDC-style accumulators, custom session logic);
    state is partitioned by group key, so the shape scales exactly like a
    shuffle keyed on user_id. Over the static input the final update per
    user equals the batch aggregate, which is what the oracle checks
    (micro-batch boundaries change WHEN updates are emitted, never the
    final value — the sink keeps the last update per user).
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("sum_value", LongType()),
            StructField("last_seen_us", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("s", LongType()),
            StructField("last_us", LongType()),
        ]
    )

    def update_user(key, pdf_iter, state: GroupState):
        # rows arrive pre-quantized (Spark-side ROUND, identical to the
        # batch qsum path) — the state transition is pure int64 arithmetic,
        # order-free and engine-exact
        n, s, last_us = state.get if state.exists else (0, 0, None)
        for pdf in pdf_iter:
            n += len(pdf)
            s += int(pdf["value_q"].sum())
            mx = int(pdf["ts_us"].max())
            last_us = mx if last_us is None else max(last_us, mx)
        state.update((n, s, last_us))
        import pandas as pd

        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [s],
                "last_seen_us": [last_us],
            }
        )

    from ..functions import quantize

    ev = read_events_stream(spark, sf_dir).select(
        "user_id",
        quantize(F.col("value"), UNIT_SCALE).alias("value_q"),
        F.unix_micros("ts").alias("ts_us"),
    )
    updates = ev.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_completion(updates, "update")
    # keep the LAST update per user (one per micro-batch may be emitted)
    from pyspark.sql.window import Window as W

    w = W.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@register(
    "stream_stream_left_outer_join",
    # batch twin: interval join UNION the watermark-evicted unmatched side.
    # The eviction cutoff is deterministic for a drained static stream:
    # processAllAvailable runs a trailing empty batch whose GLOBAL watermark
    # is min over the two input streams of (that stream's max event time)
    # minus the delay — each side's watermark tracks only ITS filtered
    # rows, and the join takes the min (measured: a max(all-events) cutoff
    # over-emits by exactly the purchases between the two bounds). Exactly
    # the unmatched purchases older than that emit their NULL row before
    # the sink freezes.
    oracle="""
    WITH wm AS (
        SELECT LEAST(
            (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
            (SELECT MAX(ts) FROM events WHERE event_type = 'view')
        ) - INTERVAL 30 MINUTE AS w
    ),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    matched AS (
        SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
               epoch_us(p.ts) AS purchase_us, epoch_us(v.ts) AS view_us
        FROM p JOIN v ON p.user_id = v.user_id
                     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    ),
    unmatched AS (
        SELECT p.event_id, CAST(NULL AS BIGINT), p.user_id,
               epoch_us(p.ts), CAST(NULL AS BIGINT)
        FROM p, wm
        WHERE p.ts < wm.w
          AND NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = p.user_id
                          AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts)
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join — the stateful shape the inner join
    (stream_stream_join) never exercises: an unmatched purchase must WAIT
    in state until the watermark proves no qualifying view can still
    arrive, then emit exactly once with a NULL view side. Purchases
    younger than the final watermark (max(ts) − 30 min) are still in
    state when the drained stream stops, so they never emit — the oracle
    encodes that cutoff explicitly, pinning the eviction timing contract
    (not just the join's row content). Both sides carry the watermark and
    the time-interval condition bounds both state stores, same as the
    inner variant."""
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = purchases.join(
        views,
        (F.col("user_id") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts")),
        "leftOuter",
    )
    out = _run_to_completion(joined, "append")
    return out.select(
        "purchase_id",
        "view_id",
        "user_id",
        F.unix_micros("p_ts").alias("purchase_us"),
        F.unix_micros("v_ts").alias("view_us"),
    )


from ..operators.sketches import (  # noqa: E402
    HLL_M as _M,
    _HLL_ALPHA_M2 as _AM2,
    _HLL_WMAX as _WMAX,
)


@register(
    "stream_windowed_hll_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT date_trunc('hour', ts) AS w,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
                   AS hv
        FROM events
    ),
    rr AS (
        SELECT w, hv % {_M} AS reg,
               CASE WHEN hv // {_M} = 0 THEN {_WMAX}
                    ELSE {_WMAX} - length(bin(hv // {_M})) END AS rho
        FROM h
    ),
    regs AS (SELECT w, reg, MAX(rho) AS mj FROM rr GROUP BY 1, 2),
    s AS (
        SELECT w, SUM((1::BIGINT) << ({_WMAX} - mj)) AS s_present,
               COUNT(*) AS n_regs
        FROM regs GROUP BY 1
    ),
    ex AS (
        SELECT date_trunc('hour', ts) AS w,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT epoch_us(s.w) AS window_start_us, ex.n_exact,
           CAST({_M} - s.n_regs AS BIGINT) AS v_zero,
           {_AM2} * pow(2.0, {_WMAX})
               / CAST(s.s_present
                      + ({_M} - s.n_regs) * ((1::BIGINT) << {_WMAX})
                      AS DOUBLE) AS est_distinct
    FROM s JOIN ex ON ex.w = s.w
    """,
)
def stream_windowed_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL register states maintained BY the streaming engine: the
    watermarked tumbling-window aggregation keeps (window, register) ->
    max(rho) as its state, so every micro-batch merge IS an HLL fold —
    max-of-maxes across batches exercises the sketch's mergeability
    through Spark's stateful operator rather than a hand-written union
    (the streaming counterpart of sketch_hll_union). The estimate is
    derived from the sunk states batch-side, exactly how a dashboard
    reads a persisted sketch table: state is small (windows x 64
    registers), the raw stream is never retained.

    Scale shape: streaming state is O(open windows x 64) rows no matter
    the event rate — the property that makes per-window approx-distinct
    viable on an unbounded stream where exact distinct state would grow
    with cardinality. Batch fold + exact companion are gate scaffolding,
    as in the batch HLL gates."""
    from ..io import load_table
    from ..operators.sketches import HLL_B

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    h = ev.select(
        F.window("ts", "1 hour").alias("win"),
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        )
        .cast("long")
        .alias("hv"),
    )
    w_word = F.shiftright(F.col("hv"), HLL_B)  # exact hv div 64
    rr = h.select(
        "win",
        (F.col("hv") % _M).alias("reg"),
        F.when(w_word == 0, F.lit(_WMAX))
        .otherwise(F.lit(_WMAX) - F.length(F.bin(w_word)))
        .alias("rho"),
    )
    regs = rr.groupBy("win", "reg").agg(F.max("rho").alias("mj"))
    sink = _run_to_completion(regs, "complete")
    s = sink.groupBy(F.col("win.start").alias("ws")).agg(
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_WMAX} - mj)")).alias(
            "s_present"
        ),
        F.count(F.lit(1)).alias("n_regs"),
    )
    ex = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("hour", F.col("ts")).alias("we"), "user_id")
        .groupBy("we")
        .agg(F.count_distinct("user_id").alias("n_exact"))
    )
    est = (
        F.expr(f"{_AM2} * pow(2.0, {_WMAX})")
        / (
            F.col("s_present")
            + (F.lit(_M) - F.col("n_regs"))
            * F.shiftleft(F.lit(1).cast("long"), _WMAX)
        ).cast("double")
    ).alias("est_distinct")
    return s.join(ex, s.ws == ex.we).select(
        F.unix_micros("ws").alias("window_start_us"),
        "n_exact",
        (F.lit(_M) - F.col("n_regs")).cast("long").alias("v_zero"),
        est,
    )


# -- watermark late-data drops: the semantics pinned end to end ----------------

#: staged micro-batch day slices: on-time history, two watermark advancers,
#: then the LATE slice. Two advancer batches matter: Spark's late filter
#: uses the PREVIOUS batch's watermark (the one-batch lag of its
#: two-watermark design), so late data must arrive two batches after the
#: advancer to be measurably dropped.
_WM_SLICES = [
    ("b0_ontime", "dom <= 10"),
    ("b1_advance", "dom BETWEEN 20 AND 25"),
    ("b2_advance", "dom >= 26"),
    ("b3_late", "dom BETWEEN 11 AND 19"),
]
_WM_DELAY = "1 hour"


@register(
    "stream_watermark_late_drop",
    # the oracle replays the contract relationally: late-slice days are
    # dropped (their windows were finalized before they arrived), and only
    # windows whose END the final watermark passed are emitted in append
    # mode — day 30's window stays open forever on this bounded input
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS max_ts FROM events),
    daily AS (
        SELECT date_trunc('day', ts) AS window_start,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM events
        WHERE dayofmonth(CAST(ts AS DATE)) NOT BETWEEN 11 AND 19
        GROUP BY 1
    )
    SELECT epoch_us(window_start) AS window_start_us, n_events, total_cents
    FROM daily
    WHERE window_start + INTERVAL 1 DAY
          <= (SELECT max_ts - INTERVAL 1 HOUR FROM mx)
    """,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics as a gated contract — not just
    windows over a well-ordered stream (the other streaming queries) but
    what happens when data arrives AFTER its window was finalized: the
    events table replays as four micro-batches (days 1-10, then two
    watermark-advancing slices from the month's end, then days 11-19
    DELIVERED LAST). By the time the middle days arrive, the watermark
    sits at the month's end, their windows were closed, and append-mode
    aggregation DROPS every row — the emitted result carries days 1-10
    and 20-29 exactly (day 30's window never closes on bounded input:
    its end is past the final watermark), with the dropped days absent.
    The oracle reproduces both rules relationally, so the gate pins the
    drop AND the finalization boundary, bit-exactly, including the
    one-batch watermark lag (late data lands two batches after the
    advancer — the design this repo had to discover empirically: a
    single advancer batch is NOT enough for a drop).

    Shape: staging writes the four slices once per call into scratch
    (mtime-ordered, one file per trigger); the stream itself is the
    standard watermarked tumbling aggregate. At scale this is the exact
    topology of a backfill racing a live tail — the query documents what
    the pipeline LOSES when late deliveries miss the lateness budget."""
    import os
    import time as _time

    from ..io import scratch_dir

    batch_ev = _load_events_batch(spark, sf_dir)
    d = scratch_dir("wmdrop_")
    base_t = _time.time() - 10_000
    for i, (name, pred) in enumerate(_WM_SLICES):
        df = batch_ev.filter(
            F.expr(pred.replace("dom", "dayofmonth(CAST(ts AS DATE))"))
        )
        path = os.path.join(d, f"{name}.parquet")
        df.coalesce(1).write.parquet(path)
        t = base_t + i * 100
        for root, _dirs, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (t, t))
        os.utime(path, (t, t))
    stream = (
        spark.readStream.schema(batch_ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d + "/*.parquet")
    )
    agg = (
        stream.withWatermark("ts", _WM_DELAY)
        .groupBy(F.window("ts", "1 day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(quantize(F.col("value"), MONEY_SCALE))
            .cast("long")
            .alias("total_cents"),
        )
    )
    out = _run_to_completion(agg, "append")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "n_events",
        "total_cents",
    )


def _load_events_batch(spark: SparkSession, sf_dir: str):
    """Batch events with a plain TIMESTAMP ts + value — the staging input
    for the late-drop replay (re-written parquet, read back by the file
    stream source)."""
    from ..io import load_table

    ev = load_table(spark, sf_dir, "events")
    return ev.select(F.col("ts").cast("timestamp").alias("ts"), "value")


# -- streaming velocity alerts (deferred: r10 activation) ------------------------

_SVA_WINDOW_SEC = 86400  # mirror of operators.events._VEL_WINDOW_SEC
_SVA_MIN_COUNT = 3


@register(
    "stream_velocity_alerts",
    oracle=f"""
    WITH p AS (
        SELECT event_id, user_id, ts,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    w AS (
        SELECT event_id, user_id, ts, cents,
               CAST(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY sec
                   RANGE BETWEEN {_SVA_WINDOW_SEC} PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_window
        FROM p
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS event_time,
           cents, n_window
    FROM w WHERE n_window >= {_SVA_MIN_COUNT}
    """,
)
def stream_velocity_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_velocity_flags: the trailing-window
    velocity rule maintained ACROSS micro-batches with
    ``applyInPandasWithState`` — per-user state holds the purchase events
    seen so far, and every batch re-evaluates the rule over the full
    per-user history, re-emitting any event whose window count grew (a
    trailing-window flag is RETROACTIVE: a later batch can push an
    earlier event over the threshold, so update-mode re-emission +
    last-write-wins by event id is the only correct streaming shape —
    exactly the CDC upsert discipline, applied to alerts). Purchases
    replay as 10-day-block micro-batches, so the retroactive path
    genuinely executes; the oracle is the batch form, and matching it
    proves the incremental alert stream converges to the batch truth.
    State is the per-user event list (production evicts entries older
    than watermark − window; the fixture's per-user volume is bounded so
    the eviction is documented, not simulated)."""
    import glob
    import shutil
    import time

    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ..io import load_table, scratch_dir

    root = scratch_dir("velstream_")
    in_dir = os.path.join(root, "in")
    os.makedirs(in_dir, exist_ok=True)
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("long").alias("sec"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
    )
    block = F.expr(f"sec div {10 * 86400}")
    blocks = [
        r.b for r in ev.select(block.alias("b")).distinct().orderBy("b").collect()
    ]  # fixture staging only: |blocks| rows, never data-scale
    t0 = time.time() - 600
    for b, blk in enumerate(blocks):
        stage = os.path.join(root, f"stage_{b}")
        ev.filter(block == blk).coalesce(1).write.mode("overwrite").parquet(stage)
        [src] = glob.glob(os.path.join(stage, "*.parquet"))
        dst = os.path.join(in_dir, f"batch_{b}.parquet")
        shutil.copyfile(src, dst)
        os.utime(dst, (t0 + b * 60, t0 + b * 60))
    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, sec long, cents long"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    out_schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("sec", LongType()),
            StructField("cents", LongType()),
            StructField("n_window", LongType()),
        ]
    )
    state_schema = StructType([StructField("entries", StringType())])

    def update_user(key, pdf_iter, state: GroupState):
        # state: ';'-joined 'event_id:sec:cents' entries — the full per-user
        # purchase history (see docstring for the production eviction note)
        entries = []
        if state.exists:
            (blob,) = state.get
            if blob:
                entries = [
                    tuple(int(x) for x in item.split(":"))
                    for item in blob.split(";")
                ]
        for pdf in pdf_iter:
            entries.extend(
                zip(
                    pdf["event_id"].astype(int),
                    pdf["sec"].astype(int),
                    pdf["cents"].astype(int),
                )
            )
        state.update(
            (";".join(f"{e}:{s}:{c}" for e, s, c in entries),)
        )
        secs = [s for _, s, _ in entries]
        rows = [
            (e, key[0], s, c, n)
            for (e, s, c) in entries
            if (n := sum(1 for s2 in secs if s - _SVA_WINDOW_SEC <= s2 <= s))
            >= _SVA_MIN_COUNT
        ]
        import pandas as pd

        yield pd.DataFrame(
            rows, columns=["event_id", "user_id", "sec", "cents", "n_window"]
        )

    updates = stream.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = _run_to_completion(updates, "update")
    # last write wins per event: n_window only grows as later batches land
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_id").orderBy(F.desc("n_window"))
    return (
        sink.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.date_format(F.timestamp_seconds("sec"), "yyyy-MM-dd HH:mm:ss")
            .alias("event_time"),
            "cents",
            "n_window",
        )
    )


# -- AvailableNow backfill with exactly-once file tracking (r11 queue) ----------


@register(
    "stream_availablenow_file_backfill",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS run,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(SUM(CAST(ROUND(value) AS BIGINT)) AS BIGINT) AS value_units
    FROM events
    UNION ALL
    SELECT 2, 0, 0, 0
    """,
)
def availablenow_file_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger.AvailableNow backfill semantics, pinned end-to-end: a
    multi-file copy of the events table streams through
    ``trigger(availableNow=True)`` + ``foreachBatch`` — the modern form of
    the reference's month-loop backfill + JSON checkpoint
    (reference src/movie.py:208-222): process EVERYTHING currently
    available in bounded micro-batches, then stop on your own. Run 1 must
    ingest every row exactly once across its micro-batches; run 2 —
    the SAME checkpoint, same input — must ingest zero (the source's file
    tracking is the WAL, replacing the reference's hand-rolled
    ``checkpoint.json``). The oracle row (2, 0, 0, 0) IS the exactly-once
    claim.

    Shape: per micro-batch, foreachBatch reduces to a 5-row per-type
    count/sum (partial-aggregable; nothing driver-side scales with rows);
    run totals are integer sums of those bounded rows. In production the
    same query runs nightly against an object-store prefix — AvailableNow
    gives bounded-lag catchup with rate control (maxFilesPerTrigger),
    which processAllAvailable-style always-on triggers don't."""
    import tempfile

    from ..io import load_table

    stage = tempfile.mkdtemp(prefix="spark_graft_anow_")
    src = os.path.join(stage, "in")
    ckpt = os.path.join(stage, "ckpt")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", quantize(F.col("value"), 1).alias("units")
    )
    # 4 files -> >= 4 micro-batches at maxFilesPerTrigger=1 (content split
    # is irrelevant to the totals; range partitioning keeps files balanced)
    ev.repartitionByRange(4, "event_id").write.parquet(src)

    totals: dict[int, dict[str, int]] = {}
    types: dict[int, set] = {}

    def run_once(run: int) -> None:
        totals[run] = {"rows": 0, "units": 0}
        types[run] = set()

        def sink(batch_df: DataFrame, _bid: int) -> None:
            # bounded: one row per event_type per micro-batch
            for r in (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("units").alias("u"),
                )
                .collect()
            ):
                totals[run]["rows"] += r["n"]
                totals[run]["units"] += r["u"]
                types[run].add(r["event_type"])

        q = (
            spark.readStream.schema(
                "event_id BIGINT, event_type STRING, units BIGINT"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        # AvailableNow terminates ITSELF once the snapshot drains — this
        # returns without stop(), which is the trigger's contract
        q.awaitTermination()

    run_once(1)
    run_once(2)
    import shutil

    # the result below is literal rows — nothing lazy reads the stage
    shutil.rmtree(stage, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                run,
                totals[run]["rows"],
                len(types[run]),
                totals[run]["units"],
            )
            for run in (1, 2)
        ],
        "run long, n_rows long, n_types long, value_units long",
    )
