"""Streaming semantics: batch/stream equivalence, late-data watermark drop,
stateful custom operators (applyInPandasWithState), foreachBatch sink."""

from __future__ import annotations

import time

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from tmdb_movie_data_pipeline_spark.streaming.queries import (
    read_events_stream,
    session_window_stream,
    tumbling_hourly_stream,
)


def test_stream_equals_batch_tumbling(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.events import tumbling_hourly

    streamed = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_hourly_stream(spark, sf_dir).collect()
    }
    batch = {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in tumbling_hourly(spark, sf_dir).collect()
    }
    assert streamed == batch


def test_stream_session_equals_batch_sessionize(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.events import sessionize

    from tmdb_movie_data_pipeline_spark.io import load_table

    streamed = {
        (r.user_id, r.session_start_us): r.n_events
        for r in session_window_stream(spark, sf_dir).collect()
    }
    batch_df = (
        sessionize(load_table(spark, sf_dir, "events"))
        .groupBy("user_id", "session_seq")
        .agg(F.count(F.lit(1)).alias("n"), F.unix_micros(F.min("ts")).alias("start_us"))
    )
    batch = {(r.user_id, r.start_us): r.n for r in batch_df.collect()}
    assert streamed == batch


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed agg with a watermark: a row arriving behind the
    watermark is dropped — fed as two micro-batches via a file stream."""
    schema = "ts timestamp, v long"
    d1 = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    import os

    os.makedirs(d1)
    spark.createDataFrame(
        [("2024-01-01 10:00:30", 1), ("2024-01-01 12:00:00", 1)],
        "ts string, v long",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "v").coalesce(1).write.mode(
        "append"
    ).parquet(d1)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d1)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"))
        .agg(F.sum("v").alias("s"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_sink")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a row 2h older than the max event time → behind watermark
        spark.createDataFrame(
            [("2024-01-01 10:00:40", 100)], "ts string, v long"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "v").coalesce(1).write.mode(
            "append"
        ).parquet(d1)
        q.processAllAvailable()
        # batch 3: advance watermark far enough to finalize everything
        spark.createDataFrame(
            [("2024-01-01 23:00:00", 1)], "ts string, v long"
        ).select(F.col("ts").cast("timestamp").alias("ts"), "v").coalesce(1).write.mode(
            "append"
        ).parquet(d1)
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r["window"].start.isoformat(), r.s)
        for r in spark.table("wm_sink").collect()
    }
    # the late v=100 row was dropped: the 10:00 window sums to 1, not 101
    assert ("2024-01-01T10:00:00", 1) in out
    assert all(s != 101 for _, s in out)


def test_apply_in_pandas_with_state_running_count(spark, sf_dir):
    """Custom stateful operator: per-user running event count via
    applyInPandasWithState (the arbitrary-state API)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = read_events_stream(spark, sf_dir)

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType([T.StructField("cnt", T.LongType())])

    def count_events(key, pdfs, state: GroupState):
        cnt = state.get[0] if state.exists else 0
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    counted = ev.groupBy("user_id").applyInPandasWithState(
        count_events, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    name = "state_sink"
    q = counted.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.user_id: r.n_events for r in spark.table(name).collect()}
    from tmdb_movie_data_pipeline_spark.io import load_table

    want = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # single micro-batch over static data → final counts equal batch counts
    assert got == want


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """foreachBatch: exactly-once-style upsert into a parquet target —
    the streaming twin of the reference's idempotent month overwrite."""
    target = str(tmp_path / "compacted")
    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))

    def upsert(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(target)

    q = agg.writeStream.outputMode("complete").foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from tmdb_movie_data_pipeline_spark.io import load_table

    got = {r.event_type: r.n for r in spark.read.parquet(target).collect()}
    want = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_checkpoint_recovery_no_duplicates(spark, tmp_path):
    """Kill a streaming query mid-stream and restart from its checkpoint:
    the restarted query must process exactly the remaining input — no
    reprocessing, no loss (the reference's month-checkpoint resume,
    src/movie.py:208-222, as Structured Streaming's WAL)."""
    import os

    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")
    os.makedirs(src_dir)

    def add_file(n, val):
        spark.createDataFrame([(n, val)], "k long, v long").coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)

    def start():
        return (
            spark.readStream.schema("k long, v long")
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    add_file(1, 10)
    add_file(2, 20)
    q = start()
    q.processAllAvailable()
    q.stop()

    # new data arrives while the query is down
    add_file(3, 30)
    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    rows = sorted((r.k, r.v) for r in spark.read.parquet(out_dir).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]  # each input exactly once


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Streaming ingest dedup: batch 2's exact and near duplicates of batch 1
    documents are rejected; novel documents are admitted — without ever
    re-scanning the accumulated corpus."""
    from tmdb_movie_data_pipeline_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    base = " ".join(f"tok{i}" for i in range(60))
    near = base.replace("tok30", "changed")  # high-jaccard near-dup of base
    novel = " ".join(f"zz{i}" for i in range(60))

    ded = IncrementalDeduper(spark, str(tmp_path / "state"))

    b1 = spark.createDataFrame(
        [(1, base), (2, base), (3, "something else entirely " * 10)],
        "doc_id long, text string",
    )
    ded.process_batch(b1, 0)
    assert {r.doc_id for r in ded.admitted().collect()} == {1, 3}  # 2 = exact dup

    b2 = spark.createDataFrame(
        [(10, base), (11, near), (12, novel)], "doc_id long, text string"
    )
    ded.process_batch(b2, 1)
    got = {r.doc_id for r in ded.admitted().collect()}
    assert 10 not in got  # exact dup vs state
    assert 11 not in got  # near dup vs state (band collision)
    assert 12 in got  # novel admitted
    assert got == {1, 3, 12}


def test_incremental_dedup_driven_by_stream(spark, tmp_path):
    """Same deduper attached to a real file stream via foreachBatch."""
    import os

    from tmdb_movie_data_pipeline_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    src = str(tmp_path / "in")
    os.makedirs(src)
    text = " ".join(f"w{i}" for i in range(40))
    spark.createDataFrame([(1, text)], "doc_id long, text string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame([(2, text), (3, "fresh " * 30)], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(src)

    ded = IncrementalDeduper(spark, str(tmp_path / "state"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = ded.attach(stream, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.doc_id for r in ded.admitted().collect()}
    assert 1 in got and 3 in got
    assert 2 not in got  # duplicate arriving in a later micro-batch rejected


def test_scd2_apply_redelivery_and_restart_are_safe(spark, sf_dir, tmp_path):
    """foreachBatch is at-least-once: re-processing the same epoch must not
    duplicate history, and a fresh instance over the same state dir must
    recover the committed state (checkpoint-restart survival)."""
    from tmdb_movie_data_pipeline_spark.streaming.scd2_apply import Scd2Apply

    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "value")
    )
    # split at mid-month so two time-ordered batches exist regardless of
    # scale (the registered query stages 10-day blocks the same way)
    batches = [
        ev.filter(F.dayofmonth("ts") < 15),
        ev.filter(F.dayofmonth("ts") >= 15),
    ]
    assert all(b.count() > 0 for b in batches)
    store = Scd2Apply(spark, str(tmp_path / "state"))
    store.process_batch(batches[0], 0)
    store.process_batch(batches[1], 1)

    def snap(s):
        return sorted(map(tuple, s.state().collect()))

    committed = snap(store)
    store.process_batch(batches[1], 1)  # redelivered epoch
    assert snap(store) == committed, "redelivery duplicated history"

    recovered = Scd2Apply(spark, str(tmp_path / "state"))  # restart
    assert snap(recovered) == committed, "restart lost committed state"


def test_ivf_index_checkpoint_restart_is_noop(spark, sf_dir, tmp_path):
    """Exactly-once across RESTARTS for the incremental IVF index (r18,
    streaming/incremental_index.py): after the stream drains and stops, a
    brand-new query on the SAME checkpoint and the SAME input directory
    must append nothing — the WAL already recorded every batch, so a crash/
    restart loop cannot duplicate list entries. Complements the r18
    reference test's within-run exactly-once check (that one proves no
    within-run replay; this one proves the restart path)."""
    import os

    from tmdb_movie_data_pipeline_spark.io import load_table
    from tmdb_movie_data_pipeline_spark.streaming.incremental_index import (
        APPEND_MOD,
        APPEND_REM,
        IncrementalIvfIndex,
    )
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        CENTROID_BASE,
        N_CENTROIDS,
        _flat,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_flat = _flat(
        emb.filter(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
        ).select((F.col("vec_id") - CENTROID_BASE).alias("cid"), "embedding"),
        "c",
    )
    idx = IncrementalIvfIndex(spark, str(tmp_path / "state"), cent_flat)
    idx.bootstrap(emb.filter(F.col("vec_id") % APPEND_MOD != APPEND_REM))

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_REM).coalesce(1).write.mode(
        "overwrite"
    ).parquet(in_dir)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    ckpt = str(tmp_path / "ckpt")
    q = idx.attach(stream, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    first = sorted((r.vec_id, r.cid) for r in idx.index().collect())

    # restart on the same checkpoint: the WAL says everything is committed
    q2 = idx.attach(
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir),
        ckpt,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    second = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    assert second == first  # zero rows appended on restart


def test_ivf_index_epoch_redelivery_is_idempotent(spark, sf_dir, tmp_path):
    """Exactly-once under the CRASH-REPLAY path (ADVICE r18 #1): foreachBatch
    is at-least-once — a crash after process_batch returns but BEFORE the
    checkpoint WAL commit re-delivers the same (batch, epoch_id) on restart.
    The clean-stop restart test above never exercises that window (its WAL
    is fully committed), so this test drives the sink directly: applying the
    SAME epoch twice must leave the index byte-identical (the epoch-keyed
    overwrite lands on the same directory), while a genuinely NEW epoch must
    still add its rows. With the pre-fix blind mode('append') the first
    assertion fails with every replayed row duplicated."""
    import os

    from tmdb_movie_data_pipeline_spark.io import load_table
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        CENTROID_BASE,
        N_CENTROIDS,
        _flat,
    )
    from tmdb_movie_data_pipeline_spark.streaming.incremental_index import (
        APPEND_MOD,
        APPEND_REM,
        IncrementalIvfIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_flat = _flat(
        emb.filter(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
        ).select((F.col("vec_id") - CENTROID_BASE).alias("cid"), "embedding"),
        "c",
    )
    idx = IncrementalIvfIndex(spark, str(tmp_path / "state"), cent_flat)
    idx.bootstrap(emb.filter(F.col("vec_id") % APPEND_MOD != APPEND_REM))
    booted = sorted((r.vec_id, r.cid) for r in idx.index().collect())

    arriving = emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_REM)
    # arriving ids are all ≡ APPEND_REM (mod APPEND_MOD) — split on a
    # coprime modulus so both batches are non-empty
    batch0 = arriving.filter(F.col("vec_id") % 3 == 0)
    batch1 = arriving.filter(F.col("vec_id") % 3 != 0)
    assert batch0.count() > 0 and batch1.count() > 0

    idx.process_batch(batch0, 0)
    committed = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    assert len(committed) > len(booted)  # epoch 0 landed

    idx.process_batch(batch0, 0)  # crash-replay: same batch, same epoch
    assert sorted((r.vec_id, r.cid) for r in idx.index().collect()) == committed, (
        "re-delivered epoch duplicated list entries"
    )

    idx.process_batch(batch1, 1)  # a NEW epoch still appends
    final = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    assert len(final) == len(committed) + batch1.count()
    assert os.path.isdir(str(tmp_path / "state" / "ivf_index" / "epoch=1"))
