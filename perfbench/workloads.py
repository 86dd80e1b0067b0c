"""Workload definitions shared by the runner, the expected-output tool and
the self-test: which registered queries each query workload runs, the
output digest every operation is checked by, and the backfill settings."""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Relational mix: Catalyst planning plus JVM scan, broadcast and shuffle;
#: no Python workers, no staged blocks, cheap builders. One query per
#: plan family (scan+aggregate, broadcast joins, shuffle join, rollup,
#: window, correlated subquery, sessionization) keeps a cold pass inside
#: the run budget.
SQL_ANALYTICS = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "q18_large_volume_orders",
    "agg_rollup",
    "window_topk_per_segment",
    "subq_correlated_scalar",
    "events_sessionize",
]

#: LLM-data mix: build-time localCheckpoint jobs (canonical dedup, the LSH
#: band self-join) and Arrow Python workers (grouped-agg UDF, mapInPandas
#: decode, quality score).
LLM_CORPUS = [
    "dedup_minhash_lsh",
    "llm_quality_canonical_dedup",
    "multimodal_decode_stats",
    "udf_grouped_agg",
    "text_quality_score",
]

QUERY_WORKLOADS = {"sql_analytics": SQL_ANALYTICS, "llm_corpus": LLM_CORPUS}
BACKFILL_OPS = ["backfill_full", "backfill_resume", "backfill_noop"]
WORKLOADS = [*QUERY_WORKLOADS, "etl_backfill"]

#: Scale factor of the generated tables (0.1 = 600k lineitem rows).
BENCH_SCALE = 0.01
SMOKE_SCALE = 0.001

#: Backfill fixture shape: months x pages x records per page.
BACKFILL_FIRST_MONTH = date(2019, 1, 1)
BACKFILL_SHAPE = {BENCH_SCALE: (6, 5, 20), SMOKE_SCALE: (4, 2, 20)}
RESUME_MONTHS = 2


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row ``(rows, digest)`` frame over every output column: an
    order-independent sum of per-row ``xxhash64``. Consuming every column
    keeps Catalyst from pruning any of the query's work."""
    cols = [F.col(f"`{c}`") for c in df.columns]
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.xxhash64(*cols).cast("decimal(38,0)")), F.lit(0))
        .cast("string")
        .alias("digest"),
    )


def collect_digest(digest_df: DataFrame) -> tuple[int, str]:
    row = digest_df.collect()[0]
    return int(row["rows"]), row["digest"]

#: Per-layer metrics of a traced run, with units. Every workload reports
#: every name; a layer the workload does not touch reads 0.
PER_LAYER = [
    ("session.start_s", "s"),
    ("warmup.pass_s", "s"),
    ("build.wall_s", "s"),
    ("build.self_s", "s"),
    ("build.jobs", "count"),
    ("build.tasks", "count"),
    ("build.executor_run_s", "s"),
    ("build.share", "ratio"),
    ("plan.analysis_s", "s"),
    ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"),
    ("exec.wall_s", "s"),
    ("exec.self_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("exec.executor_run_s", "s"),
    ("exec.executor_cpu_s", "s"),
    ("exec.gc_s", "s"),
    ("exec.shuffle_read_mb", "MiB"),
    ("exec.shuffle_write_mb", "MiB"),
    ("exec.spill_mb", "MiB"),
    ("exec.slot_utilization", "ratio"),
    ("exec.warm_action_s", "s"),
    ("op.self_s", "s"),
    ("python.total_s", "s"),
    ("python.boot_s", "s"),
    ("python.mb_sent", "MiB"),
    ("python.rows_received", "count"),
    ("stage.rdds_after_op", "count"),
    ("stage.block_mb_after_op", "MiB"),
    ("stage.mb_after_last_op", "MiB"),
    ("dedup.lsh_stage_build_s", "s"),
    ("source.fetch_window_s", "s"),
    ("source.pages", "count"),
    ("source.records", "count"),
    ("backfill.jobs", "count"),
    ("backfill.tasks", "count"),
    ("backfill.parts_mb", "MiB"),
    ("backfill.master_parquet_mb", "MiB"),
    ("backfill.master_csv_mb", "MiB"),
    ("backfill.files_written", "count"),
    ("backfill.resume_s", "s"),
    ("backfill.rows_per_s", "1/s"),
    ("backfill.write_amplification", "ratio"),
    ("checkpoint.pending_units", "count"),
    ("checkpoint.noop_s", "s"),
    ("proc.rss_peak_mb", "MiB"),
    ("proc.python_workers_forked", "count"),
    ("trace.untraced_pass_wall_s", "s"),
    ("trace.traced_pass_wall_s", "s"),
    ("trace.overhead_s", "s"),
]
