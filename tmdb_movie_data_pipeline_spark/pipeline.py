"""End-to-end movie pipeline: the reference's batch backfill, Spark-native.

Reference lifecycle (src/movie.py:247-299, traced in SURVEY.md §3.1):

    month_ranges → skip done (checkpoint) → per month: discover_all →
    normalize → drop_duplicates → write part → checkpoint →
    final merge: concat parts → dedup → master CSV + Parquet

Engine composition of the same stages:

    plans.checkpoint.read_done_keys → pending months = window keys minus
      done keys, a set difference on the driver (one key per month, so no
      Spark job; a fully checkpointed run launches none at all)
      → ingest of exactly the pending month windows: when their estimated
        Arrow size fits session.driver_collect_bytes (the broadcast
        threshold), sources.rest.fetch_windows_to_arrow pages through them
        on driver threads (as many at once as the cluster runs tasks) into
        one local relation; over it, or with the threshold ≤ 0, the
        paged_rest DataSource reads the span from the first to the last
        pending month on executors (one partition per month) and the done
        months inside the span are filtered out
      → operators.normalize (one Catalyst projection)
      → operators.windows.keep_first (deterministic dedup survivor, A1)
      → partitioned write, dynamic partition overwrite (idempotent months);
        the returned row count is an Observation on the written frame, so
        the source is scanned exactly once
      → plans.checkpoint.save_done_keys (atomic tmp+rename, W4/R4)
      → master merge = one partitioned-dataset scan + global keep-first (A2)
        → master Parquet (W2) → single-file CSV read back from it (W3)

Differences by design (each is a documented fix of a reference defect):
* dedup survivor pinned by explicit ordering, not file order (SURVEY §7.3);
* months run in parallel — on driver threads, or one source partition
  each over the driver cap (reference: strictly sequential, movie.py:260);
* the per-window row cap warns loudly instead of silently truncating.
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .operators.normalize import normalize_movies
from .operators.windows import keep_first
from .plans.checkpoint import read_done_keys, save_done_keys
from .session import driver_collect_bytes

__all__ = ["run_backfill"]


def run_backfill(
    spark: SparkSession,
    *,
    date_from: str,
    date_to: str,
    out_dir: str,
    checkpoint_path: str,
    genre_map: dict[int, str],
    image_base: str,
    poster_size: str,
    source_options: dict[str, str],
) -> dict[str, int]:
    """Run the monthly backfill; returns {"months_run": n, "rows": m}.

    ``source_options`` configures the paged_rest source (fixture_dir for
    offline runs, base_url/bearer_token for live ones). Pending months that
    fit under :func:`~.session.driver_collect_bytes` are fetched on the
    driver, ``defaultParallelism`` months at once, and only they are
    requested. Above it the distributed ``paged_rest`` read spans
    ``min(pending)..max(pending)`` and filters afterwards, so on a resume
    with gaps it requests the done months inside the span again.
    """
    from .sources.rest import (
        SOURCE_SCHEMA,
        PagedRestDataSource,
        fetch_windows_to_arrow,
        month_windows,
    )

    done = read_done_keys(checkpoint_path)
    todo = [
        (a, b) for a, b in month_windows(date_from, date_to) if f"{a}_{b}" not in done
    ]
    if not todo:
        return {"months_run": 0, "rows": 0}
    todo_keys = [f"{a}_{b}" for a, b in todo]

    table = fetch_windows_to_arrow(
        source_options,
        todo,
        driver_collect_bytes(spark),
        workers=spark.sparkContext.defaultParallelism,
    )
    if table is not None:
        raw = spark.createDataFrame(table, SOURCE_SCHEMA)
    else:
        # one source read covers all pending windows: each window is an
        # input partition, so months ingest in parallel (reference:
        # sequential loop)
        spark.dataSource.register(PagedRestDataSource)
        raw = (
            spark.read.format("paged_rest")
            .options(**source_options)
            .option("date_from", todo[0][0])
            .option("date_to", todo[-1][1])
            .load()
        )
    # unit attribution by provenance: every source row carries the window
    # that fetched it (_window_key), so clamped final windows and null
    # release dates land in exactly the checkpointed unit — deriving the
    # key from release_date would silently drop both (ADVICE r1, high)
    movies = normalize_movies(
        raw, image_base, poster_size, genre_map, passthrough=("_window_key",)
    ).withColumnRenamed("_window_key", "unit_key")
    # A1: per-month dedup, survivor = highest popularity then lowest id
    movies = keep_first(
        movies,
        ["unit_key", "tmdb_id"],
        [F.desc("popularity"), F.asc("tmdb_id")],
    )
    # the row count rides on the write itself: every TMDB page is fetched
    # once per run and no cached block outlives the call (ADVICE r1, medium).
    # The filter drops the done months a distributed span read fetched.
    written = Observation()
    movies = movies.filter(F.col("unit_key").isin(todo_keys)).observe(
        written, F.count(F.lit(1)).alias("rows")
    )
    (
        movies.write.mode("overwrite")
        # per-writer so correctness never depends on session conf:
        # only the pending unit partitions are replaced (ADVICE r1)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("unit_key")
        .parquet(f"{out_dir}/monthly_parts")
    )
    rows = written.get["rows"]
    save_done_keys(done + todo_keys, checkpoint_path)

    # master merge: scan the partitioned dataset (U1), global dedup (A2 —
    # cross-month duplicate keeps the earliest month, like the reference's
    # concat order). Both schemas are known here, so neither read launches
    # a schema-inference job; the CSV (W3) is a single-file copy of the
    # committed master Parquet (W2), not a second scan and dedup shuffle
    parts = spark.read.schema(movies.schema).parquet(f"{out_dir}/monthly_parts")
    master = keep_first(
        parts, ["tmdb_id"], [F.asc("unit_key"), F.desc("popularity")]
    ).drop("unit_key")
    master.write.mode("overwrite").parquet(f"{out_dir}/master_parquet")
    (
        spark.read.schema(master.schema)
        .parquet(f"{out_dir}/master_parquet")
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .csv(f"{out_dir}/master_csv")
    )
    return {"months_run": len(todo_keys), "rows": rows}
