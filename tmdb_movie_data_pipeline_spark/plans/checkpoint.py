"""Checkpointed incremental backfill (SURVEY.md §2.8 W4/W5, §3.2, R4).

The reference tracks completed month-windows in a JSON doc written with an
atomic tmp+rename (src/movie.py:208-222) and skips done windows with a set
probe (src/movie.py:257-264). The engine keeps that bookkeeping doc and
pairs it with partition-granular overwrite:

* work units are partitions (e.g. calendar months of a timestamp column);
* the bookkeeping doc lists finished unit keys (``read_done_keys``);
* pending = all units minus done keys. ``pipeline.run_backfill`` knows its
  units up front (one per month window), so it takes the set difference on
  the driver and launches no Spark job for it; ``run_incremental_backfill``
  derives its units from the data, so it left-anti joins (J2) the data's
  distinct unit keys against the broadcast done-set;
* each unit's output is committed by Spark's file output committer
  (task/job-atomic, the distributed version of tmp+rename), into a
  `partitionBy` layout with dynamic partition overwrite so re-running a
  unit is idempotent;
* a corrupted/missing bookkeeping file degrades to "nothing done" — the
  reference's fallback semantics (src/movie.py:219-222) — because re-running
  a unit is safe by construction.

At 100 TB: unit = partition = the retry/checkpoint granule; the done-set
holds one key per unit, so it stays small enough for the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "read_done_keys",
    "load_done_keys",
    "save_done_keys",
    "pending_units",
    "run_incremental_backfill",
]


def read_done_keys(path: str) -> list[str]:
    """Bookkeeping reader with corruption fallback (W5 parity): a missing
    file, bad JSON or a document that is not an object all read as no
    finished units."""
    try:
        with open(path) as f:
            return list(json.load(f).get("done_units", []))
    except (OSError, json.JSONDecodeError, AttributeError):
        return []


def load_done_keys(spark: SparkSession, path: str) -> DataFrame:
    """``read_done_keys`` as a one-column ``unit_key`` relation."""
    return _keys_frame(spark, read_done_keys(path))


def _keys_frame(spark: SparkSession, keys: list[str]) -> DataFrame:
    return spark.createDataFrame([(k,) for k in keys], "unit_key string")


def save_done_keys(keys: list[str], path: str) -> None:
    """Atomic tmp+rename commit of the bookkeeping doc (W4 parity,
    src/movie.py:208-212)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"done_units": sorted(keys)}, f)
    os.replace(tmp, path)


def pending_units(units: DataFrame, done: DataFrame) -> DataFrame:
    """J2: units yet to run = all units LEFT ANTI JOIN done keys."""
    return units.join(F.broadcast(done), on="unit_key", how="left_anti")


def run_incremental_backfill(
    spark: SparkSession,
    df: DataFrame,
    ts_col: str,
    out_path: str,
    checkpoint_path: str,
    unit_format: str = "yyyy-MM",
) -> list[str]:
    """Calendar-unit-partitioned incremental write of ``df``:

    1. derive unit keys (``unit_format`` of ``ts_col`` — months by default,
       days for finer-grained checkpointing),
    2. anti-join against the checkpoint,
    3. write ONLY pending units via dynamic partition overwrite,
    4. commit the updated checkpoint atomically.

    Returns the unit keys written this run.
    """
    keyed = df.withColumn("unit_key", F.date_format(F.col(ts_col), unit_format))
    units = keyed.select("unit_key").distinct()
    done = read_done_keys(checkpoint_path)
    todo = pending_units(units, _keys_frame(spark, done))
    todo_keys = sorted(r.unit_key for r in todo.collect())  # unit list is tiny (one per month)
    if todo_keys:
        (
            keyed.filter(F.col("unit_key").isin(todo_keys))
            .write.mode("overwrite")
            # per-writer, not session conf: a caller-supplied session without
            # partitionOverwriteMode=dynamic must not wipe committed months
            # (ADVICE r1, medium)
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("unit_key")
            .parquet(out_path)
        )
        save_done_keys(done + todo_keys, checkpoint_path)
    return todo_keys
