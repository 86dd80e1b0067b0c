"""IO layer: columnar readers/writers + the testdata table loader.

Replaces the reference's file handling (per-month ``to_parquet`` parts,
master CSV+Parquet, glob-scan merge — src/movie.py:224-225, 277-278,
288-298) with Spark-native partitioned datasets:

* reads are multi-file Parquet scans with predicate pushdown + column
  pruning (the reference re-reads every part file serially);
* writes are partitioned directories committed atomically by Spark's
  output committer (the reference's atomic-rename checkpoint,
  src/movie.py:208-212, generalized);
* at 100 TB nothing here collects to the driver.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

__all__ = [
    "default_sf_dir",
    "scratch_dir",
    "load_table",
    "load_tables",
    "register_views",
    "read_parquet",
    "write_parquet",
    "write_partitioned",
    "write_csv",
    "read_csv",
    "read_json",
    "write_json",
]


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    _SCRATCH_DIRS.clear()


atexit.register(_cleanup_scratch)


def scratch_dir(prefix: str) -> str:
    """A temp directory removed at interpreter exit.

    Query functions that stage data on local disk (TxTable versions, format
    round-trips) return DataFrames whose lineage still READS the staged
    files when the caller collects, so the dirs must outlive the query
    function — but not the process. Deferring removal to ``atexit`` keeps
    repeated verification/bench invocations from accreting /tmp garbage.
    """
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One synthetic table: ``{sf_dir}/{name}.parquet``, read with its
    declared schema (``schemas.TESTDATA_SCHEMAS``), so the call launches no
    Spark job: an inferring read runs one to read the Parquet footers.

    `events.ts` is stored as Parquet TIMESTAMP(MICROS) without UTC
    adjustment, which Spark reads as TIMESTAMP_NTZ. It is cast to the
    engine-wide TIMESTAMP (UTC session => same instant), bit-identical to
    DuckDB's ``epoch_us`` on the same column, which the oracle relies on.
    """
    df = spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
    if name == "events":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql queries."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


# -- generic readers/writers -------------------------------------------------


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Master-table write (reference src/movie.py:298)."""
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned dataset write — dir-per-partition replaces the reference's
    file-per-month layout (src/movie.py:224-225). With
    ``partitionOverwriteMode=dynamic`` (set in session.py) re-running a
    subset only rewrites the touched partitions: the engine's idempotent
    incremental unit.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, single_file: bool = False, mode: str = "overwrite") -> None:
    """CSV sink (reference master CSV, src/movie.py:297). ``single_file``
    coalesces to one part for byte-level parity with the reference's
    one-file output; leave False at scale."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)  # tests only; engine paths pass schemas
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)
