"""IO layer: parquet/CSV/JSON round-trips, partitioned writes (W1-W3)."""

from __future__ import annotations

import os

import pytest
from conftest import SF_SMALL, job_group
from pyspark.sql import functions as F

from tmdb_movie_data_pipeline_spark import io as eio
from tmdb_movie_data_pipeline_spark.schemas import TESTDATA_SCHEMAS, TESTDATA_TABLES

TESTDATA_SCALES = [
    os.path.join(os.path.dirname(SF_SMALL), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")
]


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    p = str(tmp_path / "pq")
    eio.write_parquet(df, p)
    back = eio.read_parquet(spark, p)
    assert back.count() == 100
    assert back.agg(F.sum("v")).first()[0] == 9900


def test_partitioned_write_layout_and_pruning(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-01"), (3, "2024-02")], "id long, month string"
    )
    p = str(tmp_path / "parts")
    eio.write_partitioned(df, p, ["month"])
    import os

    assert sorted(os.listdir(p))[0].startswith("month=")  # dir-per-partition (W1)
    pruned = eio.read_parquet(spark, p).filter(F.col("month") == "2024-01")
    assert pruned.count() == 2
    # partition filter prunes directories, it never reaches row filtering
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_csv_roundtrip_single_file(spark, tmp_path):
    df = spark.createDataFrame([(1, "a,b"), (2, None)], "id long, s string")
    p = str(tmp_path / "csv")
    eio.write_csv(df, p, single_file=True)
    import glob

    assert len(glob.glob(p + "/part-*.csv")) == 1  # W3 single-file parity
    back = eio.read_csv(spark, p, schema="id long, s string")
    rows = {r.id: r.s for r in back.collect()}
    assert rows == {1: "a,b", 2: None}


def test_json_roundtrip_with_schema(spark, tmp_path):
    df = spark.createDataFrame([(1, {"k": 2})], "id long, m map<string,long>")
    p = str(tmp_path / "js")
    eio.write_json(df, p)
    back = eio.read_json(spark, p, schema="id long, m map<string,long>")
    assert back.first().m == {"k": 2}


def test_register_views(spark, sf_dir):
    eio.register_views(spark, sf_dir)
    assert spark.sql("SELECT count(*) FROM lineitem").first()[0] > 0
    assert spark.sql("SELECT count(*) FROM documents").first()[0] > 0


def test_orc_roundtrip(spark, tmp_path):
    df = spark.range(50).withColumnRenamed("id", "k")
    p = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(p)
    assert spark.read.orc(p).count() == 50


def _inferred_schemas(spark, sf_dir):
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet").schema for t in TESTDATA_TABLES}


@pytest.mark.parametrize("sf_dir", TESTDATA_SCALES, ids=os.path.basename)
def test_declared_schemas_match_inferred_testdata(spark, sf_dir):
    """A declared column whose type differs from the file's reads as null
    or fails at scan time, so the declarations must equal what Spark infers
    from the files themselves."""
    assert _inferred_schemas(spark, sf_dir) == TESTDATA_SCHEMAS


def test_declared_schemas_match_benchmark_tables(spark, tmp_path):
    from perfbench import datagen

    datagen.write_tables(str(tmp_path), 0.001)
    assert _inferred_schemas(spark, str(tmp_path)) == TESTDATA_SCHEMAS


def test_testdata_reads_launch_no_jobs(spark, sf_dir):
    """Reading a test table or the staged LSH pairs resolves its schema
    from the declaration, not from a Parquet footer job, so these builders
    launch nothing on call."""
    from tmdb_movie_data_pipeline_spark.operators.dedup import lsh_pairs_staged
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    conf = "spark.sql.legacy.parquet.nanosAsLong"
    nanos_as_long = spark.conf.get(conf, None)
    for t in TESTDATA_TABLES:
        with job_group(spark, f"load-{t}") as jobs:
            eio.load_table(spark, sf_dir, t)
        assert jobs == [], t
    assert dict(eio.load_table(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    assert spark.conf.get(conf, None) == nanos_as_long

    queries = all_queries()
    for name in ["udf_grouped_agg", "q1_pricing_summary", "multimodal_decode_stats"]:
        with job_group(spark, f"build-{name}") as jobs:
            queries[name](spark, sf_dir)
        assert jobs == [], name

    lsh_pairs_staged(spark, sf_dir)  # builds the stage if it is missing
    with job_group(spark, "lsh-pairs-read") as jobs:
        pairs = lsh_pairs_staged(spark, sf_dir)
    assert jobs == []
    assert pairs.schema.simpleString() == "struct<doc_a:bigint,doc_b:bigint>"
