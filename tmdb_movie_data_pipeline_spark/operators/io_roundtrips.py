"""Driver-checkable round-trips for the write/checkpoint/source surfaces
(SURVEY.md §2.1 S1/S2, §2.8 W1/W4/W5 — VERDICT r2 items #6 and #7).

These surfaces were pytest-only in rounds 1-2 because they produce FILES,
not rows. Each query here turns one of them into an oracle-checkable
relation the same way the CSV/JSON sink round-trips did: physically exercise
the surface (partitioned write, checkpoint corruption + degrade-to-full
resume, paged-REST fixture ingest), then read the result back and return
rows whose values a DuckDB oracle derives straight from the parquet tables.

* ``sink_partitioned_write_readback`` — W1: dir-per-partition dataset write
  (reference file-per-month layout, src/movie.py:224-225) read back and
  aggregated; proves layout + codec preserve content per partition.
* ``checkpoint_resume_degrade`` — W4/W5: incremental month-partitioned
  backfill, checkpoint doc corrupted, second run degrades to "nothing done"
  (reference src/movie.py:219-222) and rewrites every month via dynamic
  partition overwrite. Equality with the direct aggregate proves the resume
  is idempotent — an append-instead-of-overwrite bug would double counts.
* ``source_rest_fixture_scan`` — S1/S2: the paged-REST DataSource reads a
  deterministic fixture corpus derived from ``orders`` (pages of 20, one
  partition per calendar month, reference src/movie.py:98-129); the oracle
  recomputes the admitted rows and each row's month-window attribution.
"""

from __future__ import annotations

import calendar
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import UNIT_SCALE, quantize
from ..io import load_table, scratch_dir, write_partitioned
from ..registry import register

__all__ = [
    "sink_partitioned_write_readback",
    "checkpoint_resume_degrade",
    "source_rest_fixture_scan",
]


@register(
    "sink_partitioned_write_readback",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sink_partitioned_write_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 as a relation: write lineitem as a dir-per-partition dataset keyed
    on l_returnflag, read the directory back, aggregate per partition. The
    partition column round-trips through directory NAMES (not data pages),
    so this is the layout check a pytest on write paths can't give the
    driver. Doubles are quantized to integer cents BEFORE the write — the
    same exactness discipline as the CSV/JSON round-trips."""
    path = os.path.join(scratch_dir("w1_part_"), "lineitem_by_flag")
    sl = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        quantize(F.col("l_extendedprice"), 100).alias("price_cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    write_partitioned(sl, path, ["l_returnflag"])
    back = spark.read.parquet(path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("price_cents").cast("long").alias("price_cents"),
        F.sum("qty").cast("long").alias("qty"),
    )


@register(
    "checkpoint_resume_degrade",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS unit_key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * {UNIT_SCALE}) AS BIGINT)) AS BIGINT)
               AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def checkpoint_resume_degrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/W5 as a relation: day-partitioned incremental backfill of the
    events table, then the checkpoint doc is CORRUPTED and the backfill
    re-run — the bookkeeping reader degrades to "nothing done" and rewrites
    every unit. Because each unit commits via dynamic partition overwrite,
    the rewrite is idempotent: the final read-back must equal the direct
    per-day aggregate exactly (duplicated units would double n_events)."""
    from ..plans.checkpoint import run_incremental_backfill

    root = scratch_dir("w45_ckpt_")
    out = os.path.join(root, "out")
    ck = os.path.join(root, "checkpoint.json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", quantize(F.col("value"), UNIT_SCALE).alias("value_q")
    )
    first = run_incremental_backfill(spark, ev, "ts", out, ck, unit_format="yyyy-MM-dd")
    assert len(first) > 1, "expected multiple daily units to checkpoint"
    with open(ck, "w") as f:
        f.write("{not json")  # simulate a torn/corrupt bookkeeping doc
    second = run_incremental_backfill(spark, ev, "ts", out, ck, unit_format="yyyy-MM-dd")
    assert second == first, "degrade-to-full must re-run every unit"
    back = spark.read.parquet(out)
    # partition dirs named yyyy-MM-dd come back DATE-typed via partition
    # inference; emit ISO strings (temporal output types never cross the
    # engine-comparison boundary — memory rule)
    return (
        back.withColumn("unit_key", F.col("unit_key").cast("string"))
        .groupBy("unit_key")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value_q").cast("long").alias("sum_value"),
        )
    )


_REST_FROM = "1995-01-01"
_REST_TO = "1995-03-31"
_REST_MOD = 10  # keep every 10th order in the fixture corpus


def _write_rest_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Derive a deterministic paged-API corpus from ``orders``: one JSON
    page file per (month window, page of 20), named the way the fixture
    transport resolves them. Fixture GENERATION is driver-side test-input
    setup (bounded: a 3-month key-sampled slice), not part of the query
    plan the driver measures."""
    from ..sources.rest import PAGE_SIZE

    fixture = scratch_dir("restfx_")
    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _REST_FROM)
            & (F.col("o_orderdate") <= _REST_TO)
            & (F.col("o_orderkey") % _REST_MOD == 0)
        )
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .collect()
    )
    by_month: dict[str, list] = {}
    for r in rows:
        by_month.setdefault(r.d[:7], []).append((r.o_orderkey, r.d))
    for mm, rs in by_month.items():
        y, m = map(int, mm.split("-"))
        a = f"{mm}-01"
        b = f"{mm}-{calendar.monthrange(y, m)[1]:02d}"
        rs.sort()
        pages = [rs[i : i + PAGE_SIZE] for i in range(0, len(rs), PAGE_SIZE)]
        for p, chunk in enumerate(pages, 1):
            doc = {
                "total_pages": len(pages),
                "results": [
                    {
                        "id": k,
                        "title": f"order-{k}",
                        "release_date": d,
                        "genre_ids": [1],
                        "vote_average": 5.0,
                        "vote_count": 10,
                        "popularity": 1.0,
                        "adult": False,
                    }
                    for k, d in chunk
                ],
            }
            with open(os.path.join(fixture, f"{a}_{b}_p{p}.json"), "w") as f:
                json.dump(doc, f)
    return fixture


@register(
    "source_rest_fixture_scan",
    oracle=f"""
    SELECT o_orderkey AS movie_id,
           'order-' || CAST(o_orderkey AS VARCHAR) AS title,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS release_date,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-01') || '_' ||
               strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS window_key
    FROM orders
    WHERE o_orderdate BETWEEN DATE '{_REST_FROM}' AND DATE '{_REST_TO}'
      AND o_orderkey % {_REST_MOD} = 0
    """,
)
def source_rest_fixture_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 end to end under the driver: the paged-REST DataSource ingests
    the fixture corpus with one partition per calendar month and pages of
    20; every emitted row carries its window attribution. The oracle
    recomputes the expected row set AND each row's month window from
    ``orders`` — if the reader dropped a page, double-fetched a window, or
    mis-clamped a month boundary, the set comparison fails."""
    from ..sources.rest import PagedRestDataSource

    fixture = _write_rest_fixture(spark, sf_dir)
    spark.dataSource.register(PagedRestDataSource)
    df = (
        spark.read.format("paged_rest")
        .option("date_from", _REST_FROM)
        .option("date_to", _REST_TO)
        .option("fixture_dir", fixture)
        .load()
    )
    return df.select(
        F.col("id").cast("long").alias("movie_id"),
        "title",
        "release_date",
        F.col("_window_key").alias("window_key"),
    )


@register(
    "join_dynamic_partition_pruning",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND EXTRACT(year FROM o_orderdate) <= 1996
    )
    SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders o JOIN dim ON CAST(EXTRACT(year FROM o.o_orderdate) AS INT)
                              = dim.o_year
    GROUP BY 1
    """,
)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over a year-partitioned fact: orders are
    staged dir-per-year, then joined to a runtime-only dimension (the years
    that contain urgent orders up to 1996 — unknowable at plan time), and
    Catalyst injects a DynamicPruningSubquery into the fact scan so only
    the dim's years are READ, not post-filtered. At 100 TB this is the
    difference between scanning 7 years and scanning 2 — the partition-
    elimination contract tests/test_plans.py pins by asserting
    ``dynamicpruning`` appears in the scan's PartitionFilters. Quantized
    cents make the per-year sums integer-exact cross-engine."""
    path = os.path.join(scratch_dir("dpp_"), "orders_by_year")
    o = load_table(spark, sf_dir, "orders")
    staged = o.select(
        F.year("o_orderdate").alias("o_year"),
        "o_orderdate",
        "o_orderpriority",
        quantize(F.col("o_totalprice"), 100).alias("price_cents"),
    )
    write_partitioned(staged, path, ["o_year"])
    fact = spark.read.parquet(path)
    dim = (
        fact.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_year") <= 1996)
        )
        .select(F.col("o_year").alias("dim_year"))
        .distinct()
    )
    return (
        fact.join(dim, fact["o_year"] == dim["dim_year"])
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
    )


# -- S3: config dimension -> relation (driver-facing) -------------------------

#: the TMDB movie genre dimension (reference src/movie.py:132-142 fetches it
#: per run; offline runs pass it as config). Keys/names are the public TMDB
#: catalog — the engine treats it as an opaque config dict.
GENRE_CONFIG: dict[int, str] = {
    28: "Action", 12: "Adventure", 16: "Animation", 35: "Comedy",
    80: "Crime", 99: "Documentary", 18: "Drama", 10751: "Family",
    14: "Fantasy", 36: "History", 27: "Horror", 10402: "Music",
    9648: "Mystery", 10749: "Romance", 878: "Science Fiction",
    10770: "TV Movie", 53: "Thriller", 10752: "War", 37: "Western",
}

_GENRE_VALUES_SQL = ", ".join(
    f"({k}, '{v}')" for k, v in sorted(GENRE_CONFIG.items())
)


@register(
    "source_config_dimension",
    oracle=f"""
    WITH dim(genre_id, genre_name) AS (VALUES {_GENRE_VALUES_SQL}),
    derived AS (
        SELECT p_partkey % 40 AS gid FROM part
    )
    SELECT COALESCE(dim.genre_name, CAST(derived.gid AS VARCHAR)) AS genre,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(MAX(dim.genre_id IS NOT NULL) AS BOOLEAN) AS resolved
    FROM derived LEFT JOIN dim ON dim.genre_id = derived.gid
    GROUP BY 1, dim.genre_id IS NOT NULL
    """,
)
def source_config_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 as a driver row: an external CONFIG DICT becomes a broadcast
    dimension relation (the pipeline's genre_map path, pipeline.py /
    normalize._genre_lookup semantics): ids resolve through the dimension,
    unknown ids fall back to ``str(id)`` — the reference's exact fallback
    (src/movie.py:189). Derived ids come from ``part`` (key % 40 spans
    both known and unknown genre ids), so the join exercises hit AND miss
    paths. The dim is rows-in-driver config (19 rows) → always broadcast:
    zero shuffle added to the fact side."""
    dim = spark.createDataFrame(
        sorted(GENRE_CONFIG.items()), "genre_id INT, genre_name STRING"
    )
    derived = load_table(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 40).cast("int").alias("gid")
    )
    joined = derived.join(
        F.broadcast(dim), dim["genre_id"] == derived["gid"], "left"
    )
    return joined.groupBy(
        F.coalesce(F.col("genre_name"), F.col("gid").cast("string")).alias(
            "genre"
        ),
        F.col("genre_id").isNotNull().alias("resolved"),
    ).agg(F.count(F.lit(1)).alias("n_parts")).select(
        "genre", "n_parts", "resolved"
    )


# -- S6: glob-scoped multi-file scan (driver-facing) --------------------------


@register(
    "source_glob_scan",
    oracle="""
    SELECT CAST(o_orderkey % 3 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderkey % 3 IN (0, 1)
    GROUP BY 1
    """,
)
def source_glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 as a driver row: stage orders into shard=0/1/2 directories, then
    scan ONLY shards {{0,1}} via a glob path (``shard={0,1}``) — the file-
    LISTING layer selects the inputs (the reference's glob-scan merge,
    src/movie.py:288-298), no row-level filter involved: the excluded
    shard's files are never opened, which is the point at 100 TB (listing
    prunes before IO). Aggregates are integer cents, exact cross-engine."""
    base = os.path.join(scratch_dir("s6_glob_"), "orders_sharded")
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 3).cast("int").alias("shard"),
        quantize(F.col("o_totalprice"), 100).alias("price_cents"),
    )
    write_partitioned(o, base, ["shard"])
    picked = spark.read.parquet(os.path.join(base, "shard={0,1}"))
    # partition dirs consumed by the glob don't resurface as a column; the
    # shard id is recovered from the directory branch via input_file_name
    return (
        picked.withColumn(
            "shard",
            F.regexp_extract(F.input_file_name(), r"shard=(\d)", 1).cast("int"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_cents").alias("total_cents"),
        )
    )


# -- F3-F5: boolean pushdown + empty-relation guards (driver-facing) ----------


@register(
    "filter_boolean_guards",
    oracle="""
    WITH filtered AS (
        SELECT o_orderpriority, o_totalprice, o_orderstatus FROM orders
        WHERE (o_orderpriority IN ('1-URGENT', '2-HIGH')
               OR o_orderstatus LIKE 'F%')
          AND NOT (o_totalprice < 1000.0)
          AND o_orderstatus IS NOT NULL
    ),
    empty_branch AS (
        SELECT o_orderpriority, o_totalprice, o_orderstatus FROM orders
        WHERE o_orderkey < 0
    ),
    unioned AS (
        SELECT * FROM filtered UNION ALL SELECT * FROM empty_branch
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN o_orderstatus LIKE 'F%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_filled
    FROM unioned GROUP BY 1
    """,
)
def filter_boolean_guards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F5 as a driver row: a disjunctive boolean battery (IN ∨ LIKE,
    ¬<, IS NOT NULL — over the status/priority strings) that Catalyst pushes to the parquet scan
    (Or/Not/IsNotNull all have PushedFilters encodings), UNION ALL'd with
    a provably EMPTY branch (o_orderkey < 0) — the empty-relation guard:
    the union must neither fail nor change the aggregate when one input
    produces zero rows (the reference's empty-page/empty-month handling,
    src/movie.py:154-160, as relational algebra)."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderpriority", "o_totalprice", "o_orderstatus"]
    filtered = o.filter(
        (
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            | F.col("o_orderstatus").like("F%")
        )
        & ~(F.col("o_totalprice") < 1000.0)
        & F.col("o_orderstatus").isNotNull()
    ).select(*cols)
    empty_branch = o.filter(F.col("o_orderkey") < 0).select(*cols)
    unioned = filtered.unionByName(empty_branch)
    return unioned.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("o_orderstatus").like("F%"), 1).otherwise(0)
        ).alias("n_filled"),
    )


# -- binaryFile source scan — deferred r7 queue -------------------------------

_BIN_MOD = 25  # write every 25th doc's payload as a standalone binary file


@register(
    "source_binaryfile_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text)                    AS content_md5
    FROM documents
    WHERE doc_id % {_BIN_MOD} = 0
    """
)
def binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's ``binaryFile`` source — whole-file ingestion of opaque
    media blobs as (path, length, content) rows, the front door of every
    multimodal pipeline (images/audio arrive as FILES; this is the scan
    that turns a directory of them into a DataFrame the payload operators
    consume). Doc ids ride in the file NAMES and are recovered from the
    path; content length and md5 are recomputed from the scanned BYTES,
    so the gate proves byte-exact file round-tripping, not just metadata.

    Scale: binaryFile is splittable per FILE (one task per blob up to
    maxPartitionBytes) with pathGlobFilter/recursiveFileLookup pruning —
    the listing-level pruning story of S6 applied to media. ASCII
    payloads make strlen(text) == byte length for the oracle.
    """
    from ..io import scratch_dir

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % _BIN_MOD == 0)
        .select("doc_id", "text")
    )
    blob_dir = scratch_dir("binsrc_")
    for r in docs.collect():  # fixture staging only: |docs|/MOD tiny files
        with open(os.path.join(blob_dir, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(blob_dir)
    )
    return scanned.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# -- corrupt-record CSV handling — deferred queue -----------------------------

_CSV_BAD_MOD = 10  # every 10th staged line is malformed


@register(
    "source_csv_corrupt_records",
    oracle=f"""
    WITH staged AS (
        SELECT n_nationkey,
               CASE WHEN n_nationkey % {_CSV_BAD_MOD} = 0
                    THEN 'corrupt' ELSE 'good' END AS kind
        FROM nation
    )
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM staged GROUP BY 1
    """
)
def csv_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode corrupt-record handling: a staged CSV where every
    {_CSV_BAD_MOD}th line is malformed (a non-numeric key) must neither
    crash the read (FAILFAST's behavior) nor silently vanish rows —
    PERMISSIVE routes each bad line into ``_corrupt_record`` with NULLs
    elsewhere, and the gate pins the exact good/corrupt split. The
    ingestion-robustness contract real feeds exercise daily: dirty lines
    are data to quarantine, not exceptions to die on.

    Shape: the corrupt-record column is populated at parse time per
    partition — no extra pass; the quarantine split is one map-side flag.
    """
    n = load_table(spark, sf_dir, "nation")
    rows = n.select("n_nationkey", "n_name").collect()  # tiny dim staging
    path = os.path.join(scratch_dir("csvbad_"), "feed.csv")
    with open(path, "w") as f:
        f.write("key,name\n")
        for r in rows:
            if r.n_nationkey % _CSV_BAD_MOD == 0:
                f.write(f"NOT_A_NUMBER<<{r.n_name},{r.n_name},EXTRA\n")
            else:
                f.write(f"{r.n_nationkey},{r.n_name}\n")
    parsed = (
        spark.read.schema("key long, name string, _corrupt_record string")
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    # Spark forbids queries that reference ONLY the corrupt-record column
    # over a raw CSV scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
    # COLUMN); materialize the parse to scratch parquet — unlike cache(),
    # nothing accretes in executor memory across repeated invocations
    mat = path + ".parsed"
    parsed.write.mode("overwrite").parquet(mat)
    parsed = spark.read.parquet(mat)
    return parsed.select(
        F.when(F.col("_corrupt_record").isNotNull(), "corrupt")
        .otherwise("good")
        .alias("kind")
    ).groupBy("kind").agg(F.count(F.lit(1)).alias("n_rows"))
csv_corrupt_records.__doc__ = csv_corrupt_records.__doc__.format(_CSV_BAD_MOD=_CSV_BAD_MOD)  # real docstring (ADVICE r7)


# -- dynamic partition overwrite — deferred queue -----------------------------


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
    WITH day10 AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 10
                    AS BIGINT) AS block,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), first_block AS (SELECT MIN(block) AS fb FROM day10),
    final AS (
        SELECT block,
               CASE WHEN block = fb THEN cents * 2 ELSE cents END AS cents
        FROM day10 CROSS JOIN first_block
    )
    SELECT block, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY 1
    """
)
def dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the write mode incremental backfills
    live on: overwriting with a frame that contains ONLY one partition's
    rows must replace THAT partition and leave every other untouched
    (static overwrite mode would wipe the whole table — the classic
    production data-loss incident, here pinned as a contract). The
    fixture writes events partitioned by 10-day block, re-writes the
    first block with doubled values in dynamic mode, and gates the
    per-partition counts and sums: first block doubled, others
    byte-identical.

    Shape: partitionBy on a bounded key; the overwrite touches one
    directory. The mode rides the WRITER as an option, so only this
    write opts in regardless of any session default.
    """
    from ..io import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 10"
            " AS BIGINT)"
        ).alias("block"),
        quantize(F.col("value"), 100).alias("cents"),
    )
    path = os.path.join(scratch_dir("dynpo_"), "t")
    ev.write.mode("overwrite").partitionBy("block").parquet(path)
    first = ev.agg(F.min("block").alias("fb"))
    patch = (
        ev.crossJoin(F.broadcast(first))
        .filter(F.col("block") == F.col("fb"))
        .select("block", (F.col("cents") * 2).alias("cents"))
    )
    # per-WRITER option (not session conf): the one write that needs
    # dynamic semantics declares it, neighboring writes are untouched —
    # same form as checkpoint.py's idempotent month writes
    (
        patch.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("block")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("block").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# -- bucketed-table co-located join — deferred queue --------------------------

_BKT_N = 8


@register(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table join: both sides written bucketBy(8) on the
    join key into external tables, then joined WITHOUT any Exchange —
    bucketing is THE pre-shuffle investment for repeated big-to-big
    joins at scale (pay the shuffle once at write; every later join on
    the key is exchange-free). The values are gated against the plain
    join; the exchange-free plan shape is pinned separately in
    tests/test_plans.py's bucketing test. Tables are external
    (explicit scratch paths) and CREATE-OR-REPLACEd so driver re-runs
    are idempotent.
    """
    from ..io import scratch_dir

    root = scratch_dir("bkt_")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite")
        .bucketBy(_BKT_N, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", os.path.join(root, "orders"))
        .saveAsTable("bkt_orders")
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .write.mode("overwrite")
        .bucketBy(_BKT_N, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", os.path.join(root, "lineitem"))
        .saveAsTable("bkt_lineitem")
    )
    o = spark.table("bkt_orders")
    li = spark.table("bkt_lineitem")
    # MERGE hint: at fixture scale AQE would broadcast the small side and
    # never consult the bucketing; forcing sort-merge exercises the
    # exchange-free co-located path this operator exists to pin
    return (
        o.hint("merge").join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
        )
    )

# -- the reference's WHOLE §3.1 lifecycle as one oracle-checked relation ------

_E2E_ALT_MOD = 30  # every 30th key also appears IN-WINDOW with higher popularity
_E2E_ECHO_MOD = 50  # every 50th key also appears in the NEXT month, lower pop


def _write_backfill_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Paged-API corpus for the end-to-end backfill, derived from ``orders``
    like ``_write_rest_fixture`` but with DELIBERATE duplicates so both
    dedup stages of the lifecycle do real work:

    * in-window duplicate (key % {_E2E_ALT_MOD} == 0): the same id appears
      twice in its month with an '-alt' variant at popularity +0.25 — the
      per-month keep-first (survivor = highest popularity) must pick the
      alt row, exactly the reference's within-month drop_duplicates
      (src/movie.py:275) with a pinned survivor;
    * cross-month duplicate (key % {_E2E_ECHO_MOD} == 0): an '-echo'
      variant of the id lands in the NEXT month window at popularity 0.5 —
      the master merge's global keep-first (earliest month wins) must drop
      it, the reference's final concat-dedup (src/movie.py:295).
    """
    from ..sources.rest import PAGE_SIZE

    fixture = scratch_dir("e2efx_")
    rows = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _REST_FROM)
            & (F.col("o_orderdate") <= _REST_TO)
            & (F.col("o_orderkey") % _REST_MOD == 0)
        )
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("d"))
        .collect()
    )

    def rec(k: int, d: str, variant: str) -> dict:
        pop = 1.0 + (k % 7)
        if variant == "alt":
            title, vc, pop = f"order-{k}-alt", 11, pop + 0.25
        elif variant == "echo":
            title, vc, pop = f"order-{k}-echo", 12, 0.5
        else:
            title, vc = f"order-{k}", 10
        if k % 40 == 0:
            poster = f"/p{k}.jpg"
        elif k % 40 == 20:
            poster = ""  # falsy poster → no URL (reference src/movie.py:190)
        else:
            poster = None
        return {
            "id": k,
            "title": title,
            "original_title": f"{title} OT",
            "release_date": d,
            "genre_ids": [28, 35] if k % 20 == 0 else [9999],
            "vote_average": 5.0,
            "vote_count": vc,
            "popularity": pop,
            "original_language": "en",
            "overview": f"ov-{k}",
            "poster_path": poster,
            "adult": False,
        }

    by_month: dict[str, list] = {}
    for r in rows:
        mm = r.d[:7]
        by_month.setdefault(mm, []).append(rec(r.o_orderkey, r.d, "primary"))
        if r.o_orderkey % _E2E_ALT_MOD == 0:
            by_month.setdefault(mm, []).append(rec(r.o_orderkey, r.d, "alt"))
        if r.o_orderkey % _E2E_ECHO_MOD == 0:
            y, m = map(int, mm.split("-"))
            ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
            nmm = f"{ny}-{nm:02d}"
            if f"{nmm}-01" <= _REST_TO:  # echo only within the backfill range
                by_month.setdefault(nmm, []).append(
                    rec(r.o_orderkey, r.d, "echo")
                )
    for mm, rs in by_month.items():
        y, m = map(int, mm.split("-"))
        a = f"{mm}-01"
        b = f"{mm}-{calendar.monthrange(y, m)[1]:02d}"
        rs.sort(key=lambda x: (x["id"], x["title"]))
        pages = [rs[i : i + PAGE_SIZE] for i in range(0, len(rs), PAGE_SIZE)]
        for p, chunk in enumerate(pages, 1):
            with open(os.path.join(fixture, f"{a}_{b}_p{p}.json"), "w") as f:
                json.dump({"total_pages": len(pages), "results": chunk}, f)
    return fixture


@register(
    "pipeline_month_backfill_e2e",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey AS k,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d
        FROM orders
        WHERE o_orderdate BETWEEN DATE '{_REST_FROM}' AND DATE '{_REST_TO}'
          AND o_orderkey % {_REST_MOD} = 0
    )
    SELECT CAST(k AS BIGINT) AS tmdb_id,
           CASE WHEN k % {_E2E_ALT_MOD} = 0
                THEN 'order-' || CAST(k AS VARCHAR) || '-alt'
                ELSE 'order-' || CAST(k AS VARCHAR) END AS title,
           CASE WHEN k % {_E2E_ALT_MOD} = 0
                THEN 'order-' || CAST(k AS VARCHAR) || '-alt OT'
                ELSE 'order-' || CAST(k AS VARCHAR) || ' OT' END
               AS original_title,
           d AS release_date,
           CASE WHEN k % 20 = 0 THEN 'Action|Comedy' ELSE '9999' END AS genres,
           CAST(5.0 AS DOUBLE) AS vote_average,
           CAST(CASE WHEN k % {_E2E_ALT_MOD} = 0 THEN 11 ELSE 10 END AS BIGINT)
               AS vote_count,
           CAST(1.0 + (k % 7)
                + CASE WHEN k % {_E2E_ALT_MOD} = 0 THEN 0.25 ELSE 0 END
                AS DOUBLE) AS popularity,
           'en' AS original_language,
           'ov-' || CAST(k AS VARCHAR) AS overview,
           CASE WHEN k % 40 = 0
                THEN 'https://cdn/w500/p' || CAST(k AS VARCHAR) || '.jpg'
                END AS poster_url
    FROM base
    """,
)
def pipeline_month_backfill_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE §3.1 lifecycle as one hash-checked relation
    (VERDICT r7 stretch #9 / r8 #7): paged-REST fixture ingest (month
    windows, S1) → normalize projection (P1-P7) → per-month keep-first
    dedup (A1) → month-partitioned dynamic-overwrite write (W1) →
    checkpoint bookkeeping (W4/J2) → master merge readback + global
    keep-first (A2/U1) → master parquet (W2), then the master read back as
    the result relation. A second ``run_backfill`` against the same
    checkpoint must skip every month (asserted in-line: the checkpoint
    diff leaves nothing to run) — so one value hash pins source paging,
    window attribution, both dedup survivor rules, the partitioned-write
    round-trip, and checkpoint idempotence at once.

    The fixture injects BOTH duplicate shapes (see
    ``_write_backfill_fixture``): an in-window higher-popularity variant
    that the per-month dedup must prefer, and a cross-month echo the
    master merge must drop. The oracle recomputes every surviving row —
    title/genres/poster/popularity transforms included — straight from
    ``orders``; any mis-attributed window, wrong survivor, or doubled
    month would change the row set.

    Scale: each stage is the production shape — months ingest in
    parallel (the reference's loop is sequential): on driver threads into
    one local relation when their pages fit under the session's broadcast
    threshold (this fixture does, unless broadcasts are off), else as
    source partitions, one per month. Dedup is one hash-shuffle per stage
    keyed on (unit, id) then id, the monthly write commits per-partition
    (idempotent re-runs), and the master merge is one scan of the
    partitioned dataset plus one keyed shuffle. Nothing here is
    fixture-sized except the fixture itself."""
    from ..pipeline import run_backfill
    from ..schemas import MOVIE_COLS

    fixture = _write_backfill_fixture(spark, sf_dir)
    root = scratch_dir("e2e_run_")
    out = os.path.join(root, "out")
    ck = os.path.join(root, "checkpoint.json")
    kwargs = dict(
        date_from=_REST_FROM,
        date_to=_REST_TO,
        out_dir=out,
        checkpoint_path=ck,
        genre_map={28: "Action", 35: "Comedy"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": fixture},
    )
    first = run_backfill(spark, **kwargs)
    assert first["months_run"] == 3, first
    second = run_backfill(spark, **kwargs)
    assert second["months_run"] == 0, (
        "checkpoint must skip completed months on re-run"
    )
    master = spark.read.parquet(os.path.join(out, "master_parquet"))
    return master.select(*MOVIE_COLS)


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
