#!/usr/bin/env python3
"""Regenerate ``expected.json``: the ``(rows, digest)`` every benchmark
operation must produce.

    python3 perfbench/expected.py [--seeds 1-10]

For each scale, every query of both query workloads runs once on the
generated tables. Its full result is compared row for row with the
query's DuckDB oracle on the same files before its digest is recorded, so
a digest is never taken from an unverified result. For ``etl_backfill``,
each listed seed's master output is compared with the pure-Python model
(``datagen.expected_master``) before its digest is recorded.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from run import isolate  # noqa: E402


def canon(v) -> str:
    """Engine-independent spelling of one result value."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def canon_rows(columns: list[str], rows) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def oracle_rows(data_dir: str, sql: str) -> tuple[list[str], list[tuple]]:
    import duckdb

    from tmdb_movie_data_pipeline_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    try:
        con.execute("SET threads=4")
        for t in TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return cols, cur.fetchall()
    finally:
        con.close()


def query_digests(spark, scale: float, run_dir: Path) -> dict[str, list]:
    from datagen import write_tables
    from tmdb_movie_data_pipeline_spark.registry import all_oracles, all_queries
    from workloads import QUERY_WORKLOADS, collect_digest, digest_frame

    data_dir = run_dir / "data" / f"sf{scale}"
    write_tables(str(data_dir), scale)
    queries, oracles = all_queries(), all_oracles()
    out = {}
    for names in QUERY_WORKLOADS.values():
        for name in names:
            df = queries[name](spark, str(data_dir))
            got = canon_rows(df.columns, [tuple(r) for r in df.collect()])
            cols, rows = oracle_rows(str(data_dir), oracles[name])
            want = canon_rows(cols, rows)
            if got != want:
                raise SystemExit(f"{name} @ {scale}: Spark result differs from its oracle")
            out[name] = list(collect_digest(digest_frame(queries[name](spark, str(data_dir)))))
            print(f"# {scale} {name}: {out[name]}", flush=True)
    return out


def backfill_digests(spark, scale: float, seeds: list[int], run_dir: Path) -> dict:
    from argparse import Namespace

    from backfill import BackfillBench

    out = {}
    for seed in seeds:
        args = Namespace(workload="etl_backfill", seed=seed, scale=scale, seconds=0, trace=0,
                         expected=str(HERE / "expected.json"))
        bench = BackfillBench(args, run_dir / f"backfill-{scale}-{seed}")
        bench.expected = {"backfill": {}}  # recording, not checking, the digest
        bench.spark = spark
        bench.prepare(run_dir / "data" / f"fixture-{scale}-{seed}")
        problem = bench.run_op("backfill_full", traced=False)[1]
        if problem:
            raise SystemExit(f"backfill seed {seed} @ {scale}: {problem}")
        master = spark.read.parquet(str(bench.out / "master_parquet"))
        from workloads import collect_digest, digest_frame

        out[str(seed)] = {"master": list(collect_digest(digest_frame(master)))}
        print(f"# backfill {scale} seed {seed}: {out[str(seed)]}", flush=True)
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seeds", default="1-10", help="backfill seeds, as lo-hi")
    args = p.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    run_dir = isolate()
    import shutil

    from tmdb_movie_data_pipeline_spark.session import get_spark
    from workloads import BENCH_SCALE, SMOKE_SCALE

    spark = get_spark(app_name="perfbench-expected")
    try:
        doc = {"queries": {}, "backfill": {}}
        for scale in (BENCH_SCALE, SMOKE_SCALE):
            doc["queries"][str(scale)] = query_digests(spark, scale, run_dir)
            doc["backfill"][str(scale)] = backfill_digests(
                spark, scale, list(range(lo, hi + 1)), run_dir
            )
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    (HERE / "expected.json").write_text(json.dumps(doc, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
