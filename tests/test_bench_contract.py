"""Contract tests for bench.py's driver-facing output and its timed op.

The driver records only the LAST 2000 bytes of bench stdout; the r8 bench
line grew past that with 56 per-query timings and the head of the line —
including the headline total — was truncated, leaving BENCH_r08.json
unparseable (VERDICT r8 #3). The line tests call bench.py's own line
function with worst-case values, WITHOUT running the benchmark; every
benched name must resolve in the registry so a rename can't silently drop
a timing. The op test runs bench.py's per-query function on two queries.
"""

from __future__ import annotations

import json

import bench
from tmdb_movie_data_pipeline_spark import registry

from conftest import SF_SMALL


def test_bench_queries_all_registered():
    qs = set(registry.all_queries())
    missing = [n for n in bench.BENCH_QUERIES if n not in qs]
    assert not missing, f"benched names not in registry: {missing}"


def test_final_line_fits_driver_tail_capture():
    """A worst-case final line (every time at max typical width, every
    query unstable) sits under MAX_FINAL_LINE_BYTES, which itself must sit
    under the driver's 2000-byte tail capture with headroom for Spark
    shutdown chatter."""
    assert bench.MAX_FINAL_LINE_BYTES <= 1500
    longest = sorted(bench.BENCH_QUERIES, key=len, reverse=True)
    worst = {"cold_s": 9999.999, "warm_s": 9999.999, "unstable": True}
    records = {n: dict(worst) for n in longest}
    line = bench.final_line(records, 9999.999, 0.1, "BENCH_DETAIL_session_r99_99.json")
    assert len(line.encode()) <= bench.MAX_FINAL_LINE_BYTES, (
        f"worst-case bench line is {len(line.encode())} B"
    )
    out = json.loads(line)
    assert out["metric"] == "headline_queries_total_runtime"
    assert out["n_queries"] == len(bench.BENCH_QUERIES)
    assert len(out["slowest_warm_sec"]) == 8


def test_no_duplicate_bench_queries():
    assert len(bench.BENCH_QUERIES) == len(set(bench.BENCH_QUERIES))


def test_bench_op_brackets_builder_jobs(spark):
    """Each run is the builder call plus the digest action, so a builder
    that runs eager jobs (HITS's per-round fixed point) shows them in the
    build group; repeated runs give the same output; the job group is
    cleared afterwards."""
    tr = bench.BenchTracer(spark)
    recs = {
        n: bench.bench_query(spark, tr, n, SF_SMALL)
        for n in ("q1_pricing_summary", "graph_hits_bipartite")
    }
    assert recs["graph_hits_bipartite"]["cold"]["build.jobs"] > 0
    for name, rec in recs.items():
        assert not rec["unstable"], (name, rec.get("outputs"))
        assert rec["rows"] > 0, name
        assert rec["cold"]["exec.jobs"] > 0, name
        assert 0 < rec["warm_s"] and 0 < rec["cold_s"], name
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
