"""Round-21 optimization pins: every physical-plan lever this round added
must (a) leave results bit-identical on BOTH sides of its gate and (b)
actually flip the plan/layout it claims to.

These guard the paths the fixtures never take by default — the over-cap
shuffle fallback of the gated broadcasts and the optimized-writes
off-switch — so a future refactor can't silently break the 100 TB branch
while all default-path tests stay green.
"""

from __future__ import annotations

import os
import random

import pytest
from pyspark.sql import functions as F

from tmdb_movie_data_pipeline_spark.operators.graph import (
    _driver_edge_cap,
    _vector_broadcast_cap,
    connected_components,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast_env(monkeypatch):
    """Force the over-cap branch: every gated broadcast falls back to the
    r20 shuffle join (the 100 TB regime)."""
    monkeypatch.setenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", "0")
    yield


def test_vector_broadcast_cap_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", "12345")
    assert _vector_broadcast_cap() == 12345
    monkeypatch.delenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS")
    assert _vector_broadcast_cap() == 50_000_000


def _union_find(edges):
    """{vertex: least vertex of its component}, by plain union-find."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_connected_components_identical_on_both_gate_sides(
    spark, monkeypatch
):
    """The CC fixpoint is path-independent: labels from the driver path
    (edges under the broadcast threshold), from the distributed loop with
    broadcast hints (threshold -1) and from the loop's shuffle fallback
    (threshold -1, cap 0) agree with union-find on one graph holding a
    chain + triangle + isolated edge, a seeded random graph with
    self-loops, duplicate and reversed edges, and null endpoints. The
    null labels are pinned: a null endpoint bridges nothing, its partner
    stays a vertex, and null itself is a vertex labelled with the least
    component among its partners (null when it has none)."""
    chain = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (12, 10), (20, 21)]
    assert _union_find(chain) == {
        1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20
    }
    rng = random.Random(7)
    rand = [(rng.randrange(100, 160), rng.randrange(100, 160)) for _ in range(70)]
    rand += [(v, v) for v in (103, 161, 162)]  # self-loops, two isolated
    rand += rand[:10] + [(b, a) for a, b in rand[10:20]]  # duplicate, reversed
    nulls = [(201, None), (None, 203), (None, None), (205, 206), (207, 205)]
    graphs = {
        "mixed": (
            chain + rand + nulls,
            {**_union_find(chain + rand + nulls[3:]), 201: 201, 203: 203, None: 201},
        ),
        "null without partners": ([(None, None), (4, 2)], {2: 2, 4: 2, None: None}),
    }
    conf = "spark.sql.autoBroadcastJoinThreshold"
    default = spark.conf.get(conf)

    def labels(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = connected_components(df, "src", "dst").collect()
        got = dict(map(tuple, rows))
        assert len(got) == len(rows), "a vertex labelled twice"
        return got

    for name, (edges, want) in graphs.items():
        assert _driver_edge_cap(spark) >= len(edges)
        assert labels(edges) == want, ("driver", name)
        spark.conf.set(conf, "-1")
        try:
            assert _driver_edge_cap(spark) == 0
            assert labels(edges) == want, ("loop, broadcast", name)
            monkeypatch.setenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", "0")
            assert labels(edges) == want, ("loop, shuffle", name)
        finally:
            spark.conf.set(conf, default)
            monkeypatch.delenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", raising=False)


def test_hits_identical_on_both_gate_sides(spark, monkeypatch):
    """graph_hits_bipartite rows are identical whether the score vectors
    broadcast (default) or take the r20 shuffle join (cap 0)."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    fn = all_queries()["graph_hits_bipartite"]
    base = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", "0")
    fallback = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert base == fallback and len(base) > 0


def test_dbscan_identical_on_both_gate_sides(spark, monkeypatch):
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    fn = all_queries()["spatial_dbscan_clusters"]
    base = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.setenv("SPARK_GRAFT_VECTOR_BROADCAST_ROWS", "0")
    fallback = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert base == fallback and len(base) > 0


def test_optimized_write_sizes_merge_output_and_preserves_rows(
    spark, tmp_path, monkeypatch
):
    """MERGE's staged rewrite lands as FEW right-sized files under the
    default (REBALANCE + AQE advisory sizing), as one-file-per-upstream-task
    with the off-switch, and the snapshot contents are identical."""
    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable

    def build(path):
        base = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
        ).repartition(8)
        t = TxTable.create(spark, str(path), base)
        src = spark.range(2000, 7000).select(
            F.col("id").alias("k"), (F.col("id") * 3).cast("double").alias("v")
        ).repartition(8)
        t.merge(src, "k")
        return t

    t_on = build(tmp_path / "on")
    files_on = t_on.manifest(1)["files"]
    rows_on = sorted(map(tuple, t_on.read().collect()))

    monkeypatch.setenv("SPARK_GRAFT_OPTIMIZED_WRITES", "false")
    t_off = build(tmp_path / "off")
    files_off = t_off.manifest(1)["files"]
    rows_off = sorted(map(tuple, t_off.read().collect()))

    assert rows_on == rows_off and len(rows_on) == 7000
    # the rebalance actually compacts: strictly fewer files than the
    # per-task layout (16 union legs at this shape)
    assert len(files_on) < len(files_off)


def test_concurrent_commit_jobs_identical_on_both_gate_sides(
    spark, tmp_path, monkeypatch
):
    """The commit-job overlap (SPARK_GRAFT_CONCURRENT_COMMIT_JOBS; guide
    §2.6) is pure scheduling: a change-feed MERGE+DELETE build and a
    TxGroup transact produce identical snapshots, change rows, and manifest
    shapes whether the sidecar/member stage jobs run concurrently (default)
    or strictly sequentially (gate off)."""
    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable
    from tmdb_movie_data_pipeline_spark.plans.txgroup import TxGroup

    def build(root):
        base = spark.range(0, 3000).select(
            F.col("id").alias("k"), (F.col("id") % 19).cast("double").alias("v")
        )
        t = TxTable.create(spark, str(root / "t"), base, change_feed=True)
        src = spark.range(1500, 4000).select(
            F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
        )
        t.merge(src, "k")
        t.delete_range("k", 100, 400)
        snap = sorted(map(tuple, t.read().collect()))
        changes = {
            ver: sorted(map(tuple, t.change_rows(ver).collect()))
            for ver in t.versions()[1:]
        }
        # group transact over two fresh member tables
        hot = TxTable.create(
            spark, str(root / "hot"), base.filter(F.col("k") % 2 == 0)
        )
        cold = TxTable.create(
            spark, str(root / "cold"), base.filter(F.col("k") % 2 == 1)
        )
        g = TxGroup(spark, str(root))
        moved = g.read(cold).filter(F.col("k") % 5 == 0)
        g.transact(
            [
                (hot, g.read(hot).unionByName(moved)),
                (cold, g.read(cold).filter(~(F.col("k") % 5 == 0))),
            ],
            "MOVE",
        )
        tiers = (
            sorted(map(tuple, g.read(hot).collect())),
            sorted(map(tuple, g.read(cold).collect())),
        )
        return snap, changes, tiers

    got_conc = build(tmp_path / "conc")  # default: overlap on
    monkeypatch.setenv("SPARK_GRAFT_CONCURRENT_COMMIT_JOBS", "false")
    got_seq = build(tmp_path / "seq")
    assert got_conc == got_seq
    assert len(got_conc[0]) > 0 and len(got_conc[1]) == 2


def test_concurrent_prepare_failure_still_aborts_group(spark, tmp_path):
    """A member prepare failing under the CONCURRENT path must tombstone
    the whole group exactly like the sequential path: no member version
    ever becomes visible, and the group record is an abort."""
    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable
    from tmdb_movie_data_pipeline_spark.plans.txgroup import TxGroup

    base = spark.range(0, 100).select(F.col("id").alias("k"))
    a = TxTable.create(spark, str(tmp_path / "a"), base)
    b = TxTable.create(spark, str(tmp_path / "b"), base)
    g = TxGroup(spark, str(tmp_path))
    # a relation that fails at stage time (division by zero evaluated
    # per-row inside the write job)
    poison = base.select((F.lit(1) / (F.col("k") - F.col("k"))).alias("k"))
    bad = poison.select(F.assert_true(F.lit(False)).alias("k"))
    with pytest.raises(Exception):
        g.prepare([(a, base), (b, bad)], "MOVE")
    # the group is aborted; both members still read their v0 snapshots
    assert a.latest_visible_version() == 0
    assert b.latest_visible_version() == 0
    assert sorted(map(tuple, a.read().collect())) == sorted(
        map(tuple, base.collect())
    )


def test_dist_ntile_precomputed_n_matches_self_count(spark):
    """_dist_ntile(n=...) is a pure builder-cost optimization: scores are
    identical to the self-counting form."""
    from tmdb_movie_data_pipeline_spark.operators.aggregates import _dist_ntile

    df = spark.range(0, 997).select(
        F.col("id").alias("c_custkey"), (F.col("id") % 37).alias("m")
    )
    a = _dist_ntile(df, "m", F.col("m"), 5)
    b = _dist_ntile(df, "m", F.col("m"), 5, n=997)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
