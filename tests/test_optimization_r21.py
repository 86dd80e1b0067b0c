"""Round-21 optimization pins: every physical-plan lever this round added
must (a) leave results bit-identical on BOTH sides of its gate and (b)
actually flip the plan/layout it claims to.

These guard the paths the fixtures never take by default — the over-cap
shuffle fallback of the gated broadcasts, selected by the session's
broadcast threshold — so a future refactor can't silently break the
100 TB branch while all default-path tests stay green.
"""

from __future__ import annotations

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from conftest import SF_MEDIUM, physical_nodes
from tmdb_movie_data_pipeline_spark.operators.graph import (
    _EDGE_BYTES,
    connected_components,
)
from tmdb_movie_data_pipeline_spark.session import driver_collect_bytes

SF_DIR = "/root/testdata/sf0.001"

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def broadcast_threshold(spark, value):
    """Run the body with the session's broadcast threshold at ``value``."""
    default = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, str(value))
    try:
        yield
    finally:
        spark.conf.set(_THRESHOLD, default)


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


def test_connected_components_identical_on_both_gate_sides(spark):
    """The CC fixpoint is path-independent: labels from the driver path
    (edges under the broadcast threshold) and from the distributed loop
    (threshold -1) agree with union-find on one graph holding a chain +
    triangle + isolated edge, a seeded random graph with self-loops,
    duplicate and reversed edges, and null endpoints. The null labels are
    pinned: a null endpoint bridges nothing, its partner stays a vertex,
    and null itself is a vertex labelled with the least component among
    its partners (null when it has none)."""
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

    def labels(edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = connected_components(df, "src", "dst").collect()
        got = dict(map(tuple, rows))
        assert len(got) == len(rows), "a vertex labelled twice"
        return got

    for name, (edges, want) in graphs.items():
        assert driver_collect_bytes(spark) // _EDGE_BYTES >= len(edges)
        assert labels(edges) == want, ("driver", name)
        with broadcast_threshold(spark, -1):
            assert driver_collect_bytes(spark) == 0
            assert labels(edges) == want, ("loop", name)


def test_broadcast_decisions_follow_session_threshold(spark, monkeypatch):
    """Every broadcast decision of the distributed kernels is derived from
    the session's broadcast threshold. The connected-components driver cap
    is the threshold read as 16-byte edges: 4,194,304 at 64 MiB, 655,360
    at 10 MiB, 0 at -1, and a graph of exactly the threshold's bytes stays
    on the driver while one byte less sends it to the loop. HITS and the
    DBSCAN assembly carry their score-vector / key-set hints under a
    positive threshold and drop them at -1."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    edges = [(1, 2), (2, 3), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")

    def on_driver() -> bool:
        out = connected_components(df, "src", "dst")
        names = {n.getClass().getSimpleName() for n in physical_nodes(out)}
        return "LocalTableScanExec" in names

    with broadcast_threshold(spark, len(edges) * _EDGE_BYTES):
        assert on_driver()
    with broadcast_threshold(spark, len(edges) * _EDGE_BYTES - 1):
        assert not on_driver()

    # record the columns of every frame a query hints for broadcast
    hinted: list[tuple[str, ...]] = []
    real = F.broadcast

    def spy(frame):
        hinted.append(tuple(frame.columns))
        return real(frame)

    monkeypatch.setattr(F, "broadcast", spy)
    qs = all_queries()
    vectors = {("c", "s"), ("p", "s")}
    for threshold, edge_cap in [
        (64 * 1024 * 1024, 4_194_304),
        (10 * 1024 * 1024, 655_360),
        (-1, 0),
    ]:
        with broadcast_threshold(spark, threshold):
            assert driver_collect_bytes(spark) // _EDGE_BYTES == edge_cap
            assert on_driver() == (edge_cap > 0), threshold
            hinted.clear()
            qs["graph_hits_bipartite"](spark, SF_DIR)
            # the 1-row normalization totals broadcast either way
            assert ("tot",) in hinted, threshold
            if threshold > 0:
                assert vectors <= set(hinted), threshold
            else:
                assert not vectors & set(hinted)
            hinted.clear()
            qs["spatial_dbscan_clusters"](spark, SF_DIR)
            assert bool(hinted) == (threshold > 0), (threshold, hinted)


def test_hits_identical_on_both_gate_sides(spark):
    """graph_hits_bipartite rows are identical whether the score vectors
    broadcast (default) or take the shuffle join (threshold -1)."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    fn = all_queries()["graph_hits_bipartite"]
    base = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    with broadcast_threshold(spark, -1):
        fallback = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert base == fallback and len(base) > 0


def test_dbscan_identical_on_both_gate_sides(spark):
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    fn = all_queries()["spatial_dbscan_clusters"]
    base = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    with broadcast_threshold(spark, -1):
        fallback = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert base == fallback and len(base) > 0


def test_dbscan_plan_follows_broadcast_threshold(spark):
    """At sf0.01 (the first scale with core points, so no assembly join is
    pruned as empty) the DBSCAN physical plan broadcasts under the default
    threshold and holds no broadcast exchange at -1: no hint forces one
    past a threshold that turns broadcasts off. The plan is read before
    execution — the one AQE starts from; once run, it is a single result
    stage."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    fn = all_queries()["spatial_dbscan_clusters"]

    def broadcasts() -> int:
        df = fn(spark, SF_MEDIUM)
        return sum(
            n.getClass().getSimpleName() == "BroadcastExchangeExec"
            for n in physical_nodes(df)
        )

    assert broadcasts() >= 1
    with broadcast_threshold(spark, -1):
        assert broadcasts() == 0


def test_optimized_write_sizes_merge_output_and_preserves_rows(spark, tmp_path):
    """MERGE's staged rewrite lands as ONE right-sized file (REBALANCE +
    AQE advisory sizing) where the unhinted anti-join ∪ source union wrote
    one file per upstream task (16 at this shape), and the snapshot holds
    exactly the upserted rows."""
    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable

    base = spark.range(0, 5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    ).repartition(8)
    t = TxTable.create(spark, str(tmp_path / "t"), base)
    src = spark.range(2000, 7000).select(
        F.col("id").alias("k"), (F.col("id") * 3).cast("double").alias("v")
    ).repartition(8)
    t.merge(src, "k")

    want = [(k, 2.0 * k) for k in range(2000)] + [
        (k, 3.0 * k) for k in range(2000, 7000)
    ]
    assert sorted(map(tuple, t.read().collect())) == want
    assert len(t.manifest(1)["files"]) == 1


def test_concurrent_commit_jobs_identical_on_both_gate_sides(spark, tmp_path):
    """The commit-job overlap is pure scheduling: a
    change-feed MERGE+DELETE build, whose change-file sidecars stage
    concurrently with the data, and a TxGroup transact, whose two member
    prepares run concurrently, give exactly the snapshot, change rows and
    tiers computed here in Python."""
    from tmdb_movie_data_pipeline_spark.plans.acid import TxTable
    from tmdb_movie_data_pipeline_spark.plans.txgroup import TxGroup

    base = spark.range(0, 3000).select(
        F.col("id").alias("k"), (F.col("id") % 19).cast("double").alias("v")
    )
    t = TxTable.create(spark, str(tmp_path / "t"), base, change_feed=True)
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
    hot = TxTable.create(spark, str(tmp_path / "hot"), base.filter(F.col("k") % 2 == 0))
    cold = TxTable.create(
        spark, str(tmp_path / "cold"), base.filter(F.col("k") % 2 == 1)
    )
    g = TxGroup(spark, str(tmp_path))
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

    merged = {k: float(k % 19) for k in range(1500)}
    merged.update({k: float(k % 7) for k in range(1500, 4000)})
    assert snap == [(k, v) for k, v in merged.items() if not 100 <= k <= 400]
    # an update records only rows whose value changed
    assert changes == {
        1: sorted(
            [("update", k, float(k % 7)) for k in range(1500, 3000) if k % 19 != k % 7]
            + [("insert", k, float(k % 7)) for k in range(3000, 4000)]
        ),
        2: [("delete", k, float(k % 19)) for k in range(100, 401)],
    }
    rows = [(k, float(k % 19)) for k in range(3000)]
    assert tiers == (
        [r for r in rows if r[0] % 2 == 0 or r[0] % 5 == 0],
        [r for r in rows if r[0] % 2 == 1 and r[0] % 5 != 0],
    )


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
