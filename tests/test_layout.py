"""Data-layout policies: sorted writes enable row-group pruning; compaction
reduces file counts without changing data."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from tmdb_movie_data_pipeline_spark.plans.layout import compact, write_sorted


def test_write_sorted_layout_and_content(spark, tmp_path):
    df = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    p = str(tmp_path / "sorted")
    write_sorted(df, p, ["k"], n_files=4)
    files = glob.glob(p + "/part-*.parquet")
    assert len(files) == 4
    back = spark.read.parquet(p)
    assert back.count() == 10000
    # each file covers a disjoint k-range (range partitioning): global
    # min/max of any single file must not overlap another's
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(files):
        md = pq.ParquetFile(f).metadata
        col = md.row_group(0).column(0).statistics
        ranges.append((col.min, pq.ParquetFile(f).metadata.row_group(md.num_row_groups - 1).column(0).statistics.max))
    ranges.sort()
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2


def test_compact_reduces_files(spark, tmp_path):
    src = str(tmp_path / "small")
    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    df.repartition(32).write.parquet(src)  # 32 small files
    assert len(glob.glob(src + "/part-*.parquet")) == 32
    out = str(tmp_path / "compacted")
    n = compact(spark, src, out, target_rows_per_file=10000)
    assert n == 1
    assert len(glob.glob(out + "/part-*.parquet")) == 1
    assert spark.read.parquet(out).count() == 5000


def test_zorder_layout_prunes_two_dims(spark, tmp_path):
    """Morton-ordered files keep BOTH dimensions' footer ranges tight: for an
    aligned 2-D box predicate, fewer files can possibly match than under a
    linear x-sort (where every file spans the full y range)."""
    from tmdb_movie_data_pipeline_spark.operators.profiling import write_zordered
    from tmdb_movie_data_pipeline_spark.plans.layout import write_sorted

    import pyarrow.parquet as pq

    grid = spark.range(0, 256 * 256).select(
        (F.col("id") % 256).alias("x"), (F.col("id") / 256).cast("long").alias("y")
    )
    zp, xp = str(tmp_path / "zord"), str(tmp_path / "xsort")
    write_zordered(grid, zp, "x", "y", files=64)
    write_sorted(grid, xp, ["x"], n_files=64)

    def y_spans(path):
        spans = []
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            stats = [md.row_group(g) for g in range(md.num_row_groups)]
            lo = min(s.column(1).statistics.min for s in stats)
            hi = max(s.column(1).statistics.max for s in stats)
            spans.append(hi - lo)
        return sorted(spans)

    z_spans, x_spans = y_spans(zp), y_spans(xp)
    # x-sorted: every file spans (nearly) the whole y domain — y predicates
    # can never prune. z-ordered: a file covers ~1/64 of the Morton curve
    # (one-ish 32x32 tile), so its y footer range stays tight for most files
    # (files straddling a high-order curve boundary may span wide — that's
    # inherent to Morton order, so assert on the median, not the max).
    assert min(x_spans) >= 255
    assert z_spans[len(z_spans) // 2] <= 128, z_spans
    # layout changes must never change content
    assert spark.read.parquet(zp).count() == 256 * 256


def test_catalog_static_fields_match_registry():
    """CATALOG.json (VERDICT r10 #8) must stay in sync with the live
    registry on its REGISTRY-STATIC fields: same name set, same
    module:line, category and oracle flag — so
    registering a query without regenerating the catalog reds CI.

    History fields (first/last green round, bench appearances) are a
    snapshot stamped as_of_round and are deliberately NOT compared: the
    driver writing CORRECTNESS_r{N}.json / BENCH_DETAIL_r{N}.json between
    sessions must never red CI (the r8-r10 design rule — assert
    invariants, not a round's file state)."""
    import json
    from pathlib import Path

    from tmdb_movie_data_pipeline_spark.catalog import (
        STATIC_FIELDS,
        build_catalog,
    )

    path = Path(__file__).resolve().parent.parent / "CATALOG.json"
    checked_in = json.loads(path.read_text())
    live = build_catalog()
    assert set(checked_in["queries"]) == set(live["queries"]), (
        "CATALOG.json name set diverged from the registry — regenerate "
        "with python -m tmdb_movie_data_pipeline_spark.catalog"
    )
    for name, row in live["queries"].items():
        for f in STATIC_FIELDS:
            assert checked_in["queries"][name][f] == row[f], (
                f"CATALOG.json stale on {name}.{f} — regenerate"
            )


def test_catalog_reconfirm_debt_internally_consistent():
    """The reconfirm_debt rollup (VERDICT r11 #7) must agree with the
    per-query history rows IN THE SAME checked-in file. Both halves come
    from one build_catalog() snapshot, so this pin can never be broken by
    the driver writing a new CORRECTNESS file between sessions (the
    never-assert-round-state rule) — it only reds when a regeneration
    half-lands or the rollup arithmetic drifts from the row fields."""
    import json
    from pathlib import Path

    path = Path(__file__).resolve().parent.parent / "CATALOG.json"
    cat = json.loads(path.read_text())
    debt = cat["reconfirm_debt"]
    token = cat["as_of_round"]
    assert debt["threshold_round"] == token - 1
    active = cat["queries"]
    last = {
        n: row["last_green_round"]
        for n, row in active.items()
        if row["last_green_round"] is not None
    }
    stale = {n: r for n, r in last.items() if r < token - 1}
    assert debt["n_active_stale"] == len(stale)
    assert debt["n_never_verified"] == len(active) - len(last)
    assert debt["oldest_green_round"] == (min(last.values()) if last else None)
    assert debt["stale_by_last_green_round"] == {
        str(r): sum(1 for v in stale.values() if v == r)
        for r in sorted(set(stale.values()))
    }
    assert sum(debt["stale_by_last_green_round"].values()) == len(stale)


def test_engine_reads_only_deployment_env_vars():
    """The engine's plan choices come from the session, not from the
    environment: the only ``SPARK_GRAFT_*`` variables the package reads
    are the core count and the test-data directory. Any other read is the
    CLI's reference-parity defaults (``DATE_FROM``, ``DATE_TO``,
    ``LANGUAGE`` and the bearer variable its ``--bearer-env`` flag names),
    and only ``__main__.py`` may make it."""
    import ast
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "tmdb_movie_data_pipeline_spark"
    reads: set[tuple[str, str | None]] = set()
    for path in pkg.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Subscript):
                read, key = node.value, node.slice
            elif isinstance(node, ast.Call) and node.args:
                read, key = node.func, node.args[0]
            else:
                continue
            if ast.unparse(read) in ("os.environ", "os.environ.get", "os.getenv"):
                name = key.value if isinstance(key, ast.Constant) else None
                reads.add((path.name, name))
    engine = {name for _, name in reads if name and name.startswith("SPARK_GRAFT_")}
    assert engine == {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR"}
    other = {(f, name) for f, name in reads if name not in engine}
    assert other == {
        ("__main__.py", "DATE_FROM"),
        ("__main__.py", "DATE_TO"),
        ("__main__.py", "LANGUAGE"),
        ("__main__.py", None),
    }
