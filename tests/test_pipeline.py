"""End-to-end backfill pipeline: ingest → normalize → dedup → partitioned
write → checkpoint → master merge, offline via the fixture transport."""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql.readwriter import DataFrameWriter

from conftest import job_group, physical_nodes
from tmdb_movie_data_pipeline_spark.pipeline import run_backfill


def _write_fixture(tmp_path, win_start, win_end, movies, page=1, total_pages=1):
    doc = {"total_pages": total_pages, "results": movies}
    (tmp_path / f"{win_start}_{win_end}_p{page}.json").write_text(json.dumps(doc))


def _backfill_args(tmp_path, fixtures, date_from, date_to, name="out"):
    return dict(
        date_from=date_from,
        date_to=date_to,
        out_dir=str(tmp_path / name),
        checkpoint_path=str(tmp_path / f"{name}.ckpt.json"),
        genre_map={28: "Action", 35: "Comedy"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": str(fixtures)},
    )


def _movie(mid, date, pop, title=None):
    return {
        "id": mid,
        "title": title or f"Movie {mid}",
        "original_title": f"OT {mid}",
        "release_date": date,
        "genre_ids": [28],
        "vote_average": 7.0,
        "vote_count": 100,
        "popularity": pop,
        "original_language": "en",
        "overview": "x",
        "poster_path": f"/p{mid}.jpg",
        "adult": False,
    }


# Jobs one two-month run launches: the partitioned write (the scan of the
# ingested rows, then the per-month dedup shuffle), the master Parquet write
# (parts scan, then the global dedup shuffle) and the single-file CSV copy.
# Under the driver gate that first scan reads a local relation the driver
# filled with the fetched pages; over it, the paged_rest DataSource fetches
# the pages inside the scan. The count is the same on both sides. The
# checkpoint diff, the row count and both schemas stay on the driver.
FULL_RUN_JOB_BUDGET = 5


def test_backfill_end_to_end(spark, tmp_path):
    """Also pins the job budget: only data movement launches Spark jobs, and
    a fully checkpointed re-run launches none."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    # Jan: movie 1 twice (dup within month, higher popularity survives), movie 2
    _write_fixture(
        fixtures, "2023-01-01", "2023-01-31",
        [_movie(1, "2023-01-10", 50.0, "keep-me"), _movie(1, "2023-01-10", 10.0, "drop-me"),
         _movie(2, "2023-01-20", 30.0)],
    )
    # Feb: movie 2 again (cross-month dup → January survivor wins), movie 3
    _write_fixture(
        fixtures, "2023-02-01", "2023-02-28",
        [_movie(2, "2023-02-05", 99.0), _movie(3, "2023-02-15", 20.0)],
    )

    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt.json")
    args = dict(
        date_from="2023-01-01",
        date_to="2023-02-28",
        out_dir=str(out),
        checkpoint_path=ckpt,
        genre_map={28: "Action"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": str(fixtures)},
    )
    with job_group(spark, f"backfill-full-{tmp_path.name}") as full_jobs:
        stats = run_backfill(spark, **args)
    assert stats["months_run"] == 2
    assert stats["rows"] == 4  # in-month dup of movie 1 collapsed
    assert 0 < len(full_jobs) <= FULL_RUN_JOB_BUDGET, full_jobs
    # the observed count is the written count
    assert spark.read.parquet(str(out / "monthly_parts")).count() == stats["rows"]

    master = spark.read.parquet(str(out / "master_parquet"))
    rows = {r.tmdb_id: r for r in master.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].title == "keep-me"  # A1: popularity-desc survivor
    assert rows[2].release_date == "2023-01-20"  # A2: earliest month wins
    assert rows[1].genres == "Action"
    assert rows[1].poster_url == "https://cdn/w500/p1.jpg"

    # CSV master is a single file with header (W3 parity)
    csvs = glob.glob(str(out / "master_csv" / "part-*.csv"))
    assert len(csvs) == 1

    # resume: everything checkpointed → no work, not even a Spark job (R4)
    with job_group(spark, f"backfill-noop-{tmp_path.name}") as noop_jobs:
        stats2 = run_backfill(spark, **args)
    assert stats2 == {"months_run": 0, "rows": 0}
    assert noop_jobs == []


def test_backfill_mid_month_date_to_keeps_final_window(spark, tmp_path):
    """A non-month-aligned --to clamps the final window (2023-02-01..
    2023-02-15). Rows fetched by that window — including one with a NULL
    release_date — must land in the output and the checkpoint, because unit
    attribution is by fetch-window provenance, not re-derived from
    release_date (ADVICE r1, high)."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    _write_fixture(
        fixtures, "2023-01-01", "2023-01-31", [_movie(1, "2023-01-10", 50.0)]
    )
    nodate = _movie(3, None, 5.0, "undated")
    _write_fixture(
        fixtures, "2023-02-01", "2023-02-15",
        [_movie(2, "2023-02-10", 30.0), nodate],
    )

    out = tmp_path / "out"
    args = dict(
        date_from="2023-01-01",
        date_to="2023-02-15",
        out_dir=str(out),
        checkpoint_path=str(tmp_path / "ckpt.json"),
        genre_map={28: "Action"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": str(fixtures)},
    )
    stats = run_backfill(spark, **args)
    assert stats["months_run"] == 2
    assert stats["rows"] == 3  # clamped-window rows NOT dropped

    master = spark.read.parquet(str(out / "master_parquet"))
    got = {r.tmdb_id: r for r in master.collect()}
    assert set(got) == {1, 2, 3}
    assert got[3].release_date is None  # null release_date survives

    done = json.loads((tmp_path / "ckpt.json").read_text())["done_units"]
    assert "2023-02-01_2023-02-15" in done
    # resume is a no-op — the clamped window was committed, not lost
    assert run_backfill(spark, **args) == {"months_run": 0, "rows": 0}


def test_backfill_rerun_month_does_not_wipe_other_partitions(spark, tmp_path):
    """Dynamic partition overwrite is set on the writer itself: re-running
    one month must not delete other months' committed partitions even on a
    session without partitionOverwriteMode=dynamic (ADVICE r1, medium)."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    _write_fixture(
        fixtures, "2023-01-01", "2023-01-31", [_movie(1, "2023-01-10", 50.0)]
    )
    _write_fixture(
        fixtures, "2023-02-01", "2023-02-28", [_movie(2, "2023-02-10", 30.0)]
    )
    out = tmp_path / "out"
    common = dict(
        out_dir=str(out),
        genre_map={28: "Action"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": str(fixtures)},
    )
    # run 1 commits January under ckpt A
    run_backfill(
        spark, date_from="2023-01-01", date_to="2023-01-31",
        checkpoint_path=str(tmp_path / "ckptA.json"), **common,
    )
    # run 2 commits February under a FRESH checkpoint: with static overwrite
    # this would wipe January's partition from monthly_parts
    run_backfill(
        spark, date_from="2023-02-01", date_to="2023-02-28",
        checkpoint_path=str(tmp_path / "ckptB.json"), **common,
    )
    parts = spark.read.parquet(str(out / "monthly_parts"))
    assert {r.tmdb_id for r in parts.collect()} == {1, 2}


def test_backfill_of_empty_months_commits_empty_master(spark, tmp_path):
    """Months whose windows return no records still commit: the master read
    is given its schema, so an empty ``monthly_parts`` is not a schema
    inference failure after the checkpoint was already saved."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    out = tmp_path / "out"
    args = dict(
        date_from="2023-01-01",
        date_to="2023-02-28",
        out_dir=str(out),
        checkpoint_path=str(tmp_path / "ckpt.json"),
        genre_map={28: "Action"},
        image_base="https://cdn/",
        poster_size="w500",
        source_options={"fixture_dir": str(fixtures)},
    )
    assert run_backfill(spark, **args) == {"months_run": 2, "rows": 0}
    assert spark.read.parquet(str(out / "master_parquet")).count() == 0
    assert len(glob.glob(str(out / "master_csv" / "part-*.csv"))) == 1


def _files(root):
    """{relative path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            st = os.stat(os.path.join(dirpath, n))
            out[os.path.relpath(os.path.join(dirpath, n), root)] = (st.st_size, st.st_mtime_ns)
    return out


def test_backfill_resume_requests_only_pending_months(spark, tmp_path):
    """A resume whose pending months are not contiguous must not request the
    done month between them again: February is checkpointed done and its
    fixture page is now unreadable, so any request for it fails the run.
    February's committed partition files stay as they were."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    _write_fixture(fixtures, "2023-01-01", "2023-01-31", [_movie(1, "2023-01-10", 5.0)])
    _write_fixture(fixtures, "2023-02-01", "2023-02-28", [_movie(2, "2023-02-10", 5.0)])
    _write_fixture(fixtures, "2023-03-01", "2023-03-31", [_movie(3, "2023-03-10", 5.0)])
    feb = _backfill_args(tmp_path, fixtures, "2023-02-01", "2023-02-28")
    assert run_backfill(spark, **feb)["months_run"] == 1
    (fixtures / "2023-02-01_2023-02-28_p1.json").write_text("{not json")
    parts = tmp_path / "out" / "monthly_parts"
    feb_part = parts / "unit_key=2023-02-01_2023-02-28"
    before = _files(feb_part)
    assert before

    stats = run_backfill(spark, **dict(feb, date_from="2023-01-01", date_to="2023-03-31"))
    assert stats == {"months_run": 2, "rows": 2}
    assert _files(feb_part) == before
    master = spark.read.parquet(str(tmp_path / "out" / "master_parquet"))
    assert sorted(r.tmdb_id for r in master.collect()) == [1, 2, 3]


def _python_source_scans(df):
    """Python-DataSource scan nodes in ``df``'s physical plan."""
    return sum(
        node.getClass().getSimpleName() == "BatchScanExec"
        and "Python" in node.scan().getClass().getSimpleName()
        for node in physical_nodes(df)
    )


def test_backfill_identical_on_all_sides_of_driver_gate(spark, tmp_path, monkeypatch):
    """The same fixture backfilled on the driver path (the session's
    threshold), through the distributed read after the estimate exceeds a
    tiny threshold, and with the driver path off (threshold -1) gives the
    same stats, partitions, master, CSV and checkpoint."""
    fixtures = tmp_path / "fx"
    fixtures.mkdir()
    odd = dict(_movie(4, None, 8.0), poster_path=None, genre_ids=[], vote_average=7)
    blank = dict(_movie(5, "2023-01-12", 6.0), poster_path="", genre_ids=[28, 9999])
    _write_fixture(
        fixtures, "2023-01-01", "2023-01-31",
        [_movie(1, "2023-01-10", 50.0, "keep-me"), _movie(1, "2023-01-10", 10.0, "drop-me"),
         _movie(2, "2023-01-20", 30.0), odd],
        total_pages=2,
    )
    _write_fixture(fixtures, "2023-01-01", "2023-01-31", [blank], page=2, total_pages=2)
    _write_fixture(
        fixtures, "2023-02-01", "2023-02-28",
        [_movie(2, "2023-02-05", 99.0), _movie(3, "2023-02-15", 20.0)],
    )
    written = []
    write = DataFrameWriter.parquet

    def capture(self, path, *args, **kwargs):
        if path.endswith("monthly_parts"):
            written.append(self._df)
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    conf = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(conf)
    results = {}
    try:
        for side, threshold in [("driver", saved), ("over_cap", "300"), ("off", "-1")]:
            spark.conf.set(conf, threshold)
            args = _backfill_args(tmp_path, fixtures, "2023-01-01", "2023-02-28", side)
            with job_group(spark, f"backfill-{side}-{tmp_path.name}") as jobs:
                stats = run_backfill(spark, **args)
            assert 0 < len(jobs) <= FULL_RUN_JOB_BUDGET, (side, jobs)
            assert _python_source_scans(written[-1]) == (side != "driver"), side
            out = tmp_path / side
            csv = sorted(
                line
                for f in glob.glob(str(out / "master_csv" / "part-*.csv"))
                for line in open(f).read().splitlines()
            )
            results[side] = (
                stats,
                sorted(spark.read.parquet(str(out / "monthly_parts")).collect(), key=repr),
                sorted(spark.read.parquet(str(out / "master_parquet")).collect(), key=repr),
                csv,
                json.loads(open(args["checkpoint_path"]).read()),
            )
    finally:
        spark.conf.set(conf, saved)
    assert results["driver"] == results["over_cap"] == results["off"]
    stats, parts, master, csv, _ = results["driver"]
    assert stats == {"months_run": 2, "rows": 6}
    got = {r.tmdb_id: r for r in master}
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[4].release_date is None and got[4].vote_average == 7.0
    assert got[4].poster_url is None and got[5].poster_url is None
    assert (got[4].genres, got[5].genres) == ("", "Action|9999")
    assert len(csv) == 6  # header plus five movies
