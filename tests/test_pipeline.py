"""End-to-end backfill pipeline: ingest → normalize → dedup → partitioned
write → checkpoint → master merge, offline via the fixture transport."""

from __future__ import annotations

import glob
import json

from conftest import job_group
from tmdb_movie_data_pipeline_spark.pipeline import run_backfill


def _write_fixture(tmp_path, win_start, win_end, movies):
    page = {"total_pages": 1, "results": movies}
    (tmp_path / f"{win_start}_{win_end}_p1.json").write_text(json.dumps(page))


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


# Jobs one two-month run launches: the partitioned write (source scan, then
# the per-month dedup shuffle), the master Parquet write (parts scan, then
# the global dedup shuffle) and the single-file CSV copy. The checkpoint
# diff, the row count and both schemas stay on the driver.
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
