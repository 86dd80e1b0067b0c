"""``etl_backfill`` workload: the reference pipeline over a seeded paged-REST
fixture. A pass is three ``pipeline.run_backfill`` calls on one output
directory: full, resume (last months dropped from the checkpoint), no-op.

Each call is checked against ``datagen.expected_master`` (an independent
model of the pipeline), the months it ran and the rows it reported; the
resume must leave the untouched month partitions byte-for-byte as they
were, and the no-op must leave the master output alone."""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
import statistics
import time
from pathlib import Path

import pyarrow.parquet as pq

import datagen
from harness import Bench
from tracing import MB
from workloads import (
    BACKFILL_FIRST_MONTH,
    BACKFILL_OPS,
    BACKFILL_SHAPE,
    RESUME_MONTHS,
    collect_digest,
    digest_frame,
)


def snapshot(root: Path) -> dict[str, tuple[int, int]]:
    """{relative path: (size, mtime_ns)} of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out[os.path.relpath(os.path.join(dirpath, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def data_bytes(root: Path) -> tuple[int, int]:
    """(bytes in data files, number of files of any kind) under ``root``."""
    size = count = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            count += 1
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, f))
    return size, count


class BackfillBench(Bench):
    setups = 5  # a set-up is cheap here, and its median needs the samples
    # seeds without a recorded master digest are still checked row by row
    # against the model in check_master
    digest_required = False

    def __init__(self, args, run_dir):
        super().__init__(args, run_dir)
        months, pages, per_page = BACKFILL_SHAPE[self.scale]
        self.windows = datagen.month_keys(BACKFILL_FIRST_MONTH, months)
        self.resumed = self.windows[-RESUME_MONTHS:]
        self.records = datagen.backfill_records(
            args.seed, months, pages, per_page, BACKFILL_FIRST_MONTH
        )
        self.want_master = datagen.expected_master(self.records)
        self.want_rows = {
            "backfill_full": (len(self.windows), datagen.month_rows(self.records, self.windows)),
            "backfill_resume": (RESUME_MONTHS, datagen.month_rows(self.records, self.resumed)),
            "backfill_noop": (0, 0),
        }
        self.passes_run = 0
        # (latency, rows) of the measured passes
        self.full: list[tuple[float, int]] = []
        self.resume: list[tuple[float, int]] = []
        self.noop: list[tuple[float, int]] = []
        self.sums: dict[str, float] = defaultdict(float)

    def pass_order(self) -> list[str]:
        return list(BACKFILL_OPS)

    def prepare(self, data_dir: Path) -> None:
        self.fixture = data_dir / "fixture"
        self.fixture_bytes = datagen.write_backfill_fixture(str(self.fixture), self.records)

    def backfill_args(self) -> dict:
        return dict(
            date_from=self.windows[0][0],
            date_to=self.windows[-1][1],
            out_dir=str(self.out),
            checkpoint_path=str(self.out / "checkpoint.json"),
            genre_map=datagen.GENRE_MAP,
            image_base=datagen.IMAGE_BASE,
            poster_size=datagen.POSTER_SIZE,
            source_options={"fixture_dir": str(self.fixture)},
        )

    def run_op(self, name: str, traced: bool) -> tuple[float, str | None]:
        from tmdb_movie_data_pipeline_spark.pipeline import run_backfill
        from tmdb_movie_data_pipeline_spark.plans.checkpoint import save_done_keys

        with self.untimed():
            if name == "backfill_full":
                self.passes_run += 1
                self.out = self.run_dir / "out" / f"pass{self.passes_run}"
            before = {}
            if name == "backfill_resume":
                done = [f"{a}_{b}" for a, b in self.windows[:-RESUME_MONTHS]]
                save_done_keys(done, str(self.out / "checkpoint.json"))
                before = {
                    k: v for k, v in snapshot(self.out / "monthly_parts").items()
                    if k.split("/")[0].removeprefix("unit_key=") in done
                }
            if name == "backfill_noop":
                before = snapshot(self.out / "master_parquet")
        if not traced:
            t0 = time.perf_counter()
            stats = run_backfill(self.spark, **self.backfill_args())
            dt = time.perf_counter() - t0
        else:
            self.traced_checkpoint(name)
            tr = self.tracer
            op = f"{name}#{len(tr.spans)}"
            tr.begin_op()
            with tr.span("op", op) as span:
                with tr.span("backfill", op, group=f"{op}:backfill") as b_span:
                    stats = run_backfill(self.spark, **self.backfill_args())
            dt = span["end"] - span["start"]
            tr.settle()
            st = tr.group_stats(f"{op}:backfill", b_span)
            self.sums["exec.wall_s"] += dt
            self.sums["backfill.jobs"] += st["jobs"]
            self.sums["backfill.tasks"] += st["tasks"]
            for k, v in st.items():
                if k != "python":
                    self.sums[f"exec.{k}"] += v
            for k, v in st["python"].items():
                self.sums[k] += v
        with self.untimed():
            problem = self.check(name, stats, before)
            if name == "backfill_full":
                self.measure_output()
            if name == "backfill_noop":
                shutil.rmtree(self.out, ignore_errors=True)
        if self.measuring:
            {"backfill_full": self.full, "backfill_resume": self.resume,
             "backfill_noop": self.noop}[name].append((dt, stats["rows"]))
        return dt, problem

    def check(self, name: str, stats: dict, before: dict) -> str | None:
        months, rows = self.want_rows[name]
        if (stats["months_run"], stats["rows"]) != (months, rows):
            return f"ran {stats} != expected months_run={months} rows={rows}"
        if name == "backfill_resume":
            parts = self.out / "monthly_parts"
            after = {k: v for k, v in snapshot(parts).items() if k in before}
            if after != before:
                return "resume rewrote month partitions it did not run"
        if name == "backfill_noop":
            if snapshot(self.out / "master_parquet") != before:
                return "no-op backfill rewrote the master output"
            return None
        return self.check_master(name)

    def check_master(self, name: str) -> str | None:
        from tmdb_movie_data_pipeline_spark.schemas import MOVIE_COLS

        tbl = pq.read_table(self.out / "master_parquet").select(MOVIE_COLS)
        got = sorted(tuple(r[c] for c in MOVIE_COLS) for r in tbl.to_pylist())
        if got != self.want_master:
            return f"master rows differ from the model ({len(got)} vs {len(self.want_master)})"
        csv_rows = -1
        for f in (self.out / "master_csv").glob("part-*.csv"):
            with open(f) as fh:
                csv_rows += sum(1 for _ in fh)
        if csv_rows != len(self.want_master):
            return f"master CSV has {csv_rows} rows, expected {len(self.want_master)}"
        master = self.spark.read.parquet(str(self.out / "master_parquet"))
        return self.check_digest(name, collect_digest(digest_frame(master)))

    def expected_for(self, name: str):
        by_seed = self.expected["backfill"].get(str(self.scale), {})
        return by_seed.get(str(self.args.seed), {}).get("master")

    def measure_output(self) -> None:
        sizes = {}
        files = 0
        for sub in ("monthly_parts", "master_parquet", "master_csv"):
            sizes[sub], n = data_bytes(self.out / sub)
            files += n
        self.output = (sizes, files)

    # -- traced-only layers --------------------------------------------------

    def traced_checkpoint(self, name: str) -> None:
        """Pending units as the pipeline's checkpoint layer sees them."""
        if name != "backfill_resume":
            return
        from tmdb_movie_data_pipeline_spark.plans.checkpoint import load_done_keys, pending_units

        units = self.spark.createDataFrame(
            [(f"{a}_{b}",) for a, b in self.windows], "unit_key string"
        )
        done = load_done_keys(self.spark, str(self.out / "checkpoint.json"))
        self.layer["checkpoint.pending_units"] = pending_units(units, done).count()

    def fetch_all_windows(self) -> None:
        """``sources.rest.fetch_window`` over every window, with a counting
        transport that serves the fixture pages."""
        import json

        from tmdb_movie_data_pipeline_spark.sources.rest import fetch_window

        pages = records = 0

        def transport(params: dict) -> dict:
            nonlocal pages
            pages += 1
            path = self.fixture / (
                f"{params['primary_release_date.gte']}_"
                f"{params['primary_release_date.lte']}_p{params['page']}.json"
            )
            with open(path) as f:
                return json.load(f)

        t0 = time.perf_counter()
        for a, b in self.windows:
            records += sum(1 for _ in fetch_window(transport, a, b))
        self.layer["source.fetch_window_s"] = time.perf_counter() - t0
        self.layer["source.pages"] = pages
        self.layer["source.records"] = records

    def finish_layers(self, traced_passes: int) -> None:
        self.fetch_all_windows()
        for k, v in self.sums.items():
            self.layer[k] = v / traced_passes
        sizes, files = self.output
        self.layer["backfill.parts_mb"] = sizes["monthly_parts"] / MB
        self.layer["backfill.master_parquet_mb"] = sizes["master_parquet"] / MB
        self.layer["backfill.master_csv_mb"] = sizes["master_csv"] / MB
        self.layer["backfill.files_written"] = files
        self.layer["backfill.write_amplification"] = sum(sizes.values()) / self.fixture_bytes
        self.layer["backfill.rows_per_s"] = statistics.median(r / t for t, r in self.full)
        self.layer["backfill.resume_s"] = statistics.median(t for t, _ in self.resume)
        self.layer["checkpoint.noop_s"] = statistics.median(t for t, _ in self.noop)
        rdds, mb = self.tracer.staged()
        self.layer["stage.rdds_after_op"] = rdds
        self.layer["stage.block_mb_after_op"] = mb
        self.layer["stage.mb_after_last_op"] = mb
        selfs = self.tracer.self_times()
        self.layer["op.self_s"] = selfs.get("op", 0.0) / traced_passes
        self.layer["exec.self_s"] = selfs.get("backfill", 0.0) / traced_passes
