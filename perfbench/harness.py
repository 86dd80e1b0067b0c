"""Benchmark harness: set-up, warm-up, measured passes and output checks
shared by every workload, plus the query workloads' operation.

``Bench`` drives one workload in one process with one closed-loop client;
``QueryBench`` runs ``sql_analytics`` and ``llm_corpus`` and
``backfill.BackfillBench`` runs ``etl_backfill``."""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from workloads import (
    BENCH_SCALE,
    PER_LAYER,
    QUERY_WORKLOADS,
    WORKLOADS,
    collect_digest,
    digest_frame,
)


def percentile_tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it (at least
    the median), interpolated like the median; and which percentile."""
    pct = max(50, min(99, int(100 * (1 - 10 / len(values)))))
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1], pct


class Bench:
    """One workload's set-up, warm-up and measured passes."""

    #: set-ups per run; ``setup_s`` is their median
    setups = 3
    #: whether every checked output needs a digest in ``expected.json``
    digest_required = True

    def __init__(self, args, run_dir: Path):
        if args.workload not in WORKLOADS:
            raise SystemExit(f"unknown workload {args.workload!r}; choose from {WORKLOADS}")
        self.args = args
        self.workload = args.workload
        self.scale = args.scale if args.scale is not None else BENCH_SCALE
        self.run_dir = run_dir
        path = Path(args.expected)
        self.expected = (
            json.loads(path.read_text()) if path.exists() else {"queries": {}, "backfill": {}}
        )
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}
        self.latencies: list[float] = []
        self.passes: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []
        self.first_digest: dict[str, tuple] = {}
        self.unstable: set[str] = set()
        self.measuring = False
        self.untimed_s = 0.0

    # -- set-up --------------------------------------------------------------

    def start_session(self):
        from tmdb_movie_data_pipeline_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.run_dir / "tmp" / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
        }
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)

    def setup(self) -> list[float]:
        """Run set-up ``setups`` times; keep the last one's inputs. The
        first launches the JVM; the others restart the SparkContext in it."""
        times = []
        for i in range(self.setups):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(self.run_dir / "data", ignore_errors=True)
                (self.run_dir / "data").mkdir()
            t0 = time.perf_counter()
            self.start_session()
            if i == 0:
                self.layer["session.start_s"] = time.perf_counter() - t0
            self.prepare(self.run_dir / "data" / f"setup{i}")
            times.append(time.perf_counter() - t0)
        return times

    def prepare(self, data_dir: Path) -> None:
        raise NotImplementedError

    # -- measurement ---------------------------------------------------------

    @contextmanager
    def untimed(self):
        """Leave the enclosed work (output checks, extra measurements) out
        of the pass's wall time."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def run_pass(self, order: list[str], traced: bool, count: bool = True) -> float:
        """Run one pass and return its wall time, leaving out the
        ``untimed`` work."""
        self.untimed_s = 0.0
        t0 = time.perf_counter()
        for name in order:
            t_op = time.perf_counter()
            try:
                dt, problem = self.run_op(name, traced)
            except Exception as exc:  # a failing operation is counted, not fatal
                dt, problem = time.perf_counter() - t_op, f"raised {type(exc).__name__}: {exc}"[:500]
            self.attempted += 1
            if count:
                self.latencies.append(dt)
            print(f"# {'op' if count else 'warm-up'} {name}: {dt:.3f} s", flush=True)
            if problem:
                self.failures.append(f"{name}: {problem}")
        return time.perf_counter() - t0 - self.untimed_s

    def measure(self, seconds: float, traced: bool) -> list[float]:
        walls = []
        t0 = time.perf_counter()
        while not walls or time.perf_counter() - t0 < seconds:
            walls.append(self.run_pass(self.pass_order(), traced))
        return walls

    def check_digest(self, name: str, got: tuple) -> str | None:
        first = self.first_digest.setdefault(name, got)
        if got != first:
            self.unstable.add(name)
        want = self.expected_for(name)
        if want is None:
            return "no expected output recorded" if self.digest_required else None
        if list(got) != list(want):
            return f"output (rows, digest) {list(got)} != expected {list(want)}"
        return None

    def expected_for(self, name: str):
        return self.expected["queries"].get(str(self.scale), {}).get(name)

    # -- result --------------------------------------------------------------

    def end_to_end(self, setup_times: list[float]) -> dict[str, dict]:
        """``setup_s`` and ``pass_wall_s``. Operation latency percentiles
        are printed, not reported: a run holds too few operations for a
        percentile to repeat between runs."""
        tail, pct = percentile_tail(self.latencies)
        print(
            f"# {self.workload}: {len(self.passes)} passes, {len(self.latencies)} ops, "
            f"op latency p50 {statistics.median(self.latencies):.3f} s, "
            f"p{pct} {tail:.3f} s, failed {len(self.failures)}/{self.attempted}"
        )
        return {
            "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
            "pass_wall_s": {"value": statistics.median(self.passes), "unit": "s"},
        }

    def run(self) -> dict:
        args = self.args
        setup_times = self.setup()
        print(f"# setup_s samples: {[round(t, 3) for t in setup_times]}", flush=True)
        t0 = time.perf_counter()
        self.run_pass(self.pass_order(), traced=False, count=False)
        self.layer["warmup.pass_s"] = time.perf_counter() - t0
        self.measuring = True
        if args.trace:
            from tracing import ProcSampler, Tracer

            untraced = self.measure(args.seconds / 2, traced=False)
            self.tracer = Tracer(self.spark)
            with ProcSampler(self.spark.sparkContext._gateway.proc.pid) as proc:
                traced = self.measure(args.seconds / 2, traced=True)
            self.passes = untraced + traced
            self.layer["proc.rss_peak_mb"] = proc.peak_mb
            self.layer["proc.python_workers_forked"] = len(proc.workers)
            self.layer["trace.untraced_pass_wall_s"] = statistics.median(untraced)
            self.layer["trace.traced_pass_wall_s"] = statistics.median(traced)
            self.layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            self.finish_layers(len(traced))
        else:
            self.passes = self.measure(args.seconds, traced=False)
        metrics = self.end_to_end(setup_times)
        if args.trace:
            metrics = {k: {"value": self.layer.get(k, 0.0), "unit": u} for k, u in PER_LAYER}
            self.dump_trace()
        for f in self.failures:
            print(f"# FAILED {f}")
        for name in sorted(self.unstable):
            print(f"# UNSTABLE digest across passes: {name}")
        return {
            "correct": not self.failures and not self.unstable,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": metrics,
        }

    def finish_layers(self, traced_passes: int) -> None:
        raise NotImplementedError

    def dump_trace(self) -> None:
        out = self.run_dir.parent / "traces"
        out.mkdir(exist_ok=True)
        path = out / f"{self.workload}-seed{self.args.seed}.json"
        path.write_text(json.dumps({"spans": self.tracer.spans, "layers": self.layer}))
        print(f"# spans: {path} ({len(self.tracer.spans)} spans)")


class QueryBench(Bench):
    """``sql_analytics`` / ``llm_corpus``: registered query + digest."""

    LAYER_SUMS = (
        "build.wall_s", "build.self_s", "build.jobs", "build.tasks", "build.executor_run_s",
        "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
        "exec.wall_s", "exec.self_s", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
        "exec.warm_action_s", "op.self_s",
        "python.total_s", "python.boot_s", "python.mb_sent",
        "python.rows_received",
    )

    def __init__(self, args, run_dir):
        super().__init__(args, run_dir)
        self.names = QUERY_WORKLOADS[self.workload]
        self.rng = random.Random(args.seed)
        self.sums = dict.fromkeys(self.LAYER_SUMS, 0.0)
        self.staged_max = (0, 0.0)
        self.lsh_builds: list[float] = []

    def pass_order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def prepare(self, data_dir: Path) -> None:
        from datagen import write_tables
        from tmdb_movie_data_pipeline_spark.registry import all_queries

        write_tables(str(data_dir), self.scale)
        self.data_dir = str(data_dir)
        self.queries = all_queries()
        if self.workload == "llm_corpus":
            from tmdb_movie_data_pipeline_spark.operators.dedup import lsh_pairs_staged

            t0 = time.perf_counter()
            lsh_pairs_staged(self.spark, self.data_dir).count()
            self.lsh_builds.append(time.perf_counter() - t0)

    def run_op(self, name: str, traced: bool) -> tuple[float, str | None]:
        if traced:
            return self.run_traced_op(name)
        t0 = time.perf_counter()
        got = collect_digest(digest_frame(self.queries[name](self.spark, self.data_dir)))
        return time.perf_counter() - t0, self.check_digest(name, got)

    def run_traced_op(self, name: str) -> tuple[float, str | None]:
        tr, s = self.tracer, self.sums
        op = f"{name}#{len(tr.spans)}"
        tr.begin_op()
        with tr.span("op", op) as op_span:
            with tr.span("build", op, group=f"{op}:build") as b_span:
                df = self.queries[name](self.spark, self.data_dir)
            with tr.span("action", op, group=f"{op}:exec") as a_span:
                dig = digest_frame(df)
                got = collect_digest(dig)
        dt = op_span["end"] - op_span["start"]
        tr.settle()
        build = tr.group_stats(f"{op}:build", b_span)
        exe = tr.group_stats(f"{op}:exec", a_span)
        for k, v in tr.plan_phases(dig, a_span).items():
            s[k] += v
        s["build.wall_s"] += b_span["end"] - b_span["start"]
        s["exec.wall_s"] += a_span["end"] - a_span["start"]
        for k in ("jobs", "tasks", "executor_run_s"):
            s[f"build.{k}"] += build[k]
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            s[f"exec.{k}"] += exe[k]
        for part in (build["python"], exe["python"]):
            for k, v in part.items():
                s[k] += v
        rdds, mb = tr.staged()
        self.staged_max = max(self.staged_max, (rdds, mb), key=lambda x: x[1])
        self.staged_last = (rdds, mb)
        with self.untimed():
            t0 = time.perf_counter()
            collect_digest(digest_frame(df))
            s["exec.warm_action_s"] += time.perf_counter() - t0
        return dt, self.check_digest(name, got)

    def finish_layers(self, traced_passes: int) -> None:
        selfs = self.tracer.self_times()
        self.sums["build.self_s"] = selfs.get("build", 0.0)
        self.sums["exec.self_s"] = selfs.get("action", 0.0)
        self.sums["op.self_s"] = selfs.get("op", 0.0)
        for k, v in self.sums.items():
            self.layer[k] = v / traced_passes
        b, e = self.sums["build.wall_s"], self.sums["exec.wall_s"]
        self.layer["build.share"] = b / (b + e)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        run_s = self.sums["build.executor_run_s"] + self.sums["exec.executor_run_s"]
        self.layer["exec.slot_utilization"] = run_s / ((b + e) * cores)
        self.layer["stage.rdds_after_op"] = self.staged_max[0]
        self.layer["stage.block_mb_after_op"] = self.staged_max[1]
        self.layer["stage.mb_after_last_op"] = self.staged_last[1]
        self.layer["dedup.lsh_stage_build_s"] = (
            statistics.median(self.lsh_builds) if self.lsh_builds else 0.0
        )
