#!/usr/bin/env python3
"""Benchmark runner: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload sql_analytics --seed 1 --seconds 20 --trace 0

Workloads (see ``workloads.py``):

* ``sql_analytics`` / ``llm_corpus`` — an operation is one registered-query
  builder call plus one action on the frame it returns: a one-row
  ``(rows, digest)`` aggregate over every output column. Builder jobs sit
  inside the bracket and column pruning cannot skip work. The seed sets the
  order of operations in each pass.
* ``etl_backfill`` — an operation is one ``pipeline.run_backfill`` call; a
  pass is ``backfill_full`` (fresh output), ``backfill_resume`` (last months
  removed from the checkpoint) and ``backfill_noop`` (everything done). The
  seed drives the paged-REST fixture generator.

Set-up (session start, input generation, workload-specific cold builds) is
repeated a few times and reported as the median; one untimed warm-up
pass follows. Then passes run back to back until ``--seconds`` have
elapsed (at least one). Every operation's output is checked; a mismatch
counts as a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` splits the window
into untraced and traced passes and prints the per-layer metrics read from
the spans and Spark's status APIs (see ``tracing.py``), plus the tracing
overhead. Human-readable lines go first; the last stdout line is the JSON
result.

Every run gets a private directory under ``.perfbench/`` in the checkout
for TMPDIR, SPARK_LOCAL_DIRS, inputs and outputs; it is deleted at exit.
Span dumps of traced runs are kept under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None, help="table scale factor")
    p.add_argument("--expected", default=str(HERE / "expected.json"))
    return p.parse_args(argv)


def isolate() -> Path:
    """Private per-run directory; point every temp/cache path into it and
    make the package importable by Python workers."""
    WORK.mkdir(exist_ok=True)
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=WORK))
    for sub in ("tmp", "local", "data", "out"):
        (run_dir / sub).mkdir()
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    sys.path.insert(0, str(ROOT))
    return run_dir


def stop_jvm() -> None:
    """End the JVM behind the session and wait for it: the JVM exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None or getattr(gateway, "proc", None) is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = isolate()
    sys.path.insert(0, str(HERE))
    bench = None
    try:
        if args.workload == "etl_backfill":
            from backfill import BackfillBench as bench_class
        else:
            from harness import QueryBench as bench_class
        bench = bench_class(args, run_dir)
        result = bench.run()
    finally:
        if bench is not None and bench.spark is not None:
            bench.spark.stop()
            stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
