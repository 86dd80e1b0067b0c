"""Universal plan lint: no registered relational query may plan a
CartesianProduct — the non-broadcast pair product that turns a 100 TB
input into an N² execution. The targeted pins in test_plans.py check the
heavy hitters' exact shapes; this lint is the blanket guarantee that no
NEW operator quietly ships the worst plan shape.

What the lint reads: it calls each builder of the modules in
``_LINTED_MODULES`` and reads the formatted physical plan of the
DataFrame the builder returns, without executing it. Calling a builder
is not always plan-only. Table reads take declared schemas and launch no
job, so at sf0.001, with the LSH pair stage built, 292 of the 358 linted
builders launch none on call. The other 66 do: eager checkpoints, driver
collects (among them the connected-components edge collect) and the
rounds of iterative kernels such as PageRank, k-means, power iteration
and Markov chains all run at build time. Building the LSH pair stage, when
it is missing, runs the whole pair pipeline. The plans of
those build-time jobs are not linted; their output enters the returned
plan as a scan of a checkpointed RDD, a staged Parquet table or a local
relation. Imperative families — streaming runs-to-completion,
checkpoint/ACID writers, io roundtrips, the REST pipeline — return frames
whose plan is not the work they ran, and are exercised end-to-end by the
oracle suite instead; their inner building blocks live in the linted
modules.

BroadcastNestedLoopJoin is NOT blanket-banned: a 1-row aggregate attach
or a bounded-frame theta join legitimately plans as one (the per-query
pins bound those cases); CartesianProduct has no legitimate instance in
this codebase.
"""

from __future__ import annotations

import re

import pytest

from tmdb_movie_data_pipeline_spark.registry import all_queries

#: modules whose builders return the plan of the query's work (the
#: builder may still run jobs on call; see the module docstring)
_LINTED_MODULES = {
    "aggregates",
    "clustering",
    "dedup",
    "events",
    "graph",
    "joins",
    "llm_prep",
    "normalize",
    "pq",
    "profiling",
    "sampling",
    "scalars",
    "setops",
    "similarity",
    "sketches",
    "spatial",
    # sql_surface is NOT linted (ADVICE r10 item 4): scripting_block runs
    # its BEGIN/WHILE loop on call, execute_immediate executes
    # DECLARE/SET VAR plus the dynamic query, and the rest mutate session
    # temp views, so the returned frame is not the plan of that work. Its
    # five queries are exercised end-to-end by the oracle suite like the
    # other imperative families.
    "subqueries",
    "text",
    "tpch_extra",
    "windows",
}


def _lintable() -> list[str]:
    qs = all_queries()
    return sorted(
        n
        for n, fn in qs.items()
        if fn.__module__.rsplit(".", 1)[-1] in _LINTED_MODULES
    )


@pytest.mark.parametrize("name", _lintable())
def test_no_cartesian_product_anywhere(spark, sf_dir, name):
    qs = all_queries()
    df = qs[name](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    n = len(re.findall(r"\(\d+\) CartesianProduct\b", plan))
    assert n == 0, (
        f"{name} plans {n} CartesianProduct node(s) — a non-broadcast "
        "pair product; rewrite as an equi/banded/broadcast join"
    )
    # row-at-a-time Python evaluation (BatchEvalPython) is the 10-100x
    # slow path; the one deliberate exhibit lives in operators/udfs.py,
    # outside this lint's scope. Arrow-vectorized nodes (ArrowEvalPython,
    # mapInPandas/FlatMapGroupsInPandas) remain allowed.
    b = len(re.findall(r"\(\d+\) BatchEvalPython\b", plan))
    assert b == 0, (
        f"{name} plans {b} BatchEvalPython node(s) — a row-at-a-time "
        "Python UDF on the hot path; use builtins or a pandas_udf"
    )
