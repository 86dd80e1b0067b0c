#!/usr/bin/env python
"""Headline benchmark: times the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line (``final_line``); per-query detail goes to a
``BENCH_DETAIL_*.json`` file next to this script.

Every query is timed with perfbench's operation: one builder call plus
``collect_digest(digest_frame(df))``, an action over every output column,
so jobs the builder launches and every column's work sit inside the
bracket. Each query runs RUNS_PER_QUERY times. Cold is run 1 (it pays
whole-stage-codegen JIT); warm is the fastest later run; the headline
``value`` is the sum of warm times. A query whose ``(rows, digest)``
differs between its runs is listed as unstable.

Each run's builder and action run under job groups ``<name>#<run>:build``
and ``<name>#<run>:exec`` (``perfbench.tracing.Tracer``); the detail file
records, for the cold run and the best warm run, the jobs, stages, tasks
and executor time of each group, the action's Catalyst phases and its
Arrow Python-worker metrics. A streaming builder runs its micro-batches
under the stream's own job group, so its ``build.jobs`` may undercount.

Input fairness: the driver's testdata parquet files hold ONE row group each,
so a direct scan is a single task no matter how many cores local[N] has.
Warmup therefore repartitions each table into a temp copy (16 files/table —
/root/testdata itself is never touched) so scans parallelize the way any
real multi-file dataset would; timings below are against that copy.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import collect_digest, digest_frame  # noqa: E402
from py4j.protocol import Py4JJavaError  # noqa: E402
from tmdb_movie_data_pipeline_spark.registry import _round_token, run_query  # noqa: E402
from tmdb_movie_data_pipeline_spark.schemas import TESTDATA_TABLES  # noqa: E402
from tmdb_movie_data_pipeline_spark.session import get_spark  # noqa: E402

METRIC = "headline_queries_total_runtime"

#: the timed queries: a representative slice of every operator family
#: (scan+agg, joins, windows, subqueries, UDFs, dedup, ANN, text, events,
#: graph, transactional merge, streaming), weighted to the heaviest ones.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q18_large_volume_orders",
    "q21_suppliers_kept_waiting",
    "agg_rollup",
    "subq_correlated_scalar",
    "window_topk_per_segment",
    "window_running_totals",
    "udf_grouped_agg",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_ivfpq_topk",
    "text_quality_score",
    "text_repetition_filter",
    "text_tfidf_top_terms",
    "events_sessionize",
    "events_tumbling_hourly",
    "delta_merge_upsert_read",
    "sketch_hll_union",
    "join_bloom_prefilter",
    "dedup_simhash_pairs",
    "join_fuzzy_deletion_neighborhood",
    "stream_stream_left_outer_join",
    "multimodal_cdc_chunk_dedup",
    "sketch_quantile_histogram",
    "ml_embedding_gram",
    "ml_knn_classify",
    "agg_rfm_segmentation",
    "text_bm25_topk",
    "events_interval_merge",
    "join_spatial_grid",
    "text_bigram_lm",
    "delta_cdc_feed_commits",
    "join_scd2_point_in_time",
    "dedup_containment_pairs",
    "events_dau_wau_stickiness",
    "ml_auc_roc",
    "agg_grouped_quartiles",
    "join_asof_nearest",
    "multimodal_chunk_store_gc",
    "delta_multi_table_tx",
    "graph_link_prediction",
    "ml_retrieval_eval",
    "stats_theil_sen",
    "events_markov_stationary",
    "profile_join_key_skew",
    "dedup_minimizer_pairs",
    "graph_clustering_coefficient",
    "events_cohort_ltv",
    "stats_poisson_bootstrap",
    "llm_quality_canonical_dedup",
    "dedup_semdedup_prune",
    "multimodal_dhash_pairs",
    "events_retention_triangle",
    "ann_truncated_rerank",
    "dedup_chunk_dupshare",
    "text_source_tvd",
    "ml_silhouette_centroid",
    "spatial_dbscan_core",
    "spatial_dbscan_clusters",
    "stats_kendall_tau",
    "text_zipf_profile",
    "events_lorenz_curve",
    "graph_harmonic_centrality",
    "delta_deletion_vectors",
    "text_segment_dedup",
    "agg_equi_depth_histogram",
    "sample_join_consistent",
    "text_char_trigram_langid",
    "dedup_weighted_jaccard_pairs",
    "join_allen_interval_algebra",
    "multimodal_decode_stats",
    "multimodal_pcm_frame_energy",
    "llm_dpo_pair_builder",
    "stats_benjamini_hochberg",
    "join_skyline_pareto",
    "window_rolling_median",
    "ann_ivf_probe_sweep",
    "llm_semantic_decontaminate",
    "join_bitemporal_asof",
    "multimodal_scene_change_detect",
    "stats_permutation_diff_test",
    "ml_mmr_diversified_topk",
    "multimodal_image_tile_stats",
    "ml_feature_hashing_stats",
    "ml_rank_biased_overlap",
    "llm_dsir_importance_weights",
    "llm_good_turing_missing_mass",
    "graph_hits_bipartite",
    "ann_filtered_topk",
    "ann_ivf_filtered_topk",
    "ann_filtered_probe_sweep",
    "stream_cdc_chunk_store",
    "stream_scd2_apply",
    "stream_ivf_index_append",
    "stream_ivf_index_filtered_probe",
]

#: files per table in the warmup copy — enough tasks to feed local[32]
#: without tiny-file overhead at sf0.1.
COPY_FILES = 16

#: runs per query: run 1 is the cold time, the fastest later run the warm
#: time.
RUNS_PER_QUERY = 3

#: hard budget for the single printed JSON line. The driver tail-captures
#: the last 2000 bytes of stdout; Spark may append shutdown chatter after
#: our line, so stay comfortably below (VERDICT r8 #3 — the r8 line hit
#: ~2.6 KB and the driver's parse failed, losing the headline total).
MAX_FINAL_LINE_BYTES = 1500

_ROOT = os.path.dirname(os.path.abspath(__file__))


def make_parallel_copy(spark, sf_dir: str) -> str:
    """Repartition each table into a multi-file temp copy (read-only source
    dir is never modified). The copy keeps every column's Parquet type,
    so ``load_table``'s declared schemas read it unchanged."""
    dst = tempfile.mkdtemp(prefix="bench_sf_")
    for name in TESTDATA_TABLES:
        src = os.path.join(sf_dir, f"{name}.parquet")
        (
            spark.read.parquet(src)
            .repartition(COPY_FILES)
            .write.mode("overwrite")
            .parquet(os.path.join(dst, f"{name}.parquet"))
        )
    return dst


_SKIPPED = SimpleNamespace(status=lambda: "SKIPPED")


class _StageTolerantContext:
    """The JVM ``SparkContext`` as ``Tracer`` reads it, with a stage the
    status store no longer holds read as skipped. Over a 100-query run the
    store, past ``spark.ui.retainedStages``, can drop a just-finished job's
    stage before its group is read (seen on ``ml_retrieval_eval``, 19 jobs,
    after ~1,700 stages); skipped stages, which have no completion time,
    are the ones its completion-time-ordered cleanup drops first."""

    def __init__(self, jsc):
        self._jsc = jsc

    def __getattr__(self, name):
        return getattr(self._jsc, name)

    def statusStore(self):  # noqa: N802
        return self

    def job(self, job_id):
        return self._jsc.statusStore().job(job_id)

    def lastStageAttempt(self, stage_id):  # noqa: N802
        try:
            return self._jsc.statusStore().lastStageAttempt(stage_id)
        except Py4JJavaError as exc:
            if "NoSuchElementException" not in str(exc.java_exception):
                raise
            return _SKIPPED


class BenchTracer(Tracer):
    """perfbench's ``Tracer`` over a whole bench run's status store."""

    def __init__(self, spark):
        super().__init__(spark)
        self.jsc = _StageTolerantContext(self.jsc)


def _run_layers(tr: Tracer, op: str, b_span: dict, a_span: dict, dig) -> dict:
    """perfbench's per-layer numbers of one run, read from the status
    stores after its bracket closed."""
    tr.settle()
    build = tr.group_stats(f"{op}:build")
    exe = tr.group_stats(f"{op}:exec")
    layers = {
        "build.wall_s": b_span["end"] - b_span["start"],
        "exec.wall_s": a_span["end"] - a_span["start"],
        **{f"build.{k}": build[k] for k in ("jobs", "tasks", "executor_run_s")},
        **{
            f"exec.{k}": exe[k]
            for k in ("jobs", "stages", "tasks", "executor_run_s")
        },
        **tr.plan_phases(dig, a_span),
    }
    for part in (build["python"], exe["python"]):
        for k, v in part.items():
            layers[k] = layers.get(k, 0.0) + v
    return {k: round(v, 4) for k, v in layers.items()}


def bench_query(spark, tr: Tracer, name: str, sf_dir: str) -> dict:
    """Time ``name`` RUNS_PER_QUERY times with the builder-plus-digest
    operation; returns its cold/warm seconds, output and layers."""
    runs = []
    for i in range(1, RUNS_PER_QUERY + 1):
        op = f"{name}#{i}"
        tr.begin_op()
        with tr.span("op", op) as op_span:
            with tr.span("build", op, group=f"{op}:build") as b_span:
                df = run_query(spark, name, sf_dir)
            with tr.span("action", op, group=f"{op}:exec") as a_span:
                dig = digest_frame(df)
                out = collect_digest(dig)
        dt = op_span["end"] - op_span["start"]
        runs.append((dt, out, _run_layers(tr, op, b_span, a_span, dig)))
    best = min(runs[1:], key=lambda r: r[0])
    outs = [list(r[1]) for r in runs]
    rec = {
        "cold_s": round(runs[0][0], 3),
        "warm_s": round(best[0], 3),
        "rows": outs[0][0],
        "digest": outs[0][1],
        "unstable": any(o != outs[0] for o in outs),
        "cold": runs[0][2],
        "warm": best[2],
    }
    if rec["unstable"]:
        rec["outputs"] = outs
    return rec


def totals(records: dict) -> dict:
    """The headline ``value`` (sum of warm times) and the cold total."""
    return {
        "metric": METRIC,
        "value": round(sum(r["warm_s"] for r in records.values()), 3),
        "cold_total_sec": round(sum(r["cold_s"] for r in records.values()), 3),
        "unit": "sec",
    }


def final_line(records: dict, lsh_stage_build: float, sf: float, detail_file: str) -> str:
    """The one JSON line the driver parses: totals, the slowest warm times
    and where the detail went, within MAX_FINAL_LINE_BYTES."""
    warm = {n: r["warm_s"] for n, r in records.items()}
    line = json.dumps(
        {
            **totals(records),
            "sf": sf,
            "lsh_stage_build_sec": lsh_stage_build,
            "n_queries": len(records),
            "runs_per_query": RUNS_PER_QUERY,
            "unstable": sum(r["unstable"] for r in records.values()),
            "slowest_warm_sec": dict(sorted(warm.items(), key=lambda kv: -kv[1])[:8]),
            "detail_file": detail_file,
        },
        separators=(",", ":"),
    )
    assert len(line.encode()) <= MAX_FINAL_LINE_BYTES, (
        f"final bench line {len(line.encode())} B exceeds the "
        f"{MAX_FINAL_LINE_BYTES} B driver tail-capture budget"
    )
    return line


def detail_file_name(n: int) -> str:
    """``BENCH_DETAIL_r{n}.json``; if a file of that name exists, the first
    free one of ``BENCH_DETAIL_session_r{n}.json``, ``…_2.json``,
    ``…_3.json``, … — an existing record is never overwritten."""
    stem = f"BENCH_DETAIL_session_r{n:02d}"
    names = itertools.chain(
        [f"BENCH_DETAIL_r{n:02d}.json", f"{stem}.json"],
        (f"{stem}_{i}.json" for i in itertools.count(2)),
    )
    return next(c for c in names if not os.path.exists(os.path.join(_ROOT, c)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    # bench runs alone on the box: keep the larger heap and the FULL idle
    # Python-worker pool (the 6g heap / 8-worker cap session defaults are
    # settings for a box shared with the verification oracle). With the
    # cap, every mapInPandas stage after the first pays ~cores-8 worker
    # re-forks + pandas re-imports: A/B'd at 1.7x on
    # multimodal_cdc_chunk_dedup, 1.5x on chunk_store_gc (NOTES_r10).
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    spark = get_spark(
        app_name="bench",
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.python.factory.idleWorkerMaxPoolSize": (
                cpus if cpus.isdigit() else "32"
            ),
            "spark.python.worker.killOnIdleTimeout": "false",
        },
    )

    copy_dir = make_parallel_copy(spark, sf_dir)  # also warms JVM + footers
    try:
        # Cold staged-LSH build: the candidate-pair stage is cached per
        # fixture fingerprint, so inside the query runs only the first
        # consumer would pay it. copy_dir is a fresh temp dir whose
        # fingerprint has never been built, so this call IS the cold build.
        from tmdb_movie_data_pipeline_spark.operators.dedup import (
            lsh_pairs_staged,
        )

        t0 = time.perf_counter()
        lsh_pairs_staged(spark, copy_dir).count()
        lsh_stage_build = round(time.perf_counter() - t0, 3)

        tr = BenchTracer(spark)
        records = {}
        for name in BENCH_QUERIES:
            rec = records[name] = bench_query(spark, tr, name, copy_dir)
            print(f"# {name}: cold {rec['cold_s']} s, warm {rec['warm_s']} s", file=sys.stderr)
        # the round whose BENCH_r{N}/CORRECTNESS_r{N} records this run
        # accompanies: the driver writes CORRECTNESS_r{N}.json first
        rnd = _round_token() - 1
        detail_name = detail_file_name(rnd)
        line = final_line(records, lsh_stage_build, sf, detail_name)
        detail = {
            **totals(records),
            "accompanies_round": rnd,
            "sf": sf,
            "runs_per_query": RUNS_PER_QUERY,
            "timing": "builder call + digest action; cold = run 1, warm = min of later runs",
            "inputs": f"repartitioned temp copy, {COPY_FILES} files/table",
            "lsh_stage_build_sec": lsh_stage_build,
            "unstable": sorted(n for n, r in records.items() if r["unstable"]),
            "queries": records,
        }
        with open(os.path.join(_ROOT, detail_name), "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        print(line)
    finally:
        shutil.rmtree(copy_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
