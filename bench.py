#!/usr/bin/env python
"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>}

Timing counts full execution of the query to its action (count of rows),
excluding session startup. Each query runs twice and reports the min (run 1
pays whole-stage-codegen JIT) — the per-round driver record is BENCH_r{N}.json.

Input fairness: the driver's testdata parquet files hold ONE row group each,
so a direct scan is a single task no matter how many cores local[N] has.
Warmup therefore repartitions each table into a temp copy (16 files/table —
/root/testdata itself is never touched) so scans parallelize the way any
real multi-file dataset would; timings below are against that copy.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tmdb_movie_data_pipeline_spark.registry import all_queries  # noqa: E402
from tmdb_movie_data_pipeline_spark.schemas import TESTDATA_TABLES  # noqa: E402
from tmdb_movie_data_pipeline_spark.session import get_spark  # noqa: E402

#: queries timed in the headline benchmark — a representative slice of the
#: engine: scan+agg, multi-join, EXISTS shapes, window, subquery, UDF,
#: near-dedup, ANN, text, sessionization, transactional merge.
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
    # r6 widening (VERDICT r5 item #5): the heaviest previously-unmeasured
    # queries — where the next silent regression would hide — plus this
    # round's two new entries.
    "sketch_hll_union",
    "join_bloom_prefilter",
    "dedup_simhash_pairs",
    "join_fuzzy_deletion_neighborhood",
    "stream_stream_left_outer_join",
    "multimodal_cdc_chunk_dedup",
    "sketch_quantile_histogram",
    # r6 additions: the heaviest new non-iterative queries (the iterative
    # PageRank/PCA stay unbenched per the policy note below)
    "ml_embedding_gram",
    "ml_knn_classify",
    "agg_rfm_segmentation",
    "text_bm25_topk",
    # r6 session-2 additions: heaviest of the newest operators — interval
    # coalescing, spatial bucketing, bigram LM, per-commit CDF, PIT join
    "events_interval_merge",
    "join_spatial_grid",
    "text_bigram_lm",
    "delta_cdc_feed_commits",
    "join_scd2_point_in_time",
    # r7 activations: heaviest of the 45 queries promoted from the deferred
    # queue (iterative graph kernels stay excluded per the policy note;
    # link prediction is a single wedge join, not driver-sequenced rounds)
    "dedup_containment_pairs",
    "events_dau_wau_stickiness",
    "ml_auc_roc",
    "agg_grouped_quartiles",
    "join_asof_nearest",
    "multimodal_chunk_store_gc",
    "delta_multi_table_tx",
    "graph_link_prediction",
    # r8 activations: heaviest of the 43 queries promoted from the deferred
    # queue this round (same policy: iterative kernels excluded; the
    # clustering coefficient is a single wedge-closure join)
    "ml_retrieval_eval",
    "stats_theil_sen",
    "events_markov_stationary",
    "profile_join_key_skew",
    "dedup_minimizer_pairs",
    "graph_clustering_coefficient",
    # r9: heaviest newly-green r8 activations that missed the r8 headline
    # (VERDICT r8 #8) + heaviest of the r9 activations (SemDeDup's
    # per-cluster Gram, the dHash banded join, the retention triangle)
    "events_cohort_ltv",
    "stats_poisson_bootstrap",
    "llm_quality_canonical_dedup",
    "dedup_semdedup_prune",
    "multimodal_dhash_pairs",
    "events_retention_triangle",
    # r9 new operators worth watching: the two-stage ANN (windowed top-k
    # over a broadcast cross product ×2) and the chunk-df join
    "ann_truncated_rerank",
    "dedup_chunk_dupshare",
    # r9 session-2 additions: heaviest of the new batch — the source-pair
    # TVD self-join over the staged (source, term) relation, the broadcast
    # centroid-distance silhouette, and the grid-join neighborhood counts
    "text_source_tvd",
    "ml_silhouette_centroid",
    "spatial_dbscan_core",
    # r16 activation (VERDICT r15 #1): full DBSCAN labeling — the grid
    # pair scan plus connected components over core-core edges
    "spatial_dbscan_clusters",
    # r10 (VERDICT r9 #9): heavy r9 first-time-green families not yet in a
    # BENCH record — rank-pair stats, Zipf rank windows, the Lorenz
    # contribution explode, harmonic centrality's bounded BFS joins, and
    # the deletion-vector merge-on-read path
    "stats_kendall_tau",
    "text_zipf_profile",
    "events_lorenz_curve",
    "graph_harmonic_centrality",
    "delta_deletion_vectors",
    # r10 new operators worth watching: segment-level dedup (two corpus
    # shuffles + md5 gate), the equi-depth histogram activation, the
    # consistent-sample join, and the trigram language-ID lift join
    "text_segment_dedup",
    "agg_equi_depth_histogram",
    "sample_join_consistent",
    "text_char_trigram_langid",
    # r10 session-2 new actives: the two heaviest (staged-pair weighted
    # verify; banded interval pair classification)
    "dedup_weighted_jaccard_pairs",
    "join_allen_interval_algebra",
    # r11 (VERDICT r10 #5): the r10 first-time-green heavy families not
    # yet in any BENCH record — the mapInPandas image decode, the PCM
    # frame-energy decode, the DPO chosen/rejected pair join, the BH
    # step-up FDR rank pass, the dominance skyline join, and the exact
    # rolling median window
    "multimodal_decode_stats",
    "multimodal_pcm_frame_energy",
    "llm_dpo_pair_builder",
    "stats_benjamini_hochberg",
    "join_skyline_pareto",
    "window_rolling_median",
    # r11 activations worth watching: the 4-curve IVF probe sweep (one
    # assignment relation scored at four nprobe tiers), the embedding
    # leak semi-join decontaminator, the two-clock as-of join, and the
    # per-frame scene-change differencer
    "ann_ivf_probe_sweep",
    "llm_semantic_decontaminate",
    "join_bitemporal_asof",
    "multimodal_scene_change_detect",
    # r12 activations worth watching (VERDICT r11 #4, named in NOTES_r11):
    # the B=199 map-side permutation explode, the greedy MMR join ladder,
    # the decode + 6-d patch reshape, the corpus-wide token-md5 hashing
    # audit, and the dual ranked-list RBO build
    "stats_permutation_diff_test",
    "ml_mmr_diversified_topk",
    "multimodal_image_tile_stats",
    "ml_feature_hashing_stats",
    "ml_rank_biased_overlap",
    # r13 activation (VERDICT r12 #4): the only r13-queue member whose
    # cost scales with the corpus — token explode + per-token md5 (the
    # ml_feature_hashing_stats shape) plus a second conditional-profile
    # aggregate; CUPED/Cochran-Armitage/Page collapse to constant-size
    # relations after one partial-aggregable scan and need no slot
    "llm_dsir_importance_weights",
    # r14 activation (VERDICT r13 #4): the only r14-queue member whose
    # cost scales with the corpus — positional in-array bigram build +
    # explode + partial-aggregable groupBy(lang, bigram) over the token
    # stream (≈ the DSIR token explode with a wider groupBy key;
    # projected ~0.5–1.0 s at sf0.1); events_sprt_sequential collapses
    # to a ~60-row daily relation after one groupBy(arm, day) scan and
    # needs no slot
    "llm_good_turing_missing_mass",
    # r15 activation (VERDICT r14 #1): HITS on the bipartite purchase
    # graph — 3 unrolled fixed-point rounds, each two |E|-bounded
    # equi-joins + two partial-aggregable groupBys; the localCheckpoint
    # per round makes this the priciest graph query, worth a slot
    "graph_hits_bipartite",
    # r17 activation (VERDICT r16 #1): metadata-filtered vector search —
    # the eligibility semi-join + the same broadcast cosine rescore as
    # ann_cosine_topk; expected in the same ~0.4-0.6 s band, benched so
    # the filtered tier's cost is visible next to the unfiltered one
    "ann_filtered_topk",
    # r18 activations (VERDICT r17 #1): the filtered-IVF scale route and
    # its tuning sweep. NOT in REBUILD_PER_RUN (the mandated decision):
    # both builders are pure lazy DataFrame composition — ivf_route, the
    # eligibility semi-join, and the grid re-rank all execute inside the
    # timed .count(); there is no eager localCheckpoint/collect/commit at
    # plan-build time (unlike HITS/DBSCAN/TxTable), so the default
    # build-once-time-thrice bracket measures exactly the engine work.
    "ann_ivf_filtered_topk",
    "ann_filtered_probe_sweep",
]
# NOT benched, deliberately: delta_file_pruned_merge (its local timing is
# dominated by the range-partitioned CREATE, not the merge — the pruning win
# scales with table size and is invisible at sf0.1; the file-reuse property
# is pinned by tests/test_acid.py instead) and the iterative graph queries
# (driver-sequenced rounds measure round-trip latency, not engine
# throughput — same reason dedup_cluster_components was never benched).

#: streaming machinery section (VERDICT r6 item #5): real micro-batch
#: pipelines timed END-TO-END (stream start, every foreachBatch apply,
#: stream stop) so regressions in the micro-batch overhead path become
#: visible. One run each — the cost is dominated by Structured Streaming
#: machinery (query startup, epoch scheduling, state rewrites), which a
#: min-of-3 would not tighten meaningfully, and the end-to-end rebuild is
#: the measured artifact. Reported under "streaming_queries", OUTSIDE the
#: headline total, so the cross-round headline comparison stays
#: apples-to-apples with r1-r6.
STREAMING_BENCH = [
    "stream_cdc_chunk_store",  # chunk + anti-join ingest per micro-batch
    "stream_scd2_apply",  # incremental SCD2 state rewrite per micro-batch
    # r19 activation (VERDICT r18 #1, placement mandated+documented): the
    # builder drives its file-source stream EAGERLY (processAllAvailable
    # inside the query fn, incremental_index.py) — bootstrap write + 3
    # routed micro-batch appends + WAL commits all happen at plan-build
    # time and the returned frame is just the index read, so the default
    # build-once-time-thrice bracket would measure a ~50 ms parquet scan.
    # STREAMING_BENCH (not REBUILD_PER_RUN) because the cost is Structured
    # Streaming machinery end-to-end (query startup, epoch scheduling,
    # foreachBatch applies), exactly this section's one-run policy; a
    # min-of-3 rebuild would triple-pay startup without tightening the
    # estimate.
    "stream_ivf_index_append",
    # r20 activation (VERDICT r19 #1, placement pre-decided in the query's
    # docstring): the probe READS through the index the maintenance stream
    # wrote, and its builder drives that same eager stream via
    # build_maintained_index (bootstrap + 3 routed epochs + WAL at
    # plan-build time) — so, exactly like stream_ivf_index_append above,
    # the default build-once bracket would time only the probe read while
    # the dominant cost is Structured Streaming machinery. One end-to-end
    # run per this section's policy.
    "stream_ivf_index_filtered_probe",
]

#: files per table in the warmup copy — enough tasks to feed local[32]
#: without tiny-file overhead at sf0.1.
COPY_FILES = 16

#: queries whose builder performs the measured work EAGERLY (transactional
#: create+merge commits happen at plan-build time, the returned DataFrame is
#: only the snapshot read) — these must be rebuilt inside the timed region.
REBUILD_PER_RUN = {
    "delta_merge_upsert_read",
    # builds its TxTable (create+merge+delete commits) in the builder — the
    # transactional work must sit inside the timed region, like the MERGE
    "delta_cdc_feed_commits",
    # the streaming join runs its micro-batches to completion inside the
    # builder (_run_to_completion); the returned frame is just the sink
    # read — the measured work must happen inside the timed region.
    "stream_stream_left_outer_join",
    # TxGroup create+transact commits run in the builder; the returned
    # frame is the post-transaction snapshot read
    "delta_multi_table_tx",
    # builds + GCs its chunk store in the builder (store writes, refcount
    # anti-join, physical reclamation)
    "multimodal_chunk_store_gc",
    # the HITS fixed point runs EAGERLY at plan-build time (per-round
    # localCheckpoints); timing only the returned top-k frame would read
    # ~30 ms for a multi-join iterative kernel — the measured work must
    # sit inside the timed region
    "graph_hits_bipartite",
    # the grid pair relation + core set are eager localCheckpoints and the
    # connected-components fixed point iterates at plan-build time — same
    # policy as HITS: rebuild inside the bracket or the timing reads only
    # the final label union
    "spatial_dbscan_clusters",
}

#: timed executions per query; reported number is the min (run 1 pays
#: whole-stage-codegen JIT, later runs are the resident-pipeline steady
#: state). 3 rather than 2 because cross-round driver benches have shown
#: 30-40% machine-contention noise (NOTES_r4.md) — one extra sample
#: meaningfully tightens the min estimator.
RUNS_PER_QUERY = 3

#: hard budget for the single printed JSON line. The driver tail-captures
#: the last 2000 bytes of stdout; Spark may append shutdown chatter after
#: our line, so stay comfortably below (VERDICT r8 #3 — the r8 line hit
#: ~2.6 KB and the driver's parse failed, losing the headline total).
MAX_FINAL_LINE_BYTES = 1500


def calibration_seconds(spark, copy_dir: str, runs: int = 5) -> float:
    """Fixed-plan noise probe: min seconds for a hash-agg count over
    lineitem. Defined INLINE (never via the registry) so its logical plan is
    byte-identical across every round — any cross-round movement in this
    number is machine noise, not code. The driver's BENCH_r{N}.json records
    it before and after the query loop; to compare query timings across
    rounds, scale by the calibration ratio first."""
    from pyspark.sql import functions as F

    df = (
        spark.read.parquet(os.path.join(copy_dir, "lineitem.parquet"))
        .filter(F.col("l_quantity") > 0)
        .groupBy("l_returnflag", "l_linestatus")
        .count()
    )
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        df.count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


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


def _accompanies_round() -> int:
    """The round number whose BENCH_r{N}/CORRECTNESS_r{N} records this bench
    run accompanies = the HIGHEST existing CORRECTNESS round. The driver
    writes CORRECTNESS_r{N}.json before it runs bench, so at driver time this
    is N; the r9 scheme used the registry's ``_round_token()`` (= next round)
    and filed the r9 driver detail as BENCH_DETAIL_r10.json (VERDICT r9 #4).
    Mid-round session runs happen before the round's CORRECTNESS file exists
    and would collide with the PREVIOUS driver detail — set
    SPARK_GRAFT_BENCH_TAG to divert those to BENCH_DETAIL_<tag>.json."""
    from tmdb_movie_data_pipeline_spark.registry import _round_token as rt

    return rt() - 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
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
        cal_pre = calibration_seconds(spark, copy_dir)
        qs = all_queries()

        # Cold staged-LSH build cost (VERDICT r7 #6 / r8 #6): the candidate
        # pair stage is cached per fixture fingerprint, so its build cost is
        # invisible inside the min-of-3 query timings (run 1 builds, runs
        # 2-3 hit). copy_dir is a fresh temp dir — its fingerprint has never
        # been built — so this first call IS the cold build, timed here
        # explicitly before any dedup/graph consumer runs.
        from tmdb_movie_data_pipeline_spark.operators.dedup import (
            lsh_pairs_staged,
        )

        t0 = time.perf_counter()
        lsh_pairs_staged(spark, copy_dir).count()
        lsh_stage_build = round(time.perf_counter() - t0, 3)
        timings: dict[str, float] = {}
        total = 0.0
        for name in BENCH_QUERIES:
            # build the plan ONCE and execute RUNS_PER_QUERY times: run 1
            # pays whole-stage-codegen JIT (janino compiles of wide
            # expression batteries run multiple seconds and are NOT
            # cache-hit across plan rebuilds); later runs are the steady
            # state a resident pipeline sees.
            df = None if name in REBUILD_PER_RUN else qs[name](spark, copy_dir)
            best = float("inf")
            for _ in range(RUNS_PER_QUERY):
                t0 = time.perf_counter()
                (qs[name](spark, copy_dir) if df is None else df).count()
                best = min(best, time.perf_counter() - t0)
            dt = round(best, 3)
            timings[name] = dt
            total += dt

        # VERDICT r10 #6: delta_cdc_feed_commits is a per-commit manifest
        # loop (constant driver overhead per commit, data never loops) but
        # its commit count is fixture-fixed — record commits alongside
        # seconds so any future growth in its timing is attributable to
        # commits x per-commit cost, not mistaken for a data regression.
        cdc_commits = int(
            qs["delta_cdc_feed_commits"](spark, copy_dir)
            .select("commit_version")
            .distinct()
            .count()
        )

        # VERDICT r15 #3: the headline delta_cdc_feed_commits number is
        # BUILD-dominated (REBUILD_PER_RUN times create+merge+delete, which
        # since r15 pay the write-time change-row recording pass), while the
        # feed READ — the path the query is named for — is a flat
        # change-file scan. Bracket the two phases separately so the
        # recorded figure attributes where the time goes; the headline
        # timing above stays the total (build + read) for cross-round
        # comparability.
        from tmdb_movie_data_pipeline_spark.operators.merge import (
            _cdc_assemble_feed,
            _cdc_build_table,
        )

        t0 = time.perf_counter()
        cdc_table = _cdc_build_table(spark, copy_dir)
        cdc_build_sec = round(time.perf_counter() - t0, 3)
        # ADVICE r16 #1: the read bracket follows the headline min-of-RUNS
        # policy (a single run pays first-run whole-stage-codegen JIT and
        # reads noisy/inflated vs steady state); the table is already built,
        # so repeats cost only the change-file scan. The BUILD bracket stays
        # single-run by nature — rebuilding would re-commit the table.
        best_read = float("inf")
        for _ in range(RUNS_PER_QUERY):
            t0 = time.perf_counter()
            _cdc_assemble_feed(cdc_table).count()
            best_read = min(best_read, time.perf_counter() - t0)
        cdc_read_sec = round(best_read, 3)

        # skewed-shuffle-join pair: same result (oracle-checked as
        # skew_salted_join), different physical plan — demonstrates the
        # static salting win when broadcast/AQE-skew aren't available
        from tmdb_movie_data_pipeline_spark.operators.skew import bench_skew_pair

        skew = bench_skew_pair(spark, copy_dir)
        timings.update(skew)
        total += sum(skew.values())

        # streaming section: end-to-end micro-batch pipelines, one run each
        # (see STREAMING_BENCH note) — kept out of the headline total
        streaming: dict[str, float] = {}
        for name in STREAMING_BENCH:
            t0 = time.perf_counter()
            qs[name](spark, copy_dir).count()
            streaming[name] = round(time.perf_counter() - t0, 3)

        cal_post = calibration_seconds(spark, copy_dir)

        # Full per-query detail goes to a repo FILE the snapshot commit
        # picks up; the PRINTED line is kept compact. VERDICT r8 #3: the
        # driver tail-captures only the last 2000 bytes of stdout, and the
        # r8 single-line output (~2.6 KB with 56 per-query timings) was
        # truncated from the head — losing the headline total. The final
        # line below carries totals + the slowest queries only and is
        # asserted under the budget (tests/test_bench_contract.py).
        detail = {
            "metric": "headline_queries_total_runtime",
            # the round whose BENCH_r{N}/CORRECTNESS_r{N} this accompanies
            # (embedded per VERDICT r9 #4 so the filename is auditable)
            "accompanies_round": _accompanies_round(),
            "value": round(total, 3),
            "unit": "sec",
            "queries": timings,
            "sf": float(sf),
            "runs_per_query": RUNS_PER_QUERY,
            "timing": (
                f"min of {RUNS_PER_QUERY} "
                "(steady state; run 1 pays codegen JIT); skew pair: "
                "median of 5, variants interleaved (VERDICT r7 #2)"
            ),
            "inputs": f"repartitioned temp copy, {COPY_FILES} files/table",
            # end-to-end micro-batch pipelines (1 run each), not in
            # "value" — see the STREAMING_BENCH policy note
            "streaming_queries": streaming,
            "streaming_total_sec": round(sum(streaming.values()), 3),
            # distinct commit versions PRESENT in the CDC feed output this
            # run (the exhibit always diffs versions()[1:]; a version whose
            # change set is empty at this SF contributes no rows): seconds
            # scale as commits x (2 anti-joins + 1 join) — compare timings
            # across rounds only at equal counts
            "delta_cdc_feed_commits_n_commits": cdc_commits,
            # phase split (VERDICT r15 #3): the query's headline number is
            # the build+read total; build = table commits incl. the
            # write-time change-row recording, read = the change-file scan
            # the query is named for. Compare the READ number when judging
            # the r15 O(changed-rows) rewrite; build growth tracks commit
            # count x recording cost.
            "delta_cdc_feed_commits_build_sec": cdc_build_sec,
            "delta_cdc_feed_commits_read_sec": cdc_read_sec,
            # cold candidate-pair stage build (cache guaranteed cold: the
            # temp copy's fingerprint is fresh) — the cost every dedup/graph
            # consumer amortizes via the per-fixture cache
            "lsh_stage_build_sec": lsh_stage_build,
            # fixed-plan noise probe (see calibration_seconds): this
            # query never changes across rounds, so divide any
            # cross-round timing comparison by the calibration ratio
            # before reading it as a regression.
            "calibration_sec_pre": cal_pre,
            "calibration_sec_post": cal_post,
        }
        tag = os.environ.get("SPARK_GRAFT_BENCH_TAG")
        detail_name = (
            f"BENCH_DETAIL_{tag}.json"
            if tag
            else f"BENCH_DETAIL_r{_accompanies_round():02d}.json"
        )
        # No-clobber guard: an UNTAGGED run whose round-named detail file is
        # already git-TRACKED is a mid-round session run about to overwrite a
        # committed driver record (it happened once in r10 before this guard
        # existed) — divert it to the session name. The driver itself is
        # never diverted: its round's detail file doesn't exist yet when it
        # runs (CORRECTNESS_r{N}.json is written first, so the name advances
        # past every committed record).
        if not tag:
            import subprocess

            here = os.path.dirname(os.path.abspath(__file__))

            def _tracked(name: str) -> bool:
                return subprocess.run(
                    ["git", "-C", here, "ls-files", "--error-unmatch", name],
                    capture_output=True,
                ).returncode == 0

            def _taken(name: str) -> bool:
                # a name is off-limits when git tracks it OR it already
                # exists on disk untracked (ADVICE r14: a not-yet-committed
                # probe record is still a record — the next run must not
                # silently clobber it)
                return _tracked(name) or os.path.exists(
                    os.path.join(
                        os.path.dirname(os.path.abspath(__file__)), name
                    )
                )

            if _taken(detail_name):
                detail_name = detail_name.replace(
                    "BENCH_DETAIL_", "BENCH_DETAIL_session_"
                )
                # the session name can ALSO be a committed record (a prior
                # session of the same round committed it — this bit r13:
                # an untagged sf0.001 probe overwrote the committed
                # BENCH_DETAIL_session_r12.json); keep probing _2, _3, ...
                # until a free name, never clobber a tracked or on-disk one.
                # Numeric suffixes (ADVICE r13): a chr() walk past 'z'
                # drifts into punctuation; integers never do.
                stem, ext = detail_name.rsplit(".", 1)
                suffix = 2
                while _taken(detail_name):
                    detail_name = f"{stem}_{suffix}.{ext}"
                    suffix += 1
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), detail_name
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)

        slowest = dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:8]
        )
        line = json.dumps(
            {
                "metric": "headline_queries_total_runtime",
                "value": round(total, 3),
                "unit": "sec",
                "sf": float(sf),
                "n_queries": len(timings),
                "runs_per_query": RUNS_PER_QUERY,
                "streaming_total_sec": round(sum(streaming.values()), 3),
                "lsh_stage_build_sec": lsh_stage_build,
                "calibration_sec_pre": cal_pre,
                "calibration_sec_post": cal_post,
                "slowest_sec": slowest,
                "detail_file": detail_name,
            },
            separators=(",", ":"),
        )
        assert len(line.encode()) <= MAX_FINAL_LINE_BYTES, (
            f"final bench line {len(line.encode())} B exceeds the "
            f"{MAX_FINAL_LINE_BYTES} B driver tail-capture budget"
        )
        print(line)
    finally:
        shutil.rmtree(copy_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
