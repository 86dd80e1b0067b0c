"""Behavioral unit tests for engine operators on synthetic micro-data:
as-of join correctness, keep-first determinism, near-dup detection on real
duplicates, approx-distinct tolerance, checkpointed incremental backfill.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from tmdb_movie_data_pipeline_spark.io import load_table


def ts(s: str) -> datetime.datetime:
    return datetime.datetime.fromisoformat(s)


def test_asof_join_picks_latest_at_or_before(spark):
    from tmdb_movie_data_pipeline_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, ts("2024-01-01T10:00:00"), "p1"), (1, ts("2024-01-01T12:00:00"), "p2"),
         (2, ts("2024-01-01T09:00:00"), "p3")],
        "user_id long, ts timestamp, tag string",
    )
    right = spark.createDataFrame(
        [(1, ts("2024-01-01T09:30:00")), (1, ts("2024-01-01T11:59:00")),
         (1, ts("2024-01-01T12:00:00")),  # equal ts: counts (<=)
         (2, ts("2024-01-01T09:30:00"))],  # after left's event: must not match
        "user_id long, ts timestamp",
    )
    out = {
        r.tag: r.ts_asof
        for r in asof_join(left, right, "user_id", "ts", []).collect()
    }
    assert out["p1"] == ts("2024-01-01T09:30:00")
    assert out["p2"] == ts("2024-01-01T12:00:00")  # <= semantics, latest wins
    assert out["p3"] is None  # no prior right row → NULL (left outer)


def test_keep_first_survivor_is_deterministic(spark):
    from tmdb_movie_data_pipeline_spark.operators.windows import keep_first

    df = spark.createDataFrame(
        [(1, 5.0, "a"), (1, 9.0, "b"), (1, 9.0, "c"), (2, 1.0, "d")],
        "k long, pop double, tag string",
    )
    # popularity desc, tie-break on tag: survivor must be 'b', never 'c'
    for _ in range(3):
        out = keep_first(df.repartition(8), ["k"], [F.desc("pop"), F.asc("tag")])
        assert {r.tag for r in out.collect()} == {"b", "d"}


def test_minhash_lsh_finds_planted_near_dups(spark):
    from tmdb_movie_data_pipeline_spark.operators.dedup import minhash_signatures
    # two near-identical docs (one word changed) + one unrelated
    base = " ".join(f"word{i}" for i in range(60))
    near = base.replace("word30", "changed")
    other = " ".join(f"zz{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    sigs = minhash_signatures(docs).collect()
    by_id = {r.doc_id: [r[f"sig_{i}"] for i in range(16)] for r in sigs}
    agree_near = sum(a == b for a, b in zip(by_id[1], by_id[2]))
    agree_far = sum(a == b for a, b in zip(by_id[1], by_id[3]))
    assert agree_near >= 8  # hash agreement tracks Jaccard (~0.9 here)
    assert agree_far == 0


def test_candidate_overlap_matches_python_sets(spark):
    """The per-pair shingle overlap against Python set arithmetic: a pair
    with disjoint shingle sets drops out, a repeated shingle counts once,
    and two identical documents overlap in every shingle."""
    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        _candidate_overlap,
        _doc_shingles,
    )

    texts = {
        1: "the quick brown fox jumps",
        2: "lorem ipsum dolor sit amet",  # no shingle shared with 1
        3: "the quick brown the quick brown",  # "the quick brown" twice
        4: "The  quick brown fox jumps",  # 1 after normalization
        5: "quick brown fox",
    }
    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    pairs = [(1, 2), (1, 3), (1, 4), (3, 4), (2, 5), (4, 5)]
    cand = spark.createDataFrame(pairs, "doc_a long, doc_b long")

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sh = {d: shingles(t) for d, t in texts.items()}
    assert len(sh[3]) == 3 and sh[1] == sh[4] and not sh[1] & sh[2]
    expect = {
        (a, b): (len(sh[a] & sh[b]), len(sh[a]), len(sh[b]))
        for a, b in pairs
        if sh[a] & sh[b]
    }
    rows = _candidate_overlap(cand, _doc_shingles(docs)).collect()
    got = {(r.doc_a, r.doc_b): (r.inter, r.n_a, r.n_b) for r in rows}
    assert got == expect
    assert {(r.doc_a, r.doc_b): set(r.common) for r in rows} == {
        p: sh[p[0]] & sh[p[1]] for p in expect
    }
    assert (1, 2) not in got and (2, 5) not in got
    assert got[(1, 4)] == (3, 3, 3)


def test_exact_dedup_counts_duplicates(spark):
    from tmdb_movie_data_pipeline_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "different")],
        "doc_id long, text string",
    )
    out = {r.canonical_id: r.dup_count for r in exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_approx_count_distinct_within_5pct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        # rsd=0.02: default 0.05 gave 6.7% observed error at sf0.01
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        F.countDistinct("o_custkey").alias("exact"),
    ).first()
    assert abs(row.approx - row.exact) / row.exact < 0.05


def test_incremental_backfill_skips_done_months(spark, tmp_path):
    from tmdb_movie_data_pipeline_spark.plans.checkpoint import (
        load_done_keys,
        run_incremental_backfill,
        save_done_keys,
    )

    df = spark.createDataFrame(
        [(1, ts("2024-01-05T00:00:00")), (2, ts("2024-02-10T00:00:00")),
         (3, ts("2024-02-20T00:00:00"))],
        "id long, ts timestamp",
    )
    out = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt.json")

    first = run_incremental_backfill(spark, df, "ts", out, ckpt)
    assert first == ["2024-01", "2024-02"]
    assert spark.read.parquet(out).count() == 3

    # second run: everything checkpointed → no work (J2 anti-join, R4)
    second = run_incremental_backfill(spark, df, "ts", out, ckpt)
    assert second == []

    # new month arrives → only it is written
    df2 = df.union(
        spark.createDataFrame([(4, ts("2024-03-01T00:00:00"))], "id long, ts timestamp")
    )
    third = run_incremental_backfill(spark, df2, "ts", out, ckpt)
    assert third == ["2024-03"]
    assert spark.read.parquet(out).count() == 4


def test_checkpoint_corruption_degrades_to_full_run(spark, tmp_path):
    from tmdb_movie_data_pipeline_spark.plans.checkpoint import load_done_keys, save_done_keys

    p = str(tmp_path / "ckpt.json")
    # missing file → empty (W5, movie.py:214-222)
    assert load_done_keys(spark, p).count() == 0
    # corrupted JSON → empty, no crash (tests/test_movie.py:128-132)
    with open(p, "w") as f:
        f.write("not valid json {{ }")
    assert load_done_keys(spark, p).count() == 0
    # roundtrip + atomicity: no .tmp residue (tests/test_movie.py:134-143)
    save_done_keys(["2024-01", "2024-02"], p)
    import os

    assert not os.path.exists(p + ".tmp")
    keys = {r.unit_key for r in load_done_keys(spark, p).collect()}
    assert keys == {"2024-01", "2024-02"}


def test_read_done_keys_falls_back_to_nothing_done(tmp_path):
    from tmdb_movie_data_pipeline_spark.plans.checkpoint import read_done_keys

    p = tmp_path / "ckpt.json"
    # missing file
    assert read_done_keys(str(p)) == []
    # truncated JSON: a crash mid-write without the tmp+rename commit
    p.write_text('{"done_units": ["2024-01", "2024-')
    assert read_done_keys(str(p)) == []
    # valid JSON that is not an object
    p.write_text('["2024-01", "2024-02"]')
    assert read_done_keys(str(p)) == []
    # valid doc: keys come back as written, order included
    p.write_text('{"done_units": ["2024-02", "2024-01"]}')
    assert read_done_keys(str(p)) == ["2024-02", "2024-01"]


def test_multimodal_feature_extraction_plumbing(spark):
    from tmdb_movie_data_pipeline_spark.operators.multimodal import (
        attach_binary_payload,
        decode_image,
        extract_features,
    )
    import pytest

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    feat = extract_features(attach_binary_payload(docs)).first()
    assert feat.n_bytes == 11
    import hashlib

    assert feat.payload_md5 == hashlib.md5(b"hello world").hexdigest()
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")  # compressed codecs stay a named plug-in


def test_decode_image_real_containers():
    """decode_image is a REAL pure-Python decoder (r10, retiring the r1-r9
    blanket stub): PPM/PGM/BMP round-trip to the identical top-down RGB
    stream regardless of container quirks (BMP bottom-up BGR rows padded to
    4 bytes; netpbm comment lines)."""
    from tmdb_movie_data_pipeline_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
        encode_ppm,
    )
    import pytest

    # w=5 makes the BMP stride 16 > 15 -> the padding branch is exercised
    rgb = bytes((21 + i) % 256 for i in range(3 * 5 * 4))
    for enc in (encode_ppm, encode_bmp):
        img = decode_image(enc(5, 4, rgb))
        assert (img["width"], img["height"], img["channels"]) == (5, 4, 3)
        assert img["pixels"] == rgb
    gray = decode_image(b"P5\n3 2\n255\n" + bytes(range(6)))
    assert (gray["width"], gray["height"], gray["channels"]) == (3, 2, 1)
    assert gray["pixels"] == bytes(range(6))
    assert decode_image(b"P6\n# comment\n2 2\n255\n" + bytes(12))["width"] == 2
    with pytest.raises(ValueError):
        decode_image(b"P6\n2 2\n255\n" + bytes(3))  # truncated raster


def test_lsh_embedding_dedup_subset_of_dense_scan(spark, sf_dir):
    """The registered banded-LSH pair dedup must (a) never emit a pair the
    exact all-pairs scan would reject (precision 1.0 — candidates are
    re-scored with the exact cosine) and (b) keep recall above a floor at
    the 0.35 threshold (the hardest regime: testdata's max pair cosine is
    ~0.48, far below the near-dup band where banding recall → 1).

    The dense numpy scan here is the TEST-side verifier only; the
    registered plan is collect-free (VERDICT r1 "What's wrong" #2).
    """
    import numpy as np
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DUP_COSINE_THRESHOLD,
        DUP_QUANT_SCALE,
        embedding_cosine_dups,
    )

    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_cosine_dups(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    # truth uses the operator's scoring semantics (micro-unit quantized
    # cosine) so the precision assertion is exact at the threshold boundary
    s = mat * DUP_QUANT_SCALE
    q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
    qn = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    cos = (q @ q.T).astype(np.float64) / np.outer(qn, qn)
    iu = np.triu_indices(len(ids), 1)
    keep = cos[iu] >= DUP_COSINE_THRESHOLD
    truth = set(zip(ids[iu[0][keep]].tolist(), ids[iu[1][keep]].tolist()))

    assert got, "LSH dedup returned no pairs"
    assert got <= truth, f"false positives: {sorted(got - truth)[:5]}"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.5, f"recall {recall:.3f} below floor at 24 planes / 6 tables"


def test_connected_components_known_graph(spark):
    """Min-label propagation reaches the transitive fixpoint: two chains and
    a triangle, where the chain 10-11-12-13 requires multi-hop propagation
    (13 never shares an edge with 10)."""
    from tmdb_movie_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(11, 10), (11, 12), (12, 13), (20, 21), (21, 20), (30, 31), (31, 32), (30, 32)],
        "src long, dst long",
    )
    got = {
        (r.v, r.comp) for r in connected_components(edges).collect()
    }
    assert got == {
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30),
    }


# Jobs the llm_quality_canonical_dedup builder launches once the LSH pair
# stage exists: the one edge collect of connected_components (its table
# reads take declared schemas, so they launch none). The per-round
# checkpoint and convergence jobs of the distributed loop took it to 31.
CANONICAL_DEDUP_BUILD_JOBS = 1


def test_connected_components_under_threshold_is_one_job(spark, sf_dir):
    """Under the broadcast threshold the components come from one collect
    job and a local relation: no round jobs, no checkpointed RDD left
    behind."""
    from conftest import job_group
    from tmdb_movie_data_pipeline_spark.operators.graph import connected_components
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(11, 10), (11, 12), (12, 13), (20, 21)], "src long, dst long"
    )
    rdds_before = sc._jsc.sc().getPersistentRDDs().size()
    with job_group(spark, "cc-driver-path") as jobs:
        comp = connected_components(edges)
    assert len(jobs) == 1
    assert sc._jsc.sc().getPersistentRDDs().size() == rdds_before
    assert sorted(map(tuple, comp.collect())) == [
        (10, 10), (11, 10), (12, 10), (13, 10), (20, 20), (21, 20),
    ]

    build = all_queries()["llm_quality_canonical_dedup"]
    build(spark, sf_dir)  # stages the LSH pairs
    with job_group(spark, "canonical-dedup-build") as jobs:
        build(spark, sf_dir)
    assert len(jobs) <= CANONICAL_DEDUP_BUILD_JOBS, jobs


def test_salted_agg_explicit_combiners_match_direct(spark):
    import pytest

    from tmdb_movie_data_pipeline_spark.operators.skew import salted_agg

    df = spark.createDataFrame(
        [(k, v) for k in ("a", "b") for v in range(1, 11)], "k string, v long"
    )
    out = {
        r.k: (r.s, r.n, r.lo, r.hi)
        for r in salted_agg(
            df,
            ["k"],
            {
                "s": (F.sum("v"), "sum"),
                "n": (F.count(F.lit(1)), "count"),
                "lo": (F.min("v"), "min"),
                "hi": (F.max("v"), "max"),
            },
            salt=4,
        ).collect()
    }
    assert out == {"a": (55, 10, 1, 10), "b": (55, 10, 1, 10)}

    # non-decomposable aggregates must NOT be silently mis-combined: an
    # unknown combiner name raises instead of re-summing a mean of means
    with pytest.raises(ValueError, match="avg"):
        salted_agg(df, ["k"], {"m": (F.avg("v"), "avg")}, salt=4).collect()

    # callable combiners pass through (caller-owned decomposition)
    out2 = salted_agg(
        df, ["k"], {"s2": (F.sum("v"), lambda c: F.sum(c) * 2)}, salt=4
    )
    assert {r.s2 for r in out2.collect()} == {110}


def test_shortest_paths_known_graph(spark):
    from tmdb_movie_data_pipeline_spark.operators.graph import shortest_paths

    # path 1-2-3-4, triangle 10-11-12, isolated edge 20-21 (no source side)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    sources = spark.createDataFrame([(1,), (10,)], "v long")
    got = {r.v: r.d for r in shortest_paths(edges, sources).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 10: 0, 11: 1, 12: 1}
    # 20/21 unreachable -> absent, not d=inf


def test_shortest_paths_round_cap_raises(spark):
    import pytest

    from tmdb_movie_data_pipeline_spark.operators.graph import shortest_paths

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    sources = spark.createDataFrame([(0,)], "v long")
    with pytest.raises(RuntimeError, match="converge"):
        # 6-hop chain cannot converge in 2 rounds
        shortest_paths(chain, sources, max_rounds=2)


def test_transform_with_state_gated_on_protobuf(spark, sf_dir):
    import pytest

    from tmdb_movie_data_pipeline_spark.streaming.transform_state import (
        transform_with_state_event_stats,
        tws_available,
    )

    if not tws_available():
        with pytest.raises(NotImplementedError, match="protobuf"):
            transform_with_state_event_stats(spark, sf_dir)
    else:  # pragma: no cover - needs protobuf in the image
        assert transform_with_state_event_stats(spark, sf_dir).count() > 0


def test_repetition_filter_flags_planted_repetitive_doc(spark):
    from tmdb_movie_data_pipeline_spark.operators.text import repetition_stats

    clean = " ".join(f"word{i}" for i in range(50))          # all distinct
    loop = " ".join(["spam ham eggs"] * 20)                  # pure repetition
    short = "a b"                                            # < 3 tokens: dropped
    docs = spark.createDataFrame(
        [(1, clean), (2, loop), (3, short)], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert set(rows) == {1, 2}  # short doc filtered out
    assert rows[1].dup_unigram_ratio == 0.0
    assert rows[1].dup_trigram_ratio == 0.0
    assert bool(rows[1].passes_repetition)
    # 60 tokens, 3 distinct -> dup ratio 57/60; trigrams heavily duplicated
    assert rows[2].dup_unigram_ratio > 0.9
    assert rows[2].dup_trigram_ratio > 0.9
    assert rows[2].top_token_frac >= 1.0 / 3.0
    assert not bool(rows[2].passes_repetition)


def test_observe_collects_audit_metrics_inline(spark, sf_dir):
    """df.observe(): audit metrics (row count, violation count) ride along
    with the real job — no second scan, the Deequ-style audit for free on
    any existing action."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    li = load_table(spark, sf_dir, "lineitem")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(~F.col("l_quantity").between(1, 50), 1).otherwise(0)).alias(
            "qty_violations"
        ),
    )
    # the action that triggers metric collection is the real query itself
    total = observed.groupBy("l_returnflag").count().collect()
    assert sum(r["count"] for r in total) == obs.get["n_rows"]
    assert obs.get["qty_violations"] == 0


class TestCdcChunking:
    """Semantic pins for the fixed-window Buzhash chunker. Since the r6
    rewrite the boundary rule is ALSO oracle-checked end-to-end
    (test_oracle: multimodal_cdc_chunk_dedup hash-matches DuckDB); these
    tests pin the pieces the aggregate can't see — reconstruction, the
    vectorization's equivalence to a scalar reference, and dedup
    locality under edits."""

    def test_reconstruction(self):
        from tmdb_movie_data_pipeline_spark.operators.multimodal import (
            cdc_chunk_spans,
        )

        data = ("the quick brown fox jumps over the lazy dog " * 40).encode()
        spans = cdc_chunk_spans(data)
        assert b"".join(data[s:e] for s, e in spans) == data
        assert all(e > s for s, e in spans)
        assert spans[-1][1] == len(data)

    def test_vectorized_matches_scalar_reference(self):
        """The numpy sliding-window passes must equal a byte-at-a-time
        recomputation of H_i = XOR_d rotl32(T[b_{i-d}], d) — the scalar
        form is the spec, the vectorized form is the implementation."""
        import hashlib
        import random

        from tmdb_movie_data_pipeline_spark.operators.multimodal import (
            _CDC_MASK,
            _CDC_W,
            cdc_chunk_ends,
        )

        tbl = [
            int(hashlib.md5(f"buz_{b}".encode()).hexdigest()[:8], 16)
            for b in range(256)
        ]

        def rotl(x, r):
            return ((x << r) | (x >> (32 - r))) & 0xFFFFFFFF if r else x

        def ref_ends(data):
            n = len(data)
            if n == 0:
                return []
            if n < _CDC_W:
                return [n]
            cuts = []
            for i in range(_CDC_W, n + 1):
                h = 0
                for d in range(_CDC_W):
                    h ^= rotl(tbl[data[i - 1 - d]], d)
                if (h & _CDC_MASK) == 0:
                    cuts.append(i)
            if not cuts or cuts[-1] != n:
                cuts.append(n)
            return cuts

        rng = random.Random(7)
        for n in [0, 1, 7, 8, 9, 64, 500, 4096]:
            data = bytes(rng.randrange(256) for _ in range(n))
            assert cdc_chunk_ends(data) == ref_ends(data), n

    def test_insertion_shifts_only_local_chunks(self):
        """THE CDC property: a boundary depends on exactly the W bytes of
        its window, so an insertion disturbs only cuts whose window
        overlaps the edit — every later cut fires at the same CONTENT
        offset. Fixed 64-byte blocks shift EVERY subsequent block — that
        contrast is why the 100 TB path chunks by content."""
        import hashlib

        from tmdb_movie_data_pipeline_spark.operators.multimodal import (
            cdc_chunk_spans,
        )

        # high-entropy corpus so boundaries are content-driven
        base = b"".join(
            hashlib.md5(str(i).encode()).digest() for i in range(400)
        )
        edited = base[:100] + b"INSERTED!" + base[100:]
        chunks_a = {base[s:e] for s, e in cdc_chunk_spans(base)}
        chunks_b = {edited[s:e] for s, e in cdc_chunk_spans(edited)}
        shared = chunks_a & chunks_b
        # the overwhelming majority of chunks survive the insertion
        assert len(shared) >= int(0.8 * len(chunks_a)), (
            len(shared),
            len(chunks_a),
        )
        # fixed-block contrast: blocks after the insertion all shift
        blk = lambda d: {d[i : i + 64] for i in range(0, len(d), 64)}
        fixed_shared = blk(base) & blk(edited)
        assert len(fixed_shared) < len(shared)

    def test_empty_and_tiny_payloads(self):
        from tmdb_movie_data_pipeline_spark.operators.multimodal import (
            cdc_chunk_spans,
        )

        assert cdc_chunk_spans(b"") == []
        assert cdc_chunk_spans(b"abc") == [(0, 3)]


def test_interval_merge_output_is_disjoint_and_covering(spark, sf_dir):
    """Merged intervals per user must be pairwise disjoint (strictly
    separated — touching ones would have merged) and cover every source
    interval's span."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    out = all_queries()["events_interval_merge"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r)
    n_events = 0
    for user, rows in by_user.items():
        rows.sort(key=lambda r: r.merged_start_us)
        for a, b in zip(rows, rows[1:]):
            assert a.merged_end_us < b.merged_start_us, (
                f"user {user}: intervals touch/overlap — should have merged"
            )
        n_events += sum(r.n_merged for r in rows)
    ev_cnt = (
        spark.read.parquet(f"{sf_dir}/events.parquet").count()
    )
    assert n_events == ev_cnt  # every event landed in exactly one interval


def test_priority_sample_size_and_stability(spark, sf_dir):
    """Per-stratum sample size is min(K, |stratum|) and the selected SET is
    identical across runs/partitionings (the determinism the operator
    exists for)."""
    from tmdb_movie_data_pipeline_spark.operators.sampling import _PRI_K
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    run1 = {
        (r.source, r.doc_id)
        for r in all_queries()["sample_weighted_priority"](spark, sf_dir).collect()
    }
    run2 = {
        (r.source, r.doc_id)
        for r in all_queries()["sample_weighted_priority"](spark, sf_dir).collect()
    }
    assert run1 == run2
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sizes = {
        r.source: r.n for r in docs.groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    import collections

    per_stratum = collections.Counter(s for s, _ in run1)
    for src, n in sizes.items():
        assert per_stratum[src] == min(_PRI_K, n)


def test_spatial_grid_join_finds_exactly_the_close_pairs(spark, sf_dir):
    """Grid candidates lose nothing: brute-force over collected points
    equals the operator's pair set (tiny at fixture scale)."""
    from tmdb_movie_data_pipeline_spark.operators.spatial import (
        _R2,
        grid_points,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    pts = {
        r.pkey: (r.x, r.y)
        for r in grid_points(
            spark.read.parquet(f"{sf_dir}/customer.parquet")
        ).collect()
    }
    keys = sorted(pts)
    expected = set()
    for i, a in enumerate(keys):
        ax, ay = pts[a]
        for b in keys[i + 1 :]:
            bx, by = pts[b]
            if (ax - bx) ** 2 + (ay - by) ** 2 <= _R2:
                expected.add((a, b))
    got = {
        (r.custkey_a, r.custkey_b)
        for r in all_queries()["join_spatial_grid"](spark, sf_dir).collect()
    }
    assert got == expected


def test_join_cardinality_estimator_is_scaled_sample(spark, sf_dir):
    """est = sampled * 16 by construction, and the exact count equals the
    true join size computed independently."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["sketch_join_cardinality"](spark, sf_dir).collect()[0]
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    true_n = o.join(li, o.o_orderkey == li.l_orderkey).count()
    assert row.exact_pairs == true_n
    assert row.est_pairs % 16 == 0


def test_modularity_contributions_are_bounded_and_sum_sane(spark, sf_dir):
    """Q = Σ q_contrib_ppm must land in [-1e6, 1e6]; per-community intra
    edges cannot exceed the community's degree sum / 2."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["graph_modularity"](spark, sf_dir).collect()
    assert rows
    q = sum(r.q_contrib_ppm for r in rows)
    assert -1_000_000 <= q <= 1_000_000
    for r in rows:
        assert 2 * r.intra_edges <= r.degree_sum


def test_tvd_drift_halves_to_at_most_one(spark, sf_dir):
    """TVD = Σ abs_diff_ppm / 2 is a probability distance: <= 1e6."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["profile_drift_tvd"](spark, sf_dir).collect()
    assert sum(r.abs_diff_ppm for r in rows) // 2 <= 1_000_000


def test_markov_stationary_mass_is_conserved_up_to_truncation(spark, sf_dir):
    """Total fixed-point mass starts at |types|*S and only shrinks by
    integer-division truncation — never grows, never collapses."""
    from tmdb_movie_data_pipeline_spark.operators.events import _MK_SCALE
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["events_markov_stationary"](spark, sf_dir).collect()
    total = sum(r.stationary_u for r in rows)
    n = len(rows)
    assert total <= n * _MK_SCALE
    assert total >= n * _MK_SCALE - 8 * n * n  # <=|types| units lost per round


def test_auc_matches_direct_pair_count(spark, sf_dir):
    """AUC from the rank identity equals the direct P(score+ > score-)
    pair count (ties half) computed in pure Python on the fixture."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["ml_auc_roc"](spark, sf_dir).collect()[0]
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "n_chars", "lang"
    ).collect()
    pos = [d.n_chars for d in docs if d.lang == "en"]
    neg = [d.n_chars for d in docs if d.lang != "en"]
    two_u = sum(2 if p > n else 1 if p == n else 0 for p in pos for n in neg)
    assert row.two_u == two_u
    assert row.auc_ppm == (500_000 * two_u) // (len(pos) * len(neg))


def test_longest_dup_run_reports_planted_run_lengths(spark):
    """Plant two documents sharing EXACTLY one verbatim 20-token run (the
    rest unique): both must report longest_dup_run == 20 in one island; a
    third document with no 15-token overlap must not appear at all."""
    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        _SUBSTR_K,
        longest_dup_run_stats,
    )

    shared = " ".join(f"s{i}" for i in range(20))  # 20-token verbatim run
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"a{i}" for i in range(30)) + " " + shared),
            (2, shared + " " + " ".join(f"b{i}" for i in range(30))),
            (3, " ".join(f"c{i}" for i in range(60))),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in longest_dup_run_stats(docs).collect()}
    assert set(rows) == {1, 2}  # doc 3 shares no window
    for d in (1, 2):
        assert rows[d].longest_dup_run == 20
        assert rows[d].n_runs == 1
        # a 20-token run yields 20 - K + 1 consecutive duplicated windows
        assert rows[d].n_dup_windows == 20 - _SUBSTR_K + 1


def test_minimizer_guarantee_at_threshold_run_length(spark):
    """Winnowing guarantee: two docs sharing a verbatim run of EXACTLY
    w + k - 1 tokens (the minimum covered length) must share at least one
    minimizer fingerprint, for several differently-hashed planted runs;
    disjoint docs share none."""
    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        _MZ_K,
        _MZ_W,
        minimizer_sets,
    )

    guarantee = _MZ_W + _MZ_K - 1
    rows = []
    for trial in range(5):
        shared = " ".join(f"t{trial}s{i}" for i in range(guarantee))
        rows.append(
            (10 * trial, " ".join(f"t{trial}a{i}" for i in range(25)) + " " + shared)
        )
        rows.append(
            (10 * trial + 1, shared + " " + " ".join(f"t{trial}b{i}" for i in range(25)))
        )
    rows.append((999, " ".join(f"z{i}" for i in range(60))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sels = minimizer_sets(docs).collect()
    by_doc: dict[int, set] = {}
    for r in sels:
        by_doc.setdefault(r.doc_id, set()).add(r.h)
    for trial in range(5):
        a, b = by_doc[10 * trial], by_doc[10 * trial + 1]
        assert a & b, f"trial {trial}: guarantee-length run missed"
    assert not (by_doc[999] & set().union(*(v for k, v in by_doc.items() if k != 999)))
    # density sanity: winnowing keeps ~2/(w+1) of grams, far below all
    n_grams_per_doc = 25 + guarantee - _MZ_K + 1
    for d, hs in by_doc.items():
        assert len(hs) < n_grams_per_doc


def test_growth_accounting_identities(spark, sf_dir):
    """active(w) = new + retained + resurrected for every week, and
    active(w) = active(w-1) - churned(w) + new(w) + resurrected(w) for
    every interior week — the algebra growth dashboards depend on."""
    from tmdb_movie_data_pipeline_spark.operators.events import (
        _user_weeks,
        growth_accounting,
    )

    uw = _user_weeks(spark, sf_dir)
    active = {
        r["w"]: r["n"]
        for r in uw.groupBy("w").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    rows = {r["week"]: r.asDict() for r in growth_accounting(spark, sf_dir).collect()}
    for w, n in active.items():
        r = rows[w]
        assert n == r["n_new"] + r["n_retained"] + r["n_resurrected"], w
    for w in active:
        if w - 1 in active:
            r = rows[w]
            assert active[w] == (
                active[w - 1] - r["n_churned"] + r["n_new"] + r["n_resurrected"]
            ), w


def test_stratified_split_quotas_are_exact(spark, sf_dir):
    """Per-stratum split sizes equal the largest-remainder quotas: they
    sum to the stratum size, train gets floor-or-ceil of 80%, and the
    val/test sizes differ by at most 1 (ties broken toward validation)."""
    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        stratified_split_exact,
    )

    out = stratified_split_exact(spark, sf_dir)
    counts = {
        (r["lang"], r["split"]): r["n"]
        for r in out.groupBy("lang", "split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    strata = {}
    for (lang, split), n in counts.items():
        strata.setdefault(lang, {})[split] = n
    assert strata, "no strata produced"
    for lang, by_split in strata.items():
        n = sum(by_split.values())
        tr = by_split.get("train", 0)
        va = by_split.get("validation", 0)
        te = by_split.get("test", 0)
        assert tr in (8 * n // 10, 8 * n // 10 + 1), (lang, by_split)
        assert va in (n // 10, n // 10 + 1), (lang, by_split)
        assert te in (n // 10, n // 10 + 1), (lang, by_split)
        assert va >= te, ("tie must favor validation", lang, by_split)
        # assignment is a partition: every doc appears exactly once
    total = out.count()
    distinct_docs = out.select("doc_id").distinct().count()
    assert total == distinct_docs


def test_token_budget_quota_sums_exactly(spark, sf_dir):
    """Largest-remainder token quotas must sum EXACTLY to the budget, and
    every quota must be floor-or-floor+1 of the proportional share."""
    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        _TB_BUDGET,
        token_budget_quota,
    )

    rows = token_budget_quota(spark, sf_dir).collect()
    assert rows
    assert sum(r["quota"] for r in rows) == _TB_BUDGET
    total = sum(r["avail_tokens"] for r in rows)
    for r in rows:
        fl = _TB_BUDGET * r["avail_tokens"] // total
        assert r["quota"] in (fl, fl + 1), r


def test_lorenz_curve_is_monotone_and_ends_at_unity(spark, sf_dir):
    """The Lorenz curve must be nondecreasing in both coordinates, stay
    below the diagonal (events share <= users share pointwise, since rows
    ascend by activity), and both cumulative shares must end at 1e6."""
    from tmdb_movie_data_pipeline_spark.operators.events import lorenz_curve

    rows = sorted(
        lorenz_curve(spark, sf_dir).collect(),
        key=lambda r: r["events_per_user"],
    )
    assert rows
    prev_u = prev_e = 0
    for r in rows:
        assert r["cum_users_ppm"] >= prev_u and r["cum_events_ppm"] >= prev_e
        # ascending-activity prefix: users accumulate faster than events
        assert r["cum_events_ppm"] <= r["cum_users_ppm"] + 1  # +1 for floor div
        prev_u, prev_e = r["cum_users_ppm"], r["cum_events_ppm"]
    assert rows[-1]["cum_users_ppm"] == 1_000_000
    assert rows[-1]["cum_events_ppm"] == 1_000_000


def test_spearman_rho_bounds_and_self_correlation(spark, sf_dir):
    """rho_ppm must lie in [-1e6, 1e6]; and the same series ranked against
    itself must give exactly +1e6 (sum_d2_x4 == 0 path)."""
    from tmdb_movie_data_pipeline_spark.operators.aggregates import spearman_rho

    row = spearman_rho(spark, sf_dir).collect()[0]
    assert -1_000_000 <= row["rho_ppm"] <= 1_000_000
    assert row["sum_d2_x4"] >= 0
    assert row["n_days"] > 2


def test_welch_t2_nonnegative_and_sign_consistent(spark, sf_dir):
    """t2_ppm >= 0 always; purchase values exceed view values in the
    fixture, so the preserved sign must be positive."""
    from tmdb_movie_data_pipeline_spark.operators.aggregates import welch_t2

    row = welch_t2(spark, sf_dir).collect()[0]
    assert row["t2_ppm"] >= 0
    assert row["n1"] > 1 and row["n2"] > 1


def test_zipf_profile_ranks_are_powers_of_two_and_freq_nonincreasing(spark, sf_dir):
    from tmdb_movie_data_pipeline_spark.operators.text import zipf_profile

    rows = sorted(zipf_profile(spark, sf_dir).collect(), key=lambda r: r["rank"])
    assert rows
    for r in rows:
        assert r["rank"] & (r["rank"] - 1) == 0, "rank must be a power of two"
        assert r["rank_freq_product"] == r["rank"] * r["freq"]
    freqs = [r["freq"] for r in rows]
    assert freqs == sorted(freqs, reverse=True), "freq nonincreasing in rank"


def test_readability_formula_identity(spark, sf_dir):
    """fre_milli must equal the documented floor-division formula row by
    row, and syllable/word/sentence counts must be internally sane."""
    from tmdb_movie_data_pipeline_spark.operators.text import readability

    rows = readability(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_sents"] >= 1 and r["n_words"] >= 1
        expected = (
            206835
            - (1015 * r["n_words"]) // r["n_sents"]
            - (84600 * r["n_syll"]) // r["n_words"]
        )
        assert r["fre_milli"] == expected, r


def test_shapley_attribution_efficiency_identity():
    """Shapley axioms on the registered oracle itself: the per-channel
    credits must sum EXACTLY to 24·(v(full) − v(∅)) — conversions the
    channels collectively explain, in the integer ×24 units. Any weight,
    lattice, or marginal-pair bug breaks this identity."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    rows = con.execute(
        all_oracles()["events_shapley_attribution"]
    ).fetchall()
    v_full, v_empty = con.execute(
        """
        WITH conv AS (SELECT user_id, MIN(ts) AS fp FROM events
                      WHERE event_type = 'purchase' GROUP BY 1),
        touch AS (SELECT e.user_id FROM events e JOIN conv c USING (user_id)
                  WHERE e.ts < c.fp AND e.event_type <> 'purchase' GROUP BY 1)
        SELECT (SELECT COUNT(*) FROM conv),
               (SELECT COUNT(*) FROM conv) - (SELECT COUNT(*) FROM touch)
        """
    ).fetchone()
    assert sum(r[1] for r in rows) == 24 * (v_full - v_empty)
    assert len(rows) == 4


def test_jonckheere_terpstra_matches_brute_force():
    """The histogram-window JT formula vs literal pairwise counting at
    sf0.001 — a shared-formula bug between the Spark query and its oracle
    (both use the doubled exceedance identity) cannot hide from this."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    rows = con.execute(
        """
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7,
               CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
        """
    ).fetchall()
    groups: dict[int, list[int]] = {}
    for g, v in rows:
        groups.setdefault(g, []).append(v)
    jt2 = 0
    for i in range(7):
        for j in range(i + 1, 7):
            for x in groups.get(i, []):
                for y in groups.get(j, []):
                    jt2 += 2 if x < y else (1 if x == y else 0)
    n_total, got_jt2, e_jt_x4 = con.execute(
        all_oracles()[
            "stats_jonckheere_terpstra"
        ]
    ).fetchone()
    assert got_jt2 == jt2
    assert n_total == len(rows)
    ns = [len(groups.get(g, [])) for g in range(7)]
    assert e_jt_x4 == sum(ns) ** 2 - sum(n * n for n in ns)


def test_scalar_quantization_constant_dimension_guard(spark):
    """ADVICE r10 item 3: a constant embedding dimension (mx == mn) must
    quantize to code 0 with zero error in BOTH engines — the unguarded
    (x - mn) / (mx - mn) is NaN, which ANSI DuckDB refuses to CAST to
    BIGINT (erroring the whole oracle) while non-ANSI Spark silently
    nulls. The guard lives in the shared expression text; evaluate that
    exact text in both engines over a constant dimension and a normal
    one."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.pq import (
        _SQ_CODE_EXPR,
        _SQ_ERR_EXPR,
    )

    rows = [
        (0.5, 0.5, 0.5),   # constant dimension: mn == mx == x
        (0.25, 0.0, 1.0),  # normal dimension mid-range
        (1.0, 0.0, 1.0),   # top of range (LEAST clamp path)
    ]
    df = spark.createDataFrame(rows, "x double, mn double, mx double")
    got = [
        (r.code, r.err_pico)
        for r in df.withColumn("code", F.expr(_SQ_CODE_EXPR))
        .withColumn("err_pico", F.expr(_SQ_ERR_EXPR))
        .collect()
    ]
    con = duckdb.connect()
    try:
        duck_rows = con.execute(
            f"""
            WITH t(x, mn, mx) AS (VALUES {', '.join(str(r) for r in rows)}),
            coded AS (SELECT x, mn, mx, {_SQ_CODE_EXPR} AS code FROM t)
            SELECT code, {_SQ_ERR_EXPR} AS err_pico FROM coded
            """
        ).fetchall()
    finally:
        con.close()
    assert got == [(int(c), int(e)) for c, e in duck_rows]
    assert got[0] == (0, 0), "constant dimension must be code 0 / err 0"
    assert got[2][0] == 255, "full-range value must clamp to the top code"


def test_friedman_matches_brute_force():
    """The window-rank Friedman χ² vs literal python ranking at sf0.001 —
    a shared-identity bug between the Spark query and its oracle (both
    use the doubled-rank formula) cannot hide from this."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    cells = con.execute(
        """
        SELECT user_id % 12, event_type,
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events GROUP BY 1, 2
        """
    ).fetchall()
    by_blk: dict[int, list[tuple[str, int]]] = {}
    for blk, et, cv in cells:
        by_blk.setdefault(blk, []).append((et, cv))
    # literal average ranks (fractional), classic chi2_F
    col_r: dict[str, float] = {}
    n_blocks = len(by_blk)
    for blk, items in by_blk.items():
        vals = sorted(v for _, v in items)
        for et, v in items:
            lo = 1 + sum(1 for x in vals if x < v)
            hi = sum(1 for x in vals if x <= v)
            col_r[et] = col_r.get(et, 0.0) + (lo + hi) / 2.0
    k = len(col_r)
    chi2 = (12.0 / (n_blocks * k * (k + 1))) * sum(
        r * r for r in col_r.values()
    ) - 3.0 * n_blocks * (k + 1)
    rows = con.execute(
        all_oracles()["stats_friedman_test"]
    ).fetchall()
    con.close()
    got_ppm = {r[3] for r in rows}
    assert len(got_ppm) == 1, "chi2 must be identical on every output row"
    # the query floors an exact rational to ppm; the float reference must
    # sit within one ppm of it
    assert abs(next(iter(got_ppm)) - chi2 * 1e6) <= 1.0, (
        f"engine {next(iter(got_ppm))} ppm vs reference {chi2 * 1e6}"
    )


def test_kruskal_wallis_matches_brute_force():
    """The histogram-rank Kruskal-Wallis H vs literal fractional-rank
    computation at sf0.001 — the shared doubled-rank identity cannot hide
    a folded-constant bug from an independent float reference (one such
    bug, a leftover /4, was caught by exactly this comparison during the
    r11 session: both engines hash-agreed on the wrong H)."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_oracles

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')"
    )
    vals = con.execute(
        "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events"
    ).fetchall()
    allv = sorted(v for _, v in vals)
    n = len(allv)
    import bisect

    def avg_rank(v: int) -> float:
        lo = bisect.bisect_left(allv, v) + 1
        hi = bisect.bisect_right(allv, v)
        return (lo + hi) / 2.0

    groups: dict[str, list[int]] = {}
    for g, v in vals:
        groups.setdefault(g, []).append(v)
    h = (12.0 / (n * (n + 1))) * sum(
        sum(avg_rank(v) for v in vs) ** 2 / len(vs) for vs in groups.values()
    ) - 3.0 * (n + 1)
    rows = con.execute(
        all_oracles()["stats_kruskal_wallis"]
    ).fetchall()
    con.close()
    got = {r[3] for r in rows}
    assert len(got) == 1
    # k per-group ppm floors put the engine value BELOW the float
    # reference by at most k ppm (plus float slack on the reference side)
    assert -(len(groups) + 1.0) <= next(iter(got)) - h * 1e6 <= 1.0, (
        f"engine {next(iter(got))} ppm vs reference {h * 1e6}"
    )


def test_nemenyi_threshold_fold_is_exact():
    """The Nemenyi critical-difference comparison folds to ONE integer:
    |R2_i - R2_j|^2 * 1e5 > 20*q^2*1e5 * n with q = 2.728. Pin (a) the
    folded constant equals the exact decimal algebra, and (b) the integer
    rule agrees with the float CD definition on a sweep of synthetic rank
    gaps either side of the boundary."""
    import math

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _NEMENYI_Q,
        _NEMENYI_THR,
    )

    k = 5
    # the folded constant is the exact DECIMAL algebra (2728^2 * 20 / 1e5
    # in micro-units); IEEE q**2 sits 4e-9 away, which is precisely why
    # the engines compare INTEGERS and never evaluate q as a float
    assert _NEMENYI_THR == 2728 * 2728 * 20 // 10
    assert _NEMENYI_THR == round(20 * _NEMENYI_Q**2 * 100000)
    for n in (5, 12, 100):
        cd = _NEMENYI_Q * math.sqrt(k * (k + 1) / (6 * n))
        for diff2 in range(0, 60):  # doubled-rank-sum gaps
            # avg-rank gap = diff2 / (2n); float CD rule vs integer rule
            float_sig = diff2 / (2 * n) > cd
            int_sig = diff2 * diff2 * 100000 > _NEMENYI_THR * n
            assert float_sig == int_sig, (n, diff2)


def test_kruskal_rank2_shared_identity(spark, sf_dir):
    """VERDICT r11 #6: `stats_kruskal_mean_ranks` and `stats_kruskal_wallis`
    both build doubled tie-averaged ranks off a value histogram, but spell
    the identity differently (2*(cum-c)+c+1 vs (cum-c+1)+cum). The r11
    session caught a live folded-constant bug (a leftover /4) that BOTH
    engines hash-agreed on — pin the shared algebra as a property so the
    two rank pipelines can never silently diverge again:

    * property over arbitrary histograms: both spellings equal min+max of
      the tied run, and Σ count·rank2 == N(N+1) exactly;
    * both LIVE pipelines satisfy that total-rank-mass identity on their
      real tables at sf0.001 (orders for mean-ranks, events for KW);
    * the doubled-rank H fold (12/4 -> 3) agrees with a float H computed
      from the mean-ranks pipeline's own outputs.
    """
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.integers(1, 50), min_size=1, max_size=40))
    def prop(counts):
        cum, mass = 0, 0
        for c in counts:
            prev = cum
            cum += c
            ar2_meanranks = 2 * (cum - c) + c + 1      # spelling A
            rank2_kw = (cum - c + 1) + cum              # spelling B
            assert ar2_meanranks == rank2_kw == (prev + 1) + cum
            mass += c * rank2_kw
        assert mass == cum * (cum + 1), "Σ count·rank2 must be N(N+1)"

    prop()

    q = all_queries()
    mr = q["stats_kruskal_mean_ranks"](spark, sf_dir).collect()
    n_total = sum(r["n"] for r in mr)
    assert sum(r["rank_sum_x2"] for r in mr) == n_total * (n_total + 1)

    kw = q["stats_kruskal_wallis"](spark, sf_dir).collect()
    n = sum(r["n_j"] for r in kw)
    assert sum(r["r2_j"] for r in kw) == n * (n + 1)

    # the H fold: per-group ppm floors sum to within k ppm BELOW the float
    # reference 3*Σ R2_j²/(n_j·N(N+1)) − 3(N+1) == classic 12-fold H
    h_float = (3.0 / (n * (n + 1))) * sum(
        r["r2_j"] ** 2 / r["n_j"] for r in kw
    ) - 3.0 * (n + 1)
    h_ppm = {r["h_ppm"] for r in kw}
    assert len(h_ppm) == 1
    assert -(len(kw) + 1.0) <= next(iter(h_ppm)) - h_float * 1e6 <= 1.0


def test_cuped_matches_numpy_reference(spark, sf_dir):
    """The r13-queue CUPED outputs vs an independent float computation
    (numpy covariance algebra on the same per-user relation) — the same
    brute-force discipline that caught the Kruskal /4 fold bug: both
    engines hash-agreeing cannot hide a wrong folded constant from an
    independent reference."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["events_cuped_variance_reduction"](
        spark, sf_dir
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    per = con.execute("""
        WITH u AS (SELECT DISTINCT user_id FROM events)
        SELECT u.user_id % 2 = 0 AS treated,
               COALESCE(SUM(CASE WHEN e.ts < TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(e.value) AS BIGINT) END), 0) AS x,
               COALESCE(SUM(CASE WHEN e.ts >= TIMESTAMP '2024-01-16'
                    THEN CAST(ROUND(e.value) AS BIGINT) END), 0) AS y
        FROM u LEFT JOIN events e
          ON e.user_id = u.user_id AND e.event_type = 'purchase'
        GROUP BY u.user_id, 1
    """).fetchall()
    con.close()
    xs = [float(x) for _, x, _ in per]
    ys = [float(y) for _, _, y in per]
    n = len(per)
    mean = lambda v: sum(v) / len(v)
    mx, my = mean(xs), mean(ys)
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    vx = sum((a - mx) ** 2 for a in xs)
    vy = sum((b - my) ** 2 for b in ys)
    rho2 = cov * cov / (vx * vy)
    assert abs(row["rho2_ppm"] - rho2 * 1e6) <= 2.0
    t = [(x, y) for tr, x, y in per if tr]
    c = [(x, y) for tr, x, y in per if not tr]
    assert row["n_treat"] == len(t) and row["n_ctrl"] == len(c)
    dy = mean([y for _, y in t]) - mean([y for _, y in c])
    dx = mean([x for x, _ in t]) - mean([x for x, _ in c])
    theta = cov / vx
    assert abs(row["delta_raw_micro"] - dy * 1e6) <= 2.0
    assert abs(row["delta_cuped_micro"] - (dy - theta * dx) * 1e6) <= 2.0


def _largest_sf_dir(root: str = "/root/testdata") -> str:
    """Largest shipped scale-factor directory, DISCOVERED by glob
    (ADVICE r13: a hardcoded 'sf0.1' would silently keep measuring the
    old SF if a larger fixture ships, letting headroom guarantees go
    stale without a failure)."""
    import pathlib

    dirs = [
        (float(p.name[2:]), p)
        for p in pathlib.Path(root).glob("sf*")
        if p.is_dir() and (p / "events.parquet").exists()
    ]
    assert dirs, f"no sf* fixture dirs under {root}"
    return str(max(dirs)[1])


def test_cuped_decimal_headroom_at_largest_sf():
    """ADVICE r12: CUPED's DECIMAL(38,0) products must keep loud margin.
    Spark's non-ANSI decimal overflow silently NULLs while DuckDB
    HUGEINT raises, so an overflow would surface as a cross-engine
    divergence, not a failure — this test recomputes every
    numerator/denominator the query folds, in unbounded Python ints at
    the LARGEST shipped SF (glob-discovered, ADVICE r13), and reds if a
    data regen pushes the max magnitude within 10 orders of the
    38-digit ceiling (measured: ~10^23.9 at sf0.1; the statistic scales
    ~n^4 in users, ceiling near sf≈300)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{_largest_sf_dir()}/events.parquet')"
    )
    moments = con.execute("""
        WITH u AS (SELECT DISTINCT user_id FROM events),
        per AS (
            SELECT u.user_id, u.user_id % 2 = 0 AS treated,
                   COALESCE(SUM(CASE WHEN e.ts < TIMESTAMP '2024-01-16'
                        THEN CAST(ROUND(e.value) AS BIGINT) END), 0) AS x,
                   COALESCE(SUM(CASE WHEN e.ts >= TIMESTAMP '2024-01-16'
                        THEN CAST(ROUND(e.value) AS BIGINT) END), 0) AS y
            FROM u LEFT JOIN events e
              ON e.user_id = u.user_id AND e.event_type = 'purchase'
            GROUP BY 1, 2
        )
        SELECT CAST(COUNT(*) AS HUGEINT), SUM(x), SUM(y), SUM(x*x),
               SUM(x*y), SUM(y*y),
               SUM(CASE WHEN treated THEN 1 ELSE 0 END),
               SUM(CASE WHEN treated THEN x ELSE 0 END),
               SUM(CASE WHEN treated THEN y ELSE 0 END)
        FROM per""").fetchone()
    con.close()
    n, sx, sy, sxx, sxy, syy, nt, sxt, syt = map(int, moments)
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    cov = n * sxy - sx * sy
    dyterm = syt * (n - nt) - (sy - syt) * nt
    dxterm = sxt * (n - nt) - (sx - sxt) * nt
    mags = {
        "rho2_num": 10**6 * cov * cov,
        "rho2_den": varx * vary,
        "raw_num": 10**6 * dyterm,
        "raw_den": nt * (n - nt),
        "cuped_num": 10**6 * (dyterm * varx - cov * dxterm),
        "cuped_den": nt * (n - nt) * varx,
    }
    worst = max(mags, key=lambda k: abs(mags[k]))
    assert abs(mags[worst]) < 10**28, (
        f"{worst} = {mags[worst]:.3e} at sf0.1 — within 10 orders of the "
        "DECIMAL(38) ceiling; Spark would silently NULL before DuckDB "
        "raises. Re-derive the quantization or document a lower SF cap."
    )
    # the arms must be non-degenerate so the ADVICE empty-arm guard's
    # pass-through branch (not the 0 case) is what the oracle exercises
    assert 0 < nt < n


def test_sprt_bigint_headroom_at_largest_sf():
    """ADVICE r13: events_sprt_sequential's llr_ppm fold
    (C1·cs + C2·(cn−cs)) is BIGINT arithmetic, and Spark's non-ANSI
    BIGINT wraps silently where DuckDB raises — the exact cross-engine
    divergence class the CUPED headroom test pins. Recompute every
    arm's running LLR in unbounded Python ints at the LARGEST shipped
    SF (glob-discovered) and red if the max magnitude comes within 4
    orders of 2^63−1. Measured: max |llr_ppm| ≈ 10^9.3 at sf0.1 vs the
    ~9.2×10^18 ceiling — the fold binds at ~4.6×10^13 trials per arm
    (≈10^9× the fixture), i.e. 46 trillion exposures per arm before
    the ppm quantization would need widening to DECIMAL."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators import events as ev_mod

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{_largest_sf_dir()}/events.parquet')"
    )
    daily = con.execute("""
        SELECT user_id % 2 AS arm, CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    con.close()
    c1, c2 = int(ev_mod._SPRT_C1), int(ev_mod._SPRT_C2)
    worst = 0
    cum: dict[int, tuple[int, int]] = {}
    for arm, _, s, n in daily:
        cs, cn = cum.get(arm, (0, 0))
        cs, cn = cs + int(s), cn + int(n)
        cum[arm] = (cs, cn)
        worst = max(worst, abs(c1 * cs + c2 * (cn - cs)))
    assert worst * 10**4 < 2**63 - 1, (
        f"max |llr_ppm| = {worst:.3e} at the largest shipped SF — within "
        "4 orders of the BIGINT ceiling; Spark would silently wrap "
        "before DuckDB raises. Widen the fold to DECIMAL or re-derive "
        "the ppm quantization."
    )
    assert len(cum) == 2  # both arms live, the statistic is exercised


def test_hits_matches_python_reference(spark, sf_dir):
    """graph_hits_bipartite vs a plain-Python rebuild: the exact
    fixed-point iteration in unbounded ints (dict adjacency, the
    CUPED/hashlib device — a folded-constant bug both engines hash-agree
    on cannot survive), PLUS a float power-iteration sanity check that
    the integer scores track the real L1-normalized HITS eigenvector
    direction (the quantization drift bound is ~|V| micro per round)."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.graph import (
        _HITS_ITERS,
        _HITS_SCALE,
        _HITS_TOP,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["graph_hits_bipartite"](
        spark, sf_dir
    ).collect()
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    edges = con.execute("""
        SELECT DISTINCT o.o_custkey, l.l_partkey
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """).fetchall()
    con.close()
    edges = [(int(c), int(p)) for c, p in edges]
    h = {c: _HITS_SCALE for c, _ in edges}
    hf = {c: 1.0 for c in h}
    a, af = {}, {}
    for _ in range(_HITS_ITERS):
        a, af = {}, {}
        for c, p in edges:
            a[p] = a.get(p, 0) + h[c]
            af[p] = af.get(p, 0.0) + hf[c]
        tot, totf = sum(a.values()), sum(af.values())
        a = {p: _HITS_SCALE * r // tot for p, r in a.items()}
        af = {p: r / totf for p, r in af.items()}
        h, hf = {}, {}
        for c, p in edges:
            h[c] = h.get(c, 0) + a[p]
            hf[c] = hf.get(c, 0.0) + af[p]
        tot, totf = sum(h.values()), sum(hf.values())
        h = {c: _HITS_SCALE * r // tot for c, r in h.items()}
        hf = {c: r / totf for c, r in hf.items()}
    want = {
        ("authority", p): s
        for p, s in sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[
            :_HITS_TOP
        ]
    }
    want.update(
        {
            ("hub", c): s
            for c, s in sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[
                :_HITS_TOP
            ]
        }
    )
    got = {(r["role"], r["node_id"]): r["score_u"] for r in rows}
    assert got == want
    # the integer fixed point must track the REAL float eigenvector:
    # |score_u - 1e6*float| bounded by the per-round quantization drift
    drift = 2 * _HITS_ITERS * max(len(a), len(h))
    for (role, node), s in got.items():
        f = (af if role == "authority" else hf)[node]
        assert abs(s - f * _HITS_SCALE) <= drift, (role, node, s, f)


def test_cochran_armitage_matches_float_reference(spark, sf_dir):
    """CA trend z² vs the textbook float formula on the observed 5-row
    contingency table."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_cochran_armitage_trend"](
        spark, sf_dir
    ).collect()
    n_i = {r["dose"]: r["n"] for r in rows}
    s_i = {r["dose"]: r["successes"] for r in rows}
    N = sum(n_i.values())
    S = sum(s_i.values())
    T = sum(d * s for d, s in s_i.items())
    W1 = sum(d * n for d, n in n_i.items())
    W2 = sum(d * d * n for d, n in n_i.items())
    z2 = N * (N * T - S * W1) ** 2 / (S * (N - S) * (N * W2 - W1 * W1))
    got = {r["z2_ppm"] for r in rows}
    assert len(got) == 1
    assert abs(next(iter(got)) - z2 * 1e6) <= 2.0
    for r in rows:  # per-dose ppm floors
        assert r["success_ppm"] == 1000000 * r["successes"] // r["n"]


def test_page_trend_matches_float_reference(spark, sf_dir):
    """Page's signed z² vs the float L-statistic algebra (L from the
    engine's own doubled rank sums, E and Var from Page 1963)."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_page_trend_test"](
        spark, sf_dir
    ).collect()
    k = len(rows)
    # recover b from the identity Σ R2_j = b·k(k+1) (ADVICE r12: the
    # earlier direct read of r2j here was a dead, wrong binding)
    total = sum(r["r2j"] for r in rows)
    assert total % (k * (k + 1)) == 0
    b = total // (k * (k + 1))
    L = sum(r["j"] * r["r2j"] for r in rows) / 2.0
    E = b * k * (k + 1) ** 2 / 4.0
    var = b * (k**3 - k) ** 2 / (144.0 * (k - 1))
    z2 = (L - E) ** 2 / var
    signed = z2 if L >= E else -z2
    got = {r["signed_z2_ppm"] for r in rows}
    assert len(got) == 1
    assert abs(next(iter(got)) - signed * 1e6) <= 2.0


def test_dsir_matches_python_reference(spark, sf_dir):
    """DSIR per-doc scores vs an independent pure-Python implementation:
    DuckDB only tokenizes (the shared normalization); hashing, profiles,
    integer lift, and the top-k selection are recomputed with hashlib +
    dict arithmetic, so a shared SQL-idiom bug cannot hide."""
    import duckdb
    import hashlib

    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        _DSIR_BUCKETS,
        _DSIR_TOP,
        _TOKENS_SQL,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    toks = con.execute(
        f"SELECT doc_id, lang, UNNEST({_TOKENS_SQL}) AS t FROM documents"
    ).fetchall()
    con.close()
    B = _DSIR_BUCKETS
    ct: dict[int, int] = {}
    cs: dict[int, int] = {}
    per_doc: dict[int, list] = {}
    for doc_id, lang, t in toks:
        bucket = int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % B
        cs[bucket] = cs.get(bucket, 0) + 1
        if lang == "en":
            ct[bucket] = ct.get(bucket, 0) + 1
        per_doc.setdefault(doc_id, [lang, 0, []])
        per_doc[doc_id][1] += 1
        per_doc[doc_id][2].append(bucket)
    nt, ns = sum(ct.values()), sum(cs.values())
    lift = {
        bkt: (1000000 * (ct.get(bkt, 0) + 1) * (ns + B))
        // ((cs[bkt] + 1) * (nt + B))
        for bkt in cs
    }
    scored = sorted(
        (
            -(sum(lift[bkt] for bkt in buckets) // n_toks),
            doc_id,
            lang,
            n_toks,
            sum(lift[bkt] for bkt in buckets),
        )
        for doc_id, (lang, n_toks, buckets) in per_doc.items()
    )[:_DSIR_TOP]
    expect = [
        (doc_id, lang, n_toks, score, -neg)
        for neg, doc_id, lang, n_toks, score in scored
    ]
    got = [
        tuple(r)
        for r in all_queries()["llm_dsir_importance_weights"](
            spark, sf_dir
        ).collect()
    ]
    assert got == expect


def test_median_ci_matches_sorted_list_reference(spark, sf_dir):
    """The histogram-walk order statistics vs a literal sorted-list
    lookup: ranks, median, and both interval endpoints must be the exact
    elements a naive implementation picks."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_median_ci_distribution_free"](
        spark, sf_dir
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    vals = sorted(
        v
        for (v,) in con.execute(
            "SELECT CAST(ROUND(value * 100) AS BIGINT) FROM events"
            " WHERE event_type = 'purchase'"
        ).fetchall()
    )
    con.close()
    n = len(vals)
    lo = math.floor((n - 1.96 * math.sqrt(n)) / 2.0)
    hi = n + 1 - lo
    assert row["n"] == n
    assert row["lo_rank"] == lo and row["hi_rank"] == hi
    assert row["median_cents"] == vals[(n + 1) // 2 - 1]
    assert row["ci_lo_cents"] == vals[lo - 1]
    assert row["ci_hi_cents"] == vals[hi - 1]
    assert row["ci_lo_cents"] <= row["median_cents"] <= row["ci_hi_cents"]


def test_unimax_closed_form_matches_iterative_waterfill(spark, sf_dir):
    """The UniMax prefix-flag closed form vs an ITERATIVE water-filling
    reference over hypothesis-random capacities — pins that the single
    window-expression prefix test (cap·(L−rn+1) ≤ B−S_prev) plus
    floor/largest-remainder split equals the loop every description of
    the algorithm writes, and that Σ alloc == min(B, Σcap) exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        _UNIMAX_B_DEN,
        _UNIMAX_B_NUM,
        _UNIMAX_EPOCHS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    def closed_form(caps, budget):
        # mirror of the SQL: ascending (cap, idx); prefix flag; remainder
        order = sorted(range(len(caps)), key=lambda i: (caps[i], i))
        L = len(caps)
        alloc = {}
        s = 0
        flags = []
        for pos, i in enumerate(order, start=1):
            s += caps[i]
            flags.append(caps[i] * (L - pos + 1) <= budget - (s - caps[i]))
        i0 = sum(flags)
        s_i0 = sum(caps[i] for i, fl in zip(order, flags) if fl)
        for pos, (i, fl) in enumerate(zip(order, flags), start=1):
            if fl or L == i0:
                alloc[i] = caps[i]
            else:
                q, r = divmod(budget - s_i0, L - i0)
                alloc[i] = q + (1 if pos - i0 <= r else 0)
        return alloc

    def iterative(caps, budget):
        order = sorted(range(len(caps)), key=lambda i: (caps[i], i))
        alloc = {}
        remaining, members = budget, len(caps)
        k = 0
        while k < len(order):
            i = order[k]
            if caps[i] * members <= remaining:
                alloc[i] = caps[i]
                remaining -= caps[i]
                members -= 1
                k += 1
            else:
                break
        rest = order[k:]
        if rest:
            q, r = divmod(remaining, len(rest))
            for j, i in enumerate(rest, start=1):
                alloc[i] = q + (1 if j <= r else 0)
        return alloc

    @settings(max_examples=300, deadline=None)
    @given(
        st.lists(st.integers(0, 10_000), min_size=1, max_size=8),
        st.integers(0, 100),
    )
    def prop(caps, pct):
        budget = min(sum(caps) * pct // 100, sum(caps))
        cf, it = closed_form(caps, budget), iterative(caps, budget)
        assert cf == it, (caps, budget, cf, it)
        assert sum(cf.values()) == min(budget, sum(caps))
        assert all(cf[i] <= caps[i] for i in cf)

    prop()

    rows = all_queries()["llm_unimax_language_caps"](spark, sf_dir).collect()
    total = sum(r["n_tokens"] for r in rows)
    budget = _UNIMAX_B_NUM * total // _UNIMAX_B_DEN
    assert sum(r["alloc_tokens"] for r in rows) == budget
    for r in rows:
        assert 0 <= r["alloc_tokens"] <= _UNIMAX_EPOCHS * r["n_tokens"]
    uncapped = [
        r["alloc_tokens"]
        for r in rows
        if r["alloc_tokens"] < _UNIMAX_EPOCHS * r["n_tokens"]
    ]
    assert not uncapped or max(uncapped) - min(uncapped) <= 1


def test_ece_matches_float_reference(spark, sf_dir):
    """The integer-folded ECE/MCE vs the float definition
    Σ (n_b/N)·|acc_b − conf_b| recomputed from the engine's own bins."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.clustering import (
        _CAL_BINS,
        _CAL_POS_LANG,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["ml_expected_calibration_error"](
        spark, sf_dir
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    bins = con.execute(f"""
        WITH mm AS (SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx
                    FROM documents)
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               COUNT(*) AS n,
               SUM(CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END)
                   AS n_pos
        FROM documents CROSS JOIN mm GROUP BY 1
    """).fetchall()
    con.close()
    N = sum(n for _, n, _ in bins)
    ece = sum(
        abs(p / n - (2 * b + 1) / (2 * _CAL_BINS)) * n / N
        for b, n, p in bins
    )
    mce = max(
        abs(p / n - (2 * b + 1) / (2 * _CAL_BINS)) for b, n, p in bins
    )
    assert row["n_bins"] == len(bins) and row["n_total"] == N
    assert abs(row["ece_ppm"] - ece * 1e6) <= 1.0
    assert abs(row["mce_ppm"] - mce * 1e6) <= 1.0


def test_gains_lift_matches_sorted_list_reference(spark, sf_dir):
    """Gains/lift deciles vs a literal sorted-list recomputation: sort
    (score desc, doc_id) in Python, split into NTILE-rule deciles
    (earlier tiles get the +1 remainder), accumulate positives, and
    compare gain/lift ppm floors row by row."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.clustering import (
        _CAL_POS_LANG,
        _GAINS_DECILES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["decile"]: r
        for r in all_queries()["ml_gains_lift_deciles"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute(
        "SELECT n_chars, doc_id, lang FROM documents"
    ).fetchall()
    con.close()
    ordered = sorted(docs, key=lambda t: (-t[0], t[1]))
    N = len(ordered)
    q, r = divmod(N, _GAINS_DECILES)
    sizes = [q + (1 if d <= r else 0) for d in range(1, _GAINS_DECILES + 1)]
    P = sum(1 for _, _, lang in ordered if lang == _CAL_POS_LANG)
    idx, cum_pos, cum_n = 0, 0, 0
    for d, size in enumerate(sizes, start=1):
        tile = ordered[idx : idx + size]
        idx += size
        n_pos = sum(1 for _, _, lang in tile if lang == _CAL_POS_LANG)
        cum_pos += n_pos
        cum_n += size
        row = rows[d]
        assert row["n"] == size and row["n_pos"] == n_pos
        assert row["cum_pos"] == cum_pos
        assert row["gain_ppm"] == 1000000 * cum_pos // P
        assert row["lift_ppm"] == 1000000 * cum_pos * N // (cum_n * P)
    assert idx == N and cum_pos == P


def test_event_study_matches_pandas_reference(spark, sf_dir):
    """Event-study leads/lags vs a literal pandas recomputation: period
    assignment via Python date arithmetic, per-period float mean gap,
    compared against the sign-split millicent rational."""
    import datetime

    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _ES_T0,
        _ES_WEEKS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["period"]: r
        for r in all_queries()["stats_event_study_leads_lags"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    ev = con.execute(
        "SELECT CAST(ts AS DATE), user_id,"
        " CAST(ROUND(value * 100) AS BIGINT)"
        " FROM events WHERE event_type = 'purchase'"
    ).fetchall()
    con.close()
    t0 = datetime.date.fromisoformat(_ES_T0)
    span = _ES_WEEKS * 7
    buckets: dict[int, list] = {}
    for d, uid, v in ev:
        dd = (d - t0).days
        if -span <= dd < span:
            buckets.setdefault(dd // 7, []).append((uid % 2 == 0, v))
    assert set(buckets) == set(rows) == set(range(-_ES_WEEKS, _ES_WEEKS))
    for period, rowvals in buckets.items():
        t = [v for tr, v in rowvals if tr]
        c = [v for tr, v in rowvals if not tr]
        row = rows[period]
        assert row["n_t"] == len(t) and row["n_c"] == len(c)
        gap = sum(t) / len(t) - sum(c) / len(c)
        assert abs(row["gap_millicents"] - gap * 1000) <= 1.0


def test_cmh_matches_textbook_reference(spark, sf_dir):
    """CMH statistic vs the textbook formula recomputed independently
    from raw events (duckdb builds the per-stratum 2x2 tables, Python
    floats do the algebra in arbitrary aggregation order) — the engines'
    fixed-order IEEE expression must agree to float precision."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_cmh_stratified"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    tabs = con.execute("""
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7,
               SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END),
               SUM(CASE WHEN user_id % 2 = 0
                         AND event_type = 'purchase' THEN 1 ELSE 0 END),
               SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END),
               SUM(CASE WHEN user_id % 2 = 1
                         AND event_type = 'purchase' THEN 1 ELSE 0 END)
        FROM events GROUP BY 1
    """).fetchall()
    con.close()
    dev = var = 0.0
    n_total = 0
    for _, n1, k1, n2, k2 in tabs:
        N, K = n1 + n2, k1 + k2
        n_total += N
        dev += k1 - n1 * K / N
        var += n1 * n2 * K * (N - K) / (N * N * (N - 1))
    cmh = dev * dev / var
    assert row["n_total"] == n_total
    assert abs(row["cmh_stat"] - round(cmh, 6)) <= 1e-5


def test_qini_matches_sorted_list_reference(spark, sf_dir):
    """Qini deciles vs a literal per-user recomputation: build the
    (score, converted, treated) relation in duckdb, NTILE-split it in
    Python with the earlier-tiles-first fill rule, and compare every
    cumulative count and sign-split milli rational."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.clustering import (
        _QINI_DECILES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["decile"]: r
        for r in all_queries()["ml_qini_curve"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    users = con.execute("""
        SELECT user_id, COUNT(*) AS score,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        FROM events GROUP BY 1
    """).fetchall()
    con.close()
    ordered = sorted(users, key=lambda t: (-t[1], t[0]))
    N = len(ordered)
    q, r = divmod(N, _QINI_DECILES)
    sizes = [q + (1 if d <= r else 0) for d in range(1, _QINI_DECILES + 1)]
    idx = 0
    n_t = n_c = conv_t = conv_c = 0
    for d, size in enumerate(sizes, start=1):
        for uid, _, conv in ordered[idx : idx + size]:
            if uid % 2 == 0:
                n_t += 1
                conv_t += conv
            else:
                n_c += 1
                conv_c += conv
        idx += size
        row = rows[d]
        assert (row["n_t"], row["n_c"], row["conv_t"], row["conv_c"]) == (
            n_t, n_c, conv_t, conv_c,
        )
        num = conv_t * n_c - conv_c * n_t
        expect = (
            1000 * num // n_c if num >= 0 else -((1000 * -num) // n_c)
        )
        assert row["qini_milli"] == expect
        # and the float definition agrees within the milli floor
        qini = conv_t - conv_c * n_t / n_c
        assert abs(row["qini_milli"] - qini * 1000) <= 1.0


def test_rescaled_range_matches_python_reference(spark, sf_dir):
    """R/S profile vs a literal Python walk of the daily series: segment
    split, cumulative deviations from the segment mean, max−min range,
    population σ from exact moments, per-segment ppm floor — mirroring
    the engines' pinned IEEE expression tree operation-for-operation, so
    the comparison is exact, not approximate."""
    import math

    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _RS_WINDOWS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["w"]: r
        for r in all_queries()["stats_rescaled_range"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    daily = dict(
        con.execute("""
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)),
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    """).fetchall()
    )
    con.close()
    for w in _RS_WINDOWS:
        segs: dict[int, list] = {}
        for day in sorted(daily):
            segs.setdefault(day // w, []).append(daily[day])
        total, n_segments = 0, 0
        for xs in segs.values():
            n = len(xs)
            if n != w:
                continue  # ragged tail excluded
            n_segments += 1
            sx = sum(xs)
            sxx = sum(x * x for x in xs)
            if n * sxx - sx * sx <= 0:
                continue
            cum, d = 0, []
            for k, x in enumerate(xs, start=1):
                cum += x
                d.append(n * cum - k * sx)  # integer-scaled deviation
            range_scaled = max(d) - min(d)
            s = math.sqrt((float(sxx) - float(sx) * float(sx) / float(n))
                          / float(n))
            total += math.floor(
                1000000.0 * (float(range_scaled) / float(n)) / s
            )
        if n_segments == 0:
            # the fixture spans 30 days, so w = 32 has no COMPLETE
            # segment and the engines emit no row — mirror the absence
            assert w not in rows
            continue
        row = rows[w]
        assert row["n_segments"] == n_segments
        assert row["rs_ppm_sum"] == total, (w, row["rs_ppm_sum"], total)


def test_mean_excess_matches_python_reference(spark, sf_dir):
    """Mean-excess profile vs a literal Python recomputation, including
    the deliberate asymmetry that exceedance tests the RAW float value
    while the excess is cent-quantized."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _ME_THRESHOLDS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["u"]: r
        for r in all_queries()["stats_mean_excess_profile"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    vals = [
        (v, c)
        for v, c in con.execute(
            "SELECT value, CAST(ROUND(value * 100) AS BIGINT) FROM events"
        ).fetchall()
    ]
    con.close()
    for u in _ME_THRESHOLDS:
        n_exceed = sum(1 for v, _ in vals if v > u)
        excess = sum(c - 100 * u for v, c in vals if v > u)
        row = rows[u]
        assert row["n_exceed"] == n_exceed
        assert row["excess_cents"] == excess
        assert row["mean_excess_cents"] == excess // max(n_exceed, 1)


def test_ratio_delta_ci_matches_textbook_reference(spark, sf_dir):
    """Delta-method ratio CI vs the textbook formula recomputed with
    numpy-free Python floats from independently rebuilt per-user
    moments: R = Σy/Σx, se = sqrt((S_yy − 2R·S_xy + R²·S_xx)/n)/x̄ with
    sample (co)variances — validates the pinned SQL expression tree
    against an arbitrary-order float computation."""
    import math

    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["cohort"]: r
        for r in all_queries()["stats_ratio_metric_delta_ci"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    users = con.execute("""
        SELECT user_id % 2 = 0, COUNT(*),
               SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(value * 100) AS BIGINT)
                        ELSE 0 END)
        FROM events GROUP BY user_id
    """).fetchall()
    con.close()
    for cohort, even in (("even", True), ("odd", False)):
        xs = [float(x) for e, x, _ in users if e == even]
        ys = [float(y) for e, _, y in users if e == even]
        n = len(xs)
        sx, sy = sum(xs), sum(ys)
        mx, my = sx / n, sy / n
        r = sy / sx
        s_xx = sum((a - mx) ** 2 for a in xs) / (n - 1)
        s_yy = sum((b - my) ** 2 for b in ys) / (n - 1)
        s_xy = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / (n - 1)
        se = math.sqrt((s_yy - 2 * r * s_xy + r * r * s_xx) / n) / mx
        row = rows[cohort]
        assert row["n"] == n and row["sx"] == int(sx) and row["sy"] == int(sy)
        assert abs(row["ratio"] - r) <= 1e-5
        assert abs(row["se"] - se) <= 1e-5
        assert abs(row["ci_lo"] - (r - 1.96 * se)) <= 1e-5
        assert abs(row["ci_hi"] - (r + 1.96 * se)) <= 1e-5


def _daily_series(sf_dir):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    rows = con.execute("""
        SELECT event_type, CAST(ts AS DATE),
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events GROUP BY 1, 2
    """).fetchall()
    con.close()
    series: dict[str, list] = {}
    for et, d, v in rows:
        series.setdefault(et, []).append((d.toordinal(), v))
    return {et: sorted(s) for et, s in series.items()}


def test_mann_kendall_matches_bruteforce_pairs(spark, sf_dir):
    """S statistic vs a literal double loop over the daily series."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["stats_mann_kendall"](spark, sf_dir).collect()
    }
    for et, s in _daily_series(sf_dir).items():
        n_pairs = s_stat = 0
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                n_pairs += 1
                s_stat += (s[j][1] > s[i][1]) - (s[j][1] < s[i][1])
        assert rows[et]["n_pairs"] == n_pairs
        assert rows[et]["s_stat"] == s_stat


def test_theil_sen_matches_bruteforce_median_slope(spark, sf_dir):
    """The lower-median pairwise slope vs a literal sorted list of all
    pairwise slopes with the same (slope, dv, dd) tie-break — the chosen
    pair's exact integers must match, not just the float."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["stats_theil_sen"](spark, sf_dir).collect()
    }
    for et, s in _daily_series(sf_dir).items():
        slopes = []
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                dv = s[j][1] - s[i][1]
                dd = s[j][0] - s[i][0]
                slopes.append((dv / dd, dv, dd))
        slopes.sort()
        med = slopes[(len(slopes) + 1) // 2 - 1]
        row = rows[et]
        assert row["n_pairs"] == len(slopes)
        assert (row["med_dv"], row["med_dd"]) == (med[1], med[2])
        assert row["med_slope_cents_per_day"] == med[0]


def test_welch_t2_matches_float_reference(spark, sf_dir):
    """Welch t² ppm vs the textbook float form (m̄1−m̄2)²/(s1²/n1+s2²/n2)
    with sample variances recomputed from raw whole-unit values."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_welch_t2"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    groups = {}
    for et in ("purchase", "view"):
        groups[et] = [
            v
            for (v,) in con.execute(
                "SELECT CAST(ROUND(value) AS BIGINT) FROM events"
                f" WHERE event_type = '{et}'"
            ).fetchall()
        ]
    con.close()
    g1, g2 = groups["purchase"], groups["view"]
    n1, n2 = len(g1), len(g2)
    m1, m2 = sum(g1) / n1, sum(g2) / n2
    v1 = sum((x - m1) ** 2 for x in g1) / (n1 - 1)
    v2 = sum((x - m2) ** 2 for x in g2) / (n2 - 1)
    t2 = (m1 - m2) ** 2 / (v1 / n1 + v2 / n2)
    assert row["n1"] == n1 and row["n2"] == n2
    assert row["mean_diff_num"] == sum(g1) * n2 - sum(g2) * n1
    assert abs(row["t2_ppm"] - t2 * 1e6) <= 2.0


def test_spearman_rho_matches_float_reference(spark, sf_dir):
    """Spearman ρ (the documented d²-on-tie-averaged-ranks definition)
    vs a float recomputation with bisect-built average ranks."""
    import bisect

    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_spearman_rho"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    daily = con.execute("""
        SELECT COUNT(*), SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE)
    """).fetchall()
    con.close()
    xs = sorted(x for x, _ in daily)
    ys = sorted(y for _, y in daily)

    def avg_rank(vals, v):
        return (bisect.bisect_left(vals, v) + 1 + bisect.bisect_right(vals, v)) / 2

    n = len(daily)
    d2 = sum(
        (avg_rank(xs, x) - avg_rank(ys, y)) ** 2 for x, y in daily
    )
    rho = 1 - 6 * d2 / (n * (n * n - 1))
    assert row["n_days"] == n
    assert row["sum_d2_x4"] == round(4 * d2)
    assert abs(row["rho_ppm"] - rho * 1e6) <= 2.0


def test_runs_test_matches_python_reference(spark, sf_dir):
    """Run counting vs a literal Python walk of each type's daily
    above-mean indicator (the cross-multiplied v·n > total rule)."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["stats_runs_test"](spark, sf_dir).collect()
    }
    for et, s in _daily_series(sf_dir).items():
        n = len(s)
        total = sum(v for _, v in s)
        above = [1 if v * n > total else 0 for _, v in s]
        n_runs = sum(
            1 for i, a in enumerate(above) if i == 0 or above[i - 1] != a
        )
        row = rows[et]
        assert row["n_above"] == sum(above)
        assert row["n_below"] == n - sum(above)
        assert row["n_runs"] == n_runs


def test_good_turing_matches_python_reference(spark, sf_dir):
    """The r14-queue Good-Turing bigram missing mass vs a pure-Python
    dict recomputation: DuckDB supplies only the token lists (the
    shared normalization); bigram construction, type counting, the
    frequency-of-frequencies N1/N2, and both ppm rationals are rebuilt
    with plain Python so a shared list-lambda or aggregation-idiom bug
    in the SQL spellings cannot survive."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.text import _TOKENS_SQL
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["lang"]: r
        for r in all_queries()[
            "llm_good_turing_missing_mass"
        ](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute(
        f"SELECT lang, {_TOKENS_SQL} FROM documents"
    ).fetchall()
    con.close()
    counts: dict[str, dict[str, int]] = {}
    for lang, toks in docs:
        if len(toks) < 2:
            continue
        c = counts.setdefault(lang, {})
        for a, b in zip(toks, toks[1:]):
            c[f"{a} {b}"] = c.get(f"{a} {b}", 0) + 1
    assert set(rows) == set(counts)
    for lang, c in counts.items():
        n = sum(c.values())
        n1 = sum(1 for r in c.values() if r == 1)
        n2 = sum(1 for r in c.values() if r == 2)
        row = rows[lang]
        assert row["n_tokens"] == n
        assert row["n_types"] == len(c)
        assert row["n_singletons"] == n1
        assert row["n_doubletons"] == n2
        assert row["missing_mass_ppm"] == 1000000 * n1 // n
        assert row["r1_star_ppm"] == (2000000 * n2 // n1 if n1 else 0)
        # the fixture must keep the statistic LIVE (bigram singletons
        # exist), or the exhibit silently degenerates to constant zeros
        # like the unigram spelling did (measured: 31 closed types/lang)
        assert n1 > 0


def test_sprt_matches_float_reference(spark, sf_dir):
    """The r14-queue SPRT vs a float walk with REAL logarithms: the
    engine folds ln(p1/p0), ln((1-p1)/(1-p0)) and the Wald boundaries
    to integer ppm literals at design time — this reference recomputes
    the daily log-likelihood ratio with math.log and re-derives each
    arm's first boundary crossing, so a mis-derived folded constant
    (the exact class the Kruskal /4 catch lived in) cannot hide behind
    the engines' hash agreement."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["arm"]: r
        for r in all_queries()[
            "events_sprt_sequential"
        ](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    daily = con.execute("""
        SELECT user_id % 2, CAST(ts AS DATE),
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END),
               COUNT(*)
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    con.close()
    p0, p1, alpha, beta = 0.18, 0.22, 0.05, 0.05
    c1, c2 = math.log(p1 / p0), math.log((1 - p1) / (1 - p0))
    a, b = math.log((1 - beta) / alpha), math.log(beta / (1 - alpha))
    for arm in (0, 1):
        series = [(s, n) for am, _, s, n in daily if am == arm]
        cs = cf = 0
        cross_step, llr_at_cross, llr = 0, 0.0, 0.0
        for step, (s, n) in enumerate(series, start=1):
            cs += s
            cf += n - s
            llr = cs * c1 + cf * c2
            if cross_step == 0 and (llr >= a or llr <= b):
                cross_step, llr_at_cross = step, llr
        row = rows[arm]
        assert row["n_days"] == len(series)
        assert row["total_successes"] == cs
        assert row["total_trials"] == cs + cf
        # ppm fold: each of cs+cf terms contributes <= 0.5 ulp of 1e-6
        tol = (cs + cf) * 0.5 + 2
        assert abs(row["llr_final_ppm"] - llr * 1e6) <= tol
        assert row["first_cross_step"] == cross_step
        if cross_step:
            assert abs(row["llr_at_cross_ppm"] - llr_at_cross * 1e6) <= tol
            expect = "reject_h0" if llr_at_cross >= a else "accept_h0"
            assert row["decision"] == expect
        else:
            assert row["decision"] == "continue"


def test_cochran_q_matches_python_reference(spark, sf_dir):
    """Cochran's Q vs a literal Python rebuild of the 16x5 binary
    design: raw (bucket, event_type) rows are counted with a dict, the
    floored mean-cell threshold, binarization, marginals and the
    textbook Q = (k-1)[k*sum(Cj^2) - N^2]/[k*sum(Ri) - sum(Ri^2)] are
    all plain-int recomputations — the shared conditional-aggregation
    idiom in the two SQL spellings cannot hide."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_cochran_q"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("SELECT user_id % 16, event_type FROM events").fetchall()
    con.close()
    cnt: dict[tuple, int] = {}
    types: set[str] = set()
    for blk, et in raw:
        cnt[(blk, et)] = cnt.get((blk, et), 0) + 1
        types.add(et)
    k = len(types)
    mc = sum(cnt.values()) // (16 * k)
    x = {
        (blk, et): 1 if cnt.get((blk, et), 0) > mc else 0
        for blk in range(16)
        for et in types
    }
    ri = [sum(x[(blk, et)] for et in types) for blk in range(16)]
    cj = [sum(x[(blk, et)] for blk in range(16)) for et in types]
    n_tot = sum(cj)
    den = k * sum(ri) - sum(r * r for r in ri)
    q_ppm = (
        0
        if den == 0
        else 1000000 * (k - 1) * (k * sum(c * c for c in cj) - n_tot * n_tot)
        // den
    )
    assert row["k"] == k
    assert row["n_successes"] == n_tot
    assert row["q_ppm"] == q_ppm
    assert den != 0, "fixture must keep the non-degenerate branch live"


def test_nemenyi_matches_float_reference(spark, sf_dir):
    """The Nemenyi integer CD inequality vs the textbook FLOAT recipe
    (Demsar 2006): mean-rank gaps |Rbar_a - Rbar_b| against
    CD = q * sqrt(k(k+1)/(6n)) with real sqrt and q = 2.728 — the
    folded DECIMAL threshold (2728^2*20/10) cannot drift from the
    statistic it encodes."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_nemenyi_posthoc"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    cells = con.execute("""
        SELECT user_id % 12, event_type,
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events GROUP BY 1, 2
    """).fetchall()
    con.close()
    by_blk: dict[int, list[tuple[str, int]]] = {}
    for blk, et, cv in cells:
        by_blk.setdefault(blk, []).append((et, cv))
    n = len(by_blk)
    col_r: dict[str, float] = {}
    for items in by_blk.values():
        vals = sorted(v for _, v in items)
        for et, v in items:
            lo = 1 + sum(1 for u in vals if u < v)
            hi = sum(1 for u in vals if u <= v)
            col_r[et] = col_r.get(et, 0.0) + (lo + hi) / 2.0
    k = len(col_r)
    cd = 2.728 * math.sqrt(k * (k + 1) / (6.0 * n))
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        gap = abs(col_r[r["type_a"]] - col_r[r["type_b"]]) / n
        # doubled rank sums: r2_diff_abs == 2n * mean-rank gap
        assert r["r2_diff_abs"] == round(2 * n * gap)
        assert r["n_blocks"] == n
        # the integer inequality must agree with the float CD except
        # within float slop of the boundary (fixture sits far from it)
        if abs(gap - cd) > 1e-6 * cd:
            assert bool(r["significant"]) == (gap > cd), (
                f"{r['type_a']}/{r['type_b']}: gap {gap} vs CD {cd}"
            )


def test_power_analysis_matches_inv_cdf_reference(spark, sf_dir):
    """events_power_analysis folds z_alpha + z_beta to the textbook
    rounded literals (1.96, 0.8416); this reference re-derives both
    from stdlib statistics.NormalDist().inv_cdf — an INDEPENDENT
    normal-quantile implementation — plus exact Python-int moments, so
    a one-sided/two-sided or power mix-up (wrong quantiles entirely)
    cannot hide behind the engines' hash agreement. The rounded
    literals differ from the true quantiles by ~1e-5 relative, so the
    required-n comparison carries that tolerance."""
    import duckdb
    from statistics import NormalDist

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["events_power_analysis"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    cents = [
        c
        for (c,) in con.execute("""
            SELECT CAST(ROUND(value * 100) AS BIGINT) FROM events
            WHERE event_type = 'purchase' AND user_id % 2 = 1
        """).fetchall()
    ]
    con.close()
    n = len(cents)
    s = sum(cents)
    q = sum(c * c for c in cents)
    var = (q - s * s / n) / (n - 1)
    mean = s / n
    z2 = (NormalDist().inv_cdf(0.975) + NormalDist().inv_cdf(0.80)) ** 2
    assert rows and all(r["n_control_observed"] == n for r in rows)
    for r in rows:
        delta = r["mde_bp"] * mean / 10000.0
        n_ref = 2.0 * z2 * var / (delta * delta)
        got = r["n_required_per_arm"]
        assert abs(got - n_ref) <= max(3.0, 5e-5 * n_ref + 1), (
            f"mde {r['mde_bp']}bp: engine {got} vs inv_cdf reference {n_ref}"
        )


def test_kendall_tau_matches_bruteforce_pairs(spark, sf_dir):
    """Kendall tau-a vs a literal O(days^2) Python pair loop over the
    daily (volume, revenue) series — the join-based concordance count
    and the sign-safe ppm division recomputed a different way."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_kendall_tau"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT CAST(ts AS DATE), CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    con.close()
    daily: dict = {}
    for d, c in raw:
        x, y = daily.get(d, (0, 0))
        daily[d] = (x + 1, y + c)
    series = list(daily.values())
    n = len(series)
    con_ = dis = 0
    for i in range(n):
        for j in range(i + 1, n):
            sgn = (series[i][0] - series[j][0]) * (series[i][1] - series[j][1])
            if sgn > 0:
                con_ += 1
            elif sgn < 0:
                dis += 1
    assert row["n_days"] == n
    assert row["concordant"] == con_
    assert row["discordant"] == dis
    assert row["tied"] == n * (n - 1) // 2 - con_ - dis
    num = 2000000 * (con_ - dis)
    den = n * (n - 1)
    expect = num // den if con_ >= dis else -((-num) // den)
    assert row["tau_a_ppm"] == expect


def test_rbo_matches_float_reference(spark, sf_dir):
    """ml_rank_biased_overlap's exact dyadic per-item weights vs the
    textbook truncated float RBO (Webber et al. 2010):
    sum over d<=k of (1-p) p^(d-1) |A_:d ^ B_:d| / d at p = 1/2, with
    both retrievals rebuilt in plain Python (left-assoc float cosine —
    bit-identical to the engines' shared expression order — and token
    sets), so the closed-form LCM re-indexing cannot drift from the
    statistic it encodes."""
    import duckdb
    import re

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["query_id"]: r
        for r in all_queries()["ml_rank_biased_overlap"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    for t in ("embeddings", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    embs = dict(con.execute("SELECT vec_id, embedding FROM embeddings").fetchall())
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    con.close()

    def dot(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + float(a[i]) * float(b[i])
        return s

    toks = {
        d: set(re.sub(r"\s+", " ", t).strip().lower().split(" "))
        for d, t in docs
    }
    k = 10
    for qid, row in rows.items():
        qe = embs[qid]
        qn = dot(qe, qe) ** 0.5
        dense = sorted(
            (
                (-(dot(qe, embs[c]) / (qn * dot(embs[c], embs[c]) ** 0.5)), c)
                for c in embs
                if c != qid
            ),
        )[:k]
        a = [c for _, c in dense]
        sparse = sorted(
            (
                (-len(toks[qid] & toks[d]), d)
                for d in toks
                if d != qid and toks[qid] & toks[d]
            ),
        )[:k]
        b = [d for _, d in sparse]
        rbo = sum(
            0.5 ** d * len(set(a[:d]) & set(b[:d])) / d
            for d in range(1, k + 1)
        )
        assert row["n_common"] == len(set(a) & set(b))
        assert abs(row["rbo_ppm"] - rbo * 1e6) <= 2.0, (
            f"query {qid}: engine {row['rbo_ppm']} vs float {rbo * 1e6}"
        )


def _planted_p_values(sf_dir: str, tiers: int) -> dict[int, int]:
    """The deterministic p-value landscapes of the multiple-testing
    shelf, replicated in plain Python from the doc ids (the generator
    is the shared INPUT of engine and oracle; the procedures under
    test are recomputed independently below). tiers=2 is the BH
    family, tiers=3 adds the strong doc_id%10==5 block (Holm/BY)."""
    import duckdb

    con = duckdb.connect()
    ids = [
        i
        for (i,) in con.execute(
            f"SELECT doc_id FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    con.close()
    out = {}
    for i in ids:
        h = i * 2654435761
        if tiers == 3 and i % 10 == 5:
            out[i] = 1 + h % 90
        elif i % 10 == 0:
            out[i] = 2501 + h % 500
        else:
            out[i] = 1 + h % 1000000
    return out


def test_multiple_testing_trio_matches_textbook_walks(spark, sf_dir):
    """BH step-up, Holm step-down, and BY step-up rejection SETS vs
    literal textbook walks over Python-sorted p-values — the window
    MAX/MIN encodings of k*/k_stop recomputed as explicit loops, and
    the step-up property pinned LIVE (BH must reject hypotheses whose
    OWN inequality fails)."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    alpha = 50_000  # ppm

    # -- BH (two-tier landscape) --
    ps = _planted_p_values(sf_dir, tiers=2)
    m = len(ps)
    ranked = sorted(ps.items(), key=lambda kv: (kv[1], kv[0]))
    k_star = max(
        (r for r, (_, p) in enumerate(ranked, 1) if p * m <= r * alpha),
        default=0,
    )
    expect_bh = {doc for doc, _ in ranked[:k_star]}
    got = q["stats_benjamini_hochberg"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in got} == expect_bh
    assert all(r["k_star"] == k_star for r in got)
    # the step-up property is LIVE: some rejected rank fails its own test
    assert any(
        p * m > r * alpha for r, (_, p) in enumerate(ranked[:k_star], 1)
    ), "fixture no longer exercises step-up vs naive thresholding"

    # -- Holm (three-tier landscape, step-DOWN) --
    ps3 = _planted_p_values(sf_dir, tiers=3)
    ranked3 = sorted(ps3.items(), key=lambda kv: (kv[1], kv[0]))
    k_stop = next(
        (
            r
            for r, (_, p) in enumerate(ranked3, 1)
            if p * (m - r + 1) > alpha
        ),
        m + 1,
    )
    expect_holm = {doc for doc, _ in ranked3[: k_stop - 1]}
    got = q["stats_holm_bonferroni"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in got} == expect_holm
    assert all(r["k_stop"] == k_stop for r in got)

    # -- BY (three-tier landscape, harmonic penalty) --
    c_micro = sum(1_000_000 // i for i in range(1, m + 1))
    k_by = max(
        (
            r
            for r, (_, p) in enumerate(ranked3, 1)
            if p * m * c_micro <= r * alpha * 1_000_000
        ),
        default=0,
    )
    expect_by = {doc for doc, _ in ranked3[:k_by]}
    got = q["stats_benjamini_yekutieli"](spark, sf_dir).collect()
    assert {r["doc_id"] for r in got} == expect_by
    assert all(r["c_micro"] == c_micro for r in got)
    # the penalty must BITE on this landscape: BY strictly inside BH's
    # own-threshold behavior at the same alpha (the shelf's exhibit)
    assert len(expect_by) < len(
        {doc for doc, _ in ranked3[: max((r for r, (_, p) in enumerate(ranked3, 1) if p * m <= r * alpha), default=0)]}
    ), "harmonic penalty no longer distinguishes BY from BH"


def test_cusum_matches_python_walk(spark, sf_dir):
    """CUSUM change point vs a literal per-type Python walk of
    |n*cum_i - i*total| with the day tiebreak."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["events_cusum_change_point"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    daily = con.execute("""
        SELECT event_type, CAST(ts AS DATE),
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    con.close()
    series: dict[str, list] = {}
    for et, day, v in daily:
        series.setdefault(et, []).append((day, int(v)))
    import datetime

    assert set(rows) == set(series)
    for et, s in series.items():
        n, tot = len(s), sum(v for _, v in s)
        cum, best = 0, None
        for i, (day, v) in enumerate(s, 1):
            cum += v
            sc = n * cum - i * tot
            # ORDER BY abs DESC, day ASC -> strictly-greater keeps first
            if best is None or abs(sc) > abs(best[1]):
                best = (day, sc)
        row = rows[et]
        assert row["n_days"] == n
        assert row["s_scaled"] == best[1]
        epoch = (best[0] - datetime.date(1970, 1, 1)).days
        assert row["change_epoch_day"] == epoch


def test_hellinger_matches_float_reference(spark, sf_dir):
    """Hellinger H^2 vs a float recomputation 1 - sum(sqrt(p*q)) from
    plain Python cohort counts — each engine term floors to ppm, so the
    float sum sits within k ppm above the engine value."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_hellinger_distance"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("SELECT event_type, user_id % 2 FROM events").fetchall()
    con.close()
    c1: dict[str, int] = {}
    c2: dict[str, int] = {}
    for et, arm in raw:
        (c1 if arm == 0 else c2)[et] = (c1 if arm == 0 else c2).get(et, 0) + 1
    t1, t2 = sum(c1.values()), sum(c2.values())
    bc = sum(
        math.sqrt(c1.get(et, 0) * c2.get(et, 0) / (t1 * t2))
        for et in set(c1) | set(c2)
    )
    k = len(set(c1) | set(c2))
    got_h2 = {r["h2_ppm"] for r in rows}
    assert len(got_h2) == 1
    h2 = next(iter(got_h2))
    # engine: 1e6 - sum(floor(1e6*term)); floors lose < 1 ppm per term
    assert 0 <= h2 - (1 - bc) * 1e6 <= k + 1.0
    for r in rows:
        assert r["c1"] == c1.get(r["event_type"], 0)
        assert r["c2"] == c2.get(r["event_type"], 0)


def test_matthews_corr_matches_float_reference(spark, sf_dir):
    """MCC^2 ppm + sign vs a float MCC from a plain-Python confusion
    rebuild (regex normalization + marker set + dict counts)."""
    import duckdb
    import math
    import re

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["ml_matthews_corr"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute("SELECT text, lang FROM documents").fetchall()
    con.close()
    markers = {"the", "a", "and", "of", "is"}
    tp = fp = fn = tn = 0
    for text, lang in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        pred = sum(1 for t in toks if t in markers) >= 1
        actual = lang == "en"
        if pred and actual:
            tp += 1
        elif pred:
            fp += 1
        elif actual:
            fn += 1
        else:
            tn += 1
    assert (row["tp"], row["fp"], row["fn"], row["tn"]) == (tp, fp, fn, tn)
    den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    assert den != 0, "fixture must keep the non-degenerate branch live"
    mcc = (tp * tn - fp * fn) / math.sqrt(den)
    assert row["mcc_sign"] == (1 if tp * tn >= fp * fn else -1)
    assert abs(row["mcc2_ppm"] - mcc * mcc * 1e6) <= 2.0


def test_autocorrelation_matches_python_loop(spark, sf_dir):
    """The n-scaled ACF numerators vs a literal per-lag Python loop over
    the daily revenue dict — the lag self-join recomputed as index
    arithmetic."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["lag"]: r
        for r in all_queries()["stats_autocorrelation"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT),
               CAST(ROUND(value * 100) AS BIGINT)
        FROM events
    """).fetchall()
    con.close()
    daily: dict[int, int] = {}
    for d, c in raw:
        daily[d] = daily.get(d, 0) + int(c)
    assert set(rows) == set(range(1, 8))
    for k in range(1, 8):
        pairs = [
            (daily[d], daily[d - k]) for d in daily if d - k in daily
        ]
        n = len(pairs)
        st = sum(t for t, _ in pairs)
        sl = sum(l for _, l in pairs)
        row = rows[k]
        assert row["n"] == n
        assert row["cov_num"] == n * sum(t * l for t, l in pairs) - st * sl
        assert row["var_t_num"] == n * sum(t * t for t, _ in pairs) - st * st
        assert row["var_l_num"] == n * sum(l * l for _, l in pairs) - sl * sl


def test_permutation_diff_matches_fraction_reference(spark, sf_dir):
    """The permutation test's cross-multiplied integer mean comparison
    vs exact Fraction arithmetic: the hash relabeling is the shared
    input, but |mean1b - mean2b| >= |mean1 - mean2| is re-decided with
    fractions.Fraction per permutation — an algebraically different,
    exact spelling that a sign or cross-multiplication slip in the
    triple-product form cannot survive."""
    import duckdb
    from fractions import Fraction

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_permutation_diff_test"](
        spark, sf_dir
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    s = con.execute("""
        SELECT event_id, user_id, CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    con.close()
    K, STEP, B = 2654435761, 7919, 199
    n1 = sum(1 for _, u, _ in s if u % 2 == 0)
    s1 = sum(v for _, u, v in s if u % 2 == 0)
    n2 = len(s) - n1
    s2 = sum(v for _, _, v in s) - s1
    obs = abs(Fraction(s1, n1) - Fraction(s2, n2))
    n_extreme = 0
    for b in range(1, B + 1):
        n1b = s1b = n2b = s2b = 0
        for eid, _, v in s:
            g = (((eid + b * STEP) * K) // 1048576) % 2
            if g == 0:
                n1b += 1
                s1b += v
            else:
                n2b += 1
                s2b += v
        if abs(Fraction(s1b, n1b) - Fraction(s2b, n2b)) >= obs:
            n_extreme += 1
    assert row["n_perms"] == B
    assert row["n_extreme"] == n_extreme
    assert row["p_value_ppm"] == 1000000 * (1 + n_extreme) // (B + 1)


def test_mann_whitney_u_matches_bruteforce_pairs(spark, sf_dir):
    """U (doubled) and the common-language AUC vs a literal O(n*m)
    comparison loop: U_a = #(a>b) + #(a==b)/2 counted pair by pair —
    the shared-ECDF-grid rank algebra recomputed without any ranks."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_mann_whitney_u"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute(
        "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events"
    ).fetchall()
    con.close()
    vals: dict[str, list[int]] = {}
    for et, x in raw:
        vals.setdefault(et, []).append(int(x))
    assert len(rows) == len(vals) * (len(vals) - 1) // 2
    for r in rows:
        a, b = vals[r["type_a"]], vals[r["type_b"]]
        u2 = 0
        from collections import Counter

        cb = sorted(Counter(b).items())
        import bisect

        bs = sorted(b)
        for x in a:
            lt = bisect.bisect_left(bs, x)
            eq = bisect.bisect_right(bs, x) - lt
            u2 += 2 * lt + eq
        assert r["n_a"] == len(a) and r["n_b"] == len(b)
        assert r["u_a_doubled"] == u2
        assert r["auc_ppm"] == 1000000 * u2 // (2 * len(a) * len(b))


def test_wilcoxon_matches_python_walk(spark, sf_dir):
    """Wilcoxon signed-rank (doubled) vs a literal Python walk: daily
    diffs, zeros dropped, tie-averaged ranks of |d| from a sorted list."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_wilcoxon_signed_rank"](
        spark, sf_dir
    ).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT CAST(ts AS DATE), CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    con.close()
    daily: dict = {}
    for d, c in raw:
        daily[d] = daily.get(d, 0) + int(c)
    series = [v for _, v in sorted(daily.items())]
    dx = [b - a for a, b in zip(series, series[1:]) if b - a != 0]
    adx = sorted(abs(d) for d in dx)
    import bisect

    def rank2(v):  # doubled tie-averaged rank
        lo = bisect.bisect_left(adx, v)
        hi = bisect.bisect_right(adx, v)
        return lo + hi + 1

    w2p = sum(rank2(abs(d)) for d in dx if d > 0)
    w2m = sum(rank2(abs(d)) for d in dx if d < 0)
    n = len(dx)
    assert row["n_pairs"] == n
    assert row["w2_plus"] == w2p
    assert row["w2_minus"] == w2m
    assert row["e_w2"] == n * (n + 1) // 2
    assert row["dev"] == w2p - n * (n + 1) // 2
    assert w2p + w2m == 2 * n * (n + 1) // 2, "total rank mass identity"


def test_ks_two_sample_matches_python_sweep(spark, sf_dir):
    """KS D vs a literal Python sweep of |cum_a*n_b - cum_b*n_a| over
    the pooled quantized values."""
    import bisect
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_ks_two_sample"](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute(
        "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events"
    ).fetchall()
    con.close()
    vals: dict[str, list[int]] = {}
    pooled = set()
    for et, x in raw:
        vals.setdefault(et, []).append(int(x))
        pooled.add(int(x))
    for v in vals.values():
        v.sort()
    for r in rows:
        a, b = vals[r["type_a"]], vals[r["type_b"]]
        na, nb = len(a), len(b)
        ks = max(
            abs(bisect.bisect_right(a, x) * nb - bisect.bisect_right(b, x) * na)
            for x in pooled
        )
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert r["ks_num"] == ks
        assert r["ks_ppm"] == 1000000 * ks // (na * nb)


def test_mcnemar_matches_python_pairing(spark, sf_dir):
    """McNemar discordant counts vs a plain per-user dict pairing."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_mcnemar_test"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute(
        "SELECT user_id, event_type, EXTRACT(DAY FROM ts) FROM events"
    ).fetchall()
    con.close()
    flags: dict[int, list[int]] = {}
    for u, et, day in raw:
        f = flags.setdefault(u, [0, 0])
        if et == "view":
            f[0 if day <= 15 else 1] = 1
    b_disc = sum(1 for x, y in flags.values() if x == 1 and y == 0)
    c_disc = sum(1 for x, y in flags.values() if x == 0 and y == 1)
    assert row["n_users"] == len(flags)
    assert row["b_disc"] == b_disc
    assert row["c_disc"] == c_disc
    if b_disc + c_disc:
        assert row["chi2_ppm"] == (
            1000000 * (b_disc - c_disc) ** 2 // (b_disc + c_disc)
        )


def test_benford_constants_and_counts_match_log10(spark, sf_dir):
    """The folded Benford expectation table vs math.log10(1 + 1/d), and
    the observed leading-digit counts vs a plain Python dict."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["stats_benford_digits"](spark, sf_dir).collect()
    assert len(rows) == 9
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{sf_dir}/orders.parquet')"
    )
    cents = [
        int(c)
        for (c,) in con.execute(
            "SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) FROM orders"
        ).fetchall()
    ]
    con.close()
    counts: dict[int, int] = {}
    for c in cents:
        if c > 0:
            d = int(str(c)[0])
            counts[d] = counts.get(d, 0) + 1
    n_total = sum(counts.values())
    for r in rows:
        d = r["digit"]
        assert abs(r["expected_ppm"] - 1e6 * math.log10(1 + 1 / d)) <= 1.0
        assert r["n"] == counts.get(d, 0)
        assert r["observed_ppm"] == 1000000 * counts.get(d, 0) // n_total
        assert r["abs_diff_ppm"] == abs(
            r["observed_ppm"] - r["expected_ppm"]
        )


def _chi2_cells(sf_dir: str):
    """Observed type x day-of-week contingency rebuilt in plain Python
    (dow = Spark's dayofweek - 1 = %w: 0=Sunday)."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("SELECT event_type, CAST(ts AS DATE) FROM events").fetchall()
    con.close()
    obs: dict[tuple, int] = {}
    for et, d in raw:
        dow = (d.weekday() + 1) % 7
        obs[(et, dow)] = obs.get((et, dow), 0) + 1
    return obs


def test_chi_square_and_cramers_v_match_python_contingency(spark, sf_dir):
    """chi2_micro recomputed cell by cell in Python (same IEEE doubles,
    same per-cell quantization — exact equality), plus V^2 = chi2 /
    (n (min(r,c)-1)) re-derived from the rebuilt table."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    obs = _chi2_cells(sf_dir)
    row_tot: dict[str, int] = {}
    col_tot: dict[int, int] = {}
    for (et, dow), n in obs.items():
        row_tot[et] = row_tot.get(et, 0) + n
        col_tot[dow] = col_tot.get(dow, 0) + n
    grand = sum(obs.values())
    chi2_micro = 0
    for (et, dow), n in obs.items():
        expected = row_tot[et] * col_tot[dow] / grand
        contrib = (n - expected) * (n - expected) / expected
        chi2_micro += round(contrib * 1000000)

    rows = q["stats_chi_square"](spark, sf_dir).collect()
    assert len(rows) == len(obs)
    for r in rows:
        assert r["n_obs"] == obs[(r["event_type"], r["dow"])]
        assert r["chi2_micro"] == chi2_micro

    v = q["stats_cramers_v"](spark, sf_dir).collect()[0]
    assert v["grand_n"] == grand
    assert v["n_rows_dim"] == len(row_tot)
    assert v["n_cols_dim"] == len(col_tot)
    assert v["v2_ppm"] == chi2_micro // (
        grand * (min(len(row_tot), len(col_tot)) - 1)
    )


def test_cohens_d_and_ztest_match_independent_algebra(spark, sf_dir):
    """Cohen's d vs the float textbook formula from plain-Python
    moments; the pooled two-proportion z^2 vs the Fraction spelling
    (p1-p2)^2 / (p(1-p)(1/n1+1/n2)) — algebraically different from the
    engines' cross-multiplied rational."""
    import duckdb
    import math
    from fractions import Fraction

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    purch = con.execute("""
        SELECT user_id % 2, CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    arms = con.execute(
        "SELECT user_id % 2, event_type FROM events"
    ).fetchall()
    con.close()

    a = [int(v) for arm, v in purch if arm == 0]
    b = [int(v) for arm, v in purch if arm == 1]
    n1, n2 = len(a), len(b)
    m1, m2 = sum(a) / n1, sum(b) / n2
    ssw = sum((x - m1) ** 2 for x in a) + sum((x - m2) ** 2 for x in b)
    d_ref = (m1 - m2) / math.sqrt(ssw / (n1 + n2 - 2))
    row = q["stats_cohens_d"](spark, sf_dir).collect()[0]
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert abs(row["cohens_d"] - d_ref) <= 2e-6

    N1 = sum(1 for arm, _ in arms if arm == 0)
    K1 = sum(1 for arm, et in arms if arm == 0 and et == "purchase")
    N2 = len(arms) - N1
    K2 = sum(1 for _, et in arms if et == "purchase") - K1
    p = Fraction(K1 + K2, N1 + N2)
    z2 = (Fraction(K1, N1) - Fraction(K2, N2)) ** 2 / (
        p * (1 - p) * (Fraction(1, N1) + Fraction(1, N2))
    )
    row = q["stats_ztest_two_proportions"](spark, sf_dir).collect()[0]
    assert (row["n1"], row["k1"], row["n2"], row["k2"]) == (N1, K1, N2, K2)
    assert row["z2_ppm"] == (1000000 * z2.numerator) // z2.denominator


def test_brown_forsythe_matches_python_anova_on_deviations(spark, sf_dir):
    """Brown-Forsythe F vs a Python one-way ANOVA over |v - median|
    with the lower median replicated from a sorted list."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_brown_forsythe"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute(
        "SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events"
    ).fetchall()
    con.close()
    groups: dict[str, list[int]] = {}
    for et, v in raw:
        groups.setdefault(et, []).append(int(v))
    zs: dict[str, list[int]] = {}
    for et, vs in groups.items():
        vs.sort()
        med = vs[(len(vs) + 1) // 2 - 1]  # lower median, rank (n+1)//2
        zs[et] = [abs(v - med) for v in vs]
    k = len(zs)
    n_tot = sum(len(z) for z in zs.values())
    grand = sum(sum(z) for z in zs.values()) / n_tot
    ssb = sum(
        len(z) * (sum(z) / len(z) - grand) ** 2 for z in zs.values()
    )
    ssw = sum(
        sum((x - sum(z) / len(z)) ** 2 for x in z) for z in zs.values()
    )
    f_ref = (ssb / (k - 1)) / (ssw / (n_tot - k))
    assert row["n_total"] == n_tot
    assert abs(row["f_stat"] - f_ref) <= max(2e-6, 1e-9 * abs(f_ref))


def test_diff_in_diff_matches_python_cells(spark, sf_dir):
    """DiD vs a plain-Python 2x2 rebuild: user universe, midpoint
    split, per-cell sums, and the sign-safe milli-cent division."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_diff_in_diff"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    users = {
        u for (u,) in con.execute("SELECT DISTINCT user_id FROM events").fetchall()
    }
    raw = con.execute("""
        SELECT user_id, CAST(ts AS DATE), CAST(ROUND(value * 100) AS BIGINT)
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    days = [
        d for (d,) in con.execute(
            "SELECT CAST(ts AS DATE) FROM events"
        ).fetchall()
    ]
    con.close()
    d0, d1 = min(days), max(days)
    mid = d0 + (d1 - d0) // 2 if False else None
    import datetime

    mid = d0 + datetime.timedelta(days=(d1 - d0).days // 2)
    cell = {(t, p): 0 for t in (0, 1) for p in (0, 1)}
    for u, d, c in raw:
        t = 1 if u % 2 == 0 else 0
        p = 0 if d <= mid else 1
        cell[(t, p)] += int(c)
    nt = sum(1 for u in users if u % 2 == 0)
    nc = len(users) - nt
    assert (row["n_treat"], row["n_ctrl"]) == (nt, nc)
    assert row["treat_pre_cents"] == cell[(1, 0)]
    assert row["treat_post_cents"] == cell[(1, 1)]
    assert row["ctrl_pre_cents"] == cell[(0, 0)]
    assert row["ctrl_post_cents"] == cell[(0, 1)]
    num = 1000 * (cell[(1, 1)] - cell[(1, 0)]) * nc - 1000 * (
        cell[(0, 1)] - cell[(0, 0)]
    ) * nt
    expect = num // (nt * nc) if num >= 0 else -((-num) // (nt * nc))
    assert row["did_milli_cents"] == expect


def test_ab_ttest_matches_float_welch(spark, sf_dir):
    """Per-type Welch t + Welch-Satterthwaite dof vs plain-Python float
    algebra over raw cents."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["stats_ab_ttest"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT event_type, user_id % 2, CAST(ROUND(value * 100) AS BIGINT)
        FROM events
    """).fetchall()
    con.close()
    groups: dict[str, tuple[list, list]] = {}
    for et, arm, v in raw:
        groups.setdefault(et, ([], []))[arm].append(int(v))
    assert set(rows) == set(groups)
    for et, (a, b) in groups.items():
        na, nb = len(a), len(b)
        ma, mb = sum(a) / na, sum(b) / nb
        va = sum((x - ma) ** 2 for x in a) / (na - 1)
        vb = sum((x - mb) ** 2 for x in b) / (nb - 1)
        sea, seb = va / na, vb / nb
        t = (ma - mb) / math.sqrt(sea + seb)
        dof = (sea + seb) ** 2 / (sea**2 / (na - 1) + seb**2 / (nb - 1))
        r = rows[et]
        assert (r["n_a"], r["n_b"]) == (na, nb)
        assert abs(r["t_stat"] - t) <= max(2e-6, 1e-9 * abs(t))
        assert abs(r["dof"] - dof) <= max(2e-5, 1e-9 * dof)


def test_poisson_bootstrap_matches_hashlib_reference(spark, sf_dir):
    """The Poisson(1) bootstrap vs a hashlib recomputation: the folded
    CDF thresholds re-derived from math.exp (cumulative e^-1/k! in
    ppm), every replicate weight re-hashed with hashlib.md5, and the
    replicate means + variance rebuilt in Python ints. DuckDB supplies
    only the row key rk (the shared identity string)."""
    import duckdb
    import hashlib
    import math

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _BOOT_B,
        _BOOT_CDF,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    # the folded Poisson(1) CDF in ppm vs math.exp
    cum, fact = 0.0, 1
    for k, thr in enumerate(_BOOT_CDF):
        if k:
            fact *= k
        cum += math.exp(-1) / fact
        assert abs(thr - 1e6 * cum) <= 1.0, f"CDF[{k}] {thr} vs {1e6 * cum}"

    row = all_queries()["stats_poisson_bootstrap"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    base = con.execute("""
        SELECT CAST(ROUND(value * 100) AS BIGINT),
               md5(user_id || '|' || CAST(ts AS VARCHAR) || '|'
                   || CAST(ROUND(value * 100) AS BIGINT))
        FROM events WHERE event_type = 'purchase'
    """).fetchall()
    con.close()
    means = []
    for i in range(_BOOT_B):
        sw = swv = 0
        for v, rk in base:
            u = int(hashlib.md5(f"{rk}#{i}".encode()).hexdigest()[:12], 16) % 1000000
            w = next((k for k, t in enumerate(_BOOT_CDF) if u < t), len(_BOOT_CDF))
            sw += w
            swv += w * int(v)
        means.append(swv // sw)
    s = sum(means)
    q = sum(m * m for m in means)
    assert row["n_replicates"] == _BOOT_B
    assert row["boot_mean_sum_cents"] == s
    assert row["var_scaled"] == _BOOT_B * q - s * s
    assert row["se2_cents2"] == (_BOOT_B * q - s * s) // (_BOOT_B * (_BOOT_B - 1))


def test_mann_whitney_doubled_matches_pair_loop(spark, sf_dir):
    """stats_mann_whitney (the doubled purchase-vs-view variant) vs the
    pair identity 2*U1 = 2*#(a>b) + #(a==b)."""
    import bisect
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_mann_whitney"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events
        WHERE event_type IN ('purchase', 'view')
    """).fetchall()
    con.close()
    a = sorted(int(v) for et, v in raw if et == "purchase")
    b = sorted(int(v) for et, v in raw if et == "view")
    two_u1 = 0
    for x in a:
        lt = bisect.bisect_left(b, x)
        eq = bisect.bisect_right(b, x) - lt
        two_u1 += 2 * lt + eq
    assert (row["n1"], row["n2"]) == (len(a), len(b))
    assert row["two_u1"] == two_u1
    assert row["two_r1"] == two_u1 + len(a) * (len(a) + 1)
    assert row["two_u_mean"] == len(a) * len(b)


def test_ks_pair_matches_python_sweep(spark, sf_dir):
    """stats_ks_test (purchase vs view) D numerator vs the Python sweep."""
    import bisect
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["stats_ks_test"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("""
        SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) FROM events
        WHERE event_type IN ('purchase', 'view')
    """).fetchall()
    con.close()
    a = sorted(int(v) for et, v in raw if et == "purchase")
    b = sorted(int(v) for et, v in raw if et == "view")
    n1, n2 = len(a), len(b)
    d_num = max(
        abs(n2 * bisect.bisect_right(a, x) - n1 * bisect.bisect_right(b, x))
        for x in set(a) | set(b)
    )
    assert (row["n1"], row["n2"]) == (n1, n2)
    assert row["d_num"] == d_num


def test_uplift_stratified_matches_python_strata(spark, sf_dir):
    """Per-stratum uplift vs a plain-Python rebuild of the (user, day)
    exposure relation, conversion flags, and the ppm gap."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["dow"]: r
        for r in all_queries()["stats_uplift_stratified"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    # shared labeling only: the distinct (user, dow-label, epoch-day)
    ud = con.execute("""
        SELECT DISTINCT user_id, dayofweek(CAST(ts AS DATE)) + 1,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        FROM events
    """).fetchall()
    conv = set(
        con.execute("""
            SELECT DISTINCT user_id,
                   datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
            FROM events WHERE event_type = 'purchase'
        """).fetchall()
    )
    con.close()
    strata: dict[int, list[int]] = {}
    for u, dow, d in ud:
        t = 1 if u % 2 == 0 else 0
        c = 1 if (u, d) in conv else 0
        s = strata.setdefault(dow, [0, 0, 0, 0])  # n_t, n_c, conv_t, conv_c
        if t:
            s[0] += 1
            s[2] += c
        else:
            s[1] += 1
            s[3] += c
    assert set(rows) == set(strata)
    for dow, (n_t, n_c, conv_t, conv_c) in strata.items():
        r = rows[dow]
        assert (r["n_t"], r["n_c"], r["conv_t"], r["conv_c"]) == (
            n_t, n_c, conv_t, conv_c,
        )
        assert r["uplift_ppm"] == (
            1000000 * conv_t // n_t - 1000000 * conv_c // n_c
        )


def test_tail_ratio_matches_python_counts(spark, sf_dir):
    """The doubling-threshold tail profile vs plain comparison counts."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _TAIL_THRESHOLDS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["x"]: r
        for r in all_queries()["stats_tail_ratio_profile"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    vals = [
        v
        for (v,) in con.execute(
            f"SELECT value FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    con.close()
    assert set(rows) == {int(t) for t in _TAIL_THRESHOLDS}
    for t in _TAIL_THRESHOLDS:
        gt = sum(1 for v in vals if v > t)
        gt2 = sum(1 for v in vals if v > 2 * t)
        r = rows[int(t)]
        assert (r["n_gt_x"], r["n_gt_2x"]) == (gt, gt2)
        assert r["tail_ratio_ppm"] == 1000000 * gt2 // gt
        assert gt > 0, "fixture must keep every threshold's tail live"


def test_corr_matrix_matches_float_pearson(spark, sf_dir):
    """The three lineitem Pearson correlations vs plain-Python float
    covariance algebra."""
    import duckdb
    import math

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["pair"]: r["corr"]
        for r in all_queries()["stats_corr_matrix"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet')"
    )
    q = con.execute("""
        SELECT CAST(l_quantity AS BIGINT),
               CAST(ROUND(l_extendedprice) AS BIGINT),
               CAST(ROUND(l_discount * 10000) AS BIGINT)
        FROM lineitem
    """).fetchall()
    con.close()

    def corr(i, j):
        n = len(q)
        si = sum(r[i] for r in q)
        sj = sum(r[j] for r in q)
        sij = sum(r[i] * r[j] for r in q)
        sii = sum(r[i] * r[i] for r in q)
        sjj = sum(r[j] * r[j] for r in q)
        return (n * sij - si * sj) / (
            math.sqrt(n * sii - si * si) * math.sqrt(n * sjj - sj * sj)
        )

    assert set(rows) == {"qty_price", "qty_discount", "price_discount"}
    assert abs(rows["qty_price"] - corr(0, 1)) <= 1e-9
    assert abs(rows["qty_discount"] - corr(0, 2)) <= 1e-9
    assert abs(rows["price_discount"] - corr(1, 2)) <= 1e-9


def test_cohen_kappa_matches_python_confusion(spark, sf_dir):
    """kappa_ppm vs a plain-Python rebuild: the marker-argmax classifier
    re-decided per document with dict counts, then the exact rational
    (n*diag - sum(row*col)) / (n^2 - sum(row*col)) via Python ints."""
    import duckdb
    import re

    from tmdb_movie_data_pipeline_spark.operators.text import LANG_MARKERS
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["ml_cohen_kappa"](spark, sf_dir).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    docs = con.execute("SELECT text, lang FROM documents").fetchall()
    con.close()
    cm: dict[tuple, int] = {}
    for text, lab in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        s = {
            k: sum(1 for t in toks if t in set(m))
            for k, m in LANG_MARKERS.items()
        }
        if s["en"] == 0 and s["es"] == 0 and s["de"] == 0:
            pred = "unknown"
        elif s["en"] >= s["es"] and s["en"] >= s["de"]:
            pred = "en"
        elif s["es"] >= s["de"]:
            pred = "es"
        else:
            pred = "de"
        cm[(lab, pred)] = cm.get((lab, pred), 0) + 1
    n = sum(cm.values())
    diag = sum(c for (a, b), c in cm.items() if a == b)
    rowm: dict[str, int] = {}
    colm: dict[str, int] = {}
    for (a, b), c in cm.items():
        rowm[a] = rowm.get(a, 0) + c
        colm[b] = colm.get(b, 0) + c
    pe_num = sum(rowm[k] * colm.get(k, 0) for k in rowm)
    assert row["n"] == n
    assert row["n_agree"] == diag
    assert row["pe_num"] == pe_num
    num = 1000000 * (n * diag - pe_num)
    den = n * n - pe_num
    expect = num // den if num >= 0 else -((-num) // den)
    assert row["kappa_ppm"] == expect


def test_sketches_match_hashlib_reference(spark, sf_dir):
    """KMV, HLL, and AMS F2 sketch states rebuilt from scratch with
    hashlib + Python bit arithmetic — the md5-derived hash pipelines,
    order statistics, register maxima, and +/-1 sums recomputed outside
    either SQL engine, so the ESTIMATES (not just the exact counts) are
    pinned to an independent implementation."""
    import duckdb
    import hashlib

    from tmdb_movie_data_pipeline_spark.operators.sketches import (
        _AMS_ROWS,
        KMV_K,
        HLL_M,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    raw = con.execute("SELECT event_type, user_id FROM events").fetchall()
    con.close()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    users_by_type: dict[str, set[int]] = {}
    counts: dict[int, int] = {}
    for et, u in raw:
        users_by_type.setdefault(et, set()).add(u)
        counts[u] = counts.get(u, 0) + 1

    # -- KMV --
    rows = {
        r["event_type"]: r
        for r in q["sketch_kmv_distinct"](spark, sf_dir).collect()
    }
    assert set(rows) == set(users_by_type)
    for et, us in users_by_type.items():
        hs = sorted(h60(str(u)) for u in us)
        r = rows[et]
        assert r["n_exact"] == len(us)
        if len(hs) < KMV_K:
            assert r["est_distinct"] == float(len(us))
        else:
            hk = hs[KMV_K - 1]
            assert r["est_distinct"] == (KMV_K - 1) / (hk / float(1 << 60))

    # -- HLL (64 registers, w = 54 bits above the register index) --
    rows = {
        r["event_type"]: r
        for r in q["sketch_hll_distinct"](spark, sf_dir).collect()
    }
    for et, us in users_by_type.items():
        regs: dict[int, int] = {}
        for u in us:
            hv = h60(str(u))
            reg, w = hv % HLL_M, hv // HLL_M
            rho = 55 if w == 0 else 55 - w.bit_length()
            regs[reg] = max(regs.get(reg, 0), rho)
        s_int = sum(1 << (55 - mj) for mj in regs.values()) + (
            HLL_M - len(regs)
        ) * (1 << 55)
        v_zero = HLL_M - len(regs)
        est = float("2904.064") * 2.0**55 / float(s_int)
        r = rows[et]
        assert r["n_exact"] == len(us)
        assert r["v_zero"] == v_zero
        assert r["est_distinct"] == est

    # -- AMS F2 --
    rows = {
        r["j"]: r for r in q["sketch_ams_f2"](spark, sf_dir).collect()
    }
    exact_f2 = sum(c * c for c in counts.values())
    assert set(rows) == set(range(_AMS_ROWS))
    for j in range(_AMS_ROWS):
        x = sum(
            (c if h60(f"{j}_{u}") % 2 == 0 else -c)
            for u, c in counts.items()
        )
        r = rows[j]
        assert r["sketch_sum"] == x
        assert r["est_f2"] == x * x
        assert r["exact_f2"] == exact_f2
        assert r["err_ppm"] == 1000000 * abs(x * x - exact_f2) // exact_f2


def test_cms_and_bloom_match_hashlib_reference(spark, sf_dir):
    """CMS heavy hitters and the Bloom FPR exhibit rebuilt with hashlib:
    the d x w counter grid, min-probe estimates, member/probe bit
    positions, and the false-positive census recomputed in plain Python
    dicts and sets."""
    import duckdb
    import hashlib

    from tmdb_movie_data_pipeline_spark.operators.sketches import (
        _BF_BITS,
        _BF_K,
        _BF_PROBE_BASE,
        _BF_PROBES,
        CMS_D,
        CMS_TOPN,
        CMS_W,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    users = [
        u
        for (u,) in con.execute(
            f"SELECT user_id FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    con.close()

    # -- CMS --
    sketch = [[0] * CMS_W for _ in range(CMS_D)]
    exact: dict[str, int] = {}
    for u in users:
        k = str(u)
        exact[k] = exact.get(k, 0) + 1
    pos = {
        (i, k): int(hashlib.md5(f"{i}_{k}".encode()).hexdigest()[:15], 16)
        % CMS_W
        for k in exact
        for i in range(CMS_D)
    }
    for k, n in exact.items():
        for i in range(CMS_D):
            sketch[i][pos[(i, k)]] += n
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:CMS_TOPN]
    rows = q["sketch_cms_heavy_hitters"](spark, sf_dir).collect()
    assert [(r["user_key"], r["n_exact"]) for r in rows] == top
    for r in rows:
        k = r["user_key"]
        est = min(sketch[i][pos[(i, k)]] for i in range(CMS_D))
        assert r["n_est"] == est
        assert est >= r["n_exact"], "CMS error must be one-sided"

    # -- Bloom --
    def bits(key) -> list[int]:
        h = hashlib.md5(str(key).encode()).hexdigest()
        return [
            int(h[10 * i : 10 * i + 10], 16) % _BF_BITS for i in range(_BF_K)
        ]

    members = set(users)
    bitset = {p for u in members for p in bits(u)}
    n_fp = sum(
        1
        for pk in range(_BF_PROBE_BASE, _BF_PROBE_BASE + _BF_PROBES)
        if all(p in bitset for p in bits(pk))
    )
    row = q["sketch_bloom_membership"](spark, sf_dir).collect()[0]
    assert row["n_members"] == len(members)
    assert row["n_probes"] == _BF_PROBES
    assert row["n_false_pos"] == n_fp
    assert row["fpr_ppm"] == 1000000 * n_fp // _BF_PROBES


def test_minhash_lsh_pairs_match_hashlib_pipeline(spark, sf_dir):
    """The WHOLE MinHash-LSH pipeline rebuilt in plain Python — word
    3-gram shingles over the normalized text, one md5 per shingle, the
    Kirsch-Mitzenmacher h1 + i*h2 family from the two hex slices,
    per-doc minima, band buckets, and the candidate pair set — then
    compared pair-for-pair with the engine. The dedup/graph shelf's
    most load-bearing shared stage, pinned to an implementation that
    shares no SQL with either engine."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    got = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    buckets: dict[tuple, set] = {}
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        shingles = {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        }
        sigs = []
        pairs_h = [
            (
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16),
                int(hashlib.md5(s.encode()).hexdigest()[16:30], 16),
            )
            for s in shingles
        ]
        for i in range(NUM_HASHES):
            sigs.append(min(h1 + i * h2 for h1, h2 in pairs_h))
        for b in range(BANDS):
            key = "|".join(
                str(sigs[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)
            )
            bucket = hashlib.md5(key.encode()).hexdigest()
            buckets.setdefault((b, bucket), set()).add(doc_id)
    expect = {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }
    assert got == expect
    assert expect, "fixture must carry live near-dup candidate pairs"


def test_simhash_pairs_match_hashlib_pipeline(spark, sf_dir):
    """SimHash sketches + hamming-ball banding rebuilt in plain Python:
    per-token md5 hex-digit bit votes (occurrences, not distinct), the
    32-bit majority sketch, byte-band candidates, and the popcount
    verification - compared sketch-for-sketch and pair-for-pair."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        _N_BANDS_SH,
        _SIMHASH_BITS,
        HAMMING_MAX,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    sketch: dict[int, int] = {}
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        votes = [0] * _SIMHASH_BITS
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            for j in range(_SIMHASH_BITS):
                v = int(h[j // 4], 16)
                votes[j] += 1 if (v >> (j % 4)) & 1 else -1
        sketch[doc_id] = sum(
            (1 << j) for j in range(_SIMHASH_BITS) if votes[j] >= 0
        )
    got_sk = {
        r["doc_id"]: r["simhash"]
        for r in q["dedup_simhash"](spark, sf_dir).collect()
    }
    assert got_sk == sketch

    buckets: dict[tuple, set] = {}
    for d, sh in sketch.items():
        for b in range(_N_BANDS_SH):
            buckets.setdefault((b, (sh >> (8 * b)) & 255), set()).add(d)
    expect = {
        (a, b, bin(sketch[a] ^ sketch[b]).count("1"))
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
        and bin(sketch[a] ^ sketch[b]).count("1") <= HAMMING_MAX
    }
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in q["dedup_simhash_pairs"](spark, sf_dir).collect()
    }
    assert got == expect


def test_ann_cosine_topk_matches_python_bruteforce(spark, sf_dir):
    """The flagship brute-force cosine top-k vs a plain-Python rebuild:
    left-assoc float dot products (bit-identical to the engines' shared
    expression order), ranked by (cosine DESC, neighbor_id), top-5 —
    compared row-for-row including the cosine doubles."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["ann_cosine_topk"](spark, sf_dir).collect()
    con = duckdb.connect()
    embs = dict(
        con.execute(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
    )
    con.close()

    def dot(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + float(a[i]) * float(b[i])
        return s

    expect = set()
    for qid in (v for v in embs if v < N_QUERIES):
        qn = dot(embs[qid], embs[qid]) ** 0.5
        scored = sorted(
            (
                (
                    -(dot(embs[qid], embs[c]) / (qn * dot(embs[c], embs[c]) ** 0.5)),
                    c,
                )
                for c in embs
                if c != qid
            ),
        )[:TOP_K]
        for rank, (neg, c) in enumerate(scored, 1):
            expect.add((qid, c, -neg, rank))
    got = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in rows
    }
    assert got == expect


def test_bm25_topk_matches_python_scoring(spark, sf_dir):
    """BM25 top-k vs plain-Python scoring: exact term counts, the
    bit_length floor-log2 IDF, and the left-assoc float fold — compared
    row-for-row including the score doubles."""
    import duckdb
    import re

    from tmdb_movie_data_pipeline_spark.operators.text import (
        _BM25_C0,
        _BM25_C1,
        _BM25_NUM,
        _BM25_TERMS,
        _BM25_TOPK,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["text_bm25_topk"](spark, sf_dir).collect()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    feats = {}
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        feats[doc_id] = (
            len(toks),
            [sum(1 for t in toks if t == term) for term in _BM25_TERMS],
        )
    n_docs = len(feats)
    sum_dl = sum(dl for dl, _ in feats.values())
    avgdl = sum_dl / n_docs
    df = [
        sum(1 for _, fs in feats.values() if fs[i] > 0)
        for i in range(len(_BM25_TERMS))
    ]
    idf = [
        float(((n_docs + 1) // (df[i] + 1)).bit_length())
        for i in range(len(_BM25_TERMS))
    ]

    num, c0, c1 = float(_BM25_NUM), float(_BM25_C0), float(_BM25_C1)

    def score(dl, fs):
        s = None
        for i in range(len(_BM25_TERMS)):
            part = idf[i] * (
                (fs[i] * num) / (fs[i] + c0 + c1 * dl / avgdl)
            )
            s = part if s is None else s + part
        return s

    ranked = sorted(
        ((-score(dl, fs), d, dl) for d, (dl, fs) in feats.items()),
    )[:_BM25_TOPK]
    expect = [(d, dl, -neg) for neg, d, dl in ranked]
    assert [(r["doc_id"], r["dl"], r["score"]) for r in rows] == expect


def test_sessionize_and_drawdown_match_python_walks(spark, sf_dir):
    """Gap sessionization and max drawdown vs literal per-user Python
    walks over (ts, event_id)-ordered rows."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.events import (
        SESSION_GAP_MIN,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    rows_all = con.execute("""
        SELECT user_id, event_id, epoch_us(ts),
               CASE WHEN event_type = 'purchase'
                    THEN CAST(ROUND(value * 100) AS BIGINT) END
        FROM events ORDER BY user_id, epoch_us(ts), event_id
    """).fetchall()
    con.close()

    # -- sessionize --
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000
    sessions: dict[tuple, list] = {}
    last_ts: dict[int, int] = {}
    seq: dict[int, int] = {}
    for u, eid, ts_us, _ in rows_all:
        if u not in last_ts or ts_us - last_ts[u] > gap_us:
            seq[u] = seq.get(u, 0) + 1
        last_ts[u] = ts_us
        sessions.setdefault((u, seq[u]), []).append(ts_us)
    got = {
        (r["user_id"], r["session_seq"]): (
            r["n_events"], r["session_start_us"], r["session_end_us"],
        )
        for r in q["events_sessionize"](spark, sf_dir).collect()
    }
    expect = {
        k: (len(v), min(v), max(v)) for k, v in sessions.items()
    }
    assert got == expect

    # -- max drawdown (purchases only) --
    got = {
        r["user_id"]: (r["max_drawdown_cents"], r["peak_cents"], r["n_points"])
        for r in q["events_max_drawdown"](spark, sf_dir).collect()
    }
    walk: dict[int, tuple] = {}
    for u, eid, ts_us, cents in rows_all:
        if cents is None:
            continue
        cum, peak, dd, n = walk.get(u, (0, None, 0, 0))
        cum += cents
        peak = cum if peak is None else max(peak, cum)
        dd = max(dd, peak - cum)
        walk[u] = (cum, peak, dd, n + 1)
    expect = {u: (dd, peak, n) for u, (cum, peak, dd, n) in walk.items()}
    assert got == expect


def test_peak_concurrency_matches_python_sweep(spark, sf_dir):
    """Interval peak concurrency vs a literal Python sweep-line with the
    same (t, delta, event_id) tie order."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.events import (
        _IVL_DUR_CHOICES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["event_type"]: r
        for r in all_queries()["events_peak_concurrency"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    raw = con.execute(
        "SELECT event_type, event_id, epoch_us(ts) FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    ).fetchall()
    con.close()
    by_type: dict[str, list] = {}
    for et, eid, s in raw:
        e = s + (1 + eid % _IVL_DUR_CHOICES) * 60 * 1_000_000
        by_type.setdefault(et, []).append((s, e, eid))
    for et, ivs in by_type.items():
        bounds = [(s, 1, eid) for s, _, eid in ivs] + [
            (e, -1, eid) for _, e, eid in ivs
        ]
        bounds.sort()
        run = peak = 0
        first_peak = None
        for t, d, _ in bounds:
            run += d
            if run > peak:
                peak, first_peak = run, t
        r = rows[et]
        assert r["peak"] == peak
        assert r["n_intervals"] == len(ivs)
        assert r["first_peak_us"] == first_peak


def test_lorenz_curve_matches_python_histogram(spark, sf_dir):
    """The Lorenz activity curve vs a plain histogram + cumulative walk."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["events_per_user"]: r
        for r in all_queries()["events_lorenz_curve"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    users = [
        u
        for (u,) in con.execute(
            f"SELECT user_id FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchall()
    ]
    con.close()
    per_user: dict[int, int] = {}
    for u in users:
        per_user[u] = per_user.get(u, 0) + 1
    hist: dict[int, int] = {}
    for k in per_user.values():
        hist[k] = hist.get(k, 0) + 1
    tot_users = len(per_user)
    tot_events = len(users)
    cum_u = cum_e = 0
    assert set(rows) == set(hist)
    for k in sorted(hist):
        cum_u += hist[k]
        cum_e += k * hist[k]
        r = rows[k]
        assert r["n_users"] == hist[k]
        assert r["cum_users"] == cum_u
        assert r["cum_events"] == cum_e
        assert r["cum_users_ppm"] == 1000000 * cum_u // tot_users
        assert r["cum_events_ppm"] == 1000000 * cum_e // tot_events


def test_pagerank_matches_python_power_iteration(spark, sf_dir):
    """graph_pagerank vs a plain-Python power iteration over the SAME
    edge set, rebuilt independently: edges come from the hashlib
    MinHash-LSH pipeline (itself pinned pair-for-pair above), degrees
    and the fixed-point damping update teleport + (85*sum(r div d))
    div 100 recomputed with Python ints round by round."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
    )
    from tmdb_movie_data_pipeline_spark.operators.graph import (
        _PR_ITERS,
        _PR_SCALE,
        _PR_TELEPORT,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    got = {
        r["doc_id"]: r["rank_u"]
        for r in all_queries()["graph_pagerank"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    buckets: dict[tuple, set] = {}
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        shingles = {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }
        hs = [
            (
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16),
                int(hashlib.md5(s.encode()).hexdigest()[16:30], 16),
            )
            for s in shingles
        ]
        sigs = [min(h1 + i * h2 for h1, h2 in hs) for i in range(NUM_HASHES)]
        for b in range(BANDS):
            key = "|".join(
                str(sigs[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)
            )
            buckets.setdefault(
                (b, hashlib.md5(key.encode()).hexdigest()), set()
            ).add(doc_id)
    adj: dict[int, set] = {}
    for members in buckets.values():
        for a in members:
            for b in members:
                if a != b:
                    adj.setdefault(a, set()).add(b)
    ranks = {v: _PR_SCALE for v in adj}
    for _ in range(_PR_ITERS):
        nxt: dict[int, int] = {}
        for src, dsts in adj.items():
            d = len(dsts)
            share = ranks[src] // d  # r div d, nonneg
            for dst in dsts:
                nxt[dst] = nxt.get(dst, 0) + share
        ranks = {
            v: _PR_TELEPORT + (85 * s) // 100 for v, s in nxt.items()
        }
    assert got == ranks
    assert ranks, "fixture must produce a live dup graph"


def _rebuilt_lsh_pairs(sf_dir: str) -> set:
    """The MinHash-LSH candidate pairs rebuilt via hashlib (the pipeline
    pinned pair-for-pair by test_minhash_lsh_pairs_match_hashlib_pipeline);
    shared by the graph-kernel references."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        BANDS,
        NUM_HASHES,
        ROWS_PER_BAND,
    )

    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    buckets: dict[tuple, set] = {}
    for doc_id, text in docs:
        toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
        shingles = {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }
        hs = [
            (
                int(hashlib.md5(s.encode()).hexdigest()[:15], 16),
                int(hashlib.md5(s.encode()).hexdigest()[16:30], 16),
            )
            for s in shingles
        ]
        sigs = [min(h1 + i * h2 for h1, h2 in hs) for i in range(NUM_HASHES)]
        for b in range(BANDS):
            key = "|".join(
                str(sigs[b * ROWS_PER_BAND + r]) for r in range(ROWS_PER_BAND)
            )
            buckets.setdefault(
                (b, hashlib.md5(key.encode()).hexdigest()), set()
            ).add(doc_id)
    return {
        (a, b)
        for members in buckets.values()
        for a in members
        for b in members
        if a < b
    }


def test_connected_components_match_union_find(spark, sf_dir):
    """The hash-to-min distributed CC vs a plain union-find over the
    hashlib-rebuilt pair graph — component id = min reachable vertex."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    got = {
        r["doc_id"]: r["component_id"]
        for r in all_queries()["dedup_cluster_components"](
            spark, sf_dir
        ).collect()
    }
    pairs = _rebuilt_lsh_pairs(sf_dir)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, int] = {}
    for v in parent:
        comp[v] = find(v)
    assert got == comp
    assert len(set(comp.values())) > 1, "fixture should have >1 cluster"


def test_triangle_count_matches_python_wedges(spark, sf_dir):
    """Oriented triangle counting vs a Python wedge-close loop over the
    rebuilt low-to-high pair set."""
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    row = all_queries()["graph_triangle_count"](spark, sf_dir).collect()[0]
    pairs = _rebuilt_lsh_pairs(sf_dir)
    out: dict[int, set] = {}
    for a, b in pairs:
        out.setdefault(a, set()).add(b)
    tri = sum(
        1
        for a, b in pairs
        for c in out.get(b, ())
        if c in out.get(a, ())
    )
    assert row["n_edges"] == len(pairs)
    assert row["n_triangles"] == tri


def test_pmi_and_kn_and_hapax_match_python_rebuilds(spark, sf_dir):
    """Three text-shelf statistics vs plain-Python dict rebuilds: PMI
    windowed pair lifts, Kneser-Ney continuation counts + discount, and
    the hapax ratios."""
    import duckdb
    import re

    from tmdb_movie_data_pipeline_spark.operators.text import (
        _KN_TOPN,
        _PMI_MIN_LIFT_PPM,
        _PMI_MIN_PAIR,
        _PMI_WINDOW,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, lang, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    toks_by_doc = {
        d: re.sub(r"\s+", " ", t).strip().lower().split(" ")
        for d, _, t in docs
    }

    # -- PMI lift pairs --
    pair_c: dict[tuple, int] = {}
    uni: dict[str, int] = {}
    total = 0
    for toks in toks_by_doc.values():
        for i, t in enumerate(toks):
            uni[t] = uni.get(t, 0) + 1
            total += 1
            for j in range(i + 1, min(i + 1 + _PMI_WINDOW, len(toks))):
                k = (min(t, toks[j]), max(t, toks[j]))
                pair_c[k] = pair_c.get(k, 0) + 1
    expect = {}
    for (w1, w2), c in pair_c.items():
        if c < _PMI_MIN_PAIR:
            continue
        lift = 1000000 * c * total // (uni[w1] * uni[w2])
        if lift >= _PMI_MIN_LIFT_PPM:
            expect[(w1, w2)] = (c, uni[w1], uni[w2], lift)
    got = {
        (r["w1"], r["w2"]): (r["c_pair"], r["c_w1"], r["c_w2"], r["lift_ppm"])
        for r in q["text_pmi_lift_pairs"](spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must carry live collocations"

    # -- KN continuation --
    bc: dict[tuple, int] = {}
    for toks in toks_by_doc.values():
        for a, b in zip(toks, toks[1:]):
            bc[(a, b)] = bc.get((a, b), 0) + 1
    n1 = sum(1 for c in bc.values() if c == 1)
    n2 = sum(1 for c in bc.values() if c == 2)
    cont: dict[str, list] = {}
    right: dict[str, int] = {}
    for (a, b), c in bc.items():
        e = cont.setdefault(b, [0, 0])
        e[0] += 1
        e[1] += c
        right[a] = right.get(a, 0) + 1
    ranked = sorted(cont.items(), key=lambda kv: (-kv[1][0], kv[0]))[:_KN_TOPN]
    rows = q["text_kn_continuation"](spark, sf_dir).collect()
    assert [(r["word"], r["cont_count"], r["freq"]) for r in rows] == [
        (w, cc_, fr) for w, (cc_, fr) in ranked
    ]
    for r in rows:
        assert r["right_div"] == right.get(r["word"], 0)
        assert r["bigram_types"] == len(bc)
        assert (r["n1"], r["n2"]) == (n1, n2)
        assert r["discount_milli"] == 1000 * n1 // (n1 + 2 * n2)

    # -- hapax --
    tf: dict[tuple, int] = {}
    for (d, lang, _), toks in zip(docs, toks_by_doc.values()):
        for t in toks:
            if t:
                tf[(lang, t)] = tf.get((lang, t), 0) + 1
    per_lang: dict[str, list] = {}
    for (lang, t), c in tf.items():
        e = per_lang.setdefault(lang, [0, 0, 0])  # vocab, tokens, hapax
        e[0] += 1
        e[1] += c
        e[2] += c == 1
    rows = {
        r["lang"]: r for r in q["text_hapax_ratio"](spark, sf_dir).collect()
    }
    assert set(rows) == set(per_lang)
    for lang, (v, n, h) in per_lang.items():
        r = rows[lang]
        assert (r["vocab"], r["n_tokens"], r["hapax"]) == (v, n, h)
        assert r["hapax_vocab_ppm"] == 1000000 * h // v
        assert r["hapax_token_ppm"] == 1000000 * h // n


def test_isotonic_matches_sequential_pava(spark, sf_dir):
    """The minimax-identity isotonic fit vs a genuinely DIFFERENT
    algorithm: the classic sequential pool-adjacent-violators walk with
    exact Fraction block rates, floored to ppm at the end (floor
    commutes with the max-min since floor is monotone)."""
    import duckdb
    from fractions import Fraction

    from tmdb_movie_data_pipeline_spark.operators.clustering import (
        _CAL_BINS,
        _CAL_POS_LANG,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = {
        r["bin"]: r
        for r in all_queries()["ml_isotonic_calibration"](
            spark, sf_dir
        ).collect()
    }
    con = duckdb.connect()
    docs = con.execute(
        "SELECT n_chars, lang FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    mn = min(c for c, _ in docs)
    mx = max(c for c, _ in docs)
    bins: dict[int, list] = {}
    for c, lang in docs:
        b = (c - mn) * _CAL_BINS // (mx - mn + 1)
        e = bins.setdefault(b, [0, 0])
        e[0] += 1
        e[1] += lang == _CAL_POS_LANG
    # wrinkle: the engine's span rates are ppm-FLOORED before the
    # minimax; PAVA here uses exact Fractions and floors once at the
    # end — identical because floor is monotone in both max and min
    blocks = []  # (n, pos) pooled blocks, left to right
    for b in sorted(bins):
        n, p = bins[b]
        blocks.append([n, p, [b]])
        while len(blocks) >= 2 and Fraction(
            blocks[-1][1], blocks[-1][0]
        ) < Fraction(blocks[-2][1], blocks[-2][0]):
            n2, p2, ids2 = blocks.pop()
            blocks[-1][0] += n2
            blocks[-1][1] += p2
            blocks[-1][2].extend(ids2)
    fitted = {}
    for n, p, ids in blocks:
        for b in ids:
            fitted[b] = 1000000 * p // n
    assert set(rows) == set(bins)
    for b, (n, p) in bins.items():
        r = rows[b]
        assert (r["n"], r["n_pos"]) == (n, p)
        assert r["raw_rate_ppm"] == 1000000 * p // n
        assert r["fitted_rate_ppm"] == fitted[b]
    # monotone non-decreasing by construction — assert it anyway
    fit_seq = [rows[b]["fitted_rate_ppm"] for b in sorted(rows)]
    assert fit_seq == sorted(fit_seq)


def test_ndcg_weights_match_log2(spark, sf_dir):
    """The folded NDCG rank discounts vs 1e6/log2(rank+1) from
    math.log2, and the ideal-DCG constant vs the perfect-retrieval sum."""
    import math

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        _NDCG_IDEAL,
        _NDCG_W,
        TOP_K,
    )

    for rank, w in enumerate(_NDCG_W, 1):
        assert abs(w - 1e6 / math.log2(rank + 1)) <= 1.0
    assert _NDCG_IDEAL == sum(
        (TOP_K - i) * w for i, w in enumerate(_NDCG_W)
    )


def test_rolling_ols_and_median_match_python_windows(spark, sf_dir):
    """Rolling OLS slope and exact rolling median vs literal Python
    trailing-window recomputation (RANGE semantics: the window is day-
    valued, so gap days shrink it)."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.windows import _ROLS_DAYS
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    daily_ols = con.execute("""
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)),
               SUM(CAST(ROUND(value) AS BIGINT))
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    daily_med = con.execute("""
        SELECT date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)),
               SUM(CAST(ROUND(value * 100) AS BIGINT))
        FROM events WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1
    """).fetchall()
    con.close()

    # -- rolling OLS --
    series: dict[str, list] = {}
    for et, d, rev in daily_ols:
        series.setdefault(et, []).append((int(d), int(rev)))
    rows = {
        (r["event_type"], r["day"]): r
        for r in q["window_rolling_ols_slope"](spark, sf_dir).collect()
    }
    assert len(rows) == sum(len(s) for s in series.values())
    for et, s in series.items():
        for d, rev in s:
            win = [(x, y) for x, y in s if d - (_ROLS_DAYS - 1) <= x <= d]
            n = len(win)
            r = rows[(et, d)]
            assert (r["rev"], r["n"]) == (rev, n)
            if n < 2:
                assert r["slope_ppm"] is None
                continue
            sx = sum(x for x, _ in win)
            sy = sum(y for _, y in win)
            sxy = sum(x * y for x, y in win)
            sxx = sum(x * x for x, _ in win)
            num = 1000000 * (n * sxy - sx * sy)
            den = n * sxx - sx * sx
            expect = num // den if num >= 0 else -((-num) // den)
            assert r["slope_ppm"] == expect

    # -- rolling median --
    med_rows = {
        r["day"]: r
        for r in q["window_rolling_median"](spark, sf_dir).collect()
    }
    s = [(int(d), int(c)) for d, c in daily_med]
    assert set(med_rows) == {d for d, _ in s}
    for d, c in s:
        win = sorted(y for x, y in s if d - 6 <= x <= d)
        n = len(win)
        r = med_rows[d]
        assert (r["rev_cents"], r["n_in_window"]) == (c, n)
        assert r["median_x2_cents"] == win[(n + 1) // 2 - 1] + win[n // 2]


def test_k_anonymity_and_fd_discovery_match_python_dicts(spark, sf_dir):
    """k-anonymity equivalence classes and the FD candidate audit vs
    plain dict/set rebuilds over the raw rows."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.profiling import (
        _FD_CANDIDATES,
        _KANON_K,
        _KANON_LEN_BUCKET,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT lang, source, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()

    groups: dict[tuple, int] = {}
    for lang, src, n_chars in docs:
        k = (lang, src, n_chars // _KANON_LEN_BUCKET)
        groups[k] = groups.get(k, 0) + 1
    rows = {
        (r["lang"], r["source"], r["len_b"]): r
        for r in q["profile_k_anonymity"](spark, sf_dir).collect()
    }
    assert set(rows) == set(groups)
    for k, size in groups.items():
        assert rows[k]["group_size"] == size
        assert rows[k]["violates_k"] == (size < _KANON_K)
    assert any(size < _KANON_K for size in groups.values()), (
        "fixture must carry live k-anonymity violations"
    )

    fd_rows = {
        (r["tbl"], r["lhs"], r["rhs"]): r
        for r in q["profile_fd_discovery"](spark, sf_dir).collect()
    }
    assert set(fd_rows) == set(_FD_CANDIDATES)
    holds_seen, violated_seen = False, False
    for tbl, lhs, rhs in _FD_CANDIDATES:
        vals = con.execute(
            f"SELECT {lhs}, {rhs} FROM "
            f"read_parquet('{sf_dir}/{tbl}.parquet')"
        ).fetchall()
        rhs_sets: dict = {}
        for a, b in vals:
            rhs_sets.setdefault(a, set()).add(b)
        n_keys = len(rhs_sets)
        viol = sum(1 for s in rhs_sets.values() if len(s) > 1)
        r = fd_rows[(tbl, lhs, rhs)]
        assert r["n_keys"] == n_keys
        assert r["violating_keys"] == viol
        assert r["holds"] == (viol == 0)
        assert r["violation_ppm"] == 1000000 * viol // n_keys
        holds_seen |= viol == 0
        violated_seen |= viol > 0
    con.close()
    assert holds_seen and violated_seen, (
        "fixture must exercise both FD outcomes"
    )


def test_survival_growth_stickiness_match_python_rebuilds(spark, sf_dir):
    """Kaplan-Meier ingredients, weekly growth accounting, and DAU/WAU
    stickiness vs plain Python rebuilds from the (user, day) relation."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    ud = con.execute("""
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        FROM read_parquet('{0}/events.parquet')
    """.format(sf_dir)).fetchall()
    con.close()
    ud = [(u, int(d)) for u, d in ud]

    # -- survival table --
    last: dict[int, int] = {}
    for u, d in ud:
        last[u] = max(last.get(u, -1), d)
    deaths: dict[int, int] = {}
    for d in last.values():
        deaths[d] = deaths.get(d, 0) + 1
    rows = {
        r["epoch_day"]: r
        for r in q["events_survival_table"](spark, sf_dir).collect()
    }
    assert set(rows) == set(deaths)
    at_risk = 0
    for d in sorted(deaths, reverse=True):
        at_risk += deaths[d]
        r = rows[d]
        assert (r["n_at_risk"], r["d_events"]) == (at_risk, deaths[d])
        assert r["step_survival_ppm"] == (
            1000000 * (at_risk - deaths[d]) // at_risk
        )

    # -- growth accounting (weekly) --
    weeks: dict[int, set] = {}
    for u, d in ud:
        weeks.setdefault(u, set()).add(d // 7)
    acc: dict[int, list] = {}  # week -> [new, retained, resurrected, churned]
    for u, ws in weeks.items():
        ws_sorted = sorted(ws)
        first = ws_sorted[0]
        for i, w in enumerate(ws_sorted):
            e = acc.setdefault(w, [0, 0, 0, 0])
            if w == first:
                e[0] += 1
            if i > 0 and ws_sorted[i - 1] == w - 1:
                e[1] += 1
            if i > 0 and ws_sorted[i - 1] < w - 1:
                e[2] += 1
            nxt = ws_sorted[i + 1] if i + 1 < len(ws_sorted) else None
            if nxt is None or nxt > w + 1:
                acc.setdefault(w + 1, [0, 0, 0, 0])[3] += 1
    rows = {
        r["week"]: r
        for r in q["events_growth_accounting"](spark, sf_dir).collect()
    }
    assert set(rows) == set(acc)
    for w, (n_new, n_ret, n_res, n_chu) in acc.items():
        r = rows[w]
        assert (
            r["n_new"], r["n_retained"], r["n_resurrected"], r["n_churned"]
        ) == (n_new, n_ret, n_res, n_chu)

    # -- DAU/WAU stickiness --
    by_day: dict[int, set] = {}
    for u, d in ud:
        by_day.setdefault(d, set()).add(u)
    rows = {
        r["epoch_day"]: r
        for r in q["events_dau_wau_stickiness"](spark, sf_dir).collect()
    }
    assert set(rows) == set(by_day)
    for d, us in by_day.items():
        wau_set = set()
        for dd in range(d - 6, d + 1):
            wau_set |= by_day.get(dd, set())
        r = rows[d]
        assert (r["dau"], r["wau"]) == (len(us), len(wau_set))
        assert r["stickiness_ppm"] == 1000000 * len(us) // len(wau_set)


def test_ann_ivf_topk_matches_python_routing(spark, sf_dir):
    """The IVF tier rebuilt in plain Python: centroid codebook (the
    designated embedding rows), nearest-centroid assignment, N_PROBE
    query routing, candidate scoring within probed lists only, and the
    per-query top-k — compared row-for-row including cosine doubles
    (left-assoc float order is bit-identical to the engines')."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        CENTROID_BASE,
        N_CENTROIDS,
        N_PROBE,
        N_QUERIES,
        TOP_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["ann_ivf_topk"](spark, sf_dir).collect()
    con = duckdb.connect()
    embs = dict(
        con.execute(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
    )
    con.close()

    def dot(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + float(a[i]) * float(b[i])
        return s

    def cos(a, b):
        return dot(a, b) / (dot(a, a) ** 0.5 * dot(b, b) ** 0.5)

    cent = {
        v - CENTROID_BASE: embs[v]
        for v in embs
        if CENTROID_BASE <= v < CENTROID_BASE + N_CENTROIDS
    }
    assign: dict[int, int] = {}
    lists: dict[int, list] = {}
    for v, e in embs.items():
        cid = min(cent, key=lambda c: (-cos(e, cent[c]), c))
        assign[v] = cid
        lists.setdefault(cid, []).append(v)
    expect = set()
    for qid in (v for v in embs if v < N_QUERIES):
        probes = sorted(cent, key=lambda c: (-cos(embs[qid], cent[c]), c))[
            :N_PROBE
        ]
        cands = [
            v for c in probes for v in lists.get(c, []) if v != qid
        ]
        ranked = sorted(
            ((-cos(embs[qid], embs[v]), v) for v in cands)
        )[:TOP_K]
        for rank, (neg, v) in enumerate(ranked, 1):
            expect.add((qid, v, -neg, rank))
    got = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in rows
    }
    assert got == expect


def test_ann_lsh_bucketed_matches_python_planes(spark, sf_dir):
    """The sign-random-projection tier rebuilt in plain Python: the
    md5-seeded +/-1 hyperplanes, left-assoc signed sums (bit-identical
    fold order), bit-string buckets, in-bucket exact cosine, and the
    per-query top-k — row-for-row including the cosine doubles.
    Completes the ANN ladder pinning (exact + IVF + LSH)."""
    import duckdb
    import hashlib

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DIM,
        N_PLANES,
        N_QUERIES,
        TOP_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    rows = all_queries()["ann_lsh_bucketed"](spark, sf_dir).collect()
    con = duckdb.connect()
    embs = dict(
        con.execute(
            "SELECT vec_id, embedding FROM "
            f"read_parquet('{sf_dir}/embeddings.parquet')"
        ).fetchall()
    )
    con.close()
    signs = [
        [
            1 if int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for i in range(DIM)
        ]
        for p in range(N_PLANES)
    ]

    def bucket(v):
        out = []
        for p in range(N_PLANES):
            s = 0.0
            for i in range(DIM):
                s = s + float(v[i]) if signs[p][i] > 0 else s - float(v[i])
            out.append("1" if s >= 0 else "0")
        return "".join(out)

    def dot(a, b):
        s = 0.0
        for i in range(len(a)):
            s = s + float(a[i]) * float(b[i])
        return s

    buckets: dict[str, list] = {}
    for v, e in embs.items():
        buckets.setdefault(bucket(e), []).append(v)
    expect = set()
    for qid in (v for v in embs if v < N_QUERIES):
        qe = embs[qid]
        qn = dot(qe, qe) ** 0.5
        cands = [v for v in buckets[bucket(qe)] if v != qid]
        ranked = sorted(
            (
                (-(dot(qe, embs[v]) / (qn * dot(embs[v], embs[v]) ** 0.5)), v)
                for v in cands
            )
        )[:TOP_K]
        for rank, (neg, v) in enumerate(ranked, 1):
            expect.add((qid, v, -neg, rank))
    got = {
        (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
        for r in rows
    }
    assert got == expect


def test_packing_and_bpe_pairs_match_python_rebuilds(spark, sf_dir):
    """Sequence packing offsets vs a per-source Python running sum, and
    the BPE pair-count inner loop vs plain character-pair dict counts."""
    import duckdb
    import re

    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        _BPE_TOPN,
        PACK_BUDGET,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, source, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    toks_by_doc = {
        d: re.sub(r"\s+", " ", t).strip().lower().split(" ")
        for d, _, t in docs
    }

    # -- sequence packing --
    rows = {
        r["doc_id"]: r
        for r in q["llm_sequence_packing"](spark, sf_dir).collect()
    }
    cum: dict[str, int] = {}
    for d, src, _ in sorted(docs):
        n = len(toks_by_doc[d])
        start = cum.get(src, 0)
        cum[src] = start + n
        r = rows[d]
        assert (r["source"], r["n_tokens"]) == (src, n)
        assert r["cum_tokens"] == start + n
        assert r["pack_id"] == start // PACK_BUDGET
        assert r["offset_in_pack"] == start % PACK_BUDGET
    assert len(rows) == len(docs)

    # -- BPE pair counts --
    counts: dict[str, int] = {}
    for toks in toks_by_doc.values():
        for t in toks:
            if len(t) >= 2:
                for i in range(len(t) - 1):
                    p = t[i : i + 2]
                    counts[p] = counts.get(p, 0) + 1
    top = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:_BPE_TOPN]
    got = [
        (r["pair"], r["n"])
        for r in q["llm_bpe_pair_counts"](spark, sf_dir).collect()
    ]
    assert got == top


def test_asof_joins_and_skyline_match_python_bisect(spark, sf_dir):
    """A third implementation for the custom join trio: prev-view as-of
    via per-user bisect over sorted view times, nearest-purchase as-of
    via prev/next scan with the tie-to-prev rule, and the 2-D skyline
    via a literal dominance filter — the engine uses windows and the
    oracle uses quadratic joins; this is neither."""
    import bisect
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    ev = con.execute("""
        SELECT user_id, event_id, epoch_us(ts), event_type FROM events
        WHERE event_type IN ('view', 'purchase')
    """).fetchall()
    parts = con.execute("""
        SELECT p_partkey, CAST(ROUND(p_retailprice * 100) AS BIGINT),
               CAST(p_size AS BIGINT)
        FROM read_parquet('{0}/part.parquet')
    """.format(sf_dir)).fetchall()
    con.close()

    views: dict[int, list[int]] = {}
    purchases: dict[int, list] = {}
    for u, eid, t, et in ev:
        if et == "view":
            views.setdefault(u, []).append(int(t))
        else:
            purchases.setdefault(u, []).append((int(t), eid))
    for v in views.values():
        v.sort()

    # -- prev-view as-of --
    got = {
        r["event_id"]: (r["user_id"], r["purchase_us"], r["prev_view_us"])
        for r in q["join_asof_prev_view"](spark, sf_dir).collect()
    }
    expect = {}
    for u, ps in purchases.items():
        vs = views.get(u, [])
        for t, eid in ps:
            i = bisect.bisect_right(vs, t)
            expect[eid] = (u, t, vs[i - 1] if i else None)
    assert got == expect

    # -- nearest-purchase as-of (ties on equal distance go to prev;
    #    a purchase at the SAME (t, event_id)-order position counts as
    #    prev when it sorts before the view) --
    got = {
        r["event_id"]: r["nearest_purchase_us"]
        for r in q["join_asof_nearest"](spark, sf_dir).collect()
    }
    expect = {}
    # rebuild per-user merged order exactly as the window does
    merged: dict[int, list] = {}
    for u, eid, t, et in ev:
        merged.setdefault(u, []).append((int(t), eid, et))
    for u, rows_u in merged.items():
        rows_u.sort(key=lambda x: (x[0], x[1]))
        p_times = [t for t, _, et in rows_u if et == "purchase"]
        prev = None
        prev_by_pos = []
        for t, eid, et in rows_u:
            prev_by_pos.append(prev)
            if et == "purchase":
                prev = t
        # next purchase strictly AFTER the current position
        nxt = None
        next_by_pos = [None] * len(rows_u)
        for i in range(len(rows_u) - 1, -1, -1):
            next_by_pos[i] = nxt
            if rows_u[i][2] == "purchase":
                nxt = rows_u[i][0]
        for i, (t, eid, et) in enumerate(rows_u):
            if et != "view":
                continue
            pp, np_ = prev_by_pos[i], next_by_pos[i]
            # the window includes the CURRENT row in prev (rows between
            # unbounded preceding and current row) but a view row is
            # never a purchase, so prev_by_pos (strictly before) is right
            if pp is None and np_ is None:
                continue
            if np_ is None:
                expect[eid] = pp
            elif pp is None:
                expect[eid] = np_
            else:
                expect[eid] = pp if t - pp <= np_ - t else np_
    assert got == expect

    # -- skyline --
    got_sky = {
        (r["p_partkey"], r["price_cents"], r["size"])
        for r in q["join_skyline_pareto"](spark, sf_dir).collect()
    }
    pts = [(k, int(p), int(s)) for k, p, s in parts]
    expect_sky = {
        (k, p, s)
        for k, p, s in pts
        if not any(p2 < p and s2 < s for _, p2, s2 in pts)
    }
    assert got_sky == expect_sky


def test_attribution_rules_transitions_match_python_walks(spark, sf_dir):
    """Last-touch attribution, association rules, and the Markov
    transition matrix vs per-user Python walks and basket sets."""
    import datetime
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.events import (
        _AR_MINSUP,
        _ATTR_LOOKBACK_DAYS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    ev = con.execute("""
        SELECT user_id, event_id, epoch_us(ts), event_type,
               CAST(ROUND(value * 100) AS BIGINT)
        FROM read_parquet('{0}/events.parquet')
        ORDER BY user_id, epoch_us(ts), event_id
    """.format(sf_dir)).fetchall()
    con.close()

    # -- last-touch attribution --
    look_us = _ATTR_LOOKBACK_DAYS * 86400 * 1_000_000
    chan: dict[str, list] = {}
    last_touch: dict[int, tuple] = {}
    for u, eid, t, et, c in ev:
        if et == "purchase":
            touch = last_touch.get(u)
            if touch is not None and touch[1] >= t - look_us:
                key = touch[0]
            else:
                key = "none"
            e = chan.setdefault(key, [0, 0])
            e[0] += 1
            e[1] += int(c)
        if et in ("view", "click"):
            last_touch[u] = (et, t)
    rows = {
        r["channel"]: (r["n_purchases"], r["revenue_cents"])
        for r in q["events_attribution_last_touch"](spark, sf_dir).collect()
    }
    assert rows == {k: tuple(v) for k, v in chan.items()}

    # -- association rules --
    baskets: dict[int, set] = {}
    for u, _, _, et, _ in ev:
        baskets.setdefault(u, set()).add(et)
    n_users = len(baskets)
    tc: dict[str, int] = {}
    pair_n: dict[tuple, int] = {}
    for bs in baskets.values():
        for t in bs:
            tc[t] = tc.get(t, 0) + 1
        for a in bs:
            for b in bs:
                if a < b:
                    pair_n[(a, b)] = pair_n.get((a, b), 0) + 1
    expect = {}
    for (a, b), n_both in pair_n.items():
        if n_both < _AR_MINSUP:
            continue
        conf = 1000000 * n_both // tc[a]
        expect[(a, b)] = (n_both, tc[a], tc[b], conf, conf * n_users // tc[b])
    got = {
        (r["ant"], r["cons"]): (
            r["n_both"], r["n_ant"], r["n_cons"], r["conf_ppm"], r["lift_ppm"]
        )
        for r in q["events_association_rules"](spark, sf_dir).collect()
    }
    assert got == expect

    # -- transition matrix --
    trans: dict[tuple, int] = {}
    prev: dict[int, str] = {}
    for u, _, _, et, _ in ev:
        if u in prev:
            trans[(prev[u], et)] = trans.get((prev[u], et), 0) + 1
        prev[u] = et
    from_tot: dict[str, int] = {}
    for (a, _), n in trans.items():
        from_tot[a] = from_tot.get(a, 0) + n
    got = {
        (r["from_type"], r["to_type"]): (r["n_trans"], r["prob"])
        for r in q["events_transition_matrix"](spark, sf_dir).collect()
    }
    assert set(got) == set(trans)
    for k, n in trans.items():
        gn, gp = got[k]
        assert gn == n
        assert gp == n / from_tot[k[0]]


def test_anomaly_seasonality_backtest_match_python(spark, sf_dir):
    """The forecasting/anomaly mini-shelf vs Python rebuilds: the
    squared z-score integer inequality, MAD outliers from sorted-list
    lower medians, the day-of-week seasonality index, and the
    seasonal-naive backtest errors."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.events import (
        _BT_TRAIN_DAYS,
        _Z_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    raw = con.execute("""
        SELECT event_id, event_type, CAST(ts AS DATE),
               CAST(ROUND(value * 100) AS BIGINT)
        FROM read_parquet('{0}/events.parquet')
    """.format(sf_dir)).fetchall()
    con.close()

    # -- z-score outliers: (n*x - S)^2 > K^2 (n*Q - S^2) per (type, day) --
    groups: dict[tuple, list] = {}
    for eid, et, day, c in raw:
        groups.setdefault((et, day), []).append((eid, int(c)))
    expect_ids = set()
    for (et, day), rows_g in groups.items():
        n = len(rows_g)
        s = sum(c for _, c in rows_g)
        qq = sum(c * c for _, c in rows_g)
        for eid, c in rows_g:
            if (n * c - s) ** 2 > _Z_K * _Z_K * (n * qq - s * s):
                expect_ids.add(eid)
    got_ids = {
        r["event_id"]
        for r in q["events_anomaly_zscore"](spark, sf_dir).collect()
    }
    assert got_ids == expect_ids
    assert expect_ids, "fixture must carry live outliers"

    # -- daily series per type (shared by the remaining three) --
    daily: dict[tuple, int] = {}
    for _, et, day, c in raw:
        daily[(et, day)] = daily.get((et, day), 0) + int(c)
    by_type: dict[str, list] = {}
    for (et, day), v in daily.items():
        by_type.setdefault(et, []).append((day, v))

    # -- seasonality index (dow label: duckdb dayofweek + 1) --
    import datetime

    def dow_label(d: datetime.date) -> int:
        return (d.weekday() + 1) % 7 + 1  # duckdb dayofweek: 0=Sunday

    rows = {
        (r["event_type"], r["dow"]): r
        for r in q["events_seasonality_index"](spark, sf_dir).collect()
    }
    for et, series in by_type.items():
        per_dow: dict[int, list] = {}
        for day, v in series:
            per_dow.setdefault(dow_label(day), []).append(v)
        total = sum(v for _, v in series)
        n_all = len(series)
        for dw, vs in per_dow.items():
            r = rows[(et, dw)]
            assert (r["n_dow"], r["sum_dow"]) == (len(vs), sum(vs))
            assert r["index_ppm"] == (
                (1000000 * sum(vs) // len(vs)) * n_all // total
            )

    # -- seasonal-naive backtest --
    all_days = [d for (_, d) in daily]
    split = (
        min(d.toordinal() for d in all_days)
        - datetime.date(1970, 1, 1).toordinal()
        + _BT_TRAIN_DAYS
    )
    model: dict[tuple, list] = {}
    for (et, day), v in daily.items():
        d = (day - datetime.date(1970, 1, 1)).days
        if d < split:
            model.setdefault((et, dow_label(day)), []).append(v)
    fc = {k: sum(v) // len(v) for k, v in model.items()}
    rows = {
        (r["event_type"], r["epoch_day"]): r
        for r in q["events_backtest_seasonal_naive"](spark, sf_dir).collect()
    }
    expect_keys = set()
    for (et, day), v in daily.items():
        d = (day - datetime.date(1970, 1, 1)).days
        k = (et, dow_label(day))
        if d >= split and k in fc:
            expect_keys.add((et, d))
            r = rows[(et, d)]
            assert r["actual_cents"] == v
            assert r["forecast_cents"] == fc[k]
            assert r["abs_err_cents"] == abs(v - fc[k])
    assert set(rows) == expect_keys


def test_sampling_shelf_matches_python_hashes(spark, sf_dir):
    """Stratified hash sampling and Duffield-Lund-Thorup priority
    sampling vs plain-Python Fibonacci-hash recomputation: per-lang
    keep sets and per-source smallest-priority-K selections."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.sampling import (
        _DEFAULT_RATE,
        _KEY_MASK,
        _KNUTH,
        _MOD,
        _PRI_K,
        _RATES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, lang, source, n_chars FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()

    def h(doc_id: int) -> int:
        return ((doc_id % _KEY_MASK) * _KNUTH) % _MOD

    expect = {
        (d, lang, h(d))
        for d, lang, _, _ in docs
        if h(d) < int(_RATES.get(lang, _DEFAULT_RATE) * _MOD)
    }
    got = {
        (r["doc_id"], r["lang"], r["sample_key"])
        for r in q["sample_stratified_hash"](spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must keep a live sample"

    by_src: dict[str, list] = {}
    for d, _, src, n_chars in docs:
        w = max(n_chars, 1)
        pri = float(1 + h(d)) / float(w)
        by_src.setdefault(src, []).append((pri, d, w))
    expect_rows = set()
    for src, items in by_src.items():
        for rk, (pri, d, w) in enumerate(sorted(items)[:_PRI_K], 1):
            expect_rows.add((src, d, w, pri, rk))
    got_rows = {
        (r["source"], r["doc_id"], r["weight"], r["pri"], r["rk"])
        for r in q["sample_weighted_priority"](spark, sf_dir).collect()
    }
    assert got_rows == expect_rows


def test_graph_kernels_match_python_rebuilds(spark, sf_dir):
    """k-core peeling, harmonic centrality, two-hop reach, and the
    clustering coefficient vs plain-Python set algebra over the
    hashlib-rebuilt pair graph."""
    from tmdb_movie_data_pipeline_spark.operators.graph import (
        _HC_RADIUS,
        _KCORE_K,
        _KCORE_ROUNDS,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    pairs = _rebuilt_lsh_pairs(sf_dir)
    adj: dict[int, set] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    # -- k-core (fixed synchronous rounds, then within-core degree) --
    alive = set(adj)
    for _ in range(_KCORE_ROUNDS):
        alive = {
            v
            for v in alive
            if len(adj[v] & alive) >= _KCORE_K
        }
    expect = {v: len(adj[v] & alive) for v in alive}
    got = {
        r["doc_id"]: r["core_degree"]
        for r in q["graph_kcore"](spark, sf_dir).collect()
    }
    assert got == expect

    # -- harmonic centrality (BFS to radius 3) --
    rows = {
        r["doc_id"]: r
        for r in q["graph_harmonic_centrality"](spark, sf_dir).collect()
    }
    assert set(rows) == set(adj)
    for s in adj:
        dist = {s: 0}
        frontier = {s}
        for d in range(1, _HC_RADIUS + 1):
            frontier = {
                u for v in frontier for u in adj[v] if u not in dist
            }
            for u in frontier:
                dist[u] = d
        n = [
            sum(1 for d in dist.values() if d == k) for k in (1, 2, 3)
        ]
        r = rows[s]
        assert (r["n1"], r["n2"], r["n3"]) == tuple(n)

    # -- two-hop reach (top-25 by reach desc, degree desc, doc_id) --
    from tmdb_movie_data_pipeline_spark.operators.graph import _REACH_TOPN

    got_rows = [
        (r["doc_id"], r["degree"], r["hop2_reach"])
        for r in q["graph_two_hop_reach"](spark, sf_dir).collect()
    ]
    stats = []
    for v in adj:
        hop2 = {
            u for w in adj[v] for u in adj[w] if u != v and u not in adj[v]
        }
        stats.append((v, len(adj[v]), len(hop2)))
    expect_rows = sorted(stats, key=lambda x: (-x[2], -x[1], x[0]))[
        :_REACH_TOPN
    ]
    assert got_rows == expect_rows

    # -- clustering coefficient (per-vertex triangle counts) --
    rows = {
        r["doc_id"]: r
        for r in q["graph_clustering_coefficient"](spark, sf_dir).collect()
    }
    assert set(rows) == set(adj)
    for v in adj:
        nb = adj[v]
        t = sum(1 for a in nb for b in nb if a < b and b in adj[a])
        r = rows[v]
        assert r["degree"] == len(nb)
        assert r["n_triangles"] == t


def test_containment_and_exact_substring_match_python_sets(spark, sf_dir):
    """Containment pairs (df-capped distinct shingles, min-size
    denominator) and exact-substring shared windows vs plain Python set
    intersections over the same tokenization."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        _CONTAIN_DF_CAP,
        _CONTAIN_MIN_PPM,
        _SUBSTR_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    toks_by_doc = {
        d: re.sub(r"\s+", " ", t).strip().lower().split(" ")
        for d, t in docs
    }

    # -- containment --
    sh_by_doc = {
        d: {
            " ".join(toks[i : i + 3])
            for i in range(max(len(toks) - 2, 1))
        }
        for d, toks in toks_by_doc.items()
    }
    df: dict[str, int] = {}
    for sh in sh_by_doc.values():
        for s in sh:
            df[s] = df.get(s, 0) + 1
    kept = {
        d: {s for s in sh if df[s] <= _CONTAIN_DF_CAP}
        for d, sh in sh_by_doc.items()
    }
    inv: dict[str, list] = {}
    for d, sh in kept.items():
        for s in sh:
            inv.setdefault(s, []).append(d)
    inter: dict[tuple, int] = {}
    for ds in inv.values():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                inter[(a, b)] = inter.get((a, b), 0) + 1
    expect = {}
    for (a, b), n in inter.items():
        c = 1000000 * n // min(len(kept[a]), len(kept[b]))
        if c >= _CONTAIN_MIN_PPM:
            expect[(a, b)] = (n, len(kept[a]), len(kept[b]), c)
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["inter"], r["n_a"], r["n_b"], r["containment_ppm"]
        )
        for r in q["dedup_containment_pairs"](spark, sf_dir).collect()
    }
    assert got == expect
    assert expect, "fixture must carry live containment pairs"

    # -- exact substring --
    grams_by_doc = {
        d: {
            hashlib.md5(
                " ".join(toks[i : i + _SUBSTR_K]).encode()
            ).hexdigest()
            for i in range(max(len(toks) - (_SUBSTR_K - 1), 1))
        }
        for d, toks in toks_by_doc.items()
    }
    ginv: dict[str, list] = {}
    for d, gs in grams_by_doc.items():
        for g in gs:
            ginv.setdefault(g, []).append(d)
    shared: dict[tuple, int] = {}
    for ds in ginv.values():
        ds.sort()
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                shared[(a, b)] = shared.get((a, b), 0) + 1
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_windows"]
        for r in q["dedup_exact_substring"](spark, sf_dir).collect()
    }
    assert got == shared
    assert shared, "fixture must carry live shared windows"


def test_jaccard_verify_and_estimators_match_python(spark, sf_dir):
    """The LSH verify/estimator trio vs Python sets + the rebuilt
    signatures: exact 3-gram Jaccard on candidate pairs, the
    16-signature match fraction, and the 1-bit (parity) estimator with
    its 2x-1 unbiasing — estimator AND truth columns both rebuilt."""
    import duckdb
    import hashlib
    import re

    from tmdb_movie_data_pipeline_spark.operators.dedup import (
        NUM_HASHES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    pairs = _rebuilt_lsh_pairs(sf_dir)
    con = duckdb.connect()
    docs = con.execute(
        "SELECT doc_id, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    sh: dict[int, set] = {}
    sigs: dict[int, list] = {}
    for d, t in docs:
        toks = re.sub(r"\s+", " ", t).strip().lower().split(" ")
        s = {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }
        sh[d] = s
        hs = [
            (
                int(hashlib.md5(x.encode()).hexdigest()[:15], 16),
                int(hashlib.md5(x.encode()).hexdigest()[16:30], 16),
            )
            for x in s
        ]
        sigs[d] = [
            min(h1 + i * h2 for h1, h2 in hs) for i in range(NUM_HASHES)
        ]

    # -- exact verify --
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in q["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    expect = {}
    for a, b in pairs:
        inter = len(sh[a] & sh[b])
        jac = inter / (len(sh[a]) + len(sh[b]) - inter)
        if jac >= 0.0375:
            expect[(a, b)] = jac
    assert got == expect

    # -- signature-match estimator --
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["n_sig_match"], r["est_jaccard_ppm"], r["exact_jaccard_ppm"]
        )
        for r in q["dedup_minhash_jaccard_estimate"](spark, sf_dir).collect()
    }
    expect = {}
    for a, b in pairs:
        m = sum(1 for i in range(NUM_HASHES) if sigs[a][i] == sigs[b][i])
        inter = len(sh[a] & sh[b])
        exact = 1000000 * inter // (len(sh[a]) + len(sh[b]) - inter)
        expect[(a, b)] = (m, 1000000 * m // NUM_HASHES, exact)
    assert got == expect

    # -- 1-bit estimator --
    got = {
        (r["doc_a"], r["doc_b"]): (r["n_bit_match"], r["bbit_est_ppm"])
        for r in q["dedup_bbit_minhash_estimate"](spark, sf_dir).collect()
    }
    expect = {}
    for a, b in pairs:
        m = sum(
            1 for i in range(NUM_HASHES) if sigs[a][i] % 2 == sigs[b][i] % 2
        )
        expect[(a, b)] = (m, max(2000000 * m // NUM_HASHES - 1000000, 0))
    assert got == expect


def test_sketch_unions_and_join_cardinality_match_hashlib(spark, sf_dir):
    """The sketch MERGE contracts + coordinated-sample join sizing vs
    hashlib rebuilds: KMV states unioned and re-trimmed to K, HLL
    register-wise MAX, and the shared-hash key sample with its
    unbiasing scale — estimates and truth columns both rebuilt."""
    import duckdb
    import hashlib

    from tmdb_movie_data_pipeline_spark.operators.sketches import (
        _JC_CUT,
        _JC_SCALE,
        HLL_M,
        KMV_K,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    docs = con.execute(
        "SELECT source, text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    co = con.execute(
        "SELECT o_orderkey, COUNT(*) FROM "
        f"read_parquet('{sf_dir}/orders.parquet') GROUP BY 1"
    ).fetchall()
    cl = con.execute(
        "SELECT l_orderkey, COUNT(*) FROM "
        f"read_parquet('{sf_dir}/lineitem.parquet') GROUP BY 1"
    ).fetchall()
    con.close()

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # -- KMV union --
    per_src: dict[str, set] = {}
    for src, text in docs:
        per_src.setdefault(src, set()).add(h60(text))
    states = {
        src: sorted(hs)[:KMV_K] for src, hs in per_src.items()
    }
    merged = sorted(set().union(*states.values()))[:KMV_K]
    rows = {
        r["scope"]: r
        for r in q["sketch_kmv_union"](spark, sf_dir).collect()
    }
    def kmv_est(hs_sorted, n_exact):
        if len(hs_sorted) < KMV_K:
            return float(n_exact)
        return (KMV_K - 1) / (hs_sorted[KMV_K - 1] / float(1 << 60))

    for src, hs in per_src.items():
        r = rows[src]
        assert r["n_exact"] == len(hs)
        assert r["est_distinct"] == kmv_est(sorted(hs), len(hs))
    all_exact = len(set().union(*per_src.values()))
    r = rows["__all__"]
    assert r["n_exact"] == all_exact
    assert r["est_distinct"] == kmv_est(merged, all_exact)

    # -- HLL union (register-wise MAX of the per-source states) --
    def regs_of(hashes) -> dict[int, int]:
        regs: dict[int, int] = {}
        for hv in hashes:
            reg, w = hv % HLL_M, hv // HLL_M
            rho = 55 if w == 0 else 55 - w.bit_length()
            regs[reg] = max(regs.get(reg, 0), rho)
        return regs

    def hll_est(regs: dict[int, int]) -> float:
        s_int = sum(1 << (55 - mj) for mj in regs.values()) + (
            HLL_M - len(regs)
        ) * (1 << 55)
        return float("2904.064") * 2.0**55 / float(s_int)

    rows = {
        r["scope"]: r
        for r in q["sketch_hll_union"](spark, sf_dir).collect()
    }
    merged_regs: dict[int, int] = {}
    for src, hs in per_src.items():
        regs = regs_of(hs)
        for k, v in regs.items():
            merged_regs[k] = max(merged_regs.get(k, 0), v)
        r = rows[src]
        assert r["v_zero"] == HLL_M - len(regs)
        assert r["est_distinct"] == hll_est(regs)
    r = rows["__all__"]
    assert r["v_zero"] == HLL_M - len(merged_regs)
    assert r["est_distinct"] == hll_est(merged_regs)

    # -- coordinated-sample join cardinality --
    ca = {int(k): int(c) for k, c in co}
    cb = {int(k): int(c) for k, c in cl}
    shared = set(ca) & set(cb)
    exact_pairs = sum(ca[k] * cb[k] for k in shared)
    sampled = [k for k in shared if h60(str(k)) < _JC_CUT]
    sampled_pairs = sum(ca[k] * cb[k] for k in sampled)
    row = q["sketch_join_cardinality"](spark, sf_dir).collect()[0]
    assert row["exact_pairs"] == exact_pairs
    assert row["sampled_keys"] == len(sampled)
    assert row["est_pairs"] == sampled_pairs * _JC_SCALE
    if exact_pairs:
        assert row["err_bp"] == (
            (sampled_pairs * _JC_SCALE - exact_pairs) * 10000 // exact_pairs
        )


def test_retention_suite_matches_python_rebuilds(spark, sf_dir):
    """Streaks (gaps-and-islands), the weekly cohort retention matrix +
    triangle, and type co-occurrence vs plain Python walks and sets."""
    import datetime
    import duckdb

    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    ud = con.execute("""
        SELECT DISTINCT user_id, CAST(ts AS DATE) FROM
        read_parquet('{0}/events.parquet')
    """.format(sf_dir)).fetchall()
    ut = con.execute("""
        SELECT DISTINCT user_id, event_type FROM
        read_parquet('{0}/events.parquet')
    """.format(sf_dir)).fetchall()
    con.close()

    # -- streaks --
    days_by_user: dict[int, list] = {}
    for u, d in ud:
        days_by_user.setdefault(u, []).append(d)
    rows = {
        r["user_id"]: r
        for r in q["events_user_streaks"](spark, sf_dir).collect()
    }
    assert set(rows) == set(days_by_user)
    for u, days in days_by_user.items():
        days.sort()
        streaks = []
        run = 1
        for a, b in zip(days, days[1:]):
            if (b - a).days == 1:
                run += 1
            else:
                streaks.append(run)
                run = 1
        streaks.append(run)
        r = rows[u]
        assert r["longest_streak"] == max(streaks)
        assert r["n_streaks"] == len(streaks)
        assert r["active_days"] == len(days)

    # -- weekly cohort retention (Monday-truncated weeks) --
    def monday(d: datetime.date) -> datetime.date:
        return d - datetime.timedelta(days=d.weekday())

    uweeks: dict[int, set] = {}
    for u, d in ud:
        uweeks.setdefault(u, set()).add(monday(d))
    matrix: dict[tuple, int] = {}
    for u, ws in uweeks.items():
        cw = min(ws)
        for w in ws:
            k = (cw, (w - cw).days // 7)
            matrix[k] = matrix.get(k, 0) + 1
    rows = {
        (r["cohort_week_us"], r["weeks_since"]): r["n_users"]
        for r in q["events_cohort_retention"](spark, sf_dir).collect()
    }
    epoch = datetime.date(1970, 1, 1)
    expect = {
        ((cw - epoch).days * 86400 * 1_000_000, off): n
        for (cw, off), n in matrix.items()
    }
    assert rows == expect

    # -- retention triangle (epoch-day // 7 weeks, ppm shares) --
    uw7: dict[int, set] = {}
    for u, d in ud:
        uw7.setdefault(u, set()).add((d - epoch).days // 7)
    cohort = {u: min(ws) for u, ws in uw7.items()}
    sizes: dict[int, int] = {}
    for cw in cohort.values():
        sizes[cw] = sizes.get(cw, 0) + 1
    tri: dict[tuple, int] = {}
    for u, ws in uw7.items():
        for w in ws:
            k = (cohort[u], w - cohort[u])
            tri[k] = tri.get(k, 0) + 1
    rows = {
        (r["cohort_week"], r["offset_weeks"]): r
        for r in q["events_retention_triangle"](spark, sf_dir).collect()
    }
    assert set(rows) == set(tri)
    for (cw, off), n in tri.items():
        r = rows[(cw, off)]
        assert r["n_active"] == n
        assert r["n_cohort"] == sizes[cw]
        assert r["retention_ppm"] == 1000000 * n // sizes[cw]

    # -- co-occurrence --
    users_by_type: dict[str, set] = {}
    for u, et in ut:
        users_by_type.setdefault(et, set()).add(u)
    rows = {
        (r["type_a"], r["type_b"]): (r["n_both"], r["jaccard"])
        for r in q["events_cooccurrence_pairs"](spark, sf_dir).collect()
    }
    expect = {}
    types = sorted(users_by_type)
    for i, a in enumerate(types):
        for b in types[i + 1 :]:
            n_both = len(users_by_type[a] & users_by_type[b])
            if n_both:
                expect[(a, b)] = (
                    n_both,
                    n_both
                    / (len(users_by_type[a]) + len(users_by_type[b]) - n_both),
                )
    assert rows == expect


def test_interval_merge_and_interarrival_match_python_walks(spark, sf_dir):
    """Interval merging (running-max-end islands) and the power-of-two
    inter-arrival histogram vs literal per-user Python walks."""
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.events import (
        _IVL_DUR_CHOICES,
    )
    from tmdb_movie_data_pipeline_spark.registry import all_queries

    q = all_queries()
    con = duckdb.connect()
    raw = con.execute("""
        SELECT user_id, event_id, epoch_us(ts), event_type, value
        FROM read_parquet('{0}/events.parquet')
    """.format(sf_dir)).fetchall()
    con.close()

    # -- interval merge --
    ivs: dict[int, list] = {}
    for u, eid, t, _, _ in raw:
        ivs.setdefault(u, []).append(
            (int(t), int(t) + (1 + eid % _IVL_DUR_CHOICES) * 60 * 1_000_000,
             eid)
        )
    expect = set()
    for u, items in ivs.items():
        items.sort(key=lambda x: (x[0], x[2]))
        seq = 0
        cur = None  # (start, end, n)
        max_end = None
        for s, e, _ in items:
            if max_end is None or s > max_end:
                if cur:
                    expect.add((u, seq, cur[0], cur[1], cur[2]))
                seq += 1
                cur = (s, e, 1)
            else:
                cur = (cur[0], max(cur[1], e), cur[2] + 1)
            max_end = e if max_end is None else max(max_end, e)
        expect.add((u, seq, cur[0], cur[1], cur[2]))
    got = {
        (
            r["user_id"], r["interval_seq"], r["merged_start_us"],
            r["merged_end_us"], r["n_merged"],
        )
        for r in q["events_interval_merge"](spark, sf_dir).collect()
    }
    assert got == expect

    # -- interarrival histogram --
    by_key: dict[tuple, list] = {}
    for u, _, t, et, v in raw:
        by_key.setdefault((et, u), []).append((int(t), v))
    hist: dict[tuple, int] = {}
    for (et, _), items in by_key.items():
        items.sort(key=lambda x: (x[0], x[1]))
        for (t0, _), (t1, _) in zip(items, items[1:]):
            gap = t1 // 1_000_000 - t0 // 1_000_000
            bucket = 0 if gap <= 0 else gap.bit_length()
            hist[(et, bucket)] = hist.get((et, bucket), 0) + 1
    got = {
        (r["event_type"], r["gap_bucket"]): r["n_gaps"]
        for r in q["events_interarrival_histogram"](spark, sf_dir).collect()
    }
    assert got == hist
