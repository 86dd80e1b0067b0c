"""Round-20 closeout pins (final round): the two ADVICE r19 hardening items
on IncrementalIvfIndex, each driven through the failure mode ADVICE named.
(ADVICE r19 #3 — the brittle exact-PushedFilters pin — is closed inside
tests/test_reference_round19.py itself: the plan assertions now match
case-insensitive tokens / a tolerant regex instead of an exact rendering.)

These touch only the EAGER write-side bodies bootstrap()/process_batch();
the plan-constructing paths (_assign, index(), attach(), both registered
query fns) are byte-untouched this round, so the r19-verified
`stream_ivf_index_append` plan is unchanged by construction and the name
stays OFF _CHANGED_THIS_ROUND (see the r20 ledger note in registry.py).

Runs at sf0.001 AND sf0.01 (SPARK_GRAFT_TEST_SF_DIR) per the two-scale
protocol — both tests pull real fixture embeddings, no synthetic frames.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _fresh_index(spark, sf_dir, state_dir):
    from tmdb_movie_data_pipeline_spark.io import load_table
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        CENTROID_BASE,
        N_CENTROIDS,
        _flat,
    )
    from tmdb_movie_data_pipeline_spark.streaming.incremental_index import (
        IncrementalIvfIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cent_flat = _flat(
        emb.filter(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
        ).select((F.col("vec_id") - CENTROID_BASE).alias("cid"), "embedding"),
        "c",
    )
    return IncrementalIvfIndex(spark, state_dir, cent_flat), emb


def test_rebootstrap_clears_streamed_epochs(spark, sf_dir, tmp_path):
    """ADVICE r19 #1: bootstrap() over a state_dir that already holds
    streamed ``epoch=N/`` subtrees must clear the WHOLE index root — with
    the pre-fix epoch=-1-only overwrite, index() after the re-bootstrap
    returned mixed old-stream + new-bootstrap rows (the stale epochs
    survived), which this test drives directly."""
    from tmdb_movie_data_pipeline_spark.streaming.incremental_index import (
        APPEND_MOD,
        APPEND_REM,
    )

    idx, emb = _fresh_index(spark, sf_dir, str(tmp_path / "state"))
    resident = emb.filter(F.col("vec_id") % APPEND_MOD != APPEND_REM)
    arriving = emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_REM)

    idx.bootstrap(resident)
    booted = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    idx.process_batch(arriving, 0)  # a streamed epoch now sits in the root
    assert os.path.isdir(os.path.join(idx.index_path, "epoch=0"))
    grown = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    assert len(grown) == len(booted) + arriving.count()

    idx.bootstrap(resident)  # "start this index over"
    assert sorted((r.vec_id, r.cid) for r in idx.index().collect()) == booted, (
        "stale streamed epoch survived a re-bootstrap"
    )
    assert not os.path.isdir(os.path.join(idx.index_path, "epoch=0"))


def test_process_batch_requires_explicit_epoch(spark, sf_dir, tmp_path):
    """ADVICE r19 #2: under idempotent overwrite semantics a defaulted
    epoch_id is a silent-data-loss trap (two default-epoch calls with
    different batches discard the first), so the parameter is required —
    a direct caller omitting it must fail loudly at the call, not
    overwrite quietly."""
    from tmdb_movie_data_pipeline_spark.streaming.incremental_index import (
        APPEND_MOD,
        APPEND_REM,
    )

    idx, emb = _fresh_index(spark, sf_dir, str(tmp_path / "state"))
    idx.bootstrap(emb.filter(F.col("vec_id") % APPEND_MOD != APPEND_REM))
    arriving = emb.filter(F.col("vec_id") % APPEND_MOD == APPEND_REM)
    with pytest.raises(TypeError):
        idx.process_batch(arriving)  # no epoch_id
    before = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    idx.process_batch(arriving, 0)
    after = sorted((r.vec_id, r.cid) for r in idx.index().collect())
    assert len(after) == len(before) + arriving.count()
