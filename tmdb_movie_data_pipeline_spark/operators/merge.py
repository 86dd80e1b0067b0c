"""MERGE / SCD2 emulation (SURVEY.md §2.9; pyspark_guide "CDC / SCD2").

No Delta/Iceberg jars in this image, so MERGE INTO is emulated with the
classic relational decomposition — which is also exactly what those table
formats execute underneath:

* **upsert** (MERGE matched→update, not-matched→insert):
  ``target ANTI JOIN source  UNION ALL  source`` — one anti-join + union,
  no row-by-row logic;
* **SCD2 intervals**: change events → validity windows via lead() over the
  change timestamp — the history table a MERGE-based SCD2 maintains
  incrementally, built here in one pass.

Scale notes: upsert shuffles both sides once on the key (or zero times if
both are bucketed on it — see test_bucketed_join_avoids_shuffle); SCD2 is
one shuffle on the entity key + an ordered scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import MONEY_SCALE, quantize, round2
from ..io import load_table
from ..registry import register

__all__ = ["merge_upsert", "scd2_intervals"]


def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """Full-row upsert: source rows win on key collision, unmatched target
    rows survive. Equivalent to MERGE ... WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED THEN INSERT *."""
    kept = target.join(source.select(key), on=key, how="left_anti")
    return kept.unionByName(source)


def scd2_intervals(
    changes: DataFrame, key: str, ts_col: str, val_cols: list[str]
) -> DataFrame:
    """Change stream → SCD2 history: each change opens a validity interval
    closed by the next change of the same key (NULL = current). The LEAD
    window breaks timestamp ties on the value columns — without a total
    order, two same-instant changes for one key would let each engine
    pick its own interval chaining (latent flake; the fixtures carry no
    such ties, but the contract shouldn't depend on that)."""
    w = W.partitionBy(key).orderBy(
        F.asc(ts_col), *[F.asc(c) for c in val_cols]
    )
    return changes.select(
        key,
        *val_cols,
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())


@register(
    "merge_upsert_customers",
    oracle="""
    WITH source AS (
        SELECT c_custkey, CONCAT(c_name, '*') AS c_name,
               ROUND(c_acctbal + 100, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT 1000000 + n_nationkey, CONCAT('new-', n_name),
               CAST(0.0 AS DOUBLE), 'NEW' FROM nation
    ),
    kept AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    )
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM source
    """,
)
def upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE emulation: every 7th customer updated (name tagged, +100
    balance), 25 synthetic rows inserted; untouched rows pass through."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", round2(F.col("c_acctbal")).alias("c_acctbal"), "c_mktsegment"
    )
    n = load_table(spark, sf_dir, "nation")
    updates = c.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("*")).alias("c_name"),
        round2(F.col("c_acctbal") + 100).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = n.select(
        (F.lit(1000000) + F.col("n_nationkey")).cast("long").alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("n_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
    )
    return merge_upsert(c, updates.unionByName(inserts), "c_custkey")


@register(
    "scd2_user_value_history",
    oracle="""
    WITH hist AS (
        SELECT user_id, event_type, ROUND(value, 4) AS value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, value))
                   AS valid_to_us
        FROM events
        WHERE event_type = 'purchase'
    )
    SELECT user_id, value, valid_from_us, valid_to_us,
           CAST(valid_to_us IS NULL AS BOOLEAN) AS is_current
    FROM hist
    """,
)
def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history over the purchase change-stream: validity intervals per
    user, open-ended for the latest state."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    out = scd2_intervals(ev, "user_id", "ts", ["value"])
    return out.select(
        "user_id",
        F.round("value", 4).alias("value"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


# -- transactional (Delta-shaped) upsert -------------------------------------


def _tx_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        round2(F.col("c_acctbal")).alias("c_acctbal"),
        "c_mktsegment",
    )


def _tx_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _tx_base(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation")
    updates = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("+")).alias("c_name"),
        round2(F.col("c_acctbal") + 50).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = n.select(
        (F.lit(2000000) + F.col("n_nationkey")).cast("long").alias("c_custkey"),
        F.concat(F.lit("tx-"), F.col("n_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("TX").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


_TX_SOURCE_SQL = """
        SELECT c_custkey, CONCAT(c_name, '+') AS c_name,
               ROUND(ROUND(c_acctbal, 2) + 50, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0
        UNION ALL
        SELECT 2000000 + n_nationkey, CONCAT('tx-', n_name),
               CAST(0.0 AS DOUBLE), 'TX' FROM nation
"""


def _tx_table_path() -> str:
    from ..io import scratch_dir

    return scratch_dir("txtable_")


@register(
    "delta_merge_upsert_read",
    oracle=f"""
    WITH source AS ({_TX_SOURCE_SQL}),
    kept AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    )
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM source
    """,
)
def delta_merge_upsert_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional MERGE round-trip (the Delta-shaped path, plans/acid.py):
    CREATE v0 from the customer base, MERGE an update+insert source as an
    atomically committed v1, then snapshot-read v1 back from its manifest.
    The rows returned have physically been through the parquet commit, not
    just a logical plan — this is the oracle-checked proof that the
    stage-invisible → put-if-absent publish protocol preserves content.

    Pruned-path decision (VERDICT r4 item #5, measured): this scenario's
    source keys (every %5 custkey plus beyond-max inserts) intersect every
    file's [min, max] by construction, so footer-stats pruning can skip
    NOTHING here — enabling it was measured at sf0.1 to add ~0.7 s (stats
    collection + the manifest pruning join) while still rewriting every
    file. The benched query therefore deliberately creates WITHOUT
    stats_key (the documented full-rewrite fallback); the pruned path is
    exercised where its source shape actually skips files —
    ``delta_file_pruned_merge`` and tests/test_acid.py::
    test_merge_prunes_untouched_files /
    test_benched_merge_scenario_takes_pruned_path."""
    from ..plans.acid import TxTable

    t = TxTable.create(spark, _tx_table_path(), _tx_base(spark, sf_dir))
    t.merge(_tx_source(spark, sf_dir), "c_custkey")
    return t.read()


@register(
    "delta_time_travel_stats",
    oracle=f"""
    WITH source AS ({_TX_SOURCE_SQL}),
    v0 AS (
        SELECT c_custkey, ROUND(c_acctbal, 2) AS c_acctbal FROM customer
    ),
    v1 AS (
        SELECT c_custkey, c_acctbal FROM source
        UNION ALL
        SELECT c_custkey, c_acctbal FROM v0
        WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    )
    SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
    FROM v0
    UNION ALL
    SELECT 1, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
    FROM v1
    """,
)
def delta_time_travel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: after CREATE + MERGE, read BOTH versions by manifest and
    aggregate each — v0 must still be the pre-merge table (immutable files,
    snapshot isolation), v1 the post-merge state."""
    from ..plans.acid import TxTable

    t = TxTable.create(spark, _tx_table_path(), _tx_base(spark, sf_dir))
    t.merge(_tx_source(spark, sf_dir), "c_custkey")

    def stats(version: int) -> DataFrame:
        return t.read(version).agg(
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
            .cast("long")
            .alias("bal_cents"),
        )

    return stats(0).unionByName(stats(1))

# -- file-pruned MERGE (footer-stats skipping) --------------------------------

_PX_CUT = 100  # update keys confined to [1, 100] — a narrow slice of the table


def _px_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    updates = c.filter(
        (F.col("c_custkey") % 5 == 0) & (F.col("c_custkey") <= _PX_CUT)
    ).select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("~")).alias("c_name"),
        round2(F.col("c_acctbal") + 25).alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = n.select(
        (F.lit(3000000) + F.col("n_nationkey")).cast("long").alias("c_custkey"),
        F.concat(F.lit("px-"), F.col("n_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("PX").alias("c_mktsegment"),
    )
    return updates.unionByName(inserts)


_PX_SOURCE_SQL = f"""
        SELECT c_custkey, CONCAT(c_name, '~') AS c_name,
               ROUND(ROUND(c_acctbal, 2) + 25, 2) AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 0 AND c_custkey <= {_PX_CUT}
        UNION ALL
        SELECT 3000000 + n_nationkey, CONCAT('px-', n_name),
               CAST(0.0 AS DOUBLE), 'PX' FROM nation
"""


@register(
    "delta_file_pruned_merge",
    oracle=f"""
    WITH source AS ({_PX_SOURCE_SQL}),
    kept AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    )
    SELECT * FROM kept
    UNION ALL
    SELECT * FROM source
    """,
)
def delta_file_pruned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-pruned transactional MERGE: the base table is committed as 8
    range-partitioned files with footer min/max stats on the key; the merge
    source only touches keys <= {_PX_CUT} plus out-of-range inserts, so the
    stats join rewrites ONE file and carries the other seven into v1 by
    reference (plans/acid.py:_touched_files). The read-back proves the
    referenced-not-rewritten layout returns the exact MERGE result; the
    file-reuse property itself is pinned by tests/test_acid.py."""
    from ..plans.acid import TxTable

    base = _tx_base(spark, sf_dir).repartitionByRange(8, "c_custkey")
    t = TxTable.create(spark, _tx_table_path(), base, stats_key="c_custkey")
    t.merge(_px_source(spark, sf_dir), "c_custkey")
    return t.read()


# -- file-pruned DELETE + OPTIMIZE --------------------------------------------

_DEL_LO, _DEL_HI = 1, 300  # delete range: a narrow key slice of the table


@register(
    "delta_delete_optimize",
    oracle=f"""
    WITH v AS (
        SELECT c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal
        FROM customer
        WHERE c_custkey NOT BETWEEN {_DEL_LO} AND {_DEL_HI}
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM v GROUP BY c_mktsegment
    """,
)
def delta_delete_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional DELETE + OPTIMIZE round-trip: CREATE the customer base
    as 8 range-partitioned files with key stats, DELETE a narrow key range
    (v1 rewrites only the files whose footer range intersects — the rest
    carry by reference, see TxTable.delete_range), then OPTIMIZE compacts
    v2 without changing content. The aggregate read-back proves the
    delete+compact pipeline preserves exactly the surviving rows through
    two more manifest commits."""
    from ..plans.acid import TxTable

    base = _tx_base(spark, sf_dir).repartitionByRange(8, "c_custkey")
    t = TxTable.create(spark, _tx_table_path(), base, stats_key="c_custkey")
    t.delete_range("c_custkey", _DEL_LO, _DEL_HI)
    t.optimize(2)
    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("bal_cents"),
    )


_DIFF_DEL_LO, _DIFF_DEL_HI = 301, 450  # delete slice for the change feed


@register(
    "delta_version_diff",
    oracle=f"""
    WITH source AS ({_TX_SOURCE_SQL}),
    v0 AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
    ),
    v1 AS (
        SELECT * FROM source
        UNION ALL
        SELECT * FROM v0 WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    ),
    v2 AS (
        SELECT * FROM v1
        WHERE c_custkey NOT BETWEEN {_DIFF_DEL_LO} AND {_DIFF_DEL_HI}
    )
    SELECT 'delete' AS change_type, v0.c_custkey,
           v0.c_name, v0.c_acctbal
    FROM v0 LEFT JOIN v2 USING (c_custkey) WHERE v2.c_custkey IS NULL
    UNION ALL
    SELECT 'insert', v2.c_custkey, v2.c_name, v2.c_acctbal
    FROM v2 LEFT JOIN v0 USING (c_custkey) WHERE v0.c_custkey IS NULL
    UNION ALL
    SELECT 'update', v2.c_custkey, v2.c_name, v2.c_acctbal
    FROM v2 JOIN v0 USING (c_custkey)
    WHERE v2.c_name <> v0.c_name OR v2.c_acctbal <> v0.c_acctbal
       OR v2.c_mktsegment <> v0.c_mktsegment
    """,
)
def delta_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between table versions: CREATE v0, MERGE v1
    (updates + inserts), DELETE a key range as v2, then DIFF v0 → v2 into
    typed change rows (insert / update / delete) — what Delta CDF or an
    outbox materializer would emit, derived purely from two snapshot reads.

    Scale shape: the diff is one full-outer-shaped comparison on the key —
    here as two anti-joins plus an inner join, all shuffle-on-key with
    partial-agg-free pipelines; at 100 TB each side prunes to its own
    snapshot's files, and the joins colocate on c_custkey. (A production
    CDF would read the per-commit file lists instead of diffing snapshots;
    the snapshot diff is the oracle-checkable ground truth the file-level
    feed must agree with.)"""
    from ..plans.acid import TxTable

    t = TxTable.create(spark, _tx_table_path(), _tx_base(spark, sf_dir))
    t.merge(_tx_source(spark, sf_dir), "c_custkey")
    t.delete_range("c_custkey", _DIFF_DEL_LO, _DIFF_DEL_HI)

    old = t.read(0).alias("o")
    new = t.read().alias("n")
    key = F.col("o.c_custkey") == F.col("n.c_custkey")

    deletes = (
        old.join(new, key, "left_anti")
        .select(
            F.lit("delete").alias("change_type"),
            "c_custkey",
            "c_name",
            "c_acctbal",
        )
    )
    inserts = (
        new.join(old, key, "left_anti")
        .select(
            F.lit("insert").alias("change_type"),
            "c_custkey",
            "c_name",
            "c_acctbal",
        )
    )
    updates = (
        new.join(old, key, "inner")
        .filter(
            (F.col("n.c_name") != F.col("o.c_name"))
            | (F.col("n.c_acctbal") != F.col("o.c_acctbal"))
            | (F.col("n.c_mktsegment") != F.col("o.c_mktsegment"))
        )
        .select(
            F.lit("update").alias("change_type"),
            F.col("n.c_custkey").alias("c_custkey"),
            F.col("n.c_name").alias("c_name"),
            F.col("n.c_acctbal").alias("c_acctbal"),
        )
    )
    return deletes.unionByName(inserts).unionByName(updates)


# -- VACUUM: physical retention under the snapshot protocol -------------------

_VAC_DEL_LO, _VAC_DEL_HI = 1, 300


@register(
    "delta_vacuum_read",
    oracle=f"""
    WITH source AS ({_TX_SOURCE_SQL}),
    v0 AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
    ),
    v1 AS (
        SELECT * FROM source
        UNION ALL
        SELECT * FROM v0 WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    ),
    v2 AS (
        SELECT * FROM v1
        WHERE c_custkey NOT BETWEEN {_VAC_DEL_LO} AND {_VAC_DEL_HI}
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM v2 GROUP BY c_mktsegment
    """,
)
def delta_vacuum_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM under the snapshot protocol: CREATE (8 range-partitioned
    files) -> MERGE -> DELETE -> OPTIMIZE builds a 4-version history whose
    early versions reference files the compacted head no longer needs;
    vacuum(keep_latest=1) then physically deletes every file no retained
    manifest references. The aggregate read-back is taken AFTER the
    deletion, so the hash gate proves what VACUUM must guarantee: removing
    unreferenced files changes nothing a retained snapshot can see. The
    filesystem-side facts (files actually deleted, vacuumed-version reads
    now failing, bytes reclaimed) are pinned by tests/test_acid.py — they
    are deliberately NOT in this result, which must stay SQL-derivable.

    Scale note: the retained-file set is computed from the manifests alone
    (tiny log scan), never by listing-and-diffing the data tree against
    readers — the same reason Delta's VACUUM is safe under concurrent
    snapshot reads; deletion only ever touches files provably outside
    every retained manifest."""
    from ..plans.acid import TxTable

    base = _tx_base(spark, sf_dir).repartitionByRange(8, "c_custkey")
    t = TxTable.create(spark, _tx_table_path(), base, stats_key="c_custkey")
    t.merge(_tx_source(spark, sf_dir), "c_custkey")
    t.delete_range("c_custkey", _VAC_DEL_LO, _VAC_DEL_HI)
    t.optimize(2)
    t.vacuum(keep_latest=1)
    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("bal_cents"),
    )


# -- per-commit change feed (CDF) from the transaction log --------------------


def _commit_snapshot_diff(t, v: int) -> DataFrame:
    """One commit's change rows reconstructed by DIFFING its two adjacent
    snapshots — two anti-joins + one inner join, all key-colocated. This
    is the semantic ground truth the write-time change files must agree
    with (and the oracle's formulation); it remains the per-commit
    FALLBACK for commits recorded before the table enabled the
    change_feed property, and for RESTORE commits which record none."""
    old = t.read(v - 1).alias("o")
    new = t.read(v).alias("n")
    key = F.col("o.c_custkey") == F.col("n.c_custkey")
    deletes = old.join(new, key, "left_anti").select(
        F.lit("delete").alias("change_type"),
        "c_custkey",
        "c_name",
        "c_acctbal",
    )
    inserts = new.join(old, key, "left_anti").select(
        F.lit("insert").alias("change_type"),
        "c_custkey",
        "c_name",
        "c_acctbal",
    )
    updates = (
        new.join(old, "c_custkey")
        # NULL-SAFE inequality (ADVICE r15 #3): plain != evaluates to NULL
        # when either side is NULL and the filter drops the row, so a
        # NULL<->value column transition would be missed here while the
        # write-time recorder (eqNullSafe in _merge_changes) records it —
        # all three formulations (write-time, this fallback, the oracle's
        # IS DISTINCT FROM) must agree under NULLs, not just on the
        # NULL-free TPC-H fixtures.
        .filter(
            ~F.col("n.c_name").eqNullSafe(F.col("o.c_name"))
            | ~F.col("n.c_acctbal").eqNullSafe(F.col("o.c_acctbal"))
            | ~F.col("n.c_mktsegment").eqNullSafe(F.col("o.c_mktsegment"))
        )
        .select(
            F.lit("update").alias("change_type"),
            "c_custkey",
            F.col("n.c_name").alias("c_name"),
            F.col("n.c_acctbal").alias("c_acctbal"),
        )
    )
    return deletes.unionByName(inserts).unionByName(updates)



@register(
    "delta_cdc_feed_commits",
    oracle=f"""
    WITH source AS ({_TX_SOURCE_SQL}),
    v0 AS (
        SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS c_acctbal, c_mktsegment
        FROM customer
    ),
    v1 AS (
        SELECT * FROM source
        UNION ALL
        SELECT * FROM v0 WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    ),
    v2 AS (
        SELECT * FROM v1
        WHERE c_custkey NOT BETWEEN {_DIFF_DEL_LO} AND {_DIFF_DEL_HI}
    ),
    d01 AS (
        SELECT 'delete' AS change_type, v0.c_custkey, v0.c_name, v0.c_acctbal
        FROM v0 LEFT JOIN v1 USING (c_custkey) WHERE v1.c_custkey IS NULL
        UNION ALL
        SELECT 'insert', v1.c_custkey, v1.c_name, v1.c_acctbal
        FROM v1 LEFT JOIN v0 USING (c_custkey) WHERE v0.c_custkey IS NULL
        UNION ALL
        SELECT 'update', v1.c_custkey, v1.c_name, v1.c_acctbal
        FROM v1 JOIN v0 USING (c_custkey)
        WHERE v1.c_name IS DISTINCT FROM v0.c_name
           OR v1.c_acctbal IS DISTINCT FROM v0.c_acctbal
           OR v1.c_mktsegment IS DISTINCT FROM v0.c_mktsegment
    ),
    d12 AS (
        SELECT 'delete' AS change_type, v1.c_custkey, v1.c_name, v1.c_acctbal
        FROM v1 LEFT JOIN v2 USING (c_custkey) WHERE v2.c_custkey IS NULL
        UNION ALL
        SELECT 'insert', v2.c_custkey, v2.c_name, v2.c_acctbal
        FROM v2 LEFT JOIN v1 USING (c_custkey) WHERE v1.c_custkey IS NULL
        UNION ALL
        SELECT 'update', v2.c_custkey, v2.c_name, v2.c_acctbal
        FROM v2 JOIN v1 USING (c_custkey)
        WHERE v2.c_name IS DISTINCT FROM v1.c_name
           OR v2.c_acctbal IS DISTINCT FROM v1.c_acctbal
           OR v2.c_mktsegment IS DISTINCT FROM v1.c_mktsegment
    )
    SELECT CAST(1 AS BIGINT) AS commit_version, * FROM d01
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS commit_version, * FROM d12
    """,
)
def cdc_feed_commits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed across EVERY commit of a TxTable: one typed change
    row (insert/update/delete) per key per commit, stamped with the commit
    version — what `readChangeFeed` gives on Delta. The table enables the
    ``change_feed`` property (Delta's ``delta.enableChangeDataFeed``), so
    MERGE/DELETE record their typed change rows at COMMIT time and the
    feed is a SCAN of those change files — never a re-read of any
    snapshot data file (pinned by tests/test_acid.py::
    test_change_feed_never_rereads_snapshot_files). Commits without a
    recording (pre-property history, RESTORE) fall back per-commit to the
    adjacent-snapshot diff, which is also the oracle's formulation.

    Scale shape (VERDICT r14 #5): read cost is O(changed rows) TOTAL,
    independent of commit count and table size — the r14 shape re-derived
    each commit's changes with two anti-joins + an inner join over two
    snapshot reads, O(commits × snapshot-join). The write side pays one
    change-row pass over the files the commit already touched. The loop
    over versions is a driver loop over the MANIFEST, never over data."""
    from ..plans.acid import TxTable

    # write side: each commit records its typed change rows at commit time
    t = TxTable.create(
        spark, _tx_table_path(), _tx_base(spark, sf_dir), change_feed=True
    )
    t.merge(_tx_source(spark, sf_dir), "c_custkey")
    t.delete_range("c_custkey", _DIFF_DEL_LO, _DIFF_DEL_HI)
    # read side: the recorded change files, with the adjacent-snapshot diff
    # as the per-commit fallback for commits recorded without the property
    feeds = []
    for v in t.versions()[1:]:
        ch = t.change_rows(v)
        if ch is None:  # pre-property commit: snapshot-diff fallback
            ch = _commit_snapshot_diff(t, v)
        feeds.append(
            ch.select(
                F.lit(v).cast("long").alias("commit_version"),
                "change_type",
                "c_custkey",
                "c_name",
                "c_acctbal",
            )
        )
    out = feeds[0]
    for f in feeds[1:]:
        out = out.unionByName(f)
    return out


# -- point-in-time join against the SCD2 history ------------------------------


@register(
    "join_scd2_point_in_time",
    oracle="""
    WITH hist AS (
        SELECT user_id, ROUND(value, 4) AS state_value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, value))
                   AS valid_to_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           h.state_value, h.valid_from_us
    FROM events e JOIN hist h
      ON e.user_id = h.user_id
     AND epoch_us(e.ts) >= h.valid_from_us
     AND (h.valid_to_us IS NULL OR epoch_us(e.ts) < h.valid_to_us)
    WHERE e.event_type = 'view'
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) join: each view event picks up the SCD2 state
    row valid AT ITS TIMESTAMP (valid_from <= ts < valid_to, open-ended
    current row) — the temporal-correctness join every feature store and
    audit query needs; a plain "latest value" join silently leaks the
    future.

    Scale shape: equi-join on user_id (one key-colocated shuffle) with the
    interval predicate applied inside the joined partition — per-user
    history versions are few, so the intermediate stays near-linear. For
    pathologically long histories the union-merge asof form
    (join_asof_prev_view) is the fallback; the PIT semantics here are the
    oracle both must agree on.
    """
    ev = load_table(spark, sf_dir, "events")
    hist = scd2_intervals(
        ev.filter(F.col("event_type") == "purchase"), "user_id", "ts", ["value"]
    ).select(
        F.col("user_id").alias("h_user_id"),
        F.round("value", 4).alias("state_value"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    return (
        views.join(
            hist,
            (F.col("user_id") == F.col("h_user_id"))
            & (F.col("ts_us") >= F.col("valid_from_us"))
            & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us"))),
        )
        .select("event_id", "user_id", "ts_us", "state_value", "valid_from_us")
    )


# -- SCD2 snapshot as-of — deferred r7 queue ----------------------------------


@register(
    "scd2_snapshot_asof",
    oracle="""
    WITH hist AS (
        SELECT user_id, ROUND(value, 4) AS value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, value))
                   AS valid_to_us
        FROM events WHERE event_type = 'purchase'
    ), t AS (
        SELECT (MIN(epoch_us(ts)) + MAX(epoch_us(ts))) // 2 AS t_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT h.user_id, h.value, h.valid_from_us
    FROM hist h CROSS JOIN t
    WHERE h.valid_from_us <= t.t_us
      AND (h.valid_to_us IS NULL OR t.t_us < h.valid_to_us)
    """
)
def scd2_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension AS OF a past instant: one row per user — the value
    whose SCD2 validity interval contains T (midpoint of the purchase
    span, derived from the data so the query is self-contained) — the
    snapshot twin of join_scd2_point_in_time (which aligns many probe
    times; this reconstructs the whole table at ONE time, what an auditor
    or a backfill job asks for, and what delta_time_travel_stats answers
    from the LOG rather than from interval logic — the two must agree,
    which is the cross-check value).

    Shape: the history build is one user-keyed LEAD window; the as-of
    filter is a broadcast 1-row T against interval bounds — a map-only
    predicate, no join at all. At most one interval per user can contain
    T by construction (intervals partition the timeline).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    hist = scd2_intervals(ev, "user_id", "ts", ["value"]).select(
        "user_id",
        F.round("value", 4).alias("value"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
    )
    t = ev.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("t_us")
    )
    return (
        hist.crossJoin(F.broadcast(t))
        .filter(
            (F.col("valid_from_us") <= F.col("t_us"))
            & (
                F.col("valid_to_us").isNull()
                | (F.col("t_us") < F.col("valid_to_us"))
            )
        )
        .select("user_id", "value", "valid_from_us")
    )


# -- multi-table atomic transaction — deferred r7 queue -----------------------

_MTX_MOVE_MOD = 10  # orders with o_orderkey % 10 == 0 move cold -> hot


@register(
    "delta_multi_table_tx",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    hot0 AS (SELECT * FROM base WHERE o_orderpriority = '1-URGENT'),
    cold0 AS (SELECT * FROM base WHERE o_orderpriority <> '1-URGENT'),
    moved AS (SELECT * FROM cold0 WHERE o_orderkey % {_MTX_MOVE_MOD} = 0),
    hot1 AS (SELECT * FROM hot0 UNION ALL SELECT * FROM moved),
    cold1 AS (
        SELECT * FROM cold0 WHERE o_orderkey % {_MTX_MOVE_MOD} <> 0
    )
    SELECT 'hot' AS tier, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM hot1
    UNION ALL
    SELECT 'cold', CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM cold1
    """
)
def multi_table_tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table atomic MOVE: orders split into a hot tier (urgent) and
    a cold tier, then one TxGroup transaction relocates a key slice from
    cold to hot — two table rewrites made visible by ONE atomic group
    record, so no reader can ever see the moved rows in neither or both
    tiers (plans/txgroup.py; crash-injection pinned in tests/test_acid.py:
    a prepare without the group record leaves BOTH tiers at their old
    snapshots). The emitted per-tier counts and cent totals carry the
    conservation invariant: rows and money only moved, never leaked.

    Shape: each tier's rewrite is a normal TxTable commit (stage
    invisible, put-if-absent manifest); the transaction adds one tiny
    group object — the same cost profile as a single-table commit, which
    is why multi-statement transactions scale in log-based formats.
    """
    from ..io import scratch_dir
    from ..plans.acid import TxTable
    from ..plans.txgroup import TxGroup

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        quantize(F.col("o_totalprice"), MONEY_SCALE).alias("cents"),
    )
    root = scratch_dir("txgroup_")
    # The two tier CREATEs are independent jobs over disjoint table roots —
    # submit both from driver threads (guide §2.6) so the cold tier's scan
    # back-fills executors idling in the hot tier's task tail; each create's
    # plan, staged files, and manifest are those of sequential submission
    # (the two took ~0.4 s + ~0.4 s back to back).
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        hot_fut = ex.submit(
            TxTable.create,
            spark,
            os.path.join(root, "hot"),
            base.filter(F.col("o_orderpriority") == "1-URGENT"),
        )
        cold_fut = ex.submit(
            TxTable.create,
            spark,
            os.path.join(root, "cold"),
            base.filter(F.col("o_orderpriority") != "1-URGENT"),
        )
        hot, cold = hot_fut.result(), cold_fut.result()
    group = TxGroup(spark, root)
    moved_pred = F.col("o_orderkey") % _MTX_MOVE_MOD == 0
    cold_now = group.read(cold)
    group.transact(
        [
            (hot, group.read(hot).unionByName(cold_now.filter(moved_pred))),
            (cold, cold_now.filter(~moved_pred)),
        ],
        "MOVE",
    )
    hot_agg = group.read(hot).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit("hot").alias("tier"), "n_orders", "total_cents")
    cold_agg = group.read(cold).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit("cold").alias("tier"), "n_orders", "total_cents")
    return hot_agg.unionByName(cold_agg)


# -- schema evolution on the transaction log — deferred r7 queue --------------


@register(
    "delta_schema_evolution_commit",
    oracle="""
    WITH v0 AS (
        SELECT c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
               CAST(NULL AS VARCHAR) AS tier
        FROM customer
    ), v1_new AS (
        SELECT 3000000 + n_nationkey AS c_custkey,
               CAST(0 AS BIGINT) AS cents,
               'T-' || CAST(n_nationkey % 3 AS VARCHAR) AS tier
        FROM nation
    ), snap AS (
        SELECT * FROM v0 UNION ALL SELECT * FROM v1_new
    )
    SELECT COALESCE(tier, '∅') AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM snap GROUP BY 1
    """
)
def schema_evolution_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution through the transaction log: v0 commits customers
    WITHOUT a tier column; v1 appends new rows WITH it (old files carried
    untouched). Reading v1 with the LOG's schema surfaces the column as
    NULL for every pre-evolution row — no rewrite of old data, no
    mergeSchema footer sweep; the manifest is the schema authority, which
    is exactly how Delta/Iceberg make ADD COLUMN an O(1) metadata
    operation. The aggregate groups by tier (NULLs bucketed) so the gate
    pins both the evolved column's values and the carried rows' NULLs.
    """
    from ..io import scratch_dir
    from ..plans.acid import TxTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", quantize(F.col("c_acctbal"), MONEY_SCALE).alias("cents")
    )
    t = TxTable.create(spark, _tx_table_path(), base)
    evolved = (
        load_table(spark, sf_dir, "nation")
        .select(
            (F.lit(3000000) + F.col("n_nationkey")).cast("long").alias("c_custkey"),
            F.lit(0).cast("long").alias("cents"),
            F.concat(F.lit("T-"), (F.col("n_nationkey") % 3).cast("string")).alias(
                "tier"
            ),
        )
    )
    prev = t.manifest(t.latest_version())
    carry = [(rel, None) for rel in prev["files"]]
    t._commit(evolved, t.latest_version() + 1, "EVOLVE_ADD_COLUMN", carry=carry)  # noqa: SLF001
    snap = t.read(use_log_schema=True)
    return snap.groupBy(
        F.coalesce(F.col("tier"), F.lit("∅")).alias("tier")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# -- shallow clone — deferred queue -------------------------------------------

_CLONE_DEL_LO, _CLONE_DEL_HI = 20, 40  # inside [0,149] so sf0.001 diverges too


@register(
    "delta_shallow_clone",
    oracle=f"""
    WITH base AS (
        SELECT c_custkey,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ),
    clone1 AS (
        SELECT * FROM base
        WHERE c_custkey NOT BETWEEN {_CLONE_DEL_LO} AND {_CLONE_DEL_HI}
    )
    SELECT 'source' AS side, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM base
    UNION ALL
    SELECT 'clone', CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM clone1
    """
)
def shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE and copy-on-write divergence: the clone's v0 is pure
    metadata referencing the source's files (zero bytes copied); a DELETE
    on the clone rewrites only the clone's snapshot while the source
    reads back untouched — both sides' counts and cent totals ride in one
    gated result, so the isolation claim is hash-checked, not asserted.
    The source commits range-partitioned WITH footer stats, so the
    clone's DELETE exercises file-pruned rewriting over ABSOLUTE
    cross-table references (carried source files stay carried).
    The dual of delta_time_travel_stats: time travel shares files across
    VERSIONS, cloning shares them across TABLES.
    """
    from ..io import scratch_dir
    from ..plans.acid import TxTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", quantize(F.col("c_acctbal"), MONEY_SCALE).alias("cents")
    )
    root = scratch_dir("clone_")
    src = TxTable.create(
        spark,
        os.path.join(root, "src"),
        base.repartitionByRange(4, "c_custkey"),
        stats_key="c_custkey",
    )
    clone = TxTable.shallow_clone(spark, os.path.join(root, "clone"), src)
    clone.delete_range("c_custkey", _CLONE_DEL_LO, _CLONE_DEL_HI)
    src_agg = src.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit("source").alias("side"), "n_rows", "total_cents")
    clone_agg = clone.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit("clone").alias("side"), "n_rows", "total_cents")
    return src_agg.unionByName(clone_agg)


# -- RESTORE to an old version — deferred queue -------------------------------


@register(
    "delta_restore_version",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(3 AS BIGINT) AS n_versions
    FROM customer
    """
)
def restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION: a bad DELETE (v1) is undone by a
    metadata-only commit (v2) that re-references v0's exact files — no
    data rewritten, the mistake stays in history for audit and time
    travel, and the head reads back IDENTICAL to the original (the gate:
    post-restore count and cent total equal the raw table, with the
    version count pinned in the same row). The operational sibling of
    time travel: travel READS the past, restore RE-HEADS it.
    """
    from ..io import scratch_dir
    from ..plans.acid import TxTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", quantize(F.col("c_acctbal"), MONEY_SCALE).alias("cents")
    )
    t = TxTable.create(spark, os.path.join(scratch_dir("restore_"), "t"), base)
    t.delete_range("c_custkey", 0, 50)  # the mistake
    t.restore(0)
    return t.read().agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.lit(t.latest_version() + 1).cast("long").alias("n_versions"),
    )


# -- queryable commit history — deferred queue --------------------------------


@register(
    "delta_history_relation",
    oracle="""
    SELECT * FROM (VALUES
        (CAST(0 AS BIGINT), 'CREATE',               CAST(2 AS BIGINT)),
        (CAST(1 AS BIGINT), 'DELETE c_custkey IN [20, 40]', CAST(2 AS BIGINT)),
        (CAST(2 AS BIGINT), 'OPTIMIZE n=1',         CAST(1 AS BIGINT)),
        (CAST(3 AS BIGINT), 'RESTORE v0',           CAST(2 AS BIGINT))
    ) AS t(version, op, n_files)
    """
)
def history_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a relation: the transaction log surfaced as
    queryable rows (version, operation, file count) — the observability
    surface every log-based format exposes, here gated against the exact
    commit sequence the fixture performs (create 2-file → range DELETE
    rewriting both → OPTIMIZE to one → RESTORE re-referencing v0's two).
    File counts are deterministic BY CONSTRUCTION, not by environment:
    v0 is an explicit 2-range repartition, the DELETE takes the
    stats-pruned path (ONE touched file rewritten as one staged file —
    a single small file never splits — plus one carried), OPTIMIZE
    coalesces to one, RESTORE re-references v0's two. The gate catches
    a silently-skipped commit, a wrong op label, a compaction that
    stopped compacting, or pruning that stopped pruning.

    Shape: the log IS the data — |versions| manifest reads, no table
    scan at all.
    """
    from ..io import scratch_dir
    from ..plans.acid import TxTable

    base = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey", quantize(F.col("c_acctbal"), MONEY_SCALE).alias("cents")
        )
        .repartitionByRange(2, "c_custkey")
    )
    t = TxTable.create(
        spark,
        os.path.join(scratch_dir("hist_"), "t"),
        base,
        stats_key="c_custkey",
    )
    t.delete_range("c_custkey", 20, 40)
    t.optimize(1)
    t.restore(0)
    rows = [
        (m["version"], m["op"], len(m["files"])) for m in t.history()
    ]
    return spark.createDataFrame(
        rows, "version long, op string, n_files long"
    )


# -- late-arriving SCD2 splice — deferred queue -------------------------------

_LATE_MOD = 13  # every 13th purchase event arrives LATE (after newer ones)


@register(
    "scd2_late_arriving_splice",
    oracle="""
    WITH hist AS (
        SELECT user_id, ROUND(value, 4) AS value,
               epoch_us(ts) AS valid_from_us,
               epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, value))
                   AS valid_to_us
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, value, valid_from_us, valid_to_us,
           CAST(valid_to_us IS NULL AS BOOLEAN) AS is_current
    FROM hist
    """
)
def scd2_late_arriving_splice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order CDC: every 13th purchase is withheld and applied
    AFTER newer events — an append-style apply would bolt it onto the
    end with a back-dated valid_from, corrupting interval order. The
    splice repairs it per affected user: the late rows' users have their
    histories REBUILT from (standing intervals' change points ∪ late
    rows), while untouched users' rows pass through — and the result
    must be row-identical to the SCD2 over the complete, in-order data
    (the oracle). The no-drift contract of stream_scd2_apply, extended
    to the disorder real feeds actually contain.

    Shape: the affected-user set is a semi-join key filter; rebuilds are
    user-local (one keyed shuffle over only the affected users' rows);
    the untouched majority never moves. At scale this is why CDC appliers
    keep change points recoverable: a splice only needs the KEYS of the
    affected entities, never a global replay.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    on_time = ev.filter(F.col("event_id") % _LATE_MOD != 0)
    late = ev.filter(F.col("event_id") % _LATE_MOD == 0)
    # standing history from the on-time stream
    standing = scd2_intervals(on_time, "user_id", "ts", ["value"])
    late_users = late.select("user_id").distinct()
    untouched = standing.join(late_users, "user_id", "left_anti")
    # rebuild affected users from their change points + the late rows
    affected_points = (
        standing.join(late_users, "user_id", "left_semi")
        .select("user_id", F.col("valid_from").alias("ts"), "value")
        .unionByName(late.select("user_id", "ts", "value"))
    )
    rebuilt = scd2_intervals(affected_points, "user_id", "ts", ["value"])
    out = untouched.unionByName(rebuilt)
    return out.select(
        "user_id",
        F.round("value", 4).alias("value"),
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros("valid_to").alias("valid_to_us"),
        "is_current",
    )


# -- clustered-layout OPTIMIZE: file-skipping as a gated contract -------------

_CL_FILES = 8
# probe range: [10%, 20%] of the max l_orderkey — RELATIVE so the range
# covers ~10% of the key domain at every SF (each clustered file covers
# 1/8 = 12.5%, so a 10% probe straddles at most one boundary)


@register(
    "delta_clustered_layout_pruning",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (
               l_orderkey BETWEEN (SELECT MAX(l_orderkey) FROM lineitem) // 10
                              AND (SELECT 2 * MAX(l_orderkey) FROM lineitem) // 10
               ) AS BIGINT) AS rows_in_range,
           CAST({_CL_FILES} AS BIGINT) AS n_files,
           TRUE  AS pruning_improved,
           TRUE  AS clustered_touches_at_most_2,
           TRUE  AS contents_identical
    FROM lineitem
    """,
)
def clustered_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE CLUSTERED BY as a gated CONTRACT, not just an API: a
    TxTable of lineitem is first written hash-shuffled ({_CL_FILES}
    files, every file spanning ~the whole l_orderkey domain — the layout
    ingestion naturally produces), then rewritten with
    ``optimize_clustered`` (range-partitioned + sorted, Delta's
    ZORDER/liquid-clustering essence in one dimension). The query emits
    what a layout audit needs: exact row counts (oracle-checked against
    the source relation), and three gate booleans the ORACLE pins as
    literals — pruning improved (clustered touches fewer files than the
    hash layout for the probe range), the clustered layout touches <= 2
    files (disjoint ranges: the probe straddles at most one boundary),
    and the rewrite changed no row (full contents re-aggregated across
    versions). If Spark's range partitioner or the manifest stats ever
    degrade, a literal flips and the hash gate fails loudly.

    Scale story: the probe uses manifest-only stats (zero data IO) — the
    same per-file [min, max] that file-prunes MERGE/DELETE; clustering
    turns those stats from useless (every file spans everything) into
    exact range indexes, which is why layout OPTIMIZE is the highest-
    leverage maintenance command a 100 TB table has."""
    from ..io import scratch_dir
    from ..plans.acid import TxTable

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    root = scratch_dir("clust_")
    t = TxTable.create(
        spark,
        root + "/t",
        li.repartition(_CL_FILES),  # hash layout: files span the domain
        stats_key="l_orderkey",
    )
    max_key = li.agg(F.max("l_orderkey")).collect()[0][0]
    lo, hi = max_key // 10, (2 * max_key) // 10
    touched_before, files_before = t.files_touched_by_range(
        "l_orderkey", lo, hi
    )
    before = t.read()
    sum_before = before.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("l_orderkey * 13 + l_partkey")).alias("chk"),
    ).collect()[0]
    t.optimize_clustered("l_orderkey", target_files=_CL_FILES)
    touched_after, files_after = t.files_touched_by_range(
        "l_orderkey", lo, hi
    )
    after = t.read()
    sum_after = after.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("l_orderkey * 13 + l_partkey")).alias("chk"),
    ).collect()[0]
    n_rows = after.count()
    rows_in_range = after.filter(
        F.col("l_orderkey").between(lo, hi)
    ).count()
    return spark.createDataFrame(
        [
            (
                n_rows,
                rows_in_range,
                files_after,
                touched_after < touched_before,
                touched_after <= 2,
                (sum_before.n, sum_before.chk) == (sum_after.n, sum_after.chk),
            )
        ],
        "n_rows bigint, rows_in_range bigint, n_files bigint,"
        " pruning_improved boolean, clustered_touches_at_most_2 boolean,"
        " contents_identical boolean",
    )
clustered_layout_pruning.__doc__ = clustered_layout_pruning.__doc__.format(_CL_FILES=_CL_FILES)  # real docstring (ADVICE r7)

# -- merge-on-read deletion vectors ---------------------------------------------

_DV_LO1, _DV_HI1 = 50, 200  # first DV delete slice
_DV_LO2, _DV_HI2 = 700, 820  # second slice: proves DV accumulation


@register(
    "delta_deletion_vectors",
    oracle=f"""
    WITH v AS (
        SELECT c_mktsegment, ROUND(c_acctbal, 2) AS c_acctbal
        FROM customer
        WHERE c_custkey NOT BETWEEN {_DV_LO1} AND {_DV_HI1}
          AND c_custkey NOT BETWEEN {_DV_LO2} AND {_DV_HI2}
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_cents
    FROM v GROUP BY c_mktsegment
    """,
)
def delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE via deletion vectors: CREATE the customer base
    as 8 range-partitioned files with key stats, run TWO DV deletes
    (TxTable.delete_range_dv) that commit position sidecars WITHOUT
    rewriting any data file, and read back through the DV anti-join. The
    query asserts the MoR contract inline — both DV commits must leave the
    manifest's data-file list byte-identical to v0's — then proves the
    read subtracts exactly the deleted key ranges against the oracle.
    (Compaction behavior — the next merge/optimize purging the DVs — is
    pinned in tests/test_acid.py.)

    Scale shape: each DV build scans only the files whose footer [min,max]
    intersects the delete range and emits (file_name, row_index) positions
    — O(matching rows) written, zero data rewritten; the read-side DV
    relation is deleted-rows-sized and broadcasts."""
    from ..plans.acid import TxTable

    base = _tx_base(spark, sf_dir).repartitionByRange(8, "c_custkey")
    t = TxTable.create(spark, _tx_table_path(), base, stats_key="c_custkey")
    files_v0 = t.manifest(0)["files"]
    t.delete_range_dv("c_custkey", _DV_LO1, _DV_HI1)
    t.delete_range_dv("c_custkey", _DV_LO2, _DV_HI2)
    m = t.manifest(t.latest_visible_version())
    assert m["files"] == files_v0, "DV delete must not rewrite data files"
    assert m.get("dvs"), "DV delete must record position sidecars"
    return t.read().groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("c_acctbal") * 100, 0).cast("long"))
        .cast("long")
        .alias("bal_cents"),
    )


# -- bitemporal as-of join (r11 queue) ----------------------------------------------

_BT_VALID_AS_OF = "1996-06-30"  # the valid-time question: state on this date
_BT_KNOWN_T1 = "1996-06-30"  # ...as the system knew it that same day
_BT_KNOWN_T2 = "1996-12-31"  # ...vs after late arrivals landed


@register(
    "join_bitemporal_asof",
    oracle=f"""
    WITH bt AS (
        -- bitemporal fact: each order observes the customer's state at
        -- VALID time o_orderdate, RECORDED (tx time) 0-2 days later —
        -- the deterministic late-arrival skew (o_orderkey % 3 days)
        SELECT o_custkey AS custkey, o_orderkey,
               o_orderdate AS valid_d,
               o_orderdate + INTERVAL (o_orderkey % 3) DAY AS tx_d,
               CAST(ROUND(o_totalprice) AS BIGINT) AS units
        FROM orders
    ), t1 AS (
        SELECT custkey, units FROM (
            SELECT custkey, units,
                   ROW_NUMBER() OVER (PARTITION BY custkey
                       ORDER BY valid_d DESC, tx_d DESC, o_orderkey DESC)
                       AS rn
            FROM bt WHERE valid_d <= DATE '{_BT_VALID_AS_OF}'
                      AND tx_d <= DATE '{_BT_KNOWN_T1}'
        ) WHERE rn = 1
    ), t2 AS (
        SELECT custkey, units FROM (
            SELECT custkey, units,
                   ROW_NUMBER() OVER (PARTITION BY custkey
                       ORDER BY valid_d DESC, tx_d DESC, o_orderkey DESC)
                       AS rn
            FROM bt WHERE valid_d <= DATE '{_BT_VALID_AS_OF}'
                      AND tx_d <= DATE '{_BT_KNOWN_T2}'
        ) WHERE rn = 1
    )
    SELECT t2.custkey,
           CAST(t1.units AS BIGINT) AS known_t1,
           CAST(t2.units AS BIGINT) AS known_t2,
           t1.units IS DISTINCT FROM t2.units AS revised
    FROM t2 LEFT JOIN t1 ON t1.custkey = t2.custkey
    """,
)
def bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITEMPORAL as-of join — the two-clock question SCD2 alone cannot
    answer: "what was each customer's state at VALID time V, as the
    system KNEW it at transaction time T?" Facts carry both clocks
    (valid = o_orderdate; tx = recorded 0-2 days later, the deterministic
    late-arrival skew), and the same V is answered at two knowledge
    cutoffs — T1 = V itself and T2 = six months later — so the `revised`
    flag isolates exactly the answers late arrivals changed: the audit
    ("what did we report THEN?") vs restated ("what do we know NOW?")
    distinction regulatory reporting runs on. join_scd2_point_in_time
    covers one clock; this is the second.

    Shape: both knowledge cutoffs resolve in ONE partial-aggregable pass
    — max_by over the composite (valid, tx, key) ordering with per-cutoff
    FILTERs — no window, no self-join, one exchange keyed on the entity.
    The tie-break triple makes the picked row unique, so the hash is
    deterministic."""
    o = load_table(spark, sf_dir, "orders")
    bt = o.select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.col("o_orderdate").alias("valid_d"),
        F.date_add(
            F.col("o_orderdate"), (F.col("o_orderkey") % 3).cast("int")
        ).alias("tx_d"),
        F.round(F.col("o_totalprice")).cast("long").alias("units"),
    )
    ordkey = F.struct(
        F.col("valid_d"), F.col("tx_d"), F.col("o_orderkey")
    )
    in_t1 = (F.col("valid_d") <= F.lit(_BT_VALID_AS_OF).cast("date")) & (
        F.col("tx_d") <= F.lit(_BT_KNOWN_T1).cast("date")
    )
    in_t2 = (F.col("valid_d") <= F.lit(_BT_VALID_AS_OF).cast("date")) & (
        F.col("tx_d") <= F.lit(_BT_KNOWN_T2).cast("date")
    )
    pick = bt.groupBy("custkey").agg(
        F.max_by(F.when(in_t1, F.col("units")), F.when(in_t1, ordkey))
        .cast("long")
        .alias("known_t1"),
        F.max_by(F.when(in_t2, F.col("units")), F.when(in_t2, ordkey))
        .cast("long")
        .alias("known_t2"),
    )
    return pick.filter(F.col("known_t2").isNotNull()).select(
        "custkey",
        "known_t1",
        "known_t2",
        (~F.col("known_t1").eqNullSafe(F.col("known_t2"))).alias("revised"),
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
