"""Product quantization (PQ) for vector search (SURVEY.md §2.9 similarity).

Completes the ANN family (exact / LSH / IVF in operators/similarity.py) with
the compression tier every billion-vector deployment uses: vectors are
split into M subvectors, each encoded as its nearest sub-centroid id, and
queries score candidates with an **asymmetric distance computation** (ADC)
— a per-query lookup table of (block, code) → distance contribution, summed
over the M codes. A 64-float vector becomes M=8 bytes; the scoring join
touches codes, never raw vectors.

Scale shape: encoding is corpus × broadcast(16-row codebook) with ALL M
argmins taken in ONE ``min_by`` aggregate pass (one map-side-combined
shuffle carrying one row per vector — the IVF assignment lesson). ADC is an
equi-join of codes against the broadcast LUT, then a partial-agg sum per
(query, vector). All vector math runs over flat extracted columns
(whole-stage codegen), and LUT entries are quantized to BIGINT micro-units
so the M-way sums are order-free and bit-identical to the DuckDB oracle.

Codebook: the deterministic corpus slice vec_id ∈ [100, 116) — per block b,
sub-centroid c is that vector's dims [8b, 8b+8) (k-means training for real
deployments lives in operators/clustering.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from ..registry import register
from .similarity import (
    DIM,
    IVF_ROUTE_SQL,
    N_PROBE,
    N_QUERIES,
    TOP_K,
    _flat,
    _flat_duck,
    _probe_candidates,
    ivf_route,
)

__all__ = ["pq_encode", "pq_adc_topk"]

PQ_M = 8  # blocks
PQ_DSUB = DIM // PQ_M  # dims per block
PQ_K = 16  # sub-centroids per block
_CB_BASE = 100  # codebook slice, shared with IVF's deterministic centroids
_QSCALE = 1_000_000


def _block_dist(e: str, c: str, b: int) -> str:
    """Squared L2 over block ``b``'s dims, j ascending, left-assoc — the
    shared text both engines compile (``e``/``c`` are column PREFIXES)."""
    return " + ".join(
        f"(({e}{b * PQ_DSUB + j} - {c}{b * PQ_DSUB + j})"
        f" * ({e}{b * PQ_DSUB + j} - {c}{b * PQ_DSUB + j}))"
        for j in range(PQ_DSUB)
    )


def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flat(
        load_table(spark, sf_dir, "embeddings").filter(
            (F.col("vec_id") >= _CB_BASE) & (F.col("vec_id") < _CB_BASE + PQ_K)
        ),
        "c",
        f"vec_id - {_CB_BASE} AS cid",
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, block, code): every vector's M nearest-sub-centroid ids —
    all M argmins in one aggregate pass over corpus × broadcast codebook."""
    vecs = _flat(load_table(spark, sf_dir, "embeddings"), "e", "vec_id")
    cb = _codebook(spark, sf_dir)
    paired = vecs.crossJoin(F.broadcast(cb))
    aggs = [
        F.min_by(
            F.col("cid"),
            F.struct(
                F.expr(f"({_block_dist('_e', '_c', b)})").alias("d"),
                F.col("cid").alias("c"),
            ),
        ).alias(f"code_{b}")
        for b in range(PQ_M)
    ]
    codes_wide = paired.groupBy("vec_id").agg(*aggs)
    return codes_wide.select(
        "vec_id",
        F.posexplode(F.array(*[F.col(f"code_{b}") for b in range(PQ_M)])).alias(
            "block", "code"
        ),
    ).select("vec_id", F.col("block").cast("long").alias("block"), F.col("code").cast("long").alias("code"))


#: the flat vector (fv) and codebook (fc) CTEs every PQ oracle reads
_FV_FC_SQL = f"""fv AS (SELECT vec_id, {_flat_duck("_e", "embeddings.")} FROM embeddings),
    fc AS (SELECT vec_id - {_CB_BASE} AS cid, {_flat_duck("_c", "embeddings.")}
           FROM embeddings
           WHERE vec_id >= {_CB_BASE} AND vec_id < {_CB_BASE + PQ_K})"""


def _codes_cte() -> str:
    return " UNION ALL ".join(
        f"""SELECT vec_id, {b} AS block, cid AS code
        FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY ({_block_dist("v._e", "c._c", b)}) ASC,
                                               c.cid ASC) AS rn
            FROM fv v, fc c
        ) WHERE rn = 1"""
        for b in range(PQ_M)
    )


def _lut_cte() -> str:
    return " UNION ALL ".join(
        f"""SELECT q.vec_id AS query_id, {b} AS block, c.cid AS code,
               CAST(ROUND(({_block_dist("q._e", "c._c", b)}) * {_QSCALE}) AS BIGINT)
                   AS qdist
        FROM fv q, fc c WHERE q.vec_id < {N_QUERIES}"""
        for b in range(PQ_M)
    )


def _encode_oracle() -> str:
    """Per-block argmin as ROW_NUMBER over the 16 sub-centroids, one UNION
    ALL branch per block."""
    branches = " UNION ALL ".join(
        f"""SELECT vec_id, CAST({b} AS BIGINT) AS block, CAST(cid AS BIGINT) AS code
        FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY ({_block_dist("v._e", "c._c", b)}) ASC,
                                               c.cid ASC) AS rn
            FROM fv v, fc c
        ) WHERE rn = 1"""
        for b in range(PQ_M)
    )
    return f"""
    WITH {_FV_FC_SQL},
    codes AS ({branches}) SELECT * FROM codes
    """


@register("pq_encode_codes", oracle=_encode_oracle())
def pq_encode_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_encode(spark, sf_dir)


def _lut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, block, code, qdist): quantized per-block distance from each
    query subvector to each sub-centroid — the ADC lookup table."""
    q = _flat(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < N_QUERIES),
        "e",
        "vec_id AS query_id",
    )
    cb = _codebook(spark, sf_dir)
    paired = q.crossJoin(F.broadcast(cb))
    dists = F.array(
        *[
            F.expr(
                f"CAST(ROUND(({_block_dist('_e', '_c', b)}) * {_QSCALE}) AS BIGINT)"
            )
            for b in range(PQ_M)
        ]
    )
    return paired.select(
        "query_id",
        F.col("cid").alias("code"),
        F.posexplode(dists).alias("block", "qdist"),
    ).select("query_id", F.col("block").cast("long").alias("block"), "code", "qdist")


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_FV_FC_SQL},
    codes AS ({_codes_cte()}),
    lut AS ({_lut_cte()}),
    scored AS (
        SELECT l.query_id, s.vec_id AS neighbor_id,
               CAST(SUM(l.qdist) AS BIGINT) AS adc_dist_q
        FROM codes s JOIN lut l ON l.block = s.block AND l.code = s.code
        WHERE s.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist_q, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, adc_dist_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist_q ASC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k: candidates scored purely from their PQ codes against the
    query's lookup table — integer sums over M=8 quantized entries, so the
    approximate distances (and therefore the ranking) are engine-exact."""
    codes = pq_encode(spark, sf_dir)
    lut = _lut(spark, sf_dir)
    scored = (
        codes.join(F.broadcast(lut), ["block", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qdist").cast("long").alias("adc_dist_q"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


# -- IVF-PQ: coarse routing + code-only scoring -------------------------------

def _ivfpq_oracle() -> str:
    return f"""
    WITH {IVF_ROUTE_SQL},
    {_FV_FC_SQL},
    codes AS ({_codes_cte()}),
    lut AS ({_lut_cte()}),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.vec_id AS neighbor_id,
               CAST(SUM(l.qdist) AS BIGINT) AS adc_dist_q
        FROM cand cd
        JOIN codes s ON s.vec_id = cd.vec_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.block = s.block AND l.code = s.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_dist_q, CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, adc_dist_q,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist_q ASC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: the billion-vector production shape — IVF coarse routing
    picks the probed inverted lists, then candidates are scored purely from
    their PQ codes against the query's broadcast ADC lookup table. Raw
    vectors are touched only by the (offline) encode and routing steps;
    query-time scoring reads M=8 codes per candidate.

    Scale shape: routing is corpus × broadcast(16 centroids) with a max_by
    partial agg (one row per vector on the wire); candidate generation is a
    cid equi-join against the probes; scoring joins candidates to their
    codes on vec_id (co-partitionable — at 100 TB, write codes partitioned
    by cid so the probe join prunes partitions) and sums M broadcast-LUT
    integers per candidate in a partial+final agg. Integer ADC distances
    make the ranking engine-exact.
    """
    assign, probes = ivf_route(spark, sf_dir)
    cand = _probe_candidates(assign, probes, N_PROBE)
    codes = pq_encode(spark, sf_dir)
    lut = _lut(spark, sf_dir)
    scored = (
        cand.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "block", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("qdist").cast("long").alias("adc_dist_q"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist_q"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


# -- PQ distortion (codec quality; deferred: r10 activation) ---------------------


def _distortion_oracle() -> str:
    branches = " UNION ALL ".join(
        f"""SELECT CAST({b} AS BIGINT) AS block,
                  CAST(ROUND(MIN({_block_dist("v._e", "c._c", b)})
                             * {_QSCALE}) AS BIGINT) AS d_micro
        FROM fv v, fc c GROUP BY v.vec_id"""
        for b in range(PQ_M)
    )
    return f"""
    WITH {_FV_FC_SQL},
    per_vec AS ({branches})
    SELECT block,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d_micro) AS BIGINT) AS total_dist_micro,
           CAST(SUM(d_micro) // COUNT(*) AS BIGINT) AS mean_dist_micro,
           CAST(MAX(d_micro) AS BIGINT) AS max_dist_micro
    FROM per_vec GROUP BY 1
    """


@register("ml_pq_distortion", oracle=_distortion_oracle())
def pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codec quality: per-block quantization distortion — each vector's
    squared distance to its ASSIGNED sub-centroid (the min over the
    codebook), aggregated to total / mean / worst-case micro-units per
    block. This is the number a PQ deployment watches per training round:
    distortion concentrated in one block means that subspace's centroids
    are under-fit and recall will sag exactly there; ann_pq_adc_topk
    gates the RANKING the codes produce, this gates the GEOMETRY they
    lost. Distances are the module's shared expression text, so the
    doubles are bit-identical cross-engine and their micro-unit rounding
    hashes exactly.

    Shape: corpus × broadcast(16-row codebook) with all M block-minima
    taken in ONE aggregate pass (one map-side-combined shuffle carrying
    one row per vector), then an M-row rollup. No window, no pair join.
    """
    vecs = _flat(load_table(spark, sf_dir, "embeddings"), "e", "vec_id")
    cb = _codebook(spark, sf_dir)
    paired = vecs.crossJoin(F.broadcast(cb))
    min_aggs = [
        F.min(F.expr(f"({_block_dist('_e', '_c', b)})")).alias(f"d_{b}")
        for b in range(PQ_M)
    ]
    per_vec = paired.groupBy("vec_id").agg(*min_aggs)
    exploded = per_vec.select(
        F.posexplode(
            F.array(
                *[
                    F.round(F.col(f"d_{b}") * _QSCALE, 0).cast("long")
                    for b in range(PQ_M)
                ]
            )
        ).alias("block", "d_micro")
    ).select(F.col("block").cast("long").alias("block"), "d_micro")
    return exploded.groupBy("block").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("d_micro").cast("long").alias("total_dist_micro"),
        F.expr("CAST(SUM(d_micro) div COUNT(*) AS BIGINT)").alias(
            "mean_dist_micro"
        ),
        F.max("d_micro").cast("long").alias("max_dist_micro"),
    )


# -- int8 scalar quantization error audit (r11 queue) ----------------------------

_SQ_LEVELS = 255  # int8 code range 0..255
_SQ_ERRSCALE = "1e12"  # squared-error pico-units (errors ~1e-5 at this data)

#: shared expression text over columns (x, mn, mx) — both engines compile
#: the identical IEEE sequence (sub, mul, div, floor, least). A CONSTANT
#: dimension (mx = mn) is guarded explicitly (ADVICE r10 item 3): the
#: unguarded division yields NaN/Inf, which ANSI DuckDB refuses to CAST
#: to BIGINT while non-ANSI Spark silently nulls — a data-dependent
#: cross-engine split. A constant dimension quantizes losslessly to
#: code 0 with zero reconstruction error.
_SQ_CODE_EXPR = (
    f"CAST(CASE WHEN mx = mn THEN 0 ELSE"
    f" LEAST(FLOOR((x - mn) * {_SQ_LEVELS}.0 / (mx - mn)),"
    f" {_SQ_LEVELS}) END AS BIGINT)"
)
#: reconstruction error over (x, mn, mx, code), rounded to integer
#: pico-units BEFORE any cross-row sum (order-free integer aggregation);
#: same constant-dimension guard (reconstruction = mn = x exactly)
_SQ_ERR_EXPR = (
    f"CAST(CASE WHEN mx = mn THEN 0 ELSE"
    f" ROUND((x - (mn + code * (mx - mn) / {_SQ_LEVELS}.0))"
    f" * (x - (mn + code * (mx - mn) / {_SQ_LEVELS}.0))"
    f" * {_SQ_ERRSCALE}, 0) END AS BIGINT)"
)


@register(
    "ml_scalar_quantization_error",
    oracle=f"""
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(UNNEST(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), mm AS (
        SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM flat GROUP BY 1
    ), coded AS (
        SELECT vec_id, pos, x, mn, mx, {_SQ_CODE_EXPR} AS code
        FROM flat JOIN mm USING (pos)
    ), err AS (
        SELECT vec_id, pos, code, {_SQ_ERR_EXPR} AS err_pico
        FROM coded
    )
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(err_pico) AS BIGINT) AS total_err_pico,
           CAST(SUM(err_pico) // COUNT(*) AS BIGINT) AS mean_err_pico,
           CAST(MAX(err_pico) AS BIGINT) AS max_err_pico,
           CAST(COUNT(DISTINCT code) AS BIGINT) AS codes_used
    FROM err GROUP BY 1
    """,
)
def scalar_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization (per-dimension min/max affine codes, the
    SQ8 tier every vector store ships below PQ) with its reconstruction-
    error audit: per dimension, the summed/mean/worst squared error the
    4x compression costs, plus how much of the 256-level budget the
    dimension actually uses — under-used code ranges mean a skewed
    dimension wants a quantile (not affine) grid. Completes the
    compression shelf: PQ (ml_pq_distortion) gates subspace geometry,
    this gates per-dimension affine fidelity.

    Determinism: codes and errors are fixed IEEE expression text shared
    verbatim by both engines (float32 inputs widen exactly to double;
    sub/mul/div/floor are correctly rounded), and every error quantizes
    to integer pico-units BEFORE the per-dimension sums, so aggregation
    is order-free BIGINT.

    Shape: one explode to the (vec, dim) relation (map-side), a
    DIM-row min/max rollup broadcast back, then one partial-aggregable
    groupBy per dimension. No window, no pair join; everything scales as
    one scan of the flattened relation.
    """
    vecs = load_table(spark, sf_dir, "embeddings")
    flat = vecs.select(
        "vec_id", F.posexplode("embedding").alias("pos", "_x")
    ).select("vec_id", "pos", F.col("_x").cast("double").alias("x"))
    mm = flat.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    coded = flat.join(F.broadcast(mm), "pos").withColumn(
        "code", F.expr(_SQ_CODE_EXPR)
    )
    err = coded.withColumn("err_pico", F.expr(_SQ_ERR_EXPR))
    return err.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("err_pico").cast("long").alias("total_err_pico"),
        F.expr("CAST(SUM(err_pico) div COUNT(*) AS BIGINT)").alias(
            "mean_err_pico"
        ),
        F.max("err_pico").cast("long").alias("max_err_pico"),
        F.countDistinct("code").cast("long").alias("codes_used"),
    ).select(
        F.col("pos").cast("long").alias("pos"),
        "n_vecs",
        "total_err_pico",
        "mean_err_pico",
        "max_err_pico",
        "codes_used",
    )


# -- per-dimension outlier clip audit (r12 queue) --------------------------------------

_CLIP_LO_PCT, _CLIP_HI_PCT = 1, 99  # clip grid: [p1, p99]


@register(
    "ml_embedding_outlier_clip",
    oracle=f"""
    WITH flat AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS xm
        FROM embeddings
    ), hist AS (
        SELECT pos, xm, CAST(COUNT(*) AS BIGINT) AS c
        FROM flat GROUP BY 1, 2
    ), cum AS (
        SELECT pos, xm, c,
               SUM(c) OVER (PARTITION BY pos ORDER BY xm
                            ROWS UNBOUNDED PRECEDING) AS cc,
               SUM(c) OVER (PARTITION BY pos) AS n
        FROM hist
    ), bounds AS (
        SELECT pos, MAX(n) AS n,
               MIN(CASE WHEN cc >= ({_CLIP_LO_PCT} * n + 99) // 100
                        THEN xm END) AS p_lo,
               MIN(CASE WHEN cc >= ({_CLIP_HI_PCT} * n + 99) // 100
                        THEN xm END) AS p_hi
        FROM cum GROUP BY 1
    )
    SELECT h.pos, CAST(b.n AS BIGINT) AS n,
           CAST(b.p_lo AS BIGINT) AS p_lo_micro,
           CAST(b.p_hi AS BIGINT) AS p_hi_micro,
           CAST(SUM(CASE WHEN h.xm < b.p_lo OR h.xm > b.p_hi
                         THEN h.c ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(SUM(CASE WHEN h.xm > b.p_hi
                         THEN h.c * (h.xm - b.p_hi) * (h.xm - b.p_hi)
                         WHEN h.xm < b.p_lo
                         THEN h.c * (b.p_lo - h.xm) * (b.p_lo - h.xm)
                         ELSE 0 END) AS BIGINT) AS clip_energy_micro2
    FROM hist h JOIN bounds b USING (pos)
    GROUP BY 1, 2, 3, 4
    """,
)
def embedding_outlier_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension outlier-clip audit over the embedding corpus: exact
    ordinal p{_CLIP_LO_PCT}/p{_CLIP_HI_PCT} bounds, how many values a
    [p_lo, p_hi] clip would touch, and the squared mass it removes —
    the preprocessing decision in front of SQ8
    (ml_scalar_quantization_error shows affine codes wasting range on
    outliers; this measures what clipping the grid to the inlier span
    costs, the standard vector-DB quantile-clip recipe).

    Determinism: values micro-quantize BEFORE ranking, percentile ranks
    are ordinal ceilings ((k·n + 99) div 100) over the per-dimension
    VALUE HISTOGRAM, and clip energies are integer micro² — both engines
    floor identically; no float survives past the quantize.

    Shape: one explode to (pos, value) (map-only), one partial-aggregable
    histogram groupBy, windows over the (pos, distinct-value) histogram —
    never a raw-row sort — then a broadcast of the 64-row bounds relation
    back onto the histogram. The same discipline as
    agg_equi_depth_histogram at 100 TB: per-dimension state is O(distinct
    values), not O(rows)."""
    flat = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("pos", "_x"))
        .select(
            "pos",
            F.expr(
                "CAST(ROUND(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("xm"),
        )
    )
    hist = flat.groupBy("pos", "xm").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = (
        W.partitionBy("pos")
        .orderBy("xm")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("pos")
    cum = hist.select(
        "pos",
        "xm",
        "c",
        F.sum("c").over(w_cum).alias("cc"),
        F.sum("c").over(w_all).alias("n"),
    )
    bounds = cum.groupBy("pos").agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(
                F.col("cc")
                >= F.expr(f"({_CLIP_LO_PCT} * n + 99) div 100"),
                F.col("xm"),
            )
        )
        .cast("long")
        .alias("p_lo"),
        F.min(
            F.when(
                F.col("cc")
                >= F.expr(f"({_CLIP_HI_PCT} * n + 99) div 100"),
                F.col("xm"),
            )
        )
        .cast("long")
        .alias("p_hi"),
    )
    return (
        hist.join(F.broadcast(bounds), "pos")
        .groupBy("pos", "n", "p_lo", "p_hi")
        .agg(
            F.sum(
                F.when(
                    (F.col("xm") < F.col("p_lo"))
                    | (F.col("xm") > F.col("p_hi")),
                    F.col("c"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_clipped"),
            F.sum(
                F.when(
                    F.col("xm") > F.col("p_hi"),
                    F.col("c")
                    * (F.col("xm") - F.col("p_hi"))
                    * (F.col("xm") - F.col("p_hi")),
                )
                .when(
                    F.col("xm") < F.col("p_lo"),
                    F.col("c")
                    * (F.col("p_lo") - F.col("xm"))
                    * (F.col("p_lo") - F.col("xm")),
                )
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("clip_energy_micro2"),
        )
        .select(
            F.col("pos").cast("long").alias("pos"),
            "n",
            F.col("p_lo").alias("p_lo_micro"),
            F.col("p_hi").alias("p_hi_micro"),
            "n_clipped",
            "clip_energy_micro2",
        )
    )

from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
