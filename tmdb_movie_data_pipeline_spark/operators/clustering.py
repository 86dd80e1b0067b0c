"""Iterative k-means (Lloyd) over the embeddings table (SURVEY.md §2.9).

Demonstrates the iterative-ML shape on DataFrames — the loop that trains the
IVF coarse codebook (operators/similarity.py) for real instead of borrowing
corpus vectors. Each Lloyd round is:

* **assign** — corpus × broadcast(K centroids), squared-L2 over FLAT double
  columns (whole-stage codegen; the GetArrayItem lesson), nearest centroid
  via partial-aggregable ``min_by`` — one map-side-combined shuffle of one
  row per vector, never a corpus-wide window;
* **update** — per-cluster mean as QUANTIZED-INTEGER sums (micro-units):
  integer addition is order-free, so the new centroids are bit-identical on
  any partitioning/engine, then one IEEE division back to double. This is
  what makes a 2-round fixpoint hash-comparable with DuckDB at all — raw
  double sums would diverge by summation order.

Rounds are driver-sequenced with ``localCheckpoint`` between them (tiny K×D
tables; keeps the plan flat — same discipline as operators/graph.py). At
100 TB the per-round cost is one broadcast-join scan + one |corpus|-row
shuffle, the canonical distributed-k-means shape.

The oracle replays the identical rounds as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from ..registry import register
from .similarity import DIM, DUP_QUANT_SCALE, _flat, _flat_duck
from .text import _TOKENS_SQL, tokens_col

__all__ = ["kmeans_lloyd", "kmeans_centroid_sums"]

K_CLUSTERS = 8
KMEANS_ITERS = 2
_INIT_BASE = 100  # deterministic init: vec_id in [100, 108) seed the codebook
_QSCALE = DUP_QUANT_SCALE  # micro-units for order-free integer centroid sums


def _dist_sql(e: str, c: str) -> str:
    """Squared L2, i ascending, left-assoc — identical text on both engines
    modulo column naming, so the compared doubles are bit-identical."""
    return " + ".join(f"(({e}{i} - {c}{i}) * ({e}{i} - {c}{i}))" for i in range(DIM))


#: the update step's new centroid coordinates from the integer sums — one
#: IEEE division each, the same text on both engines
_CENTROID_COLS = [
    f"CAST(s_{i} AS DOUBLE) / CAST(n * {_QSCALE} AS DOUBLE) AS _c{i}" for i in range(DIM)
]


def kmeans_lloyd(spark: SparkSession, sf_dir: str, iters: int = KMEANS_ITERS) -> DataFrame:
    """Run ``iters`` Lloyd rounds; returns (cid, n, s_0..s_{D-1}) — cluster
    sizes and quantized-integer coordinate sums of the LAST round."""
    if iters < 1:
        raise ValueError(f"kmeans_lloyd needs iters >= 1, got {iters}")
    vecs = _flat(load_table(spark, sf_dir, "embeddings"), "e", "vec_id").selectExpr(
        "vec_id",
        *(f"_e{i}" for i in range(DIM)),
        *(f"CAST(ROUND(_e{i} * {_QSCALE}) AS BIGINT) AS _q{i}" for i in range(DIM)),
    ).localCheckpoint(eager=True)
    cent = (
        _flat(
            load_table(spark, sf_dir, "embeddings").filter(
                (F.col("vec_id") >= _INIT_BASE) & (F.col("vec_id") < _INIT_BASE + K_CLUSTERS)
            ),
            "c",
            f"vec_id - {_INIT_BASE} AS cid",
        )
        .drop("nrm_c")
        .localCheckpoint(eager=True)
    )
    sums = None
    for _ in range(iters):
        dist = F.expr(_dist_sql("_e", "_c"))
        assign = (
            vecs.crossJoin(F.broadcast(cent))
            .withColumn("_dist", dist)
            .groupBy("vec_id")
            .agg(
                F.min_by(
                    F.col("cid"),
                    F.struct(F.col("_dist").alias("d"), F.col("cid").alias("c")),
                ).alias("cid")
            )
        )
        sums = (
            assign.join(vecs, "vec_id")
            .groupBy("cid")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(f"_q{i}").alias(f"s_{i}") for i in range(DIM)],
            )
            .localCheckpoint(eager=True)
        )
        cent = sums.selectExpr("cid", *_CENTROID_COLS).localCheckpoint(eager=True)
    return sums


def _oracle_sql() -> str:
    dist = _dist_sql("v._e", "c._c")
    sum_cols = ", ".join(f"SUM(v._q{i}) AS s_{i}" for i in range(DIM))
    cd_cols = ", ".join(_CENTROID_COLS)
    rounds = []
    prev = "c0"
    for it in range(1, KMEANS_ITERS + 1):
        rounds.append(
            f"""a{it} AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY v.vec_id
                                      ORDER BY {dist} ASC, c.cid ASC) AS rn
            FROM v, {prev} c
        ) WHERE rn = 1
    ),
    s{it} AS (
        SELECT a{it}.cid, COUNT(*) AS n, {sum_cols}
        FROM a{it} JOIN v USING (vec_id) GROUP BY a{it}.cid
    ),
    c{it} AS (
        SELECT cid, n, {cd_cols} FROM s{it}
    )"""
        )
        prev = f"c{it}"
    sum_case = " ".join(f"WHEN {i} THEN s_{i}" for i in range(DIM))
    return f"""
    WITH v AS (
        SELECT vec_id, {_flat_duck("_e")}, {_flat_duck("_q", quantized=True)} FROM embeddings
    ),
    c0 AS (
        SELECT vec_id - {_INIT_BASE} AS cid, {_flat_duck("_c")} FROM embeddings
        WHERE vec_id >= {_INIT_BASE} AND vec_id < {_INIT_BASE + K_CLUSTERS}
    ),
    {", ".join(rounds)}
    SELECT CAST(s.cid AS BIGINT) AS cid, CAST(s.n AS BIGINT) AS n,
           CAST(d.dim AS BIGINT) AS dim,
           CAST(CASE d.dim {sum_case} END AS BIGINT) AS sum_q
    FROM s{KMEANS_ITERS} s, (SELECT UNNEST(range(0, {DIM})) AS dim) d
    """


@register("kmeans_lloyd_centroids", oracle=_oracle_sql())
def kmeans_centroid_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final-round k-means state, flattened to one row per (cluster, dim):
    cluster size and the order-free quantized coordinate sum — all-integer
    output, so the cross-engine hash check is exact."""
    sums = kmeans_lloyd(spark, sf_dir)
    return sums.select(
        "cid",
        F.col("n").cast("long").alias("n"),
        F.posexplode(F.array(*[F.col(f"s_{i}") for i in range(DIM)])).alias(
            "dim", "sum_q"
        ),
    ).select("cid", "n", F.col("dim").cast("long").alias("dim"), "sum_q")


# -- grouped closed-form OLS ---------------------------------------------------

#: hours are measured from this instant so the integer moment sums stay far
#: inside int64 (raw epoch-hours squared × |group| would approach overflow)
_OLS_X0 = "TIMESTAMP '1995-01-01 00:00:00'"


@register(
    "ml_grouped_ols",
    oracle=f"""
    WITH pts AS (
        SELECT event_type,
               (epoch_us(ts) // 3600000000)
                 - (epoch_us({_OLS_X0}) // 3600000000) AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT)     AS sx,
               CAST(SUM(y) AS BIGINT)     AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts GROUP BY event_type
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents_per_hour
    FROM m
    """,
)
def ml_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group closed-form OLS (value-vs-time trend per event type) — the
    "many small models" pattern, fitted WITHOUT Python: the five moment
    sums (n, Σx, Σy, Σx², Σxy) are partial-aggregable integers, so each
    group's slope costs one map-side-combined shuffle row regardless of
    group size. A pandas per-group fit would move every row to Python;
    this moves five numbers. Integer moments + one IEEE expression make
    the slope bit-equal cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    x = F.expr(
        f"(unix_micros(ts) div 3600000000) - (unix_micros({_OLS_X0}) div 3600000000)"
    )
    y = F.expr("CAST(ROUND(value * 100) AS BIGINT)")
    pts = ev.select("event_type", x.alias("x"), y.alias("y"))
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    slope = (
        m["n"].cast("double") * m["sxy"].cast("double")
        - m["sx"].cast("double") * m["sy"].cast("double")
    ) / (
        m["n"].cast("double") * m["sxx"].cast("double")
        - m["sx"].cast("double") * m["sx"].cast("double")
    )
    return m.select("event_type", "n", slope.alias("slope_cents_per_hour"))


@register(
    "stats_corr_matrix",
    oracle="""
    WITH q AS (
        SELECT CAST(l_quantity AS BIGINT)                        AS x,
               CAST(ROUND(l_extendedprice) AS BIGINT)            AS y,
               CAST(ROUND(l_discount * 10000) AS BIGINT)         AS z
        FROM lineitem
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(z) AS BIGINT) AS sz,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(z * z) AS BIGINT) AS szz,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * z) AS BIGINT) AS sxz,
               CAST(SUM(y * z) AS BIGINT) AS syz
        FROM q
    )
    SELECT 'qty_price' AS pair,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
    FROM m
    UNION ALL
    SELECT 'qty_discount',
           (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
    FROM m
    UNION ALL
    SELECT 'price_discount',
           (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
             / (SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
                * SQRT(CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                       - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)))
    FROM m
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of three lineitem measures from ONE
    aggregate pass: 10 integer moment sums (all partial-aggregable) feed
    every pairwise coefficient — the profile-stage statistic computed the
    way a distributed engine should (never one `corr()` job per pair).

    Exactness: moments are quantized ints (quantity is integral; price
    rounded to dollars, discount to basis points — squares × row count stay
    far inside int64 at any plausible SF; ANSI mode would throw loudly, not
    wrap, if that envelope were ever exceeded); the final expression is
    mul/sub/div/sqrt — all IEEE correctly-rounded, so the doubles are
    bit-equal cross-engine with the identical left-assoc text."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.expr("CAST(ROUND(l_extendedprice) AS BIGINT)").alias("y"),
        F.expr("CAST(ROUND(l_discount * 10000) AS BIGINT)").alias("z"),
    )
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("z") * F.col("z")).cast("long").alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("z")).cast("long").alias("sxz"),
        F.sum(F.col("y") * F.col("z")).cast("long").alias("syz"),
    )

    def corr(sab: str, a: str, saa: str, b: str, sbb: str):
        n, A, B = F.col("n").cast("double"), F.col(a).cast("double"), F.col(b).cast("double")
        AB, AA, BB = (
            F.col(sab).cast("double"),
            F.col(saa).cast("double"),
            F.col(sbb).cast("double"),
        )
        return (n * AB - A * B) / (
            F.sqrt(n * AA - A * A) * F.sqrt(n * BB - B * B)
        )

    rows = [
        ("qty_price", corr("sxy", "sx", "sxx", "sy", "syy")),
        ("qty_discount", corr("sxz", "sx", "sxx", "sz", "szz")),
        ("price_discount", corr("syz", "sy", "syy", "sz", "szz")),
    ]
    out = None
    for name, expr in rows:
        one = m.select(F.lit(name).alias("pair"), expr.alias("corr"))
        out = one if out is None else out.unionByName(one)
    return out


@register(
    "ml_label_centroids",
    oracle="""
    WITH q AS (
        SELECT label,
               CAST(UNNEST(range(0, 64)) AS BIGINT) AS dim,
               UNNEST([CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                       FOR x IN embedding]) AS qv
        FROM embeddings
    )
    SELECT label, dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qv) AS BIGINT)  AS sum_micro,
           CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid_micro
    FROM q GROUP BY 1, 2
    """,
)
def ml_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class embedding centroids — the vector AGGREGATION surface (class
    prototypes, nearest-class-mean classifiers, drift monitoring) that the
    ANN queries' vector SEARCH surface doesn't cover.

    Scale shape: posexplode to (label, dim, component) and let partial
    aggregation do the work — the map-side combine collapses each
    partition's rows to |labels|×64 sums before the shuffle, so the
    exchange carries O(labels × dim) regardless of corpus size. This beats
    any elementwise array-fold in a single reducer, and it's the shape a
    1000-executor mean-pooling job wants. Components are quantized to int
    micro-units per row (exact cross-engine sums); the centroid itself is
    one IEEE division of those exact ints."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1_000_000, 0)
        .cast("long")
        .alias("qv"),
    )
    return ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").cast("long").alias("sum_micro"),
        (F.sum("qv").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "centroid_micro"
        ),
    )


# -- distributed Gram matrix (the PCA / whitening building block) -------------

_GRAM_Q = 1024  # 2^10: |q| <= ~540, so sum of q_i*q_j stays in BIGINT for
# ~3e12 rows — and gram_q / 2^20 is EXACT IEEE scaling back to double
_GRAM_DIM = 64


#: shared oracle body: also the input CTE of the PCA power-iteration oracle
_GRAM_ORACLE = f"""
    WITH q AS (
        SELECT [CAST(ROUND(CAST(x AS DOUBLE) * {_GRAM_Q}) AS BIGINT)
                for x in embedding] AS qv
        FROM embeddings
    ),
    cells AS (
        SELECT ii.i AS i, jj.j AS j, qv[ii.i + 1] * qv[jj.j + 1] AS p
        FROM q,
             UNNEST(range(0, {_GRAM_DIM})) AS ii(i),
             UNNEST(range(0, {_GRAM_DIM})) AS jj(j)
        WHERE jj.j >= ii.i
    )
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(SUM(p) AS BIGINT) AS gram_q,
           CAST(SUM(p) AS DOUBLE) / {_GRAM_Q * _GRAM_Q} AS gram
    FROM cells GROUP BY 1, 2
    """


@register("ml_embedding_gram", oracle=_GRAM_ORACLE)
def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed GRAM MATRIX X^T X over the embedding corpus — the
    one-pass building block behind PCA, whitening, ridge regression and
    linear probes at scale: 64x64 accumulators are all that ever cross
    the exchange, so the plan is identical whether X has 500 rows or
    10^12. Upper triangle only (the matrix is symmetric).

    Determinism: components quantize to q = round(v * 2^10) BIGINT once
    per value; every accumulation is integer (order-free, engine-exact),
    and the double `gram` column is gram_q / 2^20 — exact IEEE scaling,
    no rounding step anywhere after quantization. Overflow headroom:
    |q| <= ~540 here, so cell sums stay within BIGINT up to ~3e12 rows;
    production would shard the sum by partition id first (the same
    partial-merge the plan already performs).

    Scale shape: a map-side explode emits the {_GRAM_DIM}({_GRAM_DIM}+1)/2
    products per row and partial aggregation folds them BEFORE the
    shuffle — the exchange carries 2,080 rows per task regardless of
    corpus size. (A numpy per-partition outer-product via mapInPandas is
    the constant-factor upgrade at 100 TB; the relational form keeps the
    oracle bit-exact and the plan shape is the same.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(ROUND(CAST(x AS DOUBLE) * {_GRAM_Q}) AS BIGINT))"
        ).alias("qv")
    )
    cells = (
        q.select("qv", F.explode(F.sequence(F.lit(0), F.lit(_GRAM_DIM - 1))).alias("i"))
        .select(
            "qv",
            "i",
            F.explode(
                F.sequence(F.col("i"), F.lit(_GRAM_DIM - 1))
            ).alias("j"),
        )
        .select(
            "i",
            "j",
            (
                F.element_at("qv", F.col("i").cast("int") + 1)
                * F.element_at("qv", F.col("j").cast("int") + 1)
            ).alias("p"),
        )
    )
    return cells.groupBy(
        F.col("i").cast("int").alias("i"), F.col("j").cast("int").alias("j")
    ).agg(
        F.sum("p").alias("gram_q"),
        (F.sum("p").cast("double") / (_GRAM_Q * _GRAM_Q)).alias("gram"),
    )


# -- top principal direction via power iteration on the Gram matrix -----------

_PCA_ITERS = 8  # fixed round count: deterministic output for the hash gate
_PCA_V0 = 1024  # starting component, 2^10
_PCA_TARGET_BITS = 10  # renormalize so max|v| has this many bits


def _pca_oracle() -> str:
    """Unrolled power-iteration oracle: like PageRank, the per-round
    aggregation can't live in a recursive CTE leg, so the fixed rounds are
    chained CTEs over the (tiny) full Gram relation; the renormalization
    shift is derived EXACTLY via a powers-of-two relation (no log2 at the
    boundary) and applied with arithmetic `>>`, which floors identically in
    both engines (verified on negatives)."""
    parts = [
        f"""
    WITH gram AS MATERIALIZED ({_GRAM_ORACLE}),
    g AS MATERIALIZED (
        SELECT i, j, gram_q AS gq FROM gram
        UNION ALL
        SELECT j, i, gram_q FROM gram WHERE j > i
    ),
    pow2 AS (
        SELECT CAST(t.p AS INTEGER) AS p,
               1::BIGINT << CAST(t.p AS INTEGER) AS w
        FROM UNNEST(range(0, 63)) AS t(p)
    ),
    v0 AS (
        SELECT CAST(t.j AS INTEGER) AS j, CAST({_PCA_V0} AS BIGINT) AS vq
        FROM UNNEST(range(0, {_GRAM_DIM})) AS t(j)
    )"""
    ]
    for k in range(_PCA_ITERS):
        parts.append(
            f""",
    u{k + 1} AS MATERIALIZED (
        SELECT g.i AS j, CAST(SUM(g.gq * v.vq) AS BIGINT) AS u
        FROM g JOIN v{k} v ON v.j = g.j GROUP BY g.i
    ),
    s{k + 1} AS MATERIALIZED (
        SELECT GREATEST(
            (SELECT MIN(p) FROM pow2
             WHERE w > (SELECT MAX(ABS(u)) FROM u{k + 1}))
            - {_PCA_TARGET_BITS}, 0) AS s
    ),
    v{k + 1} AS MATERIALIZED (
        SELECT j, u >> (SELECT s FROM s{k + 1}) AS vq FROM u{k + 1}
    )"""
        )
    parts.append(f"""
    SELECT j AS i, vq AS v_q FROM v{_PCA_ITERS}""")
    return "".join(parts)


@register("ml_pca_power_iteration", oracle=_pca_oracle())
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal DIRECTION of the embedding corpus by power iteration
    on the Gram matrix — the curation question behind "is this corpus
    dominated by one axis of variation" and the first step of whitening.

    Scale split: the data-sized work is ml_embedding_gram's ONE distributed
    pass (the exchange carries 2,080 accumulator rows whatever the corpus
    size); the {_PCA_ITERS} power-iteration rounds then run on the fixed
    {_GRAM_DIM}x{_GRAM_DIM} relation — per-round cost is independent of
    corpus size, so the plan is identical at 100 TB. (Uncentered PCA, i.e.
    the top singular direction of X itself; centering would subtract the
    rank-one mean outer product from gram_q first — same integer pipeline.)

    Determinism (the interesting part): each round is v <- (G v) >> s in
    EXACT integer arithmetic, where the renormalization shift s =
    max(bitlen(max|Gv|) - {_PCA_TARGET_BITS}, 0) is derived from an exact
    bit-length, not a float log, and `>>` is the arithmetic shift both
    engines floor identically (verified on negatives — unlike integer
    division, where Spark truncates and DuckDB floors). Fixed-point
    components keep ~{_PCA_TARGET_BITS} bits of precision per round, enough
    that {_PCA_ITERS} rounds pin the dominant direction; the per-round
    1-row max|u| collect is the same bounded convergence-probe pattern as
    the iterative graph kernels. Overflow: |u| <= dim * max|gram_q| *
    2^{_PCA_TARGET_BITS} ~ 1e14 at sf0.1 — 4 orders inside BIGINT."""
    gram = embedding_gram(spark, sf_dir).select(
        "i", "j", F.col("gram_q").alias("gq")
    )
    gfull = gram.union(
        gram.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), F.col("gq")
        )
    ).localCheckpoint(eager=True)
    v = spark.range(_GRAM_DIM).select(
        F.col("id").cast("int").alias("j"),
        F.lit(_PCA_V0).cast("long").alias("vq"),
    )
    for _ in range(_PCA_ITERS):
        u = (
            gfull.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("gq") * F.col("vq")).alias("u"))
            .withColumnRenamed("i", "j")
            .localCheckpoint(eager=True)
        )
        m = u.agg(F.max(F.abs(F.col("u")))).collect()[0][0]
        s = max(int(m).bit_length() - _PCA_TARGET_BITS, 0)
        v = u.select("j", F.shiftright("u", s).alias("vq"))
    return v.select(F.col("j").alias("i"), F.col("vq").cast("long").alias("v_q"))


# -- decision stump: best Gini split over a bucketed feature ------------------

_GINI_BUCKET = 100  # n_chars bucket width for candidate thresholds


@register(
    "ml_best_split_gini",
    oracle=f"""
    WITH hist AS (
        SELECT n_chars // {_GINI_BUCKET} AS b, lang,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ), grid AS (
        SELECT b, lang, COALESCE(cnt, 0) AS cnt
        FROM (SELECT DISTINCT b FROM hist)
        CROSS JOIN (SELECT DISTINCT lang FROM hist)
        LEFT JOIN hist USING (b, lang)
    ), cum AS (
        SELECT b, lang,
               CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY b
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cl,
               CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS tl
        FROM grid
    ), th AS (
        SELECT b,
               CAST(SUM(cl) AS BIGINT)                     AS nl,
               CAST(SUM(cl * cl) AS BIGINT)                AS sl,
               CAST(SUM(tl - cl) AS BIGINT)                AS nr,
               CAST(SUM((tl - cl) * (tl - cl)) AS BIGINT)  AS sr
        FROM cum GROUP BY b
    )
    SELECT b AS split_bucket, nl AS n_left, nr AS n_right,
           (((CAST(nl AS DOUBLE) - CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE))
             + CAST(nr AS DOUBLE)) - CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE))
               AS impurity
    FROM th
    WHERE nr > 0
    ORDER BY impurity, split_bucket
    LIMIT 1
    """,
)
def best_split_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision stump: the single threshold on bucketed n_chars that
    minimizes weighted Gini impurity of the lang label — the inner loop of
    distributed tree learning (each tree node is exactly this query over
    its partition of rows).

    Distributed shape: the raw scan collapses to a (bucket, lang) count
    histogram (partial agg); thresholds are evaluated by per-lang
    cumulative sums over that TINY grid (windows over |buckets|·|langs|
    rows — the data never re-shuffles), and weighted impurity
    nl − Σcl²/nl + nr − Σcr²/nr is a fixed IEEE expression tree over exact
    int64 inputs, so both engines produce bit-identical doubles and the
    argmin row is deterministic (tie-break on the bucket). Exactness of the
    squared-count sums holds to 2^53 per class (~9e15 docs) — beyond any
    corpus; the grid cross-join fills absent (bucket, lang) cells with 0 so
    cumulative counts exist at every candidate threshold.
    """
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy(
        F.expr(f"n_chars div {_GINI_BUCKET}").alias("b"), "lang"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    buckets = hist.select("b").distinct()
    langs = hist.select("lang").distinct()
    grid = (
        buckets.crossJoin(langs)
        .join(hist, ["b", "lang"], "left")
        .fillna({"cnt": 0})
    )
    w_cum = (
        W.partitionBy("lang").orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    )
    cum = grid.select(
        "b",
        "lang",
        F.sum("cnt").over(w_cum).alias("cl"),
        F.sum("cnt").over(W.partitionBy("lang")).alias("tl"),
    )
    th = cum.groupBy("b").agg(
        F.sum("cl").alias("nl"),
        F.sum(F.col("cl") * F.col("cl")).alias("sl"),
        F.sum(F.col("tl") - F.col("cl")).alias("nr"),
        F.sum((F.col("tl") - F.col("cl")) * (F.col("tl") - F.col("cl"))).alias("sr"),
    )
    nl_d = F.col("nl").cast("double")
    nr_d = F.col("nr").cast("double")
    impurity = (
        (nl_d - F.col("sl").cast("double") / nl_d) + nr_d
    ) - F.col("sr").cast("double") / nr_d
    return (
        th.filter(F.col("nr") > 0)
        .select(
            F.col("b").alias("split_bucket"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            impurity.alias("impurity"),
        )
        .orderBy("impurity", "split_bucket")
        .limit(1)
    )


# -- calibration bins — deferred r7 queue -------------------------------------

_CAL_BINS = 10
_CAL_POS_LANG = "en"


def _calibration_binned(docs: DataFrame) -> DataFrame:
    """(bin, pos) rows — the shared equal-width score histogram input for
    ml_calibration_bins and ml_pr_curve: ONE definition of the min/max
    broadcast, the binning expression and the positive-class predicate, so
    the two operators can never drift apart."""
    mm = docs.agg(F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx"))
    return docs.crossJoin(F.broadcast(mm)).select(
        F.expr(f"((n_chars - mn) * {_CAL_BINS}) div (mx - mn + 1)").alias("bin"),
        F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0).alias("pos"),
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos
        FROM documents CROSS JOIN mm
    )
    SELECT CAST(bin AS BIGINT)      AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST((1000000 * SUM(pos)) // COUNT(*) AS BIGINT) AS rate_ppm
    FROM binned GROUP BY 1
    """,
)
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration/lift table: bucket a score feature (n_chars) into
    {_CAL_BINS} equal-width bins and report the positive-outcome rate
    (lang == '{_CAL_POS_LANG}') per bin as exact integer ppm — the
    reliability-curve aggregate every scored model gets evaluated with
    (paired with ml_confusion_matrix for the thresholded view).

    Shape: global min/max is a 1-row broadcast; binning is a map-only
    integer expression ((x−mn)·B div (mx−mn+1), guaranteed in [0, B));
    the per-bin rollup is one partial-aggregable groupBy over B groups.
    Nothing scales with anything but the scan.
    """
    binned = _calibration_binned(load_table(spark, sf_dir, "documents"))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos"))
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("(1000000 * n_pos) div n").alias("rate_ppm"),
        )
    )


# -- precision-recall curve — deferred r7 queue -------------------------------


@register(
    "ml_pr_curve",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos
        FROM documents CROSS JOIN mm
    ), bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM binned GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(n_pos) AS BIGINT) AS all_pos FROM bins
    ), cums AS (
        SELECT bin,
               CAST(SUM(n) OVER w AS BIGINT)     AS pred_pos,
               CAST(SUM(n_pos) OVER w AS BIGINT) AS tp
        FROM bins
        WINDOW w AS (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING)
    )
    SELECT c.bin AS threshold_bin, c.tp,
           c.pred_pos - c.tp        AS fp,
           t.all_pos - c.tp         AS fn,
           (1000000 * c.tp) // c.pred_pos AS precision_ppm,
           (1000000 * c.tp) // t.all_pos  AS recall_ppm
    FROM cums c CROSS JOIN tot t
    """
)
def pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision–recall curve of the score (n_chars) against the binary
    outcome (lang == '{_CAL_POS_LANG}'): one point per "predict positive
    when score lands in bin >= b" threshold, all counts and ratios exact
    integers/ppm — the last member of the eval family (confusion matrix =
    one threshold, calibration = binned rates, AUC = threshold-free
    ranking, PR curve = every threshold).

    Shape: the data collapses to the SAME {_CAL_BINS}-bin histogram as
    ml_calibration_bins; thresholds are descending-cumulative sums over
    that tiny frame (the only window in the plan runs over {_CAL_BINS}
    rows). pred_pos >= 1 at every emitted threshold (the threshold bin
    itself is nonempty by construction — empty bins emit no row), so no
    division guard is needed.
    """
    binned = _calibration_binned(load_table(spark, sf_dir, "documents"))
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("n_pos")
    )
    tot = bins.agg(F.sum("n_pos").cast("long").alias("all_pos"))
    w = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, 0)
    cums = bins.select(
        "bin",
        F.sum("n").over(w).cast("long").alias("pred_pos"),
        F.sum("n_pos").over(w).cast("long").alias("tp"),
    )
    return cums.crossJoin(F.broadcast(tot)).select(
        F.col("bin").alias("threshold_bin"),
        "tp",
        (F.col("pred_pos") - F.col("tp")).alias("fp"),
        (F.col("all_pos") - F.col("tp")).alias("fn"),
        F.expr("(1000000 * tp) div pred_pos").alias("precision_ppm"),
        F.expr("(1000000 * tp) div all_pos").alias("recall_ppm"),
    )


# -- isotonic (PAV) calibration over the shared bins --------------------------


@register(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos
        FROM documents CROSS JOIN mm
    ), bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM binned GROUP BY 1
    ), cum AS (
        SELECT bin, n, n_pos,
               SUM(n)     OVER (ORDER BY bin) AS cn,
               SUM(n_pos) OVER (ORDER BY bin) AS cp
        FROM bins
    ), spans AS (
        -- rate of every contiguous bin span [i..j] from the cumulative
        -- sums, rounded to ppm BEFORE the minimax (both engines integer-div
        -- the same integers, so the PAV runs on identical inputs)
        SELECT i.bin AS i, j.bin AS j,
               (1000000 * (j.cp - i.cp + i.n_pos))
                   // (j.cn - i.cn + i.n) AS rate_ppm
        FROM cum i JOIN cum j ON i.bin <= j.bin
    ), suffix_min AS (
        SELECT i, CAST(MIN(rate_ppm) AS BIGINT) AS min_rate FROM spans
        GROUP BY i
    )
    SELECT b.bin, b.n, b.n_pos,
           CAST((1000000 * b.n_pos) // b.n AS BIGINT) AS raw_rate_ppm,
           CAST(MAX(s.min_rate) AS BIGINT) AS fitted_rate_ppm
    FROM bins b JOIN suffix_min s ON s.i <= b.bin
    GROUP BY b.bin, b.n, b.n_pos
    """,
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (pool-adjacent-violators) of the binned
    reliability curve: the monotone non-decreasing fit of positive rate on
    score bin, via the minimax identity fitted(k) = max_{{i<=k}} min_{{j>=i}}
    rate(i..j) — the calibration-map counterpart of ml_calibration_bins
    (raw rates) that production scorers actually apply to model outputs
    (Zadrozny & Elkan '02; Spark MLlib ships the same fit as
    IsotonicRegression, re-expressed here as set-oriented DataFrame ops so
    the oracle can pin it).

    Every span rate is an exact integer ppm ((P_j−P_{{i−1}})·1e6 div
    (N_j−N_{{i−1}}) over cumulative counts), rounded BEFORE the minimax, so
    both engines run PAV on identical integers — no float ever exists.

    Shape: the corpus collapses to the SAME {_CAL_BINS}-bin histogram as
    ml_calibration_bins (one partial-aggregable groupBy); everything after
    is O(B²)={_CAL_BINS}² span enumeration over a broadcast-sized frame —
    the data-scale cost is one scan, the fit itself is constant work. At
    100 TB the histogram is still {_CAL_BINS} rows; only the scan grows.
    """
    bins = (
        _calibration_binned(load_table(spark, sf_dir, "documents"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        # feeds the span self-join twice plus the final join: tiny frame,
        # evaluate once
        .localCheckpoint(eager=False)
    )
    wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = bins.select(
        "bin",
        "n",
        "n_pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("n_pos").over(wc).alias("cp"),
    )
    i, j = cum.alias("i"), cum.alias("j")
    spans = i.join(j, F.col("i.bin") <= F.col("j.bin")).select(
        F.col("i.bin").alias("i"),
        F.expr(
            "(1000000 * (j.cp - i.cp + i.n_pos)) div (j.cn - i.cn + i.n)"
        ).alias("rate_ppm"),
    )
    suffix_min = spans.groupBy("i").agg(
        F.min("rate_ppm").cast("long").alias("min_rate")
    )
    return (
        bins.join(F.broadcast(suffix_min), F.col("i") <= F.col("bin"))
        .groupBy("bin", "n", "n_pos")
        .agg(F.max("min_rate").cast("long").alias("fitted_rate_ppm"))
        .select(
            "bin",
            "n",
            "n_pos",
            F.expr("(1000000 * n_pos) div n").alias("raw_rate_ppm"),
            "fitted_rate_ppm",
        )
    )


# -- average precision (PR-curve summary) — r11 queue ---------------------------


@register(
    "ml_average_precision",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos
        FROM documents CROSS JOIN mm
    ), bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM binned GROUP BY 1
    ), cums AS (
        SELECT bin, n_pos,
               SUM(n)     OVER (ORDER BY bin DESC) AS pred_pos,
               SUM(n_pos) OVER (ORDER BY bin DESC) AS tp
        FROM bins
    )
    SELECT CAST(SUM(n_pos) AS BIGINT) AS all_pos,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(((1000000 * tp) // pred_pos) * n_pos) // SUM(n_pos)
                AS BIGINT) AS ap_ppm
    FROM cums
    """,
)
def average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision — the scalar PR-curve summary (the area ranking
    teams actually compare): AP = Σ_k precision(k)·Δrecall(k) over
    descending score thresholds, completing the eval family next to
    ml_pr_curve (the full curve) and ml_auc_roc (the ROC area). Computed
    at bin granularity over the SAME {_CAL_BINS}-bin histogram as the
    rest of the calibration shelf: Δrecall at threshold k is the bin's
    positive count over all positives, so
    AP_ppm = Σ(prec_ppm_k · n_pos_k) div all_pos with prec_ppm_k itself an
    integer division — a pinned two-stage integer rounding identical on
    both engines, no float anywhere.

    Shape: one scan collapses to the {_CAL_BINS}-row histogram; the
    descending cumulative is a window over that tiny frame; output is one
    row. Nothing scales with anything but the scan.
    """
    binned = _calibration_binned(load_table(spark, sf_dir, "documents"))
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    wd = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, 0)
    cums = bins.select(
        "n_pos",
        F.sum("n").over(wd).cast("long").alias("pred_pos"),
        F.sum("n_pos").over(wd).cast("long").alias("tp"),
    )
    return cums.agg(
        F.sum("n_pos").cast("long").alias("all_pos"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.expr(
            "CAST(SUM(((1000000 * tp) div pred_pos) * n_pos) div SUM(n_pos)"
            " AS BIGINT)"
        ).alias("ap_ppm"),
    )


# -- Qini curve (cumulative uplift by targeting decile) — r11 queue --------------

_QINI_DECILES = 10


@register(
    "ml_qini_curve",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treated,
               CAST(COUNT(*) AS BIGINT) AS score,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY 1
    ), d AS (
        SELECT treated, converted,
               CAST(NTILE({_QINI_DECILES})
                        OVER (ORDER BY score DESC, user_id) AS BIGINT)
                   AS decile
        FROM u
    ), cum AS (
        SELECT decile,
               CAST(SUM(SUM(treated)) OVER w AS BIGINT) AS n_t,
               CAST(SUM(SUM(1 - treated)) OVER w AS BIGINT) AS n_c,
               CAST(SUM(SUM(treated * converted)) OVER w AS BIGINT) AS conv_t,
               CAST(SUM(SUM((1 - treated) * converted)) OVER w AS BIGINT)
                   AS conv_c
        FROM d GROUP BY decile
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
    )
    SELECT decile, n_t, n_c, conv_t, conv_c,
           CAST(CASE WHEN conv_t * n_c >= conv_c * n_t
                     THEN (1000 * (conv_t * n_c - conv_c * n_t)) // n_c
                     ELSE -((1000 * (conv_c * n_t - conv_t * n_c)) // n_c)
                END AS BIGINT) AS qini_milli
    FROM cum
    """,
)
def qini_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve — the uplift-model evaluation standard: rank users by a
    targeting score (activity volume as the deterministic proxy), walk
    the ranking in deciles, and report the CUMULATIVE incremental
    conversions the treatment (even-id cohort) buys over the scaled
    control at each depth: Qini(k) = conv_t(k) − conv_c(k)·n_t(k)/n_c(k).
    The curve's shape is the model's worth (steep head = the score finds
    the persuadables); stats_uplift_stratified gives one number, this
    gives the targeting-depth tradeoff. Emitted as exact milli-units via
    the cross-multiplied rational (conv_t·n_c − conv_c·n_t)/n_c with the
    division sign-split, so both engines agree on either side of zero.

    Shape: one per-user conditional rollup (partial-aggregable), an
    NTILE over the USER relation (the one global sort, user-sized — at
    petabyte user counts the percentile battery's histogram-offset rank
    replaces it), then cumulative windows over 10 rows."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)
        ).alias("treated"),
        F.count(F.lit(1)).cast("long").alias("score"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    d = u.select(
        "treated",
        "converted",
        F.ntile(_QINI_DECILES)
        .over(W.orderBy(F.desc("score"), F.asc("user_id")))
        .cast("long")
        .alias("decile"),
    )
    per = d.groupBy("decile").agg(
        F.sum("treated").alias("t"),
        F.sum(1 - F.col("treated")).alias("c"),
        F.sum(F.col("treated") * F.col("converted")).alias("ct"),
        F.sum((1 - F.col("treated")) * F.col("converted")).alias("cc"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        F.sum("t").over(wc).cast("long").alias("n_t"),
        F.sum("c").over(wc).cast("long").alias("n_c"),
        F.sum("ct").over(wc).cast("long").alias("conv_t"),
        F.sum("cc").over(wc).cast("long").alias("conv_c"),
    )
    return cum.select(
        "decile",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.expr(
            "CAST(CASE WHEN conv_t * n_c >= conv_c * n_t"
            " THEN (1000 * (conv_t * n_c - conv_c * n_t)) div n_c"
            " ELSE -((1000 * (conv_c * n_t - conv_t * n_c)) div n_c)"
            " END AS BIGINT)"
        ).alias("qini_milli"),
    )


# -- feature hashing (the hashing trick) — deferred queue ---------------------

_FH_DIM = 64  # feature space dimension (buckets)
_FH_MIN_DF = 3  # emit only features backed by >= 3 docs (output bound)


@register(
    "ml_feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t.term
        FROM documents, UNNEST({_TOKENS_SQL}) AS t(term)
        WHERE length(t.term) >= 2
    ), hashed AS (
        SELECT doc_id,
               ('0x' || substr(md5('fh_' || term), 1, 15))::BIGINT
                   % {_FH_DIM} AS feature_idx
        FROM toks
    ), cells AS (
        SELECT doc_id, CAST(feature_idx AS BIGINT) AS feature_idx,
               CAST(COUNT(*) AS BIGINT) AS tf
        FROM hashed GROUP BY 1, 2
    ), df AS (
        SELECT feature_idx, COUNT(*) AS n_docs FROM cells GROUP BY 1
    )
    SELECT c.doc_id, c.feature_idx, c.tf
    FROM cells c JOIN df ON df.feature_idx = c.feature_idx
    WHERE df.n_docs >= {_FH_MIN_DF}
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens map to a FIXED {_FH_DIM}-dimensional
    feature space via a salted md5 modulus — no vocabulary is ever built
    or broadcast, which is the whole point (a vocab dictionary is
    mutable, skewed state; the hash is stateless and identical on every
    executor, every engine, every run). Emits the sparse (doc,
    feature_idx, tf) matrix that linear models and NB train on,
    restricted to features backed by >= {_FH_MIN_DF} docs.

    Shape: map-only hash + one (doc, idx) partial-aggregable count; the
    df filter is a {_FH_DIM}-row broadcast. Collisions are the accepted
    trade (dimension controls them) — deterministic collisions, since
    the hash family is the repo's cross-engine md5 recipe.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    ).filter(F.length("term") >= 2)
    hashed = toks.select(
        "doc_id",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("fh_"), F.col("term"))), 1, 15),
                16,
                10,
            ).cast("long")
            % _FH_DIM
        ).alias("feature_idx"),
    )
    cells = hashed.groupBy("doc_id", "feature_idx").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_tbl = cells.groupBy("feature_idx").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        cells.join(
            F.broadcast(df_tbl.filter(F.col("n_docs") >= _FH_MIN_DF)),
            "feature_idx",
        )
        .select("doc_id", "feature_idx", "tf")
    )
feature_hashing.__doc__ = feature_hashing.__doc__.format(_FH_DIM=_FH_DIM, _FH_MIN_DF=_FH_MIN_DF)  # real docstring (ADVICE r7)


# -- chi-square feature selection — deferred queue ----------------------------

_FS_LEN_BUCKET = 300


@register(
    "ml_chi2_feature_selection",
    oracle=f"""
    WITH feats AS (
        SELECT 'len_bucket' AS feature,
               CAST(n_chars // {_FS_LEN_BUCKET} AS VARCHAR) AS fval,
               lang
        FROM documents
        UNION ALL
        SELECT 'source', source, lang FROM documents
    ), obs AS (
        SELECT feature, fval, lang, CAST(COUNT(*) AS BIGINT) AS o
        FROM feats GROUP BY 1, 2, 3
    ), margins AS (
        SELECT o.feature, o.fval, o.lang, o.o,
               CAST(SUM(o.o) OVER (PARTITION BY o.feature, o.fval)
                    AS BIGINT) AS row_t,
               CAST(SUM(o.o) OVER (PARTITION BY o.feature, o.lang)
                    AS BIGINT) AS col_t,
               CAST(SUM(o.o) OVER (PARTITION BY o.feature) AS BIGINT) AS n
        FROM obs o
    ), cells AS (
        SELECT feature,
               -- chi2 cell in exact micro-units:
               -- 1e6*(o*n - row*col)^2 / (n * row * col), integer div.
               -- HUGEINT (int128) intermediates: the BIGINT form wraps in
               -- non-ANSI Spark once |o*n - row*col| > ~3.0e6 (ADVICE r6);
               -- Spark mirrors this with DECIMAL(38,0) arithmetic.
               CAST((1000000
                     * (CAST(o AS HUGEINT) * n - CAST(row_t AS HUGEINT) * col_t)
                     * (CAST(o AS HUGEINT) * n - CAST(row_t AS HUGEINT) * col_t))
                 // (CAST(n AS HUGEINT) * row_t * col_t) AS BIGINT)
                 AS contrib_micro
        FROM margins
    )
    SELECT feature, CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro_n
    FROM cells GROUP BY 1
    """
)
def chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square feature selection: which candidate feature (coarsened
    length vs source) carries more signal about the label (lang) — the
    filter-method ranking that prunes features BEFORE any model training.
    Per feature, the chi-square statistic in exact integer micro-units:
    Σ 1e6·(o·n − row·col)² div (n·row·col), which is identically
    Σ 1e6·(o−e)²/e with e = row·col/n — the cross-multiplied form keeps
    every operand integral (stats_chi_square's recipe, per-feature), it
    is NOT an n-scaled variant (the n's cancel; the r14 reference test
    pins the identity). The column name chi2_micro_n predates that
    correction and is kept for oracle stability; the value is plain
    1e6·χ².

    Shape: one union of per-feature projections, a contingency count, and
    windows over the tiny (feature × value × label) frame. Candidates at
    the cell grain: |features|·|values|·|labels|.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        F.lit("len_bucket").alias("feature"),
        F.expr(f"CAST(n_chars div {_FS_LEN_BUCKET} AS STRING)").alias("fval"),
        "lang",
    ).unionByName(
        docs.select(
            F.lit("source").alias("feature"),
            F.col("source").alias("fval"),
            "lang",
        )
    )
    obs = feats.groupBy("feature", "fval", "lang").agg(
        F.count(F.lit(1)).alias("o")
    )
    w_row = W.partitionBy("feature", "fval")
    w_col = W.partitionBy("feature", "lang")
    w_all = W.partitionBy("feature")
    margins = obs.select(
        "feature",
        "o",
        F.sum("o").over(w_row).alias("row_t"),
        F.sum("o").over(w_col).alias("col_t"),
        F.sum("o").over(w_all).alias("n"),
    )
    # Exact wide-integer cell arithmetic (ADVICE r6): the all-BIGINT form
    # silently wraps in non-ANSI Spark once |o*n - row*col| > ~3.0e6 (the
    # oracle's 128-bit SUM sails on — latent engine divergence). DECIMAL(19,0)
    # casts widen each product to DECIMAL(38,0), so every operand up to
    # 1e6*dev^2 <= 1e6*n^4 stays exact for n up to ~1e8 rows per feature
    # (1e6 * n^4 < 10^38). Past that ceiling non-ANSI Spark NULLs the
    # overflowed cell — and SUM would silently SKIP it (review r7), so the
    # aggregate nulls the whole statistic when any cell overflowed: a NULL
    # result row hash-mismatches the oracle's exact HUGEINT value, making
    # the failure loud instead of an undercount. dev^2 >= 0 and the
    # denominator > 0, so Spark's truncating `div` == DuckDB's floor `//`.
    contrib = F.expr(
        "(CAST(1000000 AS DECIMAL(38,0))"
        " * (CAST(o AS DECIMAL(19,0)) * n - CAST(row_t AS DECIMAL(19,0)) * col_t)"
        " * (CAST(o AS DECIMAL(19,0)) * n - CAST(row_t AS DECIMAL(19,0)) * col_t))"
        " div (CAST(n AS DECIMAL(19,0)) * row_t * col_t)"
    )
    return (
        margins.select("feature", contrib.alias("c"))
        .groupBy("feature")
        .agg(
            F.expr(
                "CAST(CASE WHEN COUNT(*) != COUNT(c) THEN NULL"
                " ELSE SUM(c) END AS BIGINT)"
            ).alias("chi2_micro_n")
        )
    )

# -- k-fold centroid-classifier cross-validation (deferred: r10 activation) ------

_CV_FOLDS = 5
_CV_SCALE = 1000  # shift+scale quantization shared with the silhouette


@register(
    "ml_kfold_centroid_cv",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, CAST(vec_id % {_CV_FOLDS} AS BIGINT) AS fold,
               CAST(UNNEST(range(0, {DIM})) AS BIGINT) AS dim,
               UNNEST([CAST(ROUND((CAST(x AS DOUBLE) + 1.0) * {_CV_SCALE})
                            AS BIGINT) FOR x IN embedding]) AS qv
        FROM embeddings
    ),
    fold_sums AS (
        SELECT fold, label, dim,
               CAST(SUM(qv) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY 1, 2, 3
    ),
    tot AS (
        SELECT label, dim, CAST(SUM(s) AS BIGINT) AS st,
               CAST(SUM(n) AS BIGINT) AS nt
        FROM fold_sums GROUP BY 1, 2
    ),
    cent AS (
        -- leave-one-fold-out centroid by subtraction: one pass, all folds
        SELECT f.fold, t.label AS c_label, t.dim,
               CAST((t.st - COALESCE(fs.s, 0))
                    // (t.nt - COALESCE(fs.n, 0)) AS BIGINT) AS c
        FROM (SELECT DISTINCT fold FROM fold_sums) f
        JOIN tot t ON TRUE
        LEFT JOIN fold_sums fs
          ON fs.fold = f.fold AND fs.label = t.label AND fs.dim = t.dim
        WHERE t.nt - COALESCE(fs.n, 0) > 0
    ),
    d AS (
        SELECT q.vec_id, q.label AS actual, q.fold, cent.c_label,
               CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS d2
        FROM q JOIN cent ON cent.fold = q.fold AND cent.dim = q.dim
        GROUP BY 1, 2, 3, 4
    ),
    pred AS (
        SELECT vec_id, actual, fold, c_label AS predicted
        FROM (
            SELECT vec_id, actual, fold, c_label,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, c_label) AS rk
            FROM d
        ) WHERE rk = 1
    )
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST((1000000 * SUM(CASE WHEN actual = predicted THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM pred GROUP BY 1
    """,
)
def kfold_centroid_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_CV_FOLDS}-fold cross-validated nearest-class-centroid accuracy —
    the honest eval the single-split classifiers don't give (one split's
    accuracy is a point estimate; the fold spread is the variance). The
    scale trick: leave-one-fold-out centroids come from ONE pass by
    SUBTRACTION — total per-(label, dim) sums minus the held fold's sums
    — so {_CV_FOLDS}-fold CV costs one aggregation, not {_CV_FOLDS}
    re-trainings (the streaming-algebra property that makes CV viable on
    a 100 TB training set at all). Components are shift-quantized to
    nonnegative ints (the silhouette device), so centroids, distances,
    and the argmin are bit-exact cross-engine; folds are deterministic
    id-modulo. Honesty note: the fixture's labels are not geometrically
    clustered, so fold accuracies sit at chance (7–13 % across folds vs
    10 % for 10 labels) — and that SPREAD is precisely the
    point-estimate variance CV exists to expose; the operator under test
    is the machinery.

    Shape: one posexplode pass → (fold, label, dim) partial sums → tiny
    centroid relation (folds×labels×dim) broadcast back keyed on
    (fold, dim); the argmin window runs per vector over |labels| rows;
    the rollup is {_CV_FOLDS} rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        (F.col("vec_id") % _CV_FOLDS).cast("long").alias("fold"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        "fold",
        F.col("dim").cast("long").alias("dim"),
        F.round((F.col("v").cast("double") + 1.0) * _CV_SCALE, 0)
        .cast("long")
        .alias("qv"),
    # feeds the fold sums AND the distance join: one explosion
    ).localCheckpoint(eager=False)
    fold_sums = q.groupBy("fold", "label", "dim").agg(
        F.sum("qv").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    tot = fold_sums.groupBy("label", "dim").agg(
        F.sum("s").cast("long").alias("st"),
        F.sum("n").cast("long").alias("nt"),
    )
    folds = fold_sums.select("fold").distinct()
    cent = (
        folds.crossJoin(tot)
        .join(
            fold_sums.select(
                F.col("fold").alias("f2"),
                F.col("label").alias("l2"),
                F.col("dim").alias("d2col"),
                "s",
                "n",
            ),
            (F.col("f2") == F.col("fold"))
            & (F.col("l2") == F.col("label"))
            & (F.col("d2col") == F.col("dim")),
            "left",
        )
        .select(
            "fold",
            F.col("label").alias("c_label"),
            "dim",
            F.expr(
                "CAST((st - COALESCE(s, 0)) div (nt - COALESCE(n, 0))"
                " AS BIGINT)"
            ).alias("c"),
            (F.col("nt") - F.coalesce(F.col("n"), F.lit(0))).alias("n_train"),
        )
        .filter(F.col("n_train") > 0)
        .drop("n_train")
    )
    cent_r = cent.select(
        F.col("fold").alias("cfold"),
        "c_label",
        F.col("dim").alias("cdim"),
        "c",
    )
    d = (
        q.join(
            F.broadcast(cent_r),
            (F.col("cfold") == F.col("fold")) & (F.col("cdim") == F.col("dim")),
        )
        .groupBy(
            "vec_id",
            F.col("label").alias("actual"),
            "fold",
            F.col("c_label"),
        )
        .agg(
            F.sum((F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")))
            .cast("long")
            .alias("d2")
        )
    )
    wp = W.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = (
        d.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("fold", "actual", F.col("c_label").alias("predicted"))
    )
    return pred.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.sum((F.col("actual") == F.col("predicted")).cast("long"))
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "CAST((1000000 * SUM(CASE WHEN actual = predicted THEN 1 ELSE 0"
            " END)) div COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# -- multivariate OLS via normal equations (deferred: r10 activation) ------------

#: shared Cramer's-rule formulas over the nine normal-equation sums
#: (n, sq, sd, sqq, sqd, sdd, sy, sqy, sdy) — identical text is embedded in
#: the DuckDB oracle and the Spark projection, so the two engines compute
#: the SAME 128-bit integer expression tree.
_OLS_DET = (
    "(n * (sqq * sdd - sqd * sqd)"
    " - sq * (sq * sdd - sqd * sd)"
    " + sd * (sq * sqd - sqq * sd))"
)
_OLS_NUM0 = (
    "(sy * (sqq * sdd - sqd * sqd)"
    " - sq * (sqy * sdd - sqd * sdy)"
    " + sd * (sqy * sqd - sqq * sdy))"
)
_OLS_NUM1 = (
    "(n * (sqy * sdd - sqd * sdy)"
    " - sy * (sq * sdd - sqd * sd)"
    " + sd * (sq * sdy - sqy * sd))"
)
_OLS_NUM2 = (
    "(n * (sqq * sdy - sqy * sqd)"
    " - sq * (sq * sdy - sqy * sd)"
    " + sy * (sq * sqd - sqq * sd))"
)


def _ols_beta_sql(num: str, alias: str) -> str:
    """Sign-safe exact-milli coefficient: 1000·num/det with the division
    split on the sign so truncation is engine-identical either side of 0."""
    d = _OLS_DET
    # same-sign via sign comparison, never num*det (that product overflows
    # 128-bit integers even at fixture scale)
    return (
        f"CAST(CASE WHEN {d} = 0 THEN 0"
        f" WHEN (({num}) >= 0) = ({d} >= 0)"
        f" THEN (1000 * ABS({num})) // ABS({d})"
        f" ELSE -((1000 * ABS({num})) // ABS({d})) END AS BIGINT) AS {alias}"
    )


@register(
    "ml_ols_normal_equations",
    oracle=f"""
    WITH s AS (
        SELECT CAST(ROUND(l_quantity) AS HUGEINT) AS q,
               CAST(ROUND(l_discount * 1000) AS HUGEINT) AS d,
               CAST(ROUND(l_extendedprice * 100) AS HUGEINT) AS y
        FROM lineitem
    ),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(q) AS HUGEINT) AS sq, CAST(SUM(d) AS HUGEINT) AS sd,
               CAST(SUM(q * q) AS HUGEINT) AS sqq,
               CAST(SUM(q * d) AS HUGEINT) AS sqd,
               CAST(SUM(d * d) AS HUGEINT) AS sdd,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(q * y) AS HUGEINT) AS sqy,
               CAST(SUM(d * y) AS HUGEINT) AS sdy
        FROM s
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(SIGN({_OLS_DET}) AS INT) AS det_sign,
           {_ols_beta_sql(_OLS_NUM0, "beta0_milli")},
           {_ols_beta_sql(_OLS_NUM1, "beta1_milli")},
           {_ols_beta_sql(_OLS_NUM2, "beta2_milli")}
    FROM m
    """,
)
def ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS — extended price regressed on (1, quantity,
    discount) — solved DISTRIBUTED by the normal equations: one scan
    accumulates the nine integer moments of XᵀX and Xᵀy (all partial-
    aggregable, the only corpus-sized work), then Cramer's rule on the
    3×3 system turns each coefficient into an exact integer rational —
    emitted in sign-safe exact milli, with the determinant's sign as the
    singularity/orientation witness (det = 0 ⇒ collinear features ⇒
    coefficients emitted as 0, flagged by det_sign). This is
    ml_grouped_ols's single-feature slope generalized to a true
    multi-feature solve, with zero matrix libraries and zero floats: both
    engines evaluate the SAME shared 128-bit expression tree (the formula
    strings are embedded verbatim in oracle and projection).

    Digit budget: entries are ≤ n·max|q·d| — at sf0.1 ≈ 3e9, det terms
    ≈ 2.7e28, comfortably inside HUGEINT/DECIMAL(38); past ~1e10 rows,
    recenter the features by first-pass integer means first (documented,
    not silent — the welch_t2 contract).
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = li.select(
        F.round(F.col("l_quantity"), 0).cast("decimal(38,0)").alias("q"),
        F.round(F.col("l_discount") * 1000, 0).cast("decimal(38,0)").alias("d"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("decimal(38,0)")
        .alias("y"),
    )
    m = s.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("d").alias("sd"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("d")).alias("sqd"),
        F.sum(F.col("d") * F.col("d")).alias("sdd"),
        F.sum("y").alias("sy"),
        F.sum(F.col("q") * F.col("y")).alias("sqy"),
        F.sum(F.col("d") * F.col("y")).alias("sdy"),
    )
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_rows",
        f"CAST(SIGN({_OLS_DET}) AS INT) AS det_sign",
        _ols_beta_sql(_OLS_NUM0, "beta0_milli").replace("//", "div"),
        _ols_beta_sql(_OLS_NUM1, "beta1_milli").replace("//", "div"),
        _ols_beta_sql(_OLS_NUM2, "beta2_milli").replace("//", "div"),
    )


# -- Matthews correlation (deferred: r10 activation) ------------------------------


@register(
    "ml_matthews_corr",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN len(list_filter({_TOKENS_SQL},
                    t -> t IN ('the','a','and','of','is'))) >= 1
               THEN 1 ELSE 0 END AS pred,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS actual
        FROM documents
    ),
    m AS (
        SELECT
          CAST(SUM(pred * actual) AS HUGEINT) AS tp,
          CAST(SUM(pred * (1 - actual)) AS HUGEINT) AS fp,
          CAST(SUM((1 - pred) * actual) AS HUGEINT) AS fn,
          CAST(SUM((1 - pred) * (1 - actual)) AS HUGEINT) AS tn
        FROM scored
    )
    SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(CASE WHEN tp * tn >= fp * fn THEN 1 ELSE -1 END AS INT)
               AS mcc_sign,
           CAST(CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN 0
                ELSE (1000000 * (tp*tn - fp*fn) * (tp*tn - fp*fn))
                     // ((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END AS BIGINT)
               AS mcc2_ppm
    FROM m
    """,
)
def matthews_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the marker-threshold language
    classifier (predict 'en' when ≥1 English marker stopword appears) —
    the single-number binary-classifier score that stays honest under
    class imbalance, where accuracy and even F1 mislead. The square root
    in MCC = (TP·TN − FP·FN)/√(margins) breaks integer exactness, so the
    gate carries MCC² in exact ppm plus the sign separately — the same
    sign-split device as ml_cohen_kappa; MCC is recoverable to any
    precision downstream while the gate stays bit-exact. Degenerate
    margins (an empty row/column) emit 0 by the standard convention.

    Shape: one scan, one 1-row partial+final aggregate of four counts;
    the rational arithmetic happens once on the single row in 128-bit
    integers (margins each ≤ n, so the product is safe to n ≈ 10⁹ docs;
    past that, divide two margins out first — documented, not silent).
    """
    from .text import _marker_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        (
            _marker_count(tokens_col(), ["the", "a", "and", "of", "is"]) >= 1
        )
        .cast("int")
        .alias("pred"),
        (F.col("lang") == "en").cast("int").alias("actual"),
    )
    m = scored.agg(
        F.sum(F.col("pred") * F.col("actual")).cast("decimal(38,0)").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("actual")))
        .cast("decimal(38,0)")
        .alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("actual"))
        .cast("decimal(38,0)")
        .alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("actual")))
        .cast("decimal(38,0)")
        .alias("tn"),
    )
    return m.select(
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.col("tn").cast("long").alias("tn"),
        F.expr(
            "CAST(CASE WHEN tp * tn >= fp * fn THEN 1 ELSE -1 END AS INT)"
        ).alias("mcc_sign"),
        F.expr(
            "CAST(CASE WHEN (tp+fp)*(tp+fn)*(tn+fp)*(tn+fn) = 0 THEN 0"
            " ELSE (CAST(1000000 AS DECIMAL(38,0)) * (tp*tn - fp*fn)"
            " * (tp*tn - fp*fn))"
            " div ((tp+fp)*(tp+fn)*(tn+fp)*(tn+fn)) END AS BIGINT)"
        ).alias("mcc2_ppm"),
    )


# -- lift / gains curve over the score domain ------------------------------------

#: the integer classifier score behind the lift curve: count of English
#: marker stopwords among a document's tokens (predicting lang = 'en')
_LIFT_MARKERS = ("the", "a", "and", "of", "is")
_LIFT_MARKERS_SQL = "(" + ", ".join(f"'{m}'" for m in _LIFT_MARKERS) + ")"


@register(
    "ml_lift_gains_curve",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(len(list_filter({_TOKENS_SQL},
                    t -> t IN {_LIFT_MARKERS_SQL})) AS BIGINT) AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    h AS (
        SELECT score, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1
    ),
    c AS (
        SELECT score, n_docs, n_pos,
               SUM(n_docs) OVER (ORDER BY score DESC) AS cum_docs,
               SUM(n_pos) OVER (ORDER BY score DESC) AS cum_pos,
               SUM(n_docs) OVER () AS tot_docs,
               SUM(n_pos) OVER () AS tot_pos
        FROM h
    )
    SELECT score, n_docs, n_pos,
           CAST(cum_docs AS BIGINT) AS cum_docs,
           CAST(cum_pos AS BIGINT) AS cum_pos,
           CAST((1000000 * cum_pos) // tot_pos AS BIGINT) AS recall_ppm,
           CAST((1000000 * cum_pos * tot_docs) // (cum_docs * tot_pos)
                AS BIGINT) AS lift_ppm
    FROM c
    """,
)
def lift_gains_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift curve of the integer marker-count classifier
    (score = English stopword hits, positive = lang 'en'), evaluated at
    every DISTINCT SCORE cutoff descending — the campaign-targeting /
    triage eval: "screening everything scoring ≥ s, what share of the
    positives do I catch (recall_ppm) and how much better than random am I
    (lift_ppm, 1e6 = chance)?" Working on the score domain instead of
    fixed deciles keeps every number an exact integer (no quantile
    interpolation) and handles ties by construction — a decile table is
    one GROUP BY over this relation.

    Shape: one corpus scan to the (score, label) histogram — score-domain-
    sized, tiny — then cumulative windows OVER THAT HISTOGRAM only. The
    scan never sorts; nothing floats.
    """
    from .text import _marker_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        _marker_count(tokens_col(), list(_LIFT_MARKERS))
        .cast("long")
        .alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    h = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    w = W.orderBy(F.desc("score")).rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy()
    c = h.select(
        "score",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(w).cast("long").alias("cum_docs"),
        F.sum("n_pos").over(w).cast("long").alias("cum_pos"),
        F.sum("n_docs").over(w_all).cast("long").alias("tot_docs"),
        F.sum("n_pos").over(w_all).cast("long").alias("tot_pos"),
    )
    return c.select(
        "score",
        "n_docs",
        "n_pos",
        "cum_docs",
        "cum_pos",
        F.expr("CAST((1000000 * cum_pos) div tot_pos AS BIGINT)").alias(
            "recall_ppm"
        ),
        F.expr(
            "CAST((1000000 * cum_pos * tot_docs) div (cum_docs * tot_pos)"
            " AS BIGINT)"
        ).alias("lift_ppm"),
    )


# -- centroid silhouette (clustering quality, integer-exact) --------------------

#: shift+scale for the silhouette quantization: components live in (-1, 1),
#: so (x + 1) * 1000 is a NONNEGATIVE integer in [0, 2000] — and with all
#: inputs nonnegative, integer division (truncation) IS floor division in
#: both engines, so the quantized centroid is deterministic cross-engine.
_SIL_SCALE = 1000


@register(
    "ml_silhouette_centroid",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               CAST(UNNEST(range(0, {DIM})) AS BIGINT) AS dim,
               UNNEST([CAST(ROUND((CAST(x AS DOUBLE) + 1.0) * {_SIL_SCALE})
                            AS BIGINT) FOR x IN embedding]) AS qv
        FROM embeddings
    ),
    cent AS (
        SELECT label AS c_label, dim,
               CAST(SUM(qv) // COUNT(*) AS BIGINT) AS c
        FROM q GROUP BY 1, 2
    ),
    d AS (
        SELECT q.vec_id, q.label AS own, cent.c_label AS cand,
               CAST(SUM((qv - c) * (qv - c)) AS BIGINT) AS d2
        FROM q JOIN cent ON cent.dim = q.dim
        GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT vec_id, own,
               MAX(CASE WHEN cand = own THEN d2 END) AS a,
               MIN(CASE WHEN cand <> own THEN d2 END) AS b
        FROM d GROUP BY 1, 2
    ),
    s AS (
        SELECT own AS label,
               CASE WHEN GREATEST(a, b) = 0 THEN 0
                    WHEN b >= a THEN (1000000 * (b - a)) // GREATEST(a, b)
                    ELSE -((1000000 * (a - b)) // GREATEST(a, b)) END AS s_ppm
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(s_ppm) AS BIGINT) AS sum_s_ppm,
           CAST(CASE WHEN SUM(s_ppm) >= 0 THEN SUM(s_ppm) // COUNT(*)
                     ELSE -((-SUM(s_ppm)) // COUNT(*)) END AS BIGINT)
               AS mean_s_ppm
    FROM s GROUP BY 1
    """,
)
def silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid silhouette of the embedding space — the standard
    clustering-quality score in its scalable 'simplified silhouette' form:
    a = squared distance to the OWN label centroid, b = squared distance to
    the nearest OTHER centroid, s = (b − a)/max(a, b) in exact signed ppm
    (positive = separated, negative = the label bleeds into a neighbor).
    The classic pairwise-silhouette is O(n²) and dead at corpus scale;
    against centroids it is one broadcast join — the textbook trade
    (Hartigan) and the one every large-scale clustering eval makes.
    Components are shift-quantized to nonnegative ints so the floor
    centroid, the distances, and both signed divisions (handled by
    explicit sign splits) are bit-identical cross-engine.

    Shape: posexplode to (vec, dim, component); centroids are a
    |labels|×{DIM} partial+final agg (map-side combine collapses each
    partition before the shuffle) and come back as a BROADCAST join keyed
    on dim — the candidate fan-out per row is |labels|, a config-scale
    constant. No window, no pairwise vector join anywhere.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round((F.col("v").cast("double") + 1.0) * _SIL_SCALE, 0)
        .cast("long")
        .alias("qv"),
        # the centroid build and the distance join both consume this
        # posexplode: quantize-explode once per action, not twice (zero
        # runtime exchange reuse — r21 survey; 4 narrow columns).
    ).localCheckpoint(eager=False)
    cent = ex.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.expr("CAST(SUM(qv) div COUNT(*) AS BIGINT)").alias("c")
    )
    d = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy(
            "vec_id",
            F.col("label").alias("own"),
            F.col("c_label").alias("cand"),
        )
        .agg(
            F.sum((F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c")))
            .cast("long")
            .alias("d2")
        )
    )
    ab = d.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("cand") == F.col("own"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("cand") != F.col("own"), F.col("d2"))).alias("b"),
    )
    s = ab.select(
        F.col("own").alias("label"),
        F.expr(
            "CASE WHEN GREATEST(a, b) = 0 THEN 0"
            " WHEN b >= a THEN (1000000 * (b - a)) div GREATEST(a, b)"
            " ELSE -((1000000 * (a - b)) div GREATEST(a, b)) END"
        ).alias("s_ppm"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("s_ppm").cast("long").alias("sum_s_ppm"),
        F.expr(
            "CAST(CASE WHEN SUM(s_ppm) >= 0 THEN SUM(s_ppm) div COUNT(*)"
            " ELSE -((-SUM(s_ppm)) div COUNT(*)) END AS BIGINT)"
        ).alias("mean_s_ppm"),
    )


# -- Brier score decomposition (integer-exact, per calibration bin) -----------


@register(
    "ml_brier_decomposition",
    oracle="""
    WITH f AS (
        SELECT CAST((event_id * 2654435761) % 1000001 AS BIGINT) AS p_ppm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    )
    SELECT CAST(LEAST(p_ppm // 100000, 9) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_p_ppm,
           CAST(SUM((p_ppm - y * 1000000) * (p_ppm - y * 1000000)) AS BIGINT)
               AS brier_num,
           CAST(((SUM(p_ppm) - SUM(y) * 1000000)
                 * (SUM(p_ppm) - SUM(y) * 1000000)) // COUNT(*) AS BIGINT)
               AS reliability_num
    FROM f GROUP BY 1
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier-score decomposition over decile calibration bins — the
    probabilistic-forecast counterpart of ml_calibration_bins: per bin,
    the raw Brier numerator Σ(p−y)² and the reliability numerator
    n_k·(p̄_k−ō_k)² = (Σp − 1e6·Σy)²/n_k, both as EXACT integers in ppm²
    (global Brier = Σ brier_num / (1e12·N); reliability = Σ reliability_num
    likewise — Murphy 1973's REL term, the part a recalibration map can
    remove). Forecasts are a deterministic ppm hash of the event id; labels
    are the purchase indicator — the DECOMPOSITION arithmetic is the
    operator under test, exactly mirrorable because no float ever exists.

    Shape: one scan, one 10-group partial+final aggregate; every output is
    a count or an integer rational of counts. brier_num peaks at 1e12 per
    row — DECIMAL(38,0)/HUGEINT accumulators hold to ~1e26 rows."""
    ev = load_table(spark, sf_dir, "events")
    f = ev.select(
        ((F.col("event_id") * F.lit(2654435761)) % F.lit(1000001))
        .cast("long")
        .alias("p_ppm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    e = (F.col("p_ppm") - F.col("y") * 1000000).cast("decimal(38,0)")
    g = f.groupBy(
        F.least(F.floor(F.col("p_ppm") / 100000), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum("p_ppm").cast("long").alias("sum_p_ppm"),
        F.sum(e * e).cast("long").alias("brier_num"),
    )
    return g.select(
        "bin", "n", "n_pos", "sum_p_ppm", "brier_num",
        F.expr(
            "CAST((CAST(sum_p_ppm - n_pos * 1000000 AS DECIMAL(38,0))"
            " * CAST(sum_p_ppm - n_pos * 1000000 AS DECIMAL(38,0))) div n"
            " AS BIGINT)"
        ).alias("reliability_num"),
    )


# -- OLS residual diagnostics: R² + Durbin-Watson, exact rationals ------------


@register(
    "ml_ols_residual_diagnostics",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS HUGEINT) AS x,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS HUGEINT) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM daily
    ), r AS (
        SELECT d.x,
               m.n * (m.n * m.sxx - m.sx * m.sx) * d.y
                 - (m.n * m.sxx - m.sx * m.sx) * m.sy
                 + (m.n * m.sxy - m.sx * m.sy) * m.sx
                 - m.n * (m.n * m.sxy - m.sx * m.sy) * d.x AS rnum,
               m.n AS n, m.n * m.sxx - m.sx * m.sx AS det,
               m.n * m.syy - m.sy * m.sy AS sst_s
        FROM daily d, m
    ), s AS (
        SELECT MAX(n) AS n, MAX(det) AS det, MAX(sst_s) AS sst_s,
               SUM(rnum * rnum) AS sse_s,
               SUM(CASE WHEN x > 0 THEN (rnum - lag_rnum) * (rnum - lag_rnum)
                        ELSE 0 END) AS dw_num
        FROM (SELECT x, rnum, n, det, sst_s,
                     LAG(rnum) OVER (ORDER BY x) AS lag_rnum
              FROM r)
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(1000000 - (1000000 * sse_s) // (n * det * det * sst_s)
                AS BIGINT) AS r2_ppm,
           CAST((1000000 * dw_num) // sse_s AS BIGINT) AS dw_ppm
    FROM s
    """,
)
def ols_residual_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS residual diagnostics for daily purchase revenue vs day index:
    R² and the Durbin-Watson serial-correlation statistic, both EXACT.
    Scaling every residual by n·det (det = nΣx²−(Σx)²) makes it an integer:

        R_i = n·det·y_i − det·Σy + b_num·Σx − n·b_num·x_i
        R²  = 1 − ΣR_i² / (n·det²·(nΣy²−(Σy)²))      (scale factors cancel)
        DW  = Σ(R_i−R_{i−1})² / ΣR_i²                 (common scale cancels)

    so both statistics are single integer rationals in ppm — bit-exact
    across engines with 128-bit accumulators (fits DECIMAL(38) to ~3e4
    days at cent-scale daily sums; beyond that, recenter y first).
    Complements ml_ols_normal_equations (the fit) and stats_autocorrelation
    (the model-free lag-1 statistic) with the fitted-model residual check.

    Shape: raw scan collapses to the DAILY relation first; the lag window
    and both 1-row aggregates run over days, never events."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01"))
            .cast("decimal(38,0)")
            .alias("x")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("decimal(38,0)")
            .alias("y")
        )
    )
    m = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("decimal(38,0)").alias("syy"),
    )
    r = daily.crossJoin(F.broadcast(m)).select(
        "x",
        F.expr(
            "n * (n * sxx - sx * sx) * y"
            " - (n * sxx - sx * sx) * sy"
            " + (n * sxy - sx * sy) * sx"
            " - n * (n * sxy - sx * sy) * x"
        ).alias("rnum"),
        F.col("n"),
        F.expr("n * sxx - sx * sx").alias("det"),
        F.expr("n * syy - sy * sy").alias("sst_s"),
    )
    lagged = r.withColumn("lag_rnum", F.lag("rnum").over(W.orderBy("x")))
    s = lagged.agg(
        F.max("n").alias("n"),
        F.max("det").alias("det"),
        F.max("sst_s").alias("sst_s"),
        F.sum(F.col("rnum") * F.col("rnum")).alias("sse_s"),
        F.sum(
            F.when(
                F.col("x") > 0,
                (F.col("rnum") - F.col("lag_rnum"))
                * (F.col("rnum") - F.col("lag_rnum")),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("dw_num"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr(
            "CAST(1000000 - (CAST(1000000 AS DECIMAL(38,0)) * sse_s)"
            " div (n * det * det * sst_s) AS BIGINT)"
        ).alias("r2_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * dw_num) div sse_s AS BIGINT)"
        ).alias("dw_ppm"),
    )


# -- expected calibration error (r12 queue) ------------------------------------------


@register(
    "ml_expected_calibration_error",
    oracle=f"""
    WITH mm AS (
        SELECT MIN(n_chars) AS mn, MAX(n_chars) AS mx FROM documents
    ), binned AS (
        SELECT ((n_chars - mn) * {_CAL_BINS}) // (mx - mn + 1) AS bin,
               CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos
        FROM documents CROSS JOIN mm
    ), bins AS (
        SELECT bin, COUNT(*) AS n, SUM(pos) AS n_pos,
               ABS(2 * {_CAL_BINS} * SUM(pos)
                   - COUNT(*) * (2 * bin + 1)) AS gap_num
        FROM binned GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n_total,
           CAST((1000000 * SUM(gap_num))
                // (2 * {_CAL_BINS} * SUM(n)) AS BIGINT) AS ece_ppm,
           CAST(MAX((1000000 * gap_num) // (2 * {_CAL_BINS} * n))
                AS BIGINT) AS mce_ppm
    FROM bins
    """,
)
def expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected calibration error — the one-number summary of
    ml_calibration_bins' reliability curve that model cards actually
    report: ECE = Σ_b (n_b/N)·|acc_b − conf_b|, plus MCE (the worst
    bin's gap). Confidence per bin is the bin midpoint (2·bin+1)/(2·B)
    of the SAME equal-width histogram ml_calibration_bins uses
    (_calibration_binned — one definition, so the curve and its summary
    can never drift apart).

    Determinism: each bin's gap is the integer |2B·n_pos − n_b(2bin+1)|
    over the common denominator 2B·n_b; ECE folds them over 2B·N and
    both ppm divisions floor identically in both engines — no float
    anywhere.

    Shape: the same map-only binning + B-group rollup as the curve, then
    a 1-row fold over B bins. Nothing but the scan scales with data."""
    binned = _calibration_binned(load_table(spark, sf_dir, "documents"))
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("n_pos"),
    ).select(
        "n",
        F.expr(
            f"ABS(2 * {_CAL_BINS} * n_pos - n * (2 * bin + 1))"
        ).alias("gap_num"),
    )
    return bins.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n").cast("long").alias("_nt"),
        F.sum("gap_num").alias("_sg"),
        F.max(
            F.expr(f"(1000000 * gap_num) div (2 * {_CAL_BINS} * n)")
        )
        .cast("long")
        .alias("mce_ppm"),
    ).select(
        "n_bins",
        F.col("_nt").alias("n_total"),
        F.expr(
            f"CAST((1000000 * _sg) div (2 * {_CAL_BINS} * _nt) AS BIGINT)"
        ).alias("ece_ppm"),
        "mce_ppm",
    )


# -- cumulative gains / lift deciles (r12 queue) --------------------------------------

_GAINS_DECILES = 10


@register(
    "ml_gains_lift_deciles",
    oracle=f"""
    WITH scored AS (
        SELECT CASE WHEN lang = '{_CAL_POS_LANG}' THEN 1 ELSE 0 END AS pos,
               NTILE({_GAINS_DECILES}) OVER (ORDER BY n_chars DESC, doc_id)
                   AS decile
        FROM documents
    ), per AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM scored GROUP BY 1
    ), tot AS (
        SELECT SUM(n) AS nn, SUM(n_pos) AS pp FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n, n_pos,
           CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos,
           CAST((1000000 * SUM(n_pos) OVER w) // tot.pp AS BIGINT)
               AS gain_ppm,
           CAST((1000000 * SUM(n_pos) OVER w * tot.nn)
                // (SUM(n) OVER w * tot.pp) AS BIGINT) AS lift_ppm
    FROM per CROSS JOIN tot
    WINDOW w AS (ORDER BY decile)
    """,
)
def gains_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift table by score decile — "the top 20 % of
    documents by the n_chars score capture X % of the '{_CAL_POS_LANG}'
    positives, a Y× lift over random" — the campaign-targeting view of
    the same score ml_calibration_bins grades for probability quality
    and ml_auc_roc for ranking quality (and the PROPENSITY sibling of
    ml_qini_curve's uplift deciles).

    Determinism: deciles come from NTILE over the fully tie-broken order
    (score desc, doc_id) — both engines fill earlier tiles first, so the
    split is identical; gains/lift are integer rationals ppm-floored over
    exact decile counts.

    Shape: one window pass for deciles (a global sort of (score, id)
    pairs — at 100 TB this is the one genuine sort, same budget as any
    ranking eval), a {_GAINS_DECILES}-row rollup, then constant-size
    cumulative windows."""
    scored = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("lang") == _CAL_POS_LANG, 1).otherwise(0).alias("pos"),
        F.ntile(_GAINS_DECILES)
        .over(W.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("decile"),
    )
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = per.agg(
        F.sum("n").alias("nn"), F.sum("n_pos").alias("pp")
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
        .withColumn("cum_n", F.sum("n").over(w).cast("long"))
        .select(
            F.col("decile").cast("long").alias("decile"),
            "n",
            "n_pos",
            "cum_pos",
            F.expr("CAST((1000000 * cum_pos) div pp AS BIGINT)").alias(
                "gain_ppm"
            ),
            F.expr(
                "CAST((1000000 * cum_pos * nn) div (cum_n * pp) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
