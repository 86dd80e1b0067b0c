"""Similarity search over the `embeddings` table (SURVEY.md §2.9).

Two paths, mirroring a production ANN stack:

* **brute-force cosine top-k** — the exact baseline: broadcast the (small)
  query set against the corpus, evaluate cosine with array expressions
  (JVM-side, no Python), window-rank per query. Cost O(|Q|·N) — right answer
  whenever |Q| is small or as the verifier behind an index;
* **LSH-bucketed ANN** — sign-random-projection buckets (deterministic ±1
  hyperplanes derived from md5 parity), equi-join on the bucket, exact
  cosine only within buckets. The candidate join is O(bucket collisions),
  the 100 TB path: buckets partition the corpus, so the per-query work no
  longer scans N rows.

All arithmetic is promoted to double *before* any sum so the DuckDB oracle
(same promotion, same rounding) is bit-stable against summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from ..registry import register

__all__ = ["cosine_topk", "DIM", "N_PLANES"]

DIM = 64
N_PLANES = 8
TOP_K = 5
N_QUERIES = 10  # vec_id < 10 are the query vectors in registered queries

# -- shared expression builders ----------------------------------------------


def _dot_spark(a: str, b: str) -> str:
    """Dot product as an explicit 64-term sum, NOT a higher-order fold.

    Same left-to-right addition order as aggregate()/list_reduce (so values
    are bit-identical), but a plain expression tree participates in
    whole-stage codegen — interpreted lambda folds made the O(n²) pair scan
    ~30× slower (74s → 2.5s at sf0.1 for dedup_embedding_cosine).
    """
    return (
        "("
        + " + ".join(f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(DIM))
        + ")"
    )


def _norm_spark(a: str) -> str:
    return f"sqrt({_dot_spark(a, a)})"


def _dot_duck(a: str, b: str) -> str:
    # identical explicit sum (DuckDB lists are 1-based); left-assoc addition
    # matches the Spark expression term for term → bit-identical doubles.
    return (
        "("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(1, DIM + 1)
        )
        + ")"
    )


def _norm_duck(a: str) -> str:
    return f"sqrt({_dot_duck(a, a)})"


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors: broadcast queries × corpus, rank per
    query. ``queries``/``corpus`` need (vec_id, embedding) columns."""
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.expr(_dot_spark("q_emb", "c_emb"))
            / (F.expr(_norm_spark("q_emb")) * F.expr(_norm_spark("c_emb"))),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_COSINE_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
         scored AS (
           SELECT query_id, neighbor_id,
                  {_dot_duck("q_emb", "c_emb")}
                      / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")}) AS cosine
           FROM q, c WHERE query_id <> neighbor_id
         ),
         ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
           FROM scored
         )
    SELECT * FROM ranked WHERE rank <= {TOP_K}
    """


@register("ann_cosine_topk", oracle=_COSINE_ORACLE)
def ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb, TOP_K)


_FILTER_LANG = "en"


@register(
    "ann_filtered_topk",
    # Eligibility via IN (set semantics) — NOT a plain JOIN to documents:
    # ADVICE r16 #3 observed a join would duplicate corpus rows (and skew
    # ROW_NUMBER ranks) if doc_id ever carried duplicates, while the Spark
    # side's left_semi dedups. IN = semi-join semantics on both engines, so
    # the pair cannot diverge on a duplicate-bearing fixture.
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS c_emb
               FROM embeddings e
               WHERE e.vec_id IN (SELECT doc_id FROM documents
                                  WHERE lang = '{_FILTER_LANG}')),
         scored AS (
           SELECT query_id, neighbor_id,
                  {_dot_duck("q_emb", "c_emb")}
                      / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")}) AS cosine
           FROM q, c WHERE query_id <> neighbor_id
         ),
         ranked AS (
           SELECT query_id, neighbor_id, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
           FROM scored
         )
    SELECT * FROM ranked WHERE rank <= {TOP_K}
    """,
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-FILTERED vector search: top-k cosine neighbors restricted
    to vectors whose joined document satisfies a predicate (lang =
    '{_FILTER_LANG}') — the operation every production vector store
    (filtered HNSW/IVF, hybrid search) treats as first-class, and the
    correctness trap this pins: the predicate applies BEFORE ranking
    (pre-filter), so every query returns its exact k best eligible
    neighbors. Post-filtering an unfiltered top-k — the naive composition
    of ann_cosine_topk + a WHERE — silently returns FEWER than k (or
    zero) whenever the unfiltered neighborhood is predicate-sparse.

    Scale shape: the predicate lives on the documents dimension, so
    eligibility is one key semi-join applied to the corpus BEFORE any
    distance math — at 100 TB this both shrinks the scored set by the
    selectivity factor and pushes the lang filter into the documents
    scan (PushedFilters). The ``F.broadcast(eligible)`` hint is PINNED
    here for the fixture scale (the eligible-id set is a few hundred
    longs, and the explicit hint keeps the CI plan pin deterministic);
    as written it forces a broadcast regardless of selectivity, so a
    100 TB deployment with a low-selectivity predicate would drop the
    hint and let AQE / size statistics choose broadcast-vs-shuffle
    semi-join — the surrounding plan is hint-agnostic (ADVICE r17 #2).
    Queries stay broadcast; scoring is the same codegen'd 64-term
    expression chain as the unfiltered tier. For the IVF path, the same
    semi-join applies to the inverted lists before probing —
    filter-then-route, never route-then-filter.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    eligible = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == _FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    corpus = emb.join(F.broadcast(eligible), "vec_id", "left_semi")
    return cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), corpus, TOP_K)


# -- sign-random-projection LSH ----------------------------------------------
#
# Hyperplane p ∈ [0, N_PLANES), dimension i ∈ [0, DIM): the component is
# +1 when the first hex digit of md5('p_i') is even, else -1 — a fixed
# pseudo-random ±1 matrix both engines derive identically.


def _plane_terms(vec: str, p: int, engine: str) -> str:
    terms = []
    for i in range(DIM):
        import hashlib

        h = hashlib.md5(f"{p}_{i}".encode()).hexdigest()
        sign = "+" if int(h[0], 16) % 2 == 0 else "-"
        if engine == "spark":
            terms.append(f"{sign} CAST({vec}[{i}] AS DOUBLE)")
        else:
            terms.append(f"{sign} CAST({vec}[{i + 1}] AS DOUBLE)")
    return " ".join(terms)


def _plane_terms_attr(p: int) -> str:
    """Plane dot over pre-extracted element columns ``_e0.._e63`` — attribute
    refs instead of GetArrayItem+Cast trees, so wide plane batteries stay
    inside whole-stage codegen. Signs identical to :func:`_plane_terms`."""
    import hashlib

    terms = []
    for i in range(DIM):
        h = hashlib.md5(f"{p}_{i}".encode()).hexdigest()
        sign = "+" if int(h[0], 16) % 2 == 0 else "-"
        terms.append(f"{sign} _e{i}")
    return " ".join(terms)


def _bucket_attr_expr(t: int) -> str:
    """Table ``t``'s band bucket: LSH_PLANES_PER_TABLE sign bits packed into
    one BIGINT, over the pre-extracted ``_e*`` columns."""
    parts = []
    for s in range(LSH_PLANES_PER_TABLE):
        p = t * LSH_PLANES_PER_TABLE + s
        parts.append(
            f"(CASE WHEN ({_plane_terms_attr(p)}) >= 0.0 THEN {1 << s} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def _bucket_expr(vec: str, engine: str, planes: range = range(N_PLANES)) -> str:
    """Bit-string bucket over the given hyperplane indices (both engines)."""
    bits = []
    for p in planes:
        dot = _plane_terms(vec, p, engine)
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bits) if engine == "duck" else f"concat({', '.join(bits)})"


_LSH_ORACLE = f"""
    WITH b AS (
        SELECT vec_id, embedding, {_bucket_expr("embedding", "duck")} AS bucket
        FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM b
          WHERE vec_id < {N_QUERIES}),
    cand AS (
        SELECT q.query_id, b.vec_id AS neighbor_id, q.q_emb, b.embedding AS c_emb
        FROM q JOIN b ON q.bucket = b.bucket AND b.vec_id <> q.query_id
    ),
    scored AS (
        SELECT query_id, neighbor_id,
               {_dot_duck("q_emb", "c_emb")}
                   / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")}) AS cosine
        FROM cand
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cosine,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    )
    SELECT * FROM ranked WHERE rank <= {TOP_K}
    """


@register("ann_lsh_bucketed", oracle=_LSH_ORACLE)
def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-random-projection buckets: exact cosine only within the
    query's bucket. Recall is tunable by planes/probes; the plan is one
    equi-join on the bucket key instead of a full cross product."""
    emb = load_table(spark, sf_dir, "embeddings")
    b = emb.select(
        "vec_id",
        "embedding",
        F.expr(_bucket_expr("embedding", "spark")).alias("bucket"),
    )
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = F.broadcast(q).join(
        b.withColumnRenamed("embedding", "c_emb"),
        (F.col("q_bucket") == F.col("bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.expr(_dot_spark("q_emb", "c_emb"))
            / (F.expr(_norm_spark("q_emb")) * F.expr(_norm_spark("c_emb")))
        ).alias("cosine"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


DUP_COSINE_THRESHOLD = 0.35
#: micro-unit scale for the quantized-integer re-score (VERDICT r2 #4): each
#: component becomes CAST(ROUND(e_i * SCALE) AS BIGINT); integer dot products
#: are order-free, so ANY evaluation engine (Catalyst, DuckDB, numpy) yields
#: the identical BIGINT, and the one double division at the end is IEEE-exact.
DUP_QUANT_SCALE = 1_000_000

# Banded sign-LSH for pair dedup: LSH_TABLES independent hash tables, each
# keyed on LSH_PLANES_PER_TABLE hyperplane signs. A pair is a candidate when
# it collides in ANY table (MinHash-band semantics applied to random
# projections); candidates are re-scored with the quantized cosine in-bucket.
LSH_TABLES = 6
LSH_PLANES_PER_TABLE = 4


def _lsh_table_planes(t: int) -> range:
    return range(t * LSH_PLANES_PER_TABLE, (t + 1) * LSH_PLANES_PER_TABLE)


def _dedup_cosine_oracle() -> str:
    per_table = "\n        UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, "
        f"{_bucket_expr('embedding', 'duck', _lsh_table_planes(t))} AS bucket "
        "FROM embeddings"
        for t in range(LSH_TABLES)
    )
    q_cols = ", ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * {DUP_QUANT_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(DIM)
    )
    n2 = "(" + " + ".join(f"q{i} * q{i}" for i in range(DIM)) + ")"
    dotq = "(" + " + ".join(f"qa.q{i} * qb.q{i}" for i in range(DIM)) + ")"
    return f"""
    WITH b AS (
        {per_table}
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM b a JOIN b c ON a.t = c.t AND a.bucket = c.bucket
                         AND a.vec_id < c.vec_id
    ),
    qv AS (
        SELECT vec_id, {q_cols} FROM embeddings
    ),
    qn AS (
        SELECT *, {n2} AS n2 FROM qv
    )
    SELECT cand.vec_a, cand.vec_b,
           CAST({dotq} AS DOUBLE)
               / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE))) AS cosine
    FROM cand
    JOIN qn qa ON qa.vec_id = cand.vec_a
    JOIN qn qb ON qb.vec_id = cand.vec_b
    WHERE qa.n2 > 0 AND qb.n2 > 0  -- zero-norm vectors never pair (both engines)
      AND CAST({dotq} AS DOUBLE)
              / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
          >= {DUP_COSINE_THRESHOLD}
    """


def _score_bucket(pdf):
    """Score every within-bucket pair of one (t, bucket) group.

    Rows arrive with (vec_id, embedding); output is the surviving
    (vec_a, vec_b, cosine) pairs. Quantization (micro-unit ROUND
    half-away-from-zero, matching Spark/DuckDB ROUND on doubles — np.rint
    is banker's rounding and would diverge on exact .5 ties) makes the
    integer Gram matrix order-free, so the emitted cosine is bit-identical
    to the DuckDB oracle's 64-term SQL chain.
    """
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {
            "vec_a": pd.Series(dtype="int64"),
            "vec_b": pd.Series(dtype="int64"),
            "cosine": pd.Series(dtype="float64"),
        }
    )
    if len(pdf) < 2:
        return empty
    pdf = pdf.sort_values("vec_id")  # upper triangle == vec_a < vec_b
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    s = mat * DUP_QUANT_SCALE
    q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
    norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    gram = q @ q.T  # exact int64 — no accumulation-order sensitivity
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = gram.astype(np.float64) / np.outer(norms, norms)
    # Degenerate (all-zero after quantization) embeddings have no defined
    # cosine: 0/0 is NaN here but DuckDB orders NaN above every number, so
    # leaving it to the comparison diverges cross-engine (ADVICE r8).
    # Deterministic rule on BOTH sides: zero-norm vectors never pair.
    cos[norms == 0, :] = -2.0
    cos[:, norms == 0] = -2.0
    ia, ib = np.triu_indices(len(ids), k=1)
    keep = cos[ia, ib] >= DUP_COSINE_THRESHOLD
    if not keep.any():
        return empty
    return pd.DataFrame(
        {
            "vec_a": ids[ia[keep]],
            "vec_b": ids[ib[keep]],
            "cosine": cos[ia[keep], ib[keep]],
        }
    )


@register("dedup_embedding_cosine", oracle=_dedup_cosine_oracle())
def embedding_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level near-duplicate pairs via banded sign-LSH: all (a, b)
    colliding in at least one of LSH_TABLES hash tables whose quantized
    cosine clears the threshold.

    Physical shape (VERDICT r4 items #2/#4 — the bucket-SHARDED re-score):
    each vector emits LSH_TABLES (table, bucket) keys; grouping on that key
    partitions the corpus, and one applyInPandas per (t, bucket) group
    scores the group's pairs with a vectorized integer Gram matrix built
    from ONLY that bucket's vectors. Per-worker memory is O(|bucket|·DIM)
    — the r4 plan's per-worker FULL-corpus matrix (every Python worker
    independently re-reading + densifying the embeddings parquet, ~0.5 KB ×
    corpus size each, ~500 GB/worker at 10⁹ vectors) is gone, and so are
    the 32 redundant parquet scans that made the r4 rewrite SLOWER than the
    r2 SQL plan at sf0.1 (driver: 3.13 s → 5.16 s). There is exactly ONE
    shuffle (hash by (t, bucket)) and never an n² cross product or a
    driver-side collect; the final DISTINCT collapses pairs that collided
    in several tables after the cheap in-bucket re-score. Recall is tuned
    by (tables × planes) exactly like MinHash bands; at larger corpora,
    more planes per table keep |bucket| — and therefore both group memory
    and the in-bucket pair count — bounded.

    Integer Gram sums are order-free, so the emitted cosine is
    bit-identical to the DuckDB oracle's 64-term SQL chain — quantization
    is what makes a numpy re-score oracle-exact at all.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Bucket keys over FLAT double columns, never repeated
    # GetArrayItem(embedding, i) trees (those fall out of whole-stage
    # codegen — measured 9.2 s vs 2.8 s for this battery at sf0.1).
    ext = emb.select(
        "vec_id",
        "embedding",
        *[F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_e{i}") for i in range(DIM)],
    )
    # Band bucket as a small int: bit `slot` set iff plane t*PLANES+slot has
    # a non-negative dot — the same key as the oracle's '0'/'1' string,
    # computed in ONE projection (no explode/groupBy: fusing the agg into
    # the wide-projection stage also broke codegen).
    buckets = ext.select(
        "vec_id",
        "embedding",
        F.posexplode(
            F.array(*[F.expr(_bucket_attr_expr(t)) for t in range(LSH_TABLES)])
        ).alias("t", "bucket"),
    )
    return (
        buckets.groupBy("t", "bucket")
        .applyInPandas(_score_bucket, "vec_a long, vec_b long, cosine double")
        .distinct()
    )


# -- IVF (inverted-file) ANN ---------------------------------------------------

N_CENTROIDS = 16
CENTROID_BASE = 100  # vec_id in [100, 116) serve as the deterministic coarse codebook
N_PROBE = 2


#: IVF routing CTEs (cent/assign/probes) — shared verbatim by the IVF-Flat
#: oracle below and the IVF-PQ oracle in operators/pq.py.
IVF_ROUTE_SQL = f"""
    cent AS (
        SELECT vec_id - {CENTROID_BASE} AS cid, embedding AS c_emb FROM embeddings
        WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + N_CENTROIDS}
    ),
    assign AS (  -- each vector -> nearest centroid (cosine, tie on cid)
        SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_dot_duck("v.embedding", "cent.c_emb")}
                                / ({_norm_duck("v.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings v, cent
        ) WHERE rn = 1
    ),
    probes AS (  -- each query -> its {N_PROBE} nearest centroid lists
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_dot_duck("q.embedding", "cent.c_emb")}
                                / ({_norm_duck("q.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings q, cent WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBE}
    )"""

_IVF_ORACLE = f"""
    WITH {IVF_ROUTE_SQL},
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.embedding AS c_emb
        FROM probes p JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_dot_duck("q.embedding", "c.c_emb")}
                   / ({_norm_duck("q.embedding")} * {_norm_duck("c.c_emb")}) AS cosine
        FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


def ivf_route(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """IVF coarse routing, shared by the IVF-Flat and IVF-PQ tiers: returns
    ``(assign, probes)`` where ``assign`` is (vec_id, cid) — every corpus
    vector's nearest-centroid inverted-list id — and ``probes`` is
    (query_id, cid) — each query's ``N_PROBE`` nearest lists.

    Scale shape: assignment is a broadcast of K centroids against the corpus
    (one scan, no shuffle of the big side beyond the list partitioning);
    queries touch K + |probed lists| vectors instead of N. The inverted
    lists ARE a partitioning scheme — at 100 TB, `partitionBy(cid)` on write
    makes each probe a partition-pruned scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # All vector math over FLAT double columns (attribute refs stay inside
    # whole-stage codegen; GetArrayItem trees fall back to interpreted eval —
    # the dedup_embedding_cosine lesson, same 3-4× here).
    emb_flat = emb.select(
        "vec_id",
        *[F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_e{i}") for i in range(DIM)],
    ).withColumn(
        "nrm_e", F.expr("sqrt(" + " + ".join(f"_e{i} * _e{i}" for i in range(DIM)) + ")")
    )
    cent_flat = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
        )
        .select(
            (F.col("vec_id") - CENTROID_BASE).alias("cid"),
            *[
                F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_c{i}")
                for i in range(DIM)
            ],
        )
        .withColumn(
            "nrm_c",
            F.expr("sqrt(" + " + ".join(f"_c{i} * _c{i}" for i in range(DIM)) + ")"),
        )
        # the assignment crossJoin AND the probe crossJoin both consume the
        # codebook; without this the {DIM}-wide flat projection subtree sat
        # twice in every IVF plan — paying its analysis/optimization cost
        # (the dominant per-run cost of these plans: count() re-plans each
        # call, measured ~1.2 s plan vs ~0.15 s exec) and its scan twice.
        # K rows — a config-scale constant at any corpus size. emb_flat is
        # deliberately NOT checkpointed: the probes leg prunes it to
        # vec_id < N_QUERIES at the parquet scan, which a corpus-wide
        # materialization would destroy at scale.
        .localCheckpoint(eager=False)
    )
    dot_ec = "(" + " + ".join(f"_e{i} * _c{i}" for i in range(DIM)) + ")"
    cos_to_cent = F.expr(dot_ec) / (F.col("nrm_e") * F.col("nrm_c"))
    # Nearest-centroid assignment as a partial-aggregable max_by, NOT a
    # row_number window: the window form shuffles the entire corpus ×K to
    # rank K rows per vector; max_by(struct) combines map-side, so the only
    # exchange carries one row per vector (VERDICT r1 "What's wrong" #4).
    # Ordering key struct(cos, -cid) == the oracle's (cos DESC, cid ASC).
    assign = (
        emb_flat.crossJoin(F.broadcast(cent_flat))
        .withColumn("cos", cos_to_cent)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                F.col("cid"),
                F.struct(F.col("cos").alias("cos"), (-F.col("cid")).alias("pref")),
            ).alias("cid")
        )
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    probes = (  # N_QUERIES rows × K centroids — the window here is trivial
        emb_flat.filter(F.col("vec_id") < N_QUERIES)
        .crossJoin(F.broadcast(cent_flat))
        .withColumn("cos", cos_to_cent)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= N_PROBE)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    return assign, probes


def _ivf_exact_rescore(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Exact cosine re-score + per-query top-k over a (query_id, vec_id)
    candidate relation — the tail every IVF tier shares (IVF-Flat and the
    filtered variant; IVF-PQ replaces it with integer ADC)."""

    def rescore_side(tag: str, key: str) -> DataFrame:
        # fresh scan per side: reusing emb_flat's lineage in a self-join of
        # 64-wide projections sends the analyzer into a transform blowup
        e = load_table(spark, sf_dir, "embeddings")
        d = e.select(
            F.col("vec_id").alias(key),
            *[
                F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_{tag}{i}")
                for i in range(DIM)
            ],
        )
        nrm = "sqrt(" + " + ".join(f"_{tag}{i} * _{tag}{i}" for i in range(DIM)) + ")"
        return d.withColumn(f"nrm_{tag}", F.expr(nrm))

    q_side = rescore_side("q", "query_id")
    n_side = rescore_side("n", "vec_id")
    dot_qn = "(" + " + ".join(f"_q{i} * _n{i}" for i in range(DIM)) + ")"
    scored = (
        cand.join(F.broadcast(q_side), "query_id")
        .join(F.broadcast(n_side), "vec_id")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (F.expr(dot_qn) / (F.col("nrm_q") * F.col("nrm_n"))).alias("cosine"),
        )
    )
    w_rank = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register("ann_ivf_topk", oracle=_IVF_ORACLE)
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: coarse routing via :func:`ivf_route`, then an exact
    cosine re-score restricted to the probed inverted lists."""
    assign, probes = ivf_route(spark, sf_dir)
    cand = (
        # broadcast the probe relation (|queries| x N_PROBE rows - the query
        # batch is the small side of an ANN lookup BY DESIGN at any scale):
        # the corpus-sized assignment is never shuffled for this join (r21;
        # the initial plan was a SortMergeJoin shuffling assign by cid)
        F.broadcast(probes).join(assign, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    return _ivf_exact_rescore(spark, sf_dir, cand)


_IVF_FILTERED_ORACLE = f"""
    WITH {IVF_ROUTE_SQL},
    assign_f AS (  -- filter-then-route: the lists shrink BEFORE probing
        SELECT * FROM assign
        WHERE vec_id IN (SELECT doc_id FROM documents
                         WHERE lang = '{_FILTER_LANG}')
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.embedding AS c_emb
        FROM probes p JOIN assign_f a ON a.cid = p.cid AND a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {_dot_duck("q.embedding", "c.c_emb")}
                   / ({_norm_duck("q.embedding")} * {_norm_duck("c.c_emb")}) AS cosine
        FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
    )
    SELECT query_id, neighbor_id, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("ann_ivf_filtered_topk", oracle=_IVF_FILTERED_ORACLE)
def ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered IVF ANN — FILTER-THEN-ROUTE, never
    route-then-filter: the eligibility semi-join (documents.lang =
    '{_FILTER_LANG}') applies to the INVERTED LISTS before probing, so the
    coarse index itself shrinks by the predicate's selectivity and the
    exact re-score touches only eligible members of the probed lists.
    Completes the filtered-search story `ann_filtered_topk` opens: that
    query is the exact (brute-force) filtered tier, this is its scale
    path.

    Why this beats post-filtering an IVF result: filtering AFTER the top-k
    silently under-fills k whenever a probed list is predicate-sparse;
    filtering the candidate set BEFORE ranking returns the exact k best
    eligible members of the probed lists (IVF recall loss — from probing
    nprobe lists — is the only approximation left, the same budget the
    unfiltered tier pays; pinned ≡ filtered-exact on recall@k by
    tests/test_reference_round17.py).

    Scale shape (the real 100 TB payoff VERDICT r16 #4 names): selectivity
    shrinks the PROBED LISTS, not just the scored set — at a billion
    vectors with a 10 % predicate, each probed list is 10× smaller before
    any distance math runs. Routing structures (centroid assignment,
    probes) are predicate-independent and precomputed/broadcast; the lists
    ARE the partitioning key (partitionBy(cid) on write), so the semi-join
    against the eligible-id set is partition-local and the lang predicate
    pushes into the documents scan (PushedFilters). The
    ``F.broadcast(eligible)`` hint is PINNED for the fixture scale — as
    written it forces a broadcast regardless of the eligible set's size;
    at scale the hint would be dropped so AQE / size statistics pick
    broadcast-vs-shuffle semi-join per the predicate's actual
    selectivity, with the rest of the plan unchanged (ADVICE r17 #2).
    """
    assign, probes = ivf_route(spark, sf_dir)
    eligible = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == _FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    assign_f = assign.join(F.broadcast(eligible), "vec_id", "left_semi")
    cand = (
        F.broadcast(probes).join(assign_f, "cid")  # see ann_ivf: query side
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    return _ivf_exact_rescore(spark, sf_dir, cand)


# -- k-NN label classification over the embedding corpus ----------------------

_KNN_K = 10
_KNN_HOLDOUT_MOD = 10  # vec_id % MOD == _KNN_HOLDOUT_REM is the eval slice
_KNN_HOLDOUT_REM = 7


_KNN_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, label AS true_label
        FROM embeddings
        WHERE vec_id % {_KNN_HOLDOUT_MOD} = {_KNN_HOLDOUT_REM}
    ),
    c AS (
        SELECT vec_id AS neighbor_id, embedding AS c_emb, label AS nbr_label
        FROM embeddings
        WHERE vec_id % {_KNN_HOLDOUT_MOD} <> {_KNN_HOLDOUT_REM}
    ),
    scored AS (
        SELECT query_id, true_label, neighbor_id, nbr_label,
               {_dot_duck("q_emb", "c_emb")}
                   / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")}) AS cosine
        FROM q, c
    ),
    ranked AS (
        SELECT query_id, true_label, nbr_label,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ),
    votes AS (
        SELECT query_id, true_label, nbr_label,
               CAST(COUNT(*) AS BIGINT) AS n_votes
        FROM ranked WHERE rank <= {_KNN_K}
        GROUP BY 1, 2, 3
    ),
    pick AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, nbr_label ASC) AS rn
        FROM votes
    )
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(nbr_label AS BIGINT) AS pred_label, n_votes,
           CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END AS correct
    FROM pick WHERE rn = 1
    """


@register("ml_knn_classify", oracle=_KNN_ORACLE)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label classification of a held-out slice (vec_id %
    {_KNN_HOLDOUT_MOD} == {_KNN_HOLDOUT_REM}) against the rest of the
    corpus: top-{_KNN_K} cosine neighbors vote, ties broken by (more
    votes, smaller label) — the standard eval loop for "are these
    embeddings any good", run entirely relationally.

    Rides :func:`cosine_topk` (broadcast queries x corpus, the exact
    baseline), so the ranking doubles are the bit-identical explicit dot
    expressions the ANN ladder already pins; the vote and the argmax are
    integer windows. Scale: eval slices are small by construction —
    broadcast-queries is the right plan; for corpus-scale inference swap
    the neighbor source for the IVF route (ann_ivf_topk) and keep the
    vote/argmax stages unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_holdout = (
        F.col("vec_id") % _KNN_HOLDOUT_MOD == _KNN_HOLDOUT_REM
    )
    queries = emb.filter(is_holdout)
    corpus = emb.filter(~is_holdout)
    nbrs = cosine_topk(queries, corpus, _KNN_K)
    labeled = (
        nbrs.join(
            emb.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nbr_label"),
            ),
            "neighbor_id",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("true_label"),
            ),
            "query_id",
        )
    )
    votes = labeled.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes")
    )
    wv = W.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("nbr_label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("nbr_label").cast("long").alias("pred_label"),
            "n_votes",
            F.when(F.col("nbr_label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("correct"),
        )
    )


@register(
    "ml_confusion_matrix",
    oracle=f"""
    WITH preds AS ({_KNN_ORACLE}),
    cells AS (
        SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
        FROM preds GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cells)
    SELECT true_label, pred_label, n,
           (1000000 * n) // n_total AS share_ppm,
           CASE WHEN true_label = pred_label THEN 1 ELSE 0 END AS on_diagonal
    FROM cells CROSS JOIN tot
    """,
)
def confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the k-NN classifier (ml_knn_classify): per
    (true, predicted) cell counts with exact integer-ppm shares and the
    diagonal flag — the standard eval artifact a model-quality dashboard
    aggregates further (accuracy = sum of diagonal shares).

    Shape: the classifier output collapses to |labels|^2 cells (partial
    agg); the 1-row total broadcasts. Evaluation cost is dominated by the
    classifier itself — the matrix adds one tiny aggregate, which is the
    point of registering it: eval plumbing should be free.
    """
    preds = knn_classify(spark, sf_dir)
    cells = (
        preds.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
        # consumed by the total AND the share projection: without the
        # checkpoint the whole k-NN classifier tower executed twice per
        # action (zero runtime exchange reuse — r21 survey). |labels|^2
        # rows, bounded at any corpus size.
        .localCheckpoint(eager=False)
    )
    tot = cells.agg(F.sum("n").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "true_label",
            "pred_label",
            "n",
            F.expr("(1000000 * n) div n_total").alias("share_ppm"),
            F.when(F.col("true_label") == F.col("pred_label"), 1)
            .otherwise(0)
            .alias("on_diagonal"),
        )
    )


# -- retrieval-quality evaluation: the ANN ladder scored against truth --------


@register(
    "ml_retrieval_eval",
    oracle=f"""
    WITH exact AS ({_COSINE_ORACLE}),
    lsh_t AS ({_LSH_ORACLE}),
    ivf_t AS ({_IVF_ORACLE}),
    approx AS (
        SELECT 'ivf' AS tier, query_id, neighbor_id, rank FROM ivf_t
        UNION ALL
        SELECT 'lsh' AS tier, query_id, neighbor_id, rank FROM lsh_t
    ),
    hits AS (
        SELECT a.tier, a.query_id, a.rank
        FROM approx a JOIN exact e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    ),
    agg AS (
        SELECT tier, query_id, COUNT(*) AS n_hit, MIN(rank) AS first_hit
        FROM hits GROUP BY 1, 2
    ),
    qs AS (SELECT t.tier, q.query_id
           FROM (SELECT DISTINCT query_id FROM exact) q,
                (VALUES ('ivf'), ('lsh')) AS t(tier))
    SELECT q.tier, q.query_id,
           CAST(COALESCE(a.n_hit, 0) AS BIGINT)          AS n_hit,
           CAST((1000000 * COALESCE(a.n_hit, 0)) // {TOP_K}
                AS BIGINT)                               AS recall_ppm,
           CAST(COALESCE(a.first_hit, 0) AS BIGINT)      AS first_hit_rank,
           CAST(CASE WHEN a.first_hit IS NULL THEN 0
                     ELSE 1000000 // a.first_hit END
                AS BIGINT)                               AS mrr_ppm
    FROM qs q LEFT JOIN agg a
      ON a.tier = q.tier AND a.query_id = q.query_id
    """,
)
def retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} and reciprocal rank of BOTH approximate tiers (IVF
    and single-table sign-LSH) against the exact-cosine ground truth — the
    estimator-vs-truth row the sketch family already carries (KMV, HLL,
    MinHash all gate estimates beside exact counts), applied to the ANN
    ladder: the number every probes/planes tuning decision reads. Per
    (tier, query): hits inside the exact top-{TOP_K}, recall in exact
    integer ppm, the approx rank of the first true neighbor, and MRR as
    1e6 div first_hit (integer-exact convention, 0 on a whole-bucket
    miss). On this corpus the IVF tier's probed lists land real neighbors
    while the 8-plane single-table LSH scores zero — scoring both keeps
    the honest zero ROW (tier quality exposed, exactly what the eval is
    for) while the nonzero tier proves the join is live, so the gate can
    never pass vacuously.

    Shape: every tier's output is an {N_QUERIES}x{TOP_K}-bounded relation,
    so the eval is a join of tiny frames — it rides the retrieval plans
    (broadcast query side, bucket/list equi-joins) and adds no new corpus
    scan. At production scale the same query runs over sampled query sets,
    which is exactly how recall monitoring works against a live index."""
    truth = (
        ann_cosine(spark, sf_dir).select("query_id", "neighbor_id")
        # consumed by BOTH the hit join and the per-query scaffold (qs):
        # executed plans get zero runtime exchange reuse (r21 survey), so
        # without this the whole exact-cosine tower ran twice per action.
        # |Q|x{TOP_K} rows — trivially bounded at any corpus size.
        .localCheckpoint(eager=False)
    )
    approx = (
        ann_ivf(spark, sf_dir)
        .select(F.lit("ivf").alias("tier"), "query_id", "neighbor_id", "rank")
        .unionByName(
            ann_lsh(spark, sf_dir).select(
                F.lit("lsh").alias("tier"), "query_id", "neighbor_id", "rank"
            )
        )
    )
    hits = approx.join(truth, ["query_id", "neighbor_id"])
    agg = hits.groupBy("tier", "query_id").agg(
        F.count(F.lit(1)).alias("n_hit_raw"),
        F.min("rank").alias("first_hit_raw"),
    )
    qs = (
        truth.select("query_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                truth.sparkSession.createDataFrame(
                    [("ivf",), ("lsh",)], "tier string"
                )
            )
        )
    )
    return (
        qs.join(agg, ["tier", "query_id"], "left")
        .select(
            "tier",
            "query_id",
            F.coalesce("n_hit_raw", F.lit(0)).cast("long").alias("n_hit"),
            F.expr(f"(1000000 * coalesce(n_hit_raw, 0)) div {TOP_K}")
            .cast("long")
            .alias("recall_ppm"),
            F.coalesce("first_hit_raw", F.lit(0))
            .cast("long")
            .alias("first_hit_rank"),
            F.expr(
                "CASE WHEN first_hit_raw IS NULL THEN 0"
                " ELSE 1000000 div first_hit_raw END"
            )
            .cast("long")
            .alias("mrr_ppm"),
        )
    )


# -- NDCG: graded ranking quality of the approximate tiers --------------------

#: integer discount weights 1e6 / log2(rank + 1) for ranks 1..TOP_K — exact
#: decimal LITERALS shared by both engines, so the one transcendental in
#: NDCG's definition never runs at query time (the repo's ln/log discipline).
_NDCG_W = (1_000_000, 630_930, 500_000, 430_677, 386_853)
assert len(_NDCG_W) == TOP_K
#: ideal DCG: the exact top-K retrieved in order — grades K..1 at ranks 1..K.
_NDCG_IDEAL = sum((TOP_K - i) * w for i, w in enumerate(_NDCG_W))


def _ndcg_weight_case(rank_col: str) -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN {rank_col} = {i + 1} THEN {w}"
            for i, w in enumerate(_NDCG_W)
        )
        + " ELSE 0 END"
    )


@register(
    "ml_ndcg_eval",
    oracle=f"""
    WITH exact AS ({_COSINE_ORACLE}),
    lsh_t AS ({_LSH_ORACLE}),
    ivf_t AS ({_IVF_ORACLE}),
    approx AS (
        SELECT 'ivf' AS tier, query_id, neighbor_id, rank FROM ivf_t
        UNION ALL
        SELECT 'lsh' AS tier, query_id, neighbor_id, rank FROM lsh_t
    ),
    graded AS (
        SELECT a.tier, a.query_id,
               ({TOP_K + 1} - e.rank) * ({_ndcg_weight_case("a.rank")}) AS gain
        FROM approx a JOIN exact e
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    ),
    agg AS (
        SELECT tier, query_id, SUM(gain) AS dcg
        FROM graded GROUP BY 1, 2
    ),
    qs AS (SELECT t.tier, q.query_id
           FROM (SELECT DISTINCT query_id FROM exact) q,
                (VALUES ('ivf'), ('lsh')) AS t(tier))
    SELECT q.tier, q.query_id,
           CAST(COALESCE(a.dcg, 0) AS BIGINT) AS dcg_micro,
           CAST({_NDCG_IDEAL} AS BIGINT)      AS idcg_micro,
           CAST((1000000 * COALESCE(a.dcg, 0)) // {_NDCG_IDEAL}
                AS BIGINT)                    AS ndcg_ppm
    FROM qs q LEFT JOIN agg a
      ON a.tier = q.tier AND a.query_id = q.query_id
    """,
)
def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{TOP_K} of the approximate tiers — the GRADED companion to
    ml_retrieval_eval's recall: recall treats every true neighbor alike,
    NDCG scores finding the BEST neighbors EARLY. Relevance grade of a
    retrieved item = {TOP_K}+1 minus its exact-cosine rank (top truth item
    grades {TOP_K}, item outside the exact top-{TOP_K} grades 0); rank
    discounts are the precomputed integer literals 1e6/log2(rank+1), so
    the metric's one transcendental never executes at query time and both
    engines sum identical integers. The ideal DCG is the perfect-retrieval
    constant (grades {TOP_K}..1 in order), making ndcg_ppm an exact
    integer in [0, 1e6] comparable across queries and tiers.

    Shape: identical composition to ml_retrieval_eval — tiny bounded
    relations joined after the retrieval plans; no new corpus scan."""
    truth = (
        ann_cosine(spark, sf_dir).select(
            "query_id", "neighbor_id", F.col("rank").alias("exact_rank")
        )
        # same two-consumer shape as ml_retrieval_eval: checkpoint the
        # |Q|x{TOP_K}-bounded truth so the exact tower executes once.
        .localCheckpoint(eager=False)
    )
    approx = (
        ann_ivf(spark, sf_dir)
        .select(F.lit("ivf").alias("tier"), "query_id", "neighbor_id", "rank")
        .unionByName(
            ann_lsh(spark, sf_dir).select(
                F.lit("lsh").alias("tier"), "query_id", "neighbor_id", "rank"
            )
        )
    )
    graded = approx.join(truth, ["query_id", "neighbor_id"]).select(
        "tier",
        "query_id",
        F.expr(
            f"({TOP_K + 1} - exact_rank) * ({_ndcg_weight_case('rank')})"
        ).alias("gain"),
    )
    agg = graded.groupBy("tier", "query_id").agg(F.sum("gain").alias("dcg"))
    qs = (
        truth.select("query_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                truth.sparkSession.createDataFrame(
                    [("ivf",), ("lsh",)], "tier string"
                )
            )
        )
    )
    return qs.join(agg, ["tier", "query_id"], "left").select(
        "tier",
        "query_id",
        F.coalesce("dcg", F.lit(0)).cast("long").alias("dcg_micro"),
        F.lit(_NDCG_IDEAL).cast("long").alias("idcg_micro"),
        F.expr(f"(1000000 * coalesce(dcg, 0)) div {_NDCG_IDEAL}")
        .cast("long")
        .alias("ndcg_ppm"),
    )


# -- SemDeDup: semantic dedup over the IVF partition ---------------------------


def _semdedup_oracle() -> str:
    q_cols = ", ".join(
        f"CAST(ROUND(CAST(embedding[{i + 1}] AS DOUBLE) * {DUP_QUANT_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(DIM)
    )
    n2 = "(" + " + ".join(f"q{i} * q{i}" for i in range(DIM)) + ")"
    dotq = "(" + " + ".join(f"qa.q{i} * qb.q{i}" for i in range(DIM)) + ")"
    return f"""
    WITH {IVF_ROUTE_SQL},
    qn AS (
        SELECT *, {n2} AS n2 FROM (SELECT vec_id, {q_cols} FROM embeddings)
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id AS vb
        FROM assign a JOIN assign b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN qn qa ON qa.vec_id = a.vec_id
        JOIN qn qb ON qb.vec_id = b.vec_id
        WHERE qa.n2 > 0 AND qb.n2 > 0  -- zero-norm vectors never pair (both engines)
          AND CAST({dotq} AS DOUBLE)
                  / (sqrt(CAST(qa.n2 AS DOUBLE)) * sqrt(CAST(qb.n2 AS DOUBLE)))
              >= {DUP_COSINE_THRESHOLD}
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cid,
           (vec_id IN (SELECT vb FROM dropped)) AS dropped
    FROM assign
    """


def _semdedup_cluster(pdf):
    """One IVF cluster: mark every member that has a LOWER-id member with
    quantized cosine >= DUP_COSINE_THRESHOLD (keep-first per duplicate
    group). Same integer-Gram discipline as _score_bucket — the
    quantized cosine is bit-identical to the oracle's 64-term SQL chain,
    so the drop decision can't straddle the threshold differently per
    engine."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    cid = pdf["cid"].to_numpy()
    if len(pdf) < 2:
        return pd.DataFrame(
            {"vec_id": ids, "cid": cid, "dropped": np.zeros(len(ids), bool)}
        )
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    s = mat * DUP_QUANT_SCALE
    q = (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)
    norms = np.sqrt((q * q).sum(axis=1).astype(np.float64))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (q @ q.T).astype(np.float64) / np.outer(norms, norms)
    # Zero-norm (degenerate) embeddings are deterministically KEPT and
    # never cause a drop — 0/0 cosine is NaN and DuckDB orders NaN above
    # every number, so deciding at the comparison diverges cross-engine
    # (ADVICE r8). Same rule as _score_bucket, mirrored in the oracle.
    cos[norms == 0, :] = -2.0
    cos[:, norms == 0] = -2.0
    # ids are sorted ascending: strictly-lower triangle = earlier members
    dup = np.tril(cos >= DUP_COSINE_THRESHOLD, k=-1).any(axis=1)
    return pd.DataFrame({"vec_id": ids, "cid": cid, "dropped": dup})


@register("dedup_semdedup_prune", oracle=_semdedup_oracle())
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication that finds
    near-duplicate MEANINGS, not near-duplicate bytes — cluster the
    embedding space coarsely, then compare pairs only WITHIN a cluster
    and keep one representative per duplicate relation. Pairs in
    different clusters are never compared: that is the paper's central
    cost reduction (O(sum k_i^2) instead of O(n^2)), and the clusters
    here are the SAME inverted lists the IVF ANN tier routes with
    (ivf_route) — one partitioning serves search and dedup.

    Keep rule: a vector is DROPPED when a lower-id member of its cluster
    has quantized cosine >= the corpus near-dup threshold
    (DUP_COSINE_THRESHOLD, shared with dedup_embedding_cosine) — the
    deterministic keep-first analogue of the paper's keep-one-per-group;
    its "keep the member farthest from the centroid" variant swaps the
    id order key for centroid distance without touching the plan.

    Physical shape — the dedup_embedding_cosine lesson applied: one
    shuffle (hash by cid), then one applyInPandas per cluster scoring
    the cluster's pairs with a vectorized integer Gram over ONLY that
    cluster's vectors (per-worker memory O(|cluster|*DIM)); a pure-SQL
    64-column self-join form compiled into a pathological codegen plan.
    Quantized integer Gram == the oracle's SQL chain bit-for-bit, which
    is what lets a numpy re-score be oracle-exact at all. At 100 TB the
    lists are partitions (partitionBy(cid)): cluster scoring runs
    partition-local, and list-size balance — which the IVF tier already
    depends on for probe latency — bounds the per-group pair count.
    """
    assign, _ = ivf_route(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    members = assign.join(emb, "vec_id").select("cid", "vec_id", "embedding")
    return (
        members.groupBy("cid")
        .applyInPandas(_semdedup_cluster, "vec_id long, cid long, dropped boolean")
        .select("vec_id", F.col("cid").cast("long").alias("cid"), "dropped")
    )

# -- truncated-prefix prefilter + full-dim rerank (matryoshka retrieval) ------

_TR_DIM = 16  # prefix dimensions scored in the cheap first pass
_TR_SHORTLIST = 32  # candidates per query surviving to the full-dim rerank


def _dot_prefix_spark(a: str, b: str, dim: int) -> str:
    return (
        "("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)" for i in range(dim)
        )
        + ")"
    )


def _dot_prefix_duck(a: str, b: str, dim: int) -> str:
    return (
        "("
        + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
            for i in range(1, dim + 1)
        )
        + ")"
    )


_TRUNC_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
         coarse AS (
           SELECT query_id, neighbor_id, q_emb, c_emb,
                  {_dot_prefix_duck("q_emb", "c_emb", _TR_DIM)}
                      / (sqrt({_dot_prefix_duck("q_emb", "q_emb", _TR_DIM)})
                         * sqrt({_dot_prefix_duck("c_emb", "c_emb", _TR_DIM)}))
                      AS trunc_cos
           FROM q, c WHERE query_id <> neighbor_id
         ),
         short AS (
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY trunc_cos DESC, neighbor_id) AS srank
             FROM coarse
           ) WHERE srank <= {_TR_SHORTLIST}
         ),
         rer AS (
           SELECT query_id, neighbor_id,
                  {_dot_duck("q_emb", "c_emb")}
                      / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")}) AS cosine
           FROM short
         )
    SELECT query_id, neighbor_id, cosine,
           CAST(rank AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer
    ) WHERE rank <= {TOP_K}
    """


@register("ann_truncated_rerank", oracle=_TRUNC_ORACLE)
def ann_truncated_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage matryoshka-style retrieval (Kusupati et al. 2022): score
    every candidate on only the FIRST {_TR_DIM} of {DIM} dimensions (the
    prefix of a matryoshka-trained embedding carries most of the signal),
    shortlist the top {_TR_SHORTLIST} per query, then rerank the
    shortlist with the full-dimension exact cosine and keep the top
    {TOP_K}. The production pattern for memory-bound ANN: the coarse pass
    reads 4× fewer floats per comparison — at 100 TB that is the
    difference between the scan fitting in page cache or not — and the
    exact pass touches only |Q|·{_TR_SHORTLIST} rows.

    Same output contract as the other ANN tiers (query_id, neighbor_id,
    cosine, rank), so ml_retrieval_eval-style recall harnesses can score
    this tier against ann_cosine_topk's exact truth unchanged. Both
    ranking stages break ties by neighbor_id, so the row set is
    deterministic; all dot products are explicit left-associated sums,
    bit-identical cross-engine."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    coarse = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "trunc_cos",
            F.expr(_dot_prefix_spark("q_emb", "c_emb", _TR_DIM))
            / (
                F.sqrt(F.expr(_dot_prefix_spark("q_emb", "q_emb", _TR_DIM)))
                * F.sqrt(F.expr(_dot_prefix_spark("c_emb", "c_emb", _TR_DIM)))
            ),
        )
    )
    w1 = W.partitionBy("query_id").orderBy(F.desc("trunc_cos"), F.asc("neighbor_id"))
    short = coarse.withColumn("srank", F.row_number().over(w1)).filter(
        F.col("srank") <= _TR_SHORTLIST
    )
    rer = short.withColumn(
        "cosine",
        F.expr(_dot_spark("q_emb", "c_emb"))
        / (F.expr(_norm_spark("q_emb")) * F.expr(_norm_spark("c_emb"))),
    )
    w2 = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# -- hybrid dense+sparse retrieval via RRF (deferred: r10 activation) ------------

_RRF_DEPTH = 20  #: candidates taken from each retriever before fusion
_RRF_K = 60  #: the standard RRF smoothing constant (Cormack et al.)
_RRF_TOP = 5  #: fused results emitted per query


@register(
    "ml_hybrid_rrf_fusion",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
    dense AS (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {_dot_duck("q_emb", "c_emb")}
                            / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")})
                            DESC, neighbor_id) AS BIGINT) AS rank_dense
        FROM q, c WHERE query_id <> neighbor_id
        QUALIFY rank_dense <= {_RRF_DEPTH}
    ),
    toks AS (
        SELECT doc_id, UNNEST(list_distinct(
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                         ' '))) AS tok
        FROM documents
    ),
    ov AS (
        SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
               CAST(COUNT(*) AS BIGINT) AS overlap
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        WHERE a.doc_id < {N_QUERIES}
        GROUP BY 1, 2
    ),
    sparse AS (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY overlap DESC, neighbor_id) AS BIGINT) AS rank_sparse
        FROM ov QUALIFY rank_sparse <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(d.query_id, s.query_id) AS query_id,
               COALESCE(d.neighbor_id, s.neighbor_id) AS neighbor_id,
               COALESCE(d.rank_dense, 0) AS rank_dense,
               COALESCE(s.rank_sparse, 0) AS rank_sparse,
               CAST(CASE WHEN d.rank_dense IS NULL THEN 0
                    ELSE 1000000 // ({_RRF_K} + d.rank_dense) END
                  + CASE WHEN s.rank_sparse IS NULL THEN 0
                    ELSE 1000000 // ({_RRF_K} + s.rank_sparse) END
                  AS BIGINT) AS rrf_ppm
        FROM dense d FULL OUTER JOIN sparse s
          ON s.query_id = d.query_id AND s.neighbor_id = d.neighbor_id
    )
    SELECT query_id, neighbor_id, rank_dense, rank_sparse, rrf_ppm,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_ppm DESC, neighbor_id) AS BIGINT) AS fused_rank
    FROM fused QUALIFY fused_rank <= {_RRF_TOP}
    """,
)
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval fused by Reciprocal Rank Fusion
    (Cormack–Clarke–Buettcher): the DENSE list is exact cosine top-
    {_RRF_DEPTH} over the embeddings, the SPARSE list is distinct-token
    overlap top-{_RRF_DEPTH} over the paired documents (vec_id and doc_id
    share the fixture's id space), and each candidate's fused score is
    Σ 1e6/({_RRF_K}+rank) over the lists that returned it — integer
    division, so the score is exact and the fused top-{_RRF_TOP} is
    hash-stable. RRF is THE production hybrid-search combiner precisely
    because it needs no score calibration between retrievers — only
    ranks — which is also what makes it integer-exact here; absent-list
    ranks surface as 0, not NULL, so the row set is canonicalizable.

    Shape: the dense side is the broadcast query×corpus scan the exact
    tier already uses; the sparse side is a token-keyed equi-join (query
    tokens × corpus postings — at scale the inverted-index route);
    fusion is one full-outer equi-join on (query, candidate) over two
    {_RRF_DEPTH}-deep lists — |queries|×{_RRF_DEPTH}-bounded, trivially
    broadcastable — and a per-query top-{_RRF_TOP} window.
    """
    from .text import tokens_col

    emb = load_table(spark, sf_dir, "embeddings")
    dense = (
        cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb, _RRF_DEPTH)
        .select("query_id", "neighbor_id", F.col("rank").alias("rank_dense"))
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.array_distinct(tokens_col())).alias("tok")
    )
    a = toks.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"), "tok"
    )
    b = toks.select(F.col("doc_id").alias("neighbor_id"), "tok")
    ws = W.partitionBy("query_id").orderBy(F.desc("overlap"), F.asc("neighbor_id"))
    sparse = (
        a.join(b, "tok")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
        .withColumn("rank_sparse", F.row_number().over(ws).cast("long"))
        .filter(F.col("rank_sparse") <= _RRF_DEPTH)
        .select("query_id", "neighbor_id", "rank_sparse")
    )
    fused = (
        dense.join(sparse, ["query_id", "neighbor_id"], "full_outer")
        .select(
            "query_id",
            "neighbor_id",
            F.coalesce("rank_dense", F.lit(0)).cast("long").alias("rank_dense"),
            F.coalesce("rank_sparse", F.lit(0)).cast("long").alias("rank_sparse"),
            (
                F.when(F.col("rank_dense").isNull(), 0).otherwise(
                    F.expr(f"1000000 div ({_RRF_K} + rank_dense)")
                )
                + F.when(F.col("rank_sparse").isNull(), 0).otherwise(
                    F.expr(f"1000000 div ({_RRF_K} + rank_sparse)")
                )
            )
            .cast("long")
            .alias("rrf_ppm"),
        )
    )
    wf = W.partitionBy("query_id").orderBy(F.desc("rrf_ppm"), F.asc("neighbor_id"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(wf).cast("long"))
        .filter(F.col("fused_rank") <= _RRF_TOP)
    )


# -- semantic decontamination (r11 queue) -----------------------------------------

_SDECON_TAU_PPM = 900_000  # cosine >= 0.9 against any eval vector = leak


@register(
    "llm_semantic_decontaminate",
    oracle=f"""
    WITH q AS (SELECT vec_id AS eval_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id, embedding AS c_emb FROM embeddings
               WHERE vec_id >= {N_QUERIES}),
         scored AS (
           SELECT c.vec_id, q.eval_id,
                  CAST(FLOOR(1000000 * ({_dot_duck("q_emb", "c_emb")}
                      / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")})))
                      AS BIGINT) AS cos_ppm
           FROM c, q
         )
    SELECT vec_id,
           CAST(MAX(cos_ppm) AS BIGINT) AS max_cos_ppm,
           CAST(MIN(CASE WHEN cos_ppm >= {_SDECON_TAU_PPM}
                         THEN eval_id END) AS BIGINT) AS leaked_from,
           MAX(cos_ppm) >= {_SDECON_TAU_PPM} AS contaminated
    FROM scored GROUP BY 1
    """,
)
def semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space
    counterpart of llm_decontaminate's 8-gram overlap (which paraphrases
    evade): every training vector is scored against the full eval slice
    and flagged when any cosine clears {_SDECON_TAU_PPM} ppm, with the
    lowest-id offending eval vector named for audit. Per-pair cosines
    floor-quantize to ppm BEFORE the per-vector max, so the verdict set
    hashes exactly (the module's shared expression text keeps the doubles
    bit-identical first).

    Shape: broadcast(eval slice) × corpus — ONE pass, the same deliberate
    eval-cost shape as ann_cosine_topk; at corpus scale the eval slice is
    constant-sized, so this is a map-side flat expression over the scan
    (at very large eval sets, route through the IVF lists first and pay
    the probe-sweep recall tradeoff measured by ann_ivf_probe_sweep)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.filter(F.col("vec_id") >= N_QUERIES).select(
        "vec_id", F.col("embedding").alias("c_emb")
    )
    scored = (
        c.join(F.broadcast(q))
        .withColumn(
            "cos_ppm",
            F.expr(
                f"CAST(FLOOR(1000000 * (({_dot_spark('q_emb', 'c_emb')})"
                f" / ({_norm_spark('q_emb')} * {_norm_spark('c_emb')})))"
                " AS BIGINT)"
            ),
        )
        .select("vec_id", "eval_id", "cos_ppm")
    )
    return scored.groupBy("vec_id").agg(
        F.max("cos_ppm").cast("long").alias("max_cos_ppm"),
        F.min(
            F.when(F.col("cos_ppm") >= _SDECON_TAU_PPM, F.col("eval_id"))
        )
        .cast("long")
        .alias("leaked_from"),
        (F.max("cos_ppm") >= _SDECON_TAU_PPM).alias("contaminated"),
    )


# -- IVF probe-count recall sweep (r11 queue) -----------------------------------

_SWEEP_PROBES = (1, 2, 4, 8)  # nprobe grid
_SWEEP_MAX = max(_SWEEP_PROBES)

_SWEEP_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id - {{CB}} AS cid, embedding AS c_emb FROM embeddings
        WHERE vec_id >= {{CB}} AND vec_id < {{CB}} + {{NC}}
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_dot_duck("v.embedding", "cent.c_emb")}
                                / ({_norm_duck("v.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings v, cent
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid, rn FROM (
            SELECT q.vec_id AS query_id, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_dot_duck("q.embedding", "cent.c_emb")}
                                / ({_norm_duck("q.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings q, cent WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {_SWEEP_MAX}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.rn,
               {_dot_duck("q.embedding", "c.embedding")}
                   / ({_norm_duck("q.embedding")} * {_norm_duck("c.embedding")})
                   AS cosine
        FROM probes p
        JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = a.vec_id
    ),
    grid AS (SELECT UNNEST([{", ".join(str(p) for p in _SWEEP_PROBES)}]) AS nprobe),
    approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT g.nprobe, s.query_id, s.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY g.nprobe, s.query_id
                                      ORDER BY s.cosine DESC, s.neighbor_id)
                       AS arank
            FROM scored s JOIN grid g ON s.rn <= g.nprobe
        ) WHERE arank <= {TOP_K}
    ),
    gt AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_dot_duck("q.embedding", "c.embedding")}
                                / ({_norm_duck("q.embedding")} * {_norm_duck("c.embedding")})
                                DESC, c.vec_id) AS rank
            FROM embeddings q, embeddings c
            WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT CAST(g.nprobe AS BIGINT) AS nprobe,
           gt.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // {TOP_K}
                AS BIGINT) AS recall_ppm
    FROM gt CROSS JOIN grid g
    LEFT JOIN approx a ON a.nprobe = g.nprobe
                      AND a.query_id = gt.query_id
                      AND a.neighbor_id = gt.neighbor_id
    GROUP BY 1, 2
    """.replace("{CB}", str(CENTROID_BASE)).replace("{NC}", str(N_CENTROIDS))


def _probe_sweep_impl(
    spark: SparkSession, sf_dir: str, eligible: DataFrame | None = None
) -> DataFrame:
    """Shared probe-sweep body for the unfiltered and filtered recall
    curves (ADVICE r17 #1: the two registered sweeps previously carried
    two ~90-line copies of the codegen-sensitive vector-flattening idiom;
    this is the `_ivf_exact_rescore` factoring applied to the sweep tail).

    ``eligible`` is an optional one-column (vec_id) DataFrame; ``None``
    means the unfiltered sweep. When present it is semi-joined onto BOTH
    the (vec_id, cid) assignment relation (filter-then-route — the
    inverted lists shrink before probing) and the ground-truth corpus
    (the truth set is the eligible corpus, not a post-filtered slice).

    Plan-preservation note: with ``eligible=None`` this builds the exact
    DataFrame graph `ann_ivf_probe_sweep` always built — its optimized
    plan was md5-pinned byte-identical before/after the extraction
    (e1ba9395fc6998594d32fe8dadad5747, fresh-session deterministic). The
    filtered caller now constructs ``eligible`` before the embeddings
    scan, which only re-orders expression-ID allocation; its plan is
    structurally unchanged and was re-verified against the DuckDB oracle
    at sf0.001 and sf0.01 post-refactor (the name is never
    driver-verified, so no changed-list entry either way).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    emb_flat = emb.filter(F.col("vec_id") < N_QUERIES).select(
        "vec_id",
        *[
            F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_e{i}")
            for i in range(DIM)
        ],
    ).withColumn(
        "nrm_e",
        F.expr("sqrt(" + " + ".join(f"_e{i} * _e{i}" for i in range(DIM)) + ")"),
    )
    cent_flat = (
        load_table(spark, sf_dir, "embeddings")
        .filter(
            (F.col("vec_id") >= CENTROID_BASE)
            & (F.col("vec_id") < CENTROID_BASE + N_CENTROIDS)
        )
        .select(
            (F.col("vec_id") - CENTROID_BASE).alias("cid"),
            *[
                F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_c{i}")
                for i in range(DIM)
            ],
        )
        .withColumn(
            "nrm_c",
            F.expr(
                "sqrt(" + " + ".join(f"_c{i} * _c{i}" for i in range(DIM)) + ")"
            ),
        )
    )
    dot_ec = "(" + " + ".join(f"_e{i} * _c{i}" for i in range(DIM)) + ")"
    w_probe = W.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    probes = (
        emb_flat.crossJoin(F.broadcast(cent_flat))
        .withColumn("cos", F.expr(dot_ec) / (F.col("nrm_e") * F.col("nrm_c")))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= _SWEEP_MAX)
        .select(F.col("vec_id").alias("query_id"), "cid", "rn")
    )
    assign, _ = ivf_route(spark, sf_dir)
    if eligible is not None:
        # filter-then-route: the lists shrink BEFORE probing
        assign = assign.join(F.broadcast(eligible), "vec_id", "left_semi")
    cand = (
        F.broadcast(probes).join(assign, "cid")  # see ann_ivf: query side
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rn")
    )

    def side(tag: str, key: str) -> DataFrame:
        # fresh scan per side (the ann_ivf_topk analyzer-blowup lesson)
        e = load_table(spark, sf_dir, "embeddings")
        d = e.select(
            F.col("vec_id").alias(key),
            *[
                F.expr(f"CAST(embedding[{i}] AS DOUBLE)").alias(f"_{tag}{i}")
                for i in range(DIM)
            ],
        )
        nrm = "sqrt(" + " + ".join(f"_{tag}{i} * _{tag}{i}" for i in range(DIM)) + ")"
        return d.withColumn(f"nrm_{tag}", F.expr(nrm))

    qs, cs = side("q", "query_id"), side("v", "neighbor_id")
    dot_qv = "(" + " + ".join(f"_q{i} * _v{i}" for i in range(DIM)) + ")"
    scored = (
        cand.join(F.broadcast(qs), "query_id")
        .join(cs, "neighbor_id")
        .withColumn(
            "cosine", F.expr(dot_qv) / (F.col("nrm_q") * F.col("nrm_v"))
        )
        .select("query_id", "neighbor_id", "rn", "cosine")
    )
    grid = spark.createDataFrame(
        [(p,) for p in _SWEEP_PROBES], "nprobe long"
    )
    wa = W.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    approx = (
        scored.join(F.broadcast(grid), F.col("rn") <= F.col("nprobe"))
        .withColumn("arank", F.row_number().over(wa))
        .filter(F.col("arank") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    corpus = (
        emb
        if eligible is None
        else emb.join(F.broadcast(eligible), "vec_id", "left_semi")
    )
    gt = cosine_topk(
        emb.filter(F.col("vec_id") < N_QUERIES), corpus, TOP_K
    ).select("query_id", "neighbor_id")
    return (
        gt.crossJoin(F.broadcast(grid))
        .join(approx, ["nprobe", "query_id", "neighbor_id"], "left")
        .groupBy("nprobe", "query_id")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
            F.expr(
                f"(1000000 * SUM(COALESCE(hit, 0))) div {TOP_K}"
            )
            .cast("long")
            .alias("recall_ppm"),
        )
    )


@register("ann_ivf_probe_sweep", oracle=_SWEEP_ORACLE)
def ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning table: recall@{TOP_K} against exact-cosine ground
    truth for every probe count in {_SWEEP_PROBES}, per query — the
    recall-vs-cost curve an ANN deployment reads to pick nprobe (each
    +probe multiplies scan cost by ~1/{N_CENTROIDS} of the corpus; this
    table says what recall it buys). ann_ivf_topk pins ONE operating
    point; the sweep pins the whole curve, including the monotonicity a
    routing bug would break (recall can only grow with nprobe — the
    candidate set is nested).

    Shape: centroid ranking is queries×K (trivial); candidates come from
    the probed inverted lists at the LARGEST grid point once, each tagged
    with the rank of its list (a vector belongs to exactly one list, so
    reachability at nprobe=p is the map-side predicate rn <= p — the grid
    re-ranks the SAME scored relation four ways, never re-scanning). The
    only corpus-scale joins are the list-keyed candidate join and the
    exact ground-truth eval slice (broadcast queries x corpus — the same
    deliberate cost ann_cosine_topk already pays as the accuracy bar).
    Output is integer hits/ppm — no float leaves the plan.
    Body shared with the filtered sweep via ``_probe_sweep_impl``
    (optimized plan md5-pinned byte-identical across the extraction).
    """
    return _probe_sweep_impl(spark, sf_dir)


# -- FILTERED IVF probe-count recall sweep (r18 queue) ---------------------------

_FILTERED_SWEEP_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id - {CENTROID_BASE} AS cid, embedding AS c_emb FROM embeddings
        WHERE vec_id >= {CENTROID_BASE} AND vec_id < {CENTROID_BASE + N_CENTROIDS}
    ),
    elig AS (SELECT doc_id FROM documents WHERE lang = '{_FILTER_LANG}'),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_dot_duck("v.embedding", "cent.c_emb")}
                                / ({_norm_duck("v.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings v, cent
        ) WHERE rn = 1
    ),
    assign_f AS (  -- filter-then-route: the lists shrink BEFORE probing
        SELECT * FROM assign WHERE vec_id IN (SELECT doc_id FROM elig)
    ),
    probes AS (
        SELECT query_id, cid, rn FROM (
            SELECT q.vec_id AS query_id, cent.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_dot_duck("q.embedding", "cent.c_emb")}
                                / ({_norm_duck("q.embedding")} * {_norm_duck("cent.c_emb")})
                                DESC, cent.cid) AS rn
            FROM embeddings q, cent WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {_SWEEP_MAX}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.rn,
               {_dot_duck("q.embedding", "c.embedding")}
                   / ({_norm_duck("q.embedding")} * {_norm_duck("c.embedding")})
                   AS cosine
        FROM probes p
        JOIN assign_f a ON a.cid = p.cid AND a.vec_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = a.vec_id
    ),
    grid AS (SELECT UNNEST([{", ".join(str(p) for p in _SWEEP_PROBES)}]) AS nprobe),
    approx AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT g.nprobe, s.query_id, s.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY g.nprobe, s.query_id
                                      ORDER BY s.cosine DESC, s.neighbor_id)
                       AS arank
            FROM scored s JOIN grid g ON s.rn <= g.nprobe
        ) WHERE arank <= {TOP_K}
    ),
    gt AS (  -- FILTERED exact ground truth: the k best ELIGIBLE neighbors
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_dot_duck("q.embedding", "c.embedding")}
                                / ({_norm_duck("q.embedding")} * {_norm_duck("c.embedding")})
                                DESC, c.vec_id) AS rank
            FROM embeddings q, embeddings c
            WHERE q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
              AND c.vec_id IN (SELECT doc_id FROM elig)
        ) WHERE rank <= {TOP_K}
    )
    SELECT CAST(g.nprobe AS BIGINT) AS nprobe,
           gt.query_id,
           CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST((1000000 * SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // {TOP_K}
                AS BIGINT) AS recall_ppm
    FROM gt CROSS JOIN grid g
    LEFT JOIN approx a ON a.nprobe = g.nprobe
                      AND a.query_id = gt.query_id
                      AND a.neighbor_id = gt.neighbor_id
    GROUP BY 1, 2
    """


@register("ann_filtered_probe_sweep", oracle=_FILTERED_SWEEP_ORACLE)
def filtered_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERED IVF tuning table — recall@{TOP_K} against the
    filtered-exact ground truth for every probe count in {_SWEEP_PROBES},
    per query, with the eligibility semi-join applied to the inverted
    lists BEFORE probing (the `ann_ivf_filtered_topk` route). Completes
    the filtered-search story's third leg: the exact tier pins the
    answer, the IVF tier pins the scale path, and this sweep pins the
    curve an operator actually reads to TUNE it — the known production
    effect that a selective predicate empties some probed lists, so
    filtered search needs MORE probes than unfiltered for the same
    recall (Milvus/FAISS operational guidance made measurable).
    Monotonicity still holds (candidate sets are nested in nprobe) and is
    pinned per query by the r17 reference test, which also cross-checks
    hits against a literal Python filter-then-route walk.

    Shape: identical to ann_ivf_probe_sweep — the filtered lists are
    scored ONCE at the largest grid point, each candidate tagged with its
    list's probe rank, and the grid re-ranks the same relation four ways
    (rn <= nprobe is a map-side predicate, never a re-scan). The filter
    is the same broadcast semi-join the filtered tiers share, applied to
    the (vec_id, cid) assignment relation — at 100 TB it shrinks every
    probed list by the predicate's selectivity before any distance math.
    The filtered-exact ground truth is the same deliberate broadcast
    eval-slice cost `ann_filtered_topk` already pays as the accuracy bar.
    Output is integer hits/ppm — no float leaves the plan.
    Body shared with the unfiltered sweep via ``_probe_sweep_impl`` —
    the only filtered-specific code left is the eligible-ids relation.
    """
    eligible = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang") == _FILTER_LANG)
        .select(F.col("doc_id").alias("vec_id"))
    )
    return _probe_sweep_impl(spark, sf_dir, eligible)


# -- rank-biased overlap between retrievers (r12 queue) --------------------------------

_RBO_DEPTH = 10  # evaluation depth k
#: RBO persistence p = 1/2 — the one DYADIC choice, which is what makes the
#: statistic exact: truncated RBO_k = (1-p) Σ_{d<=k} p^(d-1)·|A_d|/d
#: = Σ A_d / (d·2^d), an integer rational over D = lcm(1..k)·2^k.
_RBO_DEN = 2520 * (2 ** _RBO_DEPTH)  # lcm(1..10) * 2^10 = 2580480
#: per-item closed form: an item common to both lists with worst rank m
#: contributes W(m) = Σ_{d=m..k} (lcm/d)·2^(k-d) to the numerator — the
#: per-depth intersection sum re-indexed per item, so no depth explode.
_RBO_W = {
    m: sum((2520 // d) * 2 ** (_RBO_DEPTH - d) for d in range(m, _RBO_DEPTH + 1))
    for m in range(1, _RBO_DEPTH + 1)
}
_RBO_W_SQL = (
    "CASE GREATEST(rank_dense, rank_sparse) "
    + " ".join(f"WHEN {m} THEN {w}" for m, w in _RBO_W.items())
    + " ELSE 0 END"
)


@register(
    "ml_rank_biased_overlap",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
    dense AS (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY {_dot_duck("q_emb", "c_emb")}
                            / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")})
                            DESC, neighbor_id) AS BIGINT) AS rank_dense
        FROM q, c WHERE query_id <> neighbor_id
        QUALIFY rank_dense <= {_RBO_DEPTH}
    ),
    toks AS (
        SELECT doc_id, UNNEST(list_distinct(
            string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                         ' '))) AS tok
        FROM documents
    ),
    ov AS (
        SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
               CAST(COUNT(*) AS BIGINT) AS overlap
        FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
        WHERE a.doc_id < {N_QUERIES}
        GROUP BY 1, 2
    ),
    sparse AS (
        SELECT query_id, neighbor_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY overlap DESC, neighbor_id) AS BIGINT) AS rank_sparse
        FROM ov QUALIFY rank_sparse <= {_RBO_DEPTH}
    ),
    common AS (
        SELECT d.query_id, {_RBO_W_SQL} AS w
        FROM dense d JOIN sparse s
          ON s.query_id = d.query_id AND s.neighbor_id = d.neighbor_id
    ),
    agg AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
               CAST((1000000 * SUM(w)) // {_RBO_DEN} AS BIGINT) AS rbo_ppm
        FROM common GROUP BY 1
    )
    SELECT ql.query_id, COALESCE(a.n_common, 0) AS n_common,
           COALESCE(a.rbo_ppm, 0) AS rbo_ppm
    FROM (SELECT DISTINCT query_id FROM dense) ql
    LEFT JOIN agg a USING (query_id)
    """,
)
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the dense-cosine
    and sparse token-overlap retrievers at depth {_RBO_DEPTH} — "how much
    do my two retrievers agree, weighted toward the top?" — the
    top-weighted list-similarity that tells you whether hybrid fusion
    (ml_hybrid_rrf_fusion) is adding signal (low RBO = complementary
    lists) or redundancy (high RBO). Persistence p = 1/2 is the one
    DYADIC choice, making truncated RBO an exact integer rational: each
    common item with worst rank m contributes the closed-form weight
    W(m) = Σ over d≥m of (lcm/d)·2^(k−d), denominator lcm(1..k)·2^k — the
    per-depth intersection sum re-indexed per ITEM, so no depth explode
    exists in either engine. Truncation bounds RBO at 1 − 2^−k.

    Fixture honesty: the embedding and document modalities are
    INDEPENDENT synthetic data, so the two retrievers agree on almost
    nothing (RBO ≈ 0 at both gate scales, one overlapping item at
    sf0.01) — which is exactly the "fusion adds signal" reading; the
    gate still pins the join, the weight table, and the zero-fill.

    Shape: both ranked lists are the shared shapes from the RRF fusion
    (broadcast query×corpus scan; token-keyed equi-join); the RBO itself
    is one equi-join of two |Q|×{_RBO_DEPTH} lists and a |Q|-row rollup —
    constant beyond the list builds."""
    from .text import tokens_col

    emb = load_table(spark, sf_dir, "embeddings")
    dense = (
        cosine_topk(emb.filter(F.col("vec_id") < N_QUERIES), emb, _RBO_DEPTH)
        .select("query_id", "neighbor_id", F.col("rank").alias("rank_dense"))
        # consumed by the common join AND the query scaffold (ql): the
        # whole broadcast-cosine tower executed twice per action (zero
        # runtime exchange reuse — r21 survey). |Q|×depth rows.
        .localCheckpoint(eager=False)
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens_col())).alias("tok")
        # both sides of the token self-join: tokenize + explode once, not
        # twice. One row per (doc, distinct token): corpus-scale, not narrow.
    ).localCheckpoint(eager=False)
    ov = (
        toks.filter(F.col("doc_id") < N_QUERIES)
        .withColumnRenamed("doc_id", "query_id")
        .join(
            toks.withColumnRenamed("doc_id", "neighbor_id"),
            "tok",
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
    )
    w_sp = W.partitionBy("query_id").orderBy(
        F.desc("overlap"), F.asc("neighbor_id")
    )
    sparse = (
        ov.withColumn("rank_sparse", F.row_number().over(w_sp).cast("long"))
        .filter(F.col("rank_sparse") <= _RBO_DEPTH)
        .select("query_id", "neighbor_id", "rank_sparse")
    )
    common = dense.join(sparse, ["query_id", "neighbor_id"]).select(
        "query_id", F.expr(_RBO_W_SQL).alias("w")
    )
    agg = common.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.expr(f"CAST((1000000 * SUM(w)) div {_RBO_DEN} AS BIGINT)").alias(
            "rbo_ppm"
        ),
    )
    ql = dense.select("query_id").distinct()
    return ql.join(agg, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        F.coalesce(F.col("rbo_ppm"), F.lit(0)).cast("long").alias("rbo_ppm"),
    )


# -- MMR diversified top-k (r12 queue) -----------------------------------------------

_MMR_POOL = 12  # relevance candidates per query feeding the greedy stage
_MMR_K = 4  # diversified picks per query


def _mmr_cand_sql() -> str:
    """Shared CTE text: quantized-relevance candidate pool + pairwise
    candidate sims (DuckDB spelling; the Spark side builds the identical
    relations with DataFrames)."""
    return f"""
    q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id,
               CAST(ROUND(1000000 * ({_dot_duck("q_emb", "c_emb")}
                    / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")})))
                    AS BIGINT) AS rel
        FROM q, c WHERE query_id <> neighbor_id
    ),
    cand AS (
        SELECT query_id, neighbor_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, neighbor_id) AS rn
            FROM scored
        ) WHERE rn <= {_MMR_POOL}
    ),
    pe AS (
        SELECT cand.query_id, cand.neighbor_id, cand.rel, e.embedding
        FROM cand JOIN embeddings e ON e.vec_id = cand.neighbor_id
    ),
    pairs AS (
        SELECT x.query_id, x.neighbor_id AS a_id, y.neighbor_id AS b_id,
               CAST(ROUND(1000000 * ({_dot_duck("x.embedding", "y.embedding")}
                    / ({_norm_duck("x.embedding")} * {_norm_duck("y.embedding")})))
                    AS BIGINT) AS sim
        FROM pe x JOIN pe y
          ON x.query_id = y.query_id AND x.neighbor_id <> y.neighbor_id
    )"""


def _mmr_steps_sql() -> str:
    """Unrolled greedy steps s1..s{_MMR_K}: argmax relevance first, then
    argmax of (rel − max sim to selected) over the not-yet-selected."""
    parts = [
        """
    s1 AS (
        SELECT query_id, neighbor_id, rel, CAST(1 AS BIGINT) AS step,
               rel AS score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel DESC, neighbor_id) AS rn
              FROM cand) WHERE rn = 1
    ),
    sel1 AS (SELECT * FROM s1)"""
    ]
    for i in range(2, _MMR_K + 1):
        parts.append(f"""
    m{i} AS (
        SELECT c.query_id, c.neighbor_id, c.rel, MAX(p.sim) AS ms
        FROM cand c
        JOIN pairs p ON p.query_id = c.query_id AND p.a_id = c.neighbor_id
        JOIN sel{i - 1} s ON s.query_id = p.query_id
                         AND s.neighbor_id = p.b_id
        WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} z
                          WHERE z.query_id = c.query_id
                            AND z.neighbor_id = c.neighbor_id)
        GROUP BY 1, 2, 3
    ),
    s{i} AS (
        SELECT query_id, neighbor_id, rel, CAST({i} AS BIGINT) AS step,
               rel - ms AS score
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                           ORDER BY rel - ms DESC, neighbor_id)
                        AS rn
              FROM m{i}) WHERE rn = 1
    ),
    sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i})""")
    return ",".join(parts)


@register(
    "ml_mmr_diversified_topk",
    oracle=f"""
    WITH {_mmr_cand_sql()}, {_mmr_steps_sql()}
    SELECT query_id, neighbor_id, step, rel AS rel_micro,
           CAST(score AS BIGINT) AS score_micro
    FROM sel{_MMR_K}
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998):
    from each query's top-{_MMR_POOL} relevance pool, greedily pick
    {_MMR_K} results maximizing 2·MMR_λ=½ = rel − max_sim_to_selected —
    the diversity pass RAG retrieval stacks and dedup-aware search run
    AFTER ann_*_topk, so near-identical chunks don't crowd the context
    window (complements dedup_semdedup_prune, which drops near-dups from
    the corpus; MMR tolerates them and diversifies per query).

    Determinism: relevance and pairwise sims quantize to integer micro
    BEFORE any comparison (the cosine doubles are bit-identical by this
    module's fixed-order expressions), every argmax tie-breaks by
    neighbor_id, and scores stay integer throughout — the greedy loop
    itself runs on plain Python ints, so no float exists past the
    quantization. The oracle unrolls the same {_MMR_K} greedy steps as
    chained CTEs.

    Shape: the pool build is the same broadcast crossJoin + per-query
    window as ann_cosine_topk; after it everything is bounded by
    |Q|·{_MMR_POOL} rows (pairs: |Q|·{_MMR_POOL}²). The greedy stage is
    CONSTANT-SIZE per query, so it runs as ONE cogrouped applyInPandas
    over (cand, pairs) — one shuffle on query_id, one Arrow batch per
    query, O(k·pool) integer argmax inside. The first cut composed the
    {_MMR_K} steps as a lazy join ladder instead; measured at sf0.001
    it ran 11.2 s un-checkpointed (every step re-ran the corpus-scale
    scoring), 3.5–4.4 s with cand/pairs/sel localCheckpoints (6 jobs of
    pure scheduling overhead for 40 output rows) vs 1.5–1.8 s for this
    cogroup, all three hash-identical — recorded in NOTES_r12 so later
    rounds don't re-try the ladder. At 100 TB only the pool build
    scales (swap in the IVF/LSH candidate stage); the cogroup shuffles
    |Q|·(pool + pool²) bounded rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "rel",
            F.expr(
                f"CAST(ROUND(1000000 * ({_dot_spark('q_emb', 'c_emb')}"
                f" / ({_norm_spark('q_emb')} * {_norm_spark('c_emb')})))"
                " AS BIGINT)"
            ),
        )
    )
    w_rel = W.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id")
    )
    # lazy checkpoint: cand feeds BOTH the pair build (twice, as x and y)
    # and the cogroup input — one lineage cut keeps the corpus-scale
    # scoring single-pass
    cand = (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_POOL)
        .select("query_id", "neighbor_id", "rel")
        .localCheckpoint(eager=False)
    )
    pe = cand.join(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        "neighbor_id",
    )
    x = pe.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
    )
    y = pe.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
    )
    pairs = (
        x.join(y, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            # fresh alias: pairs shares cand's lineage, and cogroup's
            # analyzer rejects the same query_id attribute on both sides
            F.col("query_id").alias("query_id"),
            "a_id",
            "b_id",
            F.expr(
                f"CAST(ROUND(1000000 * ({_dot_spark('a_emb', 'b_emb')}"
                f" / ({_norm_spark('a_emb')} * {_norm_spark('b_emb')})))"
                " AS BIGINT)"
            ).alias("sim"),
        )
    )

    def _greedy(cand_pdf, pairs_pdf):  # one query's pool per Arrow batch
        import pandas as pd

        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "neighbor_id", "step", "rel", "score"]
            )
        qid = int(cand_pdf["query_id"].iloc[0])
        # argmax rel, ties by neighbor_id ASC == max over (rel, -nid)
        rel_of = {
            int(n): int(r)
            for n, r in zip(cand_pdf["neighbor_id"], cand_pdf["rel"])
        }
        sim = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(
                pairs_pdf["a_id"], pairs_pdf["b_id"], pairs_pdf["sim"]
            )
        }
        remaining = set(rel_of)
        out = []
        first = max(remaining, key=lambda n: (rel_of[n], -n))
        out.append((qid, first, 1, rel_of[first], rel_of[first]))
        remaining.discard(first)
        selected = [first]
        for step in range(2, _MMR_K + 1):
            if not remaining:
                break
            best, best_score = None, None
            for n in remaining:
                ms = max(sim[(n, s)] for s in selected)
                score = rel_of[n] - ms
                if (
                    best is None
                    or score > best_score
                    or (score == best_score and n < best)
                ):
                    best, best_score = n, score
            out.append((qid, best, step, rel_of[best], best_score))
            remaining.discard(best)
            selected.append(best)
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "step", "rel", "score"]
        )

    sel = (
        cand.groupBy("query_id")
        .cogroup(pairs.groupBy("query_id"))
        .applyInPandas(
            _greedy,
            "query_id long, neighbor_id long, step long, rel long, score long",
        )
    )
    return sel.select(
        "query_id",
        "neighbor_id",
        "step",
        F.col("rel").alias("rel_micro"),
        F.col("score").cast("long").alias("score_micro"),
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
