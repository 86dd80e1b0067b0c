"""Composite LLM training-data preparation pipeline.

The individual operators (quality scoring, exact/near dedup, token
counting) compose into the standard corpus-cleaning funnel:

    raw documents
      → quality gate      (length / stopword-ratio heuristics)
      → exact dedup       (normalized-content hash, keep lowest doc_id)
      → near-dup drop     (MinHash-LSH candidate pairs → drop the higher id)
      → token accounting  (per-language corpus statistics)

Registered as ONE query so the full funnel is hash-checked end-to-end — the
pipeline a user would actually run, not just its pieces. Every stage is a
shuffle-bounded relational op (no stage is O(n²)); at 100 TB the funnel is
exactly this plan with more partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .dedup import lsh_pairs_staged
from .text import quality_score, tokens_col

__all__ = ["prepare_corpus"]


def prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel, returning the surviving documents (doc_id, lang,
    ws_tokens)."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    quality = quality_score(spark, sf_dir).filter(F.col("passes_quality"))
    kept = docs.join(quality.select("doc_id"), "doc_id", "left_semi")

    # exact dedup: keep the lowest doc_id per normalized content
    from .text import norm_text_col

    w_min = (
        kept.select("doc_id", F.md5(norm_text_col()).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    kept = kept.join(
        w_min.select(F.col("keep_id").alias("doc_id")), "doc_id", "left_semi"
    )

    # near-dup drop: for each MinHash-LSH candidate pair, drop the higher id
    pairs = lsh_pairs_staged(spark, sf_dir)
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = kept.join(losers, "doc_id", "left_anti")
    return kept.select(
        "doc_id", "lang", F.size(tokens_col()).cast("int").alias("ws_tokens")
    )


# the oracle re-states the funnel in SQL over the same building blocks the
# per-operator oracles already pin down (quality predicate, md5 dedup,
# minhash bands — see text.py / dedup.py for the shared fragments)
from .dedup import _MINHASH_ORACLE  # noqa: E402
from .dedup import _SHINGLES_SQL, _doc_shingles  # noqa: E402
from .text import _NORM_SQL, _TOKENS_SQL  # noqa: E402

_QUALITY_PRED = f"""
    (len({_TOKENS_SQL}) BETWEEN 20 AND 1000)
    AND CAST(len(list_filter({_TOKENS_SQL},
         t -> t IN ('the','a','and','of','is','to','in'))) AS DOUBLE)
         / CAST(NULLIF(len({_TOKENS_SQL}), 0) AS DOUBLE) >= 0.01
"""

_PREP_ORACLE = f"""
WITH quality AS (
    SELECT * FROM documents WHERE {_QUALITY_PRED}
),
exact_kept AS (
    SELECT * FROM quality WHERE doc_id IN (
        SELECT MIN(doc_id) FROM quality GROUP BY md5({_NORM_SQL})
    )
),
near_losers AS (
    SELECT DISTINCT doc_b AS doc_id FROM ({_MINHASH_ORACLE.strip()})
)
SELECT doc_id, lang, CAST(len({_TOKENS_SQL}) AS INTEGER) AS ws_tokens
FROM exact_kept
WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
"""


@register("llm_prepare_corpus", oracle=_PREP_ORACLE)
def llm_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return prepare_corpus(spark, sf_dir)


@register(
    "llm_corpus_stats",
    oracle=f"""
    WITH quality AS (
        SELECT * FROM documents WHERE {_QUALITY_PRED}
    ),
    exact_kept AS (
        SELECT * FROM quality WHERE doc_id IN (
            SELECT MIN(doc_id) FROM quality GROUP BY md5({_NORM_SQL})
        )
    ),
    near_losers AS (
        SELECT DISTINCT doc_b AS doc_id FROM ({_MINHASH_ORACLE.strip()})
    ),
    corpus AS (
        SELECT doc_id, lang, len({_TOKENS_SQL}) AS ws_tokens
        FROM exact_kept
        WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)          AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT)    AS total_tokens,
           CAST(MIN(ws_tokens) AS INTEGER)   AS min_tokens,
           CAST(MAX(ws_tokens) AS INTEGER)   AS max_tokens
    FROM corpus
    GROUP BY lang
    """,
)
def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language accounting of the cleaned corpus — the token-budget
    report a training run starts from."""
    corpus = prepare_corpus(spark, sf_dir)
    return corpus.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").cast("long").alias("total_tokens"),
        F.min("ws_tokens").cast("int").alias("min_tokens"),
        F.max("ws_tokens").cast("int").alias("max_tokens"),
    )


# -- decontamination ----------------------------------------------------------

_DECON_NGRAM = 8  # word 8-grams: the standard exact-overlap decontamination unit


@register(
    "llm_decontaminate",
    oracle=f"""
    WITH bench AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents WHERE doc_id < 5
    ),
    bench_grams AS (
        SELECT DISTINCT UNNEST([array_to_string(toks[i:i+{_DECON_NGRAM - 1}], ' ')
                        for i in range(1, GREATEST(len(toks) - {_DECON_NGRAM - 2}, 2))]) AS gram
        FROM bench
    ),
    corpus AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents WHERE doc_id >= 5
    ),
    corpus_grams AS (
        SELECT doc_id, UNNEST([array_to_string(toks[i:i+{_DECON_NGRAM - 1}], ' ')
                       for i in range(1, GREATEST(len(toks) - {_DECON_NGRAM - 2}, 2))]) AS gram
        FROM corpus
    )
    SELECT doc_id, CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_contaminated_grams
    FROM corpus_grams
    WHERE gram IN (SELECT gram FROM bench_grams)
    GROUP BY doc_id
    """,
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    8-gram with the benchmark set (here: doc_id < 5 stand in for a held-out
    eval set).

    Physical shape: benchmark grams are tiny → broadcast; the corpus side
    explodes its grams once and semi-joins — O(corpus grams), no pair blowup.
    At 100 TB the benchmark side stays a broadcast (eval sets are small by
    definition), so the plan shape is scale-invariant.
    """
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    k = _DECON_NGRAM

    def grams(df: DataFrame) -> DataFrame:
        toked = df.select("doc_id", tokens_col().alias("toks"))
        return toked.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size(toks) - {k - 1}, 1)),"
                    f" i -> array_join(slice(toks, i, {k}), ' '))"
                )
            ).alias("gram"),
        )

    bench_grams = grams(docs.filter(F.col("doc_id") < 5)).select("gram").distinct()
    corpus_grams = grams(docs.filter(F.col("doc_id") >= 5))
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_grams"))
    )


@register(
    "llm_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                '\d{3}[-. ]\d{3,4}[-. ]\d{4}', '<PHONE>', 'g'),
                '\d{6,}', '<NUM>', 'g'))                        AS scrubbed_md5,
           CAST(length(text) - length(regexp_replace(text, '\d', '', 'g'))
                AS INTEGER)                                      AS n_digits
    FROM documents
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email / phone / long-number redaction as chained
    regexp_replace — pure codegen'd expressions (the hash of the scrubbed
    text is emitted so the oracle verifies the exact rewrite)."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.col("text"),
                r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}",
                "<EMAIL>",
            ),
            r"\d{3}[-. ]\d{3,4}[-. ]\d{4}",
            "<PHONE>",
        ),
        r"\d{6,}",
        "<NUM>",
    )
    n_digits = F.length("text") - F.length(F.regexp_replace("text", r"\d", ""))
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        n_digits.cast("int").alias("n_digits"),
    )


# -- quality-percentile gating -------------------------------------------------

#: fraction of the corpus kept by the percentile gate (FineWeb-Edu-style
#: "keep the best-scoring slice", expressed as an exact global top-k)
GATE_KEEP_PCT = 20


@register(
    "llm_quality_percentile_gate",
    oracle=f"""
    WITH q AS (
        SELECT doc_id,
               CAST(len({_TOKENS_SQL}) AS INTEGER) AS n_tokens,
               CAST(len(list_filter({_TOKENS_SQL},
                     t -> t IN ('the','a','and','of','is','to','in'))) AS DOUBLE)
                     / CAST(NULLIF(len({_TOKENS_SQL}), 0) AS DOUBLE)
                   AS stopword_ratio
        FROM documents
        WHERE len({_TOKENS_SQL}) > 0
    ),
    ranked AS (
        SELECT doc_id, n_tokens, stopword_ratio,
               ROW_NUMBER() OVER (ORDER BY stopword_ratio DESC, doc_id) AS rn
        FROM q
    )
    SELECT doc_id, n_tokens, stopword_ratio
    FROM ranked
    WHERE rn <= (SELECT COUNT(*) * {GATE_KEEP_PCT} // 100 FROM q)
    """,
)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global top-``GATE_KEEP_PCT``% of documents by quality score
    (stopword ratio, doc_id tie-break) — the FineWeb-Edu-style "keep only
    the best slice" gate.

    Scale shape: the corpus size is a 1-row aggregate evaluated eagerly
    (bounded driver scalar, same pattern as TF-IDF's ``n_docs``); the
    selection itself is ``orderBy().limit(k)`` which Spark plans as
    ``TakeOrderedAndProject`` — each partition keeps its local top-k and
    only k rows per partition reach the driver-side merge, so no global
    sort and no single-partition window at any scale. The score is a raw
    int/int IEEE division and the tie-break key is unique, so the selected
    SET is deterministic and engine-exact.
    """
    from ..io import load_table
    from .text import _marker_count

    stop = ["the", "a", "and", "of", "is", "to", "in"]
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens_col()
    q = docs.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        (
            _marker_count(toks, stop).cast("double")
            / F.nullif(F.size(toks), F.lit(0)).cast("double")
        ).alias("stopword_ratio"),
    ).filter(F.col("n_tokens") > 0)
    k = q.count() * GATE_KEEP_PCT // 100  # bounded 1-row scalar, like tfidf's n_docs
    return q.orderBy(F.desc("stopword_ratio"), F.asc("doc_id")).limit(int(k))


# -- sequence packing ----------------------------------------------------------

#: tokens per training sequence (the concat-and-chunk context budget)
PACK_BUDGET = 2048


@register(
    "llm_sequence_packing",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, source, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM toked
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           CAST((cum_tokens - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST((cum_tokens - n_tokens) % {PACK_BUDGET} AS BIGINT) AS offset_in_pack
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: within each source, documents are
    concatenated in doc_id order and split into ``PACK_BUDGET``-token
    training sequences; each document gets the pack id and offset where it
    starts.

    Scale shape: one running-sum window partitioned by ``source`` — the
    shuffle is on the pack partitioning key, and within a source the scan
    is a single ordered pass (inherent to packing: a document's offset
    depends on every earlier document in its stream). At 100 TB you pack
    per (source, shard) so each window partition is bounded; the shape is
    identical, only the partition key widens. All arithmetic is integer,
    so the assignment is engine-exact by construction.
    """
    from ..io import load_table
    from pyspark.sql.window import Window as W

    toked = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens_col()).cast("long").alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = toked.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        F.expr(f"CAST((cum_tokens - n_tokens) DIV {PACK_BUDGET} AS BIGINT)").alias(
            "pack_id"
        ),
        (start % PACK_BUDGET).cast("long").alias("offset_in_pack"),
    )


# -- domain-mix resampling ----------------------------------------------------

_MIX_BUDGET = 300  # target corpus size (docs) across all sources
_MIX_KNUTH = 2654435761  # Fibonacci hashing multiplier (sampling.py idiom)
_MIX_MOD = 1 << 32
_MIX_MASK = 1 << 31  # pre-mask keys so the int64 product can't overflow


@register(
    "llm_domain_mix_resample",
    oracle=f"""
    WITH weighted AS (
        SELECT source,
               CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS w,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    tot AS (SELECT SUM(w) AS big_w FROM weighted),
    dim AS (
        SELECT ww.source,
               ({_MIX_BUDGET} * ww.w * {_MIX_MOD} + t.big_w * ww.n_docs - 1)
                   // (t.big_w * ww.n_docs) AS thr
        FROM weighted ww CROSS JOIN tot t
    ),
    kept AS (
        SELECT d.source, COUNT(*) AS n_kept
        FROM documents d
        JOIN dim ON dim.source = d.source
        WHERE ((d.doc_id % {_MIX_MASK}) * {_MIX_KNUTH}) % {_MIX_MOD} < dim.thr
        GROUP BY 1
    )
    SELECT w.source, w.w AS weight, w.n_docs,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM weighted w LEFT JOIN kept k ON k.source = w.source
    """,
)
def domain_mix_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data DOMAIN MIXING: resample each source toward a target
    share of a fixed corpus budget ({_MIX_BUDGET} docs). Target weights are
    derived per source (here: source number % 4 + 1 — in production, the
    mixture config); each source keeps rows with per-source probability
    min(1, budget·w / (W·n_s)) via the deterministic multiplicative hash.

    The keep decision is ONE integer inequality, evaluated as
    ``h < thr`` where ``thr = ceil(budget · w · 2^32 / (W · n_s))`` is
    computed ONCE per source in the broadcast dim. The two forms are
    exactly equivalent for integer A = W·n_s > 0 (``h·A < B  ⟺
    h < ceil(B/A)``: ceil(B/A)−1 < B/A always), but the threshold form
    keeps every per-row operand below 2^32 — the naive ``h·W·n_s < B``
    product overflows BIGINT once W·n_s exceeds ~2^31 (h is up to
    2^32−1), wrapping silently in non-ANSI Spark while DuckDB raises.
    The only products left live in the per-source dim, whose bound is
    W·n_s < 2^63/budget — unreachable in practice. No float rate, no
    CAST-rounding divergence (DuckDB CAST(double AS BIGINT) rounds,
    Spark truncates), and min(1, rate) falls out of the algebra since
    h < 2^32. Scale shape: two tiny aggregates (per-source counts + one
    global weight sum, broadcast back) and a map-side hash-compare over
    the corpus — rebalancing 100 TB never shuffles the documents
    themselves."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.groupBy("source").agg(
        (F.substring("source", 4, 10).cast("long") % 4 + 1).alias("w"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    tot = weighted.agg(F.sum("w").alias("big_w"))
    dim = weighted.crossJoin(tot).select(
        "source",
        F.expr(
            f"CAST(({_MIX_BUDGET} * w * {_MIX_MOD} + big_w * n_docs - 1) "
            "DIV (big_w * n_docs) AS BIGINT)"
        ).alias("thr"),
    )
    h = (F.col("doc_id") % _MIX_MASK) * _MIX_KNUTH % _MIX_MOD
    kept = (
        docs.join(F.broadcast(dim), "source")
        .filter(h < F.col("thr"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        weighted.join(kept, "source", "left")
        .select(
            "source",
            F.col("w").alias("weight"),
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
    )


# -- canonical-document selection after near-dup clustering -------------------


def _keep_canonical_oracle() -> str:
    from .dedup import _MINHASH_ORACLE

    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS v FROM edges),
    reach AS (
        SELECT v AS root, v AS node FROM verts
        UNION
        SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT root AS doc_id, MIN(node) AS canonical FROM reach GROUP BY 1
    ),
    dropped AS (SELECT doc_id FROM comp WHERE canonical <> doc_id)
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped
    FROM documents d LEFT JOIN dropped dr ON dr.doc_id = d.doc_id
    GROUP BY 1
    """


@register("llm_dedup_keep_canonical", oracle=_keep_canonical_oracle())
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup pipeline's FINAL act, end to end: MinHash-LSH pairs →
    connected components → keep each cluster's canonical (minimum) doc_id,
    drop the rest — reported per source so the dedup burden's skew across
    domains is visible (the number a data-mixing pass consumes next).

    Scale shape: the component labels cover ONLY documents that appear in
    some near-dup pair (a small fraction of the corpus); survivors come
    from a left-anti-shaped join of the full corpus against that small
    dropped set — the corpus itself crosses no extra exchange beyond the
    final per-source aggregate."""
    from ..io import load_table
    from .graph import connected_components

    comp = connected_components(
        lsh_pairs_staged(spark, sf_dir), "doc_a", "doc_b"
    )
    dropped = comp.filter(F.col("comp") != F.col("v")).select(
        F.col("v").alias("dropped_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.join(
        F.broadcast(dropped), docs["doc_id"] == dropped["dropped_id"], "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("dropped_id").isNull(), 1).otherwise(0)).alias(
            "n_kept"
        ),
        F.sum(F.when(F.col("dropped_id").isNull(), 0).otherwise(1)).alias(
            "n_dropped"
        ),
    )


# -- deterministic stratified train/val/test split ----------------------------

_SPLIT_KNUTH = 2654435761  # Fibonacci hashing multiplier (sampling.py idiom)
_SPLIT_MOD = 1 << 32
_SPLIT_MASK = 1 << 31  # pre-mask keys so the int64 product can't overflow
_SPLIT_TRAIN_PCT = 80
_SPLIT_VAL_PCT = 10  # test gets the remainder


@register(
    "llm_train_val_test_split",
    oracle=f"""
    WITH assigned AS (
        SELECT doc_id, source, size,
               ((doc_id % {_SPLIT_MASK}) * {_SPLIT_KNUTH}) % {_SPLIT_MOD}
                   % 100 AS slot
        FROM (SELECT doc_id, source,
                     CAST(length(text) AS BIGINT) AS size
              FROM documents)
    ),
    labeled AS (
        SELECT source,
               CASE WHEN slot < {_SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN slot < {_SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split,
               doc_id, size
        FROM assigned
    ),
    cells AS (
        SELECT source, split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
               CAST(SUM(size) AS BIGINT) AS n_chars
        FROM labeled GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_source FROM cells
        GROUP BY 1
    )
    SELECT c.source, c.split, c.n_docs, c.sum_doc_id, c.n_chars,
           CAST(c.n_docs AS DOUBLE) / CAST(t.n_source AS DOUBLE) AS share
    FROM cells c JOIN tot t ON t.source = c.source
    """,
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split — the last step every
    training-data pipeline runs before materializing shards. Assignment is
    a pure function of the stable document key: slot = Fibonacci-hash
    (doc_id) mod 100, train < 80 <= val < 90 <= test — integer end to end
    (no rand(), no float rates, no CAST-rounding divergence), so the split
    is reproducible across engines, re-runs, and backfills: a document
    never migrates between splits when the corpus grows, which is the
    property that keeps eval sets uncontaminated over time.

    The gate pins MEMBERSHIP, not just sizes: sum(doc_id) per
    (source, split) cell changes if any single document moves cells, so a
    hash or boundary defect can't hide behind matching counts.

    Scale shape: one narrow scan, map-side hash + label, then a
    (source, split) partial aggregate — ~|sources|x3 rows cross the
    exchange; the corpus itself never shuffles. Writing the actual shards
    is the same expression routed to partitionBy('split')."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("size")
    )
    slot = (
        (F.col("doc_id") % _SPLIT_MASK) * _SPLIT_KNUTH % _SPLIT_MOD % 100
    )
    labeled = docs.select(
        "source",
        F.when(slot < _SPLIT_TRAIN_PCT, F.lit("train"))
        .when(slot < _SPLIT_TRAIN_PCT + _SPLIT_VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "doc_id",
        "size",
    )
    cells = labeled.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
        F.sum("size").alias("n_chars"),
    )
    # per-source total as a WINDOW over the tiny cells aggregate — a join
    # against a re-aggregated `cells` would make Catalyst re-expand the
    # lineage and scan the corpus twice (plan-pinned in test_plans)
    from pyspark.sql.window import Window as W

    n_source = F.sum("n_docs").over(W.partitionBy("source"))
    return cells.select(
        "source",
        "split",
        "n_docs",
        "sum_doc_id",
        "n_chars",
        (F.col("n_docs").cast("double") / n_source.cast("double")).alias(
            "share"
        ),
    )


# -- BPE tokenizer training: the pair-count step ------------------------------

_BPE_TOPN = 20

#: (pair, n) over every adjacent character pair — the SINGLE definition of
#: "pair" shared by the count and coverage operators, both engines
_BPE_PAIR_COUNTS_SQL = f"""(
    WITH bpe_toks AS (
        SELECT t.term FROM documents, UNNEST({_TOKENS_SQL}) AS t(term)
        WHERE length(t.term) >= 2
    ), bpe_pairs AS (
        SELECT substr(term, i, 2) AS pair
        FROM bpe_toks, UNNEST(generate_series(1, length(term) - 1)) AS g(i)
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM bpe_pairs GROUP BY 1
)"""


def _bpe_pair_counts_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _BPE_PAIR_COUNTS_SQL — map-only extraction, one
    partial-aggregable count."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col("text")).alias("term")).filter(
        F.length("term") >= 2
    )
    return (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(term) - 1),"
                    " i -> substring(term, i, 2))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "llm_bpe_pair_counts",
    oracle=f"""
    SELECT pair, n FROM {_BPE_PAIR_COUNTS_SQL} pc
    ORDER BY n DESC, pair
    LIMIT {_BPE_TOPN}
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding training's inner loop: count every adjacent
    character pair across all token occurrences and rank the merge
    candidates — one iteration of the greedy merge that produces a BPE
    vocabulary (repeat with the winner merged to train fully).

    Distributed shape: pure Catalyst — normalize/split (the module's shared
    tokenizer contract), a transform+explode over in-token character
    positions, and one partial-aggregable count keyed on a domain bounded
    by |alphabet|^2. The top-N collapses to TakeOrderedAndProject: corpus
    size only affects the map side. This is how you run the "count" half
    of BPE training over 100 TB of text without a driver-side vocabulary.
    """
    return (
        _bpe_pair_counts_frame(spark, sf_dir)
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_TOPN)
    )


# -- per-document n-gram novelty — deferred r7 queue --------------------------


@register(
    "llm_shingle_novelty",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), shingled AS (
        SELECT doc_id,
               list_distinct({_SHINGLES_SQL}) AS sh
        FROM toked
    ), exploded AS (
        SELECT doc_id, UNNEST(sh) AS shingle FROM shingled
    ), owner AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM exploded GROUP BY 1
    )
    SELECT CAST(e.doc_id AS BIGINT) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN o.first_doc = e.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((1000000 * SUM(CASE WHEN o.first_doc = e.doc_id
                                    THEN 1 ELSE 0 END))
               // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM exploded e JOIN owner o ON o.shingle = e.shingle
    GROUP BY e.doc_id
    """
)
def shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction (exact integer ppm) of a doc's
    word-3-gram shingles whose FIRST owner (smallest doc_id) is the doc
    itself — the curation signal behind "is this document adding anything
    the corpus hasn't seen": boilerplate and templated spam score near 0,
    genuinely fresh text near 1e6. Sequential dedup passes use the same
    statistic to decide processing order.

    Shape: shingle explode (shared contract with the dedup family), ONE
    min-aggregate keyed on the shingle (partial-aggregable: min commutes),
    and a join back on the same key that reuses the shuffle partitioning.
    No pairwise comparison exists — novelty is a first-owner property, so
    the cost stays linear in total shingles where pair-based overlap
    metrics go quadratic in the duplicated mass.
    """
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    exploded = _doc_shingles(docs).select("doc_id", F.explode("sh").alias("shingle"))
    owner = exploded.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    joined = exploded.join(owner, "shingle")
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("(1000000 * n_novel) div n_shingles").alias("novelty_ppm"),
        )
    )


# -- BPE vocab coverage — deferred queue --------------------------------------


@register(
    "llm_bpe_vocab_coverage",
    oracle=f"""
    WITH counts AS (
        SELECT pair, n FROM {_BPE_PAIR_COUNTS_SQL} pc
    ), vocab AS (
        SELECT pair FROM counts ORDER BY n DESC, pair LIMIT {_BPE_TOPN}
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total_pairs,
               CAST(SUM(CASE WHEN pair IN (SELECT pair FROM vocab)
                             THEN n ELSE 0 END) AS BIGINT) AS covered_pairs
        FROM counts
    )
    SELECT total_pairs, covered_pairs,
           (1000000 * covered_pairs) // total_pairs AS coverage_ppm
    FROM tot
    """
)
def bpe_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage of the BPE merge candidates: what fraction of
    ALL adjacent character-pair occurrences the top-{_BPE_TOPN} merges
    (llm_bpe_pair_counts' output) would absorb — the "is this vocab big
    enough" curve tokenizer training reads after each merge round, one
    registered operator evaluating another (the modularity-scores-LPA
    pattern applied to tokenizer prep). Exact integer ppm.

    Shape: the same map-only pair extraction; the vocab is a
    TakeOrdered {_BPE_TOPN}-row broadcast semi-membership; coverage is
    one conditional aggregate over the |alphabet|²-bounded counts.
    """
    counts = _bpe_pair_counts_frame(spark, sf_dir)
    vocab = counts.orderBy(F.desc("n"), "pair").limit(_BPE_TOPN).select("pair")
    in_vocab = counts.join(F.broadcast(vocab), "pair", "left_semi")
    tot = counts.agg(F.sum("n").alias("total_pairs"))
    cov = in_vocab.agg(F.coalesce(F.sum("n"), F.lit(0)).alias("covered_pairs"))
    return (
        tot.crossJoin(F.broadcast(cov))
        .select(
            F.col("total_pairs").cast("long").alias("total_pairs"),
            F.col("covered_pairs").cast("long").alias("covered_pairs"),
            F.expr("(1000000 * covered_pairs) div total_pairs").alias(
                "coverage_ppm"
            ),
        )
    )
bpe_vocab_coverage.__doc__ = bpe_vocab_coverage.__doc__.format(_BPE_TOPN=_BPE_TOPN)  # real docstring (ADVICE r7)


# -- quality-aware canonical dedup: keep the BEST doc per cluster -------------


@register(
    "llm_quality_canonical_dedup",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE.strip()})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS v FROM edges),
    reach AS (
        SELECT v AS root, v AS node FROM verts
        UNION
        SELECT r.root, e.dst FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT root AS doc_id, CAST(MIN(node) AS BIGINT) AS component_id
        FROM reach GROUP BY root
    ),
    scored AS (
        SELECT c.component_id, c.doc_id,
               CAST(({_QUALITY_PRED}) AS INTEGER) AS q,
               CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
        FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY component_id
                   ORDER BY q DESC, n_tokens DESC, doc_id) AS rk
        FROM scored
    )
    SELECT component_id,
           MAX(CASE WHEN rk = 1 THEN doc_id END)          AS canonical_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_tokens END)
                AS BIGINT)                                AS canonical_tokens,
           CAST(COUNT(*) AS BIGINT)                       AS n_members,
           CAST(SUM(q) AS BIGINT)                         AS n_quality_pass
    FROM ranked GROUP BY component_id
    """,
)
def quality_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonicalization of near-dup clusters: instead of the
    min-doc_id convention (dedup_cluster_components, llm_prepare_corpus's
    drop-the-higher-id rule), each cluster keeps its BEST member — ranked
    by quality pass, then token count, then id as the total tie-break.
    This is what production corpus prep actually does: the lowest id is
    arbitrary; the longest passing member preserves the most signal when
    the cluster collapses to one row. Per cluster: the chosen canonical,
    its length, the member count, and how many members pass quality — the
    four numbers a dedup review dashboard shows.

    Shape: components over the STAGED pair list, the shared
    materialization every graph kernel reads (labelled on the driver after
    one collect job while the pairs fit the broadcast threshold, by the
    distributed hash-to-min loop otherwise); quality is the map-side
    predicate; election is one rank window over the cluster-member
    relation (cluster-sized partitions). The ranking key is all-integer,
    so the election is deterministic cross-engine with no float ordering
    anywhere."""
    from pyspark.sql.window import Window as W

    from ..io import load_table
    from .dedup import lsh_pairs_staged
    from .graph import connected_components
    from .text import quality_score, tokens_col

    comp = connected_components(
        lsh_pairs_staged(spark, sf_dir), "doc_a", "doc_b"
    ).select(
        F.col("v").alias("doc_id"), F.col("comp").cast("long").alias("component_id")
    )
    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(spark, sf_dir).select(
        "doc_id", F.col("passes_quality").cast("int").alias("q")
    )
    scored = (
        comp.join(docs.select("doc_id", tokens_col("text").alias("_t")), "doc_id")
        .join(q, "doc_id")
        .select(
            "component_id",
            "doc_id",
            "q",
            F.size("_t").cast("long").alias("n_tokens"),
        )
    )
    w = W.partitionBy("component_id").orderBy(
        F.desc("q"), F.desc("n_tokens"), F.asc("doc_id")
    )
    ranked = scored.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("component_id").agg(
        F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias("canonical_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_tokens")))
        .cast("long")
        .alias("canonical_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("q").cast("long").alias("n_quality_pass"),
    )


# -- dataset card: the corpus summary a release ships with --------------------


@register(
    "llm_dataset_card",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, lang,
               len({_TOKENS_SQL}) AS n_toks,
               CAST(({_QUALITY_PRED}) AS INTEGER) AS q,
               md5({_NORM_SQL}) AS h
        FROM documents
    ), pairs AS ({_MINHASH_ORACLE.strip()}),
    dup_docs AS (
        SELECT DISTINCT doc_id FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL
            SELECT doc_b FROM pairs
        )
    )
    SELECT CAST(COUNT(*) AS BIGINT)                       AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT)           AS n_langs,
           CAST(SUM(n_toks) AS BIGINT)                    AS total_ws_tokens,
           CAST((1000000 * SUM(q)) // COUNT(*) AS BIGINT) AS quality_pass_ppm,
           CAST((1000000 * (COUNT(*) - COUNT(DISTINCT h)))
                // COUNT(*) AS BIGINT)                    AS exact_dup_ppm,
           CAST((1000000 * (SELECT COUNT(*) FROM dup_docs))
                // COUNT(*) AS BIGINT)                    AS near_dup_doc_ppm
    FROM base
    """,
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card's quantitative block in ONE gated row — the
    summary every corpus release ships (size, language breadth, token
    budget, quality pass rate, exact- and near-duplication rates, all in
    exact integer ppm). Every number is a composition of operators the
    registry already verifies individually (quality predicate, normalized
    content hash, staged LSH pair list); the card pins that the COMPOSED
    pipeline agrees too — the last-mile aggregation where a silent
    definition drift between components would otherwise hide.

    Shape: one scan for the per-doc features + two O(1)-state aggregates;
    the near-dup membership reads the staged pair parquet. Nothing here
    adds a shuffle beyond the components themselves."""
    from ..io import load_table
    from .dedup import lsh_pairs_staged
    from .text import norm_text_col, tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # the quality bit is a pure per-row expression (the same predicate
    # text.quality_score builds), so it computes INLINE on the one scan —
    # a quality_score join would rescan and re-tokenize documents and add
    # a doc_id exchange for nothing (review r7 #2)
    from .text import _marker_count

    toks = tokens_col("text")
    n_toks = F.size(toks)
    stop_cnt = _marker_count(
        toks, ["the", "a", "and", "of", "is", "to", "in"]
    )
    q = (
        n_toks.between(20, 1000)
        & (
            stop_cnt.cast("double")
            / F.nullif(n_toks, F.lit(0)).cast("double")
            >= 0.01
        )
    ).cast("int")
    base = docs.select(
        "doc_id",
        "lang",
        n_toks.cast("long").alias("n_toks"),
        F.md5(norm_text_col("text")).alias("h"),
        q.alias("q"),
    )
    pairs = lsh_pairs_staged(spark, sf_dir)
    dup_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_dup_docs"))
    )
    return (
        base.agg(
            F.count(F.lit(1)).alias("n_docs_raw"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_toks").cast("long").alias("total_ws_tokens"),
            F.sum("q").alias("q_sum"),
            F.countDistinct("h").alias("h_distinct"),
        )
        .crossJoin(F.broadcast(dup_docs))
        .select(
            F.col("n_docs_raw").cast("long").alias("n_docs"),
            "n_langs",
            "total_ws_tokens",
            F.expr("CAST((1000000 * q_sum) div n_docs_raw AS BIGINT)").alias(
                "quality_pass_ppm"
            ),
            F.expr(
                "CAST((1000000 * (n_docs_raw - h_distinct))"
                " div n_docs_raw AS BIGINT)"
            ).alias("exact_dup_ppm"),
            F.expr(
                "CAST((1000000 * n_dup_docs) div n_docs_raw AS BIGINT)"
            ).alias("near_dup_doc_ppm"),
        )
    )


# -- Gopher-style quality rule gate -------------------------------------------

_GR_STOPWORDS = ("the", "a", "and", "of", "is", "to", "in")
_GR_MIN_WORDS, _GR_MAX_WORDS = 20, 100_000
_GR_MWL_LO, _GR_MWL_HI = 4, 10  # mean word length bounds (Gopher uses 3–10;
# the floor is raised to 4 so the rule FIRES on this corpus — its mean word
# lengths span 3.7–5.3, and a never-failing rule would gate nothing)
_GR_TOP_SHARE_DEN = 5  # most-common-token share must be <= 1/5 (0.2)
_GR_MIN_STOP = 2  # >= 2 distinct English stopwords present


@register(
    "llm_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))),
                            ' ') AS toks
        FROM documents
    ), base AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(toks, x -> length(x)))
                    AS BIGINT) AS sum_len,
               CAST(len(list_distinct(list_filter(toks,
                    x -> x IN ({", ".join(f"'{w}'" for w in _GR_STOPWORDS)}))))
                    AS BIGINT) AS n_stop
        FROM t
    ), tok AS (
        SELECT doc_id, UNNEST(toks) AS tok FROM t
    ), rep AS (
        SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_c
        FROM (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        GROUP BY 1
    )
    SELECT b.doc_id, b.n_words,
           (b.n_words BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS})
               AS ok_word_count,
           (b.sum_len >= {_GR_MWL_LO} * b.n_words
            AND b.sum_len <= {_GR_MWL_HI} * b.n_words) AS ok_mean_word_len,
           ({_GR_TOP_SHARE_DEN} * r.top_c <= b.n_words) AS ok_top_token,
           (b.n_stop >= {_GR_MIN_STOP}) AS ok_stopwords,
           ((b.n_words BETWEEN {_GR_MIN_WORDS} AND {_GR_MAX_WORDS})
            AND b.sum_len >= {_GR_MWL_LO} * b.n_words
            AND b.sum_len <= {_GR_MWL_HI} * b.n_words
            AND {_GR_TOP_SHARE_DEN} * r.top_c <= b.n_words
            AND b.n_stop >= {_GR_MIN_STOP}) AS passes
    FROM base b JOIN rep r ON r.doc_id = b.doc_id
    """,
)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al.'s repetition/
    composition filters, the rule battery corpus pipelines run BEFORE any
    model-based scoring): per document, word-count bounds, mean-word-
    length bounds, most-common-token share cap, and a minimum distinct-
    stopword presence — each reported as its own flag plus the AND of all
    four, so downstream consumers can loosen one rule without recomputing
    the scan.

    Every rule is an integer comparison (mean word length via cross-
    multiplication: lo*n <= sum_len <= hi*n — no division, no floats).
    The only non-map-side piece is the most-common-token count, a
    (doc, token) groupBy whose key cardinality is the vocabulary of one
    document — partial-aggregable and skew-free (keys are doc-scoped).
    """
    from ..io import load_table
    from .text import tokens_col

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens_col().alias("toks"))
    stop_list = ", ".join(f"'{w}'" for w in _GR_STOPWORDS)
    base = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_words"),
        F.expr(
            "aggregate(transform(toks, x -> CAST(length(x) AS BIGINT)),"
            " CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("sum_len"),
        F.expr(
            f"CAST(size(array_distinct(filter(toks, x -> x IN ({stop_list}))))"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    rep = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("long").alias("top_c"))
    )
    ok_wc = F.col("n_words").between(_GR_MIN_WORDS, _GR_MAX_WORDS)
    ok_mwl = (F.col("sum_len") >= _GR_MWL_LO * F.col("n_words")) & (
        F.col("sum_len") <= _GR_MWL_HI * F.col("n_words")
    )
    ok_top = _GR_TOP_SHARE_DEN * F.col("top_c") <= F.col("n_words")
    ok_stop = F.col("n_stop") >= _GR_MIN_STOP
    return base.join(rep, "doc_id").select(
        "doc_id",
        "n_words",
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_top.alias("ok_top_token"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_top & ok_stop).alias("passes"),
    )


# -- exact stratified split (largest remainder) --------------------------------

_SPLIT_WEIGHTS = (("train", 1, 8), ("validation", 2, 1), ("test", 3, 1))
# (name, priority, weight in tenths) — 80/10/10


@register(
    "llm_stratified_split_exact",
    oracle=f"""
    WITH strata AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY 1
    ), quota0 AS (
        SELECT s.lang, s.n, v.split, v.prio,
               (v.w * s.n) // 10 AS q,
               (v.w * s.n) % 10  AS r
        FROM strata s CROSS JOIN (VALUES
            {", ".join(f"('{nm}', {p}, {w})" for nm, p, w in _SPLIT_WEIGHTS)}
        ) v(split, prio, w)
    ), quota AS (
        SELECT lang, split, prio,
               q + CASE WHEN ROW_NUMBER() OVER (PARTITION BY lang
                                                ORDER BY r DESC, prio)
                        <= n - SUM(q) OVER (PARTITION BY lang)
                        THEN 1 ELSE 0 END AS q
        FROM quota0
    ), bounds AS (
        SELECT lang, split,
               SUM(q) OVER (PARTITION BY lang ORDER BY prio) AS hi,
               SUM(q) OVER (PARTITION BY lang ORDER BY prio) - q AS lo
        FROM quota
    ), ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.lang, b.split
    FROM ranked r
    JOIN bounds b ON b.lang = r.lang AND r.rn > b.lo AND r.rn <= b.hi
    """,
)
def stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified train/validation/test split with EXACT per-stratum
    quotas via largest-remainder apportionment — the guarantee the
    existing hash split (llm_train_val_test_split) deliberately trades
    away: Fibonacci hashing gives each doc an independent 80/10/10 coin
    flip (stateless, stable under corpus growth), while evaluation
    protocols that need every language represented at an exact ratio
    require floor(w*n/10) per (stratum, split) plus the leftovers going
    to the largest fractional remainders (ties broken train > validation
    > test). Within a stratum, docs are ordered by md5(doc_id) — a
    deterministic shuffle both engines compute identically — and sliced
    at the quota boundaries.

    Shape: the quota relation is |strata| x 3 rows (driver-tiny, windows
    trivial); the per-doc work is one rank window partitioned by stratum
    and a broadcast range join against the 15-row bounds table. At 100 TB
    the rank-within-stratum is the only big shuffle — one exchange on a
    low-cardinality key, mitigated the usual way (pre-bucket by stratum).
    """
    from pyspark.sql.window import Window as W

    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    strata = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    splits = spark.createDataFrame(
        list(_SPLIT_WEIGHTS), "split string, prio int, w int"
    )
    quota0 = strata.crossJoin(F.broadcast(splits)).select(
        "lang",
        "n",
        "split",
        "prio",
        F.expr("(w * n) div 10").alias("q"),
        F.expr("(w * n) % 10").alias("r"),
    )
    w_lang = W.partitionBy("lang")
    quota = quota0.select(
        "lang",
        "split",
        "prio",
        (
            F.col("q")
            + F.when(
                F.row_number().over(w_lang.orderBy(F.desc("r"), F.asc("prio")))
                <= F.col("n") - F.sum("q").over(w_lang),
                1,
            ).otherwise(0)
        ).alias("q"),
    )
    w_cum = w_lang.orderBy("prio")
    bounds = quota.select(
        "lang",
        "split",
        F.sum("q").over(w_cum).alias("hi"),
        (F.sum("q").over(w_cum) - F.col("q")).alias("lo"),
    )
    ranked = docs.select(
        "doc_id",
        "lang",
        F.row_number()
        .over(
            w_lang.orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
        )
        .alias("rn"),
    )
    return ranked.join(
        F.broadcast(bounds),
        (ranked["lang"] == bounds["lang"])
        & (F.col("rn") > F.col("lo"))
        & (F.col("rn") <= F.col("hi")),
    ).select(ranked["doc_id"], ranked["lang"], bounds["split"])

# -- token-budget quota allocation (largest remainder) ------------------------

_TB_BUDGET = 100_000  # training-token budget to allocate across languages


@register(
    "llm_token_budget_quota",
    oracle=f"""
    WITH avail AS (
        SELECT lang, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(avail_tokens) AS BIGINT) AS total FROM avail
    ), q AS (
        SELECT lang, avail_tokens,
               CAST(({_TB_BUDGET} * avail_tokens) // total AS BIGINT)
                   AS floor_quota,
               CAST(({_TB_BUDGET} * avail_tokens) % total AS BIGINT) AS rem
        FROM avail CROSS JOIN tot
    ), r AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS BIGINT)
                   AS rem_rank,
               CAST({_TB_BUDGET} - SUM(floor_quota) OVER () AS BIGINT)
                   AS leftover
        FROM q
    )
    SELECT lang, avail_tokens, floor_quota, rem_rank,
           CAST(floor_quota
                + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r
    """,
)
def token_budget_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder allocation of a {_TB_BUDGET}-token training budget
    across languages, proportional to available tokens — the exact-sum
    companion to domain_mix_resample (which picks DOCUMENTS
    probabilistically, never hitting the budget exactly): floor quotas
    ⌊B·aᵢ/Σa⌋ underfill by at most |langs|−1 tokens, and the leftover
    goes +1 each to the largest remainders (tie: lang asc) — so
    Σ quota == B exactly, the property mixture configs and epoch
    schedulers need. Same quota discipline as
    llm_stratified_split_exact, applied to token accounting instead of
    row splitting; all quantities exact integers.

    Shape: one token-count aggregate (|langs| rows), one 1-row total
    broadcast back, and windows over the |langs|-sized quota relation —
    the corpus is scanned once and never shuffled."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(tokens_col())).cast("long").alias("avail_tokens")
    )
    from pyspark.sql.window import Window as W

    # the grand total comes from a window over the |langs|-sized quota
    # relation, NOT a separate aggregate of `avail` — a second aggregate
    # re-executes the corpus scan (DataFrame reuse is recomputation, not
    # sharing), turning a one-scan operator into two at 100 TB.
    q = avail.withColumn(
        "total", F.sum("avail_tokens").over(W.partitionBy()).cast("long")
    ).select(
        "lang",
        "avail_tokens",
        F.expr(f"CAST(({_TB_BUDGET} * avail_tokens) div total AS BIGINT)").alias(
            "floor_quota"
        ),
        F.expr(f"CAST(({_TB_BUDGET} * avail_tokens) % total AS BIGINT)").alias(
            "rem"
        ),
    )
    r = q.select(
        "lang",
        "avail_tokens",
        "floor_quota",
        F.row_number()
        .over(W.orderBy(F.desc("rem"), "lang"))
        .cast("long")
        .alias("rem_rank"),
        (F.lit(_TB_BUDGET) - F.sum("floor_quota").over(W.partitionBy()))
        .cast("long")
        .alias("leftover"),
    )
    return r.select(
        "lang",
        "avail_tokens",
        "floor_quota",
        "rem_rank",
        (
            F.col("floor_quota")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )


# -- RAG chunking with overlap (deferred: r10 activation) ------------------------

_RAG_CHUNK = 64  #: tokens per retrieval chunk
_RAG_STRIDE = 48  #: stride between chunk starts (overlap = CHUNK - STRIDE)


@register(
    "llm_rag_chunk_overlap",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((g.s - 1) // {_RAG_STRIDE} AS BIGINT) AS chunk_idx,
               CAST(g.s AS BIGINT) AS start_token,
               toks[g.s:g.s + {_RAG_CHUNK} - 1] AS ck
        FROM toked,
             UNNEST(generate_series(1, GREATEST(len(toks), 1),
                                    {_RAG_STRIDE})) AS g(s)
    )
    SELECT doc_id, chunk_idx, start_token,
           CAST(len(ck) AS BIGINT) AS n_tokens,
           ck[1] AS first_token,
           ck[len(ck)] AS last_token,
           md5(array_to_string(ck, ' ')) AS chunk_hash
    FROM chunks WHERE len(ck) > 0
    """,
)
def rag_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style retrieval chunking: every document sliced into
    {_RAG_CHUNK}-token chunks on a {_RAG_STRIDE}-token stride (so
    consecutive chunks overlap by {_RAG_CHUNK} − {_RAG_STRIDE} tokens —
    the overlap that keeps answers spanning a boundary retrievable), each
    chunk carrying a stable content address (md5 of its joined tokens)
    plus provenance (doc, index, start offset). The content hash is what
    makes downstream chunk-level dedup, cache keys, and incremental
    re-embedding (only re-embed chunks whose hash changed) work — the
    multimodal CDC chunk store's contract applied to text retrieval.
    Distinct from llm_sequence_packing by construction: packing
    concatenates ACROSS documents for training throughput; RAG chunking
    slices WITHIN a document, preserving provenance, for retrieval.

    Shape: map-only — a per-document sequence explode (fan-out
    ⌈len/stride⌉, proportional to document size) and pure projections;
    no shuffle exists in the whole plan, which is the right shape for a
    100 TB re-chunking pass.
    """
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens_col("text").alias("toks"))
    chunks = toked.select(
        "doc_id",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("toks"), F.lit(1)),
                F.lit(_RAG_STRIDE),
            )
        ).alias("s"),
        "toks",
    ).select(
        "doc_id",
        F.expr(f"CAST((s - 1) div {_RAG_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.col("s").cast("long").alias("start_token"),
        F.expr(f"slice(toks, s, {_RAG_CHUNK})").alias("ck"),
    )
    return chunks.filter(F.size("ck") > 0).select(
        "doc_id",
        "chunk_idx",
        "start_token",
        F.size("ck").cast("long").alias("n_tokens"),
        F.expr("ck[0]").alias("first_token"),
        F.expr("element_at(ck, -1)").alias("last_token"),
        F.md5(F.array_join("ck", " ")).alias("chunk_hash"),
    )


# -- BPE merge application (deferred: r10 activation) ----------------------------

_BPE_MERGES = 10  #: ranked merges applied (one-shot list, see docstring)
_BPE_WORDS = 30  #: most-frequent words whose tokenization is emitted


def _bpe_apply_oracle() -> str:
    """Nested-replace oracle: the merge list is data-derived, so each rank
    arrives via a scalar subquery; a missing rank degrades to a
    never-matching chr(1) pattern so short alphabets no-op instead of
    NULLing the string."""
    s = "' ' || regexp_replace(term, '(.)', '\\1 ', 'g')"
    for k in range(1, _BPE_MERGES + 1):
        pat = (
            f"COALESCE((SELECT ' ' || a || ' ' || b || ' ' FROM merges"
            f" WHERE rnk = {k}), chr(1))"
        )
        rep = (
            f"COALESCE((SELECT ' ' || a || b || ' ' FROM merges"
            f" WHERE rnk = {k}), chr(1))"
        )
        s = f"replace({s}, {pat}, {rep})"
    return f"""
    WITH merges AS (
        SELECT substr(pair, 1, 1) AS a, substr(pair, 2, 1) AS b,
               ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rnk
        FROM {_BPE_PAIR_COUNTS_SQL} pc
        QUALIFY rnk <= {_BPE_MERGES}
    ),
    tf AS (
        SELECT t.term AS term, CAST(COUNT(*) AS BIGINT) AS freq
        FROM documents, UNNEST({_TOKENS_SQL}) AS t(term)
        WHERE length(t.term) >= 2 GROUP BY 1
    )
    SELECT term AS word, freq,
           trim({s}) AS tokenization,
           CAST(len(string_split(trim({s}), ' ')) AS BIGINT) AS n_pieces
    FROM tf
    ORDER BY freq DESC, term LIMIT {_BPE_WORDS}
    """


@register("llm_bpe_apply_merges", oracle=_bpe_apply_oracle())
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the BPE tokenizer story: take the top-{_BPE_MERGES}
    ranked character-pair merges (llm_bpe_pair_counts' training output) and
    fold them, in rank order, over the {_BPE_WORDS} most frequent words —
    emitting each word's piece sequence and piece count. Simplification,
    stated: the merge list is ONE-SHOT (ranked from the unmerged pair
    counts, not retrained between merges) and replacement is the engines'
    shared non-overlapping left-to-right scan — deterministic and
    bit-identical cross-engine, which is what the gate pins; a production
    tokenizer trains iteratively but APPLIES merges with exactly this kind
    of ranked fold. Patterns are space-padded (" a b " in the space-
    separated char form), so a merge never fires across a previously
    merged piece's boundary — the token-awareness that plain substring
    replacement lacks.

    Shape: the merge list is a {_BPE_MERGES}-row TakeOrdered collect —
    bounded METADATA, the tfidf-n_docs pattern, and the price of turning a
    data-derived vocabulary into literal fold steps. The word relation is
    one partial+final count + TakeOrdered; the fold itself is a pure
    codegen projection (chained literal replaces), map-only at any scale.
    """
    from ..io import load_table

    merges = (
        _bpe_pair_counts_frame(spark, sf_dir)
        .orderBy(F.desc("n"), "pair")
        .limit(_BPE_MERGES)
        .collect()
    )
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens_col("text")).alias("term"))
        .filter(F.length("term") >= 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    spaced = F.concat(
        F.lit(" "), F.regexp_replace(F.col("term"), "(.)", "$1 ")
    )
    for r in merges:
        a, b = r["pair"][0], r["pair"][1]
        spaced = F.replace(
            spaced, F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        )
    return (
        tf.select(
            F.col("term").alias("word"),
            "freq",
            F.trim(spaced).alias("tokenization"),
            F.size(F.split(F.trim(spaced), " ")).cast("long").alias("n_pieces"),
        )
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(_BPE_WORDS)
    )


# -- DPO/RLHF preference-pair construction -------------------------------------


@register(
    "llm_dpo_pair_builder",
    oracle="""
    WITH scored AS (
        SELECT source, lang, doc_id, CAST(n_chars AS BIGINT) AS reward,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY n_chars DESC, doc_id) AS rn_best,
               ROW_NUMBER() OVER (PARTITION BY source, lang
                                  ORDER BY n_chars ASC, doc_id) AS rn_worst
        FROM documents
    )
    SELECT b.source, b.lang,
           b.doc_id AS chosen_doc_id,
           w.doc_id AS rejected_doc_id,
           b.reward - w.reward AS reward_gap
    FROM scored b
    JOIN scored w ON b.source = w.source AND b.lang = w.lang
                 AND b.rn_best = 1 AND w.rn_worst = 1
    WHERE b.doc_id <> w.doc_id AND b.reward - w.reward >= 1
    """,
)
def dpo_pair_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction: within each prompt group
    (source x lang here — in production, a prompt hash over N sampled
    completions), emit ONE (chosen, rejected) pair — the highest- and
    lowest-reward completions — provided the pair is distinct and the
    reward margin clears a floor (>= 1; degenerate all-equal groups emit
    nothing, the silent failure mode of naive min/max pairing). Ties break
    on doc_id so the pair set is deterministic.

    Shape: two ROW_NUMBER windows over the same (source, lang) partitioning
    — one shuffle, both ranks computed in a single exchange — then a
    group-key self-join of two rank-1 relations, each |groups| rows, never
    |docs|. At 100 TB the completion relation shuffles once by prompt hash;
    every downstream relation is bounded by the prompt count. Reward here
    is the document length; in production, plug the reward-model score
    column in unchanged."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    # ONE partial-aggregable pass (the ivf_route max_by precedent): the
    # rank-1 row of a ROW_NUMBER window IS an argmax, so both window sorts
    # (each shuffling the full completion relation) and the group-key
    # self-join collapse into a single groupBy whose max_by/min_by combine
    # map-side. Ordering keys mirror the window ORDER BYs exactly:
    # rn_best  = 1  <=>  argmax (reward, -doc_id)   [reward DESC, doc_id ASC]
    # rn_worst = 1  <=>  argmin (reward,  doc_id)   [reward ASC,  doc_id ASC]
    # (doc_id is unique, so both argexts are tie-free and deterministic.)
    scored = docs.select(
        "source",
        "lang",
        "doc_id",
        F.col("n_chars").cast("long").alias("reward"),
    )
    picked = scored.groupBy("source", "lang").agg(
        F.max_by(
            F.struct(
                F.col("doc_id").alias("doc_id"), F.col("reward").alias("reward")
            ),
            F.struct(
                F.col("reward").alias("reward"), (-F.col("doc_id")).alias("pref")
            ),
        ).alias("best"),
        F.min_by(
            F.struct(
                F.col("doc_id").alias("doc_id"), F.col("reward").alias("reward")
            ),
            F.struct(
                F.col("reward").alias("reward"), F.col("doc_id").alias("pref")
            ),
        ).alias("worst"),
    )
    return (
        picked.select(
            "source",
            "lang",
            F.col("best.doc_id").alias("chosen_doc_id"),
            F.col("worst.doc_id").alias("rejected_doc_id"),
            (F.col("best.reward") - F.col("worst.reward")).alias("reward_gap"),
        )
        .filter(
            (F.col("chosen_doc_id") != F.col("rejected_doc_id"))
            & (F.col("reward_gap") >= 1)
        )
    )


# -- KV prefix-cache economics (r11 queue) ------------------------------------------

_PFX_TOKENS = 8  # shared-prefix length credited to the KV cache


@register(
    "llm_prefix_cache_stats",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), pfx AS (
        SELECT doc_id,
               array_to_string(toks[1:{_PFX_TOKENS}], ' ') AS prefix
        FROM toked WHERE len(toks) >= {_PFX_TOKENS}
    )
    SELECT md5(prefix) AS prefix_md5,
           CAST(COUNT(*) AS BIGINT) AS n_prompts,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST((COUNT(*) - 1) * {_PFX_TOKENS} AS BIGINT) AS saved_tokens
    FROM pfx GROUP BY 1 HAVING COUNT(*) >= 2
    """,
)
def prefix_cache_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KV prefix-cache economics: group prompts by their first
    {_PFX_TOKENS} tokens and report, per shared prefix, how many prompts
    hit it and the decode tokens a prefix cache saves ((n−1)·len) — the
    number an inference platform reads to size its cache and order its
    batches (vLLM-style automatic prefix caching; shared system prompts
    make this distribution extremely heavy-tailed in production). Only
    multi-hit prefixes emit (singletons save nothing), bounding output
    by actual sharing.

    Shape: one map-side prefix projection, one partial-aggregable
    groupBy on the prefix hash. Nothing but the scan scales; the skew of
    a hot system prompt lands in ONE group whose aggregate is a counter,
    not a list."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    pfx = (
        docs.select("doc_id", tokens_col().alias("toks"))
        .filter(F.size("toks") >= _PFX_TOKENS)
        .select(
            "doc_id",
            F.array_join(F.slice("toks", 1, _PFX_TOKENS), " ").alias("prefix"),
        )
    )
    return (
        pfx.groupBy(F.md5("prefix").alias("prefix_md5"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_prompts"),
            F.min("doc_id").cast("long").alias("first_doc"),
            ((F.count(F.lit(1)) - 1) * _PFX_TOKENS)
            .cast("long")
            .alias("saved_tokens"),
        )
        .filter(F.col("n_prompts") >= 2)
    )


# -- T5-style span corruption (r11 queue) ------------------------------------------

_SPAN_LEN = 3  # tokens per corrupted span
_SPAN_STRIDE = 20  # span starts every 20 tokens -> 15% corruption rate


@register(
    "llm_span_corruption",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, doc_id % {_SPAN_STRIDE} AS r, {_TOKENS_SQL} AS toks
        FROM documents
    ), built AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(range(0, len(toks)), q ->
                   (q + {_SPAN_STRIDE} - r) % {_SPAN_STRIDE} = 0
                   AND q + {_SPAN_LEN - 1} <= len(toks) - 1)) AS BIGINT)
                   AS n_spans,
               list_aggregate(list_filter(list_transform(range(0, len(toks)), q ->
                   CASE WHEN (q + {_SPAN_STRIDE} - r) % {_SPAN_STRIDE} = 0
                             AND q + {_SPAN_LEN - 1} <= len(toks) - 1
                        THEN '<extra_id_' || CAST((q - r) // {_SPAN_STRIDE} AS VARCHAR) || '>'
                        WHEN (q + {_SPAN_STRIDE} - r) % {_SPAN_STRIDE} < {_SPAN_LEN}
                             AND (q - (q + {_SPAN_STRIDE} - r) % {_SPAN_STRIDE})
                                 + {_SPAN_LEN - 1} <= len(toks) - 1
                        THEN NULL
                        ELSE toks[q + 1] END),
                   x -> x IS NOT NULL), 'string_agg', ' ') AS corrupted,
               list_aggregate(list_filter(list_transform(range(0, len(toks)), q ->
                   CASE WHEN (q + {_SPAN_STRIDE} - r) % {_SPAN_STRIDE} = 0
                             AND q + {_SPAN_LEN - 1} <= len(toks) - 1
                        THEN '<extra_id_' || CAST((q - r) // {_SPAN_STRIDE} AS VARCHAR)
                             || '> ' || toks[q + 1] || ' ' || toks[q + 2]
                             || ' ' || toks[q + 3]
                        END),
                   x -> x IS NOT NULL), 'string_agg', ' ') AS target
        FROM toked
    )
    SELECT doc_id, n_tokens, n_spans,
           CAST((1000000 * {_SPAN_LEN} * n_spans) // n_tokens AS BIGINT)
               AS corrupt_ppm,
           md5(COALESCE(corrupted, '')) AS corrupted_md5,
           md5(COALESCE(target, '')) AS target_md5
    FROM built
    """,
)
def span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption — the denoising-objective preprocessing
    that turns raw documents into (corrupted input, sentinel target)
    pairs: deterministic {_SPAN_LEN}-token spans every {_SPAN_STRIDE}
    tokens (≈15% corruption, the T5 default) are replaced by numbered
    <extra_id_k> sentinels in the input, and the target strings the
    dropped spans behind their sentinels. Both reconstructed strings are
    md5-gated, so the sentinel numbering, span boundaries, tail handling
    (spans that would overflow the document are not selected) and token
    order are all under the hash — not just counts.

    Shape: pure per-document array expressions (transform/filter/join) —
    map-only, zero Python, zero shuffle; the output is 6 scalars/doc.
    Production randomizes span starts with a seeded hash per doc — the
    doc_id-mod phase here is exactly that with the simplest hash."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    S, L = _SPAN_STRIDE, _SPAN_LEN
    corrupted = (
        f"array_join(filter(transform(sequence(0, size(toks) - 1), q ->"
        f" CASE WHEN (q + {S} - r) % {S} = 0"
        f" AND q + {L - 1} <= size(toks) - 1"
        f" THEN concat('<extra_id_', CAST((q - r) div {S} AS STRING), '>')"
        f" WHEN (q + {S} - r) % {S} < {L}"
        f" AND (q - (q + {S} - r) % {S}) + {L - 1} <= size(toks) - 1"
        f" THEN NULL ELSE toks[q] END),"
        f" x -> x IS NOT NULL), ' ')"
    )
    target = (
        f"array_join(filter(transform(sequence(0, size(toks) - 1), q ->"
        f" CASE WHEN (q + {S} - r) % {S} = 0"
        f" AND q + {L - 1} <= size(toks) - 1"
        f" THEN concat('<extra_id_', CAST((q - r) div {S} AS STRING), '> ',"
        f" toks[q], ' ', toks[q + 1], ' ', toks[q + 2]) END),"
        f" x -> x IS NOT NULL), ' ')"
    )
    n_spans = (
        f"CAST(size(filter(sequence(0, size(toks) - 1), q ->"
        f" (q + {S} - r) % {S} = 0"
        f" AND q + {L - 1} <= size(toks) - 1)) AS BIGINT)"
    )
    built = docs.select(
        "doc_id",
        (F.col("doc_id") % S).alias("r"),
        tokens_col().alias("toks"),
    ).selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_tokens",
        f"{n_spans} AS n_spans",
        f"md5(COALESCE({corrupted}, '')) AS corrupted_md5",
        f"md5(COALESCE({target}, '')) AS target_md5",
    )
    return built.select(
        "doc_id",
        "n_tokens",
        "n_spans",
        F.expr(f"(1000000 * {L} * n_spans) div n_tokens")
        .cast("long")
        .alias("corrupt_ppm"),
        "corrupted_md5",
        "target_md5",
    )


# -- temperature-weighted mixture quotas (r11 queue) ------------------------------

_TMQ_BUDGET = 1_000_000  # tokens to allocate across sources
_TMQ_WSCALE = 1_000_000  # per-source weight quantization (pre-allocation)


@register(
    "llm_temperature_mix_quota",
    oracle=f"""
    WITH avail AS (
        SELECT source, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY 1
    ), wq AS (
        SELECT source, avail_tokens,
               CAST(FLOOR({_TMQ_WSCALE} * SQRT(CAST(avail_tokens AS DOUBLE)))
                    AS BIGINT) AS w
        FROM avail
    ), tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM wq),
    q AS (
        SELECT source, avail_tokens, w,
               CAST(({_TMQ_BUDGET} * w) // total_w AS BIGINT) AS floor_quota,
               CAST(({_TMQ_BUDGET} * w) % total_w AS BIGINT) AS rem
        FROM wq CROSS JOIN tot
    ), r AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS BIGINT)
                   AS rem_rank,
               CAST({_TMQ_BUDGET} - SUM(floor_quota) OVER () AS BIGINT)
                   AS leftover
        FROM q
    )
    SELECT source, avail_tokens, w,
           CAST(floor_quota
                + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS quota
    FROM r
    """,
)
def temperature_mix_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture quotas (τ = 0.5): a {_TMQ_BUDGET}-token
    budget allocated across sources proportional to availability^τ — the
    multilingual/multi-domain UPSAMPLING rule (mT5, XLM-R, the Pile all
    mix by n^τ) that flattens the head sources and boosts the tail,
    where llm_token_budget_quota's τ = 1 allocation just mirrors the
    corpus skew. τ = 0.5 is the one temperature with a libm-free exact
    weight: w = √n is IEEE-correctly-rounded, quantized to an integer
    per SOURCE (never summed as floats), and the allocation is the same
    largest-remainder integer discipline — Σ quota == budget exactly.
    (Other temperatures need pow(), which is not correctly rounded;
    deployments wanting τ = 0.7 accept the engine-specific ulp or ship a
    rational-exponent weight table.)

    Shape: one token-count aggregate (|sources| rows), a 1-row weight
    total, windows over the |sources|-sized relation. One scan."""
    from pyspark.sql.window import Window as W

    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.select(
        "source", F.size(tokens_col()).cast("long").alias("n_toks")
    ).groupBy("source").agg(F.sum("n_toks").cast("long").alias("avail_tokens"))
    wq = avail.withColumn(
        "w",
        F.expr(
            f"CAST(FLOOR({_TMQ_WSCALE} * SQRT(CAST(avail_tokens AS DOUBLE)))"
            " AS BIGINT)"
        ),
    )
    tot = wq.agg(F.sum("w").cast("long").alias("total_w"))
    q = wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "avail_tokens",
        "w",
        F.expr(f"CAST(({_TMQ_BUDGET} * w) div total_w AS BIGINT)").alias(
            "floor_quota"
        ),
        F.expr(f"CAST(({_TMQ_BUDGET} * w) % total_w AS BIGINT)").alias("rem"),
    )
    r = q.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.desc("rem"), F.asc("source")))
        .cast("long")
        .alias("rem_rank"),
        (F.lit(_TMQ_BUDGET) - F.sum("floor_quota").over(W.partitionBy()))
        .cast("long")
        .alias("leftover"),
    )
    return r.select(
        "source",
        "avail_tokens",
        "w",
        (
            F.col("floor_quota")
            + F.when(F.col("rem_rank") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )


# -- padding-waste-minimizing batch assembly (r11 queue) -------------------------

_PAD_BUCKET_TOKENS = 16  # length-bucket width (tokens)
_PAD_BATCH_SIZE = 8  # sequences per batch


@register(
    "llm_padding_waste_batching",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
        FROM documents
    ), b AS (
        SELECT doc_id, n_tokens,
               n_tokens // {_PAD_BUCKET_TOKENS} AS bucket,
               (ROW_NUMBER() OVER (PARTITION BY n_tokens // {_PAD_BUCKET_TOKENS}
                                   ORDER BY n_tokens, doc_id) - 1)
                   // {_PAD_BATCH_SIZE} AS batch_idx
        FROM toked
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(batch_idx AS BIGINT) AS batch_idx,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padding_waste,
           CAST((1000000 * (COUNT(*) * MAX(n_tokens) - SUM(n_tokens)))
                // (COUNT(*) * MAX(n_tokens)) AS BIGINT) AS waste_ppm
    FROM b GROUP BY 1, 2
    """,
)
def padding_waste_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly with exact padding accounting — the
    inference/serving counterpart of llm_sequence_packing (which
    concatenates for TRAINING): sequences batch only with near-equal
    lengths (buckets of {_PAD_BUCKET_TOKENS} tokens, {_PAD_BATCH_SIZE} per
    batch in deterministic (length, id) order), and each batch reports
    the tokens the pad-to-max collation burns — the number dynamic
    batching systems minimize. All integers; waste ratio
    in exact ppm.

    Shape: the length relation is one map-side projection; the only sort
    is the ROW_NUMBER within each length BUCKET — partitioned, never a
    global sort, so at corpus scale each bucket sorts independently
    (bucket count is max_len/{_PAD_BUCKET_TOKENS}, fixed; rows per bucket
    shard by the partitioned window). One groupBy per (bucket, batch)
    closes it."""
    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", F.size(tokens_col()).cast("long").alias("n_tokens")
    )
    b = toked.withColumn(
        "bucket", F.expr(f"n_tokens div {_PAD_BUCKET_TOKENS}")
    ).withColumn(
        "batch_idx",
        F.expr(
            f"(ROW_NUMBER() OVER (PARTITION BY n_tokens div {_PAD_BUCKET_TOKENS}"
            f" ORDER BY n_tokens, doc_id) - 1) div {_PAD_BATCH_SIZE}"
        ),
    )
    return b.groupBy("bucket", "batch_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
        (F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens"))
        .cast("long")
        .alias("padding_waste"),
        F.expr(
            "(1000000 * (COUNT(*) * MAX(n_tokens) - SUM(n_tokens)))"
            " div (COUNT(*) * MAX(n_tokens))"
        )
        .cast("long")
        .alias("waste_ppm"),
    )


# -- UniMax language-capped allocation (r12 queue) -----------------------------------

#: epoch cap: no language's data is repeated more than this many times
_UNIMAX_EPOCHS = 1
#: training budget as a fraction of the corpus (numerator/denominator)
_UNIMAX_B_NUM, _UNIMAX_B_DEN = 8, 10


@register(
    "llm_unimax_language_caps",
    oracle=f"""
    WITH avail AS (
        SELECT lang, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ), w AS (
        SELECT lang, n_tokens, {_UNIMAX_EPOCHS} * n_tokens AS cap,
               ROW_NUMBER() OVER ord AS rn,
               SUM({_UNIMAX_EPOCHS} * n_tokens)
                   OVER (ord ROWS UNBOUNDED PRECEDING) AS s,
               COUNT(*) OVER () AS l,
               ({_UNIMAX_B_NUM} * SUM(n_tokens) OVER ()) // {_UNIMAX_B_DEN}
                   AS b
        FROM avail
        WINDOW ord AS (ORDER BY {_UNIMAX_EPOCHS} * n_tokens, lang)
    ), f AS (
        SELECT *, CASE WHEN cap * (l - rn + 1) <= b - (s - cap)
                       THEN 1 ELSE 0 END AS flag
        FROM w
    ), g AS (
        SELECT *, SUM(flag) OVER () AS i0,
               COALESCE(SUM(CASE WHEN flag = 1 THEN cap END) OVER (), 0)
                   AS s_i0
        FROM f
    )
    SELECT lang, n_tokens, CAST(cap AS BIGINT) AS cap,
           CAST(CASE WHEN flag = 1 THEN cap
                     WHEN l = i0 THEN cap
                     ELSE (b - s_i0) // (l - i0)
                          + CASE WHEN rn - i0 <= (b - s_i0) % (l - i0)
                                 THEN 1 ELSE 0 END
                END AS BIGINT) AS alloc_tokens,
           CAST((1000000 * CASE WHEN flag = 1 THEN cap
                     WHEN l = i0 THEN cap
                     ELSE (b - s_i0) // (l - i0)
                          + CASE WHEN rn - i0 <= (b - s_i0) % (l - i0)
                                 THEN 1 ELSE 0 END
                END) // n_tokens AS BIGINT) AS epochs_ppm
    FROM g
    """,
)
def unimax_language_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax multilingual budget allocation (Chung et al., ICLR 2023):
    spread a training budget of {_UNIMAX_B_NUM}/{_UNIMAX_B_DEN} of the
    corpus as UNIFORMLY as possible across languages, but never repeat a
    language beyond {_UNIMAX_EPOCHS} epoch(s) — the repetition-capped
    alternative to temperature sampling (llm_temperature_mix_quota),
    which over-repeats tail languages at small τ. Exact integer
    water-filling: languages ascending by capacity c=E·n, the largest
    prefix whose members fit under an even split of what remains takes
    c outright (these languages are fully consumed), and the remainder
    splits evenly over the rest (floor + largest-remainder so the total
    is exactly B). On this fixture the four smaller languages cap at one
    epoch and English absorbs the remainder at ~half an epoch.

    Determinism: every quantity (token counts, caps, the cross-multiplied
    water-level test cap·(L−rn+1) ≤ B−S_prev, the floor/mod split) is
    BIGINT; both engines floor identically. Σ alloc == B by construction
    whenever B ≤ Σc.

    Shape: one token-count aggregate to |langs| rows; every window after
    that is over the |langs|-sized relation — the corpus is scanned once
    and never shuffled."""
    from pyspark.sql.window import Window as W

    from ..io import load_table

    docs = load_table(spark, sf_dir, "documents")
    avail = docs.groupBy("lang").agg(
        F.sum(F.size(tokens_col())).cast("long").alias("n_tokens")
    )
    ord_w = W.orderBy(
        (F.lit(_UNIMAX_EPOCHS) * F.col("n_tokens")).asc(), F.col("lang").asc()
    )
    all_w = W.partitionBy()
    w = avail.select(
        "lang",
        "n_tokens",
        (F.lit(_UNIMAX_EPOCHS) * F.col("n_tokens")).alias("cap"),
        F.row_number().over(ord_w).alias("rn"),
        F.sum(F.lit(_UNIMAX_EPOCHS) * F.col("n_tokens"))
        .over(ord_w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("s"),
        F.count(F.lit(1)).over(all_w).alias("l"),
        F.expr(
            f"({_UNIMAX_B_NUM} * SUM(n_tokens) OVER ()) div {_UNIMAX_B_DEN}"
        ).alias("b"),
    )
    f = w.withColumn(
        "flag",
        F.when(
            F.col("cap") * (F.col("l") - F.col("rn") + 1)
            <= F.col("b") - (F.col("s") - F.col("cap")),
            1,
        ).otherwise(0),
    )
    g = f.select(
        "*",
        F.sum("flag").over(all_w).alias("i0"),
        F.coalesce(
            F.sum(F.when(F.col("flag") == 1, F.col("cap"))).over(all_w),
            F.lit(0),
        ).alias("s_i0"),
    )
    alloc = (
        "CASE WHEN flag = 1 THEN cap"
        " WHEN l = i0 THEN cap"
        " ELSE (b - s_i0) div (l - i0)"
        " + CASE WHEN rn - i0 <= (b - s_i0) % (l - i0) THEN 1 ELSE 0 END"
        " END"
    )
    return g.select(
        "lang",
        "n_tokens",
        F.col("cap").cast("long").alias("cap"),
        F.expr(f"CAST({alloc} AS BIGINT)").alias("alloc_tokens"),
        F.expr(f"CAST((1000000 * {alloc}) div n_tokens AS BIGINT)").alias(
            "epochs_ppm"
        ),
    )


# -- chat-template rendering with loss masks (r12 queue) --------------------------------

_CHAT_SYS = "You are a helpful assistant."
_CHAT_PROMPT_TOKENS = 8  # first N tokens of the doc act as the user turn


@register(
    "llm_chat_template_render",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), parts AS (
        SELECT doc_id,
               array_to_string(list_slice(toks, 1, {_CHAT_PROMPT_TOKENS}),
                               ' ') AS user_text,
               array_to_string(list_slice(toks, {_CHAT_PROMPT_TOKENS} + 1,
                                          len(toks)), ' ') AS asst_text,
               LEAST(len(toks), {_CHAT_PROMPT_TOKENS}) AS prompt_tokens,
               GREATEST(len(toks) - {_CHAT_PROMPT_TOKENS}, 0)
                   AS response_tokens
        FROM t
    )
    SELECT doc_id,
           CAST(prompt_tokens AS BIGINT) AS prompt_tokens,
           CAST(response_tokens AS BIGINT) AS response_tokens,
           md5('<|system|>{_CHAT_SYS}<|user|>' || user_text
               || '<|assistant|>' || asst_text || '<|end|>') AS rendered_md5,
           CAST(CASE WHEN prompt_tokens + response_tokens = 0 THEN 0
                ELSE (1000000 * response_tokens)
                     // (prompt_tokens + response_tokens) END AS BIGINT)
               AS trained_ratio_ppm
    FROM parts
    """,
)
def chat_template_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template assembly with loss-mask accounting — the SFT data
    step between a raw corpus and a trainer: each document becomes a
    (system, user, assistant) conversation (first {_CHAT_PROMPT_TOKENS}
    normalized tokens play the user turn, the rest the assistant
    response), rendered through a fixed special-token template and
    md5-gated so role markers, separators, and boundary handling are
    pinned BYTE-exactly — the class of bug (missing space, swapped role
    order, off-by-one at the prompt/response split) that silently
    poisons an SFT run. trained_ratio_ppm is the loss-mask economics:
    the fraction of tokens that actually receive gradient (assistant
    tokens only, the standard masking rule).

    Shape: map-only — tokenize, slice, concat, hash per row; zero
    shuffles, zero joins. At 100 TB this is the canonical
    narrow-transform stage."""
    from ..io import load_table

    from .text import tokens_col

    toks = F.array_compact(tokens_col())
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", toks.alias("toks")
    )
    parts = docs.select(
        "doc_id",
        F.array_join(
            F.slice(F.col("toks"), 1, _CHAT_PROMPT_TOKENS), " "
        ).alias("user_text"),
        F.when(
            F.size("toks") > _CHAT_PROMPT_TOKENS,
            F.array_join(
                F.expr(
                    f"slice(toks, {_CHAT_PROMPT_TOKENS + 1},"
                    f" size(toks) - {_CHAT_PROMPT_TOKENS})"
                ),
                " ",
            ),
        )
        .otherwise(F.lit(""))
        .alias("asst_text"),
        F.least(F.size("toks"), F.lit(_CHAT_PROMPT_TOKENS))
        .cast("long")
        .alias("prompt_tokens"),
        F.greatest(F.size("toks") - _CHAT_PROMPT_TOKENS, F.lit(0))
        .cast("long")
        .alias("response_tokens"),
    )
    return parts.select(
        "doc_id",
        "prompt_tokens",
        "response_tokens",
        F.md5(
            F.concat(
                F.lit(f"<|system|>{_CHAT_SYS}<|user|>"),
                F.col("user_text"),
                F.lit("<|assistant|>"),
                F.col("asst_text"),
                F.lit("<|end|>"),
            )
        ).alias("rendered_md5"),
        F.expr(
            "CAST(CASE WHEN prompt_tokens + response_tokens = 0 THEN 0"
            " ELSE (1000000 * response_tokens)"
            " div (prompt_tokens + response_tokens) END AS BIGINT)"
        ).alias("trained_ratio_ppm"),
    )


# -- DSIR importance weights (r13 queue) -----------------------------------------------

_DSIR_BUCKETS = 256  # hashed-unigram feature space (DSIR hashes n-grams)
_DSIR_TOP = 25  # selected docs reported


@register(
    "llm_dsir_importance_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST({_TOKENS_SQL}) AS t FROM documents
    ), h AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(t), 1, 15))::BIGINT % {_DSIR_BUCKETS}
                   AS bucket
        FROM tok
    ), prof AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS HUGEINT)
                   AS ct,
               CAST(COUNT(*) AS HUGEINT) AS cs
        FROM h GROUP BY 1
    ), tot AS (
        SELECT CAST(SUM(ct) AS HUGEINT) AS nt, CAST(SUM(cs) AS HUGEINT) AS ns
        FROM prof
    ), lift AS (
        SELECT bucket,
               CAST((1000000 * (ct + 1) * (ns + {_DSIR_BUCKETS}))
                    // ((cs + 1) * (nt + {_DSIR_BUCKETS})) AS BIGINT)
                   AS lift_ppm
        FROM prof CROSS JOIN tot
    ), ds AS (
        SELECT h.doc_id, h.lang,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(l.lift_ppm) AS BIGINT) AS dsir_score
        FROM h JOIN lift l USING (bucket) GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_toks, dsir_score,
           CAST(dsir_score // n_toks AS BIGINT) AS per_tok_ppm
    FROM ds
    ORDER BY dsir_score // n_toks DESC, doc_id
    LIMIT {_DSIR_TOP}
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): score every raw document by how much it
    resembles the TARGET distribution (here lang = 'en') under hashed
    unigram bag-of-words language models — the principled pretraining
    data-selection step upstream of llm_domain_mix_resample's fixed
    quotas and llm_quality_percentile_gate's quality cut. Per-doc
    importance = Σ over tokens of the add-one-smoothed frequency-ratio
    lift of the token's hash bucket; the top-{_DSIR_TOP} docs by
    per-token score are the selected slice.

    Determinism: each bucket's lift is quantized to integer ppm BEFORE
    any per-doc sum (order-free by construction, the
    stats_hellinger_distance device); the ratio is computed cross-
    multiplied in DECIMAL(38)/HUGEINT — (ct+1)(N_s+B)·10⁶ passes 2^63
    well below web-corpus token counts — and per-token normalization is
    one integer division with the standing truncation semantics. Top-k
    fully tie-breaks on doc_id.

    Shape: one token explode, one md5 per token (the
    ml_feature_hashing_stats device — NO vocabulary broadcast at any
    scale), then ONE partial-aggregable groupBy(doc_id, lang, bucket)
    count relation from which BOTH language-model profiles AND the
    per-doc scoring derive: the {_DSIR_BUCKETS}-row profile is a
    re-aggregation of those counts, and the scoring join+rollup weights
    each (doc, bucket) count by the bucket's broadcast lift_ppm. The
    count relation is computed ONCE and shared via a lazy localCheckpoint
    (r21 session 2 — the r14 ReusedExchangeExec stopped firing once the
    two consumers' pruning diverged; the r13 shape recomputed the
    explode+hash Exchange for the scoring pass either way), and the
    scoring side shrinks from |tokens| rows to
    |distinct (doc, bucket)| ≤ {_DSIR_BUCKETS}·|docs| rows before the
    join. Ends in a TakeOrderedAndProject top-{_DSIR_TOP}."""
    from ..io import load_table

    tok = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(tokens_col()).alias("t")
    )
    h = tok.selectExpr(
        "doc_id",
        "lang",
        "CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
        f" % {_DSIR_BUCKETS} AS bucket",
    )
    cnt = (
        h.groupBy("doc_id", "lang", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        # r21 session 2 (guide §2.4): the r14 ReusedExchange no longer
        # fires (the round's executed-plan survey read 0 reused exchanges
        # — the profile and scoring consumers prune differently, which
        # de-canonicalizes the shared exchange), so the token explode +
        # md5 + groupBy ran under BOTH consumers. The lazy checkpoint
        # restores compute-once explicitly (≤ buckets·|docs| rows at any
        # scale). Interleaved A/B at sf0.1, results asserted identical:
        # steady 0.922 → 0.310 s, cold 0.877 → 0.442 s.
        .localCheckpoint(eager=False)
    )
    prof = cnt.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(F.lit(0)))
        .cast("decimal(38,0)")
        .alias("ct"),
        F.sum("c").cast("decimal(38,0)").alias("cs"),
    )
    tot = prof.agg(
        F.sum("ct").cast("decimal(38,0)").alias("nt"),
        F.sum("cs").cast("decimal(38,0)").alias("ns"),
    )
    lift = prof.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        f"CAST((1000000 * (ct + 1) * (ns + {_DSIR_BUCKETS}))"
        f" div ((cs + 1) * (nt + {_DSIR_BUCKETS})) AS BIGINT) AS lift_ppm",
    )
    ds = (
        cnt.join(F.broadcast(lift), "bucket")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("c").cast("long").alias("n_toks"),
            F.sum(F.col("c") * F.col("lift_ppm")).cast("long").alias(
                "dsir_score"
            ),
        )
    )
    return (
        ds.withColumn(
            "per_tok_ppm",
            F.expr("CAST(dsir_score div n_toks AS BIGINT)"),
        )
        .orderBy(F.desc("per_tok_ppm"), F.asc("doc_id"))
        .limit(_DSIR_TOP)
        .select("doc_id", "lang", "n_toks", "dsir_score", "per_tok_ppm")
    )


# -- Good-Turing missing mass (r14 queue) ------------------------------------------


@register(
    "llm_good_turing_missing_mass",
    # r14: activated first-thing from the r13-built queue (VERDICT r13 #1)
    oracle=f"""
    WITH tok AS (
        SELECT lang, {_TOKENS_SQL} AS l FROM documents
        WHERE len({_TOKENS_SQL}) >= 2
    ), big AS (
        SELECT lang, UNNEST(list_transform(l[:len(l)-1],
                   (t, i) -> t || ' ' || l[i+1])) AS t
        FROM tok
    ), types AS (
        SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS r
        FROM big GROUP BY 1, 2
    )
    SELECT lang,
           CAST(SUM(r) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_doubletons,
           CAST(1000000 * SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                // SUM(r) AS BIGINT) AS missing_mass_ppm,
           CAST(CASE WHEN SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) = 0 THEN 0
                     ELSE 2000000 * SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)
                          // SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) END
                AS BIGINT) AS r1_star_ppm
    FROM types GROUP BY lang
    """,
)
def good_turing_missing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing missing mass per language over BIGRAM types (Good
    1953; Church & Gale 1991, the canonical bigram application; the
    Simple Good-Turing framing of Gale & Sampson 1995): the total
    probability mass of UNSEEN bigram types is estimated by the
    singleton share P0 = N1/N, and the smoothed count for once-seen
    types is r1* = 2·N2/N1 — the vocabulary-saturation diagnostics a
    corpus builder reads before trusting a bigram LM's
    (text_bigram_lm) MLE counts or `llm_bpe_vocab_coverage`'s closed
    vocabulary: a large missing mass says the corpus has not yet seen
    the language's tail. Bigrams, not unigrams, deliberately: the
    fixture's unigram vocabulary is closed (~31 types/lang, zero
    singletons — measured), which would leave every branch of the
    statistic dead; the bigram type space carries live N1/N2 at every
    shipped SF.

    Determinism: N (bigram tokens), V (types), N1 (singletons), N2
    (doubletons) are exact integers from two cascaded counts; the two
    estimates are single integer ppm rationals with the standing
    truncating division, and the N1 = 0 degenerate (every type seen
    twice or more) cases r1* to 0 in both engines — the same
    wrap-vs-error guard convention as stats_cochran_q. The bigram
    build is positional (token i ++ ' ' ++ token i+1 inside the array,
    before any explode), so no ordering is ever lost to a shuffle;
    sub-2-token docs are filtered identically on both sides.

    Shape (100 TB): ONE bigram explode feeding groupBy(lang, bigram) —
    partial-aggregable, so each map task emits at most one row per
    distinct (lang, bigram) and the Zipf-head types arrive at their
    reducer as ≤ #map-tasks partial counts, never raw occurrences; the
    per-lang rollup is a second conditional aggregation over the type
    relation (|V| rows, corpus-sublinear by Heaps' law). No vocabulary
    is ever broadcast or collected."""
    from ..io import load_table

    big = (
        load_table(spark, sf_dir, "documents")
        .select("lang", tokens_col().alias("l"))
        .filter(F.size("l") >= 2)
        # Spark SQL array subscript l[i] is 0-BASED (transform's i too),
        # so l[i + 1] pairs token i with its successor; DuckDB's
        # list_transform i is 1-based and l[i + 1] means the same pair
        .selectExpr(
            "lang",
            "explode(transform(slice(l, 1, size(l) - 1),"
            " (t, i) -> concat(t, ' ', l[i + 1]))) AS t",
        )
    )
    types = big.groupBy("lang", "t").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    return types.groupBy("lang").agg(
        F.sum("r").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_singletons"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_doubletons"),
        F.expr(
            "CAST(1000000 * SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)"
            " div SUM(r) AS BIGINT)"
        ).alias("missing_mass_ppm"),
        F.expr(
            "CAST(CASE WHEN SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) = 0"
            " THEN 0"
            " ELSE 2000000 * SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END)"
            " div SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) END AS BIGINT)"
        ).alias("r1_star_ppm"),
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
