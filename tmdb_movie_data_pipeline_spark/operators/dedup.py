"""Deduplication operators (SURVEY.md §2.5 A1/A2 + §2.9 "exact/near dedup").

The reference dedups on an exact key only (drop_duplicates on tmdb_id,
src/movie.py:275,295). A training-data pipeline needs content-level dedup;
this module ships the standard ladder:

* exact     — hash-groupBy on a content fingerprint (one shuffle on the hash);
* MinHash+LSH — shingle → per-seed min-hash signature → band buckets →
  candidate pairs via an equi-join on (band, bucket). Signatures are computed
  per row with array expressions (NO explode, NO shuffle); the only shuffle
  is the band-bucket join, whose size is O(candidates), not O(pairs) — the
  property that makes this the 100 TB near-dup algorithm;
* SimHash   — 32-bit per-document sketch (bitwise majority of token hashes);
  identical-sketch grouping here, hamming-radius banding at scale;
* n-gram Jaccard — exact pairwise similarity, restricted to candidate pairs
  that share a shingle; the verification stage behind MinHash candidates.

Hash functions are md5-based (not Spark's xxhash64) so the DuckDB oracle can
compute bit-identical signatures — the dedup *decision* is what the
correctness gate locks in. Lexicographic min over fixed-width hex = numeric
min over the hash, which is all MinHash needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import load_table
from ..registry import register

__all__ = ["exact_dedup", "minhash_signatures", "NUM_HASHES", "BANDS", "ROWS_PER_BAND"]

NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS

# Word 3-gram shingles over normalized text — shared by MinHash and Jaccard.
_NORM_SQL = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
_TOKENS_SQL = f"string_split({_NORM_SQL}, ' ')"
_SHINGLES_SQL = (
    f"[toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] "
    f"for i in range(1, GREATEST(len(toks) - 1, 2))]"
)

_NORM_SPARK = "lower(trim(regexp_replace(text, '\\\\s+', ' ')))"
_TOKENS_SPARK = f"split({_NORM_SPARK}, ' ')"
_SHINGLES_SPARK = (
    "transform(sequence(1, greatest(size(toks) - 2, 1)),"
    " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
)


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact content dedup: md5-group, keep the smallest id as canonical.
    One partial+final hash aggregate — the A1/A2 pattern with a content key."""
    return (
        df.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(docs: DataFrame, seeds: int = NUM_HASHES) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): per-seed min-hash over word-3-gram shingles.

    One md5 per shingle; the k hash functions are derived Kirsch-Mitzenmacher
    style as ``h_i = h1 + i·h2`` from two disjoint md5 slices (h1: 60 bits,
    h2: 56 bits — h1 + 15·h2 < 2^63, no overflow under ANSI mode). This cuts
    hashing cost k× versus hashing per seed, at equal MinHash quality.

    Physical shape: explode shingles → hash each ONCE as a materialized row
    → partial/final min-aggregate per doc. The aggregate binds to the
    hashed attributes, so the md5 runs exactly once per shingle (an
    array-expression formulation looks shuffle-free but CollapseProject
    inlines the md5 array into every per-seed projection — k× the hashing).
    The min-agg combines map-side, so the shuffle carries only
    O(docs × seeds) bytes, not O(shingles).
    """
    hashed = (
        docs.selectExpr("doc_id", f"{_TOKENS_SPARK} AS toks")
        .selectExpr("doc_id", f"explode({_SHINGLES_SPARK}) AS s")
        .selectExpr(
            "doc_id",
            "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS h1",
            "CAST(conv(substring(md5(s), 17, 14), 16, 10) AS BIGINT) AS h2",
        )
    )
    sig_cols = [F.expr(f"min(h1 + {i} * h2) AS sig_{i}") for i in range(seeds)]
    return hashed.groupBy("doc_id").agg(*sig_cols)


def _sig_sql(i: int) -> str:
    return (
        "list_min(list_transform(md5s, m ->"
        " ('0x' || substr(m, 1, 15))::BIGINT"
        f" + {i} * ('0x' || substr(m, 17, 14))::BIGINT))"
    )


_MINHASH_ORACLE = f"""
WITH toked AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
), shingled AS (
    SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM toked
), sigs AS (
    SELECT doc_id,
           {", ".join(f"{_sig_sql(i)} AS sig_{i}" for i in range(NUM_HASHES))}
    FROM (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS md5s FROM shingled)
), bands AS (
    SELECT doc_id, band_idx,
           CASE band_idx
             {" ".join(
                 f"WHEN {b} THEN md5(" + " || '|' || ".join(
                     f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
                 ) + ")"
                 for b in range(BANDS)
             )}
           END AS bucket
    FROM sigs, (SELECT UNNEST(range(0, {BANDS})) AS band_idx)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_idx = b.band_idx AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


@register("dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding
    (16 hashes, 4 bands × 4 rows → catches pairs with Jaccard ≳ 0.7)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    band_exprs = []
    for b in range(BANDS):
        parts = [f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        band_exprs.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(f"md5(concat_ws('|', {', '.join(parts)}))").alias("bucket"),
            )
        )
    bands = (
        sigs.select("doc_id", F.explode(F.array(*band_exprs)).alias("band"))
        .select(
            "doc_id",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.bucket").alias("bucket"),
        )
        # r21 session 2 (guide §2.4): both self-join sides re-executed the
        # whole signature pipeline (shingle explode + md5 + 16-way min
        # groupBy) — zero runtime exchange reuse, like every duplicated
        # subtree this round's survey found. The lazy checkpoint
        # materializes the |docs|×BANDS band relation once inside the
        # first action. Interleaved A/B at sf0.1, results asserted
        # identical: steady 0.632 → 0.184 s, cold 0.652 → 0.287 s (also
        # halves the cold lsh_pairs_staged build every consumer amortizes).
        .localCheckpoint(eager=False)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


#: Schema of the staged pair table, which ``lsh_pairs_staged`` writes itself.
_PAIRS_DDL = "doc_a bigint, doc_b bigint"


def lsh_pairs_staged(
    spark: SparkSession, sf_dir: str, _retry: bool = True
) -> DataFrame:
    """The MinHash-LSH candidate pair list, MATERIALIZED once per fixture
    and shared by every downstream consumer (graph kernels, the corpus
    funnel, the Jaccard verifiers) — VERDICT r6 #4: each consumer paid the
    full shingle→signature→band pipeline (~8 s cold at sf0.1) on every
    query.

    The staged relation is exactly ``minhash_lsh_pairs``'s output —
    (doc_a, doc_b) BIGINT pairs, a lossless parquet round-trip — so every
    consumer's result set is bit-identical to computing the pairs inline;
    only the physical plan changes (a 2-column parquet scan replaces the
    pipeline). The cache key fingerprints the documents table's path,
    size, mtime and the LSH parameters, so a changed fixture or retuned
    banding rebuilds instead of serving stale pairs. Publication is
    atomic (write to a tmp dir, rename into place); concurrent builders
    race benignly — the loser discards its copy.

    This mirrors the 100 TB deployment shape: the candidate edge list is
    a TABLE, built once per corpus snapshot and read by every dedup/graph
    job, not a subplan re-executed inside each of them.
    """
    import hashlib
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    doc = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(doc)
    # the fingerprint must cover every SEMANTIC input to the pair list, not
    # just the data file: a retuned normalizer/shingler/hash-derivation
    # with an unchanged fixture would otherwise serve stale pairs from a
    # previous code version's cache (review r7)
    semantics = "|".join(
        (
            _NORM_SPARK,
            _TOKENS_SPARK,
            _SHINGLES_SPARK,
            str(NUM_HASHES),
            str(BANDS),
            str(ROWS_PER_BAND),
        )
    )
    fp = hashlib.md5(
        f"{os.path.abspath(doc)}|{st.st_size}|{st.st_mtime_ns}"
        f"|{semantics}".encode()
    ).hexdigest()[:16]
    # per-user base dir, created 0o700 and ownership-verified (ADVICE r7):
    # a uid-suffixed name alone does not claim the path — another local
    # user can pre-create it in the world-writable tempdir and plant a
    # poisoned fingerprint dir with _SUCCESS that every downstream
    # dedup/graph/LLM query would silently consume. makedirs(exist_ok)
    # adopts whatever is there, so verify mkdtemp-style: a real directory
    # (lstat — a symlink fails the check), owned by us, not group/other
    # writable. Refusal is loud; there is no fallback path.
    import stat as _stat

    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_lsh_stage-{os.getuid()}"
    )
    os.makedirs(base, mode=0o700, exist_ok=True)
    st_base = os.lstat(base)
    if (
        not _stat.S_ISDIR(st_base.st_mode)
        or st_base.st_uid != os.getuid()
        or st_base.st_mode & 0o022
    ):
        raise RuntimeError(
            f"refusing LSH stage cache base {base!r}: not a private "
            f"directory owned by uid {os.getuid()} (mode "
            f"{oct(st_base.st_mode)}, uid {st_base.st_uid}) — possible "
            "tempdir pre-creation attack; remove it or point TMPDIR at a "
            "private location"
        )
    final = os.path.join(base, fp)
    done = os.path.join(final, "_SUCCESS")
    if not os.path.exists(done):
        if os.path.exists(final) and not os.path.exists(done):
            # crashed previous build (dir without _SUCCESS): steal it
            # aside ATOMICALLY, then delete the junk. Of concurrent
            # racers exactly one rename succeeds; re-checking _SUCCESS
            # immediately before the steal NARROWS (not closes — ADVICE
            # r8) the TOCTOU window in which a builder publishes between
            # the re-check and the rename: a reader that loses that race
            # retries the final read once below, re-entering the build
            # path if the cache vanished mid-read. Same fingerprint,
            # identical bytes either way.
            junk = os.path.join(base, f".junk-{_uuid.uuid4().hex[:12]}")
            try:
                if not os.path.exists(done):
                    os.rename(final, junk)
                    shutil.rmtree(junk, ignore_errors=True)
            except OSError:
                pass  # another racer stole it first, or it just published
        tmp = os.path.join(base, f".tmp-{_uuid.uuid4().hex[:12]}")
        try:
            minhash_lsh_pairs(spark, sf_dir).write.parquet(tmp)
            try:
                os.rename(tmp, final)
            except OSError:
                if not os.path.exists(done):
                    raise  # NOT a lost race (EXDEV/permissions): surface it
                # else: a concurrent builder won — use theirs
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    try:
        return spark.read.schema(_PAIRS_DDL).parquet(final)
    except Exception:
        # ADVICE r8: a concurrent steal can remove `final` between our
        # done-check and this read (the narrowed-but-open TOCTOU above).
        # ONE retry re-enters the build path if the cache vanished; a
        # second failure is a real error and surfaces.
        if not _retry:
            raise
        if os.path.exists(done):
            return spark.read.schema(_PAIRS_DDL).parquet(final)
        return lsh_pairs_staged(spark, sf_dir, _retry=False)


@register(
    "dedup_exact",
    oracle=f"""
    SELECT md5({_NORM_SQL}) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           CAST(COUNT(*) AS BIGINT)    AS dup_count
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_NORM_SPARK).alias("norm_text")
    )
    return exact_dedup(docs, "norm_text", "doc_id")


# --- SimHash ---------------------------------------------------------------

_SIMHASH_BITS = 32


def _bit_val_spark(j: int) -> str:
    """±1 contribution of bit j of md5(token) (hex digit j//4, bit j%4)."""
    digit = j // 4 + 1
    shift = j % 4
    v = f"(instr('0123456789abcdef', substring(md5(t), {digit}, 1)) - 1)"
    return f"CASE WHEN ({v} div {1 << shift}) % 2 = 1 THEN 1 ELSE -1 END"


def _bit_val_duck(j: int) -> str:
    digit = j // 4 + 1
    shift = j % 4
    v = f"(strpos('0123456789abcdef', substr(md5(t), {digit}, 1)) - 1)"
    return f"CASE WHEN (({v} // {1 << shift}) % 2) = 1 THEN 1 ELSE -1 END"


_SIMHASH_ORACLE = f"""
WITH toked AS (
    SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
), bits AS (
    SELECT doc_id,
           {", ".join(
               f"CASE WHEN list_sum(list_transform(toks, t -> {_bit_val_duck(j)})) >= 0"
               f" THEN CAST({1 << j} AS BIGINT) ELSE 0 END AS bit_{j}"
               for j in range(_SIMHASH_BITS)
           )}
    FROM toked
)
SELECT doc_id,
       CAST({" + ".join(f"bit_{j}" for j in range(_SIMHASH_BITS))} AS BIGINT) AS simhash
FROM bits
"""


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document: bitwise majority vote over token hashes.

    Near-dup grouping at scale pairs this with hamming-ball banding
    (split the sketch into 4 bytes; Hamming distance ≤3 ⇒ one byte matches
    exactly ⇒ equi-join per byte) — the sketch column is the hard part and
    is what the oracle verifies bit-for-bit.
    """
    docs = load_table(spark, sf_dir, "documents")
    toked = docs.selectExpr("doc_id", f"{_TOKENS_SPARK} AS toks")
    bit_terms = " + ".join(
        f"(CASE WHEN aggregate(transform(toks, t -> {_bit_val_spark(j)}), 0,"
        f" (acc, x) -> acc + x) >= 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(_SIMHASH_BITS)
    )
    return toked.select("doc_id", F.expr(f"CAST({bit_terms} AS BIGINT)").alias("simhash"))


# DuckDB oracle for the candidate-pair verifiers: the staged LSH pair list
# (`cand`), each document's distinct shingle list (`shingled`, `sizes`),
# and the exact per-pair intersection (`pair_inter`), counted by joining
# doc_a's unnested shingles to doc_b's on (doc_id, shingle). It is the
# independent reference; the Spark side intersects per-document arrays
# instead (see _candidate_overlap).
_CAND_INTER_SQL = f"""
    cand AS ({_MINHASH_ORACLE}),
    toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), shingled AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM toked
    ), exploded AS (
        SELECT doc_id, UNNEST(sh) AS shingle FROM shingled
    ), pair_inter AS (
        SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS inter
        FROM cand c
        JOIN exploded ea ON ea.doc_id = c.doc_a
        JOIN exploded eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_sh FROM shingled
    )"""


def _doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, sh): each document's distinct word-3-gram shingles as one
    array — the shingle set every set-similarity query starts from."""
    return docs.selectExpr("doc_id", f"{_TOKENS_SPARK} AS toks").selectExpr(
        "doc_id", f"array_distinct({_SHINGLES_SPARK}) AS sh"
    )


def _candidate_overlap(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, common, n_a, n_b, inter) per candidate pair: the
    shingles both documents hold, each side's distinct-shingle count and
    the size of ``common`` (both BIGINT).

    Each staged pair is joined to ``sh`` (from ``_doc_shingles``) on doc_a
    and on doc_b, and the overlap is ``array_intersect(sa, sb)`` — a merge
    of two per-document lists, as string-similarity joins verify a
    candidate. Both joins key on document ids only, so a Zipfian
    stop-phrase shingle cannot become a hot key, and no row per shingle
    is ever shuffled. Pairs with no shingle in common drop out, as they
    do from the oracle's inner joins."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.array_intersect("sa", "sb").alias("common"),
            F.size("sa").cast("long").alias("n_a"),
            F.size("sb").cast("long").alias("n_b"),
        )
        .withColumn("inter", F.size("common").cast("long"))
        .filter(F.col("inter") > 0)
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_CAND_INTER_SQL}
    SELECT doc_a, doc_b,
           CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
    FROM pair_inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) >= 0.0375
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard VERIFY stage over the staged MinHash-LSH
    candidate pairs — the production pipeline order (band → candidate pair
    list → exact verify), rewired per VERDICT r7 #1: the intersection is
    keyed on the candidate pair, never on the raw shingle, so a Zipfian
    stop-phrase shingle cannot become a hot join key. The threshold is set
    low enough to produce verifiable rows on the synthetic corpus."""
    docs = load_table(spark, sf_dir, "documents")
    ov = _candidate_overlap(lsh_pairs_staged(spark, sf_dir), _doc_shingles(docs))
    # raw int/int IEEE division — bit-equal across engines, no rounding
    jac = F.col("inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    return ov.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= 0.0375
    )


@register(
    "dedup_weighted_jaccard_pairs",
    oracle=f"""
    WITH {_CAND_INTER_SQL},
    sdf AS (
        SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM exploded
        GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    wt AS (
        SELECT shingle,
               CAST((1000000 * (n_docs + 1)) // (df + 1) AS BIGINT) AS w
        FROM sdf, nn
    ),
    wtot AS (
        SELECT doc_id, CAST(SUM(w) AS BIGINT) AS w_doc
        FROM exploded JOIN wt USING (shingle) GROUP BY 1
    ),
    wint AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter,
               CAST(SUM(wt.w) AS BIGINT) AS w_inter
        FROM cand c
        JOIN exploded ea ON ea.doc_id = c.doc_a
        JOIN exploded eb ON eb.doc_id = c.doc_b AND eb.shingle = ea.shingle
        JOIN wt ON wt.shingle = ea.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, w_inter,
           wa.w_doc AS w_a, wb.w_doc AS w_b,
           CAST((1000000 * w_inter)
                // (wa.w_doc + wb.w_doc - w_inter) AS BIGINT)
               AS wjaccard_ppm
    FROM wint
    JOIN wtot wa ON wa.doc_id = doc_a
    JOIN wtot wb ON wb.doc_id = doc_b
    """,
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted Jaccard VERIFY stage over the staged LSH candidate
    pairs: Σ_{{s∈A∩B}} w_s / Σ_{{s∈A∪B}} w_s with the log-free rational
    IDF weight w_s = 1e6·(N+1) div (df_s+1) — the similarity near-dup
    pipelines reach for when boilerplate shingles (headers, license
    blocks, navigation chrome) dominate plain Jaccard: a shared
    stop-phrase contributes almost nothing, a shared rare shingle almost
    everything. All-integer (weights are exact ppm rationals; sums and
    the final division are BIGINT), so the cross-engine hash is exact.

    Shape: the candidate pairs are verified by _candidate_overlap, as in
    dedup_ngram_jaccard (joins keyed on document ids only). The
    shingle-weight relation is vocabulary-sized; it is built from the
    exploded per-document arrays and joins by its natural key onto them
    (per-document total weights) and onto each pair's exploded common
    shingles (the intersection weight). AQE broadcasts it when it fits.
    The union weight is computed as w_A + w_B − w_inter, so no union set
    is ever materialized.
    """
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_pairs_staged(spark, sf_dir)
    # feeds the weight build, the per-doc totals AND both sides of the
    # pair overlap: shingle the corpus once, not once per consumer
    sh = _doc_shingles(docs).localCheckpoint(eager=False)
    exploded = sh.select("doc_id", F.explode("sh").alias("shingle"))
    n_docs = docs.count()  # scalar dimension; fine to evaluate eagerly
    # fold 1e6*(N+1) in PYTHON: interpolated as `1000000 * (N + 1)` the
    # operands parse as INT literals and ANSI constant folding overflows
    # once N >= 2147 (seen at sf0.1, N=5000 — INT ceiling, not a data edge;
    # any real corpus is past it). The pre-folded literal parses as BIGINT
    # and the arithmetic value is unchanged at every scale.
    wt = exploded.groupBy("shingle").agg(
        F.expr(f"CAST({1000000 * (n_docs + 1)} div (COUNT(*) + 1) AS BIGINT)")
        .alias("w")
    )
    wtot = (
        exploded.join(wt, "shingle")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("w_doc"))
    )
    wint = (
        _candidate_overlap(cand, sh)
        .select("doc_a", "doc_b", F.explode("common").alias("shingle"))
        .join(wt, "shingle")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("inter"),
            F.sum("w").cast("long").alias("w_inter"),
        )
    )
    return (
        wint.join(
            wtot.select(F.col("doc_id").alias("doc_a"), F.col("w_doc").alias("w_a")),
            "doc_a",
        )
        .join(
            wtot.select(F.col("doc_id").alias("doc_b"), F.col("w_doc").alias("w_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "w_inter",
            "w_a",
            "w_b",
            F.expr("(1000000 * w_inter) div (w_a + w_b - w_inter)")
            .cast("long")
            .alias("wjaccard_ppm"),
        )
    )


# -- b-bit MinHash (1-bit signatures) — r11 queue -------------------------------

_BBIT_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.sig_{i} % 2 = sb.sig_{i} % 2 THEN 1 ELSE 0 END"
    for i in range(NUM_HASHES)
)


@register(
    "dedup_bbit_minhash_estimate",
    oracle=f"""
    WITH {{CAND_INTER}}, sigs AS (
        SELECT doc_id,
               {", ".join(f"{_sig_sql(i)} AS sig_{i}" for i in range(NUM_HASHES))}
        FROM (SELECT doc_id, list_transform({{SHINGLES}}, s -> md5(s)) AS md5s
              FROM toked)
    )
    SELECT c.doc_a, c.doc_b,
           CAST({_BBIT_MATCH_SQL} AS BIGINT) AS n_bit_match,
           CAST(GREATEST(
                    (2000000 * ({_BBIT_MATCH_SQL})) // {NUM_HASHES} - 1000000,
                    0) AS BIGINT) AS bbit_est_ppm,
           CAST((1000000 * i.inter)
                // (za.n_sh + zb.n_sh - i.inter) AS BIGINT)
               AS exact_jaccard_ppm
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    JOIN pair_inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """.replace("{CAND_INTER}", _CAND_INTER_SQL).replace(
        "{SHINGLES}", "list_distinct(" + _SHINGLES_SQL + ")"
    ),
)
def bbit_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (b=1, Li & König '10) accuracy contract per staged
    candidate pair: keep only the LOWEST BIT of each of the {NUM_HASHES}
    MinHash slots — a 16× signature-storage cut, the economics that let
    petabyte dedup keep signatures in memory — and pin its estimator
    J ≈ 2·(bit-match fraction) − 1 (the b=1 collision identity at
    negligible marginal bit bias, clamped at 0) NEXT TO the exact
    shingle Jaccard, exactly as dedup_minhash_jaccard_estimate does for
    the full-width sketch. A consumer reads this table to decide when the
    1-bit economy is worth the extra variance (the two estimate columns
    diverge hardest on mid-similarity pairs).

    Shape: identical to the full-width contract query — shared hash-once
    min-agg signatures, map-side {NUM_HASHES}-term bit compare on the
    candidate-keyed join, exact intersection from _candidate_overlap.
    All integer ppm.
    Cites the estimator-vs-truth pattern of sketches.py and reference
    parity of the dedup shelf (grknc/tmdb-movie-data-pipeline has no sketch surface;
    this extends SURVEY.md §2.9's north-star dedup battery).
    """
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_pairs_staged(spark, sf_dir)
    sigs = minhash_signatures(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a_{i}") % 2 == F.col(f"b_{i}") % 2, 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        _candidate_overlap(cand, _doc_shingles(docs))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_bit_match", n_match.cast("long"))
        .select(
            "doc_a",
            "doc_b",
            "n_bit_match",
            F.greatest(
                F.expr(f"(2000000 * n_bit_match) div {NUM_HASHES} - 1000000"),
                F.lit(0),
            )
            .cast("long")
            .alias("bbit_est_ppm"),
            F.expr("(1000000 * inter) div (n_a + n_b - inter)")
            .cast("long")
            .alias("exact_jaccard_ppm"),
        )
    )


HAMMING_MAX = 6
_N_BANDS_SH = 4  # 4 bytes of the 32-bit sketch; hamming ≤ 6 < 8 ⇒ by
# pigeonhole at least one byte matches exactly → byte-equality candidates
# have perfect recall for the radius (the standard hamming-ball banding)


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sk AS ({_SIMHASH_ORACLE.strip()}),
    bands AS (
        SELECT doc_id, simhash, band_idx,
               (simhash // CAST(POWER(256, band_idx) AS BIGINT)) % 256 AS band_val
        FROM sk, (SELECT UNNEST(range(0, {_N_BANDS_SH})) AS band_idx)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_MAX}
    """,
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: hamming-ball banding (byte-equality
    candidates — pigeonhole guarantees recall for hamming ≤ 6 over 4 bands)
    then exact popcount(xor) verification.

    Scale shape: the band join is an equi-join on (band, byte) — candidate
    generation is O(collisions); the 2^32 sketch space keeps random
    collisions rare, so no O(n²) stage exists.
    """
    sketches = simhash_docs(spark, sf_dir)
    band_vals = F.explode(
        F.array(*[
            F.struct(
                F.lit(b).alias("band_idx"),
                ((F.col("simhash") / F.lit(256**b)).cast("long") % 256).alias("band_val"),
            )
            for b in range(_N_BANDS_SH)
        ])
    )
    bands = (
        sketches.select("doc_id", "simhash", band_vals.alias("bv"))
        .select(
            "doc_id",
            "simhash",
            F.col("bv.band_idx").alias("band_idx"),
            F.col("bv.band_val").alias("band_val"),
        )
        # r21 session 2 (guide §2.4): both self-join sides re-executed the
        # sketch pipeline — 32 interpreted majority-vote folds per doc,
        # the query's dominant cost, paid twice with zero runtime exchange
        # reuse. The lazy checkpoint materializes the |docs|×4 band
        # relation once inside the first action. Interleaved A/B at sf0.1,
        # results asserted identical (1,012,715 candidate-derived rows):
        # steady 1.511 → 0.426 s (0.28×), cold 1.361 → 0.874 s.
        .localCheckpoint(eager=False)
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= HAMMING_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# -- FastSS fuzzy join (edit-distance-1 blocking) -----------------------------

_FUZZ_CUT = 600  # bound the demo block; the algorithm is the point


@register(
    "join_fuzzy_deletion_neighborhood",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey < {_FUZZ_CUT}
    ),
    var AS (
        SELECT c_custkey, c_name,
               UNNEST(list_append(list_transform(range(1, length(c_name) + 1),
                      i -> substr(c_name, 1, i - 1)
                           || substr(c_name, i + 1, length(c_name) - i)),
                      c_name)) AS v
        FROM c
    ),
    cand AS (
        SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
                        a.c_name AS name_a, b.c_name AS name_b
        FROM var a JOIN var b ON a.v = b.v AND a.c_custkey < b.c_custkey
    )
    SELECT key_a, key_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS edit_dist
    FROM cand WHERE levenshtein(name_a, name_b) <= 1
    """,
)
def fuzzy_deletion_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join at edit distance ≤ 1 via FastSS deletion
    neighborhoods: every string is indexed under itself plus each
    one-character deletion, and two strings within one edit ALWAYS share an
    index entry (substitution → same deletion position; insert/delete →
    the longer's deletion hits the shorter). Candidate generation is an
    EQUI-join on the variant key — never the all-pairs levenshtein scan,
    which is the O(n²) trap every naive fuzzy join falls into. The exact
    levenshtein verifies candidates only.

    Scale shape: the variant index is |rows| × (len+1) — linear blow-up,
    shuffled once on the variant string; candidates are collision-bounded.
    The same index joined against a second table gives fuzzy lookup; at
    edit distance k the neighborhood is deletions^k (FastSS), still
    equi-join blocking."""
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _FUZZ_CUT)
        .select("c_custkey", "c_name")
    )
    variants = F.expr(
        "concat(transform(sequence(1, length(c_name)), "
        "i -> concat(substr(c_name, 1, i - 1), "
        "substr(c_name, i + 1, length(c_name) - i))), array(c_name))"
    )
    var = c.select("c_custkey", "c_name", F.explode(variants).alias("v"))
    a = var.select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"), "v"
    )
    b = var.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"), "v"
    )
    cand = (
        a.join(b, "v")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "name_a", "name_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("name_a", "name_b") <= 1).select(
        "key_a",
        "key_b",
        F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
    )


# -- exact-substring dedup (Lee et al. 2022's second dedup axis) --------------

_SUBSTR_K = 15  # tokens per window: pairs share a >= K-token verbatim run


@register(
    "dedup_exact_substring",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    grams AS (
        SELECT doc_id,
               UNNEST([md5(array_to_string(toks[i:i+{_SUBSTR_K - 1}], ' '))
                       for i in range(1, GREATEST(len(toks) - {_SUBSTR_K - 2}, 2))]) AS g
        FROM toked
    ),
    gd AS (SELECT DISTINCT doc_id, g FROM grams)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM gd a JOIN gd b ON a.g = b.g AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """.replace("{toks}", _TOKENS_SQL),
)
def exact_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING near-dup pairs: documents sharing a verbatim run of
    >= {_SUBSTR_K} consecutive tokens — the second dedup axis of
    "Deduplicating Training Data Makes Language Models Better" (Lee et
    al. 2022), orthogonal to MinHash/SimHash whole-document similarity: a
    boilerplate footer pasted into otherwise-unrelated pages is invisible
    to bag-of-shingles sketches but is exactly a shared token window.

    Candidate generation is the same hashed-key equi-join shape as LSH
    banding: explode each document into md5-hashed {_SUBSTR_K}-token
    rolling windows, dedup (doc, window) pairs, and self-join on the
    window hash — never an all-pairs comparison. At 100 TB the only extra
    ingredient is a frequency cap on pathological windows (a gram shared
    by m docs emits m^2 pairs; production drops grams with m above a
    threshold and handles those docs via the boilerplate-removal path
    instead), exactly the skew discipline the salted-join exhibits.

    n_shared_windows counts the distinct shared window hashes — a run of
    L >= K shared tokens yields L-K+1 shared windows, so longer verbatim
    overlaps rank higher."""
    docs = load_table(spark, sf_dir, "documents")
    k = _SUBSTR_K
    toked = docs.select(
        "doc_id", F.split(F.expr(_NORM_SPARK), " ").alias("toks")
    )
    grams = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {k - 1}, 1)),"
                f" i -> md5(array_join(slice(toks, i, {k}), ' ')))"
            )
        ).alias("g"),
    )
    # both sides of the gram self-join consume this: tokenize + explode +
    # md5 + distinct once per action, not twice (zero runtime exchange
    # reuse — the r21/r22 banded-self-join class; narrow hash rows).
    gd = grams.distinct().localCheckpoint(eager=False)
    a, b = gd.alias("a"), gd.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


# -- longest duplicated run (Lee et al. 2022's reporting statistic) -----------


@register(
    "dedup_longest_dup_run",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), wins AS (
        SELECT doc_id, t.i AS pos,
               md5(array_to_string(toks[t.i:t.i+{_SUBSTR_K - 1}], ' ')) AS g
        FROM toked,
             UNNEST(generate_series(
                 1, GREATEST(len(toks) - {_SUBSTR_K - 1}, 1))) AS t(i)
    ), gstats AS (
        SELECT g, MIN(doc_id) AS mn, MAX(doc_id) AS mx
        FROM wins GROUP BY g
    ), dup AS (
        SELECT w.doc_id, w.pos
        FROM wins w JOIN gstats s USING (g)
        WHERE s.mn <> w.doc_id OR s.mx <> w.doc_id
    ), isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
        FROM dup
    ), runs AS (
        SELECT doc_id, island,
               MAX(pos) - MIN(pos) + {_SUBSTR_K} AS run_len,
               COUNT(*) AS nw
        FROM isl GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(nw) AS BIGINT)       AS n_dup_windows,
           CAST(COUNT(*) AS BIGINT)      AS n_runs,
           CAST(MAX(run_len) AS BIGINT)  AS longest_dup_run
    FROM runs GROUP BY doc_id
    """,
)
def longest_dup_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LONGEST verbatim duplicated run, in tokens — the
    reporting table of "Deduplicating Training Data Makes Language Models
    Better" (Lee et al. 2022): not just WHICH documents share a
    >= {_SUBSTR_K}-token window (dedup_exact_substring) but HOW LONG each
    document's worst cross-document verbatim overlap is, the statistic
    that decides whether to cut substrings or drop whole documents.

    Shape — O(windows), strictly cheaper than the pair join: every
    rolling {_SUBSTR_K}-token window keeps its START POSITION; a window
    hash is cross-document-duplicated iff its corpus-wide (min, max)
    doc_id bracket strays from the owner (two O(1)-state partial-
    aggregable extrema stand in for a distinct-count — no COUNT(DISTINCT)
    and no m^2 pair blowup on boilerplate windows shared by m docs, the
    skew that makes the PAIR formulation need a frequency cap). Runs of
    consecutive duplicated starts merge by gaps-and-islands (pos minus
    per-doc rank); a maximal run of c consecutive windows spans
    c - 1 + {_SUBSTR_K} tokens. Exchanges: one hash-agg on the window
    hash, one join back on it, one doc-keyed window+agg — all bounded,
    nothing quadratic anywhere.

    Convention: windows shorter than {_SUBSTR_K} tokens (sub-window docs
    get one whole-doc window) report run lengths on the window grid, so a
    fully-duplicated short doc reports {_SUBSTR_K}; both engines share
    the convention, and within-doc-only repeats are deliberately NOT
    counted (min = max = owner) — this is the CROSS-document statistic.
    """
    docs = load_table(spark, sf_dir, "documents")
    return longest_dup_run_stats(docs)


def longest_dup_run_stats(docs: DataFrame, k: int = _SUBSTR_K) -> DataFrame:
    """Core of ``dedup_longest_dup_run`` over any (doc_id, text) relation —
    factored out so property tests can plant documents with KNOWN shared
    runs and assert the reported lengths exactly."""
    toked = docs.select(
        "doc_id", F.split(F.expr(_NORM_SPARK), " ").alias("toks")
    )
    wins = toked.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {k - 1}, 1)),"
                f" i -> struct(i AS pos,"
                f" md5(array_join(slice(toks, i, {k}), ' ')) AS g))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    gstats = wins.groupBy("g").agg(
        F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
    )
    dup = (
        wins.join(gstats, "g")
        .filter((F.col("mn") != F.col("doc_id")) | (F.col("mx") != F.col("doc_id")))
        .select("doc_id", "pos")
    )
    from pyspark.sql import Window as W

    isl = dup.withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    runs = isl.groupBy("doc_id", "island").agg(
        (F.max("pos") - F.min("pos") + F.lit(k)).alias("run_len"),
        F.count(F.lit(1)).alias("nw"),
    )
    return runs.groupBy("doc_id").agg(
        F.sum("nw").cast("long").alias("n_dup_windows"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("long").alias("longest_dup_run"),
    )


# -- minimizer (winnowing) fingerprints — sampled long-match candidates -------

_MZ_K = 5  # tokens per gram
_MZ_W = 8  # grams per winnowing window; guarantees runs >= W + K - 1 tokens
_MZ_MIN_SHARED = 2  # candidate pairs must share at least this many minimizers


@register(
    "dedup_minimizer_pairs",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), grams AS (
        SELECT doc_id, t.i AS pos,
               md5(array_to_string(toks[t.i:t.i+{_MZ_K - 1}], ' '))
                   || lpad(CAST(t.i AS VARCHAR), 8, '0') AS hp,
               GREATEST(len(toks) - {_MZ_K - 1}, 1) AS m
        FROM toked,
             UNNEST(generate_series(
                 1, GREATEST(len(toks) - {_MZ_K - 1}, 1))) AS t(i)
    ), wmin AS (
        SELECT doc_id, pos, m,
               MIN(hp) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW
                                      AND {_MZ_W - 1} FOLLOWING) AS sel
        FROM grams
    ), sels AS (
        SELECT DISTINCT doc_id, substr(sel, 1, 32) AS h
        FROM wmin WHERE pos <= GREATEST(m - {_MZ_W - 1}, 1)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_minimizers
    FROM sels a JOIN sels b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_MZ_MIN_SHARED}
    """,
)
def minimizer_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing / minimizer candidate pairs (Schleimer et al. 2003, the
    MOSS fingerprint; the minimizer sampling behind every modern genome
    and large-corpus long-match pipeline): per {_MZ_W}-gram window, keep
    only the minimum-hash {_MZ_K}-token gram — a deterministic ~2/(w+1)
    sample of all grams that still GUARANTEES any shared verbatim run of
    >= {_MZ_W + _MZ_K - 1} tokens shares at least one selected
    fingerprint. This is the scale path for exact-substring dedup:
    dedup_exact_substring joins on EVERY window hash (O(tokens) join
    keys); this joins on the winnowed sample (~{_MZ_W + 1}x fewer keys,
    same recall for runs past the guarantee threshold) — the difference
    between shuffling the corpus and shuffling a fixed fraction of it.

    Determinism: winnowing's tie rule is encoded structurally — the
    window min is taken over the STRING ``md5(gram) || lpad(pos)``, so
    ties on repeated gram content break to the lowest position
    identically in both engines (fixed-width hex + zero-padded position
    makes lexicographic = (hash, pos) order). Tail starts past
    m - w + 1 are not window starts (standard full-window winnowing);
    sub-window docs keep one whole-doc window so nothing vanishes.

    Shape: one doc-keyed sort-window for the per-start min (in-partition,
    spill-safe), DISTINCT to the fingerprint set, then the same
    hash-bucketed equi-join discipline as LSH banding — never all-pairs,
    and the >= {_MZ_MIN_SHARED}-shared-minimizers floor drops the
    single-boilerplate-hit tail the way production winnowing does."""
    docs = load_table(spark, sf_dir, "documents")
    # both sides of the fingerprint self-join consume the winnowed set:
    # tokenize + gram md5 + window-min + distinct once per action, not
    # twice (the banded-self-join class; winnowed ~2/(w+1) sample rows).
    sels = minimizer_sets(docs).localCheckpoint(eager=False)
    a, b = sels.alias("a"), sels.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_minimizers"))
        .filter(F.col("n_shared_minimizers") >= _MZ_MIN_SHARED)
    )


def minimizer_sets(
    docs: DataFrame, k: int = _MZ_K, w: int = _MZ_W
) -> DataFrame:
    """Winnowed fingerprint set (doc_id, h) — the core of
    ``dedup_minimizer_pairs``, factored so tests can plant runs of exactly
    the guarantee length (w + k - 1 tokens) and assert a shared
    fingerprint exists."""
    from pyspark.sql import Window as W

    toked = docs.select(
        "doc_id", F.split(F.expr(_NORM_SPARK), " ").alias("toks")
    )
    grams = toked.select(
        "doc_id",
        F.expr(f"greatest(size(toks) - {k - 1}, 1)").alias("m"),
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size(toks) - {k - 1}, 1)),"
                f" i -> struct(i AS pos,"
                f" concat(md5(array_join(slice(toks, i, {k}), ' ')),"
                f" lpad(CAST(i AS STRING), 8, '0')) AS hp))"
            )
        ).alias("g"),
    ).select("doc_id", "m", F.col("g.pos").alias("pos"), F.col("g.hp").alias("hp"))
    wspec = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.currentRow, w - 1
    )
    return (
        grams.withColumn("sel", F.min("hp").over(wspec))
        .filter(F.col("pos") <= F.expr(f"greatest(m - {w - 1}, 1)"))
        .select("doc_id", F.substring("sel", 1, 32).alias("h"))
        .distinct()
    )


# -- containment similarity (asymmetric overlap) — deferred r7 queue ----------

_CONTAIN_MIN_PPM = 75_000  # 7.5% of the smaller shingle set


_CONTAIN_DF_CAP = 4  # drop shingles appearing in more than this many docs
# (the rare-shingle filter). Chosen to FIRE at both fixture scales (the
# synthetic corpus's df distribution tops out at 7–9, p99≈4–5), so the gate
# verifies the capped semantics rather than passing vacuously; a production
# corpus would set this to O(hundreds) — the point is the bound's EXISTENCE:
# the self-join's worst key fans out df² ≤ cap² rows, Zipf-proof.


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), shingled AS (
        SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS sh FROM toked
    ), exploded0 AS (
        SELECT doc_id, UNNEST(sh) AS shingle FROM shingled
    ), df AS (
        SELECT shingle, COUNT(*) AS df FROM exploded0 GROUP BY 1
    ), exploded AS (
        SELECT e.doc_id, e.shingle FROM exploded0 e
        JOIN df USING (shingle) WHERE df.df <= {_CONTAIN_DF_CAP}
    ), pair_inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS inter
        FROM exploded a JOIN exploded b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), sizes AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM exploded GROUP BY 1
    )
    SELECT doc_a, doc_b, inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           (1000000 * inter) // LEAST(sa.n_sh, sb.n_sh) AS containment_ppm
    FROM pair_inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (1000000 * inter) // LEAST(sa.n_sh, sb.n_sh) >= {_CONTAIN_MIN_PPM}
    """
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment similarity C(A,B) = |A∩B| / min(|A|,|B|) over RARE
    shingle sets — the ASYMMETRIC near-dup metric: a short document fully
    embedded in a long one scores ~1.0 here while its Jaccard stays tiny
    (the union is dominated by the long side). Clone- and quote-detection
    in corpus prep need exactly this; dedup_ngram_jaccard cannot see it.

    Unlike the Jaccard verifier (which verifies the staged LSH candidate
    list), containment must reach pairs LSH never proposes — Jaccard-tuned
    banding misses high-containment/low-Jaccard pairs by design — so the
    all-pairs reach survives here, made skew-proof by the df cap
    (VERDICT r7 #1): shingles with document frequency > _CONTAIN_DF_CAP
    are dropped on BOTH engine and oracle sides, the same per-key cap the
    inverted index applies per term. Numerator and both denominators use
    the capped sets, so C(A,A) stays exactly 1.0 and the worst shingle
    expands to ≤ cap·(cap−1)/2 pairs map-side. Containment reported as
    exact integer ppm, so no IEEE division exists at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    exploded0 = _doc_shingles(docs).select(
        "doc_id", F.explode("sh").alias("shingle")
    )
    # GroupBy-once pair expansion (r10, replacing the r8 hot-set anti-join
    # + shingle self-join): ONE shuffle groups each shingle's doc list, the
    # df cap becomes a size filter ON that grouped row (no second pass, no
    # anti-join, no AQE broadcast decision needed at all), and pairs are
    # expanded MAP-SIDE by a nested array transform — the worst key emits
    # ≤ cap·(cap−1)/2 structs from one row, the Zipf guard by construction.
    # The old plan re-scanned and re-shingled the corpus for the df pass,
    # both self-join sides, and the sizes relation; this form scans once.
    # sf0.1 A/B, min of 3 on the bench copy: 3.83 s (old) → 1.36 s (new),
    # identical result sets at sf0.01 and sf0.1 (NOTES_r10).
    grouped = (
        exploded0.groupBy("shingle")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("docs"))
        .filter(F.size("docs") <= _CONTAIN_DF_CAP)
        # r21 session 2 (guide §2.4): grouped feeds the pair-intersection
        # tree AND the sizes relation (which the final join consumes twice,
        # n_a and n_b), so the corpus explode + collect_set groupBy — the
        # dominant cost — executed three times with zero runtime exchange
        # reuse. The lazy checkpoint materializes it once inside the first
        # action (the same lineage truncation the trigram/RFM plans took
        # this round). Interleaved A/B at sf0.1, results asserted
        # identical: cold first-run 1.217 → 0.243 s, steady 1.284 →
        # 0.279 s. The relation is (shingle, ≤cap doc ids) — vocabulary-
        # bounded rows, the df cap bounds each row's list.
        .localCheckpoint(eager=False)
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "docs",
                    lambda x, i: F.transform(
                        F.slice(F.col("docs"), i + 2, F.size("docs")),
                        lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("inter"))
    sizes = (
        grouped.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sh"))
    )
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .withColumn(
            "containment_ppm", F.expr("(1000000 * inter) div least(n_a, n_b)")
        )
        .filter(F.col("containment_ppm") >= _CONTAIN_MIN_PPM)
        .select("doc_a", "doc_b", "inter", "n_a", "n_b", "containment_ppm")
    )


# -- MinHash Jaccard estimate vs exact — deferred r7 queue --------------------

_MJ_SIG_MATCH_SQL = " + ".join(
    f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
    for i in range(NUM_HASHES)
)


#: complete estimator-vs-truth oracle — shared by the per-pair contract
#: query below AND the threshold sweep built over the same relation
_MJ_EST_ORACLE = f"""
    WITH {_CAND_INTER_SQL}, sigs AS (
        SELECT doc_id,
               {", ".join(f"{_sig_sql(i)} AS sig_{i}" for i in range(NUM_HASHES))}
        FROM (SELECT doc_id, list_transform({_SHINGLES_SQL}, s -> md5(s)) AS md5s
              FROM toked)
    )
    SELECT c.doc_a, c.doc_b,
           CAST({_MJ_SIG_MATCH_SQL} AS BIGINT) AS n_sig_match,
           CAST((1000000 * ({_MJ_SIG_MATCH_SQL})) // {NUM_HASHES} AS BIGINT)
               AS est_jaccard_ppm,
           CAST((1000000 * i.inter)
                // (za.n_sh + zb.n_sh - i.inter) AS BIGINT)
               AS exact_jaccard_ppm
    FROM cand c
    JOIN sigs sa ON sa.doc_id = c.doc_a
    JOIN sigs sb ON sb.doc_id = c.doc_b
    JOIN pair_inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """


@register("dedup_minhash_jaccard_estimate", oracle=_MJ_EST_ORACLE)
def minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash accuracy contract, pinned per pair: for every LSH candidate
    the estimated Jaccard (matching signature fraction of {NUM_HASHES},
    exact integer ppm) NEXT TO the true shingle-set Jaccard — the
    estimator-vs-truth row the sketch shelf's other members (KMV, CMS,
    join-cardinality) already carry, closing the gap for the dedup
    family's own sketch. A consumer tunes band/row parameters by reading
    exactly this table.

    Shape: signatures come from the shared hash-once min-agg
    (minhash_signatures); the {NUM_HASHES}-column compare is a map-side
    expression on the candidate-keyed join; the exact side is the shared
    per-pair array intersection (_candidate_overlap) — no join keyed on a
    shingle anywhere (VERDICT r7 #1). Nothing touches non-candidate pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    cand = lsh_pairs_staged(spark, sf_dir)
    sigs = minhash_signatures(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(NUM_HASHES)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(NUM_HASHES)],
    )
    n_match = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(NUM_HASHES)
    )
    return (
        _candidate_overlap(cand, _doc_shingles(docs))
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_sig_match", n_match.cast("long"))
        .select(
            "doc_a",
            "doc_b",
            "n_sig_match",
            F.expr(f"(1000000 * n_sig_match) div {NUM_HASHES}").alias(
                "est_jaccard_ppm"
            ),
            F.expr("(1000000 * inter) div (n_a + n_b - inter)").alias(
                "exact_jaccard_ppm"
            ),
        )
    )

# -- C4-style duplicated-content share (chunk granularity) --------------------

_CHUNK_W = 8  # words per non-overlapping chunk ("line" proxy for this corpus)


@register(
    "dedup_chunk_dupshare",
    oracle=f"""
    WITH toked AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
    ), chunked AS (
        SELECT doc_id,
               UNNEST([array_to_string(toks[({_CHUNK_W}*i+1):({_CHUNK_W}*i+{_CHUNK_W})], ' ')
                       for i in range(0, len(toks) // {_CHUNK_W})]) AS chunk
        FROM toked
    ), df AS (
        SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM chunked GROUP BY 1
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
           CAST((1000000 * SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS dup_share_ppm
    FROM chunked c JOIN df USING (chunk)
    GROUP BY 1
    """,
)
def chunk_dupshare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicated-content SHARE per document: chop each doc into
    non-overlapping {_CHUNK_W}-word chunks (the corpus has no newline/
    sentence structure, so fixed-width chunks stand in for C4's lines),
    count how many of a doc's chunks also occur in at least one OTHER
    document, and report the share in exact ppm. This is the REMOVAL
    metric behind C4's famous three-sentence-span dedup: the pair
    operators (exact_substring/minimizers) say WHICH docs overlap; this
    says HOW MUCH of each doc is boilerplate — the number quality
    pipelines threshold on before dropping or trimming a page.

    Shape: one token scan → chunk explosion (≤ tokens/{_CHUNK_W} rows per
    doc) → chunk-keyed distinct-doc count (partial+final agg) → one
    equi-join back on the chunk hash → per-doc agg. Chunk document
    frequency is naturally capped by Zipf at the chunk level (full
    {_CHUNK_W}-word spans repeat far less than single shingles), and the
    join key fans out only to each chunk's occurrence list — never a
    pair product. docs with fewer than {_CHUNK_W} words emit no chunks
    and are absent, matching the oracle exactly."""
    docs = load_table(spark, sf_dir, "documents")
    chunked = (
        docs.selectExpr("doc_id", f"{_TOKENS_SPARK} AS toks")
        .selectExpr(
            "doc_id",
            f"""explode(
                CASE WHEN size(toks) >= {_CHUNK_W}
                     THEN transform(sequence(0, size(toks) div {_CHUNK_W} - 1),
                                    i -> concat_ws(' ', slice(toks, {_CHUNK_W}*i+1, {_CHUNK_W})))
                     ELSE array()
                END) AS chunk""",
        )
        # the chunk-frequency build and the per-doc join both consume this
        # relation: tokenize + chunk-explode once per action, not twice
        # (zero runtime exchange reuse — r21 survey). One row per
        # 8-word chunk: corpus-scale, not bounded.
        .localCheckpoint(eager=False)
    )
    df_counts = chunked.groupBy("chunk").agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs")
    )
    return (
        chunked.join(df_counts, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum((F.col("n_docs") > 1).cast("long"))
            .cast("long")
            .alias("n_dup_chunks"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END))"
                " div COUNT(*) AS BIGINT)"
            ).alias("dup_share_ppm"),
        )
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)


# -- banding-threshold sweep (deferred: r10 activation) --------------------------

#: Jaccard cutoffs swept, in ppm — the operating points a dedup pipeline
#: chooses between
_SWEEP_TAUS = (250_000, 375_000, 500_000, 625_000, 750_000)


@register(
    "dedup_threshold_sweep",
    oracle=f"""
    WITH est AS ({_MJ_EST_ORACLE}),
    sweep AS (
        SELECT t.tau, est.est_jaccard_ppm, est.exact_jaccard_ppm
        FROM est CROSS JOIN (VALUES {", ".join(f"({t})" for t in _SWEEP_TAUS)})
             t(tau)
    )
    SELECT CAST(tau AS BIGINT) AS tau_ppm,
           CAST(SUM(CASE WHEN est_jaccard_ppm >= tau THEN 1 ELSE 0 END)
                AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN est_jaccard_ppm >= tau
                          AND exact_jaccard_ppm >= tau
                    THEN 1 ELSE 0 END) AS BIGINT) AS true_pos,
           CAST(SUM(CASE WHEN est_jaccard_ppm >= tau
                          AND exact_jaccard_ppm < tau
                    THEN 1 ELSE 0 END) AS BIGINT) AS false_pos,
           CAST(SUM(CASE WHEN est_jaccard_ppm < tau
                          AND exact_jaccard_ppm >= tau
                    THEN 1 ELSE 0 END) AS BIGINT) AS missed_in_candidates,
           CAST(CASE WHEN SUM(CASE WHEN est_jaccard_ppm >= tau
                                   THEN 1 ELSE 0 END) = 0 THEN 1000000
                ELSE (1000000 * SUM(CASE WHEN est_jaccard_ppm >= tau
                                          AND exact_jaccard_ppm >= tau
                                    THEN 1 ELSE 0 END))
                     // SUM(CASE WHEN est_jaccard_ppm >= tau
                              THEN 1 ELSE 0 END) END AS BIGINT)
               AS precision_ppm
    FROM sweep GROUP BY 1
    """,
)
def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point sweep for the MinHash dedup gate: for each Jaccard
    cutoff τ, how many candidate pairs the ESTIMATOR keeps, how many of
    those the exact Jaccard confirms (precision in exact ppm; empty kept
    set reports a vacuous 1e6), and how many true-τ pairs the estimator
    under-scores (missed_in_candidates — the estimator's own misses; the
    BANDING's recall lives in the dHash-style lossless proofs, all-pairs
    recall being unmeasurable without the all-pairs join this family
    exists to avoid). This is the table a pipeline owner reads to pick τ:
    precision rises with τ while kept-volume falls, and the elbow is the
    operating point.

    Shape: one pass over the staged estimator-vs-truth pair relation
    (dedup_minhash_jaccard_estimate's output — signatures and per-pair
    array intersections, never a join keyed on a shingle), a ×{len(_SWEEP_TAUS)}
    constant fan-out, and a |τ|-row conditional aggregate.
    """
    est = minhash_jaccard_estimate(spark, sf_dir)
    taus = spark.createDataFrame([(t,) for t in _SWEEP_TAUS], "tau long")
    sweep = est.crossJoin(F.broadcast(taus))
    kept = F.sum((F.col("est_jaccard_ppm") >= F.col("tau")).cast("long"))
    tp = F.sum(
        (
            (F.col("est_jaccard_ppm") >= F.col("tau"))
            & (F.col("exact_jaccard_ppm") >= F.col("tau"))
        ).cast("long")
    )
    fp = F.sum(
        (
            (F.col("est_jaccard_ppm") >= F.col("tau"))
            & (F.col("exact_jaccard_ppm") < F.col("tau"))
        ).cast("long")
    )
    fn = F.sum(
        (
            (F.col("est_jaccard_ppm") < F.col("tau"))
            & (F.col("exact_jaccard_ppm") >= F.col("tau"))
        ).cast("long")
    )
    return sweep.groupBy(F.col("tau").cast("long").alias("tau_ppm")).agg(
        kept.cast("long").alias("kept"),
        tp.cast("long").alias("true_pos"),
        fp.cast("long").alias("false_pos"),
        fn.cast("long").alias("missed_in_candidates"),
        F.expr(
            "CAST(CASE WHEN SUM(CASE WHEN est_jaccard_ppm >= tau THEN 1"
            " ELSE 0 END) = 0 THEN 1000000"
            " ELSE (1000000 * SUM(CASE WHEN est_jaccard_ppm >= tau AND"
            " exact_jaccard_ppm >= tau THEN 1 ELSE 0 END))"
            " div SUM(CASE WHEN est_jaccard_ppm >= tau THEN 1 ELSE 0 END)"
            " END AS BIGINT)"
        ).alias("precision_ppm"),
    )
