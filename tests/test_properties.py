"""Property-based tests (hypothesis) for the pure planning/quantization
logic — the invariants that must hold for ANY input, not just fixtures."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from tmdb_movie_data_pipeline_spark.sources.rest import month_windows

dates = st.dates(min_value=datetime.date(1990, 1, 1), max_value=datetime.date(2035, 12, 31))


@given(d1=dates, d2=dates)
@settings(max_examples=200, deadline=None)
def test_month_windows_cover_range_without_overlap(d1, d2):
    start, end = min(d1, d2), max(d1, d2)
    wins = month_windows(start.isoformat(), end.isoformat())
    assert wins, "at least one window"
    # first window starts at the first of start's month (reference snap);
    # last window ends exactly at `end`
    assert wins[0][0] == start.replace(day=1).isoformat()
    assert wins[-1][1] == end.isoformat()
    for a, b in wins:
        da, db = datetime.date.fromisoformat(a), datetime.date.fromisoformat(b)
        assert da <= db
        assert da.day == 1
        assert (da.year, da.month) == (db.year, db.month), "window within one month"
    # contiguous: next window starts the day after the previous ends
    for (_, b), (a2, _) in zip(wins, wins[1:]):
        db = datetime.date.fromisoformat(b)
        assert datetime.date.fromisoformat(a2) == db + datetime.timedelta(days=1)


@given(
    x=st.floats(min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False),
)
@settings(max_examples=500, deadline=None)
def test_quantization_halfaway_matches_engines(x):
    """The pandas-side half-away-from-zero quantizer must equal DuckDB's
    ROUND for every double (the cross-engine contract in operators/udfs.py)."""
    import math

    import duckdb

    py = math.floor(x * 100 + 0.5) if x >= 0 else math.ceil(x * 100 - 0.5)
    (dk,) = duckdb.connect().execute("SELECT CAST(ROUND(? * 100) AS BIGINT)", [x]).fetchone()
    assert int(py) == int(dk)


@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=1e6, allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=100, deadline=None)
def test_quantized_sum_is_order_independent(vals):
    """The qsum contract: quantized-integer sums are identical under any
    permutation (raw float sums are not — that is the whole point)."""
    import math

    def q(x):
        return math.floor(x * 100 + 0.5)

    fwd = sum(q(v) for v in vals)
    rev = sum(q(v) for v in reversed(vals))
    assert fwd == rev


# -- piecewise basis-point scaling (agg_hhi_concentration / agg_gini) ---------

_PIECEWISE_CUT = 900_000_000_000_000  # 9e14, as in the operators


def _piecewise_bp(num: int, den: int) -> int:
    """The exact CASE both engines run: multiplied form below the cut,
    denominator-divided form above."""
    if num < _PIECEWISE_CUT:
        return (10_000 * num) // den
    return num // (den // 10_000)


@given(
    num=st.integers(min_value=0, max_value=(1 << 62) - 1),
    den=st.integers(min_value=1, max_value=(1 << 62) - 1),
)
@settings(max_examples=500)
def test_piecewise_bp_scaling_stays_within_one_bp(num, den):
    """For num <= den (the HHI/Gini regime: numerator bounded by the
    denominator), the piecewise form never deviates more than 1 bp from
    the true rational 1e4*num/den — including across the branch cut.
    (A flat denominator-floor form failed this by 2-4x on small inputs —
    the regression this test now pins.)"""
    if num > den:
        num, den = den, num
    if num >= _PIECEWISE_CUT and den // 10_000 == 0:
        return  # unreachable: num <= den forces den >= cut >> 1e4
    got = _piecewise_bp(num, den)
    true_bp = 10_000 * num / den
    assert abs(got - true_bp) <= 1.0 + 1e-9, (num, den, got, true_bp)


# -- weighted-median crossing row: value invariant under tie permutation ------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # value (small: forces ties)
            st.integers(min_value=1, max_value=9),  # weight
        ),
        min_size=1,
        max_size=40,
    ),
    seed=st.integers(min_value=0, max_value=999),
)
@settings(max_examples=300)
def test_weighted_median_crossing_value_is_permutation_invariant(rows, seed):
    """The crossing-row PREDICATE (cumw-w < target <= cumw) picks a row
    whose VALUE is identical no matter how ties are ordered — the
    property agg_weighted_median's cross-engine contract rests on."""
    import random

    target = (sum(w for _, w in rows) + 1) // 2

    def crossing_value(seq):
        cum = 0
        for v, w in seq:
            cum += w
            if cum - w < target <= cum:
                return v
        raise AssertionError("no crossing row")

    base = crossing_value(sorted(rows, key=lambda r: r[0]))
    rng = random.Random(seed)
    for _ in range(5):
        shuffled = rows[:]
        rng.shuffle(shuffled)
        # stable sort by value only — tie order follows the shuffle
        assert crossing_value(sorted(shuffled, key=lambda r: r[0])) == base


# -- r8 additions: SemDeDup cluster scorer (pure pandas, no Spark) ------------


def test_semdedup_cluster_keep_first_on_planted_duplicates():
    """A cluster with two identical vectors drops exactly the higher id;
    an orthogonal third member survives; a singleton cluster survives."""
    import numpy as np
    import pandas as pd

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DIM,
        _semdedup_cluster,
    )

    v = np.zeros(DIM); v[0] = 1.0
    w = np.zeros(DIM); w[1] = 1.0  # orthogonal to v
    pdf = pd.DataFrame(
        {
            "cid": [3, 3, 3],
            "vec_id": [11, 7, 20],  # deliberately unsorted
            "embedding": [list(v), list(v), list(w)],
        }
    )
    out = _semdedup_cluster(pdf).set_index("vec_id")["dropped"]
    assert not out[7], "lowest id of the duplicate pair must be kept"
    assert out[11], "higher id of an identical pair must be dropped"
    assert not out[20], "orthogonal member must survive"

    single = pd.DataFrame({"cid": [1], "vec_id": [5], "embedding": [list(v)]})
    out1 = _semdedup_cluster(single)
    assert list(out1["dropped"]) == [False]


def test_semdedup_chain_drops_all_but_first():
    """Transitive duplicate chains collapse to the single lowest id —
    every later member sees the first member above threshold."""
    import numpy as np
    import pandas as pd

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DIM,
        _semdedup_cluster,
    )

    v = np.zeros(DIM); v[0] = 1.0
    pdf = pd.DataFrame(
        {
            "cid": [0] * 4,
            "vec_id": [40, 10, 30, 20],
            "embedding": [list(v)] * 4,
        }
    )
    out = _semdedup_cluster(pdf).set_index("vec_id")["dropped"]
    assert not out[10] and out[20] and out[30] and out[40]


def test_dhash_banding_is_lossless_at_radius():
    """Pigeonhole: flipping <= _DH_MAX_HAMMING bits of a 56-bit hash always
    leaves at least one of the 8 disjoint 7-bit bands intact — the
    property that lets the banded engine plan equal the brute-force
    oracle. Checked exhaustively-at-random over adversarial flip sets."""
    import itertools
    import random

    from tmdb_movie_data_pipeline_spark.operators.multimodal import (
        _DH_BAND_BITS,
        _DH_BANDS,
        _DH_BITS,
        _DH_MAX_HAMMING,
    )

    assert _DH_BANDS * _DH_BAND_BITS == _DH_BITS
    assert _DH_MAX_HAMMING < _DH_BANDS  # the pigeonhole precondition
    rng = random.Random(8)
    for _ in range(2000):
        flips = rng.sample(range(_DH_BITS), _DH_MAX_HAMMING)
        touched = {b // _DH_BAND_BITS for b in flips}
        assert len(touched) < _DH_BANDS, "some band must remain exact"
    # and the guarantee genuinely FAILS one past the radius for a crafted
    # flip set (one bit per band) — the radius is tight, not slack
    crafted = [b * _DH_BAND_BITS for b in range(_DH_BANDS)]
    assert len({b // _DH_BAND_BITS for b in crafted}) == _DH_BANDS


# -- r9 additions: zero-norm embeddings never pair (ADVICE r8) ----------------


def test_semdedup_zero_norm_vectors_never_pair():
    """Degenerate (all-zero) embeddings have no defined cosine; the rule on
    both engine and oracle sides is that they never pair — a zero vector
    is always kept and never causes another member to be dropped, even
    beside an identical zero vector."""
    import numpy as np
    import pandas as pd

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DIM,
        _semdedup_cluster,
    )

    z = [0.0] * DIM
    v = np.zeros(DIM); v[0] = 1.0
    pdf = pd.DataFrame(
        {
            "cid": [0] * 4,
            "vec_id": [1, 2, 3, 4],
            "embedding": [z, z, list(v), list(v)],
        }
    )
    out = _semdedup_cluster(pdf).set_index("vec_id")["dropped"]
    assert not out[1] and not out[2], "zero vectors must both survive"
    assert not out[3] and out[4], "real duplicate pair still collapses"


def test_score_bucket_skips_zero_norm_vectors():
    """The LSH re-scorer mirrors the rule: pairs involving a zero-norm
    vector are never emitted (NaN-cosine ordering diverges between numpy
    and DuckDB, so the decision must not reach the comparison)."""
    import numpy as np
    import pandas as pd

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DIM,
        _score_bucket,
    )

    z = [0.0] * DIM
    v = np.zeros(DIM); v[0] = 1.0
    pdf = pd.DataFrame(
        {"vec_id": [1, 2, 3, 4], "embedding": [z, z, list(v), list(v)]}
    )
    out = _score_bucket(pdf)
    pairs = set(zip(out["vec_a"], out["vec_b"]))
    assert pairs == {(3, 4)}, f"only the real pair may survive: {pairs}"


def test_quantizer_rounds_exact_ties_like_spark(spark):
    """The numpy quantizer behind both in-bucket re-scorers rounds exact
    .5 ties half away from zero, as Spark's ROUND does on doubles, so the
    integer components equal the SQL side's on every value; np.rint
    (half to even) would split the engines on these ties."""
    import numpy as np

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        DUP_QUANT_SCALE,
        _quantize,
    )

    cand = [s * (k + 0.5) / DUP_QUANT_SCALE for k in range(2000) for s in (1, -1)]
    xs = [x for x in cand if (x * 1e6) % 1 == 0.5]  # exact IEEE ties only
    assert sum(x > 0 for x in xs) > 100 and sum(x < 0 for x in xs) > 100
    rows = (
        spark.createDataFrame(list(enumerate(xs)), "i long, x double")
        .selectExpr("i", f"CAST(ROUND(x * {DUP_QUANT_SCALE}) AS BIGINT) AS q")
        .orderBy("i")
        .collect()
    )
    want = np.array([r.q for r in rows], dtype=np.int64)
    assert _quantize(xs).tolist() == want.tolist()
    scaled = np.array(xs) * DUP_QUANT_SCALE
    assert (np.rint(scaled) != want).any(), "no tie where half-to-even differs"


# -- closed-form EWMA == sequential recurrence --------------------------------


@given(
    xs=st.lists(st.integers(min_value=0, max_value=10**7), min_size=1, max_size=40),
)
@settings(max_examples=200, deadline=None)
def test_ewma_closed_form_matches_recurrence_reference(xs):
    """The windowed-rational EWMA (events_ewma_smoothing's formula) must
    agree with the textbook sequential recurrence on DENSE series up to
    the truncation tail: both are Σ w_k·x_{t-k} over the same weights, so
    on a gap-free series the closed form with L lags equals the recurrence
    whose influence beyond L lags is dropped. Exactly the claim the
    docstring makes — pinned here against an independent implementation."""
    L = 20
    weights = [3**k * 4 ** (L - k) for k in range(L + 1)]
    for t in range(len(xs)):
        lo = max(0, t - L)
        num = sum(weights[t - j] * xs[j] for j in range(lo, t + 1))
        den = sum(weights[t - j] for j in range(lo, t + 1))
        closed = num // den
        # independent reference: renormalized truncated weighted mean
        # computed in float, then compared within 1 cent of the floor —
        # the integer form can only differ from the real value by < 1
        ref = sum(weights[t - j] * xs[j] for j in range(lo, t + 1)) / sum(
            weights[t - j] for j in range(lo, t + 1)
        )
        assert closed <= ref < closed + 1 or abs(ref - closed) < 1e-6


# -- Wilcoxon rank-sum identity ------------------------------------------------


@given(
    dxs=st.lists(
        st.integers(min_value=-50, max_value=50).filter(lambda v: v != 0),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=200, deadline=None)
def test_wilcoxon_doubled_ranks_satisfy_sum_identity(dxs):
    """W2+ + W2− == n(n+1): the doubled tie-averaged ranks of |Δ| must sum
    to twice the rank total regardless of ties — the invariant that makes
    e_w2 = n(n+1)/2 the exact null expectation in the operator."""
    from collections import Counter

    n = len(dxs)
    cnt = Counter(abs(d) for d in dxs)
    below = 0
    ar2 = {}
    for v in sorted(cnt):
        ar2[v] = 2 * below + cnt[v] + 1
        below += cnt[v]
    w_plus = sum(ar2[abs(d)] for d in dxs if d > 0)
    w_minus = sum(ar2[abs(d)] for d in dxs if d < 0)
    assert w_plus + w_minus == n * (n + 1)


# -- equi-depth bucket depths --------------------------------------------------


@given(
    vals=st.lists(st.integers(min_value=0, max_value=30), min_size=8, max_size=200)
)
@settings(max_examples=200, deadline=None)
def test_equi_depth_rank_span_rule_covers_every_row_once_when_spans_fit(vals):
    """Every distinct value joins EXACTLY the buckets its rank span
    overlaps: summing gross_rows over buckets while subtracting re-counted
    spans reproduces n, and when all values are distinct every bucket is
    ⌈depth⌉-exact. Pinned against a direct sorted-assignment reference."""
    from collections import Counter

    k = 8
    cnt = Counter(vals)
    n = len(vals)
    cum = 0
    memberships = {}
    for v in sorted(cnt):
        lo_rank, hi_rank = cum, cum + cnt[v]
        cum = hi_rank
        buckets = [
            j
            for j in range(1, k + 1)
            if k * lo_rank < j * n and k * hi_rank > (j - 1) * n
        ]
        memberships[v] = buckets
        assert buckets, f"value {v} joined no bucket"
        # the joined buckets are contiguous
        assert buckets == list(range(buckets[0], buckets[-1] + 1))
    # reference: sorted row-by-row assignment → same bucket SET per value
    rows = sorted(vals)
    ref = {}
    for i, v in enumerate(rows):
        r = i + 1  # 1-based rank; bucket = ceil(r*k/n) under depth bounds
        j = (r * k + n - 1) // n
        ref.setdefault(v, set()).add(j)
    for v, bs in ref.items():
        # the operator's CONTINUOUS-mass overlap may add the neighbor
        # bucket a value's span straddles (how per-bucket ndv stats treat
        # heavy hitters); it must never MISS a discretely-assigned bucket
        assert set(memberships[v]) >= bs, (v, memberships[v], bs)
    # and every row is counted at least once across buckets
    assert sum(
        cnt[v] for v, bs in memberships.items() for _ in bs
    ) >= n


# -- BPE merge fold invariants -------------------------------------------------


@given(word=st.text(alphabet="abcd", min_size=1, max_size=12))
@settings(max_examples=300, deadline=None)
def test_bpe_fold_preserves_characters_and_shrinks_pieces(word):
    """Applying space-padded merges never changes the underlying character
    sequence and never increases the piece count — the invariants that
    make the fold a TOKENIZATION (content-preserving segmentation)."""
    merges = [("a", "b"), ("c", "d"), ("ab", "c")]
    s = " " + "".join(ch + " " for ch in word)
    n_before = len(s.split())
    for a, b in merges:
        s = s.replace(f" {a} {b} ", f" {a}{b} ")
    pieces = s.split()
    assert "".join(pieces) == word
    assert len(pieces) <= n_before


@given(
    bins=st.lists(
        st.tuples(st.integers(1, 500), st.integers(0, 500)).map(
            lambda t: (t[0] + t[1], t[1])  # (n, pos) with pos <= n
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=200, deadline=None)
def test_isotonic_minimax_matches_pav_within_rounding(bins):
    """ml_isotonic_calibration computes PAV via the minimax identity
    fitted(k) = max_{i<=k} min_{j>=i} rate(i..j) with every span rate
    ppm-ROUNDED (integer div) before the minimax. Two invariants for any
    bin histogram: the fit is non-decreasing, and it sits within 1 ppm of
    the exact pool-adjacent-violators solution (each span rate moves < 1
    ppm under truncation, and min/max are 1-Lipschitz in their inputs)."""
    n = [b[0] for b in bins]
    p = [b[1] for b in bins]
    B = len(bins)
    # ppm-rounded minimax, exactly as the query computes it
    cum_n = [sum(n[: k + 1]) for k in range(B)]
    cum_p = [sum(p[: k + 1]) for k in range(B)]

    def rate_ppm(i, j):  # span [i..j], 0-indexed
        dn = cum_n[j] - (cum_n[i - 1] if i else 0)
        dp = cum_p[j] - (cum_p[i - 1] if i else 0)
        return (1_000_000 * dp) // dn

    fitted = []
    for k in range(B):
        fitted.append(
            max(min(rate_ppm(i, j) for j in range(i, B)) for i in range(k + 1))
        )
    assert all(a <= b for a, b in zip(fitted, fitted[1:])), "monotone fit"
    # classic stack PAV on the exact rational rates
    pools: list[tuple[int, int]] = []  # (n, pos) per pool
    for k in range(B):
        pools.append((n[k], p[k]))
        while len(pools) > 1 and (
            pools[-2][1] * pools[-1][0] > pools[-1][1] * pools[-2][0]
        ):
            b2, a2 = pools.pop(), pools.pop()
            pools.append((a2[0] + b2[0], a2[1] + b2[1]))
    # expand pool means back to per-bin positions (pools partition the
    # bins in order; walk bin counts to recover each pool's span)
    expanded: list[float] = []
    idx = 0
    for pn, pp in pools:
        acc = 0
        while acc < pn:
            acc += n[idx]
            expanded.append(1_000_000 * pp / pn)
            idx += 1
    assert len(expanded) == B
    for f, e in zip(fitted, expanded):
        assert abs(f - e) <= 1.0 + 1e-9, (fitted, expanded, bins)


@given(
    data=st.lists(st.integers(0, 255), min_size=0, max_size=1200),
)
@settings(max_examples=150, deadline=None)
def test_rle_roundtrip_reconstructs_any_byte_stream(data):
    """multimodal_rle_compression's encoder must be lossless for ANY byte
    stream — including runs past the 255 cap, which emit saturated
    chunks — and every emitted run must be 1..255 long with adjacent
    runs either differing in value or saturated."""
    import numpy as np

    from tmdb_movie_data_pipeline_spark.operators.multimodal import rle_encode

    raw = np.asarray(data, dtype=np.uint8)
    runs = rle_encode(raw)
    decoded = np.concatenate(
        [np.full(int(ln), int(v), dtype=np.uint8) for ln, v in runs]
    ) if len(runs) else np.zeros(0, dtype=np.uint8)
    assert np.array_equal(decoded, raw)
    for ln, _v in runs:
        assert 1 <= ln <= 255
    for (l1, v1), (l2, v2) in zip(runs, runs[1:]):
        assert v1 != v2 or l1 == 255, "mergeable adjacent runs"


def test_rbo_weight_table_identities():
    """The RBO per-item weight table must satisfy its two closed-form
    identities: W(m) telescopes to the per-depth sum, and identical
    lists score exactly 1 - 2^-k (the truncation residual)."""
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        _RBO_DEN,
        _RBO_DEPTH,
        _RBO_W,
    )

    # W(m) - W(m+1) must equal depth m's own weight (lcm/m)*2^(k-m)
    for m in range(1, _RBO_DEPTH):
        own = (2520 // m) * 2 ** (_RBO_DEPTH - m)
        assert _RBO_W[m] - _RBO_W[m + 1] == own
    # identical lists: every item at rank m contributes W(m); the total
    # over m=1..k must be D * (1 - 2^-k) exactly
    total = sum(_RBO_W[m] for m in range(1, _RBO_DEPTH + 1))
    assert total * (2 ** _RBO_DEPTH) == _RBO_DEN * (2 ** _RBO_DEPTH - 1)


def test_permutation_hash_group_is_not_parity_degenerate():
    """The permutation test's group bit must come from MIXED hash bits:
    with an odd multiplier, bit 0 of id*K is id's parity — constant
    across permutations, which would make every permutation identical.
    Check that (a) assignments differ across permutation indices for the
    same id, and (b) within one permutation the two groups are roughly
    balanced over a contiguous id range."""
    from tmdb_movie_data_pipeline_spark.operators.aggregates import (
        _PERM_KNUTH,
        _PERM_STEP,
    )

    def group(event_id: int, b: int) -> int:
        return (((event_id + b * _PERM_STEP) * _PERM_KNUTH) // 1048576) % 2

    ids = range(1000)
    # (a) each id's assignment varies with b (not parity-locked)
    varies = sum(
        1 for i in ids if len({group(i, b) for b in range(1, 21)}) == 2
    )
    assert varies >= 990, f"only {varies}/1000 ids vary across permutations"
    # (b) balance within each permutation
    for b in range(1, 21):
        ones = sum(group(i, b) for i in ids)
        assert 400 <= ones <= 600, f"permutation {b} unbalanced: {ones}/1000"
    # (c) the DEGENERATE form this guards against really is degenerate:
    # bit 0 of (id + b*step) * K flips with (id + b*step)'s parity only
    for i in range(100):
        assert ((i * _PERM_KNUTH) % 2) == (i % 2)


def test_unimax_water_filling_axioms(spark):
    """UniMax allocation axioms on the live fixture: (a) no language
    exceeds its epoch cap; (b) the allocations sum EXACTLY to the budget
    whenever the budget fits under the caps; (c) uncapped languages
    receive within 1 token of each other (uniformity up to the
    largest-remainder +1)."""
    from tmdb_movie_data_pipeline_spark.operators.llm_prep import (
        _UNIMAX_B_DEN,
        _UNIMAX_B_NUM,
        unimax_language_caps,
    )

    rows = unimax_language_caps(spark, "/root/testdata/sf0.001").collect()
    total_tokens = sum(r.n_tokens for r in rows)
    budget = (_UNIMAX_B_NUM * total_tokens) // _UNIMAX_B_DEN
    assert all(r.alloc_tokens <= r.cap for r in rows)
    assert sum(r.alloc_tokens for r in rows) == budget
    uncapped = [r.alloc_tokens for r in rows if r.alloc_tokens < r.cap]
    if len(uncapped) > 1:
        assert max(uncapped) - min(uncapped) <= 1


def test_mmr_greedy_matches_bruteforce_reference(spark):
    """The lazy-plan MMR must equal a literal Python greedy re-run from
    the same quantized relevance/sim inputs — pinning argmax order,
    tie-breaks, and the rel - max_sim objective at every step."""
    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        _MMR_K,
        _MMR_POOL,
        mmr_diversified_topk,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        (r.query_id, r.step): (r.neighbor_id, r.score_micro)
        for r in mmr_diversified_topk(spark, sf).collect()
    }
    # rebuild the candidate pool + pairwise sims exactly as the operator
    import duckdb

    from tmdb_movie_data_pipeline_spark.operators.similarity import (
        _dot_duck,
        _norm_duck,
        N_QUERIES,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet')"
    )
    cand = con.execute(f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
        c AS (SELECT vec_id AS neighbor_id, embedding AS c_emb FROM embeddings),
        scored AS (
            SELECT query_id, neighbor_id,
                   CAST(ROUND(1000000 * ({_dot_duck("q_emb", "c_emb")}
                        / ({_norm_duck("q_emb")} * {_norm_duck("c_emb")})))
                        AS BIGINT) AS rel
            FROM q, c WHERE query_id <> neighbor_id)
        SELECT query_id, neighbor_id, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rel DESC, neighbor_id) AS rn FROM scored)
        WHERE rn <= {_MMR_POOL}
    """).fetchall()
    pools: dict[int, list[tuple[int, int]]] = {}
    for qid, nid, rel in cand:
        pools.setdefault(qid, []).append((nid, rel))
    ids = sorted({nid for _, nid, _ in cand})
    sims_rows = con.execute(f"""
        WITH pe AS (SELECT vec_id, embedding FROM embeddings
                    WHERE vec_id IN ({",".join(map(str, ids))}))
        SELECT x.vec_id, y.vec_id,
               CAST(ROUND(1000000 * ({_dot_duck("x.embedding", "y.embedding")}
                    / ({_norm_duck("x.embedding")} * {_norm_duck("y.embedding")})))
                    AS BIGINT)
        FROM pe x JOIN pe y ON x.vec_id <> y.vec_id
    """).fetchall()
    con.close()
    sim = {(a, b): s for a, b, s in sims_rows}
    for qid, pool in pools.items():
        sel: list[int] = []
        for step in range(1, _MMR_K + 1):
            best = None
            for nid, rel in pool:
                if nid in sel:
                    continue
                score = rel if step == 1 else rel - max(
                    sim[(nid, s)] for s in sel
                )
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, score)
            sel.append(best[1])
            assert got[(qid, step)] == (best[1], best[2]), (
                f"query {qid} step {step}: engine {got[(qid, step)]} "
                f"!= reference {(best[1], best[2])}"
            )
