"""Duplicate-cluster connected components (SURVEY.md §2.9, LLM dedup).

Pair-level dedup (MinHash-LSH, SimHash, embedding-LSH) emits EDGES; the
operation a training-data pipeline actually needs is the CLUSTER: group all
transitively-connected duplicates and keep one canonical document per
component. This module closes that gap with connected components over the
MinHash duplicate-pair graph.

Which path runs: :func:`connected_components` first collects an integral
edge list to the driver in one job, capped at what the session would
broadcast (``spark.sql.autoBroadcastJoinThreshold`` at 16 B per edge). A
graph under the cap is labelled in numpy on the driver by min-root
hooking with pointer jumping — no further Spark job. A graph over the
cap, or any graph when the threshold is ≤ 0, runs the distributed
hash-to-min loop: each round is an |E|-sized equi-join plus a
groupBy(min), localCheckpoint'ed so lineage stays flat, with a label-sum
convergence check. The loop carries no broadcast hint (it only runs
for a graph already over the threshold), so Spark's planner picks each
join strategy. Rounds needed are logarithmic in the component diameter,
and no round is an all-pairs product.

The same threshold is the one broadcast gate of the other distributed
kernels here: HITS and the DBSCAN assembly hint a broadcast only while
rows × row width fits ``session.driver_collect_bytes``.

The DuckDB oracle computes the identical fixpoint with WITH RECURSIVE
transitive closure (exact on the small correctness SFs).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import Window as W

from ..io import load_table
from ..registry import register
from ..session import driver_collect_bytes
from .dedup import _MINHASH_ORACLE, lsh_pairs_staged

__all__ = [
    "connected_components",
    "dedup_cluster_components",
    "shortest_paths",
    "graph_shortest_paths",
    "pagerank",
]

#: hard cap on propagation rounds — convergence is checked each round; the
#: cap only bounds a pathological chain-of-length-N graph (not a dedup shape).
_MAX_ROUNDS = 50

#: driver-side bytes per collected edge: one (long, long) pair
_EDGE_BYTES = 16

#: bytes per HITS score-vector row: one (long, DECIMAL(38,0)) pair
_SCORE_BYTES = 24


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """For vertices ``0..n-1`` joined by edges ``(a[i], b[i])``, the least
    vertex of each vertex's component. Each round hooks every root onto
    the least root it shares an edge with, then pointer-jumps until every
    vertex points at a root; edges whose endpoints already share a root
    drop out. A parent never exceeds its vertex, so no cycle can form."""
    parent = np.arange(n)
    while a.size:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return parent


def _label_on_driver(edges: pa.Table) -> pa.Table:
    """(v, comp) over a collected (u, w) edge table — the same fixpoint the
    distributed loop reaches, null endpoints included: a null endpoint
    bridges nothing, its partner is still a vertex, and null itself is
    one more vertex labelled with the least component among its
    partners (null when it has none)."""
    u, w = edges.column(0), edges.column(1)
    ok = np.concatenate([c.is_valid().to_numpy(zero_copy_only=False) for c in (u, w)])
    # np.unique sorts, so index order is id order: the least index of a
    # component names its least id
    ids, inv = np.unique(
        np.concatenate([c.fill_null(0).to_numpy() for c in (u, w)])[ok],
        return_inverse=True,
    )
    ends = np.zeros(len(ok), dtype=np.int64)
    ends[ok] = inv
    a, b = np.split(ends, 2)
    u_ok, w_ok = np.split(ok, 2)
    both = u_ok & w_ok
    roots = _min_roots(len(ids), a[both], b[both])
    out = pa.table(
        {"v": pa.array(ids, type=u.type), "comp": pa.array(ids[roots], type=u.type)}
    )
    if both.all():
        return out
    partners = roots[np.concatenate([a[u_ok & ~w_ok], b[w_ok & ~u_ok]])]
    least = [ids[partners.min()].item() if partners.size else None]
    null_row = pa.table(
        {"v": pa.array([None], type=u.type), "comp": pa.array(least, type=u.type)}
    )
    return pa.concat_tables([out, null_row])


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(vertex, component) for every vertex in ``edges``; the component id is
    the minimum vertex id reachable from the vertex.

    ``edges`` is interpreted as undirected; isolated vertices don't appear
    (callers union them in if needed).

    Which path runs: with integral ids, the edge list is first collected
    to the driver in ONE job, capped at cap + 1 rows, where the cap is
    :func:`driver_collect_bytes` read as 16-byte (long, long) edges:
    4,194,304 at the engine's 64 MiB, 655,360 at Spark's default 10 MiB.
    At or under the cap the components are labelled in numpy
    (:func:`_label_on_driver`) and returned as a local relation; no other
    Spark job runs and nothing stays cached. Over the cap the collected
    rows are dropped and the distributed loop below runs, one collect job
    later; with the broadcast threshold ≤ 0 or non-integral ids it runs
    straight away.

    The loop follows hash-to-min (Rastogi et al., "Finding Connected
    Components in Map-Reduce in Logarithmic Rounds"): each vertex takes the
    min label over itself + neighbors, the result is ALSO pushed to the
    vertex's previous root (so label trees merge wholesale, not one edge
    per round — plain neighbor-min took 18 rounds on sf0.1's near-dup
    chains, this takes 6), then one pointer-flattening hop. Convergence is
    detected from the label sum — labels only ever decrease, so an
    unchanged sum means a fixpoint — one tiny aggregate instead of an
    old-vs-new join.

    Loop tuning (results unchanged — the fixpoint is init-independent for
    any init ≥ the true min that names a reachable vertex): (1) labels
    initialize to min(v, min neighbor) via ONE groupBy on the checkpointed
    edge list — a free half-step that replaces the identity-labels
    checkpoint; (2) no in-loop join carries a broadcast hint: the loop
    runs only when the edges are over the driver cap or broadcasts are
    off, so Spark's planner, AQE included, picks each join strategy.
    """
    spark = edges.sparkSession
    cap = driver_collect_bytes(spark) // _EDGE_BYTES
    pair = edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
    if cap > 0 and all(isinstance(f.dataType, IntegralType) for f in pair.schema):
        collected = pair.limit(cap + 1).toArrow()
        if collected.num_rows <= cap:
            return spark.createDataFrame(_label_on_driver(collected))
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.groupBy("u")
        .agg(F.min("w").alias("_mw"))
        .select(F.col("u").alias("v"), F.least(F.col("u"), F.col("_mw")).alias("comp"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    converged = False
    for _ in range(_MAX_ROUNDS):
        # neighbor labels: for edge (u, w), u can adopt w's current label
        nbr = sym.join(
            labels.select(F.col("v").alias("w"), F.col("comp")), "w"
        ).select(F.col("u").alias("v"), "comp")
        folded = labels.union(nbr).groupBy("v").agg(F.min("comp").alias("comp"))
        # hash-to-min: push the new min to the OLD root as well, so when two
        # label trees touch anywhere, the whole losing tree re-roots next
        # round instead of migrating one edge per round
        to_root = (
            folded.alias("f")
            .join(labels.alias("o"), "v")
            .select(F.col("o.comp").alias("v"), F.col("f.comp").alias("comp"))
        )
        merged = folded.union(to_root).groupBy("v").agg(F.min("comp").alias("comp"))
        # one flattening hop keeps pointer depth ~1 for the next round
        hop = merged.select(F.col("v").alias("comp"), F.col("comp").alias("comp2"))
        labels = (
            merged.join(hop, "comp", "left")
            .select(
                "v", F.least(F.col("comp"), F.coalesce("comp2", "comp")).alias("comp")
            )
            .localCheckpoint(eager=True)
        )
        cur = labels.agg(F.sum("comp").alias("s")).collect()[0].s
        if cur == prev_sum:
            converged = True
            break
        prev_sum = cur
    if not converged:
        # Returning possibly-unconverged labels would silently disagree with
        # the oracle's exact transitive closure — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within {_MAX_ROUNDS} rounds"
        )
    return labels


@register(
    "dedup_cluster_components",
    oracle=f"""
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
    )
    SELECT root AS doc_id, CAST(MIN(node) AS BIGINT) AS component_id
    FROM reach GROUP BY root
    """,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters over the MinHash-LSH pair graph: every
    document that appears in at least one near-dup pair, labeled with its
    cluster's canonical (minimum) doc_id."""
    edges = lsh_pairs_staged(spark, sf_dir)
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("v").alias("doc_id"), F.col("comp").cast("long").alias("component_id")
    )


@register(
    "dedup_cluster_stats",
    oracle=f"""
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
        SELECT root AS doc_id, MIN(node) AS component_id FROM reach GROUP BY root
    )
    SELECT CAST(component_id AS BIGINT) AS component_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_removed
    FROM comp GROUP BY component_id
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster dedup accounting: cluster size and how many documents a
    keep-canonical policy removes. ``sum(n_removed)`` is the corpus-level
    dedup yield."""
    comp = dedup_cluster_components(spark, sf_dir)
    return comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - F.lit(1)).cast("long").alias("n_removed"),
    )


# -- multi-source shortest paths (BFS hop distance) ---------------------------

_SP_MAX_ROUNDS = 30
_SP_ORACLE_CAP = 20  # recursion bound in the oracle; >> observed diameters
_SP_SRC_MOD = 10  # sources = pair-graph vertices with doc_id % mod == 0


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = _SP_MAX_ROUNDS,
) -> DataFrame:
    """(vertex, hops): minimum hop count from any source vertex, over the
    undirected ``edges`` graph. Vertices unreachable from every source are
    absent from the result.

    Scale shape (the iterative-frontier twin of :func:`connected_components`):
    each round is one |E|-bounded equi-join (current distances × edges) plus
    a groupBy(min) — two key-bounded shuffles, no all-pairs stage; rounds =
    eccentricity of the source set. Convergence is the (count, sum) pair of
    the distance relation — the set only grows and distances only decrease,
    so an unchanged pair is a fixpoint — and exhausting the round cap without
    converging raises instead of returning short counts (same failure
    contract as connected_components)."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("w"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        sources.select(F.col(sources.columns[0]).alias("v"))
        .distinct()
        .select("v", F.lit(0).cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    prev: tuple | None = None
    converged = False
    for _ in range(max_rounds):
        nbr = sym.join(dist, sym["u"] == dist["v"]).select(
            F.col("w").alias("v"), (F.col("d") + 1).alias("d")
        )
        dist = (
            dist.union(nbr)
            .groupBy("v")
            .agg(F.min("d").alias("d"))
            .localCheckpoint(eager=True)
        )
        row = dist.agg(
            F.count(F.lit(1)).alias("n"), F.sum("d").alias("s")
        ).collect()[0]
        cur = (row.n, row.s)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"shortest_paths did not converge within {max_rounds} rounds"
        )
    return dist


@register(
    "graph_shortest_paths",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS v FROM edges),
    walk AS (
        SELECT v AS node, 0 AS d FROM verts WHERE v % {_SP_SRC_MOD} = 0
        UNION
        SELECT e.dst, w.d + 1 FROM walk w
        JOIN edges e ON e.src = w.node
        WHERE w.d < {_SP_ORACLE_CAP}
    )
    SELECT node AS doc_id, CAST(MIN(d) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the nearest canonical-candidate document (doc_id %
    {mod} == 0) across the MinHash duplicate-pair graph — the "how far is
    this doc from an already-reviewed doc" query a curation pipeline asks.
    The oracle walks the same graph with a recursive CTE and takes MIN(d)
    per vertex."""
    edges = lsh_pairs_staged(spark, sf_dir)
    verts = (
        edges.select(F.col("doc_a").alias("v"))
        .union(edges.select(F.col("doc_b").alias("v")))
        .distinct()
    )
    sources = verts.filter(F.col("v") % _SP_SRC_MOD == 0)
    out = shortest_paths(edges, sources, "doc_a", "doc_b")
    return out.select(
        F.col("v").alias("doc_id"), F.col("d").cast("long").alias("hops")
    )


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH e AS ({_MINHASH_ORACLE}),
    t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM e e1
        JOIN e e2 ON e2.doc_a = e1.doc_b
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
           n_triangles
    FROM t
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the near-duplicate pair graph —
    the transitivity statistic of the dedup relation (how clique-like dup
    clusters are; triangles >> wedges means clusters are true duplicate
    groups, not chains of borderline matches bridging unrelated docs).

    Scale shape: edges arrive ORIENTED low-id -> high-id from the LSH pair
    join, so each triangle is counted exactly once by two equi-joins (the
    wedge join e1.doc_b = e2.doc_a, then the closing-edge probe on
    (e1.doc_a, e2.doc_b)); no vertex-centric adjacency materialization.
    The dup graph is sparse BY CONSTRUCTION (LSH banding only emits pairs
    with Jaccard-similar signatures), which is what makes triangle
    counting tractable at 100 TB — on a dense affinity graph the wedge
    relation is quadratic in degree no matter the engine (measured here:
    the (event_type, day) co-activity graph at sf0.1 is near-complete and
    took 40 s where this plan takes ~1 s). For power-law graphs, orient by
    degree instead of id — same plan, hub wedges split. The edge relation
    is computed once and localCheckpoint'ed so the three join legs read a
    materialized relation instead of re-running the LSH pipeline 3x."""
    e = lsh_pairs_staged(spark, sf_dir).localCheckpoint(eager=True)
    e1 = e.alias("e1")
    e2 = e.alias("e2")
    e3 = e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(tri)


# -- bill-of-materials explosion (native recursive CTE) -----------------------

_BOM_FANOUT = 10  # child partkey // 10 = parent partkey: a synthetic assembly
_BOM_QTY_MOD = 3  # per-edge quantity in [1, 3], derived from the child key


@register(
    "graph_bom_explosion",
    oracle=f"""
    WITH RECURSIVE edges AS (
        SELECT p_partkey AS child, p_partkey // {_BOM_FANOUT} AS parent,
               p_partkey % {_BOM_QTY_MOD} + 1 AS qty
        FROM part WHERE p_partkey >= {_BOM_FANOUT}
    ),
    bom(root, node, depth, ext_qty) AS (
        SELECT p_partkey, p_partkey, 0, CAST(1 AS BIGINT)
        FROM part WHERE p_partkey < {_BOM_FANOUT}
        UNION ALL
        SELECT b.root, e.child, b.depth + 1, b.ext_qty * e.qty
        FROM bom b JOIN edges e ON e.parent = b.node
    )
    SELECT root, CAST(COUNT(*) - 1 AS BIGINT) AS n_components,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(SUM(ext_qty) AS BIGINT) AS total_ext_qty
    FROM bom GROUP BY 1
    """,
)
def bom_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials explosion over a synthetic assembly hierarchy
    (child part → parent = key div {_BOM_FANOUT}), written as a NATIVE
    Spark 4 ``WITH RECURSIVE`` whose recursive leg JOINS the edge relation
    — the classic BOM shape (extended quantity = product of edge
    quantities along the path) that the month-spine query
    (recursive_month_spine) doesn't exercise. Depth is bounded by the key
    width (log_{_BOM_FANOUT} of max partkey ≈ 4-5 levels), so the
    recursion is a handful of join+union rounds, each a plain equi-join
    Catalyst plans like any other — per-level work is distributed; only
    the level BARRIER is sequential, the same contract as the iterative
    graph queries above. Products stay tiny integers (qty ≤
    {_BOM_QTY_MOD}^depth), exact in BIGINT cross-engine."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("t_part_bom")
    return spark.sql(
        f"""
        WITH RECURSIVE edges AS (
            SELECT p_partkey AS child, p_partkey div {_BOM_FANOUT} AS parent,
                   p_partkey % {_BOM_QTY_MOD} + 1 AS qty
            FROM t_part_bom WHERE p_partkey >= {_BOM_FANOUT}
        ),
        bom(root, node, depth, ext_qty) AS (
            SELECT p_partkey, p_partkey, 0, CAST(1 AS BIGINT)
            FROM t_part_bom WHERE p_partkey < {_BOM_FANOUT}
            UNION ALL
            SELECT b.root, e.child, b.depth + 1, b.ext_qty * e.qty
            FROM bom b JOIN edges e ON e.parent = b.node
        )
        SELECT root, CAST(COUNT(*) - 1 AS BIGINT) AS n_components,
               CAST(MAX(depth) AS BIGINT) AS max_depth,
               CAST(SUM(ext_qty) AS BIGINT) AS total_ext_qty
        FROM bom GROUP BY root
        """
    )


# -- PageRank (fixed-point integer arithmetic, bit-exact cross-engine) --------

_PR_SCALE = 1_000_000  # rank fixed-point scale: r0 = 1.0 * SCALE per vertex
_PR_ITERS = 8  # fixed iteration count (deterministic row SET for the oracle)
_PR_TELEPORT = 15 * _PR_SCALE // 100  # (1 - 0.85) * SCALE, exact


def _pagerank_oracle() -> str:
    """Unrolled-iteration DuckDB oracle: PageRank's per-round aggregation
    cannot live in a recursive CTE leg (aggregation in the recursive term is
    restricted), so the fixed ``_PR_ITERS`` rounds are unrolled as chained
    CTEs — each one the same contribution join + grouped sum the Spark loop
    runs. Integer ``//`` everywhere keeps both engines bit-identical."""
    parts = [
        f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
        SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    r0 AS (SELECT v, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg)"""
    ]
    for k in range(_PR_ITERS):
        parts.append(
            f""",
    r{k + 1} AS (
        SELECT e.dst AS v,
               CAST({_PR_TELEPORT} + (85 * SUM(r.r // dg.d)) // 100 AS BIGINT) AS r
        FROM edges e
        JOIN r{k} r ON r.v = e.src
        JOIN deg dg ON dg.v = e.src
        GROUP BY e.dst
    )"""
        )
    parts.append(f"""
    SELECT v AS doc_id, r AS rank_u FROM r{_PR_ITERS}""")
    return "".join(parts)


@register("graph_pagerank", oracle=_pagerank_oracle())
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash duplicate-pair graph — "which
    documents sit at the center of duplication mass" (canonical-pick
    tie-breaking and crawl-frontier prioritization both want this, and it is
    the one classic iterative-graph kernel the CC/BFS/triangle trio doesn't
    cover).

    Scale shape: identical per-round contract to :func:`shortest_paths` —
    each of the fixed {_PR_ITERS} rounds is ONE |E|-bounded equi-join
    (contribution edges x current ranks) plus a groupBy(sum), i.e. two
    key-bounded shuffles; the (src, dst, deg) contribution relation is
    joined with degrees ONCE and localCheckpoint'ed, so the loop re-reads a
    materialized relation and lineage stays flat. No all-pairs stage, no
    driver-side state beyond the loop counter — at 100 TB each round is a
    shuffle the size of the edge list, the same plan GraphX/Pregel would
    schedule.

    Determinism: ranks are FIXED-POINT BIGINTs (scale {_PR_SCALE}); the
    damping update is ``teleport + (85 * sum(r div deg)) div 100`` in exact
    integer arithmetic, so every engine computes the identical register —
    no IEEE summation-order divergence, the same recipe as the sketch
    family. The symmetric edge set guarantees deg >= 1 and indegree >= 1
    for every vertex (no dangling-mass term needed). Fixed iteration count
    (not a convergence test) keeps the output row SET deterministic for the
    hash-match gate; 1e-6 resolution is far below the per-round movement at
    round {_PR_ITERS} on this graph.
    """
    pairs = lsh_pairs_staged(spark, sf_dir)
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("d"))
    contrib = sym.join(deg, "src").localCheckpoint(eager=True)  # (src, dst, d)
    ranks = deg.select(
        F.col("src").alias("v"), F.lit(_PR_SCALE).cast("long").alias("r")
    )
    for _ in range(_PR_ITERS):
        ranks = (
            contrib.join(ranks, contrib["src"] == ranks["v"])
            .groupBy("dst")
            .agg(
                F.expr(
                    f"cast({_PR_TELEPORT} + (85 * sum(r div d)) div 100 as bigint)"
                ).alias("r")
            )
            .withColumnRenamed("dst", "v")
            .localCheckpoint(eager=True)
        )
    return ranks.select(F.col("v").alias("doc_id"), F.col("r").alias("rank_u"))


# -- semi-supervised label propagation over the duplicate graph ---------------

_LP_ITERS = 3  # fixed rounds (deterministic row SET for the hash gate)
_LP_SEED_MOD = 4  # doc_id % MOD == 0 keeps its ground-truth lang as the seed


def _lp_cte_chain() -> str:
    """The label-propagation WITH-chain (no final SELECT) — shared by the
    LPA oracle and consumers that post-process its communities
    (graph_modularity); the final relation is ``lp{_LP_ITERS}``."""
    parts = [
        f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    verts AS (SELECT DISTINCT src AS v FROM edges),
    seeds AS (
        SELECT d.doc_id AS v, d.lang AS lab
        FROM documents d JOIN verts ON verts.v = d.doc_id
        WHERE d.doc_id % {_LP_SEED_MOD} = 0
    ),
    lp0 AS (SELECT v, lab FROM seeds)"""
    ]
    for k in range(_LP_ITERS):
        parts.append(
            f""",
    lp{k + 1} AS (
        SELECT v, lab FROM (
            SELECT e.dst AS v, l.lab,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.dst
                       ORDER BY COUNT(*) DESC, l.lab) AS rn
            FROM edges e
            JOIN lp{k} l ON l.v = e.src
            WHERE e.dst NOT IN (SELECT v FROM seeds)
            GROUP BY e.dst, l.lab
        ) WHERE rn = 1
        UNION ALL
        SELECT v, lab FROM seeds
    )"""
        )
    return "".join(parts)


def _lp_oracle() -> str:
    """Unrolled label-propagation oracle: per-round majority vote cannot sit
    in a recursive CTE leg (aggregation restriction — same constraint as
    PageRank), so the fixed rounds chain as CTEs, each the identical
    neighbor-vote argmax the Spark loop runs."""
    return (
        _lp_cte_chain()
        + f"""
    SELECT v AS doc_id, lab AS label FROM lp{_LP_ITERS}"""
    )


def _dup_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized, MATERIALIZED duplicate-graph edge list (src, dst) —
    the shared front half of every dup-graph kernel. localCheckpoint is
    load-bearing: the MinHash-LSH pipeline upstream is the dominant cost,
    and iterative consumers would otherwise re-run it per round (and
    composite consumers like graph_modularity once per reuse)."""
    pairs = lsh_pairs_staged(spark, sf_dir)
    return (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _lp_labels(spark: SparkSession, sf_dir: str, sym: DataFrame) -> DataFrame:
    """The LPA vote loop over a prebuilt edge list — (v, lab) after
    ``_LP_ITERS`` synchronous rounds. Shared with graph_modularity so the
    composite query chunks the LSH pipeline exactly once."""
    verts = sym.select(F.col("src").alias("v")).distinct()
    docs = load_table(spark, sf_dir, "documents")
    seeds = (
        docs.join(verts, docs["doc_id"] == verts["v"])
        .filter(F.col("doc_id") % _LP_SEED_MOD == 0)
        .select(F.col("doc_id").alias("v"), F.col("lang").alias("lab"))
        .localCheckpoint(eager=True)
    )
    labels = seeds
    w_vote = W.partitionBy("dst").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(_LP_ITERS):
        votes = (
            sym.join(labels, sym["src"] == labels["v"])
            .join(seeds.select(F.col("v").alias("dst")), "dst", "left_anti")
            .groupBy("dst", "lab")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w_vote))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("v"), "lab")
        )
        labels = votes.unionByName(seeds).localCheckpoint(eager=True)
    return labels


@register("graph_label_propagation", oracle=_lp_oracle())
def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation over the MinHash duplicate graph:
    seed vertices (doc_id % {_LP_SEED_MOD} == 0) keep their ground-truth
    lang; every other vertex takes the MAJORITY label of its currently
    labeled neighbors each round (tie -> lexicographically smallest
    label), for {_LP_ITERS} fixed rounds — the classic community/label
    inference kernel, and the deterministic variant of LPA (random-order
    LPA is unreproducible by construction; synchronous argmax with a total
    tie order makes the fixture hash-checkable).

    Scale shape: per round ONE |E|-bounded equi-join (edges x current
    labels) + a grouped count + a per-dst argmax window — all keyed
    shuffles, localCheckpoint keeps lineage flat, same contract as
    :func:`pagerank`. Unlabeled vertices simply don't appear in the label
    relation, so sparse early rounds cost less, not more.
    """
    sym = _dup_sym_edges(spark, sf_dir)
    labels = _lp_labels(spark, sf_dir, sym)
    return labels.select(F.col("v").alias("doc_id"), F.col("lab").alias("label"))


# -- k-core peeling — deferred r7 queue ---------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4  # fixed synchronous peel rounds (deterministic row set)


def _kcore_oracle() -> str:
    """Unrolled peeling oracle: round r+1 keeps the vertices whose degree
    among round-r survivors is >= k — the same synchronous rule the Spark
    loop applies. Fixed rounds (not to-convergence) keep both engines on
    the identical row set even on graphs that would need more peels."""
    parts = [
        f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    s0 AS (SELECT DISTINCT src AS v FROM edges)"""
    ]
    for r in range(_KCORE_ROUNDS):
        parts.append(
            f""",
    s{r + 1} AS (
        SELECT e.src AS v
        FROM edges e
        JOIN s{r} a ON a.v = e.src
        JOIN s{r} b ON b.v = e.dst
        GROUP BY e.src
        HAVING COUNT(*) >= {_KCORE_K}
    )"""
        )
    parts.append(f""",
    final_deg AS (
        SELECT e.src AS v, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM edges e
        JOIN s{_KCORE_ROUNDS} a ON a.v = e.src
        JOIN s{_KCORE_ROUNDS} b ON b.v = e.dst
        GROUP BY e.src
    )
    SELECT v AS doc_id, core_degree FROM final_deg""")
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core peeling over the duplicate graph: {_KCORE_ROUNDS}
    synchronous rounds of "drop every vertex with fewer than {_KCORE_K}
    surviving neighbors", then report each survivor's within-core degree —
    the densest-region extractor used to find pathological duplication
    hubs (a near-dup CLUSTER shows up as a core; a chain doesn't).

    Scale contract matches pagerank/label_propagation: each round is one
    |E|-bounded double semi-join + grouped count (keyed shuffles only),
    the edge list is materialized once, and the fixed round count keeps
    the output row SET deterministic for the hash gate (synchronous
    peeling, unlike arbitrary-order peeling, is engine-order independent).
    """
    sym = _dup_sym_edges(spark, sf_dir)
    alive = sym.select(F.col("src").alias("v")).distinct()
    for _ in range(_KCORE_ROUNDS):
        alive = (
            sym.join(alive.withColumnRenamed("v", "src"), "src")
            .join(alive.withColumnRenamed("v", "dst"), "dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= _KCORE_K)
            .select(F.col("src").alias("v"))
            .localCheckpoint(eager=True)
        )
    return (
        sym.join(alive.withColumnRenamed("v", "src"), "src")
        .join(alive.withColumnRenamed("v", "dst"), "dst")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("src").alias("doc_id"), "core_degree")
    )


# -- link prediction by common neighbors — deferred r7 queue ------------------

_LINK_TOPN = 25


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    wedges AS (
        SELECT e1.src AS a, e2.dst AS b, CAST(COUNT(*) AS BIGINT) AS common
        FROM edges e1 JOIN edges e2
          ON e1.dst = e2.src AND e1.src < e2.dst
        GROUP BY 1, 2
    ),
    nonedges AS (
        SELECT w.a, w.b, w.common
        FROM wedges w
        LEFT JOIN edges e ON e.src = w.a AND e.dst = w.b
        WHERE e.src IS NULL
    )
    SELECT a AS doc_a, b AS doc_b, common
    FROM nonedges
    ORDER BY common DESC, a, b
    LIMIT {_LINK_TOPN}
    """
)
def link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction over the duplicate graph: the
    non-adjacent pairs sharing the most neighbors — "these two documents
    aren't flagged as near-dups but sit in the same duplication
    neighborhood", the triage list a dedup-quality reviewer walks (and
    the simplest member of the common-neighbors/Adamic-Adar family).

    Shape: candidate pairs come from the WEDGE join (edges x edges on the
    middle vertex) — bounded by Σ deg², the same frame the triangle count
    walks — then one ANTI JOIN removes existing edges and
    TakeOrderedAndProject keeps the top {_LINK_TOPN} (count desc, pair
    tie-break). Never an all-pairs scores matrix; at scale the wedge join
    is the standard skew point and high-degree hubs get capped or salted
    exactly as in triangle counting.
    """
    sym = _dup_sym_edges(spark, sf_dir)
    e1 = sym.select(F.col("src").alias("a"), F.col("dst").alias("mid"))
    e2 = sym.select(F.col("src").alias("mid"), F.col("dst").alias("b"))
    wedges = (
        e1.join(e2, "mid")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonedges = wedges.join(
        sym.select(F.col("src").alias("a"), F.col("dst").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        nonedges.select(
            F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "common"
        )
        .orderBy(F.desc("common"), "doc_a", "doc_b")
        .limit(_LINK_TOPN)
    )


# -- community modularity — deferred r7 queue ---------------------------------


@register(
    "graph_modularity",
    oracle=_lp_cte_chain()
    + f""",
    comm AS (SELECT v, lab FROM lp{_LP_ITERS}),
    m AS (SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges FROM edges),
    deg AS (
        SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
    ),
    intra AS (
        SELECT ca.lab, CAST(COUNT(*) / 2 AS BIGINT) AS l_c
        FROM edges e
        JOIN comm ca ON ca.v = e.src
        JOIN comm cb ON cb.v = e.dst AND cb.lab = ca.lab
        GROUP BY 1
    ),
    dsum AS (
        SELECT c.lab, CAST(SUM(d.d) AS BIGINT) AS d_c,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM comm c JOIN deg d ON d.v = c.v
        GROUP BY 1
    )
    SELECT ds.lab AS label, ds.n_nodes,
           CAST(COALESCE(i.l_c, 0) AS BIGINT) AS intra_edges,
           ds.d_c AS degree_sum,
           (1000000 * CAST(COALESCE(i.l_c, 0) AS BIGINT)) // mm.n_edges
             - (1000000 * ds.d_c * ds.d_c)
               // (4 * mm.n_edges * mm.n_edges) AS q_contrib_ppm
    FROM dsum ds
    LEFT JOIN intra i ON i.lab = ds.lab
    CROSS JOIN m mm
    """
)
def modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity contributions of the LPA communities — the
    quality score that says whether label propagation found real
    structure: Q = Σ_c [L_c/m − (D_c/2m)²] in exact ppm per community
    (consumers sum q_contrib_ppm for Q; positive contributions = denser
    than chance). Evaluates one registered operator with another:
    graph_label_propagation produces the partition, this scores it.

    Integer discipline: both terms are single integer divisions of
    bounded products — exact while 10^6·D_c² < 2^63, i.e. D_c < 3·10^6
    intra-community degree (≈1.5M edges inside one community); past that,
    move the 10^6 into the denominator as agg_hhi_concentration does.
    Labeled unions of per-community aggregates; the only joins are
    |V|- and |E|-keyed equi-joins.
    """
    sym = _dup_sym_edges(spark, sf_dir)  # ONE LSH run feeds both the
    labels = _lp_labels(spark, sf_dir, sym)  # propagation and the scoring
    m = sym.agg((F.count(F.lit(1)) / 2).cast("long").alias("n_edges"))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ca = labels.select(F.col("v").alias("src"), F.col("lab").alias("lab_a"))
    cb = labels.select(F.col("v").alias("dst"), F.col("lab").alias("lab_b"))
    intra = (
        sym.join(ca, "src")
        .join(cb, "dst")
        .filter(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("lab"))
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("l_c"))
    )
    dsum = (
        labels.join(deg, labels["v"] == deg["src"])
        .groupBy("lab")
        .agg(F.sum("d").cast("long").alias("d_c"), F.count(F.lit(1)).alias("n_nodes"))
    )
    return (
        dsum.join(intra, "lab", "left")
        .fillna({"l_c": 0})
        .crossJoin(F.broadcast(m))
        .select(
            F.col("lab").alias("label"),
            "n_nodes",
            F.col("l_c").alias("intra_edges"),
            F.col("d_c").alias("degree_sum"),
            F.expr(
                "(1000000 * l_c) div n_edges"
                " - (1000000 * d_c * d_c) div (4 * n_edges * n_edges)"
            ).alias("q_contrib_ppm"),
        )
    )


# -- local clustering coefficient over the dup graph --------------------------


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH e AS ({_MINHASH_ORACLE}),
    sym AS (
        SELECT doc_a AS v, doc_b AS u FROM e
        UNION ALL
        SELECT doc_b, doc_a FROM e
    ),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY v),
    tri AS (
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM e e1
        JOIN e e2 ON e2.doc_a = e1.doc_b
        JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    tv AS (
        SELECT x.v, CAST(COUNT(*) AS BIGINT) AS t
        FROM (SELECT a AS v FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri) x
        GROUP BY 1
    )
    SELECT deg.v AS doc_id, deg.d AS degree,
           CAST(COALESCE(tv.t, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.d >= 2
                     THEN (2000000 * COALESCE(tv.t, 0)) // (deg.d * (deg.d - 1))
                     ELSE 0 END AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN tv ON tv.v = deg.v
    """,
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per document in the near-dup graph —
    cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) in exact integer ppm: the
    per-vertex refinement of graph_triangle_count's global transitivity.
    High cc marks documents inside clique-like duplicate clusters (safe
    to collapse to one canonical); low cc with high degree marks BRIDGE
    documents chaining unrelated near-dup groups — exactly the rows a
    dedup pipeline must NOT transitively merge, so this is the quality
    gate in front of connected-components canonicalization.

    Shape: rides the ORIENTED staged edge list — the same two-equi-join
    wedge closure as the triangle counter (each triangle found once,
    credited to its three vertices by a 3-way explode of the tiny
    triangle relation), degrees from one hash-agg over symmetrized
    edges. Nothing is vertex-centric; all relations are edge- or
    triangle-bounded."""
    e = lsh_pairs_staged(spark, sf_dir).localCheckpoint(eager=True)
    sym = e.select(F.col("doc_a").alias("v")).unionAll(
        e.select(F.col("doc_b").alias("v"))
    )
    deg = sym.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("d"))
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    tv = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return (
        deg.join(tv, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CAST(CASE WHEN d >= 2"
                " THEN (2000000 * COALESCE(t, 0)) div (d * (d - 1))"
                " ELSE 0 END AS BIGINT)"
            ).alias("cc_ppm"),
        )
    )

# -- two-hop reach ------------------------------------------------------------

_REACH_TOPN = 25


@register(
    "graph_two_hop_reach",
    oracle=f"""
    WITH e AS ({_MINHASH_ORACLE}),
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM e
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM e
    ),
    direct AS (SELECT DISTINCT src, dst FROM sym),
    two_hop AS (
        SELECT DISTINCT a.src, b.dst
        FROM sym a JOIN sym b ON b.src = a.dst
        WHERE b.dst <> a.src
    ),
    pure AS (
        SELECT t.src, t.dst FROM two_hop t
        LEFT JOIN direct d ON d.src = t.src AND d.dst = t.dst
        WHERE d.src IS NULL
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS degree FROM direct GROUP BY 1),
    reach AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS hop2 FROM pure GROUP BY 1)
    SELECT CAST(d.src AS BIGINT) AS doc_id, d.degree,
           COALESCE(r.hop2, 0) AS hop2_reach
    FROM deg d LEFT JOIN reach r ON r.src = d.src
    ORDER BY hop2_reach DESC, d.degree DESC, doc_id
    LIMIT {_REACH_TOPN}
    """,
)
def two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reach over the near-dup graph: for each document, how many
    documents are exactly two hops away (neighbors-of-neighbors that are
    neither the doc itself nor its direct neighbors) — the transitive-
    contamination radar for dedup: a doc with small degree but large
    2-hop reach sits one merge decision away from a big duplicate
    cluster, so collapsing its edge transitively would over-merge (the
    same bridge-risk clustering_coefficient flags, measured as blast
    radius instead of density). Top {_REACH_TOPN} by reach, ties broken
    by degree then id so the limit is deterministic.

    Shape: symmetrize the staged candidate edges (|E|-bounded), one
    self-equi-join on the shared endpoint for the 2-hop pairs, distinct,
    anti-join the direct edges, count — every relation is edge- or
    wedge-bounded and keyed, never vertex-adjacency materialized; the
    final TakeOrderedAndProject keeps {_REACH_TOPN} rows."""
    e = lsh_pairs_staged(spark, sf_dir)
    # three consumers (the direct-edge distinct + both wedge-join sides):
    # symmetrize the staged edges once per action, not three times (r22).
    sym = (
        e.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionAll(
            e.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint(eager=False)
    )
    direct = sym.distinct()
    a, b = sym.alias("a"), sym.alias("b")
    two_hop = (
        a.join(b, F.col("b.src") == F.col("a.dst"))
        .filter(F.col("b.dst") != F.col("a.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        .distinct()
    )
    pure = two_hop.join(direct, ["src", "dst"], "left_anti")
    deg = direct.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    reach = pure.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("hop2"))
    return (
        deg.join(reach, "src", "left")
        .select(
            F.col("src").cast("long").alias("doc_id"),
            "degree",
            F.coalesce("hop2", F.lit(0)).cast("long").alias("hop2_reach"),
        )
        .orderBy(F.desc("hop2_reach"), F.desc("degree"), "doc_id")
        .limit(_REACH_TOPN)
    )


# -- degree assortativity (deferred: r10 activation) ------------------------------


@register(
    "graph_degree_assortativity",
    oracle=f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS HUGEINT) AS d
            FROM edges GROUP BY 1),
    m AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS me,
               CAST(SUM(du.d) AS HUGEINT) AS sx,
               CAST(SUM(du.d * du.d) AS HUGEINT) AS sxx,
               CAST(SUM(du.d * dv.d) AS HUGEINT) AS sxy
        FROM edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
    )
    SELECT CAST(me AS BIGINT) AS n_edges_directed,
           CAST(sx AS BIGINT) AS sum_deg,
           CAST(sxy AS BIGINT) AS sum_xy,
           CAST(SIGN(me * sxy - sx * sx) AS INT) AS r_sign,
           CAST(CASE WHEN me * sxx - sx * sx = 0 THEN 0
                ELSE (1000000 * (me * sxy - sx * sx) * (me * sxy - sx * sx))
                     // ((me * sxx - sx * sx) * (me * sxx - sx * sx)) END
                AS BIGINT) AS r2_ppm
    FROM m
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-duplicate pair graph (Newman):
    the Pearson correlation of endpoint degrees over every directed edge
    — positive means heavy duplicators link to heavy duplicators
    (template farms forming cores), negative means hub-and-spoke (one
    canonical doc with many one-off copies), and the answer drives which
    dedup canonicalization policy is safe. On the SYMMETRIZED edge list
    the x and y marginals coincide, so r = (MΣxy − Sx²)/(MΣxx − Sx²)
    exactly — a ratio of two integers — and r² in exact ppm plus the
    separate sign (the kappa/MCC device) keeps the gate bit-exact with
    no square root.

    Shape: degrees are one partial+final count over the staged edge
    list; the moment pass joins each edge to its two endpoint degrees
    (vertex-keyed equi-joins on a degree relation that broadcasts), then
    ONE 1-row aggregate. 128-bit integers throughout; the digit budget
    is M·maxdeg² — recenter degrees first past ~1e9 edges (documented,
    not silent).
    """
    pairs = lsh_pairs_staged(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionAll(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .localCheckpoint(eager=False)  # degree pass + moment pass share it
    )
    deg = edges.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("d")
    )
    du = deg.alias("du")
    dv = deg.alias("dv")
    m = (
        edges.join(F.broadcast(du), F.col("du.node") == F.col("u"))
        .join(F.broadcast(dv), F.col("dv.node") == F.col("v"))
        .agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("me"),
            F.sum("du.d").alias("sx"),
            F.sum(F.col("du.d") * F.col("du.d")).alias("sxx"),
            F.sum(F.col("du.d") * F.col("dv.d")).alias("sxy"),
        )
    )
    return m.selectExpr(
        "CAST(me AS BIGINT) AS n_edges_directed",
        "CAST(sx AS BIGINT) AS sum_deg",
        "CAST(sxy AS BIGINT) AS sum_xy",
        "CAST(SIGN(me * sxy - sx * sx) AS INT) AS r_sign",
        "CAST(CASE WHEN me * sxx - sx * sx = 0 THEN 0"
        " ELSE (CAST(1000000 AS DECIMAL(38,0))"
        " * (me * sxy - sx * sx) * (me * sxy - sx * sx))"
        " div ((me * sxx - sx * sx) * (me * sxx - sx * sx)) END"
        " AS BIGINT) AS r2_ppm",
    )


# -- truncated harmonic centrality ----------------------------------------------

#: harmonic radius: distances beyond 3 hops contribute <= 1/4 each and the
#: frontier grows geometrically — every production centrality sketch
#: truncates. lcm(1,2,3) = 12 keeps 12/d an exact integer.
_HC_RADIUS = 3


@register(
    "graph_harmonic_centrality",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_MINHASH_ORACLE})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    walk AS (
        SELECT src AS s, src AS node, 0 AS d FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT w.s, e.dst, w.d + 1 FROM walk w
        JOIN edges e ON e.src = w.node
        WHERE w.d < {_HC_RADIUS}
    ),
    dist AS (SELECT s, node, MIN(d) AS d FROM walk GROUP BY 1, 2)
    SELECT s AS doc_id,
           CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
           CAST(12 * SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END)
                + 6 * SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END)
                + 4 * SUM(CASE WHEN d = 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS harmonic_x12
    FROM dist WHERE d BETWEEN 1 AND {_HC_RADIUS} GROUP BY 1
    """,
)
def harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-{_HC_RADIUS} harmonic centrality over the near-duplicate pair
    graph: H(u) = Σ 1/d(u,v) over vertices within {_HC_RADIUS} hops,
    scaled by lcm(1..{_HC_RADIUS}) = 12 so every value is an exact integer
    (harmonic_x12 = 12·n1 + 6·n2 + 4·n3). Harmonic centrality is the
    influence ranking that stays well-defined on DISCONNECTED graphs
    (closeness diverges there) — on a dedup graph it surfaces the template
    documents sitting at the center of large near-dup neighborhoods.

    Shape: no driver-sequenced iteration at all — with a fixed small
    radius the exact k-hop neighborhoods are THREE distinct-projected
    wedge joins with anti-join peeling (d2 = neighbors-of-neighbors minus
    d1 minus self; d3 likewise), each equi-keyed on the vertex and sparse
    by LSH construction. The staged edge relation is read once
    (localCheckpoint), so the three legs never re-run the LSH pipeline.
    """
    pairs = lsh_pairs_staged(spark, sf_dir)
    e = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("w"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("w")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    d1 = e.select("u", F.col("w").alias("v")).distinct()
    hop = lambda frontier: (  # noqa: E731 — one more BFS layer, distinct
        frontier.join(e.select(F.col("u").alias("v"), F.col("w").alias("x")), "v")
        .select("u", F.col("x").alias("v"))
        .distinct()
    )
    not_self = lambda df: df.filter(F.col("u") != F.col("v"))  # noqa: E731
    d2 = not_self(hop(d1)).join(d1, ["u", "v"], "left_anti")
    d3 = (
        not_self(hop(d2))
        .join(d2, ["u", "v"], "left_anti")
        .join(d1, ["u", "v"], "left_anti")
    )
    counts = (
        d1.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n1"))
        .join(
            d2.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n2")),
            "u",
            "left",
        )
        .join(
            d3.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("n3")),
            "u",
            "left",
        )
        .fillna(0, ["n2", "n3"])
    )
    return counts.select(
        F.col("u").alias("doc_id"),
        "n1",
        "n2",
        "n3",
        (12 * F.col("n1") + 6 * F.col("n2") + 4 * F.col("n3"))
        .cast("long")
        .alias("harmonic_x12"),
    )


# -- HITS hubs/authorities on the bipartite purchase graph (active r15) -------

_HITS_SCALE = 1_000_000  # fixed-point score scale (the PageRank recipe)
_HITS_ITERS = 3  # fixed rounds: deterministic row SET for the hash gate
_HITS_TOP = 25  # reported per role, fully tie-broken

# ADVICE r14: the loop below leaves `a` None when _HITS_ITERS == 0 and the
# failure (AttributeError on a.orderBy) would surface far from this constant;
# fail HERE if the round count is ever mistuned.
assert _HITS_ITERS >= 1, "HITS needs at least one iteration"


def _hits_oracle() -> str:
    """Unrolled-iteration DuckDB oracle mirroring the Spark loop — same
    device as ``_pagerank_oracle`` (aggregation can't live in a recursive
    CTE leg). Integer ``//`` + HUGEINT intermediates keep both engines
    bit-identical."""
    parts = [
        f"""
    WITH e AS (
        SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
                        CAST(l.l_partkey AS BIGINT) AS p
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST({_HITS_SCALE} AS HUGEINT) AS s FROM e)"""
    ]
    for k in range(1, _HITS_ITERS + 1):
        parts.append(
            f""",
    a{k}r AS (
        SELECT e.p, CAST(SUM(h.s) AS HUGEINT) AS raw
        FROM e JOIN h{k - 1} h ON h.c = e.c GROUP BY e.p
    ),
    a{k} AS (
        SELECT p, (CAST({_HITS_SCALE} AS HUGEINT) * raw)
                   // (SELECT SUM(raw) FROM a{k}r) AS s
        FROM a{k}r
    ),
    h{k}r AS (
        SELECT e.c, CAST(SUM(a.s) AS HUGEINT) AS raw
        FROM e JOIN a{k} a ON a.p = e.p GROUP BY e.c
    ),
    h{k} AS (
        SELECT c, (CAST({_HITS_SCALE} AS HUGEINT) * raw)
                   // (SELECT SUM(raw) FROM h{k}r) AS s
        FROM h{k}r
    )"""
        )
    parts.append(f"""
    SELECT * FROM (
        SELECT 'authority' AS role, p AS node_id, CAST(s AS BIGINT) AS score_u
        FROM a{_HITS_ITERS} ORDER BY s DESC, p ASC LIMIT {_HITS_TOP}
    )
    UNION ALL
    SELECT * FROM (
        SELECT 'hub' AS role, c AS node_id, CAST(s AS BIGINT) AS score_u
        FROM h{_HITS_ITERS} ORDER BY s DESC, c ASC LIMIT {_HITS_TOP}
    )""")
    return "".join(parts)


@register("graph_hits_bipartite", oracle=_hits_oracle())
def hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) on the DIRECTED bipartite
    customer→part purchase graph: authorities are parts bought by the
    strongest hubs, hubs are customers buying the strongest authorities —
    the second classic link-analysis kernel beside :func:`pagerank`, and
    the one that needs a directed graph (on the symmetric duplicate-pair
    graph both score vectors collapse to the same eigenvector after one
    round, so the bipartite purchase relation is the honest formulation).
    Top-{_HITS_TOP} per role, fully tie-broken (score desc, node asc).

    Determinism: scores are FIXED-POINT BIGINTs (scale {_HITS_SCALE});
    each half-round is an exact integer sum followed by ONE L1
    normalization ``(SCALE * raw) div Σraw`` — the sqrt-free norm, so no
    engine ever computes a root and scores stay in [0, SCALE]. Fixed
    {_HITS_ITERS}-round count (not a convergence test) keeps the row SET
    deterministic. Overflow headroom: SCALE·raw ≤ SCALE²·|V| ≈ 10¹²·|V|,
    DECIMAL(38,0)/HUGEINT-safe to |V| ~ 10²⁶ vertices.

    Scale shape: the edge relation is ONE distinct over the
    orders⋈lineitem equi-join (partial-aggregable, |E|-bounded);
    each of the {_HITS_ITERS} rounds is two |E|-bounded equi-joins + two
    partial-aggregable groupBys + two 1-row broadcast totals — the same
    per-round contract as PageRank, localCheckpoint'ed so lineage stays
    flat. The final top-k is TakeOrderedAndProject per role. No all-pairs
    stage anywhere; at 100 TB every round is a shuffle the size of the
    edge list."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").cast("long").alias("c"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_partkey").cast("long").alias("p"),
    )
    e = (
        orders.join(li, "ok")
        .select("c", "p")
        .distinct()
        .localCheckpoint(eager=True)
    )
    h = e.select("c").distinct().select(
        "c", F.lit(_HITS_SCALE).cast("decimal(38,0)").alias("s")
    )
    # Loop shape (either choice gives the same rows):
    # (1) checkpoint the RAW half-round aggregate (|P|-/|C|-bounded), not the
    #     normalized vector — the normalization total and the normalized
    #     vector both become ~|vector|-row scans of the materialized
    #     partials instead of re-executing the |E| join subtree;
    # (2) broadcast the score-vector side of each |E| equi-join while |e|
    #     score rows fit the session's broadcast threshold (a vector has at
    #     most |e| rows; e is checkpointed, so the count is one in-memory
    #     scan), so the edge relation is not shuffled inside the loop. Over
    #     the threshold, or with it ≤ 0, Spark's planner picks the joins.
    cap = driver_collect_bytes(spark)
    bcast = cap > 0 and e.count() * _SCORE_BYTES <= cap
    a = None
    for _ in range(_HITS_ITERS):
        ar = e.join(F.broadcast(h) if bcast else h, "c").groupBy("p").agg(
            F.sum("s").cast("decimal(38,0)").alias("raw")
        ).localCheckpoint(eager=True)
        at = ar.agg(F.sum("raw").cast("decimal(38,0)").alias("tot"))
        a = ar.crossJoin(F.broadcast(at)).selectExpr(
            "p", f"(CAST({_HITS_SCALE} AS DECIMAL(38,0)) * raw) div tot AS s"
        )
        hr = e.join(F.broadcast(a) if bcast else a, "p").groupBy("c").agg(
            F.sum("s").cast("decimal(38,0)").alias("raw")
        ).localCheckpoint(eager=True)
        ht = hr.agg(F.sum("raw").cast("decimal(38,0)").alias("tot"))
        h = hr.crossJoin(F.broadcast(ht)).selectExpr(
            "c", f"(CAST({_HITS_SCALE} AS DECIMAL(38,0)) * raw) div tot AS s"
        )
    auth = (
        a.orderBy(F.desc("s"), F.asc("p"))
        .limit(_HITS_TOP)
        .select(
            F.lit("authority").alias("role"),
            F.col("p").alias("node_id"),
            F.col("s").cast("long").alias("score_u"),
        )
    )
    hub = (
        h.orderBy(F.desc("s"), F.asc("c"))
        .limit(_HITS_TOP)
        .select(
            F.lit("hub").alias("role"),
            F.col("c").alias("node_id"),
            F.col("s").cast("long").alias("score_u"),
        )
    )
    return auth.unionByName(hub)


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)
