"""Spatial operators: grid-bucketed distance self-join (SURVEY §2.9, joins).

The classic scale pattern for "find all point pairs within distance R":
bucket points into grid cells of side >= R, replicate each PROBE point to
its 3x3 neighborhood, equi-join on the cell id, and verify the exact
distance predicate on the (tiny) candidate set. The all-pairs O(n^2)
comparison becomes an equi-join whose candidate count is bounded by local
density — the same neighborhood-bucketing shape as the LSH dedup family
(dedup.py) and the fuzzy deletion-neighborhood join (joins.py), applied to
geometry.

Points are derived deterministically from customer keys (the synthetic
tables carry no coordinates): two md5-derived projections onto a
2^20 x 2^20 integer plane (the repo's cross-engine hash family — a LINEAR
multiplicative hash is unusable here: h(k) = k*A mod 2^32 maps every
key-pair at the same delta to the same displacement vector, so a few
"lucky" deltas each contribute O(n) near-pairs and the output degenerates
into lattice stripes). All arithmetic is int64-exact, so the DuckDB oracle
(a direct all-pairs join — affordable at fixture scale, which is the point
of having the grid version) reproduces the pair set bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..io import load_table
from ..registry import register
from ..session import driver_collect_bytes

__all__ = ["grid_points", "grid_distance_self_join"]

_PLANE_MOD = 1 << 20  # md5-derived 2^60 hash -> 2^20 coordinate
_CELL = 1 << 15  # grid cell side -> 32x32 cells over the plane
_RADIUS = 1 << 14  # R <= CELL, so 3x3 neighbor cells suffice
_R2 = _RADIUS * _RADIUS


def _coord_sql(axis: str) -> str:
    return (
        f"('0x' || substr(md5('{axis}_' || CAST(c_custkey AS VARCHAR)), 1, 15))"
        f"::BIGINT % {_PLANE_MOD}"
    )


def grid_points(customers: DataFrame) -> DataFrame:
    """Project each customer onto the integer plane: two hash coordinates."""

    def coord(axis: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(axis + "_"), F.col("c_custkey").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _PLANE_MOD
        )

    x, y = coord("sx"), coord("sy")
    return customers.select(
        F.col("c_custkey").alias("pkey"), x.alias("x"), y.alias("y")
    )


def grid_distance_self_join(points: DataFrame) -> DataFrame:
    """All pairs (a < b) with squared L2 distance <= R^2, via 3x3 grid probes.

    Each probe point replicates to its 9 neighbor cells; build points stay
    in their single home cell, so every qualifying pair joins EXACTLY once
    (b's unique home cell matches one of a's 9 distinct probe cells; the
    a < b guard kills the mirrored direction). |dx|<=R<=CELL guarantees no
    qualifying pair spans more than one cell boundary.
    """
    pts = points.select(
        "pkey",
        "x",
        "y",
        F.expr(f"x div {_CELL}").alias("cx"),
        F.expr(f"y div {_CELL}").alias("cy"),
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probes = (
        pts.withColumn("dx", d)
        .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
        .select(
            F.col("pkey").alias("akey"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("cx") + F.col("dx")).alias("ncx"),
            (F.col("cy") + F.col("dy")).alias("ncy"),
        )
    )
    build = pts.select(
        F.col("pkey").alias("bkey"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    dist_sq = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        probes.join(
            build,
            (F.col("ncx") == F.col("cx"))
            & (F.col("ncy") == F.col("cy"))
            & (F.col("akey") < F.col("bkey")),
        )
        .withColumn("dist_sq", dist_sq.cast("long"))
        .filter(F.col("dist_sq") <= _R2)
        .select(
            F.col("akey").alias("custkey_a"),
            F.col("bkey").alias("custkey_b"),
            "dist_sq",
        )
    )


@register(
    "join_spatial_grid",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS pkey,
               {_coord_sql('sx')} AS x,
               {_coord_sql('sy')} AS y
        FROM customer
    )
    SELECT a.pkey AS custkey_a, b.pkey AS custkey_b,
           CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
    FROM pts a JOIN pts b ON a.pkey < b.pkey
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_R2}
    """,
)
def spatial_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed neighbor search vs the oracle's exact all-pairs join —
    identical pair sets prove the bucketing loses nothing, while the Spark
    plan stays an equi-join (shuffle keyed on cells, never n^2 rows).
    """
    return grid_distance_self_join(grid_points(load_table(spark, sf_dir, "customer")))


#: DBSCAN core threshold: a point is core when >= MINPTS OTHER points lie
#: within RADIUS (the textbook minPts excludes the point itself here)
_DBSCAN_MINPTS = 3


@register(
    "spatial_dbscan_core",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS pkey,
               {_coord_sql('sx')} AS x,
               {_coord_sql('sy')} AS y
        FROM customer
    ),
    prs AS (
        SELECT a.pkey AS pa, b.pkey AS pb
        FROM pts a JOIN pts b ON a.pkey < b.pkey
        WHERE (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= {_R2}
    ),
    ends AS (SELECT pa AS pkey FROM prs UNION ALL SELECT pb FROM prs)
    SELECT pkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_neighbors,
           CAST(COUNT(*) >= {_DBSCAN_MINPTS} AS BOOLEAN) AS is_core
    FROM ends GROUP BY 1
    """,
)
def dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN's expensive half — per-point epsilon-neighborhood counts and
    the core/non-core verdict (core = at least {_DBSCAN_MINPTS} other
    points within RADIUS) — distributed via the SAME 3x3 grid join the
    pair query proves lossless. Given core flags, the clustering itself is
    connected components over core-core edges (graph.py's CC kernel);
    this operator is the density scan that dominates DBSCAN's runtime at
    scale. Points with zero neighbors are noise by definition and are not
    materialized (the pair relation never sees them).

    Shape: the grid equi-join bounds candidates by local density (never
    n² rows), then each qualifying pair feeds BOTH endpoints through one
    unionAll + hash agg — no second neighborhood pass. The oracle is the
    exact all-pairs count, so the grid path's completeness is re-proven
    per run at fixture scale.
    """
    pairs = grid_distance_self_join(
        grid_points(load_table(spark, sf_dir, "customer"))
    # both unionAll branches read the pair relation — staged (density-
    # bounded, ≪ points²) so the grid join runs once, not twice
    ).localCheckpoint(eager=False)
    ends = pairs.select(F.col("custkey_a").alias("pkey")).unionAll(
        pairs.select(F.col("custkey_b").alias("pkey"))
    )
    return ends.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors")
    ).select(
        F.col("pkey").alias("custkey"),
        "n_neighbors",
        (F.col("n_neighbors") >= _DBSCAN_MINPTS).alias("is_core"),
    )


@register(
    "spatial_dbscan_clusters",
    oracle=f"""
    WITH RECURSIVE pts AS (
        SELECT c_custkey AS pkey,
               {_coord_sql('sx')} AS x,
               {_coord_sql('sy')} AS y
        FROM customer
    ),
    prs AS (
        SELECT a.pkey AS pa, b.pkey AS pb
        FROM pts a JOIN pts b ON a.pkey < b.pkey
        WHERE (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= {_R2}
    ),
    sym AS (SELECT pa AS u, pb AS w FROM prs
            UNION ALL SELECT pb, pa FROM prs),
    core AS (
        SELECT u AS pkey FROM sym GROUP BY 1
        HAVING COUNT(*) >= {_DBSCAN_MINPTS}
    ),
    cedges AS (
        SELECT u, w FROM sym
        WHERE u IN (SELECT pkey FROM core) AND w IN (SELECT pkey FROM core)
    ),
    verts AS (SELECT DISTINCT u AS v FROM cedges),
    reach AS (
        SELECT v AS root, v AS node FROM verts
        UNION
        SELECT r.root, e.w FROM reach r JOIN cedges e ON e.u = r.node
    ),
    comp AS (SELECT root AS pkey, MIN(node) AS cl FROM reach GROUP BY 1),
    core_lab AS (
        SELECT c.pkey, COALESCE(comp.cl, c.pkey) AS cl
        FROM core c LEFT JOIN comp USING (pkey)
    ),
    border AS (
        SELECT s.u AS pkey, MIN(cl.cl) AS cl
        FROM sym s JOIN core_lab cl ON cl.pkey = s.w
        WHERE s.u NOT IN (SELECT pkey FROM core)
        GROUP BY 1
    )
    SELECT pkey AS custkey, 'core' AS role, CAST(cl AS BIGINT) AS cluster_id
    FROM core_lab
    UNION ALL
    SELECT pkey, 'border', CAST(cl AS BIGINT) FROM border
    UNION ALL
    SELECT p.pkey, 'noise', CAST(NULL AS BIGINT) FROM pts p
    WHERE p.pkey NOT IN (SELECT pkey FROM core_lab)
      AND p.pkey NOT IN (SELECT pkey FROM border)
    """,
)
def dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL DBSCAN labeling — the completion spatial_dbscan_core's own
    docstring names as the remaining half: every point classified core /
    border / noise with a deterministic cluster id. Same RADIUS and
    MINPTS as the core scan (a point is core when >= {_DBSCAN_MINPTS}
    OTHER points lie within RADIUS).

    Determinism (textbook DBSCAN is scan-order-dependent for borders — a
    border in reach of two clusters goes to whichever expanded first):
    here the cluster id is the MIN core pkey of the component, and a
    border point joins the MIN cluster id among its core neighbors, so
    the labeling is a pure function of the point set and both engines
    agree bit-for-bit. An isolated core (core by count, but no CORE
    neighbor — its >= {_DBSCAN_MINPTS} witnesses are all border/noise)
    forms its own singleton cluster.

    Scale shape: the density scan is the SAME 3x3 grid equi-join the pair
    query proves lossless (candidates bounded by local density, never n²);
    the clustering is connected components over core-core edges via
    graph.connected_components — labelled on the driver after one collect
    job while the core edges fit the broadcast threshold, otherwise the
    hash-to-min loop (logarithmic rounds, |E|-bounded per round); border
    attachment is one more |pairs|-bounded join + min-agg.
    Nothing in the pipeline materializes more than the qualifying pair
    relation. At sf0.001 the fixture's density is sub-critical (zero core
    points — every point reads noise); structure appears from sf0.01 up —
    both branches are oracle-checked and reference-tested.
    """
    from .graph import _EDGE_BYTES, connected_components

    pts = grid_points(load_table(spark, sf_dir, "customer"))
    pairs = grid_distance_self_join(pts).localCheckpoint(eager=True)
    # Every assembly join's small side (core set, component labels,
    # labeled keys) is a key set bounded by |pairs|, so one gate decides
    # all their broadcast hints: |pairs| (long, long) rows against the
    # session's broadcast threshold. Under it the pair and point relations
    # are never shuffled in the assembly; over it, or with the threshold
    # ≤ 0, Spark's planner picks each join. The count is one scan of the
    # checkpointed pairs.
    cap = driver_collect_bytes(spark)
    bcast = cap > 0 and pairs.count() * _EDGE_BYTES <= cap

    def _b(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if bcast else df

    sym = pairs.select(
        F.col("custkey_a").alias("p"), F.col("custkey_b").alias("q")
    ).unionAll(
        pairs.select(F.col("custkey_b").alias("p"), F.col("custkey_a").alias("q"))
    )
    core = (
        sym.groupBy("p")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _DBSCAN_MINPTS)
        .select(F.col("p").alias("pkey"))
        .localCheckpoint(eager=True)
    )
    core_edges = pairs.join(
        _b(core.select(F.col("pkey").alias("custkey_a"))), "custkey_a", "left_semi"
    ).join(_b(core.select(F.col("pkey").alias("custkey_b"))), "custkey_b", "left_semi")
    comp = connected_components(core_edges, "custkey_a", "custkey_b")
    core_lab = core.join(
        _b(comp.select(F.col("v").alias("pkey"), F.col("comp").alias("cl"))),
        "pkey",
        "left",
    ).select("pkey", F.coalesce("cl", "pkey").alias("cl"))
    border = (
        sym.join(_b(core.select(F.col("pkey").alias("p"))), "p", "left_anti")
        .join(
            _b(core_lab.select(F.col("pkey").alias("q"), "cl")),
            "q",
        )
        .groupBy("p")
        .agg(F.min("cl").alias("cl"))
        .select(F.col("p").alias("pkey"), "cl")
    )
    labeled = core_lab.select(
        "pkey", F.lit("core").alias("role"), F.col("cl").cast("long").alias("cluster_id")
    ).unionByName(
        border.select(
            "pkey", F.lit("border").alias("role"), F.col("cl").cast("long").alias("cluster_id")
        )
    )
    noise = (
        pts.select("pkey")
        .join(_b(labeled.select("pkey")), "pkey", "left_anti")
        .select(
            "pkey",
            F.lit("noise").alias("role"),
            F.lit(None).cast("long").alias("cluster_id"),
        )
    )
    return labeled.unionByName(noise).select(
        F.col("pkey").alias("custkey"), "role", "cluster_id"
    )


#: neighbors reported per point by the radius-bounded kNN
_KNN_K = 3


@register(
    "spatial_knn_within_radius",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS pkey,
               {_coord_sql('sx')} AS x,
               {_coord_sql('sy')} AS y
        FROM customer
    ),
    prs AS (
        SELECT a.pkey AS pa, b.pkey AS pb,
               CAST((a.x - b.x) * (a.x - b.x)
                  + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist_sq
        FROM pts a JOIN pts b ON a.pkey < b.pkey
        WHERE (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= {_R2}
    ),
    sym AS (
        SELECT pa AS pkey, pb AS nbr, dist_sq FROM prs
        UNION ALL
        SELECT pb, pa, dist_sq FROM prs
    ),
    ranked AS (
        SELECT pkey, nbr, dist_sq,
               ROW_NUMBER() OVER (PARTITION BY pkey
                                  ORDER BY dist_sq, nbr) AS rk
        FROM sym
    )
    SELECT pkey AS custkey, CAST(rk AS INT) AS rank,
           nbr AS neighbor_custkey, dist_sq
    FROM ranked WHERE rk <= {_KNN_K}
    """,
)
def knn_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point k-nearest neighbors WITHIN the search radius — the
    geo-recommendation / nearest-facility query ("the {_KNN_K} closest
    depots within delivery range of each customer"), answered from the
    SAME lossless 3x3 grid join as the pair and DBSCAN queries: radius-
    bounded kNN is the variant that stays an equi-join at scale, because
    unbounded kNN cannot prune cells (an isolated point's nearest
    neighbor may be arbitrarily far — that needs ring-expansion search,
    a different algorithm). Deterministic ties on (dist_sq, neighbor id).

    Shape: staged pair relation → symmetrize → per-point top-{_KNN_K}
    window, partitioned by the point (frame bounded by local density);
    no new distance computation and no second spatial pass.
    """
    pairs = grid_distance_self_join(
        grid_points(load_table(spark, sf_dir, "customer"))
    ).localCheckpoint(eager=False)  # both directions read the same join
    sym = pairs.select(
        F.col("custkey_a").alias("pkey"),
        F.col("custkey_b").alias("nbr"),
        "dist_sq",
    ).unionAll(
        pairs.select(
            F.col("custkey_b").alias("pkey"),
            F.col("custkey_a").alias("nbr"),
            "dist_sq",
        )
    )
    wk = W.partitionBy("pkey").orderBy("dist_sq", "nbr")
    return (
        sym.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= _KNN_K)
        .select(
            F.col("pkey").alias("custkey"),
            F.col("rk").cast("int").alias("rank"),
            F.col("nbr").alias("neighbor_custkey"),
            "dist_sq",
        )
    )


from ..docfmt import format_docstrings  # noqa: E402
format_docstrings(globals())  # substitute {CONST} docstring placeholders (ADVICE r8)


# -- point-in-convex-polygon classification (r11 queue) --------------------------

#: convex test hexagon: center (2^19, 2^19), radius 2^20/3, vertices CCW,
#: rounded to integers once (literals shared by both engines)
_HEX_VERTS = (
    (873813, 524288),
    (699051, 826986),
    (349526, 826986),
    (174763, 524288),
    (349525, 221590),
    (699050, 221590),
)


def _hex_edge_terms(xcol: str, ycol: str) -> list[str]:
    """Cross-product sign terms, one per CCW edge: s_i >= 0 for all i <=>
    point inside-or-on (convexity); identical text on both engines."""
    out = []
    for i in range(len(_HEX_VERTS)):
        xi, yi = _HEX_VERTS[i]
        xj, yj = _HEX_VERTS[(i + 1) % len(_HEX_VERTS)]
        out.append(
            f"(({xj} - {xi}) * ({ycol} - {yi})"
            f" - ({yj} - {yi}) * ({xcol} - {xi}))"
        )
    return out


@register(
    "spatial_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey AS pkey,
               {_coord_sql("sx")} AS x,
               {_coord_sql("sy")} AS y
        FROM customer
    ), cls AS (
        SELECT pkey, x, y,
               CASE
                 WHEN {" AND ".join(f"{t} > 0" for t in _hex_edge_terms("x", "y"))}
                     THEN 'inside'
                 WHEN {" AND ".join(f"{t} >= 0" for t in _hex_edge_terms("x", "y"))}
                     THEN 'boundary'
                 ELSE 'outside' END AS verdict
        FROM pts
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(x) AS BIGINT) AS sum_x,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(MIN(pkey) AS BIGINT) AS min_pkey
    FROM cls GROUP BY 1
    """,
)
def point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-convex-polygon classification — the geofencing primitive
    (is this point inside the delivery zone / census tract / geofence):
    every customer's hash-plane point is tested against a fixed convex
    hexagon with the CCW cross-product sign rule — strictly positive on
    every edge = inside, non-negative with a zero = on the boundary,
    else outside. All-integer arithmetic (coordinates < 2^20, products
    < 2^41), so the verdict set hashes exactly; the per-verdict
    coordinate sums pin MEMBERSHIP, not just counts — one misclassified
    point moves them.

    Shape: six cross products per point, map-side, one conditional
    groupBy over 3 groups — embarrassingly parallel, nothing but the
    scan scales. A polygon TABLE generalizes this to a grid-banded join
    (candidate cells via the polygon's bounding boxes, exact test on the
    survivors — the join_spatial_grid discipline); the exact per-edge
    test here is that verify stage."""
    pts = grid_points(load_table(spark, sf_dir, "customer"))
    terms = _hex_edge_terms("x", "y")
    verdict = (
        F.when(F.expr(" AND ".join(f"{t} > 0" for t in terms)), "inside")
        .when(F.expr(" AND ".join(f"{t} >= 0" for t in terms)), "boundary")
        .otherwise("outside")
    )
    return (
        pts.select(verdict.alias("verdict"), "x", "y", "pkey")
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("x").cast("long").alias("sum_x"),
            F.sum("y").cast("long").alias("sum_y"),
            F.min("pkey").cast("long").alias("min_pkey"),
        )
    )
