"""Spatial operators: grid-bucketed nearest-neighbor join.

The reference's dashboard has a geographic axis (two map visuals over
``Dim_Store.Address`` — SURVEY.md §2C row 9) but no spatial compute; this
module supplies the engine-grade primitive behind such views: a
bounded-radius nearest-neighbor join between two point sets, bucketed on a
uniform grid so the pair space is NEVER the cross product.

Points are synthesized deterministically from the driver tables (the
testdata carries no coordinates): each customer / supplier gets an integer
(x, y) in a G×G toroid-free grid via the portable md5→hex→int recipe every
portable-permutation operator here uses (e.g. q_sample_stratified,
textops.py:383). Distances are squared-Euclidean INTEGERS, so both engines
rank candidates identically — no sqrt, no floats, no ulp drift.

Scale shape (the point of the operator): suppliers are bucketed on a FINE
grid whose cell width is chosen from the sampled supplier density (largest
power-of-two divisor ``w`` of CELL with expected points-per-fine-cell ≤
TARGET_PER_CELL — the same sampled-density principle DBSCAN's eps sizing
below documents), so candidate fan-out per probe is a CONSTANT at any
scale. Level 1 replicates each supplier into its 3×3 fine-cell
neighborhood (a bounded ×9 explode) and one equi-join on the cell ids
pairs every customer with the suppliers within fine-Chebyshev radius
``w``; any candidate with d² ≤ w² is provably the global nearest (every
supplier outside the searched cells is at coordinate distance > w).
Customers still undecided then take EXPANDING-RING passes — probe cells
out to doubling radii 2w, 4w, … CELL, exploded on the (shrinking)
customer side and equi-joined against the un-exploded fine-bucketed
suppliers — so outer rings are visited only by the sparse-region
residue, never the whole table. The round-6 sf10 sweep measured the
fixed-cell variant at ~2.4e9 candidates (1000× density packed into the
same 16×16 cells, run killed); the adaptive form holds candidates at
|C|·9·TARGET_PER_CELL regardless of density. When density is low the
width selector returns w = CELL and the plan collapses to the original
single-level shape — same join, same explode, one agg exchange. The exact
residual predicate |dx|≤CELL ∧ |dy|≤CELL makes the semantics precise:

    "nearest supplier within Chebyshev distance CELL, ties broken by the
     smaller supplier key; customers with no such supplier are absent."

This is the grid variant of the bucketed range join (temporal.py
q_join_range) lifted to two dimensions — the same plan shape DuckDB's
spatial extension and Sedona use for KNN-with-radius.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from finegourmet_spark.operators.registry import query
from finegourmet_spark.sources.testdata import load_table as t

GRID = 4096  # coordinate space is [0, GRID) on both axes
CELL = 256  # the Chebyshev search radius (and the coarsest cell width)
# Density target for the adaptive fine grid: expected suppliers per fine
# cell stays ≤ this, so per-probe candidate fan-out is constant at any SF.
TARGET_PER_CELL = 4.0
MIN_FINE_CELL = 4  # don't shrink cells below coordinate granularity ×4


def _pick_fine_cell(n_points: int) -> int:
    """Largest power-of-two divisor ``w`` of CELL (≥ MIN_FINE_CELL) whose
    expected points-per-cell ``n·w²/GRID²`` is ≤ TARGET_PER_CELL. At the
    driver SFs this returns CELL (single-level plan, the original shape);
    at sf10's 100k suppliers it returns 16 (≈1.5 suppliers/cell)."""
    w = CELL
    while w > MIN_FINE_CELL and n_points * w * w > TARGET_PER_CELL * GRID * GRID:
        w //= 2
    return w


def _coord_sql(salt: str, key: str) -> str:
    """DuckDB: deterministic coordinate in [0, GRID) from md5(salt||key).
    7 hex chars (< 2^28) keep the intermediate far inside int64."""
    return (
        f"CAST(('0x' || substring(md5('{salt}' || CAST({key} AS VARCHAR)), 1, 7))"
        f" AS BIGINT) % {GRID}"
    )


def _coord_col(salt: str, key) -> F.Column:
    """Spark twin of :func:`_coord_sql` — conv() parses the same 7 hex chars
    to the same integer, so both engines place every point identically."""
    h = F.md5(F.concat(F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 7), 16, 10).cast("long") % GRID


@query(
    "q_geo_nearest_grid",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             {_coord_sql("gx", "c_custkey")} AS cx,
             {_coord_sql("gy", "c_custkey")} AS cy
      FROM customer
    ), s AS (
      SELECT s_suppkey,
             {_coord_sql("gx", "s_suppkey")} AS sx,
             {_coord_sql("gy", "s_suppkey")} AS sy
      FROM supplier
    ), se AS (
      SELECT s.*, (sx // {CELL}) + gx.i AS bx, (sy // {CELL}) + gy.i AS by
      FROM s
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS i) gx
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS i) gy
    ), cand AS (
      SELECT c.c_custkey, se.s_suppkey,
             (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS d2
      FROM c JOIN se ON cx // {CELL} = se.bx AND cy // {CELL} = se.by
      WHERE abs(cx - sx) <= {CELL} AND abs(cy - sy) <= {CELL}
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY c_custkey
                                   ORDER BY d2, s_suppkey) AS rn
      FROM cand
    )
    SELECT c_custkey, s_suppkey, CAST(d2 AS BIGINT) AS d2
    FROM ranked WHERE rn = 1
    """,
)
def q_geo_nearest_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed nearest supplier per customer within Chebyshev radius
    {CELL} (see module docstring for the exact semantics and scale shape).

    Plan (dense regime): narrow projections → density-sized fine grid →
    supplier ×9 explode → one (bx, by) equi-join → residual filter →
    per-customer struct-min agg (map-side combined, one keyed exchange);
    undecided customers take expanding-ring passes at doubling radii.
    At the driver SFs the width selector returns CELL and the plan is the
    original single level. Nothing quadratic at any density."""
    return _nearest_grid(spark, sf_dir)


def _nearest_grid(spark, sf_dir, fine_cell=None) -> DataFrame:
    """Exact nearest-within-CELL join; ``fine_cell`` overrides the
    density-picked fine cell width (tests force the multi-level path at
    small SF with it). Correctness invariant per level: after searching
    every cell within offset R of the probe's fine cell, any supplier NOT
    searched is at coordinate Chebyshev distance > R·w, hence d² > (R·w)²
    — so a candidate with d² ≤ (R·w)² is the global (d², s_suppkey)-min
    and its customer finalizes; ties are impossible across the boundary
    because the exterior bound is strict."""
    cust = t(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord_col("gx", F.col("c_custkey")).alias("cx"),
        _coord_col("gy", F.col("c_custkey")).alias("cy"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord_col("gx", F.col("s_suppkey")).alias("sx"),
        _coord_col("gy", F.col("s_suppkey")).alias("sy"),
    )
    # One count to sample density — the same metadata-scale action class as
    # the PQ training sample (similarity.py); production would use a sketch.
    w = fine_cell if fine_cell is not None else _pick_fine_cell(supp.count())

    d2 = (
        (F.col("cx") - F.col("sx")) * (F.col("cx") - F.col("sx"))
        + (F.col("cy") - F.col("sy")) * (F.col("cy") - F.col("sy"))
    ).alias("d2")
    in_radius = (F.abs(F.col("cx") - F.col("sx")) <= CELL) & (
        F.abs(F.col("cy") - F.col("sy")) <= CELL
    )

    def best_of(cand: DataFrame) -> DataFrame:
        # (d², suppkey)-lexicographic min via struct min: partial agg
        # combines map-side, so the c_custkey exchange carries one row per
        # customer per input partition, not every candidate.
        return cand.groupBy("c_custkey").agg(
            F.min(F.struct("d2", "s_suppkey")).alias("b")
        )

    def finish(best: DataFrame) -> DataFrame:
        return best.select(
            "c_custkey",
            F.col("b.s_suppkey").alias("s_suppkey"),
            F.col("b.d2").cast("bigint").alias("d2"),
        )

    # Level 1: supplier-side ×9 explode on the fine grid (the small side
    # fans out; every probe stays a single row).
    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    se = (
        supp.withColumn("i", off)
        .withColumn("j", off)
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.expr(f"sx div {w}") + F.col("i")).alias("bx"),
            (F.expr(f"sy div {w}") + F.col("j")).alias("by"),
        )
    )
    cand = (
        cust.join(
            se,
            (F.expr(f"cx div {w}") == se["bx"])
            & (F.expr(f"cy div {w}") == se["by"]),
        )
        .filter(in_radius)
        .select("c_custkey", "s_suppkey", d2)
    )
    best = best_of(cand)
    if w == CELL:
        # The 3×3 coarse neighborhood already covers the full radius.
        return finish(best)

    final = best.filter(F.col("b.d2") <= w * w)
    out = finish(final)
    undec = cust.join(final, "c_custkey", "left_anti").localCheckpoint(eager=True)

    # Fine-bucketed suppliers, un-exploded: outer rings join against this.
    sb = supp.select(
        "s_suppkey",
        "sx",
        "sy",
        F.expr(f"sx div {w}").alias("bx"),
        F.expr(f"sy div {w}").alias("by"),
    )
    R = 2
    while True:
        r = R * w  # Chebyshev radius fully covered by offset-R cells
        ring = F.explode(F.sequence(F.lit(-R), F.lit(R)))
        probe = (
            undec.withColumn("i", ring)
            .withColumn("j", ring)
            .select(
                "c_custkey",
                "cx",
                "cy",
                (F.expr(f"cx div {w}") + F.col("i")).alias("pbx"),
                (F.expr(f"cy div {w}") + F.col("j")).alias("pby"),
            )
        )
        cand = (
            probe.join(
                sb, (F.col("pbx") == sb["bx"]) & (F.col("pby") == sb["by"])
            )
            .filter(in_radius)
            .select("c_custkey", "s_suppkey", d2)
        )
        best = best_of(cand)
        if r >= CELL:
            # Offset CELL/w covers the whole radius: everyone with a
            # candidate (post residual filter) finalizes; the rest have no
            # supplier within CELL and are absent by contract.
            return out.unionByName(finish(best))
        final = best.filter(F.col("b.d2") <= r * r)
        out = out.unionByName(finish(final))
        undec = undec.join(final, "c_custkey", "left_anti").localCheckpoint(
            eager=True
        )
        R *= 2


# ---------------------------------------------------------------------------
# Round-4 wave 30: deterministic grid DBSCAN
# ---------------------------------------------------------------------------

from finegourmet_spark.operators.dedup import (  # noqa: E402
    min_label_components,
    unrolled_min_label_sql,
)

# Euclidean radius; EPS <= CELL so the 3x3 cell cover is exact. Chosen
# SUBCRITICAL for the testdata densities (mean eps-degree ~1.8 at sf0.01):
# continuum percolation says a supercritical eps (mean degree >> 4.5) fuses
# everything into one giant cluster whose diameter exceeds CC_MAX_ROUNDS —
# DBSCAN with such an eps is semantically meaningless anyway, and
# min_label_components fails LOUD on it.
DBSCAN_EPS = 80
DBSCAN_EPS2 = DBSCAN_EPS * DBSCAN_EPS
DBSCAN_MINPTS = 4  # neighborhood size INCLUDING the point itself
# Fixed key window: DBSCAN's eps only means something relative to point
# density, so the audited point cloud is capped to a CONSTANT population
# (c_custkey ≤ cap) — at sf0.01 the cap is not binding, at sf≥0.1 it pins
# the density (and hence the subcritical regime above) instead of letting
# it grow 100× and fuse the plane. A production run picks eps from a
# sampled k-distance curve per dataset; a fixed (eps, window) pair is the
# testable equivalent.
DBSCAN_KEY_CAP = 2000
# Hot-cell guard for the stencil neighbor join (r10 handoff item): THIS
# fixture's md5-uniform points never skew a grid cell, but real geo data
# is city-skewed — one downtown cell with c points puts ~9c² candidate
# rows through a single task. The 3×3 join therefore rides
# cellpairs.bounded_bipartite_cell_join, whose adaptive probe keeps the
# plain join until some cell exceeds this cap and then grid-blocks the
# hot cells so worst-task work is ~cap² (exact — blocks partition the
# pair space, nothing is sampled). Same sizing rationale as
# similarity.EMB_CELL_CAP: a 100 TB worst-cell replication bound, not a
# local-throughput tune.
DBSCAN_CELL_CAP = 4096

# Shared CTE text: points, eps-neighbor pairs via the 3x3 grid join, core
# set, and core-core edges — used at the oracle top level (for the
# border/noise assembly) AND inside the unrolled-CC subquery's prelude.
_DBSCAN_CTES = f"""pts AS (
      SELECT c_custkey AS id,
             {_coord_sql("gx", "c_custkey")} AS x,
             {_coord_sql("gy", "c_custkey")} AS y
      FROM customer WHERE c_custkey <= {DBSCAN_KEY_CAP}
    ), pe AS (
      SELECT p.*, (x // {CELL}) + gx.i AS bx, (y // {CELL}) + gy.i AS by
      FROM pts p
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS i) gx
      CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS i) gy
    ), nbr AS (
      SELECT a.id AS ida, pe.id AS idb
      FROM pts a JOIN pe ON a.x // {CELL} = pe.bx AND a.y // {CELL} = pe.by
      WHERE a.id <> pe.id
        AND (a.x - pe.x) * (a.x - pe.x) + (a.y - pe.y) * (a.y - pe.y)
            <= {DBSCAN_EPS2}
    ), core AS (
      SELECT ida AS id FROM nbr GROUP BY ida
      HAVING count(*) + 1 >= {DBSCAN_MINPTS}
    ), pairs AS (
      SELECT n.ida AS da, n.idb AS db
      FROM nbr n JOIN core ca ON n.ida = ca.id JOIN core cb ON n.idb = cb.id
      WHERE n.ida < n.idb
    )"""

_DBSCAN_CC_SQL = unrolled_min_label_sql(
    _DBSCAN_CTES, "SELECT id AS node FROM core", "id"
)


@query(
    "q_geo_dbscan",
    oracle=f"""
    WITH {_DBSCAN_CTES},
    cc AS (
      SELECT id, cluster_id FROM ({_DBSCAN_CC_SQL})
    ),
    border AS (
      SELECT n.ida AS id, MIN(cc.cluster_id) AS cluster_id
      FROM nbr n JOIN cc ON n.idb = cc.id
      WHERE n.ida NOT IN (SELECT id FROM core)
      GROUP BY n.ida
    )
    SELECT p.id AS c_custkey,
           CASE WHEN cc.id IS NOT NULL THEN 'core'
                WHEN b.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(cc.cluster_id, b.cluster_id) AS BIGINT) AS cluster
    FROM pts p
    LEFT JOIN cc ON cc.id = p.id
    LEFT JOIN border b ON b.id = p.id
    """,
)
def q_geo_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DBSCAN over the customer point cloud: core points
    have ≥ {DBSCAN_MINPTS} points (self included) within Euclidean radius
    {DBSCAN_EPS}; clusters are connected components of the core-core
    eps-graph (labels = component min core id — the shared
    ``min_label_components`` machinery); border points attach to the
    SMALLEST cluster label among their core neighbors (textbook DBSCAN
    leaves border assignment scan-order-dependent — the min rule makes it
    a well-defined function of the data, hence oracle-checkable);
    everything else is noise.

    All distance arithmetic is squared-integer (no sqrt), the pair space
    is grid-bounded (3×3 cell equi-join, never |P|², EPS ≤ CELL makes the
    cover exact), and the CC loop is the same localCheckpoint min-label
    propagation every cluster-resolution op here uses — at 100 TB this is
    exactly how you'd DBSCAN a planet of points: grid-partition, local
    neighbor counts, distributed CC on the (much smaller) core graph.
    The stencil join itself rides the shared hot-cell guard
    (cellpairs.bounded_bipartite_cell_join, see {DBSCAN_CELL_CAP}'s
    comment): city-skewed densities grid-block the hot cells so no task
    sees more than ~cap² candidates, with the pair set unchanged.

    Oracle: identical grid join + the unrolled min-label rounds."""
    pts = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= DBSCAN_KEY_CAP)
        .select(
            F.col("c_custkey").alias("id"),
            _coord_col("gx", F.col("c_custkey")).alias("x"),
            _coord_col("gy", F.col("c_custkey")).alias("y"),
        )
    )
    from finegourmet_spark.operators.cellpairs import (
        bounded_bipartite_cell_join,
    )

    off = F.explode(F.sequence(F.lit(-1), F.lit(1)))
    pa = pts.select(
        "id",
        "x",
        "y",
        F.expr(f"x div {CELL}").alias("gcx"),
        F.expr(f"y div {CELL}").alias("gcy"),
    )
    pb = (
        pts.withColumn("i", off)
        .withColumn("j", off)
        .select(
            "id",
            "x",
            "y",
            (F.expr(f"x div {CELL}") + F.col("i")).alias("gcx"),
            (F.expr(f"y div {CELL}") + F.col("j")).alias("gcy"),
        )
    )
    d2 = (F.col("a_x") - F.col("b_x")) * (F.col("a_x") - F.col("b_x")) + (
        F.col("a_y") - F.col("b_y")
    ) * (F.col("a_y") - F.col("b_y"))
    nbr = (
        bounded_bipartite_cell_join(
            pa, pb, ("gcx", "gcy"), "id", "id", DBSCAN_CELL_CAP
        )
        .filter((F.col("a_id") != F.col("b_id")) & (d2 <= DBSCAN_EPS2))
        .select(F.col("a_id").alias("ida"), F.col("b_id").alias("idb"))
        .localCheckpoint(eager=True)  # consumed by core, pairs, and border
    )
    core = (
        nbr.groupBy("ida")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") + 1 >= DBSCAN_MINPTS)
        .select(F.col("ida").alias("id"))
    )
    ca = core.select(F.col("id").alias("ca_id"))
    cb = core.select(F.col("id").alias("cb_id"))
    pairs = (
        nbr.join(ca, nbr["ida"] == ca["ca_id"])
        .join(cb, nbr["idb"] == cb["cb_id"])
        .filter(F.col("ida") < F.col("idb"))
        .select(F.col("ida").alias("doc_a"), F.col("idb").alias("doc_b"))
    )
    cc = min_label_components(pairs, core, "id").select(
        F.col("id").alias("cc_id"), "cluster_id"
    )
    border = (
        nbr.join(cc, nbr["idb"] == cc["cc_id"])
        .join(core.select(F.col("id").alias("c2")), nbr["ida"] == F.col("c2"), "left_anti")
        .groupBy(F.col("ida").alias("b_id"))
        .agg(F.min("cluster_id").alias("b_cluster"))
    )
    return (
        pts.join(cc, pts["id"] == cc["cc_id"], "left")
        .join(border, pts["id"] == border["b_id"], "left")
        .select(
            F.col("id").alias("c_custkey"),
            F.when(F.col("cc_id").isNotNull(), "core")
            .when(F.col("b_id").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("cluster_id"), F.col("b_cluster"))
            .cast("bigint")
            .alias("cluster"),
        )
    )
