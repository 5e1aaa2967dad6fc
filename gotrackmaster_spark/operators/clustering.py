"""Density-based spatial clustering (DBSCAN) as a cell-partitioned
DataFrame pipeline — the classic "find hotspots / segment a point cloud"
operator of a geospatial engine, built the way it has to be built at
100 TB: a grid equi-join for neighbor candidates (never an all-pairs
cross join), map-side aggregable neighbor counts, and connected
components over a CELL-CONTRACTED core graph (not the point graph).

Algorithm (deterministic variant of DBSCAN; Ester et al. 1996):

1. Assign each point to a CONTRACTION cell of size ``g = eps/√2`` —
   ``(floor(x/g), floor(y/g))``.  The diagonal of such a cell is
   exactly ``eps``, so any two points in the SAME contraction cell are
   always within ``eps`` (the cell is a clique of the eps-graph);
   separately, an eps-sized grid keys the candidate join, where any
   two points within ``eps`` are at most 1 cell apart, so
2. neighbor candidates are generated on a COARSER eps-sized grid by
   exploding one side ×9 (the 3×3 cell neighborhood) and equi-joining
   on the cell key — the same inverted-grid topology as the kNN/radius
   joins in ``operators/spatial.py``; work is O(points × local
   density), never O(n²).  The pair table is persisted: it feeds the
   core count, the cell-edge projection, and the border assignment,
   and recomputing the candidate join three times would triple the
   dominant cost.
3. Core points: ``|N_eps(p)| >= min_pts`` (count INCLUDES p itself,
   per the original definition).
4. Clusters = connected components of the core graph, contracted to
   CELLS: same-cell cores are already mutually connected (clique, by
   the g = eps/√2 choice), so only distinct (cell_a, cell_b) edges
   from cross-cell core-core neighbor pairs enter the iterative
   min-label propagation (``operators/graph.py``).  The contraction
   is exact and shrinks the iterated graph by the per-cell density
   factor — at city-hotspot densities that is 10-100×, and each
   round's shuffle moves cell ids, not points.  The cluster label is
   then the minimum CORE POINT id per cell-component (computed with
   one agg + join), which keeps the output identical to point-level
   propagation and oracle-checkable.
5. Border points (non-core with >=1 core neighbor) join the
   MINIMUM-labeled cluster among their core neighbors — the one
   deterministic choice where textbook DBSCAN is order-dependent.
6. Everything else is noise (``cluster = -1``).

Scale notes: every join/agg above is a single-shuffle codegen stage on
an integer key; AQE's skew-join split handles pathological hot cells
(dense downtown vs empty ocean).  Step 4's round count is the core
CELL graph's hop-diameter ≈ cluster_extent/(eps/√2) — bounded for
physical hotspots; ``connected_components`` raises (or warns) rather
than returning wrong labels if ``max_iter`` is exceeded, and takes a
``checkpoint_dir`` for executor-loss-tolerant 1000-node runs.

The metric is PLANAR squared distance on the raw (x, y) columns —
callers at geographic scale should pass projected coordinates or
equirectangular-scaled lon (the driver query clusters a ~4°-wide
synthetic region where the planar approximation is the contract).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gotrackmaster_spark.caching import make_bounded_cache
from gotrackmaster_spark.operators.graph import connected_components
from gotrackmaster_spark.session import local_frame

# pair-table cache slot with bounded lifetime (policy: caching.py)
_bound_nbr_cache = make_bounded_cache()


def dbscan(
    pts: DataFrame,
    eps: float,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "lon",
    y_col: str = "lat",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster ``pts`` with DBSCAN(eps, min_pts) on planar (x, y).

    Returns one row per input point: ``(id_col, cluster: long,
    role: string)`` where ``cluster`` is the minimum core-point id of
    the cluster (``-1`` for noise) and ``role`` ∈ {'core', 'border',
    'noise'}.
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")

    g = eps / math.sqrt(2.0)  # contraction-cell diagonal == eps -> clique
    p = pts.select(
        F.col(id_col).cast("long").alias("pid"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
    )
    # Bijective int64 contraction-cell id (g-grid) from the two
    # 32-bit-bounded grid indices; candidates use the coarser eps-grid
    # (3×3 neighborhood = 9·eps² candidate area vs the g-grid's
    # 5×5 = 12.5·eps² — ~1.4× fewer candidate pairs).
    cell_id = F.shiftleft(F.floor(F.col("x") / F.lit(g)), 32).bitwiseOR(
        F.floor(F.col("y") / F.lit(g)).bitwiseAND(F.lit(0xFFFFFFFF))
    )
    cells = (
        p.withColumn("cx", F.floor(F.col("x") / F.lit(eps)))
        .withColumn("cy", F.floor(F.col("y") / F.lit(eps)))
        .withColumn("cell", cell_id)
    )

    # 3×3 eps-grid neighborhood explode on the PROBE side only; the
    # build side keeps one row per point, so the join is |pts|×9 ⋈ |pts|
    # on an integer key — the standard inverted-grid candidate topology.
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        cells.withColumn("o", F.explode(offs))
        .select(
            F.col("pid").alias("a_id"),
            F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            F.col("cell").alias("a_cell"),
            (F.col("cx") + F.col("o.dx")).alias("jx"),
            (F.col("cy") + F.col("o.dy")).alias("jy"),
        )
    )
    build = cells.select(
        F.col("pid").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cell").alias("b_cell"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("ax") - F.col("bx")) ** 2 + (F.col("ay") - F.col("by")) ** 2
    # Directed neighbor pairs (both directions present by symmetry of
    # the explode), self-pair excluded; <= eps² keeps the boundary
    # closed exactly as the SQL oracle writes it.  Persisted: reused by
    # the core count, the cell-edge projection, and border assignment.
    nbrs = _bound_nbr_cache(
        probe.join(build, ["jx", "jy"])
        .filter((F.col("a_id") != F.col("b_id")) & (d2 <= F.lit(eps) * F.lit(eps)))
        .select("a_id", "b_id", "a_cell", "b_cell")
    )

    # |N_eps(p)| includes p itself -> core iff neighbor_count + 1 >= min_pts.
    # Isolated points have NO nbrs row, so the count base must be ALL
    # points (left join, count 0), or min_pts=1 would mislabel every
    # isolated point as noise instead of a singleton core cluster.
    counts = nbrs.groupBy("a_id", "a_cell").agg(F.count("*").alias("n_nbrs"))
    all_pts = cells.select(F.col("pid").alias("a_id"), F.col("cell").alias("a_cell"))
    counted = all_pts.join(counts, ["a_id", "a_cell"], "left").select(
        "a_id", "a_cell", F.coalesce(F.col("n_nbrs"), F.lit(0)).alias("n_nbrs")
    )
    core = counted.filter(F.col("n_nbrs") + 1 >= min_pts).select(
        F.col("a_id").alias("pid"), F.col("a_cell").alias("cell")
    )

    # Cell-contracted core graph: same-cell cores are a clique by
    # construction, so only cross-cell core-core neighbor pairs
    # contribute (distinct cell-id) edges to the iterated components.
    core_ids = core.select("pid")
    cc = (
        nbrs.join(core_ids.withColumnRenamed("pid", "a_id"), "a_id")
        .join(core_ids.withColumnRenamed("pid", "b_id"), "b_id")
    )
    cell_edges = (
        cc.filter(F.col("a_cell") != F.col("b_cell"))
        .select("a_cell", "b_cell")
        .distinct()
    )
    cell_labels = connected_components(
        cell_edges,
        "a_cell",
        "b_cell",
        max_iter=max_iter,
        checkpoint_dir=checkpoint_dir,
        on_nonconverged="raise",
    )  # (v=cell, l=min cell id of component)
    core_comp = (
        core.join(cell_labels, core["cell"] == cell_labels["v"], "left")
        .select("pid", F.coalesce(F.col("l"), F.col("cell")).alias("comp"))
    )
    # Cluster label = min core POINT id per component — identical to
    # point-level label propagation, so the oracle contract holds.
    comp_min = core_comp.groupBy("comp").agg(F.min("pid").alias("cluster"))
    core_labels = core_comp.join(comp_min, "comp").select("pid", "cluster")

    # Border points: non-core with >=1 core neighbor -> the minimum
    # cluster label among core neighbors (deterministic tie-break).
    border = (
        nbrs.select("a_id", "b_id")
        .join(core_labels.withColumnRenamed("pid", "b_id"), "b_id")
        .join(core_ids.withColumnRenamed("pid", "a_id"), "a_id", "left_anti")
        .groupBy("a_id")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("a_id").alias("pid"), "cluster")
    )

    out = (
        p.select("pid")
        .join(core_labels.withColumn("role", F.lit("core")), "pid", "left")
        .join(
            border.withColumnRenamed("cluster", "b_cluster"), "pid", "left"
        )
        .select(
            F.col("pid").alias(id_col),
            F.coalesce(F.col("cluster"), F.col("b_cluster"), F.lit(-1)).alias(
                "cluster"
            ),
            F.coalesce(
                F.col("role"),
                F.when(F.col("b_cluster").isNotNull(), F.lit("border")).otherwise(
                    F.lit("noise")
                ),
            ).alias("role"),
        )
    )
    return out


def kmeans_quantized(
    points: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Deterministic fixed-round Lloyd k-means over integer-quantized
    2-D coordinates — the centroid-clustering companion to
    :func:`dbscan` (and the training step behind IVF-style partitioned
    ANN indexes).

    Float k-means is not reproducible across engines (accumulation
    order in the mean, ties in the argmin); this variant is EXACT:

    - seeds = the ``k`` lowest-``id_col`` points (cid = 0..k-1 in that
      order) — no RNG;
    - assignment = argmin of exact int64 d² with ties to the lowest
      centroid id (a lexicographic struct-min over the centroid array,
      evaluated inside codegen — no join for the assignment);
    - update = component-wise INTEGER mean ``Σx DIV n`` (truncated
      division, exact); an empty cluster keeps its previous centroid.

    With a fixed round count the whole run replays as unrolled SQL
    CTEs — see ``q_kmeans_clusters``'s oracle.

    Plan at scale: centroids are k rows — they live on the DRIVER
    between rounds (an O(k) collect per round, the ``ivf_centroids``
    contract) and enter the assignment as a broadcast-free LITERAL
    array expression, so each round is ONE codegen map + ONE hash
    aggregate over the points; no shuffle of the points at all.

    Output: one row per non-empty final cluster —
    ``(cid, n_points, cx, cy)`` with the FINAL assignment counts and
    the centroids that produced them.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if n_rounds < 0:
        raise ValueError(f"n_rounds must be >= 0, got {n_rounds}")
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    seed_rows = pts.orderBy("id").limit(k).collect()
    cents = [(i, int(r.x), int(r.y)) for i, r in enumerate(seed_rows)]
    if not cents:
        # Degenerate input: no points => no seeds => no clusters.  Return
        # a typed empty result (a zero-element array() literal would be
        # NULL-typed and break array_min at analysis time — the
        # embedding_ivf_topk lesson from the degenerate-input sweep).
        return pts.select(
            F.lit(0).alias("cid"), F.lit(0).cast("long").alias("n_points"),
            F.col("x").alias("cx"), F.col("y").alias("cy"),
        ).filter(F.lit(False))

    def assign_col(cs):
        arr = F.array(*[
            F.struct(
                (
                    (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
                    + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy))
                ).alias("d2"),
                F.lit(cid).alias("cid"),
            )
            for cid, cx, cy in cs
        ])
        return F.array_min(arr)["cid"]

    for _ in range(n_rounds):
        assigned = pts.withColumn("cid", assign_col(cents))
        upd = {
            r.cid: (int(r.sx) // int(r.n), int(r.sy) // int(r.n))
            for r in assigned.groupBy("cid")
            .agg(F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                 F.count("*").alias("n"))
            .collect()
        }
        cents = [
            (cid, *upd[cid]) if cid in upd else (cid, cx, cy)
            for cid, cx, cy in cents
        ]
    final = pts.withColumn("cid", assign_col(cents))
    counts = final.groupBy("cid").agg(F.count("*").alias("n_points"))
    cent_df = local_frame(points.sparkSession, cents, "cid int, cx long, cy long")
    return counts.join(cent_df, "cid").select("cid", "n_points", "cx", "cy")
