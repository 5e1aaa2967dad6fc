"""Layer-E spatial operators: PIP join (E2), kNN (E3), raster↔vector (E4),
and the duplicate-track band self-join (J1 at engine scale).

Design notes (SURVEY.md §2.10, §4.2):

* All joins are **cell-bucketed equi-joins** on the hierarchical Z-order cell
  IDs from ``functions.cells`` — candidate generation is a broadcast or
  shuffle join on ``cell``; exact geometry refinement happens after, on
  the (much smaller) candidate set — a Catalyst ray cast for PIP, vectorized
  numpy for the rest.
* One covering (`polygon_covering`) and one kNN (`knn_join`) serve both
  lattices: their ``grid`` argument (``"z"`` or ``"hex"``) picks a grid
  object in `_grid` — ``functions.cells.ZGrid`` or ``functions.hex.HexGrid``
  — which carries everything lattice-specific (cell ids, k-rings, the
  candidate cells of a bbox with their full-cell probes, the kNN ring
  guarantee and its clamp).  The operators never branch on the grid.
* The covering / k-ring sides are *small* relative to the points side
  (polygon layers, query sets, per-track summaries), so they are
  ``broadcast()`` explicitly; the points side is never shuffled for these
  joins — at 100 TB this is the difference between a map-side join and a
  full-table exchange.
* Skew: a hot cell (urban-core in real data) fans out on the broadcast side
  only; AQE skew-join handles residual shuffle skew. ``salt_hot_cells`` in
  ``operators.skew`` provides explicit salting when the big side must
  shuffle.

Reference parity: the duplicate predicates mirror
``/root/reference/cmd/duplicate.go:58-64`` (checkTime band ±seconds,
checkPosition band = Haversine < meters); PIP refinement reuses the
orientation/ray-cast float arithmetic style of
``/root/reference/trackmaster/distance.go:293-309``.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

from gotrackmaster_spark.caching import make_bounded_cache
from gotrackmaster_spark.functions.cells import ZGrid, cell_col, cell_np, k_ring_np
from gotrackmaster_spark.functions.geodesy import (
    EARTH_RADIUS,
    haversine_col,
    haversine_np,
)
from gotrackmaster_spark.functions.geometry import ray_cast_col
from gotrackmaster_spark.functions.hex import HexGrid
from gotrackmaster_spark.session import local_frame


# --------------------------------------------------------------- E2: PIP ---

_GRIDS = {"z": ZGrid, "hex": HexGrid}


def _grid(name: str, level: int):
    """The lattice of a cell-bucketed join: ``"z"`` is the Z-order grid at
    ``level``, ``"hex"`` the hex grid at resolution ``level``."""
    if name not in _GRIDS:
        raise ValueError(f"grid must be 'z' or 'hex', got {name!r}")
    return _GRIDS[name](level)


def polygon_covering(polygons: DataFrame, level: int, grid: str = "z") -> DataFrame:
    """Explode each polygon into its packed cell covering at ``level`` of
    ``grid`` (`_grid`): one row per cell meeting the polygon's bbox,
    classified ``full`` (cell entirely inside the polygon → join accepts
    immediately, no refine) or boundary (ray-cast refine required).

    Input: ``polygons(poly_id, ring: array<struct<lat,lon>>)``.
    Output: ``(cell: long, poly_id, full: boolean, ring)``.

    ``full`` classification is conservative: a cell is full iff all of its
    probes are inside (the 4 corners of a Z cell; the center and 6 corners
    of a hex) AND no ring edge's bbox overlaps the cell's bbox (a vertex
    inside the cell or an edge crossing it always overlaps) — false
    negatives only cost a refine pass.
    """
    g = _grid(grid, level)

    def gen(batches):
        for pdf in batches:
            out = {"cell": [], "poly_id": [], "full": [], "ring": []}
            for pid, ring in zip(pdf["poly_id"], pdf["ring"]):
                rl = np.array([p["lat"] for p in ring])
                rx = np.array([p["lon"] for p in ring])
                cells, (lat_lo, lat_hi, lon_lo, lon_hi), probes = g.bbox_cells(
                    rl.min(), rl.max(), rx.min(), rx.max()
                )
                corners_in = np.ones(len(cells), dtype=bool)
                for la, lo in probes:
                    corners_in &= _ray_cast_np(la, lo, rl, rx)
                e_lat_lo = np.minimum(rl, np.roll(rl, 1))
                e_lat_hi = np.maximum(rl, np.roll(rl, 1))
                e_lon_lo = np.minimum(rx, np.roll(rx, 1))
                e_lon_hi = np.maximum(rx, np.roll(rx, 1))
                overlap = (
                    (e_lat_lo[None, :] <= lat_hi[:, None])
                    & (e_lat_hi[None, :] >= lat_lo[:, None])
                    & (e_lon_lo[None, :] <= lon_hi[:, None])
                    & (e_lon_hi[None, :] >= lon_lo[:, None])
                ).any(axis=1)
                full = corners_in & ~overlap
                out["cell"].extend(cells.tolist())
                out["poly_id"].extend([pid] * len(cells))
                out["full"].extend(full.tolist())
                out["ring"].extend([ring] * len(cells))
            yield pd.DataFrame(out)

    schema = (
        "cell long, poly_id string, full boolean, "
        "ring array<struct<lat:double,lon:double>>"
    )
    return polygons.mapInPandas(gen, schema)


def _ray_cast_np(lat: np.ndarray, lon: np.ndarray, ring_lats, ring_lons) -> np.ndarray:
    """Even-odd ray casting (ray toward +lon).  Vectorized over points for
    ONE ring.  Half-open edge rule ``(lat_i > y) != (lat_j > y)`` — the same
    comparator family as the reference's orientation tests
    (distance.go:293-309): strict >, exact float64 arithmetic.  The
    covering's corner test; ``functions.geometry.ray_cast_col`` is its
    bit-identical Catalyst twin for the joins.
    """
    inside = np.zeros(len(lat), dtype=bool)
    n = len(ring_lats)
    j = n - 1
    for i in range(n):
        yi, xi = ring_lats[i], ring_lons[i]
        yj, xj = ring_lats[j], ring_lons[j]
        cond = (yi > lat) != (yj > lat)
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            x_int = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= cond & (lon < x_int)
        j = i
    return inside


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    level: int = 7,
    point_cols: tuple[str, str] = ("lat", "lon"),
    broadcast_covering: bool = True,
    grid: str = "z",
) -> DataFrame:
    """E2 — every (point, polygon) pair where the point is inside.

    points must carry a unique id column set + lat/lon.  Plan shape:

        scan(points) → project(cell) ──────────────────┐
                                                       ├─ broadcast hash join on cell,
        polygons → covering(cells) → ring lat band ────┘   filter: full OR
                                                           (lat band AND ray cast)

    No shuffle of the points side; covering is broadcast once.  Points in
    full cells pass as they are; boundary candidates are ray-cast by
    ``functions.geometry.ray_cast_col`` in the same JVM filter, so the
    covering is the plan's only Python stage.

    ``broadcast_covering=False`` is the big-big path: when the polygon
    layer's covering does not fit an executor (continent-scale admin
    layers at fine levels), both sides shuffle-hash-join on ``cell``
    instead — one exchange of each side, co-partitioned on the same
    spatially-local key, so AQE's skew split can cut hot cells.  Results
    are identical; only the exchange strategy changes.

    ``grid="hex"`` runs the identical plan on the hexagonal lattice
    (``level`` = hex resolution) — results are grid-independent (pinned
    in tests).
    """
    g = _grid(grid, level)
    lat_c, lon_c = point_cols
    cov = _with_ring_lat_band(polygon_covering(polygons, level, grid))
    pts = points.withColumn("cell", g.cell_col(F.col(lat_c), F.col(lon_c)))
    if broadcast_covering:
        cand = pts.join(F.broadcast(cov), "cell", "inner")
    else:
        cand = pts.join(cov.hint("shuffle_hash"), "cell", "inner")
    # packed covering: points in FULL cells are inside by construction;
    # boundary-cell candidates are ray-cast in the same JVM filter
    inside = F.col("full") | _boundary_hit(
        F.col("ring"), F.col("ring_lat_min"), F.col("ring_lat_max"),
        F.col(lat_c), F.col(lon_c),
    )
    return cand.filter(inside).drop(
        "cell", "full", "ring", "ring_lat_min", "ring_lat_max"
    )


def _with_ring_lat_band(cov: DataFrame) -> DataFrame:
    """Attach the ring's latitude extent ``ring_lat_min``/``ring_lat_max``
    to each covering row, on the covering side of the join."""
    return cov.withColumn("ring_lat_min", F.array_min("ring.lat")).withColumn(
        "ring_lat_max", F.array_max("ring.lat")
    )


def _boundary_hit(
    ring: Column, lat_min: Column, lat_max: Column, lat: Column, lon: Column
) -> Column:
    """Ray-cast refine of a boundary candidate, behind its lat band.  The
    band is exact, not a heuristic: a crossing edge needs one vertex at or
    below ``lat`` and one above, so an odd crossing count implies
    ``lat_min <= lat < lat_max`` — rows outside it skip the fold."""
    return (lat >= lat_min) & (lat < lat_max) & ray_cast_col(ring, lat, lon)


def point_in_polygon_join_holes(
    points: DataFrame,
    polygons: DataFrame,
    level: int = 7,
    point_cols: tuple[str, str] = ("lat", "lon"),
    id_cols: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """E2 with HOLES — PIP over standard (OGC-valid) polygons carrying
    ``rings: array<array<struct<lat,lon>>>``: ring 0 the outer shell,
    the rest disjoint interior holes.  A point is inside iff it is in
    the shell and in NO hole (even-odd for valid polygons — nested
    hole-in-hole islands are out of contract).

    Built by COMPOSITION of the existing packed-covering machinery:

      hits(shell)  LEFT ANTI JOIN  hits(any hole)  ON (id, poly_id)

    both legs are :func:`point_in_polygon_join` (one covering broadcast +
    one JVM ray-cast filter each, so the two coverings are the only
    Python stages; the points side is never shuffled pre-join).  The anti
    join co-partitions the two HIT sets on (id, poly_id) — the
    already-PIP-filtered rows, not the raw points; hole hits are
    additionally collapsed to distinct (id, poly_id) first, so a point
    in several holes costs one row.

    Output: the shell-hit rows (original point columns + poly_id) whose
    point lies in no hole of that polygon.
    """
    outer = polygons.select("poly_id", F.col("rings").getItem(0).alias("ring"))
    holes = polygons.select(
        "poly_id",
        F.explode(F.expr("slice(rings, 2, greatest(size(rings) - 1, 0))")).alias(
            "ring"
        ),
    )
    in_outer = point_in_polygon_join(points, outer, level, point_cols)
    in_holes = (
        point_in_polygon_join(points, holes, level, point_cols)
        .select(*id_cols, "poly_id")
        .distinct()
    )
    return in_outer.join(in_holes, [*id_cols, "poly_id"], "left_anti")


def areal_disaggregate(
    polygons: DataFrame, level: int, value_col: str = "value"
) -> DataFrame:
    """Areal disaggregation (dasymetric allocation) — split each
    polygon's INTEGER value exactly over the grid cells whose centers
    fall inside it, then sum per cell across polygons: the standard
    population-to-raster downscaling, with NO float proration:

      share(cell) = value DIV n_cells  (+1 for the value MOD n_cells
      lowest cell ids — deterministic remainder placement)

    so Σ shares == value exactly for every polygon with ≥ 1 inside
    cell (conservation law; zero-cell polygons contribute nothing —
    pick ``level`` fine enough for the smallest polygon).

    Plan at scale: the covering (``polygon_covering``) and the
    center-inside refine run on the POLYGON-COVERING table (tiny next
    to any point table); full cells skip Python, boundary cells
    ray-cast their centers in one Arrow pass; the share arithmetic is
    a window + two broadcast joins on the same covering-scale table.
    Input: ``polygons(poly_id, ring, value)`` with integer values.
    Output: ``(cell, n_polys, total)``.
    """
    from pyspark.sql import Window

    from gotrackmaster_spark.functions.cells import cell_to_ij_np

    cov = polygon_covering(polygons.select("poly_id", "ring"), level)
    n_grid = 1 << level

    def refine(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            i, j, _ = cell_to_ij_np(pdf["cell"].to_numpy())
            clat = -90.0 + 180.0 * (j + 0.5) / n_grid
            clon = -180.0 + 360.0 * (i + 0.5) / n_grid
            keep = pdf["full"].to_numpy().copy()
            for pid, idx in pdf.groupby("poly_id", sort=False).indices.items():
                bidx = idx[~keep[idx]]
                if len(bidx) == 0:
                    continue
                ring = pdf["ring"].iloc[bidx[0]]
                rl = np.array([p["lat"] for p in ring])
                rx = np.array([p["lon"] for p in ring])
                keep[bidx] = _ray_cast_np(clat[bidx], clon[bidx], rl, rx)
            out = pdf.loc[keep, ["cell", "poly_id"]]
            if len(out):
                yield out

    inside = cov.mapInPandas(refine, "cell long, poly_id string")
    counted = inside.groupBy("poly_id").agg(F.count("*").alias("__n"))
    vals = polygons.select("poly_id", F.col(value_col).cast("long").alias("__v"))
    w = Window.partitionBy("poly_id").orderBy("cell")
    shares = (
        inside.join(F.broadcast(counted), "poly_id")
        .join(F.broadcast(vals), "poly_id")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "share",
            F.expr("__v DIV __n")
            + (F.col("__rn") <= F.expr("__v % __n")).cast("long"),
        )
    )
    return shares.groupBy("cell").agg(
        F.count("*").alias("n_polys"), F.sum("share").alias("total")
    )


def point_in_polygon_anti(
    points: DataFrame,
    polygons: DataFrame,
    level: int = 7,
    point_cols: tuple[str, str] = ("lat", "lon"),
) -> DataFrame:
    """Spatial ANTI join — the points inside NO polygon (coverage gaps).

    Complement of :func:`point_in_polygon_join` with the SAME inclusion
    semantics (packed covering + ray-cast refine), but a different scale
    shape: a naive anti = points ⟕ hits needs a shuffle of the whole
    points side on the point id.  Instead the packed covering is first
    collapsed to AT MOST ONE row per cell —
    ``(cell, any_full, boundary rings + their lat bands)`` — so the
    broadcast left-outer join can never expand the points side, and the
    verdict is one row-local JVM filter:

      - no covering row for the cell       → uncovered
      - some polygon fully covers the cell → covered
      - boundary rings only                → covered iff ``exists`` a ring
                                             whose lat band holds the point
                                             and whose ray cast hits

    Zero exchanges of the points side; the only shuffle is the tiny
    per-cell covering roll-up (O(covering cells), broadcast once after).

    Output: the uncovered input point rows, original columns.
    """
    lat_c, lon_c = point_cols
    cov = _with_ring_lat_band(polygon_covering(polygons, level))
    cov_cells = cov.groupBy("cell").agg(
        F.max(F.col("full").cast("int")).alias("any_full"),
        F.collect_list(
            F.when(~F.col("full"), F.struct("ring", "ring_lat_min", "ring_lat_max"))
        ).alias("rings"),
    )
    pts = points.withColumn(
        "cell", cell_col(F.col(lat_c), F.col(lon_c), level)
    )
    joined = pts.join(F.broadcast(cov_cells), "cell", "left_outer")
    lat, lon = F.col(lat_c), F.col(lon_c)
    covered = (F.col("any_full") == 1) | F.exists(
        "rings",
        lambda r: _boundary_hit(r["ring"], r["ring_lat_min"], r["ring_lat_max"], lat, lon),
    )
    return joined.filter(F.col("any_full").isNull() | ~covered).select(*points.columns)


# --------------------------------------------------------------- E3: kNN ---

# cache slots with bounded lifetime (policy: caching.py)
_bound_knn_cache = make_bounded_cache()  # previous call's persisted top-k
_bound_dup_cache = make_bounded_cache()  # previous duplicate call's summaries


def knn_join(
    queries: DataFrame,
    data: DataFrame,
    k: int,
    level: int = 6,
    ring: int = 1,
    query_id: str = "query_id",
    data_id: str = "data_id",
    round_decimals: int = 3,
    exclude_self: bool = False,
    n_data: int | None = None,
    broadcast_queries: bool = True,
    grid: str = "z",
) -> DataFrame:
    """E3 — exact k nearest neighbours of each query point, on the Z-order
    (``grid="z"``, cells at ``level``) or hex (``grid="hex"``, resolution
    ``level``) lattice (`_grid`).

    Two-phase: (1) k-ring candidate pass — each query explodes to its
    ADAPTIVE ring (the smallest in [ring, 8] whose grid ``guarantee``
    covers the expected k-NN radius of the global density), equi-joined
    to data on cell, refined with exact Haversine, per-query top-k;
    (2) exact fallback — any query whose ring produced < k candidates or
    whose k-th distance exceeds the ring's clamped guarantee (no point
    outside the ring is nearer) is re-run as a brute force against the
    full data set.  Results are exact for any grid/level/ring; sizing
    them to the density just empties phase 2.

    The candidate join broadcasts the (small) exploded query side; the
    data side never shuffles.  ``broadcast_queries=False``, for ring sets
    too large for one executor, makes it a SORT-MERGE join on the cell
    key — same results (`q_knn_hex`: the north star's "k-ring expansion
    with sort-merge refinement").

    ``n_data`` only sizes the target radius — pass a (rough) row count or
    density estimate to skip the extra full pass over the big side;
    parquet footer counts are free.

    Ranking is by (round(dist_m, round_decimals), data_id) so that an
    external oracle computing the same rounded metric ranks identically
    despite last-ULP libm differences.

    Output: (query_id, data_id, dist_m, rank).
    """
    g = _grid(grid, level)
    max_ring = 8
    q = queries.select(query_id, F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"))
    d = data.select(data_id, F.col("lat").alias("d_lat"), F.col("lon").alias("d_lon"))
    # single-file parquet sources arrive as 1 input split — spread the data
    # side so the candidate join / distance evaluation parallelizes (cheap:
    # one narrow shuffle of (id, lat, lon))
    spark_parallelism = d.sparkSession.sparkContext.defaultParallelism
    if d.rdd.getNumPartitions() < spark_parallelism:
        d = d.repartition(spark_parallelism * 2)

    if n_data is None:
        n_data = data.count()
    earth_area = 4.0 * math.pi * 6371000.0**2
    target_m = 2.0 * math.sqrt(max(k, 1) / (max(n_data, 1) / earth_area * math.pi))

    def explode_ring(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qlat = pdf["q_lat"].to_numpy()
            qlon = pdf["q_lon"].to_numpy()
            abs_lat = np.abs(qlat)
            # smallest ring whose exact (unclamped) guarantee covers the
            # target radius
            r = np.full(len(pdf), max_ring, dtype=np.int64)
            for rv in range(max_ring - 1, ring - 1, -1):
                r = np.where(g.guarantee(abs_lat, rv) >= target_m, rv, r)
            gm = np.zeros(len(pdf))
            for rv in np.unique(r):
                m = r == rv
                gm[m] = g.guarantee(abs_lat[m], int(rv))
            guarantee = g.clamp(gm, qlat, qlon) - 10.0 ** (-round_decimals)
            cells = g.cell_np(qlat, qlon)
            frames = []
            for rv in np.unique(r):
                m = r == rv
                rc = g.k_ring_np(cells[m], int(rv))
                nm, mm = rc.shape
                frames.append(
                    pd.DataFrame(
                        {
                            query_id: np.repeat(pdf[query_id].to_numpy()[m], mm),
                            "q_lat": np.repeat(qlat[m], mm),
                            "q_lon": np.repeat(qlon[m], mm),
                            "guarantee_m": np.repeat(guarantee[m], mm),
                            "cell": rc.ravel(),
                        }
                    )
                )
            out = pd.concat(frames, ignore_index=True)
            # square k-rings can repeat cells after lon wrap / lat clamp;
            # hex rings are duplicate-free (no-op there)
            yield out.drop_duplicates(subset=[query_id, "cell"])

    qid_type = dict(queries.dtypes)[query_id]
    q_ring = q.mapInPandas(
        explode_ring,
        f"{query_id} {qid_type}, q_lat double, q_lon double, guarantee_m double, cell long",
    )
    d_cell = d.withColumn("cell", g.cell_col(F.col("d_lat"), F.col("d_lon")))
    if broadcast_queries:
        cand = d_cell.join(F.broadcast(q_ring), "cell", "inner")
    else:
        cand = d_cell.join(q_ring.hint("merge"), "cell", "inner")

    return _rank_with_exact_fallback(
        q, d, cand,
        k=k, query_id=query_id, data_id=data_id, qid_type=qid_type,
        round_decimals=round_decimals, exclude_self=exclude_self,
        warn_ctx=f"grid={grid} level={level} ring={ring} k={k} target_m={target_m:.0f}",
    )


def _rank_with_exact_fallback(
    q: DataFrame,
    d: DataFrame,
    cand: DataFrame,
    *,
    k: int,
    query_id: str,
    data_id: str,
    qid_type: str,
    round_decimals: int,
    exclude_self: bool,
    warn_ctx: str = "",
) -> DataFrame:
    """Phase 2 of `knn_join`: exact-Haversine refinement + per-query top-k
    over the candidate set, exactness gate against the per-query
    ``guarantee_m``, and a bounded brute-force pass for under-covered
    queries.

    ``cand`` carries (query_id, data_id, q_lat, q_lon, d_lat, d_lon,
    guarantee_m); ``q``/``d`` are the original (un-exploded) sides used
    for the fallback cross join.
    """
    if exclude_self:
        cand = cand.filter(F.col(data_id) != F.col(query_id))

    dist = haversine_col(F.col("q_lat"), F.col("q_lon"), F.col("d_lat"), F.col("d_lon"))
    cand = cand.withColumn("dist_m", dist)

    from pyspark.sql import Window

    w = Window.partitionBy(query_id).orderBy(
        F.round(F.col("dist_m"), round_decimals).asc(), F.col(data_id).asc()
    )
    # persist: the windowed top-k feeds three consumers (gate aggregate,
    # exact output, fallback bound) — without it the candidate join +
    # window re-executes per consumer.  The cache must outlive this call
    # (the returned DataFrame reads it), so lifetime is bounded instead:
    # each call unpersists the PREVIOUS call's cache (repeated bench/CLI
    # invocations in one JVM no longer accumulate session-lifetime blocks).
    ranked = _bound_knn_cache(
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )

    # Exactness gate: the k-th distance must sit inside the per-query
    # guarantee radius (beyond which no non-candidate can lie); the
    # rounding step was already subtracted so a just-outside point cannot
    # tie after rounding and displace by id order.
    step = 10.0 ** (-round_decimals)
    per_q = ranked.groupBy(query_id).agg(
        F.count("*").alias("n_cand"),
        F.max("dist_m").alias("kth_dist"),
        F.first("guarantee_m").alias("g_m"),
    )
    # bound: phase-A's k-th distance (+2 rounding steps) upper-bounds the
    # true k-th whenever phase A already found k candidates — the fallback
    # scan filters on it BEFORE the window sort, so the brute-force pass is
    # a codegen'd scan + tiny sort instead of a 10^7-row shuffle.
    # The short set is COLLECTED (≤ #queries rows): broadcast subqueries
    # execute eagerly, so leaving it as lineage would re-run the candidate
    # window once per consumer — materializing it here also populates the
    # `ranked` cache for the main pass.
    # LEFT-join from the query side: a query whose ring cells hold NO
    # (non-self) data points has no row in per_q at all — it must still
    # reach the brute-force phase (n_cand NULL → unbounded bf scan), not
    # silently vanish from the output.
    per_q_all = q.select(query_id).join(per_q, query_id, "left")
    short_rows = per_q_all.filter(
        F.col("n_cand").isNull()
        | (F.col("n_cand") < k)
        | (F.col("kth_dist") > F.col("g_m"))
    ).select(
        query_id,
        F.when(F.col("n_cand") >= k, F.col("kth_dist") + 2 * step).alias("bf_bound"),
    ).collect()

    cols = [query_id, data_id, "dist_m", "rank"]
    if short_rows:
        # a non-empty fallback means the grid under-covers the density —
        # results stay exact, but make the mis-sizing visible
        _LOG.warning(
            "knn: %d queries fell back to brute force (%s) — consider a "
            "coarser grid or larger ring for this density",
            len(short_rows), warn_ctx,
        )
    if not short_rows:
        return ranked.select(*cols)

    spark = q.sparkSession
    short = local_frame(
        spark, [(r[0], r[1]) for r in short_rows], f"{query_id} {qid_type}, bf_bound double"
    )

    # Exact fallback for under-covered queries (empty when level/ring are
    # sized to the density).
    q_short = q.join(F.broadcast(short), query_id, "inner")
    bf = q_short.crossJoin(d)
    if exclude_self:
        bf = bf.filter(F.col(data_id) != F.col(query_id))
    bf = bf.withColumn(
        "dist_m",
        haversine_col(F.col("q_lat"), F.col("q_lon"), F.col("d_lat"), F.col("d_lon")),
    ).filter(
        F.col("bf_bound").isNull() | (F.col("dist_m") <= F.col("bf_bound"))
    )
    bf_ranked = bf.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    good = ranked.join(
        F.broadcast(short.select(query_id)), query_id, "left_anti"
    )
    return good.select(*cols).unionByName(bf_ranked.select(*cols))


# ----------------------------------------------------- E4: raster↔vector ---

def bilinear_dem_join(points: DataFrame, dem: DataFrame) -> DataFrame:
    """E4/J2 — join each point to its 1°×1° DEM tile and bilinearly
    interpolate elevation from the tile's 4 corner samples.

    ``dem(lat_deg int, lon_deg int, e00, e01, e10, e11 double)`` where
    ``e<dlat><dlon>`` is the sample at corner (lat_deg+dlat, lon_deg+dlon).
    Mirrors the reference's SRTM lookup shape
    (``/root/reference/trackmaster/elevation.go:125-157``) with the network
    DEM replaced by a broadcast tile table.
    """
    pts = points.withColumn("lat_deg", F.floor(F.col("lat")).cast("int")).withColumn(
        "lon_deg", F.floor(F.col("lon")).cast("int")
    )
    j = pts.join(F.broadcast(dem), ["lat_deg", "lon_deg"], "inner")
    fy = F.col("lat") - F.col("lat_deg")
    fx = F.col("lon") - F.col("lon_deg")
    interp = (
        F.col("e00") * (1 - fy) * (1 - fx)
        + F.col("e01") * (1 - fy) * fx
        + F.col("e10") * fy * (1 - fx)
        + F.col("e11") * fy * fx
    )
    return j.withColumn("dem_ele", interp).drop("e00", "e01", "e10", "e11")


# ------------------------------------------------- J1: duplicate band join ---

def duplicate_join(
    summaries: DataFrame,
    start_seconds: float,
    start_meters: float,
    level: int = 6,
    ring: int = 1,
    id_col: str = "track_id",
) -> DataFrame:
    """J1 — duplicate-track detection as a cell-bucketed band self-join.

    ``summaries(track_id, start_ts_ns long, start_lat, start_lon, ...)``.
    Predicates mirror cmd/duplicate.go:58-64: |Δstart_ts| ≤ start_seconds
    AND Haversine(start positions) < start_meters.  The O(n²) loop of the
    reference becomes: bucket each summary by its start cell, explode one
    side by the k-ring, equi-join on cell, refine exactly.  ``ring``/
    ``level`` must satisfy cell_width_m(level, max|lat|) · ring ≥
    start_meters — asserted in tests against the brute-force oracle.

    Output pairs are canonical (a < b by id).
    """
    s = summaries
    a = s.select(
        F.col(id_col).alias("a_id"),
        F.col("start_ts_ns").alias("a_ts"),
        F.col("start_lat").alias("a_lat"),
        F.col("start_lon").alias("a_lon"),
    )
    b = s.select(
        F.col(id_col).alias("b_id"),
        F.col("start_ts_ns").alias("b_ts"),
        F.col("start_lat").alias("b_lat"),
        F.col("start_lon").alias("b_lon"),
    )

    def explode_ring(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = cell_np(pdf["a_lat"].to_numpy(), pdf["a_lon"].to_numpy(), level)
            rc = k_ring_np(cells, ring)
            n, m = rc.shape
            out = pdf.loc[pdf.index.repeat(m)].reset_index(drop=True)
            out["cell"] = rc.ravel()
            yield out.drop_duplicates(subset=["a_id", "cell"])

    a_type = dict(s.dtypes)[id_col]
    a_ring = a.mapInPandas(
        explode_ring,
        f"a_id {a_type}, a_ts long, a_lat double, a_lon double, cell long",
    )
    b_cell = b.withColumn("cell", cell_col(F.col("b_lat"), F.col("b_lon"), level))
    cand = a_ring.join(b_cell, "cell", "inner").filter(F.col("a_id") < F.col("b_id"))
    dist = haversine_col(F.col("a_lat"), F.col("a_lon"), F.col("b_lat"), F.col("b_lon"))
    ns = int(start_seconds * 1_000_000_000)
    return (
        cand.filter(F.abs(F.col("a_ts") - F.col("b_ts")) <= F.lit(ns))
        .withColumn("start_dist_m", dist)
        .filter(F.col("start_dist_m") < start_meters)
        .select("a_id", "b_id", "start_dist_m")
    )


from gotrackmaster_spark.schemas import GO_ZERO_NS  # noqa: E402


def _pos_band_candidates(
    s: DataFrame, lat_col: str, lon_col: str, level: int, ring: int,
    id_col: str = "track_id",
) -> DataFrame:
    """Cell-bucketed candidate pairs (a_id < b_id) for a position band:
    one side exploded by the k-ring, equi-join on cell.  Pure candidate
    generation — callers verify exactly."""
    a = s.select(
        F.col(id_col).alias("a_id"),
        F.col(lat_col).alias("a_lat"),
        F.col(lon_col).alias("a_lon"),
    )
    b = s.select(
        F.col(id_col).alias("b_id"),
        F.col(lat_col).alias("b_lat"),
        F.col(lon_col).alias("b_lon"),
    )

    def explode_ring(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = cell_np(pdf["a_lat"].to_numpy(), pdf["a_lon"].to_numpy(), level)
            rc = k_ring_np(cells, ring)
            n, m = rc.shape
            out = pdf.loc[pdf.index.repeat(m)].reset_index(drop=True)
            out["cell"] = rc.ravel()
            yield out.drop_duplicates(subset=["a_id", "cell"])

    a_type = dict(s.dtypes)[id_col]
    a_ring = a.mapInPandas(
        explode_ring, f"a_id {a_type}, a_lat double, a_lon double, cell long"
    )
    b_cell = b.withColumn("cell", cell_col(F.col("b_lat"), F.col("b_lon"), level))
    return (
        a_ring.join(b_cell, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )


def _time_band_candidates(
    s: DataFrame, ts_col: str, diff_seconds: int, id_col: str = "track_id"
) -> DataFrame:
    """Bucketed candidate pairs for a time band: bucket = ts div diff, one
    side exploded to {k-1, k, k+1} (any pair with |Δ| < diff lands in
    adjacent buckets), equi-join on bucket.  No shuffle-side blowup: 3×
    one side only."""
    dns = int(diff_seconds) * 1_000_000_000
    bkt = F.expr(f"{ts_col} div {dns}")
    a = s.select(
        F.col(id_col).alias("a_id"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt"),
    )
    b = s.select(F.col(id_col).alias("b_id"), bkt.alias("bkt"))
    return (
        a.join(b, "bkt")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )


def duplicate_pairs_full(
    summaries: DataFrame,
    start_diff: int = 0,
    end_diff: int = 0,
    start_distance: int = 0,
    end_distance: int = 0,
    time_comparator: bool = False,
    distance_comparator: bool = False,
    level: int = 6,
    ring: int = 2,
    id_col: str = "track_id",
) -> DataFrame:
    """J1 with the reference's FULL rule set (cmd/duplicate.go:84-206).

    ``summaries(track_id, start_ts_ns, end_ts_ns, start_lat, start_lon,
    end_lat, end_lon[, creator, quality])``.

    Semantics mirrored literally from the Go loop:

    * validity (duplicate.go:117-131): tracks whose start OR end position
      is (0,0) never participate; tracks missing a start/end time are
      skipped only when BOTH time rules are set and NO distance rule is
      (the reference's exact condition).
    * time family (duplicate.go:155-175): active when start_diff > 0 —
      match on |Δstart| < start_diff (checkTime's After/Before are
      STRICT); `time_comparator` + end_diff only refine the status label
      to "start and end time", they do NOT gate the match (faithful to
      the Go control flow).  With start_diff == 0 and end_diff > 0 the
      band is on the end time.
    * distance family (duplicate.go:177-197): same shape over Haversine
      start/end positions, strict `<` per checkPosition.
    * a pair is a duplicate iff EITHER family matches; ``status`` carries
      the reference's label with the time family taking priority (it is
      checked first in the Go loop).
    * ``delete_ok`` (duplicate.go:66-78): equal creator AND quality — the
      reference would os.Remove the earlier-seen file, which under its
      sorted directory scan is ``a_id`` (the canonical smaller id).
      Emitted as a flag; the engine never deletes inside a query.

    Plan shape: candidate pairs from the ACTIVE primary bands only (cell
    k-ring equi-join for positions, {k-1,k,k+1} bucket equi-join for
    times), union + distinct, then one join back to summaries for the
    exact verify — no cross join at any scale.
    """
    if start_diff < 0 or end_diff < 0 or start_distance < 0 or end_distance < 0:
        raise ValueError("diffs and distances must be non-negative")
    if not (start_diff or end_diff or start_distance or end_distance):
        raise ValueError("You must specify at least one rule")

    s = summaries.filter(
        ~((F.col("start_lat") == 0.0) & (F.col("start_lon") == 0.0))
        & ~((F.col("end_lat") == 0.0) & (F.col("end_lon") == 0.0))
    )
    if start_diff and end_diff and not start_distance and not end_distance:
        s = s.filter(
            (F.col("start_ts_ns") != GO_ZERO_NS) & (F.col("end_ts_ns") != GO_ZERO_NS)
        )
    # cache: the (track-level, small) summary feeds up to 4 consumers (two
    # band joins + both verify sides); bounded lifetime — each call evicts
    # the previous call's cache, same pattern as knn_join.
    s = _bound_dup_cache(s)

    cands = []
    if start_diff:
        cands.append(_time_band_candidates(s, "start_ts_ns", start_diff, id_col))
    elif end_diff:
        cands.append(_time_band_candidates(s, "end_ts_ns", end_diff, id_col))
    if start_distance:
        cands.append(_pos_band_candidates(s, "start_lat", "start_lon", level, ring, id_col))
    elif end_distance:
        cands.append(_pos_band_candidates(s, "end_lat", "end_lon", level, ring, id_col))
    cand = cands[0]
    for c in cands[1:]:
        cand = cand.unionByName(c)
    cand = cand.distinct()

    cols = ["start_ts_ns", "end_ts_ns", "start_lat", "start_lon", "end_lat", "end_lon"]
    has_meta = "creator" in summaries.columns and "quality" in summaries.columns
    if has_meta:
        cols += ["creator", "quality"]
    av = s.select(F.col(id_col).alias("a_id"), *[F.col(c).alias(f"a_{c}") for c in cols])
    bv = s.select(F.col(id_col).alias("b_id"), *[F.col(c).alias(f"b_{c}") for c in cols])
    j = cand.join(av, "a_id").join(bv, "b_id")

    def _dt(col: str):
        # try_subtract: a real-vs-sentinel delta overflows int64 -> NULL ->
        # predicate false, which is exactly checkTime's verdict for a zero
        # time against a real one; two zero times still match (delta 0),
        # faithful to checkTime(zero, zero, sec) == true in the Go code.
        return F.abs(F.expr(f"try_subtract(a_{col}, b_{col})"))

    start_dist = haversine_col(
        F.col("a_start_lat"), F.col("a_start_lon"), F.col("b_start_lat"), F.col("b_start_lon")
    )
    end_dist = haversine_col(
        F.col("a_end_lat"), F.col("a_end_lon"), F.col("b_end_lat"), F.col("b_end_lon")
    )
    j = j.withColumn("start_dist_m", start_dist).withColumn("end_dist_m", end_dist)

    false_ = F.lit(False)
    start_t = _dt("start_ts_ns") < F.lit(start_diff * 1_000_000_000) if start_diff else false_
    end_t = _dt("end_ts_ns") < F.lit(end_diff * 1_000_000_000) if end_diff else false_
    start_p = F.col("start_dist_m") < F.lit(float(start_distance)) if start_distance else false_
    end_p = F.col("end_dist_m") < F.lit(float(end_distance)) if end_distance else false_

    if start_diff:
        time_match = start_t
        time_status = (
            F.when(end_t, F.lit("start and end time")).otherwise(F.lit("start time"))
            if (time_comparator and end_diff)
            else F.lit("start time")
        )
    elif end_diff:
        time_match = end_t
        time_status = F.lit("end time")
    else:
        time_match = false_
        time_status = F.lit(None).cast("string")
    if start_distance:
        pos_match = start_p
        pos_status = (
            F.when(end_p, F.lit("start and end position")).otherwise(F.lit("start position"))
            if (distance_comparator and end_distance)
            else F.lit("start position")
        )
    elif end_distance:
        pos_match = end_p
        pos_status = F.lit("end position")
    else:
        pos_match = false_
        pos_status = F.lit(None).cast("string")

    out = (
        j.withColumn("time_match", time_match)
        .withColumn("pos_match", pos_match)
        .filter(F.col("time_match") | F.col("pos_match"))
        .withColumn("status", F.when(F.col("time_match"), time_status).otherwise(pos_status))
    )
    delete_ok = (
        (F.col("a_creator") == F.col("b_creator")) & (F.col("a_quality") == F.col("b_quality"))
        if has_meta
        else false_
    )
    return out.select(
        "a_id", "b_id", "status", "time_match", "pos_match",
        "start_dist_m", "end_dist_m", delete_ok.alias("delete_ok"),
    )


# ------------------------------------------- E8: circle-range join ---------

def circle_covering(
    centers: DataFrame,
    radius_m: float,
    level: int,
    id_col: str = "center_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Explode each center into the cells of its radius-``radius_m``
    circle's conservative bbox at ``level`` — pure Column bit math, no
    Python (unlike :func:`polygon_covering`, a circle's covering is
    closed-form, so it stays inside whole-stage codegen).

    Bounds (superset guarantee): the central angle between two points is
    ≥ |Δφ|, so the lat half-width ``r/R`` is exact; from
    ``hav(c) ≥ cos φ1 · cos φ2 · hav(Δλ)`` the lon half-width is
    ``2·asin(sin(r/2R)/cos φ_max)``, clamped to a full longitude wrap when
    the asin argument reaches 1 (circle crosses a pole's cap).  A 1e-9°
    pad absorbs float rounding at cell boundaries.

    Output: ``(cell long, <id_col>, c_lat, c_lon)`` — one row per
    (center, covering cell); distinct cells per center by construction
    (the wrapped index range is capped at one full revolution).
    """
    n = 1 << level
    r_rad = radius_m / float(EARTH_RADIUS)
    dlat_deg = math.degrees(r_rad) + 1e-9
    lat = F.col(lat_col)
    lon = F.col(lon_col)
    phi_max = F.least(F.abs(lat) + F.lit(dlat_deg), F.lit(90.0))
    ratio = F.lit(math.sin(r_rad / 2.0)) / F.cos(F.radians(phi_max))
    dlon_deg = F.when(ratio >= 1.0, F.lit(180.0)).otherwise(
        F.degrees(F.lit(2.0) * F.asin(ratio)) + F.lit(1e-9)
    )
    nf = F.lit(float(n))
    j0 = F.greatest(
        F.floor((lat - dlat_deg + 90.0) / 180.0 * nf).cast("long"), F.lit(0)
    )
    j1 = F.least(
        F.floor((lat + dlat_deg + 90.0) / 180.0 * nf).cast("long"), F.lit(n - 1)
    )
    i0 = F.floor((lon - dlon_deg + 180.0) / 360.0 * nf).cast("long")
    i1 = F.least(
        F.floor((lon + dlon_deg + 180.0) / 360.0 * nf).cast("long"),
        i0 + F.lit(n - 1),
    )
    cov = (
        centers.select(
            F.col(id_col),
            lat.alias("c_lat"),
            lon.alias("c_lon"),
            i0.alias("i0"),
            i1.alias("i1"),
            F.explode(F.sequence(j0, j1)).alias("jj"),
        )
        .select(
            id_col,
            "c_lat",
            "c_lon",
            "jj",
            F.explode(F.sequence(F.col("i0"), F.col("i1"))).alias("ii_raw"),
        )
        .withColumn("ii", F.pmod(F.col("ii_raw"), F.lit(n)))
    )
    from gotrackmaster_spark.functions.cells import _spread_col

    cell = (
        F.lit(1 << (2 * level))
        .cast("long")
        .bitwiseOR(_spread_col(F.col("ii")))
        .bitwiseOR(F.shiftleft(_spread_col(F.col("jj")), 1))
    )
    return cov.select(cell.alias("cell"), id_col, "c_lat", "c_lon")


def within_radius_join(
    points: DataFrame,
    centers: DataFrame,
    radius_m: float,
    level: int,
    id_col: str = "center_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """Circle-range join: every (point, center) pair with
    ``haversine < radius_m``, via broadcast cell-covering candidates +
    exact JVM-side haversine refine.  The range-query sibling of the kNN
    probe (E3) and PIP join (E2): same candidate machinery, fixed-radius
    predicate instead of top-k / containment.

    Plan at scale: the big ``points`` side is scanned once, gets its cell
    (codegen bit math), hash-joins against the broadcast covering, and
    filters on the codegen haversine — no shuffle of ``points``, no Python
    anywhere.  Cell fan-in per point = number of overlapping center
    bboxes, independent of table size.

    Output: all ``points`` columns + ``<id_col>`` + ``dist_m``.
    """
    cov = circle_covering(centers, radius_m, level, id_col, lat_col, lon_col)
    pts = points.withColumn(
        "__cell", cell_col(F.col(lat_col), F.col(lon_col), level)
    )
    j = pts.join(F.broadcast(cov), pts["__cell"] == cov["cell"])
    d = haversine_col(
        F.col("c_lat"), F.col("c_lon"), pts[lat_col], pts[lon_col]
    )
    return (
        j.where(d < F.lit(float(radius_m)))
        .withColumn("dist_m", d)
        .drop("__cell", "cell", "c_lat", "c_lon")
    )


def dem_elevation_fix(points: DataFrame, dem: DataFrame) -> DataFrame:
    """ElevationSRTM as a DISTRIBUTED operator (elevation.go:125-157 — the
    reference looks up godem per point; Spark-first this is the E4
    broadcast raster join with the sampled elevation replacing ``ele``).
    Points outside the DEM grid keep their elevation (left join)."""
    pts = points.withColumn("lat_deg", F.floor(F.col("lat")).cast("int")).withColumn(
        "lon_deg", F.floor(F.col("lon")).cast("int")
    )
    j = pts.join(F.broadcast(dem), ["lat_deg", "lon_deg"], "left")
    fy = F.col("lat") - F.col("lat_deg")
    fx = F.col("lon") - F.col("lon_deg")
    interp = (
        F.col("e00") * (1 - fy) * (1 - fx)
        + F.col("e01") * (1 - fy) * fx
        + F.col("e10") * fy * (1 - fx)
        + F.col("e11") * fy * fx
    )
    return (
        j.withColumn("ele", F.coalesce(interp, F.col("ele")))
        .drop("e00", "e01", "e10", "e11", "lat_deg", "lon_deg")
    )


def colocation_pairs(
    events: DataFrame,
    level: int = 12,
    coarse_shift: int = 14,
    bucket_us: int = 86_400_000_000,
    user_col: str = "user_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    ts_col: str = "ts",
    max_users_per_group: int | None = None,
) -> DataFrame:
    """Spatiotemporal co-location: pairs of distinct users observed in
    the SAME spatial cell within the SAME time bucket, with the number
    of distinct co-located (cell, bucket) groups per pair — the
    co-occurrence join behind contact graphs, companion detection, and
    co-visit mining.

    Plan shape at 100 TB:

    1. Events collapse to DISTINCT occupancy rows (user, cell, bucket)
       FIRST — a map-side-combinable dedup that caps each group's
       fan-in at distinct-users regardless of how many raw pings a
       user emits in the cell (the 1 Hz-tracker user costs the same as
       the once-a-day user).
    2. Self equi-join on the composite (cell, bucket) key.  Output per
       group is C(k,2) — inherent to the semantics, not a plan flaw; a
       stadium cell-hour is the AQE skew-split case, and
       ``max_users_per_group`` drops groups above the cap up front (a
       deterministic semantic filter, mirrored in the oracle) when the
       quadratic tail is unwanted.
    3. One final shuffle on the (user_a, user_b) pair key.

    ``coarse_shift`` right-shifts the level-``level`` Z-cell id, giving
    the coarse co-location cell (default: level-12 >> 14 = the 32×32
    global grid used across the driver queries).
    """
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    occ = events.select(
        F.col(user_col).alias("u"),
        F.shiftright(cell_col(F.col(lat_col), F.col(lon_col), level), coarse_shift).alias(
            "cell"
        ),
        (ts_us - (((ts_us % bucket_us) + bucket_us) % bucket_us)).alias("bucket"),
    ).distinct()
    if max_users_per_group is not None:
        sizes = occ.groupBy("cell", "bucket").agg(F.count("*").alias("k"))
        occ = occ.join(
            sizes.filter(F.col("k") <= max_users_per_group).select("cell", "bucket"),
            ["cell", "bucket"],
            "left_semi",
        )
    a = occ.select(F.col("u").alias("user_a"), "cell", "bucket")
    b = occ.select(F.col("u").alias("user_b"), "cell", "bucket")
    return (
        a.join(b, ["cell", "bucket"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_shared"))
    )


def _segment_grid_covering(
    segments: DataFrame, grid_deg: float, expand: float = 0.0
) -> DataFrame:
    """Explode each ``(x0, y0, x1, y1)`` segment to the grid cells covering
    its bbox expanded by ``expand`` (Chebyshev) — the shared candidate
    generator for the map-match and intersection joins.  Fan-out is
    bounded: ((len + 2·expand)/grid + 2)² cells per segment."""
    g = float(grid_deg)
    e = float(expand)
    lo_x = F.floor((F.least(F.col("x0"), F.col("x1")) - e) / g).cast("long")
    hi_x = F.floor((F.greatest(F.col("x0"), F.col("x1")) + e) / g).cast("long")
    lo_y = F.floor((F.least(F.col("y0"), F.col("y1")) - e) / g).cast("long")
    hi_y = F.floor((F.greatest(F.col("y0"), F.col("y1")) + e) / g).cast("long")
    return (
        segments.withColumn("gx", F.explode(F.sequence(lo_x, hi_x)))
        .withColumn("gy", F.explode(F.sequence(lo_y, hi_y)))
    )


# Covering rows beyond this are no longer broadcast-safe — demote to a
# shuffled join instead of forcing a multi-GB broadcast build (same cap
# and rationale as operators/timeseries._BROADCAST_ROW_CAP).
_MAP_MATCH_BROADCAST_ROW_CAP = 2_000_000


def map_match_join(
    points: DataFrame,
    segments: DataFrame,
    radius_deg: float,
    grid_deg: float,
    id_col: str = "event_id",
    seg_id_col: str = "seg_id",
    lat_col: str = "lat",
    lon_col: str = "lon",
    broadcast_segments: bool = True,
) -> DataFrame:
    """Map-matching: snap each point to its nearest road SEGMENT within
    ``radius_deg`` — the trajectory→road-network join (nearest segment by
    perpendicular/clamped projection, NOT nearest endpoint).

    ``segments`` carries ``(seg_id, x0, y0, x1, y1)`` (lon/lat endpoints).
    The metric is PLANAR degrees on raw coordinates (same contract as
    ``operators/clustering.dbscan``): callers at geographic scale pass
    projected or equirectangular-scaled coordinates.

    Plan at scale (the shape that survives 10^12 points vs an O(10^7)-row
    road network):

    1. each segment's bbox, expanded by the radius, explodes to its
       covering cells on a ``grid_deg`` lattice — bounded fan-out
       ((len/g + 2)² cells) on the SMALL side, which is then broadcast;
    2. points compute one grid key (codegen floor math) and hash-join the
       broadcast covering — the points side is never shuffled for the join;
    3. the clamped-projection distance ``|p - (a + t·(b-a))|, t ∈ [0,1]``
       is whole-stage codegen; candidates farther than the radius drop;
    4. per-point argmin = ``min(struct(dist_r, seg_id))`` — map-side
       combinable partial aggregate, ONE exchange on the point id; ties
       break deterministically on the smaller ``seg_id`` (the struct
       comparison), mirroring the oracle's (dist, seg_id) ordering.

    Distances are rounded to 7 dp BEFORE the argmin so a last-ULP
    cross-engine difference cannot reorder the ranking (repo determinism
    rule), and the radius test uses the same rounded value.  Because the
    rounded test admits true distances up to ``radius + 5e-8``, the
    candidate covering is expanded by ``radius + 1e-7`` — strictly wider
    than the acceptance region — so a boundary-sliver point can never be
    accepted by the predicate yet missed by the covering (and any oracle
    replay must widen its bbox prefilter by the same pad).

    ``broadcast_segments=True`` broadcasts the exploded covering while
    its estimated row count stays under ``_MAP_MATCH_BROADCAST_ROW_CAP``;
    above the cap (≳10⁶-segment networks) it silently demotes to a
    shuffled equi-join — forcing a multi-GB broadcast build is exactly
    the failure the hint would otherwise cause at road-network scale.

    Output: one row per matched point — ``id_col``, ``seg_id_col``,
    ``dist_deg`` (rounded).  Unmatched points simply produce no row
    (absence = no road within radius, same convention as the PIP join).
    """
    g = float(grid_deg)
    r = float(radius_deg)
    cov = _segment_grid_covering(segments, g, expand=r + 1e-7)
    pts = points.withColumn(
        "gx", F.floor(F.col(lon_col) / g).cast("long")
    ).withColumn("gy", F.floor(F.col(lat_col) / g).cast("long"))
    if broadcast_segments and cov.count() <= _MAP_MATCH_BROADCAST_ROW_CAP:
        cov = F.broadcast(cov)
    j = pts.join(cov, ["gx", "gy"])

    px, py = F.col(lon_col), F.col(lat_col)
    dx, dy = F.col("x1") - F.col("x0"), F.col("y1") - F.col("y0")
    den = dx * dx + dy * dy
    t_raw = ((px - F.col("x0")) * dx + (py - F.col("y0")) * dy) / den
    t = F.when(den == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    )
    cx, cy = F.col("x0") + t * dx, F.col("y0") + t * dy
    dist_r = F.round(
        F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy)), 7
    )
    best = (
        j.withColumn("__dist_r", dist_r)
        .filter(F.col("__dist_r") <= r)
        .groupBy(id_col)
        .agg(F.min(F.struct(F.col("__dist_r"), F.col(seg_id_col))).alias("__best"))
    )
    return best.select(
        id_col,
        F.col(f"__best.{seg_id_col}").alias(seg_id_col),
        F.col("__best.__dist_r").alias("dist_deg"),
    )


def segment_intersection_join(
    segments: DataFrame,
    grid_deg: float,
    seg_id_col: str = "seg_id",
) -> DataFrame:
    """Segment↔segment PROPER-intersection self-join — the road-network
    topology operator (crossing detection), planar contract.

    ``segments`` carries ``(seg_id, x0, y0, x1, y1)``.  Candidates come
    from the shared covering grid cell (two segments whose bboxes
    overlap always share a cell of either bbox's covering — same
    lossless argument as the polygon-overlap join), so the self-join is
    a cell equi-join, never all-pairs; multi-cell duplicate pairs
    collapse with one distinct.  The predicate is the classic
    orientation test — segments AB and CD properly cross iff C and D
    lie strictly on opposite sides of AB AND A and B lie strictly on
    opposite sides of CD (collinear/touching pairs are excluded by
    contract: "proper" crossings only, which keeps the predicate free
    of epsilon tuning and exactly replayable in SQL).

    Output: ``(seg_a, seg_b, ix_r, iy_r)`` with ``seg_a < seg_b`` and
    the intersection point rounded to 6 dp (parametric form
    ``A + t·(B−A)``, ``t = ((C−A)×(D−C)) / ((B−A)×(D−C))``; the proper
    test guarantees a nonzero denominator).
    """
    cov = _segment_grid_covering(segments, grid_deg)
    a = cov.select(
        F.col(seg_id_col).alias("seg_a"),
        F.col("x0").alias("ax"), F.col("y0").alias("ay"),
        F.col("x1").alias("bx"), F.col("y1").alias("by"),
        "gx", "gy",
    )
    b = cov.select(
        F.col(seg_id_col).alias("seg_b"),
        F.col("x0").alias("cx"), F.col("y0").alias("cy"),
        F.col("x1").alias("dx_"), F.col("y1").alias("dy_"),
        "gx", "gy",
    )

    def cross(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px)

    ax, ay = F.col("ax"), F.col("ay")
    bx, by = F.col("bx"), F.col("by")
    cx, cy = F.col("cx"), F.col("cy")
    dx, dy = F.col("dx_"), F.col("dy_")
    d1 = cross(ax, ay, bx, by, cx, cy)   # C vs AB
    d2 = cross(ax, ay, bx, by, dx, dy)   # D vs AB
    d3 = cross(cx, cy, dx, dy, ax, ay)   # A vs CD
    d4 = cross(cx, cy, dx, dy, bx, by)   # B vs CD
    proper = (d1 * d2 < 0) & (d3 * d4 < 0)

    denom = (bx - ax) * (dy - cy) - (by - ay) * (dx - cx)
    t = ((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx)) / denom
    pairs = (
        a.join(b, ["gx", "gy"])
        .filter(F.col("seg_a") < F.col("seg_b"))
        .filter(proper)
        .select(
            "seg_a",
            "seg_b",
            F.round(ax + t * (bx - ax), 6).alias("ix_r"),
            F.round(ay + t * (by - ay), 6).alias("iy_r"),
        )
        .distinct()
    )
    return pairs


# --------------------------------------------------------------------------
# E11 — morphological operators over grid-cell sets (dilate / erode)
# --------------------------------------------------------------------------

def _shift_neighborhood(cells: DataFrame, group_cols: list[str]) -> DataFrame:
    """Explode each ``(gx, gy)`` cell to its 9 3×3-neighborhood targets —
    the shared fan-out of :func:`cell_set_dilate` / :func:`cell_set_erode`
    (any change to the connectivity must stay common or the morphology
    containment laws break)."""
    off = F.explode(
        F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ])
    )
    return cells.withColumn("__o", off).select(
        *group_cols,
        (F.col("gx") + F.col("__o.dx")).alias("gx"),
        (F.col("gy") + F.col("__o.dy")).alias("gy"),
    )


def cell_set_dilate(cells: DataFrame, group_cols: list[str]) -> DataFrame:
    """Morphological DILATION of a grid-cell set: the union of every
    cell's 3×3 (8-connected + self) neighborhood, per group.

    ``cells`` carries ``group_cols + (gx, gy)`` — one row per member cell
    (callers dedupe; the output is distinct regardless).  This is the
    cell-set analogue of a geodesic buffer: iterate for wider buffers.

    Plan at scale: a bounded ×9 explode (codegen) followed by one
    hash-aggregate distinct — linear in the cell-set size, no join.  The
    lattice is unbounded integers (no antimeridian wrap; callers who need
    wraparound pre-mod gx by the grid width).
    """
    return _shift_neighborhood(cells, group_cols).distinct()


def cell_set_erode(cells: DataFrame, group_cols: list[str]) -> DataFrame:
    """Morphological EROSION of a grid-cell set: keep a member cell only
    when its full 3×3 neighborhood is in the set (interior cells).

    Same contract as :func:`cell_set_dilate`.  Implementation counts, for
    every lattice cell, how many of its 9 neighborhood sources are set
    members (each member contributes to its 9 shifted targets; offsets
    are distinct so the count IS the neighborhood occupancy).  Occupancy
    == 9 already implies membership — the (0,0) offset is one of the 9,
    so the target itself must be in the set — which is why there is NO
    join back to the member set.  One explode + one map-side-combinable
    hash aggregate; linear in the cell-set size.
    """
    dedup = cells.select(*group_cols, "gx", "gy").distinct()
    return (
        _shift_neighborhood(dedup, group_cols)
        .groupBy(*group_cols, "gx", "gy")
        .agg(F.count("*").alias("__occ"))
        .filter(F.col("__occ") == 9)
        .drop("__occ")
    )


# --------------------------------------------------------------------------
# E14 — Getis-Ord Gi* hotspot statistic over a grid-cell count lattice
# --------------------------------------------------------------------------

_bound_gistar_cache = make_bounded_cache()  # previous call's occupied-cell rows
_bound_mk_cache = make_bounded_cache()      # previous call's binned counts (Mann-Kendall)
_bound_ripley_cache = make_bounded_cache()  # previous call's gridded points (Ripley K)
_bound_knox_cache = make_bounded_cache()    # previous call's gridded points (Knox)
_bound_vario_cache = make_bounded_cache()   # previous call's gridded points (variogram)
_bound_emerging_cache = make_bounded_cache()  # previous call's per-bin z series (emerging)


def _occupancy_counts(cells: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """Shared topology of the spatial-statistics trio (Gi*, global and
    local Moran's I): each occupied ``(gx, gy, cnt)`` cell explodes its
    count to its 9 3×3 targets; ONE hash aggregate then yields, per
    target, the neighborhood count sum ``__wsum`` (self included), the
    neighborhood sum of squares ``__wsum2`` (self included — Geary's C
    needs it), the occupied-neighbor count ``__k`` (self included) and
    the cell's own ``cnt`` — and the self-offset flag marks which targets are
    themselves occupied, so membership needs NO join-back (the
    erode argument).  Neighborhoods are restricted to occupied cells:
    absent cells are "no data", not zeros.

    ``extra_cols`` partitions the lattice into independent layers (e.g.
    a time bin for :func:`emerging_hotspots`): neighborhoods never
    cross a layer boundary.
    """
    extra = list(extra_cols)
    contrib = cells.withColumn(
        "__o",
        F.explode(
            F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ),
    ).select(
        *extra,
        (F.col("gx") + F.col("__o.dx")).alias("gx"),
        (F.col("gy") + F.col("__o.dy")).alias("gy"),
        F.col("cnt"),
        ((F.col("__o.dx") == 0) & (F.col("__o.dy") == 0)).cast("int").alias("__self"),
    )
    return (
        contrib.groupBy(*extra, "gx", "gy")
        .agg(
            F.sum("cnt").alias("__wsum"),
            F.sum(F.col("cnt") * F.col("cnt")).alias("__wsum2"),
            F.count("*").alias("__k"),
            F.max("__self").alias("__occ"),
            F.max(F.when(F.col("__self") == 1, F.col("cnt"))).alias("cnt"),
        )
        .filter(F.col("__occ") == 1)
        .drop("__occ")
    )


def _with_moments(occupied: DataFrame) -> DataFrame:
    """Attach the 1-row global count moments (n, Σx, Σx²) to every
    occupied-cell row via an explicit broadcast cross join.

    This is a BroadcastNestedLoopJoin by construction — the legitimate
    bounded case (build side is exactly ONE row, an aggregation without
    grouping keys), declared in the registry plan audit's allowlist.
    A constant-key equi-join does not avoid it: Catalyst folds any
    derivable-constant key (including non-null x*0+1) and degenerates
    the join back to the nested loop."""
    stats = occupied.agg(
        F.count("*").alias("__n"),
        F.sum("cnt").alias("__s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("__s2"),
    )
    return occupied.crossJoin(F.broadcast(stats))


def gi_star_hotspots(cells: DataFrame) -> DataFrame:
    """Getis-Ord Gi* z-score per occupied cell — the classic hotspot
    statistic — with binary 3×3 (queen + self) neighborhood weights over
    the OCCUPIED cells of a count lattice.

    ``cells`` carries ``(gx, gy, cnt)`` — one row per occupied cell
    (callers aggregate points down first; that map-side-combinable
    count is the only points-scale op in the pipeline).

      Gi*_i = (Σ_j∈N(i) x_j − X̄·k_i) / (S · √((n·k_i − k_i²)/(n−1)))

    with n = occupied cells, X̄/S the population mean/std of the counts,
    k_i = |occupied ∩ N(i)| (self included).  Neighborhood restricted to
    occupied cells — absent cells are "no data", not zeros (both engines
    must agree on this convention; the DuckDB twin replays it).

    Plan at scale (mirrors :func:`cell_set_erode` — NO joins): each
    occupied cell explodes its count to its 9 targets, one hash
    aggregate yields (Σ_j x_j, k_i) per target plus a self-offset flag
    that marks which targets are themselves occupied (membership needs
    no join-back), and the global moments attach via the 1-row constant-key
    broadcast hash join of :func:`_with_moments` — exact
    integer Σx/Σx², float algebra only at the end.  ``z`` is NULL when
    the denominator is 0 (n == 1 or k_i == n ≤ 9).

    Output: ``(gx, gy, cnt, n_nbrs, z)`` — one row per occupied cell,
    ``z`` unrounded (callers round for determinism contracts).
    """
    occupied = _bound_gistar_cache(
        _occupancy_counts(cells).withColumnRenamed("__k", "n_nbrs")
    )
    j = _with_moments(occupied)
    n, k = F.col("__n"), F.col("n_nbrs")
    xbar = F.col("__s1") / n
    var = F.col("__s2") / n - xbar * xbar
    s_sd = F.sqrt(var)
    den = s_sd * F.sqrt((n * k - k * k) / (n - F.lit(1.0)))
    # degeneracy guard BEFORE any division that could hit 0 (ANSI mode
    # errors on float div-by-zero): n == 1 (no variance ratio), k == n
    # (n·k − k² == 0), or a constant lattice all yield NULL.  The guard
    # compares the VARIANCE, not sqrt(variance): float cancellation can
    # drive var slightly NEGATIVE on a constant lattice of huge counts,
    # and sqrt(negative) = NaN compares NaN > 0 as TRUE under Spark's
    # NaN ordering (and errors outright in DuckDB's sqrt)
    cond = (n > 1) & (n * k - k * k > 0) & (var > 0)
    z = F.when(cond, (F.col("__wsum") - xbar * k) / den)
    return j.select("gx", "gy", "cnt", "n_nbrs", z.alias("z"))


def morans_i(cells: DataFrame) -> DataFrame:
    """Global Moran's I spatial autocorrelation of a count lattice with
    binary 3×3 queen weights (self EXCLUDED, per the classic statistic)
    over occupied cells:

      I = (n / W) · Σᵢⱼ wᵢⱼ(xᵢ−x̄)(xⱼ−x̄) / Σᵢ(xᵢ−x̄)²,   E[I] = −1/(n−1)

    Determinism at scale: the cross-term is NOT accumulated as floats —
    it expands to  A − x̄·B + x̄²·W  with A = Σ xᵢ·nbrsumᵢ,
    B = Σ (xᵢ·kᵢ + nbrsumᵢ), W = Σ kᵢ (neighbor sums excluding self),
    all EXACT integer aggregates; the float algebra happens once on the
    final 1-row scalars, so partition order can never perturb the hash.
    Same plan shape as :func:`gi_star_hotspots` minus the cross join:
    one ×9 explode + two hash aggregates, no joins at all.

    Output: ONE row ``(n_cells, w_pairs, i_moran, e_i)`` — NULLs when
    n < 2, W == 0, or the lattice is constant (zero variance).
    """
    occupied = _occupancy_counts(cells)
    nbr_sum = F.col("__wsum") - F.col("cnt")   # exclude self
    k_ex = F.col("__k") - 1
    agg = occupied.agg(
        F.count("*").alias("n"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
        F.sum(F.col("cnt") * nbr_sum).alias("a"),
        F.sum(F.col("cnt") * k_ex + nbr_sum).alias("b"),
        F.sum(k_ex).alias("w"),
    )
    n, w = F.col("n"), F.col("w")
    xbar = F.col("s1") / n
    num = F.col("a") - xbar * F.col("b") + xbar * xbar * w
    den = F.col("s2") - n * (xbar * xbar)
    i_val = F.when((n > 1) & (w > 0) & (den > 0), (n / (w * F.lit(1.0))) * num / den)
    e_i = F.when(n > 1, F.lit(-1.0) / (n - F.lit(1.0)))
    return agg.select(
        n.alias("n_cells"),
        w.alias("w_pairs"),
        i_val.alias("i_moran"),
        e_i.alias("e_i"),
    )


def local_morans_i(cells: DataFrame) -> DataFrame:
    """Local Moran's I (LISA) per occupied cell — Anselin's local
    cluster/outlier indicator with binary 3×3 queen weights (self
    excluded), the per-cell decomposition of :func:`morans_i`:

      Iᵢ = (xᵢ−x̄) · Σ_j∈N(i),j≠i (xⱼ−x̄) / m₂,   m₂ = Σ(x−x̄)²/n

    plus the standard quadrant label from the signs of (xᵢ−x̄) and the
    neighbor deviation: HH (hot cluster), LL (cold cluster), HL / LH
    (spatial outliers).  Σ_j (xⱼ−x̄) expands exactly to
    ``nbrsum − k_ex·x̄`` over the integer occupancy aggregates, so the
    only float algebra is row-local against the 1-row broadcast
    moments — same no-join plan as :func:`gi_star_hotspots`.

    Output: ``(gx, gy, cnt, n_nbrs, i_local, quad)`` — ``i_local`` and
    ``quad`` NULL for isolated cells (no neighbors) or a constant /
    single-cell lattice.
    """
    occupied = _bound_gistar_cache(
        _occupancy_counts(cells).withColumnRenamed("__k", "n_nbrs")
    )
    j = _with_moments(occupied)
    n = F.col("__n")
    k_ex = F.col("n_nbrs") - 1
    xbar = F.col("__s1") / n
    m2 = F.col("__s2") / n - xbar * xbar
    zi = F.col("cnt") - xbar
    lag = (F.col("__wsum") - F.col("cnt")) - k_ex * xbar
    ok = (n > 1) & (k_ex > 0) & (m2 > 0)
    i_local = F.when(ok, zi * lag / m2)
    quad = F.when(
        ok,
        F.concat(
            F.when(zi >= 0, F.lit("H")).otherwise(F.lit("L")),
            F.when(lag >= 0, F.lit("H")).otherwise(F.lit("L")),
        ),
    )
    return j.select(
        "gx",
        "gy",
        "cnt",
        (k_ex).alias("n_nbrs"),
        i_local.alias("i_local"),
        quad.alias("quad"),
    )


def mann_kendall_trends(occupancy: DataFrame) -> DataFrame:
    """Mann-Kendall monotonic-trend test per grid cell over a binned
    count series — the "emerging hotspot" trend stage: which cells are
    heating up or cooling down over time.

    ``occupancy`` carries ``(gx, gy, t, cnt)`` — one row per (cell,
    integer time bin) with its count (callers aggregate points down
    first).  Per cell, over the T observed bins:

      S       = Σ_{i<j} sign(cnt_j − cnt_i)            (exact integer)
      Var(S)  = [T(T−1)(2T+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18   (tie-corrected)
      z       = (S∓1)/√Var(S)  (continuity correction; 0 at S == 0)

    and the trend label: increasing / decreasing when |z| > 1.96, flat
    otherwise (or when Var ≤ 0, e.g. T < 2 or an all-tied series).

    Plan at scale: the pair enumeration is a SELF-join of the per-cell
    binned counts on the cell key — bounded by T²/2 per cell (T = bins,
    e.g. ≤ 366 for daily-by-year), never points² — and the tie/count
    moments come from one more hash aggregate on the same table.  The
    binned counts feed three consumers (both self-join sides + the tie
    aggregate), so they are bounded-lifetime cached: the points-scale
    aggregation executes ONCE.  S and the tie terms are exact integers,
    so z is partition-order invariant.

    Output: ``(gx, gy, n_bins, s, z, trend)`` — z NULL when Var ≤ 0.
    """
    occ = _bound_mk_cache(occupancy.select("gx", "gy", "t", "cnt"))
    a = occ.select("gx", "gy", F.col("t").alias("t1"), F.col("cnt").alias("c1"))
    b = occ.select("gx", "gy", F.col("t").alias("t2"), F.col("cnt").alias("c2"))
    sgn = (
        F.when(F.col("c2") > F.col("c1"), F.lit(1))
        .when(F.col("c2") < F.col("c1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s_tab = (
        a.join(b, ["gx", "gy"])
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("gx", "gy")
        .agg(F.sum(sgn).alias("s"))
    )
    t_g = F.col("__tg")
    ties = (
        occ.groupBy("gx", "gy", "cnt")
        .agg(F.count("*").alias("__tg"))
        .groupBy("gx", "gy")
        .agg(
            F.sum(t_g).alias("n_bins"),
            F.sum(t_g * (t_g - 1) * (2 * t_g + 5)).alias("__tie"),
        )
    )
    n = F.col("n_bins")
    var_s = (n * (n - 1) * (2 * n + 5) - F.col("__tie")) / F.lit(18.0)
    s = F.col("s")
    z = F.when(
        var_s > 0,
        F.when(s > 0, (s - 1) / F.sqrt(var_s))
        .when(s < 0, (s + 1) / F.sqrt(var_s))
        .otherwise(F.lit(0.0)),
    )
    out = ties.join(s_tab, ["gx", "gy"], "left").select(
        "gx",
        "gy",
        "n_bins",
        F.coalesce(s, F.lit(0)).alias("s"),
        z.alias("z"),
    )
    trend = (
        F.when(F.col("z").isNull(), F.lit("flat"))
        .when(F.col("z") > 1.96, F.lit("increasing"))
        .when(F.col("z") < -1.96, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
    )
    return out.withColumn("trend", trend)


_bound_ts_cache = make_bounded_cache()  # binned counts (Theil-Sen)


def theil_sen_slopes(occupancy: DataFrame) -> DataFrame:
    """Theil-Sen slope estimator per grid cell over a binned count
    series — the robust slope companion to :func:`mann_kendall_trends`
    (MK says WHETHER a monotonic trend exists; Theil-Sen says HOW
    steep, immune to up to ~29 % outlier bins):

      slope = median_{i<j} (cnt_j − cnt_i) / (t_j − t_i)

    Determinism: every pairwise slope is ONE long/long division (IEEE
    exactly rounded — bit-identical in any engine) and the median is
    RANK-SELECT — the order statistics at ``(n+1) DIV 2`` and
    ``n DIV 2 + 1`` averaged — never a float accumulation, so the
    output is partition-order invariant and a DuckDB twin replays it
    bit-for-bit.

    Plan at scale: the pair enumeration is the :func:`mann_kendall_trends`
    shape — a self-join of per-cell binned counts on the cell key,
    bounded by T²/2 per cell (T = time bins), never points²; the median
    is one window (rank + count) over each cell's pair set, partitioned
    on the same key the join just shuffled on, so no extra exchange.
    The binned counts feed both self-join sides → bounded-lifetime
    cached (the points-scale aggregation runs once).

    Output: ``(gx, gy, n_pairs, slope)`` — one row per cell with ≥ 2
    distinct time bins (a single-bin cell has no pair, hence no slope).
    """
    from pyspark.sql import Window

    occ = _bound_ts_cache(occupancy.select("gx", "gy", "t", "cnt"))
    a = occ.select("gx", "gy", F.col("t").alias("t1"), F.col("cnt").alias("c1"))
    b = occ.select("gx", "gy", F.col("t").alias("t2"), F.col("cnt").alias("c2"))
    pairs = (
        a.join(b, ["gx", "gy"])
        .filter(F.col("t1") < F.col("t2"))
        .select(
            "gx",
            "gy",
            (
                (F.col("c2") - F.col("c1")) / (F.col("t2") - F.col("t1"))
            ).alias("__s"),
        )
    )
    w = Window.partitionBy("gx", "gy")
    ranked = pairs.select(
        "gx",
        "gy",
        "__s",
        F.row_number().over(w.orderBy("__s")).alias("__rn"),
        F.count("*").over(w).alias("__n"),
    )
    # rank-select median: order stats at (n+1) DIV 2 and n DIV 2 + 1
    return (
        ranked.groupBy("gx", "gy")
        .agg(
            F.max("__n").alias("n_pairs"),
            F.min(
                F.when(
                    F.col("__rn") == F.floor((F.col("__n") + 1) / 2), F.col("__s")
                )
            ).alias("__lo"),
            F.min(
                F.when(
                    F.col("__rn") == F.floor(F.col("__n") / 2) + 1, F.col("__s")
                )
            ).alias("__hi"),
        )
        .select(
            "gx",
            "gy",
            "n_pairs",
            ((F.col("__lo") + F.col("__hi")) / F.lit(2.0)).alias("slope"),
        )
    )


def emerging_hotspots(occupancy: DataFrame, hot_z: float = 1.96) -> DataFrame:
    """Emerging hotspot analysis — the capstone composite of the
    spatial-statistics suite (the ESRI space-time-cube workflow): a
    Getis-Ord Gi* z-score per (cell, time bin), then a Mann-Kendall
    trend test over each cell's z series, then a category label from
    the final-bin state × the trend.

    ``occupancy`` carries ``(gx, gy, t, cnt)`` — one row per (cell,
    integer time bin).  Per bin, the Gi* lattice is that bin's occupied
    cells only (absent = "no data"; neighborhoods never cross bins);
    bins whose z is degenerate-NULL (single-cell bin lattice, k = n,
    constant counts) drop out of the cell's series.  Categories:

      hot in last observed bin  & increasing → ``intensifying``
                                & decreasing → ``diminishing``
                                & flat       → ``persistent``
      not hot now, hot in ≥1 earlier bin     → ``historical``
      never hot                 & increasing → ``emerging``
      otherwise                              → ``none``

    Plan at scale: the per-bin Gi* reuses the ×9 occupancy explode with
    the bin as a layer key (ONE hash aggregate over (t, gx, gy)); the
    per-bin moments are a T-row aggregate attached by a small equi-join
    on the bin key (a plain broadcast hash join — NOT the 1-row BNLJ:
    the key is a real column); the Mann-Kendall stage self-joins the
    (cells × bins)-sized z table on the cell key, bounded by T²/2 per
    cell, never points².  The z values are floats, but both engines
    derive them from exact integer moments in the same expression
    order, so the sign/equality comparisons inside Mann-Kendall are
    deterministic and S stays an exact integer.

    Output: ``(gx, gy, n_bins, hot_bins, s, z_mk, category)`` — one row
    per cell with ≥1 non-degenerate bin; ``z_mk`` NULL when Var(S) ≤ 0
    (that path labels via trend = flat).
    """
    occ = _occupancy_counts(occupancy, extra_cols=("t",))
    st = occ.groupBy("t").agg(
        F.count("*").alias("__n"),
        F.sum("cnt").alias("__s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("__s2"),
    )
    j = occ.join(F.broadcast(st), "t")
    n, k = F.col("__n"), F.col("__k")
    xbar = F.col("__s1") / n
    var = F.col("__s2") / n - xbar * xbar
    den = F.sqrt(var) * F.sqrt((n * k - k * k) / (n - F.lit(1.0)))
    cond = (n > 1) & (n * k - k * k > 0) & (var > 0)
    z_bin = F.when(cond, (F.col("__wsum") - xbar * k) / den)
    series = _bound_emerging_cache(
        j.select("gx", "gy", "t", z_bin.alias("z")).filter(F.col("z").isNotNull())
    )
    mk = mann_kendall_trends(
        series.select("gx", "gy", "t", F.col("z").alias("cnt"))
    ).select(
        "gx",
        "gy",
        "n_bins",
        "s",
        F.col("z").alias("z_mk"),
        "trend",
    )
    state = series.groupBy("gx", "gy").agg(
        F.expr("max_by(z, t)").alias("__z_last"),
        F.sum((F.col("z") > F.lit(float(hot_z))).cast("long")).alias("hot_bins"),
    )
    out = mk.join(state, ["gx", "gy"])
    hot_now = F.col("__z_last") > F.lit(float(hot_z))
    # evaluated only when NOT hot_now, so any hot bin is an EARLIER one
    was_hot = F.col("hot_bins") > 0
    category = (
        F.when(hot_now & (F.col("trend") == "increasing"), F.lit("intensifying"))
        .when(hot_now & (F.col("trend") == "decreasing"), F.lit("diminishing"))
        .when(hot_now, F.lit("persistent"))
        .when(was_hot, F.lit("historical"))
        .when(F.col("trend") == "increasing", F.lit("emerging"))
        .otherwise(F.lit("none"))
    )
    return out.select(
        "gx", "gy", "n_bins", "hot_bins", "s", "z_mk", category.alias("category")
    )


def geary_c(cells: DataFrame) -> DataFrame:
    """Global Geary's C spatial autocorrelation of a count lattice with
    binary 3×3 queen weights (self excluded) over occupied cells — the
    pairwise-difference companion to :func:`morans_i` (C < 1 clustered,
    C > 1 dispersed, E[C] = 1):

      C = (n−1) · Σᵢⱼ wᵢⱼ(xᵢ−xⱼ)² / (2W · Σᵢ(xᵢ−x̄)²)

    Determinism at scale: the pairwise-difference sum is NOT enumerated
    over pairs — per cell it expands exactly to
    ``k_ex·xᵢ² − 2·xᵢ·nbrsumᵢ + nbrsum2ᵢ`` over the shared ×9 occupancy
    aggregates (``__wsum2`` carries the neighborhood Σx²), ALL exact
    integers; the float algebra happens once on the final 1-row
    scalars.  Same no-join plan as :func:`morans_i`: one ×9 explode +
    two hash aggregates.

    Output: ONE row ``(n_cells, w_pairs, d_sum, c_geary, e_c)`` —
    NULLs when n < 2, W == 0, or a constant lattice.
    """
    occupied = _occupancy_counts(cells)
    nbr_sum = F.col("__wsum") - F.col("cnt")
    nbr_sum2 = F.col("__wsum2") - F.col("cnt") * F.col("cnt")
    k_ex = F.col("__k") - 1
    x = F.col("cnt")
    agg = occupied.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(k_ex * (x * x) - 2 * x * nbr_sum + nbr_sum2).alias("d"),
        F.sum(k_ex).alias("w"),
    )
    n, w = F.col("n"), F.col("w")
    xbar = F.col("s1") / n
    den = F.col("s2") - n * (xbar * xbar)
    c_val = F.when(
        (n > 1) & (w > 0) & (den > 0),
        ((n - F.lit(1)) * F.col("d")) / (F.lit(2.0) * w) / den,
    )
    e_c = F.when((n > 1) & (w > 0), F.lit(1.0))
    return agg.select(
        n.alias("n_cells"),
        w.alias("w_pairs"),
        F.col("d").alias("d_sum"),
        c_val.alias("c_geary"),
        e_c.alias("e_c"),
    )


def general_g(cells: DataFrame) -> DataFrame:
    """Getis-Ord General G — the GLOBAL hotspot statistic companion to
    the local :func:`gi_star_hotspots` — with binary 3×3 queen weights
    (self excluded) over occupied cells of a nonnegative count lattice:

      G = Σᵢⱼ wᵢⱼ xᵢxⱼ / Σᵢ Σ_{j≠i} xᵢxⱼ,   E[G] = W / (n(n−1))

    G > E[G] means the HIGH values are the ones spatially concentrated.
    BOTH numerator and denominator are exact integers (numerator
    Σ xᵢ·nbrsumᵢ over the occupancy aggregates; denominator the
    algebraic identity (Σx)² − Σx²), so the observed G is ONE exact-int
    division — no float accumulation anywhere.  Same no-join plan as
    :func:`morans_i`.

    Output: ONE row ``(n_cells, w_pairs, g_num, g_den, g_obs, e_g)`` —
    NULLs when n < 2, W == 0, or a lattice with < 2 nonzero cells
    (denominator 0).
    """
    occupied = _occupancy_counts(cells)
    nbr_sum = F.col("__wsum") - F.col("cnt")
    k_ex = F.col("__k") - 1
    x = F.col("cnt")
    agg = occupied.agg(
        F.count("*").alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * nbr_sum).alias("g_num"),
        F.sum(k_ex).alias("w"),
    )
    n, w = F.col("n"), F.col("w")
    g_den = F.col("s1") * F.col("s1") - F.col("s2")
    ok = (n > 1) & (w > 0) & (g_den > 0)
    g_obs = F.when(ok, F.col("g_num") / g_den)
    e_g = F.when(ok, w / (n * (n - 1)))
    return agg.select(
        n.alias("n_cells"),
        w.alias("w_pairs"),
        F.col("g_num").alias("g_num"),
        g_den.alias("g_den"),
        g_obs.alias("g_obs"),
        e_g.alias("e_g"),
    )


def join_counts(cells: DataFrame, thr: int | Column) -> DataFrame:
    """Black-white join-count statistics of the binary lattice
    ``black = cnt ≥ thr`` with binary 3×3 queen adjacency (self
    excluded) over occupied cells — the categorical companion to
    Moran/Geary: are same-color cells adjacent more often than chance?

    ``thr`` may be an int literal or a Column already attached to
    ``cells`` (e.g. a data-derived cut from
    :func:`join_counts_median_thr` — a FIXED absolute threshold on raw
    counts is scale-brittle: 10× the events turns every occupied cell
    black and the WW statistic degenerates, found live by the sf0.1
    parity sweep).

    Observed unordered join counts come from ONE occupancy pass over
    the 0/1 indicator (``__wsum`` = black neighbors incl. self): per
    cell the ordered BB/BW/WW contributions are exact-integer
    expressions of (bᵢ, black-nbrs, k_ex); ordered totals are even, so
    halving stays exact.  Expectations under nonfree sampling
    (hypergeometric color assignment):

      E[BB] = W·n_b(n_b−1)/(n(n−1)),  E[BW] = 2W·n_b·n_w/(n(n−1)),
      E[WW] = W·n_w(n_w−1)/(n(n−1))

    Same no-join plan as :func:`morans_i`; every observed statistic an
    exact integer, expectations exact-int ratios.

    Output: ONE row ``(n_cells, n_black, w_pairs, bb, bw, ww, e_bb,
    e_bw, e_ww)`` — expectations NULL when n < 2 or W == 0.
    """
    thr_col = thr if isinstance(thr, Column) else F.lit(int(thr))
    b = (F.col("cnt") >= thr_col).cast("long")
    binary = cells.select("gx", "gy", b.alias("cnt"))
    occupied = _occupancy_counts(binary)
    bi = F.col("cnt")
    bnbr = F.col("__wsum") - bi          # black neighbors, self excluded
    k_ex = F.col("__k") - 1
    agg = occupied.agg(
        F.count("*").alias("n"),
        F.sum(bi).alias("nb"),
        F.sum(k_ex).alias("w2"),
        F.sum(bi * bnbr).alias("bb_o"),
        F.sum(bi * (k_ex - bnbr) + (1 - bi) * bnbr).alias("bw_o"),
        F.sum((1 - bi) * (k_ex - bnbr)).alias("ww_o"),
    )
    n, nb = F.col("n"), F.col("nb")
    nw = n - nb
    w = F.expr("w2 DIV 2")
    ok = (n > 1) & (w > 0)
    return agg.select(
        n.alias("n_cells"),
        nb.alias("n_black"),
        w.alias("w_pairs"),
        F.expr("bb_o DIV 2").alias("bb"),
        F.expr("bw_o DIV 2").alias("bw"),
        F.expr("ww_o DIV 2").alias("ww"),
        F.when(ok, (w * nb * (nb - 1)) / (n * (n - 1))).alias("e_bb"),
        F.when(ok, (2 * w * nb * nw) / (n * (n - 1))).alias("e_bw"),
        F.when(ok, (w * nw * (nw - 1)) / (n * (n - 1))).alias("e_ww"),
    )


def join_counts_median_thr(cells: DataFrame) -> DataFrame:
    """Attach the scale-free join-count threshold to a count lattice:
    ``__thr`` = lower-median cell count + 1, so ``cnt >= __thr`` means
    STRICTLY ABOVE the median — the median cell itself is white, which
    keeps both colors populated at any data scale (a fixed absolute
    count threshold degenerates: 10× the events turns every cell black).

    The lower median is the exact order statistic at rank
    ``(n + 1) DIV 2`` of counts ascending — an integer both engines
    replay bit-identically (the VALUE at a rank is invariant to tie
    ordering, so ordering by ``cnt`` alone is deterministic).  Both
    windows here are global single-partition — fine BECAUSE the input
    is a degree lattice bounded by geometry (≤ (360/g)·(160/g) cells
    regardless of data volume), the same bound every `_occupancy_counts`
    consumer relies on.  The 1-row threshold attaches via
    ``crossJoin(broadcast(...))`` per the repo's scalar-attach
    convention (BNLJ-allowlisted).
    """
    from pyspark.sql import Window

    ranked = cells.select(
        "cnt",
        F.row_number().over(Window.orderBy("cnt")).alias("__rn"),
        F.count("*").over(Window.partitionBy(F.lit(1))).alias("__n"),
    )
    med = ranked.filter(F.col("__rn") == F.expr("(__n + 1) DIV 2")).select(
        (F.col("cnt") + F.lit(1)).cast("long").alias("__thr")
    )
    return cells.crossJoin(F.broadcast(med))


def bivariate_morans_i(cells: DataFrame) -> DataFrame:
    """Bivariate Moran's I between two layers of ONE lattice — does
    variable x in a cell co-vary with variable y in the NEIGHBORING
    cells?  ``cells`` carries ``(gx, gy, x, y)`` (both integer-valued;
    one row per cell where both layers are defined); binary 3×3 queen
    weights, self excluded:

      I_xy = (n / W) · Σᵢⱼ wᵢⱼ(xᵢ−x̄)(yⱼ−ȳ)
             / √(Σᵢ(xᵢ−x̄)² · Σᵢ(yᵢ−ȳ)²)

    (symmetric weights make I_xy = I_yx; with y = x this reduces
    exactly to :func:`morans_i`).  The cross term expands to
    ``A − x̄·P − ȳ·Q + x̄·ȳ·W`` with A = Σ xᵢ·ynbrᵢ, P = Σ ynbrᵢ,
    Q = Σ k_ex·xᵢ, W = Σ k_ex — ALL exact integer aggregates over one
    ×9 explode that carries y to the neighbors and tags x/y on the
    self offset; float algebra only on the final 1-row scalars.
    NOTE: Σx·ynbr must stay under int64 — quantize/downscale heavy
    layers (e.g. pixel-mass sums) before calling at large SF.

    Output: ONE row ``(n_cells, w_pairs, i_xy, e_i)`` — NULLs when
    n < 2, W == 0, or either layer is constant.
    """
    contrib = cells.withColumn(
        "__o",
        F.explode(
            F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ])
        ),
    ).select(
        (F.col("gx") + F.col("__o.dx")).alias("gx"),
        (F.col("gy") + F.col("__o.dy")).alias("gy"),
        F.col("y"),
        F.col("x"),
        ((F.col("__o.dx") == 0) & (F.col("__o.dy") == 0)).cast("int").alias("__self"),
    )
    occupied = (
        contrib.groupBy("gx", "gy")
        .agg(
            F.sum("y").alias("__ysum"),
            F.count("*").alias("__k"),
            F.max("__self").alias("__occ"),
            F.max(F.when(F.col("__self") == 1, F.col("x"))).alias("x"),
            F.max(F.when(F.col("__self") == 1, F.col("y"))).alias("y"),
        )
        .filter(F.col("__occ") == 1)
    )
    ynbr = F.col("__ysum") - F.col("y")
    k_ex = F.col("__k") - 1
    agg = occupied.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx1"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum("y").alias("sy1"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
        F.sum(F.col("x") * ynbr).alias("a"),
        F.sum(ynbr).alias("p"),
        F.sum(k_ex * F.col("x")).alias("q"),
        F.sum(k_ex).alias("w"),
    )
    n, w = F.col("n"), F.col("w")
    xbar = F.col("sx1") / n
    ybar = F.col("sy1") / n
    cross = F.col("a") - xbar * F.col("p") - ybar * F.col("q") + xbar * ybar * w
    varx = F.col("sx2") - n * (xbar * xbar)
    vary = F.col("sy2") - n * (ybar * ybar)
    ok = (n > 1) & (w > 0) & (varx > 0) & (vary > 0)
    i_xy = F.when(ok, (n / (w * F.lit(1.0))) * cross / F.sqrt(varx * vary))
    e_i = F.when(n > 1, F.lit(-1.0) / (n - F.lit(1.0)))
    return agg.select(
        n.alias("n_cells"),
        w.alias("w_pairs"),
        i_xy.alias("i_xy"),
        e_i.alias("e_i"),
    )


def kde_raster(points: DataFrame, cell: int, r_cells: int) -> DataFrame:
    """Kernel-density raster over fixed-point integer coordinates — the
    smoothed companion to a plain count raster, with a QUANTIZED
    Epanechnikov kernel so every output is an exact integer:

      kde(c) = Σ_{points p: d²(p, center(c)) < Q} (Q − d²),
      Q = (r_cells · cell)²

    ``points`` carries integer columns ``(x, y)`` (fixed-point, e.g.
    milli-degrees); ``cell`` is the raster pitch in the same units
    (must be even so centers ``cx·cell + cell/2`` stay integral);
    the kernel support is r_cells · cell, so each point contributes to
    at most (2r+1)² raster cells.

    Plan at scale: ONE ×(2r+1)² explode + ONE hash aggregate — the
    same bounded fan-out shape as the occupancy statistics, map-side
    combinable, no joins, no windows; d² and the kernel weights are
    exact int64, so the aggregate is partition-order invariant and a
    DuckDB twin replays it bit-for-bit.  Choose cell/r so the fan-out
    stays O(10) per point (r = 2 → ×25); for a finer kernel raise the
    raster resolution, not r.

    Output: ``(cx, cy, n_pts, kde)`` — one row per raster cell with at
    least one in-support point; ``n_pts`` counts the contributing
    points (strictly inside the support).
    """
    if cell % 2 != 0:
        raise ValueError(f"cell must be even (integral centers), got {cell}")
    if r_cells < 1:
        raise ValueError(f"r_cells must be >= 1, got {r_cells}")
    q = (r_cells * cell) ** 2
    half = cell // 2
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in range(-r_cells, r_cells + 1)
        for dy in range(-r_cells, r_cells + 1)
    ])
    px = F.floor(F.col("x") / cell).cast("long")
    py = F.floor(F.col("y") / cell).cast("long")
    contrib = (
        points.select("x", "y", px.alias("px"), py.alias("py"))
        .withColumn("__o", F.explode(offsets))
        .select(
            (F.col("px") + F.col("__o.dx")).alias("cx"),
            (F.col("py") + F.col("__o.dy")).alias("cy"),
            F.col("x"),
            F.col("y"),
        )
    )
    dx = F.col("x") - (F.col("cx") * cell + F.lit(half))
    dy = F.col("y") - (F.col("cy") * cell + F.lit(half))
    w = F.lit(q) - (dx * dx + dy * dy)
    return (
        contrib.withColumn("__w", w)
        .filter(F.col("__w") > 0)
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n_pts"), F.sum("__w").alias("kde"))
    )


def stkde_raster(
    points: DataFrame, cell: int, r_cells: int, t_bin: int, r_t: int
) -> DataFrame:
    """Space-TIME kernel-density raster — :func:`kde_raster` with a
    separable time axis, the smoothed space-time-cube surface behind
    emerging-hotspot workflows:

      stkde(c, τ) = Σ_p (Q_s − d²_s)·(Q_t − d²_t)  over points inside
      BOTH supports, Q_s = (r_cells·cell)², Q_t = (r_t·t_bin)²

    ``points`` carries integer ``(x, y, t)`` — coordinates fixed-point,
    ``t`` PRE-QUANTIZED to coarse units (e.g. days, not µs) so the
    integer products stay exact: the caller must keep
    Q_s·Q_t·n_points < 2⁶³ (µs-scale t would overflow Q_t alone).
    ``cell`` and ``t_bin`` must be even (integral centers).

    Plan at scale: ONE bounded ×(2r+1)²·(2r_t+1) explode + ONE
    map-side-combinable hash aggregate — the kde_raster shape with a
    third key column; no joins, no windows, partition-order invariant.

    Output: ``(cx, cy, ct, n_pts, stkde)`` — one row per space-time
    cell with ≥ 1 point inside both supports.
    """
    if cell % 2 != 0 or t_bin % 2 != 0:
        raise ValueError(
            f"cell and t_bin must be even (integral centers), got {cell}, {t_bin}"
        )
    if r_cells < 1 or r_t < 1:
        raise ValueError(f"r_cells and r_t must be >= 1, got {r_cells}, {r_t}")
    q_s = (r_cells * cell) ** 2
    q_t = (r_t * t_bin) ** 2
    offsets = F.array(*[
        F.struct(
            F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dt).alias("dt")
        )
        for dx in range(-r_cells, r_cells + 1)
        for dy in range(-r_cells, r_cells + 1)
        for dt in range(-r_t, r_t + 1)
    ])
    contrib = (
        points.select(
            "x",
            "y",
            "t",
            F.floor(F.col("x") / cell).cast("long").alias("px"),
            F.floor(F.col("y") / cell).cast("long").alias("py"),
            F.floor(F.col("t") / t_bin).cast("long").alias("pt"),
        )
        .withColumn("__o", F.explode(offsets))
        .select(
            (F.col("px") + F.col("__o.dx")).alias("cx"),
            (F.col("py") + F.col("__o.dy")).alias("cy"),
            (F.col("pt") + F.col("__o.dt")).alias("ct"),
            F.col("x"),
            F.col("y"),
            F.col("t"),
        )
    )
    dx = F.col("x") - (F.col("cx") * cell + F.lit(cell // 2))
    dy = F.col("y") - (F.col("cy") * cell + F.lit(cell // 2))
    dt = F.col("t") - (F.col("ct") * t_bin + F.lit(t_bin // 2))
    w_s = F.lit(q_s) - (dx * dx + dy * dy)
    w_t = F.lit(q_t) - dt * dt
    return (
        contrib.withColumn("__ws", w_s)
        .withColumn("__wt", w_t)
        .filter((F.col("__ws") > 0) & (F.col("__wt") > 0))
        .groupBy("cx", "cy", "ct")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum(F.col("__ws") * F.col("__wt")).alias("stkde"),
        )
    )


_bound_2sfca_cache = make_bounded_cache()  # catchment pairs (consumed twice)


def accessibility_2sfca(
    demand: DataFrame,
    supply: DataFrame,
    radius: int,
    scale: int = 10**9,
) -> DataFrame:
    """Two-step floating catchment area (2SFCA) — the classic spatial
    ACCESSIBILITY statistic (how well is each demand location served by
    the supply layer, competition included):

      step 1 (supply side):  R_j = capacity_j / D_j, with D_j = number
      of demand points within ``radius`` of supply site j;
      step 2 (demand side):  A_i = Σ R_j over supply sites within
      ``radius`` of demand point i.

    ``demand`` carries ``(demand_id, x, y)`` and ``supply``
    ``(supply_id, x, y, capacity)`` with integer fixed-point coords and
    integer capacities.  The ratio is FIXED-POINT QUANTIZED —
    ``r_j = (capacity_j · scale) DIV D_j`` — so step 2's sum is a sum
    of exact int64 (partition-order invariant, DuckDB-exact); the true
    accessibility is ``access / scale``.  The catchment test is the
    exact integer predicate ``d² ≤ radius²`` (inclusive boundary).

    Plan at 100 TB: the demand side is scanned once and reaches the
    candidate join shuffle-free on the radius-pitch grid key (the
    supply side explodes ×9 — supply layers are the small dimension by
    nature; AQE picks broadcast vs shuffle).  The pair set is bounded
    by catchment density, aggregates once per side (two key shuffles),
    and the D_j table joins back co-partitioned on supply_id.

    Output: ``(demand_id, n_supply, access)`` — one row per demand
    point with ≥ 1 in-range supply site; supply sites with an empty
    catchment contribute nothing (no demand to serve ⇒ no ratio).
    """
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    d = demand.select(
        "demand_id",
        "x",
        "y",
        F.floor(F.col("x") / radius).alias("gx"),
        F.floor(F.col("y") / radius).alias("gy"),
    )
    s9 = (
        supply.select(
            "supply_id",
            F.col("x").alias("sx"),
            F.col("y").alias("sy"),
            "capacity",
            F.floor(F.col("x") / radius).alias("sgx"),
            F.floor(F.col("y") / radius).alias("sgy"),
        )
        .withColumn("__o", F.explode(offsets))
        .select(
            "supply_id",
            "sx",
            "sy",
            "capacity",
            (F.col("sgx") + F.col("__o.dx")).alias("gx"),
            (F.col("sgy") + F.col("__o.dy")).alias("gy"),
        )
    )
    dx = F.col("x") - F.col("sx")
    dy = F.col("y") - F.col("sy")
    pairs = _bound_2sfca_cache(
        d.join(s9, ["gx", "gy"])
        .filter(dx * dx + dy * dy <= F.lit(int(radius) * int(radius)).cast("long"))
        .select("demand_id", "supply_id", "capacity")
    )
    ratio = (
        pairs.groupBy("supply_id", "capacity")
        .agg(F.count("*").alias("d_j"))
        .select(
            "supply_id",
            F.expr(f"(capacity * CAST({scale} AS BIGINT)) DIV d_j").alias("r_j"),
        )
    )
    return (
        pairs.select("demand_id", "supply_id")
        .join(ratio, "supply_id")
        .groupBy("demand_id")
        .agg(F.count("*").alias("n_supply"), F.sum("r_j").alias("access"))
    )


def ripley_k(
    points: DataFrame,
    radii: list[float],
    area: float,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Ripley's K and L functions — point-pattern clustering across
    scales (no edge correction; callers pass the study-window ``area``):

      K(r) = A · |{(i,j): i≠j, dᵢⱼ ≤ r}| / n²,    L(r) = √(K(r)/π)

    for the given radius ladder; under complete spatial randomness
    K(r) ≈ πr², so L(r) − r > 0 flags clustering at scale r.

    Plan at scale (the grid-DBSCAN candidate cut): points land in a
    max(radii)-sized grid, the probe side explodes ×9 to its
    neighborhood cells and equi-joins the build side on the cell — every
    pair within max(radii) shares a probe/build cell exactly once (the
    build cell is unique), so candidates are O(n · local density), never
    n², and no dedup is needed.  The whole ladder is answered from ONE
    candidate pass (conditional sums per radius).  Distances are planar
    on ``(x_col, y_col)`` — the same metric contract as
    ``clustering.dbscan`` / ``map_match_join``; pair counts are exact
    integers, so K is partition-order invariant.

    Output: one row per radius — ``(r, n_pairs, k_r, l_r)`` (ordered
    pairs, both directions, per the classic Σᵢ≠ⱼ).
    """
    g = float(max(radii))
    # the gridded points feed THREE consumers (probe side, build side,
    # the n count) — bounded-lifetime cache so the raw points scan +
    # projection runs once, not three times (repo caching convention)
    cells = _bound_ripley_cache(
        points.select(
            F.col(id_col).alias("__id"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.floor(F.col(x_col) / g).cast("long").alias("cx"),
            F.floor(F.col(y_col) / g).cast("long").alias("cy"),
        )
    )
    n_row = cells.agg(F.count("*").alias("__n"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    probe = cells.withColumn("__o", F.explode(offs)).select(
        F.col("__id").alias("id_a"),
        F.col("__x").alias("xa"),
        F.col("__y").alias("ya"),
        (F.col("cx") + F.col("__o.dx")).alias("jx"),
        (F.col("cy") + F.col("__o.dy")).alias("jy"),
    )
    build = cells.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    cand = probe.join(build, ["jx", "jy"]).filter(F.col("id_a") != F.col("id_b"))
    counts = cand.agg(*[
        F.sum((d2 <= F.lit(float(r) * float(r))).cast("long")).alias(f"__c{i}")
        for i, r in enumerate(radii)
    ])
    ladder = F.explode(
        F.array(*[
            F.struct(
                F.lit(float(r)).alias("r"), F.col(f"__c{i}").alias("n_pairs")
            )
            for i, r in enumerate(radii)
        ])
    )
    out = counts.crossJoin(F.broadcast(n_row)).select(
        ladder.alias("__l"), F.col("__n")
    )
    k_r = F.lit(float(area)) * F.col("__l.n_pairs") / (F.col("__n") * F.col("__n"))
    return out.select(
        F.col("__l.r").alias("r"),
        F.col("__l.n_pairs").alias("n_pairs"),
        k_r.alias("k_r"),
        F.sqrt(k_r / F.lit(math.pi)).alias("l_r"),
    )


# ESRI D8 direction codes, clockwise from east; the tuple order IS the
# deterministic tie-break priority
_D8_DIRS = [
    (1, 1, 0), (2, 1, -1), (4, 0, -1), (8, -1, -1),
    (16, -1, 0), (32, -1, 1), (64, 0, 1), (128, 1, 1),
]


def d8_flow_direction(
    raster: DataFrame,
    x_col: str = "x",
    y_col: str = "y",
    ele_col: str = "ele",
) -> DataFrame:
    """D8 flow direction over an integer-elevation raster — for each
    cell, the ESRI direction code (E=1, SE=2, S=4, SW=8, W=16, NW=32,
    N=64, NE=128; 0 = sink/flat) of the steepest-DESCENT neighbor.

    Exactness: the classic drop/distance comparison (diagonals ÷ √2)
    is replaced by its squared integer form — straight neighbors score
    ``2·drop²``, diagonals ``drop²`` (equivalent ordering for positive
    drops, no float anywhere); ties break by the fixed clockwise-from-
    east code order, missing (boundary) neighbors simply never score.
    Every score is an exact int64, so any engine replaying the same
    CASE order produces identical directions.

    Plan at scale: the occupancy shape — each cell's elevation is
    EXPLODED ×9 to its neighborhood (itself included as the center
    tag) and ONE map-side-combinable hash aggregate per target cell
    collects the 8 directional elevations as conditional maxes; no
    self-join of the raster.  Output is one row per cell that exists
    in the input.

    Output: ``(x, y, ele, flow_dir, best_score)`` — ``best_score`` the
    winning squared-scaled drop (0 for sinks/flats).
    """
    offs = F.array(
        F.struct(F.lit(0).alias("dx"), F.lit(0).alias("dy"), F.lit(0).alias("d")),
        *[
            # a row emitted from source s with offset (dx,dy) lands on
            # target t = s + (dx,dy); s is then t's neighbor in
            # direction (-dx,-dy) — so each code (nx,ny) is emitted
            # with offset (-nx,-ny)
            F.struct(
                F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(code).alias("d")
            )
            for code, nx, ny in _D8_DIRS
            for dx, dy in [(-nx, -ny)]
        ],
    )
    fan = raster.select(
        F.col(x_col).alias("__x"),
        F.col(y_col).alias("__y"),
        F.col(ele_col).cast("long").alias("__e"),
        F.explode(offs).alias("__o"),
    ).select(
        (F.col("__x") + F.col("__o.dx")).alias("x"),
        (F.col("__y") + F.col("__o.dy")).alias("y"),
        F.col("__o.d").alias("__d"),
        F.col("__e"),
    )
    agg = fan.groupBy("x", "y").agg(
        F.max(F.when(F.col("__d") == 0, F.col("__e"))).alias("__c"),
        *[
            F.max(F.when(F.col("__d") == code, F.col("__e"))).alias(f"__e{code}")
            for code, _, _ in _D8_DIRS
        ],
    )
    # cells that exist in the input carry the center tag; pure-neighbor
    # phantom rows (outside the raster) do not
    agg = agg.filter(F.col("__c").isNotNull())
    scores = []
    for code, nx, ny in _D8_DIRS:
        drop = F.col("__c") - F.col(f"__e{code}")
        mult = 2 if nx * ny == 0 else 1  # straight beats diagonal at eq drop
        scores.append(
            F.coalesce(
                F.when(drop > 0, F.lit(mult) * (drop * drop)), F.lit(0)
            ).alias(f"__s{code}")
        )
    sc = agg.select("x", "y", F.col("__c").alias("ele"), *scores)
    m = F.greatest(*[F.col(f"__s{code}") for code, _, _ in _D8_DIRS])
    best = F.when(m == 0, F.lit(0))
    for code, _, _ in _D8_DIRS:
        best = best.when(F.col(f"__s{code}") == m, F.lit(code))
    return sc.select(
        "x",
        "y",
        "ele",
        best.alias("flow_dir"),
        m.alias("best_score"),
    )


def d8_basins(
    flow: DataFrame,
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Watershed basins from a D8 flow-direction raster — every cell
    drains along its :func:`d8_flow_direction` pointer to a unique
    sink (D8 descent is strictly downhill, so the pointer forest is
    acyclic); basins are the sink-rooted trees, reported as sizes.

    Pointer DOUBLING, not step-by-step walking: ``parent(c)`` starts
    as c's D8 neighbor (sinks self-loop); each round sets
    ``parent = parent(parent)`` with ONE equi-join of the label table
    against itself on the cell key — a drainage path of length L
    resolves in ⌈log₂ L⌉ rounds (the default ``max_iter=40`` covers
    paths of 2⁴⁰ cells), vs L rounds for naive following.  Each
    round's labels are snapshot via ``graph.plan_snapshotter``
    (``localCheckpoint`` by default; pass ``checkpoint_dir`` for the
    executor-loss-tolerant mode at cluster scale — the
    ``connected_components`` contract) so lineage stays flat.
    Convergence = a fixpoint round with zero parent changes;
    ``on_nonconverged`` ("raise"/"warn") guards truncated runs.

    Input: ``(x, y, flow_dir)`` with ESRI codes (0 = sink).  Output:
    one row per basin — ``(sink_x, sink_y, n_cells)``.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}"
        )
    from gotrackmaster_spark.operators.graph import plan_snapshotter

    dx = F.lit(0)
    dy = F.lit(0)
    for code, nx, ny in _D8_DIRS:
        dx = F.when(F.col("flow_dir") == code, F.lit(nx)).otherwise(dx)
        dy = F.when(F.col("flow_dir") == code, F.lit(ny)).otherwise(dy)
    with plan_snapshotter(flow.sparkSession, checkpoint_dir) as snap:
        lab = snap(
            flow.select(
                F.col("x"),
                F.col("y"),
                (F.col("x") + dx).alias("px"),
                (F.col("y") + dy).alias("py"),
            )
        )
        changed = -1
        for _ in range(max_iter):
            p2 = lab.select(
                F.col("x").alias("qx"),
                F.col("y").alias("qy"),
                F.col("px").alias("npx"),
                F.col("py").alias("npy"),
            )
            new = snap(
                lab.join(
                    p2,
                    (lab["px"] == p2["qx"]) & (lab["py"] == p2["qy"]),
                ).select("x", "y", F.col("npx").alias("px"), F.col("npy").alias("py"))
            )
            changed = (
                new.withColumnRenamed("px", "nx2")
                .withColumnRenamed("py", "ny2")
                .join(lab, ["x", "y"])
                .filter((F.col("nx2") != F.col("px")) | (F.col("ny2") != F.col("py")))
                .count()
            )
            lab = new
            if changed == 0:
                break
    if changed != 0:
        msg = (
            f"d8_basins did NOT converge in max_iter={max_iter} doubling "
            f"rounds ({changed} parents still changing) — drainage length "
            f"exceeds 2^max_iter?! Labels are WRONG for unresolved cells."
        )
        if on_nonconverged == "raise":
            raise ValueError(msg)
        _LOG.warning(msg)
    return (
        lab.groupBy("px", "py")
        .agg(F.count("*").alias("n_cells"))
        .select(
            F.col("px").alias("sink_x"), F.col("py").alias("sink_y"), "n_cells"
        )
    )


_bound_grav_cache = make_bounded_cache()  # observed O-D flows (gravity)
_bound_grav_j_cache = make_bounded_cache()  # margin-joined flows (2 readers)


def gravity_residuals(flows: DataFrame, quant: int = 10**6) -> DataFrame:
    """Unconstrained gravity-model fit of an observed O-D flow table —
    which corridors carry MORE traffic than their size and distance
    explain?  Over ``flows(o_gx, o_gy, d_gx, d_gy, flow)`` (cell-index
    O-D pairs with observed counts):

      w_ij      = quant DIV (1 + d²_ij)        (integer inverse-square
                  deterrence; d² = cell-index distance, exact int)
      expected  = T_tot · (O_i·D_j·w_ij) / Σ_obs (O·D·w)
      residual  = flow − expected,   z = residual / √expected

    The normalisation runs over the OBSERVED pairs only — never the
    n_cells² universe — so the whole model is joins on real cell keys:
    two margin aggregates broadcast back onto the flow table, one
    1-row (T_tot, denominator) aggregate attached as a scalar.
    Everything before the final division is an exact integer (margins,
    weights, O·D·w products — contract: Σ O·D·w < 2⁶³, i.e. total flow
    ≲ 10⁶ at quant = 10⁶), and the float algebra is fixed-order, so a
    DuckDB twin reproduces every residual bit-for-bit.

    Output: one row per observed pair — ``(o_gx, o_gy, d_gx, d_gy,
    flow, o_tot, d_tot, w_q, expected, residual, z_score)``; the float
    columns are NULL when the denominator degenerates to 0.
    """
    if quant <= 0:
        raise ValueError(f"quant must be positive, got {quant}")
    f = _bound_grav_cache(
        flows.select("o_gx", "o_gy", "d_gx", "d_gy", "flow")
    )
    o_m = f.groupBy("o_gx", "o_gy").agg(F.sum("flow").alias("o_tot"))
    d_m = f.groupBy("d_gx", "d_gy").agg(F.sum("flow").alias("d_tot"))
    # the margin-joined table feeds TWO consumers (the scalar normaliser
    # and the output projection) — bounded cache so the margin aggs +
    # broadcast joins execute once, not per consumer
    j = _bound_grav_j_cache(
        f.join(F.broadcast(o_m), ["o_gx", "o_gy"])
        .join(F.broadcast(d_m), ["d_gx", "d_gy"])
        .withColumn(
            "w_q",
            F.expr(
                f"{int(quant)} DIV (1 + (o_gx - d_gx) * (o_gx - d_gx)"
                " + (o_gy - d_gy) * (o_gy - d_gy))"
            ),
        )
    )
    num = (F.col("o_tot") * F.col("d_tot")) * F.col("w_q")
    scalar = j.agg(
        F.sum("flow").alias("__tot"), F.sum(num).alias("__den")
    )
    # 1-row scalar attach (the ripley_k BNLJ-allowlisted shape)
    out = j.crossJoin(F.broadcast(scalar))
    expected = (F.col("__tot").cast("double") * num) / F.col("__den")
    guard = F.col("__den") > 0
    return out.select(
        "o_gx",
        "o_gy",
        "d_gx",
        "d_gy",
        "flow",
        "o_tot",
        "d_tot",
        "w_q",
        F.when(guard, expected).alias("expected"),
        F.when(guard, F.col("flow") - expected).alias("residual"),
        F.when(
            guard & (num > 0), (F.col("flow") - expected) / F.sqrt(expected)
        ).alias("z_score"),
    )


_ROSE_LABELS = ["E", "NE", "N", "NW", "W", "SW", "S", "SE"]


def octant_sector(dx, dy):
    """8-way direction sector of an INTEGER displacement by pure
    comparisons — deliberately NO atan2 (transcendental boundary
    values are not bit-pinned across engines, integer comparisons
    are).  Sector k covers bearings [45k°, 45k°+45°) CCW from +x;
    labels name each octant's START bearing (0=E 1=NE 2=N 3=NW 4=W
    5=SW 6=S 7=SE); NULL for the zero displacement.  The CASE arms are
    mutually exclusive and exhaustive over nonzero (dx, dy) — axis and
    diagonal boundaries land in the octant they open (half-open
    contract), so a DuckDB twin with the same arm order agrees on
    every leg."""
    return (
        F.when((dx == 0) & (dy == 0), F.lit(None).cast("int"))
        .when((dx > 0) & (dy >= 0) & (dy < dx), F.lit(0))
        .when((dy > 0) & (dx > 0) & (dx <= dy), F.lit(1))
        .when((dy > 0) & (dx <= 0) & (-dx < dy), F.lit(2))
        .when((dx < 0) & (dy > 0) & (dy <= -dx), F.lit(3))
        .when((dx < 0) & (dy <= 0) & (-dy < -dx), F.lit(4))
        .when((dy < 0) & (dx < 0) & (-dx <= -dy), F.lit(5))
        .when((dy < 0) & (dx >= 0) & (dx < -dy), F.lit(6))
        .otherwise(F.lit(7))
    )


def movement_rose(
    points: DataFrame,
    user_col: str = "user_id",
    order_cols: tuple = ("ts", "event_id"),
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Movement-direction rose — the trajectory-heading distribution
    over consecutive per-user displacement legs, classified into the
    eight :func:`octant_sector` octants entirely with integer
    comparisons (bit-exact in any engine; the usual atan2 rose is
    not).  Zero-displacement legs form their own ``none`` row.

    Plan at scale: ONE lag window per user (the ``leg_haversine``
    shuffle — points exchange once on the user key) feeding ONE
    map-side-combinable ≤9-group aggregate; the share normalisation is
    a window over the 9-row result, not the data.  ``n_legs`` and
    ``sum_d2`` are exact int64 (contract: Σ d² < 2⁶³ — at 10⁹ legs
    keep coordinates ≲ 10⁶ units); ``share`` is one long/long
    division.

    Output: ``(sector, label, n_legs, sum_d2, share)`` — one row per
    octant that actually occurs (plus ``none`` if any zero leg).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(*[F.col(c) for c in order_cols])
    legs = points.select(
        (F.col(x_col) - F.lag(x_col).over(w)).alias("dx"),
        (F.col(y_col) - F.lag(y_col).over(w)).alias("dy"),
    ).filter(F.col("dx").isNotNull() & F.col("dy").isNotNull())
    d2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    per = (
        legs.select(octant_sector(F.col("dx"), F.col("dy")).alias("sector"), d2.alias("__d2"))
        .groupBy("sector")
        .agg(F.count("*").alias("n_legs"), F.sum("__d2").alias("sum_d2"))
    )
    wall = Window.partitionBy()  # ≤9 rows: the share normaliser
    label = F.when(F.col("sector").isNull(), F.lit("none")).otherwise(
        F.element_at(
            F.array(*[F.lit(s) for s in _ROSE_LABELS]), F.col("sector") + 1
        )
    )
    return per.select(
        "sector",
        label.alias("label"),
        "n_legs",
        "sum_d2",
        (F.col("n_legs") / F.sum("n_legs").over(wall)).alias("share"),
    )


_bound_xk_cache = make_bounded_cache()  # gridded flagged points (cross-K)


def cross_ripley_k(
    points: DataFrame,
    radii: list[float],
    area: float,
    cat_col: str = "is_a",
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Bivariate (cross-type) Ripley's K — does type A cluster AROUND
    type B, beyond what each pattern does alone?

      K_AB(r) = A · |{(i∈A, j∈B): d_ij ≤ r}| / (n_A · n_B),
      L_AB(r) = √(K_AB(r)/π)

    for the radius ladder; under independent CSR patterns
    K_AB(r) ≈ πr², so L_AB(r) − r > 0 flags cross-attraction and < 0
    repulsion at scale r.  ``cat_col`` is a boolean — TRUE rows are the
    A (probe) pattern, FALSE rows the B (build) pattern; A↛B pairs are
    the statistic (i ≠ j is implied: the types are disjoint).

    Plan at scale: identical to :func:`ripley_k` — ONE grid candidate
    pass at max(radii) pitch (×9 probe explode, equi-join on the cell,
    conditional sums per radius), candidates O(n · local cross-density),
    never n_A·n_B.  Pair counts are exact integers, so K is
    partition-order invariant given fixed-order float division.

    Output: one row per radius — ``(r, n_pairs, k_ab, l_ab)``;
    k/l are NULL when either pattern is empty.
    """
    g = float(max(radii))
    base = _bound_xk_cache(
        points.select(
            F.col(id_col).alias("__id"),
            F.col(cat_col).cast("boolean").alias("__a"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.floor(F.col(x_col) / g).cast("long").alias("cx"),
            F.floor(F.col(y_col) / g).cast("long").alias("cy"),
        )
    )
    n_row = base.agg(
        F.coalesce(F.sum(F.col("__a").cast("long")), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum((~F.col("__a")).cast("long")), F.lit(0)).alias("n_b"),
    )
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    probe = base.filter("__a").withColumn("__o", F.explode(offs)).select(
        F.col("__x").alias("xa"),
        F.col("__y").alias("ya"),
        (F.col("cx") + F.col("__o.dx")).alias("jx"),
        (F.col("cy") + F.col("__o.dy")).alias("jy"),
    )
    build = base.filter(~F.col("__a")).select(
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    cand = probe.join(build, ["jx", "jy"])
    counts = cand.agg(*[
        F.coalesce(
            F.sum((d2 <= F.lit(float(r) * float(r))).cast("long")), F.lit(0)
        ).alias(f"__c{i}")
        for i, r in enumerate(radii)
    ])
    ladder = F.explode(
        F.array(*[
            F.struct(
                F.lit(float(r)).alias("r"), F.col(f"__c{i}").alias("n_pairs")
            )
            for i, r in enumerate(radii)
        ])
    )
    # 1-row × 1-row scalar join (the ripley_k BNLJ-allowlisted shape)
    out = counts.crossJoin(F.broadcast(n_row)).select(
        ladder.alias("__l"), F.col("n_a"), F.col("n_b")
    )
    guard = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    k_ab = (
        F.lit(float(area)) * F.col("__l.n_pairs") / (F.col("n_a") * F.col("n_b"))
    )
    return out.select(
        F.col("__l.r").alias("r"),
        F.col("__l.n_pairs").alias("n_pairs"),
        F.when(guard, k_ab).alias("k_ab"),
        F.when(guard, F.sqrt(k_ab / F.lit(math.pi))).alias("l_ab"),
    )


_bound_ce_cache = make_bounded_cache()  # gridded points (Clark-Evans NN)
_bound_gfn_cache = make_bounded_cache()  # gridded points (G-function NN)
_bound_quadrat_cache = make_bounded_cache()  # flagged quadrat points


def _grid_nn_d2(
    points: DataFrame,
    r_max: int,
    cache,
    id_col: str,
    x_col: str,
    y_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Per-point nearest-neighbor squared distance within ``r_max`` via
    the grid candidate cut shared by ``clark_evans`` / ``nn_gfunction``:
    points land in an r_max-pitch grid, the probe side explodes ×9 to
    its neighborhood and equi-joins the build side on the cell — any
    true NN ≤ r_max shares a probe cell, so the per-point candidate min
    IS the NN; a min beyond r_max is only a candidate-set artifact and
    is dropped (the caller counts those points as out-of-range).

    Returns ``(nn, n_row)``: ``nn(__id, __d2)`` for in-range points
    (``__d2`` exact int64 on integer fixed-point coords) and the 1-row
    total count ``n_row(n_pts)``.
    """
    if r_max <= 0:
        raise ValueError(f"r_max must be positive, got {r_max}")
    cells = cache(
        points.select(
            F.col(id_col).alias("__id"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.floor(F.col(x_col) / r_max).cast("long").alias("cx"),
            F.floor(F.col(y_col) / r_max).cast("long").alias("cy"),
        )
    )
    n_row = cells.agg(F.count("*").alias("n_pts"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    probe = cells.withColumn("__o", F.explode(offs)).select(
        F.col("__id").alias("id_a"),
        F.col("__x").alias("xa"),
        F.col("__y").alias("ya"),
        (F.col("cx") + F.col("__o.dx")).alias("jx"),
        (F.col("cy") + F.col("__o.dy")).alias("jy"),
    )
    build = cells.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    nn = (
        probe.join(build, ["jx", "jy"])
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy(F.col("id_a").alias("__id"))
        .agg(F.min(d2).alias("__d2"))
        # a min over ring candidates beyond r_max is NOT the true NN —
        # only the in-range min is trusted (the rest count as far)
        .filter(F.col("__d2") <= F.lit(int(r_max) * int(r_max)).cast("long"))
    )
    return nn, n_row


def clark_evans(
    points: DataFrame,
    r_max: int,
    area: float,
    quant: int = 1000,
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Clark-Evans nearest-neighbor index — the classic first-order
    point-pattern statistic (R < 1 clustered, R ≈ 1 CSR, R → 2.15
    perfectly dispersed):

      R = d̄_obs / E[d],   E[d] = 1 / (2·√λ),   λ = n / area,
      z = (d̄_obs − E[d]) / (0.26136 / √(n·λ))

    with a BOUNDED-search contract: each point's nearest neighbor is
    found within ``r_max`` via the grid candidate cut (×9 probe-side
    explode on an r_max-pitch grid — any true NN ≤ r_max must share a
    probe cell, so the per-point min over candidates IS the NN);
    points whose NN is farther than ``r_max`` are excluded from the
    mean and reported as ``n_far`` (on a CSR field P(NN > r_max) =
    exp(−λπr²) — choose r_max so this is negligible and n_far ≈ 0).

    Determinism: coords are integer fixed-point, so each point's NN d²
    is an exact int64; the per-point distance is then QUANTIZED —
    ``d_q = floor(√d² · quant)`` (√ and × are IEEE exact-rounded, so
    d_q is bit-deterministic in any engine) — making Σ d_q an exact
    integer and the remaining algebra a fixed-order scalar expression
    a DuckDB twin replays bit-for-bit.

    Output: ONE row — ``(n_pts, n_near, n_far, sum_dq, mean_nn,
    r_index, z_score)``; mean/index/z are NULL when ``n_near = 0``.
    """
    nn, n_row = _grid_nn_d2(points, r_max, _bound_ce_cache, id_col, x_col, y_col)
    dq = F.floor(F.sqrt(F.col("__d2")) * F.lit(float(quant))).cast("long")
    near = nn.agg(
        F.count("*").alias("n_near"), F.sum(dq).alias("sum_dq")
    )
    # 1-row × 1-row scalar join (both sides are ungrouped aggregations —
    # the ripley_k / knox_stat BNLJ-allowlisted shape)
    j = n_row.crossJoin(F.broadcast(near))
    n = F.col("n_pts").cast("double")
    lam = n / F.lit(float(area))
    mean_nn = (F.col("sum_dq") / F.col("n_near").cast("double")) / F.lit(float(quant))
    expected = F.lit(0.5) / F.sqrt(lam)
    guard = F.col("n_near") > 0
    return j.select(
        "n_pts",
        F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        (F.col("n_pts") - F.coalesce(F.col("n_near"), F.lit(0))).alias("n_far"),
        "sum_dq",
        F.when(guard, mean_nn).alias("mean_nn"),
        F.when(guard, mean_nn / expected).alias("r_index"),
        F.when(
            guard,
            (mean_nn - expected) / (F.lit(0.26136) / F.sqrt(n * lam)),
        ).alias("z_score"),
    )


def nn_gfunction(
    points: DataFrame,
    step: int,
    n_bands: int,
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Nearest-neighbor G-function — the empirical CDF of NN distances,
    the distribution companion to the ``clark_evans`` scalar:

      G(r) = |{i : d_NN(i) ≤ r}| / n

    evaluated on the radius ladder r = step, 2·step, …, n_bands·step.
    Under CSR G(r) = 1 − exp(−λπr²); clustered patterns rise faster,
    dispersed ones slower.

    Plan at scale: ONE ``_grid_nn_d2`` pass at r_max = n_bands·step
    (×9 probe explode, per-point min — candidates O(n · local
    density)), then the whole ladder is answered by conditional sums
    over the per-point NN table, exactly the ``ripley_k`` idiom.  NN d²
    is an exact int64 on integer fixed-point coords and every band
    count compares ints, so ``n_le`` is partition-order invariant and a
    DuckDB twin reproduces ``g_r = n_le / n`` bit-for-bit.  Points with
    no neighbor within the top rung count in ``n`` only (the true CDF
    denominator — G is exact for r ≤ the ladder top).

    Output: one row per rung — ``(r, n_le, g_r)``; ``g_r`` is NULL on
    an empty input.
    """
    if step <= 0 or n_bands <= 0:
        raise ValueError(f"step and n_bands must be positive, got {step}, {n_bands}")
    r_max = int(step) * int(n_bands)
    nn, n_row = _grid_nn_d2(points, r_max, _bound_gfn_cache, id_col, x_col, y_col)
    counts = nn.agg(*[
        F.coalesce(
            F.sum(
                (
                    F.col("__d2")
                    <= F.lit(int(step) * k * int(step) * k).cast("long")
                ).cast("long")
            ),
            F.lit(0),
        ).alias(f"__c{k}")
        for k in range(1, n_bands + 1)
    ])
    ladder = F.explode(
        F.array(*[
            F.struct(
                F.lit(int(step) * k).cast("long").alias("r"),
                F.col(f"__c{k}").alias("n_le"),
            )
            for k in range(1, n_bands + 1)
        ])
    )
    # 1-row × 1-row scalar join (both sides ungrouped aggregations —
    # the ripley_k / clark_evans BNLJ-allowlisted shape)
    out = counts.crossJoin(F.broadcast(n_row)).select(
        ladder.alias("__l"), F.col("n_pts")
    )
    return out.select(
        F.col("__l.r").alias("r"),
        F.col("__l.n_le").alias("n_le"),
        F.when(
            F.col("n_pts") > 0,
            F.col("__l.n_le") / F.col("n_pts"),
        ).alias("g_r"),
    )


def quadrat_test(
    points: DataFrame,
    cell: int,
    width: int,
    height: int,
    id_col: str = "event_id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Quadrat-count test of complete spatial randomness — the
    variance-mean ratio over a ``cell``-pitch partition of the
    ``[0,width) × [0,height)`` study window:

      VMR = s² / x̄   (Poisson ⇒ 1; >1 clustered, <1 dispersed)
      χ² = Σ_q (c_q − x̄)² / x̄ = (n_q − 1)·VMR,  df = n_q − 1
      z = (VMR − 1) / √(2 / (n_q − 1))

    Empty quadrats COUNT (the classic trap): n_q = (width/cell)·
    (height/cell) comes from the window, not from the data, so
    Σ(c−x̄)² = Σc² − x̄·n_in needs only the occupied-cell Σc² — one
    map-side-combinable groupBy + one tiny aggregate, no joins on the
    points side (the occupancy shape — scales to any point count).
    Points outside the window are excluded and reported as ``n_out``.
    Σc² and the counts are exact integers; the VMR/χ²/z algebra is a
    fixed-order scalar expression a DuckDB twin replays bit-for-bit.

    Output: ONE row — ``(n_pts, n_in, n_out, n_quadrats, n_occupied,
    sum_c2, mean_c, vmr, chi2, z_score)``; vmr/chi2/z are NULL when
    ``n_in = 0``.
    """
    if cell <= 0 or width <= 0 or height <= 0:
        raise ValueError("cell, width and height must be positive")
    if width % cell or height % cell:
        raise ValueError(
            f"window {width}×{height} must be a whole number of {cell}-cells"
        )
    n_q = (width // cell) * (height // cell)
    if n_q < 2:
        raise ValueError("need at least 2 quadrats for a variance")
    base = _bound_quadrat_cache(
        points.select(
            (
                (F.col(x_col) >= 0)
                & (F.col(x_col) < width)
                & (F.col(y_col) >= 0)
                & (F.col(y_col) < height)
            ).alias("__in"),
            F.floor(F.col(x_col) / cell).cast("long").alias("qx"),
            F.floor(F.col(y_col) / cell).cast("long").alias("qy"),
        )
    )
    tot = base.agg(
        F.count("*").alias("n_pts"),
        F.coalesce(F.sum(F.col("__in").cast("long")), F.lit(0)).alias("n_in"),
    )
    occ = (
        base.filter("__in")
        .groupBy("qx", "qy")
        .agg(F.count("*").alias("__c"))
        .agg(
            F.count("*").alias("n_occupied"),
            F.coalesce(F.sum(F.col("__c") * F.col("__c")), F.lit(0)).alias(
                "sum_c2"
            ),
        )
    )
    # 1-row × 1-row scalar join (the clark_evans BNLJ-allowlisted shape)
    j = tot.crossJoin(F.broadcast(occ))
    n_q_d = F.lit(float(n_q))
    mean_c = F.col("n_in") / n_q_d
    ss = F.col("sum_c2") - mean_c * F.col("n_in")
    vmr = (ss / F.lit(float(n_q - 1))) / mean_c
    guard = F.col("n_in") > 0
    return j.select(
        "n_pts",
        "n_in",
        (F.col("n_pts") - F.col("n_in")).alias("n_out"),
        F.lit(int(n_q)).cast("long").alias("n_quadrats"),
        "n_occupied",
        "sum_c2",
        mean_c.alias("mean_c"),
        F.when(guard, vmr).alias("vmr"),
        F.when(guard, ss / mean_c).alias("chi2"),
        F.when(
            guard,
            (vmr - F.lit(1.0)) / F.sqrt(F.lit(2.0) / F.lit(float(n_q - 1))),
        ).alias("z_score"),
    )


def knox_statistic(
    points: DataFrame,
    delta: float,
    tau_us: int,
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
    t_col: str = "t_us",
) -> DataFrame:
    """Knox space–time interaction test — do events that happen close in
    space also happen close in time (disease-outbreak / burst detection)?

    Over ordered pairs (i, j), i ≠ j:

      X  = |{d_ij ≤ δ and |t_i − t_j| ≤ τ}|        (space-time close)
      Nₛ = |{d_ij ≤ δ}|,   Nₜ = |{|t_i − t_j| ≤ τ}|,   N = n(n−1)
      knox_ratio = X·N / (Nₛ·Nₜ)                    (≈ 1 under independence)
      z = (X − E) / √E,  E = Nₛ·Nₜ / N              (Poisson approximation)

    Plan at scale — TWO bounded candidate cuts, never n²:

    - the spatial side reuses the grid-DBSCAN ×9 probe-cell equi-join
      (δ-sized grid; every pair with d ≤ δ shares a probe/build cell
      exactly once), O(n · spatial density) candidates; X and Nₛ fall
      out of the SAME pass as conditional sums;
    - the temporal side keys on the τ-aligned floor multiple of t and
      probes offsets {−τ, 0, +τ} (lossless: |Δt| ≤ τ ⇒ the two floor
      multiples differ by at most τ), O(n · temporal density)
      candidates; floor alignment uses the double-pmod idiom so
      pre-epoch (negative) timestamps bucket identically to DuckDB's.

    All four counts are exact integers, so ratio and z are
    partition-order invariant; the final algebra converts each count to
    double BEFORE multiplying (n(n−1) stays in int64 up to n ≈ 3·10⁹ —
    beyond that the double products lose ULPs identically in any IEEE
    engine).  Degenerate inputs (n < 2, Nₛ = 0 or Nₜ = 0) yield NULL
    ratio/z, not errors.  Distances are planar on ``(x_col, y_col)`` —
    the same metric contract as ``ripley_k`` / ``clustering.dbscan``.

    Output: ONE row — ``(n, s_pairs, t_pairs, st_pairs, knox_ratio, z)``.
    """
    g = float(delta)
    tau = int(tau_us)
    # the gridded points feed FIVE consumers (spatial probe/build,
    # temporal probe/build, the n count) — bounded-lifetime cache so the
    # raw points scan + projection runs once (repo caching convention)
    base = _bound_knox_cache(
        points.select(
            F.col(id_col).alias("__id"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.col(t_col).cast("long").alias("__t"),
            F.floor(F.col(x_col) / g).cast("long").alias("cx"),
            F.floor(F.col(y_col) / g).cast("long").alias("cy"),
        )
    )
    n_row = base.agg(F.count("*").alias("n"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    probe = base.withColumn("__o", F.explode(offs)).select(
        F.col("__id").alias("id_a"),
        F.col("__x").alias("xa"),
        F.col("__y").alias("ya"),
        F.col("__t").alias("ta"),
        (F.col("cx") + F.col("__o.dx")).alias("jx"),
        (F.col("cy") + F.col("__o.dy")).alias("jy"),
    )
    build = base.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("__t").alias("tb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    close_s = d2 <= F.lit(g * g)
    close_t = F.abs(F.col("ta") - F.col("tb")) <= F.lit(tau)
    s_counts = (
        probe.join(build, ["jx", "jy"])
        .filter(F.col("id_a") != F.col("id_b"))
        .agg(
            F.coalesce(F.sum(close_s.cast("long")), F.lit(0)).alias("s_pairs"),
            F.coalesce(
                F.sum((close_s & close_t).cast("long")), F.lit(0)
            ).alias("st_pairs"),
        )
    )
    # τ-aligned floor multiple; double-pmod keeps negative t exact and
    # mirrors the DuckDB twin's expression verbatim
    t0 = F.col("__t") - ((F.col("__t") % tau + tau) % tau)
    t_probe = base.withColumn("__d", F.explode(F.array(
        F.lit(-tau).cast("long"), F.lit(0).cast("long"), F.lit(tau).cast("long")
    ))).select(
        F.col("__id").alias("id_a"),
        F.col("__t").alias("ta"),
        (t0 + F.col("__d")).alias("tk"),
    )
    t_build = base.select(
        F.col("__id").alias("id_b"), F.col("__t").alias("tb"), t0.alias("tk")
    )
    t_counts = (
        t_probe.join(t_build, "tk")
        .filter(F.col("id_a") != F.col("id_b"))
        .agg(F.coalesce(F.sum(close_t.cast("long")), F.lit(0)).alias("t_pairs"))
    )
    out = s_counts.crossJoin(F.broadcast(t_counts)).crossJoin(F.broadcast(n_row))
    s_d = F.col("s_pairs").cast("double")
    t_d = F.col("t_pairs").cast("double")
    st_d = F.col("st_pairs").cast("double")
    nn_d = (F.col("n") * (F.col("n") - 1)).cast("double")
    guard = (F.col("n") > 1) & (F.col("s_pairs") > 0) & (F.col("t_pairs") > 0)
    e = s_d * t_d / nn_d
    return out.select(
        "n",
        "s_pairs",
        "t_pairs",
        "st_pairs",
        F.when(guard, st_d * nn_d / (s_d * t_d)).alias("knox_ratio"),
        F.when(guard, (st_d - e) / F.sqrt(e)).alias("z"),
    )


def semivariogram(
    points: DataFrame,
    band_edges: list[float],
    id_col: str = "event_id",
    x_col: str = "lon",
    y_col: str = "lat",
    v_col: str = "value",
) -> DataFrame:
    """Empirical semivariogram — the geostatistics companion to
    ``within_radius_join``/IDW: how does the squared value difference
    grow with pair distance?

      γ(band) = Σ_{(i,j): i≠j, h_lo < d_ij ≤ h_hi} (v_i − v_j)²
                / (2 · |pairs in band|)

    over ordered pairs (both directions — numerator and denominator
    double together, so γ is the classic unordered value).  Bands are
    the half-open ``(band_edges[k], band_edges[k+1]]`` rungs; d = 0
    pairs fall in no band (coincident points are the caller's nugget
    decision).

    Plan at scale: ONE candidate pass answers the whole ladder — the
    grid-DBSCAN ×9 probe-cell equi-join at ``max(band_edges)`` grid
    size (lossless for d ≤ the top edge), conditional sums per band;
    candidates are O(n · local density), never n².  Pass an INTEGER
    ``v_col`` (fixed-point quantized upstream) and both the pair counts
    and the squared-difference sums stay exact integers — γ is then a
    single exact-int division, bit-identical across engines and
    partition orders.  Distances are planar on ``(x_col, y_col)``.

    Output: one row per band — ``(h_lo, h_hi, n_pairs, gamma)``;
    ``gamma`` is NULL for empty bands.
    """
    edges = [float(e) for e in band_edges]
    if len(edges) < 2 or any(b <= a for a, b in zip(edges, edges[1:])):
        raise ValueError("band_edges must be ≥ 2 strictly increasing values")
    g = edges[-1]
    # gridded points feed probe + build — bounded-lifetime cache so the
    # raw points scan + projection runs once (repo caching convention)
    base = _bound_vario_cache(
        points.select(
            F.col(id_col).alias("__id"),
            F.col(x_col).alias("__x"),
            F.col(y_col).alias("__y"),
            F.col(v_col).cast("long").alias("__v"),
            F.floor(F.col(x_col) / g).cast("long").alias("cx"),
            F.floor(F.col(y_col) / g).cast("long").alias("cy"),
        )
    )
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
    ])
    probe = base.withColumn("__o", F.explode(offs)).select(
        F.col("__id").alias("id_a"),
        F.col("__x").alias("xa"),
        F.col("__y").alias("ya"),
        F.col("__v").alias("va"),
        (F.col("cx") + F.col("__o.dx")).alias("jx"),
        (F.col("cy") + F.col("__o.dy")).alias("jy"),
    )
    build = base.select(
        F.col("__id").alias("id_b"),
        F.col("__x").alias("xb"),
        F.col("__y").alias("yb"),
        F.col("__v").alias("vb"),
        F.col("cx").alias("jx"),
        F.col("cy").alias("jy"),
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    dv2 = (F.col("va") - F.col("vb")) * (F.col("va") - F.col("vb"))
    cand = probe.join(build, ["jx", "jy"]).filter(F.col("id_a") != F.col("id_b"))
    bands = list(zip(edges, edges[1:]))
    in_band = [
        (d2 > F.lit(lo * lo)) & (d2 <= F.lit(hi * hi)) for lo, hi in bands
    ]
    counts = cand.agg(
        *[
            F.coalesce(F.sum(b.cast("long")), F.lit(0)).alias(f"__n{i}")
            for i, b in enumerate(in_band)
        ],
        *[
            F.coalesce(
                F.sum(F.when(b, dv2).otherwise(F.lit(0))), F.lit(0)
            ).alias(f"__s{i}")
            for i, b in enumerate(in_band)
        ],
    )
    ladder = F.explode(
        F.array(*[
            F.struct(
                F.lit(lo).alias("h_lo"),
                F.lit(hi).alias("h_hi"),
                F.col(f"__n{i}").alias("n_pairs"),
                F.col(f"__s{i}").alias("sq_sum"),
            )
            for i, (lo, hi) in enumerate(bands)
        ])
    )
    out = counts.select(ladder.alias("__l")).select("__l.*")
    return out.select(
        "h_lo",
        "h_hi",
        "n_pairs",
        F.when(
            F.col("n_pairs") > 0,
            F.col("sq_sum").cast("double")
            / (F.col("n_pairs") * 2).cast("double"),
        ).alias("gamma"),
    )


def sd_ellipse(
    points: DataFrame,
    group_cols: list[str],
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Standard deviational ellipse per group — the classic directional-
    dispersion statistic (mean center, standard distance, ellipse
    semi-axes and orientation) summarizing WHERE a group's points sit
    and HOW they spread.

    From the raw moments n, Σx, Σy, Σx², Σy², Σxy:

      x̄ = Σx/n,  C_xx = Σx²/n − x̄²,  C_yy, C_xy analogous
      B = √((C_xx − C_yy)² + 4·C_xy²)
      θ = ½·atan2(2·C_xy, C_xx − C_yy)          (major-axis angle, (−π/2, π/2])
      λ± = (C_xx + C_yy ± B) / 2                (eigenvalues)
      sd = √(C_xx + C_yy),  a = √λ₊,  b = √λ₋

    Plan at scale: ONE map-side-combinable hash aggregate — no window,
    no join, nothing but the group-by shuffle, at any group count.
    Pass INTEGER (fixed-point quantized) coordinates: the six moments
    then stay exact integers (bounds: |x|³·n under 2⁶³ via Σx² ≤
    n·max x²), and every float derives from them in a fixed expression
    order — partition-order invariant, engine-replayable.  Float
    cancellation can drive a variance or λ₋ epsilon-NEGATIVE on
    near-degenerate groups: every √ is guarded on the un-sqrt'd
    quantity (NULL, not NaN — the Gi* convention).  Collinear groups
    get λ₋ = 0; n = 1 groups get all-NULL dispersion.

    Output per group: ``(*group_cols, n, x_mean, y_mean, sd_dist,
    theta, ax_major, ax_minor)``.
    """
    agg = points.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(F.col(x_col).cast("long")).alias("__sx"),
        F.sum(F.col(y_col).cast("long")).alias("__sy"),
        F.sum((F.col(x_col) * F.col(x_col)).cast("long")).alias("__sxx"),
        F.sum((F.col(y_col) * F.col(y_col)).cast("long")).alias("__syy"),
        F.sum((F.col(x_col) * F.col(y_col)).cast("long")).alias("__sxy"),
    )
    n_d = F.col("n").cast("double")
    xbar = F.col("__sx") / n_d
    ybar = F.col("__sy") / n_d
    cxx = F.col("__sxx") / n_d - xbar * xbar
    cyy = F.col("__syy") / n_d - ybar * ybar
    cxy = F.col("__sxy") / n_d - xbar * ybar
    disc = (cxx - cyy) * (cxx - cyy) + 4 * (cxy * cxy)
    b_term = F.sqrt(disc)
    lam_hi = (cxx + cyy + b_term) / 2
    lam_lo = (cxx + cyy - b_term) / 2
    many = F.col("n") > 1
    return agg.select(
        *group_cols,
        "n",
        xbar.alias("x_mean"),
        ybar.alias("y_mean"),
        F.when(many & (cxx + cyy > 0), F.sqrt(cxx + cyy))
        .when(many, F.lit(0.0))
        .alias("sd_dist"),
        F.when(many, F.atan2(2 * cxy, cxx - cyy) / 2).alias("theta"),
        F.when(many & (lam_hi > 0), F.sqrt(lam_hi))
        .when(many, F.lit(0.0))
        .alias("ax_major"),
        F.when(many & (lam_lo > 0), F.sqrt(lam_lo))
        .when(many, F.lit(0.0))
        .alias("ax_minor"),
    )


# --------------------------------------------------------------------------
# E12 — per-group diameter: convex hull + rotating calipers in ONE
# Arrow batch per group (O(n log n)) vs the O(n²) all-pairs alternative
# --------------------------------------------------------------------------

def _hull_diameter(xs: np.ndarray, ys: np.ndarray) -> tuple[float, int]:
    """Exact planar diameter of a point set: monotone-chain convex hull,
    then a vectorized pairwise max over the HULL VERTICES only.

    O(n log n + h²) with h = hull size; h ≪ n for real point clouds
    (O(log n) expected for Gaussian-ish spreads), and the h² scan is
    exact under float noise — unlike rotating calipers, whose antipodal
    advance rule breaks down on nearly-degenerate (collinear-up-to-ULP)
    hulls.  The h² pass is chunked on BOTH axes (block area ≤ 4096²
    elements) so worst-case memory stays bounded even for
    convex-position inputs where h = n.
    Returns (max pairwise Euclidean distance, hull vertex count)."""
    pts = np.unique(np.column_stack([xs, ys]), axis=0)  # sorted lex (x, y)
    n = len(pts)
    if n == 1:
        return 0.0, 1

    def half(idx):
        out: list[int] = []
        for i in idx:
            while len(out) >= 2:
                ox, oy = pts[out[-2]]
                ax, ay = pts[out[-1]]
                if (ax - ox) * (pts[i, 1] - oy) - (ay - oy) * (pts[i, 0] - ox) <= 0:
                    out.pop()
                else:
                    break
            out.append(i)
        return out

    lower = half(range(n))
    upper = half(range(n - 1, -1, -1))
    hull = pts[lower[:-1] + upper[:-1]]
    h = len(hull)
    best = 0.0
    for s in range(0, h, 4096):
        blk = hull[s : s + 4096]
        for t in range(0, h, 4096):
            ref = hull[t : t + 4096]
            dx = blk[:, 0][:, None] - ref[:, 0][None, :]
            dy = blk[:, 1][:, None] - ref[:, 1][None, :]
            d2 = float((dx * dx + dy * dy).max())
            if d2 > best:
                best = d2
    return math.sqrt(best), h


def track_diameter(
    points: DataFrame,
    group_col: str = "user_id",
    x_col: str = "lon",
    y_col: str = "lat",
) -> DataFrame:
    """Per-group planar DIAMETER (max pairwise distance) — convex hull +
    rotating calipers inside one ``applyInPandas`` batch per group.

    Metric contract: planar Euclidean on raw ``(x_col, y_col)`` (same as
    ``clustering.dbscan`` / ``map_match_join``) — the hull argument is
    exact for any planar convex metric, so callers at geographic scale
    pass projected coordinates.

    Plan at scale: ONE exchange on the group key, then O(n log n) per
    group — vs the O(n²) per-group self-join a SQL formulation needs
    (the DuckDB oracle brute-forces exactly that; at 10⁶-point tracks
    the join explodes to 10¹² candidate rows while this kernel stays at
    ~20·10⁶ flops).  Group size is bounded by the largest single track,
    matching the repo's aIP memory contract.

    Output: ``(group_col, diam_deg, n_pts, hull_pts)`` with the diameter
    rounded to 7 dp (repo determinism rule: the rounding happens in a
    Spark ``F.round`` projection AFTER the kernel — BigDecimal HALF_UP,
    same tie behavior as the DuckDB oracle's ``round()`` — never with
    Python's banker's ``round``); the group column keeps the input's
    type.
    """
    group_type = dict(points.dtypes)[group_col]
    schema = f"{group_col} {group_type}, diam_deg double, n_pts long, hull_pts long"

    def kern(key, pdf):
        xs = pdf[x_col].to_numpy(dtype=np.float64)
        ys = pdf[y_col].to_numpy(dtype=np.float64)
        d, h = _hull_diameter(xs, ys)
        return pd.DataFrame(
            {
                group_col: [key[0]],
                "diam_deg": [d],
                "n_pts": [len(pdf)],
                "hull_pts": [h],
            }
        )

    return (
        points.select(group_col, x_col, y_col)
        .groupBy(group_col)
        .applyInPandas(kern, schema)
        .withColumn("diam_deg", F.round(F.col("diam_deg"), 7))
    )


def dissolve_union_cells(
    rects: DataFrame,
    group_col: str = "grp",
    pitch: float = 1.0,
) -> DataFrame:
    """Polygon DISSOLVE / union-area on the raster lattice — merge every
    group's (overlapping) polygons into one region and measure it, the
    GIS `ST_Union`+`ST_Area` analogue a cell engine answers without any
    geometry library: a lattice cell belongs to the union iff its CENTER
    is inside at least one member polygon, so the union's size is simply
    the DISTINCT count of covered cells (the `areal_disaggregate`
    center-in-rect semantics, aggregated instead of allocated).

    Input: axis-aligned rects ``(group_col, lat0, lat1, lon0, lon1)``
    (half-open [lo, hi) bounds).  Covered cell rows/cols come from the
    exact half-open center test — cell (iy, ix) of the ``pitch`` lattice
    has center ((iy+0.5)·pitch, (ix+0.5)·pitch), inside iff
    iy ∈ [ceil(lat0/pitch − 0.5), ceil(lat1/pitch − 0.5) − 1] (ditto
    ix) — both engines replay the identical ceil arithmetic, so the
    enumeration is deterministic.

    Plan at scale: per-rect fan-out is its area in cells (explode of two
    sequences — bounded by geometry/pitch, chosen by the caller); ONE
    distinct-aggregate on (group, iy, ix) then ONE count per group —
    the standard rasterized dissolve, no polygon-polygon joins at all.

    Output: ``(group_col, n_polys, sum_cells, union_cells,
    overlap_ratio)`` — sum_cells counts multiplicity (Σ per-polygon
    area), union_cells the dissolved size, overlap_ratio their
    fixed-order double quotient (≥ 1.0; 1.0 = disjoint members).
    """
    iy0 = F.ceil(F.col("lat0") / F.lit(pitch) - F.lit(0.5))
    iy1 = F.ceil(F.col("lat1") / F.lit(pitch) - F.lit(0.5)) - F.lit(1)
    ix0 = F.ceil(F.col("lon0") / F.lit(pitch) - F.lit(0.5))
    ix1 = F.ceil(F.col("lon1") / F.lit(pitch) - F.lit(0.5)) - F.lit(1)
    bounded = rects.select(
        F.col(group_col).alias("__g"),
        iy0.alias("__y0"), iy1.alias("__y1"),
        ix0.alias("__x0"), ix1.alias("__x1"),
    ).filter((F.col("__y1") >= F.col("__y0")) & (F.col("__x1") >= F.col("__x0")))
    per_poly = bounded.select(
        "__g",
        ((F.col("__y1") - F.col("__y0") + 1) * (F.col("__x1") - F.col("__x0") + 1)
         ).alias("__area"),
    ).groupBy("__g").agg(
        F.count("*").alias("n_polys"), F.sum("__area").alias("sum_cells")
    )
    cells = (
        bounded.select(
            "__g",
            F.explode(F.expr("sequence(__y0, __y1)")).alias("iy"),
            "__x0", "__x1",
        )
        .select("__g", "iy", F.explode(F.expr("sequence(__x0, __x1)")).alias("ix"))
        .groupBy("__g")
        .agg(F.countDistinct("iy", "ix").alias("union_cells"))
    )
    return per_poly.join(cells, "__g").select(
        F.col("__g").alias(group_col),
        "n_polys",
        "sum_cells",
        "union_cells",
        (F.col("sum_cells").cast("double") / F.col("union_cells").cast("double")
         ).alias("overlap_ratio"),
    )


def d8_flow_length(
    flow: DataFrame,
    max_iter: int = 40,
    checkpoint_dir: str | None = None,
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Downstream FLOW LENGTH per raster cell — the hydrology
    flow-length operator: the weighted distance each cell drains along
    its :func:`d8_flow_direction` pointer chain to its sink, with the
    standard integer step weights 10 (straight) / 14 (diagonal ≈ 10√2)
    so every length is an exact int64.

    Pointer doubling WITH WEIGHT ACCUMULATION: the state per cell is
    (parent, len) where len is the weighted length of the path already
    compressed; one equi-join round updates ``parent' = parent(parent)``
    and ``len' = len + len(parent)`` — the classic parallel
    list-ranking step, so a drainage path of length L resolves in
    ⌈log₂ L⌉ rounds (sinks self-loop with len 0, making the fixpoint
    stable).  Per-round lineage truncation via
    ``graph.plan_snapshotter`` (reliable ``checkpoint_dir`` mode — the
    ``d8_basins`` contract), convergence = zero parent changes,
    ``on_nonconverged`` raise/warn.

    Input: ``(x, y, flow_dir)`` ESRI codes (0 = sink).  Output: one row
    per cell — ``(x, y, sink_x, sink_y, flow_len)``.
    """
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            f"on_nonconverged must be 'raise' or 'warn', got {on_nonconverged!r}"
        )
    from gotrackmaster_spark.operators.graph import plan_snapshotter

    dx = F.lit(0)
    dy = F.lit(0)
    step = F.lit(0)
    for code, nx, ny in _D8_DIRS:
        dx = F.when(F.col("flow_dir") == code, F.lit(nx)).otherwise(dx)
        dy = F.when(F.col("flow_dir") == code, F.lit(ny)).otherwise(dy)
        step = F.when(
            F.col("flow_dir") == code, F.lit(10 if nx * ny == 0 else 14)
        ).otherwise(step)
    with plan_snapshotter(flow.sparkSession, checkpoint_dir) as snap:
        lab = snap(
            flow.select(
                F.col("x"),
                F.col("y"),
                (F.col("x") + dx).alias("px"),
                (F.col("y") + dy).alias("py"),
                step.cast("long").alias("len"),
            )
        )
        changed = -1
        for _ in range(max_iter):
            p2 = lab.select(
                F.col("x").alias("qx"),
                F.col("y").alias("qy"),
                F.col("px").alias("npx"),
                F.col("py").alias("npy"),
                F.col("len").alias("plen"),
            )
            new = snap(
                lab.join(
                    p2, (lab["px"] == p2["qx"]) & (lab["py"] == p2["qy"])
                ).select(
                    "x",
                    "y",
                    F.col("npx").alias("px"),
                    F.col("npy").alias("py"),
                    (F.col("len") + F.col("plen")).alias("len"),
                )
            )
            changed = (
                new.withColumnRenamed("px", "nx2")
                .withColumnRenamed("py", "ny2")
                .select("x", "y", "nx2", "ny2")
                .join(lab, ["x", "y"])
                .filter(
                    (F.col("nx2") != F.col("px")) | (F.col("ny2") != F.col("py"))
                )
                .count()
            )
            lab = new
            if changed == 0:
                break
    if changed != 0:
        msg = (
            f"d8_flow_length did NOT converge in max_iter={max_iter} doubling "
            f"rounds ({changed} parents still changing) — lengths are WRONG "
            f"for unresolved cells."
        )
        if on_nonconverged == "raise":
            raise ValueError(msg)
        _LOG.warning(msg)
    return lab.select(
        "x",
        "y",
        F.col("px").alias("sink_x"),
        F.col("py").alias("sink_y"),
        F.col("len").alias("flow_len"),
    )


def quadtree_leaves(
    points: DataFrame,
    lat_col: str = "lat",
    lon_col: str = "lon",
    min_level: int = 4,
    max_level: int = 8,
    cap: int = 50,
) -> DataFrame:
    """Adaptive QUADTREE spatial histogram — the adaptive-tiling /
    index-build operator: every point lands in the COARSEST cell of the
    Z-quadtree whose population is <= ``cap`` (walking levels
    ``min_level``..``max_level``; cells still over the cap at
    ``max_level`` stay there), so dense regions refine and sparse
    regions stay coarse — the canonical variable-resolution binning.

    Non-iterative at any scale: points pre-aggregate ONCE to
    ``max_level`` cells (the only points-sized operation); per-level
    populations are prefix GROUP-BYs of that (≤ 4^max_level)-row table,
    joined back by prefix (tiny, AQE broadcasts); the leaf level is a
    deterministic CASE over the level populations — no loop, no
    convergence, exact integer counts.

    Determinism: a cell's leaf level depends only on exact ancestor
    counts, so the leaf set and every count replay bit-for-bit in SQL.

    Output: ``(leaf_cell, level, n_points)`` — the leaf cells of the
    adaptive tree (cells with zero points are absent).
    """
    if not (0 <= min_level <= max_level):
        raise ValueError("need 0 <= min_level <= max_level")
    if cap < 1:
        raise ValueError("cap must be >= 1")
    base = (
        points.select(
            cell_col(F.col(lat_col), F.col(lon_col), max_level).alias("c")
        )
        .groupBy("c")
        .agg(F.count("*").alias("n"))
    )
    cur = base
    for lv in range(min_level, max_level):
        shift = 2 * (max_level - lv)
        anc = (
            base.groupBy(F.shiftright(F.col("c"), shift).alias(f"a{lv}"))
            .agg(F.sum("n").alias(f"n{lv}"))
        )
        cur = cur.withColumn(f"a{lv}", F.shiftright(F.col("c"), shift)).join(
            anc, f"a{lv}"
        )
    leaf_level = F.lit(max_level)
    leaf_cell = F.col("c")
    for lv in range(max_level - 1, min_level - 1, -1):
        cond = F.col(f"n{lv}") <= cap
        leaf_level = F.when(cond, F.lit(lv)).otherwise(leaf_level)
        leaf_cell = F.when(cond, F.col(f"a{lv}")).otherwise(leaf_cell)
    return (
        cur.select(
            leaf_cell.alias("leaf_cell"),
            leaf_level.cast("int").alias("level"),
            F.col("n"),
        )
        .groupBy("leaf_cell", "level")
        .agg(F.sum("n").alias("n_points"))
    )


_bound_hausdorff_cache = make_bounded_cache()   # expanded candidate d2 table

HAUSDORFF_MAX_CELL_DF = 64


def hausdorff_cell_pairs(
    traj: DataFrame,
    min_shared: int = 1,
    max_cell_df: int | None = HAUSDORFF_MAX_CELL_DF,
) -> DataFrame:
    """Symmetric Hausdorff distance between the visited-cell sets of
    trajectory pairs — the set-distance companion to the Jaccard
    trajectory join (reference analogue: the track-similarity verdicts
    of `/root/reference/cmd/duplicate.go`, generalized from band
    overlap to point-set distance).

      h(A→B) = max_{a∈A} min_{b∈B} d²(a, b)        (directed)
      H(A,B) = max(h(A→B), h(B→A))                 (symmetric)

    ``traj`` carries ``(tid, gx, gy)`` — one row per (trajectory,
    DISTINCT grid cell); d² is the squared integer grid distance, so
    every output is an exact integer (no float enters the pipeline).

    Two-stage cheap-filter → expensive-verify shape:

    1. candidate pairs from the per-cell inverted index (pairs sharing
       ≥ ``min_shared`` cells) — bounds the quadratic stage by spatial
       co-location; disjoint trajectories never meet.  HOT cells
       (visited by more than ``max_cell_df`` trajectories — downtown
       hubs) are dropped from the INDEX before the self-join, the
       ``jaccard_pairs`` stop-shingle convention: a cell with k
       trajectories contributes C(k,2) candidate pairs, so one hub at
       10⁹ scale is a quadratic blowup on a single shuffle key, while
       carrying no co-location signal (everyone is there).  The cap
       bounds per-cell candidate output at C(max_cell_df, 2);
       ``n_shared`` therefore counts shared NON-HOT cells, and pairs
       co-located only in hubs are (deliberately) not candidates;
    2. the exact max-min runs over CANDIDATE pairs only: one join of
       the pair list against each side's cell set, the d² matrix
       grouped twice (per a-cell mins → max = h(A→B); per b-cell mins
       → max = h(B→A)).  The expanded matrix feeds both directions, so
       it is bounded-lifetime cached and computed ONCE.

    At scale the matrix is |pairs|·|cells_a|·|cells_b| — bounded by the
    candidate cut and by cell-set size (trajectories are cell-sparse
    after ``distinct()``), never points².

    Output: ``(tid_a, tid_b, n_shared, h2_ab, h2_ba, h2)``.
    """
    vis = traj.select("tid", "gx", "gy")
    idx = vis
    if max_cell_df is not None:
        hot = (
            vis.groupBy("gx", "gy")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_cell_df)
            .select("gx", "gy")
        )
        # ≤ |vis| / max_cell_df hot cells exist by construction → tiny
        idx = vis.join(F.broadcast(hot), ["gx", "gy"], "left_anti")
    a, b = idx.alias("a"), idx.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gx") == F.col("b.gx"))
            & (F.col("a.gy") == F.col("b.gy"))
            & (F.col("a.tid") < F.col("b.tid")),
        )
        .groupBy(F.col("a.tid").alias("tid_a"), F.col("b.tid").alias("tid_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )
    ca = vis.select(
        F.col("tid").alias("tid_a"), F.col("gx").alias("agx"), F.col("gy").alias("agy")
    )
    cb = vis.select(
        F.col("tid").alias("tid_b"), F.col("gx").alias("bgx"), F.col("gy").alias("bgy")
    )
    dx, dy = F.col("agx") - F.col("bgx"), F.col("agy") - F.col("bgy")
    expanded = _bound_hausdorff_cache(
        cand.select("tid_a", "tid_b")
        .join(ca, "tid_a")
        .join(cb, "tid_b")
        .select("tid_a", "tid_b", "agx", "agy", "bgx", "bgy",
                (dx * dx + dy * dy).alias("d2"))
    )
    h_ab = (
        expanded.groupBy("tid_a", "tid_b", "agx", "agy")
        .agg(F.min("d2").alias("m"))
        .groupBy("tid_a", "tid_b")
        .agg(F.max("m").alias("h2_ab"))
    )
    h_ba = (
        expanded.groupBy("tid_a", "tid_b", "bgx", "bgy")
        .agg(F.min("d2").alias("m"))
        .groupBy("tid_a", "tid_b")
        .agg(F.max("m").alias("h2_ba"))
    )
    return (
        cand.join(h_ab, ["tid_a", "tid_b"])
        .join(h_ba, ["tid_a", "tid_b"])
        .select(
            "tid_a", "tid_b", "n_shared", "h2_ab", "h2_ba",
            F.greatest(F.col("h2_ab"), F.col("h2_ba")).alias("h2"),
        )
    )
