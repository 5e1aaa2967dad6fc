"""Cell/tile indexing, PIP, kNN, raster and track-kernel queries — split from driver_queries.py (round 4 registry
hygiene); star-re-exported by gotrackmaster_spark.driver_queries, which
remains the single public surface.  See driver_queries.py for the
determinism rules every query/oracle pair follows."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotrackmaster_spark.caching import make_bounded_cache
from gotrackmaster_spark.functions.cells import cell_col, cell_sql
from gotrackmaster_spark.functions.geodesy import (
    bearing_col,
    bearing_sql,
    distance_2d_col,
    distance_2d_sql,
    haversine_col,
    haversine_sql,
)
from gotrackmaster_spark.functions.tiles import (
    lat_tile_col,
    lat_tile_sql,
    lon_tile_col,
    lon_tile_sql,
    mercator_tile_cols,
    mercator_tile_sql,
    tile_name_col,
    tile_name_sql,
)

from gotrackmaster_spark.dq_common import *  # noqa: F401,F403,E402

# --------------------------------------------------------------------------
# Synthesized geotags over `events` (exact integer → float arithmetic).
# --------------------------------------------------------------------------

GO_ZERO_US = -62135596800 * 1_000_000  # Go zero time.Time in epoch µs


# --------------------------------------------------------------------------
# W3 — per-track leg Haversine sum (window lag + agg)
# --------------------------------------------------------------------------

def q_leg_haversine_sum(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id",
        haversine_col(
            F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
        ).alias("leg_m"),
    )
    return legs.groupBy("user_id").agg(
        F.round(F.sum("leg_m"), 1).alias("total_m"),
        F.count("leg_m").alias("n_legs"),
    )


SQL_LEG_HAVERSINE_SUM = f"""
WITH {GEO_CTE},
legs AS (
  SELECT user_id,
         {haversine_sql('lag(lat) OVER w', 'lag(lon) OVER w', 'lat', 'lon')} AS leg_m
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, round(sum(leg_m), 1) AS total_m, count(leg_m) AS n_legs
FROM legs GROUP BY user_id
"""


# --------------------------------------------------------------------------
# T1 — degree-grid tile assignment counts (1° and 0.5°)
# --------------------------------------------------------------------------

def q_tile_counts(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    return (
        pts.select(
            tile_name_col(F.col("lat"), F.col("lon"), 1.0).alias("tile1"),
            tile_name_col(F.col("lat"), F.col("lon"), 0.5).alias("tile05"),
        )
        .groupBy("tile1", "tile05")
        .agg(F.count("*").alias("n"))
    )


SQL_TILE_COUNTS = f"""
WITH {GEO_CTE}
SELECT {tile_name_sql('lat', 'lon', 1.0)} AS tile1,
       {tile_name_sql('lat', 'lon', 0.5)} AS tile05,
       count(*) AS n
FROM geo GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A1 + T2 — per-track bbox and corner tiles (ordered dedup as 4 columns)
# --------------------------------------------------------------------------

def q_bounds_tiles(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    b = pts.groupBy("user_id").agg(
        F.min("lat").alias("min_lat"),
        F.max("lat").alias("max_lat"),
        F.min("lon").alias("min_lon"),
        F.max("lon").alias("max_lon"),
    )
    lat1 = lat_tile_col(F.col("min_lat"), 1.0)
    lon1 = lon_tile_col(F.col("min_lon"), 1.0)
    lat2 = lat_tile_col(F.col("max_lat"), 1.0)
    lon2 = lon_tile_col(F.col("max_lon"), 1.0)
    return b.select(
        "user_id", "min_lat", "max_lat", "min_lon", "max_lon",
        F.concat(lat1, lon1).alias("tile_a"),
        F.when(lon1 != lon2, F.concat(lat1, lon2)).alias("tile_b"),
        F.when(lat1 != lat2, F.concat(lat2, lon1)).alias("tile_c"),
        F.when((lat1 != lat2) & (lon1 != lon2), F.concat(lat2, lon2)).alias("tile_d"),
    )


def _sql_bounds_tiles() -> str:
    lat1 = lat_tile_sql("min_lat", 1.0)
    lon1 = lon_tile_sql("min_lon", 1.0)
    lat2 = lat_tile_sql("max_lat", 1.0)
    lon2 = lon_tile_sql("max_lon", 1.0)
    return f"""
WITH {GEO_CTE},
b AS (
  SELECT user_id, min(lat) AS min_lat, max(lat) AS max_lat,
         min(lon) AS min_lon, max(lon) AS max_lon
  FROM geo GROUP BY user_id
)
SELECT user_id, min_lat, max_lat, min_lon, max_lon,
  {lat1} || {lon1} AS tile_a,
  CASE WHEN {lon1} <> {lon2} THEN {lat1} || {lon2} END AS tile_b,
  CASE WHEN {lat1} <> {lat2} THEN {lat2} || {lon1} END AS tile_c,
  CASE WHEN {lat1} <> {lat2} AND {lon1} <> {lon2} THEN {lat2} || {lon2} END AS tile_d
FROM b
"""


SQL_BOUNDS_TILES = _sql_bounds_tiles()


# --------------------------------------------------------------------------
# E1 — hierarchical cell index: level-12 cells rolled up to level-5 parents
# --------------------------------------------------------------------------

def q_cell_parent_counts(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    return (
        pts.select(cell_col(F.col("lat"), F.col("lon"), 12).alias("cell12"))
        .select(F.shiftright(F.col("cell12"), 2 * (12 - 5)).alias("cell5"))
        .groupBy("cell5")
        .agg(F.count("*").alias("n"))
    )


SQL_CELL_PARENT_COUNTS = f"""
WITH {GEO_CTE}
SELECT ({cell_sql('lat', 'lon', 12)} >> {2 * (12 - 5)}) AS cell5, count(*) AS n
FROM geo GROUP BY 1
"""


# --------------------------------------------------------------------------
# W2/W4 — hybrid 2D distance + speed defect counts per track
# --------------------------------------------------------------------------

_SPEED_MAX = 1000.0  # m/s threshold over synthetic (teleporting) points


def q_speed_defect_counts(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = distance_2d_col(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    dt = (F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))) / 1e6
    pairs = pts.select(
        "user_id",
        F.when(dt == 0, 0.0).otherwise(d / dt).alias("speed"),
    )
    return pairs.groupBy("user_id").agg(
        F.count(F.when(F.col("speed") > _SPEED_MAX, 1)).alias("n_defects"),
        F.count(F.col("speed")).alias("n_pairs"),
    )


SQL_SPEED_DEFECT_COUNTS = f"""
WITH {GEO_CTE},
pairs AS (
  SELECT user_id,
    CASE WHEN (epoch_us(ts) - epoch_us(lag(ts) OVER w)) = 0 THEN 0.0
         ELSE ({distance_2d_sql('lag(lat) OVER w', 'lag(lon) OVER w', 'lat', 'lon')})
              / ((epoch_us(ts) - epoch_us(lag(ts) OVER w)) / 1e6)
    END AS speed
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       count(CASE WHEN speed > {_SPEED_MAX!r} THEN 1 END) AS n_defects,
       count(speed) AS n_pairs
FROM pairs GROUP BY user_id
"""


# --------------------------------------------------------------------------
# A2 (SQL-expressible slice) — DistanceQuality's pairwise-distance sum and
# step-penalty base (distance.go:453-475: total 2D distance, step = d/n,
# 100 − 12·[step>30] − 6·[step>8]).  The defect-count deductions that
# complete A2 are sequential kernels (pinned to fixtures in
# tests/test_kernel_sweep.py); this oracle pins everything else.
# --------------------------------------------------------------------------

def q_distance_quality_base(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = distance_2d_col(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    per = pts.select("user_id", d.alias("leg"))
    agg = per.groupBy("user_id").agg(
        F.sum("leg").alias("dist"), F.count("*").alias("n_points")
    )
    step = F.round(F.col("dist") / F.col("n_points"), 6)
    return agg.select(
        "user_id",
        F.round("dist", 1).alias("dist_r"),
        "n_points",
        (
            F.lit(100.0)
            - F.when(step > 30.0, 12.0).otherwise(0.0)
            - F.when(step > 8.0, 6.0).otherwise(0.0)
        ).alias("base_quality"),
    )


SQL_DISTANCE_QUALITY_BASE = f"""
WITH {GEO_CTE},
per AS (
  SELECT user_id,
         {distance_2d_sql('lag(lat) OVER w', 'lag(lon) OVER w', 'lat', 'lon')} AS leg
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
agg AS (
  SELECT user_id, sum(leg) AS dist, count(*) AS n_points FROM per GROUP BY user_id
)
SELECT user_id, round(dist, 1) AS dist_r, n_points,
       CAST(100.0 - (CASE WHEN round(dist / n_points, 6) > 30.0 THEN 12.0 ELSE 0.0 END)
                  - (CASE WHEN round(dist / n_points, 6) > 8.0 THEN 6.0 ELSE 0.0 END)
       AS DOUBLE) AS base_quality
FROM agg
"""

# epoch µs with deterministic corruption: zero sentinel / pre-2000 / jitter
_TS2_US = f"""CASE
  WHEN event_id % 17 = 0 THEN {GO_ZERO_US}
  WHEN event_id % 31 = 0 THEN epoch_us(ts) - 1009459200000000
  ELSE epoch_us(ts) + ((event_id * 7919) % 1000 - 500) * 1000000 END"""


def _ts2_us_col():
    return (
        F.when(F.col("event_id") % 17 == 0, F.lit(GO_ZERO_US))
        .when(F.col("event_id") % 31 == 0, F.unix_micros(F.col("ts").cast("timestamp")) - 1009459200000000)
        .otherwise(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + ((F.col("event_id") * 7919) % 1000 - 500) * 1000000
        )
    )


def q_time_quality(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir).withColumn("ts2_us", _ts2_us_col())
    w = Window.partitionBy("user_id").orderBy("event_id")
    flags = pts.select(
        "user_id",
        F.when(
            ~(
                (F.col("ts2_us") != GO_ZERO_US)
                & (F.col("ts2_us") > _Y2K_US)
                & (F.col("ts2_us") < _NOW_US)
            ),
            1,
        ).otherwise(0).alias("invalid"),
        F.when(
            (F.lag("ts2_us").over(w).isNotNull())
            & (F.lag("ts2_us").over(w) != GO_ZERO_US)
            & (F.col("ts2_us") < F.lag("ts2_us").over(w)),
            4,
        ).otherwise(0).alias("backwards"),
    )
    agg = flags.groupBy("user_id").agg(
        (F.sum("invalid") + F.sum("backwards")).alias("num"),
        F.count("*").alias("total"),
    )
    return agg.select(
        "user_id",
        F.when(F.col("num") > F.col("total"), 0)
        .otherwise(100 - F.expr("(num * 100) div total"))
        .cast("int")
        .alias("time_quality"),
    )


SQL_TIME_QUALITY = f"""
WITH {GEO_CTE},
t2 AS (
  SELECT user_id, event_id, ({_TS2_US}) AS ts2_us FROM geo
),
flags AS (
  SELECT user_id,
    CASE WHEN NOT (ts2_us <> {GO_ZERO_US} AND ts2_us > {_Y2K_US} AND ts2_us < {_NOW_US})
         THEN 1 ELSE 0 END AS invalid,
    CASE WHEN lag(ts2_us) OVER w IS NOT NULL AND lag(ts2_us) OVER w <> {GO_ZERO_US}
              AND ts2_us < lag(ts2_us) OVER w
         THEN 4 ELSE 0 END AS backwards
  FROM t2
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
),
agg AS (
  SELECT user_id, sum(invalid) + sum(backwards) AS num, count(*) AS total
  FROM flags GROUP BY user_id
)
SELECT user_id,
  CAST(CASE WHEN num > total THEN 0 ELSE 100 - (num * 100) // total END AS INT)
    AS time_quality
FROM agg
"""


def _raw_creator_col():
    arr = F.array(*[F.lit(s) for s in _RAW_CREATORS])
    return F.element_at(arr, (F.col("event_id") % len(_RAW_CREATORS) + 1).cast("int"))


def q_creator_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(creator_ladder_col(_raw_creator_col()).alias("creator"))
        .groupBy("creator")
        .agg(F.count("*").alias("n"))
    )


SQL_CREATOR_COUNTS = f"""
SELECT {creator_ladder_sql(_raw_creator_sql())} AS creator, count(*) AS n
FROM events GROUP BY 1
"""


def flagship_tiles(points: DataFrame, polygons: DataFrame) -> DataFrame:
    """The flagship job: PIP hits of ``points(user_id, lat, lon)`` (Z level
    7) → 1° tile + level-5 cell → per-``(poly_id, tile)`` ``n_points``,
    ``n_cells``, ``n_tracks``.  Catalyst prunes an unselected distinct
    count, so dropping ``n_tracks`` costs nothing."""
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    hits = point_in_polygon_join(points, polygons, level=7)
    return (
        hits.withColumn("tile", tile_name_col(F.col("lat"), F.col("lon"), 1.0))
        .withColumn("cell5", F.shiftright(cell_col(F.col("lat"), F.col("lon"), 12), 14))
        .groupBy("poly_id", "tile")
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("cell5").alias("n_cells"),
            F.countDistinct("user_id").alias("n_tracks"),
        )
    )


def q_pip_counts(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    polys = rect_polygons(spark, sf_dir)
    hits = point_in_polygon_join(pts, polys, level=7)
    return hits.groupBy("poly_id").agg(F.count("*").alias("n_points"))


SQL_PIP_COUNTS = f"""
WITH {GEO_CTE},
rects AS ({_RECT_SQL})
SELECT r.poly_id, count(*) AS n_points
FROM geo g JOIN rects r
  ON g.lat > r.lat0 AND g.lat < r.lat1 AND g.lon > r.lon0 AND g.lon < r.lon1
GROUP BY r.poly_id
"""


def q_pip_counts_hex(spark, sf_dir):
    """E2 on the hexagonal lattice — H3-style polyfill covering + hex cell
    assignment; the inclusion result is grid-independent, so the oracle is
    the SAME brute-force rect join as `pip_counts` (any covering or
    assignment bug on the hex path hash-fails against it)."""
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    polys = rect_polygons(spark, sf_dir)
    hits = point_in_polygon_join(pts, polys, level=4, grid="hex")
    return hits.groupBy("poly_id").agg(F.count("*").alias("n_points"))


SQL_PIP_COUNTS_HEX = SQL_PIP_COUNTS


def q_pip_antijoin(spark, sf_dir):
    """E2 complement — coverage gaps: points inside NO polygon, counted per
    1° tile.  Scale shape: per-cell covering roll-up broadcast, points
    never expanded or shuffled before the final tile agg (see
    `point_in_polygon_anti`).  Oracle is brute-force NOT EXISTS over the
    same rects."""
    from gotrackmaster_spark.operators.spatial import point_in_polygon_anti

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    polys = rect_polygons(spark, sf_dir)
    # level 9, not 7: the verdict is exact at ANY level, but finer cells
    # classify far more of the covering as `full`/absent, so most points
    # pass on the `full` flag instead of running the ray-cast fold
    # (measured 2.16 s -> 1.34 s at sf0.1; level 11 regresses — covering
    # generation is O(4^level) per polygon bbox)
    out = point_in_polygon_anti(pts, polys, level=9)
    return (
        out.select(tile_name_col(F.col("lat"), F.col("lon"), 1.0).alias("tile"))
        .groupBy("tile")
        .agg(F.count("*").alias("n_uncovered"))
    )


SQL_PIP_ANTIJOIN = f"""
WITH {GEO_CTE},
rects AS ({_RECT_SQL})
SELECT {tile_name_sql('lat', 'lon', 1.0)} AS tile, count(*) AS n_uncovered
FROM geo g
WHERE NOT EXISTS (
  SELECT 1 FROM rects r
  WHERE g.lat > r.lat0 AND g.lat < r.lat1 AND g.lon > r.lon0 AND g.lon < r.lon1
)
GROUP BY 1
"""


# --------------------------------------------------------------------------
# E2d — polygon↔polygon overlap join (denser customer-keyed rect layer so
# the overlap set is non-degenerate at test scale; same float recipe as
# _RECT_SQL so Spark's ring-derived bboxes are bit-identical to the CTE)
# --------------------------------------------------------------------------

_CUST_RECT_SQL = """
  SELECT CAST(c_custkey AS VARCHAR) AS poly_id,
         CAST((CAST(c_custkey AS BIGINT) * 911) % 150 - 75 AS DOUBLE) + 0.00005 AS lat0,
         CAST((CAST(c_custkey AS BIGINT) * 911) % 150 - 75 AS DOUBLE) + 0.00005
           + CAST(3 + (c_custkey % 5) AS DOUBLE) AS lat1,
         CAST((CAST(c_custkey AS BIGINT) * 1931) % 340 - 170 AS DOUBLE) + 0.00005 AS lon0,
         CAST((CAST(c_custkey AS BIGINT) * 1931) % 340 - 170 AS DOUBLE) + 0.00005
           + CAST(4 + (c_custkey % 7) AS DOUBLE) AS lon1
  FROM customer
"""


def cust_rect_polygons(spark, sf_dir) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    n = F.col("c_custkey").cast("long")
    lat0 = ((n * 911) % 150 - 75).cast("double") + 0.00005
    lat1 = lat0 + (3 + (n % 5)).cast("double")
    lon0 = ((n * 1931) % 340 - 170).cast("double") + 0.00005
    lon1 = lon0 + (4 + (n % 7)).cast("double")
    ring = F.array(
        F.struct(lat0.alias("lat"), lon0.alias("lon")),
        F.struct(lat0.alias("lat"), lon1.alias("lon")),
        F.struct(lat1.alias("lat"), lon1.alias("lon")),
        F.struct(lat1.alias("lat"), lon0.alias("lon")),
    )
    return cust.select(
        F.col("c_custkey").cast("string").alias("poly_id"), ring.alias("ring")
    )


def q_poly_overlaps(spark, sf_dir):
    """E2d — polygon↔polygon overlap join: every pair of polygons whose
    interiors intersect.  Candidates come from the shared covering cell
    (two intersecting bboxes always share a bbox-grid cell, so the cell
    equi-join misses nothing); the exact interior test compares the
    ring-derived bboxes (exact for the rectilinear layer).  Scale shape:
    covering explode → single cell equi-join (AQE-skewable) → pair
    distinct — never all-pairs."""
    from gotrackmaster_spark.operators.spatial import polygon_covering

    polys = cust_rect_polygons(spark, sf_dir)
    cov = polygon_covering(polys, level=4).select(
        "poly_id",
        "cell",
        F.array_min(F.transform("ring", lambda p: p["lat"])).alias("lat_lo"),
        F.array_max(F.transform("ring", lambda p: p["lat"])).alias("lat_hi"),
        F.array_min(F.transform("ring", lambda p: p["lon"])).alias("lon_lo"),
        F.array_max(F.transform("ring", lambda p: p["lon"])).alias("lon_hi"),
    )
    a, b = cov.alias("a"), cov.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.poly_id") < F.col("b.poly_id"))
            & (F.col("a.lat_lo") < F.col("b.lat_hi"))
            & (F.col("a.lat_hi") > F.col("b.lat_lo"))
            & (F.col("a.lon_lo") < F.col("b.lon_hi"))
            & (F.col("a.lon_hi") > F.col("b.lon_lo")),
        )
        .select(
            F.col("a.poly_id").alias("poly_a"),
            F.col("b.poly_id").alias("poly_b"),
        )
        .distinct()
    )


SQL_POLY_OVERLAPS = f"""
WITH rects AS ({_CUST_RECT_SQL})
SELECT a.poly_id AS poly_a, b.poly_id AS poly_b
FROM rects a JOIN rects b
  ON a.poly_id < b.poly_id
 AND a.lat0 < b.lat1 AND a.lat1 > b.lat0
 AND a.lon0 < b.lon1 AND a.lon1 > b.lon0
"""


_TRAJ_J_NUM, _TRAJ_J_DEN = 3, 100  # Jaccard >= 0.03 (~p99 of the synthetic layer)
# hot-cell cap, the jaccard_pairs stop-shingle convention: a cell visited by
# k users yields C(k,2) candidate pairs on ONE shuffle key, so a downtown
# hub at 10⁹ users is a quadratic hot key; cells above the cap are dropped
# BEFORE the self-join and set sizes are computed AFTER the cap, so the
# result is exact Jaccard over the capped cell space.  sf0.01 max df = 6 —
# driver output unchanged by the cap.
_TRAJ_MAX_CELL_DF = 64


def q_trajectory_jaccard(spark, sf_dir):
    """Trajectory similarity join: user pairs whose visited-cell SETS
    (distinct level-6 cells) are Jaccard-similar.  Same set-similarity
    topology as `jaccard_pairs`: cell inverted-index self-join, with
    hot cells (df > _TRAJ_MAX_CELL_DF) dropped up front →
    shared-cell counts → PLAIN size joins (no O(users) broadcast, per
    the r2 scale fix) → integer cross-multiplied threshold (no float
    compare).  Real trajectories are cell-sparse, so the per-cell
    inverted index bounds candidates; the synthetic layer is dense,
    which only makes the toy-scale join bigger, not the plan wrong."""
    pts = (
        geo_events(spark, sf_dir)
        .select("user_id", cell_col(F.col("lat"), F.col("lon"), 6).alias("cell"))
        .distinct()
    )
    hot = (
        pts.groupBy("cell")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _TRAJ_MAX_CELL_DF)
        .select("cell")
    )
    pts = pts.join(F.broadcast(hot), "cell", "left_anti")
    sizes = pts.groupBy("user_id").agg(F.count("*").alias("sz"))
    a, b = pts.alias("a"), pts.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("ua"), F.col("b.user_id").alias("ub")
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        inter.join(sizes.select(F.col("user_id").alias("ua"), F.col("sz").alias("sza")), "ua")
        .join(sizes.select(F.col("user_id").alias("ub"), F.col("sz").alias("szb")), "ub")
        .filter(
            F.lit(_TRAJ_J_DEN) * F.col("n_shared")
            >= F.lit(_TRAJ_J_NUM) * (F.col("sza") + F.col("szb") - F.col("n_shared"))
        )
        .select("ua", "ub", "n_shared", "sza", "szb")
    )


SQL_TRAJECTORY_JACCARD = f"""
WITH {GEO_CTE},
vis0 AS (
  SELECT DISTINCT user_id, {cell_sql('lat', 'lon', 6)} AS cell FROM geo
),
hot AS (
  SELECT cell FROM vis0 GROUP BY cell HAVING count(*) > {_TRAJ_MAX_CELL_DF}
),
vis AS (
  SELECT v.* FROM vis0 v
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.cell = v.cell)
),
sizes AS (SELECT user_id, count(*) AS sz FROM vis GROUP BY user_id),
inter AS (
  SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_shared
  FROM vis a JOIN vis b ON a.cell = b.cell AND a.user_id < b.user_id
  GROUP BY 1, 2
)
SELECT i.ua, i.ub, i.n_shared, sa.sz AS sza, sb.sz AS szb
FROM inter i
JOIN sizes sa ON sa.user_id = i.ua
JOIN sizes sb ON sb.user_id = i.ub
WHERE {_TRAJ_J_DEN} * i.n_shared >= {_TRAJ_J_NUM} * (sa.sz + sb.sz - i.n_shared)
"""


# --------------------------------------------------------------------------
# E3 — kNN via k-ring candidates + exact fallback, vs brute-force oracle.
# Ranking is (round(dist_m, 3), data_id) in both engines.
# --------------------------------------------------------------------------

_KNN_K = 5


def _q_knn(spark, sf_dir, query_mod: int, k: int, **knn_kw):
    """The k nearest events of each event with ``event_id % 100 ==
    query_mod``; ``knn_kw`` picks the `knn_join` lattice and join."""
    import pyarrow.parquet as pq

    from gotrackmaster_spark.operators.spatial import knn_join

    pts = geo_events(spark, sf_dir)
    data = pts.select(F.col("event_id").alias("data_id"), "lat", "lon")
    qs = pts.filter(F.col("event_id") % 100 == query_mod).select(
        F.col("event_id").alias("query_id"), "lat", "lon"
    )
    # density sizing from the parquet footer — no extra Spark pass
    n_data = pq.ParquetFile(f"{sf_dir}/events.parquet").metadata.num_rows
    out = knn_join(qs, data, k=k, exclude_self=True, n_data=n_data, **knn_kw)
    return out.select(
        "query_id", "data_id", F.col("rank").alias("rnk"),
        F.round("dist_m", 3).alias("dist_r"),
    )


def q_knn(spark, sf_dir):
    return _q_knn(spark, sf_dir, 3, _KNN_K, level=7, ring=2)


_KNN_HEX_K = 4


def q_knn_hex(spark, sf_dir):
    """E3b — kNN via H3-style hex k-ring expansion with SORT-MERGE
    refinement (the north star's literal operator).  Exact: seam/polar
    queries fall back to the bounded brute-force phase."""
    return _q_knn(spark, sf_dir, 7, _KNN_HEX_K, level=3, ring=1, grid="hex",
                  broadcast_queries=False)


def _sql_knn(query_mod: int, k: int) -> str:
    return f"""
WITH {GEO_CTE},
q AS (SELECT event_id AS query_id, lat AS q_lat, lon AS q_lon FROM geo
      WHERE event_id % 100 = {query_mod}),
d AS (SELECT event_id AS data_id, lat AS d_lat, lon AS d_lon FROM geo),
pairs AS (
  SELECT query_id, data_id,
         round({haversine_sql('q_lat', 'q_lon', 'd_lat', 'd_lon')}, 3) AS dist_r
  FROM q CROSS JOIN d WHERE data_id <> query_id
),
ranked AS (
  SELECT query_id, data_id, dist_r,
         row_number() OVER (PARTITION BY query_id ORDER BY dist_r, data_id) AS rn
  FROM pairs
)
SELECT query_id, data_id, CAST(rn AS INT) AS rnk, dist_r
FROM ranked WHERE rn <= {k}
"""


SQL_KNN_HEX = _sql_knn(7, _KNN_HEX_K)
SQL_KNN = _sql_knn(3, _KNN_K)


# --------------------------------------------------------------------------
# J1 — duplicate detection: band self-join on (start time, start position)
# (cmd/duplicate.go:58-64 predicates at engine scale)
# --------------------------------------------------------------------------

_DUP_SECONDS = 7 * 24 * 3600.0
_DUP_METERS = 1_000_000.0


def q_duplicate_pairs(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import duplicate_join

    pts = geo_events(spark, sf_dir)
    first = pts.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "lat", "lon")).alias("s")
    )
    summaries = first.select(
        F.col("user_id").cast("string").alias("track_id"),
        (F.unix_micros(F.col("s.ts").cast("timestamp")) * 1000).alias("start_ts_ns"),
        F.col("s.lat").alias("start_lat"),
        F.col("s.lon").alias("start_lon"),
    )
    pairs = duplicate_join(
        summaries, _DUP_SECONDS, _DUP_METERS, level=4, ring=3
    )
    return pairs.select(
        "a_id", "b_id", F.round("start_dist_m", 2).alias("dist_r")
    )


SQL_DUPLICATE_PAIRS = f"""
WITH {GEO_CTE},
ranked AS (
  SELECT user_id, ts, lat, lon,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM geo
),
summ AS (
  SELECT CAST(user_id AS VARCHAR) AS track_id, epoch_us(ts) * 1000 AS start_ts_ns,
         lat AS start_lat, lon AS start_lon
  FROM ranked WHERE rn = 1
)
SELECT a.track_id AS a_id, b.track_id AS b_id,
       round({haversine_sql('a.start_lat', 'a.start_lon', 'b.start_lat', 'b.start_lon')}, 2) AS dist_r
FROM summ a JOIN summ b ON a.track_id < b.track_id
WHERE abs(a.start_ts_ns - b.start_ts_ns) <= {int(_DUP_SECONDS * 1e9)}
  AND {haversine_sql('a.start_lat', 'a.start_lon', 'b.start_lat', 'b.start_lon')} < {_DUP_METERS!r}
"""


# --------------------------------------------------------------------------
# J1 (full rule set) — start/end time + position bands, comparator status
# labels, delete eligibility (cmd/duplicate.go:49-78, :84-206)
# --------------------------------------------------------------------------

# 1-hour bands: start times at sf0.01 spread over ~2 days, so this keeps
# the time family selective (~10 % of pairs) instead of degenerate
_DUPE_DIFF_S = 3600                 # --startdiff / --enddiff
_DUPE_DIST_M = 1_000_000            # --startDistance / --endDistance


def _dup_summaries(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    agg = pts.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "lat", "lon")).alias("s"),
        F.max(F.struct("ts", "event_id", "lat", "lon")).alias("e"),
    )
    return agg.select(
        F.col("user_id").cast("string").alias("track_id"),
        (F.unix_micros(F.col("s.ts").cast("timestamp")) * 1000).alias("start_ts_ns"),
        (F.unix_micros(F.col("e.ts").cast("timestamp")) * 1000).alias("end_ts_ns"),
        F.col("s.lat").alias("start_lat"),
        F.col("s.lon").alias("start_lon"),
        F.col("e.lat").alias("end_lat"),
        F.col("e.lon").alias("end_lon"),
        F.concat(F.lit("c"), (F.col("user_id") % 7).cast("string")).alias("creator"),
        ((F.col("user_id") % 4).cast("double") * 25.0).alias("quality"),
    )


def q_duplicate_pairs_end(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import duplicate_pairs_full

    pairs = duplicate_pairs_full(
        _dup_summaries(spark, sf_dir),
        start_diff=_DUPE_DIFF_S,
        end_diff=_DUPE_DIFF_S,
        start_distance=_DUPE_DIST_M,
        end_distance=_DUPE_DIST_M,
        time_comparator=True,
        distance_comparator=True,
        level=4,
        ring=3,
    )
    return pairs.select(
        "a_id", "b_id", "status", "time_match", "pos_match",
        F.round("start_dist_m", 2).alias("dist_r"),
        F.round("end_dist_m", 2).alias("end_dist_r"),
        "delete_ok",
    )


_SQL_SD = f"{haversine_sql('a.start_lat', 'a.start_lon', 'b.start_lat', 'b.start_lon')}"
_SQL_ED = f"{haversine_sql('a.end_lat', 'a.end_lon', 'b.end_lat', 'b.end_lon')}"

SQL_DUPLICATE_PAIRS_END = f"""
WITH {GEO_CTE},
ranked AS (
  SELECT user_id, ts, lat, lon,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rl
  FROM geo
),
summ AS (
  SELECT CAST(user_id AS VARCHAR) AS track_id,
         max(CASE WHEN rn = 1 THEN epoch_us(ts) * 1000 END) AS start_ts_ns,
         max(CASE WHEN rl = 1 THEN epoch_us(ts) * 1000 END) AS end_ts_ns,
         max(CASE WHEN rn = 1 THEN lat END) AS start_lat,
         max(CASE WHEN rn = 1 THEN lon END) AS start_lon,
         max(CASE WHEN rl = 1 THEN lat END) AS end_lat,
         max(CASE WHEN rl = 1 THEN lon END) AS end_lon,
         'c' || CAST(user_id % 7 AS VARCHAR) AS creator,
         CAST(user_id % 4 AS DOUBLE) * 25.0 AS quality
  FROM ranked GROUP BY user_id
),
verdicts AS (
  SELECT a.track_id AS a_id, b.track_id AS b_id,
         abs(a.start_ts_ns - b.start_ts_ns) < {_DUPE_DIFF_S} * CAST(1000000000 AS BIGINT) AS st,
         abs(a.end_ts_ns - b.end_ts_ns) < {_DUPE_DIFF_S} * CAST(1000000000 AS BIGINT) AS et,
         {_SQL_SD} < {float(_DUPE_DIST_M)!r} AS sp,
         {_SQL_ED} < {float(_DUPE_DIST_M)!r} AS ep,
         round({_SQL_SD}, 2) AS dist_r,
         round({_SQL_ED}, 2) AS end_dist_r,
         (a.creator = b.creator AND a.quality = b.quality) AS delete_ok
  FROM summ a JOIN summ b ON a.track_id < b.track_id
)
SELECT a_id, b_id,
       CASE WHEN st THEN (CASE WHEN et THEN 'start and end time' ELSE 'start time' END)
            ELSE (CASE WHEN ep THEN 'start and end position' ELSE 'start position' END)
       END AS status,
       st AS time_match, sp AS pos_match, dist_r, end_dist_r, delete_ok
FROM verdicts WHERE st OR sp
"""


# --------------------------------------------------------------------------
# E4/J2 — raster↔vector: bilinear DEM sampling via broadcast tile join
# --------------------------------------------------------------------------

def _dem_corner_sql(la: str, lo: str) -> str:
    return (
        f"CAST(((({la}) + 90) * 361 + (({lo}) + 180)) * 2654435761 % 40000 AS DOUBLE) / 10.0"
    )


def _dem_corner_col(la, lo):
    return (((la + 90) * 361 + (lo + 180)) * F.lit(2654435761) % 40000).cast("double") / 10.0


def synthetic_dem(spark) -> DataFrame:
    """360×180 one-degree DEM tiles with deterministic corner samples."""
    base = spark.range(180 * 360).select(
        (F.col("id") / 360).cast("long").alias("lat_deg_l"),
        (F.col("id") % 360).alias("lon_deg_l"),
    )
    la = base["lat_deg_l"] - 90
    lo = base["lon_deg_l"] - 180
    return base.select(
        la.cast("int").alias("lat_deg"),
        lo.cast("int").alias("lon_deg"),
        _dem_corner_col(la, lo).alias("e00"),
        _dem_corner_col(la, lo + 1).alias("e01"),
        _dem_corner_col(la + 1, lo).alias("e10"),
        _dem_corner_col(la + 1, lo + 1).alias("e11"),
    )


def q_dem_bands(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import bilinear_dem_join

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    j = bilinear_dem_join(pts, synthetic_dem(spark))
    return (
        j.withColumn("band", F.floor(F.col("lat") / 10).cast("int"))
        .groupBy("band")
        .agg(F.round(F.avg("dem_ele"), 4).alias("avg_ele"), F.count("*").alias("n"))
    )


SQL_DEM_BANDS = f"""
WITH {GEO_CTE},
pt AS (
  SELECT lat, lon,
         CAST(floor(lat) AS BIGINT) AS la, CAST(floor(lon) AS BIGINT) AS lo
  FROM geo
),
interp AS (
  SELECT lat, lon,
    ({_dem_corner_sql('la', 'lo')}) * (1 - (lat - la)) * (1 - (lon - lo))
    + ({_dem_corner_sql('la', 'lo + 1')}) * (1 - (lat - la)) * (lon - lo)
    + ({_dem_corner_sql('la + 1', 'lo')}) * (lat - la) * (1 - (lon - lo))
    + ({_dem_corner_sql('la + 1', 'lo + 1')}) * (lat - la) * (lon - lo) AS dem_ele
  FROM pt
)
SELECT CAST(floor(lat / 10) AS INT) AS band,
       round(avg(dem_ele), 4) AS avg_ele, count(*) AS n
FROM interp GROUP BY 1
"""


# E4 terrain derivatives: slope / aspect / hillshade per DEM tile from the
# 4 corner samples (row-local — no neighbor join needed at this grid
# granularity), rolled up per 10° latitude band.  Standard hillshade with
# sun azimuth 315°, altitude 45°; constants embedded as identical Python-
# computed literals in BOTH engines.
_HS_COS_ZEN = math.cos(math.radians(45.0))
_HS_SIN_ZEN = math.sin(math.radians(45.0))
_HS_AZ = math.radians(315.0)
_M_PER_DEG_TERRAIN = 111320.0
_STEEP_DEG = 1.0


def q_terrain_stats(spark, sf_dir):
    """E4 extension — terrain derivatives over the synthetic DEM: per-tile
    slope (finite differences of the corner samples, meters), aspect,
    and 315°/45° hillshade, aggregated per 10° latitude band.  Pure
    whole-stage codegen: range → trig → one aggregate exchange."""
    dem = synthetic_dem(spark)
    latc = F.col("lat_deg").cast("double") + 0.5
    dzdx = (
        ((F.col("e01") + F.col("e11")) - (F.col("e00") + F.col("e10"))) / 2.0
        / (F.lit(_M_PER_DEG_TERRAIN) * F.cos(F.radians(latc)))
    )
    dzdy = (
        ((F.col("e10") + F.col("e11")) - (F.col("e00") + F.col("e01"))) / 2.0
        / F.lit(_M_PER_DEG_TERRAIN)
    )
    slope = F.atan(F.sqrt(dzdx * dzdx + dzdy * dzdy))
    aspect = F.atan2(dzdy, -dzdx)
    hs = F.lit(255.0) * (
        F.lit(_HS_COS_ZEN) * F.cos(slope)
        + F.lit(_HS_SIN_ZEN) * F.sin(slope) * F.cos(F.lit(_HS_AZ) - aspect)
    )
    t = dem.select(
        F.floor(F.col("lat_deg") / 10).cast("int").alias("band"),
        F.degrees(slope).alias("slope_deg"),
        hs.alias("hs"),
    )
    return t.groupBy("band").agg(
        F.round(F.avg("slope_deg"), 4).alias("avg_slope"),
        F.round(F.avg("hs"), 4).alias("avg_hillshade"),
        F.count(F.when(F.col("slope_deg") > _STEEP_DEG, 1)).alias("n_steep"),
        F.count("*").alias("n_tiles"),
    )


SQL_TERRAIN_STATS = f"""
WITH g AS (
  SELECT (i // 360) - 90 AS la, (i % 360) - 180 AS lo
  FROM generate_series(0, {180 * 360 - 1}) t(i)
),
grad AS (
  SELECT la, lo,
    ((({_dem_corner_sql('la', 'lo + 1')}) + ({_dem_corner_sql('la + 1', 'lo + 1')}))
     - (({_dem_corner_sql('la', 'lo')}) + ({_dem_corner_sql('la + 1', 'lo')}))) / 2.0
      / ({_M_PER_DEG_TERRAIN!r} * cos(radians(CAST(la AS DOUBLE) + 0.5))) AS dzdx,
    ((({_dem_corner_sql('la + 1', 'lo')}) + ({_dem_corner_sql('la + 1', 'lo + 1')}))
     - (({_dem_corner_sql('la', 'lo')}) + ({_dem_corner_sql('la', 'lo + 1')}))) / 2.0
      / {_M_PER_DEG_TERRAIN!r} AS dzdy
  FROM g
),
tiles AS (
  SELECT CAST(floor(la / 10.0) AS INT) AS band,
         degrees(atan(sqrt(dzdx * dzdx + dzdy * dzdy))) AS slope_deg,
         255.0 * ({_HS_COS_ZEN!r} * cos(atan(sqrt(dzdx * dzdx + dzdy * dzdy)))
                  + {_HS_SIN_ZEN!r} * sin(atan(sqrt(dzdx * dzdx + dzdy * dzdy)))
                    * cos({_HS_AZ!r} - atan2(dzdy, -dzdx))) AS hs
  FROM grad
)
SELECT band,
       round(avg(slope_deg), 4) AS avg_slope,
       round(avg(hs), 4) AS avg_hillshade,
       CAST(count(CASE WHEN slope_deg > {_STEEP_DEG!r} THEN 1 END) AS BIGINT) AS n_steep,
       count(*) AS n_tiles
FROM tiles GROUP BY band
"""


_QK_ZOOM = 8


def q_quadkey_counts(spark, sf_dir):
    """T5 — Bing quadkey assignment: mercator tile → base-4 interleaved
    string key (parent = prefix), counted per quadkey with the parent
    carried as the prefix column.  Fixed-length concat, pure codegen."""
    from gotrackmaster_spark.functions.tiles import quadkey_col

    pts = geo_events(spark, sf_dir)
    tx, ty = mercator_tile_cols(F.col("lat"), F.col("lon"), _QK_ZOOM)
    return (
        pts.select(quadkey_col(tx, ty, _QK_ZOOM).alias("qk"))
        .groupBy("qk")
        .agg(F.count("*").alias("n"))
        .select("qk", F.substring("qk", 1, _QK_ZOOM - 1).alias("parent_qk"), "n")
    )


def _sql_quadkey_counts() -> str:
    from gotrackmaster_spark.functions.tiles import quadkey_sql

    tx, ty = mercator_tile_sql("lat", "lon", _QK_ZOOM)
    return f"""
WITH {GEO_CTE},
t AS (SELECT {tx} AS tx, {ty} AS ty FROM geo),
q AS (SELECT {quadkey_sql('tx', 'ty', _QK_ZOOM)} AS qk FROM t)
SELECT qk, substring(qk, 1, {_QK_ZOOM - 1}) AS parent_qk, count(*) AS n
FROM q GROUP BY qk
"""


SQL_QUADKEY_COUNTS = _sql_quadkey_counts()


_DENSIFY_FRACS = (0.25, 0.5, 0.75)


def q_route_densify(spark, sf_dir):
    """Great-circle route densification: every consecutive leg per user
    gets spherical-linear (slerp) intermediate points at fixed
    fractions, which are then tile-assigned — the operation that turns a
    sparse track into the tile list a route actually crosses.  Pure
    codegen trig, explode over a 3-element literal array (fan-out ×3 on
    LEGS, never a shuffle), then one per-user aggregate.  The d→0 slerp
    singularity falls back to the linear-weight limit (same CASE in both
    engines)."""
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id",
        F.radians(F.lag("lat").over(w)).alias("p1"),
        F.radians(F.lag("lon").over(w)).alias("q1"),
        F.radians(F.col("lat")).alias("p2"),
        F.radians(F.col("lon")).alias("q2"),
    ).filter(F.col("p1").isNotNull())
    legs = legs.withColumn(
        "d",
        2.0 * F.asin(F.sqrt(
            F.pow(F.sin((F.col("p2") - F.col("p1")) / 2.0), 2)
            + F.cos(F.col("p1")) * F.cos(F.col("p2"))
            * F.pow(F.sin((F.col("q2") - F.col("q1")) / 2.0), 2)
        )),
    )
    mids = legs.select(
        "user_id", "p1", "q1", "p2", "q2", "d",
        F.explode(F.array(*[F.lit(f) for f in _DENSIFY_FRACS])).alias("f"),
    )
    sin_d = F.sin(F.col("d"))
    a = F.when(F.col("d") > 1e-12, F.sin((1.0 - F.col("f")) * F.col("d")) / sin_d).otherwise(1.0 - F.col("f"))
    b = F.when(F.col("d") > 1e-12, F.sin(F.col("f") * F.col("d")) / sin_d).otherwise(F.col("f"))
    mids = mids.withColumn("a", a).withColumn("b", b)
    x = F.col("a") * F.cos("p1") * F.cos("q1") + F.col("b") * F.cos("p2") * F.cos("q2")
    y = F.col("a") * F.cos("p1") * F.sin("q1") + F.col("b") * F.cos("p2") * F.sin("q2")
    z = F.col("a") * F.sin("p1") + F.col("b") * F.sin("p2")
    mids = mids.withColumn("x", x).withColumn("y", y).withColumn("z", z)
    mlat = F.degrees(F.atan2(F.col("z"), F.sqrt(F.col("x") * F.col("x") + F.col("y") * F.col("y"))))
    mlon = F.degrees(F.atan2(F.col("y"), F.col("x")))
    return (
        mids.select("user_id", tile_name_col(mlat, mlon, 1.0).alias("tile"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_mid"),
            F.countDistinct("tile").alias("n_tiles"),
        )
    )


SQL_ROUTE_DENSIFY = f"""
WITH {GEO_CTE},
legs0 AS (
  SELECT user_id,
         radians(lag(lat) OVER w) AS p1, radians(lag(lon) OVER w) AS q1,
         radians(lat) AS p2, radians(lon) AS q2
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
legs AS (
  SELECT *, 2.0 * asin(sqrt(
           pow(sin((p2 - p1) / 2.0), 2)
           + cos(p1) * cos(p2) * pow(sin((q2 - q1) / 2.0), 2))) AS d
  FROM legs0 WHERE p1 IS NOT NULL
),
mids0 AS (
  SELECT user_id, p1, q1, p2, q2, d, f
  FROM legs, (VALUES (0.25), (0.5), (0.75)) fr(f)
),
mids1 AS (
  SELECT user_id, p1, q1, p2, q2, d, f,
         CASE WHEN d > 1e-12 THEN sin((1.0 - f) * d) / sin(d) ELSE 1.0 - f END AS a,
         CASE WHEN d > 1e-12 THEN sin(f * d) / sin(d) ELSE f END AS b
  FROM mids0
),
mids2 AS (
  SELECT user_id,
         a * cos(p1) * cos(q1) + b * cos(p2) * cos(q2) AS x,
         a * cos(p1) * sin(q1) + b * cos(p2) * sin(q2) AS y,
         a * sin(p1) + b * sin(p2) AS z
  FROM mids1
),
mids AS (
  SELECT user_id,
         degrees(atan2(z, sqrt(x * x + y * y))) AS mlat,
         degrees(atan2(y, x)) AS mlon
  FROM mids2
)
SELECT user_id, count(*) AS n_mid,
       count(DISTINCT {tile_name_sql('mlat', 'mlon', 1.0)}) AS n_tiles
FROM mids GROUP BY user_id
"""


# --------------------------------------------------------------------------
# A4 (SQL-expressible, distributed) — ElevationSRTMAccuracy
# (elevation.go:159-215): per-point DEM compare with the elevation-banded
# max1/max2 ladder, ±inf/NaN zero-elevation quirks, num>total→0 and the
# integer floor-division score — over the broadcast synthetic-DEM join.
# --------------------------------------------------------------------------

def q_srtm_accuracy(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import bilinear_dem_join

    pts = geo_events(spark, sf_dir).select("user_id", "lat", "lon", "ele")
    j = bilinear_dem_join(pts, synthetic_dem(spark))
    elev = F.col("dem_ele")
    max1 = (
        F.when(elev > 3000.0, 2.0).when(elev > 2000.0, 3.0)
        .when(elev > 1000.0, 4.0).when(elev > 500.0, 6.0)
        .when(elev > 250.0, 8.0).otherwise(9.0)
    )
    max2 = (
        F.when(elev > 3000.0, 15.0).when(elev > 2000.0, 20.0)
        .when(elev > 1000.0, 30.0).when(elev > 500.0, 35.0)
        .when(elev > 250.0, 40.0).otherwise(45.0)
    )
    diff100 = F.abs(elev - F.col("ele")) * 100
    e = diff100 / elev
    # elevation == 0: Go's ZeroDivisionError path — diff 0 ⇒ NaN (no
    # penalty), diff > 0 ⇒ +inf (both penalties)
    n1 = F.when(elev == 0.0, F.when(diff100 == 0.0, 0).otherwise(1)).when(
        e > max1, 1
    ).otherwise(0)
    n4 = F.when(elev == 0.0, F.when(diff100 == 0.0, 0).otherwise(1)).when(
        e > max2, 1
    ).otherwise(0)
    per = j.groupBy("user_id").agg(
        F.sum(n1 + n4 * 4).alias("num"), F.count("*").alias("total")
    )
    score = (
        F.when(F.col("num") > F.col("total"), 0)
        .when(F.col("total") == 0, 0)
        .otherwise(F.lit(100) - F.expr("(num * 100) div total"))
    )
    return per.select(
        "user_id", score.cast("int").alias("srtm_accuracy"), "total"
    )


_SRTM_INTERP = f"""
    ({_dem_corner_sql('la', 'lo')}) * (1 - (lat - la)) * (1 - (lon - lo))
    + ({_dem_corner_sql('la', 'lo + 1')}) * (1 - (lat - la)) * (lon - lo)
    + ({_dem_corner_sql('la + 1', 'lo')}) * (lat - la) * (1 - (lon - lo))
    + ({_dem_corner_sql('la + 1', 'lo + 1')}) * (lat - la) * (lon - lo)
"""

SQL_SRTM_ACCURACY = f"""
WITH {GEO_CTE},
pt AS (
  SELECT user_id, lat, lon, ele,
         CAST(floor(lat) AS BIGINT) AS la, CAST(floor(lon) AS BIGINT) AS lo
  FROM geo
),
interp AS (
  SELECT user_id, ele, {_SRTM_INTERP} AS dem_ele FROM pt
),
flags AS (
  SELECT user_id,
    CASE WHEN dem_ele = 0.0
         THEN (CASE WHEN abs(dem_ele - ele) * 100 = 0.0 THEN 0 ELSE 1 END)
         WHEN abs(dem_ele - ele) * 100 / dem_ele >
              (CASE WHEN dem_ele > 3000.0 THEN 2.0 WHEN dem_ele > 2000.0 THEN 3.0
                    WHEN dem_ele > 1000.0 THEN 4.0 WHEN dem_ele > 500.0 THEN 6.0
                    WHEN dem_ele > 250.0 THEN 8.0 ELSE 9.0 END)
         THEN 1 ELSE 0 END AS n1,
    CASE WHEN dem_ele = 0.0
         THEN (CASE WHEN abs(dem_ele - ele) * 100 = 0.0 THEN 0 ELSE 1 END)
         WHEN abs(dem_ele - ele) * 100 / dem_ele >
              (CASE WHEN dem_ele > 3000.0 THEN 15.0 WHEN dem_ele > 2000.0 THEN 20.0
                    WHEN dem_ele > 1000.0 THEN 30.0 WHEN dem_ele > 500.0 THEN 35.0
                    WHEN dem_ele > 250.0 THEN 40.0 ELSE 45.0 END)
         THEN 1 ELSE 0 END AS n4
  FROM interp
),
per AS (
  SELECT user_id, CAST(sum(n1 + n4 * 4) AS BIGINT) AS num,
         count(*) AS total
  FROM flags GROUP BY user_id
)
SELECT user_id,
       CAST(CASE WHEN num > total THEN 0 WHEN total = 0 THEN 0
                 ELSE 100 - ((num * 100) // total) END AS INT) AS srtm_accuracy,
       total
FROM per
"""


# --------------------------------------------------------------------------
# E4 — web-mercator z/x/y tile counts (zoom 6)
# --------------------------------------------------------------------------

def q_mercator_tiles(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    x, y = mercator_tile_cols(F.col("lat"), F.col("lon"), 6)
    return (
        pts.select(x.alias("tx"), y.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )


_MX, _MY = mercator_tile_sql("lat", "lon", 6)
SQL_MERCATOR_TILES = f"""
WITH {GEO_CTE}
SELECT {_MX} AS tx, {_MY} AS ty, count(*) AS n
FROM geo GROUP BY 1, 2
"""

# --------------------------------------------------------------------------
# P1/P2 — first/last valid-position scan per track (distance.go:426-451)
# --------------------------------------------------------------------------

def q_position_start_end(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir).filter((F.col("lat") != 0) & (F.col("lon") != 0))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    first = (
        pts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        .select("user_id", F.col("lat").alias("start_lat"), F.col("lon").alias("start_lon"))
    )
    last = (
        pts.withColumn("rn", F.row_number().over(wd)).filter(F.col("rn") == 1)
        .select("user_id", F.col("lat").alias("end_lat"), F.col("lon").alias("end_lon"))
    )
    return first.join(last, "user_id")


SQL_POSITION_START_END = f"""
WITH {GEO_CTE},
valid AS (SELECT * FROM geo WHERE lat <> 0 AND lon <> 0),
first AS (
  SELECT user_id, lat AS start_lat, lon AS start_lon FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
    FROM valid) WHERE rn = 1
),
last AS (
  SELECT user_id, lat AS end_lat, lon AS end_lon FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn
    FROM valid) WHERE rn = 1
)
SELECT f.user_id, f.start_lat, f.start_lon, l.end_lat, l.end_lon
FROM first f JOIN last l ON f.user_id = l.user_id
"""


# --------------------------------------------------------------------------
# E1b — S2-style cube-face Hilbert cells (functions/s2.py): per level-5
# parent cell, point count + distinct level-8 children + face.  Exercises
# the full chain (face selection, quadratic st, Hilbert walk, trailing-
# marker parent) in both engines; hash equality proves the CTE chain and
# the Column unroll compute the identical curve.
# --------------------------------------------------------------------------

_S2_LEVEL = 8
_S2_UP = 3  # aggregate at level 5


def q_s2_cell_counts(spark, sf_dir):
    from gotrackmaster_spark.functions.s2 import s2_parent, with_s2_cell

    pts = geo_events(spark, sf_dir)
    cells = with_s2_cell(pts, F.col("lat"), F.col("lon"), _S2_LEVEL)
    return (
        cells.withColumn("s2_p", s2_parent(F.col("s2_cell"), _S2_UP))
        .groupBy("s2_p")
        .agg(
            F.count("*").alias("n_pts"),
            F.countDistinct("s2_cell").alias("n_child"),
            F.first(
                F.shiftright("s2_cell", 2 * _S2_LEVEL).bitwiseAND(F.lit(7)).cast("int")
            ).alias("face"),
        )
    )


def _sql_s2_cell_counts() -> str:
    from gotrackmaster_spark.functions.s2 import s2_sql_ctes

    ctes = s2_sql_ctes("lat", "lon", _S2_LEVEL, "geo", "event_id")
    return f"""
WITH {GEO_CTE},
{ctes}
SELECT (s2_cell >> {2 * _S2_UP}) AS s2_p,
       count(*) AS n_pts,
       count(DISTINCT s2_cell) AS n_child,
       CAST(min((s2_cell >> {2 * _S2_LEVEL}) & 7) AS INT) AS face
FROM s2done GROUP BY 1
"""


SQL_S2_CELL_COUNTS = _sql_s2_cell_counts()


def q_radius_join(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import within_radius_join

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    hits = within_radius_join(
        pts, poi_centers(spark), _POI_RADIUS_M, level=7, id_col="poi_id"
    )
    return hits.groupBy("poi_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.min("dist_m"), 2).alias("min_dist_r"),
        F.sum("event_id").alias("sum_event_id"),
    )

SQL_RADIUS_JOIN = f"""
WITH {GEO_CTE},
poi AS (
  SELECT i AS poi_id,
         ((i * 7919) % 1500) / 10.0 - 75.0 AS lat,
         ((i * 104729) % 3600) / 10.0 - 180.0 AS lon
  FROM range({_POI_N}) t(i)
)
SELECT p.poi_id, count(*) AS n_events,
       round(min({_POI_DIST}), 2) AS min_dist_r,
       CAST(sum(g.event_id) AS BIGINT) AS sum_event_id
FROM geo g JOIN poi p ON {_POI_DIST} < {_POI_RADIUS_M!r}
GROUP BY p.poi_id
"""


# --------------------------------------------------------------------------
# E2×E4 — zonal statistics: bilinear DEM elevation aggregated per polygon
# (the PIP join feeding the raster join — raster↔vector composability).
# --------------------------------------------------------------------------

def q_zonal_stats(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import (
        bilinear_dem_join,
        point_in_polygon_join,
    )

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    hits = point_in_polygon_join(pts, rect_polygons(spark, sf_dir), level=7)
    j = bilinear_dem_join(hits, synthetic_dem(spark))
    return j.groupBy("poly_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("dem_ele"), 4).alias("avg_ele"),
        F.round(F.min("dem_ele"), 4).alias("min_ele"),
        F.round(F.max("dem_ele"), 4).alias("max_ele"),
    )


SQL_ZONAL_STATS = f"""
WITH {GEO_CTE},
rects AS ({_RECT_SQL}),
hit AS (
  SELECT r.poly_id, g.lat, g.lon,
         CAST(floor(g.lat) AS BIGINT) AS la, CAST(floor(g.lon) AS BIGINT) AS lo
  FROM geo g JOIN rects r
    ON g.lat > r.lat0 AND g.lat < r.lat1 AND g.lon > r.lon0 AND g.lon < r.lon1
),
interp AS (
  SELECT poly_id,
    ({_dem_corner_sql('la', 'lo')}) * (1 - (lat - la)) * (1 - (lon - lo))
    + ({_dem_corner_sql('la', 'lo + 1')}) * (1 - (lat - la)) * (lon - lo)
    + ({_dem_corner_sql('la + 1', 'lo')}) * (lat - la) * (1 - (lon - lo))
    + ({_dem_corner_sql('la + 1', 'lo + 1')}) * (lat - la) * (lon - lo) AS dem_ele
  FROM hit
)
SELECT poly_id, count(*) AS n_points,
       round(avg(dem_ele), 4) AS avg_ele,
       round(min(dem_ele), 4) AS min_ele,
       round(max(dem_ele), 4) AS max_ele
FROM interp GROUP BY poly_id
"""


# --------------------------------------------------------------------------
# E4 — tile-pyramid rollup: base mercator-tile counts rolled up z8 → z4
# (functions/tiles.py::tile_pyramid; exact via the nested-floor identity).
# --------------------------------------------------------------------------

_PYR_BASE_Z = 8
_PYR_MIN_Z = 4


def q_tile_pyramid(spark, sf_dir):
    from gotrackmaster_spark.functions.tiles import tile_pyramid

    tx, ty = mercator_tile_cols(F.col("lat"), F.col("lon"), _PYR_BASE_Z)
    base = (
        geo_events(spark, sf_dir)
        .select(tx.alias("tx"), ty.alias("ty"))
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"))
    )
    return tile_pyramid(base, _PYR_BASE_Z, _PYR_MIN_Z)


def _sql_tile_pyramid() -> str:
    mx, my = mercator_tile_sql("lat", "lon", _PYR_BASE_Z)
    levels = [f"SELECT {_PYR_BASE_Z} AS z, tx, ty, n FROM base"]
    for z in range(_PYR_BASE_Z - 1, _PYR_MIN_Z - 1, -1):
        s = 1 << (_PYR_BASE_Z - z)
        levels.append(
            f"SELECT {z} AS z, tx // {s} AS tx, ty // {s} AS ty, "
            f"CAST(sum(n) AS BIGINT) AS n FROM base GROUP BY 2, 3"
        )
    body = " UNION ALL ".join(levels)
    return f"""
WITH {GEO_CTE},
base AS (SELECT {mx} AS tx, {my} AS ty, count(*) AS n FROM geo GROUP BY 1, 2)
{body}
"""


SQL_TILE_PYRAMID = _sql_tile_pyramid()


# --------------------------------------------------------------------------
# T4 — geohash encoding (base32 interop format next to degree tiles,
# mercator z/x/y and Z-order cells): per-prefix counts at precision 4.
# --------------------------------------------------------------------------

def q_geohash_counts(spark, sf_dir):
    from gotrackmaster_spark.functions.tiles import geohash_col

    return (
        geo_events(spark, sf_dir)
        .select(geohash_col(F.col("lat"), F.col("lon"), 4).alias("gh"))
        .groupBy("gh")
        .agg(F.count("*").alias("n"))
    )


def _sql_geohash_counts() -> str:
    from gotrackmaster_spark.functions.tiles import geohash_sql

    return f"""
WITH {GEO_CTE}
SELECT {geohash_sql('lat', 'lon', 4)} AS gh, count(*) AS n
FROM geo GROUP BY 1
"""


SQL_GEOHASH_COUNTS = _sql_geohash_counts()


# --------------------------------------------------------------------------
# North-star "slope computation" — per-leg grade (Δele over haversine run,
# in %) with ascent/descent totals, max/avg slope, and steep-leg counts per
# track.  Pure window+agg (one shuffle, codegen haversine) — the slope
# stage of the GPX analytics ladder (north_star: "Haversine distance,
# max-speed and slope computation") as a standalone oracle-checked query.
# --------------------------------------------------------------------------

_STEEP_PCT = 0.01  # |grade| threshold in % over the synthetic global walk


def q_slope_stats(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dele = F.col("ele") - F.lag("ele").over(w)
    leg = haversine_col(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    legs = pts.select("user_id", dele.alias("dele"), leg.alias("leg_m")).withColumn(
        "slope_pct",
        F.when(F.col("leg_m") > 0, F.col("dele") / F.col("leg_m") * 100.0),
    )
    return legs.groupBy("user_id").agg(
        F.sum(F.when(F.col("dele") > 0, F.col("dele")).otherwise(0.0)).alias("ascent_m"),
        F.sum(F.when(F.col("dele") < 0, -F.col("dele")).otherwise(0.0)).alias("descent_m"),
        F.round(F.max("slope_pct"), 9).alias("max_slope_pct"),
        F.round(F.avg("slope_pct"), 8).alias("avg_slope_pct"),
        F.count(F.when(F.abs(F.col("slope_pct")) > _STEEP_PCT, 1)).alias("n_steep"),
    )


SQL_SLOPE_STATS = f"""
WITH {GEO_CTE},
legs AS (
  SELECT user_id,
         ele - lag(ele) OVER w AS dele,
         {haversine_sql('lag(lat) OVER w', 'lag(lon) OVER w', 'lat', 'lon')} AS leg_m
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sl AS (
  SELECT user_id, dele,
         CASE WHEN leg_m > 0 THEN dele / leg_m * 100.0 END AS slope_pct
  FROM legs
)
SELECT user_id,
       sum(CASE WHEN dele > 0 THEN dele ELSE 0.0 END) AS ascent_m,
       sum(CASE WHEN dele < 0 THEN -dele ELSE 0.0 END) AS descent_m,
       round(max(slope_pct), 9) AS max_slope_pct,
       round(avg(slope_pct), 8) AS avg_slope_pct,
       count(CASE WHEN abs(slope_pct) > {_STEEP_PCT!r} THEN 1 END) AS n_steep
FROM sl GROUP BY user_id
"""


# --------------------------------------------------------------------------
# North-star "Hampel/z-score erratic-point removal" — the engine path runs
# the REAL numpy kernels (operators.repair.hampel_fix / zscore_fix inside
# applyInPandas); the oracle replays both filters exactly in SQL:
#   * Hampel: truncated ±5 window, median + MAD via sorted window lists
#     (integer-valued ele ⇒ medians exact; threshold 1.5·(1.4826·MAD)
#     multiplies in the kernel's order, so the doubles are bit-equal);
#   * z-score: mu exact (integer sum / n), sd = sqrt(mean dev²) mirrored
#     formula-for-formula.
# Any drift in the kernels' edge handling or threshold math hash-fails.
# --------------------------------------------------------------------------

_ERR_SIGMAS = 1.5


def q_erratic_outliers(spark, sf_dir):
    from gotrackmaster_spark.operators.repair import hampel_fix, zscore_fix

    pts = synthetic_tracks(spark, sf_dir)
    base = pts.groupBy("track_id").agg(F.count("*").alias("n_points"))
    h = (
        hampel_fix(pts, window=5, n_sigmas=_ERR_SIGMAS)
        .groupBy("track_id")
        .agg(F.count("*").alias("nh"))
    )
    z = (
        zscore_fix(pts, n_sigmas=_ERR_SIGMAS)
        .groupBy("track_id")
        .agg(F.count("*").alias("nz"))
    )
    return (
        base.join(h, "track_id", "left")
        .join(z, "track_id", "left")
        .select(
            "track_id",
            "n_points",
            F.coalesce("nh", F.lit(0)).cast("long").alias("n_hampel_kept"),
            F.coalesce("nz", F.lit(0)).cast("long").alias("n_zscore_kept"),
        )
    )


SQL_ERRATIC_OUTLIERS = """
WITH tracks AS (
  SELECT CAST(user_id AS VARCHAR) AS track_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pt_idx,
         CAST(((event_id * 13) % 400) AS DOUBLE) + 100.0 AS ele
  FROM events
),
win AS (
  SELECT track_id, ele,
         list_sort(list(ele) OVER (PARTITION BY track_id ORDER BY pt_idx
                   ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)) AS s
  FROM tracks
),
med AS (
  SELECT track_id, ele, s, len(s) AS m,
         CASE WHEN len(s) % 2 = 1 THEN s[(len(s) + 1) // 2]
              ELSE (s[len(s) // 2] + s[len(s) // 2 + 1]) / 2.0 END AS medv
  FROM win
),
mad AS (
  SELECT track_id, ele, medv, m,
         list_sort(list_transform(s, v -> abs(v - medv))) AS d
  FROM med
),
hflag AS (
  SELECT track_id, ele, medv,
         CASE WHEN m % 2 = 1 THEN d[(m + 1) // 2]
              ELSE (d[m // 2] + d[m // 2 + 1]) / 2.0 END AS madv
  FROM mad
),
hsum AS (
  SELECT track_id, count(*) AS n_points,
         CAST(sum(CASE WHEN (1.4826 * madv) > 0
                        AND abs(ele - medv) > 1.5 * (1.4826 * madv)
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_h_out
  FROM hflag GROUP BY track_id
),
zmu AS (
  SELECT track_id, avg(ele) AS mu FROM tracks GROUP BY track_id
),
zstats AS (
  SELECT t.track_id, z.mu AS mu,
         sqrt(avg((t.ele - z.mu) * (t.ele - z.mu))) AS sd
  FROM tracks t JOIN zmu z ON t.track_id = z.track_id
  GROUP BY t.track_id, z.mu
),
zsum AS (
  SELECT t.track_id,
         CAST(sum(CASE WHEN s.sd > 0 AND abs(t.ele - s.mu) > 1.5 * s.sd
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_z_out
  FROM tracks t JOIN zstats s ON t.track_id = s.track_id
  GROUP BY t.track_id
)
SELECT h.track_id, h.n_points,
       h.n_points - h.n_h_out AS n_hampel_kept,
       h.n_points - z.n_z_out AS n_zscore_kept
FROM hsum h JOIN zsum z ON h.track_id = z.track_id
"""


# --------------------------------------------------------------------------
# North-star "Douglas-Peucker track simplification" — the engine path runs
# the REAL recursive numpy kernel (kernels.extra.douglas_peucker_mask via
# operators.repair.douglas_peucker_fix, applyInPandas per track); the
# oracle replays the EXACT recursion as a DuckDB recursive CTE:
#   * the input track uses DYADIC steps (k/8192 — exactly representable
#     doubles), so the windowed cumulative-sum coordinates are bit-equal
#     in both engines regardless of each engine's summation order;
#   * each (i, j) segment row computes the interior perpendicular
#     distances with the kernel's exact op order (equirectangular plane
#     scaled by cos(lat1), clamp-to-segment), takes first-argmax
#     (list_position = numpy argmax tie order) and splits when
#     dmax > ε — any drift in the kernel's split rule, tie-breaking,
#     or distance math hash-fails;
#   * the output pins the exact keep-mask per track: count + Σidx + Σidx²
#     of kept 0-based indices.
# --------------------------------------------------------------------------

_DP_EPS = 0.02


def q_dp_simplify(spark, sf_dir):
    from gotrackmaster_spark.operators.repair import douglas_peucker_keep

    # dyadic (k/8192) steps: the DP oracle's bit-equality rests on an
    # order-independent cumulative sum
    pts = synthetic_tracks(spark, sf_dir, step_div=8192.0)
    base = pts.groupBy("track_id").agg(F.count("*").alias("n_points"))
    kept = douglas_peucker_keep(pts, _DP_EPS)
    idx = F.col("pt_idx").cast("long")
    agg = kept.groupBy("track_id").agg(
        F.count("*").alias("n_kept"),
        F.sum(idx).alias("kept_idx_sum"),
        F.sum(idx * idx).alias("kept_idx_sq"),
    )
    return base.join(agg, "track_id").select(
        "track_id", "n_points", "n_kept", "kept_idx_sum", "kept_idx_sq"
    )


def _dp_perp_lambda() -> str:
    """The kernel's `_perp_dist` (kernels/extra.py:17-33) as a DuckDB list
    lambda over 1-based indices i (seg start), j (seg end), x (interior):
    identical double ops in identical order."""
    cosw = "cos(la[i] / 180.0 * pi())"
    xx = f"((lo[x] - lo[i]) * {cosw})"
    yy = "(la[x] - la[i])"
    ex = f"((lo[j] - lo[i]) * {cosw})"
    ey = "(la[j] - la[i])"
    seg2 = f"({ex} * {ex} + {ey} * {ey})"
    t = f"least(greatest(({xx} * {ex} + {yy} * {ey}) / {seg2}, 0.0), 1.0)"
    dx = f"({xx} - {t} * {ex})"
    dy = f"({yy} - {t} * {ey})"
    return (
        f"CASE WHEN {seg2} = 0 THEN sqrt({xx} * {xx} + {yy} * {yy}) "
        f"ELSE sqrt({dx} * {dx} + {dy} * {dy}) END"
    )


# NOTE the `kept` CTE dedups via an explicit DISTINCT subquery: inside a
# WITH RECURSIVE block DuckDB treats a bare `a UNION b` CTE over the
# recursive table with UNION-ALL semantics (observed on 1.x), so the
# standard spelling silently multi-counts segment endpoints.
SQL_DP_SIMPLIFY = f"""
WITH RECURSIVE pts AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS pt_idx,
         (CAST((user_id * 617) % 120 AS DOUBLE) - 60.0)
           + sum(CAST((event_id * 2654435761) % 201 - 100 AS DOUBLE) / 8192.0)
             OVER (PARTITION BY user_id ORDER BY event_id) AS lat,
         (CAST((user_id * 1009) % 300 AS DOUBLE) - 150.0)
           + sum(CAST((event_id * 40503 + 11) % 201 - 100 AS DOUBLE) / 8192.0)
             OVER (PARTITION BY user_id ORDER BY event_id) AS lon
  FROM events
),
arr AS (
  SELECT user_id, CAST(count(*) AS INT) AS n,
         list(lat ORDER BY pt_idx) AS la,
         list(lon ORDER BY pt_idx) AS lo
  FROM pts GROUP BY user_id
),
segs AS (
  SELECT user_id, la, lo, 1 AS i, n AS j FROM arr
  UNION ALL
  SELECT user_id, la, lo,
         CASE WHEN u.s = 0 THEN t.i ELSE t.k END AS i,
         CASE WHEN u.s = 0 THEN t.k ELSE t.j END AS j
  FROM (
    SELECT user_id, la, lo, i, j,
           i + CAST(list_position(ds, list_max(ds)) AS INT) AS k,
           list_max(ds) AS dmax
    FROM (
      SELECT user_id, la, lo, i, j,
             list_transform(generate_series(i + 1, j - 1), x -> {_dp_perp_lambda()}) AS ds
      FROM segs WHERE j > i + 1
    )
  ) t
  CROSS JOIN (SELECT unnest([0, 1]) AS s) u
  WHERE t.dmax > {_DP_EPS!r}
),
kept AS (
  SELECT DISTINCT user_id, ki FROM (
    SELECT user_id, i AS ki FROM segs UNION ALL SELECT user_id, j AS ki FROM segs
  )
)
SELECT CAST(a.user_id AS VARCHAR) AS track_id,
       CAST(a.n AS BIGINT) AS n_points,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(k.ki - 1) AS BIGINT) AS kept_idx_sum,
       CAST(sum(CAST(k.ki - 1 AS BIGINT) * CAST(k.ki - 1 AS BIGINT)) AS BIGINT) AS kept_idx_sq
FROM arr a JOIN kept k ON a.user_id = k.user_id
GROUP BY a.user_id, a.n
"""


# --------------------------------------------------------------------------
# H3-style hexagonal cell assignment (functions/hex.py) — the hexagonal
# half of the north rule's "H3/S2 tiles", as batched Column bit/float math
# (codegen, zero Python).  Cube-rounding uses floor(x+0.5) + a fixed
# comparison order so numpy, Spark and DuckDB agree bit-for-bit; the
# oracle recomputes both resolutions from scratch, so any drift in the
# axial transform or the rounding repair hash-fails.
# --------------------------------------------------------------------------

from gotrackmaster_spark.functions.hex import hex_col, hex_sql  # noqa: E402


def q_hex_cell_counts(spark, sf_dir):
    pts = geo_events(spark, sf_dir)
    return (
        pts.select(
            hex_col(F.col("lat"), F.col("lon"), 3).alias("hex3"),
            hex_col(F.col("lat"), F.col("lon"), 5).alias("hex5"),
        )
        .groupBy("hex3", "hex5")
        .agg(F.count("*").alias("n"))
    )


SQL_HEX_CELL_COUNTS = f"""
WITH {GEO_CTE}
SELECT {hex_sql('lat', 'lon', 3)} AS hex3,
       {hex_sql('lat', 'lon', 5)} AS hex5,
       count(*) AS n
FROM geo GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# A6 (SQL-expressible slice) — classification label ladder over the
# middle-80% speed-band aggregate (misc.go:183-245 via
# kernels/quality.py:classification_track).  The 7-stage repair prefix
# (FixTimes / MaxSpeed / RemoveStops / RemoveIntersections) is a sequential
# kernel pinned to fixtures in tests/test_quality.py; this query applies
# the aggregate + ladder to a deterministic synthetic track table so DuckDB
# can twin it AND so all 10 labels of the ladder are actually exercised at
# sf0.01 (the standard geo scatter yields only Motor Sport / Unknown).
#
# Track synthesis (exact int64 modular arithmetic → one float multiply, so
# both engines produce identical float64 bits):
#   tk   : users with user_id %% 6 == 0 stay singleton tracks (mostly
#          < MIN_SEGMENT_LENGTH → Unknown, covering the guard); the rest
#          merge into 25 long tracks (all ≥ 80 points).
#   step : 1 + (tk·23) %% 64 — sweeps speed 0.44…28.5 m/s so every rung of
#          the flat-branch ladder (1.6/4.1/7.5/11/25) is hit.
#   kk   : 0 for tk ≡ 2 (mod 3) (flat branch), else 1..5 — elevation
#          sawtooth (i·kk mod 60)·0.5 drives the ±0.4 vertical bands and
#          the elevation/distance ≥ 0.05 mountain gate.
#
# Kernel quirks replicated literally (do not rationalize):
#   * band sums are NON-exclusive — a leg with vert < -0.4 also satisfies
#     vert <= 0.4, so it contributes to BOTH speed_down and speed_flat
#     (misc.go:195-205: three independent `if`s);
#   * secs == 0 → speed = vert = 0 (speed.go:92-99), but length/elevation
#     still accumulate;
#   * vertical speed sign: NEGATIVE when climbing (speed.go:96-98), i.e.
#     vert = (ele_i − ele_{i+1}) / secs;
#   * middle slice: div = n // 10, pairs (i, i+1) for i in [div, n−div−1]
#     (misc.go:189-191), only for segments with n ≥ MIN_SEGMENT_LENGTH=80
#     (definitions.go:57);
#   * elevation/distance ratio: dist == 0 → +Inf in Go; both engines use
#     an explicit 1e308 sentinel so the < 0.05 comparison agrees.
# Only the label + integer counts are output — the float sums never hit
# the hash, so engine-order summation differences cannot flip a row.
# --------------------------------------------------------------------------


def q_classification_counts(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    base = ev.withColumn(
        "tk",
        F.when(F.col("user_id") % 6 == 0, F.col("user_id") + 1000).otherwise(
            F.col("user_id") % 25
        ),
    )
    w = Window.partitionBy("tk").orderBy("ts", "event_id")
    # i must be LONG: row_number() is int32, and i * 1_000_000 (t_us)
    # overflows once a tk group exceeds 2147 points — fires at sf0.1
    # (~4000 events per user_id%25 bucket), found by the sf0.1 parity
    # sweep under ANSI mode; sf0.01 groups never reached the boundary.
    idx0 = base.select(
        "tk",
        (F.row_number().over(w) - 1).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy("tk")).alias("n"),
    )
    step = F.lit(1) + (F.col("tk") * 23) % 64
    kk = F.when(F.col("tk") % 3 == 2, F.lit(0)).otherwise((F.col("tk") % 5) + 1)
    idx = idx0.select(
        "tk", "i", "n",
        (F.lit(-60.0) + (F.col("tk") % 120) + (F.col("i") * step) * F.lit(4.0e-6)).alias("lat"),
        (
            F.lit(-150.0)
            + (F.col("tk") * 37) % 300
            + ((F.col("i") * F.lit(2654435761)) % 97) * F.lit(1.0e-8)
        ).alias("lon"),
        (((F.col("i") * kk) % 60).cast("double") * F.lit(0.5)).alias("ele"),
        (F.col("i") * F.lit(1000000)).alias("t_us"),
    )
    w2 = Window.partitionBy("tk").orderBy("i")
    pairs = idx.select(
        "tk", "n", "i",
        distance_2d_col(
            F.col("lat"), F.col("lon"), F.lead("lat").over(w2), F.lead("lon").over(w2)
        ).alias("len"),
        ((F.lead("t_us").over(w2) - F.col("t_us")) / F.lit(1e6)).alias("secs"),
        (F.col("ele") - F.lead("ele").over(w2)).alias("delev"),
    )
    div = F.expr("n DIV 10")
    mid = pairs.where(
        (F.col("n") >= 80) & (F.col("i") >= div) & (F.col("i") < F.col("n") - div)
    ).select(
        "tk",
        F.when(F.col("secs") == 0, 0.0).otherwise(F.col("len") / F.col("secs")).alias("speed"),
        F.when(F.col("secs") == 0, 0.0).otherwise(F.col("delev") / F.col("secs")).alias("vert"),
        F.abs("delev").alias("aelev"),
        "len",
    )
    agg = mid.groupBy("tk").agg(
        F.sum(F.when(F.col("vert") <= 0.4, F.col("speed")).otherwise(0.0)).alias("sflat"),
        F.sum(F.when(F.col("vert") > 0.4, F.col("speed")).otherwise(0.0)).alias("sup"),
        F.sum(F.when(F.col("vert") < -0.4, F.col("speed")).otherwise(0.0)).alias("sdown"),
        F.sum("speed").alias("stot"),
        F.sum("aelev").alias("elev"),
        F.sum("len").alias("dist"),
        F.count("*").alias("total"),
    )
    sflat = F.col("sflat") / F.col("total")
    stot = F.col("stot") / F.col("total")
    ratio = F.when(F.col("dist") == 0, F.lit(1e308)).otherwise(F.col("elev") / F.col("dist"))
    label = F.when(
        ratio < 0.05,
        F.when(sflat > 25, "Motor Sport")
        .when(sflat > 11, "Cycling Racing")
        .when(sflat > 7.5, "Cycling Sport")
        .when(sflat > 4.1, "Cycling Transport")
        .when(sflat > 1.6, "Running Sport")
        .otherwise("Walking Transport"),
    ).otherwise(
        F.when((sflat > 3.8) | (stot > 3.8), "Cycling Mountain")
        .when((sflat > 1.2) | (stot > 1.3), "Running Mountain")
        .otherwise("Walking Mountain")
    )
    lab = agg.select("tk", "total", label.alias("label"))
    per_track = idx0.groupBy("tk").agg(F.count("*").alias("n_pts"))
    return per_track.join(lab, "tk", "left").select(
        F.col("tk").alias("track_id"),
        "n_pts",
        F.coalesce(F.col("total"), F.lit(0)).alias("n_mid"),
        F.coalesce(F.col("label"), F.lit("Unknown")).alias("label"),
    )


SQL_CLASSIFICATION_COUNTS = f"""
WITH base AS (
  SELECT CASE WHEN user_id % 6 = 0 THEN user_id + 1000 ELSE user_id % 25 END AS tk,
         ts, event_id
  FROM events
),
idx0 AS (
  SELECT tk, row_number() OVER w - 1 AS i, count(*) OVER (PARTITION BY tk) AS n
  FROM base
  WINDOW w AS (PARTITION BY tk ORDER BY ts, event_id)
),
idx AS (
  SELECT tk, i, n,
         -60.0 + (tk % 120) + (i * (1 + (tk * 23) % 64)) * 4.0e-6 AS lat,
         -150.0 + ((tk * 37) % 300) + ((i * 2654435761) % 97) * 1.0e-8 AS lon,
         CAST((i * (CASE WHEN tk % 3 = 2 THEN 0 ELSE (tk % 5) + 1 END)) % 60 AS DOUBLE) * 0.5 AS ele,
         i * 1000000 AS t_us
  FROM idx0
),
pairs AS (
  SELECT tk, n, i,
         {distance_2d_sql('lat', 'lon', 'lead(lat) OVER w2', 'lead(lon) OVER w2')} AS len,
         (lead(t_us) OVER w2 - t_us) / 1e6 AS secs,
         ele - lead(ele) OVER w2 AS delev
  FROM idx
  WINDOW w2 AS (PARTITION BY tk ORDER BY i)
),
mid AS (
  SELECT tk,
         CASE WHEN secs = 0 THEN 0.0 ELSE len / secs END AS speed,
         CASE WHEN secs = 0 THEN 0.0 ELSE delev / secs END AS vert,
         abs(delev) AS aelev, len
  FROM pairs
  WHERE n >= 80 AND i >= n // 10 AND i < n - (n // 10)
),
agg AS (
  SELECT tk,
         sum(CASE WHEN vert <= 0.4 THEN speed ELSE 0.0 END) AS sflat,
         sum(CASE WHEN vert > 0.4 THEN speed ELSE 0.0 END) AS sup,
         sum(CASE WHEN vert < -0.4 THEN speed ELSE 0.0 END) AS sdown,
         sum(speed) AS stot,
         sum(aelev) AS elev,
         sum(len) AS dist,
         count(*) AS total
  FROM mid GROUP BY tk
),
lab AS (
  SELECT tk, total,
    CASE WHEN (CASE WHEN dist = 0 THEN 1e308 ELSE elev / dist END) < 0.05 THEN
      CASE
        WHEN sflat / total > 25 THEN 'Motor Sport'
        WHEN sflat / total > 11 THEN 'Cycling Racing'
        WHEN sflat / total > 7.5 THEN 'Cycling Sport'
        WHEN sflat / total > 4.1 THEN 'Cycling Transport'
        WHEN sflat / total > 1.6 THEN 'Running Sport'
        ELSE 'Walking Transport'
      END
    ELSE
      CASE
        WHEN sflat / total > 3.8 OR stot / total > 3.8 THEN 'Cycling Mountain'
        WHEN sflat / total > 1.2 OR stot / total > 1.3 THEN 'Running Mountain'
        ELSE 'Walking Mountain'
      END
    END AS label
  FROM agg
)
SELECT g.tk AS track_id, g.n_pts,
       coalesce(l.total, 0) AS n_mid,
       coalesce(l.label, 'Unknown') AS label
FROM (SELECT tk, count(*) AS n_pts FROM idx0 GROUP BY tk) g
LEFT JOIN lab l ON g.tk = l.tk
"""


# --------------------------------------------------------------------------
# E10 — map-matching: snap every event to its nearest ROAD SEGMENT
# within 0.5° (planar contract), then per-segment roll-up — the
# trajectory→road-network join via `spatial.map_match_join` (broadcast
# expanded-bbox grid covering, codegen clamped-projection distance,
# struct-min argmin — points shuffle once, on the argmin key).  The
# oracle replays the segment synthesis and distance exactly and picks
# the same (dist, seg_id)-ordered winner with a window.
# --------------------------------------------------------------------------

_MM_N_SEGS = 600
_MM_RADIUS = 0.5
_MM_GRID = 0.5


def road_segments(spark):
    """Deterministic synthetic road network: short segments (≤0.1° per
    axis) spread over the event region, exact-integer formulas."""
    s = F.col("id")
    x0 = (s * 7919) % 3600 / 10.0 - 180.0
    y0 = (s * 104729) % 1500 / 10.0 - 75.0
    dx = ((s * 131) % 21 - 10) / 100.0
    dy = ((s * 137) % 21 - 10) / 100.0
    return spark.range(_MM_N_SEGS).select(
        s.alias("seg_id"),
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + dx).alias("x1"),
        (y0 + dy).alias("y1"),
    )


def q_map_match(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import map_match_join

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    best = map_match_join(
        pts, road_segments(spark), radius_deg=_MM_RADIUS, grid_deg=_MM_GRID
    )
    return best.groupBy("seg_id").agg(
        F.count("*").alias("n_matched"),
        F.round(F.sum("dist_deg"), 4).alias("sum_dist_r"),
    )


SQL_MAP_MATCH = f"""
WITH {GEO_CTE},
segs AS (
  SELECT s AS seg_id,
         ((s * 7919) % 3600) / 10.0 - 180.0 AS x0,
         ((s * 104729) % 1500) / 10.0 - 75.0 AS y0,
         ((s * 7919) % 3600) / 10.0 - 180.0 + (((s * 131) % 21) - 10) / 100.0 AS x1,
         ((s * 104729) % 1500) / 10.0 - 75.0 + (((s * 137) % 21) - 10) / 100.0 AS y1
  FROM range({_MM_N_SEGS}) t(s)
),
cand0 AS (
  SELECT g.event_id, s.seg_id, g.lon AS px, g.lat AS py,
         s.x0, s.y0, s.x1 - s.x0 AS dx, s.y1 - s.y0 AS dy
  FROM geo g JOIN segs s
    ON g.lon BETWEEN least(s.x0, s.x1) - {_MM_RADIUS + 1e-7} AND greatest(s.x0, s.x1) + {_MM_RADIUS + 1e-7}
   AND g.lat BETWEEN least(s.y0, s.y1) - {_MM_RADIUS + 1e-7} AND greatest(s.y0, s.y1) + {_MM_RADIUS + 1e-7}
),
cand1 AS (
  SELECT event_id, seg_id, px, py, x0, y0, dx, dy,
         CASE WHEN dx * dx + dy * dy = 0 THEN 0.0
              ELSE greatest(0.0, least(1.0,
                   ((px - x0) * dx + (py - y0) * dy) / (dx * dx + dy * dy)))
         END AS t
  FROM cand0
),
cand AS (
  SELECT event_id, seg_id,
         round(sqrt((px - (x0 + t * dx)) * (px - (x0 + t * dx))
                  + (py - (y0 + t * dy)) * (py - (y0 + t * dy))), 7) AS dist_r
  FROM cand1
),
best AS (
  SELECT event_id, seg_id, dist_r,
         row_number() OVER (PARTITION BY event_id ORDER BY dist_r, seg_id) AS rn
  FROM cand WHERE dist_r <= {_MM_RADIUS}
)
SELECT seg_id, count(*) AS n_matched, round(sum(dist_r), 4) AS sum_dist_r
FROM best WHERE rn = 1
GROUP BY seg_id
"""


# --------------------------------------------------------------------------
# E10b — segment-intersection self-join: proper crossings in a dense
# synthetic road network (`spatial.segment_intersection_join`) — grid
# equi-join candidates (shared covering cell; never all-pairs),
# orientation-test predicate and parametric crossing point in codegen.
# The oracle brute-forces all pairs with the identical predicate (the
# predicate implies bbox overlap implies a shared cell, so candidate
# topology cannot change the answer).
# --------------------------------------------------------------------------

_SI_N_SEGS = 500
_SI_GRID = 0.5


def dense_road_segments(spark):
    """Deterministic dense network in a 10°×10° region (segments ≤0.5°
    per axis) — enough crossings for a non-degenerate intersection set.
    The y/dy formulas carry a QUADRATIC term: with linear congruences
    only, (x0, y0) fall on a rank-1 lattice whose line spacing exceeds
    the segment length and the network has zero crossings."""
    s = F.col("id")
    x0 = (s * 7919) % 1000 / 100.0
    y0 = (s * s * 61 + s * 104729) % 1000 / 100.0
    dx = ((s * 131) % 21 - 10) / 20.0
    dy = ((s * s * 7 + s * 137) % 21 - 10) / 20.0
    return spark.range(_SI_N_SEGS).select(
        s.alias("seg_id"),
        x0.alias("x0"),
        y0.alias("y0"),
        (x0 + dx).alias("x1"),
        (y0 + dy).alias("y1"),
    )


def q_seg_intersections(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import segment_intersection_join

    return segment_intersection_join(dense_road_segments(spark), grid_deg=_SI_GRID)


SQL_SEG_INTERSECTIONS = f"""
WITH segs AS (
  SELECT s AS seg_id,
         ((s * 7919) % 1000) / 100.0 AS x0,
         ((s * s * 61 + s * 104729) % 1000) / 100.0 AS y0,
         ((s * 7919) % 1000) / 100.0 + (((s * 131) % 21) - 10) / 20.0 AS x1,
         ((s * s * 61 + s * 104729) % 1000) / 100.0 + (((s * s * 7 + s * 137) % 21) - 10) / 20.0 AS y1
  FROM range({_SI_N_SEGS}) t(s)
),
pairs AS (
  SELECT a.seg_id AS seg_a, b.seg_id AS seg_b,
         a.x0 AS ax, a.y0 AS ay, a.x1 AS bx, a.y1 AS by,
         b.x0 AS cx, b.y0 AS cy, b.x1 AS dx, b.y1 AS dy
  FROM segs a JOIN segs b ON a.seg_id < b.seg_id
),
tested AS (
  SELECT seg_a, seg_b, ax, ay, bx, by, cx, cy, dx, dy,
         (bx - ax) * (cy - ay) - (by - ay) * (cx - ax) AS d1,
         (bx - ax) * (dy - ay) - (by - ay) * (dx - ax) AS d2,
         (dx - cx) * (ay - cy) - (dy - cy) * (ax - cx) AS d3,
         (dx - cx) * (by - cy) - (dy - cy) * (bx - cx) AS d4
  FROM pairs
)
SELECT seg_a, seg_b,
       round(ax + (((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx))
                 / ((bx - ax) * (dy - cy) - (by - ay) * (dx - cx))) * (bx - ax), 6) AS ix_r,
       round(ay + (((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx))
                 / ((bx - ax) * (dy - cy) - (by - ay) * (dx - cx))) * (by - ay), 6) AS iy_r
FROM tested
WHERE d1 * d2 < 0 AND d3 * d4 < 0
"""


# --------------------------------------------------------------------------
# E1c — hierarchical cell-set COMPACTION (H3 `compact` analogue on the
# Z-quadtree): the occupied level-6 cells of the events table, with
# every complete sibling quad recursively replaced by its parent — the
# canonical minimal multi-level covering.  The oracle replays all six
# merge rounds as chained CTEs (complete-quad test per level) and the
# marker-bit level ladder exactly.
# --------------------------------------------------------------------------

_COMPACT_LEVEL = 6


def _sql_cell_level_ladder(level: int) -> str:
    terms = " ".join(
        f"WHEN cell >= {1 << (2 * lv)} THEN {lv}" for lv in range(level, 0, -1)
    )
    return f"CAST(CASE {terms} ELSE 0 END AS INT)"


def _sql_compact(base_select: str, level: int) -> str:
    parts = [f"s{level} AS ({base_select})"]
    union_terms = []
    for lv in range(level, 0, -1):
        parts.append(
            f"m{lv} AS (SELECT cell // 4 AS p FROM s{lv} GROUP BY 1 HAVING count(*) = 4)"
        )
        parts.append(
            f"f{lv} AS (SELECT cell FROM s{lv} "
            f"WHERE cell // 4 NOT IN (SELECT p FROM m{lv}))"
        )
        parts.append(f"s{lv - 1} AS (SELECT p AS cell FROM m{lv})")
        union_terms.append(f"SELECT cell FROM f{lv}")
    union_terms.append("SELECT cell FROM s0")
    body = " UNION ALL ".join(union_terms)
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT cell, {_sql_cell_level_ladder(level)} AS level FROM ({body})"
    )


def q_compact_cells(spark, sf_dir):
    from gotrackmaster_spark.functions.cells import compact_cells

    occ = geo_events(spark, sf_dir).select(
        cell_col(F.col("lat"), F.col("lon"), _COMPACT_LEVEL).alias("cell")
    )
    out = compact_cells(occ)
    return out.select("cell", F.col("level").cast("int").alias("level"))


SQL_COMPACT_CELLS = _sql_compact(
    f"SELECT DISTINCT {cell_sql(_LAT, _LON, _COMPACT_LEVEL)} AS cell FROM events",
    _COMPACT_LEVEL,
)


# --------------------------------------------------------------------------
# E2e — batch geofence: polygon ENTRY detection per (user, polygon).
# A user "enters" a polygon at event i when event i is inside and the
# user's previous event (global per-user sequence) was not inside the
# same polygon.  Only INSIDE rows ever materialize (the PIP join emits
# hits, absence = outside), so the events×polygons cross never exists;
# the entry test is a lag over (user, poly) on the user-sequence number.
# --------------------------------------------------------------------------

def q_geofence_entries(spark, sf_dir):
    from pyspark.sql import Window

    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    ev = geo_events(spark, sf_dir).select("event_id", "user_id", "ts", "lat", "lon")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("rn", F.row_number().over(w_user))
    hits = point_in_polygon_join(
        seq.select("event_id", "user_id", "rn", "lat", "lon"),
        rect_polygons(spark, sf_dir),
        level=7,
    )
    w_up = Window.partitionBy("user_id", "poly_id").orderBy("rn")
    prev_rn = F.lag("rn").over(w_up)
    flagged = hits.withColumn(
        "is_entry",
        F.when(prev_rn.isNull() | (F.col("rn") - prev_rn > 1), 1).otherwise(0),
    )
    return flagged.groupBy("user_id", "poly_id").agg(
        F.sum("is_entry").alias("n_entries"),
        F.count("*").alias("n_inside"),
        F.min("rn").cast("long").alias("first_rn"),
    )


SQL_GEOFENCE_ENTRIES = f"""
WITH {GEO_CTE},
seq AS (
  SELECT event_id, user_id, lat, lon,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM geo
),
rects AS ({_RECT_SQL}),
hits AS (
  SELECT s.user_id, r.poly_id, s.rn
  FROM seq s JOIN rects r
    ON s.lat > r.lat0 AND s.lat < r.lat1 AND s.lon > r.lon0 AND s.lon < r.lon1
),
flagged AS (
  SELECT user_id, poly_id, rn,
         CASE WHEN lag(rn) OVER (PARTITION BY user_id, poly_id ORDER BY rn)
                   IS NULL
              OR rn - lag(rn) OVER (PARTITION BY user_id, poly_id ORDER BY rn) > 1
              THEN 1 ELSE 0 END AS is_entry
  FROM hits
)
SELECT user_id, poly_id,
       CAST(sum(is_entry) AS BIGINT) AS n_entries,
       count(*) AS n_inside,
       CAST(min(rn) AS BIGINT) AS first_rn
FROM flagged GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# W1b — movement analytics: per-user LEG BEARINGS and TURN ANGLES.
# Bearing = initial great-circle azimuth per consecutive-point leg
# (lag window); turn = signed, normalized bearing change between
# consecutive legs, in (-180, 180].  Aggregates per user: leg count,
# mean |turn| (zigzag/noise indicator), sharp-turn count (|turn|>120).
# Pure codegen trig over windows — one shuffle on user_id.
# --------------------------------------------------------------------------

def q_turn_stats(spark, sf_dir):
    from pyspark.sql import Window

    pts = geo_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    brg = bearing_col(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    legs = pts.select("user_id", "ts", "event_id", brg.alias("brg")).filter(
        F.col("brg").isNotNull()
    )
    turn = (F.col("brg") - F.lag("brg").over(w) + 540.0) % 360.0 - 180.0
    turns = legs.select("user_id", turn.alias("turn")).filter(
        F.col("turn").isNotNull()
    )
    return turns.groupBy("user_id").agg(
        F.count("*").alias("n_turns"),
        F.round(F.avg(F.abs(F.col("turn"))), 4).alias("mean_abs_turn_r"),
        F.sum(F.when(F.abs(F.col("turn")) > 120.0, 1).otherwise(0)).alias("n_sharp"),
    )


_BRG_SQL = bearing_sql("prev_lat", "prev_lon", "lat", "lon")

SQL_TURN_STATS = f"""
WITH {GEO_CTE},
o AS (
  SELECT user_id, ts, event_id, lat, lon,
         lag(lat) OVER w AS prev_lat, lag(lon) OVER w AS prev_lon
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
legs AS (
  SELECT user_id, ts, event_id, {_BRG_SQL} AS brg
  FROM o WHERE prev_lat IS NOT NULL
),
turns AS (
  SELECT user_id,
         (brg - lag(brg) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          + 540.0) % 360.0 - 180.0 AS turn
  FROM legs
)
SELECT user_id, count(*) AS n_turns,
       round(avg(abs(turn)), 4) AS mean_abs_turn_r,
       CAST(sum(CASE WHEN abs(turn) > 120.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sharp
FROM turns WHERE turn IS NOT NULL GROUP BY user_id
"""


# --------------------------------------------------------------------------
# E11 — morphological operators over grid-cell sets: dilation (cell-set
# buffer) and erosion (interior cells) of each event type's coverage
# region on a 5° lattice (`spatial.cell_set_dilate` / `cell_set_erode`).
# Both are bounded ×9 explodes + hash aggregates — linear, no joins
# (erode's occupancy==9 already implies membership).  The oracle replays
# the identical offset algebra with a 9-row offsets CTE.
# --------------------------------------------------------------------------

_MORPH_G = 5.0
_bound_morph_cache = make_bounded_cache()  # previous call's distinct cell set


def q_cell_morphology(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import cell_set_dilate, cell_set_erode

    geo = geo_events(spark, sf_dir)
    # the base/dilate/erode branches all consume the same distinct cell
    # set — cache the tiny (event_type, gx, gy) rows so the points-scale
    # scan + distinct runs ONCE, not three times (bounded-lifetime slot,
    # same policy as zonal/dedup)
    cells = _bound_morph_cache(
        geo.select(
            "event_type",
            F.floor(F.col("lon") / _MORPH_G).cast("long").alias("gx"),
            F.floor(F.col("lat") / _MORPH_G).cast("long").alias("gy"),
        ).distinct()
    )
    base = cells.groupBy("event_type").agg(F.count("*").alias("n_cells"))
    dil = (
        cell_set_dilate(cells, ["event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_dilated"))
    )
    ero = (
        cell_set_erode(cells, ["event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_eroded"))
    )
    return (
        base.join(dil, "event_type")
        .join(ero, "event_type", "left")
        .select(
            "event_type",
            "n_cells",
            "n_dilated",
            F.coalesce(F.col("n_eroded"), F.lit(0)).alias("n_eroded"),
        )
    )


SQL_CELL_MORPHOLOGY = f"""
WITH {GEO_CTE},
cells AS (
  SELECT DISTINCT event_type,
         CAST(floor(lon / {_MORPH_G}) AS BIGINT) AS gx,
         CAST(floor(lat / {_MORPH_G}) AS BIGINT) AS gy
  FROM geo
),
off AS (SELECT dx - 1 AS dx, dy - 1 AS dy FROM range(3) t1(dx), range(3) t2(dy)),
dil AS (
  SELECT DISTINCT event_type, gx + dx AS gx, gy + dy AS gy FROM cells, off
),
occ AS (
  SELECT event_type, gx + dx AS gx, gy + dy AS gy, count(*) AS c
  FROM cells, off GROUP BY 1, 2, 3
),
ero AS (
  SELECT c.event_type, c.gx, c.gy
  FROM cells c
  JOIN occ o ON o.event_type = c.event_type AND o.gx = c.gx AND o.gy = c.gy
  WHERE o.c = 9
)
SELECT b.event_type, b.n_cells, d.n_dilated, COALESCE(e.n_eroded, 0) AS n_eroded
FROM (SELECT event_type, count(*) AS n_cells FROM cells GROUP BY 1) b
JOIN (SELECT event_type, count(*) AS n_dilated FROM dil GROUP BY 1) d USING (event_type)
LEFT JOIN (SELECT event_type, count(*) AS n_eroded FROM ero GROUP BY 1) e USING (event_type)
"""


# --------------------------------------------------------------------------
# E12 — per-user track diameter: convex hull + vectorized antipodal scan
# in ONE Arrow batch per user (`spatial.track_diameter`, O(n log n + h²))
# vs the oracle's O(n²) per-user all-pairs brute force — same answer,
# bit-identical arithmetic (subtract/square/add/sqrt in the same order),
# radically different plan at 10⁶-point tracks.
# --------------------------------------------------------------------------

def q_track_diameter(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import track_diameter

    pts = geo_events(spark, sf_dir).select("user_id", "lat", "lon")
    return track_diameter(pts, group_col="user_id").select(
        "user_id", "diam_deg", "n_pts"
    )


SQL_TRACK_DIAMETER = f"""
WITH {GEO_CTE},
pairs AS (
  SELECT a.user_id,
         max((a.lon - b.lon) * (a.lon - b.lon)
           + (a.lat - b.lat) * (a.lat - b.lat)) AS d2
  FROM geo a JOIN geo b ON a.user_id = b.user_id AND a.event_id <= b.event_id
  GROUP BY a.user_id
)
SELECT p.user_id, round(sqrt(p.d2), 7) AS diam_deg, n.n_pts
FROM pairs p
JOIN (SELECT user_id, count(*) AS n_pts FROM geo GROUP BY 1) n USING (user_id)
"""


# --------------------------------------------------------------------------
# E14 — polygon shoelace area + area-weighted centroid over jittered
# quadrilaterals (`functions/geometry.py`): the whole computation is
# Catalyst higher-order functions (zip_with + aggregate) on the ring
# array — NO explode, NO window, NO shuffle; a pure row-local scan.
# The oracle replays the four cross terms in the identical left-fold
# order, so the sums are bit-exact.
# --------------------------------------------------------------------------

def _quad_polygons(spark, sf_dir):
    """Deterministic non-rectangular simple quads: the customer rects
    with per-corner jitter in [0, 0.495] (< half the min side, so the
    quad stays simple and counter-clockwise)."""
    cust = _t(spark, sf_dir, "customer")
    n = F.col("c_custkey").cast("long")
    lat0 = ((n * 911) % 150 - 75).cast("double") + 0.00005
    lat1 = lat0 + (3 + (n % 5)).cast("double")
    lon0 = ((n * 1931) % 340 - 170).cast("double") + 0.00005
    lon1 = lon0 + (4 + (n % 7)).cast("double")

    def j(p):
        return ((n * p) % 100).cast("double") / 200.0

    ring = F.array(
        F.struct((lat0 + j(7)).alias("lat"), (lon0 + j(13)).alias("lon")),
        F.struct((lat0 + j(17)).alias("lat"), (lon1 + j(23)).alias("lon")),
        F.struct((lat1 + j(29)).alias("lat"), (lon1 + j(37)).alias("lon")),
        F.struct((lat1 + j(41)).alias("lat"), (lon0 + j(47)).alias("lon")),
    )
    return cust.select(
        F.col("c_custkey").cast("string").alias("poly_id"), ring.alias("ring")
    )


def q_poly_geometry(spark, sf_dir):
    from gotrackmaster_spark.functions.geometry import (
        ring_centroid,
        ring_shoelace_area,
    )

    quads = _quad_polygons(spark, sf_dir)
    cx, cy = ring_centroid(F.col("ring"))
    return quads.select(
        "poly_id",
        F.round(ring_shoelace_area(F.col("ring")), 6).alias("area_r"),
        F.round(cx, 6).alias("cx_r"),
        F.round(cy, 6).alias("cy_r"),
    )


SQL_POLY_GEOMETRY = """
WITH base AS (
  SELECT CAST(c_custkey AS VARCHAR) AS poly_id,
         CAST(c_custkey AS BIGINT) AS n,
         CAST((CAST(c_custkey AS BIGINT) * 911) % 150 - 75 AS DOUBLE) + 0.00005 AS lat0,
         CAST((CAST(c_custkey AS BIGINT) * 1931) % 340 - 170 AS DOUBLE) + 0.00005 AS lon0
  FROM customer
),
quads AS (
  SELECT poly_id,
         lat0 + CAST((n * 7) % 100 AS DOUBLE) / 200.0 AS y1,
         lon0 + CAST((n * 13) % 100 AS DOUBLE) / 200.0 AS x1,
         lat0 + CAST((n * 17) % 100 AS DOUBLE) / 200.0 AS y2,
         (lon0 + CAST(4 + (n % 7) AS DOUBLE)) + CAST((n * 23) % 100 AS DOUBLE) / 200.0 AS x2,
         (lat0 + CAST(3 + (n % 5) AS DOUBLE)) + CAST((n * 29) % 100 AS DOUBLE) / 200.0 AS y3,
         (lon0 + CAST(4 + (n % 7) AS DOUBLE)) + CAST((n * 37) % 100 AS DOUBLE) / 200.0 AS x3,
         (lat0 + CAST(3 + (n % 5) AS DOUBLE)) + CAST((n * 41) % 100 AS DOUBLE) / 200.0 AS y4,
         lon0 + CAST((n * 47) % 100 AS DOUBLE) / 200.0 AS x4
  FROM base
),
terms AS (
  SELECT poly_id,
         x1 * y2 - x2 * y1 AS t1,
         x2 * y3 - x3 * y2 AS t2,
         x3 * y4 - x4 * y3 AS t3,
         x4 * y1 - x1 * y4 AS t4,
         (x1 + x2) * (x1 * y2 - x2 * y1) AS sx1,
         (x2 + x3) * (x2 * y3 - x3 * y2) AS sx2,
         (x3 + x4) * (x3 * y4 - x4 * y3) AS sx3,
         (x4 + x1) * (x4 * y1 - x1 * y4) AS sx4,
         (y1 + y2) * (x1 * y2 - x2 * y1) AS sy1,
         (y2 + y3) * (x2 * y3 - x3 * y2) AS sy2,
         (y3 + y4) * (x3 * y4 - x4 * y3) AS sy3,
         (y4 + y1) * (x4 * y1 - x1 * y4) AS sy4
  FROM quads
)
SELECT poly_id,
       round(((((t1 + t2) + t3) + t4)) / 2.0, 6) AS area_r,
       round((((sx1 + sx2) + sx3) + sx4) / (3.0 * (((t1 + t2) + t3) + t4)), 6) AS cx_r,
       round((((sy1 + sy2) + sy3) + sy4) / (3.0 * (((t1 + t2) + t3) + t4)), 6) AS cy_r
FROM terms
"""


# --------------------------------------------------------------------------
# E17 — uniform time-grid resampling (`timeseries.resample_time_grid`):
# each user's irregular fix series re-emitted on the weekly grid with
# linearly interpolated positions — the fixed-rate view a sequence
# model consumes.  One window exchange + a codegen sequence/explode;
# inverted/duplicate-timestamp legs are dropped BEFORE the explode
# (Spark's sequence steps backwards on inverted ranges — the
# interval-join hazard), and duplicate-ts pairing is made deterministic
# by the event_id tiebreak so the oracle replays it exactly.
# --------------------------------------------------------------------------

_RESAMPLE_US = 7 * 86400 * 1_000_000


def q_resample_grid(spark, sf_dir):
    from gotrackmaster_spark.operators.timeseries import resample_time_grid

    geo = geo_events(spark, sf_dir).select("user_id", "event_id", "ts", "lat", "lon")
    grid = resample_time_grid(
        geo, _RESAMPLE_US, tiebreak_col="event_id"
    )
    return grid.groupBy("user_id").agg(
        F.count("*").alias("n_grid"),
        F.round(F.sum("g_lat"), 4).alias("sum_glat_r"),
        F.round(F.sum("g_lon"), 4).alias("sum_glon_r"),
    )


SQL_RESAMPLE_GRID = f"""
WITH {GEO_CTE},
o AS (
  SELECT user_id, epoch_us(ts) AS t0, lat, lon,
         lead(epoch_us(ts)) OVER w AS t1,
         lead(lat) OVER w AS lat1, lead(lon) OVER w AS lon1
  FROM geo
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
legs AS (SELECT * FROM o WHERE t1 > t0),
ticks AS (
  SELECT user_id, t0, t1, lat, lon, lat1, lon1, g.k AS k
  FROM legs,
       UNNEST(generate_series((t0 + {_RESAMPLE_US - 1}) // {_RESAMPLE_US},
                              (t1 + {_RESAMPLE_US - 1}) // {_RESAMPLE_US} - 1)) AS g(k)
),
interp AS (
  SELECT user_id,
         lat + ((k * {_RESAMPLE_US} - t0) / (t1 - t0)) * (lat1 - lat) AS g_lat,
         lon + ((k * {_RESAMPLE_US} - t0) / (t1 - t0)) * (lon1 - lon) AS g_lon
  FROM ticks
)
SELECT user_id, count(*) AS n_grid,
       round(sum(g_lat), 4) AS sum_glat_r,
       round(sum(g_lon), 4) AS sum_glon_r
FROM interp GROUP BY user_id
"""

SQL_D8_FLOW = f"""
WITH {_D8_CTES}
SELECT x, y, ele,
       CASE WHEN m = 0 THEN 0 {_D8_PICK} END AS flow_dir,
       m AS best_score
FROM scm
"""


# --------------------------------------------------------------------------
# E25 — PIP with holes (`spatial.point_in_polygon_join_holes`): donut
# polygons (the nation rectangles with a centered half-size hole) via
# COMPOSITION — shell hits LEFT ANTI hole hits on (event_id, poly_id);
# both legs the standard broadcast-covering PIP.  Oracle: inside outer
# AND NOT inside hole, brute-force bounds join.
# --------------------------------------------------------------------------


def donut_polygons(spark, sf_dir) -> DataFrame:
    """The rect_polygons layer with a centered half-size rectangular
    hole — rings[0] = shell, rings[1] = hole."""
    nat = _t(spark, sf_dir, "nation")
    lat0, lat1, lon0, lon1 = _rect_bounds_cols()
    h_lat0, h_lat1 = lat0 + (lat1 - lat0) * 0.25, lat1 - (lat1 - lat0) * 0.25
    h_lon0, h_lon1 = lon0 + (lon1 - lon0) * 0.25, lon1 - (lon1 - lon0) * 0.25

    def rect_ring(a0, a1, b0, b1):
        return F.array(
            F.struct(a0.alias("lat"), b0.alias("lon")),
            F.struct(a0.alias("lat"), b1.alias("lon")),
            F.struct(a1.alias("lat"), b1.alias("lon")),
            F.struct(a1.alias("lat"), b0.alias("lon")),
        )

    return nat.select(
        F.col("n_nationkey").cast("string").alias("poly_id"),
        F.array(
            rect_ring(lat0, lat1, lon0, lon1),
            rect_ring(h_lat0, h_lat1, h_lon0, h_lon1),
        ).alias("rings"),
    )


def q_pip_donut(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join_holes

    pts = geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    hits = point_in_polygon_join_holes(pts, donut_polygons(spark, sf_dir), level=7)
    return hits.groupBy("poly_id").agg(F.count("*").alias("n_points"))


SQL_PIP_DONUT = f"""
WITH {GEO_CTE},
rects AS ({_RECT_SQL}),
donut AS (
  SELECT poly_id, lat0, lat1, lon0, lon1,
         lat0 + (lat1 - lat0) * 0.25 AS h_lat0,
         lat1 - (lat1 - lat0) * 0.25 AS h_lat1,
         lon0 + (lon1 - lon0) * 0.25 AS h_lon0,
         lon1 - (lon1 - lon0) * 0.25 AS h_lon1
  FROM rects
)
SELECT r.poly_id, count(*) AS n_points
FROM geo g JOIN donut r
  ON g.lat > r.lat0 AND g.lat < r.lat1 AND g.lon > r.lon0 AND g.lon < r.lon1
 AND NOT (g.lat > r.h_lat0 AND g.lat < r.h_lat1
          AND g.lon > r.h_lon0 AND g.lon < r.h_lon1)
GROUP BY r.poly_id
"""


# --------------------------------------------------------------------------
# E27 — per-user sinuosity (`sinuosity` composite): path length over
# straight-line displacement on the fixed-point lattice, both
# quantized floor(√d²·10³) so the sums are exact int64 (the
# clark_evans determinism trick) and the index is ONE int/int
# division.  One lag window on the user key + one aggregate reusing
# its partitioning.
# --------------------------------------------------------------------------

_SIN_QUANT = 1000


def q_sinuosity(spark, sf_dir):
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * F.lit(2654435761)) % 1600000).alias("x"),
        ((F.col("event_id") * 40503 + 7) % 3600000).alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    legs = pts.select(
        "user_id",
        "ts",
        "event_id",
        "x",
        "y",
        (F.col("x") - F.lag("x").over(w)).alias("dx"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.first("x").over(w).alias("x0"),
        F.first("y").over(w).alias("y0"),
    )
    d2 = F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
    leg_q = F.floor(F.sqrt(d2) * F.lit(float(_SIN_QUANT))).cast("long")
    e2 = (F.col("x") - F.col("x0")) * (F.col("x") - F.col("x0")) + (
        F.col("y") - F.col("y0")
    ) * (F.col("y") - F.col("y0"))
    end_q = F.floor(F.sqrt(e2) * F.lit(float(_SIN_QUANT))).cast("long")
    agg = legs.groupBy("user_id").agg(
        F.coalesce(F.sum(F.when(F.col("dx").isNotNull(), leg_q)), F.lit(0)).alias(
            "path_q"
        ),
        F.count(F.col("dx")).alias("n_legs"),
        # endpoint displacement = end_q of the LAST row by (ts, event_id):
        # lexicographic struct-max (DuckDB twin: max_by(end_q, (ts, event_id)))
        F.max(F.struct("ts", "event_id", end_q.alias("eq")))["eq"].alias(
            "straight_q"
        ),
    )
    guard = F.col("straight_q") > 0
    return agg.select(
        "user_id",
        "n_legs",
        "path_q",
        "straight_q",
        F.when(guard, F.col("path_q") / F.col("straight_q")).alias("sinuosity"),
    )


SQL_SINUOSITY = f"""
WITH pts AS (
  SELECT user_id, ts, event_id,
         (event_id * 2654435761) % 1600000 AS x,
         (event_id * 40503 + 7) % 3600000 AS y
  FROM events
),
legs AS (
  SELECT user_id, ts, event_id, x, y,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy,
         first_value(x) OVER w AS x0, first_value(y) OVER w AS y0
  FROM pts
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
q AS (
  SELECT user_id, ts, event_id,
         CASE WHEN dx IS NOT NULL THEN
           CAST(floor(sqrt(CAST(dx * dx + dy * dy AS DOUBLE))
                      * CAST({float(_SIN_QUANT)} AS DOUBLE)) AS BIGINT)
         END AS leg_q,
         CAST(floor(sqrt(CAST((x - x0) * (x - x0) + (y - y0) * (y - y0) AS DOUBLE))
                    * CAST({float(_SIN_QUANT)} AS DOUBLE)) AS BIGINT) AS end_q
  FROM legs
),
q2 AS (
  SELECT user_id, leg_q,
         last_value(end_q) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_eq
  FROM q
)
SELECT user_id,
       CAST(count(leg_q) AS BIGINT) AS n_legs,
       CAST(coalesce(sum(leg_q), 0) AS BIGINT) AS path_q,
       CAST(max(last_eq) AS BIGINT) AS straight_q,
       CASE WHEN max(last_eq) > 0 THEN
         coalesce(sum(leg_q), 0) / max(last_eq)
       END AS sinuosity
FROM q2 GROUP BY user_id
"""


# --------------------------------------------------------------------------
# E47 — polygon dissolve / union area on the cell lattice
# (`union_area`, operators/spatial.py::dissolve_union_cells): per
# market-segment union of the 1,500 customer rects — ST_Union+ST_Area
# without a geometry lib: distinct covered 1° cells via the exact
# half-open center test (ceil arithmetic identical in both engines);
# sum_cells / union_cells exact ints, overlap_ratio one fixed-order
# double quotient.
# --------------------------------------------------------------------------


def q_union_area(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import dissolve_union_cells

    cust = _t(spark, sf_dir, "customer")
    n = F.col("c_custkey").cast("long")
    lat0 = ((n * 911) % 150 - 75).cast("double") + 0.00005
    lon0 = ((n * 1931) % 340 - 170).cast("double") + 0.00005
    rects = cust.select(
        F.col("c_mktsegment").alias("segment"),
        lat0.alias("lat0"),
        (lat0 + (3 + (n % 5)).cast("double")).alias("lat1"),
        lon0.alias("lon0"),
        (lon0 + (4 + (n % 7)).cast("double")).alias("lon1"),
    )
    return dissolve_union_cells(rects, "segment")


SQL_UNION_AREA = f"""
WITH rect AS ({_CUST_RECT_SQL.replace("CAST(c_custkey AS VARCHAR) AS poly_id",
                                      "c_mktsegment AS segment")}),
b AS (
  SELECT segment,
         CAST(ceil(lat0 / 1.0 - 0.5) AS BIGINT) AS y0,
         CAST(ceil(lat1 / 1.0 - 0.5) AS BIGINT) - 1 AS y1,
         CAST(ceil(lon0 / 1.0 - 0.5) AS BIGINT) AS x0,
         CAST(ceil(lon1 / 1.0 - 0.5) AS BIGINT) - 1 AS x1
  FROM rect
  WHERE CAST(ceil(lat1 / 1.0 - 0.5) AS BIGINT) - 1 >= CAST(ceil(lat0 / 1.0 - 0.5) AS BIGINT)
    AND CAST(ceil(lon1 / 1.0 - 0.5) AS BIGINT) - 1 >= CAST(ceil(lon0 / 1.0 - 0.5) AS BIGINT)
),
per AS (
  SELECT segment, count(*) AS n_polys,
         CAST(sum((y1 - y0 + 1) * (x1 - x0 + 1)) AS BIGINT) AS sum_cells
  FROM b GROUP BY 1
),
rows_y AS (SELECT segment, unnest(generate_series(y0, y1)) AS iy, x0, x1 FROM b),
cells0 AS (SELECT segment, iy, unnest(generate_series(x0, x1)) AS ix FROM rows_y),
cellset AS (SELECT DISTINCT segment, iy, ix FROM cells0),
uni AS (SELECT segment, CAST(count(*) AS BIGINT) AS union_cells FROM cellset GROUP BY 1)
SELECT per.segment, per.n_polys, per.sum_cells, uni.union_cells,
       CAST(per.sum_cells AS DOUBLE) / CAST(uni.union_cells AS DOUBLE) AS overlap_ratio
FROM per JOIN uni USING (segment)
"""


# --------------------------------------------------------------------------
# E57 — Z-range window scan (`zrange_scan`,
# functions/cells.py::zranges_for_rect): the bbox→cell-range planner —
# the lat [−22.5°, 45°) × lon [−45°, 90°) window decomposed into the
# minimal EXACT Z-curve range cover (5 BETWEEN predicates at level 6),
# per-cell counts answered from range predicates alone.  The oracle
# filters on raw lat/lon bounds instead — equality PROVES the cover is
# exact; on a cell-range file layout (skew.repartition_by_cell_range)
# these BETWEENs are the row-group pruning predicate at 10¹² rows.
# --------------------------------------------------------------------------

_ZR_LEVEL = 6
_ZR_RECT = (24, 47, 24, 47)  # == lat [-22.5, 45) x lon [-45, 90) at level 6


def q_zrange_scan(spark, sf_dir):
    from gotrackmaster_spark.functions.cells import zranges_for_rect

    pts = geo_events(spark, sf_dir)
    cell = cell_col(F.col("lat"), F.col("lon"), _ZR_LEVEL)
    ranges = zranges_for_rect(*_ZR_RECT, _ZR_LEVEL)
    tagged = pts.select(cell.alias("cell6"))
    pred = None
    for lo, hi in ranges:
        p = F.col("cell6").between(F.lit(lo), F.lit(hi))
        pred = p if pred is None else (pred | p)
    return tagged.filter(pred).groupBy("cell6").agg(F.count("*").alias("n"))


SQL_ZRANGE_SCAN = f"""
WITH {GEO_CTE}
SELECT {cell_sql('lat', 'lon', _ZR_LEVEL)} AS cell6, count(*) AS n
FROM geo
WHERE lat >= -22.5 AND lat < 45.0 AND lon >= -45.0 AND lon < 90.0
GROUP BY 1
"""


# --------------------------------------------------------------------------
# E58 — quantized DEM viewshed (`dem_viewshed` composite): line-of-
# sight along the 8 principal rays from an observer tower at (0, 0) —
# cell k is visible iff its QUANTIZED elevation slope
# ((e − e0)·10⁶) DIV k strictly exceeds the running max over nearer
# cells (the constant √2 of diagonal rays cancels within a ray, and
# integer quantization replaces the unpinnable float ratio — the
# documented quantized-viewshed contract).  Pure codegen ray explode
# (no DEM join: elevations from the synthetic formula) + ONE window
# per ray; at scale the rays explode from the observer table and join
# the DEM raster cell-keyed.
# --------------------------------------------------------------------------

_VS_E0 = 31870 + 100  # formula elevation at (0,0) + 100 m tower
_VS_STEPS = 60
_VS_QUANT = 10**6


def q_dem_viewshed(spark, sf_dir):
    from pyspark.sql import Window

    rays = spark.range(8).select(
        F.col("id").cast("int").alias("ray"),
        F.expr(f"explode(sequence(1, {_VS_STEPS}))").alias("k"),
    )
    dx = F.expr("CASE ray WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0 WHEN 3 THEN -1 "
                "WHEN 4 THEN -1 WHEN 5 THEN -1 WHEN 6 THEN 0 ELSE 1 END")
    dy = F.expr("CASE ray WHEN 0 THEN 0 WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN -1 "
                "WHEN 4 THEN 0 WHEN 5 THEN 1 WHEN 6 THEN 1 ELSE 1 END")
    pts = rays.select(
        "ray", "k", (dx * F.col("k")).alias("x"), (dy * F.col("k")).alias("y")
    )
    ele = ((F.col("y") + 90) * 361 + (F.col("x") + 180)) * F.lit(2654435761) % 40000
    # (e - e0) is negative below the tower: both Spark DIV and DuckDB //
    # truncate toward zero (verified: -7 // 2 = -3 in DuckDB), so the
    # quantized slope is the same one-quotient expression in both engines
    slope_q = F.expr(f"((ele - {_VS_E0}) * {_VS_QUANT}) DIV k")
    w = (
        Window.partitionBy("ray")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = pts.withColumn("ele", ele).withColumn("slope_q", slope_q)
    prev = F.max("slope_q").over(w)
    return scored.select(
        "ray",
        "k",
        "x",
        "y",
        "ele",
        "slope_q",
        (prev.isNull() | (F.col("slope_q") > prev)).alias("visible"),
    )


SQL_DEM_VIEWSHED = f"""
WITH rays AS (
  SELECT ray, unnest(generate_series(1, {_VS_STEPS})) AS k
  FROM (SELECT CAST(r AS INT) AS ray FROM range(8) t(r))
),
pts AS (
  SELECT ray, k,
         (CASE ray WHEN 0 THEN 1 WHEN 1 THEN 1 WHEN 2 THEN 0 WHEN 3 THEN -1
                   WHEN 4 THEN -1 WHEN 5 THEN -1 WHEN 6 THEN 0 ELSE 1 END) * k AS x,
         (CASE ray WHEN 0 THEN 0 WHEN 1 THEN -1 WHEN 2 THEN -1 WHEN 3 THEN -1
                   WHEN 4 THEN 0 WHEN 5 THEN 1 WHEN 6 THEN 1 ELSE 1 END) * k AS y
  FROM rays
),
scored AS (
  SELECT ray, k, x, y,
         ((y + 90) * 361 + (x + 180)) * 2654435761 % 40000 AS ele,
         ((((y + 90) * 361 + (x + 180)) * 2654435761 % 40000 - {_VS_E0})
          * {_VS_QUANT}) // k AS slope_q
  FROM pts
)
SELECT ray, k, x, y, ele, slope_q,
       coalesce(slope_q > max(slope_q) OVER (PARTITION BY ray ORDER BY k
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), TRUE) AS visible
FROM scored
"""


# --------------------------------------------------------------------------
# E65 — trajectory Hausdorff distance (`hausdorff_pairs`,
# `spatial.hausdorff_cell_pairs`): the set-DISTANCE companion to
# `trajectory_jaccard` — how far apart do two co-located users' visited
# regions actually get?  Inverted-index candidates (>= 2 shared 10-deg
# cells over a deterministic 1-in-4 point sample; hot cells above
# _HD_MAX_CELL_DF dropped from the index), then the exact
# max-min over candidate pairs' cell sets; squared integer grid
# distances end to end, so the whole output hashes exactly.
# --------------------------------------------------------------------------

_HD_G = 10.0           # grid degrees
_HD_MIN_SHARED = 2     # candidate cut: >= 2 shared cells
# hot-cell cap (the spatial.HAUSDORFF_MAX_CELL_DF default): cells visited by
# more trajectories are dropped from the CANDIDATE index (stop-shingle
# convention) — per-cell candidate output bounded at C(cap, 2).  At sf0.01
# the max per-cell df is 8, so driver output is unchanged by the cap.
_HD_MAX_CELL_DF = 64


def _hd_traj(spark, sf_dir):
    return (
        geo_events(spark, sf_dir)
        .filter(F.col("event_id") % 4 == 0)
        .select(
            F.col("user_id").alias("tid"),
            F.floor(F.col("lon") / _HD_G).cast("long").alias("gx"),
            F.floor(F.col("lat") / _HD_G).cast("long").alias("gy"),
        )
        .distinct()
    )


def q_hausdorff_pairs(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import hausdorff_cell_pairs

    out = hausdorff_cell_pairs(_hd_traj(spark, sf_dir), min_shared=_HD_MIN_SHARED)
    return out.select("tid_a", "tid_b", "n_shared", "h2_ab", "h2_ba", "h2")


SQL_HAUSDORFF_PAIRS = f"""
WITH {GEO_CTE},
vis AS (
  SELECT DISTINCT user_id AS tid,
         CAST(floor(lon / {_HD_G}) AS BIGINT) AS gx,
         CAST(floor(lat / {_HD_G}) AS BIGINT) AS gy
  FROM geo WHERE event_id % 4 = 0
),
hot AS (
  SELECT gx, gy FROM vis GROUP BY 1, 2
  HAVING count(*) > {_HD_MAX_CELL_DF}
),
idx AS (
  SELECT v.* FROM vis v
  WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.gx = v.gx AND h.gy = v.gy)
),
cand AS (
  SELECT a.tid AS tid_a, b.tid AS tid_b, count(*) AS n_shared
  FROM idx a JOIN idx b ON a.gx = b.gx AND a.gy = b.gy AND a.tid < b.tid
  GROUP BY 1, 2 HAVING count(*) >= {_HD_MIN_SHARED}
),
ex AS (
  SELECT c.tid_a, c.tid_b, a.gx AS agx, a.gy AS agy, b.gx AS bgx, b.gy AS bgy,
         (a.gx - b.gx) * (a.gx - b.gx) + (a.gy - b.gy) * (a.gy - b.gy) AS d2
  FROM cand c JOIN vis a ON a.tid = c.tid_a JOIN vis b ON b.tid = c.tid_b
),
ma AS (
  SELECT tid_a, tid_b, max(m) AS h2_ab FROM (
    SELECT tid_a, tid_b, agx, agy, min(d2) AS m FROM ex GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
),
mb AS (
  SELECT tid_a, tid_b, max(m) AS h2_ba FROM (
    SELECT tid_a, tid_b, bgx, bgy, min(d2) AS m FROM ex GROUP BY 1, 2, 3, 4
  ) GROUP BY 1, 2
)
SELECT c.tid_a, c.tid_b, c.n_shared, ma.h2_ab, mb.h2_ba,
       greatest(ma.h2_ab, mb.h2_ba) AS h2
FROM cand c
JOIN ma ON ma.tid_a = c.tid_a AND ma.tid_b = c.tid_b
JOIN mb ON mb.tid_a = c.tid_a AND mb.tid_b = c.tid_b
"""


# --------------------------------------------------------------------------
# E67 — raster region labeling (`raster_regions` composite): classic
# connected-component labeling of the occupancy raster — 8-connected
# blobs of occupied 1-degree cells, each labeled by its min-id root
# (the flood-fill / percolation-cluster primitive, the raster twin of
# the near-dup `dup_components`).  Adjacency comes from the x8 offset
# explode EQUI-join (never an |dx|<=1 inequality join); labels from the
# shared iterative min-label operator; singleton cells rejoin as their
# own roots via one anti-join.  The oracle replays the clustering as a
# recursive-CTE closure over the identical edge set.
# --------------------------------------------------------------------------

_bound_rr_cache = make_bounded_cache()


def q_raster_regions(spark, sf_dir):
    from gotrackmaster_spark.operators.graph import connected_components

    geo = geo_events(spark, sf_dir)
    cells = geo.groupBy(
        F.floor(F.col("lon")).cast("long").alias("gx"),
        F.floor(F.col("lat")).cast("long").alias("gy"),
    ).agg(F.count("*").alias("cnt"))
    # integer node id (grid is bounded: |gx|<=180, |gy|<=90)
    nodes = _bound_rr_cache(
        cells.select(
            ((F.col("gx") + 200) * 1000 + F.col("gy") + 200).alias("v"),
            "gx", "gy", "cnt",
        )
    )
    tgt = nodes.withColumn(
        "__o",
        F.explode(F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0)
        ])),
    ).select(
        F.col("v").alias("a"),
        (F.col("gx") + F.col("__o.dx")).alias("tx"),
        (F.col("gy") + F.col("__o.dy")).alias("ty"),
    )
    edges = tgt.join(
        nodes.select(F.col("v").alias("b"), F.col("gx").alias("tx"), F.col("gy").alias("ty")),
        ["tx", "ty"],
    ).select("a", "b")
    comp = connected_components(edges, "a", "b")
    singles = nodes.join(comp, nodes["v"] == comp["v"], "left_anti").select(
        nodes["v"], nodes["v"].alias("l")
    )
    lab = comp.select("v", "l").union(singles)
    return (
        lab.join(nodes, "v")
        .groupBy(F.col("l").alias("root"))
        .agg(
            F.count("*").alias("n_cells"),
            F.sum("cnt").alias("n_points"),
            F.min("gx").alias("gx0"),
            F.max("gx").alias("gx1"),
            F.min("gy").alias("gy0"),
            F.max("gy").alias("gy1"),
        )
    )


SQL_RASTER_REGIONS = f"""
WITH RECURSIVE {GEO_CTE},
cells AS (
  SELECT CAST(floor(lon) AS BIGINT) AS gx, CAST(floor(lat) AS BIGINT) AS gy,
         count(*) AS cnt
  FROM geo GROUP BY 1, 2
),
n AS (SELECT (gx + 200) * 1000 + gy + 200 AS v, gx, gy, cnt FROM cells),
off AS (
  SELECT dx - 1 AS dx, dy - 1 AS dy
  FROM range(3) t1(dx), range(3) t2(dy)
  WHERE NOT (dx = 1 AND dy = 1)
),
ed AS (
  SELECT a.v AS a, b.v AS b
  FROM n a, off o
  JOIN n b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy
),
reach AS (
  SELECT v, v AS u FROM n
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN ed e ON e.a = r.u
),
comp AS (SELECT v, min(u) AS root FROM reach GROUP BY v)
SELECT c.root,
       CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(n.cnt) AS BIGINT) AS n_points,
       min(n.gx) AS gx0, max(n.gx) AS gx1,
       min(n.gy) AS gy0, max(n.gy) AS gy1
FROM comp c JOIN n ON n.v = c.v
GROUP BY 1
"""


__all__ = [
    "flagship_tiles",
    "GO_ZERO_US",
    "q_leg_haversine_sum",
    "SQL_LEG_HAVERSINE_SUM",
    "q_tile_counts",
    "SQL_TILE_COUNTS",
    "q_bounds_tiles",
    "_sql_bounds_tiles",
    "SQL_BOUNDS_TILES",
    "q_cell_parent_counts",
    "SQL_CELL_PARENT_COUNTS",
    "_SPEED_MAX",
    "q_speed_defect_counts",
    "SQL_SPEED_DEFECT_COUNTS",
    "q_distance_quality_base",
    "SQL_DISTANCE_QUALITY_BASE",
    "_TS2_US",
    "_ts2_us_col",
    "q_time_quality",
    "SQL_TIME_QUALITY",
    "_raw_creator_col",
    "q_creator_counts",
    "SQL_CREATOR_COUNTS",
    "q_pip_counts",
    "SQL_PIP_COUNTS",
    "q_pip_counts_hex",
    "SQL_PIP_COUNTS_HEX",
    "q_pip_antijoin",
    "SQL_PIP_ANTIJOIN",
    "_CUST_RECT_SQL",
    "cust_rect_polygons",
    "q_poly_overlaps",
    "SQL_POLY_OVERLAPS",
    "_TRAJ_J_NUM",
    "_TRAJ_J_DEN",
    "_TRAJ_MAX_CELL_DF",
    "q_trajectory_jaccard",
    "SQL_TRAJECTORY_JACCARD",
    "_KNN_K",
    "_q_knn",
    "q_knn",
    "_KNN_HEX_K",
    "q_knn_hex",
    "_sql_knn",
    "SQL_KNN_HEX",
    "SQL_KNN",
    "_DUP_SECONDS",
    "_DUP_METERS",
    "q_duplicate_pairs",
    "SQL_DUPLICATE_PAIRS",
    "_DUPE_DIFF_S",
    "_DUPE_DIST_M",
    "_dup_summaries",
    "q_duplicate_pairs_end",
    "_SQL_SD",
    "_SQL_ED",
    "SQL_DUPLICATE_PAIRS_END",
    "_dem_corner_sql",
    "_dem_corner_col",
    "synthetic_dem",
    "q_dem_bands",
    "SQL_DEM_BANDS",
    "_HS_COS_ZEN",
    "_HS_SIN_ZEN",
    "_HS_AZ",
    "_M_PER_DEG_TERRAIN",
    "_STEEP_DEG",
    "q_terrain_stats",
    "SQL_TERRAIN_STATS",
    "_QK_ZOOM",
    "q_quadkey_counts",
    "_sql_quadkey_counts",
    "SQL_QUADKEY_COUNTS",
    "_DENSIFY_FRACS",
    "q_route_densify",
    "SQL_ROUTE_DENSIFY",
    "q_srtm_accuracy",
    "_SRTM_INTERP",
    "SQL_SRTM_ACCURACY",
    "q_mercator_tiles",
    "_MX",
    "_MY",
    "SQL_MERCATOR_TILES",
    "q_position_start_end",
    "SQL_POSITION_START_END",
    "_S2_LEVEL",
    "_S2_UP",
    "q_s2_cell_counts",
    "_sql_s2_cell_counts",
    "SQL_S2_CELL_COUNTS",
    "q_radius_join",
    "SQL_RADIUS_JOIN",
    "q_zonal_stats",
    "SQL_ZONAL_STATS",
    "_PYR_BASE_Z",
    "_PYR_MIN_Z",
    "q_tile_pyramid",
    "_sql_tile_pyramid",
    "SQL_TILE_PYRAMID",
    "q_geohash_counts",
    "_sql_geohash_counts",
    "SQL_GEOHASH_COUNTS",
    "_STEEP_PCT",
    "q_slope_stats",
    "SQL_SLOPE_STATS",
    "_ERR_SIGMAS",
    "q_erratic_outliers",
    "SQL_ERRATIC_OUTLIERS",
    "_DP_EPS",
    "q_dp_simplify",
    "_dp_perp_lambda",
    "SQL_DP_SIMPLIFY",
    "hex_col",
    "hex_sql",
    "q_hex_cell_counts",
    "SQL_HEX_CELL_COUNTS",
    "q_classification_counts",
    "SQL_CLASSIFICATION_COUNTS",
    "_MM_N_SEGS",
    "_MM_RADIUS",
    "_MM_GRID",
    "road_segments",
    "q_map_match",
    "SQL_MAP_MATCH",
    "_SI_N_SEGS",
    "_SI_GRID",
    "dense_road_segments",
    "q_seg_intersections",
    "SQL_SEG_INTERSECTIONS",
    "_COMPACT_LEVEL",
    "_sql_cell_level_ladder",
    "_sql_compact",
    "q_compact_cells",
    "SQL_COMPACT_CELLS",
    "q_geofence_entries",
    "SQL_GEOFENCE_ENTRIES",
    "q_turn_stats",
    "_BRG_SQL",
    "SQL_TURN_STATS",
    "_MORPH_G",
    "_bound_morph_cache",
    "q_cell_morphology",
    "SQL_CELL_MORPHOLOGY",
    "q_track_diameter",
    "SQL_TRACK_DIAMETER",
    "_quad_polygons",
    "q_poly_geometry",
    "SQL_POLY_GEOMETRY",
    "_RESAMPLE_US",
    "q_resample_grid",
    "SQL_RESAMPLE_GRID",
    "SQL_D8_FLOW",
    "donut_polygons",
    "q_pip_donut",
    "SQL_PIP_DONUT",
    "_SIN_QUANT",
    "q_sinuosity",
    "SQL_SINUOSITY",
    "q_union_area",
    "SQL_UNION_AREA",
    "_ZR_LEVEL",
    "_ZR_RECT",
    "q_zrange_scan",
    "SQL_ZRANGE_SCAN",
    "_VS_E0",
    "_VS_STEPS",
    "_VS_QUANT",
    "q_dem_viewshed",
    "SQL_DEM_VIEWSHED",
    "_HD_G",
    "_HD_MIN_SHARED",
    "_HD_MAX_CELL_DF",
    "_hd_traj",
    "q_hausdorff_pairs",
    "SQL_HAUSDORFF_PAIRS",
    "_bound_rr_cache",
    "q_raster_regions",
    "SQL_RASTER_REGIONS",
]
