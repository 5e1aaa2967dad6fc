"""Shared synthetic-geotag layer, table loaders, and cross-domain helpers — split from driver_queries.py (round 4 registry
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

_LAT = "((event_id * 2654435761) % 1600000) / 10000.0 - 80.0"
_LON = "((event_id * 40503 + 7) % 3600000) / 10000.0 - 180.0"
_ELE = "CAST(((event_id * 97) % 3000) - 50 AS DOUBLE)"

GEO_CTE = f"""
geo AS (
  SELECT event_id, user_id, ts, event_type, value,
         {_LAT} AS lat,
         {_LON} AS lon,
         {_ELE} AS ele
  FROM events
)
"""


def geo_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geotagged points table (Spark mirror of GEO_CTE)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.withColumn("lat", (F.col("event_id") * F.lit(2654435761)) % 1600000 / 10000.0 - 80.0)
        .withColumn("lon", (F.col("event_id") * F.lit(40503) + 7) % 3600000 / 10000.0 - 180.0)
        .withColumn("ele", ((F.col("event_id") * 97) % 3000 - 50).cast("double"))
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# A3 — TimeQuality per track (trackmaster/time.go:108-132, exact integer
# arithmetic, num>total→0, integer division).  Invalid/zero/backwards times
# are synthesized deterministically from event_id.
# --------------------------------------------------------------------------

_NOW_US = 1767225600 * 1_000_000  # fixed `now` parameter: 2026-01-01 UTC
_Y2K_US = 946684800 * 1_000_000


# --------------------------------------------------------------------------
# P4 — creator-normalization ladder (misc.go:277-362; first match wins)
# --------------------------------------------------------------------------

_RAW_CREATORS = [
    "Garmin Connect", "StravaGPX", "eTrex 30", "Polar Vantage", "Movescount App",
    "OruxMaps v7.4.22", "Mapas de España 6.0", "GPSBabel - 1.7", "connect.garmin.com",
    "Wikiloc - totally unknown", "ExifTool 12.1", "some random device", "",
    "Runkeeper v12", "Zwift ride", "togpx exporter",
]

# (substring, canonical) in the EXACT ladder order; None canonical = identity
_LADDER = [
    ("Garmin", "Garmin"), ("Strava", "Strava"), ("eTrex", "Garmin"),
    ("Runkeeper", "Runkeeper"), ("Endomondo", "Endomondo"), ("Runtastic", "Runtastic"),
    ("Polar", "Polar"), ("TomTom", "TomTom"), ("Suunto", "Suunto"),
    ("Movescount", "Suunto"), ("Fitbit", "Fitbit"), ("Wahoo", "Wahoo"),
    ("Bryton", "Bryton"), ("Cateye", "Cateye"), ("Coros", "Coros"),
    ("Hammerhead", "Hammerhead"), ("Lezyne", "Lezyne"), ("Mio", "Mio"),
    ("Sigma", "Sigma"), ("Stages", "Stages"), ("Tacx", "Tacx"),
    ("Timex", "Timex"), ("Xplova", "Xplova"), ("Zwift", "Zwift"),
    ("Wikiloc", "Wikiloc"), ("GPSBabel", "GPSBabel"), ("OruxMaps", None),
    ("Locus", "Locus"), ("Viking", "Viking"), ("OsmAnd", "OsmAnd"),
    ("AllTrails", "AllTrails"), ("ExifTool", "ExifTool"), ("togpx", "ToGPX"),
    ("OziExplorer", "OziExplorer"), ("Graphhopper", "Graphhopper"),
    ("Google", "Google"), ("nawagers", "Nawagers"), ("Mapas de España", "OruxMaps"),
]


def creator_ladder_col(raw):
    """GetCreator as a single when-chain (misc.go:277-362)."""
    expr = None
    for sub, canon in _LADDER:
        out = raw if canon is None else F.lit(canon)
        cond = raw.contains(sub)
        expr = F.when(cond, out) if expr is None else expr.when(cond, out)
    guarded = F.when(raw == "", F.lit("Unknown")).otherwise(
        F.coalesce(expr, F.lit("Unknown"))
    )
    return guarded


def creator_ladder_sql(raw: str) -> str:
    whens = "\n".join(
        f"WHEN position('{sub}' IN {raw}) > 0 THEN "
        + (raw if canon is None else f"'{canon}'")
        for sub, canon in _LADDER
    )
    return (
        f"CASE WHEN {raw} = '' THEN 'Unknown' ELSE "
        f"coalesce(CASE {whens} END, 'Unknown') END"
    )


def _raw_creator_sql() -> str:
    elems = ", ".join(f"'{s}'" for s in _RAW_CREATORS)
    return f"[{elems}][CAST(event_id % {len(_RAW_CREATORS)} + 1 AS INT)]"


# --------------------------------------------------------------------------
# E2 — point-in-polygon join vs rectangle polygon layer from `nation`
# (Spark runs the full covering/broadcast/ray-cast machinery; the oracle
# reduces to interval predicates because the rings are axis-aligned).
# --------------------------------------------------------------------------

def _rect_bounds_cols():
    n = F.col("n_nationkey").cast("long")
    lat0 = ((n * 617) % 150 - 75).cast("double") + 0.00005
    dlat = (3 + (n % 5)).cast("double")
    lon0 = ((n * 1009) % 340 - 170).cast("double") + 0.00005
    dlon = (4 + (n % 7)).cast("double")
    return lat0, lat0 + dlat, lon0, lon0 + dlon


_RECT_SQL = """
  SELECT CAST(n_nationkey AS VARCHAR) AS poly_id,
         CAST((CAST(n_nationkey AS BIGINT) * 617) % 150 - 75 AS DOUBLE) + 0.00005 AS lat0,
         CAST((CAST(n_nationkey AS BIGINT) * 617) % 150 - 75 AS DOUBLE) + 0.00005
           + CAST(3 + (n_nationkey % 5) AS DOUBLE) AS lat1,
         CAST((CAST(n_nationkey AS BIGINT) * 1009) % 340 - 170 AS DOUBLE) + 0.00005 AS lon0,
         CAST((CAST(n_nationkey AS BIGINT) * 1009) % 340 - 170 AS DOUBLE) + 0.00005
           + CAST(4 + (n_nationkey % 7) AS DOUBLE) AS lon1
  FROM nation
"""


def rect_polygons(spark, sf_dir) -> DataFrame:
    nat = _t(spark, sf_dir, "nation")
    lat0, lat1, lon0, lon1 = _rect_bounds_cols()
    ring = F.array(
        F.struct(lat0.alias("lat"), lon0.alias("lon")),
        F.struct(lat0.alias("lat"), lon1.alias("lon")),
        F.struct(lat1.alias("lat"), lon1.alias("lon")),
        F.struct(lat1.alias("lat"), lon0.alias("lon")),
    )
    return nat.select(
        F.col("n_nationkey").cast("string").alias("poly_id"), ring.alias("ring")
    )


_GEO_SEARCH_TERMS = ("vector", "stream", "merge")
from gotrackmaster_spark.operators import dedup as D  # noqa: E402


def q_simhash_near_dups(spark, sf_dir):
    return D.simhash_near_dups(_t(spark, sf_dir, "documents"), max_hamming=8)


SQL_SIMHASH_NEAR_DUPS = D.sql_simhash_near_dups(max_hamming=8)


SQL_EMBEDDING_TOPK = D.sql_embedding_topk(k=10, query_mod=50)


# --------------------------------------------------------------------------
# A2-A6 — full track profiles over synthetic walk tracks (kernel pipeline;
# NOT SQL-expressible: sequential data-dependent kernels → rows-only check)
# --------------------------------------------------------------------------

def synthetic_tracks(spark, sf_dir, step_div: float = 100000.0):
    """Random-walk tracks derived from events: per-user cumulative steps
    of up to ±100/``step_div`` degrees at ~1 min cadence.  The default
    (±100 m) gives GPS-plausible speeds so the classification ladder
    produces non-degenerate labels; a power-of-two ``step_div`` (8192)
    makes every step dyadic, so every partial sum is an exact double and
    the cumulative lat/lon is independent of summation order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    dlat = ((F.col("event_id") * 2654435761) % 201 - 100).cast("double") / step_div
    dlon = ((F.col("event_id") * 40503 + 11) % 201 - 100).cast("double") / step_div
    base_lat = ((F.col("user_id") * 617) % 120).cast("double") - 60.0
    base_lon = ((F.col("user_id") * 1009) % 300).cast("double") - 150.0
    return (
        ev.select("event_id", "user_id")
        .withColumn("pt_idx", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("lat", base_lat + F.sum(dlat).over(w))
        .withColumn("lon", base_lon + F.sum(dlon).over(w))
        .withColumn("ele", ((F.col("event_id") * 13) % 400).cast("double") + 100.0)
        .withColumn("ts_ns", (F.lit(1700000000) + F.col("user_id") + F.col("pt_idx") * 60) * F.lit(1_000_000_000))
        .withColumn("ts", F.timestamp_micros((F.col("ts_ns") / 1000).cast("long")))
        .withColumn("track_id", F.col("user_id").cast("string"))
        .withColumn("trk_no", F.lit(0))
        .withColumn("seg_no", F.lit(0))
        .select("track_id", "trk_no", "seg_no", "pt_idx", "lat", "lon", "ele", "ts", "ts_ns")
    )


def _img_key_col():
    """img_key parsed from image_id with NO length cap — format_string
    ('img%08d') widens beyond 8 digits at doc_id >= 1e8, so a
    substring(4, 8) would silently truncate at web scale."""
    return F.expr("substring(image_id, 4)").cast("long")


def _img_geotag_cols(img_key):
    """The single source of the image geotag closed form (mirrored by
    every image-query oracle); img_key is a long Column."""
    lat = (img_key * F.lit(2654435761)) % 1600000 / 10000.0 - 80.0
    lon = (img_key * F.lit(40503) + 7) % 3600000 / 10000.0 - 180.0
    return lat, lon


_IMG_W, _IMG_H = 32, 24
_N_PIX = _IMG_W * _IMG_H * 3

_PIX = "((doc_id * 31 + i * 2654435761) % 256)"


# --------------------------------------------------------------------------
# E8 — circle-range join: events within a fixed haversine radius of a POI
# set, via broadcast cell-covering candidates + codegen haversine refine
# (operators/spatial.py::within_radius_join).  The oracle is the O(N·M)
# brute force — any covering/prune bug hash-mismatches here.
# --------------------------------------------------------------------------

_POI_N = 40
_POI_RADIUS_M = 300000.0


def poi_centers(spark) -> DataFrame:
    """Deterministic synthetic POI set (integer arithmetic, SQL-mirrored)."""
    return spark.range(_POI_N).select(
        F.col("id").alias("poi_id"),
        (((F.col("id") * 7919) % 1500) / 10.0 - 75.0).alias("lat"),
        (((F.col("id") * 104729) % 3600) / 10.0 - 180.0).alias("lon"),
    )


_POI_DIST = haversine_sql("p.lat", "p.lon", "g.lat", "g.lon")


# --------------------------------------------------------------------------
# Training-data QC — Gopher/FineWeb-style repetition metrics, corpus
# heavy-hitters, and the filter funnel.  All metrics are integer-exact
# (counts + integer-ratio comparisons) so the oracle hash-matches by
# construction; plans are explode → two-stage partial agg, fully
# distributed (the only shuffles are on (doc_id, token) then doc_id).
# --------------------------------------------------------------------------

def _per_doc_token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, max_tf, n_types) via token-frequency agg."""
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "source", "tok").agg(F.count("*").alias("c"))
    return tf.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_tok"),
        F.max("c").alias("max_tf"),
        F.count("*").alias("n_types"),
    )


_SQL_PER_DOC = """
tok AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, source, tok, count(*) AS c FROM tok GROUP BY 1, 2, 3),
per_doc AS (
  SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS n_tok,
         max(c) AS max_tf, count(*) AS n_types
  FROM tf GROUP BY 1, 2
)
"""


# --------------------------------------------------------------------------
# E9 — spatiotemporal co-location: distinct users in the same coarse
# cell within the same 1-day bucket (occupancy dedup → self equi-join
# on the composite key → pair aggregate).  Oracle replays the cell
# assignment and bucket floor exactly.
# --------------------------------------------------------------------------

_COLOC_BUCKET_US = 86_400_000_000


# --------------------------------------------------------------------------
# E14d — Mann-Kendall trend per cell (`spatial.mann_kendall_trends`):
# the "emerging hotspot" trend stage — which 15° cells heat up or cool
# down across the daily count series.  Pair enumeration is a SELF-join
# on the cell key bounded by T²/2 per cell (T = time bins, never
# points²) — both sides shuffle the TINY binned table (cached, computed
# once) onto the cell key; S and the tie-corrected variance are exact
# integers so z is partition-order invariant.
# --------------------------------------------------------------------------

_TREND_G = 15.0
_US_PER_DAY = 86_400_000_000


# --------------------------------------------------------------------------
# E14f — Gi* hotspots of IMAGE QUALITY (E7×E14 crossover): the spatial-
# statistics machinery applied to the image payload — per-cell total
# pixel mass from the REAL decode chain, then the Getis-Ord z-score
# over the 20° lattice.  All lattice values are exact integer sums
# (pixel sums are bounded by n_img·N_PIX·255 per cell, far under int64,
# so Σx² stays exact), and the oracle replays the payload closed-form.
# --------------------------------------------------------------------------

_IMG_HOT_G = 20.0


# --------------------------------------------------------------------------
# E23 — D8 flow direction (`spatial.d8_flow_direction`): steepest-
# descent direction per occupied 1° DEM cell (ESRI codes, 0 = sink)
# with the drop/√2 comparison replaced by its exact squared-integer
# form (straight 2·drop² vs diagonal drop²) and fixed clockwise tie
# order.  Raster = the integer corner-hash DEM sampled at the cells
# the events actually occupy (sparse — boundary/missing-neighbor
# semantics exercised).  The occupancy ×9 explode + ONE hash
# aggregate; DuckDB twin replays the identical CASE fold.
# --------------------------------------------------------------------------

# (code, nx, ny) clockwise from east — MUST match spatial._D8_DIRS
# (pinned by tests/test_hotspots.py::test_d8_codes_match)
_D8 = [
    (1, 1, 0), (2, 1, -1), (4, 0, -1), (8, -1, -1),
    (16, -1, 0), (32, -1, 1), (64, 0, 1), (128, 1, 1),
]


def q_d8_flow(spark, sf_dir):
    from gotrackmaster_spark.operators.spatial import d8_flow_direction

    geo = geo_events(spark, sf_dir)
    cells = geo.select(
        F.floor("lon").cast("long").alias("x"),
        F.floor("lat").cast("long").alias("y"),
    ).distinct()
    ele = ((F.col("y") + 90) * 361 + (F.col("x") + 180)) * F.lit(2654435761) % 40000
    return d8_flow_direction(cells.select("x", "y", ele.alias("ele")))


_D8_OFF_VALUES = ", ".join(
    ["(0, 0, 0)"] + [f"({-nx}, {-ny}, {code})" for code, nx, ny in _D8]
)
_D8_EMAX = ",\n         ".join(
    f"max(CASE WHEN d = {code} THEN ele END) AS e{code}" for code, _, _ in _D8
)
_D8_SCORES = ",\n       ".join(
    f"coalesce(CASE WHEN c - e{code} > 0 THEN "
    f"{2 if nx * ny == 0 else 1} * ((c - e{code}) * (c - e{code})) END, 0) AS s{code}"
    for code, nx, ny in _D8
)
_D8_GREATEST = "greatest(" + ", ".join(f"s{code}" for code, _, _ in _D8) + ")"
_D8_PICK = " ".join(
    f"WHEN s{code} = m THEN {code}" for code, _, _ in _D8
)

# CTE body shared by SQL_D8_FLOW and SQL_D8_BASINS (the latter needs a
# WITH RECURSIVE prefix, so the WITH keyword is not baked in here)
_D8_CTES = f"""{GEO_CTE},
cells AS (
  SELECT DISTINCT CAST(floor(lon) AS BIGINT) AS x,
                  CAST(floor(lat) AS BIGINT) AS y
  FROM geo
),
r AS (
  SELECT x, y, ((y + 90) * 361 + (x + 180)) * 2654435761 % 40000 AS ele
  FROM cells
),
off AS (SELECT * FROM (VALUES {_D8_OFF_VALUES}) t(dx, dy, d)),
fan AS (SELECT r.x + o.dx AS x, r.y + o.dy AS y, o.d, r.ele FROM r, off o),
agg AS (
  SELECT x, y,
         max(CASE WHEN d = 0 THEN ele END) AS c,
         {_D8_EMAX}
  FROM fan GROUP BY x, y
),
sc AS (
  SELECT x, y, c AS ele,
       {_D8_SCORES}
  FROM agg WHERE c IS NOT NULL
),
scm AS (SELECT *, {_D8_GREATEST} AS m FROM sc)"""


# --------------------------------------------------------------------------
# E46 — integer-quantized Okapi BM25 (`bm25_scores`,
# operators/search.py): corpus relevance ranking for a fixed query-term
# set — rational idf ((N−df)·10⁶ DIV df, no ln), k1 = 6/5, b = 3/4
# multiplied through by 20·T so every term score is ONE exact int64
# quotient; Σ over terms is an exact int, making the (score, doc_id)
# ranking bit-deterministic across engines.
# --------------------------------------------------------------------------


def q_bm25_scores(spark, sf_dir):
    from gotrackmaster_spark.operators.search import bm25_scores

    return bm25_scores(_t(spark, sf_dir, "documents"), list(_GEO_SEARCH_TERMS))


def _sql_bm25_scores():
    from gotrackmaster_spark.operators.search import sql_bm25_scores

    return sql_bm25_scores(list(_GEO_SEARCH_TERMS))


# --------------------------------------------------------------------------
# E104 — reciprocal-rank fusion (`rrf_fusion` composite): the standard
# rank-combiner of modern retrieval stacks (BM25 ⊕ a second signal)
# with INTEGER-QUANTIZED contributions — rrf_q = Σ 10⁶ DIV (60 + rank)
# over both rankings (fractional RRF ranks near-ties engine-
# dependently; integer quotients cannot).  Ranking 1 = the engine's
# BM25 over the search terms; ranking 2 = caption length (the
# "longer docs are richer" prior), both ranked deterministically with
# doc_id tie-breaks; docs absent from a ranking contribute 0 (the
# standard RRF convention).  Deterministic top-20 via row_number.
# --------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOPK = 20


SQL_RRF_FUSION = f"""
WITH bm AS ({{bm25}}),
r1 AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank1
  FROM bm
),
r2 AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank2
  FROM documents
),
fused AS (
  SELECT d.doc_id, r1.rank1, r2.rank2,
         coalesce(1000000 // ({_RRF_K} + r1.rank1), 0)
         + coalesce(1000000 // ({_RRF_K} + r2.rank2), 0) AS rrf_q
  FROM documents d
  LEFT JOIN r1 ON r1.doc_id = d.doc_id
  LEFT JOIN r2 ON r2.doc_id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rrf_q DESC, doc_id) AS rk FROM fused
)
SELECT rk, doc_id, rank1, rank2, rrf_q FROM ranked WHERE rk <= {_RRF_TOPK}
"""


def _sql_rrf_fusion() -> str:
    return SQL_RRF_FUSION.replace("{bm25}", _sql_bm25_scores())


__all__ = [
    "_LAT",
    "_LON",
    "_ELE",
    "GEO_CTE",
    "geo_events",
    "_t",
    "_NOW_US",
    "_Y2K_US",
    "_RAW_CREATORS",
    "_LADDER",
    "creator_ladder_col",
    "creator_ladder_sql",
    "_raw_creator_sql",
    "_rect_bounds_cols",
    "_RECT_SQL",
    "rect_polygons",
    "_GEO_SEARCH_TERMS",
    "D",
    "q_simhash_near_dups",
    "SQL_SIMHASH_NEAR_DUPS",
    "SQL_EMBEDDING_TOPK",
    "synthetic_tracks",
    "_img_key_col",
    "_img_geotag_cols",
    "_IMG_W",
    "_IMG_H",
    "_N_PIX",
    "_PIX",
    "_POI_N",
    "_POI_RADIUS_M",
    "poi_centers",
    "_POI_DIST",
    "_per_doc_token_stats",
    "_SQL_PER_DOC",
    "_COLOC_BUCKET_US",
    "_TREND_G",
    "_US_PER_DAY",
    "_IMG_HOT_G",
    "_D8",
    "q_d8_flow",
    "_D8_OFF_VALUES",
    "_D8_EMAX",
    "_D8_SCORES",
    "_D8_GREATEST",
    "_D8_PICK",
    "_D8_CTES",
    "q_bm25_scores",
    "_sql_bm25_scores",
    "_RRF_K",
    "_RRF_TOPK",
    "SQL_RRF_FUSION",
    "_sql_rrf_fusion",
]
