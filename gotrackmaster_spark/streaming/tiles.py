"""Structured Streaming: incremental tile maintenance.

The reference has no streaming surface (single-shot CLI —
``/root/reference/cmd/*.go``); SURVEY.md §1.3 scopes streaming as the
engine's incremental-tile-maintenance extension.  This module provides it
Spark-first: a file-source stream of geotagged points → event-time
watermark → windowed per-tile aggregation, exactly the plan a 100 TB
deployment runs with a Kafka source swapped in (the transformation is
source-agnostic).

Late data: the watermark bounds state; tiles update per (window, tile)
key with Spark's stateful aggregation — no custom state needed for
counting.  ``applyInPandasWithState``-based custom stateful kernels (e.g.
streaming per-track repair) layer on the same geotag columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gotrackmaster_spark.functions.cells import cell_col
from gotrackmaster_spark.functions.tiles import tile_name_col


def geotag_stream(stream: DataFrame) -> DataFrame:
    """Attach the deterministic geotags + tile/cell columns to a stream of
    events (same formulas as driver_queries.geo_events — exact integer
    arithmetic, fully codegen'd, no Python in the stream)."""
    return (
        stream.withColumn(
            "lat", (F.col("event_id") * F.lit(2654435761)) % 1600000 / 10000.0 - 80.0
        )
        .withColumn(
            "lon", (F.col("event_id") * F.lit(40503) + 7) % 3600000 / 10000.0 - 180.0
        )
        .withColumn("tile", tile_name_col(F.col("lat"), F.col("lon"), 1.0))
        .withColumn("cell5", F.shiftright(cell_col(F.col("lat"), F.col("lon"), 12), 14))
    )


def incremental_tile_counts(
    stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Windowed per-tile point counts with late-data handling.

    Output (append-able once the watermark passes): (window_start,
    window_end, tile, n_points, n_cells)."""
    tagged = (
        geotag_stream(stream)
        # parquet NTZ timestamps → zoned (session tz is UTC) for event time
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    return (
        tagged.groupBy(F.window("ts", window_duration).alias("w"), F.col("tile"))
        .agg(
            F.count("*").alias("n_points"),
            F.approx_count_distinct("cell5").alias("n_cells"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile",
            "n_points",
            "n_cells",
        )
    )


def geofence_alerts(
    stream: DataFrame,
    polygons: DataFrame,
    level: int = 7,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming geofence: PIP-join the point stream against a STATIC
    polygon layer, then windowed per-polygon hit counts.

    The join is `operators.spatial.point_in_polygon_join` unchanged — a
    stream-static broadcast equi-join on the covering cell whose condition
    carries the JVM ray-cast refine, so the stream side never shuffles
    before the windowed aggregate and the polygon covering is built once
    per micro-batch from the static side.  The watermark is assigned to
    the surviving event-time column AFTER the join so the stateful window
    aggregate stays late-data-bounded.

    Output per (window, polygon): (window_start, window_end, poly_id,
    n_hits, n_cells).
    """
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    tagged = geotag_stream(stream).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    hits = point_in_polygon_join(
        tagged.select("event_id", "ts", "lat", "lon", "cell5"), polygons,
        level=level,
    )
    return (
        hits.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("w"), F.col("poly_id"))
        .agg(
            F.count("*").alias("n_hits"),
            F.approx_count_distinct("cell5").alias("n_cells"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "poly_id",
            "n_hits",
            "n_cells",
        )
    )
