"""Canonical schemas for the engine's tables.

The reference's mutable GPX pointer tree (``/root/reference/trackmaster/
definitions.go:15-26``; triple-nest walk e.g. ``trackmaster/speed.go:12-14``)
flattens to one long columnar points table; ``(track_id, trk_no, seg_no)`` is
the grouping key and ``pt_idx`` preserves order.  ``ts_ns`` carries epoch
nanoseconds because Spark timestamps are µs and the reference's time-repair
fixture interpolates to 0.5 s exactly (``trackmaster/time.go:69``,
``time_test.go:25``).
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Missing-timestamp sentinel.  Go's true zero time.Time (year 1 Jan 1 UTC)
# is -62135596800e9 ns — that does NOT fit in int64 (|x| > 2^63), so it can
# never ride in a Spark LongType column.  We use int64-min instead; every
# kernel guards zero times with equality checks before arithmetic (exactly
# like the Go code's IsZero() guards), and in the unguarded saturating
# time.Sub paths both sentinels clamp to the identical GO_DUR_MAX/MIN for
# any real counterpart timestamp, so Go parity is preserved bit-for-bit.
GO_ZERO_NS = -(1 << 63)

# Saturating bounds of Go's time.Duration (int64 ns); time.Time.Sub clamps.
GO_DUR_MAX = (1 << 63) - 1
GO_DUR_MIN = -(1 << 63)


def ts_from_ns(ts_ns):
    """The ``ts`` column from a ``ts_ns`` column: epoch ns truncated to µs
    (``ts_ns div 1000``), null for ``GO_ZERO_NS``.  Every GPX ingest path
    derives ``ts`` with this one expression."""
    from pyspark.sql import functions as F

    return F.when(
        ts_ns != GO_ZERO_NS, F.timestamp_micros(F.call_function("div", ts_ns, F.lit(1000)))
    )


POINTS_SCHEMA = StructType(
    [
        StructField("track_id", StringType(), False),
        StructField("trk_no", IntegerType(), False),
        StructField("seg_no", IntegerType(), False),
        StructField("pt_idx", IntegerType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("ele", DoubleType(), True),
        StructField("ts", TimestampType(), True),
        StructField("ts_ns", LongType(), True),
    ]
)

# Spark analogue of GPXElementInfo (trackmaster/definitions.go:15-26).
DEFECTS_SCHEMA = StructType(
    [
        StructField("track_id", StringType(), False),
        StructField("trk_no", IntegerType(), False),
        StructField("seg_no", IntegerType(), False),
        StructField("pt_idx", IntegerType(), False),
        StructField("count", IntegerType(), True),
        StructField("length", DoubleType(), True),
        StructField("speed", DoubleType(), True),
        StructField("speed_vertical", DoubleType(), True),
        StructField("elevation", DoubleType(), True),
        StructField("duration", DoubleType(), True),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
    ]
)

# Top-level GPX waypoints (Wpt[] in the reference's model tree,
# github.com/twpayne/go-gpx via /root/reference/cmd/root.go): carried as a
# separate table so repair pipelines over the points table cannot drop them
# and the S3 sink can re-emit them losslessly.
WAYPOINTS_SCHEMA = StructType(
    [
        StructField("track_id", StringType(), False),
        StructField("wpt_idx", IntegerType(), False),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("ele", DoubleType(), True),       # null = no <ele>
        StructField("ts", TimestampType(), True),
        StructField("ts_ns", LongType(), True),
        StructField("name", StringType(), True),
        StructField("link_href", StringType(), True),
    ]
)

TRACKS_SCHEMA = StructType(
    [
        StructField("track_id", StringType(), False),
        StructField("creator", StringType(), True),
        StructField("filename", StringType(), True),
        StructField("file_rank", IntegerType(), True),
    ]
)

# Graft fact table per BASELINE.json input_hint, extended with the geotag
# columns (north_star: every image is geotagged and joins the track order).
IMAGES_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), True),
        StructField("w", IntegerType(), True),
        StructField("h", IntegerType(), True),
        StructField("fmt", StringType(), True),
        StructField("caption", StringType(), True),
        StructField("phash", LongType(), True),
        StructField("lat", DoubleType(), True),
        StructField("lon", DoubleType(), True),
        StructField("ele", DoubleType(), True),
        StructField("ts", TimestampType(), True),
        StructField("track_id", StringType(), True),
        StructField("pt_idx", IntegerType(), True),
    ]
)
