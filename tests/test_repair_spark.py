"""The same fixture parity, but through the Spark applyInPandas operators —
verifies the distribution layer (grouping, ordering, Arrow round-trip)
preserves kernel semantics exactly."""

import pandas as pd
import pyspark.sql.functions as F

from gotrackmaster_spark.operators import repair
from gotrackmaster_spark.sources.gpx import (
    gpx_files_to_points_df,
    gpx_files_to_tables,
    write_gpx_files,
)
from tests.conftest import FIXTURES


def _get_point(df, track_id, trk_no, seg_no, pt_idx):
    row = (
        df.filter(
            (F.col("track_id") == track_id)
            & (F.col("trk_no") == trk_no)
            & (F.col("seg_no") == seg_no)
            & (F.col("pt_idx") == pt_idx)
        )
        .collect()
    )
    assert len(row) == 1
    return row[0]


def test_max_speed_fix_spark(spark):
    points, _ = gpx_files_to_points_df(spark, [FIXTURES["pedraforca"]])
    tid = FIXTURES["pedraforca"].rsplit("/", 1)[-1]
    fixed = repair.max_speed_fix(points, 300.0)
    p504 = _get_point(fixed, tid, 0, 0, 504)
    assert p504.lat == 42.24870745000008
    assert p504.lon == 1.664240950000083
    p662 = _get_point(fixed, tid, 0, 0, 662)
    assert p662.lat == 42.2516829000064
    assert p662.lon == 1.6696103500038912
    p7 = _get_point(fixed, tid, 1, 0, 7)
    assert p7.lat == 42.24071075000116
    assert p7.lon == 1.7195158000128756


def test_lost_elevation_fix_spark(spark):
    points, _ = gpx_files_to_points_df(spark, [FIXTURES["benitandus"]])
    tid = FIXTURES["benitandus"].rsplit("/", 1)[-1]
    fixed = repair.lost_elevation_fix(points)
    assert _get_point(fixed, tid, 0, 0, 3655).ele == 468.95


def test_fix_times_spark(spark):
    points, _ = gpx_files_to_points_df(spark, [FIXTURES["carlos"]])
    tid = FIXTURES["carlos"].rsplit("/", 1)[-1]
    counts = repair.count_time_fixes(points).collect()
    assert {r.track_id: r.num_fixes for r in counts}[tid] == 39
    fixed = repair.fix_times(points)
    p1 = _get_point(fixed, tid, 0, 0, 1)
    assert p1.ts_ns % 1_000_000_000 == 500_000_000  # the 0.5 s interpolation
    assert str(p1.ts) == "2015-04-18 07:57:51.500000"
    p4 = _get_point(fixed, tid, 0, 0, 4)
    assert str(p4.ts) == "2015-04-18 08:04:23"


def test_detect_counts_match_pure_python(spark):
    """Spark defect counts == pure-python kernel defect counts (remove_stops
    exercises the most intricate kernel end-to-end)."""
    from gotrackmaster_spark.kernels.track import remove_stops
    from tests.conftest import load_fixture_segments

    points, _ = gpx_files_to_points_df(spark, [FIXTURES["sun"]])
    spark_defects = repair.remove_stops_defects(points, 90.0, 5.0, 0.5, 3).count()
    segs = load_fixture_segments("sun")
    py_defects = sum(
        len(remove_stops(seg, 90.0, 5.0, 0.5, 3, False)[1])
        for trk in segs
        for seg in trk
    )
    assert spark_defects == py_defects


def test_second_point_without_time_repairs(spark, tmp_path):
    """FixTimes on a segment whose second <trkpt> has no <time>: Go sets the
    first point to zero time - 10 s, below int64 epoch ns; the kernel
    saturates at GO_ZERO_NS and the Spark pipeline runs to the end (it
    raised OutOfBoundsDatetime in _pts_frame)."""
    from gotrackmaster_spark.kernels.track import Pt, fix_times_segment
    from gotrackmaster_spark.operators.repair import _pts_frame
    from gotrackmaster_spark.schemas import GO_ZERO_NS, ts_from_ns
    from gotrackmaster_spark.session import local_frame

    t0 = 1_620_000_000_000_000_000
    pts = [Pt(41.5, 2.25, 800.0, t0), Pt(41.5001, 2.2501, 801.0, GO_ZERO_NS),
           Pt(41.5002, 2.2502, 802.0, t0 + 2_000_000_000)]
    fix_times_segment(pts)
    assert pts[0].t == GO_ZERO_NS
    below = _pts_frame(("t", 0, 0), [Pt(0.0, 0.0, 0.0, GO_ZERO_NS - 10**10)], 3)
    assert below["ts"].isna().all()
    # the kernel frame's ts (µs) equals the ingest expression's, pre-1970
    # sub-µs times included
    times = [GO_ZERO_NS, GO_ZERO_NS + 1, -1500, -500, 0, 1999, t0 + 123_456_789]
    frame = _pts_frame(("t", 0, 0), [Pt(0.0, 0.0, 0.0, t) for t in times], 3)
    got = [None if pd.isna(x) else x.value // 1000 for x in frame["ts"]]
    want = local_frame(spark, [(t,) for t in times], "ts_ns long").select(
        F.unix_micros(ts_from_ns(F.col("ts_ns")))).collect()
    assert got == [r[0] for r in want]

    gpx = tmp_path / "second_untimed.gpx"
    trkpts = "".join(
        f'<trkpt lat="{41.5 + i * 0.0002}" lon="{2.25 + i * 0.0002}"><ele>{800 + i}</ele>'
        + ("" if i == 1 else f"<time>2021-05-01T10:00:{i:02d}.1234567Z</time>")
        + "</trkpt>"
        for i in range(30)
    )
    gpx.write_text(
        '<?xml version="1.0"?><gpx version="1.1" creator="unit" '
        'xmlns="http://www.topografix.com/GPX/1/1">'
        f"<trk><trkseg>{trkpts}</trkseg></trk></gpx>"
    )
    points, tracks, waypoints = gpx_files_to_tables(spark, [str(gpx)])
    repaired = repair.repair_pipeline(points, repair.classification_repair_stages())
    rows = repaired.collect()
    assert rows and min(r.ts_ns for r in rows) == GO_ZERO_NS
    # the repair output's ts is the ingest expression applied to its ts_ns
    assert repaired.filter(~F.col("ts").eqNullSafe(ts_from_ns(F.col("ts_ns")))).count() == 0
    assert write_gpx_files(repaired, tracks, str(tmp_path / "out"), waypoints_df=waypoints) == 1
