"""Driver-side frames are Arrow-built (``session.local_frame``): scanning
them runs no Python worker, and the driver GPX ingest equals the executor
scan on every column, whatever the host time zone."""

from __future__ import annotations

import inspect
import os
import time
import warnings
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import gotrackmaster_spark
from gotrackmaster_spark import session
from gotrackmaster_spark.schemas import GO_ZERO_NS, POINTS_SCHEMA, WAYPOINTS_SCHEMA
from gotrackmaster_spark.session import local_frame
from gotrackmaster_spark.sources.gpx import (
    gpx_files_to_tables,
    gpx_scan_distributed,
    scan_points,
    scan_tracks,
    scan_waypoints,
)

# sub-µs fractions (.123456789 rounds up but truncates down), a pre-1970
# time, one <trkpt> without <time> and one <wpt> without <ele>
_GPX = """<?xml version="1.0" encoding="UTF-8"?>
<gpx version="1.1" creator="unit" xmlns="http://www.topografix.com/GPX/1/1">
  <wpt lat="41.5" lon="2.25"><ele>812.5</ele><time>2021-05-01T09:59:59.999999999Z</time>
    <name>start</name><link href="http://example.org/a"/></wpt>
  <wpt lat="41.6" lon="2.35"><time>2021-05-01T10:30:00.0000005Z</time><name>no ele</name></wpt>
  <trk>
    <trkseg>
      <trkpt lat="41.5" lon="2.25"><ele>810</ele><time>2021-05-01T10:00:00.123456789Z</time></trkpt>
      <trkpt lat="41.5001" lon="2.2501"><ele>811</ele><time>2021-05-01T10:00:01.5Z</time></trkpt>
      <trkpt lat="41.5002" lon="2.2502"><ele>812</ele></trkpt>
      <trkpt lat="41.5003" lon="2.2503"><ele>813</ele><time>2021-05-01T10:00:03.0000009Z</time></trkpt>
    </trkseg>
    <trkseg>
      <trkpt lat="41.6" lon="2.35"><ele>900</ele><time>1969-12-31T23:59:59.9999995Z</time></trkpt>
      <trkpt lat="41.6001" lon="2.3501"><ele>901</ele><time>1970-01-01T00:00:01Z</time></trkpt>
    </trkseg>
  </trk>
</gpx>
"""


def _write_gpx(dir_path: Path) -> str:
    path = dir_path / "ingest.gpx"
    path.write_text(_GPX)
    return str(path)


def _package_lines():
    """(path relative to the package, line number, line) over its sources."""
    root = Path(gotrackmaster_spark.__file__).parent
    for p in sorted(root.rglob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            yield p.relative_to(root), i, line


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.fixture(params=[None, "America/New_York"], ids=["host-tz", "new-york"])
def host_tz(request):
    """Run under the host TZ and under a non-UTC one, restoring it after."""
    old = os.environ.get("TZ")
    if request.param:
        os.environ["TZ"] = request.param
        time.tzset()
    yield request.param
    if old is None:
        os.environ.pop("TZ", None)
    else:
        os.environ["TZ"] = old
    time.tzset()


def test_local_frames_run_no_python_worker(spark, tmp_path):
    frames = [
        *gpx_files_to_tables(spark, [_write_gpx(tmp_path)]),
        local_frame(spark, [(1, "a", [(1.0, 2.0)])],
                    "k int, v string, ring array<struct<lat:double,lon:double>>"),
        local_frame(spark, [], "k int, v string"),
    ]
    for df in frames:
        assert "PythonRDD" not in _lineage(df), _lineage(df)
    assert frames[3].collect()[0].ring[0].lon == 2.0
    assert frames[4].count() == 0


def test_driver_ingest_matches_executor_scan(spark, tmp_path, host_tz):
    path = _write_gpx(tmp_path)
    d_pts, d_trk, d_wpt = gpx_files_to_tables(spark, [path])
    assert d_pts.schema == POINTS_SCHEMA
    assert d_wpt.schema == WAYPOINTS_SCHEMA
    scan = gpx_scan_distributed(spark, str(tmp_path)).cache()

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pcols = POINTS_SCHEMA.names
    assert rows(d_pts, pcols) == rows(scan_points(scan), pcols)
    wcols = WAYPOINTS_SCHEMA.names
    assert rows(d_wpt, wcols) == rows(scan_waypoints(scan), wcols)
    tcols = ["track_id", "creator", "filename", "file_rank"]
    assert rows(d_trk, tcols) == rows(scan_tracks(scan), tcols)
    scan.unpersist()

    # ts is ts_ns truncated to µs (never rounded, never host-TZ shifted)
    # and null exactly where ts_ns is the zero-time sentinel
    for df in (d_pts, d_wpt):
        bad = df.filter(
            ~F.col("ts").eqNullSafe(
                F.when(F.col("ts_ns") != GO_ZERO_NS,
                       F.timestamp_micros(F.expr("ts_ns div 1000")))
            )
        )
        assert bad.count() == 0
    assert d_pts.filter(F.col("ts").isNull()).count() == 1
    assert d_wpt.filter(F.col("ele").isNull()).count() == 1
    first = d_pts.filter("seg_no = 0 and pt_idx = 0").select(F.unix_micros("ts")).first()[0]
    assert first % 1_000_000 == 123456


def test_grouped_map_udfs_emit_no_type_hint_warning(spark, tmp_path):
    from gotrackmaster_spark.operators.quality import track_profiles
    from gotrackmaster_spark.operators.repair import (
        classification_repair_stages,
        repair_pipeline,
    )
    from gotrackmaster_spark.sources.gpx import write_gpx_files

    points, tracks, waypoints = gpx_files_to_tables(spark, [_write_gpx(tmp_path)])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        repaired = repair_pipeline(points, classification_repair_stages())
        profiles = track_profiles(points)
        n = write_gpx_files(repaired, tracks, str(tmp_path / "out"), waypoints_df=waypoints)
    assert n == 1
    assert profiles.count() == 1
    hints = [str(w.message) for w in caught if "type hint" in str(w.message)]
    assert hints == []


def test_no_python_rdd_emptiness_probe():
    """``df.rdd.isEmpty()`` converts the frame to a pickled Python RDD, so
    the probe runs a Python-worker job; ``DataFrame.isEmpty()`` answers in
    the JVM."""
    assert [f"{p}:{i}" for p, i, line in _package_lines() if ".rdd.isEmpty(" in line] == []


def test_create_dataframe_only_inside_local_frame():
    """Every driver-side frame goes through ``local_frame``; a list-based
    ``createDataFrame`` elsewhere would bring back the pickled PythonRDD."""
    src, start = inspect.getsourcelines(session.local_frame)
    allowed = range(start, start + len(src))
    session_py = Path(session.__file__).relative_to(Path(gotrackmaster_spark.__file__).parent)
    hits = [
        f"{p}:{i}"
        for p, i, line in _package_lines()
        if "createDataFrame(" in line and not (p == session_py and i in allowed)
    ]
    assert hits == []
