"""S3 GPX sink: round-trip points -> XML -> points must be lossless."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from tests.conftest import FIXTURE_DIR, FIXTURES  # noqa: E402


def test_gpx_roundtrip_lossless(spark, tmp_path):
    from gotrackmaster_spark.sources.gpx import (
        gpx_files_to_points_df,
        parse_gpx_file,
        track_to_rows,
        write_gpx_files,
    )

    pts, tracks = gpx_files_to_points_df(spark, [FIXTURES["carlos"]])
    n = write_gpx_files(pts, tracks, str(tmp_path))
    assert n == 1

    out_file = str(tmp_path / (FIXTURES["carlos"].rsplit("/", 1)[-1] + ".gpx"))
    orig = track_to_rows(parse_gpx_file(FIXTURES["carlos"]))
    rt = track_to_rows(parse_gpx_file(out_file))
    assert len(orig) == len(rt)
    for a, b in zip(orig, rt):
        # (trk, seg, idx, lat, lon, ele, ts_ns) — exact float64 + ns parity
        assert a[1:7] == b[1:7]
        assert a[8] == b[8]


def test_discover_gpx_files():
    from gotrackmaster_spark.sources.gpx import discover_gpx_files

    found = discover_gpx_files(FIXTURE_DIR)
    assert len(found) == 4
    assert all(f.endswith(".gpx") for f in found)
    assert found == sorted(found)


def test_waypoint_roundtrip_lossless(spark, tmp_path):
    """Wpt[] passthrough: parse fixtures WITH waypoints, write back via the
    sink, re-parse — every waypoint field survives (lat/lon/ele/time/name/
    link), including a waypoint-less fixture emitting none."""
    from gotrackmaster_spark.sources.gpx import (
        gpx_files_to_tables,
        parse_gpx_file,
        write_gpx_files,
    )

    srcs = [FIXTURES["carlos"], FIXTURES["benitandus"], FIXTURES["pedraforca"]]
    pts, tracks, wpts = gpx_files_to_tables(spark, srcs)
    n_wpt = {r.track_id: 0 for r in tracks.collect()}
    for r in wpts.collect():
        n_wpt[r.track_id] += 1
    assert n_wpt[FIXTURES["carlos"].rsplit("/", 1)[-1]] == 24
    assert n_wpt[FIXTURES["benitandus"].rsplit("/", 1)[-1]] == 7
    assert n_wpt[FIXTURES["pedraforca"].rsplit("/", 1)[-1]] == 0

    n = write_gpx_files(pts, tracks, str(tmp_path), waypoints_df=wpts)
    assert n == 3
    for src in srcs:
        out_file = str(tmp_path / (src.rsplit("/", 1)[-1] + ".gpx"))
        assert parse_gpx_file(out_file).waypoints == parse_gpx_file(src).waypoints


def test_distributed_scan_matches_driver_etl(spark):
    """S1/S2 scale path: binaryFile + mapInPandas executor-side parse must
    produce EXACTLY the driver ETL's three tables (points incl. ts_ns,
    tracks incl. sorted file_rank, waypoints) over the fixture tree."""
    from gotrackmaster_spark.sources.gpx import (
        discover_gpx_files,
        gpx_files_to_tables,
        gpx_scan_distributed,
        scan_points,
        scan_tracks,
        scan_waypoints,
    )

    root = FIXTURE_DIR
    d_pts, d_trk, d_wpt = gpx_files_to_tables(spark, discover_gpx_files(root))
    scan = gpx_scan_distributed(spark, root).cache()

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    pcols = ["track_id", "trk_no", "seg_no", "pt_idx", "lat", "lon", "ele", "ts", "ts_ns"]
    assert rows(scan_points(scan), pcols) == rows(d_pts, pcols)
    wcols = ["track_id", "wpt_idx", "lat", "lon", "ele", "ts", "ts_ns", "name", "link_href"]
    assert rows(scan_waypoints(scan), wcols) == rows(d_wpt, wcols)
    tcols = ["track_id", "creator", "filename", "file_rank"]
    assert rows(scan_tracks(scan), tcols) == rows(d_trk, tcols)
    scan.unpersist()


def test_waypoint_null_ts_ns_does_not_corrupt_point_times(spark, tmp_path):
    """A waypoint with NULL ts_ns (schema-legal) must not coerce the
    group's ts_ns to float64 and round point timestamps: ts_ns travels
    as a string through the grouped frame."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.sources.gpx import (
        gpx_files_to_tables,
        parse_gpx_file,
        write_gpx_files,
    )

    src = FIXTURES["carlos"]
    pts, tracks, wpts = gpx_files_to_tables(spark, [src])
    # null out ONE waypoint's ts_ns
    w0 = wpts.withColumn(
        "ts_ns",
        F.when(F.col("wpt_idx") == 0, F.lit(None).cast("long")).otherwise(
            F.col("ts_ns")
        ),
    )
    write_gpx_files(pts, tracks, str(tmp_path), waypoints_df=w0)
    out_file = str(tmp_path / (src.rsplit("/", 1)[-1] + ".gpx"))
    orig = parse_gpx_file(src)
    back = parse_gpx_file(out_file)
    # every POINT timestamp survives ns-exact despite the null waypoint
    def all_ts(parsed):
        return [pt[3] for trk in parsed.tracks for seg in trk for pt in seg]

    assert all_ts(back) == all_ts(orig)


def test_scan_tracks_rank_distributed_equals_sorted_enumerate(spark):
    """file_rank via range-partitioned two-level rank must equal the
    driver-side sorted enumerate for ANY partitioning of the input
    (the plan no longer contains a global single-task window)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.sources.gpx import scan_tracks

    names = [f"dir{i % 7}/file_{(i * 137) % 1000:04d}_{i}.gpx" for i in range(500)]
    df = spark.createDataFrame(
        [(f"t{i}", "creator", n, [], []) for i, n in enumerate(names)],
        "track_id string, creator string, filename string, "
        "points array<struct<lat:double>>, waypoints array<struct<lat:double>>",
    ).repartition(13)
    got = {
        r.filename: r.file_rank
        for r in scan_tracks(df).collect()
    }
    want = {n: i for i, n in enumerate(sorted(names))}
    assert got == want
    plan = scan_tracks(df)._jdf.queryExecution().executedPlan().toString()
    # the only unpartitioned window runs over the per-partition counts
    for ln in plan.splitlines():
        if "Window [row_number()" in ln:
            assert "windowspecdefinition(_pid" in ln, ln
