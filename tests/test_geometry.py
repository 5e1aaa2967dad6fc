"""Ring shoelace area / centroid (functions/geometry.py): hand-pinned
polygons and the zero-shuffle plan shape of the poly_geometry query."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F


def _ring_df(spark, verts):
    # verts as (lat, lon) tuples, ring order
    ring = F.array(*[
        F.struct(F.lit(la).cast("double").alias("lat"),
                 F.lit(lo).cast("double").alias("lon"))
        for la, lo in verts
    ])
    return spark.range(1).select(ring.alias("ring"))


def _area(spark, verts):
    from gotrackmaster_spark.functions.geometry import ring_shoelace_area

    return _ring_df(spark, verts).select(
        ring_shoelace_area(F.col("ring")).alias("a")
    ).collect()[0].a


def test_unit_square_ccw_area_and_centroid(spark):
    from gotrackmaster_spark.functions.geometry import (
        ring_centroid,
        ring_shoelace_area,
    )

    # (lat, lon) CCW in the (lon, lat) plane
    verts = [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]
    cx, cy = ring_centroid(F.col("ring"))
    row = _ring_df(spark, verts).select(
        ring_shoelace_area(F.col("ring")).alias("a"),
        cx.alias("cx"), cy.alias("cy"),
    ).collect()[0]
    assert row.a == 1.0 and row.cx == 0.5 and row.cy == 0.5


def test_clockwise_ring_negative_area(spark):
    verts = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]  # CW
    assert _area(spark, verts) == -1.0


def test_triangle_and_lshape(spark):
    assert _area(spark, [(0.0, 0.0), (0.0, 4.0), (3.0, 0.0)]) == 6.0
    # non-convex L: 3x3 square minus 2x2 notch = 5
    l_shape = [(0.0, 0.0), (0.0, 3.0), (1.0, 3.0), (1.0, 1.0),
               (3.0, 1.0), (3.0, 0.0)]
    assert _area(spark, l_shape) == 5.0


def test_off_centroid_weighting(spark):
    from gotrackmaster_spark.functions.geometry import ring_centroid

    # right triangle (0,0)(2,0)(0,2): centroid (2/3, 2/3), NOT vertex mean
    # of a degenerate sampling — the area-weighted formula
    verts = [(0.0, 0.0), (0.0, 2.0), (2.0, 0.0)]
    cx, cy = ring_centroid(F.col("ring"))
    row = _ring_df(spark, verts).select(cx.alias("cx"), cy.alias("cy")).collect()[0]
    assert abs(row.cx - 2.0 / 3.0) < 1e-12 and abs(row.cy - 2.0 / 3.0) < 1e-12


def test_poly_geometry_plan_zero_exchanges(spark):
    from gotrackmaster_spark import driver_queries as Q

    df = Q.q_poly_geometry(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # row-local scan: no shuffle, no join, no explode anywhere
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Generate" not in plan


def test_ray_cast_col_matches_numpy_row_for_row(spark):
    """``ray_cast_col`` == ``_ray_cast_np`` bit for bit, in one Spark job,
    on the probes where float order matters: random polygons, points at
    exact vertex latitudes and on vertices, horizontal edges, repeated
    vertices, NaN coordinates, and an edge whose crossing is NaN."""
    import numpy as np

    from gotrackmaster_spark.functions.geometry import ray_cast_col
    from gotrackmaster_spark.operators.spatial import _ray_cast_np
    from gotrackmaster_spark.session import local_frame

    rng = np.random.default_rng(7)
    rings = []
    for k in range(24):
        ring = [tuple(v) for v in rng.uniform(-5.0, 5.0, (int(rng.integers(3, 9)), 2))]
        if k % 3 == 0:  # a horizontal edge and a repeated vertex
            ring.insert(1, (ring[0][0], ring[0][1] + 1.5))
            ring.insert(2, ring[1])
        rings.append(ring)
    # at lat = 0 the wrap edge's crossing is (-1e308 - 1e308) * 0 = -inf * 0,
    # a NaN x_int (numpy: never left of it; Spark: NaN sorts above all)
    rings.append([(0.0, 1e308), (1.0, 5.0), (1.0, -1e308)])
    nan = float("nan")
    rows = []
    for ring in rings:
        probes = [tuple(p) for p in rng.uniform(-6.0, 6.0, (60, 2))]
        probes += [(la, float(rng.uniform(-6.0, 6.0))) for la, _ in ring]
        probes += list(ring)
        probes += [(nan, 0.5), (0.5, nan), (nan, nan), (0.0, 0.0)]
        rows += [(ring, float(la), float(lo)) for la, lo in probes]
    df = local_frame(
        spark, rows,
        "ring array<struct<lat:double,lon:double>>, lat double, lon double",
    )
    got = df.select(
        "ring", "lat", "lon",
        ray_cast_col(F.col("ring"), F.col("lat"), F.col("lon")).alias("inside"),
    ).collect()
    assert len(got) == len(rows)
    mismatched = [
        (r.lat, r.lon)
        for r in got
        if r.inside
        != bool(_ray_cast_np(
            np.array([r.lat]), np.array([r.lon]),
            np.array([v.lat for v in r.ring]), np.array([v.lon for v in r.ring]),
        )[0])
    ]
    assert mismatched == []
    assert any(r.inside for r in got) and not all(r.inside for r in got)
