"""Spatial anti-join (coverage gaps) — correctness + plan-shape pins.

Correctness: `point_in_polygon_anti` must return EXACTLY the complement
of `point_in_polygon_join`'s covered point set (same covering level, same
inclusion semantics), so any drift between the two paths fails here.

Plan shape: the points side must never be expanded or shuffled before
the final aggregate — the covering is rolled up to one row per cell and
broadcast, so the only hash exchanges are the tiny covering roll-up and
the final groupBy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gotrackmaster_spark import driver_queries as Q
from gotrackmaster_spark.operators.spatial import (
    point_in_polygon_anti,
    point_in_polygon_join,
)

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_anti_is_exact_complement_of_pip(spark):
    pts = Q.geo_events(spark, SF_DIR).select("event_id", "lat", "lon")
    polys = Q.rect_polygons(spark, SF_DIR)
    covered = {
        r.event_id
        for r in point_in_polygon_join(pts, polys, level=7)
        .select("event_id").distinct().collect()
    }
    uncovered = {
        r.event_id
        for r in point_in_polygon_anti(pts, polys, level=7)
        .select("event_id").collect()
    }
    all_ids = {r.event_id for r in pts.select("event_id").collect()}
    assert covered and uncovered, "degenerate fixture: one side empty"
    assert covered | uncovered == all_ids
    assert covered & uncovered == set()


def test_anti_output_has_no_duplicate_points(spark):
    pts = Q.geo_events(spark, SF_DIR).select("event_id", "lat", "lon")
    polys = Q.rect_polygons(spark, SF_DIR)
    out = point_in_polygon_anti(pts, polys, level=7)
    n = out.count()
    assert n == out.select("event_id").distinct().count()
    assert out.columns == ["event_id", "lat", "lon"]


def test_pip_antijoin_plan_no_points_expansion(spark):
    plan = _plan(Q.q_pip_antijoin(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # covering rolled up per cell, then broadcast left-outer against points
    assert "BroadcastHashJoin" in plan
    # two hash exchanges in the pre-AQE plan: the per-cell covering
    # roll-up and the final tile aggregate; the points scan feeds the
    # join, the ray-cast filter and the partial agg with no exchange of
    # its own
    assert plan.count("Exchange hashpartitioning") == 2, plan
    # and neither exchange partitions on the points' id — the points
    # side is never shuffled
    assert "hashpartitioning(event_id" not in plan, plan


@pytest.mark.parametrize("op", ["join_z", "join_hex", "anti"])
def test_pip_plans_one_broadcast_refine_in_jvm(spark, op):
    """Full cells and the boundary ray cast share one filter over one
    broadcast join: no union of two branches (each with its own covering
    broadcast), and the covering is the only Python stage."""
    pts = Q.geo_events(spark, SF_DIR).select("event_id", "lat", "lon")
    polys = Q.rect_polygons(spark, SF_DIR)
    if op == "anti":
        df = point_in_polygon_anti(pts, polys, level=7)
    else:
        grid = op.split("_")[1]
        df = point_in_polygon_join(pts, polys, level=7 if grid == "z" else 4, grid=grid)
    plan = _plan(df)
    assert plan.count("BroadcastExchange") == 1, plan
    assert "Union" not in plan, plan
    assert plan.count("MapInPandas") == 1, plan


def test_od_matrix_plan_two_aggregates_no_join(spark):
    plan = _plan(Q.q_od_matrix(spark, SF_DIR))
    assert "Join" not in plan, plan
    # one shuffle on user_id (struct min/max partial-aggregates map-side),
    # one on the (o_cell, d_cell) pair key
    assert plan.count("Exchange hashpartitioning") == 2, plan


def _donut_hits(spark, pts, polys, level=5):
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.spatial import point_in_polygon_join_holes

    pdf = spark.createDataFrame(pts, "event_id long, lat double, lon double")
    ring_t = "array<struct<lat:double,lon:double>>"
    gdf = spark.createDataFrame(polys, f"poly_id string, rings array<{ring_t}>")
    return {
        (r["event_id"], r["poly_id"])
        for r in point_in_polygon_join_holes(pdf, gdf, level=level).collect()
    }


def _rect(a0, a1, b0, b1):
    return [
        {"lat": a0, "lon": b0}, {"lat": a0, "lon": b1},
        {"lat": a1, "lon": b1}, {"lat": a1, "lon": b0},
    ]


def test_pip_holes_donut_semantics(spark):
    donut = [("d", [_rect(0.0, 10.0, 0.0, 10.0), _rect(3.0, 7.0, 3.0, 7.0)])]
    pts = [
        (1, 1.5, 1.5),    # in shell, outside hole -> hit
        (2, 5.0, 5.0),    # inside the hole -> miss
        (3, 3.5, 8.5),    # in shell, lat inside hole band but lon not -> hit
        (4, 15.0, 15.0),  # outside the shell -> miss
        (5, 6.9, 6.9),    # just inside hole -> miss
        (6, 7.2, 7.2),    # just past the hole corner -> hit
    ]
    assert _donut_hits(spark, pts, donut) == {(1, "d"), (3, "d"), (6, "d")}


def test_pip_holes_no_holes_and_multi_hole(spark):
    # hole-less polygon degenerates to the plain PIP
    plain = [("p", [_rect(0.0, 4.0, 0.0, 4.0)])]
    pts = [(1, 2.0, 2.0), (2, 5.0, 5.0)]
    assert _donut_hits(spark, pts, plain) == {(1, "p")}
    # two disjoint holes: a point in EITHER hole is excluded; overlapping
    # polygons each judged independently
    two = [
        ("a", [_rect(0.0, 10.0, 0.0, 10.0),
               _rect(1.0, 2.0, 1.0, 2.0), _rect(8.0, 9.0, 8.0, 9.0)]),
        ("b", [_rect(0.0, 6.0, 0.0, 6.0)]),
    ]
    pts = [(1, 1.5, 1.5), (2, 8.5, 8.5), (3, 5.0, 5.0)]
    assert _donut_hits(spark, pts, two) == {(3, "a"), (3, "b"), (1, "b")}


def test_pip_holes_brute_force_random(spark):
    import random

    rnd = random.Random(17)
    donuts = []
    for k in range(6):
        a0, b0 = rnd.uniform(-50, 30), rnd.uniform(-50, 30)
        da, db = rnd.uniform(4, 12), rnd.uniform(4, 12)
        h = [_rect(a0 + da * 0.3, a0 + da * 0.6, b0 + db * 0.3, b0 + db * 0.6)]
        donuts.append((f"p{k}", [_rect(a0, a0 + da, b0, b0 + db)] + h))
    pts = [
        (i, rnd.uniform(-55, 45), rnd.uniform(-55, 45)) for i in range(400)
    ]
    got = _donut_hits(spark, pts, donuts)
    exp = set()
    for pid, rings in donuts:
        (s, h) = rings
        s_lat = sorted({p["lat"] for p in s}); s_lon = sorted({p["lon"] for p in s})
        h_lat = sorted({p["lat"] for p in h}); h_lon = sorted({p["lon"] for p in h})
        for i, la, lo in pts:
            in_s = s_lat[0] < la < s_lat[1] and s_lon[0] < lo < s_lon[1]
            in_h = h_lat[0] < la < h_lat[1] and h_lon[0] < lo < h_lon[1]
            if in_s and not in_h:
                exp.add((i, pid))
    assert got == exp


def test_areal_disaggregate_conservation_and_remainder(spark):
    """Exact conservation: Σ cell shares == Σ values of polygons with
    ≥1 inside cell; remainder goes to the LOWEST cell ids."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.spatial import areal_disaggregate

    ring_t = "array<struct<lat:double,lon:double>>"
    polys = spark.createDataFrame(
        [
            # spans several level-5 cells (5.625 deg pitch)
            ("big", _rect(-20.0, 20.0, -30.0, 30.0), 1003),
            # too small to contain any level-5 center -> contributes 0
            ("tiny", _rect(0.1, 0.2, 0.1, 0.2), 999),
        ],
        f"poly_id string, ring {ring_t}, value long",
    )
    out = areal_disaggregate(polys, 5).collect()
    total = sum(r["total"] for r in out)
    assert total == 1003  # tiny dropped, big conserved exactly
    shares = sorted((r["cell"], r["total"]) for r in out)
    n = len(shares)
    base, rem = 1003 // n, 1003 % n
    # lowest `rem` cell ids carry base+1, the rest base
    assert [s for _, s in shares] == [base + 1] * rem + [base] * (n - rem)
    # overlapping polygons: shares ADD per cell
    polys2 = spark.createDataFrame(
        [
            ("a", _rect(-20.0, 20.0, -30.0, 30.0), 100),
            ("b", _rect(-20.0, 20.0, -30.0, 30.0), 50),
        ],
        f"poly_id string, ring {ring_t}, value long",
    )
    out2 = areal_disaggregate(polys2, 5).collect()
    assert sum(r["total"] for r in out2) == 150
    assert all(r["n_polys"] == 2 for r in out2)
