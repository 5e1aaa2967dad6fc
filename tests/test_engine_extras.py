"""E5 salting, E6 checkpoint/lineage, DP/Hampel/z-score extras."""

from __future__ import annotations

import sys

import numpy as np
import pytest

sys.path.insert(0, "/root/repo")


def test_salted_join_equals_plain_join(spark):
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.skew import salted_join

    big = spark.range(10000).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("w")
    )
    plain = {(r.k, r.v, r.w) for r in big.join(small, "k").collect()}
    salted = {(r.k, r.v, r.w) for r in salted_join(big, small, "k", salt=8).collect()}
    assert salted == plain


def test_salted_topk_equals_plain_window(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.skew import salted_topk_per_key

    # skewed: key 0 holds 90% of the rows (the hot-tile shape the salt
    # exists for); score has deliberate ties so the id tie-break matters
    df = spark.range(20000).select(
        F.when(F.col("id") % 10 < 9, 0).otherwise((F.col("id") % 7) + 1).alias("k"),
        F.col("id").alias("pid"),
        ((F.col("id") * 48271) % 500).alias("score"),
    )
    order = [F.col("score").desc(), F.col("pid").asc()]
    plain = df.withColumn(
        "rank", F.row_number().over(Window.partitionBy("k").orderBy(*order))
    ).filter(F.col("rank") <= 5)
    expected = {(r.k, r.pid, r.score, r.rank) for r in plain.collect()}
    for n_salt in (1, 4, 16):
        got = {
            (r.k, r.pid, r.score, r.rank)
            for r in salted_topk_per_key(
                df, ["k"], order, k=5, n_salt=n_salt, salt_by="pid"
            ).collect()
        }
        assert got == expected, f"n_salt={n_salt}"


def test_salted_topk_phase2_input_is_bounded(spark):
    """Phase 1 must leave at most n_salt*k rows per key for the re-rank —
    asserted on the operator's OWN phase-1 intermediate, not a replica."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.skew import (
        _topk_phase1_survivors,
        salted_topk_per_key,
    )

    df = spark.range(50000).select(
        F.lit(0).alias("k"), F.col("id").alias("pid"), F.col("id").alias("score")
    )
    order = [F.col("score").desc(), F.col("pid").asc()]
    n_salt, k = 8, 3
    survivors = _topk_phase1_survivors(df, ["k"], order, k, n_salt, "pid")
    assert survivors.count() <= n_salt * k
    # and the end-to-end result is still the exact top-k
    top = salted_topk_per_key(df, ["k"], order, k=k, n_salt=n_salt, salt_by="pid")
    assert [r.pid for r in top.orderBy("rank").collect()] == [49999, 49998, 49997]


def test_checkpoint_commit_resume(spark, tmp_path):
    from pyspark.sql import functions as F

    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(str(tmp_path))
    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("part"), F.col("id")
    )
    m1 = cat.commit(df.filter("part in ('0','1')"), "t", partition_col="part")
    assert m1["snapshot_id"] == 1 and m1["total_rows"] == 50
    assert set(m1["partitions"]) == {"0", "1"}

    # resume: only unprocessed partitions remain in the work-list
    allp = spark.createDataFrame([("0",), ("1",), ("2",), ("3",)], "part string")
    pending = {r.part for r in cat.resume_pending(spark, allp, "t", "part").collect()}
    assert pending == {"2", "3"}

    m2 = cat.commit(df.filter("part in ('2','3')"), "t", partition_col="part")
    assert m2["parent_id"] == 1 and m2["snapshot_id"] == 2
    # snapshot isolation: snapshot 1 still readable as-was
    assert cat.load(spark, "t", 1).count() == 50
    assert cat.load(spark, "t").count() == 50  # latest = snap 2 (its own data)


def test_checkpoint_commit_runs_upstream_once(spark, tmp_path):
    """commit must NOT recompute the input for lineage counts: an
    accumulator in the upstream lineage counts exactly one pass over the
    data (the write), and the manifest's counts/file_stats come from the
    written parquet footers."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gotrackmaster_spark.plans.checkpoint import Catalog

    acc = spark.sparkContext.accumulator(0)

    def counted(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    df = (
        spark.range(100)
        .select((F.col("id") % 4).cast("string").alias("part"), "id")
        .mapInPandas(counted, "part string, id long")
    )
    cat = Catalog(str(tmp_path))
    m = cat.commit(df, "once", partition_col="part")
    assert acc.value == 100, f"upstream ran {acc.value / 100:.0f}x, want 1x"
    assert m["total_rows"] == 100
    assert m["partitions"] == {"0": 25, "1": 25, "2": 25, "3": 25}
    # per-file lineage from the footers
    assert sum(s["rows"] for s in m["file_stats"]) == 100
    assert {s["partition"] for s in m["file_stats"]} == {"0", "1", "2", "3"}


def test_douglas_peucker_properties():
    from gotrackmaster_spark.kernels.extra import _perp_dist, douglas_peucker_mask

    rng = np.random.RandomState(42)
    lat = np.cumsum(rng.randn(200)) * 1e-4 + 40.0
    lon = np.cumsum(rng.randn(200)) * 1e-4 + 2.0
    eps = 2e-4
    keep = douglas_peucker_mask(lat, lon, eps)
    assert keep[0] and keep[-1]
    assert keep.sum() < 200
    # every dropped point is within eps of the kept polyline's active segment
    idx = np.where(keep)[0]
    for a, b in zip(idx[:-1], idx[1:]):
        if b > a + 1:
            d = _perp_dist(lat[a + 1 : b], lon[a + 1 : b], lat[a], lon[a], lat[b], lon[b])
            assert (d <= eps + 1e-12).all()


def test_hampel_and_zscore_flag_spikes():
    from gotrackmaster_spark.kernels.extra import hampel_mask, zscore_mask

    v = np.ones(100) * 500.0
    v += np.sin(np.arange(100)) * 2
    v[17] = 3000.0
    v[55] = -1000.0
    hm = hampel_mask(v)
    zm = zscore_mask(v)
    assert hm[17] and hm[55]
    assert zm[17] and zm[55]
    assert hm.sum() <= 4 and zm.sum() <= 4


def test_extra_fix_operators_spark(spark):
    from gotrackmaster_spark.operators.repair import (
        douglas_peucker_fix,
        hampel_fix,
        zscore_fix,
    )
    from gotrackmaster_spark.sources.gpx import gpx_files_to_points_df
    from tests.conftest import FIXTURES

    pts, _ = gpx_files_to_points_df(spark, [FIXTURES["carlos"]])
    n0 = pts.count()
    n_dp = douglas_peucker_fix(pts, 0.0002).count()
    assert 2 <= n_dp < n0
    assert hampel_fix(pts).count() <= n0
    assert zscore_fix(pts).count() <= n0


def test_checkpoint_time_travel_rollback_expire(spark, tmp_path):
    """Iceberg lifecycle semantics on the snapshot log: TIMESTAMP-AS-OF
    reads, rollback publishes a new manifest over old data, and retention
    expires manifests without deleting data a live (rolled-back) manifest
    still references."""
    import os

    from pyspark.sql import functions as F

    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(str(tmp_path))
    df = spark.range(30).select(
        (F.col("id") % 3).cast("string").alias("part"), "id"
    )
    m1 = cat.commit(df.filter("part = '0'"), "t", partition_col="part")
    m2 = cat.commit(df.filter("part in ('0','1')"), "t", partition_col="part")
    m3 = cat.commit(df, "t", partition_col="part")

    # time travel: between m1 and m2 commits -> m1's state
    assert cat.load_as_of(spark, "t", m1["created_unix"]).count() == 10
    assert cat.load_as_of(spark, "t", m2["created_unix"] + 1e-3).count() == 20
    assert cat.load(spark, "t").count() == 30

    # rollback to m2: latest now reads m2's data; history intact
    m4 = cat.rollback("t", m2["snapshot_id"])
    assert m4["snapshot_id"] == 4 and m4["data_dir"] == m2["data_dir"]
    assert cat.load(spark, "t").count() == 20
    assert cat.load(spark, "t", m3["snapshot_id"]).count() == 30

    # expire all but the last 2 (m3, m4): m1's data dir goes, m2's data
    # dir SURVIVES because the rollback manifest m4 references it
    expired = cat.expire_snapshots("t", keep_last=2)
    assert expired == [1, 2]
    assert not os.path.isdir(m1["data_dir"])
    assert os.path.isdir(m2["data_dir"])
    assert cat.load(spark, "t").count() == 20
    assert cat.snapshots("t") == [3, 4]


def test_within_radius_join_matches_brute_force(spark):
    """E8 covering must be a strict superset of the circle: compare the
    cell-bucketed join against the O(N*M) brute force on adversarial
    centers — near-polar (lon half-width blows past 90 deg), antimeridian
    (index wraparound), and equatorial."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.functions.geodesy import haversine_col
    from gotrackmaster_spark.operators.spatial import within_radius_join

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    centers = spark.createDataFrame(
        [
            (0, 79.5, 179.95),
            (1, -79.5, -179.95),
            (2, 0.0, 0.0),
            (3, 78.0, 12.3),
            (4, -45.0, 100.0),
        ],
        "center_id long, lat double, lon double",
    )
    for radius, level in [(500_000.0, 7), (150_000.0, 9)]:
        got = {
            (r.center_id, r.event_id)
            for r in within_radius_join(
                pts, centers, radius, level=level
            ).collect()
        }
        c = centers.select(
            F.col("center_id"),
            F.col("lat").alias("c_lat"),
            F.col("lon").alias("c_lon"),
        )
        brute = pts.crossJoin(F.broadcast(c)).where(
            haversine_col(
                F.col("c_lat"), F.col("c_lon"), F.col("lat"), F.col("lon")
            )
            < radius
        )
        want = {(r.center_id, r.event_id) for r in brute.collect()}
        assert got == want
        assert len(want) > 0


def test_within_radius_join_plan_shape(spark):
    """The plan must broadcast the covering and never shuffle the points
    side: no Exchange between the parquet scan and the join, no
    CartesianProduct, no Python eval anywhere."""
    from gotrackmaster_spark.driver_queries import (
        _POI_RADIUS_M,
        geo_events,
        poi_centers,
        q_radius_join,
    )
    from gotrackmaster_spark.operators.spatial import within_radius_join

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    hits = within_radius_join(
        pts, poi_centers(spark), _POI_RADIUS_M, level=7, id_col="poi_id"
    )
    plan = hits._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_catalog_load_pruned_skips_files(spark, tmp_path):
    """Manifest column stats must let a range read skip non-overlapping
    files entirely (fewer inputFiles), while matching load().filter()."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.functions.cells import cell_col
    from gotrackmaster_spark.operators.skew import repartition_by_cell_range
    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(str(tmp_path))
    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    ).withColumn("cell", cell_col(F.col("lat"), F.col("lon"), 12))
    m = cat.commit(
        repartition_by_cell_range(pts, "cell", 8), "cells", stats_cols=["cell"]
    )
    assert all("cell" in (fs.get("stats") or {}) for fs in m["file_stats"])

    full = cat.load(spark, "cells")
    lo, hi = full.agg(F.min("cell"), F.max("cell")).first()
    mid = (lo + hi) // 2

    pruned = cat.load_pruned(spark, "cells", "cell", lo, mid)
    n_all = len(full.inputFiles())
    n_pruned = len(pruned.inputFiles())
    assert n_pruned < n_all, (n_pruned, n_all)
    want = full.filter((F.col("cell") >= lo) & (F.col("cell") <= mid))
    assert pruned.count() == want.count() > 0
    # disjoint range → zero files, empty result, schema intact
    empty = cat.load_pruned(spark, "cells", "cell", hi + 1, hi + 2)
    assert empty.count() == 0 and set(empty.columns) == set(full.columns)


def test_cms_overcounts_bounded(spark):
    """CMS invariants: est_n >= exact_n for every probed token, and the
    over-count stays within the 2N/width bound at the default geometry."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.functions.sketch import (
        CMS_WIDTH,
        cms_build,
        cms_estimate,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))
    n_total = toks.count()
    cms = cms_build(toks)
    assert cms.count() <= 4 * CMS_WIDTH
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    est = cms_estimate(cms, exact).collect()
    assert len(est) > 0
    bound = 2.0 * n_total / CMS_WIDTH
    for r in est:
        assert r.est_n >= r.exact_n
        assert r.est_n - r.exact_n <= bound, (r.tok, r.est_n, r.exact_n)


def test_catalog_compact(spark, tmp_path):
    """Compaction rewrites the latest snapshot into fewer, range-sorted
    files as a NEW snapshot with identical rows; old snapshots survive
    until expiration."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.functions.cells import cell_col
    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(str(tmp_path))
    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    ).withColumn("cell", cell_col(F.col("lat"), F.col("lon"), 12))
    cat.commit(pts.repartition(16), "t", stats_cols=["cell"])
    n_before = len(cat.load(spark, "t").inputFiles())
    assert n_before >= 16

    m = cat.compact(spark, "t", num_files=4, sort_col="cell", stats_cols=["cell"])
    assert m["metrics"]["compacted_from"] == 1
    after = cat.load(spark, "t")
    assert len(after.inputFiles()) == 4
    assert after.count() == pts.count()
    # compacted layout prunes: half the cell range must skip >= 1 file
    lo, hi = after.agg(F.min("cell"), F.max("cell")).first()
    pruned = cat.load_pruned(spark, "t", "cell", lo, (lo + hi) // 2)
    assert len(pruned.inputFiles()) < 4
    # old snapshot still loadable until expired
    assert cat.load(spark, "t", snapshot_id=1).count() == pts.count()


def test_knn_join_shuffle_query_variant(spark):
    """broadcast_queries=False must return the identical kNN result with a
    sort-merge candidate join."""
    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.operators.spatial import knn_join

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    qs = pts.where(pts.event_id % 100 == 0).withColumnRenamed(
        "event_id", "query_id"
    )
    d = pts.withColumnRenamed("event_id", "data_id")
    a = knn_join(qs, d, k=3, level=6, ring=1, exclude_self=False, n_data=1000)
    b = knn_join(
        qs, d, k=3, level=6, ring=1, exclude_self=False, n_data=1000,
        broadcast_queries=False,
    )
    ra = {(r.query_id, r.rank): r.data_id for r in a.collect()}
    rb = {(r.query_id, r.rank): r.data_id for r in b.collect()}
    assert ra == rb and len(ra) > 0
    assert "SortMergeJoin" in b._jdf.queryExecution().executedPlan().toString()


def test_hex_knn_join_matches_square(spark):
    """hex k-ring kNN (sort-merge refinement) must equal the square-grid
    kNN — both carry the exactness guarantee, so they agree rank-for-rank."""
    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.operators.spatial import knn_join

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    qs = pts.where(pts.event_id % 100 == 0).withColumnRenamed(
        "event_id", "query_id"
    )
    d = pts.withColumnRenamed("event_id", "data_id")
    a = knn_join(qs, d, k=3, level=6, ring=1, exclude_self=False, n_data=1000)
    b = knn_join(qs, d, k=3, level=3, ring=1, exclude_self=False, n_data=1000, grid="hex")
    ra = {(r.query_id, r.rank): r.data_id for r in a.collect()}
    rb = {(r.query_id, r.rank): r.data_id for r in b.collect()}
    assert ra == rb and len(ra) > 0


def test_hex_knn_seam_and_pole_exact(spark):
    """Seam-adjacent and polar queries must stay exact: the planar hex grid
    does not wrap at ±180°, so the guarantee clamp must push those queries
    into the brute-force phase instead of returning planar-ring results."""
    import numpy as np

    from gotrackmaster_spark.functions.geodesy import haversine_np
    from gotrackmaster_spark.operators.spatial import knn_join

    rng = np.random.default_rng(7)
    n = 400
    lats = rng.uniform(-89.9, 89.9, n)
    lons = rng.uniform(-180.0, 180.0, n)
    lats[:20] = rng.uniform(60.0, 89.5, 20)  # polar cluster
    lons[20:40] = np.where(rng.random(20) < 0.5, -179.99, 179.99)  # seam pairs
    rows = [(int(i), float(lats[i]), float(lons[i])) for i in range(n)]
    d = spark.createDataFrame(rows, "data_id int, lat double, lon double")
    q = spark.createDataFrame(
        [(i, la, lo) for i, la, lo in rows[:60]],
        "query_id int, lat double, lon double",
    )
    out = knn_join(q, d, k=3, level=3, ring=1, exclude_self=True, n_data=n, grid="hex")
    got = {(r.query_id, r.rank): r.data_id for r in out.collect()}
    assert len(got) == 60 * 3
    for qi in range(60):
        dist = haversine_np(
            np.full(n, lats[qi]), np.full(n, lons[qi]), lats, lons
        )
        order = sorted(
            (round(float(dist[j]), 3), j) for j in range(n) if j != qi
        )
        for rank, (_, j) in enumerate(order[:3], 1):
            assert got[(qi, rank)] == j, (qi, rank)


def test_hex_knn_plan_is_sort_merge(spark):
    """The hex kNN's candidate join must plan as a SortMergeJoin on the
    hex cell key (the north star's 'k-ring expansion with sort-merge
    refinement') with no CartesianProduct; the only nested-loop operator
    allowed is the broadcast-gated brute-force fallback branch."""
    from gotrackmaster_spark.driver_queries import geo_events
    from gotrackmaster_spark.operators.spatial import knn_join

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    qs = pts.where(pts.event_id % 100 == 0).withColumnRenamed(
        "event_id", "query_id"
    )
    d = pts.withColumnRenamed("event_id", "data_id")
    out = knn_join(qs, d, k=3, level=3, ring=1, exclude_self=False, n_data=1000,
                   grid="hex", broadcast_queries=False)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_knn_plan_is_broadcast(spark):
    """The default (Z-order) kNN broadcasts the exploded query rings: its
    candidate join on the cell key is a BroadcastHashJoin."""
    import re

    from gotrackmaster_spark.operators.spatial import knn_join

    rng = np.random.default_rng(3)
    rows = [
        (i, float(la), float(lo))
        for i, (la, lo) in enumerate(zip(rng.uniform(-60, 60, 500), rng.uniform(-180, 180, 500)))
    ]
    d = spark.createDataFrame(rows, "data_id int, lat double, lon double")
    qs = spark.createDataFrame(rows[::50], "query_id int, lat double, lon double")
    out = knn_join(qs, d, k=3, level=6, ring=1, exclude_self=False, n_data=500)
    plan = out._jdf.queryExecution().executedPlan().toString()
    joins = set(re.findall(r"(\w+Join) \[cell#\d+L?\], \[cell#\d+L?\]", plan))
    assert joins == {"BroadcastHashJoin"}, plan
    assert "CartesianProduct" not in plan


def test_knn_isolated_query_not_dropped(spark):
    """A query whose ring cells contain no (non-self) data points must
    still get its k neighbours via the brute-force phase — not vanish
    from the output (regression: the short-query gate was derived from
    the candidate set, which has no row for such queries)."""
    from gotrackmaster_spark.operators.spatial import knn_join

    d = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, 50.0, 120.0), (3, 50.1, 120.1)],
        "data_id int, lat double, lon double",
    )
    q = spark.createDataFrame([(1, 10.0, 10.0)], "query_id int, lat double, lon double")
    for grid, level in (("z", 6), ("hex", 3)):
        rows = knn_join(
            q, d, k=1, level=level, ring=1, exclude_self=True, n_data=3, grid=grid
        ).collect()
        assert len(rows) == 1 and rows[0]["data_id"] == 2, (grid, rows)


def test_pip_join_grid_equivalence(spark):
    """PIP results must be identical on the Z-order and hex lattices (the
    lattice only shapes candidate generation), and the hex polyfill must
    actually produce FULL cells at a resolution finer than the polygons
    (so the no-Python fast path is exercised, not just boundary refine)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.driver_queries import geo_events, rect_polygons
    from gotrackmaster_spark.operators.spatial import (
        point_in_polygon_join,
        polygon_covering,
    )

    pts = geo_events(spark, "/root/testdata/sf0.001").select(
        "event_id", "lat", "lon"
    )
    polys = rect_polygons(spark, "/root/testdata/sf0.001")
    a = sorted(
        (r.event_id, r.poly_id)
        for r in point_in_polygon_join(pts, polys, level=6).collect()
    )
    b = sorted(
        (r.event_id, r.poly_id)
        for r in point_in_polygon_join(pts, polys, level=4, grid="hex").collect()
    )
    assert a == b and len(a) > 0
    cov = polygon_covering(polys, 4, grid="hex")
    n_full = cov.filter(F.col("full")).count()
    assert n_full > 0, "hex polyfill produced no full cells at res 4"


# A concave 10-point star around (10°, 20°), radii 12° and 5°: full cells in
# its core, boundary cells along its notches.
_STAR_RING = [
    (10.0, 32.0), (12.938926, 24.045085), (21.412678, 23.708204),
    (14.755283, 18.454915), (17.053423, 10.291796), (10.0, 15.0),
    (2.946577, 10.291796), (5.244717, 18.454915), (-1.412678, 23.708204),
    (7.061074, 24.045085),
]


@pytest.mark.parametrize(
    "level,grid,n_rows,n_full,digest",
    [
        (4, "z", 55, 0, "7972dd18435fd21e26fb0544952b74c340157bdde2945f5678c6d651de5fe607"),
        (7, "z", 559, 107, "bd465fb31fb36a5a5f681c3535bfc3b41f76d067533df69f17eb53570a3a33a1"),
        (4, "hex", 577, 87, "fd842b5d34248d298cbe7db25ca1cdf9fedb907ecea59e9b83adb53c47e12274"),
    ],
)
def test_polygon_covering_golden(spark, tmp_path, level, grid, n_rows, n_full, digest):
    """Row-for-row pin of the covering (``cell``, ``poly_id``, ``full``) on
    the rect polygons of the 25 nation keys plus a concave star: the
    SHA-256 of the sorted rows as JSON, with the row and full-cell counts
    for a readable failure."""
    import hashlib
    import json

    from gotrackmaster_spark.driver_queries import rect_polygons
    from gotrackmaster_spark.operators.spatial import polygon_covering
    from gotrackmaster_spark.session import local_frame

    spark.range(25).withColumnRenamed("id", "n_nationkey").write.parquet(
        str(tmp_path / "nation.parquet")
    )
    polys = rect_polygons(spark, str(tmp_path)).unionByName(
        local_frame(
            spark, [("star", _STAR_RING)],
            "poly_id string, ring array<struct<lat:double,lon:double>>",
        )
    )
    rows = sorted(
        [r.cell, r.poly_id, bool(r.full)]
        for r in polygon_covering(polys, level, grid=grid).collect()
    )
    assert (len(rows), sum(f for _, _, f in rows)) == (n_rows, n_full)
    assert hashlib.sha256(json.dumps(rows).encode()).hexdigest() == digest


@pytest.mark.parametrize("op", ["polygon_covering", "point_in_polygon_join", "knn_join"])
def test_unknown_grid_raises(spark, op):
    """Every grid-taking operator rejects an unknown lattice name."""
    from gotrackmaster_spark.operators import spatial

    polys = spark.createDataFrame(
        [("a", [(0.0, 0.0), (0.0, 1.0), (1.0, 1.0)])],
        "poly_id string, ring array<struct<lat:double,lon:double>>",
    )
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "query_id int, lat double, lon double")
    args = {
        "polygon_covering": (polys, 4),
        "point_in_polygon_join": (pts, polys, 4),
        "knn_join": (pts, pts.withColumnRenamed("query_id", "data_id"), 1, 4),
    }[op]
    with pytest.raises(ValueError, match="grid must be"):
        getattr(spatial, op)(*args, grid="s2")


def test_kmv_distinct_partition_invariant_and_accurate(spark):
    """KMV sketch must be independent of partitioning (the bottom-k merge
    property the per-partition pre-filter relies on) and within the
    standard-error envelope of the exact count."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.functions.sketch import (
        KMV_K,
        kmv_distinct,
        kmv_hash_expr,
    )

    from gotrackmaster_spark.driver_queries import _BIGRAM_EXPR

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    toks = docs.select("lang", F.split("text", " ").alias("a")).select(
        "lang", F.explode(F.expr(_BIGRAM_EXPR)).alias("tok")
    )
    items = toks.withColumn("h", F.expr(kmv_hash_expr("tok")))
    a = {
        r.lang: r.est_distinct
        for r in kmv_distinct(items.repartition(1), "lang", "h").collect()
    }
    b = {
        r.lang: r.est_distinct
        for r in kmv_distinct(items.repartition(16), "lang", "h").collect()
    }
    assert a == b and len(a) > 0
    exact = {
        r.lang: r.n
        for r in toks.groupBy("lang")
        .agg(F.countDistinct("tok").alias("n"))
        .collect()
    }
    assert all(n >= KMV_K for n in exact.values())  # estimator path exercised
    for lang, est in a.items():
        n = exact[lang]
        # k=64 → relative std err 1/sqrt(k-2) ≈ 12.7 %; 0.5 ≈ 4σ
        assert abs(est - n) / n < 0.5, (lang, est, n)


def test_bottom_n_sample_partition_invariant(spark):
    """The hash-order sample must be a pure function of the data: identical
    rows whether the input sits in 1 or 16 partitions, exactly n per group
    (for groups with ≥ n keys), no duplicates."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.functions.sketch import kmv_hash_expr
    from gotrackmaster_spark.operators.sampling import bottom_n_sample

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    items = docs.select(
        "lang", "doc_id",
        F.expr(kmv_hash_expr("CAST(doc_id AS STRING)")).alias("h"),
    )
    a = sorted(
        (r.lang, r.doc_id)
        for r in bottom_n_sample(items.repartition(1), "lang", "h", "doc_id", 7).collect()
    )
    b = sorted(
        (r.lang, r.doc_id)
        for r in bottom_n_sample(items.repartition(16), "lang", "h", "doc_id", 7).collect()
    )
    assert a == b and len(a) == len(set(a))
    from collections import Counter

    per_group = Counter(g for g, _ in a)
    assert all(c == 7 for c in per_group.values())


def test_gpx_scan_quarantine(spark, tmp_path):
    """with_errors=True must surface malformed files as quarantine rows
    instead of dropping them silently."""
    import shutil

    from gotrackmaster_spark.sources.gpx import gpx_scan_distributed
    from tests.conftest import FIXTURES

    src = str(tmp_path / "gpx")
    import os

    os.makedirs(src)
    shutil.copy(FIXTURES["pedraforca"], src)
    with open(f"{src}/broken.gpx", "w") as f:
        f.write("<gpx><trk><unclosed></gpx>")

    scan = gpx_scan_distributed(spark, src, with_errors=True)
    rows = {r.track_id: r for r in scan.collect()}
    assert rows["broken.gpx"].error is not None
    assert rows["broken.gpx"].points == []
    good = rows["2020-10-03_09-05_Sat_pedraforca.gpx"]
    assert good.error is None and len(good.points) > 0

    # default mode: silent skip (reference parity) — only the good file
    default = gpx_scan_distributed(spark, src).collect()
    assert {r.track_id for r in default} == {
        "2020-10-03_09-05_Sat_pedraforca.gpx"
    }


def test_checkpoint_crashed_commit_is_invisible_and_retryable(spark, tmp_path):
    """Crash-consistency contract: a writer that died BETWEEN the data
    write and the atomic manifest publish leaves an orphaned snap dir.
    Readers must never see it (manifest-resolved reads), resume must not
    count its partitions as done, and simply RE-RUNNING the commit must
    succeed — recovery is a retry, never manual cleanup."""
    import os

    from pyspark.sql import functions as F

    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(str(tmp_path))
    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("part"), F.col("id")
    )
    cat.commit(df.filter("part in ('0','1')"), "t", partition_col="part")

    # simulate the crash: snapshot-2 data fully written, manifest never
    # published (die between write.parquet() and _publish)
    orphan = os.path.join(str(tmp_path), "t", "snap-00000002")
    df.filter("part = '2'").write.partitionBy("part").parquet(orphan)
    assert os.path.isdir(orphan)

    # invisible to readers and to resume
    assert cat.load(spark, "t").count() == 50
    allp = spark.createDataFrame([("0",), ("1",), ("2",), ("3",)], "part string")
    pending = {r.part for r in cat.resume_pending(spark, allp, "t", "part").collect()}
    assert pending == {"2", "3"}

    # the retry just works: same snapshot id, debris cleared, both
    # pending partitions land in one published snapshot
    m2 = cat.commit(df.filter("part in ('2','3')"), "t", partition_col="part")
    assert m2["snapshot_id"] == 2 and set(m2["partitions"]) == {"2", "3"}
    assert cat.load(spark, "t", 2).count() == 50
    assert cat.load(spark, "t", 1).count() == 50  # snapshot isolation intact
