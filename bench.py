#!/usr/bin/env python
"""Benchmark harness: headline spatial-join + tile-assignment queries.

Runs the engine's headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "rows": ..., "rows_per_sec": ...}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect).  ``python bench.py --scaling`` additionally runs the
widened flagship job at two parallelism levels N and 4N
($SCALING_LEVELS, default "4,16"; the ×256 instance keeps the 4N run well
above the fixed-overhead floor, see BENCH.md §2) in separate JVMs and
reports throughput at both plus the scaling efficiency plus a CPU
capacity probe (north_rule evidence; see BENCH.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _flagship(spark, sf_dir):
    """The BASELINE.md headline, `driver_queries.flagship_tiles` over the
    full events table: geotag → PIP join → degree tiles + cells →
    per-(polygon, tile) aggregate."""
    from gotrackmaster_spark import driver_queries as Q

    pts = Q.geo_events(spark, sf_dir).select("event_id", "user_id", "lat", "lon")
    return Q.flagship_tiles(pts, Q.rect_polygons(spark, sf_dir)).drop("n_tracks")


def _image_decode(spark, sf_dir):
    """E7 payload throughput: synthesize, encode (raw/png/qnt4), decode and
    phash 10k images of 32×24 RGB inside Arrow batches."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=32, h=24)
    # widen the 500-doc base ×20 via a salt column (distinct keys, same
    # codec path)
    wide = imgs.crossJoin(spark.range(20).select(F.col("id").alias("rep"))).withColumn(
        "image_id", F.concat(F.col("image_id"), F.lit("_"), F.col("rep"))
    ).repartition(64)
    return decode_stats(wide).groupBy("fmt").agg(
        F.count("*").alias("n"), F.sum("pixel_sum").alias("total")
    )


def _salted_skew_join(spark, sf_dir):
    """E5 demonstration: 90 % of points land in ONE hot cell; the salted
    join spreads it across 8 subkeys (result identical to the plain join,
    asserted in tests)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark import driver_queries as Q
    from gotrackmaster_spark.operators.skew import salted_join

    pts = Q.geo_events(spark, sf_dir).select("event_id", "lat", "lon")
    skewed = pts.withColumn(
        "cell",
        F.when(F.col("event_id") % 10 < 9, F.lit(42)).otherwise(
            F.col("event_id") % 1000
        ),
    )
    dim = spark.range(1000).select(
        F.col("id").alias("cell"), (F.col("id") * 7).alias("w")
    )
    return salted_join(skewed, dim, "cell", salt=8, salt_by="event_id").groupBy(
        "cell"
    ).agg(F.count("*").alias("n"), F.sum("w").alias("sw"))


def _gpx_repair_pipeline(spark, sf_dir):
    """Layer-K throughput on the reference's own workload: the 4 GPX
    fixtures replicated ×32 (531k points, 128 track groups) through the
    classification pipeline's repair stages (FixTimes → MaxSpeed →
    simplify → RemoveStops → RemoveIntersections ×4)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.operators import repair as R
    from gotrackmaster_spark.sources.gpx import discover_gpx_files, gpx_files_to_points_df

    pts, _ = gpx_files_to_points_df(spark, discover_gpx_files("/root/reference/testdata"))
    wide = (
        pts.crossJoin(spark.range(32).select(F.col("id").alias("rep")))
        .withColumn("track_id", F.concat(F.col("track_id"), F.lit("#"), F.col("rep")))
        .drop("rep")
        .repartition(64, "track_id", "trk_no", "seg_no")
    )
    out = R.repair_pipeline(wide, R.classification_repair_stages())
    return out.groupBy("track_id").agg(F.count("*").alias("n_points"))


def bench_queries():
    from gotrackmaster_spark import driver_queries as Q

    return {
        "gpx_repair_pipeline": _gpx_repair_pipeline,
        "flagship_spatial": _flagship,
        "leg_haversine_sum": Q.q_leg_haversine_sum,
        "tile_counts": Q.q_tile_counts,
        "cell_parent_counts": Q.q_cell_parent_counts,
        "speed_defect_counts": Q.q_speed_defect_counts,
        "knn": Q.q_knn,
        "knn_hex": Q.q_knn_hex,
        "duplicate_pairs": Q.q_duplicate_pairs,
        "dem_bands": Q.q_dem_bands,
        "mercator_tiles": Q.q_mercator_tiles,
        "s2_cell_counts": Q.q_s2_cell_counts,
        "image_decode_10k": _image_decode,
        "phash_near_dups": Q.q_phash_near_dups,
        "salted_skew_join": _salted_skew_join,
        "pip_antijoin": Q.q_pip_antijoin,
        "terrain_stats": Q.q_terrain_stats,
        "colocation_pairs": Q.q_colocation_pairs,
        "geo_phash_near_dups": Q.q_geo_phash_near_dups,
        "mosaic_topk": Q.q_mosaic_topk,
        "map_match": Q.q_map_match,
        "track_diameter": Q.q_track_diameter,
        "hotspot_cells": Q.q_hotspot_cells,
        "kde_raster": Q.q_kde_raster,
        "d8_basins": Q.q_d8_basins,
        # round-3 late additions: the Arrow-vectorized winnowing pass
        # (text-dedup class) and the frontier BFS distance field
        # (multi-round iterative class alongside d8_basins)
        "winnow_pairs": Q.q_winnow_pairs,
        "bfs_hops": Q.q_bfs_hops,
        # round-3 closing additions: trajectory set-distance (two-stage
        # candidate→verify over cell sets), decode→relational Haar
        # transform, and positional phrase search (postings join)
        "hausdorff_pairs": Q.q_hausdorff_pairs,
        "haar_energy": Q.q_haar_energy,
        "phrase_search": Q.q_phrase_search,
    }


def _run_once(spark, fn, sf_dir: str) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _warm_up(spark, sf_dir: str) -> None:
    """Spin up the machinery the suite exercises — Python worker pool
    (pandas UDFs), whole-stage codegen, broadcast infrastructure, window
    exec — so timings measure steady-state throughput, not JVM/worker
    cold-start."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{sf_dir}/events.parquet").limit(2000)

    def ident(batches):
        yield from batches

    small = spark.range(8).select(F.col("id").alias("k"))
    df2 = df.withColumn("k", F.col("event_id") % 8)
    (
        df2.mapInPandas(ident, df2.schema)
        .join(F.broadcast(small), "k")
        .withColumn("rn", F.row_number().over(Window.partitionBy("k").orderBy("event_id")))
        .write.format("noop").mode("overwrite").save()
    )


def main() -> None:
    from gotrackmaster_spark.session import get_session

    spark = get_session("gotrackmaster-bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")

    rows = spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    _warm_up(spark, SF_DIR)

    timings: dict[str, float] = {}
    for name, fn in bench_queries().items():
        # min of 2: the sandbox shows heavy run-to-run interference (see
        # BENCH.md §3) — the min is the closest to steady-state throughput
        t = min(_run_once(spark, fn, SF_DIR) for _ in range(2))
        timings[name] = round(t, 3)
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "spatial_join_tile_assignment_suite",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "rows": rows,
        "rows_per_sec": round(rows / timings["flagship_spatial"], 1),
        "cpus": int(CPUS),
        # the suite numbers are only interpretable against the machine's
        # EFFECTIVE capacity at measurement time (sandbox interference
        # makes nproc nominal) — carry the probe inside the bench line
        "cpu_capacity_probe": _cpu_capacity_probe(ns=(1, int(CPUS))),
    }
    print(json.dumps(out))
    spark.stop()


_SCALE_FACTOR = int(os.environ.get("BENCH_SCALE_FACTOR", "256"))


def _scaling_job(spark, sf_dir):
    """The flagship spatial-join + tile-assignment job on a ×FACTOR
    instance of the points table (same geotag formulas keyed by a widened
    id, partitioned so every core has work — the whole point of the
    N-vs-4N measurement is per-core throughput at constant TOTAL work,
    the north rule's strong-scaling criterion)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark import driver_queries as Q
    from gotrackmaster_spark.functions.cells import cell_col
    from gotrackmaster_spark.functions.tiles import tile_name_col

    base_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n = base_rows * _SCALE_FACTOR
    ids = spark.range(0, n, 1, max(int(CPUS) * 4, 128))
    pts = (
        ids.select(F.col("id").alias("event_id"))
        .withColumn("lat", (F.col("event_id") * F.lit(2654435761)) % 1600000 / 10000.0 - 80.0)
        .withColumn("lon", (F.col("event_id") * F.lit(40503) + 7) % 3600000 / 10000.0 - 180.0)
        .withColumn("user_id", F.col("event_id") % 150)
    )
    # tile + cell ASSIGNMENT over every point (the headline's
    # "tile-assignment" half: degree-grid names T1, level-12 cells E1,
    # level-5 rollup) …
    assigned = (
        pts.withColumn("tile", tile_name_col(F.col("lat"), F.col("lon"), 1.0))
        .withColumn("tile05", tile_name_col(F.col("lat"), F.col("lon"), 0.5))
        .withColumn("cell12", cell_col(F.col("lat"), F.col("lon"), 12))
        .withColumn("cell5", F.shiftright(F.col("cell12"), 14))
    )
    tile_agg = assigned.groupBy("tile", "tile05").agg(
        F.count("*").alias("n_points"), F.countDistinct("cell5").alias("n_cells")
    )
    # … and the PIP JOIN half over the same points
    pip_agg = Q.flagship_tiles(pts, Q.rect_polygons(spark, sf_dir))
    both = tile_agg.select(
        F.concat(F.lit("t:"), F.col("tile"), F.lit("/"), F.col("tile05")).alias("key"),
        "n_points", "n_cells",
    ).unionByName(
        pip_agg.select(
            F.concat(F.lit("p:"), F.col("poly_id"), F.lit("/"), F.col("tile")).alias("key"),
            "n_points", "n_cells",
        )
    )
    return both, n


def _cpu_capacity_probe(ns: tuple = (1, 8, 16, 32)) -> dict:
    """Fixed-work-per-process probe: how many EFFECTIVE cores the sandbox
    actually delivers (cgroup/steal/turbo effects make nproc=32 nominal).
    Reported alongside efficiency so the N→4N numbers are interpretable."""
    import multiprocessing

    def burn(_):
        x = 0
        for i in range(30_000_000):
            x += i * i
        return x

    out = {}
    for n in ns:
        t0 = time.perf_counter()
        ps = [multiprocessing.Process(target=burn, args=(0,)) for _ in range(n)]
        [p.start() for p in ps]
        [p.join() for p in ps]
        out[n] = round(time.perf_counter() - t0, 2)
    base = out[min(ns)]
    res = {"wall_by_nproc": out}
    for n in ns:
        if n > min(ns):
            res[f"effective_cores_at_{n}"] = round(n * base / out[n], 1)
    return res


def scaling() -> None:
    """Run the scaling job at two parallelism levels N and 4N in fresh JVMs
    (the sandbox proxy for N vs 4N executors) and report efficiency.
    Levels from $SCALING_LEVELS (default "4,16": the capacity probe shows
    this sandbox delivers ~13-20 effective cores, so 8→32 is hardware-capped
    at ~0.65 efficiency regardless of the engine — both pairs + the probe
    are reported)."""
    import subprocess

    levels = os.environ.get("SCALING_LEVELS", "4,16").split(",")
    n_lo, n_hi = levels[0].strip(), levels[1].strip()
    results = {}
    for cpus in (n_lo, n_hi):
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        p = subprocess.run(
            [sys.executable, __file__, "--flagship-only"],
            capture_output=True, text=True, env=env,
        )
        line = [ln for ln in p.stdout.splitlines() if ln.startswith("{")][-1]
        results[cpus] = json.loads(line)
    ratio = int(n_hi) // int(n_lo)
    eff = results[n_hi]["rows_per_sec"] / (ratio * results[n_lo]["rows_per_sec"])
    print(json.dumps({
        "metric": f"scaling_efficiency_local{n_lo}_vs_local{n_hi}",
        f"t_local{n_lo}_sec": results[n_lo]["value"],
        f"t_local{n_hi}_sec": results[n_hi]["value"],
        "rows": results[n_hi]["rows"],
        f"rows_per_sec_local{n_lo}": results[n_lo]["rows_per_sec"],
        f"rows_per_sec_local{n_hi}": results[n_hi]["rows_per_sec"],
        "efficiency": round(eff, 3),
        "cpu_capacity_probe": _cpu_capacity_probe(),
    }))


def flagship_only() -> None:
    from gotrackmaster_spark.session import get_session

    spark = get_session("gotrackmaster-bench", master=f"local[{CPUS}]")
    spark.sparkContext.setLogLevel("ERROR")
    _warm_up(spark, SF_DIR)
    df, n = _scaling_job(spark, SF_DIR)

    def once():
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    once()  # warm-up pass of the job itself
    best = min(once() for _ in range(2))
    print(json.dumps({
        "metric": "flagship_spatial_scaled", "value": round(best, 3), "unit": "sec",
        "rows": n, "rows_per_sec": round(n / best, 1), "cpus": int(CPUS),
    }))
    spark.stop()


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    elif "--flagship-only" in sys.argv:
        flagship_only()
    else:
        main()
