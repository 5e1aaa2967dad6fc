#!/usr/bin/env python
"""spark-submit entry point for the flagship spatial-join + tile-assignment
job (north rule: "jobs run via spark-submit --py-files on multi-executor
clusters, resumable from Iceberg-snapshot checkpoints").

Usage:
    python scripts/make_pyfiles_zip.py /tmp/gts.zip
    spark-submit --master local[8] --py-files /tmp/gts.zip \
        scripts/submit_flagship.py --sf-dir /root/testdata/sf0.01 \
        --checkpoint-root /tmp/gts_catalog

The job is checkpoint-resumable: per-polygon output partitions already
committed to the snapshot log are skipped on re-run (E6 lineage).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--checkpoint-root", default="/tmp/gts_catalog")
    ap.add_argument("--table", default="flagship_tiles")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # spark-submit owns the session; --py-files ships the package
    spark = SparkSession.builder.appName("gts-flagship").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from gotrackmaster_spark import driver_queries as Q
    from gotrackmaster_spark.plans.checkpoint import Catalog

    cat = Catalog(args.checkpoint_root)

    polys = Q.rect_polygons(spark, args.sf_dir)
    all_polys = polys.select("poly_id")
    pending = cat.resume_pending(spark, all_polys, args.table, "poly_id")
    n_pending = pending.count()
    if n_pending == 0:
        print(f"RESUME: nothing pending for {args.table}; latest snapshot is complete")
        return
    print(f"RESUME: {n_pending} pending polygon partitions")

    pts = Q.geo_events(spark, args.sf_dir).select("event_id", "user_id", "lat", "lon")
    polys_pending = polys.join(F.broadcast(pending), "poly_id", "left_semi")
    out = Q.flagship_tiles(pts, polys_pending).drop("n_tracks")
    attempted = [r.poly_id for r in pending.collect()]
    manifest = cat.commit(
        out, args.table, partition_col="poly_id", attempted_partitions=attempted
    )
    print(
        f"COMMITTED snapshot {manifest['snapshot_id']} "
        f"({manifest['total_rows']} rows, {len(manifest['partitions'])} partitions)"
    )


if __name__ == "__main__":
    main()
