"""The benchmark operations and their output checks.

Each workload object is built once per run on a ready session.
``run(i, tr)`` performs operation ``i`` and returns its output;
``check(out)`` returns a list of problems (empty when the output is
correct).  With a ``spans.Tracer`` the same code also forces and times each
layer; with a ``NullTracer`` it is the plain operation.  JIT compilation
keeps the first operations of a session slower for about as long as
``WARMUP_OPS`` operations take; those are run, checked and not timed.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

from gen import digest


class GpxRepair:
    """Driver parse → fused repair → GPX sink, and track profiles."""

    NAME = "gpx_repair"
    WARMUP_OPS = 1

    def __init__(self, spark, inputs: str, ref: dict, work: str):
        self.spark = spark
        self.src = os.path.join(inputs, "gpx")
        self.ref = ref
        self.work = work
        self.items = ref["points"]

    def instrument(self, tr) -> None:
        """The driver-side parse is plain Python calls: wrap them."""
        import gotrackmaster_spark.sources.gpx as gpx

        tr.instrument(gpx, ["discover_gpx_files", "parse_gpx_file", "track_to_rows",
                            "waypoint_rows"], "gpx.parse_driver_s")

    def run(self, i: int, tr):
        from gotrackmaster_spark.operators.quality import track_profiles
        from gotrackmaster_spark.operators.repair import (
            classification_repair_stages,
            repair_pipeline,
        )
        from gotrackmaster_spark.sources.gpx import (
            discover_gpx_files,
            gpx_files_to_tables,
            write_gpx_files,
        )

        out_dir = os.path.join(self.work, f"out{i}")
        points, tracks, waypoints = gpx_files_to_tables(self.spark, discover_gpx_files(self.src))
        repaired = repair_pipeline(points, classification_repair_stages())
        kept = tr.force("repair.pipeline_s", repaired, count=True)
        with tr.layer("gpx.write_s", prefix="repair.pipeline_s"):
            n_files = write_gpx_files(repaired, tracks, out_dir, waypoints_df=waypoints)
        with tr.layer("quality.track_profiles_s"):
            profiles = track_profiles(points).toPandas()
        return {"out_dir": out_dir, "n_files": n_files, "profiles": profiles, "kept": kept}

    def check(self, out) -> list[str]:
        problems = []
        written = {}
        for name in os.listdir(out["out_dir"]):
            with open(os.path.join(out["out_dir"], name), "rb") as f:
                written[name] = hashlib.sha256(f.read()).hexdigest()
        if written != self.ref["files"]:
            bad = sorted(k for k in set(written) | set(self.ref["files"])
                         if written.get(k) != self.ref["files"].get(k))
            problems.append(f"written GPX differs from the in-process repair: {bad[:5]}")
        if out["n_files"] != len(self.ref["files"]):
            problems.append(f"write_gpx_files reported {out['n_files']} files")
        pdf = out["profiles"]
        got = digest(
            profile_row_from_frame(r) for r in pdf.itertuples(index=False)
        )
        if got != self.ref["profiles"]:
            problems.append("track_profiles rows differ from the in-process kernels")
        return problems

    def cleanup(self, out) -> None:
        shutil.rmtree(out["out_dir"], ignore_errors=True)

    def trace_counts(self, out) -> dict:
        return {
            "repair.points_kept_ratio": out["kept"] / self.items,
            "gpx.bytes_in": self.ref["bytes_in"],
            "gpx.bytes_out": sum(os.path.getsize(os.path.join(out["out_dir"], n))
                                 for n in os.listdir(out["out_dir"])),
            "kernels.direct_s": self.kernels_direct_s(),
        }

    def kernels_direct_s(self) -> float:
        """The repair stages called in-process on every parsed segment,
        without Spark: the kernels' own time on one core."""
        from gotrackmaster_spark.kernels import track as K
        from gotrackmaster_spark.operators.repair import classification_repair_stages
        from gotrackmaster_spark.sources.gpx import discover_gpx_files, parse_gpx_file

        segments = [
            [K.Pt(*p) for p in seg]
            for path in discover_gpx_files(self.src)
            for trk in parse_gpx_file(path).tracks
            for seg in trk
        ]
        stages = classification_repair_stages()
        t = time.perf_counter()
        for pts in segments:
            for stage in stages:
                pts = stage(pts)
        return time.perf_counter() - t


def profile_row_from_frame(r) -> str:
    """A collected ``track_profiles`` row in the text form of
    ``gen.profile_row``."""
    return repr((
        r.track_id, int(r.time_quality), float(r.distance_quality), int(r.srtm_accuracy),
        float(r.quality), r.classification, float(r.start_lat), float(r.start_lon),
        float(r.end_lat), float(r.end_lon), int(r.start_ts_ns), int(r.end_ts_ns),
        int(r.n_points),
    ))


def _pip_counts(points, polys, hits: int) -> dict:
    """Boundary-cell candidates (the rows the ray-cast refine sees) by
    joining the points to the public covering, and the hit ratio among
    them; points in full cells are hits without a refine."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.functions.cells import cell_col
    from gotrackmaster_spark.operators.spatial import polygon_covering

    cov = polygon_covering(polys, 7).select("cell", "full")
    cand = points.select(cell_col(F.col("lat"), F.col("lon"), 7).alias("cell")).join(
        F.broadcast(cov), "cell")
    row = cand.agg(F.sum(F.when(~F.col("full"), 1).otherwise(0)).alias("b"),
                   F.sum(F.when(F.col("full"), 1).otherwise(0)).alias("f")).first()
    boundary, full = int(row["b"] or 0), int(row["f"] or 0)
    return {
        "spatial.pip_candidates": boundary,
        "spatial.pip_hits": hits,
        "spatial.pip_hit_ratio": (hits - full) / boundary if boundary else 0.0,
    }


class TrackCatalog:
    """Executor GPX scan → tile/cell assign → commit → merge → compact →
    pruned load → PIP join, on a fresh catalog each operation."""

    NAME = "track_catalog"
    WARMUP_OPS = 2

    KEYS = ["track_id", "trk_no", "seg_no", "pt_idx"]

    def instrument(self, tr) -> None:
        """No wrappers: the GPX parser's functions are pickled into the
        executor scan, so they must stay unwrapped."""

    def __init__(self, spark, inputs: str, ref: dict, work: str):
        self.spark = spark
        self.inputs = inputs
        self.ref = ref
        self.work = work
        self.items = ref["points"]
        self.polys = spark.createDataFrame(
            [(pid, ring) for pid, ring in ref["polygons"]],
            "poly_id string, ring array<struct<lat:double,lon:double>>",
        )

    def _assigned(self, d: str):
        from pyspark.sql import functions as F

        from gotrackmaster_spark.functions.cells import cell_col
        from gotrackmaster_spark.functions.tiles import tile_name_col
        from gotrackmaster_spark.sources.gpx import gpx_scan_distributed, scan_points

        pts = scan_points(gpx_scan_distributed(self.spark, os.path.join(self.inputs, d)))
        return pts, (
            pts.withColumn("tile", tile_name_col(F.col("lat"), F.col("lon"), 1.0))
            .withColumn("cell12", cell_col(F.col("lat"), F.col("lon"), 12))
        )

    def run(self, i: int, tr):
        from gotrackmaster_spark.operators.spatial import point_in_polygon_join
        from gotrackmaster_spark.plans.checkpoint import Catalog

        root = os.path.join(self.work, f"catalog{i}")
        cat = Catalog(root)
        pts, assigned = self._assigned("gpx")
        tr.force("gpx.scan_executor_s", pts)
        tr.force("functions.assign_s", assigned, prefix="gpx.scan_executor_s")
        with tr.layer("checkpoint.commit_s", prefix="functions.assign_s"):
            m_commit = cat.commit(assigned, "points", partition_col="tile", stats_cols=["cell12"])
        with tr.layer("checkpoint.merge_s"):
            m_merge = cat.merge(self.spark, "points", self._assigned("upsert")[1], self.KEYS,
                                stats_cols=["cell12"])
        with tr.layer("checkpoint.compact_s"):
            m_compact = cat.compact(self.spark, "points", 8, sort_col="cell12",
                                    stats_cols=["cell12"])
        lo, hi = self.ref["cell_range"]
        pruned = cat.load_pruned(self.spark, "points", "cell12", lo, hi)
        tr.force("checkpoint.load_pruned_s", pruned)
        with tr.layer("spatial.pip_s", prefix="checkpoint.load_pruned_s"):
            hits = point_in_polygon_join(pruned, self.polys, level=7).count()
        return {"root": root, "manifests": (m_commit, m_merge, m_compact), "hits": hits}

    def check(self, out) -> list[str]:
        m_commit, m_merge, m_compact = out["manifests"]
        problems = []
        if m_commit["total_rows"] != self.ref["rows_commit"]:
            problems.append(f"commit total_rows {m_commit['total_rows']} != {self.ref['rows_commit']}")
        if m_merge["total_rows"] != self.ref["rows_merge"]:
            problems.append(f"merge total_rows {m_merge['total_rows']} != {self.ref['rows_merge']}")
        if m_compact["total_rows"] != self.ref["rows_merge"]:
            problems.append(f"compact total_rows {m_compact['total_rows']} != {self.ref['rows_merge']}")
        if out["hits"] != self.ref["pip_hits"]:
            problems.append(f"PIP hits {out['hits']} != ray-cast {self.ref['pip_hits']}")
        return problems

    def cleanup(self, out) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)

    def trace_counts(self, out) -> dict:
        """Write volume of the last operation's catalog, the pruned read's
        file share, and PIP candidates on the same pruned rows."""
        from gotrackmaster_spark.plans.checkpoint import Catalog

        written = files = 0
        for dirpath, _dirs, names in os.walk(out["root"]):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    written += os.path.getsize(os.path.join(dirpath, n))
        bytes_in = sum(
            os.path.getsize(os.path.join(dp, n))
            for dp, _d, names in os.walk(self.inputs) for n in names if n.endswith(".gpx")
        )
        cat = Catalog(out["root"])
        lo, hi = self.ref["cell_range"]
        pruned = cat.load_pruned(self.spark, "points", "cell12", lo, hi)
        counts = {
            "checkpoint.files_written": files,
            "checkpoint.bytes_written_per_input_byte": written / bytes_in,
            "checkpoint.files_read_ratio": len(pruned.inputFiles())
            / len(cat.manifest("points")["files"]),
            "gpx.bytes_in": bytes_in,
        }
        counts.update(_pip_counts(pruned, self.polys, out["hits"]))
        return counts


WORKLOADS = {
    "gpx_repair": GpxRepair,
    "track_catalog": TrackCatalog,
}
