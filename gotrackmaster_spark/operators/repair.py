"""DataFrame-level track-repair operators (Layer K, SURVEY.md §2.5/2.6).

Each operator wraps a sequential kernel from ``kernels.track`` in
``groupBy(track_id, trk_no, seg_no).applyInPandas`` — one Arrow batch per
segment (10^2..10^4 points), numpy/python inside, Spark handles
distribution.  ``fix_*`` returns the repaired points table (pt_idx
resequenced, exactly like the reference's rebuilt TrkPt slices);
``detect_*`` returns the defect-report table (GPXElementInfo analogue).

At 100 TB the points table is hash-partitioned by (track_id, trk_no,
seg_no); chained repairs reuse the same keys so AQE collapses the chain to
a single exchange.
"""

from __future__ import annotations

import math
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gotrackmaster_spark.kernels import fast as KF
from gotrackmaster_spark.kernels import track as K
from gotrackmaster_spark.schemas import DEFECTS_SCHEMA, GO_ZERO_NS, POINTS_SCHEMA

_SEG_KEY = ["track_id", "trk_no", "seg_no"]
_TRK_KEY = ["track_id", "trk_no"]


def _to_pts(pdf: pd.DataFrame) -> list[K.Pt]:
    pdf = pdf.sort_values("pt_idx")
    lats = pdf["lat"].to_numpy()
    lons = pdf["lon"].to_numpy()
    eles = pdf["ele"].to_numpy()
    ts_ns = pdf["ts_ns"].to_numpy()
    return [
        K.Pt(float(lats[i]), float(lons[i]), float(eles[i]), int(ts_ns[i]))
        for i in range(len(pdf))
    ]


def _pts_frame(key: tuple, pts: list[K.Pt], n_key: int) -> pd.DataFrame:
    rows = {
        "track_id": key[0],
        "trk_no": key[1],
        "seg_no": key[2] if n_key == 3 else 0,
        "pt_idx": range(len(pts)),
        "lat": [p.lat for p in pts],
        "lon": [p.lon for p in pts],
        "ele": [p.ele for p in pts],
        # ts is µs display precision, truncated toward zero like
        # schemas.ts_from_ns; ts_ns carries exact nanos.  Times outside the
        # pandas range (1677-2262) have a null ts.
        "ts": pd.to_datetime(
            [None if p.t == GO_ZERO_NS else -(-p.t // 1000) if p.t < 0 else p.t // 1000
             for p in pts],
            unit="us", errors="coerce",
        ),
        "ts_ns": [p.t for p in pts],
    }
    return pd.DataFrame(rows)


def _defects_frame(key: tuple, defects: list[K.Defect], seg_no=None) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "track_id": key[0],
            "trk_no": key[1],
            "seg_no": key[2] if seg_no is None else seg_no,
            "pt_idx": [d.pt_idx for d in defects],
            "count": [d.count for d in defects],
            "length": [d.length for d in defects],
            "speed": [d.speed for d in defects],
            "speed_vertical": [d.speed_vertical for d in defects],
            "elevation": [d.elevation for d in defects],
            "duration": [d.duration for d in defects],
            "lat": [d.lat for d in defects],
            "lon": [d.lon for d in defects],
        }
    )


def _seg_fix(df: DataFrame, run: Callable[[list[K.Pt]], list[K.Pt]]) -> DataFrame:
    def fn(key, pdf):
        pts = run(_to_pts(pdf))
        return _pts_frame(key, pts, 3)

    return df.groupBy(*_SEG_KEY).applyInPandas(fn, POINTS_SCHEMA)


def _seg_detect(df: DataFrame, run: Callable[[list[K.Pt]], list[K.Defect]]) -> DataFrame:
    def fn(key, pdf):
        return _defects_frame(key, run(_to_pts(pdf)))

    return df.groupBy(*_SEG_KEY).applyInPandas(fn, DEFECTS_SCHEMA)


# --------------------------------------------------------------- W10 time ---

def fix_times(df: DataFrame) -> DataFrame:
    def run(pts):
        K.fix_times_segment(pts)
        return pts

    return _seg_fix(df, run)


def count_time_fixes(df: DataFrame) -> DataFrame:
    """A7 analogue of FixTimesTrack's return value: fixes per track."""
    def fn(key, pdf):
        pts = _to_pts(pdf)
        n = K.fix_times_segment(pts)
        return pd.DataFrame({"track_id": [key[0]], "trk_no": [key[1]],
                             "seg_no": [key[2]], "num_fixes": [n]})

    schema = "track_id string, trk_no int, seg_no int, num_fixes int"
    per_seg = df.groupBy(*_SEG_KEY).applyInPandas(fn, schema)
    return per_seg.groupBy("track_id").agg(F.sum("num_fixes").alias("num_fixes"))


# --------------------------------------------------------------- W6 speed ---

def max_speed_fix(df: DataFrame, maximum: float = 200.0) -> DataFrame:
    def run(pts):
        KF.max_speed(pts, maximum, True)
        return pts

    return _seg_fix(df, run)


def max_speed_defects(df: DataFrame, maximum: float = 200.0) -> DataFrame:
    return _seg_detect(df, lambda pts: KF.max_speed(pts, maximum, False))


def remove_last_max_speed_fix(df: DataFrame, maximum: float = 14.0) -> DataFrame:
    return _seg_fix(df, lambda pts: KF.remove_last_max_speed(pts, maximum, True)[0])


def remove_last_max_speed_defects(df: DataFrame, maximum: float = 14.0) -> DataFrame:
    return _seg_detect(df, lambda pts: KF.remove_last_max_speed(pts, maximum, False)[1])


# --------------------------------------------------- N1/N2/N3/N4/N5 noise ---

def remove_noise_fix(df: DataFrame, max_distance=6.0, max_elevation=1.1, max_points=4) -> DataFrame:
    return _seg_fix(df, lambda pts: KF.remove_noise(pts, max_distance, max_elevation, max_points, True)[0])


def remove_noise_defects(df: DataFrame, max_distance=6.0, max_elevation=1.1, max_points=4) -> DataFrame:
    return _seg_detect(df, lambda pts: KF.remove_noise(pts, max_distance, max_elevation, max_points, False)[1])


def remove_first_noise_fix(df: DataFrame) -> DataFrame:
    return _seg_fix(df, lambda pts: K.remove_first_noise(pts, True)[0])


def remove_first_noise_defects(df: DataFrame) -> DataFrame:
    return _seg_detect(df, lambda pts: K.remove_first_noise(pts, False)[1])


def remove_stops_fix(df: DataFrame, min_seconds=90.0, max_distance=5.0,
                     max_elevation=0.5, min_points=3) -> DataFrame:
    return _seg_fix(df, lambda pts: KF.remove_stops(pts, min_seconds, max_distance, max_elevation, min_points, True)[0])


def remove_stops_defects(df: DataFrame, min_seconds=90.0, max_distance=5.0,
                         max_elevation=0.5, min_points=3) -> DataFrame:
    return _seg_detect(df, lambda pts: KF.remove_stops(pts, min_seconds, max_distance, max_elevation, min_points, False)[1])


def simplify_fix(df: DataFrame, distance: float = 0.5) -> DataFrame:
    """N4 (cmd/simplifypoints.go:22): RemoveStops(0, distance, +MaxFloat64, 0)."""
    return remove_stops_fix(df, 0.0, distance, math.inf, 0)


def remove_intersections_fix(df: DataFrame, max_n: int = 6) -> DataFrame:
    return _seg_fix(df, lambda pts: KF.remove_intersections(pts, max_n, True)[0])


def remove_intersections_defects(df: DataFrame, max_n: int = 6) -> DataFrame:
    return _seg_detect(df, lambda pts: KF.remove_intersections(pts, max_n, False)[1])


# ------------------------------------------------------ W7/W8/W9 smoothing ---

def smooth_gaussian(df: DataFrame, window_size: int = 1, sigma: float = 1.1) -> DataFrame:
    def run(pts):
        K.gaussian_filter_positions(pts, window_size, sigma)
        return pts

    return _seg_fix(df, run)


def max_speed_vertical_fix(df: DataFrame, maximum: float = 1.5) -> DataFrame:
    def run(pts):
        K.max_speed_vertical(pts, maximum, True)
        return pts

    return _seg_fix(df, run)


def max_speed_vertical_defects(df: DataFrame, maximum: float = 1.5) -> DataFrame:
    return _seg_detect(df, lambda pts: K.max_speed_vertical(pts, maximum, False))


# --------------------------------------------------------- W11/W12 elevation ---

def lost_elevation_fix(df: DataFrame) -> DataFrame:
    def run(pts):
        K.lost_elevation(pts, True)
        return pts

    return _seg_fix(df, run)


def lost_elevation_defects(df: DataFrame) -> DataFrame:
    return _seg_detect(df, lambda pts: K.lost_elevation(pts, False))


def round_elevation(df: DataFrame) -> DataFrame:
    """W12 — pure column op (Spark round() is HALF_UP like Go math.Round)."""
    return df.withColumn("ele", F.round(F.col("ele"), 2))


# ------------------------------------------------------------ N7 segments ---

def move_segments_fix(df: DataFrame, min_points: int = 14) -> DataFrame:
    """N7 joinsegments — per-track kernel; renumbers seg_no after merges."""

    def fn(key, pdf):
        segs: list[list[K.Pt]] = []
        for seg_no in sorted(pdf["seg_no"].unique()):
            segs.append(_to_pts(pdf[pdf["seg_no"] == seg_no]))
        segs, _ = K.move_segment(segs, min_points, True)
        frames = [
            _pts_frame((key[0], key[1], seg_no), pts, 3)
            for seg_no, pts in enumerate(segs)
        ]
        return pd.concat(frames) if frames else _pts_frame((key[0], key[1], 0), [], 3)

    return df.groupBy(*_TRK_KEY).applyInPandas(fn, POINTS_SCHEMA)


# ------------------------------------------- engine extras (kernels.extra) ---

def douglas_peucker_fix(df: DataFrame, epsilon_deg: float = 0.0001) -> DataFrame:
    """North-star extra: DP simplification per segment (NOT reference
    parity — the reference's simplifier is RemoveStops, see SURVEY.md §2.6
    N4). epsilon in local-plane degrees (~11 m per 1e-4 at the equator)."""
    import numpy as np

    from gotrackmaster_spark.kernels.extra import douglas_peucker_mask

    def run(pts):
        lat = np.array([p.lat for p in pts])
        lon = np.array([p.lon for p in pts])
        keep = douglas_peucker_mask(lat, lon, epsilon_deg)
        return [p for p, k in zip(pts, keep) if k]

    return _seg_fix(df, run)


def douglas_peucker_keep(df: DataFrame, epsilon_deg: float) -> DataFrame:
    """DP keep-mask as (seg key, pt_idx) rows with the ORIGINAL pt_idx
    (`douglas_peucker_fix` renumbers points on output via `_pts_frame`);
    used by index-pinned audits like the `dp_simplify` driver query."""
    from gotrackmaster_spark.kernels.extra import douglas_peucker_mask

    def fn(key, pdf):
        pdf = pdf.sort_values("pt_idx")
        keep = douglas_peucker_mask(
            pdf["lat"].to_numpy(), pdf["lon"].to_numpy(), epsilon_deg
        )
        out = pdf.loc[keep, ["pt_idx"]].copy()
        out.insert(0, "track_id", key[0])
        out.insert(1, "trk_no", key[1])
        out.insert(2, "seg_no", key[2])
        return out

    schema = "track_id string, trk_no int, seg_no int, pt_idx int"
    return df.groupBy(*_SEG_KEY).applyInPandas(fn, schema)


def hampel_fix(df: DataFrame, window: int = 5, n_sigmas: float = 3.0,
               column: str = "ele") -> DataFrame:
    """North-star extra: drop Hampel outliers of `column` per segment."""
    import numpy as np

    from gotrackmaster_spark.kernels.extra import hampel_mask

    def run(pts):
        vals = np.array([getattr(p, column) for p in pts])
        bad = hampel_mask(vals, window, n_sigmas)
        return [p for p, b in zip(pts, bad) if not b]

    return _seg_fix(df, run)


def zscore_fix(df: DataFrame, n_sigmas: float = 3.0, column: str = "ele") -> DataFrame:
    """North-star extra: drop global z-score outliers of `column` per segment."""
    import numpy as np

    from gotrackmaster_spark.kernels.extra import zscore_mask

    def run(pts):
        vals = np.array([getattr(p, column) for p in pts])
        bad = zscore_mask(vals, n_sigmas)
        return [p for p, b in zip(pts, bad) if not b]

    return _seg_fix(df, run)


# ------------------------------------------------------------ fused chains ---

def repair_pipeline(df: DataFrame, stages: list[Callable[[list], list]]) -> DataFrame:
    """Fuse a sequence of per-segment kernels into ONE applyInPandas pass:
    one shuffle on the segment key and one Arrow round-trip total, instead
    of one per stage.  Output is identical to chaining the per-stage
    operators (asserted in tests); this is how the classification
    pipeline's 7 stages run in the reference too — one in-memory tree,
    N passes (misc.go:141-155)."""

    def run(pts):
        for stage in stages:
            pts = stage(pts)
        return pts

    return _seg_fix(df, run)


def classification_repair_stages(max_speed_v: float = 200.0) -> list:
    """The §3.2 stages 2-6 as fusable kernels."""
    return [
        lambda pts: (K.fix_times_segment(pts), pts)[1],
        lambda pts: (KF.max_speed(pts, max_speed_v, True), pts)[1],
        lambda pts: KF.remove_stops(pts, 0.0, 1.2, K._GO_MAX_FLOAT64, 0, True)[0],
        lambda pts: KF.remove_stops(pts, 30.0, 9.0, 8, 12, True)[0],
        lambda pts: KF.remove_intersections(pts, 7, True)[0],
        lambda pts: KF.remove_intersections(pts, 7, True)[0],
        lambda pts: KF.remove_intersections(pts, 7, True)[0],
        lambda pts: KF.remove_intersections(pts, 7, True)[0],
    ]
