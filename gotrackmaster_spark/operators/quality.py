"""DataFrame-level quality + classification operators (A2-A6, P1/P2, W14).

One ``groupBy(track_id).applyInPandas`` pass computes the full per-track
profile — all quality scores, the classification pipeline, and the summary
fields the duplicate join consumes (start/end position + time).  At 100 TB
this is one shuffle on track_id; every downstream consumer (duplicate
detection, import partitioning) joins the small profile table broadcast.

DEM access is an injected pure function; ``synthetic_dem_lookup`` mirrors
the engine's E4 bilinear corner formula exactly (same float op order as the
Column/SQL versions in driver_queries), replacing the reference's godem
network source (elevation.go:126-137) — documented deviation.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame

from gotrackmaster_spark.kernels import quality as KQ
from gotrackmaster_spark.kernels import track as K
from gotrackmaster_spark.schemas import GO_ZERO_NS

_NOW_NS = 1767225600 * 1_000_000_000  # fixed `now` param: 2026-01-01 UTC


def _dem_corner(la: int, lo: int) -> float:
    return float((((la + 90) * 361 + (lo + 180)) * 2654435761) % 40000) / 10.0


def synthetic_dem_lookup(lat: float, lon: float) -> float:
    """Bilinear sample of the deterministic corner grid (E4 twin)."""
    la = int(math.floor(lat))
    lo = int(math.floor(lon))
    fy = lat - la
    fx = lon - lo
    return (
        _dem_corner(la, lo) * (1 - fy) * (1 - fx)
        + _dem_corner(la, lo + 1) * (1 - fy) * fx
        + _dem_corner(la + 1, lo) * fy * (1 - fx)
        + _dem_corner(la + 1, lo + 1) * fy * fx
    )


def _to_segments(pdf: pd.DataFrame) -> list[list[K.Pt]]:
    pdf = pdf.sort_values(["trk_no", "seg_no", "pt_idx"])
    segments: list[list[K.Pt]] = []
    for (_trk, _seg), g in pdf.groupby(["trk_no", "seg_no"], sort=True):
        segments.append(
            [
                K.Pt(float(la), float(lo), float(el), int(t))
                for la, lo, el, t in zip(g["lat"], g["lon"], g["ele"], g["ts_ns"])
            ]
        )
    return segments


PROFILE_SCHEMA = (
    "track_id string, time_quality int, distance_quality double, "
    "srtm_accuracy int, quality double, classification string, "
    "start_lat double, start_lon double, end_lat double, end_lon double, "
    "start_ts_ns long, end_ts_ns long, n_points long"
)


def track_profiles(
    df: DataFrame, now_ns: int = _NOW_NS, use_dem: bool = True
) -> DataFrame:
    """Per-track profile: quality scores + classification + J1 summary."""
    lookup = synthetic_dem_lookup if use_dem else None

    def fn(key, pdf):
        base = _to_segments(pdf)

        def cp():
            # kernels mutate Pt objects in place (Go-parity aliasing, e.g.
            # RemoveStops' zero-ele backfill) — every score runs on a fresh
            # copy, exactly like the reference's per-command re-parse
            return [[p.copy() for p in s] for s in base]

        segs = base
        tq = KQ.time_quality_track(cp(), now_ns)
        dq = KQ.distance_quality_track(cp())
        acc, _ok = KQ.elevation_srtm_accuracy(cp(), lookup)
        q = KQ.quality_track(cp(), now_ns, lookup)
        label, _fixed = KQ.classification_track(cp(), lookup)
        sp = KQ.get_position_start(segs)
        ep = KQ.get_position_end(segs)
        return pd.DataFrame(
            {
                "track_id": [key[0]],
                "time_quality": [tq],
                "distance_quality": [dq],
                "srtm_accuracy": [acc],
                "quality": [q],
                "classification": [label],
                "start_lat": [sp.lat if sp else 0.0],
                "start_lon": [sp.lon if sp else 0.0],
                "end_lat": [ep.lat if ep else 0.0],
                "end_lon": [ep.lon if ep else 0.0],
                "start_ts_ns": [KQ.get_time_start(segs, now_ns)],
                "end_ts_ns": [KQ.get_time_end(segs, now_ns)],
                "n_points": [sum(len(s) for s in segs)],
            }
        )

    return df.groupBy("track_id").applyInPandas(fn, PROFILE_SCHEMA)


def duplicate_candidates(
    profiles: DataFrame,
    start_diff: int = 0,
    end_diff: int = 0,
    start_distance: int = 0,
    end_distance: int = 0,
    time_comparator: bool = False,
    distance_comparator: bool = False,
    level: int = 6,
    ring: int = 2,
) -> DataFrame:
    """J1 over track profiles with the reference's FULL rule set — thin
    wrapper over ``spatial.duplicate_pairs_full`` (cmd/duplicate.go:49-64
    flags, :84-206 loop semantics).  If ``profiles`` carries ``creator``
    and ``quality`` columns, the output's ``delete_ok`` flag marks pairs
    the reference's ``--delete`` would remove (equal creator + quality,
    duplicate.go:66-78)."""
    from gotrackmaster_spark.operators.spatial import duplicate_pairs_full

    return duplicate_pairs_full(
        profiles,
        start_diff=start_diff,
        end_diff=end_diff,
        start_distance=start_distance,
        end_distance=end_distance,
        time_comparator=time_comparator,
        distance_comparator=distance_comparator,
        level=level,
        ring=ring,
    )
