"""Seeded inputs and reference outputs for the benchmark workloads.

Run as its own process
(``python3 perfbench/gen.py <workload> <seed> <out dir> <checkout root>``) so
that input generation and the reference computations never share memory,
threads or timing with the measured Spark process.  Everything is derived
from ``numpy.random.default_rng`` on the seed; the same seed writes the same
bytes.  ``<out dir>/ref.json`` is written last: a directory without it is
incomplete and is regenerated.

Inputs per workload:

* ``gpx_repair``: a GPX 1.1 corpus (several ``trk``/``trkseg`` per file, one
  defect family per knob: speed spikes, stops, zig-zag noise,
  self-intersecting loops, missing or out-of-order timestamps, zero
  elevation, plus a few waypoints per file).
* ``track_catalog``: a GPX corpus, an upsert batch (half re-elevated existing
  tracks, half new tracks) and a layer of star-shaped polygons over the
  corpus region.

Reference outputs come from code paths independent of Spark: the repair and
profile kernels called in-process, and a NumPy ray-cast.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np

GEN_VERSION = 7

# --------------------------------------------------------------- sizes ---
# Each workload's operation is sized to take a few seconds on a 4-core host,
# so a run can hold a warm-up and several measured operations.
GPX_REPAIR = {"files": 6, "points": 800, "segments": 2}
CATALOG = {"files": 12, "points": 800, "segments": 2, "upsert_files": 8}

CREATOR = "perfbench-gen"
# Corpus region: tracks start inside this box, which spans several 1° tiles.
REGION = (41.6, 43.4, 0.6, 3.4)  # lat0, lat1, lon0, lon1
M_PER_DEG = 111_195.0
T0_MS = 1_672_531_200_000  # 2023-01-01T00:00:00Z


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng([seed, int.from_bytes(salt.encode()[:8], "little")])


# ------------------------------------------------------------ GPX text ---

def _segment(rng: np.random.Generator, n: int, lat0: float, lon0: float, t0_ms: int):
    """One random-walk segment of ``n`` points with injected defects.
    Returns formatted (lat, lon, ele, time|None) strings."""
    dt_ms = rng.integers(2_000, 6_000, n).astype(np.int64)
    dt_ms[rng.random(n) < 0.05] += 500  # fractional seconds
    heading = np.cumsum(rng.normal(0.0, 0.25, n))
    step_m = rng.uniform(1.0, 2.5, n) * dt_ms / 1000.0
    # self-intersections: a tight loop swings the heading through 2*pi
    if rng.random() < 0.7:
        s = int(rng.integers(10, n - 40))
        heading[s:] += np.concatenate([np.linspace(0, 2 * np.pi, 30), np.full(n - s - 30, 2 * np.pi)])
    # stops: a run of near-zero steps lasting well over 90 s
    if rng.random() < 0.7:
        s = int(rng.integers(0, n - 60))
        step_m[s:s + 40] = rng.uniform(0.0, 0.3, 40)
    dn = step_m * np.cos(heading)
    de = step_m * np.sin(heading)
    lat = lat0 + np.cumsum(dn) / M_PER_DEG
    lon = lon0 + np.cumsum(de) / (M_PER_DEG * np.cos(np.radians(lat0)))
    # zig-zag noise: alternating lateral offsets over a window
    if rng.random() < 0.6:
        s = int(rng.integers(0, n - 50))
        lon[s:s + 50] += np.where(np.arange(50) % 2 == 0, 4.0, -4.0) / M_PER_DEG
    # speed spikes: single points thrown ~1-3 km away
    k = int(rng.integers(0, 4))
    idx = rng.integers(1, n - 1, k)
    lat[idx] += rng.choice([-1.0, 1.0], k) * rng.uniform(0.01, 0.03, k)
    lon[idx] += rng.choice([-1.0, 1.0], k) * rng.uniform(0.01, 0.03, k)
    ele = 600.0 + np.cumsum(rng.normal(0.0, 0.6, n))
    # zero elevation: a window of lost readings
    if rng.random() < 0.5:
        s = int(rng.integers(0, n - 30))
        ele[s:s + 30] = 0.0
    t_ms = t0_ms + np.cumsum(dt_ms)
    times = [s + "Z" for s in np.datetime_as_string(t_ms.astype("datetime64[ms]"), unit="ms")]
    # bad timestamps: missing times and an out-of-order pair
    if rng.random() < 0.6:
        for i in rng.integers(0, n, int(rng.integers(1, 6))):
            times[int(i)] = None
    if rng.random() < 0.4:
        i = int(rng.integers(0, n - 1))
        times[i], times[i + 1] = times[i + 1], times[i]
    return (
        [f"{v:.7f}" for v in lat],
        [f"{v:.7f}" for v in lon],
        [f"{v:.1f}" for v in ele],
        times,
    )


def _track_file(rng: np.random.Generator, n_points: int, n_segments: int):
    """Segments of one GPX file, grouped into 1 or 2 ``trk`` elements."""
    lat0 = rng.uniform(REGION[0], REGION[1])
    lon0 = rng.uniform(REGION[2], REGION[3])
    t0 = T0_MS + int(rng.integers(0, 3 * 365 * 86_400_000))
    sizes = np.full(n_segments, n_points // n_segments)
    sizes[0] += n_points - sizes.sum()
    segs = []
    for n in sizes:
        segs.append(_segment(rng, int(n), lat0, lon0, t0))
        lat0, lon0 = float(segs[-1][0][-1]), float(segs[-1][1][-1])
        t0 += 3_600_000
    n_trk = 2 if (n_segments > 1 and rng.random() < 0.5) else 1
    tracks = [segs[:1], segs[1:]] if n_trk == 2 else [segs]
    wpts = [
        (f"{rng.uniform(REGION[0], REGION[1]):.6f}", f"{rng.uniform(REGION[2], REGION[3]):.6f}",
         f"{rng.uniform(200, 2500):.1f}", f"wp{w}")
        for w in range(int(rng.integers(0, 3)))
    ]
    return tracks, wpts


def _gpx_text(tracks, wpts) -> str:
    out = ['<?xml version="1.0" encoding="UTF-8"?>',
           f'<gpx version="1.1" creator="{CREATOR}" xmlns="http://www.topografix.com/GPX/1/1">']
    for la, lo, el, name in wpts:
        out.append(f'  <wpt lat="{la}" lon="{lo}"><ele>{el}</ele><name>{name}</name></wpt>')
    for segs in tracks:
        out.append("  <trk>")
        for lat, lon, ele, times in segs:
            out.append("    <trkseg>")
            for a, b, e, t in zip(lat, lon, ele, times):
                tt = f"<time>{t}</time>" if t else ""
                out.append(f'      <trkpt lat="{a}" lon="{b}"><ele>{e}</ele>{tt}</trkpt>')
            out.append("    </trkseg>")
        out.append("  </trk>")
    out.append("</gpx>")
    return "\n".join(out) + "\n"


def _write_corpus(rng, d: str, n_files: int, n_points: int, n_segments: int, prefix="t"):
    os.makedirs(d, exist_ok=True)
    files = {}
    for f in range(n_files):
        tracks, wpts = _track_file(rng, n_points, n_segments)
        name = f"{prefix}{f:04d}.gpx"
        with open(os.path.join(d, name), "w") as fh:
            fh.write(_gpx_text(tracks, wpts))
        files[name] = (tracks, wpts)
    return files


def _parse_ns(t: str | None) -> int:
    from gotrackmaster_spark.schemas import GO_ZERO_NS

    if t is None:
        return GO_ZERO_NS
    return int(np.datetime64(t[:-1], "ms").astype(np.int64)) * 1_000_000


def _segments(tracks):
    """[(trk_no, seg_no, [Pt])] of one file, from the text it was written
    with, so the values are exactly what a GPX parser reads back."""
    from gotrackmaster_spark.kernels import track as K

    return [
        (trk_no, seg_no, [K.Pt(float(a), float(b), float(e), _parse_ns(t))
                          for a, b, e, t in zip(*seg)])
        for trk_no, segs in enumerate(tracks)
        for seg_no, seg in enumerate(segs)
    ]


def digest(items) -> str:
    """Order-insensitive digest of an iterable of strings."""
    h = hashlib.sha256()
    for s in sorted(items):
        h.update(s.encode())
        h.update(b"\n")
    return h.hexdigest()


# -------------------------------------------------------- gpx_repair ---

def profile_row(track_id: str, segments) -> str:
    """One ``track_profiles`` row computed in-process from the quality
    kernels, in the canonical text form the benchmark compares."""
    from gotrackmaster_spark.kernels import quality as KQ
    from gotrackmaster_spark.operators.quality import _NOW_NS, synthetic_dem_lookup

    def cp():
        return [[p.copy() for p in s] for s in segments]

    sp = KQ.get_position_start(segments)
    ep = KQ.get_position_end(segments)
    row = (
        track_id,
        KQ.time_quality_track(cp(), _NOW_NS),
        KQ.distance_quality_track(cp()),
        KQ.elevation_srtm_accuracy(cp(), synthetic_dem_lookup)[0],
        KQ.quality_track(cp(), _NOW_NS, synthetic_dem_lookup),
        KQ.classification_track(cp(), synthetic_dem_lookup)[0],
        sp.lat if sp else 0.0, sp.lon if sp else 0.0,
        ep.lat if ep else 0.0, ep.lon if ep else 0.0,
        KQ.get_time_start(segments, _NOW_NS), KQ.get_time_end(segments, _NOW_NS),
        sum(len(s) for s in segments),
    )
    return repr(row)


def repair_direct(files):
    """The classification repair stages run in-process on every segment:
    {name: [(trk_no, seg_no, [Pt])]}."""
    from gotrackmaster_spark.operators.repair import classification_repair_stages

    stages = classification_repair_stages()
    out = {}
    for name, (tracks, _w) in files.items():
        out[name] = []
        for trk_no, seg_no, pts in _segments(tracks):
            for stage in stages:
                pts = stage(pts)
            out[name].append((trk_no, seg_no, pts))
    return out


def expected_gpx_files(files, repaired) -> dict[str, str]:
    """{file name: sha256} of what ``write_gpx_files`` must write."""
    from types import SimpleNamespace as NS

    from gotrackmaster_spark.sources.gpx import parse_time_ns, points_to_gpx_xml

    out = {}
    for name, (_tracks, wpts) in files.items():
        rows = [NS(trk_no=t, seg_no=s, pt_idx=i, lat=p.lat, lon=p.lon, ele=p.ele, ts_ns=p.t)
                for t, s, pts in repaired[name] for i, p in enumerate(pts)]
        wl = [NS(wpt_idx=i, lat=float(a), lon=float(b), ele=float(e),
                 ts_ns=parse_time_ns(None), name=nm, link_href=None)
              for i, (a, b, e, nm) in enumerate(wpts)]
        text = points_to_gpx_xml(rows, CREATOR, waypoints=wl)
        out[f"{name}.gpx"] = hashlib.sha256(text.encode()).hexdigest()
    return out


def gen_gpx_repair(seed: int, d: str) -> dict:
    c = GPX_REPAIR
    files = _write_corpus(_rng(seed, "gpxrep"), os.path.join(d, "gpx"),
                          c["files"], c["points"], c["segments"])
    profiles = [profile_row(name, [pts for _t, _s, pts in _segments(tracks)])
                for name, (tracks, _w) in files.items()]
    return {
        "points": sum(len(pts) for t, _w in files.values() for _t, _s, pts in _segments(t)),
        "files": expected_gpx_files(files, repair_direct(files)),
        "profiles": digest(profiles),
        "bytes_in": sum(os.path.getsize(os.path.join(d, "gpx", f)) for f in files),
    }


# ----------------------------------------------------- track_catalog ---

def ray_cast(lat, lon, ring) -> np.ndarray:
    """Even-odd ray cast toward +lon with the half-open edge rule."""
    inside = np.zeros(len(lat), dtype=bool)
    j = len(ring) - 1
    for i in range(len(ring)):
        yi, xi = ring[i]
        yj, xj = ring[j]
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            x = (xj - xi) * (lat - yi) / (yj - yi) + xi
        inside ^= ((yi > lat) != (yj > lat)) & (lon < x)
        j = i
    return inside


def _star_polygons(rng, centres_lat, centres_lon):
    """Star-shaped polygons (vertices sorted by angle around a centre):
    (poly_id, [(lat, lon)])."""
    out = []
    for i, (clat, clon) in enumerate(zip(centres_lat, centres_lon)):
        m = int(rng.integers(6, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        r = rng.uniform(0.05, 0.35, m)
        out.append((f"g{i:02d}", [(float(clat + a * np.sin(t)), float(clon + a * np.cos(t)))
                                  for a, t in zip(r, ang)]))
    return out


def gen_track_catalog(seed: int, d: str) -> dict:
    from gotrackmaster_spark.functions.cells import cell_np

    c = CATALOG
    rng = _rng(seed, "catalog")
    files = _write_corpus(rng, os.path.join(d, "gpx"), c["files"], c["points"], c["segments"])
    # upsert batch: re-elevated copies of existing tracks (same keys and
    # positions) plus new tracks
    up = os.path.join(d, "upsert")
    os.makedirs(up)
    half = c["upsert_files"] // 2
    upd = sorted(rng.choice(sorted(files), half, replace=False).tolist())
    for name in upd:
        tracks, wpts = files[name]
        bumped = [[(la, lo, [f"{float(e) + 7.5:.1f}" for e in el], ti) for la, lo, el, ti in segs]
                  for segs in tracks]
        with open(os.path.join(up, name), "w") as fh:
            fh.write(_gpx_text(bumped, wpts))
    new = _write_corpus(rng, up, half, c["points"], c["segments"], prefix="n")
    base = [p for t, _w in files.values() for _t, _s, pts in _segments(t) for p in pts]
    allpts = base + [p for t, _w in new.values() for _t, _s, pts in _segments(t) for p in pts]
    lat = np.array([p.lat for p in allpts])
    lon = np.array([p.lon for p in allpts])
    cells = cell_np(lat, lon, 12)
    # the pruned read keeps about half of the points
    lo, hi = (int(v) for v in np.quantile(cells, [0.2, 0.7]).astype(np.int64))
    sel = (cells >= lo) & (cells <= hi)
    # centred on track points, so every polygon holds some of the corpus
    centres = rng.choice(np.flatnonzero(sel), 8, replace=False)
    polys = _star_polygons(rng, lat[centres], lon[centres])
    hits = int(sum(ray_cast(lat[sel], lon[sel], ring).sum() for _p, ring in polys))
    return {
        "rows_commit": len(base),
        "rows_merge": len(allpts),
        "points": len(allpts),
        "cell_range": [lo, hi],
        "pip_hits": hits,
        "polygons": polys,
    }


GENERATORS = {
    "gpx_repair": gen_gpx_repair,
    "track_catalog": gen_track_catalog,
}


def main() -> None:
    workload, seed, d, repo = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    sys.path.insert(0, repo)
    t0 = time.perf_counter()
    ref = GENERATORS[workload](seed, d)
    ref["gen_s"] = time.perf_counter() - t0
    ref["gen_version"] = GEN_VERSION
    tmp = os.path.join(d, "ref.json.tmp")
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.rename(tmp, os.path.join(d, "ref.json"))


if __name__ == "__main__":
    main()
