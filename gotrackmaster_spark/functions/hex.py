"""H3-style hexagonal cell index (engine extra; no reference counterpart).

The north rule names "H3/S2 tiles"; `functions.cells` + `functions.s2`
cover the square/S2 half — this module adds the hexagonal half: a
pointy-top hex lattice over the equirectangular (lat, lon) plane with
axial coordinates and H3's cube-rounding assignment, plus k-ring
neighborhoods (the hex analogue of `cells.k_ring_np`, usable for kNN
candidate generation the way H3's `kRing` is).

Like `cells`, implemented three ways with IDENTICAL float arithmetic so
the DuckDB oracle reproduces Spark bit-for-bit:

* axial coords:  q = (√3/3·lon − 1/3·lat) / s,  r = (2/3·lat) / s
  (s = hex size in degrees; constants are the SAME Python doubles in all
  three forms, and every op maps to one IEEE-754 double op in both
  engines, so the results are bit-equal);
* cube rounding uses ``floor(x + 0.5)`` — NOT the engines' ``round()``
  builtins, whose half-even/half-away conventions differ — and the
  largest-residual repair branch in a fixed comparison order;
* cell ID packs (res, q, r) into an int64:
  ``(res << 44) | ((q + 2^21) << 22) | (r + 2^21)`` — res in [0, 15],
  |q|,|r| < 2^21 (ample: at the minimum size 0.01° the axial range is
  ~4·10^4).  IDs stay < 2^53 (double-exact, like `cells`).

The grid is planar (no antimeridian wrap): hexes are assignment buckets
for grouping/joining, mirroring how the degree tiles (T1) behave at the
±180 seam.

``HexGrid`` is one resolution as ``operators.spatial``'s joins use it.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from gotrackmaster_spark.functions.cells import _M_PER_DEG, _R

_SQRT3_3 = math.sqrt(3.0) / 3.0  # √3/3
_THIRD = 1.0 / 3.0
_TWO_THIRDS = 2.0 / 3.0
_OFF = 1 << 21
_Q_SHIFT = 22
_RES_SHIFT = 44

#: resolution table: res -> hex size in degrees (halving per step, like
#: H3's ~2.6x area shrink per res; 16 steps span 20° .. 0.0003°).
SIZES = [20.0 / (2.0**i) for i in range(16)]


# ----------------------------------------------------------------- numpy ---

def _axial_np(lat, lon, size: float):
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    q = (_SQRT3_3 * lon - _THIRD * lat) / size
    r = (_TWO_THIRDS * lat) / size
    return q, r


def _cube_round_np(q, r):
    cx, cz = q, r
    cy = -cx - cz
    rx = np.floor(cx + 0.5)
    ry = np.floor(cy + 0.5)
    rz = np.floor(cz + 0.5)
    dx = np.abs(rx - cx)
    dy = np.abs(ry - cy)
    dz = np.abs(rz - cz)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(~fix_x & ~fix_y, -rx - ry, rz)
    return rx.astype(np.int64), rz.astype(np.int64)


def hex_np(lat, lon, res: int) -> np.ndarray:
    """lat/lon arrays -> int64 hex cell IDs at resolution ``res``."""
    q, r = _cube_round_np(*_axial_np(lat, lon, SIZES[res]))
    return hex_from_qr_np(q, r, res)


def hex_from_qr_np(q, r, res: int) -> np.ndarray:
    """(q, r) axial arrays -> packed int64 hex IDs at resolution ``res``."""
    q = np.asarray(q, dtype=np.int64)
    r = np.asarray(r, dtype=np.int64)
    return (
        (np.int64(res) << _RES_SHIFT) | ((q + _OFF) << _Q_SHIFT) | (r + _OFF)
    )


def hex_to_qr_np(cell) -> tuple[np.ndarray, np.ndarray, int]:
    """hex IDs -> (q, r, res). Assumes uniform res."""
    cell = np.asarray(cell, dtype=np.int64)
    res = int(cell.flat[0] >> _RES_SHIFT)
    q = ((cell >> _Q_SHIFT) & (_OFF * 2 - 1)) - _OFF
    r = (cell & (_OFF * 2 - 1)) - _OFF
    return q, r, res


def hex_center_np(cell) -> tuple[np.ndarray, np.ndarray]:
    """hex IDs -> (lat, lon) of the cell center (axial -> plane inverse)."""
    q, r, res = hex_to_qr_np(cell)
    s = SIZES[res]
    lat = 1.5 * r * s
    lon = math.sqrt(3.0) * (q + r / 2.0) * s
    return lat, lon


def hex_kring_np(cell, k: int) -> np.ndarray:
    """All hexes within hex-grid distance k: 1 + 3k(k+1) cells per input,
    shape (len(cell), 3k²+3k+1).  Hex distance dq in [-k,k], dr in
    [max(-k,-dq-k), min(k,-dq+k)] — the standard axial-range enumeration."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    q, r, res = hex_to_qr_np(cell)
    offs = [
        (dq, dr)
        for dq in range(-k, k + 1)
        for dr in range(max(-k, -dq - k), min(k, -dq + k) + 1)
    ]
    dq = np.array([o[0] for o in offs], dtype=np.int64)
    dr = np.array([o[1] for o in offs], dtype=np.int64)
    qq = q[:, None] + dq[None, :]
    rr = r[:, None] + dr[None, :]
    return hex_from_qr_np(qq, rr, res)


def hex_distance_np(a, b) -> np.ndarray:
    """Hex-grid (cube) distance between two ID arrays at the same res."""
    qa, ra, _ = hex_to_qr_np(a)
    qb, rb, _ = hex_to_qr_np(b)
    dq, dr = qa - qb, ra - rb
    return (np.abs(dq) + np.abs(dr) + np.abs(-dq - dr)) // 2


class HexGrid:
    """The hex lattice at resolution ``res`` for the cell-bucketed joins;
    the twin of ``functions.cells.ZGrid``."""

    def __init__(self, res: int):
        self.res = res
        self.size = SIZES[res]

    def cell_col(self, lat: Column, lon: Column) -> Column:
        return hex_col(lat, lon, self.res)

    def cell_np(self, lat, lon) -> np.ndarray:
        return hex_np(lat, lon, self.res)

    k_ring_np = staticmethod(hex_kring_np)

    def bbox_cells(self, lat_min: float, lat_max: float, lon_min: float, lon_max: float):
        """H3-style polyfill of a lat/lon bbox, shaped as `ZGrid.bbox_cells`:
        the hexes whose own bbox (pointy-top: center ± (√3/2·s, s)) overlaps
        it, probed at the center and 6 corners.  Cube-rounding assignment
        (`hex_np`) is the Voronoi of the lattice, so any hex holding a point
        of the bbox qualifies."""
        s = self.size
        rt3 = math.sqrt(3.0)
        half_w = rt3 / 2.0 * s  # hex bbox half-width; half-height is s
        r0 = int(math.floor((lat_min - s) / (1.5 * s)))
        r1 = int(math.ceil((lat_max + s) / (1.5 * s)))

        def q_of(lon, r):
            return lon / (rt3 * s) - r / 2.0

        q0 = int(math.floor(min(q_of(lon_min - s, r0), q_of(lon_min - s, r1))))
        q1 = int(math.ceil(max(q_of(lon_max + s, r0), q_of(lon_max + s, r1))))
        qq, rr = np.meshgrid(np.arange(q0, q1 + 1), np.arange(r0, r1 + 1), indexing="ij")
        qq, rr = qq.ravel(), rr.ravel()
        cy = 1.5 * rr * s
        cx = rt3 * (qq + rr / 2.0) * s
        keep = (
            (cx - half_w <= lon_max) & (cx + half_w >= lon_min)
            & (cy - s <= lat_max) & (cy + s >= lat_min)
        )
        qq, rr, cx, cy = qq[keep], rr[keep], cx[keep], cy[keep]
        probes = [
            (cy, cx),
            (cy + s, cx), (cy - s, cx),
            (cy + s / 2.0, cx + half_w), (cy - s / 2.0, cx + half_w),
            (cy + s / 2.0, cx - half_w), (cy - s / 2.0, cx - half_w),
        ]
        box = (cy - s, cy + s, cx - half_w, cx + half_w)
        return hex_from_qr_np(qq, rr, self.res), box, probes

    def guarantee(self, abs_lat_deg: np.ndarray, r: int) -> np.ndarray:
        """EXACT lower bound on the distance from a query at |lat| to any
        point outside its hex k-ring, on the planar lattice: the hexes at
        grid distance ≤ r form a large hexagon of inradius ≥ (3/2)·s·r
        (center spacing 2a = √3·s, big-hex inradius r·√3·a), so a point in
        a hex at grid distance > r lies at plane (degree-space) distance
        ≥ ρ = s·(1.5·(r+1) − 2) from every point of the query hex.  The
        offset's larger component is ≥ ρ/√2, giving
        ``min(ρ/√2·M_PER_DEG, 2R·asin(cos φw · sin(ρ/√2 / 2)))`` with
        φw = min(90°, |lat| + ρ/√2) — the case split of `ZGrid.guarantee`."""
        rho = self.size * (1.5 * (r + 1.0) - 2.0)  # plane lower bound, degrees
        if rho <= 0.0:
            return np.zeros_like(abs_lat_deg)
        comp = rho / math.sqrt(2.0)
        d_lat = comp * _M_PER_DEG
        worst = np.minimum(90.0, abs_lat_deg + comp)
        half = min(math.radians(comp) / 2.0, math.pi / 2.0)
        d_lon = 2.0 * _R * np.arcsin(np.cos(np.radians(worst)) * math.sin(half))
        return np.minimum(d_lat, d_lon)

    def clamp(self, g: np.ndarray, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
        """The lattice does not wrap at ±180°: points just across the seam
        are spherically close but in plane-distant hexes.  Clamp the
        guarantee by the spherical distance to the seam meridian,
        ``R·asin(cos φ · sin(min(g, 90°)))`` with g = 180° − |lon|
        (cross-track distance; any cross-seam point has lon separation
        ≥ g), so seam-adjacent kNN queries fall back to brute force."""
        g_seam = np.radians(np.minimum(180.0 - np.abs(lon), 90.0))
        return np.minimum(
            g, _R * np.arcsin(np.cos(np.radians(np.abs(lat))) * np.sin(g_seam))
        )


# ---------------------------------------------------------------- Column ---

def hex_col(lat: Column, lon: Column, res: int) -> Column:
    """JVM-side hex ID — pure Column math, whole-stage-codegen friendly.
    Same double ops in the same order as `hex_np` / `hex_sql`."""
    size = SIZES[res]
    cx = (F.lit(_SQRT3_3) * lon - F.lit(_THIRD) * lat) / F.lit(size)
    cz = (F.lit(_TWO_THIRDS) * lat) / F.lit(size)
    cy = -cx - cz
    rx = F.floor(cx + F.lit(0.5)).cast("double")
    ry = F.floor(cy + F.lit(0.5)).cast("double")
    rz = F.floor(cz + F.lit(0.5)).cast("double")
    dx = F.abs(rx - cx)
    dy = F.abs(ry - cy)
    dz = F.abs(rz - cz)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = (~fix_x) & (dy > dz)
    # numpy repairs rx, then ry, then rz reading the repaired values — but
    # the fix branches are mutually exclusive, so on the rows each later
    # branch touches the earlier repairs are identity: originals suffice.
    q = F.when(fix_x, -ry - rz).otherwise(rx).cast("long")
    r = F.when((~fix_x) & (~fix_y), -rx - ry).otherwise(rz).cast("long")
    marker = F.lit(res << _RES_SHIFT).cast("long")
    return marker.bitwiseOR(F.shiftleft(q + _OFF, _Q_SHIFT)).bitwiseOR(r + _OFF)


# ------------------------------------------------------------------- SQL ---

def hex_sql(lat: str, lon: str, res: int) -> str:
    """The identical hex ID as a DuckDB SQL expression (macro-free single
    expression; the engine CSEs the repeated subexpressions)."""
    size = SIZES[res]
    cx = f"(({_SQRT3_3!r} * ({lon}) - {_THIRD!r} * ({lat})) / {size!r})"
    cz = f"(({_TWO_THIRDS!r} * ({lat})) / {size!r})"
    cy = f"(-{cx} - {cz})"
    rx = f"floor({cx} + 0.5)"
    ry = f"floor({cy} + 0.5)"
    rz = f"floor({cz} + 0.5)"
    dx = f"abs({rx} - {cx})"
    dy = f"abs({ry} - {cy})"
    dz = f"abs({rz} - {cz})"
    fix_x = f"({dx} > {dy} AND {dx} > {dz})"
    fix_y = f"(NOT {fix_x} AND {dy} > {dz})"
    q = f"(CASE WHEN {fix_x} THEN -{ry} - {rz} ELSE {rx} END)"
    r = (
        f"(CASE WHEN NOT {fix_x} AND NOT {fix_y} THEN -{rx} - {ry} "
        f"ELSE {rz} END)"
    )
    return (
        f"({res << _RES_SHIFT} | ((CAST({q} AS BIGINT) + {_OFF}) << {_Q_SHIFT})"
        f" | (CAST({r} AS BIGINT) + {_OFF}))"
    )
