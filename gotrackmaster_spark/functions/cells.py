"""E1 — hierarchical cell index (S2-style, no reference counterpart).

A Z-order (Morton) quadtree over equirectangular (lat, lon):

* level L in [0, 26]; the grid is 2^L x 2^L over lon in [-180, 180),
  lat in [-90, 90].
* ``cell = (1 << 2L) | interleave(i_lon, j_lat)`` — the marker bit encodes
  the level (like S2's trailing-bit trick), so ``parent = cell >> 2`` and
  cell IDs at coarser levels are prefixes: range-partitioning by cell ID
  range-partitions space hierarchically.
* max level 26 keeps IDs < 2^53 (exact in doubles, friendly everywhere).

Implemented three ways with IDENTICAL arithmetic (so the DuckDB oracle can
reproduce Spark bit-for-bit): numpy (kernels), pyspark Column (JVM fast
path), and a SQL-string generator.  The Morton spread is the classic 5-step
mask-shift; quantization is ``floor((lon+180)/360 * 2^L)`` clamped.

Neighbor/k-ring math (for kNN, E3) is numpy-only: decode -> (i, j) ->
Chebyshev ring with lon wraparound and lat clamping -> re-encode.

``ZGrid`` is one level as ``operators.spatial``'s joins use it.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LEVEL = 26

_MASKS = [
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
]


# ----------------------------------------------------------------- numpy ---

def _spread_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64)
    for shift, mask in _MASKS:
        x = (x | (x << shift)) & mask
    return x


def _compact_np(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.int64) & 0x5555555555555555
    for shift, mask in reversed(_MASKS):
        x = (x | (x >> shift)) & _next_mask(mask)
    return x


def _next_mask(mask: int) -> int:
    # inverse ladder for compact: after un-shifting by s, bits group into 2s runs
    if mask == 0x5555555555555555:
        return 0x3333333333333333
    if mask == 0x3333333333333333:
        return 0x0F0F0F0F0F0F0F0F
    if mask == 0x0F0F0F0F0F0F0F0F:
        return 0x00FF00FF00FF00FF
    if mask == 0x00FF00FF00FF00FF:
        return 0x0000FFFF0000FFFF
    return 0x00000000FFFFFFFF


def quantize_np(lat, lon, level: int):
    n = float(1 << level)
    i = np.floor((lon + 180.0) / 360.0 * n)
    j = np.floor((lat + 90.0) / 180.0 * n)
    i = np.clip(i, 0, n - 1).astype(np.int64)
    j = np.clip(j, 0, n - 1).astype(np.int64)
    return i, j

def cell_from_ij_np(i: np.ndarray, j: np.ndarray, level: int) -> np.ndarray:
    marker = np.int64(1) << np.int64(2 * level)
    return marker | _spread_np(i) | (_spread_np(j) << 1)


def cell_np(lat, lon, level: int) -> np.ndarray:
    """lat/lon arrays -> int64 cell IDs at `level`."""
    i, j = quantize_np(np.asarray(lat, dtype=np.float64), np.asarray(lon, dtype=np.float64), level)
    return cell_from_ij_np(i, j, level)


def cell_to_ij_np(cell: np.ndarray):
    """cell IDs -> (i, j, level). Vectorized; assumes uniform level."""
    cell = np.asarray(cell, dtype=np.int64)
    level = cell_level(int(cell.flat[0]))
    marker = np.int64(1) << np.int64(2 * level)
    body = cell & (marker - 1)
    return _compact_np(body), _compact_np(body >> 1), level


def cell_level(cell: int) -> int:
    return (int(cell).bit_length() - 1) // 2


def cell_parent(cell, steps: int = 1):
    """Parent `steps` levels up — works on ints, numpy arrays, or Columns."""
    if isinstance(cell, Column):
        return F.shiftright(cell, 2 * steps)
    return cell >> (2 * steps)


def k_ring_np(cell: np.ndarray, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k (the (2k+1)^2 block), with lon
    wraparound and lat clamping.  Returns shape (len(cell), <= (2k+1)^2);
    out-of-range latitudes are repeated onto the clamped row (duplicates are
    fine for join candidate generation).
    """
    i, j, level = cell_to_ij_np(cell)
    n = np.int64(1 << level)
    offs = np.arange(-k, k + 1, dtype=np.int64)
    di, dj = np.meshgrid(offs, offs, indexing="ij")
    ii = (i[:, None] + di.ravel()[None, :]) % n
    jj = np.clip(j[:, None] + dj.ravel()[None, :], 0, n - 1)
    marker = np.int64(1) << np.int64(2 * level)
    return marker | _spread_np(ii) | (_spread_np(jj) << 1)


_R = 6371000.0
_M_PER_DEG = math.pi * _R / 180.0  # meridian meters/degree on the R=6371km sphere


class ZGrid:
    """The Z-order lattice at one ``level`` for the cell-bucketed joins:
    cell ids, k-rings, a bbox's candidate cells, the kNN ring guarantee."""

    def __init__(self, level: int):
        self.level = level

    def cell_col(self, lat: Column, lon: Column) -> Column:
        return cell_col(lat, lon, self.level)

    def cell_np(self, lat, lon) -> np.ndarray:
        return cell_np(lat, lon, self.level)

    k_ring_np = staticmethod(k_ring_np)

    def bbox_cells(self, lat_min: float, lat_max: float, lon_min: float, lon_max: float):
        """The cells meeting a lat/lon bbox: ``(cells, (lat_lo, lat_hi,
        lon_lo, lon_hi), probes)`` — each cell's bounds, and its 4 corners,
        which must all be inside a polygon for the cell to be full."""
        n = 1 << self.level
        i, j = quantize_np(np.array([lat_min, lat_max]), np.array([lon_min, lon_max]), self.level)
        ii, jj = np.meshgrid(np.arange(i[0], i[1] + 1), np.arange(j[0], j[1] + 1), indexing="ij")
        ii, jj = ii.ravel(), jj.ravel()
        lon_lo = -180.0 + 360.0 * ii / n
        lon_hi = -180.0 + 360.0 * (ii + 1) / n
        lat_lo = -90.0 + 180.0 * jj / n
        lat_hi = -90.0 + 180.0 * (jj + 1) / n
        probes = [(lat_lo, lon_lo), (lat_lo, lon_hi), (lat_hi, lon_lo), (lat_hi, lon_hi)]
        return cell_from_ij_np(ii, jj, self.level), (lat_lo, lat_hi, lon_lo, lon_hi), probes

    def guarantee(self, abs_lat_deg: np.ndarray, r: int) -> np.ndarray:
        """EXACT lower bound on the distance from a query at |lat| to any
        point outside its (2r+1)² block: points beyond r cells in latitude
        are ≥ r·lat_cell_m away (meridian arc); points within r lat-cells
        but beyond r lon-cells satisfy cosφ₁,cosφ₂ ≥ cos(φ_worst) so
        haversine ≥ 2R·asin(cos φ_worst · sin(r·Δλ/2))."""
        lat_cell_deg = 180.0 / (1 << self.level)
        lon_cell_deg = 360.0 / (1 << self.level)
        worst = np.minimum(90.0, abs_lat_deg + (r + 1) * lat_cell_deg)
        d_lat = r * (lat_cell_deg * _M_PER_DEG)
        half = np.minimum(r * math.radians(lon_cell_deg) / 2.0, math.pi / 2)
        d_lon = 2.0 * _R * np.arcsin(np.cos(np.radians(worst)) * np.sin(half))
        return np.minimum(d_lat, d_lon)

    def clamp(self, g: np.ndarray, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
        """The guarantee needs no clamp: k-rings wrap at ±180°."""
        return g


# ---------------------------------------------------------------- Column ---

def _spread_col(x: Column) -> Column:
    for shift, mask in _MASKS:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def quantize_cols(lat: Column, lon: Column, level: int) -> tuple[Column, Column]:
    n = float(1 << level)
    i = F.floor((lon + 180.0) / 360.0 * F.lit(n)).cast("long")
    j = F.floor((lat + 90.0) / 180.0 * F.lit(n)).cast("long")
    i = F.least(F.greatest(i, F.lit(0)), F.lit(int(n) - 1))
    j = F.least(F.greatest(j, F.lit(0)), F.lit(int(n) - 1))
    return i, j


def cell_col(lat: Column, lon: Column, level: int) -> Column:
    """JVM-side cell ID — pure Column bit math, whole-stage-codegen friendly."""
    i, j = quantize_cols(lat, lon, level)
    marker = F.lit(1 << (2 * level)).cast("long")
    return marker.bitwiseOR(_spread_col(i)).bitwiseOR(F.shiftleft(_spread_col(j), 1))


# ------------------------------------------------------------------- SQL ---

def _spread_sql(x: str) -> str:
    expr = x
    for shift, mask in _MASKS:
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
    return expr


def cell_sql(lat: str, lon: str, level: int) -> str:
    """The identical cell ID as a DuckDB SQL expression."""
    n = float(1 << level)
    i = f"least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 * {n!r}) AS BIGINT), 0), {int(n) - 1})"
    j = f"least(greatest(CAST(floor((({lat}) + 90.0) / 180.0 * {n!r}) AS BIGINT), 0), {int(n) - 1})"
    return f"({1 << (2 * level)} | {_spread_sql(i)} | ({_spread_sql(j)} << 1))"


def cell_sql_spark(lat: str, lon: str, level: int) -> str:
    """cell_sql variant in Spark SQL dialect (shiftleft() instead of <<,
    and CAST AS BIGINT); same arithmetic bit-for-bit."""
    n = float(1 << level)
    i = f"least(greatest(CAST(floor((({lon}) + 180.0) / 360.0 * {n!r}) AS BIGINT), CAST(0 AS BIGINT)), CAST({int(n) - 1} AS BIGINT))"
    j = f"least(greatest(CAST(floor((({lat}) + 90.0) / 180.0 * {n!r}) AS BIGINT), CAST(0 AS BIGINT)), CAST({int(n) - 1} AS BIGINT))"

    def spread(x: str) -> str:
        expr = x
        for shift, mask in _MASKS:
            expr = f"((({expr}) | shiftleft(({expr}), {shift})) & {mask}L)"
        return expr

    return f"(CAST({1 << (2 * level)} AS BIGINT) | {spread(i)} | shiftleft({spread(j)}, 1))"


# ------------------------------------------------ set compaction (H3-like) ---

def cell_level_col(cell: Column) -> Column:
    """Level of a marker-bit cell id as a Column — a when-ladder over the
    27 possible marker positions (exact integer compares; no float log)."""
    expr = F.lit(0)
    for lvl in range(1, MAX_LEVEL + 1):
        expr = F.when(cell >= F.lit(1 << (2 * lvl)), F.lit(lvl)).otherwise(expr)
    return expr


def compact_cells(cells_df, cell_col_name: str = "cell", max_level: int = MAX_LEVEL):
    """H3-`compact`-style set compaction: repeatedly replace every COMPLETE
    sibling quad (all 4 children of one parent present) with the parent,
    per level, until no quad is complete — the canonical minimal multi-
    level representation of a cell set (coverings, occupancy indexes).

    Input: a DataFrame with an int64 marker-bit cell column (uniform
    level; deduped internally).  Output: ``(cell, level)`` — the
    compacted, mixed-level set.  Deterministic (pure set algebra).

    Plan shape: one groupBy-on-parent shuffle per level over a set that
    SHRINKS ≥4× per merged level; leftovers freeze out of the iteration
    immediately, so round k touches only the cells still mergeable at
    level L-k.  Each round's survivors are localCheckpoint-ed to keep
    lineage flat (same policy as `operators/graph.py`); at 100 TB the
    active set after round 1 is ≤ |occupied parents|, far below the
    input.
    """
    # localCheckpoint BEFORE the level collect: the distinct feeds three
    # consumers (the collect, round 1's complete-quad agg, and round 1's
    # frozen anti-join) and would otherwise be recomputed for each.
    active = (
        cells_df.select(F.col(cell_col_name).alias("cell"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    lvl = active.select(F.max(cell_level_col(F.col("cell"))).alias("m")).collect()[0]["m"]
    if lvl is None:
        return active.withColumn("level", F.lit(0)).limit(0)
    lvl = int(lvl)
    frozen = None
    for _ in range(min(lvl, max_level)):
        p = active.withColumn("p", F.shiftright(F.col("cell"), 2))
        complete = (
            p.groupBy("p").agg(F.count("*").alias("k")).filter(F.col("k") == 4)
            .select(F.col("p").alias("parent"))
        )
        round_frozen = (
            p.join(complete, p["p"] == complete["parent"], "left_anti")
            .select("cell")
        )
        frozen = round_frozen if frozen is None else frozen.unionByName(round_frozen)
        active = complete.select(F.col("parent").alias("cell")).localCheckpoint(eager=True)
        if active.isEmpty():
            break
    out = active if frozen is None else frozen.unionByName(active)
    return out.withColumn("level", cell_level_col(F.col("cell")))


def uncompact_cells(cells_df, target_level: int, cell_col_name: str = "cell"):
    """Inverse of `compact_cells`: expand every cell to its complete set
    of level-``target_level`` descendants (``4^Δ`` children each, via a
    codegen sequence explode — no Python).  Cells already at
    ``target_level`` pass through; cells FINER than the target raise at
    runtime via an explicit assert column."""
    with_lvl = cells_df.select(F.col(cell_col_name).alias("cell")).withColumn(
        "__d2", (F.lit(target_level) - cell_level_col(F.col("cell"))) * 2
    )
    # The guard must live inside the OUTPUT expression — a side assert
    # column would be pruned by Catalyst and never evaluated.  The
    # sequence bound is clamped so an invalid row reaches the guard
    # instead of exploding into a 2^63-element array first.
    # (F.shiftleft only takes a literal shift; the SQL form accepts a column.)
    return (
        with_lvl.withColumn(
            "r",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(greatest(__d2, 0) AS INT)) - 1"
                    ),
                )
            ),
        )
        .select(
            F.when(
                F.col("__d2") < 0,
                F.raise_error("uncompact_cells: cell finer than target_level"),
            )
            .otherwise(F.expr("shiftleft(cell, CAST(__d2 AS INT))") + F.col("r"))
            .alias("cell")
        )
        .distinct()
    )


def _interleave_int(i: int, j: int) -> int:
    out = 0
    for b in range(32):
        out |= ((i >> b) & 1) << (2 * b)
        out |= ((j >> b) & 1) << (2 * b + 1)
    return out


def zranges_for_rect(
    i0: int, i1: int, j0: int, j1: int, level: int
) -> list[tuple[int, int]]:
    """EXACT minimal Z-curve range cover of the inclusive ij rect
    [i0, i1] × [j0, j1] at ``level`` — the bbox→ranges planner step
    that turns a spatial window into ``cell BETWEEN lo AND hi``
    predicates (row-group/partition pruning on a cell-range layout;
    see ``skew.repartition_by_cell_range``).

    Standard quadtree decomposition: a quad fully inside the rect
    emits its (contiguous) Z range; a partially-overlapping quad
    recurses into its 4 children; disjoint quads are dropped.  Adjacent
    ranges are merged, so the result is the canonical minimal cover —
    every cell in exactly one range, no cell outside the rect covered.

    Returns sorted inclusive ``(lo, hi)`` int64 cell-id pairs carrying
    the level marker bit (comparable directly against ``cell_col``
    values at the same level).
    """
    n = 1 << level
    if not (0 <= i0 <= i1 < n and 0 <= j0 <= j1 < n):
        raise ValueError(f"rect out of bounds for level {level}")
    marker = 1 << (2 * level)
    out: list[tuple[int, int]] = []

    def rec(qi: int, qj: int, qlevel: int) -> None:
        size = 1 << (level - qlevel)
        ci0, cj0 = qi * size, qj * size
        ci1, cj1 = ci0 + size - 1, cj0 + size - 1
        if ci0 > i1 or ci1 < i0 or cj0 > j1 or cj1 < j0:
            return
        if ci0 >= i0 and ci1 <= i1 and cj0 >= j0 and cj1 <= j1:
            shift = 2 * (level - qlevel)
            prefix = _interleave_int(qi, qj) << shift
            out.append((marker | prefix, marker | (prefix + (1 << shift) - 1)))
            return
        for di in (0, 1):
            for dj in (0, 1):
                rec(qi * 2 + di, qj * 2 + dj, qlevel + 1)

    rec(0, 0, 0)
    out.sort()
    merged: list[tuple[int, int]] = []
    for lo, hi in out:
        if merged and merged[-1][1] + 1 == lo:
            merged[-1] = (merged[-1][0], hi)
        else:
            merged.append((lo, hi))
    return [tuple(r) for r in merged]
