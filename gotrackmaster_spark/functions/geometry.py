"""Row-local vector geometry over polygon ring arrays — shoelace area,
area-weighted centroid and the even-odd point-in-ring test, entirely in
Catalyst higher-order functions (``zip_with`` + ``aggregate``): no
explode, no window, no shuffle, no Python worker.

The ring is an ``array<struct<lat,lon>>`` (the same shape the PIP join
consumes, SURVEY §2.10 E2), vertices in order, NOT closed (the wrap edge
is added internally).  Planar metric on (lon, lat) — positive area =
counter-clockwise ring; callers at geographic scale pass projected
coordinates (same contract as ``clustering.dbscan`` / map-matching).

Determinism: ``F.aggregate`` folds the edge terms LEFT-TO-RIGHT in ring
order, so an oracle replaying the same terms in the same fold order
(((t0 + t1) + t2) + …) reproduces the sum bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _edge_terms(ring: Column, fn) -> Column:
    """zip each vertex with its ring successor (wrap at the end) and map
    the pair through ``fn(a, b)``."""
    nxt = F.concat(
        F.slice(ring, 2, F.size(ring) - 1), F.array(F.element_at(ring, 1))
    )
    return F.zip_with(ring, nxt, fn)


def _fold_sum(terms: Column) -> Column:
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def ring_shoelace_area(ring: Column) -> Column:
    """Signed shoelace area of the ring: Σ(x·y' − x'·y) / 2."""
    cross = _edge_terms(ring, lambda a, b: a["lon"] * b["lat"] - b["lon"] * a["lat"])
    return _fold_sum(cross) / 2.0


def ray_cast_col(ring: Column, lat: Column, lon: Column) -> Column:
    """Even-odd ray cast (ray toward +lon) of the point ``(lat, lon)``
    against ``ring`` — the Catalyst twin of ``operators.spatial._ray_cast_np``
    with the same operands per edge (vertex ``i``, predecessor ``j``):

      cond  = (y_i > lat) != (y_j > lat)
      x_int = (x_j - x_i) * (lat - y_i) / (y_j - y_i) + x_i
      hit   = cond AND lon < x_int

    XOR-folded over the edges.  Two guards keep it bit-identical to numpy:
    the division runs only under ``cond`` (which implies ``y_j != y_i``;
    ANSI mode raises on a zero divisor), and a NaN ``x_int`` is never
    "right of" the point (Spark orders NaN above every double)."""

    def hit(a, b):  # a = predecessor j, b = vertex i
        cond = (b["lat"] > lat) != (a["lat"] > lat)
        x_int = (a["lon"] - b["lon"]) * (lat - b["lat"]) / (a["lat"] - b["lat"]) + b["lon"]
        # nanvl: a NaN x_int compares as lon < lon, i.e. False as in numpy
        return F.when(cond, lon < F.nanvl(x_int, lon)).otherwise(F.lit(False))

    return F.aggregate(_edge_terms(ring, hit), F.lit(False), lambda acc, h: acc != h)


def ring_centroid(ring: Column) -> tuple[Column, Column]:
    """Area-weighted polygon centroid (cx, cy) = Σ(coord+coord')·t / (3·2A)
    with t the shoelace cross term — exact for any simple polygon."""
    two_a = _fold_sum(
        _edge_terms(ring, lambda a, b: a["lon"] * b["lat"] - b["lon"] * a["lat"])
    )
    sx = _fold_sum(
        _edge_terms(
            ring,
            lambda a, b: (a["lon"] + b["lon"])
            * (a["lon"] * b["lat"] - b["lon"] * a["lat"]),
        )
    )
    sy = _fold_sum(
        _edge_terms(
            ring,
            lambda a, b: (a["lat"] + b["lat"])
            * (a["lon"] * b["lat"] - b["lon"] * a["lat"]),
        )
    )
    return sx / (3.0 * two_a), sy / (3.0 * two_a)
