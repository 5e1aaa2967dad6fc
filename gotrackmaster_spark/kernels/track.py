"""Layer-K kernels: literal Python translations of the reference's Go
track-repair algorithms, for float64 bit-parity with the Go test fixtures.

Each function cites its source in ``/root/reference/trackmaster/``.  These
run inside Arrow-batched ``applyInPandas`` over one (track, trk, seg) group —
segments are 10^2..10^4 points, so a Python loop per batch is microseconds;
the *distribution* is Spark's job, the *semantics* are these loops.

Points are small mutable objects (lists of ``Pt``) mirroring Go's
``[]*WptType`` pointer slices — aliasing behaviour (e.g. RemoveStops' in-run
elevation backfill mutating shared points, distance.go:204-206) is part of
the semantics and is preserved.

Times are Python ints: epoch nanoseconds, with Go's zero time.Time
represented by GO_ZERO_NS and time.Time.Sub's saturating int64 arithmetic
replicated (time.go passim).
"""

from __future__ import annotations

import math

from gotrackmaster_spark.functions.geodesy import (
    MIN_SEGMENT_LENGTH,
    distance_2d_s,
    distance_3d_s,
    gaussian_s,
    haversine_s,
    midpoint_s,
)
from gotrackmaster_spark.schemas import GO_DUR_MAX, GO_DUR_MIN, GO_ZERO_NS

MAX_FLOAT64 = math.inf  # math.MaxFloat64 compares like +inf for our uses
_GO_MAX_FLOAT64 = 1.7976931348623157e308


class Pt:
    """Mirror of gpx.WptType (lat/lon/ele float64, time as epoch ns int)."""

    __slots__ = ("lat", "lon", "ele", "t")

    def __init__(self, lat: float, lon: float, ele: float, t: int):
        self.lat = lat
        self.lon = lon
        self.ele = ele
        self.t = t  # epoch ns; GO_ZERO_NS == Go's zero time.Time

    def copy(self) -> "Pt":
        return Pt(self.lat, self.lon, self.ele, self.t)


class Defect:
    """Mirror of GPXElementInfo (definitions.go:15-26)."""

    __slots__ = (
        "pt_idx", "count", "length", "speed", "speed_vertical",
        "elevation", "duration", "lat", "lon",
    )

    def __init__(self, pt_idx=0, count=0, length=0.0, speed=0.0,
                 speed_vertical=0.0, elevation=0.0, duration=0.0,
                 lat=0.0, lon=0.0):
        self.pt_idx = pt_idx
        self.count = count
        self.length = length
        self.speed = speed
        self.speed_vertical = speed_vertical
        self.elevation = elevation
        self.duration = duration
        self.lat = lat
        self.lon = lon


# ------------------------------------------------------------------ time ---

def _go_sub_ns(t1: int, t2: int) -> int:
    # time.Time.Sub saturates at the int64 Duration bounds.
    d = t1 - t2
    if d > GO_DUR_MAX:
        return GO_DUR_MAX
    if d < GO_DUR_MIN:
        return GO_DUR_MIN
    return d


def _dur_seconds(d: int) -> float:
    # time.Duration.Seconds(): sec := d/1e9 (int div, trunc); + nsec/1e9.
    sec = int(d / 1_000_000_000) if d < 0 else d // 1_000_000_000
    nsec = d - sec * 1_000_000_000
    return float(sec) + float(nsec) / 1e9


def time_diff(w: Pt, pt: Pt) -> float:
    # time.go:11-24 — symmetric |t2-t1| in seconds.
    if w.t == pt.t:
        return 0.0
    if w.t > pt.t:
        delta = _go_sub_ns(w.t, pt.t)
    else:
        delta = _go_sub_ns(pt.t, w.t)
    return _dur_seconds(delta)


def fix_times_segment(pts: list[Pt]) -> int:
    """time.go:27-59 — returns the number of repaired timestamps.

    Mutates ``pts`` in place (the Go version returns the mutated segment).
    The initial min-time scan (time.go:34-38) is dead code — its result is
    overwritten at :45 — so it is not replicated.

    Deviation: when ``pts[1]`` has the zero time, Go sets ``pts[0]`` to
    zero time minus 10 s and would write ``0000-12-31T23:59:50Z``.  That
    instant is below int64 epoch ns, so the subtraction saturates at
    ``GO_ZERO_NS`` and ``pts[0]`` is written without a time.
    """
    num = 0
    if len(pts) < 2:
        return num
    # Check first element (time.go:40-43)
    if pts[0].t != GO_ZERO_NS and pts[0].t > pts[1].t:
        pts[0].t = max(pts[1].t - 10 * 1_000_000_000, GO_ZERO_NS)
        num += 1
    # Check all intermediate elements (time.go:45-57)
    last_valid = pts[0].t
    for i in range(1, len(pts) - 1):
        if pts[i].t == GO_ZERO_NS:
            continue
        max_valid = last_valid + 3_600_000_000_000  # +1h
        if pts[i].t > pts[i + 1].t or pts[i].t > max_valid:
            pts[i].t = _find_next_valid_time(pts, last_valid, i)
            num += 1
        else:
            last_valid = pts[i].t
    return num


def _find_next_valid_time(pts: list[Pt], last_valid: int, start: int) -> int:
    # time.go:61-75 — linear interpolation toward the next valid time.
    max_valid = last_valid + 3_600_000_000_000
    for i in range(start + 1, len(pts)):
        if pts[i].t == GO_ZERO_NS:
            continue
        if pts[i].t > last_valid and pts[i].t < max_valid:
            # Duration division truncates toward zero (positive here).
            return last_valid + _go_sub_ns(pts[i].t, last_valid) // (i - start + 1)
    return pts[0].t


# ----------------------------------------------------------------- speed ---

def speed_between(w: Pt, pt: Pt, three_d: bool) -> Defect:
    # speed.go:82-108 — note the vertical-speed sign: NEGATIVE when w is
    # below pt (climbing from w to pt), per speed.go:96-98.  Replicated
    # literally; do not rationalize.
    seconds = time_diff(w, pt)
    if three_d:
        dist_len = distance_3d_s(w.lat, w.lon, w.ele, pt.lat, pt.lon, pt.ele)
    else:
        dist_len = distance_2d_s(w.lat, w.lon, pt.lat, pt.lon)
    if seconds == 0:
        speed = 0.0
        speed_vertical = 0.0
    else:
        speed = dist_len / seconds
        speed_vertical = abs(w.ele - pt.ele) / seconds
        if w.ele < pt.ele:
            speed_vertical = -speed_vertical
    return Defect(
        speed=speed,
        speed_vertical=speed_vertical,
        length=dist_len,
        duration=seconds,
        elevation=w.ele - pt.ele,
    )


def _find_closest_point(pts: list[Pt], start: int, num: int) -> int:
    # speed.go:125-140 — nearest of the next (num-1) points by 2D distance;
    # quirky min-init (minDistance==0 doubles as "unset").
    min_distance = 0.0
    min_distance_index = 0
    i = start + 1
    while i < len(pts):
        num -= 1
        if num == 0:
            break
        distance = distance_2d_s(pts[start].lat, pts[start].lon, pts[i].lat, pts[i].lon)
        if distance < min_distance or min_distance == 0:
            min_distance = distance
            min_distance_index = i
        i += 1
    return min_distance_index


def _max_speed_fix(pts: list[Pt], i: int, fix: bool) -> None:
    # speed.go:111-122 — replace point i+1 with the ECEF midpoint of point i
    # and its nearest of the following 4 points.
    if fix:
        closest = _find_closest_point(pts, i, 5)
        if closest == 0:
            return
        lat, lon, ele = midpoint_s(
            pts[i].lat, pts[i].lon, pts[i].ele,
            pts[closest].lat, pts[closest].lon, pts[closest].ele,
        )
        pts[i + 1].lat = lat
        pts[i + 1].lon = lon
        pts[i + 1].ele = ele


def max_speed(pts: list[Pt], maximum: float, fix: bool) -> list[Defect]:
    # speed.go:10-31 — sequential cascade: the fix at i+1 feeds pair (i+1, i+2).
    result: list[Defect] = []
    for i in range(len(pts)):
        if i != len(pts) - 1:
            point = speed_between(pts[i], pts[i + 1], False)
            if point.speed > maximum:
                point = speed_between(pts[i], pts[i + 1], False)
                point.lat = pts[i].lat
                point.lon = pts[i].lon
                point.pt_idx = i
                result.append(point)
                _max_speed_fix(pts, i, fix)
    return result


def remove_last_max_speed(pts: list[Pt], maximum: float, fix: bool):
    """speed.go:33-79 — backward scan; returns (kept_pts, defects)."""
    result: list[Defect] = []
    if len(pts) < MIN_SEGMENT_LENGTH:
        return pts, result
    first_point = -1
    saw_max = False
    seconds = 0.0
    for i in range(len(pts) - 1, 1, -1):
        point = speed_between(pts[i], pts[i - 1], False)
        if point.duration < 2.5:
            continue
        if point.speed < maximum:
            if seconds == 0:
                first_point = i
            seconds += point.duration
            if seconds > 120:  # prevent stops at traffic lights
                break
        else:
            saw_max = True
            seconds = 0.0
    if first_point != -1 and first_point != 0 and saw_max:
        d = Defect(pt_idx=first_point, count=len(pts) - first_point,
                   lat=pts[first_point].lat, lon=pts[first_point].lon)
        result.append(d)
        if fix:
            pts = pts[: first_point + 1]
    return pts, result


# ------------------------------------------------------------- elevation ---

def _elevation_abs(w: Pt, pt: Pt) -> float:
    # elevation.go:117-119
    return abs(w.ele - pt.ele)


def _find_next_vertical_point(pts: list[Pt], start: int, max_n: int) -> int:
    # elevation.go:90-114 — next nonzero ele within max_n ahead, else behind;
    # note the backward scan stops at index 1 (i > 0), quirk preserved.
    num = 0
    for i in range(start + 1, len(pts)):
        num += 1
        if num > max_n:
            break
        if pts[i].ele != 0:
            return i
    num = 0
    i = start - 1
    while i > 0:
        num += 1
        if num > max_n:
            break
        if pts[i].ele != 0:
            return i
        i -= 1
    return -1


def lost_elevation(pts: list[Pt], fix: bool) -> list[Defect]:
    # elevation.go:11-38 — ele <= 0 takes the nearest nonzero neighbour's ele.
    result: list[Defect] = []
    for i in range(len(pts)):
        if pts[i].ele <= 0:
            closest = _find_next_vertical_point(pts, i, 10)
            if closest == -1:
                continue
            result.append(Defect(pt_idx=i, elevation=pts[closest].ele,
                                 lat=pts[i].lat, lon=pts[i].lon))
            if fix:
                pts[i].ele = pts[closest].ele
    return result


def speed_vertical_between(w: Pt, pt: Pt) -> Defect:
    # elevation.go:78-88 — unsigned; no zero-seconds guard (inf/nan possible
    # in Go too via division by zero -> +Inf/NaN; replicated).
    seconds = time_diff(w, pt)
    elevation = _elevation_abs(w, pt)
    try:
        speed = elevation / seconds
    except ZeroDivisionError:
        speed = math.inf if elevation > 0 else math.nan
    return Defect(speed=speed, length=elevation, duration=seconds)


def gaussian_filter_elevation(pts: list[Pt], start: int, end: int,
                              window_size: int, sigma: float) -> None:
    # geo.go:52-76 — ranged elevation smoothing, boundary renormalized.
    if start < 0:
        start = 0
    smoothed = [0.0] * end
    for i in range(start, end):
        total = 0.0
        norm = 0.0
        for j in range(window_size):
            idx = i - window_size // 2 + j
            if idx < 0 or idx >= len(pts):
                continue
            weight = gaussian_s(float(j - window_size // 2), sigma)
            total += weight * pts[idx].ele
            norm += weight
        smoothed[i] = total / norm
    for i in range(start, end):
        if i >= len(pts):
            continue
        pts[i].ele = smoothed[i]


def max_speed_vertical(pts: list[Pt], maximum: float, fix: bool) -> list[Defect]:
    # elevation.go:41-64 — vertical-speed spikes smooth ele over [i-2, i+5).
    result: list[Defect] = []
    for i in range(len(pts)):
        if i != len(pts) - 1:
            point = speed_vertical_between(pts[i], pts[i + 1])
            if point.speed > maximum:
                point.pt_idx = i
                point.lat = pts[i].lat
                point.lon = pts[i].lon
                result.append(point)
                if fix:
                    gaussian_filter_elevation(pts, i - 2, i + 5, 3, 1.5)
    return result


def round_elevation(pts: list[Pt]) -> None:
    # elevation.go:67-75 — Go math.Round = half away from zero.
    for p in pts:
        p.ele = math.copysign(math.floor(abs(p.ele * 100) + 0.5), p.ele) / 100


def gaussian_filter_positions(pts: list[Pt], window_size: int, sigma: float) -> None:
    # distance.go:85-111 — replicate the exact (quirky) index arithmetic:
    # j in [-w, w); skip when i - w/2 + j < 0 OR i + w/2 + j >= n (asymmetric);
    # weight at slot i - w/2 + j is Gaussian(j - w/2, sigma).
    n = len(pts)
    w2 = window_size // 2
    smoothed_lat = [0.0] * n
    smoothed_lon = [0.0] * n
    for i in range(n):
        sum_weights = 0.0
        norm_lat = 0.0
        norm_lon = 0.0
        for j in range(-window_size, window_size):
            if i - w2 + j < 0 or i + w2 + j >= n:
                continue
            weight = gaussian_s(float(j - w2), sigma)
            sum_weights += weight
            norm_lat += weight * pts[i - w2 + j].lat
            norm_lon += weight * pts[i - w2 + j].lon
        smoothed_lat[i] = norm_lat / sum_weights
        smoothed_lon[i] = norm_lon / sum_weights
    for i in range(n):
        pts[i].lat = smoothed_lat[i]
        pts[i].lon = smoothed_lon[i]


# ------------------------------------------ noise / stops / intersections ---

def _find_next_closer_point(pts: list[Pt], start: int, max_n: int,
                            max_distance: float, max_elevation: float):
    # distance.go:65-83
    last_point = -1
    min_distance = _GO_MAX_FLOAT64
    for i in range(start + 1, min(start + max_n, len(pts))):
        distance = haversine_s(pts[start].lat, pts[start].lon, pts[i].lat, pts[i].lon)
        elevation = _elevation_abs(pts[start], pts[i])
        if distance < min_distance and distance < max_distance and elevation <= max_elevation:
            min_distance = distance
            last_point = i
    if last_point == -1:
        return -1, _GO_MAX_FLOAT64
    return last_point, min_distance


def remove_first_noise(pts: list[Pt], fix: bool):
    """distance.go:114-157 — GPS warm-up cleanup over the first 11 points.

    Returns (kept_pts, defects).  Probe window 5 pts / 8 m / 0 m elevation.
    """
    result: list[Defect] = []
    if len(pts) < MIN_SEGMENT_LENGTH:
        return pts, result
    dst: list[Pt] = []
    i = 0
    while i < 11:
        next_distance = haversine_s(pts[i].lat, pts[i].lon, pts[i + 1].lat, pts[i + 1].lon)
        closer_point, closer_distance = _find_next_closer_point(pts, i, 5, 8, 0)
        if next_distance > closer_distance:
            result.append(Defect(pt_idx=i, lat=pts[i].lat, lon=pts[i].lon))
            if fix:
                dst.append(pts[i])
                if closer_point >= 10:
                    dst.extend(pts[closer_point:])
                else:
                    dst.append(pts[closer_point])
            i = closer_point
        elif fix:
            if i >= 10:
                dst.extend(pts[i:])
            else:
                dst.append(pts[i])
        i += 1
    if fix and len(dst) > 0:
        return dst, result
    return pts, result


def remove_noise(pts: list[Pt], max_distance: float, max_elevation: float,
                 max_points: int, fix: bool):
    """distance.go:159-188 — drop zig-zags: jump to the closer of the next
    few points when the immediate next point is farther.  Returns
    (kept_pts, defects)."""
    result: list[Defect] = []
    dst: list[Pt] = []
    i = 0
    while i < len(pts) - 1:
        next_distance = haversine_s(pts[i].lat, pts[i].lon, pts[i + 1].lat, pts[i + 1].lon)
        closer_point, closer_distance = _find_next_closer_point(
            pts, i, max_points, max_distance, max_elevation
        )
        if next_distance > closer_distance:
            result.append(Defect(pt_idx=i, lat=pts[i].lat, lon=pts[i].lon))
            dst.append(pts[i])
            dst.append(pts[closer_point])
            i = closer_point
        else:
            dst.append(pts[i])
        i += 1
    if fix and len(dst) > 0:
        return dst, result
    return pts, result


def remove_stops(pts: list[Pt], min_seconds: float, max_distance: float,
                 max_elevation: float, min_points: int, fix: bool):
    """distance.go:190-277 — run-length collapse of points that stay within
    (max_distance, max_elevation) of the run anchor.  Returns
    (kept_pts, defects).  Quirks preserved: zero-ele backfill mutates the
    anchor in place even when fix=False (:204-206); the duration is measured
    anchor->current (not current+1, :215); the inner duplicated condition at
    :230 makes its else-branch dead; flush defect only emitted when fixing.
    """
    result: list[Defect] = []
    dst: list[Pt] = []
    first_point = -1
    num_points = 0
    for i in range(len(pts) - 1):
        point = i if first_point == -1 else first_point
        if pts[point].ele == 0:
            pts[point].ele = pts[i + 1].ele
        distance = haversine_s(pts[point].lat, pts[point].lon, pts[i + 1].lat, pts[i + 1].lon)
        elevation = _elevation_abs(pts[point], pts[i + 1])
        if distance <= max_distance and elevation <= max_elevation:
            if first_point == -1:
                first_point = i
            num_points += 1
        else:
            seconds = time_diff(pts[point], pts[i])
            if num_points > min_points and seconds > min_seconds:
                distance = haversine_s(pts[first_point].lat, pts[first_point].lon,
                                       pts[i].lat, pts[i].lon)
                elevation = _elevation_abs(pts[first_point], pts[i])
                result.append(Defect(
                    pt_idx=first_point, count=num_points, length=distance,
                    elevation=elevation, duration=seconds,
                    lat=pts[first_point].lat, lon=pts[first_point].lon,
                ))
                if num_points > min_points and seconds > min_seconds:
                    dst.append(pts[first_point])
                else:  # dead branch in Go too (distance.go:230-234)
                    dst.extend(pts[first_point : i + 1])
                # for remove close points (distance.go:236-238)
                if min_points != 0:
                    dst.append(pts[i])
            else:
                if first_point == -1:
                    dst.append(pts[i])
                else:
                    dst.extend(pts[first_point : i + 1])
            first_point, num_points = -1, 0
    if fix:
        if num_points == 0:
            if len(pts) != 0:
                dst.append(pts[-1])
        else:
            dst.extend(pts[first_point:])
            distance = haversine_s(pts[first_point].lat, pts[first_point].lon,
                                   pts[-1].lat, pts[-1].lon)
            elevation = _elevation_abs(pts[first_point], pts[-1])
            seconds = time_diff(pts[first_point], pts[-1])
            result.append(Defect(
                pt_idx=first_point, count=num_points, length=distance,
                elevation=elevation, duration=seconds,
                lat=pts[first_point].lat, lon=pts[first_point].lon,
            ))
        return dst, result
    return pts, result


def _orientation(p: Pt, q: Pt, r: Pt) -> int:
    # distance.go:293-309 — 0 colinear, 1 clockwise, 2 counterclockwise.
    val = (q.lon - p.lon) * (r.lat - q.lat) - (q.lat - p.lat) * (r.lon - q.lon)
    if val == 0:
        return 0
    if val > 0:
        return 1
    return 2


def _do_intersect(p1: Pt, q1: Pt, p2: Pt, q2: Pt) -> bool:
    # distance.go:280-291 — colinear treated as non-intersecting.
    o1 = _orientation(p1, q1, p2)
    o2 = _orientation(p1, q1, q2)
    o3 = _orientation(p2, q2, p1)
    o4 = _orientation(p2, q2, q1)
    return o1 != o2 and o3 != o4 and o1 != 0 and o2 != 0 and o3 != 0 and o4 != 0


def remove_intersections(pts: list[Pt], max_n: int, fix: bool):
    """distance.go:312-342 — splice out self-intersections within a bounded
    lookahead.  Returns (kept_pts, defects).  The post-splice index jump
    (``wptTypeNo = lastPoint - 1``) runs against the NEW slice, exactly as in
    Go — this skips points; preserved literally.
    """
    result: list[Defect] = []
    pts = list(pts)  # we splice; Go mutates the slice header in place
    i = 0
    while i < len(pts) - 1:
        last_point = -1
        for j in range(i + 2, min(i + max_n, len(pts) - 1)):
            if _do_intersect(pts[i], pts[i + 1], pts[j], pts[j + 1]):
                result.append(Defect(pt_idx=i, lat=pts[i].lat, lon=pts[i].lon))
                last_point = j + 1
                break
        if last_point != -1:
            if fix:
                pts = pts[: i + 1] + pts[last_point:]
            i = last_point - 1
        i += 1
    return pts, result


# --------------------------------------------------- track-level kernels ---

def move_segment(segments: list[list[Pt]], min_points: int, fix: bool):
    """misc.go:26-80 — merge tiny segments into the temporally closer
    neighbour, then delete the empty slots in reverse order.

    Operates on ONE track's list of segments (the reference's per-GPX loop
    also crosses tracks via Next/PreviousSegment; per input_hint our tracks
    each carry a single trk, so the cross-track edge cases reduce to the
    boundary sentinels, replicated below including the off-by-one quirks
    that make the last/first track unreachable, misc.go:99-123).

    Returns (segments, defects, moved_flags).
    """
    result: list[Defect] = []
    move: list[int] = []
    if len(segments) < 2:
        return segments, result
    for seg_no, seg in enumerate(segments):
        if len(seg) > min_points:
            continue
        move.append(seg_no)
        if len(seg) == 0:
            continue
        pre = _compare_time(segments, seg_no, False)
        nxt = _compare_time(segments, seg_no, True)
        if pre < nxt:
            result.append(Defect(pt_idx=0, count=len(seg),
                                 lat=seg[0].lat, lon=seg[0].lon))
            segments[seg_no - 1] = segments[seg_no - 1] + seg
        else:
            result.append(Defect(pt_idx=len(seg) - 1, count=len(seg),
                                 lat=seg[-1].lat, lon=seg[-1].lon))
            segments[seg_no + 1] = seg + segments[seg_no + 1]
        # NB: when seg_no-1/+1 is out of range the Go code would panic too —
        # _compare_time's MaxFloat64 sentinels prevent reaching here at the
        # boundaries (pre<nxt is False at seg 0; True at the last seg).
    if fix:
        for seg_no in reversed(move):
            del segments[seg_no]
    return segments, result


def _compare_time(segments: list[list[Pt]], seg_no: int, end: bool) -> float:
    # misc.go:82-97 — time gap to the next/previous segment; single-track
    # reduction of Next/PreviousSegment (misc.go:99-123): with one trk, the
    # next of the last segment and the previous of the first are -1.
    if end:
        if seg_no >= len(segments) - 1:
            return _GO_MAX_FLOAT64
        p = segments[seg_no][-1]
        return time_diff(p, segments[seg_no + 1][0])
    if seg_no <= 0:
        return _GO_MAX_FLOAT64
    p = segments[seg_no][0]
    return time_diff(p, segments[seg_no - 1][-1])
