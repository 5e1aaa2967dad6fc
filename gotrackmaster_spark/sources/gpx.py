"""GPX 1.1 XML -> columnar rows ETL (reference S1/S2).

The reference parses GPX into a pointer tree per file
(``/root/reference/cmd/root.go:81-96`` via github.com/twpayne/go-gpx); here
ingest is a one-time ETL producing the long points table of
``schemas.POINTS_SCHEMA`` plus a small tracks dimension.  Pure stdlib
(xml.etree) — runs on the driver for the 4 test fixtures, or inside
``spark.read.format('binaryFile')`` + mapInPandas for bulk ingest.

Timestamps are parsed to exact epoch nanoseconds (GPX fractional seconds
like ``.5`` must survive; Spark timestamps are µs so ``ts_ns`` rides along).
Missing <time> becomes Go's zero time sentinel (GO_ZERO_NS).
"""

from __future__ import annotations

import datetime as _dt
import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from gotrackmaster_spark.schemas import GO_ZERO_NS, ts_from_ns
from gotrackmaster_spark.session import local_frame

_NS = "{http://www.topografix.com/GPX/1/1}"


@dataclass
class ParsedTrack:
    track_id: str
    creator: str
    # segments[trk_no][seg_no] = list of (lat, lon, ele, ts_ns)
    tracks: list[list[list[tuple[float, float, float, int]]]] = field(default_factory=list)
    # top-level waypoints: (lat, lon, ele|None, ts_ns, name|None, link|None)
    waypoints: list[tuple] = field(default_factory=list)

    def n_points(self) -> int:
        return sum(len(s) for t in self.tracks for s in t)


def parse_time_ns(text: str | None) -> int:
    """ISO-8601 GPX time -> epoch ns (exact fractional seconds)."""
    if not text:
        return GO_ZERO_NS
    text = text.strip()
    if text.endswith("Z"):
        text = text[:-1]
        offset = 0
    elif "+" in text[10:]:
        base, _, off = text.partition("+")
        h, _, m = off.partition(":")
        offset = -(int(h) * 3600 + int(m or 0) * 60)
        text = base
    else:
        offset = 0
    frac_ns = 0
    if "." in text:
        text, _, frac = text.partition(".")
        frac_ns = int(frac.ljust(9, "0")[:9])
    dt = _dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S").replace(tzinfo=_dt.timezone.utc)
    return (int(dt.timestamp()) + offset) * 1_000_000_000 + frac_ns


def parse_gpx_file(path: str, track_id: str | None = None) -> ParsedTrack:
    root = ET.parse(path).getroot()
    creator = root.get("creator", "")
    tid = track_id or path.rsplit("/", 1)[-1]
    parsed = ParsedTrack(track_id=tid, creator=creator)
    _parse_gpx_tree(root, parsed)
    return parsed


def _parse_gpx_tree(root, parsed: ParsedTrack) -> None:
    """Walk an already-parsed GPX element tree into ``parsed`` (shared by
    the driver-path and executor-path scanners)."""
    for wpt in root.findall(f"{_NS}wpt"):
        lat = float(wpt.get("lat", "0"))
        lon = float(wpt.get("lon", "0"))
        ele_el = wpt.find(f"{_NS}ele")
        ele = float(ele_el.text) if ele_el is not None and ele_el.text else None
        time_el = wpt.find(f"{_NS}time")
        ts_ns = parse_time_ns(time_el.text if time_el is not None else None)
        name_el = wpt.find(f"{_NS}name")
        name = name_el.text if name_el is not None else None
        link_el = wpt.find(f"{_NS}link")
        link = link_el.get("href") if link_el is not None else None
        parsed.waypoints.append((lat, lon, ele, ts_ns, name, link))
    for trk in root.findall(f"{_NS}trk"):
        segs = []
        for seg in trk.findall(f"{_NS}trkseg"):
            pts = []
            for pt in seg.findall(f"{_NS}trkpt"):
                lat = float(pt.get("lat", "0"))
                lon = float(pt.get("lon", "0"))
                ele_el = pt.find(f"{_NS}ele")
                ele = float(ele_el.text) if ele_el is not None and ele_el.text else 0.0
                time_el = pt.find(f"{_NS}time")
                ts_ns = parse_time_ns(time_el.text if time_el is not None else None)
                pts.append((lat, lon, ele, ts_ns))
            segs.append(pts)
        parsed.tracks.append(segs)


def track_to_rows(parsed: ParsedTrack) -> list[tuple]:
    """Flatten to POINTS_SCHEMA rows without ``ts``: (track_id, trk_no,
    seg_no, pt_idx, lat, lon, ele, ts_ns)."""
    return [
        (parsed.track_id, trk_no, seg_no, pt_idx, lat, lon, ele, ts_ns)
        for trk_no, segs in enumerate(parsed.tracks)
        for seg_no, pts in enumerate(segs)
        for pt_idx, (lat, lon, ele, ts_ns) in enumerate(pts)
    ]


def waypoint_rows(parsed: ParsedTrack) -> list[tuple]:
    """Flatten waypoints to WAYPOINTS_SCHEMA rows without ``ts``:
    (track_id, wpt_idx, lat, lon, ele, ts_ns, name, link_href)."""
    return [(parsed.track_id, i, *w) for i, w in enumerate(parsed.waypoints)]


def gpx_files_to_points_df(spark, paths: list[str]):
    """Parse GPX files into a points DataFrame (POINTS_SCHEMA)."""
    points, tracks, _w = gpx_files_to_tables(spark, paths)
    return points, tracks


def _frame_with_ts(spark, rows: list[tuple], schema):
    """``local_frame`` over rows that lack ``ts``, with ``ts`` derived from
    ``ts_ns`` by the executor scan's own expression (``ts_from_ns``)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    raw = local_frame(spark, rows, StructType([f for f in schema if f.name != "ts"]))
    return raw.select(
        *(ts_from_ns(F.col("ts_ns")).alias("ts") if n == "ts" else n for n in schema.names)
    )


def gpx_files_to_tables(spark, paths: list[str]):
    """Full ETL: (points, tracks, waypoints) DataFrames — waypoints ride a
    separate table so repair pipelines over points can't lose them (Wpt[]
    passthrough, reference model tree via go-gpx).  The tables are Arrow-
    built local frames (``session.local_frame``): scanning them runs no
    Python-worker task."""
    from gotrackmaster_spark.schemas import (
        POINTS_SCHEMA,
        TRACKS_SCHEMA,
        WAYPOINTS_SCHEMA,
    )

    rows: list[tuple] = []
    creators: list[tuple] = []
    wrows: list[tuple] = []
    for rank, p in enumerate(sorted(paths)):
        parsed = parse_gpx_file(p)
        rows.extend(track_to_rows(parsed))
        creators.append((parsed.track_id, parsed.creator, p, rank))
        wrows.extend(waypoint_rows(parsed))
    points = _frame_with_ts(spark, rows, POINTS_SCHEMA)
    tracks = local_frame(spark, creators, TRACKS_SCHEMA)
    waypoints = _frame_with_ts(spark, wrows, WAYPOINTS_SCHEMA)
    return points, tracks, waypoints


# ------------------------------------------------------------------ sink ---

def _fmt_float(x: float) -> str:
    """Go strconv-style shortest float formatting (xml marshal uses %g-ish
    shortest round-trip representation)."""
    return repr(x) if x != int(x) else str(int(x))


def _fmt_time_ns(ts_ns: int) -> str:
    """epoch ns → RFC3339 with Go's trailing-zero-trimmed fractional part."""
    import datetime as dt

    sec, frac = divmod(ts_ns, 1_000_000_000)
    base = dt.datetime.fromtimestamp(sec, tz=dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%S"
    )
    if frac:
        f = f"{frac:09d}".rstrip("0")
        base += f".{f}"
    return base + "Z"


def points_to_gpx_xml(rows, creator: str = "gotrackmaster-spark",
                      waypoints=None) -> str:
    """Serialize one track's rows (POINTS_SCHEMA tuples/Rows, any order) to
    indented GPX 1.1 XML — the reference's writeGPX sink
    (/root/reference/cmd/root.go:45-67: xml.Header + two-space indent).
    ``waypoints``: WAYPOINTS_SCHEMA rows re-emitted ahead of the tracks
    (GPX 1.1 element order: wpt then trk).

    The engine-native sink is a new table snapshot (plans.checkpoint);
    this exists so a user of the reference can still export GPX files.
    """
    from xml.sax.saxutils import escape, quoteattr

    from gotrackmaster_spark.schemas import GO_ZERO_NS

    nest: dict[int, dict[int, list]] = {}
    for r in rows:
        nest.setdefault(r.trk_no, {}).setdefault(r.seg_no, []).append(r)
    out = ['<?xml version="1.0" encoding="UTF-8"?>']
    out.append(
        f'<gpx version="1.1" creator="{creator}" '
        'xmlns="http://www.topografix.com/GPX/1/1">'
    )
    for w in sorted(waypoints or [], key=lambda w: w.wpt_idx):
        out.append(f'  <wpt lat="{_fmt_float(w.lat)}" lon="{_fmt_float(w.lon)}">')
        if w.ele is not None:
            out.append(f"    <ele>{_fmt_float(w.ele)}</ele>")
        if w.ts_ns is not None and w.ts_ns != GO_ZERO_NS:
            out.append(f"    <time>{_fmt_time_ns(w.ts_ns)}</time>")
        if w.name is not None:
            out.append(f"    <name>{escape(w.name)}</name>")
        if w.link_href is not None:
            out.append(f"    <link href={quoteattr(w.link_href)}/>")
        out.append("  </wpt>")
    for trk_no in sorted(nest):
        out.append("  <trk>")
        for seg_no in sorted(nest[trk_no]):
            out.append("    <trkseg>")
            for p in sorted(nest[trk_no][seg_no], key=lambda r: r.pt_idx):
                out.append(
                    f'      <trkpt lat="{_fmt_float(p.lat)}" lon="{_fmt_float(p.lon)}">'
                )
                out.append(f"        <ele>{_fmt_float(p.ele)}</ele>")
                if p.ts_ns is not None and p.ts_ns != GO_ZERO_NS:
                    out.append(f"        <time>{_fmt_time_ns(p.ts_ns)}</time>")
                out.append("      </trkpt>")
            out.append("    </trkseg>")
        out.append("  </trk>")
    out.append("</gpx>")
    return "\n".join(out)


def write_gpx_files(points_df, tracks_df, out_dir: str, waypoints_df=None) -> int:
    """Distributed GPX export: one file per track via applyInPandas over
    track groups (each file is one group — the reference's per-file loop
    inverted).  ``waypoints_df`` (WAYPOINTS_SCHEMA) re-emits each track's
    top-level waypoints so a parse → repair → write round trip is lossless.
    Returns the number of files written.

    Fully distributed — NO driver-side collect: the creator dimension
    JOINS into the point rows and waypoints ride along as discriminated
    rows ("kind" column) unioned into the same grouped frame, so a
    10⁶-track export ships no O(tracks) closure dict to every task.
    Waypoint counts are handfuls per file, so the union adds negligible
    rows; each group still materializes exactly one file.
    """
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    creator_dim = tracks_df.select("track_id", "creator")
    # ts_ns travels as STRING through the grouped frame: one NULL ts_ns
    # anywhere in a group (schema-legal on waypoints) would coerce the
    # whole int64 column to float64 in Arrow->pandas, rounding point
    # timestamps (~1.7e18 ns > 2^53) to multiples of 512 ns and breaking
    # the lossless round trip.  Strings are exact; fn parses them back.
    pts = points_df.join(creator_dim, "track_id", "left").select(
        "track_id", "creator",
        F.lit("p").alias("kind"),
        "trk_no", "seg_no", "pt_idx",
        "lat", "lon", "ele",
        F.col("ts_ns").cast("string").alias("ts_ns"),
        F.lit(None).cast("int").alias("wpt_idx"),
        F.lit(None).cast("string").alias("wname"),
        F.lit(None).cast("string").alias("link_href"),
    )
    unioned = pts
    if waypoints_df is not None:
        w = waypoints_df.join(creator_dim, "track_id", "left").select(
            "track_id", "creator",
            F.lit("w").alias("kind"),
            F.lit(None).cast("int").alias("trk_no"),
            F.lit(None).cast("int").alias("seg_no"),
            F.lit(None).cast("int").alias("pt_idx"),
            "lat", "lon", "ele",
            F.col("ts_ns").cast("string").alias("ts_ns"),
            "wpt_idx",
            F.col("name").alias("wname"),
            "link_href",
        )
        unioned = unioned.unionByName(w)

    def fn(key, pdf):
        import types

        cr = pdf["creator"].dropna()
        creator = str(cr.iloc[0]) if len(cr) else "gotrackmaster-spark"
        # parse the string-transported ts_ns back to exact python ints —
        # dtype=object is load-bearing: a Series of ints + None would be
        # INFERRED as float64 (NaN for null), re-losing the very ns
        # precision the string transport protects
        pdf = pdf.assign(
            ts_ns=pd.Series(
                [None if pd.isna(v) else int(v) for v in pdf["ts_ns"]],
                index=pdf.index,
                dtype=object,
            )
        )
        p = pdf[pdf["kind"] == "p"]
        rows = list(p.sort_values(["trk_no", "seg_no", "pt_idx"]).itertuples())
        wl = None
        wp = pdf[pdf["kind"] == "w"]
        if len(wp):
            # rebuild typed waypoint records (pandas turns nullable cols
            # into NaN floats; points_to_gpx_xml tests `is not None`)
            wl = [
                types.SimpleNamespace(
                    wpt_idx=int(r["wpt_idx"]),
                    lat=float(r["lat"]),
                    lon=float(r["lon"]),
                    ele=None if pd.isna(r["ele"]) else float(r["ele"]),
                    ts_ns=None if pd.isna(r["ts_ns"]) else int(r["ts_ns"]),
                    name=None if pd.isna(r["wname"]) else str(r["wname"]),
                    link_href=None if pd.isna(r["link_href"]) else str(r["link_href"]),
                )
                for r in wp.to_dict("records")
            ]
        xml_text = points_to_gpx_xml(rows, creator, waypoints=wl)
        safe = str(key[0]).replace("/", "_")
        path = os.path.join(out_dir, f"{safe}.gpx")
        with open(path, "w") as f:
            f.write(xml_text)
        return pd.DataFrame({"track_id": [key[0]], "path": [path]})

    res = unioned.groupBy("track_id").applyInPandas(fn, "track_id string, path string")
    return res.count()


# --------------------------------------------------------------- discovery ---

def discover_gpx_files(root_dir: str) -> list[str]:
    """S2 — recursive directory walk keeping GPX files, sorted (the
    reference walks with Unsorted=false and keeps mimetype
    application/gpx+xml / text/xml, lib/utils.go:51-92; extension +
    header sniff stands in for the mimetype probe)."""
    import os

    out = []
    for dirpath, _dirs, files in sorted(os.walk(root_dir)):
        for f in sorted(files):
            if not f.lower().endswith(".gpx"):
                continue
            full = os.path.join(dirpath, f)
            try:
                with open(full, "rb") as fh:
                    head = fh.read(256)
            except OSError:
                continue
            if b"<?xml" in head or b"<gpx" in head:
                out.append(full)
    return sorted(out)


# -------------------------------------------------- distributed bulk scan ---

SCAN_SCHEMA = (
    "track_id string, creator string, filename string, "
    "points array<struct<trk_no:int,seg_no:int,pt_idx:int,"
    "lat:double,lon:double,ele:double,ts_ns:long>>, "
    "waypoints array<struct<wpt_idx:int,lat:double,lon:double,ele:double,"
    "ts_ns:long,name:string,link_href:string>>"
)


def gpx_scan_distributed(spark, root_dir: str, with_errors: bool = False):
    """S1/S2 at engine scale: parse GPX files on the EXECUTORS.

    The driver-side ETL (`gpx_files_to_points_df`) parses in the driver
    process — fine for a directory, a bottleneck for 10⁶ files.  Here the
    file LISTING and the file BYTES are both distributed:
    ``spark.read.format("binaryFile")`` scans the tree (recursive,
    ``*.gpx`` pushed down as a path filter, so executors read only
    matching files), and each Arrow batch parses its files with the same
    stdlib parser the driver ETL uses — one composite row per file
    carrying the nested points/waypoints arrays.

    Returns the composite DataFrame (SCAN_SCHEMA).  Extract the three
    normalized tables with `scan_points` / `scan_tracks` /
    `scan_waypoints`; persist (or `Catalog.commit`) the composite first
    if you need more than one of them, so each file is parsed once.

    ``with_errors=True`` QUARANTINES malformed files instead of silently
    skipping them (the reference's readTrack err→skip,
    `/root/reference/lib/filedir.go` loop): bad files yield a row with
    empty arrays and the parse message in an ``error`` column, so a
    10⁶-file ingest can report/route rejects without failing the job —
    filter ``error IS NULL`` for the clean set.
    """
    import pandas as pd

    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.gpx")
        .option("recursiveFileLookup", "true")
        .load(root_dir)
        .select("path", "content")
    )

    def parse_batch(batches):
        cols = ("track_id", "creator", "filename", "points", "waypoints")
        if with_errors:
            cols = cols + ("error",)
        for pdf in batches:
            out = {k: [] for k in cols}
            for path, content in zip(pdf["path"], pdf["content"]):
                # binaryFile paths are URIs (file:/…) — strip the scheme
                fs_path = path.split("://", 1)[-1] if "://" in path else path
                if fs_path.startswith("file:"):
                    fs_path = fs_path[5:]
                try:
                    root = ET.fromstring(bytes(content))
                except ET.ParseError as e:
                    # mirrors the reference's readTrack err→skip; quarantine
                    # the reject instead when asked to
                    if with_errors:
                        out["track_id"].append(fs_path.rsplit("/", 1)[-1])
                        out["creator"].append("")
                        out["filename"].append(fs_path)
                        out["points"].append([])
                        out["waypoints"].append([])
                        out["error"].append(str(e))
                    continue
                tid = fs_path.rsplit("/", 1)[-1]
                parsed = ParsedTrack(track_id=tid, creator=root.get("creator", ""))
                _parse_gpx_tree(root, parsed)
                pts = [
                    {"trk_no": r[1], "seg_no": r[2], "pt_idx": r[3],
                     "lat": r[4], "lon": r[5], "ele": r[6], "ts_ns": r[7]}
                    for r in track_to_rows(parsed)
                ]
                wps = [
                    {"wpt_idx": r[1], "lat": r[2], "lon": r[3], "ele": r[4],
                     "ts_ns": r[5], "name": r[6], "link_href": r[7]}
                    for r in waypoint_rows(parsed)
                ]
                out["track_id"].append(tid)
                out["creator"].append(parsed.creator)
                out["filename"].append(fs_path)
                out["points"].append(pts)
                out["waypoints"].append(wps)
                if with_errors:
                    out["error"].append(None)
            # a batch whose files ALL failed to parse produces an empty
            # dict; an empty pd.DataFrame infers float64 columns, which
            # Arrow cannot convert to list<struct> — yield nothing instead
            # (previously this crashed the whole job when a partition held
            # only malformed files)
            if out["track_id"]:
                yield pd.DataFrame(out)

    schema = SCAN_SCHEMA + (", error string" if with_errors else "")
    return bf.mapInPandas(parse_batch, schema)


def scan_points(scan_df):
    """Explode a `gpx_scan_distributed` composite into POINTS_SCHEMA."""
    from pyspark.sql import functions as F

    p = scan_df.select("track_id", F.explode("points").alias("p"))
    return p.select(
        "track_id", "p.trk_no", "p.seg_no", "p.pt_idx",
        "p.lat", "p.lon", "p.ele", ts_from_ns(F.col("p.ts_ns")).alias("ts"), "p.ts_ns",
    )


def scan_tracks(scan_df):
    """TRACKS_SCHEMA from a composite scan; file_rank = rank of the path
    in sorted order (the reference's sorted directory walk).

    The rank is computed DISTRIBUTED: a global ``row_number`` window would
    funnel the whole file table through one task (10⁸ rows on a bulk
    import).  Instead: ``repartitionByRange(filename)`` (range boundaries
    respect the sort order, so partition id extends filename order) →
    per-partition ``row_number`` → exclusive per-partition-count offsets
    (one ordered window over O(#partitions) rows).  The rank values are
    invariant to where the sampled range boundaries land, so the output
    is identical to the single-window form (pinned in
    tests/test_gpx_sink.py)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = scan_df.select("track_id", "creator", "filename")
    part = base.repartitionByRange("filename").withColumn(
        "_pid", F.spark_partition_id()
    )
    win = Window.partitionBy("_pid").orderBy("filename")
    inner = part.withColumn("_ir", F.row_number().over(win))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        part.groupBy("_pid")
        .agg(F.count("*").alias("_g"))
        .select("_pid", F.coalesce(F.sum("_g").over(woff), F.lit(0)).alias("_off"))
    )
    return inner.join(F.broadcast(offs), "_pid").select(
        "track_id", "creator", "filename",
        (F.col("_off") + F.col("_ir") - 1).cast("int").alias("file_rank"),
    )


def scan_waypoints(scan_df):
    """WAYPOINTS_SCHEMA from a composite scan."""
    from pyspark.sql import functions as F

    wdf = scan_df.select("track_id", F.explode("waypoints").alias("w"))
    return wdf.select(
        "track_id", "w.wpt_idx", "w.lat", "w.lon", "w.ele",
        ts_from_ns(F.col("w.ts_ns")).alias("ts"), "w.ts_ns", "w.name", "w.link_href",
    )
