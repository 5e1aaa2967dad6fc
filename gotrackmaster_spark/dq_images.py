"""Image payload queries (decode-pass kernels with pixel-generator oracles) — split from driver_queries.py (round 4 registry
hygiene); star-re-exported by gotrackmaster_spark.driver_queries, which
remains the single public surface.  See driver_queries.py for the
determinism rules every query/oracle pair follows."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotrackmaster_spark.caching import make_bounded_cache
from gotrackmaster_spark.functions.cells import cell_col, cell_sql
from gotrackmaster_spark.functions.geodesy import (
    bearing_col,
    bearing_sql,
    distance_2d_col,
    distance_2d_sql,
    haversine_col,
    haversine_sql,
)
from gotrackmaster_spark.functions.tiles import (
    lat_tile_col,
    lat_tile_sql,
    lon_tile_col,
    lon_tile_sql,
    mercator_tile_cols,
    mercator_tile_sql,
    tile_name_col,
    tile_name_sql,
)

from gotrackmaster_spark.dq_common import *  # noqa: F401,F403,E402


def q_exact_dup_groups(spark, sf_dir):
    """Exact-dedup summary (n_docs, n_distinct, n_dup_groups) over the
    md5-groupBy plan.  The synthetic corpus has no exact dups, which made
    the r1 version of this query degenerate (n_dup_groups constant 0 — a
    parity pass with zero signal, the ppr_scores failure class); dups are
    now PLANTED deterministically by re-appending every ``doc_id % 97 ==
    0`` document (mirrored in the oracle), so the dup-group arm of the
    aggregate is actually exercised: n_dup_groups = ⌈|docs|/97⌉ exactly
    when the base corpus is distinct."""
    docs = _t(spark, sf_dir, "documents")
    planted = docs.select("text").unionAll(
        docs.filter(F.col("doc_id") % 97 == 0).select("text")
    )
    hashed = planted.select(F.md5(F.col("text")).alias("text_md5"))
    groups = hashed.groupBy("text_md5").agg(F.count("*").alias("n"))
    return groups.agg(
        F.sum("n").alias("n_docs"),
        F.count("*").alias("n_distinct"),
        F.count(F.when(F.col("n") > 1, 1)).alias("n_dup_groups"),
    )


SQL_EXACT_DUP_GROUPS = """
WITH planted AS (
  SELECT text FROM documents
  UNION ALL SELECT text FROM documents WHERE doc_id % 97 = 0
),
groups AS (
  SELECT md5(text) AS text_md5, count(*) AS n FROM planted GROUP BY 1
)
SELECT CAST(sum(n) AS BIGINT) AS n_docs, count(*) AS n_distinct,
       count(CASE WHEN n > 1 THEN 1 END) AS n_dup_groups
FROM groups
"""


def q_dup_components(spark, sf_dir):
    """Near-dup canonicalization: simhash pair edges → connected
    components (min-label propagation) → per-cluster size keyed by the
    canonical (min-id) root.  The oracle replays the same clustering as
    a recursive-CTE transitive closure over the identical edge set."""
    from gotrackmaster_spark.operators.graph import connected_components

    pairs = q_simhash_near_dups(spark, sf_dir)
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.groupBy(F.col("l").alias("root")).agg(
        F.count("*").alias("n_docs"),
        F.sum("v").alias("id_sum"),
    )


SQL_DUP_COMPONENTS = f"""
WITH RECURSIVE ed AS (
  SELECT a_id AS a, b_id AS b FROM ({SQL_SIMHASH_NEAR_DUPS}) s
  UNION
  SELECT b_id, a_id FROM ({SQL_SIMHASH_NEAR_DUPS}) s
),
nodes AS (SELECT DISTINCT a AS v FROM ed),
reach AS (
  SELECT v, v AS u FROM nodes
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN ed e ON e.a = r.u
),
comp AS (SELECT v, min(u) AS root FROM reach GROUP BY v)
SELECT root,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(v) AS BIGINT) AS id_sum
FROM comp GROUP BY root
"""

# --------------------------------------------------------------------------
# E7 — image payload: synthesize → encode (raw/png/qnt4) → decode → stats.
# The oracle recomputes decode-derived pixel sums from the closed-form
# pixel generator, cross-checking the whole encode→decode path in SQL.
# --------------------------------------------------------------------------

def q_image_stats(spark, sf_dir):
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=32, h=24)
    return decode_stats(imgs).select(
        "image_id", "fmt", "w", "h", "pixel_sum", "caption_len"
    )

SQL_IMAGE_STATS = f"""
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       {_IMG_W} AS w, {_IMG_H} AS h,
       CAST(CASE WHEN doc_id % 3 = 2
            THEN list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                          i -> {_PIX} - ({_PIX}) % 4))
            ELSE list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                          i -> {_PIX}))
       END AS BIGINT) AS pixel_sum,
       CAST(length(text) AS INT) AS caption_len
FROM documents
"""

# --------------------------------------------------------------------------
# North-star E2E fusion — geotagged IMAGE table → decode → degree-tile +
# cell assignment → per-tile aggregate (the "every image is geotagged and
# assigned to tiles" pipeline over the input_hint-shaped table, verified
# end-to-end: the oracle recomputes decode-derived pixel sums from the
# closed-form generator AND the tile/cell assignment from the geotags).
# --------------------------------------------------------------------------

def q_image_tiles(spark, sf_dir):
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = decode_stats(imgs).withColumn("img_key", _img_key_col())
    lat, lon = _img_geotag_cols(F.col("img_key"))
    tagged = st.withColumn("tile", tile_name_col(lat, lon, 1.0)).withColumn(
        "cell5", F.shiftright(cell_col(lat, lon, 12), 14)
    )
    return tagged.groupBy("tile").agg(
        F.count("*").alias("n_images"),
        F.sum("pixel_sum").alias("tot_pix"),
        F.countDistinct("cell5").alias("n_cells"),
        F.sum("caption_len").alias("sum_caption"),
    )


SQL_IMAGE_TILES = f"""
WITH per_image AS (
  SELECT doc_id,
         ((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0 AS lat,
         ((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0 AS lon,
         CASE WHEN doc_id % 3 = 2
              THEN list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX} - ({_PIX}) % 4))
              ELSE list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX}))
         END AS pixel_sum,
         length(text) AS caption_len
  FROM documents
),
tagged AS (
  SELECT {tile_name_sql('lat', 'lon', 1.0)} AS tile,
         ({cell_sql('lat', 'lon', 12)} >> 14) AS cell5,
         pixel_sum, caption_len
  FROM per_image
)
SELECT tile, count(*) AS n_images,
       CAST(sum(pixel_sum) AS BIGINT) AS tot_pix,
       count(DISTINCT cell5) AS n_cells,
       CAST(sum(caption_len) AS BIGINT) AS sum_caption
FROM tagged GROUP BY tile
"""


def q_zonal_image_stats(spark, sf_dir):
    """E2×E7 — zonal statistics over the IMAGE PAYLOAD: geotagged images
    PIP-joined against the polygon layer, per-polygon pixel/caption
    roll-up.  The pixel sums come from the REAL decode path
    (`decode_stats` over the payload bytes), the join is the broadcast
    packed-covering PIP — binary columns flow through the same spatial
    machinery as points."""
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images
    from gotrackmaster_spark.operators.spatial import point_in_polygon_join

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = decode_stats(imgs).withColumn("img_key", _img_key_col())
    g_lat, g_lon = _img_geotag_cols(F.col("img_key"))
    pts = st.select(
        "image_id", "pixel_sum", "caption_len",
        g_lat.alias("lat"), g_lon.alias("lon"),
    )
    hits = point_in_polygon_join(pts, rect_polygons(spark, sf_dir), level=7)
    return hits.groupBy("poly_id").agg(
        F.count("*").alias("n_images"),
        F.sum("pixel_sum").alias("tot_pix"),
        F.sum("caption_len").alias("sum_caption"),
    )


SQL_ZONAL_IMAGE_STATS = f"""
WITH per_image AS (
  SELECT doc_id,
         ((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0 AS lat,
         ((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0 AS lon,
         CASE WHEN doc_id % 3 = 2
              THEN list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX} - ({_PIX}) % 4))
              ELSE list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX}))
         END AS pixel_sum,
         length(text) AS caption_len
  FROM documents
),
rects AS ({_RECT_SQL})
SELECT r.poly_id, count(*) AS n_images,
       CAST(sum(g.pixel_sum) AS BIGINT) AS tot_pix,
       CAST(sum(g.caption_len) AS BIGINT) AS sum_caption
FROM per_image g JOIN rects r
  ON g.lat > r.lat0 AND g.lat < r.lat1 AND g.lon > r.lon0 AND g.lon < r.lon1
GROUP BY r.poly_id
"""


# --------------------------------------------------------------------------
# E7 image near-dup — phash banded join over base images + planted variants.
# The variants go through the REAL payload path (decode → bump every 97th
# byte by +8 → re-encode → re-phash); the oracle replays the integer-exact
# 64-bit average-hash (bit k = 64·S_k > ΣS over block luma sums) from the
# closed-form pixel generator for both populations, then brute-forces all
# pairs — so a wrong hash, a wrong band split, or a lost candidate all
# hash-mismatch.
# --------------------------------------------------------------------------

_PH_EVERY = 5  # every 5th image gets a planted near-dup variant
_PH_MAXHAM = 10


def q_phash_near_dups(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        phash_near_dups,
        synthesize_image_variants,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    cols = ["img_key", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    both = imgs.select(*cols).unionByName(
        synthesize_image_variants(imgs, every=_PH_EVERY)
    )
    return phash_near_dups(both, max_hamming=_PH_MAXHAM)


def _phash_bs_sql(pix: str) -> str:
    """DuckDB expression for the 64 block luma sums of the integer-exact
    average-hash, given a pixel expression ``pix`` in terms of lambda var
    ``f`` (flat byte index) and the outer column ``doc_id``.  Mirrors
    images.phash64_batch: luma = (299R+587G+114B)//1000 over an 8×8 block
    grid (blocks are h/8×w/8 strips)."""
    h8, w8 = _IMG_H // 8, _IMG_W // 8  # 3 x 4 pixels per block
    y = f"((k // 8) * {h8} + (t // {w8}))"
    x = f"((k % 8) * {w8} + (t % {w8}))"
    f0 = f"(3 * (({y}) * {_IMG_W} + ({x})))"
    luma = (
        f"((299 * ({pix.replace('{f}', f0)}) "
        f"+ 587 * ({pix.replace('{f}', f'({f0} + 1)')}) "
        f"+ 114 * ({pix.replace('{f}', f'({f0} + 2)')})) // 1000)"
    )
    return (
        f"list_transform(generate_series(0, 63), k -> "
        f"list_sum(list_transform(generate_series(0, {h8 * w8 - 1}), t -> {luma})))"
    )


# phash from the 64 block sums: bit k set iff 64·S_k > ΣS; bit 63 carries
# the int64 sign (numpy's 1<<63 weight wraps signed — replayed exactly)
_PHASH_FROM_BS = (
    "CAST(CASE WHEN 64 * bs[64] > tot THEN -9223372036854775807 - 1 ELSE 0 END "
    "+ list_sum(list_transform(generate_series(1, 63), k -> "
    "CASE WHEN 64 * bs[k] > tot THEN (CAST(1 AS BIGINT) << (k - 1)) ELSE 0 END)) "
    "AS BIGINT)"
)


# decoded pixel at flat index {f}: generator, then qnt4 quantization
_PIX_F = "((doc_id * 31 + ({f}) * 2654435761) % 256)"
_PIX_DEC = (
    f"(CASE WHEN doc_id % 3 = 2 THEN {_PIX_F} - ({_PIX_F}) % 4 ELSE {_PIX_F} END)"
)
# base phash is over the ORIGINAL (pre-encode) pixels, variant phash over
# the decoded-then-bumped pixels — exactly what the Spark path computes
_PIX_VAR = f"(CASE WHEN ({{f}}) % 97 = 0 THEN ({_PIX_DEC} + 8) % 256 ELSE {_PIX_DEC} END)"

SQL_PHASH_NEAR_DUPS = f"""
WITH base_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_F)} AS bs FROM documents
),
var_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_VAR)} AS bs
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
),
base AS (
  SELECT format('img{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM base_bs)
),
vars AS (
  SELECT format('var{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM var_bs)
),
all_imgs AS (SELECT * FROM base UNION ALL SELECT * FROM vars)
SELECT a.image_id AS a_id, b.image_id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM all_imgs a JOIN all_imgs b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PH_MAXHAM}
"""


# cluster radius is TIGHTER than pair-detection radius (standard dedup
# practice): at the detection radius the random-pair tail chains clusters
# into >50-diameter paths; ≤4 keeps the planted variants (median planted
# hamming = 1) and converges in diameter rounds
_CLUSTER_MAXHAM = 4


def q_image_dup_components(spark, sf_dir):
    """Image near-dup canonicalization: phash chunk-join pairs →
    connected components → per-cluster roll-up keyed by the canonical
    image.  The keep-best rank is (resolution desc, image_id asc); the
    synthetic corpus is single-resolution so it collapses to min id,
    which lands every planted variant ("varNNNNNNNN") on its base
    ("imgNNNNNNNN" sorts first).  Oracle replays the identical edge set
    (full phash pipeline) through a recursive-CTE transitive closure."""
    from gotrackmaster_spark.operators.graph import connected_components

    pairs = (
        q_phash_near_dups(spark, sf_dir)
        .filter(F.col("hamming") <= _CLUSTER_MAXHAM)
        .select("a_id", "b_id")
    )
    comp = connected_components(pairs, "a_id", "b_id")
    return comp.groupBy(F.col("l").alias("canonical")).agg(
        F.count("*").alias("n_images"),
        F.max("v").alias("max_id"),
    )


# concatenated (not an f-string): SQL_PHASH_NEAR_DUPS carries literal
# format() braces that a second f-string pass would mangle
SQL_IMAGE_DUP_COMPONENTS = (
    """
WITH RECURSIVE pairs AS MATERIALIZED (
  SELECT a_id, b_id FROM ("""
    + SQL_PHASH_NEAR_DUPS
    + """) p WHERE p.hamming <= """ + str(_CLUSTER_MAXHAM) + """
),
ed AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
nodes AS (SELECT DISTINCT a AS v FROM ed),
reach AS (
  SELECT v, v AS u FROM nodes
  UNION
  SELECT r.v, e.b AS u FROM reach r JOIN ed e ON e.a = r.u
),
comp AS (SELECT v, min(u) AS root FROM reach GROUP BY v)
SELECT root AS canonical,
       CAST(count(*) AS BIGINT) AS n_images,
       max(v) AS max_id
FROM comp GROUP BY root
"""
)


# --------------------------------------------------------------------------
# E7+dedup — JOINT multimodal near-dup: image-signature candidates
# (phash chunk join, pigeonhole-exact) verified on the caption text
# (token-set Jaccard).  The north rule's image+caption pairing as one
# dedup operator: the cheap 64-bit visual signature proposes, the text
# channel disposes — pairs that look alike but say different things are
# flagged is_joint = false.  Same candidate topology as phash_near_dups
# (no cross join; O(pairs) caption joins), so the 100 TB shape is
# unchanged; captions join by id AFTER candidate pruning, never pairwise.
# --------------------------------------------------------------------------

_MM_JAC = 0.8


def q_multimodal_near_dups(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        phash_near_dups,
        synthesize_image_variants,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    cols = ["img_key", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    both = imgs.select(*cols).unionByName(
        synthesize_image_variants(imgs, every=_PH_EVERY)
    )
    pairs = phash_near_dups(both, max_hamming=_PH_MAXHAM)
    caps = both.select(
        "image_id", F.array_distinct(F.split("caption", " ")).alias("toks")
    )
    j = pairs.join(
        caps.select(F.col("image_id").alias("a_id"), F.col("toks").alias("a_toks")),
        "a_id",
    ).join(
        caps.select(F.col("image_id").alias("b_id"), F.col("toks").alias("b_toks")),
        "b_id",
    )
    jac = F.size(F.array_intersect("a_toks", "b_toks")) / F.size(
        F.array_union("a_toks", "b_toks")
    )
    return j.select(
        "a_id", "b_id", "hamming",
        F.round(jac, 6).alias("jac_r"),
        (jac >= F.lit(_MM_JAC)).alias("is_joint"),
    )


_MM_JACCARD_SQL = (
    "len(list_intersect(ca.toks, cb.toks)) * 1.0 "
    "/ len(list_distinct(list_concat(ca.toks, cb.toks)))"
)

SQL_MULTIMODAL_NEAR_DUPS = f"""
WITH base_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_F)} AS bs FROM documents
),
var_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_VAR)} AS bs
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
),
base AS (
  SELECT format('img{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM base_bs)
),
vars AS (
  SELECT format('var{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM var_bs)
),
all_imgs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
caps AS (
  SELECT format('img{{:08d}}', doc_id) AS image_id,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents
  UNION ALL
  SELECT format('var{{:08d}}', doc_id),
         list_distinct(string_split(text, ' '))
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
),
pairs AS (
  SELECT a.image_id AS a_id, b.image_id AS b_id,
         CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
  FROM all_imgs a JOIN all_imgs b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {_PH_MAXHAM}
)
SELECT p.a_id, p.b_id, p.hamming,
       round({_MM_JACCARD_SQL}, 6) AS jac_r,
       ({_MM_JACCARD_SQL}) >= {_MM_JAC!r} AS is_joint
FROM pairs p
JOIN caps ca ON ca.image_id = p.a_id
JOIN caps cb ON cb.image_id = p.b_id
"""


# --------------------------------------------------------------------------
# Multimodal driver trio — promotes the mapInPandas payload operators
# (operators/multimodal.py: resize, video frame-sample, audio features)
# from plumbing-tests-only to oracle-checked.  All payloads derive from
# the closed-form generators, so DuckDB can replay decode→transform→
# aggregate exactly (same contract as SQL_IMAGE_STATS).
# --------------------------------------------------------------------------

_RS_W, _RS_H = 8, 6  # 32x24 -> 8x6: 4x4 block mean (exact: sum // 16)


def q_image_resize_stats(spark, sf_dir):
    """Decode (raw/png/qnt4) -> 4x4 block-mean resize -> per-image pixel
    sum of the 8x6 thumbnail.  Exercises resize_images end-to-end; the
    oracle recomputes the truncated block means from the pixel formula."""
    import numpy as np
    import pandas as pd

    from gotrackmaster_spark.operators.images import synthesize_images
    from gotrackmaster_spark.operators.multimodal import resize_images

    imgs = synthesize_images(spark, sf_dir, w=32, h=24)
    small = resize_images(
        imgs.select("image_id", "fmt", "w", "h", "bytes"), out_w=_RS_W, out_h=_RS_H
    )

    def sums(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            stack = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["bytes"]]
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "fmt": pdf["fmt"],
                    "w": pdf["w"].astype("int32"),
                    "h": pdf["h"].astype("int32"),
                    "small_sum": stack.sum(axis=1),
                }
            )

    return small.mapInPandas(
        sums, "image_id string, fmt string, w int, h int, small_sum long"
    )


# out-pixel j in flattened (6, 8, 3): oy = j//24, ox = (j//3)%8, c = j%3;
# block element b in 0..15: dy = b//4, dx = b%4; source flat index =
# ((oy*4+dy)*32 + (ox*4+dx))*3 + c.  uint8 cast of a /16 mean truncates,
# and sum//16 == floor(mean) for non-negative ints.
_RS_IDX = "(((((j // 24) * 4 + b // 4) * 32) + ((j // 3) % 8) * 4 + b % 4) * 3 + j % 3)"
_RS_PIX = f"((doc_id * 31 + {_RS_IDX} * 2654435761) % 256)"

SQL_IMAGE_RESIZE_STATS = f"""
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       {_RS_W} AS w, {_RS_H} AS h,
       CAST(list_sum(list_transform(generate_series(0, {_RS_W * _RS_H * 3 - 1}), j ->
            list_sum(list_transform(generate_series(0, 15), b ->
                CASE WHEN doc_id % 3 = 2
                     THEN {_RS_PIX} - ({_RS_PIX}) % 4
                     ELSE {_RS_PIX} END)) // 16)) AS BIGINT) AS small_sum
FROM documents
"""


def q_video_frame_stats(spark, sf_dir):
    """Synthesize closed-form video payloads (byte t = (key*131 +
    t*2654435761) % 256, length 64 + key%64, n_frames 1 + key%25), sample
    every 10th frame via sample_video_frames' deterministic decoder
    (frame k = payload viewed as a repeating stream offset k), and sum
    each 16x12x3 frame."""
    import numpy as np
    import pandas as pd

    from gotrackmaster_spark.operators.multimodal import sample_video_frames

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("key")
    )
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)

    def gen(batches):
        for pdf in batches:
            out = []
            for key in pdf["key"]:
                key = int(key)
                t = np.arange(64 + key % 64, dtype=np.int64)
                buf = ((key * 131 + t * 2654435761) % 256).astype(np.uint8)
                out.append(
                    {
                        "video_id": f"vid{key:08d}",
                        "bytes": buf.tobytes(),
                        "n_frames": 1 + key % 25,
                    }
                )
            if out:
                yield pd.DataFrame(out)

    videos = docs.mapInPandas(gen, "video_id string, bytes binary, n_frames int")
    frames = sample_video_frames(videos, every_n=10)

    def sums(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            stack = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["frame"]]
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "video_id": pdf["video_id"],
                    "frame_idx": pdf["frame_idx"].astype("int32"),
                    "frame_sum": stack.sum(axis=1),
                }
            )

    return frames.mapInPandas(sums, "video_id string, frame_idx int, frame_sum long")


# tiled payload element (k+u) wraps mod payload length L
SQL_VIDEO_FRAME_STATS = """
WITH v AS (
  SELECT doc_id, 64 + doc_id % 64 AS L, 1 + doc_id % 25 AS nf FROM documents
),
f AS (
  SELECT doc_id, L, unnest(generate_series(0, nf - 1, 10)) AS k FROM v
)
SELECT format('vid{:08d}', doc_id) AS video_id,
       CAST(k AS INT) AS frame_idx,
       CAST(list_sum(list_transform(generate_series(0, 575), u ->
            (doc_id * 131 + ((k + u) % L) * 2654435761) % 256)) AS BIGINT) AS frame_sum
FROM f
"""


def q_audio_window_stats(spark, sf_dir):
    """Synthesize closed-form int16 PCM (sample j = (key*7 + j*48271) %
    65536 - 32768, 1 + key%4 windows of 256) and run audio_features:
    per-window RMS + zero-crossing rate.  Both engines' float paths are
    exact-until-sqrt (integer squares sum below 2^53), so the doubles are
    bit-equal."""
    import numpy as np
    import pandas as pd

    from gotrackmaster_spark.operators.multimodal import audio_features

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("key")
    )
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)

    def gen(batches):
        for pdf in batches:
            out = []
            for key in pdf["key"]:
                key = int(key)
                j = np.arange(256 * (1 + key % 4), dtype=np.int64)
                pcm = (((key * 7 + j * 48271) % 65536) - 32768).astype(np.int16)
                out.append({"audio_id": f"aud{key:08d}", "bytes": pcm.tobytes()})
            if out:
                yield pd.DataFrame(out)

    audio = docs.mapInPandas(gen, "audio_id string, bytes binary")
    return audio_features(audio, frame=256)


SQL_AUDIO_WINDOW_STATS = """
WITH w AS (
  SELECT doc_id, unnest(generate_series(0, doc_id % 4)) AS win FROM documents
),
s AS (
  SELECT doc_id, win,
         list_transform(generate_series(0, 255), j ->
             ((doc_id * 7 + (win * 256 + j) * 48271) % 65536) - 32768) AS xs
  FROM w
)
SELECT format('aud{:08d}', doc_id) AS audio_id,
       CAST(win AS INT) AS win,
       sqrt(list_sum(list_transform(xs, x -> CAST(x AS DOUBLE) * x)) / 256.0) AS rms,
       list_sum(list_transform(generate_series(1, 255), j ->
           CASE WHEN (xs[j] < 0) != (xs[j + 1] < 0) THEN 1 ELSE 0 END)) / 255.0 AS zcr
FROM s
"""


# --------------------------------------------------------------------------
# E7b — lossy-codec PSNR gate as a driver row (input_hint: "decoded-pixel
# allclose, PSNR>=40dB for lossy").  The Spark side measures the REAL
# decode against freshly generated reference pixels (so a codec bug moves
# the number); the oracle replays the qnt4 quantization error (pix % 4)
# in closed form.  log10 may differ in the last ULP between engines, so
# psnr_db is rounded to 1e-6 dB (error ~1e-13 dB).
# --------------------------------------------------------------------------


def q_image_psnr(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from gotrackmaster_spark.operators.images import (
        decode_image,
        gen_pixels,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H).filter(
        F.col("fmt") == "qnt4"
    )

    def err(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for r in pdf.itertuples(index=False):
                got = decode_image(r.bytes, r.w, r.h, r.fmt).astype(np.int64)
                ref = gen_pixels(int(r.img_key), r.w, r.h).astype(np.int64)
                out.append(
                    {"image_id": r.image_id, "err_sum": int(((got - ref) ** 2).sum())}
                )
            yield pd.DataFrame(out)

    stats = imgs.mapInPandas(err, "image_id string, err_sum long")
    mse = F.col("err_sum") / F.lit(float(_N_PIX))
    psnr = F.round(F.lit(10.0) * F.log10(F.lit(255.0 * 255.0) / mse), 6)
    return stats.select(
        "image_id",
        "err_sum",
        psnr.alias("psnr_db"),
        (psnr >= 40.0).alias("meets_bar"),
    )


SQL_IMAGE_PSNR = f"""
WITH q AS (
  SELECT format('img{{:08d}}', doc_id) AS image_id,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}), i ->
              (({_PIX}) % 4) * (({_PIX}) % 4))) AS BIGINT) AS err_sum
  FROM documents WHERE doc_id % 3 = 2
)
SELECT image_id, err_sum,
       round(10.0 * log10(255.0 * 255.0 / (err_sum / {float(_N_PIX)})), 6) AS psnr_db,
       round(10.0 * log10(255.0 * 255.0 / (err_sum / {float(_N_PIX)})), 6) >= 40.0 AS meets_bar
FROM q
"""


# --------------------------------------------------------------------------
# E7×E1 crossover — geo-constrained visual near-dups: same level-5 cell
# AND phash hamming <= 10.  The spatial cell replaces phash banding as
# the candidate cutter (one equi-join on the cell id); planted variants
# share their base's geotag, so every planted pair survives the geo
# constraint.  The oracle replays phash from the closed-form pixel
# generator AND the cell assignment from the geotags.
# --------------------------------------------------------------------------

def q_geo_phash_near_dups(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        geo_phash_near_dups,
        synthesize_image_variants,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    cols = ["img_key", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    both = imgs.select(*cols).unionByName(
        synthesize_image_variants(imgs, every=_PH_EVERY)
    )
    lat, lon = _img_geotag_cols(F.col("img_key"))
    sig = both.select(
        "image_id",
        "phash",
        F.shiftright(cell_col(lat, lon, 12), 14).alias("cell"),
    )
    return geo_phash_near_dups(sig, max_hamming=_PH_MAXHAM)


SQL_GEO_PHASH_NEAR_DUPS = f"""
WITH base_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_F)} AS bs FROM documents
),
var_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_VAR)} AS bs
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
),
base AS (
  SELECT doc_id, format('img{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM base_bs)
),
vars AS (
  SELECT doc_id, format('var{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM var_bs)
),
all_imgs AS (SELECT * FROM base UNION ALL SELECT * FROM vars),
geo AS (
  SELECT image_id, phash, ({{CELL}} >> 14) AS cell
  FROM (
    SELECT image_id, phash,
           ((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0 AS lat,
           ((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0 AS lon
    FROM all_imgs
  )
)
SELECT a.image_id AS a_id, b.image_id AS b_id,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
       a.cell AS cell
FROM geo a JOIN geo b ON a.cell = b.cell AND a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_PH_MAXHAM}
""".replace("{CELL}", cell_sql("lat", "lon", 12))


# --------------------------------------------------------------------------
# E7c — per-tile best-image mosaic selection: the basemap-mosaic
# primitive (pick the k best geotagged images per map tile, quality
# ordered, deterministic tie-break) via the SALTED two-phase top-k
# (operators/skew.py::salted_topk_per_key) so a hot tile (downtown at
# 10^12 images) never funnels through one reducer.  Quality score is a
# deterministic proxy (phash popcount ‖ keyed jitter) standing in for a
# decoded-sharpness metric; the oracle replays phash + geotags exactly
# and ranks with a plain window (salting is result-invariant).
# --------------------------------------------------------------------------

_MOSAIC_K = 3
_MOSAIC_LEVEL = 3  # 8x8 world grid -> multiple images per tile at sf0.01


def q_mosaic_topk(spark, sf_dir):
    from gotrackmaster_spark.operators.images import synthesize_images
    from gotrackmaster_spark.operators.skew import salted_topk_per_key

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    scored = imgs.select(
        "image_id",
        cell_col(F.col("lat"), F.col("lon"), _MOSAIC_LEVEL).alias("tile"),
        (
            F.bit_count(F.col("phash")).cast("long") * 10000
            + (F.col("img_key") * 48271) % 10000
        ).alias("score"),
        F.length("caption").cast("int").alias("caption_len"),
    )
    top = salted_topk_per_key(
        scored,
        ["tile"],
        [F.col("score").desc(), F.col("image_id").asc()],
        k=_MOSAIC_K,
        n_salt=8,
        salt_by="image_id",
        rank_col="mosaic_rank",
    )
    return top.select(
        "tile",
        F.col("mosaic_rank").cast("int").alias("mosaic_rank"),
        "image_id",
        "score",
        "caption_len",
    )


SQL_MOSAIC_TOPK = f"""
WITH base_bs AS (
  SELECT doc_id, length(text) AS caption_len, {_phash_bs_sql(_PIX_F)} AS bs
  FROM documents
),
base AS (
  SELECT doc_id, caption_len,
         format('img{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, caption_len, bs, list_sum(bs) AS tot FROM base_bs)
),
scored AS (
  SELECT image_id,
         {cell_sql('lat', 'lon', _MOSAIC_LEVEL)} AS tile,
         CAST(bit_count(phash) AS BIGINT) * 10000 + (doc_id * 48271) % 10000 AS score,
         CAST(caption_len AS INT) AS caption_len
  FROM (
    SELECT image_id, phash, doc_id, caption_len,
           ((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0 AS lat,
           ((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0 AS lon
    FROM base
  )
)
SELECT tile,
       CAST(row_number() OVER (PARTITION BY tile ORDER BY score DESC, image_id) AS INT)
         AS mosaic_rank,
       image_id, score, caption_len
FROM scored
QUALIFY mosaic_rank <= {_MOSAIC_K}
"""


# --------------------------------------------------------------------------
# E7b — image QUALITY FUNNEL over decoded payloads: per format, how many
# images survive each gate and all gates — the payload-side analogue of
# the text filter funnel.  The variance gate is integer-exact
# (N·Σx² − (Σx)², no floating point); the phash-balance gate checks the
# 64-bit signature is not degenerate; the caption gate is a length
# floor.  The oracle replays pixel sums, squared sums (with the qnt4
# quantization branch) and the phash from the closed-form generator.
# --------------------------------------------------------------------------

# The synthetic generator's pixel multiset is doc-independent (i·odd mod
# 256 cycles uniformly), so N²·var is CONSTANT per format: 28 990 586 880
# for raw/png, 28 983 951 360 for qnt4 (quantization loses variance) — a
# threshold between them makes the variance gate a real lossy-payload
# detector.  The phash and caption gates split on per-image variation.
_IQF_VAR_MIN = 28_990_000_000
_IQF_CAP_MIN = 200
_IQF_PH_LO, _IQF_PH_HI = 32, 40


def q_image_quality_funnel(spark, sf_dir):
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images

    st = decode_stats(synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H))
    nvar2 = F.lit(_N_PIX) * F.col("pixel_sq") - F.col("pixel_sum") * F.col("pixel_sum")
    pbits = F.bit_count(F.col("phash"))
    g_var = nvar2 >= F.lit(_IQF_VAR_MIN)
    g_cap = F.col("caption_len") >= _IQF_CAP_MIN
    g_ph = (pbits >= _IQF_PH_LO) & (pbits <= _IQF_PH_HI)
    one = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return st.groupBy("fmt").agg(
        F.count("*").alias("n_total"),
        one(g_var).alias("n_var_ok"),
        one(g_cap).alias("n_caption_ok"),
        one(g_ph).alias("n_phash_ok"),
        one(g_var & g_cap & g_ph).alias("n_all_ok"),
    )


SQL_IMAGE_QUALITY_FUNNEL = f"""
WITH base_bs AS (
  -- phash over the DECODED pixels (the engine hashes decode_stats
  -- output, which for qnt4 is quantized) — _PIX_DEC, not _PIX_F
  SELECT doc_id, {_phash_bs_sql(_PIX_DEC)} AS bs FROM documents
),
ph AS (
  SELECT doc_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM base_bs)
),
px AS (
  SELECT doc_id,
         ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
         list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                  i -> {_PIX_DEC.replace('{{f}}', 'i').replace('{f}', 'i')})) AS pixel_sum,
         list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                  i -> ({_PIX_DEC.replace('{{f}}', 'i').replace('{f}', 'i')})
                     * ({_PIX_DEC.replace('{{f}}', 'i').replace('{f}', 'i')}))) AS pixel_sq,
         length(text) AS caption_len
  FROM documents
),
j AS (
  SELECT px.fmt,
         {_N_PIX} * px.pixel_sq - px.pixel_sum * px.pixel_sum AS nvar2,
         px.caption_len, bit_count(ph.phash) AS pbits
  FROM px JOIN ph USING (doc_id)
)
SELECT fmt, count(*) AS n_total,
       CAST(sum(CASE WHEN nvar2 >= {_IQF_VAR_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS n_var_ok,
       CAST(sum(CASE WHEN caption_len >= {_IQF_CAP_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS n_caption_ok,
       CAST(sum(CASE WHEN pbits BETWEEN {_IQF_PH_LO} AND {_IQF_PH_HI} THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_ok,
       CAST(sum(CASE WHEN nvar2 >= {_IQF_VAR_MIN} AND caption_len >= {_IQF_CAP_MIN}
                      AND pbits BETWEEN {_IQF_PH_LO} AND {_IQF_PH_HI}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_all_ok
FROM j GROUP BY fmt
"""


def q_image_hotspots(spark, sf_dir):
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images
    from gotrackmaster_spark.operators.spatial import gi_star_hotspots

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = decode_stats(imgs).withColumn("img_key", _img_key_col())
    g_lat, g_lon = _img_geotag_cols(F.col("img_key"))
    cells = (
        st.select(F.col("pixel_sum"), g_lat.alias("lat"), g_lon.alias("lon"))
        .groupBy(
            F.floor(F.col("lon") / _IMG_HOT_G).cast("long").alias("gx"),
            F.floor(F.col("lat") / _IMG_HOT_G).cast("long").alias("gy"),
        )
        .agg(F.sum("pixel_sum").alias("cnt"))
    )
    out = gi_star_hotspots(cells)
    return out.select(
        "gx",
        "gy",
        F.col("cnt").alias("tot_pix"),
        "n_nbrs",
        F.round(F.col("z"), 4).alias("z_r"),
    )


SQL_IMAGE_HOTSPOTS = f"""
WITH per_image AS (
  SELECT ((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0 AS lat,
         ((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0 AS lon,
         CASE WHEN doc_id % 3 = 2
              THEN list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX} - ({_PIX}) % 4))
              ELSE list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX}))
         END AS pixel_sum
  FROM documents
),
cells AS (
  SELECT CAST(floor(lon / {_IMG_HOT_G}) AS BIGINT) AS gx,
         CAST(floor(lat / {_IMG_HOT_G}) AS BIGINT) AS gy,
         CAST(sum(pixel_sum) AS BIGINT) AS cnt
  FROM per_image GROUP BY 1, 2
),
off AS (SELECT dx - 1 AS dx, dy - 1 AS dy FROM range(3) t1(dx), range(3) t2(dy)),
nbr AS (
  SELECT gx + dx AS gx, gy + dy AS gy,
         sum(cnt) AS wsum, count(*) AS n_nbrs,
         max(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS occ,
         max(CASE WHEN dx = 0 AND dy = 0 THEN cnt END) AS cnt
  FROM cells, off GROUP BY 1, 2
),
occupied AS (SELECT * FROM nbr WHERE occ = 1),
st AS (
  SELECT count(*) AS n, sum(cnt) AS s1, sum(cnt * cnt) AS s2 FROM occupied
)
SELECT o.gx, o.gy, o.cnt AS tot_pix, o.n_nbrs,
       round(
         CASE WHEN n > 1 AND n * n_nbrs - n_nbrs * n_nbrs > 0
                   AND s2 / n - (s1 / n) * (s1 / n) > 0
              THEN (o.wsum - (s1 / n) * o.n_nbrs)
                   / (sqrt(s2 / n - (s1 / n) * (s1 / n))
                      * sqrt((n * n_nbrs - n_nbrs * n_nbrs) / (n - 1.0)))
         END, 4) AS z_r
FROM occupied o, st
"""


# --------------------------------------------------------------------------
# E7e — per-image histogram + gradient features
# (`images.pixel_feature_stats`): the texture/contrast leg of the image
# feature extractor over the REAL decode chain (raw/png/qnt4), built so
# every output is an exact integer (histogram mode/median/nonzero,
# Σ|Δ| / max / edge counts over channel-aligned ±3 / ±3w strides) or an
# exact-int ratio (Gini impurity (n²−Σc²)/n² — the entropy stand-in: a
# Shannon Σ c·log₂c is a float SUM whose accumulation order no SQL
# engine pins).  ONE decode pass; ~60 B/row output regardless of image
# size.  The oracle replays bins, window cumulative, lead-strides and
# the Gini division from the closed-form pixel generator.
# --------------------------------------------------------------------------


def q_image_pixel_features(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        pixel_feature_stats,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = pixel_feature_stats(imgs)
    n2 = F.col("n_pix") * F.col("n_pix")
    return st.select(
        "image_id",
        "fmt",
        "nonzero_bins",
        "mode_bin",
        "mode_count",
        "median_bin",
        "gx_sum",
        "gx_max",
        "gx_edges",
        "gy_sum",
        "gy_max",
        "gy_edges",
        ((n2 - F.col("hist_sq")) / n2).alias("gini"),
    )


SQL_IMAGE_PIXEL_FEATURES = f"""
WITH px AS (
  SELECT doc_id, i,
         CASE WHEN doc_id % 3 = 2 THEN {_PIX} - ({_PIX}) % 4
              ELSE {_PIX} END AS p
  FROM documents, range({_N_PIX}) t(i)
),
hist AS (SELECT doc_id, p // 16 AS b, count(*) AS c FROM px GROUP BY 1, 2),
hist2 AS (
  SELECT doc_id, b, c,
         max(c) OVER (PARTITION BY doc_id) AS mc,
         sum(c) OVER (PARTITION BY doc_id ORDER BY b) AS cum,
         sum(c) OVER (PARTITION BY doc_id) AS np
  FROM hist
),
hfeat AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS nonzero_bins,
         CAST(min(CASE WHEN c = mc THEN b END) AS BIGINT) AS mode_bin,
         CAST(max(mc) AS BIGINT) AS mode_count,
         CAST(min(CASE WHEN cum >= (np + 1) // 2 THEN b END) AS BIGINT) AS median_bin,
         CAST(sum(c * c) AS BIGINT) AS hist_sq,
         CAST(max(np) AS BIGINT) AS n_pix
  FROM hist2 GROUP BY doc_id
),
g AS (
  SELECT doc_id,
         abs(lead(p, 3) OVER w - p) AS dx,
         abs(lead(p, {3 * _IMG_W}) OVER w - p) AS dy
  FROM px
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
gfeat AS (
  SELECT doc_id,
         CAST(sum(dx) AS BIGINT) AS gx_sum, CAST(max(dx) AS BIGINT) AS gx_max,
         CAST(sum(CASE WHEN dx > 32 THEN 1 ELSE 0 END) AS BIGINT) AS gx_edges,
         CAST(sum(dy) AS BIGINT) AS gy_sum, CAST(max(dy) AS BIGINT) AS gy_max,
         CAST(sum(CASE WHEN dy > 32 THEN 1 ELSE 0 END) AS BIGINT) AS gy_edges
  FROM g GROUP BY doc_id
)
SELECT format('img{{:08d}}', h.doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(h.doc_id % 3 AS INT) + 1] AS fmt,
       h.nonzero_bins, h.mode_bin, h.mode_count, h.median_bin,
       g.gx_sum, g.gx_max, g.gx_edges, g.gy_sum, g.gy_max, g.gy_edges,
       (h.n_pix * h.n_pix - h.hist_sq) / (h.n_pix * h.n_pix) AS gini
FROM hfeat h JOIN gfeat g ON g.doc_id = h.doc_id
"""


# --------------------------------------------------------------------------
# E7c — pairwise structural similarity (`images.pairwise_ssim`): global
# SSIM between every planted variant and its base image over the REAL
# decode chain.  One equi-join on img_key builds the pairs, ONE
# mapInPandas pass decodes both payloads into five exact int64 moments,
# and the SSIM float algebra (only +,−,×,÷ on doubles, fixed order)
# runs in Catalyst — bit-identical in DuckDB from the closed-form
# generator (_PIX_DEC base vs _PIX_VAR bumped variant), NO rounding.
# --------------------------------------------------------------------------


def q_image_ssim(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        pairwise_ssim,
        synthesize_image_variants,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    variants = synthesize_image_variants(imgs, every=_PH_EVERY)
    base = imgs.filter(F.col("img_key") % _PH_EVERY == 0).select(
        "img_key",
        "image_id",
        F.col("bytes").alias("bytes_a"),
        "w",
        "h",
        F.col("fmt").alias("fmt_a"),
    )
    var = variants.select(
        "img_key", F.col("bytes").alias("bytes_b"), F.col("fmt").alias("fmt_b")
    )
    pairs = base.join(var, "img_key").select(
        F.col("image_id").alias("pair_id"),
        "bytes_a",
        "bytes_b",
        "w",
        "h",
        "fmt_a",
        "fmt_b",
    )
    out = pairwise_ssim(pairs)
    return out.select(
        F.col("pair_id").alias("image_id"),
        "sxy",
        "ssim",
        (F.col("ssim") >= 0.99).alias("near"),
    )


_SSIM_DEC = _PIX_DEC.replace("{f}", "i")
_SSIM_VAR = _PIX_VAR.replace("{f}", "i")
_SSIM_N = f"CAST({float(_N_PIX)} AS DOUBLE)"
_SSIM_MX = f"(sx / {_SSIM_N})"
_SSIM_MY = f"(sy / {_SSIM_N})"
_SSIM_EXPR = (
    f"((CAST(2.0 AS DOUBLE) * {_SSIM_MX} * {_SSIM_MY} + CAST(6.5025 AS DOUBLE))"
    f" * (CAST(2.0 AS DOUBLE) * (sxy / {_SSIM_N} - {_SSIM_MX} * {_SSIM_MY})"
    f"    + CAST(58.5225 AS DOUBLE)))"
    f" / (({_SSIM_MX} * {_SSIM_MX} + {_SSIM_MY} * {_SSIM_MY} + CAST(6.5025 AS DOUBLE))"
    f"    * ((sxx / {_SSIM_N} - {_SSIM_MX} * {_SSIM_MX})"
    f"       + (syy / {_SSIM_N} - {_SSIM_MY} * {_SSIM_MY}) + CAST(58.5225 AS DOUBLE)))"
)

SQL_IMAGE_SSIM = f"""
WITH m AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
              i -> {_SSIM_DEC})) AS BIGINT) AS sx,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
              i -> {_SSIM_VAR})) AS BIGINT) AS sy,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
              i -> {_SSIM_DEC} * {_SSIM_DEC})) AS BIGINT) AS sxx,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
              i -> {_SSIM_VAR} * {_SSIM_VAR})) AS BIGINT) AS syy,
         CAST(list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
              i -> {_SSIM_DEC} * {_SSIM_VAR})) AS BIGINT) AS sxy
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
)
SELECT format('img{{:08d}}', doc_id) AS image_id, sxy,
       {_SSIM_EXPR} AS ssim,
       {_SSIM_EXPR} >= CAST(0.99 AS DOUBLE) AS near
FROM m
"""


# --------------------------------------------------------------------------
# E7f — per-image GLCM texture features (`images.glcm_stats`): the
# second-order texture leg over the REAL decode chain — co-occurrence
# of 16-level pairs at the channel-aligned +3 stride, with contrast /
# diagonal / energy / inverse-difference-moment all reduced to exact
# integers (the IDM weight pre-quantized to quant DIV (1+d²)) so the
# DuckDB twin replays the co-occurrence matrix from the closed-form
# pixel generator bit-for-bit.  Float conveniences are single int
# divisions (long/long → double in both engines).
# --------------------------------------------------------------------------

_GLCM_QUANT = 10**9


def q_image_glcm(spark, sf_dir):
    from gotrackmaster_spark.operators.images import glcm_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = glcm_stats(imgs, n_levels=16, quant=_GLCM_QUANT)
    guard = F.col("n_pairs") > 0
    return st.select(
        "image_id",
        "fmt",
        "n_pairs",
        "contrast",
        "diag_pairs",
        "energy_sq",
        "hom_q",
        F.when(guard, F.col("contrast") / F.col("n_pairs")).alias("contrast_mean"),
        F.when(
            guard, F.col("hom_q") / (F.col("n_pairs") * F.lit(_GLCM_QUANT))
        ).alias("homogeneity"),
    )


SQL_IMAGE_GLCM = f"""
WITH px AS (
  SELECT doc_id, i,
         CASE WHEN doc_id % 3 = 2 THEN {_PIX} - ({_PIX}) % 4
              ELSE {_PIX} END AS p
  FROM documents, range({_N_PIX}) t(i)
),
pr AS (
  SELECT doc_id, p // 16 AS pl,
         (lead(p, 3) OVER w) // 16 AS ql
  FROM px
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
cm AS (
  SELECT doc_id, pl, ql, count(*) AS c
  FROM pr WHERE ql IS NOT NULL GROUP BY 1, 2, 3
),
feat AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_pairs,
         CAST(sum(c * ((pl - ql) * (pl - ql))) AS BIGINT) AS contrast,
         CAST(coalesce(sum(CASE WHEN pl = ql THEN c END), 0) AS BIGINT) AS diag_pairs,
         CAST(sum(c * c) AS BIGINT) AS energy_sq,
         CAST(sum(c * ({_GLCM_QUANT} // (1 + (pl - ql) * (pl - ql)))) AS BIGINT) AS hom_q
  FROM cm GROUP BY doc_id
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       n_pairs, contrast, diag_pairs, energy_sq, hom_q,
       CASE WHEN n_pairs > 0 THEN contrast / n_pairs END AS contrast_mean,
       CASE WHEN n_pairs > 0 THEN hom_q / (n_pairs * {_GLCM_QUANT}) END AS homogeneity
FROM feat
"""


# --------------------------------------------------------------------------
# E7g — per-image luma spatial moments (`images.image_moments`): the
# shape/centroid leg over the REAL decode chain — six exact-int64 raw
# moments m_pq (p+q ≤ 2) of the integer luma plane, plus fixed-order
# float conveniences (centroid, central moments, anisotropy — pure
# +,−,×,÷, no transcendentals, so both engines agree bit-for-bit).
# The DuckDB twin replays luma and the moment sums from the
# closed-form pixel generator at per-channel flat indices 3j, 3j+1,
# 3j+2.
# --------------------------------------------------------------------------


def _mom_pix_at(e: str) -> str:
    p = f"((doc_id * 31 + ({e}) * 2654435761) % 256)"
    return f"(CASE WHEN doc_id % 3 = 2 THEN {p} - {p} % 4 ELSE {p} END)"


def q_image_moments(spark, sf_dir):
    from gotrackmaster_spark.operators.images import image_moments, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = image_moments(imgs)
    xc = F.col("m10") / F.col("m00")
    yc = F.col("m01") / F.col("m00")
    mu20 = F.col("m20") - xc * F.col("m10")
    mu02 = F.col("m02") - yc * F.col("m01")
    mu11 = F.col("m11") - xc * F.col("m01")
    den = (mu20 + mu02) * (mu20 + mu02)
    num = (mu20 - mu02) * (mu20 - mu02) + F.lit(4.0) * (mu11 * mu11)
    g0 = F.col("m00") > 0
    return st.select(
        "image_id",
        "fmt",
        "m00",
        "m10",
        "m01",
        "m20",
        "m02",
        "m11",
        F.when(g0, xc).alias("xc"),
        F.when(g0, yc).alias("yc"),
        F.when(g0, mu20).alias("mu20"),
        F.when(g0, mu02).alias("mu02"),
        F.when(g0, mu11).alias("mu11"),
        F.when(g0 & (den > 0), num / den).alias("anisotropy"),
    )


_MOM_XC = "(m10 / m00)"
_MOM_YC = "(m01 / m00)"
_MOM_MU20 = f"(m20 - {_MOM_XC} * m10)"
_MOM_MU02 = f"(m02 - {_MOM_YC} * m01)"
_MOM_MU11 = f"(m11 - {_MOM_XC} * m01)"
_MOM_DEN = f"(({_MOM_MU20} + {_MOM_MU02}) * ({_MOM_MU20} + {_MOM_MU02}))"
_MOM_NUM = (
    f"(({_MOM_MU20} - {_MOM_MU02}) * ({_MOM_MU20} - {_MOM_MU02})"
    f" + CAST(4.0 AS DOUBLE) * ({_MOM_MU11} * {_MOM_MU11}))"
)

SQL_IMAGE_MOMENTS = f"""
WITH lum AS (
  SELECT doc_id, j % {_IMG_W} AS x, j // {_IMG_W} AS y,
         (299 * {_mom_pix_at('j * 3')}
          + 587 * {_mom_pix_at('j * 3 + 1')}
          + 114 * {_mom_pix_at('j * 3 + 2')}) // 1000 AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
feat AS (
  SELECT doc_id,
         CAST(sum(l) AS BIGINT) AS m00,
         CAST(sum(x * l) AS BIGINT) AS m10,
         CAST(sum(y * l) AS BIGINT) AS m01,
         CAST(sum(x * x * l) AS BIGINT) AS m20,
         CAST(sum(y * y * l) AS BIGINT) AS m02,
         CAST(sum(x * y * l) AS BIGINT) AS m11
  FROM lum GROUP BY doc_id
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       m00, m10, m01, m20, m02, m11,
       CASE WHEN m00 > 0 THEN {_MOM_XC} END AS xc,
       CASE WHEN m00 > 0 THEN {_MOM_YC} END AS yc,
       CASE WHEN m00 > 0 THEN {_MOM_MU20} END AS mu20,
       CASE WHEN m00 > 0 THEN {_MOM_MU02} END AS mu02,
       CASE WHEN m00 > 0 THEN {_MOM_MU11} END AS mu11,
       CASE WHEN m00 > 0 AND {_MOM_DEN} > 0
            THEN {_MOM_NUM} / {_MOM_DEN} END AS anisotropy
FROM feat
"""


# --------------------------------------------------------------------------
# E7h — shared-block detection (`images.shared_blocks`): sub-image
# duplicate tiles across images (the watermark/logo dedup primitive).
# 8×8×3 blocks, EXACT integer signature pair (Σp, Σp·(j+1)), one
# shuffle on the signature key; constant (letterbox-bar) blocks are
# pre-filtered mapper-side via sig1·2 == sig0·(n+1) — mirrored in the
# WHERE below.  The generator plants true positives:
# doc k and k+256 produce identical pixels (31·256 ≡ 0 mod 256), and
# the pair survives exactly when neither side is qnt4-quantized — the
# oracle replays blocks from per-channel generator indices.
# --------------------------------------------------------------------------

_SB_BW, _SB_BH = 8, 8
_SB_NLOC = _SB_BW * _SB_BH * 3
_SB_NBX = _IMG_W // _SB_BW
_SB_NB = (_IMG_W // _SB_BW) * (_IMG_H // _SB_BH)
# flat pixel index of block bi, block-local byte j (row-major dy,dx,c)
_SB_I = (
    f"((((bi // {_SB_NBX}) * {_SB_BH} + j // {_SB_BW * 3}) * {_IMG_W}"
    f" + ((bi % {_SB_NBX}) * {_SB_BW} + (j % {_SB_BW * 3}) // 3)) * 3"
    f" + (j % {_SB_BW * 3}) % 3)"
)


def q_shared_blocks(spark, sf_dir):
    from gotrackmaster_spark.operators.images import shared_blocks, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    return shared_blocks(imgs, _SB_BW, _SB_BH, min_images=2)


SQL_SHARED_BLOCKS = f"""
WITH px AS (
  SELECT doc_id, bi, j, {_mom_pix_at(_SB_I)} AS p
  FROM documents, range({_SB_NB}) b(bi), range({_SB_NLOC}) t(j)
),
sig AS (
  SELECT doc_id, bi,
         CAST(sum(p) AS BIGINT) AS sig0,
         CAST(sum(p * (j + 1)) AS BIGINT) AS sig1
  FROM px GROUP BY doc_id, bi
)
SELECT sig0, sig1, CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_imgs
FROM sig
WHERE sig1 * 2 <> sig0 * ({_SB_NLOC} + 1)
GROUP BY 1, 2
HAVING count(DISTINCT doc_id) >= 2
"""


# --------------------------------------------------------------------------
# E7i — per-query phash top-k (`images.phash_topk`): the image twin of
# embedding_topk — rank the corpus (base ∪ planted variants) for each
# variant-bearing base image by Hamming distance WITHIN 16 (bounded-
# search pigeonhole contract; banding guarantees candidate completeness
# at ≤ max_hamming).  Exact-int hamming + (hamming, id) rank — DuckDB
# twin replays the brute-force ranking over the generator phashes.
# --------------------------------------------------------------------------

_PTK_K = 5
_PTK_H = 16


def q_phash_topk(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        phash_topk,
        synthesize_image_variants,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    cols = ["img_key", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    both = imgs.select(*cols).unionByName(
        synthesize_image_variants(imgs, every=_PH_EVERY)
    )
    queries = both.filter(
        (F.col("img_key") % _PH_EVERY == 0) & F.col("image_id").startswith("img")
    )
    return phash_topk(
        both.select("image_id", "phash"),
        queries.select("image_id", "phash"),
        k=_PTK_K,
        max_hamming=_PTK_H,
    )


SQL_PHASH_TOPK = f"""
WITH base_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_F)} AS bs FROM documents
),
var_bs AS (
  SELECT doc_id, {_phash_bs_sql(_PIX_VAR)} AS bs
  FROM documents WHERE doc_id % {_PH_EVERY} = 0
),
base AS (
  SELECT doc_id, format('img{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM base_bs)
),
vars AS (
  SELECT format('var{{:08d}}', doc_id) AS image_id, {_PHASH_FROM_BS} AS phash
  FROM (SELECT doc_id, bs, list_sum(bs) AS tot FROM var_bs)
),
all_imgs AS (
  SELECT image_id, phash FROM base UNION ALL SELECT image_id, phash FROM vars
),
qs AS (SELECT image_id, phash FROM base WHERE doc_id % {_PH_EVERY} = 0),
pairs AS (
  SELECT q.image_id AS q_id, b.image_id AS b_id,
         CAST(bit_count(xor(q.phash, b.phash)) AS INT) AS hamming
  FROM qs q JOIN all_imgs b ON b.image_id <> q.image_id
  WHERE bit_count(xor(q.phash, b.phash)) <= {_PTK_H}
),
ranked AS (
  SELECT q_id, b_id, hamming,
         CAST(row_number() OVER (PARTITION BY q_id ORDER BY hamming, b_id)
              AS INT) AS rnk
  FROM pairs
)
SELECT q_id, b_id, hamming, rnk FROM ranked WHERE rnk <= {_PTK_K}
"""


# --------------------------------------------------------------------------
# E7j — per-image gradient-orientation histogram (`image_orientation`,
# `images.orientation_hist`): HOG-lite over the real decode chain —
# (gx, gy) lead-stride gradients classified into the 8 half-open 45°
# octants with PURE integer comparisons (the movement_rose rule — no
# atan2), counts + Σmag² exact int64.  Oracle replays the identical
# mutually-exclusive CASE arms over the closed-form generator.
# --------------------------------------------------------------------------

_OH_CONDS = [
    "gx > 0 AND gy >= 0 AND gy < gx",
    "gy > 0 AND gx > 0 AND gx <= gy",
    "gy > 0 AND gx <= 0 AND -gx < gy",
    "gx < 0 AND gy > 0 AND gy <= -gx",
    "gx < 0 AND gy <= 0 AND -gy < -gx",
    "gy < 0 AND gx < 0 AND -gx <= -gy",
    "gy < 0 AND gx >= 0 AND gx < -gy",
    "gx > 0 AND gy < 0 AND -gy <= gx",
]


def q_image_orientation(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        orientation_hist,
        synthesize_images,
    )

    return orientation_hist(synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H))


_OH_SUMS = ",\n         ".join(
    f"CAST(sum(CASE WHEN {c} THEN 1 ELSE 0 END) AS BIGINT) AS o{k}"
    for k, c in enumerate(_OH_CONDS)
)

SQL_IMAGE_ORIENTATION = f"""
WITH px AS (
  SELECT doc_id, i,
         CASE WHEN doc_id % 3 = 2 THEN {_PIX} - ({_PIX}) % 4
              ELSE {_PIX} END AS p
  FROM documents, range({_N_PIX}) t(i)
),
g AS (
  SELECT doc_id, i,
         (lead(p, 3) OVER w) - p AS gx,
         (lead(p, {3 * _IMG_W}) OVER w) - p AS gy
  FROM px
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
v AS (SELECT doc_id, gx, gy FROM g WHERE i < {_N_PIX - 3 * _IMG_W})
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       {_OH_SUMS},
       CAST(sum(CASE WHEN gx = 0 AND gy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(sum(gx * gx + gy * gy) AS BIGINT) AS mag2_sum
FROM v GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# E7k — center-surround luma bias (`image_center_bias`,
# computed inline over images.image_moments-style decode): is the
# image's mass concentrated centrally (subject-centered photo) or at
# the border?  Exact int64 luma sums over the center box (middle half
# in both axes) vs the border; the contrast sum_c·n_b − sum_b·n_c is
# one exact integer, the ratio a fixed-order double.
# --------------------------------------------------------------------------


def q_image_center_bias(spark, sf_dir):
    import numpy as np
    import pandas as pd

    from gotrackmaster_spark.operators.images import decode_image, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)

    def stats(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = {"image_id": [], "fmt": [], "sum_center": [], "n_center": [],
                   "sum_border": [], "n_border": []}
            for r in pdf.itertuples(index=False):
                px = decode_image(r.bytes, r.w, r.h, r.fmt).astype(np.int64)
                luma = (299 * px[..., 0] + 587 * px[..., 1] + 114 * px[..., 2]) // 1000
                x0, x1 = r.w // 4, 3 * r.w // 4
                y0, y1 = r.h // 4, 3 * r.h // 4
                c = luma[y0:y1, x0:x1]
                sc, nc = int(c.sum()), int(c.size)
                st, nt = int(luma.sum()), int(luma.size)
                out["image_id"].append(r.image_id)
                out["fmt"].append(r.fmt)
                out["sum_center"].append(sc)
                out["n_center"].append(nc)
                out["sum_border"].append(st - sc)
                out["n_border"].append(nt - nc)
            yield pd.DataFrame(out)

    st = imgs.mapInPandas(
        stats,
        "image_id string, fmt string, sum_center long, n_center long, "
        "sum_border long, n_border long",
    )
    contrast = (
        F.col("sum_center") * F.col("n_border")
        - F.col("sum_border") * F.col("n_center")
    )
    guard = (F.col("n_center") > 0) & (F.col("n_border") > 0) & (F.col("sum_border") > 0)
    ratio = (F.col("sum_center") / F.col("n_center")) / (
        F.col("sum_border") / F.col("n_border")
    )
    return st.select(
        "image_id",
        "fmt",
        "sum_center",
        "n_center",
        "sum_border",
        "n_border",
        contrast.alias("contrast"),
        F.when(guard, ratio).alias("center_bias"),
    )


SQL_IMAGE_CENTER_BIAS = f"""
WITH lum AS (
  SELECT doc_id, j % {_IMG_W} AS x, j // {_IMG_W} AS y,
         (299 * {_mom_pix_at('j * 3')}
          + 587 * {_mom_pix_at('j * 3 + 1')}
          + 114 * {_mom_pix_at('j * 3 + 2')}) // 1000 AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
feat AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN x >= {_IMG_W // 4} AND x < {3 * _IMG_W // 4}
                        AND y >= {_IMG_H // 4} AND y < {3 * _IMG_H // 4}
                       THEN l ELSE 0 END) AS BIGINT) AS sum_center,
         CAST(sum(CASE WHEN x >= {_IMG_W // 4} AND x < {3 * _IMG_W // 4}
                        AND y >= {_IMG_H // 4} AND y < {3 * _IMG_H // 4}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_center,
         CAST(sum(CASE WHEN x >= {_IMG_W // 4} AND x < {3 * _IMG_W // 4}
                        AND y >= {_IMG_H // 4} AND y < {3 * _IMG_H // 4}
                       THEN 0 ELSE l END) AS BIGINT) AS sum_border,
         CAST(sum(CASE WHEN x >= {_IMG_W // 4} AND x < {3 * _IMG_W // 4}
                        AND y >= {_IMG_H // 4} AND y < {3 * _IMG_H // 4}
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_border
  FROM lum GROUP BY doc_id
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       sum_center, n_center, sum_border, n_border,
       sum_center * n_border - sum_border * n_center AS contrast,
       CASE WHEN n_center > 0 AND n_border > 0 AND sum_border > 0 THEN
         (sum_center / CAST(n_center AS DOUBLE))
         / (sum_border / CAST(n_border AS DOUBLE))
       END AS center_bias
FROM feat
"""


# --------------------------------------------------------------------------
# E7l — Hasler–Süsstrunk colorfulness (`image_colorfulness`,
# operators/images.py::colorfulness_stats): per-image opponent-channel
# moments Σrg, Σrg², Σyb2, Σyb2² as exact int64 from one decode pass;
# C = (sqrt(4·V_rg + V_yb2) + 0.3·sqrt(4·(Σrg)² + (Σyb2)²)) / (2n) —
# two correctly-rounded IEEE sqrts on exact ints + one fixed-order
# divide, bit-identical across engines.
# --------------------------------------------------------------------------


def q_image_colorfulness(spark, sf_dir):
    from gotrackmaster_spark.operators.images import (
        colorfulness_stats,
        synthesize_images,
    )

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = colorfulness_stats(imgs)
    v_rg = F.col("n_px") * F.col("sum_rg2") - F.col("sum_rg") * F.col("sum_rg")
    v_yb = (
        F.col("n_px") * F.col("sum_yb2sq") - F.col("sum_yb2") * F.col("sum_yb2")
    )
    a = F.lit(4) * v_rg + v_yb
    b = (
        F.lit(4) * (F.col("sum_rg") * F.col("sum_rg"))
        + F.col("sum_yb2") * F.col("sum_yb2")
    )
    c = (F.sqrt(a.cast("double")) + F.lit(0.3) * F.sqrt(b.cast("double"))) / (
        F.lit(2.0) * F.col("n_px").cast("double")
    )
    return st.select(
        "image_id", "fmt", "n_px", "sum_rg", "sum_rg2", "sum_yb2", "sum_yb2sq",
        c.alias("colorfulness"),
    )


SQL_IMAGE_COLORFULNESS = f"""
WITH px AS (
  SELECT doc_id,
         ({_mom_pix_at('j * 3')}) - ({_mom_pix_at('j * 3 + 1')}) AS rg,
         ({_mom_pix_at('j * 3')}) + ({_mom_pix_at('j * 3 + 1')})
           - 2 * ({_mom_pix_at('j * 3 + 2')}) AS yb2
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
feat AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_px,
         CAST(sum(rg) AS BIGINT) AS sum_rg,
         CAST(sum(rg * rg) AS BIGINT) AS sum_rg2,
         CAST(sum(yb2) AS BIGINT) AS sum_yb2,
         CAST(sum(yb2 * yb2) AS BIGINT) AS sum_yb2sq
  FROM px GROUP BY 1
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       n_px, sum_rg, sum_rg2, sum_yb2, sum_yb2sq,
       (sqrt(CAST(4 * (n_px * sum_rg2 - sum_rg * sum_rg)
                  + (n_px * sum_yb2sq - sum_yb2 * sum_yb2) AS DOUBLE))
        + CAST(0.3 AS DOUBLE)
          * sqrt(CAST(4 * (sum_rg * sum_rg) + sum_yb2 * sum_yb2 AS DOUBLE)))
       / (CAST(2.0 AS DOUBLE) * CAST(n_px AS DOUBLE)) AS colorfulness
FROM feat
"""


# --------------------------------------------------------------------------
# E61 — caption↔pixel correlation per tile (`caption_pixel_corr`
# composite, E7×text crossover): does caption length co-vary with
# decoded pixel mass within a 10° tile?  Pearson r from SIX exact
# int64 moments over the REAL decode chain (x = caption_len, y =
# pixel_sum); S-terms exact ints, r = Sxy/√(Sxx·Syy) with the product
# squared in doubles (int64 would overflow) in a fixed order.
# --------------------------------------------------------------------------

_CPC_TILE_DEG = 10.0


def q_caption_pixel_corr(spark, sf_dir):
    from gotrackmaster_spark.operators.images import decode_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    st = decode_stats(imgs).select("image_id", "pixel_sum", "caption_len")
    key = _img_key_col()
    lat, lon = _img_geotag_cols(key)
    tagged = st.select(
        tile_name_col(lat, lon, _CPC_TILE_DEG).alias("tile"),
        F.col("caption_len").cast("long").alias("x"),
        F.col("pixel_sum").alias("y"),
    )
    agg = tagged.groupBy("tile").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx0"),
        F.sum(F.col("y") * F.col("y")).alias("syy0"),
        F.sum(F.col("x") * F.col("y")).alias("sxy0"),
    )
    sxx = F.col("n") * F.col("sxx0") - F.col("sx") * F.col("sx")
    syy = F.col("n") * F.col("syy0") - F.col("sy") * F.col("sy")
    sxy = F.col("n") * F.col("sxy0") - F.col("sx") * F.col("sy")
    r = F.when(
        (sxx > 0) & (syy > 0),
        sxy.cast("double") / F.sqrt(sxx.cast("double") * syy.cast("double")),
    )
    return agg.select(
        "tile", "n", sxy.alias("sxy"), sxx.alias("sxx"), syy.alias("syy"),
        r.alias("corr"),
    )


SQL_CAPTION_PIXEL_CORR = f"""
WITH st AS (
  SELECT doc_id,
         CAST(CASE WHEN doc_id % 3 = 2
              THEN list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX} - ({_PIX}) % 4))
              ELSE list_sum(list_transform(generate_series(0, {_N_PIX - 1}),
                            i -> {_PIX}))
         END AS BIGINT) AS y,
         CAST(length(text) AS BIGINT) AS x
  FROM documents
),
tagged AS (
  SELECT {tile_name_sql("((doc_id * 2654435761) % 1600000) / 10000.0 - 80.0",
                        "((doc_id * 40503 + 7) % 3600000) / 10000.0 - 180.0",
                        _CPC_TILE_DEG)} AS tile,
         x, y
  FROM st
),
agg AS (
  SELECT tile, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx0,
         CAST(sum(y * y) AS BIGINT) AS syy0,
         CAST(sum(x * y) AS BIGINT) AS sxy0
  FROM tagged GROUP BY 1
)
SELECT tile, n,
       n * sxy0 - sx * sy AS sxy,
       n * sxx0 - sx * sx AS sxx,
       n * syy0 - sy * sy AS syy,
       CASE WHEN n * sxx0 - sx * sx > 0 AND n * syy0 - sy * sy > 0 THEN
         CAST(n * sxy0 - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx0 - sx * sx AS DOUBLE)
                * CAST(n * syy0 - sy * sy AS DOUBLE))
       END AS corr
FROM agg
"""


# --------------------------------------------------------------------------
# E68 — Otsu threshold (`otsu_threshold`, `images.luma_histogram`):
# the classic global binarization threshold (Otsu 1979) per image over
# the REAL decode chain — the luma level maximizing between-class
# variance.  One decode pass emits the ≤256-bin histogram; the
# threshold scan is pure JVM: a cumulative window over bins, then
# argmax of σ²_B ∝ (sum0·N − S·w0)² / (w0·(N−w0)) with DETERMINISTIC
# ranking — the ratio derives from exact int64 moments in fixed order,
# ties break on the lowest level, and only occupied bins need scanning
# (σ²_B is constant between occupied levels, so the lowest-t argmax is
# always an occupied bin).  The DuckDB twin replays histogram + scan
# from the closed-form pixel generator.
# --------------------------------------------------------------------------

_bound_otsu_cache = make_bounded_cache()


def q_otsu_threshold(spark, sf_dir):
    from pyspark.sql import Window

    from gotrackmaster_spark.operators.images import luma_histogram, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    # feeds the cumulative scan AND the per-image totals: decode once
    hist = _bound_otsu_cache(luma_histogram(imgs))
    w = Window.partitionBy("image_id").orderBy("l")
    cum = hist.select(
        "image_id", "fmt", "l",
        F.sum("n").over(w).alias("w0"),
        F.sum(F.col("n") * F.col("l")).over(w).alias("sum0"),
    )
    tot = hist.groupBy("image_id").agg(
        F.sum("n").alias("nn"),
        F.sum(F.col("n") * F.col("l")).alias("s"),
    )
    j = cum.join(tot, "image_id").filter(F.col("w0") < F.col("nn"))
    f = (F.col("sum0") * F.col("nn") - F.col("s") * F.col("w0")).cast("double")
    sigma = f * f / (F.col("w0") * (F.col("nn") - F.col("w0"))).cast("double")
    ranked = j.select("image_id", "fmt", "l", "w0", "nn", sigma.alias("sigma"))
    w2 = Window.partitionBy("image_id").orderBy(F.desc("sigma"), F.asc("l"))
    best = ranked.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") == 1)
    return best.select(
        "image_id", "fmt",
        F.col("l").alias("otsu_t"),
        (F.col("nn") - F.col("w0")).alias("n_fg"),
        F.round("sigma", 4).alias("sigma_r"),
    )


def _otsu_luma_at() -> str:
    return (
        f"(299 * {_mom_pix_at('j * 3')}"
        f" + 587 * {_mom_pix_at('j * 3 + 1')}"
        f" + 114 * {_mom_pix_at('j * 3 + 2')}) // 1000"
    )


SQL_OTSU_THRESHOLD = f"""
WITH lum AS (
  SELECT doc_id, {_otsu_luma_at()} AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
hist AS (SELECT doc_id, l, count(*) AS n FROM lum GROUP BY 1, 2),
cum AS (
  SELECT doc_id, l,
         CAST(sum(n) OVER (PARTITION BY doc_id ORDER BY l) AS BIGINT) AS w0,
         CAST(sum(n * l) OVER (PARTITION BY doc_id ORDER BY l) AS BIGINT) AS sum0
  FROM hist
),
tot AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS nn, CAST(sum(n * l) AS BIGINT) AS s
  FROM hist GROUP BY 1
),
sc AS (
  SELECT c.doc_id, c.l, c.w0, t.nn,
         CAST(c.sum0 * t.nn - t.s * c.w0 AS DOUBLE) AS f,
         CAST(c.w0 * (t.nn - c.w0) AS DOUBLE) AS den
  FROM cum c JOIN tot t USING (doc_id)
  WHERE c.w0 < t.nn
),
ranked AS (
  SELECT doc_id, l, w0, nn, (f * f) / den AS sigma,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY (f * f) / den DESC, l) AS rn
  FROM sc
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       l AS otsu_t,
       nn - w0 AS n_fg,
       round(sigma, 4) AS sigma_r
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# E74 — image Euler characteristic (`image_euler`,
# `images.euler_stats`): per-image topology of the binarized luma
# plane — E₄ = V − E + Q = #components − #holes (Gray 1971), all four
# terms exact integers from one decode pass (shift products, no
# labeling).  The DuckDB twin replays fg/adjacency/quad counts from
# the closed-form pixel generator at shifted flat indices.
# --------------------------------------------------------------------------

_EULER_T = 128


def q_image_euler(spark, sf_dir):
    from gotrackmaster_spark.operators.images import euler_stats, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    return euler_stats(imgs, thresh=_EULER_T)


def _fg_at(jexpr: str) -> str:
    lum = (
        f"((299 * {_mom_pix_at(f'({jexpr}) * 3')}"
        f" + 587 * {_mom_pix_at(f'({jexpr}) * 3 + 1')}"
        f" + 114 * {_mom_pix_at(f'({jexpr}) * 3 + 2')}) // 1000)"
    )
    return f"(CASE WHEN {lum} >= {_EULER_T} THEN 1 ELSE 0 END)"


SQL_IMAGE_EULER = f"""
WITH px AS (
  SELECT doc_id, j % {_IMG_W} AS x, j // {_IMG_W} AS y,
         {_fg_at('j')} AS fg,
         {_fg_at('j + 1')} AS fgr,
         {_fg_at(f'j + {_IMG_W}')} AS fgd,
         {_fg_at(f'j + {_IMG_W} + 1')} AS fgq
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
agg AS (
  SELECT doc_id,
         CAST(sum(fg) AS BIGINT) AS n_fg,
         CAST(sum(CASE WHEN x < {_IMG_W - 1} THEN fg * fgr ELSE 0 END)
              + sum(CASE WHEN y < {_IMG_H - 1} THEN fg * fgd ELSE 0 END)
              AS BIGINT) AS n_adj,
         CAST(sum(CASE WHEN x < {_IMG_W - 1} AND y < {_IMG_H - 1}
                       THEN fg * fgr * fgd * fgq ELSE 0 END)
              AS BIGINT) AS n_quad
  FROM px GROUP BY doc_id
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       n_fg, n_adj, n_quad,
       n_fg - n_adj + n_quad AS euler
FROM agg
"""


# --------------------------------------------------------------------------
# E75 — marching-squares contour classification (`contour_cases`
# composite): the raster→vector contouring primitive — each event's
# 1° DEM cell classified by the standard 16-case marching-squares
# index at a fixed iso level over the EXACT-INTEGER corner samples
# (the ×10 DEM closed form kept integer; no float enters the
# predicate).  Saddles (cases 5/10) carry two contour segments, empty/
# full cells none.  Pure codegen: corner values are row-local closed
# forms, so the whole query is one scan + one ≤16-group aggregate —
# no DEM join at all.
# --------------------------------------------------------------------------

_MS_ISO = 20000  # iso level in decimeter units (corner range 0..39999)


def _ms_corner(la, lo):
    """Integer DEM corner sample (decimeters) at integer (la, lo)."""
    return ((la + 90) * 361 + (lo + 180)) * F.lit(2654435761) % 40000


def q_contour_cases(spark, sf_dir):
    geo = geo_events(spark, sf_dir)
    la = F.floor(F.col("lat")).cast("long")
    lo = F.floor(F.col("lon")).cast("long")
    b = lambda v: (v >= _MS_ISO).cast("long")  # noqa: E731
    case = (
        8 * b(_ms_corner(la, lo))
        + 4 * b(_ms_corner(la, lo + 1))
        + 2 * b(_ms_corner(la + 1, lo + 1))
        + 1 * b(_ms_corner(la + 1, lo))
    )
    tagged = geo.select(
        "user_id", la.alias("la"), lo.alias("lo"), case.alias("ms_case")
    )
    segs = (
        F.when(F.col("ms_case").isin(0, 15), F.lit(0))
        .when(F.col("ms_case").isin(5, 10), F.lit(2))
        .otherwise(F.lit(1))
        .cast("int")
    )
    return (
        tagged.groupBy("ms_case")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.countDistinct("la", "lo").alias("n_cells"),
        )
        .select("ms_case", segs.alias("n_segs"), "n_events", "n_users", "n_cells")
    )


def _ms_corner_sql(la: str, lo: str) -> str:
    return f"((({la}) + 90) * 361 + (({lo}) + 180)) * 2654435761 % 40000"


def _ms_b(la: str, lo: str) -> str:
    return f"(CASE WHEN {_ms_corner_sql(la, lo)} >= {_MS_ISO} THEN 1 ELSE 0 END)"


SQL_CONTOUR_CASES = f"""
WITH {GEO_CTE},
tagged AS (
  SELECT user_id,
         CAST(floor(lat) AS BIGINT) AS la,
         CAST(floor(lon) AS BIGINT) AS lo,
         CAST(8 * {_ms_b('CAST(floor(lat) AS BIGINT)', 'CAST(floor(lon) AS BIGINT)')}
         + 4 * {_ms_b('CAST(floor(lat) AS BIGINT)', 'CAST(floor(lon) AS BIGINT) + 1')}
         + 2 * {_ms_b('CAST(floor(lat) AS BIGINT) + 1', 'CAST(floor(lon) AS BIGINT) + 1')}
         + 1 * {_ms_b('CAST(floor(lat) AS BIGINT) + 1', 'CAST(floor(lon) AS BIGINT)')}
         AS BIGINT) AS ms_case
  FROM geo
)
SELECT ms_case,
       CAST(CASE WHEN ms_case IN (0, 15) THEN 0
                 WHEN ms_case IN (5, 10) THEN 2
                 ELSE 1 END AS INT) AS n_segs,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       count(DISTINCT (la, lo)) AS n_cells
FROM tagged GROUP BY ms_case
"""


# --------------------------------------------------------------------------
# E80 — Haar wavelet energy (`haar_energy` composite,
# `images.luma_plane`): per-image horizontal Haar detail energy at
# levels 1-3 — the multi-resolution texture/blur signature (a blurred
# image's fine-level energy collapses).  The decode pass emits the
# luma plane as a RELATION; the transform is pure JVM: unnormalized
# Haar details are SIGNED INTEGER block sums (first half − second
# half of each 2^L run), so detail energies are exact int64 and the
# whole pyramid is one ×3 scale explode + two hash aggregates — no
# bespoke kernel per level.  The DuckDB twin replays the identical
# block algebra from the closed-form pixel generator.
# --------------------------------------------------------------------------

_HAAR_LEVELS = [1, 2, 3]
_bound_haar_cache = make_bounded_cache()


def q_haar_energy(spark, sf_dir):
    from gotrackmaster_spark.operators.images import luma_plane, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    lum = _bound_haar_cache(luma_plane(imgs))
    lv = F.explode(F.array(*[F.lit(v) for v in _HAAR_LEVELS])).alias("level")
    expanded = lum.select("image_id", "fmt", "x", "y", "l", lv)
    blk = F.expr("x DIV (1 << level)")
    sign = F.when(
        F.expr("x % (1 << level) < (1 << (level - 1))"), F.lit(1)
    ).otherwise(F.lit(-1))
    detail = (
        expanded.groupBy("image_id", "fmt", "level", "y", blk.alias("b"))
        .agg(F.sum(sign * F.col("l")).alias("d"))
    )
    return detail.groupBy("image_id", "fmt", "level").agg(
        F.sum(F.col("d") * F.col("d")).alias("energy"),
        F.max(F.abs(F.col("d"))).alias("max_detail"),
    )


SQL_HAAR_ENERGY = f"""
WITH lum AS (
  SELECT doc_id, j % {_IMG_W} AS x, j // {_IMG_W} AS y,
         {_otsu_luma_at()} AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
lv AS (SELECT unnest(ARRAY{_HAAR_LEVELS}) AS level),
detail AS (
  SELECT doc_id, level, y, x // (1 << level) AS b,
         CAST(sum(CASE WHEN x % (1 << level) < (1 << (level - 1))
                       THEN l ELSE -l END) AS BIGINT) AS d
  FROM lum, lv GROUP BY 1, 2, 3, 4
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       level,
       CAST(sum(d * d) AS BIGINT) AS energy,
       CAST(max(abs(d)) AS BIGINT) AS max_detail
FROM detail GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# E86 — histogram equalization (`hist_equalization` composite): the
# classic contrast-stretch LUT per image over `images.luma_histogram`
# — lut(l) = ((cdf(l) − cdf_min)·255) DIV (N − cdf_min), all integer
# (the exact OpenCV formulation).  Everything after the decode pass is
# JVM windows/aggregates on ≤256-row-per-image bins; outputs are the
# LUT's level counts and remapped-mass checksum (full-LUT fidelity
# without 256 output rows per image).
# --------------------------------------------------------------------------

_bound_he_cache = make_bounded_cache()


def q_hist_equalization(spark, sf_dir):
    from pyspark.sql import Window

    from gotrackmaster_spark.operators.images import luma_histogram, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    hist = _bound_he_cache(luma_histogram(imgs))
    wc = Window.partitionBy("image_id").orderBy("l")
    wa = Window.partitionBy("image_id")
    cum = hist.select(
        "image_id", "fmt", "l", "n",
        F.sum("n").over(wc).alias("cdf"),
    ).select(
        "image_id", "fmt", "l", "n", "cdf",
        F.min("cdf").over(wa).alias("cdf_min"),
        F.max("cdf").over(wa).alias("nn"),
    )
    lut = F.when(
        F.col("nn") > F.col("cdf_min"),
        F.expr("((cdf - cdf_min) * 255) DIV (nn - cdf_min)"),
    ).otherwise(F.lit(0))
    tagged = cum.select("image_id", "fmt", "n", lut.alias("lut"))
    return tagged.groupBy("image_id", "fmt").agg(
        F.count("*").alias("n_levels_in"),
        F.countDistinct("lut").alias("n_levels_out"),
        F.max("lut").alias("max_out"),
        F.sum(F.col("n") * F.col("lut")).alias("mass_out"),
    )


SQL_HIST_EQUALIZATION = f"""
WITH lum AS (
  SELECT doc_id, {_otsu_luma_at()} AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
hist AS (SELECT doc_id, l, CAST(count(*) AS BIGINT) AS n FROM lum GROUP BY 1, 2),
cum AS (
  SELECT doc_id, l, n,
         CAST(sum(n) OVER (PARTITION BY doc_id ORDER BY l) AS BIGINT) AS cdf
  FROM hist
),
ext AS (
  SELECT doc_id, l, n, cdf,
         min(cdf) OVER (PARTITION BY doc_id) AS cdf_min,
         max(cdf) OVER (PARTITION BY doc_id) AS nn
  FROM cum
),
tagged AS (
  SELECT doc_id, n,
         CASE WHEN nn > cdf_min
              THEN ((cdf - cdf_min) * 255) // (nn - cdf_min)
              ELSE 0 END AS lut
  FROM ext
)
SELECT format('img{{:08d}}', doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(doc_id % 3 AS INT) + 1] AS fmt,
       count(*) AS n_levels_in,
       count(DISTINCT lut) AS n_levels_out,
       CAST(max(lut) AS BIGINT) AS max_out,
       CAST(sum(n * lut) AS BIGINT) AS mass_out
FROM tagged GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# E87 — projection profiles (`projection_profile` composite): per-image
# row/column sum variance over `images.luma_plane` — the banding /
# stripe detector (a striped image has high row variance, a uniform
# one near zero).  Variance numerators h·Σs² − (Σs)² are exact int64;
# two tiny nested aggregates per axis on the relational luma plane.
# --------------------------------------------------------------------------

_bound_pp_cache = make_bounded_cache()


def q_projection_profile(spark, sf_dir):
    from gotrackmaster_spark.operators.images import luma_plane, synthesize_images

    imgs = synthesize_images(spark, sf_dir, w=_IMG_W, h=_IMG_H)
    lum = _bound_pp_cache(luma_plane(imgs))

    def _axis(col, m):
        sums = lum.groupBy("image_id", "fmt", col).agg(F.sum("l").alias("s"))
        return sums.groupBy("image_id", "fmt").agg(
            (F.lit(m) * F.sum(F.col("s") * F.col("s"))
             - F.sum("s") * F.sum("s")).alias(f"{col}_var_num"),
        )

    rows = _axis("y", _IMG_H)
    cols = _axis("x", _IMG_W)
    j = rows.join(cols, ["image_id", "fmt"])
    return j.select(
        "image_id", "fmt", "y_var_num", "x_var_num",
        F.round(F.col("y_var_num").cast("double") / F.lit(float(_IMG_H * _IMG_H)), 4).alias("row_var_r"),
        F.round(F.col("x_var_num").cast("double") / F.lit(float(_IMG_W * _IMG_W)), 4).alias("col_var_r"),
    )


SQL_PROJECTION_PROFILE = f"""
WITH lum AS (
  SELECT doc_id, j % {_IMG_W} AS x, j // {_IMG_W} AS y,
         {_otsu_luma_at()} AS l
  FROM documents, range({_IMG_W * _IMG_H}) t(j)
),
rs AS (SELECT doc_id, y, CAST(sum(l) AS BIGINT) AS s FROM lum GROUP BY 1, 2),
cs AS (SELECT doc_id, x, CAST(sum(l) AS BIGINT) AS s FROM lum GROUP BY 1, 2),
ra AS (
  SELECT doc_id,
         {_IMG_H} * CAST(sum(s * s) AS BIGINT)
         - CAST(sum(s) AS BIGINT) * CAST(sum(s) AS BIGINT) AS y_var_num
  FROM rs GROUP BY 1
),
ca AS (
  SELECT doc_id,
         {_IMG_W} * CAST(sum(s * s) AS BIGINT)
         - CAST(sum(s) AS BIGINT) * CAST(sum(s) AS BIGINT) AS x_var_num
  FROM cs GROUP BY 1
)
SELECT format('img{{:08d}}', r.doc_id) AS image_id,
       ['raw', 'png', 'qnt4'][CAST(r.doc_id % 3 AS INT) + 1] AS fmt,
       r.y_var_num, c.x_var_num,
       round(CAST(r.y_var_num AS DOUBLE) / CAST({_IMG_H * _IMG_H} AS DOUBLE), 4) AS row_var_r,
       round(CAST(c.x_var_num AS DOUBLE) / CAST({_IMG_W * _IMG_W} AS DOUBLE), 4) AS col_var_r
FROM ra r JOIN ca c ON c.doc_id = r.doc_id
"""


__all__ = [
    "q_exact_dup_groups",
    "SQL_EXACT_DUP_GROUPS",
    "q_dup_components",
    "SQL_DUP_COMPONENTS",
    "q_image_stats",
    "SQL_IMAGE_STATS",
    "q_image_tiles",
    "SQL_IMAGE_TILES",
    "q_zonal_image_stats",
    "SQL_ZONAL_IMAGE_STATS",
    "_PH_EVERY",
    "_PH_MAXHAM",
    "q_phash_near_dups",
    "_phash_bs_sql",
    "_PHASH_FROM_BS",
    "_PIX_F",
    "_PIX_DEC",
    "_PIX_VAR",
    "SQL_PHASH_NEAR_DUPS",
    "_CLUSTER_MAXHAM",
    "q_image_dup_components",
    "SQL_IMAGE_DUP_COMPONENTS",
    "_MM_JAC",
    "q_multimodal_near_dups",
    "_MM_JACCARD_SQL",
    "SQL_MULTIMODAL_NEAR_DUPS",
    "_RS_W",
    "_RS_H",
    "q_image_resize_stats",
    "_RS_IDX",
    "_RS_PIX",
    "SQL_IMAGE_RESIZE_STATS",
    "q_video_frame_stats",
    "SQL_VIDEO_FRAME_STATS",
    "q_audio_window_stats",
    "SQL_AUDIO_WINDOW_STATS",
    "q_image_psnr",
    "SQL_IMAGE_PSNR",
    "q_geo_phash_near_dups",
    "SQL_GEO_PHASH_NEAR_DUPS",
    "_MOSAIC_K",
    "_MOSAIC_LEVEL",
    "q_mosaic_topk",
    "SQL_MOSAIC_TOPK",
    "_IQF_VAR_MIN",
    "_IQF_CAP_MIN",
    "_IQF_PH_LO",
    "_IQF_PH_HI",
    "q_image_quality_funnel",
    "SQL_IMAGE_QUALITY_FUNNEL",
    "q_image_hotspots",
    "SQL_IMAGE_HOTSPOTS",
    "q_image_pixel_features",
    "SQL_IMAGE_PIXEL_FEATURES",
    "q_image_ssim",
    "_SSIM_DEC",
    "_SSIM_VAR",
    "_SSIM_N",
    "_SSIM_MX",
    "_SSIM_MY",
    "_SSIM_EXPR",
    "SQL_IMAGE_SSIM",
    "_GLCM_QUANT",
    "q_image_glcm",
    "SQL_IMAGE_GLCM",
    "_mom_pix_at",
    "q_image_moments",
    "_MOM_XC",
    "_MOM_YC",
    "_MOM_MU20",
    "_MOM_MU02",
    "_MOM_MU11",
    "_MOM_DEN",
    "_MOM_NUM",
    "SQL_IMAGE_MOMENTS",
    "_SB_BW",
    "_SB_BH",
    "_SB_NLOC",
    "_SB_NBX",
    "_SB_NB",
    "_SB_I",
    "q_shared_blocks",
    "SQL_SHARED_BLOCKS",
    "_PTK_K",
    "_PTK_H",
    "q_phash_topk",
    "SQL_PHASH_TOPK",
    "_OH_CONDS",
    "q_image_orientation",
    "_OH_SUMS",
    "SQL_IMAGE_ORIENTATION",
    "q_image_center_bias",
    "SQL_IMAGE_CENTER_BIAS",
    "q_image_colorfulness",
    "SQL_IMAGE_COLORFULNESS",
    "_CPC_TILE_DEG",
    "q_caption_pixel_corr",
    "SQL_CAPTION_PIXEL_CORR",
    "_bound_otsu_cache",
    "q_otsu_threshold",
    "_otsu_luma_at",
    "SQL_OTSU_THRESHOLD",
    "_EULER_T",
    "q_image_euler",
    "_fg_at",
    "SQL_IMAGE_EULER",
    "_MS_ISO",
    "_ms_corner",
    "q_contour_cases",
    "_ms_corner_sql",
    "_ms_b",
    "SQL_CONTOUR_CASES",
    "_HAAR_LEVELS",
    "_bound_haar_cache",
    "q_haar_energy",
    "SQL_HAAR_ENERGY",
    "_bound_he_cache",
    "q_hist_equalization",
    "SQL_HIST_EQUALIZATION",
    "_bound_pp_cache",
    "q_projection_profile",
    "SQL_PROJECTION_PROFILE",
]
