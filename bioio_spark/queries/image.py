"""Oracle-checkable image-operator queries (SURVEY §2.2-§2.4).

The driver's DuckDB oracle only sees the ten relational fixture tables, so
these queries generate the *same deterministic pixel tables in both engines*
(spark.range vs DuckDB range, identical index arithmetic + value formula) and
then apply the operator under test. The BioImage API itself is additionally
covered by tests/ (two-tier pytest matrix); these entries make the selector /
standardization / mosaic / stack semantics part of the hash-checked contract.

Canonical fixture: shape (T,C,Z,Y,X) = (6,2,3,4,5), x fastest-varying,
value = t*10000 + c*1000 + z*100 + y*10 + x.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from bioio_spark.queries.base import register

T, C, Z, Y, X = 6, 2, 3, 4, 5
N = T * C * Z * Y * X


def _gen_pixels(spark):
    df = spark.range(N)
    t = (F.col("id") / (C * Z * Y * X)).cast("long")
    c = (F.col("id") / (Z * Y * X)).cast("long") % C
    z = (F.col("id") / (Y * X)).cast("long") % Z
    y = (F.col("id") / X).cast("long") % Y
    x = F.col("id") % X
    value = (t * 10000 + c * 1000 + z * 100 + y * 10 + x).cast("double")
    return df.select(
        t.cast("int").alias("t"), c.cast("int").alias("c"),
        z.cast("int").alias("z"), y.cast("int").alias("y"),
        x.cast("int").alias("x"), value.alias("value"))


_GEN_SQL = f"""
  SELECT CAST(i // {C * Z * Y * X} AS INTEGER) AS t,
         CAST((i // {Z * Y * X}) % {C} AS INTEGER) AS c,
         CAST((i // {Y * X}) % {Z} AS INTEGER) AS z,
         CAST((i // {X}) % {Y} AS INTEGER) AS y,
         CAST(i % {X} AS INTEGER) AS x,
         CAST((i // {C * Z * Y * X}) * 10000 + ((i // {Z * Y * X}) % {C}) * 1000
              + ((i // {Y * X}) % {Z}) * 100 + ((i // {X}) % {Y}) * 10
              + (i % {X}) AS DOUBLE) AS value
  FROM range({N}) r(i)
"""


# --------------------------------------------------------------------------
# P1+P2+P3: point select T=3 (drops dim), fancy C=[1,0] (re-indexed in listed
# order), strided Z=slice(0,-1,2) (python semantics: indices 0).
# --------------------------------------------------------------------------
@register(
    "img_selectors",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT CASE WHEN c = 1 THEN 0 ELSE 1 END AS c,
           (z - 0) // 2 AS z, y, x, value
    FROM px
    WHERE t = 3 AND c IN (1, 0)
      AND z >= 0 AND z < 2 AND (z - 0) % 2 = 0
    ORDER BY c, z, y, x
    """,
    doc="P1-P3 selector algebra on the canonical 5D fixture",
)
def img_selectors(spark, sf_dir):
    from bioio_spark.dimensions import Dimensions
    from bioio_spark.operators.selectors import apply_selectors

    px = _gen_pixels(spark)
    plan, _ = apply_selectors(
        px, Dimensions("TCZYX", (T, C, Z, Y, X)), "CZYX",
        {"T": 3, "C": [1, 0], "Z": slice(0, -1, 2)})
    return plan.select(
        F.col("c").cast("int").alias("c"), F.col("z").cast("int").alias("z"),
        "y", "x", "value").orderBy("c", "z", "y", "x")


# --------------------------------------------------------------------------
# P7: standardization — non-standard dims "ABD"(2,2,2) coerce to
# TCZYX(1,1,1,1,1) keeping the index-0 hyperplane
# (ref tests/test_array_like_reader.py:1028-1047).
# --------------------------------------------------------------------------
@register(
    "img_standardize",
    oracle="""
    SELECT CAST(0 AS INTEGER) AS t, CAST(0 AS INTEGER) AS c,
           CAST(0 AS INTEGER) AS z, CAST(0 AS INTEGER) AS y,
           CAST(0 AS INTEGER) AS x, CAST(0.0 AS DOUBLE) AS value
    """,
    doc="P7 standardization of non-standard dims through the real ingest",
)
def img_standardize(spark, sf_dir):
    from bioio_spark.bio_image import BioImage

    arr = np.arange(8, dtype=np.float64).reshape(2, 2, 2)
    img = BioImage(arr, dim_order="ABD", spark=spark)
    return img.get_image_dataframe().select(
        *[F.col(d).cast("int").alias(d) for d in ("t", "c", "z", "y", "x")],
        "value")


# --------------------------------------------------------------------------
# M1: mosaic stitch — 2x2 grid of 8x8 tiles, 2px overlap both axes,
# highest-M-wins (broadcast join + window dedup).
# --------------------------------------------------------------------------
_TILE_OFFSETS = [(0, 0, 0), (1, 0, 6), (2, 6, 0), (3, 6, 6)]
_M_N = 4 * 64


@register(
    "img_mosaic_stitch",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // 64 AS INTEGER) AS m,
             CAST((i // 8) % 8 AS INTEGER) AS y,
             CAST(i % 8 AS INTEGER) AS x,
             CAST((i // 64) * 10000 + ((i // 8) % 8) * 100 + (i % 8)
                  AS DOUBLE) AS value
      FROM range({_M_N}) r(i)
    ),
    tiles(m, y_off, x_off) AS (VALUES {", ".join(f"({m}, {yo}, {xo})" for m, yo, xo in _TILE_OFFSETS)}),
    joined AS (
      SELECT p.m, p.y + t.y_off AS y, p.x + t.x_off AS x, p.value
      FROM px p JOIN tiles t ON p.m = t.m
    ),
    ranked AS (
      SELECT y, x, value,
             row_number() OVER (PARTITION BY y, x ORDER BY m DESC) AS rn
      FROM joined
    )
    SELECT y, x, value FROM ranked WHERE rn = 1 ORDER BY y, x
    """,
    doc="M1 mosaic stitch with highest-M-wins overlap resolution",
)
def img_mosaic_stitch(spark, sf_dir):
    from bioio_spark.operators.mosaic import stitch_mosaic

    df = spark.range(_M_N)
    px = df.select(
        F.lit("img").alias("image_id"), F.lit("Image:0").alias("scene"),
        F.lit(0).alias("res_level"),
        F.lit(0).alias("t"), F.lit(0).alias("c"), F.lit(0).alias("z"),
        ((F.col("id") / 8).cast("long") % 8).cast("int").alias("y"),
        (F.col("id") % 8).cast("int").alias("x"),
        (F.col("id") / 64).cast("long").cast("int").alias("m"),
        F.lit(-1).alias("s"),
        ((F.col("id") / 64).cast("long") * 10000
         + ((F.col("id") / 8).cast("long") % 8) * 100
         + F.col("id") % 8).cast("double").alias("value"))
    tiles = spark.createDataFrame(
        [("img", "Image:0", m, yo, xo) for m, yo, xo in _TILE_OFFSETS],
        "image_id string, scene string, m int, y_off int, x_off int")
    stitched = stitch_mosaic(px, tiles)
    return (stitched.select(F.col("y").cast("int").alias("y"),
                            F.col("x").cast("int").alias("x"), "value")
            .orderBy("y", "x"))


# --------------------------------------------------------------------------
# C3: scene stacking via the real BioImage API (unionByName + scene_idx).
# --------------------------------------------------------------------------
@register(
    "img_scene_stack",
    oracle="""
    SELECT CAST(i // 40 AS INTEGER) AS scene_idx,
           CAST(0 AS INTEGER) AS t,
           CAST((i // 20) % 2 AS INTEGER) AS c,
           CAST(0 AS INTEGER) AS z,
           CAST((i // 5) % 4 AS INTEGER) AS y,
           CAST(i % 5 AS INTEGER) AS x,
           CAST(i AS DOUBLE) AS value
    FROM range(80) r(i)
    ORDER BY scene_idx, c, y, x
    """,
    doc="C3 all-scene stack through BioImage.get_stack_dataframe",
)
def img_scene_stack(spark, sf_dir):
    from bioio_spark.bio_image import BioImage

    a = np.arange(40, dtype=np.float64).reshape(2, 4, 5)
    b = np.arange(40, 80, dtype=np.float64).reshape(2, 4, 5)
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    return (img.get_stack_dataframe()
            .select(F.col("scene_idx").cast("int").alias("scene_idx"),
                    *[F.col(d).cast("int").alias(d)
                      for d in ("t", "c", "z", "y", "x")],
                    "value")
            .orderBy("scene_idx", "c", "y", "x"))


# --------------------------------------------------------------------------
# P8: label-based (.loc) selection — physical-coordinate range predicates
# resolved through the coords dimension table (broadcast join per dim).
# Physical steps: T interval 1.5 s, Y/X pixel size 0.5 um; bounds select
# T in [1.5, 6.0] s (idx 1..4) and Y in [0.5, 1.5] um (idx 1..3).
# --------------------------------------------------------------------------
@register(
    "img_loc_select",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, z, y, x, value FROM px
    WHERE t * 1.5 >= 1.5 AND t * 1.5 <= 6.0
      AND y * 0.5 >= 0.5 AND y * 0.5 <= 1.5
    ORDER BY t, c, z, y, x
    """,
    doc="P8 .loc physical-coordinate selection via coords-table join",
)
def img_loc_select(spark, sf_dir):
    from bioio_spark.dimensions import Dimensions
    from bioio_spark.operators.loc import build_coords, loc_select
    from bioio_spark.types import PhysicalPixelSizes

    px = _gen_pixels(spark)
    dims = Dimensions("TCZYX", (T, C, Z, Y, X))
    coords = build_coords(
        spark, dims,
        physical_pixel_sizes=PhysicalPixelSizes(Z=2.0, Y=0.5, X=0.5),
        time_interval=1.5)
    return (loc_select(px, coords, {"T": (1.5, 6.0), "Y": (0.5, 1.5)})
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# C4/D8: resolution-level shape aggregation (dims answered relationally).
# --------------------------------------------------------------------------
@register(
    "img_res_level_dims",
    oracle="""
    WITH px AS (
      SELECT 0 AS res_level, CAST((i // 16) AS INTEGER) AS y,
             CAST(i % 16 AS INTEGER) AS x
      FROM range(256) r(i)
      UNION ALL
      SELECT 1, CAST((i // 8) AS INTEGER), CAST(i % 8 AS INTEGER)
      FROM range(64) r(i)
    )
    SELECT res_level, max(y) + 1 AS size_y, max(x) + 1 AS size_x,
           count(*) AS n_pixels
    FROM px GROUP BY res_level ORDER BY res_level
    """,
    doc="C4 resolution-level dims via groupBy aggregation",
)
def img_res_level_dims(spark, sf_dir):
    lvl0 = spark.range(256).select(
        F.lit(0).alias("res_level"),
        (F.col("id") / 16).cast("long").cast("int").alias("y"),
        (F.col("id") % 16).cast("int").alias("x"))
    lvl1 = spark.range(64).select(
        F.lit(1).alias("res_level"),
        (F.col("id") / 8).cast("long").cast("int").alias("y"),
        (F.col("id") % 8).cast("int").alias("x"))
    return (lvl0.unionByName(lvl1)
            .groupBy("res_level")
            .agg((F.max("y") + 1).alias("size_y"),
                 (F.max("x") + 1).alias("size_x"),
                 F.count(F.lit(1)).alias("n_pixels"))
            .orderBy("res_level"))


# --------------------------------------------------------------------------
# Chunked plane representation (SURVEY §1.3 / §7): pixels -> dense row-major
# YX tiles -> pixels must be the identity, hash-checked against the same
# generator SQL the pixel fixture uses. This pins the 100 TB layout's
# correctness (tile keying, ragged edges, row-major packing).
# --------------------------------------------------------------------------
@register(
    "img_planes_roundtrip",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, z, y, x, value FROM px ORDER BY t, c, z, y, x
    """,
    doc="planes layout roundtrip: pixels -> 2x3 tiles -> pixels identity",
)
def img_planes_roundtrip(spark, sf_dir):
    from bioio_spark.operators.planes import (pixels_to_planes,
                                              planes_to_pixels)

    px = _gen_pixels(spark)
    planes = pixels_to_planes(px, tile_h=2, tile_w=3)
    return (planes_to_pixels(planes)
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# Tile-pruned YX window selection over the plane layout: only tiles
# overlapping the window are read; per-(t,c) window means must equal the
# direct pixel-space SQL.
# --------------------------------------------------------------------------
@register(
    "img_plane_window",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, avg(value) AS window_mean, count(*) AS n_px
    FROM px
    WHERE y BETWEEN 1 AND 2 AND x BETWEEN 1 AND 3
    GROUP BY t, c ORDER BY t, c
    """,
    doc="tile-pruned YX window aggregation over the plane layout",
)
def img_plane_window(spark, sf_dir):
    from bioio_spark.operators.planes import (pixels_to_planes,
                                              select_window)

    px = _gen_pixels(spark)
    planes = pixels_to_planes(px, tile_h=2, tile_w=3)
    win = select_window(planes, y_lo=1, y_hi=2, x_lo=1, x_hi=3)
    return (win.groupBy("t", "c")
            .agg(F.avg("value").alias("window_mean"),
                 F.count(F.lit(1)).alias("n_px"))
            .orderBy("t", "c"))


# --------------------------------------------------------------------------
# C4 producer side: resolution-pyramid generation — level k+1 = 2x2 block
# mean of level k. The oracle recomputes both levels from the generator with
# nested block-mean SQL (level 2 from level 1, not from level 0, exactly as
# the operator chains).
# --------------------------------------------------------------------------
@register(
    "img_pyramid",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    l1 AS (
      SELECT t, c, z, CAST(y // 2 AS INTEGER) AS y,
             CAST(x // 2 AS INTEGER) AS x, avg(value) AS value
      FROM px GROUP BY t, c, z, y // 2, x // 2
    ),
    l2 AS (
      SELECT t, c, z, CAST(y // 2 AS INTEGER) AS y,
             CAST(x // 2 AS INTEGER) AS x, avg(value) AS value
      FROM l1 GROUP BY t, c, z, y // 2, x // 2
    )
    SELECT 0 AS res_level, t, c, z, y, x, value FROM px
    UNION ALL SELECT 1, t, c, z, y, x, value FROM l1
    UNION ALL SELECT 2, t, c, z, y, x, value FROM l2
    ORDER BY res_level, t, c, z, y, x
    """,
    doc="C4 resolution-pyramid generation via chained 2x2 block means",
)
def img_pyramid(spark, sf_dir):
    from bioio_spark.operators.pyramid import build_pyramid

    px = _gen_pixels(spark)
    return (build_pyramid(px, n_levels=3)
            .select("res_level", "t", "c", "z", "y", "x", "value")
            .orderBy("res_level", "t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# M2/M3: mosaic tile position lookups over the tiles dimension table.
# --------------------------------------------------------------------------
@register(
    "img_tile_positions",
    oracle=f"""
    WITH tiles(m, y_off, x_off) AS (VALUES
      {", ".join(f"({m}, {yo}, {xo})" for m, yo, xo in _TILE_OFFSETS)})
    SELECT m, y_off AS top, x_off AS left_px FROM tiles ORDER BY m
    """,
    doc="M2/M3 per-tile (top, left) position lookup",
)
def img_tile_positions(spark, sf_dir):
    tiles = spark.createDataFrame(
        [(m, yo, xo) for m, yo, xo in _TILE_OFFSETS],
        "m int, y_off int, x_off int")
    return (tiles.select("m", F.col("y_off").alias("top"),
                         F.col("x_off").alias("left_px"))
            .orderBy("m"))


# --------------------------------------------------------------------------
# §2.9 grouped-map surface: per-(t,c) plane z-score normalization via
# applyInPandas — the reference's per-scene transform plugin pattern
# (SNIPPETS §[1] grouped-map). The oracle computes the same normalization
# with window aggregates; population std (ddof=0) on both sides.
# --------------------------------------------------------------------------
@register(
    "img_channel_zscore",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    stats AS (
      SELECT t, c, z, y, x, value,
             avg(value) OVER (PARTITION BY t, c) AS mu,
             stddev_pop(value) OVER (PARTITION BY t, c) AS sigma
      FROM px
    )
    SELECT t, c, z, y, x,
           (value - mu) / sigma AS zscore
    FROM stats ORDER BY t, c, z, y, x
    """,
    doc="grouped-map applyInPandas per-(t,c) z-score normalization",
)
def img_channel_zscore(spark, sf_dir):
    import pandas as pd

    px = _gen_pixels(spark)

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["value"].mean()
        sigma = pdf["value"].std(ddof=0)
        out = pdf[["t", "c", "z", "y", "x"]].copy()
        out["zscore"] = (pdf["value"] - mu) / sigma
        return out

    return (px.groupBy("t", "c")
            .applyInPandas(normalize,
                           schema="t int, c int, z int, y int, x int, "
                                  "zscore double")
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# S9b/§4-stretch: the bioio_raw Python DataSource under the oracle contract.
# The Spark side reads the canonical fixture through the custom source
# (plane-file partitions; t/c predicates prune plane files at planning time
# via pushFilters before Spark re-applies them); the oracle regenerates the
# identical pixels from the value formula. Hash-match proves the custom
# scan path is byte-equivalent to the declarative generator.
# --------------------------------------------------------------------------
_RAW_FIXTURE = "/tmp/bioio_spark_fixture.braw"


def _ensure_raw_fixture(path: str = _RAW_FIXTURE) -> str:
    import os

    if not os.path.exists(os.path.join(path, "manifest.json")):
        from bioio_spark.sources.raw_format import write_raw

        t, c, z, y, x = np.indices((T, C, Z, Y, X))
        arr = (t * 10000 + c * 1000 + z * 100 + y * 10 + x).astype(
            np.float64)
        write_raw(arr, path)
    return path


@register(
    "img_raw_source_scan",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, z, count(*) AS n_px, sum(value) AS sum_val
    FROM px WHERE t >= 1 AND c = 1
    GROUP BY t, z ORDER BY t, z
    """,
    doc="S9b custom Python DataSource scan with plane-partition pruning",
)
def img_raw_source_scan(spark, sf_dir):
    from bioio_spark.sources.raw_format import register_raw_source

    register_raw_source(spark)
    path = _ensure_raw_fixture()
    raw = spark.read.format("bioio_raw").option("path", path).load()
    return (
        raw.filter((F.col("t") >= 1) & (F.col("c") == 1))
        .groupBy("t", "z")
        .agg(F.count(F.lit(1)).alias("n_px"),
             F.sum("value").alias("sum_val"))
        .orderBy("t", "z")
    )


# --------------------------------------------------------------------------
# JPEG roundtrip on 8x8-blocky content: constant blocks carry only DC
# energy, and the DC quantization error at q=95 is < 0.5 gray levels, so
# the lossy codec decodes this fixture EXACTLY (asserted by maxerr-0
# tests) — making a hash-checkable oracle possible for a lossy format.
# 4 files through the reader (parallelism = file count).
# --------------------------------------------------------------------------
@register(
    "img_jpeg_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {24 * 32} AS INTEGER) AS scene_i,
             CAST((i // 32) % 24 AS INTEGER) AS y,
             CAST(i % 32 AS INTEGER) AS x,
             CAST(((i // {24 * 32}) * 37
                   + ((i // 32) % 24 // 8) * 3
                   + (i % 32 // 8) * 5) % 200 + 20 AS DOUBLE) AS value
      FROM range({4 * 24 * 32}) r(i))
    SELECT scene_i, count(*) AS n_px, CAST(sum(value) AS DOUBLE)
             AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY scene_i ORDER BY scene_i
    """,
    doc="Baseline JPEG save -> reread, exact on DC-only blocky content",
)
def img_jpeg_roundtrip(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.jpeg import encode_jpeg
    from bioio_spark.sources.jpeg_image import JpegImageReader

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "jpeg_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for si in range(4):
        yy, xx = np.indices((24, 32))
        img = ((si * 37 + (yy // 8) * 3 + (xx // 8) * 5) % 200 + 20
               ).astype(np.uint8)
        with open(os.path.join(out, f"s{si}.jpg"), "wb") as f:
            f.write(encode_jpeg(img, quality=95))
    back = BioImage(out, reader=JpegImageReader, spark=spark)
    return (back.get_stack_dataframe()
            .groupBy(F.col("scene_idx").alias("scene_i"))
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("scene_i"))


# --------------------------------------------------------------------------
# bioio_zarr DataSource twin of the raw-source scan: the same window
# predicates arrive via Catalyst pushFilters and prune the Zarr plan's
# CHUNK rows at planning time (pushdown decided by the optimizer). Uses
# the roundtrip ramp store; grouped per (z, y) so chunk-offset bugs move
# values between groups.
# --------------------------------------------------------------------------
@register(
    "img_zarr_source_pushdown",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 0 AND z >= 1 AND y < 4
    GROUP BY z, y ORDER BY z, y
    """,
    doc="bioio_zarr DataSource scan with Catalyst-pushed chunk pruning",
)
def img_zarr_source_pushdown(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_source import register_zarr_source
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_source")
    store = os.path.join(out, "scene_0.zarr")
    if not os.path.exists(os.path.join(store, "0", ".zarray")):
        shutil.rmtree(out, ignore_errors=True)
        save_ome_zarr(BioImage(block, spark=spark), out,
                      chunks=(1, 1, 2, 3, 4))
    register_zarr_source(spark)
    px = (spark.read.format("bioio_zarr").option("path", store).load()
          .filter((F.col("t") == 0) & (F.col("z") >= 1)
                  & (F.col("y") < 4)))
    return (px.groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("z", "y"))


# --------------------------------------------------------------------------
# Reductions: maximum-intensity projection (the canonical microscopy
# reduction the reference leaves to numpy after get_image_data) and the
# per-channel intensity histogram. Both are partial-combining hash
# aggregates — the shuffle carries one row per OUTPUT pixel / bin, so a
# 100 TB MIP moves |T*C*Y*X| rows, not the input.
# --------------------------------------------------------------------------
@register(
    "img_max_projection",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, y, x, max(value) AS value
    FROM px GROUP BY t, c, y, x ORDER BY t, c, y, x
    """,
    doc="max-intensity projection over Z as a grouped aggregate",
)
def img_max_projection(spark, sf_dir):
    from bioio_spark.dimensions import Dimensions
    from bioio_spark.operators.reductions import project

    px = _gen_pixels(spark)
    plan, _ = project(px, Dimensions("TCZYX", (T, C, Z, Y, X)), "Z", "max")
    return plan.orderBy("t", "c", "y", "x")


@register(
    "img_channel_histogram",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    rng AS (SELECT c, min(value) AS mn, max(value) AS mx FROM px GROUP BY c)
    SELECT px.c AS c,
           CAST(least(floor((value - mn) * 16 / (mx - mn)), 15) AS INTEGER)
             AS bin,
           count(*) AS n_pixels
    FROM px JOIN rng ON px.c = rng.c
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="per-channel 16-bin equal-width intensity histogram",
)
def img_channel_histogram(spark, sf_dir):
    from bioio_spark.operators.reductions import channel_histogram

    return channel_histogram(_gen_pixels(spark), nbins=16)


@register(
    "img_contrast_stretch",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    pct AS (
      SELECT c, quantile_cont(value, 0.01) AS lo,
             quantile_cont(value, 0.99) AS hi
      FROM px GROUP BY c)
    SELECT t, px.c AS c, z, y, x,
           round(least(greatest((value - lo) / (hi - lo), 0.0), 1.0), 6)
             AS value
    FROM px JOIN pct ON px.c = pct.c
    ORDER BY t, c, z, y, x
    """,
    doc="per-channel 1%/99% percentile contrast stretch to [0,1]",
)
def img_contrast_stretch(spark, sf_dir):
    from bioio_spark.operators.reductions import contrast_stretch

    out = contrast_stretch(_gen_pixels(spark), 0.01, 0.99)
    return (out.select("t", "c", "z", "y", "x",
                       F.round("value", 6).alias("value"))
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# Throughput-scale MIP: the same reduction as img_max_projection over a
# ~786k-pixel generated volume (4x2x6x128x128), so the bench measures the
# pixel path moving real data, not fixed job overhead. Values use a
# wrapping formula (no monotone shortcut for max).
# --------------------------------------------------------------------------
_BT, _BC, _BZ, _BY, _BX = 4, 2, 6, 128, 128
_BN = _BT * _BC * _BZ * _BY * _BX


def _gen_big_pixels(spark):
    df = spark.range(_BN)
    t = (F.col("id") / (_BC * _BZ * _BY * _BX)).cast("long")
    c = (F.col("id") / (_BZ * _BY * _BX)).cast("long") % _BC
    z = (F.col("id") / (_BY * _BX)).cast("long") % _BZ
    y = (F.col("id") / _BX).cast("long") % _BY
    x = F.col("id") % _BX
    value = ((F.col("id") * 2654435761) % 1000003).cast("double")
    return df.select(
        t.cast("int").alias("t"), c.cast("int").alias("c"),
        z.cast("int").alias("z"), y.cast("int").alias("y"),
        x.cast("int").alias("x"), value.alias("value"))


_GEN_BIG_SQL = f"""
  SELECT CAST(i // {_BC * _BZ * _BY * _BX} AS INTEGER) AS t,
         CAST((i // {_BZ * _BY * _BX}) % {_BC} AS INTEGER) AS c,
         CAST((i // {_BY * _BX}) % {_BZ} AS INTEGER) AS z,
         CAST((i // {_BX}) % {_BY} AS INTEGER) AS y,
         CAST(i % {_BX} AS INTEGER) AS x,
         CAST((i * 2654435761) % 1000003 AS DOUBLE) AS value
  FROM range({_BN}) r(i)
"""


@register(
    "img_mip_large",
    oracle=f"""
    WITH px AS ({_GEN_BIG_SQL}),
    mip AS (
      SELECT t, c, y, x, max(value) AS value
      FROM px GROUP BY t, c, y, x)
    SELECT t, c, count(*) AS n_px, sum(value) AS sum_mip,
           max(value) AS max_mip
    FROM mip GROUP BY t, c ORDER BY t, c
    """,
    doc="throughput-scale max projection over a 786k-pixel volume "
        "(checksummed per (t,c) so the oracle result stays small)",
)
def img_mip_large(spark, sf_dir):
    from bioio_spark.dimensions import Dimensions
    from bioio_spark.operators.reductions import project

    px = _gen_big_pixels(spark)
    mip, _ = project(px, Dimensions("TCZYX", (_BT, _BC, _BZ, _BY, _BX)),
                     "Z", "max")
    return (mip.groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_mip"),
                 F.max("value").alias("max_mip"))
            .orderBy("t", "c"))


# --------------------------------------------------------------------------
# The same MIP through the chunked planes layout: pixels -> tiles ->
# elementwise zip_with fold across z -> back to pixels. Hash-matching the
# pixel-level SQL oracle proves the tile path (the layout actually used at
# 100 TB) computes bit-identical projections.
# --------------------------------------------------------------------------
@register(
    "img_planes_mip",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, y, x, max(value) AS value
    FROM px GROUP BY t, c, y, x ORDER BY t, c, y, x
    """,
    doc="max projection computed tile-wise on the planes layout",
)
def img_planes_mip(spark, sf_dir):
    from bioio_spark.operators.planes import (pixels_to_planes,
                                              planes_to_pixels,
                                              project_planes)

    planes = pixels_to_planes(_gen_pixels(spark), tile_h=2, tile_w=3)
    mip = project_planes(planes, reduce_dim="z", op="max")
    return (planes_to_pixels(mip)
            .select("t", "c", "y", "x", "value")
            .orderBy("t", "c", "y", "x"))


@register(
    "img_planes_downsample",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT t, c, z,
           CAST(y // 2 AS INTEGER) AS y, CAST(x // 2 AS INTEGER) AS x,
           avg(value) AS value
    FROM px GROUP BY t, c, z, y // 2, x // 2
    ORDER BY t, c, z, y, x
    """,
    doc="factor-2 bin-average pyramid level computed inside tile payloads",
)
def img_planes_downsample(spark, sf_dir):
    from bioio_spark.operators.planes import (downsample_planes,
                                              pixels_to_planes,
                                              planes_to_pixels)

    # even tile dims so 2x2 pooling windows never span tiles
    planes = pixels_to_planes(_gen_pixels(spark), tile_h=2, tile_w=4)
    down = downsample_planes(planes)
    return (planes_to_pixels(down)
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# Stencil compute: 3x3 box blur, edge-clamped (mean over in-bounds
# neighbors). Pixel level: each cell exploded to the 9 targets it feeds,
# one shuffle onto the target key. Oracle: relational neighborhood
# self-join (|dy|<=1 AND |dx|<=1) per plane.
# --------------------------------------------------------------------------
@register(
    "img_box_blur",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x, avg(b.value) AS value
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="3x3 edge-clamped box blur, pixel-level contribution explode",
)
def img_box_blur(spark, sf_dir):
    from bioio_spark.operators.stencil import box_blur_pixels

    return (box_blur_pixels(_gen_pixels(spark), Y, X)
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# The same blur through the planes layout with a real halo exchange: tiles
# ship O(perimeter) border strips to grid neighbors, one shuffle, blur
# computed vectorized inside the reassembled tile. Hash-matching the
# pixel-level oracle proves the 100 TB path computes identical values —
# including across tile seams and ragged edge tiles (2x3 pitch over a
# 4x5 image exercises both).
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# 3x3 grayscale morphology (erosion via the halo-exchange planes path,
# dilation via the pixel-explode path) — the structuring-element workloads
# that follow blur in a segmentation pipeline. Oracle: min/max self-join
# within the 3x3 neighborhood, edge-clamped.
# --------------------------------------------------------------------------
@register(
    "img_erosion",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x, min(b.value) AS value
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="3x3 grayscale erosion, tile-wise via halo exchange on planes",
)
def img_erosion(spark, sf_dir):
    from bioio_spark.operators.planes import (pixels_to_planes,
                                              planes_to_pixels)
    from bioio_spark.operators.stencil import morph_planes

    planes = pixels_to_planes(_gen_pixels(spark), tile_h=2, tile_w=3)
    eroded = morph_planes(planes, op="min", tile_h=2, tile_w=3)
    return (planes_to_pixels(eroded)
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_dilation",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x, max(b.value) AS value
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="3x3 grayscale dilation, pixel-level contribution explode",
)
def img_dilation(spark, sf_dir):
    from bioio_spark.operators.stencil import morph_pixels

    return (morph_pixels(_gen_pixels(spark), Y, X, op="max")
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_median",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x,
           ((list_sort(list(b.value)))[(count(*) + 1) // 2]
            + (list_sort(list(b.value)))[count(*) // 2 + 1]) / 2
             AS value
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="3x3 median filter (N4): exact order statistic over the "
        "edge-clamped neighborhood, explicit midpoint rule spelled "
        "identically in both engines",
)
def img_median(spark, sf_dir):
    """Salt-and-pepper denoiser completing the stencil family
    (blur N1 / erosion N2 / dilation N3 / median N4). The median is a
    NON-LINEAR rank filter, so unlike blur it has no
    halo-sum decomposition — the pixel-level contribution explode IS
    the distributed form (bounded 9-element sorted lists per
    target)."""
    from bioio_spark.operators.stencil import median_pixels

    return (median_pixels(_gen_pixels(spark), Y, X)
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# Connected-component labeling over a thresholded mask — segmentation
# labeling, the step after blur/threshold in every bioimage pipeline
# (the reference's users run scipy.ndimage.label on get_image_data
# output). 4-neighbor adjacency edges within each (t,c,z) plane feed the
# SAME scalable pointer-jumping CC used for dedup clusters
# (functions/clusters.py), so an image op and an LLM op share one
# distributed-algorithm core. Node id = flattened global pixel index;
# planes can never merge because edges only connect same-plane pixels.
# Components of a single isolated pixel carry no edge and are not listed
# (same contract as the dedup clusters op; counting them is a narrow
# anti-join away).
# Scale: edges come from two equi self-joins on the (plane, y, x) key —
# shuffle on the composite key, O(pixels) edges; the CC loop is
# O(log diameter) rounds over |mask| nodes.
# --------------------------------------------------------------------------
_CC_NODE_SQL = (f"(((CAST(t AS BIGINT) * {C} + c) * {Z} + z) * {Y * X}"
                f" + y * {X} + x)")


def _cc_mask(spark):
    """Thresholded fixture mask in the label_mask_components input shape
    (t, c, z, y, x, node)."""
    px = _gen_pixels(spark)
    node = (((F.col("t").cast("long") * C + F.col("c")) * Z
             + F.col("z")) * (Y * X)
            + F.col("y") * X + F.col("x")).alias("node")
    return (px.filter(F.col("value").cast("long") % 7 < 4)
            .select("t", "c", "z", "y", "x", node))


def _cc_pairs_cte() -> str:
    return f"""px AS ({_GEN_SQL}),
    mask AS (
      SELECT t, c, z, y, x, {_CC_NODE_SQL} AS node
      FROM px WHERE CAST(value AS BIGINT) % 7 < 4),
    pairs AS (
      SELECT a.node AS doc_a, b.node AS doc_b
      FROM mask a JOIN mask b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND ((b.y = a.y AND b.x = a.x + 1)
            OR (b.y = a.y + 1 AND b.x = a.x))
    )"""


def _cc_oracle() -> str:
    from bioio_spark.functions.clusters import dedup_clusters_oracle

    return dedup_clusters_oracle(_cc_pairs_cte()).replace(
        "SELECT node AS doc_id, cluster_rep,",
        "SELECT node, cluster_rep AS component,").replace(
        "count(*) OVER (PARTITION BY cluster_rep) AS cluster_size",
        "count(*) OVER (PARTITION BY cluster_rep) AS component_size"
    ).replace(
        "FROM cc ORDER BY doc_id", "FROM cc ORDER BY node")


@register(
    "img_label_components",
    oracle=_cc_oracle(),
    doc="connected-component labeling of a thresholded pixel mask",
)
def img_label_components(spark, sf_dir):
    from bioio_spark.operators.labeling import label_mask_components

    mask = _cc_mask(spark)
    # auto-dispatch with the catalog size hint: the fixture mask is far
    # below TILE_THRESHOLD, so this resolves to the flat formulation.
    # Fixture components are compact blobs (diameter <= 3), so the
    # default late pointer jumping is right (measured: jump_from=1 only
    # adds join cost here); pass jump_from=1 for snake-like masks.
    return label_mask_components(
        mask, approx_size=T * C * Z * Y * X).orderBy("node")


# --------------------------------------------------------------------------
# Two-level component labeling — the 100 TB shape of the same problem:
# (1) LOCAL union-find inside each YX tile (applyInPandas, zero
# cross-partition traffic), (2) the global pointer-jumping CC runs ONLY
# on the tile-BOUNDARY label graph, so per-round shuffle volume is
# proportional to tile perimeter * #tiles, not mask area. Same oracle as
# the flat labeling — the two formulations must agree bit-for-bit.
# --------------------------------------------------------------------------
_CC_TH, _CC_TW = 2, 3


@register(
    "img_label_components_tiled",
    oracle=_cc_oracle(),
    doc="two-level CC labeling: per-tile union-find + boundary-graph merge",
)
def img_label_components_tiled(spark, sf_dir):
    from bioio_spark.operators.labeling import label_mask_components

    # forced tiled strategy with fixture-scale (2,3) tiles so both
    # formulations run against the SAME oracle at sf scale; at 100 TB the
    # auto dispatch picks this path with DEFAULT_TILE
    return label_mask_components(
        _cc_mask(spark), strategy="tiled",
        tile=(_CC_TH, _CC_TW)).orderBy("node")


# --------------------------------------------------------------------------
# OME-TIFF sink+source roundtrip as a driver-checked query: deterministic
# pixels -> distributed save_ome_tiff (applyInPandas encode, baseline TIFF
# codec) -> TiffImageReader (binaryFile + mapInPandas decode) -> aggregate.
# The oracle regenerates the same pixels from the closed-form value
# formula, so a bit flip anywhere in the encode/decode/catalog chain
# breaks the hash. Files land under the repo-local .scratch dir.
# --------------------------------------------------------------------------
_RT_SHAPE = (2, 2, 2, 4, 5)  # T C Z Y X


@register(
    "img_ome_tiff_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 2 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {2 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 2 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 2 * 4 * 5}) * 10000
                  + ((i // {2 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 2) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 2 * 4 * 5}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="S10 OME-TIFF save -> reread roundtrip, value-checked end to end",
)
def img_ome_tiff_roundtrip(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RT_SHAPE)
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.float64)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ome_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_tiff(img, out)
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


# --------------------------------------------------------------------------
# Deflate-compressed, multi-sample (TCZYXS) variant of the roundtrip:
# Compression=8 pages through zlib, S=3 interleaved samples through the
# reference's TCZYX+S standardization (ref bio_image.py:500-546), uint32
# pixels. Grouping by (c, s) makes a sample-interleave bug (s <-> x swap,
# wrong stride) change the hash, not just the total.
# --------------------------------------------------------------------------
_RTC_SHAPE = (1, 2, 2, 4, 5, 3)  # T C Z Y X S


@register(
    "img_ome_tiff_roundtrip_compressed",
    oracle=f"""
    WITH px AS (
      SELECT CAST((i // {2 * 2 * 4 * 5 * 3}) % 1 AS INTEGER) AS t,
             CAST((i // {2 * 4 * 5 * 3}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5 * 3}) % 2 AS INTEGER) AS z,
             CAST((i // {5 * 3}) % 4 AS INTEGER) AS y,
             CAST((i // 3) % 5 AS INTEGER) AS x,
             CAST(i % 3 AS INTEGER) AS s,
             CAST(((i // {2 * 2 * 4 * 5 * 3}) % 1) * 100000
                  + ((i // {2 * 4 * 5 * 3}) % 2) * 10000
                  + ((i // {4 * 5 * 3}) % 2) * 1000
                  + ((i // {5 * 3}) % 4) * 100
                  + ((i // 3) % 5) * 10 + (i % 3) AS DOUBLE) AS value
      FROM range({1 * 2 * 2 * 4 * 5 * 3}) r(i))
    SELECT c, s, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, s ORDER BY c, s
    """,
    doc="S10 Deflate-compressed TCZYXS OME-TIFF save -> reread roundtrip",
)
def img_ome_tiff_roundtrip_compressed(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTC_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 100 + idx[4] * 10 + idx[5]).astype(np.uint32)
    img = BioImage(block, dim_order="TCZYXS", spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ome_roundtrip_deflate")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_tiff(img, out, compression=8)
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("c", "s")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "s"))


@register(
    "img_ome_tiff_roundtrip_packbits",
    oracle=f"""
    WITH px AS (
      SELECT CAST((i // {2 * 2 * 4 * 5 * 3}) % 1 AS INTEGER) AS t,
             CAST((i // {2 * 4 * 5 * 3}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5 * 3}) % 2 AS INTEGER) AS z,
             CAST((i // {5 * 3}) % 4 AS INTEGER) AS y,
             CAST((i // 3) % 5 AS INTEGER) AS x,
             CAST(i % 3 AS INTEGER) AS s,
             CAST(((i // {4 * 5 * 3}) % 2) * 7
                  + ((i // {5 * 3}) % 4) % 3 AS DOUBLE) AS value
      FROM range({1 * 2 * 2 * 4 * 5 * 3}) r(i))
    SELECT z, s, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z, s ORDER BY z, s
    """,
    doc="S10/S15 PackBits(32773)+predictor OME-TIFF save -> reread "
        "roundtrip (TIFF 6.0 §9 RLE; low-cardinality data so runs engage)",
)
def img_ome_tiff_roundtrip_packbits(spark, sf_dir):
    """PackBits save→reread, hash-checked. RLE-friendly payload
    (values depend only on z and y%3, constant along x) so the strip
    bytes actually contain replicate runs; predictor=2 layers the
    horizontal-differencing path on top (ref bioio OmeTiffWriter
    compression kwarg surface, writers/ome_tiff_writer.py)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTC_SHAPE)
    block = (idx[2] * 7 + idx[3] % 3).astype(np.uint16)
    img = BioImage(block, dim_order="TCZYXS", spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ome_roundtrip_packbits")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_tiff(img, out, compression=32773, predictor=2)
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("z", "s")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z", "s"))


# --------------------------------------------------------------------------
# Complex pixel type end-to-end (SURVEY §1.2/§1.3: complex64 -> struct
# <re,im>): a complex64 ArrayLike fixture through BioImage ingest and a
# window selector, hashed as separate re/im DOUBLE columns — the
# canonicalization the harness note (SURVEY "What's hard" #5) prescribes.
# Component values are quarters (exact in float32), so the hash is exact.
# --------------------------------------------------------------------------
_CPLX_SHAPE = (2, 2, 3, 4, 5)  # T C Z Y X


@register(
    "img_complex_pixels",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS base
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT t, c, z, y, x, base AS re, -base / 4.0 AS im
    FROM px WHERE z < 2 AND x >= 1
    ORDER BY t, c, z, y, x
    """,
    doc="complex64 pixels (struct<re,im>) through ingest + window "
        "selector, re/im canonicalized to DOUBLE columns",
)
def img_complex_pixels(spark, sf_dir):
    import numpy as np

    from bioio_spark.bio_image import BioImage

    idx = np.indices(_CPLX_SHAPE)
    base = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.float32)
    block = (base - 1j * (base / 4.0)).astype(np.complex64)
    img = BioImage(block, spark=spark)
    return (img.get_image_dataframe()
            .filter((F.col("z") < 2) & (F.col("x") >= 1))
            .select("t", "c", "z", "y", "x",
                    F.col("value.re").alias("re"),
                    F.col("value.im").alias("im"))
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# Float-pixel (SampleFormat=3) LZW roundtrip: float32 pages with negative
# and fractional values through the distributed sink and back — covers the
# float half of the reference's OME dtype map (ref ome_utils.py:66-137)
# that the integer roundtrips above don't touch. Values are quarters
# (exact in float32), so the sums hash exactly. Compression=5 exercises
# LZW over a float byte stream (no predictor — integer-only).
# --------------------------------------------------------------------------
_RTF_SHAPE = (2, 2, 2, 4, 5)  # T C Z Y X


@register(
    "img_ome_tiff_roundtrip_float",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 2 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {2 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST(((i // {2 * 2 * 4 * 5}) * 10000
                  + ((i // {2 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 2) * 100
                  + ((i // 5) % 4) * 10 + (i % 5)) / 4.0 - 100.0
                  AS DOUBLE) AS value
      FROM range({2 * 2 * 2 * 4 * 5}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(min(value) AS DOUBLE) AS min_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="S10 float32 (SampleFormat=3) LZW OME-TIFF save -> reread "
        "roundtrip, value-checked end to end",
)
def img_ome_tiff_roundtrip_float(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTF_SHAPE)
    block = ((idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
              + idx[3] * 10 + idx[4]) / 4.0 - 100.0).astype(np.float32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ome_roundtrip_float")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_tiff(img, out, compression=5)
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.min("value").alias("min_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


# --------------------------------------------------------------------------
# OME-Zarr (NGFF 0.4 / Zarr v2) roundtrip — the reference's bioio-ome-zarr
# surface (ref README.md:66,81). Chunks (1,1,2,3,4) do NOT divide the
# (2,2,3,5,6) shape, so edge-chunk fill padding and trim are on the hashed
# path; zlib chunk compression exercised both directions. Grouping by
# (z, y) makes a chunk-offset bug (grid*chunk arithmetic) move values
# between groups and change the hash.
# --------------------------------------------------------------------------
_RTZ_SHAPE = (2, 2, 3, 5, 6)  # T C Z Y X


@register(
    "img_ome_zarr_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z, y ORDER BY z, y
    """,
    doc="OME-Zarr chunked save -> reread roundtrip (NGFF 0.4, zlib chunks)",
)
def img_ome_zarr_roundtrip(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4))
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z", "y"))


# --------------------------------------------------------------------------
# NGFF 0.5 / Zarr v3 WRITE roundtrip: the same ramp through the v3 sink
# (group + array zarr.json, attributes.ome, 'c/'-prefixed '/'-separated
# chunk keys, bytes+gzip codec chain) and back through the v3 read path.
# Grouping by (c, x) — different keys than the 0.4 roundtrip — so a
# v3-specific chunk-key or codec bug moves values between groups.
# --------------------------------------------------------------------------
@register(
    "img_ome_zarr_roundtrip_v3",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT c, x, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, x ORDER BY c, x
    """,
    doc="OME-Zarr v3 (NGFF 0.5) chunked save -> reread roundtrip",
)
def img_ome_zarr_roundtrip_v3(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_roundtrip_v3")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4), ngff_version="0.5")
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("c", "x")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "x"))


@register(
    "img_ome_tiff_pyramid",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {16 * 24} AS INTEGER) AS z,
             CAST((i // 24) % 16 AS INTEGER) AS y,
             CAST(i % 24 AS INTEGER) AS x,
             CAST(((i // 24) % 16) * 16 + (i % 24) * 2
                  + (i // {16 * 24}) * 200 AS DOUBLE) AS value
      FROM range({2 * 16 * 24}) r(i)),
    lvl1 AS (
      SELECT z, CAST(y // 2 AS INTEGER) AS ly,
             CAST(x // 2 AS INTEGER) AS lx,
             round(avg(value)) AS value
      FROM px GROUP BY z, y // 2, x // 2)
    SELECT z, ly AS y, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM lvl1 GROUP BY z, ly ORDER BY z, y
    """,
    doc="pyramidal tiled OME-TIFF sink (SubIFD levels) -> level-1 "
        "window read; hash pins the 2x2 block-mean + SubIFD chain",
)
def img_ome_tiff_pyramid(spark, sf_dir):
    """save_ome_tiff(n_levels=2, tile=) writes SubIFD pyramid children;
    BioImage.read_window at resolution level 1 reads them back through
    the reader's chunk plan.
    The linear fixture makes every 2x2 mean exact, so round() matches
    numpy rint bit-for-bit."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices((1, 1, 2, 16, 24))
    # 2x the x term keeps every 2x2 block mean integral, so SQL round()
    # and numpy rint agree exactly (no half-to-even vs half-away skew)
    block = (idx[3] * 16 + idx[4] * 2 + idx[2] * 200).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ome_tiff_pyramid")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_tiff(BioImage(block, spark=spark), out,
                  compression=8, tile=(16, 16), n_levels=2)
    img = BioImage(os.path.join(out, "scene_0.ome.tiff"), spark=spark)
    img.set_resolution_level(1)
    return (img.read_window()
            .groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z", "y"))


@register(
    "img_nd2_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 4 * 5} AS INTEGER) AS t,
             CAST(i % 2 AS INTEGER) AS c,
             CAST((i // {2 * 5}) % 4 AS INTEGER) AS y,
             CAST((i // 2) % 5 AS INTEGER) AS x,
             CAST((i // {2 * 4 * 5}) * 10000 + (i % 2) * 1000
                  + ((i // {2 * 5}) % 4) * 10
                  + ((i // 2) % 5) AS DOUBLE) AS value
      FROM range({3 * 2 * 4 * 5}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="ND2 (Nikon) encode -> BioImage reread (bioio-nd2 tier: "
        "chunk-map tail seek, LV attributes, component de-interleave)",
)
def img_nd2_roundtrip(spark, sf_dir):
    """ND2 roundtrip: component-INTERLEAVED frames (x fastest, then
    component) so the hash pins the de-interleave, the chunk-map walk,
    and the LV attribute decode. Ref README.md:63 (bioio-nd2)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((3, 4, 5, 2))         # T Y X C interleaved
    frames = (idx[0] * 10000 + idx[3] * 1000 + idx[1] * 10
              + idx[2]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "nd2_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "cells.nd2")
    with open(path, "wb") as f:
        f.write(encode_nd2(frames, pixel_um=0.16,
                           channel_names=["DAPI", "GFP"]))
    img = BioImage(path, spark=spark)       # .nd2 extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_lif_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="LIF (Leica) encode -> BioImage reread (bioio-lif tier: block "
        "walk + XML strides, per-plane planned reads)",
)
def img_lif_roundtrip(spark, sf_dir):
    """LIF roundtrip: version-2 blocks, UTF-16 XML, BytesInc stride
    decode, plane-planned distributed read. Ref README.md:62
    (bioio-lif)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.lif import encode_lif

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lif_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "cells.lif")
    with open(path, "wb") as f:
        f.write(encode_lif([{"name": "SeriesA", "data": block,
                             "pps": (0.5, 0.2, 0.2)}]))
    img = BioImage(path, spark=spark)       # .lif extension routing
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_lif_tilescan",
    oracle="""
    WITH tile AS (
      SELECT CAST(i // 5 AS INTEGER) AS ty, CAST(i % 5 AS INTEGER) AS tx,
             i FROM range(20) r(i)),
    px AS (
      SELECT m, ty AS yy, CAST(m * 5 + tx AS INTEGER) AS xx,
             CAST(m * 1000 + ty * 10 + tx AS DOUBLE) AS value
      FROM tile CROSS JOIN (SELECT CAST(j AS INTEGER) AS m
                            FROM range(2) s(j)))
    SELECT yy AS y, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY yy ORDER BY yy
    """,
    doc="LIF tile scan (DimID 10 + TileScanInfo stage positions) -> "
        "M1 stitch; hash pins the stride decode, position->pixel "
        "conversion, and the stitch join",
)
def img_lif_tilescan(spark, sf_dir):
    """Two 4x5 tiles at stage positions 0 / 2.5 µm with 0.5 µm pixels
    (= 5 px apart) written as a Leica tile scan, read through the
    extension-routed LifImageReader and default mosaic reconstruction.
    Ref README.md:62 (bioio-lif)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.lif import encode_lif

    idx = np.indices((4, 5))
    tiles = np.stack([(m * 1000 + idx[0] * 10 + idx[1])
                      for m in range(2)]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lif_tilescan")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "scan.lif")
    with open(path, "wb") as f:
        f.write(encode_lif([{
            "name": "TileScan",
            "data": tiles[:, None, None, None],
            "pps": (1.0, 0.5, 0.5),
            "tiles": [(0.0, 0.0), (0.0, 2.5)]}]))
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("y"))


@register(
    "img_czi_mosaic_roundtrip",
    oracle="""
    WITH tile AS (
      SELECT CAST(i // 4 AS INTEGER) AS ty, CAST(i % 4 AS INTEGER) AS tx,
             i FROM range(12) r(i)),
    px AS (
      SELECT m, ty AS yy, CAST(m * 4 + tx AS INTEGER) AS xx,
             CAST(m * 1000 + ty * 10 + tx AS DOUBLE) AS value
      FROM tile CROSS JOIN (SELECT CAST(j AS INTEGER) AS m
                            FROM range(3) s(j)))
    SELECT yy AS y, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY yy ORDER BY yy
    """,
    doc="CZI (ZISRAW) mosaic: encode M-tiled subblocks, read through "
        "the directory-planned CziImageReader, M1-stitch, aggregate",
)
def img_czi_mosaic_roundtrip(spark, sf_dir):
    """Three 3x4 uint16 tiles at x offsets 0/4/8 written as ZISRAW
    M-subblocks -> BioImage (.czi routing) -> default mosaic stitch ->
    per-row aggregate. The hash pins the segment/directory walk,
    subblock seek reads, tile-offset extraction, and the stitch join.
    Ref README.md:59 (bioio-czi)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.czi import encode_czi

    idx = np.indices((3, 4))
    subs = []
    for m in range(3):
        tile = (m * 1000 + idx[0] * 10 + idx[1]).astype(np.uint16)
        subs.append({"data": tile,
                     "dims": {"S": 0, "M": m, "X": m * 4, "Y": 0}})
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "czi_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "mosaic.czi")
    with open(path, "wb") as f:
        f.write(encode_czi(subs))
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("y"))


@register(
    "img_sldy_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT c, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, y ORDER BY c, y
    """,
    doc="SlideBook .sldy npy-directory read (bioio-sldy tier: per-(T,C) "
        "npy ZYX stacks + yaml records, one npy per task)",
)
def img_sldy_roundtrip(spark, sf_dir):
    """Write a SlideBook-style npy export into .scratch, read it back
    through the extension-routed SldyImageReader, aggregate per (c, y).
    Ref README.md:67 (bioio-sldy)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "sldy_roundtrip",
        "capture.sldy")
    shutil.rmtree(os.path.dirname(out), ignore_errors=True)
    os.makedirs(os.path.join(out, "ImageData"))
    for t in range(2):
        for c in range(2):
            np.save(os.path.join(out, "ImageData", f"T{t}_C{c}.npy"),
                    block[t, c])
    with open(os.path.join(out, "ImageRecord.yaml"), "w") as f:
        f.write("name: capture\nmicrons_per_pixel: 0.16\n")
    img = BioImage(out, spark=spark)        # .sldy extension routing
    return (img.get_image_dataframe()
            .groupBy("c", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "y"))


@register(
    "img_dv_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="DeltaVision .dv encode -> BioImage reread (bioio-dv tier: MRC "
        "header, WZT section order, per-section seek-planned read)",
)
def img_dv_roundtrip(spark, sf_dir):
    """DV roundtrip through the non-default WZT section order, so the
    hash pins the ImgSequence offset arithmetic, wavelength->channel
    mapping, and the planned per-section reads. Ref README.md:60
    (bioio-dv)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dv import encode_dv

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dv_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "cells.dv")
    with open(path, "wb") as f:
        f.write(encode_dv(block, pixel_sizes=(0.3, 0.1, 0.1),
                          waves=[435, 525, 595], img_sequence=1))
    img = BioImage(path, spark=spark)       # .dv extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_tiff_glob_series",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT t, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, z ORDER BY t, z
    """,
    doc="TIFF glob series (bioio-tiff-glob tier): filename-indexed "
        "single-plane files assembled into TCZYX stacks, one file per "
        "task off the binaryFile scan",
)
def img_tiff_glob_series(spark, sf_dir):
    """Write a t{t}_c{c}_z{z} single-plane series into .scratch, read it
    back through TiffGlobReader (default last-four-integers indexer),
    aggregate per (t, z). Ref README.md:69 (bioio-tiff-glob)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.sources.tiff_glob import TiffGlobReader

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "tiff_glob_series")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for t in range(2):
        for c in range(2):
            for z in range(3):
                with open(os.path.join(
                        out, f"acq_t{t}_c{c}_z{z}.tif"), "wb") as f:
                    f.write(encode_tiff([block[t, c, z]]))
    img = BioImage(os.path.join(out, "acq_*.tif"),
                   reader=TiffGlobReader, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("t", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "z"))


@register(
    "img_ome_zarr_roundtrip_sharded",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z, y ORDER BY z, y
    """,
    doc="Zarr v3 sharding_indexed save -> reread roundtrip (inner-chunk "
        "index + crc32c; the 100 TB object-count layout of NGFF 0.5)",
)
def img_ome_zarr_roundtrip_sharded(spark, sf_dir):
    """Sharded NGFF 0.5 roundtrip: shards (1,2,3,5,6) over inner chunks
    (1,1,1,5,3) — 2 t-shards per scene, each packing 2*3*2 = 12 inner
    chunks behind one bytes+crc32c byte-range index. The read side
    (the Zarr plan's inner-chunk rows -> iter_decoded_blocks) decodes
    per inner chunk, so a hash match pins the whole index/offset/crc
    chain."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_roundtrip_sharded")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 1, 5, 3),
                  shards=(1, 2, 3, 5, 6), ngff_version="0.5")
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z", "y"))


# --------------------------------------------------------------------------
# bioio_tiff DataSource scan with Catalyst-pushed page/strip pruning —
# the TIFF twin of img_zarr_source_pushdown: the optimizer's pushFilters
# prune to intersecting pages at PLANNING time via the seek-based IFD
# walk; Spark re-applies the filters for the exact residual trim.
# --------------------------------------------------------------------------
@register(
    "img_tiff_source_pushdown",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND z < 2 AND y >= 1
    GROUP BY c, z ORDER BY c, z
    """,
    doc="bioio_tiff DataSource scan with Catalyst-pushed page pruning",
)
def img_tiff_source_pushdown(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.tiff_source import register_tiff_source
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "tiff_source")
    path = os.path.join(out, "scene_0.ome.tiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        save_ome_tiff(BioImage(block, spark=spark), out, compression=5)
    register_tiff_source(spark)
    px = (spark.read.format("bioio_tiff").option("path", path).load()
          .filter("t = 1 AND z < 2 AND y >= 1"))
    return (px.groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("c", "z"))


# --------------------------------------------------------------------------
# Multi-scene SINGLE-FILE OME-TIFF roundtrip: two deterministic scenes
# (different shapes) through save_ome_tiff_single_file -> one file with
# two <Image> elements -> BioImage scene stack -> per-(scene, c)
# aggregate. A page-range mis-assignment moves whole planes between
# scenes and breaks the hash. (C1-C3 scene model over in-file scenes.)
# --------------------------------------------------------------------------
@register(
    "img_multiscene_file_roundtrip",
    oracle=f"""
    WITH s0 AS (
      SELECT 0 AS scene_idx, CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST(i // {4 * 5} % 3 * 100 + (i // 5) % 4 * 10 + i % 5
                  + ((i // {3 * 4 * 5}) % 2) * 1000 AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5}) r(i)),
    s1 AS (
      SELECT 1 AS scene_idx, CAST((i // {2 * 4 * 5}) % 3 AS INTEGER) AS c,
             CAST(50000 + (i // {4 * 5}) % 2 * 100 + (i // 5) % 4 * 10
                  + i % 5 + ((i // {2 * 4 * 5}) % 3) * 1000 AS DOUBLE)
               AS value
      FROM range({3 * 2 * 4 * 5}) r(i)),
    px AS (SELECT * FROM s0 UNION ALL SELECT * FROM s1)
    SELECT scene_idx, c, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY scene_idx, c ORDER BY scene_idx, c
    """,
    doc="multi-scene single-file OME-TIFF save -> scene-stack reread",
)
def img_multiscene_file_roundtrip(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_tiff_single_file

    i0 = np.indices((2, 3, 4, 5))        # C Z Y X
    a = (i0[0] * 1000 + i0[1] * 100 + i0[2] * 10 + i0[3]).astype(
        np.uint16)
    i1 = np.indices((3, 2, 4, 5))
    b = (50000 + i1[0] * 1000 + i1[1] * 100 + i1[2] * 10
         + i1[3]).astype(np.uint16)
    src = BioImage([a, b], dim_order="CZYX", spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "multiscene")
    path = os.path.join(out, "all.ome.tiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out, exist_ok=True)
        save_ome_tiff_single_file(src, path, compression=8)
    back = BioImage(path, spark=spark)
    return (back.get_stack_dataframe()
            .groupBy("scene_idx", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("scene_idx", "c"))


# --------------------------------------------------------------------------
# Page/strip-pruned windowed TIFF read — the TIFF twin of the Zarr window
# read: the driver's seek-based IFD walk selects only the pages (t,c,z)
# and strips/tiles the window intersects, executors fetch just those byte
# ranges. Window (t=1, z in [1,3), y in [2,5), x full) over the ramp;
# per-(z,y) aggregation so offset bugs move values between groups.
# --------------------------------------------------------------------------
@register(
    "img_tiff_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND z >= 1 AND z < 3 AND y >= 2 AND y < 5
    GROUP BY z, y ORDER BY z, y
    """,
    doc="Page/strip-pruned windowed TIFF read (seek-based IFD planning)",
)
def img_tiff_window_read(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "tiff_window")
    path = os.path.join(out, "scene_0.ome.tiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        save_ome_tiff(BioImage(block, spark=spark), out, compression=5)
    px = BioImage(path, spark=spark).read_window(t=1, z=(1, 3), y=(2, 5))
    return (px.groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("z", "y"))


# --------------------------------------------------------------------------
# Chunk-pruned windowed Zarr read: BioImage.read_window decodes ONLY the
# plan rows (chunks) the window intersects (driver-side arithmetic over
# the array document — the zarr analog of parquet partition pruning) and
# slices each decoded chunk to the window in numpy. Window (t=1, z in
# [1,3), y in [2,5), x full) over the roundtrip ramp; per-(z,y)
# aggregation so offset bugs move values between groups.
# --------------------------------------------------------------------------
@register(
    "img_zarr_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND z >= 1 AND z < 3 AND y >= 2 AND y < 5
    GROUP BY z, y ORDER BY z, y
    """,
    doc="Chunk-pruned windowed Zarr read (plan-row pushdown)",
)
def img_zarr_window_read(spark, sf_dir):
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_window")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4))
    px = BioImage(os.path.join(out, "scene_0.zarr"),
                  spark=spark).read_window(t=1, z=(1, 3), y=(2, 5))
    return (px.groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("z", "y"))


@register(
    "img_planes_blur",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x, avg(b.value) AS value
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="3x3 box blur computed tile-wise via halo exchange on planes",
)
def img_planes_blur(spark, sf_dir):
    from bioio_spark.operators.planes import (pixels_to_planes,
                                              planes_to_pixels)
    from bioio_spark.operators.stencil import blur_planes

    planes = pixels_to_planes(_gen_pixels(spark), tile_h=2, tile_w=3)
    blurred = blur_planes(planes, tile_h=2, tile_w=3)
    return (planes_to_pixels(blurred)
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_czi_jpeg_roundtrip",
    oracle="""
    WITH px AS (
      SELECT CAST(i // 48 AS INTEGER) AS y,
             CAST(i % 48 AS INTEGER) AS x,
             CAST(((i % 48) // 16 * 37 + (i // 48 // 8) * 3
                   + ((i % 48) % 16 // 8) * 5) % 200 + 20 AS DOUBLE)
               AS value
      FROM range(384) r(i))
    SELECT y, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY y ORDER BY y
    """,
    doc="CZI JPEG-compressed mosaic (compression 1): baseline JFIF "
        "subblocks decoded executor-side inside the planned read, "
        "M1 stitch, aggregate — exact on DC-only blocky content",
)
def img_czi_jpeg_roundtrip(spark, sf_dir):
    """Compression 1 (JPEG) CZI subblocks through the in-repo baseline
    JFIF codec (formats/jpeg.py — the same reuse as MJPG-in-AVI):
    three 8x16 uint8 mosaic tiles, constant on 8x8 blocks so the q=95
    DC quantization error is < 0.5 gray levels and the lossy codec
    decodes the fixture EXACTLY; two tiles JPEG, one raw, in ONE file.
    Ref README.md:59 (bioio-czi routes .czi)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.czi import encode_czi

    yy, xx = np.indices((8, 16))
    subs = []
    for m, comp in enumerate((1, 1, 0)):
        tile = ((m * 37 + (yy // 8) * 3 + (xx // 8) * 5) % 200
                + 20).astype(np.uint8)
        subs.append({"data": tile, "compression": comp,
                     "dims": {"S": 0, "M": m, "X": m * 16, "Y": 0}})
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "czi_jpeg_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "mosaic_jpeg.czi")
    with open(path, "wb") as f:
        f.write(encode_czi(subs))
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("y"))


@register(
    "img_czi_zstd_roundtrip",
    oracle="""
    WITH tile AS (
      SELECT CAST(i // 4 AS INTEGER) AS ty, CAST(i % 4 AS INTEGER) AS tx,
             i FROM range(12) r(i)),
    px AS (
      SELECT m, ty AS yy, CAST(m * 4 + tx AS INTEGER) AS xx,
             CAST(m * 2000 + ty * 10 + tx AS DOUBLE) AS value
      FROM tile CROSS JOIN (SELECT CAST(j AS INTEGER) AS m
                            FROM range(3) s(j)))
    SELECT yy AS y, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY yy ORDER BY yy
    """,
    doc="CZI zstd-compressed mosaic: zstd0/zstd1(hi-lo)/raw subblocks "
        "in one file, directory-planned read + executor-side "
        "decompress, M1 stitch, aggregate",
)
def img_czi_zstd_roundtrip(spark, sf_dir):
    """Real-world Zeiss acquisitions compress subblocks with zstd
    (libCZI compression ids 5/6); this pins the executor-side
    decompress inside the planned read: three 3x4 uint16 mosaic tiles
    written one-each as zstd1 (hi/lo packed), zstd0, and raw, read
    through BioImage (.czi routing), stitched, aggregated per row.
    Ref README.md:59 (bioio-czi); zstd1 layout per public libCZI docs."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.czi import encode_czi

    idx = np.indices((3, 4))
    subs = []
    for m, comp in enumerate((6, 5, 0)):
        tile = (m * 2000 + idx[0] * 10 + idx[1]).astype(np.uint16)
        subs.append({"data": tile, "compression": comp,
                     "dims": {"S": 0, "M": m, "X": m * 4, "Y": 0}})
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "czi_zstd_roundtrip")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "mosaic_zstd.czi")
    with open(path, "wb") as f:
        f.write(encode_czi(subs))
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("y"))


@register(
    "img_nd2_loops",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {4 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {4 * 5}) % 4 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {4 * 4 * 5}) * 10000
                  + ((i // {4 * 5}) % 4) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({3 * 4 * 4 * 5}) r(i))
    SELECT t, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, z ORDER BY t, z
    """,
    doc="ND2 SLxExperiment loops: TimeLoop(3) x ZStackLoop(4) frames "
        "factorize to a (T,Z) stack instead of flat T",
)
def img_nd2_loops(spark, sf_dir):
    """Multi-loop ND2 (the common Z-stack x timelapse acquisition):
    the ImageMetadataLV! SLxExperiment chunk maps frame seq = t*4 + z;
    the hash pins the (T, Z) assignment per pixel. Ref README.md:63
    (bioio-nd2); loop eType values per the public nd2 package."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((3, 4, 4, 5))         # t z y x
    frames = (idx[0] * 10000 + idx[1] * 100 + idx[2] * 10
              + idx[3]).astype(np.uint16).reshape(12, 4, 5)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "nd2_loops")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "tz.nd2")
    with open(path, "wb") as f:
        f.write(encode_nd2(
            frames, loops=[("TimeLoop", 3), ("ZStackLoop", 4)]))
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("t", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "z"))


# --------------------------------------------------------------------------
# Vendor-tier decode THROUGHPUT row: the planned CZI read is pinned
# zero-shuffle (tests/test_plans.py), but plan shape isn't speed — this
# generates a 16-subblock, 12.3M-pixel zstd1-compressed CZI (the
# realistic compressed Zeiss shape) and times the full distributed
# decode: directory walk -> 16 parallel seek+decompress tasks ->
# long-form pixels -> aggregate. The fixture is deterministic and cached
# on disk across bench passes (min-of-3 reruns skip regeneration).
# --------------------------------------------------------------------------
_CZL_Z, _CZL_C, _CZL_H, _CZL_W = 8, 2, 1000, 768
_CZL_N = _CZL_Z * _CZL_C * _CZL_H * _CZL_W


def _czi_large_fixture() -> str:
    """Deterministic 16-subblock zstd1 CZI, cached on disk (reruns in
    the min-of-3 bench loop skip regeneration)."""
    import os

    import numpy as np

    from bioio_spark.formats.czi import encode_czi

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "czi_large")
    path = os.path.join(out, "large.czi")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        subs = []
        for z in range(_CZL_Z):
            for c in range(_CZL_C):
                base = ((z * _CZL_C + c) * _CZL_H * _CZL_W)
                i = base + np.arange(_CZL_H * _CZL_W, dtype=np.int64)
                plane = ((i * 37) % 9973).astype(np.uint16).reshape(
                    _CZL_H, _CZL_W)
                subs.append({"data": plane,
                             "dims": {"S": 0, "T": 0, "C": c, "Z": z}})
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_czi(subs, compression=6))
        os.replace(tmp, path)
    return path


@register(
    "img_czi_large",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {_CZL_C * _CZL_H * _CZL_W} AS INTEGER) AS z,
             CAST((i // {_CZL_H * _CZL_W}) % {_CZL_C} AS INTEGER) AS c,
             CAST((i * 37) % 9973 AS DOUBLE) AS value
      FROM range({_CZL_N}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="CZI decode throughput: 12.3M-pixel zstd1 file, 16 parallel "
        "subblock decode tasks, per-(c,z) checksum",
)
def img_czi_large(spark, sf_dir):
    """Decode-throughput gauge for the vendor tier (MB/s tracked in
    SCALING.md). Ref README.md:59 (bioio-czi)."""
    from bioio_spark.bio_image import BioImage

    img = BioImage(_czi_large_fixture(), spark=spark)
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_czi_large_planes",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {_CZL_C * _CZL_H * _CZL_W} AS INTEGER) AS z,
             CAST((i // {_CZL_H * _CZL_W}) % {_CZL_C} AS INTEGER) AS c,
             CAST((i * 37) % 9973 AS DOUBLE) AS value
      FROM range({_CZL_N}) r(i))
    SELECT c, z, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="CZI decode throughput, PLANES layout: same 12.3M-pixel zstd1 "
        "file decoded subblock->payload rows (no per-pixel "
        "amplification), reduced JVM-side",
)
def img_czi_large_planes(spark, sf_dir):
    """The scale-path twin of img_czi_large: the CZI reader's planes
    read (``get_planes_dataframe``) emits one row per subblock with
    the dense payload; per-row higher-order reduction + a 16-row
    groupBy replace 12.3M long-form rows. Same oracle — hash-equality
    proves the two decode paths agree."""
    from bioio_spark import BioImage

    planes = BioImage(_czi_large_fixture(),
                      spark=spark).get_planes_dataframe()
    per_row = planes.select(
        "c", "z",
        F.size("values").alias("n"),
        F.aggregate("values", F.lit(0.0),
                    lambda acc, x: acc + x).alias("s"),
        F.array_max("values").alias("mx"))
    return (per_row.groupBy("c", "z")
            .agg(F.sum("n").cast("bigint").alias("n_px"),
                 F.sum("s").alias("sum_val"),
                 F.max("mx").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_ome_zarr_roundtrip_zstd",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT t, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, z ORDER BY t, z
    """,
    doc="OME-Zarr v3 zstd-codec save -> reread (zarr-python 3's default "
        "compressor; raw zstd frames via pyarrow)",
)
def img_ome_zarr_roundtrip_zstd(spark, sf_dir):
    """NGFF 0.5 / Zarr v3 with the ['bytes','zstd'] codec chain — what
    zarr-python 3 writes by default, so real stores land here first.
    Hash pins encode_chunk_v3/decode_chunk_v3 zstd frames end-to-end
    through the chunk-parallel sink and planned read.
    Ref README.md:66 (bioio-ome-zarr)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_roundtrip_zstd")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4), ngff_version="0.5",
                  compressor="zstd")
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("t", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "z"))


@register(
    "img_nd2_positions",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 4 * 5} AS INTEGER) AS p,
             CAST((i // {4 * 5}) % 2 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 4 * 5}) * 10000
                  + ((i // {4 * 5}) % 2) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({3 * 2 * 4 * 5}) r(i))
    SELECT p AS scene_idx, z, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY p, z ORDER BY p, z
    """,
    doc="ND2 XYPosLoop: stage positions map to scenes "
        "(bioio-nd2 multi-position semantics), scene-stacked aggregate",
)
def img_nd2_positions(spark, sf_dir):
    """Multi-position ND2: XYPosLoop(3) x ZStackLoop(2) frames read as
    three scenes of (T=1, Z=2); the hash pins the per-position scene
    split AND the per-frame (scene, z) assignment via the scene stack.
    Ref README.md:63 (bioio-nd2); loop types per the public nd2
    package."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((3, 2, 4, 5))         # p z y x
    frames = (idx[0] * 10000 + idx[1] * 100 + idx[2] * 10
              + idx[3]).astype(np.uint16).reshape(6, 4, 5)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "nd2_positions")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    path = os.path.join(out, "pos.nd2")
    with open(path, "wb") as f:
        f.write(encode_nd2(
            frames, loops=[("XYPosLoop", 3), ("ZStackLoop", 2)]))
    img = BioImage(path, spark=spark)
    return (img.get_stack_dataframe()
            .groupBy("scene_idx", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("scene_idx", "z"))


@register(
    "img_contrast_stretch_approx",
    oracle="""
    SELECT CAST(i AS INTEGER) AS c, CAST(1 AS BIGINT) AS lo_clamp_ok,
           CAST(1 AS BIGINT) AS hi_clamp_ok
    FROM range(2) r(i) ORDER BY c
    """,
    doc="contrast stretch via percentile_approx sketch + exact "
        "clamp-mass integer gate (the 100 TB percentile form)",
)
def img_contrast_stretch_approx(spark, sf_dir):
    """The a12b pattern applied to the image tier: stretch with the
    mergeable percentile_approx sketch (approx=True), then gate the
    result against exact clamp mass — per channel, the fraction of
    pixels clamped to 0.0 must sit within 0.05 of lo_q and the fraction
    clamped to 1.0 within 0.05 of 1-hi_q (sketch rank error is 1e-4, so
    the gate is deterministic). DuckDB reduces to literal 1s."""
    from bioio_spark.operators.reductions import contrast_stretch

    out = contrast_stretch(_gen_pixels(spark), 0.25, 0.75, approx=True)
    gates = (out.groupBy("c")
             .agg((F.sum((F.col("value") <= F.lit(0.0)).cast("long"))
                   / F.count(F.lit(1))).alias("fr_lo"),
                  (F.sum((F.col("value") >= F.lit(1.0)).cast("long"))
                   / F.count(F.lit(1))).alias("fr_hi")))
    return (gates.select(
                F.col("c").cast("int").alias("c"),
                (F.abs(F.col("fr_lo") - 0.25) <= 0.05)
                .cast("bigint").alias("lo_clamp_ok"),
                (F.abs(F.col("fr_hi") - 0.25) <= 0.05)
                .cast("bigint").alias("hi_clamp_ok"))
            .orderBy("c"))


@register(
    "img_nd2_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {4 * 2 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {2 * 5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // {2 * 6}) % 5 AS INTEGER) AS y,
             CAST((i // 2) % 6 AS INTEGER) AS x,
             CAST(i % 2 AS INTEGER) AS c,
             CAST((i // {4 * 2 * 5 * 6}) * 10000
                  + ((i // {2 * 5 * 6}) % 4) * 1000 + (i % 2) * 500
                  + ((i // {2 * 6}) % 5) * 10
                  + ((i // 2) % 6) AS DOUBLE) AS value
      FROM range({3 * 4 * 2 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND z >= 1 AND z < 3 AND c = 1 AND y >= 2 AND y < 4
    GROUP BY z, y ORDER BY z, y
    """,
    doc="Chunk-pruned windowed ND2 read: t/z prune frame chunks via "
        "the loop map, y is a byte range inside each chunk",
)
def img_nd2_window_read(spark, sf_dir):
    """The ND2 twin of img_tiff_window_read: only 2 of 12 frame chunks
    are touched, and each task reads just the 2-row byte range (+8-byte
    timestamp skip). Ref README.md:63 (bioio-nd2)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.formats.nd2 import encode_nd2
    from bioio_spark import BioImage

    idx = np.indices((3, 4, 5, 6, 2))    # t z y x c interleaved
    vol = (idx[0] * 10000 + idx[1] * 1000 + idx[4] * 500
           + idx[2] * 10 + idx[3]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "nd2_window")
    path = os.path.join(out, "win.nd2")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_nd2(
                vol.reshape(12, 5, 6, 2),
                loops=[("TimeLoop", 3), ("ZStackLoop", 4)]))
        os.replace(tmp, path)
    px = BioImage(path, spark=spark).read_window(
        t=1, z=(1, 3), c=1, y=(2, 4))
    return (px.groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("z", "y"))


@register(
    "img_lif_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND c >= 1 AND c < 3 AND z = 2 AND y >= 1 AND y < 3
    GROUP BY c, z ORDER BY c, z
    """,
    doc="Plane-pruned windowed LIF read: t/c/z prune planes via the "
        "stride map, y is a row-range seek",
)
def img_lif_window_read(spark, sf_dir):
    """The LIF twin of img_nd2_window_read: 2 of 24 planes touched,
    each task seek-reads only the 2-row range through the BytesInc
    stride arithmetic. Ref README.md:62 (bioio-lif)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.formats.lif import encode_lif
    from bioio_spark import BioImage

    idx = np.indices((2, 3, 4, 5, 6))    # t c z y x
    vol = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
           + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lif_window")
    path = os.path.join(out, "win.lif")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_lif([{"name": "S", "data": vol}]))
        os.replace(tmp, path)
    px = BioImage(path, spark=spark).read_window(
        t=1, c=(1, 3), z=2, y=(1, 3))
    return (px.groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("c", "z"))


@register(
    "img_czi_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT z, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND c = 0 AND z >= 1 AND z < 3 AND y >= 2 AND y < 5
          AND x >= 1 AND x < 4
    GROUP BY z, y ORDER BY z, y
    """,
    doc="Subblock-pruned windowed CZI read over a zstd1-compressed "
        "file (directory arithmetic -> surviving blocks only)",
)
def img_czi_window_read(spark, sf_dir):
    """The CZI member of the window-read family: t/c/z prune whole
    subblocks via the directory; surviving (zstd-compressed) blocks
    seek-read + decompress executor-side and are sliced to the y/x
    window in the same task. Ref README.md:59 (bioio-czi)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.formats.czi import encode_czi
    from bioio_spark import BioImage

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.int32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "czi_window")
    path = os.path.join(out, "win.czi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        subs = [{"data": block[t, c, z],
                 "dims": {"S": 0, "T": t, "C": c, "Z": z}}
                for t in range(block.shape[0])
                for c in range(block.shape[1])
                for z in range(block.shape[2])]
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_czi(subs, compression=6))
        os.replace(tmp, path)
    px = BioImage(path, spark=spark).read_window(
        t=1, c=0, z=(1, 3), y=(2, 5), x=(1, 4))
    return (px.groupBy("z", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("z", "y"))


@register(
    "img_dv_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 10000
                  + ((i // {3 * 5 * 6}) % 2) * 1000
                  + ((i // {5 * 6}) % 3) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 0 AND z >= 1 AND y >= 1 AND y < 4 AND x >= 2 AND x < 6
    GROUP BY c, z ORDER BY c, z
    """,
    doc="Section-pruned windowed DV read (y window = byte range per "
        "section)",
)
def img_dv_window_read(spark, sf_dir):
    """The DV member of the window-read family: t/c/z prune whole
    sections, the y window narrows each section read to its contiguous
    row byte range. Ref README.md:60 (bioio-dv)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.formats.dv import encode_dv
    from bioio_spark import BioImage

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dv_window")
    path = os.path.join(out, "win.dv")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_dv(block))
        os.replace(tmp, path)
    px = BioImage(path, spark=spark).read_window(
        t=0, z=(1, 3), y=(1, 4), x=(2, 6))
    return (px.groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("c", "z"))


@register(
    "img_tiff_planes_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT t, c, z, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c, z ORDER BY t, c, z
    """,
    doc="Zero-shuffle TIFF planes read: one payload row per stored "
        "strip, reduced JVM-side (the planes-family TIFF member)",
)
def img_tiff_planes_read(spark, sf_dir):
    """get_planes_dataframe emits strip/tile payload rows straight off
    the reader's chunk plan (no per-pixel amplification, no exchange —
    pinned in tests); per-page reduction via higher-order functions,
    hash-equal to the long-form oracle."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "tiff_planes")
    path = os.path.join(out, "scene_0.ome.tiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        save_ome_tiff(BioImage(block, spark=spark), out, compression=8)
    planes = BioImage(path, spark=spark).get_planes_dataframe()
    per_row = planes.select(
        "t", "c", "z",
        F.size("values").alias("n"),
        F.aggregate("values", F.lit(0.0),
                    lambda acc, x: acc + x).alias("s"),
        F.array_max("values").alias("mx"))
    return (per_row.groupBy("t", "c", "z")
            .agg(F.sum("n").cast("bigint").alias("n_px"),
                 F.sum("s").alias("sum_val"),
                 F.max("mx").alias("max_val"))
            .orderBy("t", "c", "z"))


@register(
    "img_ome_zarr_roundtrip_blosc",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {3 * 5 * 6}) % 2 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 3 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 5 * 6}) * 100000
                  + ((i // {3 * 5 * 6}) % 2) * 10000
                  + ((i // {5 * 6}) % 3) * 1000
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 5 * 6}) r(i))
    SELECT c, y, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, y ORDER BY c, y
    """,
    doc="OME-Zarr v2 with the numcodecs Blosc compressor (lz4 + "
        "byte-shuffle — zarr-python 2's default) save -> reread",
)
def img_ome_zarr_roundtrip_blosc(spark, sf_dir):
    """Wild OME-NGFF 0.4 stores are blosc-compressed by default; this
    pins the Blosc1 frame codec (header/flags/bstarts/splits/shuffle,
    lz4 inner blocks via pyarrow) end-to-end through the chunk-parallel
    sink and the planned read. Ref README.md:66 (bioio-ome-zarr);
    format per the public c-blosc header spec."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices(_RTZ_SHAPE)
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zarr_roundtrip_blosc")
    shutil.rmtree(out, ignore_errors=True)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4),
                  compressor={"id": "blosc", "cname": "lz4",
                              "clevel": 5, "shuffle": 1})
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    return (back.get_image_dataframe()
            .groupBy("c", "y")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "y"))


@register(
    "img_jpeg_tiff_roundtrip",
    oracle="""
    SELECT CAST(i AS INTEGER) AS band, CAST(1 AS BIGINT) AS mae_ok,
           CAST(1 AS BIGINT) AS extent_ok
    FROM range(4) r(i) ORDER BY band
    """,
    doc="JPEG-compressed TIFF (compression 7 + JPEGTables): decode "
        "gated on per-band mean-absolute-error vs the source ramp "
        "(lossy codec -> integer gate, the a12b pattern)",
)
def img_jpeg_tiff_roundtrip(spark, sf_dir):
    """Whole-slide layout: tiled gray JPEG chunks. The decoded pixels
    re-derive the source formula in-Spark; per-y-band gates assert
    MAE < 4 grey levels and exact pixel counts — deterministic because
    the in-repo T.81 codec is, without the oracle needing to run JPEG.
    Ref README.md:65 (bioio-tifffile tier); layout per TIFF TechNote 2."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import build_ome_xml, encode_tiff

    H, W = 64, 64
    yy, xx = np.mgrid[0:H, 0:W]
    a = ((yy * 3 + xx * 2) % 200 + 20).astype(np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "jpeg_tiff")
    path = os.path.join(out, "slide.ome.tiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        xml = build_ome_xml(1, 1, 1, H, W, "uint8")
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_tiff([a], description=xml, compression=7,
                                tile=(16, 16)))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)
    px = img.get_image_dataframe().select("y", "x", "value")
    src = ((F.col("y") * 3 + F.col("x") * 2) % 200 + 20).cast("double")
    gates = (px.groupBy((F.col("y") / 16).cast("int").alias("band"))
             .agg(F.avg(F.abs(F.col("value") - src)).alias("mae"),
                  F.count(F.lit(1)).alias("n")))
    return (gates.select(
                "band",
                (F.col("mae") < 4.0).cast("bigint").alias("mae_ok"),
                (F.col("n") == 16 * W).cast("bigint").alias("extent_ok"))
            .orderBy("band"))


@register(
    "img_lsm_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="Zeiss LSM encode -> BioImage reread (native .lsm coverage of "
        "the Bio-Formats long tail: CZ_LSMINFO, planar-2 channel "
        "strips, thumbnail-page skip, per-strip planned reads)",
)
def img_lsm_roundtrip(spark, sf_dir):
    """LSM roundtrip with interleaved thumbnail pages, so the hash pins
    the NewSubfileType skip, the (t, z) page mapping, and the planar-2
    strip->channel assignment. Ref README.md:74 (bioio-bioformats
    routes .lsm; this is the native Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.lsm import encode_lsm

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lsm_roundtrip")
    path = os.path.join(out, "confocal.lsm")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_lsm(block,
                               channel_names=["DAPI", "GFP", "mCherry"],
                               voxel_xyz_m=(0.2e-6, 0.2e-6, 1.0e-6),
                               time_interval_s=2.5))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .lsm extension routing
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_lsm_window_read",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val
    FROM px
    WHERE t = 1 AND c < 2 AND z >= 1 AND z < 3
      AND y >= 1 AND y < 4 AND x >= 2 AND x < 5
    GROUP BY c, z ORDER BY c, z
    """,
    doc="Page/strip-pruned windowed LSM read (t/z prune pages, c prunes "
        "channel strips, y window = byte range per strip)",
)
def img_lsm_window_read(spark, sf_dir):
    """The LSM member of the window-read family: the (t, z) selectors
    prune whole pages, c prunes whole planar-2 strips, and the y window
    narrows each surviving strip to its contiguous row byte range."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.formats.lsm import encode_lsm
    from bioio_spark import BioImage

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lsm_window")
    path = os.path.join(out, "win.lsm")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_lsm(block, thumbnails=False))
        os.replace(tmp, path)
    px = BioImage(path, spark=spark).read_window(
        t=1, c=(0, 2), z=(1, 3), y=(1, 4), x=(2, 5))
    return (px.groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"))
            .orderBy("c", "z"))


@register(
    "img_stk_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {5 * 6} AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {5 * 6}) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({4 * 5 * 6}) r(i))
    SELECT z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z ORDER BY z
    """,
    doc="MetaMorph STK encode -> BioImage reread (native .stk coverage "
        "of the Bio-Formats long tail: one-IFD contiguous plane stack, "
        "UIC2 declared-count quirk, Z-vs-T axis rule, per-plane "
        "planned reads)",
)
def img_stk_roundtrip(spark, sf_dir):
    """STK roundtrip as a Z series (nonzero UIC2 z-distance), so the
    hash pins the plane-stacking offset arithmetic and the axis rule.
    Ref README.md:74 (bioio-bioformats routes .stk; this is the native
    Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.stk import encode_stk

    idx = np.indices((4, 5, 6))
    stack = (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "stk_roundtrip")
    path = os.path.join(out, "zstack.stk")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_stk(stack, z_distance=0.5, wavelength=488))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .stk extension routing
    return (img.get_image_dataframe()
            .groupBy("z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z"))


@register(
    "img_svs_pyramid",
    oracle="""
    WITH l0 AS (
      SELECT 0 AS res_level, CAST(s.s AS INTEGER) AS s,
             CAST(((y.y // 4) * 7 + (x.x // 4) * 3 + s.s * 5) % 251
                  AS DOUBLE) AS value
      FROM range(16) y(y), range(24) x(x), range(3) s(s)),
    l1 AS (
      SELECT 1 AS res_level, CAST(s.s AS INTEGER) AS s,
             CAST(((y.y // 2) * 7 + (x.x // 2) * 3 + s.s * 5) % 251
                  AS DOUBLE) AS value
      FROM range(8) y(y), range(12) x(x), range(3) s(s)),
    l2 AS (
      SELECT 2 AS res_level, CAST(s.s AS INTEGER) AS s,
             CAST((y.y * 7 + x.x * 3 + s.s * 5) % 251
                  AS DOUBLE) AS value
      FROM range(4) y(y), range(6) x(x), range(3) s(s)),
    px AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1
           UNION ALL SELECT * FROM l2)
    SELECT res_level, s, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY res_level, s ORDER BY res_level, s
    """,
    doc="Aperio SVS whole-slide pyramid read (native .svs coverage of "
        "the Bio-Formats long tail: tiled pages as res_levels, pipe "
        "metadata, striped label/macro scenes, per-tile planned reads)",
)
def img_svs_pyramid(spark, sf_dir):
    """SVS roundtrip across all three pyramid levels. The fixture is
    constant per 4x4 block so the 2x2 block-mean levels are EXACT and
    the hash pins the tiled-page -> res_level mapping, the RGB sample
    column, and the edge-tile trim. Ref README.md:74 (bioio-bioformats
    routes .svs; this is the native Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.svs import encode_svs

    yy, xx, ss = np.indices((16, 24, 3))
    img = (((yy // 4) * 7 + (xx // 4) * 3 + ss * 5) % 251).astype(
        np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "svs_pyramid")
    path = os.path.join(out, "slide.svs")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_svs(img, n_levels=3, mpp=0.25, app_mag=40,
                               tile=(16, 16), thumbnail=False))
        os.replace(tmp, path)
    b = BioImage(path, spark=spark)         # .svs extension routing
    parts = []
    for lvl in b.resolution_levels:
        b.set_resolution_level(lvl)
        parts.append(b.get_image_dataframe()
                     .select(F.lit(lvl).alias("res_level"), "s", "value"))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionAll(p)
    return (allpx.groupBy("res_level", "s")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("res_level", "s"))


@register(
    "img_scn_collection",
    oracle="""
    WITH l0 AS (
      SELECT 0 AS res_level, CAST(z.z AS INTEGER) AS z,
             CAST((z.z * 11 + (y.y // 4) * 7 + (x.x // 4) * 3) % 251
                  AS DOUBLE) AS value
      FROM range(2) z(z), range(16) y(y), range(24) x(x)),
    l1 AS (
      SELECT 1 AS res_level, CAST(z.z AS INTEGER) AS z,
             CAST((z.z * 11 + (y.y // 2) * 7 + (x.x // 2) * 3) % 251
                  AS DOUBLE) AS value
      FROM range(2) z(z), range(8) y(y), range(12) x(x)),
    px AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1)
    SELECT res_level, z, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY res_level, z ORDER BY res_level, z
    """,
    doc="Leica SCN collection read (native .scn coverage of the "
        "Bio-Formats long tail: collection XML maps (image, r, z) to "
        "tiled IFDs; scenes = images, res_levels = r, focal planes = "
        "z; per-tile planned reads)",
)
def img_scn_collection(spark, sf_dir):
    """SCN roundtrip of a 2-image collection (macro + z-stack region),
    aggregating the region across both pyramid levels and focal
    planes. The fixture is constant per 4x4 block so level means are
    EXACT; the hash pins the XML (r, z)->IFD mapping. Ref
    README.md:74 (bioio-bioformats routes .scn; this is the native
    Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.scn import encode_scn

    zz, yy, xx = np.indices((2, 16, 24))
    region = ((zz * 11 + (yy // 4) * 7 + (xx // 4) * 3) % 251).astype(
        np.uint8)
    macro = np.full((8, 12, 3), 9, np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "scn_collection")
    path = os.path.join(out, "slide.scn")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_scn([
                {"name": "macro", "array": macro, "n_levels": 1},
                {"name": "region", "array": region, "n_levels": 2},
            ], tile=(16, 16)))
        os.replace(tmp, path)
    b = BioImage(path, spark=spark)         # .scn extension routing
    b.set_scene("Image:1")
    parts = []
    for lvl in b.resolution_levels:
        b.set_resolution_level(lvl)
        parts.append(b.get_image_dataframe()
                     .select(F.lit(lvl).alias("res_level"), "z", "value"))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionAll(p)
    return (allpx.groupBy("res_level", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("res_level", "z"))


@register(
    "img_oif_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT t, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, z ORDER BY t, z
    """,
    doc="Olympus OIF encode -> BioImage reread (native .oif coverage "
        "of the Bio-Formats long tail: UTF-16 INI catalog + one TIFF "
        "per plane, plane-file-per-task planned reads)",
)
def img_oif_roundtrip(spark, sf_dir):
    """OIF roundtrip: axis sizes from the INI's Axis sections, dye
    names -> channels, per-plane s_CxxxZxxxTxxx.tif decode. Ref
    README.md:74 (bioio-bioformats routes .oif; this is the native
    Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.oif import encode_oif

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "oif_roundtrip")
    path = os.path.join(out, "scan.oif")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        encode_oif(block, out, name="scan",
                   channel_names=["CFP", "YFP"], um_per_px=0.21)
    img = BioImage(path, spark=spark)       # .oif extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "z"))


_SVL_H, _SVL_W = 3072, 2560            # 7.9M px, 120 tiles of 256x256


def _svs_large_fixture() -> str:
    """Deterministic 120-tile raw SVS slide, cached on disk (reruns in
    the min-of-3 bench loop skip regeneration)."""
    import os

    import numpy as np

    from bioio_spark.formats.svs import encode_svs

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "svs_large")
    path = os.path.join(out, "large.svs")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        i = np.arange(_SVL_H * _SVL_W, dtype=np.int64)
        img = ((i * 37) % 251).astype(np.uint8).reshape(_SVL_H, _SVL_W)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_svs(img, n_levels=1, tile=(256, 256),
                               thumbnail=False))
        os.replace(tmp, path)
    return path


@register(
    "img_svs_large",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // ({_SVL_W} * 256) AS INTEGER) AS band,
             CAST((i * 37) % 251 AS DOUBLE) AS value
      FROM range({_SVL_H * _SVL_W}) r(i))
    SELECT band, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY band ORDER BY band
    """,
    doc="SVS decode throughput: 7.9M-pixel 120-tile slide, per-tile "
        "planned reads, per-tile-band checksum (whole-slide images "
        "are the canonical 100 TB-shaped input)",
)
def img_svs_large(spark, sf_dir):
    """Decode-throughput gauge for the whole-slide tier (MB/s tracked
    in SCALING.md): one ranged read + decode per 256x256 tile, 120
    parallel tasks."""
    from bioio_spark.bio_image import BioImage

    img = BioImage(_svs_large_fixture(), spark=spark)
    return (img.get_image_dataframe()
            .groupBy((F.col("y") / 256).cast("int").alias("band"))
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("band"))


@register(
    "img_oib_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="Olympus OIB encode -> BioImage reread (native .oib coverage "
        "of the Bio-Formats long tail: MS-CFB compound container, "
        "OibInfo stream map, sector-extent planned plane reads)",
)
def img_oib_roundtrip(spark, sf_dir):
    """OIB roundtrip: the CFB directory + OibInfo.txt resolve each
    plane stream to byte extents driver-side; executors seek-read
    their extents and decode the embedded TIFF. Ref README.md:74
    (bioio-bioformats routes .oib; this is the native Spark-planned
    replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.oib import encode_oib

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "oib_roundtrip")
    path = os.path.join(out, "scan.oib")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_oib(block, channel_names=["CFP", "YFP"],
                               um_per_px=0.21))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .oib extension routing
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_ndpi_pyramid",
    oracle="""
    WITH l0 AS (
      SELECT 0 AS res_level, CAST(s.s AS INTEGER) AS s,
             CAST(((y.y // 4) * 13 + (x.x // 4) * 5 + s.s * 3) % 241
                  AS DOUBLE) AS value
      FROM range(16) y(y), range(24) x(x), range(3) s(s)),
    l1 AS (
      SELECT 1 AS res_level, CAST(s.s AS INTEGER) AS s,
             CAST(((y.y // 2) * 13 + (x.x // 2) * 5 + s.s * 3) % 241
                  AS DOUBLE) AS value
      FROM range(8) y(y), range(12) x(x), range(3) s(s)),
    px AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1)
    SELECT res_level, s, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY res_level, s ORDER BY res_level, s
    """,
    doc="Hamamatsu NDPI whole-slide read (native .ndpi coverage of the "
        "Bio-Formats long tail: SourceLens tag 65420 classification, "
        "striped pyramid pages, cm-unit resolution, macro/map scenes)",
)
def img_ndpi_pyramid(spark, sf_dir):
    """NDPI roundtrip across both pyramid levels (fixture constant per
    4x4 block so level means are exact); the hash pins the SourceLens
    page classification and strip decode. Ref README.md:74."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.ndpi import encode_ndpi

    yy, xx, ss = np.indices((16, 24, 3))
    img = (((yy // 4) * 13 + (xx // 4) * 5 + ss * 3) % 241).astype(
        np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ndpi_pyramid")
    path = os.path.join(out, "slide.ndpi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_ndpi(img, n_levels=2, source_lens=20.0,
                                um_per_px=0.46))
        os.replace(tmp, path)
    b = BioImage(path, spark=spark)         # .ndpi extension routing
    parts = []
    for lvl in b.resolution_levels:
        b.set_resolution_level(lvl)
        parts.append(b.get_image_dataframe()
                     .select(F.lit(lvl).alias("res_level"), "s", "value"))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionAll(p)
    return (allpx.groupBy("res_level", "s")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("res_level", "s"))


@register(
    "img_qptiff_multiplex",
    oracle="""
    WITH l0 AS (
      SELECT 0 AS res_level, CAST(c.c AS INTEGER) AS c,
             CAST((c.c * 17 + (y.y // 4) * 7 + (x.x // 4) * 3) % 257
                  AS DOUBLE) AS value
      FROM range(3) c(c), range(16) y(y), range(24) x(x)),
    l1 AS (
      SELECT 1 AS res_level, CAST(c.c AS INTEGER) AS c,
             CAST((c.c * 17 + (y.y // 2) * 7 + (x.x // 2) * 3) % 257
                  AS DOUBLE) AS value
      FROM range(3) c(c), range(8) y(y), range(12) x(x)),
    px AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1)
    SELECT res_level, c, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY res_level, c ORDER BY res_level, c
    """,
    doc="Vectra QPTIFF multiplexed-fluorescence read (native .qptiff "
        "coverage of the Bio-Formats long tail: one page per channel "
        "per level via QPI XML, real C axis, per-tile planned reads)",
)
def img_qptiff_multiplex(spark, sf_dir):
    """QPTIFF roundtrip across channels and both levels (fixture
    constant per 4x4 block); the hash pins the page->channel grouping
    and the XML channel names' order. Ref README.md:74."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.qptiff import encode_qptiff

    cc, yy, xx = np.indices((3, 16, 24))
    stack = ((cc * 17 + (yy // 4) * 7 + (xx // 4) * 3) % 257).astype(
        np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "qptiff_multiplex")
    path = os.path.join(out, "mx.qptiff")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_qptiff(stack,
                                  channel_names=["DAPI", "Opal520",
                                                 "Opal690"],
                                  n_levels=2, tile=(16, 16),
                                  thumbnail=False))
        os.replace(tmp, path)
    b = BioImage(path, spark=spark)         # .qptiff extension routing
    parts = []
    for lvl in b.resolution_levels:
        b.set_resolution_level(lvl)
        parts.append(b.get_image_dataframe()
                     .select(F.lit(lvl).alias("res_level"), "c", "value"))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionAll(p)
    return (allpx.groupBy("res_level", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("res_level", "c"))


@register(
    "img_ims_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="Imaris IMS encode -> BioImage reread over the NATIVE HDF5 "
        "subset codec (no h5py/libhdf5): chunked+deflate Data "
        "datasets, /DataSetInfo attrs, per-chunk planned reads",
)
def img_ims_roundtrip(spark, sf_dir):
    """IMS roundtrip through the WILD layout (chunked + gzip Data
    datasets), so the hash pins the HDF5 chunk-B-tree walk, the
    deflate filter, the edge-chunk trim, and the /DataSetInfo axis
    catalog. Ref README.md:74 (bioio-bioformats routes .ims; this is
    the native Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.ims import encode_ims

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ims_roundtrip")
    path = os.path.join(out, "cells.ims")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_ims(block,
                               channel_names=["DAPI", "GFP", "RFP"],
                               pps_zyx_um=(0.5, 0.1, 0.1),
                               chunks=(2, 4, 4), gzip=True))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .ims extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_ims_write_roundtrip",
    oracle="""
    WITH l0 AS (
      SELECT 0 AS res_level, CAST(c.c AS INTEGER) AS c,
             CAST((t.t * 50 + c.c * 30 + z.z * 20
                   + (y.y // 2) * 7 + (x.x // 2) * 3) % 251
                  AS DOUBLE) AS value
      FROM range(2) t(t), range(2) c(c), range(2) z(z),
           range(8) y(y), range(12) x(x)),
    l1 AS (
      SELECT 1 AS res_level, CAST(c.c AS INTEGER) AS c,
             CAST((t.t * 50 + c.c * 30 + z.z * 20
                   + y.y * 7 + x.x * 3) % 251
                  AS DOUBLE) AS value
      FROM range(2) t(t), range(2) c(c), range(2) z(z),
           range(4) y(y), range(6) x(x)),
    px AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1)
    SELECT res_level, c, count(*) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY res_level, c ORDER BY res_level, c
    """,
    doc="ImsWriter -> BioImage reread across both pyramid levels: the "
        "registered IMS write path (native HDF5 composer, Imaris 5.5 "
        "attrs) made read/write symmetric like TIFF/Zarr",
)
def img_ims_write_roundtrip(spark, sf_dir):
    """The write half of the native-HDF5 story: ImsWriter (the
    registered writer over formats/hdf5.build_hdf5) saves a TCZYX
    block with a 2-level pyramid; BioImage rereads BOTH levels. The
    fixture is constant per 2x2 (y, x) block so the ceil-half
    block-mean level is EXACT and the hash pins the writer's
    /DataSet layout, pyramid rule, and /DataSetInfo axis catalog.
    The reference has no IMS writer at all (README.md:74 routes .ims
    read-only through bioio-bioformats)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import WRITER_REGISTRY

    idx = np.indices((2, 2, 2, 8, 12))
    block = ((idx[0] * 50 + idx[1] * 30 + idx[2] * 20
              + (idx[3] // 2) * 7 + (idx[4] // 2) * 3) % 251
             ).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ims_write_roundtrip")
    path = os.path.join(out, "cells.ims")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        WRITER_REGISTRY["ImsWriter"].save(
            block, tmp, dim_order="TCZYX",
            channel_names=["DAPI", "GFP"],
            physical_pixel_sizes=(0.5, 0.1, 0.1), n_levels=2)
        os.replace(tmp, path)
    b = BioImage(path, spark=spark)         # .ims extension routing
    parts = []
    for lvl in b.resolution_levels:
        b.set_resolution_level(lvl)
        parts.append(b.get_image_dataframe()
                     .select(F.lit(lvl).alias("res_level"), "c",
                             "value"))
    allpx = parts[0]
    for p in parts[1:]:
        allpx = allpx.unionAll(p)
    return (allpx.groupBy("res_level", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("res_level", "c"))


@register(
    "img_mkv_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 16 * 24} AS INTEGER) AS t,
             CAST((i // {16 * 24}) % 3 AS INTEGER) AS c,
             CAST(((i // {3 * 16 * 24}) * 30
                   + ((i // 24) % 16 // 8) * 25
                   + ((i % 24) // 8) * 15
                   + ((i // {16 * 24}) % 3) * 10) % 200 + 20
                  AS DOUBLE) AS value
      FROM range({2 * 3 * 16 * 24}) r(i))
    SELECT t, c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="MKV (Matroska/EBML) V_MJPEG encode -> BioImage reread: the "
        "Cluster/SimpleBlock walk as the read plan, frames -> T, "
        "exact on DC-only blocky content",
)
def img_mkv_roundtrip(spark, sf_dir):
    """MKV roundtrip through TimeSeriesWriter's .mkv route and the
    MkvImageReader: the EBML Segment walk resolves every SimpleBlock
    to an absolute byte range driver-side (no payload IO); executors
    seek-read + decode each V_MJPEG sample with the in-repo baseline
    codec. With MP4, this makes EVERY reference TimeSeriesWriter
    route (.gif/.mp4/.mkv/.avi, ref README.md:82) native."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import WRITER_REGISTRY

    idx = np.indices((2, 16, 24, 3))    # t y x c
    frames = ((idx[0] * 30 + (idx[1] // 8) * 25 + (idx[2] // 8) * 15
               + idx[3] * 10) % 200 + 20).astype(np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "mkv_roundtrip")
    path = os.path.join(out, "clip.mkv")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp.mkv"
        WRITER_REGISTRY["TimeSeriesWriter"].save(frames, tmp, fps=10)
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .mkv extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_ndtiff_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {2 * 3 * 4 * 5} AS INTEGER) AS t,
             CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // 5) % 4 AS INTEGER) AS y,
             CAST(i % 5 AS INTEGER) AS x,
             CAST((i // {2 * 3 * 4 * 5}) * 10000
                  + ((i // {3 * 4 * 5}) % 2) * 1000
                  + ((i // {4 * 5}) % 3) * 100
                  + ((i // 5) % 4) * 10 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="Micro-Manager NDTiff dataset read (native NDTiffStorage "
        "coverage: binary index IS the read plan, positions -> "
        "scenes, per-plane seek reads)",
)
def img_ndtiff_roundtrip(spark, sf_dir):
    """NDTiff roundtrip: the index's (file, offset) entries plan every
    plane read with zero TIFF parsing. Public spec:
    micro-manager/NDTiffStorage."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.ndtiff import encode_ndtiff
    from bioio_spark.sources.ndtiff_image import NdtiffImageReader

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ndtiff_roundtrip")
    path = os.path.join(out, "acq")
    if not os.path.exists(os.path.join(path, "NDTiff.index")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        encode_ndtiff(block, path)
    img = BioImage(path, spark=spark, reader=NdtiffImageReader)
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


_IML_Z, _IML_C, _IML_H, _IML_W = 8, 2, 1000, 768
_IML_N = _IML_Z * _IML_C * _IML_H * _IML_W


def _ims_large_fixture() -> str:
    """Deterministic 12.3M-px chunked+gzip IMS, cached on disk (reruns
    in the min-of-3 bench loop skip regeneration)."""
    import os

    import numpy as np

    from bioio_spark.formats.ims import encode_ims

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "ims_large")
    path = os.path.join(out, "large.ims")
    if not os.path.exists(path):
        os.makedirs(out, exist_ok=True)
        i = np.arange(_IML_N, dtype=np.int64)
        block = ((i * 37) % 9973).astype(np.uint16).reshape(
            1, _IML_C, _IML_Z, _IML_H, _IML_W)
        # c-major flattening: value index = ((c*Z)+z)*H*W + ...
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_ims(block, chunks=(1, 250, _IML_W),
                               gzip=True))
        os.replace(tmp, path)
    return path


@register(
    "img_ims_large",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {_IML_Z * _IML_H * _IML_W} AS INTEGER) AS c,
             CAST((i // {_IML_H * _IML_W}) % {_IML_Z} AS INTEGER) AS z,
             CAST((i * 37) % 9973 AS DOUBLE) AS value
      FROM range({_IML_N}) r(i))
    SELECT c, z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="IMS/HDF5 decode throughput: 12.3M-pixel chunked+gzip file, "
        "64 parallel chunk-decode tasks, per-(c,z) checksum",
)
def img_ims_large(spark, sf_dir):
    """Decode-throughput gauge for the native-HDF5 tier (MB/s tracked
    in SCALING.md): one ranged read + zlib inflate per chunk."""
    from bioio_spark.bio_image import BioImage

    img = BioImage(_ims_large_fixture(), spark=spark)
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_dicom_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {5 * 6} AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {5 * 6}) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({4 * 5 * 6}) r(i))
    SELECT z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z ORDER BY z
    """,
    doc="DICOM Part-10 encode -> BioImage reread (native .dcm "
        "coverage of the Bio-Formats long tail: Explicit VR LE "
        "element walk seek-skipping PixelData, contiguous multi-frame "
        "planes -> per-frame byte-range planned reads)",
)
def img_dicom_roundtrip(spark, sf_dir):
    """DICOM roundtrip of a multi-frame volume (frames -> Z, mm
    spacings -> µm pixel sizes). Public standard: NEMA PS3.10/PS3.5.
    Ref README.md:74 (bioio-bioformats routes .dcm)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dicom import encode_dicom

    idx = np.indices((4, 5, 6))
    vol = (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dicom_roundtrip")
    path = os.path.join(out, "vol.dcm")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_dicom(vol, pixel_spacing_mm=(0.5, 0.5),
                                 slice_spacing_mm=1.0))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .dcm extension routing
    return (img.get_image_dataframe()
            .groupBy("z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z"))


@register(
    "img_lof_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="Leica LOF encode -> BioImage reread (native .lof coverage of "
        "the Bio-Formats long tail: LIF block framing with the marker "
        "header + trailing XML, shared stride-planned plane reads)",
)
def img_lof_roundtrip(spark, sf_dir):
    """LOF roundtrip: parse_lif_header's marker delegation routes the
    single-object container through the whole LIF reader surface.
    Ref README.md:74 (bioio-bioformats routes .lof)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.lof import encode_lof

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "lof_roundtrip")
    path = os.path.join(out, "obj.lof")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_lof({"name": "Series1", "data": block}))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .lof extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_imagej_hyperstack",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 4 * 5 * 6} AS INTEGER) AS t,
             CAST((i // {4 * 5 * 6}) % 3 AS INTEGER) AS c,
             CAST((i // {5 * 6}) % 4 AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {3 * 4 * 5 * 6}) * 10000
                  + ((i // {4 * 5 * 6}) % 3) * 1000
                  + ((i // {5 * 6}) % 4) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({2 * 3 * 4 * 5 * 6}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="ImageJ hyperstack TIFF read (the bioio-tifffile wild tier: "
        "C-fastest XYCZT page order from the ImageJ= description, "
        "spacing -> Z pixel size)",
)
def img_imagej_hyperstack(spark, sf_dir):
    """ImageJ hyperstack roundtrip — the hash pins the C-FASTEST page
    mapping (the opposite nesting of OME page order; mislabeling c/z
    would flip the per-(t, c) sums)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import encode_tiff

    idx = np.indices((2, 3, 4, 5, 6))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint16)
    pages = [block[t, c, z]
             for t in range(2) for z in range(4) for c in range(3)]
    desc = ("ImageJ=1.53t\nimages=24\nchannels=3\nslices=4\n"
            "frames=2\nspacing=0.7\nunit=micron\n")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "imagej_hyperstack")
    path = os.path.join(out, "hyper.tif")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_tiff(pages, description=desc))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .tif routing, ImageJ tier
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_mrc_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {5 * 6} AS INTEGER) AS z,
             CAST((i // 6) % 5 AS INTEGER) AS y,
             CAST(i % 6 AS INTEGER) AS x,
             CAST((i // {5 * 6}) * 100
                  + ((i // 6) % 5) * 10 + (i % 6) AS DOUBLE) AS value
      FROM range({4 * 5 * 6}) r(i))
    SELECT z, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z ORDER BY z
    """,
    doc="MRC-2014 encode -> BioImage reread (native .mrc/.st coverage "
        "of the Bio-Formats long tail: MAP stamp + machine-stamp byte "
        "order, Å cell -> µm pixel sizes, per-section planned reads)",
)
def img_mrc_roundtrip(spark, sf_dir):
    """MRC roundtrip of a float32 tomography-style volume. Public
    spec: CCP-EM MRC-2014. Ref README.md:74 (bioio-bioformats routes
    .mrc/.st)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.mrc import encode_mrc

    idx = np.indices((4, 5, 6))
    vol = (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(np.float32)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "mrc_roundtrip")
    path = os.path.join(out, "tomo.mrc")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_mrc(vol, pixel_size_a=1.2))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .mrc extension routing
    return (img.get_image_dataframe()
            .groupBy("z")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z"))


@register(
    "img_svs_large_window",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {_SVL_W} AS INTEGER) AS y,
             CAST(i % {_SVL_W} AS INTEGER) AS x,
             CAST((i * 37) % 251 AS DOUBLE) AS value
      FROM range({_SVL_H * _SVL_W}) r(i)
      WHERE (i // {_SVL_W}) >= 1000 AND (i // {_SVL_W}) < 1256
        AND (i % {_SVL_W}) >= 1000 AND (i % {_SVL_W}) < 1256)
    SELECT count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val,
           CAST(min(y) AS BIGINT) AS y_min,
           CAST(max(x) AS BIGINT) AS x_max
    FROM px
    """,
    doc="Whole-slide window read: a 256x256 region of the 7.9M-px "
        "slide decodes only its 4 intersecting tiles — the bench row "
        "that proves windows cost O(tiles touched), not O(slide)",
)
def img_svs_large_window(spark, sf_dir):
    """The pruning proof on the throughput fixture: compare this row's
    time to img_svs_large (full decode) in BENCH_LOCAL."""
    from bioio_spark import BioImage

    img = BioImage(_svs_large_fixture(), spark=spark)
    img.set_resolution_level(0)
    px = img.read_window(y=(1000, 1256), x=(1000, 1256))
    return px.agg(
        F.count(F.lit(1)).alias("n_px"),
        F.sum("value").alias("sum_val"),
        F.max("value").alias("max_val"),
        F.min("y").cast("bigint").alias("y_min"),
        F.max("x").cast("bigint").alias("x_max"))


@register(
    "img_cellvoyager_plate",
    oracle=f"""
    WITH px AS (
      SELECT CAST((i // {2 * 6 * 8}) % 4 AS INTEGER) AS f,
             CAST(i // {4 * 2 * 6 * 8} AS INTEGER) AS t,
             CAST((i // {6 * 8}) % 2 AS INTEGER) AS c,
             CAST(((i // {2 * 6 * 8}) % 4) * 1000
                  + (i // {4 * 2 * 6 * 8}) * 500
                  + ((i // {6 * 8}) % 2) * 250
                  + ((i // 8) % 6) * 10 + (i % 8) AS DOUBLE) AS value
      FROM range({2 * 4 * 2 * 6 * 8}) r(i))
    SELECT t, c, count(*) AS n_px, CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="CellVoyager HCS plate read (native coverage of the "
        "Bio-Formats long tail: mlf/mrf XML catalog, wells as scenes, "
        "fields as mosaic tiles stitched via stage positions, one "
        "plane file per task)",
)
def img_cellvoyager_plate(spark, sf_dir):
    """HCS plate roundtrip: a 2x2-field well stitches on a
    non-overlapping grid (stitch = relabel, so per-(t, c) sums equal
    the raw field sums — layout-independent hash). The fixture's
    second well pins multi-well scene separation. Ref README.md:74
    (bioio-bioformats routes CellVoyager)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.cellvoyager import encode_cellvoyager
    from bioio_spark.sources.cellvoyager_image import \
        CellVoyagerImageReader

    # t-major flattening: i = ((t*4 + f)*2 + c)*48 + y*8 + x
    idx = np.indices((2, 4, 2, 6, 8))          # t f c y x
    vals = (idx[1] * 1000 + idx[0] * 500 + idx[2] * 250
            + idx[3] * 10 + idx[4]).astype(np.uint16)
    well = vals.transpose(1, 0, 2, 3, 4)[:, :, :, None]  # F T C Z Y X
    well = well.reshape(4, 2, 2, 1, 6, 8)
    other = np.full((1, 1, 2, 1, 6, 8), 7, np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "cellvoyager_plate")
    path = os.path.join(out, "meas")
    if not os.path.exists(os.path.join(path,
                                       "MeasurementData.mlf")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        encode_cellvoyager({(1, 1): well, (1, 2): other}, path,
                           channel_names=["DAPI", "GFP"],
                           um_per_px=0.5,
                           field_grid_um=8 * 0.5)
    img = BioImage(path, spark=spark, reader=CellVoyagerImageReader)
    img.set_scene("Well R01C01")
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_cellvoyager_qc",
    oracle=f"""
    WITH w1 AS (
      SELECT 0 AS scene_idx,
             CAST((i // {6 * 8}) % 2 AS INTEGER) AS c,
             CAST(((i // {2 * 6 * 8}) % 4) * 1000
                  + (i // {4 * 2 * 6 * 8}) * 500
                  + ((i // {6 * 8}) % 2) * 250
                  + ((i // 8) % 6) * 10 + (i % 8) AS DOUBLE) AS value
      FROM range({2 * 4 * 2 * 6 * 8}) r(i)),
    w2 AS (
      SELECT 1 AS scene_idx, CAST(c.c AS INTEGER) AS c,
             CAST(7 AS DOUBLE) AS value
      FROM range(2) c(c), range({6 * 8}) r(i)),
    px AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
    SELECT scene_idx, c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY scene_idx, c ORDER BY scene_idx, c
    """,
    doc="HCS plate QC: per-(well, channel) intensity aggregates over "
        "the scene stack — the screening-pipeline query the plate "
        "model exists for (stitched wells + the I-dim UNION ALL)",
)
def img_cellvoyager_qc(spark, sf_dir):
    """The composed HCS analytic: get_stack_dataframe UNIONs every
    well's standardized (stitched) frame; per-(scene_idx, c)
    aggregates are the plate's QC table. Reuses the
    img_cellvoyager_plate fixture."""
    import os

    from bioio_spark.bio_image import BioImage
    from bioio_spark.queries.image import img_cellvoyager_plate
    from bioio_spark.sources.cellvoyager_image import \
        CellVoyagerImageReader

    img_cellvoyager_plate(spark, sf_dir)     # materialize the fixture
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "cellvoyager_plate",
        "meas")
    img = BioImage(path, spark=spark, reader=CellVoyagerImageReader)
    return (img.get_stack_dataframe()
            .groupBy("scene_idx", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("scene_idx", "c"))


@register(
    "img_zvi_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST((i // {3 * 4 * 5}) % 2 AS INTEGER) AS c,
             CAST((i // {4 * 5}) % 3 AS INTEGER) AS z,
             CAST((i // {2 * 3 * 4 * 5}) * 20000
                  + ((i // {3 * 4 * 5}) % 2) * 2000
                  + ((i // {4 * 5}) % 3) * 200
                  + ((i // 5) % 4) * 20 + (i % 5) AS DOUBLE) AS value
      FROM range({2 * 2 * 3 * 4 * 5}) r(i))
    SELECT c, z, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c, z ORDER BY c, z
    """,
    doc="Zeiss ZVI encode -> BioImage reread (native .zvi coverage of "
        "the Bio-Formats long tail: MS-CFB storage hierarchy, "
        "VARIANT-tagged item streams, coordinate tag triples, "
        "sector-extent planned raw-payload reads)",
)
def img_zvi_roundtrip(spark, sf_dir):
    """ZVI roundtrip: the CFB directory tree + per-item VARIANT
    headers + Tags coordinate triples resolve each plane's raw pixel
    payload to byte extents driver-side; executors seek-read exactly
    those runs (no entropy decode). Ref README.md:74 (bioio-bioformats
    routes .zvi; this is the native Spark-planned replacement)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.zvi import encode_zvi

    idx = np.indices((2, 2, 3, 4, 5))
    block = (idx[0] * 20000 + idx[1] * 2000 + idx[2] * 200
             + idx[3] * 20 + idx[4]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zvi_roundtrip")
    path = os.path.join(out, "stack.zvi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_zvi(block, um_per_px=0.25, z_step_um=1.0))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .zvi extension routing
    return (img.get_image_dataframe()
            .groupBy("c", "z")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c", "z"))


@register(
    "img_zvi_bgr",
    oracle=f"""
    WITH px AS (
      SELECT CAST((i // {6 * 8}) % 3 AS INTEGER) AS c,
             CAST((((i // {6 * 8}) % 3) * 50
                   + ((i // 8) % 6) * 8 + (i % 8)) % 251
                  AS DOUBLE) AS value
      FROM range({3 * 6 * 8}) r(i))
    SELECT c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c ORDER BY c
    """,
    doc="ZVI interleaved-BGR item decode: executor-side de-interleave "
        "of BGR24 samples back to R,G,B channel rows (the spec's "
        "PixelFormat 1), hash-pinning the channel-order mapping",
)
def img_zvi_bgr(spark, sf_dir):
    """BGR24 ZVI: one item per (t, z) carries three interleaved
    samples; the reader de-interleaves executor-side and maps stored
    B,G,R back to channel order R,G,B. The per-channel aggregate
    pins that mapping bytewise."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.zvi import encode_zvi

    idx = np.indices((1, 3, 1, 6, 8))
    block = ((idx[1] * 50 + idx[3] * 8 + idx[4]) % 251).astype(
        np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "zvi_bgr")
    path = os.path.join(out, "rgb.zvi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_zvi(block, pixel_format=1))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c"))


@register(
    "img_pic_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {5 * 6} AS INTEGER) AS z,
             CAST((i // {5 * 6}) * 900 + ((i // 6) % 5) * 30
                  + (i % 6) AS DOUBLE) AS value
      FROM range({4 * 5 * 6}) r(i))
    SELECT z, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY z ORDER BY z
    """,
    doc="Bio-Rad PIC encode -> BioImage reread (native .pic coverage "
        "of the Bio-Formats long tail: 76-byte magic-12345 header, "
        "contiguous planes as byte ranges, AXIS_4 note Z-vs-T rule)",
)
def img_pic_roundtrip(spark, sf_dir):
    """Bio-Rad PIC roundtrip: a Microns AXIS_4 note maps the plane
    axis to Z; each plane is one planned byte range. Ref README.md:74
    (bioio-bioformats routes .pic; this is the native replacement).
    The per-z aggregate also pins the plane ordering."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.pic import encode_pic

    idx = np.indices((4, 5, 6))
    stack = (idx[0] * 900 + idx[1] * 30 + idx[2]).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "pic_roundtrip")
    path = os.path.join(out, "cells.pic")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_pic(stack, axis4="z", step_um=0.3,
                               z_step=1.2))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .pic extension routing
    return (img.get_image_dataframe()
            .groupBy("z")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("z"))


@register(
    "img_avi_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 6 * 8} AS INTEGER) AS t,
             CAST((i // {6 * 8}) % 3 AS INTEGER) AS c,
             CAST(((i // {3 * 6 * 8}) * 40 + ((i // {6 * 8}) % 3) * 60
                   + ((i // 8) % 6) * 9 + (i % 8)) % 256
                  AS DOUBLE) AS value
      FROM range({4 * 3 * 6 * 8}) r(i))
    SELECT t, c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="RIFF/AVI encode -> BioImage reread (video-container row of "
        "the imageio tier: idx1 index as the read plan, frames -> T, "
        "bottom-up padded BGR DIB decode, BGR -> RGB channel map)",
)
def img_avi_roundtrip(spark, sf_dir):
    """AVI roundtrip (BI_RGB DIB frames, bit-exact): idx1 resolves
    each frame to an absolute byte range driver-side; executors
    seek-read + bit-copy decode. Frames map to T, the GIF rule (ref
    README.md:61,83 — bioio-imageio routes .avi)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.avi import encode_avi

    idx = np.indices((4, 6, 8, 3))      # t y x c
    frames = ((idx[0] * 40 + idx[3] * 60 + idx[1] * 9 + idx[2])
              % 256).astype(np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "avi_roundtrip")
    path = os.path.join(out, "clip.avi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_avi(frames, codec="rgb", fps=10))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .avi extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_avi_mjpg",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 16 * 24} AS INTEGER) AS t,
             CAST((i // {16 * 24}) % 3 AS INTEGER) AS c,
             CAST(((i // {3 * 16 * 24}) * 30
                   + ((i // 24) % 16 // 8) * 25
                   + ((i % 24) // 8) * 15
                   + ((i // {16 * 24}) % 3) * 10) % 200 + 20
                  AS DOUBLE) AS value
      FROM range({2 * 3 * 16 * 24}) r(i))
    SELECT t, c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="AVI MJPG frames: per-frame baseline JFIF decode through the "
        "in-repo JPEG codec, exact on DC-only blocky content (the "
        "img_jpeg_roundtrip rule)",
)
def img_avi_mjpg(spark, sf_dir):
    """MJPG AVI: each idx1 entry is one standalone baseline JPEG —
    executors decode their frames with the in-repo codec. Content is
    constant per 8x8 block so the DCT roundtrip is exact and the
    oracle can pin values."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.avi import encode_avi

    idx = np.indices((2, 16, 24, 3))    # t y x c
    frames = ((idx[0] * 30 + (idx[1] // 8) * 25 + (idx[2] // 8) * 15
               + idx[3] * 10) % 200 + 20).astype(np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "avi_mjpg")
    path = os.path.join(out, "clip.avi")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(encode_avi(frames, codec="mjpg", quality=95))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_mp4_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {3 * 16 * 24} AS INTEGER) AS t,
             CAST((i // {16 * 24}) % 3 AS INTEGER) AS c,
             CAST(((i // {3 * 16 * 24}) * 30
                   + ((i // 24) % 16 // 8) * 25
                   + ((i % 24) // 8) * 15
                   + ((i // {16 * 24}) % 3) * 10) % 200 + 20
                  AS DOUBLE) AS value
      FROM range({2 * 3 * 16 * 24}) r(i))
    SELECT t, c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY t, c ORDER BY t, c
    """,
    doc="MP4 (ISO BMFF) Motion-JPEG encode -> BioImage reread: the "
        "stsz+stco+stsc sample table as the read plan, frames -> T, "
        "exact on DC-only blocky content",
)
def img_mp4_roundtrip(spark, sf_dir):
    """MP4 roundtrip through TimeSeriesWriter's .mp4 route and the
    Mp4ImageReader: the moov sample table resolves every frame to an
    absolute byte range driver-side (no mdat IO); executors seek-read
    + decode each Motion-JPEG sample with the in-repo baseline codec.
    Closes the last publicly-specified writer-registry rows (ref
    README.md:82 routes .mp4/.mov through ffmpeg)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import WRITER_REGISTRY

    idx = np.indices((2, 16, 24, 3))    # t y x c
    frames = ((idx[0] * 30 + (idx[1] // 8) * 25 + (idx[2] // 8) * 15
               + idx[3] * 10) % 200 + 20).astype(np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "mp4_roundtrip")
    path = os.path.join(out, "clip.mp4")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp.mp4"
        WRITER_REGISTRY["TimeSeriesWriter"].save(frames, tmp, fps=10)
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .mp4 extension routing
    return (img.get_image_dataframe()
            .groupBy("t", "c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("t", "c"))


@register(
    "img_mpeg_roundtrip",
    oracle=f"""
    WITH px AS (
      SELECT CAST(i // {24 * 32} AS INTEGER) AS c,
             CAST((((i // 32) % 24 // 8) * 3
                   + (i % 32 // 8) * 5) % 200 + 20 AS DOUBLE)
               AS value
      FROM range({3 * 24 * 32}) r(i))
    SELECT c, CAST(count(*) AS BIGINT) AS n_px,
           CAST(sum(value) AS DOUBLE) AS sum_val,
           CAST(max(value) AS DOUBLE) AS max_val
    FROM px GROUP BY c ORDER BY c
    """,
    doc="MPEG-1 (ISO 11172-2) intra encode -> BioImage reread via "
        "the TwoDWriter .mpg route: picture start codes as the read "
        "plan, exact on gray 8x8-constant content (4:2:0 chroma is "
        "flat at 128)",
)
def img_mpeg_roundtrip(spark, sf_dir):
    """MPEG-1 roundtrip through TwoDWriter's .mpg route and the
    MpegImageReader: the start-code catalog resolves the picture to
    an absolute byte range driver-side (no entropy IO); executors
    seek-read + decode with the in-repo ISO 11172-2 intra codec. The
    gray blocky fixture makes the DCT path bit-exact: flat luma
    blocks quantise losslessly at DC step 8 and gray content carries
    flat Cb=Cr=128 chroma through the mandatory 4:2:0 subsampling.
    Closes the .mpg/.mpeg TwoDWriter rows (ref README.md:84)."""
    import os
    import shutil

    import numpy as np

    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import WRITER_REGISTRY

    yy, xx = np.indices((24, 32))
    gray = (((yy // 8) * 3 + (xx // 8) * 5) % 200 + 20).astype(
        np.uint8)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "mpeg_roundtrip")
    path = os.path.join(out, "frame.mpg")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp.mpg"
        WRITER_REGISTRY["TwoDWriter"].save(gray, tmp)
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .mpg extension routing
    return (img.get_image_dataframe()
            .groupBy("c")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("c"))


# --------------------------------------------------------------------------
# N5 Sobel gradient + the two image-wide intensity primitives (integral
# image, histogram equalization). Sobel extends the stencil family to
# WEIGHTED kernels (one explode feeds both gradient sums); the integral
# image is a separable distributed prefix-sum (two bounded-partition
# window passes — each partition is one image row/column, never the
# corpus); hist-eq is the l11 bounded-histogram + broadcast-remap
# pattern applied to pixels.
# --------------------------------------------------------------------------
@register(
    "img_sobel",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    g AS (
      SELECT a.t, a.c, a.z, a.y, a.x,
             CAST(sum(b.value * (b.x - a.x) * (2 - abs(b.y - a.y)))
                  AS BIGINT) AS gx,
             CAST(sum(b.value * (b.y - a.y) * (2 - abs(b.x - a.x)))
                  AS BIGINT) AS gy
      FROM px a JOIN px b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      WHERE a.y BETWEEN 1 AND {Y - 2} AND a.x BETWEEN 1 AND {X - 2}
      GROUP BY a.t, a.c, a.z, a.y, a.x)
    SELECT t, c, z, y, x, gx, gy,
           CAST(gx * gx + gy * gy AS BIGINT) AS mag2
    FROM g ORDER BY t, c, z, y, x
    """,
    doc="N5 3x3 Sobel gradient: weighted-kernel stencil, interior "
        "targets, exact integer gx/gy/mag2",
)
def img_sobel(spark, sf_dir):
    from bioio_spark.operators.stencil import sobel_pixels

    return (sobel_pixels(_gen_pixels(spark), Y, X)
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_integral",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    r AS (
      SELECT t, c, z, y, x,
             sum(value) OVER (PARTITION BY t, c, z, y ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS rsum
      FROM px)
    SELECT t, c, z, y, x,
           CAST(sum(rsum) OVER (PARTITION BY t, c, z, x ORDER BY y
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS sat
    FROM r ORDER BY t, c, z, y, x
    """,
    doc="integral image (summed-area table): separable distributed "
        "prefix-sum, two bounded-partition window passes",
)
def img_integral(spark, sf_dir):
    from bioio_spark.operators.intensity import integral_image

    return (integral_image(_gen_pixels(spark))
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_hist_eq",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    h AS (SELECT t, c, z, value, count(*) AS cnt
          FROM px GROUP BY t, c, z, value),
    cd AS (
      SELECT t, c, z, value, cnt,
             sum(cnt) OVER (PARTITION BY t, c, z ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cdf
      FROM h),
    m AS (
      SELECT *, min(CASE WHEN cdf = cnt THEN cdf END)
                  OVER (PARTITION BY t, c, z) AS cdf_min
      FROM cd),
    r AS (
      SELECT t, c, z, value,
             CAST(CASE WHEN {Y * X} = cdf_min THEN 0
                  ELSE ((cdf - cdf_min) * 255) // ({Y * X} - cdf_min)
                  END AS BIGINT) AS eq
      FROM m)
    SELECT px.t, px.c, px.z, px.y, px.x, r.eq
    FROM px JOIN r ON px.t = r.t AND px.c = r.c AND px.z = r.z
                  AND px.value = r.value
    ORDER BY px.t, px.c, px.z, px.y, px.x
    """,
    doc="per-plane histogram equalization: bounded value histogram + "
        "CDF window over the histogram (never pixels) + broadcast "
        "remap join — integer-exact equalization map",
)
def img_hist_eq(spark, sf_dir):
    from bioio_spark.operators.intensity import hist_equalize

    return (hist_equalize(_gen_pixels(spark), n_pixels=Y * X)
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# DNG camera RAW (Adobe DNG 1.4, ref README.md:70 routes camera RAWs
# via bioio-bioformats): lossless-JPEG (SOF3) strips through the
# in-repo ljpeg codec, CFA mosaic exposed un-demosaiced. The oracle
# recomputes the deterministic mosaic closed-form and aggregates per
# CFA phase (y%2, x%2) — pinning strip decode, offsets and the
# Bayer-phase arithmetic in one hash.
# --------------------------------------------------------------------------
@register(
    "img_dng_roundtrip",
    oracle="""
    WITH px AS (
      SELECT (i // 16) AS y, (i % 16) AS x,
             CAST((i // 16) * 257 + (i % 16) * 13
                  + ((i // 16) % 2) * 2048
                  + ((i % 16) % 2) * 1024 AS DOUBLE) AS value
      FROM range(192) r(i))
    SELECT CAST(y % 2 AS INTEGER) AS ry, CAST(x % 2 AS INTEGER) AS rx,
           CAST(count(*) AS BIGINT) AS n_px,
           sum(value) AS sum_val, max(value) AS max_val
    FROM px GROUP BY y % 2, x % 2 ORDER BY ry, rx
    """,
    doc="DNG camera-RAW roundtrip: lossless-JPEG (SOF3) strips, "
        "per-CFA-phase aggregate",
)
def img_dng_roundtrip(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dng import build_dng

    idx = np.indices((12, 16))
    mosaic = (idx[0] * 257 + idx[1] * 13 + (idx[0] % 2) * 2048
              + (idx[1] % 2) * 1024).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dng_roundtrip")
    path = os.path.join(out, "raw.dng")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(build_dng(mosaic, compression=7, rows_per_strip=4))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)       # .dng extension routing
    return (img.get_image_dataframe()
            .groupBy((F.col("y") % 2).cast("int").alias("ry"),
                     (F.col("x") % 2).cast("int").alias("rx"))
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("ry", "rx"))


@register(
    "img_planes_sobel",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    g AS (
      SELECT a.t, a.c, a.z, a.y, a.x,
             CAST(sum(b.value * (b.x - a.x) * (2 - abs(b.y - a.y)))
                  AS BIGINT) AS gx,
             CAST(sum(b.value * (b.y - a.y) * (2 - abs(b.x - a.x)))
                  AS BIGINT) AS gy
      FROM px a JOIN px b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      WHERE a.y BETWEEN 1 AND {Y - 2} AND a.x BETWEEN 1 AND {X - 2}
      GROUP BY a.t, a.c, a.z, a.y, a.x)
    SELECT t, c, z, y, x, gx, gy,
           CAST(gx * gx + gy * gy AS BIGINT) AS mag2
    FROM g ORDER BY t, c, z, y, x
    """,
    doc="the same Sobel gradient through the planes/halo-exchange "
        "layout (tiles ship O(perimeter) strips; separable in-tile "
        "passes feed both gradients) — hash-matching the pixel-level "
        "oracle proves the 100 TB path computes identical gradients "
        "across tile seams and ragged edges",
)
def img_planes_sobel(spark, sf_dir):
    from bioio_spark.operators.planes import pixels_to_planes
    from bioio_spark.operators.stencil import sobel_planes

    # 2x3 pitch over 4x5 planes: seams on both axes + ragged edges
    planes = pixels_to_planes(_gen_pixels(spark), tile_h=2, tile_w=3)
    return (sobel_planes(planes, tile_h=2, tile_w=3)
            .select("t", "c", "z", "y", "x", "gx", "gy", "mag2")
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_dng_window",
    oracle="""
    WITH px AS (
      SELECT (i // 16) AS y, (i % 16) AS x,
             CAST((i // 16) * 257 + (i % 16) * 13
                  + ((i // 16) % 2) * 2048
                  + ((i % 16) % 2) * 1024 AS DOUBLE) AS value
      FROM range(192) r(i))
    SELECT CAST(count(*) AS BIGINT) AS n_px,
           sum(value) AS sum_val,
           CAST(min(y) AS BIGINT) AS min_y,
           CAST(max(y) AS BIGINT) AS max_y
    FROM px WHERE y >= 5 AND y < 9 AND x >= 2 AND x < 10
    """,
    doc="DNG window read: y window prunes whole strips driver-side "
        "(the uncompressed variant narrows to touched row byte "
        "ranges), x trims via codegen filter",
)
def img_dng_window(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.formats.dng import build_dng
    from bioio_spark import BioImage

    idx = np.indices((12, 16))
    mosaic = (idx[0] * 257 + idx[1] * 13 + (idx[0] % 2) * 2048
              + (idx[1] % 2) * 1024).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dng_window")
    path = os.path.join(out, "raw.dng")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(build_dng(mosaic, compression=1, rows_per_strip=4))
        os.replace(tmp, path)
    return (BioImage(path, spark=spark).read_window(y=(5, 9), x=(2, 10))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.min("y").cast("bigint").alias("min_y"),
                 F.max("y").cast("bigint").alias("max_y")))


@register(
    "img_demosaic",
    oracle="""
    WITH px AS (
      SELECT (i // 16) AS y, (i % 16) AS x,
             CAST((i // 16) * 257 + (i % 16) * 13
                  + ((i // 16) % 2) * 2048
                  + ((i % 16) % 2) * 1024 AS DOUBLE) AS value
      FROM range(192) r(i))
    SELECT a.y, a.x,
           sum(CASE WHEN b.y % 2 = 0 AND b.x % 2 = 0
                    THEN b.value END)
             / count(CASE WHEN b.y % 2 = 0 AND b.x % 2 = 0
                          THEN 1 END) AS r,
           sum(CASE WHEN b.y % 2 <> b.x % 2 THEN b.value END)
             / count(CASE WHEN b.y % 2 <> b.x % 2 THEN 1 END) AS g,
           sum(CASE WHEN b.y % 2 = 1 AND b.x % 2 = 1
                    THEN b.value END)
             / count(CASE WHEN b.y % 2 = 1 AND b.x % 2 = 1
                          THEN 1 END) AS b
    FROM px a JOIN px b
      ON abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.y, a.x ORDER BY a.y, a.x
    """,
    doc="bilinear RGGB demosaic chained onto the DNG camera-RAW "
        "reader: file -> CFA plane -> per-channel 3x3 in-bounds "
        "means, one explode + one hash agg for all three channels",
)
def img_demosaic(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dng import build_dng
    from bioio_spark.operators.intensity import demosaic_pixels

    idx = np.indices((12, 16))
    mosaic = (idx[0] * 257 + idx[1] * 13 + (idx[0] % 2) * 2048
              + (idx[1] % 2) * 1024).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dng_roundtrip")
    path = os.path.join(out, "raw.dng")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(build_dng(mosaic, compression=7, rows_per_strip=4))
        os.replace(tmp, path)
    cfa = (BioImage(path, spark=spark).get_image_dataframe()
           .select("y", "x", "value"))
    return (demosaic_pixels(cfa, 12, 16, plane_cols=())
            .select("y", "x", "r", "g", "b")
            .orderBy("y", "x"))


# --------------------------------------------------------------------------
# img_dng_develop: the full camera-RAW develop chain (DNG spec 1.4
# "Mapping Camera Color Space to CIE XYZ") — file -> CFA plane ->
# bilinear demosaic -> black-level subtract -> AsShotNeutral white
# balance -> inverse-ColorMatrix1 camera->XYZ. The develop stage is
# ONE narrow codegen projection chained on the demosaic agg (no new
# shuffle); all its parameters flow from the DNG's own metadata tags
# (BlackLevel 50714, AsShotNeutral 50728, ColorMatrix1 50721), read
# driver-side by the catalog walk. Ref README.md:70 reaches camera
# RAW only through the Java bridge; this is the native tier.
# --------------------------------------------------------------------------
_DEV_BLACK = 256
_DEV_NEUTRAL_PAIRS = ((5, 8), (1, 1), (13, 16))   # dyadic -> exact
_DEV_CM1 = [(2, 1), (1, 2), (0, 1),
            (0, 1), (2, 1), (1, 2),
            (0, 1), (0, 1), (2, 1)]               # XYZ->camera

_DEV_RGB_CTE = """
    WITH px AS (
      SELECT (i // 16) AS y, (i % 16) AS x,
             CAST((i // 16) * 257 + (i % 16) * 13
                  + ((i // 16) % 2) * 2048
                  + ((i % 16) % 2) * 1024 AS DOUBLE) AS value
      FROM range(192) r(i)),
    rgb AS (
      SELECT a.y, a.x,
             sum(CASE WHEN b.y % 2 = 0 AND b.x % 2 = 0
                      THEN b.value END)
               / count(CASE WHEN b.y % 2 = 0 AND b.x % 2 = 0
                            THEN 1 END) AS r,
             sum(CASE WHEN b.y % 2 <> b.x % 2 THEN b.value END)
               / count(CASE WHEN b.y % 2 <> b.x % 2 THEN 1 END) AS g,
             sum(CASE WHEN b.y % 2 = 1 AND b.x % 2 = 1
                      THEN b.value END)
               / count(CASE WHEN b.y % 2 = 1 AND b.x % 2 = 1
                            THEN 1 END) AS b
      FROM px a JOIN px b
        ON abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      GROUP BY a.y, a.x)"""


def _dev_oracle() -> str:
    from bioio_spark.operators.intensity import (develop_sql,
                                                 invert_color_matrix)
    neutral = [n / d for n, d in _DEV_NEUTRAL_PAIRS]
    return develop_sql(_DEV_RGB_CTE, _DEV_BLACK, neutral,
                       invert_color_matrix(_DEV_CM1))


@register(
    "img_dng_develop",
    oracle=_dev_oracle(),
    doc="DNG develop chain: demosaic -> black-level -> AsShotNeutral "
        "white balance -> inverse ColorMatrix1 camera->XYZ, all "
        "parameters from the file's own DNG tags; one codegen "
        "projection on top of the demosaic agg",
)
def img_dng_develop(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dng import build_dng, read_dng_catalog
    from bioio_spark.operators.intensity import (demosaic_pixels,
                                                 develop_pixels,
                                                 invert_color_matrix)

    idx = np.indices((12, 16))
    mosaic = (idx[0] * 257 + idx[1] * 13 + (idx[0] % 2) * 2048
              + (idx[1] % 2) * 1024).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dng_develop")
    path = os.path.join(out, "raw.dng")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(build_dng(mosaic, compression=7, rows_per_strip=4,
                              black_level=_DEV_BLACK,
                              as_shot_neutral=_DEV_NEUTRAL_PAIRS,
                              color_matrix1=_DEV_CM1))
        os.replace(tmp, path)
    cat = read_dng_catalog(path)
    cfa = (BioImage(path, spark=spark).get_image_dataframe()
           .select("y", "x", "value"))
    rgb = demosaic_pixels(cfa, cat["size_y"], cat["size_x"],
                          plane_cols=())
    dev = develop_pixels(rgb, cat["black_level"],
                         cat["as_shot_neutral"],
                         invert_color_matrix(cat["color_matrix1"]))
    return dev.orderBy("y", "x")


# --------------------------------------------------------------------------
# img_bulk_catalog: the directory-scale ingest front door. Every
# planned reader catalogs one file driver-side (the D8 contract);
# for a real acquisition directory (millions of files at 100 TB) that
# walk must itself distribute. sources/bulk.py parallelizes the path
# list and runs the SAME per-format catalog functions inside
# mapInPandas — executor-side ranged reads, per-file errors as rows.
# The query builds a 40-entry mixed directory (TIFF/DNG/PNG plus the
# vendor tier: CZI/ND2/LIF and an OME-Zarr store, each with
# deterministic dims), bulk-catalogs it, and aggregates per format;
# the oracle recomputes the expected geometry arithmetically.
# --------------------------------------------------------------------------
@register(
    "img_bulk_catalog",
    oracle="""
    WITH f AS (
      SELECT 'dng' AS fmt, 1 AS n_pages, 8 + 2 * (i % 2) AS h,
             12 AS w, (8 + 2 * (i % 2) + 3) // 4 AS n_chunks
      FROM range(8) r(i)
      UNION ALL
      SELECT 'png', 1, 5 + i, 6 + i, 1 FROM range(8) r(i)
      UNION ALL
      SELECT 'tiff', 2 + i % 3, 8 + i, 10 + i, 2 + i % 3
      FROM range(8) r(i)
      UNION ALL
      SELECT 'czi', 2, 6 + i, 7 + i, 2 FROM range(4) r(i)
      UNION ALL
      SELECT 'nd2', 3, 5 + i, 8 + i, 3 FROM range(4) r(i)
      UNION ALL
      SELECT 'lif', 2, 6 + i, 5 + i, 1 FROM range(4) r(i)
      UNION ALL
      SELECT 'zarr', 2, 7 + i, 9 + i, 2 FROM range(4) r(i))
    SELECT fmt, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_pages * h * w) AS BIGINT) AS sum_px,
           CAST(sum(n_chunks) AS BIGINT) AS sum_chunks
    FROM f GROUP BY fmt ORDER BY fmt
    """,
    doc="distributed bulk catalog over a 40-entry mixed acquisition "
        "directory (tiff/dng/png/czi/nd2/lif/zarr): parallelize(paths) "
        "-> mapInPandas(catalog) -> per-format geometry rollup; the "
        "executor-side walk that replaces the driver-side per-file "
        "catalog at directory scale",
)
def img_bulk_catalog(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.formats.czi import encode_czi
    from bioio_spark.formats.dng import build_dng
    from bioio_spark.formats.lif import encode_lif
    from bioio_spark.formats.nd2 import encode_nd2
    from bioio_spark.formats.png import encode_png
    from bioio_spark.formats.tiff import encode_tiff
    from bioio_spark.formats.zarr import (build_zarray, chunk_key,
                                          encode_chunk)
    from bioio_spark.sources.bulk import bulk_catalog

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "bulk_catalog_mixed")
    done = os.path.join(out, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        for i in range(8):
            planes = [np.full((8 + i, 10 + i), i, dtype=np.uint16)
                      for _ in range(2 + i % 3)]
            with open(os.path.join(out, f"t{i}.tif"), "wb") as f:
                f.write(encode_tiff(planes))
            mosaic = np.full((8 + 2 * (i % 2), 12), i,
                             dtype=np.uint16)
            with open(os.path.join(out, f"d{i}.dng"), "wb") as f:
                f.write(build_dng(mosaic, compression=1,
                                  rows_per_strip=4))
            with open(os.path.join(out, f"p{i}.png"), "wb") as f:
                f.write(encode_png(
                    np.full((5 + i, 6 + i), i, dtype=np.uint8)))
        for i in range(4):
            subs = [{"data": np.full((6 + i, 7 + i), i + c,
                                     dtype=np.uint16),
                     "dims": {"C": c}} for c in range(2)]
            with open(os.path.join(out, f"c{i}.czi"), "wb") as f:
                f.write(encode_czi(subs))
            with open(os.path.join(out, f"n{i}.nd2"), "wb") as f:
                f.write(encode_nd2(np.full((3, 5 + i, 8 + i), i,
                                           dtype=np.uint16)))
            scene = {"name": f"S{i}",
                     "data": np.full((1, 2, 1, 6 + i, 5 + i), i,
                                     dtype=np.uint8)}
            with open(os.path.join(out, f"l{i}.lif"), "wb") as f:
                f.write(encode_lif([scene]))
            a = np.full((2, 7 + i, 9 + i), i, dtype=np.uint16)
            zdir = os.path.join(out, f"z{i}.zarr")
            os.makedirs(zdir)
            with open(os.path.join(zdir, ".zarray"), "w") as f:
                f.write(build_zarray(a.shape, (1,) + a.shape[1:],
                                     a.dtype))
            for z in range(2):
                with open(os.path.join(
                        zdir, chunk_key((z, 0, 0))), "wb") as f:
                    f.write(encode_chunk(a[z:z + 1]))
        open(done, "w").close()
    paths = sorted(os.path.join(out, n) for n in os.listdir(out)
                   if not n.startswith("."))
    cat = bulk_catalog(spark, paths)
    return (cat.filter(F.col("ok"))
            .groupBy("fmt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_files"),
                 F.sum(F.col("n_pages") * F.col("size_y")
                       * F.col("size_x")).cast("bigint")
                 .alias("sum_px"),
                 F.sum("n_chunks").cast("bigint").alias("sum_chunks"))
            .orderBy("fmt"))


# --------------------------------------------------------------------------
# Z-order (Morton) clustering key: the data-layout lever for windowed
# reads over relational pixel tables. The query pins BOTH the key math
# (identical bit-interleave in each engine) and the locality property
# that makes it useful: within EVERY aligned 4x4 block — full or
# ragged — the key range is bounded by the block's 16-key span
# (max - min <= 15), and full blocks are exactly one contiguous
# 16-key run. That bounded range is why a pixel table written sorted
# by (plane, morton) lets parquet min/max stats prune a YX window to
# O(window) row groups at 100 TB.
# --------------------------------------------------------------------------
from bioio_spark.operators.zorder import morton_sql  # noqa: E402

_ZORDER_ORACLE = f"""
    WITH px AS ({_GEN_SQL}),
    keyed AS (
      SELECT t, c, z, CAST(y // 4 AS INTEGER) AS by,
             CAST(x // 4 AS INTEGER) AS bx,
             {morton_sql('y', 'x')} AS mk
      FROM px)
    SELECT t, c, z, by, bx,
           CAST(count(*) AS BIGINT) AS n_px,
           min(mk) AS min_key, max(mk) AS max_key,
           CAST(CASE WHEN max(mk) - min(mk) <= 15
                THEN 1 ELSE 0 END AS BIGINT) AS range_bounded,
           CAST(CASE WHEN count(*) = 16
                     AND max(mk) - min(mk) = 15
                THEN 1 ELSE 0 END AS BIGINT) AS full_contiguous
    FROM keyed GROUP BY t, c, z, by, bx
    ORDER BY t, c, z, by, bx
    """


@register(
    "img_zorder",
    oracle=_ZORDER_ORACLE,
    doc="Morton/Z-order clustering key + per-4x4-block bounded-range "
        "proof (every aligned block spans <= 16 keys; full blocks "
        "are one contiguous run) — the layout that makes windowed "
        "pixel reads row-group-prunable at scale",
)
def img_zorder(spark, sf_dir):
    from bioio_spark.operators.zorder import morton_key

    px = _gen_pixels(spark)
    keyed = px.select(
        "t", "c", "z",
        (F.col("y") / 4).cast("int").alias("by"),
        (F.col("x") / 4).cast("int").alias("bx"),
        morton_key(F.col("y"), F.col("x")).alias("mk"))
    return (keyed.groupBy("t", "c", "z", "by", "bx")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_px"),
                 F.min("mk").alias("min_key"),
                 F.max("mk").alias("max_key"))
            .withColumn(
                "range_bounded",
                (F.col("max_key") - F.col("min_key") <= 15)
                .cast("bigint"))
            .withColumn(
                "full_contiguous",
                ((F.col("n_px") == 16)
                 & (F.col("max_key") - F.col("min_key") == 15))
                .cast("bigint"))
            .orderBy("t", "c", "z", "by", "bx"))


@register(
    "img_dng_large",
    oracle="""
    WITH px AS (
      SELECT (i // 1024) AS y, (i % 1024) AS x,
             CAST(((i // 1024) * 131 + (i % 1024) * 7) % 30000
                  + ((i // 1024) % 2) * 2048
                  + ((i % 1024) % 2) * 1024 AS DOUBLE) AS value
      FROM range(524288) r(i))
    SELECT CAST(y % 2 AS INTEGER) AS ry, CAST(x % 2 AS INTEGER) AS rx,
           CAST(count(*) AS BIGINT) AS n_px,
           sum(value) AS sum_val, max(value) AS max_val
    FROM px GROUP BY y % 2, x % 2 ORDER BY ry, rx
    """,
    doc="DNG decode-throughput row: 512x1024 mosaic, 8 uncompressed "
        "strips read in parallel (one ranged GET each)",
)
def img_dng_large(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.dng import build_dng

    idx = np.indices((512, 1024))
    mosaic = (((idx[0] * 131 + idx[1] * 7) % 30000
               + (idx[0] % 2) * 2048
               + (idx[1] % 2) * 1024)).astype(np.uint16)
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "dng_large")
    path = os.path.join(out, "big.dng")
    if not os.path.exists(path):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(build_dng(mosaic, compression=1,
                              rows_per_strip=64))
        os.replace(tmp, path)
    img = BioImage(path, spark=spark)
    return (img.get_image_dataframe()
            .groupBy((F.col("y") % 2).cast("int").alias("ry"),
                     (F.col("x") % 2).cast("int").alias("rx"))
            .agg(F.count(F.lit(1)).alias("n_px"),
                 F.sum("value").alias("sum_val"),
                 F.max("value").alias("max_val"))
            .orderBy("ry", "rx"))


# --------------------------------------------------------------------------
# Remove-small-objects: the segmentation step AFTER labeling (the
# scipy.ndimage remove_small_objects analog every bioimage pipeline
# runs on its mask). Components below min_size drop; isolated pixels
# carry no CC edge (size 1 by the l6 contract) and drop with them.
# One extra bounded filter + per-plane aggregate on top of the CC
# output — the labeling shuffle is the whole cost.
# --------------------------------------------------------------------------
_RSO_MIN = 4


@register(
    "img_remove_small",
    oracle=f"""
    WITH base AS ({_cc_oracle()})
    SELECT CAST(p // {C * Z} AS INTEGER) AS t,
           CAST((p // {Z}) % {C} AS INTEGER) AS c,
           CAST(p % {Z} AS INTEGER) AS z,
           CAST(count(*) AS BIGINT) AS n_kept_px,
           CAST(count(DISTINCT component) AS BIGINT) AS n_components
    FROM (SELECT node // {Y * X} AS p, component
          FROM base WHERE component_size >= {_RSO_MIN})
    GROUP BY 1, 2, 3 ORDER BY t, c, z
    """,
    doc="remove-small-objects: size-gated CC components per plane "
        "(the post-labeling segmentation filter)",
)
def img_remove_small(spark, sf_dir):
    from bioio_spark.operators.labeling import label_mask_components

    cc = label_mask_components(_cc_mask(spark),
                               approx_size=T * C * Z * Y * X)
    kept = cc.filter(F.col("component_size") >= _RSO_MIN)
    p = (F.col("node") / (Y * X)).cast("long")
    return (kept.select(
                (p / (C * Z)).cast("int").alias("t"),
                ((p / Z) % C).cast("int").alias("c"),
                (p % Z).cast("int").alias("z"),
                "component")
            .groupBy("t", "c", "z")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_kept_px"),
                 F.countDistinct("component").cast("bigint")
                 .alias("n_components"))
            .orderBy("t", "c", "z"))


# --------------------------------------------------------------------------
# N10 local variance (3x3 texture feature) + N11 morphological opening
# (erosion -> dilation). Variance stays INTEGER-exact by reporting the
# scaled numerator n^2 * var = n * sum(v^2) - sum(v)^2 — no float
# division to pin. Opening chains two stencils: the oracle is the
# nested min-then-max neighborhood join, the Spark side composes the
# same two contribution-explode aggregates (same target key, so the
# second shuffle reuses the first's partitioning layout).
# --------------------------------------------------------------------------
@register(
    "img_local_var",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * sum(CAST(b.value AS BIGINT)
                               * CAST(b.value AS BIGINT))
                - sum(CAST(b.value AS BIGINT))
                  * sum(CAST(b.value AS BIGINT)) AS BIGINT)
             AS var_num
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="N10 3x3 local variance texture feature: integer-exact "
        "scaled numerator n*sum(v^2) - sum(v)^2, edge-clamped, one "
        "explode + one hash agg",
)
def img_local_var(spark, sf_dir):
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    px = _gen_pixels(spark)
    ex = px.select("t", "c", "z", "y", "x",
                   F.col("value").cast("long").alias("v"),
                   F.explode(offsets).alias("o"))
    ny = (F.col("y") + F.col("o.dy")).alias("y")
    nx = (F.col("x") + F.col("o.dx")).alias("x")
    return (ex.select("t", "c", "z", ny, nx, "v")
            .filter((F.col("y") >= 0) & (F.col("y") < Y)
                    & (F.col("x") >= 0) & (F.col("x") < X))
            .groupBy("t", "c", "z", "y", "x")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 (F.count(F.lit(1)) * F.sum(F.col("v") * F.col("v"))
                  - F.sum("v") * F.sum("v")).cast("bigint")
                 .alias("var_num"))
            .orderBy("t", "c", "z", "y", "x"))


@register(
    "img_opening",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    er AS (
      SELECT a.t, a.c, a.z, a.y, a.x, min(b.value) AS value
      FROM px a JOIN px b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      GROUP BY a.t, a.c, a.z, a.y, a.x)
    SELECT a.t, a.c, a.z, a.y, a.x, max(b.value) AS value
    FROM er a JOIN er b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="N11 morphological opening (3x3 erosion then dilation): two "
        "chained contribution-explode stencils on the same target "
        "key — the speckle-noise remover of the segmentation family",
)
def img_opening(spark, sf_dir):
    from bioio_spark.operators.stencil import morph_pixels

    eroded = morph_pixels(_gen_pixels(spark), Y, X, op="min")
    return (morph_pixels(eroded, Y, X, op="max")
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# N12 Otsu auto-threshold: the classic histogram-based segmentation
# threshold (maximize between-class variance). Everything runs over
# the bounded VALUE HISTOGRAM (the hist-eq/l11 pattern — never a
# window over pixels): cumulative class counts/sums per plane, the
# between-class objective (s0*n1 - s1*n0)^2 / (n0*n1) computed from
# exact integer inputs (same IEEE ops both engines), argmax with the
# threshold value as the pinned tiebreak.
# --------------------------------------------------------------------------
@register(
    "img_otsu",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    h AS (SELECT t, c, z, value, count(*) AS cnt
          FROM px GROUP BY t, c, z, value),
    cum AS (
      SELECT t, c, z, value, cnt,
             sum(cnt) OVER w AS n0,
             sum(cnt * value) OVER w AS s0,
             sum(cnt) OVER p AS n_tot,
             sum(cnt * value) OVER p AS s_tot
      FROM h
      WINDOW w AS (PARTITION BY t, c, z ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             p AS (PARTITION BY t, c, z)),
    scored AS (
      SELECT t, c, z, value,
             CAST(n0 AS BIGINT) AS n0,
             CAST(n_tot - n0 AS BIGINT) AS n1,
             CASE WHEN n0 > 0 AND n_tot - n0 > 0 THEN
               (s0 * (n_tot - n0) - (s_tot - s0) * n0)
               * (s0 * (n_tot - n0) - (s_tot - s0) * n0)
               / (n0 * (n_tot - n0)) ELSE -1.0 END AS obj
      FROM cum),
    best AS (
      SELECT t, c, z, value, n0, n1,
             row_number() OVER (PARTITION BY t, c, z
                                ORDER BY obj DESC, value ASC) AS rn
      FROM scored)
    SELECT t, c, z, value AS threshold, n0 AS n_bg, n1 AS n_fg
    FROM best WHERE rn = 1 ORDER BY t, c, z
    """,
    doc="N12 Otsu auto-threshold: between-class-variance argmax over "
        "the bounded per-plane value histogram (never a pixel "
        "window), integer-exact inputs, pinned tiebreak",
)
def img_otsu(spark, sf_dir):
    from pyspark.sql import Window as W

    h = (_gen_pixels(spark)
         .groupBy("t", "c", "z", "value")
         .agg(F.count(F.lit(1)).alias("cnt")))
    w = (W.partitionBy("t", "c", "z").orderBy("value")
         .rowsBetween(W.unboundedPreceding, 0))
    p = W.partitionBy("t", "c", "z")
    cum = (h.withColumn("n0", F.sum("cnt").over(w))
           .withColumn("s0", F.sum(F.col("cnt") * F.col("value"))
                       .over(w))
           .withColumn("n_tot", F.sum("cnt").over(p))
           .withColumn("s_tot", F.sum(F.col("cnt") * F.col("value"))
                       .over(p)))
    n1 = F.col("n_tot") - F.col("n0")
    s1 = F.col("s_tot") - F.col("s0")
    d = F.col("s0") * n1 - s1 * F.col("n0")
    obj = (F.when((F.col("n0") > 0) & (n1 > 0),
                  d * d / (F.col("n0") * n1))
           .otherwise(F.lit(-1.0)))
    scored = cum.select("t", "c", "z", "value",
                        F.col("n0").cast("bigint").alias("n0"),
                        n1.cast("bigint").alias("n1"),
                        obj.alias("obj"))
    rn = F.row_number().over(
        W.partitionBy("t", "c", "z")
        .orderBy(F.desc("obj"), F.asc("value")))
    return (scored.withColumn("rn", rn).filter(F.col("rn") == 1)
            .select("t", "c", "z",
                    F.col("value").alias("threshold"),
                    F.col("n0").alias("n_bg"),
                    F.col("n1").alias("n_fg"))
            .orderBy("t", "c", "z"))


# --------------------------------------------------------------------------
# N13 region properties — the MEASUREMENT stage after labeling (the
# scipy.ndimage/skimage regionprops analog): per component, pixel
# area, bounding box, and centroid NUMERATORS (integer sums — the
# division is presentation, so the contract stays integer-exact).
# One decompose projection + one component-keyed partial agg on top
# of the CC output.
# --------------------------------------------------------------------------
@register(
    "img_regionprops",
    oracle=f"""
    WITH base AS ({_cc_oracle()}),
    d AS (
      SELECT component,
             node // {Y * X} AS p,
             (node % {Y * X}) // {X} AS y,
             node % {X} AS x
      FROM base)
    SELECT component,
           CAST(max(p // {C * Z}) AS INTEGER) AS t,
           CAST(max((p // {Z}) % {C}) AS INTEGER) AS c,
           CAST(max(p % {Z}) AS INTEGER) AS z,
           CAST(count(*) AS BIGINT) AS area,
           CAST(min(y) AS INTEGER) AS y_min,
           CAST(max(y) AS INTEGER) AS y_max,
           CAST(min(x) AS INTEGER) AS x_min,
           CAST(max(x) AS INTEGER) AS x_max,
           CAST(sum(y) AS BIGINT) AS sum_y,
           CAST(sum(x) AS BIGINT) AS sum_x
    FROM d GROUP BY component ORDER BY component
    """,
    doc="N13 region properties (regionprops analog): per-component "
        "area, bbox, centroid numerators — one component-keyed "
        "partial agg over the CC labels; components never span "
        "planes, so the plane ids are constant per group",
)
def img_regionprops(spark, sf_dir):
    from bioio_spark.operators.labeling import label_mask_components

    cc = label_mask_components(_cc_mask(spark),
                               approx_size=T * C * Z * Y * X)
    p = (F.col("node") / (Y * X)).cast("long")
    y = ((F.col("node") % (Y * X)) / X).cast("long")
    x = (F.col("node") % X).cast("long")
    d = cc.select("component", p.alias("p"), y.alias("y"),
                  x.alias("x"))
    return (d.groupBy("component")
            .agg(F.max((F.col("p") / (C * Z)).cast("long"))
                 .cast("int").alias("t"),
                 F.max(((F.col("p") / Z).cast("long")) % C)
                 .cast("int").alias("c"),
                 F.max(F.col("p") % Z).cast("int").alias("z"),
                 F.count(F.lit(1)).cast("bigint").alias("area"),
                 F.min("y").cast("int").alias("y_min"),
                 F.max("y").cast("int").alias("y_max"),
                 F.min("x").cast("int").alias("x_min"),
                 F.max("x").cast("int").alias("x_max"),
                 F.sum("y").cast("bigint").alias("sum_y"),
                 F.sum("x").cast("bigint").alias("sum_x"))
            .orderBy("component"))


# --------------------------------------------------------------------------
# N14: wide box filter through the integral image — the O(1)-per-pixel
# wide-stencil path. A 7x7 (R=3) box through the explode-halo stencils
# ships 49 contributions per pixel and grows with R^2; through the SAT it
# is exactly FOUR corner lookups whatever the radius — the shuffle volume
# is radius-free. The ORACLE is the brute-force neighborhood sum (a range
# self-join), deliberately NOT a SAT recomputation: the two
# implementations are independent, so the hash pins the corner algebra
# (clips, -1 offsets, sign pattern) against ground truth.
# --------------------------------------------------------------------------
_BOX_R = 3


@register(
    "img_box_integral",
    oracle=f"""
    WITH px AS ({_GEN_SQL})
    SELECT a.t, a.c, a.z, a.y, a.x,
           CAST(sum(b.value) AS BIGINT) AS box_sum
    FROM px a JOIN px b
      ON a.t = b.t AND a.c = b.c AND a.z = b.z
     AND b.y BETWEEN a.y - {_BOX_R} AND a.y + {_BOX_R}
     AND b.x BETWEEN a.x - {_BOX_R} AND a.x + {_BOX_R}
    GROUP BY a.t, a.c, a.z, a.y, a.x
    ORDER BY a.t, a.c, a.z, a.y, a.x
    """,
    doc="N14 wide box sum (7x7) via summed-area-table corner algebra — "
        "4 lookups per pixel, radius-free shuffle; oracle is the "
        "independent brute-force neighborhood sum",
)
def img_box_integral(spark, sf_dir):
    from bioio_spark.operators.intensity import box_sum_integral

    return box_sum_integral(_gen_pixels(spark), radius=_BOX_R)


# --------------------------------------------------------------------------
# img_flatfield: illumination / flat-field correction across a plate —
# the CellProfiler-style batch op a microscopy pipeline runs over EVERY
# acquisition before quantification: estimate the per-position
# illumination field as the mean over all T acquisitions at each
# (c, z, y, x), then rescale every pixel by global_mean / field_mean.
# Integer-exact: gain_milli = (gsum * fcnt * 1000) DIV (fsum * gcnt)
# over bigint sums, corrected = v * gain_milli — no floats anywhere.
# Scale: one partial-combining aggregate keyed on pixel POSITION (the
# field frame is one image per channel — broadcast by construction),
# one tiny per-channel aggregate, correction is a codegen projection
# after a broadcast join. 100 TB plates run the identical plan: the
# field estimate never exceeds image size whatever T is.
# --------------------------------------------------------------------------
@register(
    "img_flatfield",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v AS (SELECT t, c, z, y, x, CAST(value AS BIGINT) AS v FROM px),
    fld AS (
      SELECT c, z, y, x, sum(v) AS fsum, count(*) AS fcnt
      FROM v GROUP BY c, z, y, x),
    gl AS (SELECT c, sum(v) AS gsum, count(*) AS gcnt
           FROM v GROUP BY c),
    gain AS (
      SELECT fld.c, z, y, x,
             CAST(CASE WHEN fsum = 0 THEN 1000
                  ELSE (gsum * fcnt * 1000) // (fsum * gcnt)
                  END AS BIGINT) AS gain_milli
      FROM fld JOIN gl ON gl.c = fld.c)
    SELECT v.t, v.c, v.z, v.y, v.x,
           CAST(v.v * g.gain_milli AS BIGINT) AS corrected_milli
    FROM v JOIN gain g
      ON g.c = v.c AND g.z = v.z AND g.y = v.y AND g.x = v.x
    ORDER BY v.t, v.c, v.z, v.y, v.x
    """,
    doc="img_flatfield plate illumination correction: per-position "
        "field mean over T acquisitions, integer-exact milli-gain "
        "rescale, broadcast field join (CellProfiler's illumination "
        "correction as one Spark plan)",
)
def img_flatfield(spark, sf_dir):
    px = _gen_pixels(spark).withColumn(
        "v", F.col("value").cast("bigint"))
    fld = (px.groupBy("c", "z", "y", "x")
           .agg(F.sum("v").alias("fsum"),
                F.count(F.lit(1)).alias("fcnt")))
    glob = (px.groupBy("c")
            .agg(F.sum("v").alias("gsum"),
                 F.count(F.lit(1)).alias("gcnt")))
    gain = (fld.join(F.broadcast(glob), "c")
            .select("c", "z", "y", "x",
                    F.expr("CASE WHEN fsum = 0 THEN 1000 ELSE "
                           "(gsum * fcnt * 1000) DIV (fsum * gcnt) "
                           "END").cast("bigint").alias("gain_milli")))
    return (px.join(F.broadcast(gain), ["c", "z", "y", "x"])
            .select("t", "c", "z", "y", "x",
                    (F.col("v") * F.col("gain_milli"))
                    .cast("bigint").alias("corrected_milli"))
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# img_focus_stack: extended-depth-of-field Z-projection — the microscopy
# composition that picks, per (t, c, y, x), the pixel from the SHARPEST
# z-slice, sharpness measured as 3x3 local variance (the N10 integer
# numerator: n*sum(v^2) - sum(v)^2, edge-clamped; n depends only on
# (y, x), so comparing the numerator across z at a fixed position is
# exact). Tie -> lowest z (deterministic, oracle-mirrored). Pixel
# content is the nonlinear v = value^2 % 251 ramp so focus genuinely
# varies by slice. Scale: one neighborhood explode + hash agg (the N1
# stencil shape), one per-position top-1 window (literal limit ->
# WindowGroupLimit: bounded per-group state, never a stack-wide sort),
# one position-keyed join back for the winning pixel.
# --------------------------------------------------------------------------
@register(
    "img_focus_stack",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v2 AS (SELECT t, c, z, y, x,
                  (CAST(value AS BIGINT) * CAST(value AS BIGINT)) % 251
                    AS v
           FROM px),
    sharp AS (
      SELECT a.t, a.c, a.z, a.y, a.x,
             CAST(count(*) * sum(b.v * b.v)
                  - sum(b.v) * sum(b.v) AS BIGINT) AS var_num
      FROM v2 a JOIN v2 b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      GROUP BY a.t, a.c, a.z, a.y, a.x),
    best AS (
      SELECT t, c, y, x, z, var_num,
             row_number() OVER (PARTITION BY t, c, y, x
                                ORDER BY var_num DESC, z) AS rk
      FROM sharp)
    SELECT b.t, b.c, b.y, b.x,
           CAST(b.z AS INT) AS best_z, b.var_num,
           CAST(v2.v AS BIGINT) AS value
    FROM best b JOIN v2
      ON v2.t = b.t AND v2.c = b.c AND v2.z = b.z
     AND v2.y = b.y AND v2.x = b.x
    WHERE rk = 1
    ORDER BY b.t, b.c, b.y, b.x
    """,
    doc="img_focus_stack extended-depth-of-field Z-projection: per-"
        "position sharpest slice by integer 3x3 local-variance "
        "numerator, tie -> lowest z, winning pixel joined back",
)
def img_focus_stack(spark, sf_dir):
    from pyspark.sql import Window as W

    px = _gen_pixels(spark)
    v2 = px.select(
        "t", "c", "z", "y", "x",
        ((F.col("value").cast("long") * F.col("value").cast("long"))
         % 251).alias("v"))
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)])
    ex = v2.select("t", "c", "z", "y", "x", "v",
                   F.explode(offsets).alias("o"))
    ny = (F.col("y") + F.col("o.dy")).alias("y")
    nx = (F.col("x") + F.col("o.dx")).alias("x")
    sharp = (ex.select("t", "c", "z", ny, nx, "v")
             .filter((F.col("y") >= 0) & (F.col("y") < Y)
                     & (F.col("x") >= 0) & (F.col("x") < X))
             .groupBy("t", "c", "z", "y", "x")
             .agg((F.count(F.lit(1)) * F.sum(F.col("v") * F.col("v"))
                   - F.sum("v") * F.sum("v")).cast("bigint")
                  .alias("var_num")))
    rk = F.row_number().over(
        W.partitionBy("t", "c", "y", "x")
        .orderBy(F.col("var_num").desc(), F.col("z")))
    best = (sharp.withColumn("rk", rk).filter(F.col("rk") == 1)
            .select("t", "c", "y", "x",
                    F.col("z").cast("int").alias("best_z"),
                    "var_num"))
    v2j = v2.select(F.col("t").alias("jt"), F.col("c").alias("jc"),
                    F.col("z").alias("best_z"),
                    F.col("y").alias("jy"), F.col("x").alias("jx"),
                    "v")
    return (best.withColumnRenamed("t", "jt")
            .withColumnRenamed("c", "jc")
            .withColumnRenamed("y", "jy")
            .withColumnRenamed("x", "jx")
            .join(v2j, ["jt", "jc", "jy", "jx", "best_z"])
            .select(F.col("jt").alias("t"), F.col("jc").alias("c"),
                    F.col("jy").alias("y"), F.col("jx").alias("x"),
                    "best_z", "var_num",
                    F.col("v").cast("bigint").alias("value"))
            .orderBy("t", "c", "y", "x"))


# --------------------------------------------------------------------------
# img_colocalization: two-channel colocalization — the quantification a
# fluorescence-microscopy pipeline runs on every multi-channel plane
# (does signal in c0 spatially co-occur with c1?). Per (t, z) plane:
# the Pearson correlation's INTEGER pieces (num = n*Sxy - Sx*Sy,
# den_x = n*Sxx - Sx^2, den_y = n*Syy - Sy^2 — no sqrt, no floats: the
# caller divides; the pieces hash exactly) and the Manders M1/M2
# fractions as integer permille (signal in one channel overlapping
# above-threshold signal in the other). Scale: pixels pair by POSITION
# — one co-partitioned self-join on (t, z, y, x) (both sides shuffle
# once on the same key; at 100 TB the pixel table is already bucketed
# by plane so the join is co-located) + one per-plane partial-combining
# aggregate.
# --------------------------------------------------------------------------
_COLOC_THR = 60  # intensity threshold for the Manders overlap masks


@register(
    "img_colocalization",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v AS (SELECT t, c, z, y, x,
                 (CAST(value AS BIGINT) * CAST(value AS BIGINT)) % 251
                   AS v
          FROM px),
    pair AS (
      SELECT a.t, a.z, a.y, a.x, a.v AS v0, b.v AS v1
      FROM v a JOIN v b
        ON b.t = a.t AND b.z = a.z AND b.y = a.y AND b.x = a.x
       AND a.c = 0 AND b.c = 1)
    SELECT t, z,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * sum(v0 * v1) - sum(v0) * sum(v1) AS BIGINT)
             AS pearson_num,
           CAST(count(*) * sum(v0 * v0) - sum(v0) * sum(v0) AS BIGINT)
             AS pearson_den_x,
           CAST(count(*) * sum(v1 * v1) - sum(v1) * sum(v1) AS BIGINT)
             AS pearson_den_y,
           CAST(CASE WHEN sum(v0) = 0 THEN 1000
                ELSE sum(CASE WHEN v1 > {_COLOC_THR} THEN v0 ELSE 0 END)
                     * 1000 // sum(v0) END AS BIGINT) AS m1_permille,
           CAST(CASE WHEN sum(v1) = 0 THEN 1000
                ELSE sum(CASE WHEN v0 > {_COLOC_THR} THEN v1 ELSE 0 END)
                     * 1000 // sum(v1) END AS BIGINT) AS m2_permille
    FROM pair GROUP BY t, z ORDER BY t, z
    """,
    doc="img_colocalization two-channel Pearson (integer num/den "
        "pieces, no sqrt) + Manders M1/M2 permille per (t, z) plane — "
        "position-keyed channel pairing, one co-partitioned join + one "
        "plane agg",
)
def img_colocalization(spark, sf_dir):
    px = _gen_pixels(spark)
    v = px.select(
        "t", "c", "z", "y", "x",
        ((F.col("value").cast("long") * F.col("value").cast("long"))
         % 251).alias("v"))
    c0 = (v.filter(F.col("c") == 0)
          .select("t", "z", "y", "x", F.col("v").alias("v0")))
    c1 = (v.filter(F.col("c") == 1)
          .select("t", "z", "y", "x", F.col("v").alias("v1")))
    pair = c0.join(c1, ["t", "z", "y", "x"])
    n = F.count(F.lit(1))
    return (pair.groupBy("t", "z")
            .agg(n.cast("bigint").alias("n"),
                 (n * F.sum(F.col("v0") * F.col("v1"))
                  - F.sum("v0") * F.sum("v1")).cast("bigint")
                 .alias("pearson_num"),
                 (n * F.sum(F.col("v0") * F.col("v0"))
                  - F.sum("v0") * F.sum("v0")).cast("bigint")
                 .alias("pearson_den_x"),
                 (n * F.sum(F.col("v1") * F.col("v1"))
                  - F.sum("v1") * F.sum("v1")).cast("bigint")
                 .alias("pearson_den_y"),
                 # zero guard mirrors flatfield's fsum = 0 clause: an
                 # all-zero channel plane means "everything overlaps" —
                 # 1000 permille in both engines (DuckDB // would error,
                 # Spark DIV would NULL; neither is a result)
                 F.expr(f"CASE WHEN sum(v0) = 0 THEN 1000 ELSE "
                        f"sum(CASE WHEN v1 > {_COLOC_THR} THEN v0 "
                        f"ELSE 0 END) * 1000 DIV sum(v0) END")
                 .cast("bigint").alias("m1_permille"),
                 F.expr(f"CASE WHEN sum(v1) = 0 THEN 1000 ELSE "
                        f"sum(CASE WHEN v0 > {_COLOC_THR} THEN v1 "
                        f"ELSE 0 END) * 1000 DIV sum(v1) END")
                 .cast("bigint").alias("m2_permille"))
            .orderBy("t", "z"))


# --------------------------------------------------------------------------
# img_tophat: white top-hat transform — value minus its morphological
# opening, the standard uneven-illumination background subtraction for
# spot/puncta detection (N11's composition extended one step). The
# residual keeps structures SMALLER than the structuring element and
# zeroes the smooth background. Same scale shape as N11: two chained
# contribution explodes + the position-keyed join back to the original
# (all three stages share the plane/position key, so the join is
# co-partitioned with the agg output).
# --------------------------------------------------------------------------
@register(
    "img_tophat",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    er AS (
      SELECT a.t, a.c, a.z, a.y, a.x, min(b.value) AS value
      FROM px a JOIN px b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      GROUP BY a.t, a.c, a.z, a.y, a.x),
    op AS (
      SELECT a.t, a.c, a.z, a.y, a.x, max(b.value) AS value
      FROM er a JOIN er b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
      GROUP BY a.t, a.c, a.z, a.y, a.x)
    SELECT px.t, px.c, px.z, px.y, px.x,
           CAST(px.value - op.value AS BIGINT) AS tophat
    FROM px JOIN op ON op.t = px.t AND op.c = px.c AND op.z = px.z
                   AND op.y = px.y AND op.x = px.x
    ORDER BY px.t, px.c, px.z, px.y, px.x
    """,
    doc="img_tophat white top-hat (value - opening): background "
        "subtraction for spot detection — N11's erosion->dilation "
        "chain + one co-partitioned join back, integer-exact residual",
)
def img_tophat(spark, sf_dir):
    from bioio_spark.operators.stencil import morph_pixels

    px = _gen_pixels(spark)
    opened = morph_pixels(morph_pixels(px, Y, X, op="min"),
                          Y, X, op="max")
    op = opened.select("t", "c", "z", "y", "x",
                       F.col("value").alias("op_v"))
    return (px.join(op, ["t", "c", "z", "y", "x"])
            .select("t", "c", "z", "y", "x",
                    (F.col("value") - F.col("op_v")).cast("bigint")
                    .alias("tophat"))
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# §2.9 pandas_udf surface: the two Arrow-vectorized UDF flavors the UDF
# inventory declares but no other query exercises — a SCALAR pandas_udf
# (Arrow-batched projection; here the same nonlinear v^2 % 251 ramp the
# stencil fixtures use, computed in numpy on whole batches) and a
# GROUPED_AGG pandas_udf (AggregateInPandas: per-(t, c) integer sum over
# the scalar UDF's output). The oracle recomputes both stages in SQL, so
# the Arrow transfer, batch slicing, and the aggregate buffer semantics
# are all inside the value hash. Scale: scalar pandas_udfs process
# Arrow batches (never rows); the grouped agg ships one partial buffer
# per group per partition — same shuffle discipline as a JVM aggregate,
# with the Python worker cost paid once per batch.
# --------------------------------------------------------------------------
@register(
    "img_pandas_udf_stats",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v2 AS (SELECT t, c,
                  (CAST(value AS BIGINT) * CAST(value AS BIGINT)) % 251
                    AS v
           FROM px)
    SELECT t, c, CAST(sum(v) AS BIGINT) AS sum_v,
           CAST(count(*) AS BIGINT) AS n_px,
           CAST(max(v) AS BIGINT) AS max_v
    FROM v2 GROUP BY t, c ORDER BY t, c
    """,
    doc="§2.9 pandas_udf surface: scalar Arrow-vectorized projection "
        "(v^2 % 251 in numpy batches) + GROUPED_AGG pandas_udf sum "
        "per (t, c), both value-checked end to end",
)
def img_pandas_udf_stats(spark, sf_dir):
    from bioio_spark.functions.arrow_udfs import (int_count, int_max,
                                                  int_sum,
                                                  nonlinear_ramp)

    px = _gen_pixels(spark).withColumn(
        "v", nonlinear_ramp(F.col("value").cast("long")))
    return (px.groupBy("t", "c")
            .agg(int_sum(F.col("v")).alias("sum_v"),
                 int_count(F.col("v")).alias("n_px"),
                 int_max(F.col("v")).alias("max_v"))
            .orderBy("t", "c"))


# --------------------------------------------------------------------------
# img_drift_correction: stage-drift estimation between consecutive
# timepoints — the registration pass a long time-lapse runs before any
# per-cell tracking: for each (t -> t+1, c, z) pair, the translation
# (dy, dx) in a bounded +-2 search window maximizing the INTEGER
# cross-correlation sum(a(y,x) * b(y+dy, x+dx)) over the valid overlap
# (out-of-bounds taps drop out of the position join naturally). Tie ->
# smallest (dy, dx). Unnormalized correlation over the bounded window
# is the classic exhaustive block-matching estimator; content is the
# nonlinear v^2 % 251 ramp so the optimum is data-driven. Scale: one
# 25-way contribution explode + one position-keyed equi-join + one
# partial-combining agg per (pair, shift) — the N1 stencil shape with
# the shift as an extra key; argmax is a WindowGroupLimit top-1 over 25
# rows per pair.
# --------------------------------------------------------------------------
_DRIFT_R = 2  # search radius in pixels


@register(
    "img_drift_correction",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v AS (SELECT t, c, z, y, x,
                 (CAST(value AS BIGINT) * CAST(value AS BIGINT)) % 251
                   AS v
          FROM px),
    sh AS (SELECT dy.i - {_DRIFT_R} AS dy, dx.i - {_DRIFT_R} AS dx
           FROM range({2 * _DRIFT_R + 1}) dy(i),
                range({2 * _DRIFT_R + 1}) dx(i)),
    corr AS (
      SELECT a.t, a.c, a.z, s.dy, s.dx, sum(a.v * b.v) AS corr
      FROM v a CROSS JOIN sh s
      JOIN v b ON b.t = a.t + 1 AND b.c = a.c AND b.z = a.z
              AND b.y = a.y + s.dy AND b.x = a.x + s.dx
      WHERE a.t < {T - 1}
      GROUP BY a.t, a.c, a.z, s.dy, s.dx),
    best AS (
      SELECT t, c, z, dy, dx, corr,
             row_number() OVER (PARTITION BY t, c, z
                                ORDER BY corr DESC, dy, dx) AS rk
      FROM corr)
    SELECT t, c, z, CAST(dy AS INT) AS best_dy,
           CAST(dx AS INT) AS best_dx, CAST(corr AS BIGINT) AS corr
    FROM best WHERE rk = 1 ORDER BY t, c, z
    """,
    doc="img_drift_correction time-lapse registration: bounded +-2 "
        "exhaustive block matching by integer cross-correlation per "
        "(t->t+1, c, z), tie -> smallest shift — contribution explode "
        "+ position join + WindowGroupLimit argmax",
)
def img_drift_correction(spark, sf_dir):
    from bioio_spark.operators.registration import estimate_drift

    px = _gen_pixels(spark)
    v = px.select("t", "c", "z", "y", "x",
                  ((F.col("value").cast("long")
                    * F.col("value").cast("long")) % 251).alias("v"))
    return estimate_drift(v, radius=_DRIFT_R)


# --------------------------------------------------------------------------
# img_maxima: strict 3x3 local-maxima detection — the spot/seed finder
# that follows top-hat background subtraction in a puncta pipeline: a
# pixel is a maximum iff it strictly exceeds EVERY in-bounds neighbor
# (edge pixels compare against their smaller neighborhoods). Same
# contribution-explode shape as N1-N5: one explode shuffles neighbor
# values onto the center key, one hash agg takes the neighbor max, a
# codegen filter keeps strict winners. Content is the nonlinear
# v^2 % 251 ramp so maxima are data-driven.
# --------------------------------------------------------------------------
@register(
    "img_maxima",
    oracle=f"""
    WITH px AS ({_GEN_SQL}),
    v2 AS (SELECT t, c, z, y, x,
                  (CAST(value AS BIGINT) * CAST(value AS BIGINT)) % 251
                    AS v
           FROM px),
    nmax AS (
      SELECT a.t, a.c, a.z, a.y, a.x, max(b.v) AS nmax
      FROM v2 a JOIN v2 b
        ON a.t = b.t AND a.c = b.c AND a.z = b.z
       AND abs(a.y - b.y) <= 1 AND abs(a.x - b.x) <= 1
       AND NOT (a.y = b.y AND a.x = b.x)
      GROUP BY a.t, a.c, a.z, a.y, a.x)
    SELECT v2.t, v2.c, v2.z, v2.y, v2.x, v2.v
    FROM v2 JOIN nmax ON nmax.t = v2.t AND nmax.c = v2.c
                     AND nmax.z = v2.z AND nmax.y = v2.y
                     AND nmax.x = v2.x
    WHERE v2.v > nmax.nmax
    ORDER BY v2.t, v2.c, v2.z, v2.y, v2.x
    """,
    doc="img_maxima strict 3x3 local-maxima (spot seeds after "
        "top-hat): neighbor-max via contribution explode + hash agg, "
        "strict codegen filter, edge-clamped neighborhoods",
)
def img_maxima(spark, sf_dir):
    px = _gen_pixels(spark)
    v2 = px.select(
        "t", "c", "z", "y", "x",
        ((F.col("value").cast("long") * F.col("value").cast("long"))
         % 251).alias("v"))
    offsets = F.array(*[
        F.struct(F.lit(dy).alias("dy"), F.lit(dx).alias("dx"))
        for dy in (-1, 0, 1) for dx in (-1, 0, 1)
        if not (dy == 0 and dx == 0)])
    ex = v2.select("t", "c", "z", "y", "x", "v",
                   F.explode(offsets).alias("o"))
    ny = (F.col("y") + F.col("o.dy")).alias("y")
    nx = (F.col("x") + F.col("o.dx")).alias("x")
    nmax = (ex.select("t", "c", "z", ny, nx, "v")
            .filter((F.col("y") >= 0) & (F.col("y") < Y)
                    & (F.col("x") >= 0) & (F.col("x") < X))
            .groupBy("t", "c", "z", "y", "x")
            .agg(F.max("v").alias("nmax")))
    return (v2.join(nmax, ["t", "c", "z", "y", "x"])
            .filter(F.col("v") > F.col("nmax"))
            .select("t", "c", "z", "y", "x", "v")
            .orderBy("t", "c", "z", "y", "x"))


# --------------------------------------------------------------------------
# img_tracking: nearest-centroid object linking across timepoints — the
# frame-to-frame association step of every time-lapse tracker (threshold
# -> label -> measure -> LINK): for each labeled component at t, the
# component at t+1 in the same (c, z) plane with the minimum squared
# integer distance between FLOOR centroids (sum DIV area — exact
# integers both engines), tie -> lowest target component id. Composes
# the CC labeling + regionprops tiers end to end. Scale: per-plane
# candidate pairing is an equi-join on the (t+1, c, z) key, bounded by
# objects-per-frame^2 (the classic linking cost, frame-local, never
# corpus-wide); argmin is a WindowGroupLimit top-1 per source object.
# --------------------------------------------------------------------------
@register(
    "img_tracking",
    oracle=f"""
    WITH base AS ({_cc_oracle()}),
    d AS (
      SELECT component,
             node // {Y * X} AS p,
             (node % {Y * X}) // {X} AS y,
             node % {X} AS x
      FROM base),
    props AS (
      SELECT component,
             max(p // {C * Z}) AS t,
             max((p // {Z}) % {C}) AS c,
             max(p % {Z}) AS z,
             sum(y) // count(*) AS cy,
             sum(x) // count(*) AS cx
      FROM d GROUP BY component),
    link AS (
      SELECT a.t, a.c, a.z, a.component AS comp_a,
             b.component AS comp_b,
             (a.cy - b.cy) * (a.cy - b.cy)
             + (a.cx - b.cx) * (a.cx - b.cx) AS d2,
             row_number() OVER (
               PARTITION BY a.component
               ORDER BY (a.cy - b.cy) * (a.cy - b.cy)
                        + (a.cx - b.cx) * (a.cx - b.cx),
                        b.component) AS rk
      FROM props a JOIN props b
        ON b.t = a.t + 1 AND b.c = a.c AND b.z = a.z)
    SELECT CAST(t AS INT) AS t, CAST(c AS INT) AS c,
           CAST(z AS INT) AS z,
           CAST(comp_a AS BIGINT) AS comp_a,
           CAST(comp_b AS BIGINT) AS comp_b,
           CAST(d2 AS BIGINT) AS d2
    FROM link WHERE rk = 1 ORDER BY t, c, z, comp_a
    """,
    doc="img_tracking nearest-centroid object linking t -> t+1: CC "
        "labels -> floor centroids -> per-plane candidate join -> "
        "WindowGroupLimit argmin with lowest-target tie rule — the "
        "threshold/label/measure/LINK time-lapse composition",
)
def img_tracking(spark, sf_dir):
    from pyspark.sql import Window as W

    from bioio_spark.operators.labeling import label_mask_components

    cc = label_mask_components(_cc_mask(spark),
                               approx_size=T * C * Z * Y * X)
    p = (F.col("node") / (Y * X)).cast("long")
    y = ((F.col("node") % (Y * X)) / X).cast("long")
    x = (F.col("node") % X).cast("long")
    d = cc.select("component", p.alias("p"), y.alias("y"), x.alias("x"))
    props = (d.groupBy("component")
             .agg(F.max((F.col("p") / (C * Z)).cast("long")).alias("t"),
                  F.max(((F.col("p") / Z).cast("long")) % C).alias("c"),
                  F.max(F.col("p") % Z).alias("z"),
                  F.expr("sum(y) DIV count(*)").alias("cy"),
                  F.expr("sum(x) DIV count(*)").alias("cx")))
    a = props.select(F.col("component").alias("comp_a"),
                     (F.col("t") + 1).alias("tn"), "c", "z",
                     F.col("cy").alias("cya"), F.col("cx").alias("cxa"),
                     F.col("t"))
    b = props.select(F.col("component").alias("comp_b"),
                     F.col("t").alias("tn"), "c", "z",
                     F.col("cy").alias("cyb"), F.col("cx").alias("cxb"))
    d2 = ((F.col("cya") - F.col("cyb")) * (F.col("cya") - F.col("cyb"))
          + (F.col("cxa") - F.col("cxb"))
          * (F.col("cxa") - F.col("cxb")))
    rk = F.row_number().over(
        W.partitionBy("comp_a").orderBy(F.col("d2"), F.col("comp_b")))
    return (a.join(b, ["tn", "c", "z"])
            .withColumn("d2", d2)
            .withColumn("rk", rk).filter(F.col("rk") == 1)
            .select(F.col("t").cast("int").alias("t"),
                    F.col("c").cast("int").alias("c"),
                    F.col("z").cast("int").alias("z"),
                    F.col("comp_a").cast("bigint").alias("comp_a"),
                    F.col("comp_b").cast("bigint").alias("comp_b"),
                    F.col("d2").cast("bigint").alias("d2"))
            .orderBy("t", "c", "z", "comp_a"))
