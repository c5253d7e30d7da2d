"""PerkinElmer/Akoya QPTIFF (.qptiff) reader — native coverage for a
format the reference can only reach through the bioio-bioformats Java
bridge (ref README.md:74 routes .qptiff). Built on the in-repo TIFF
machinery plus the public QPI-XML page classification
(bioio_spark.formats.qptiff).

- **Axis model**: unlike SVS/NDPI the page grouping carries a REAL C
  axis — one page per fluorescence channel per level — so Image:0 is
  (C, Y, X) with res_levels; the RGB thumbnail is its own scene.
- **Catalog (driver-side)**: one IFD walk + XML parse; channel names
  from ``<Name>``. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, c,
  tile); zero shuffle, one ranged GET + tile decode per task.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (PlannedReader, norm_window,
                                         plan_pixels, tile_bytes, trim)


def _chunk_plan(path: str):
    from bioio_spark.formats.qptiff import read_qptiff_catalog

    cat = read_qptiff_catalog(path)
    ap = os.path.abspath(path)
    plan = []

    def add_page(pg, scene, level, c):
        for ch in pg["chunks"]:
            plan.append({
                "path": ap, "scene": scene, "res_level": level,
                "c": c,
                "offset": ch["offset"], "nbytes": ch["nbytes"],
                "y0": ch["y0"], "x0": ch["x0"],
                "ch": ch["h"], "cw": ch["w"],
                "page_h": pg["h"], "page_w": pg["w"],
                "dtype": pg["dtype"], "comp": pg["comp"],
                "spp": pg["spp"],
                "jpeg_tables": pg.get("jpeg_tables"),
            })

    for lv, grp in enumerate(cat["levels"]):
        for c, pg in enumerate(grp):
            add_page(pg, "Image:0", lv, c)
    extras = []
    if cat["thumbnail"] is not None:
        add_page(cat["thumbnail"], "Image:1", 0, 0)
        extras.append(("thumbnail", cat["thumbnail"], "Image:1"))
    return cat, extras, plan


def _decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from bioio_spark.formats.tiff import (_decode_jpeg_chunk,
                                          decompress_tiff_chunk)

    for pdf in it:
        for r in pdf.itertuples():
            payload = read_range(r.path, r.offset, r.nbytes)
            dt = np.dtype(r.dtype)
            if r.comp == 7:
                tables = (bytes(r.jpeg_tables)
                          if r.jpeg_tables is not None else None)
                block = _decode_jpeg_chunk(payload, tables)
            else:
                raw = decompress_tiff_chunk(payload, r.comp)
                shape = (r.ch, r.cw, r.spp) if r.spp > 1 else \
                    (r.ch, r.cw)
                block = np.frombuffer(
                    raw, dtype=dt,
                    count=r.ch * r.cw * r.spp).reshape(shape)
            vh = min(r.ch, r.page_h - r.y0)
            vw = min(r.cw, r.page_w - r.x0)
            block = block[:vh, :vw]
            y_n, x_n = block.shape[:2]
            s_n = block.shape[2] if block.ndim == 3 else 1
            s_col = (np.full(block.size, -1, np.int32) if s_n == 1 else
                     np.tile(np.arange(s_n, dtype=np.int32), y_n * x_n))
            yield pd.DataFrame({
                "scene": r.scene,
                "res_level": np.full(block.size, r.res_level, np.int32),
                "c": np.full(block.size, r.c, np.int32),
                "y": np.repeat(np.arange(
                    r.y0, r.y0 + y_n, dtype=np.int32), x_n * s_n),
                "x": np.tile(np.repeat(np.arange(
                    r.x0, r.x0 + x_n, dtype=np.int32), s_n), y_n),
                "s": s_col,
                "value": block.ravel().astype(np.float64),
            })


def read_qptiff_window(spark: SparkSession, path: str,
                       c=None, y=None, x=None, level: int = 0):
    """Tile-pruned windowed read of the fluorescence pyramid: c prunes
    whole channel PAGES, the (y, x) window selects intersecting tiles
    of the requested level."""
    cat, _extras, plan = _chunk_plan(path)
    if not (0 <= level < len(cat["levels"])):
        raise IndexError(f"{path}: no pyramid level {level}")
    pg = cat["levels"][level][0]
    c0, c1 = norm_window(c, len(cat["channels"]))
    y0, y1 = norm_window(y, pg["h"])
    x0, x1 = norm_window(x, pg["w"])
    pruned = [r for r in plan
              if r["scene"] == "Image:0" and r["res_level"] == level
              and c0 <= r["c"] < c1
              and r["y0"] < y1 and r["y0"] + r["ch"] > y0
              and r["x0"] < x1 and r["x0"] + r["cw"] > x0]
    schema = ("scene string, res_level int, c int, y int, x int, "
              "s int, value double")
    if not pruned:
        return spark.createDataFrame([], schema)
    px = plan_pixels(spark, pruned, _decode_batches, schema=schema,
                     nbytes=tile_bytes(pruned))
    return trim(px, y=(y0, y1), x=(x0, x1)).drop("scene", "res_level", "s")


class QptiffImageReader(PlannedReader):
    """BioImage reader over Vectra QPTIFF multiplexed slides."""

    EXTENSIONS = (".qptiff",)
    DIM_ORDER_ERROR = ("QPTIFF channels come from the page grouping; "
                       "dim_order is fixed")

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.qptiff import read_qptiff_catalog

        return read_qptiff_catalog(path)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)

        cat, extras, plan = _chunk_plan(self._path)
        pps = self._pps
        pg0 = cat["levels"][0][0]
        c_n = len(cat["channels"])
        channels = channel_rows(
            self._image_id, "Image:0",
            resolve_channel_names(self._channel_names or cat["channels"],
                                  c_n, 0))
        scenes = [scene_row(
            self._image_id, "Image:0", 0, pg0["dtype"],
            dict(T=1, C=c_n, Z=1, Y=pg0["h"], X=pg0["w"]), pps=pps,
            metadata="QPTIFF multiplexed slide",
            res_levels=list(range(len(cat["levels"]))))]
        for kind, pg, scene in extras:
            spp = pg["spp"]
            channels += channel_rows(self._image_id, scene, [f"{kind}:0"])
            scenes.append(scene_row(
                self._image_id, scene, int(scene.split(":")[1]),
                pg["dtype"],
                dict(T=1, C=1, Z=1, Y=pg["h"], X=pg["w"],
                     S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX",
                metadata=f"QPTIFF {kind}", res_levels=[0]))

        px = (plan_pixels(
                  spark, plan, _decode_batches, nbytes=tile_bytes(plan),
                  schema="scene string, res_level int, c int, y int, "
                         "x int, s int, value double")
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  "res_level",
                  F.lit(0).alias("t"), "c", F.lit(0).alias("z"),
                  "y", "x",
                  F.lit(-1).alias("m"), "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
