"""Leica SCN (.scn) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .scn). Built on the in-repo TIFF machinery plus
the public SCN XML catalog (bioio_spark.formats.scn).

- **Scenes**: one per ``<image>`` in the collection XML (macro +
  acquired regions — the Bio-Formats series model); each scene's
  ``<dimension>`` entries give its res_levels and focal planes (Z).
- **Catalog (driver-side)**: IFD walk + XML parse only (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, z,
  tile); `mapInPandas` seek-reads + decodes exactly its tile — zero
  shuffle, one ranged GET per tile at object-store scale.
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
    from bioio_spark.formats.scn import read_scn_catalog

    cat = read_scn_catalog(path)
    ap = os.path.abspath(path)
    plan = []
    for si, im in enumerate(cat["images"]):
        scene = f"Image:{si}"
        for lv in im["levels"]:
            pg = lv["page"]
            for ch in pg["chunks"]:
                plan.append({
                    "path": ap, "scene": scene,
                    "res_level": lv["r"], "z": lv["z"],
                    "offset": ch["offset"], "nbytes": ch["nbytes"],
                    "y0": ch["y0"], "x0": ch["x0"],
                    "ch": ch["h"], "cw": ch["w"],
                    "page_h": pg["h"], "page_w": pg["w"],
                    "dtype": pg["dtype"], "comp": pg["comp"],
                    "spp": pg["spp"],
                    "jpeg_tables": pg.get("jpeg_tables"),
                })
    return cat, plan


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
                "z": np.full(block.size, r.z, np.int32),
                "y": np.repeat(np.arange(
                    r.y0, r.y0 + y_n, dtype=np.int32), x_n * s_n),
                "x": np.tile(np.repeat(np.arange(
                    r.x0, r.x0 + x_n, dtype=np.int32), s_n), y_n),
                "s": s_col,
                "value": block.ravel().astype(np.float64),
            })


def read_scn_window(spark: SparkSession, path: str, scene: int = 0,
                    z=None, y=None, x=None, level: int = 0):
    """Tile-pruned windowed read of one image's level: z prunes whole
    focal-plane pages, the (y, x) window selects intersecting tiles.
    Residual trim is a codegen filter."""
    cat, plan = _chunk_plan(path)
    if not (0 <= scene < len(cat["images"])):
        raise IndexError(f"{path}: no image {scene}")
    im = cat["images"][scene]
    lv0 = [lv for lv in im["levels"] if lv["r"] == level]
    if not lv0:
        raise IndexError(f"{path}: image {scene} has no level {level}")
    h, w = lv0[0]["size_y"], lv0[0]["size_x"]
    z0, z1 = norm_window(z, im["z_n"])
    y0, y1 = norm_window(y, h)
    x0, x1 = norm_window(x, w)
    key = f"Image:{scene}"
    pruned = [r for r in plan
              if r["scene"] == key and r["res_level"] == level
              and z0 <= r["z"] < z1
              and r["y0"] < y1 and r["y0"] + r["ch"] > y0
              and r["x0"] < x1 and r["x0"] + r["cw"] > x0]
    schema = ("scene string, res_level int, z int, y int, x int, "
              "s int, value double")
    if not pruned:
        return spark.createDataFrame([], schema)
    px = plan_pixels(spark, pruned, _decode_batches, schema=schema,
                     nbytes=tile_bytes(pruned))
    return trim(px, y=(y0, y1), x=(x0, x1)).drop("scene", "res_level")


class ScnImageReader(PlannedReader):
    """BioImage reader over Leica SCN slide collections."""

    EXTENSIONS = (".scn",)
    DIM_ORDER_ERROR = "SCN dimensions come from the collection XML"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.scn import read_scn_catalog

        return read_scn_catalog(path)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)

        cat, plan = _chunk_plan(self._path)
        pps = self._pps
        scenes, channels = [], []
        for si, im in enumerate(cat["images"]):
            scene = f"Image:{si}"
            pg0 = im["levels"][0]["page"]
            spp = pg0["spp"]
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            scenes.append(scene_row(
                self._image_id, scene, si, pg0["dtype"],
                dict(T=1, C=1, Z=im["z_n"], Y=im["size_y"],
                     X=im["size_x"], S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX", pps=pps,
                metadata=f"SCN image {im['name']}",
                res_levels=list(range(im["n_levels"]))))

        px = (plan_pixels(
                  spark, plan, _decode_batches, nbytes=tile_bytes(plan),
                  schema="scene string, res_level int, z int, y int, "
                         "x int, s int, value double")
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  "res_level",
                  F.lit(0).alias("t"), F.lit(0).alias("c"),
                  "z", "y", "x",
                  F.lit(-1).alias("m"), "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
