"""Hamamatsu NDPI (.ndpi) whole-slide reader — native coverage for a
format the reference can only reach through the bioio-bioformats Java
bridge (ref README.md:74 routes .ndpi). Built on the in-repo TIFF
machinery plus the public SourceLens classification
(bioio_spark.formats.ndpi); decode path shared with the SVS reader
(striped/tiled chunk seek-reads, gray or RGB).

- **Scenes**: Image:0 is the pyramid (SourceLens>0 pages as
  res_levels); the SourceLens=-1 macro and -2 map pages follow as
  their own scenes.
- **Catalog (driver-side)**: one IFD walk; XResolution (cm unit) ->
  physical pixel size. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, strip);
  zero shuffle, one ranged GET per strip at object-store scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import (PlannedReader, plan_pixels,
                                         tile_bytes)
from bioio_spark.sources.svs_image import _decode_batches


def _chunk_plan(path: str):
    from bioio_spark.formats.ndpi import read_ndpi_catalog

    cat = read_ndpi_catalog(path)
    ap = os.path.abspath(path)
    plan = []

    def add_page(pg, scene, level):
        for ch in pg["chunks"]:
            plan.append({
                "path": ap, "scene": scene, "res_level": level,
                "offset": ch["offset"], "nbytes": ch["nbytes"],
                "y0": ch["y0"], "x0": ch["x0"],
                "ch": ch["h"], "cw": ch["w"],
                "page_h": pg["h"], "page_w": pg["w"],
                "dtype": pg["dtype"], "comp": pg["comp"],
                "spp": pg["spp"],
                "jpeg_tables": pg.get("jpeg_tables"),
            })

    for lv, pg in enumerate(cat["levels"]):
        add_page(pg, "Image:0", lv)
    si = 1
    extras = []
    for kind in ("macro", "map"):
        pg = cat[kind]
        if pg is not None:
            add_page(pg, f"Image:{si}", 0)
            extras.append((kind, pg, f"Image:{si}"))
            si += 1
    return cat, extras, plan


class NdpiImageReader(PlannedReader):
    """BioImage reader over Hamamatsu NDPI whole-slide files."""

    EXTENSIONS = (".ndpi",)
    DIM_ORDER_ERROR = ("NDPI is a 2D (optionally RGB) slide pyramid; "
                       "dim_order is fixed")

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.ndpi import read_ndpi_catalog

        return read_ndpi_catalog(path)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat, extras, plan = _chunk_plan(self._path)
        pps = self._pps
        if pps is None and cat["um_per_px"]:
            pps = PhysicalPixelSizes(Z=None, Y=cat["um_per_px"],
                                     X=cat["um_per_px"])

        scenes, channels = [], []

        def add_scene(si, pg, res_levels, kind):
            scene = f"Image:{si}"
            spp = pg["spp"]
            channels.extend(channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si)))
            scenes.append(scene_row(
                self._image_id, scene, si, pg["dtype"],
                dict(T=1, C=1, Z=1, Y=pg["h"], X=pg["w"],
                     S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX",
                pps=pps if si == 0 else None,
                metadata=f"NDPI {kind} SourceLens={cat['source_lens']}",
                res_levels=res_levels))

        add_scene(0, cat["levels"][0],
                  list(range(len(cat["levels"]))), "slide")
        for kind, pg, scene in extras:
            add_scene(int(scene.split(":")[1]), pg, [0], kind)

        px = (plan_pixels(
                  spark, plan, _decode_batches, nbytes=tile_bytes(plan),
                  schema="scene string, res_level int, y int, x int, "
                         "s int, value double")
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  "res_level",
                  F.lit(0).alias("t"), F.lit(0).alias("c"),
                  F.lit(0).alias("z"), "y", "x",
                  F.lit(-1).alias("m"), "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
