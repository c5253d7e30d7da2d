"""Olympus OIB (.oib) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .oib). An OIB is an MS-CFB compound document
holding the OIF payload (bioio_spark.formats.{cfb,oib}).

- **Catalog (driver-side)**: CFB directory walk + OibInfo map + the
  UTF-16 INI stream — no pixel IO (D8 contract).
- **Pixels (executor-side)**: each plane stream resolves to SECTOR
  EXTENTS (byte runs) at catalog time; the driver plans one row per
  plane carrying its extents, and a `mapInPandas` seek-reads exactly
  those runs and decodes the embedded TIFF — zero shuffle, and
  because the writer lays streams contiguously, each task is one
  ranged GET at object-store scale.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels, plane_frame,
                                         scene_bytes, standardize, trim)


def _read_extents(path: str, offsets, lengths) -> bytes:
    from bioio_spark.fsio import ranged_read

    return ranged_read(path, offsets, lengths)


def _plane_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from bioio_spark.formats.tiff import decode_tiff

    for pdf in it:
        for r in pdf.itertuples():
            planes, _desc = decode_tiff(
                _read_extents(r.path, r.offsets, r.lengths))
            yield plane_frame(planes[0], r.t, r.c, r.z)


def read_oib_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned OIB read: t/c/z prune whole plane STREAMS
    (driver-side grid arithmetic over the CFB catalog); the y/x trim
    is a codegen filter after the per-plane decode (plane streams are
    whole TIFFs, so the stream is the read granularity)."""
    cat = OibImageReader.catalog(path)
    t0, t1 = norm_window(t, cat["size_t"])
    c0, c1 = norm_window(c, cat["size_c"])
    z0, z1 = norm_window(z, cat["size_z"])
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    ap = os.path.abspath(path)
    plan = [{"path": ap, "t": ti, "c": ci, "z": zi,
             "offsets": [o for o, _ in ext],
             "lengths": [n for _, n in ext]}
            for (ti, ci, zi), ext in sorted(cat["planes"].items())
            if t0 <= ti < t1 and c0 <= ci < c1 and z0 <= zi < z1]
    if not plan:
        return empty_window(spark)
    # plane streams are uncompressed TIFFs: stored bytes ~ decoded
    return trim(plan_pixels(spark, plan, _plane_batches, WINDOW_SCHEMA,
                            nbytes=sum(map(sum, (r["lengths"]
                                                 for r in plan)))),
                y=(y0, y1), x=(x0, x1))


class OibImageReader(PlannedReader):
    """BioImage reader over Olympus OIB compound documents."""

    EXTENSIONS = (".oib",)
    DIM_ORDER_ERROR = "OIB axis sizes come from the embedded OIF INI"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.oib import read_oib_catalog

        return read_oib_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_oib_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.tiff import decode_tiff
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        names = self._channel_names or cat["channel_names"]
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(names, cat["size_c"], 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        # dtype from one plane stream's first KB (IFD-only decode would
        # need extents anyway; planes are small single-page TIFFs)
        first = next(iter(sorted(cat["planes"].items())))[1]
        head = _read_extents(os.path.abspath(self._path),
                             [o for o, _ in first],
                             [n for _, n in first])
        pl0, _ = decode_tiff(head)
        if pl0[0].shape != (cat["size_y"], cat["size_x"]):
            raise ValueError(
                f"{self._path}: plane streams are "
                f"{pl0[0].shape[1]}x{pl0[0].shape[0]}, INI says "
                f"{cat['size_x']}x{cat['size_y']}")
        scenes = [scene_row(
            self._image_id, scene, 0, pl0[0].dtype,
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps, time_interval=cat["time_interval"],
            metadata="OIB FLUOVIEW (MS-CFB container)")]
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "t": t, "c": c, "z": z,
                 "offsets": [o for o, _ in ext],
                 "lengths": [n for _, n in ext]}
                for (t, c, z), ext in sorted(cat["planes"].items())]
        px = standardize(
            plan_pixels(spark, plan, _plane_batches, WINDOW_SCHEMA,
                        nbytes=scene_bytes(scenes)),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
