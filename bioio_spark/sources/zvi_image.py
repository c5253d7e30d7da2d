"""Zeiss ZVI (.zvi) reader — native coverage for a format the
reference reaches only through the bioio-bioformats Java bridge (ref
README.md:74 routes .zvi). A ZVI is an MS-CFB compound document whose
``Image/Item(N)`` storages hold per-plane VARIANT-tagged streams
(bioio_spark.formats.{cfb,zvi}).

- **Catalog (driver-side)**: CFB directory walk + per-item header
  prefixes + coordinate tag triples — no pixel IO (D8 contract).
- **Pixels (executor-side)**: each item's raw pixel payload resolves
  to SECTOR EXTENTS (byte runs) at catalog time; the driver plans one
  row per item carrying its extents and a `mapInPandas` seek-reads
  exactly those runs — raw bytes straight to ndarray (no entropy
  decode), zero shuffle, one ranged GET per contiguously-written
  stream at object-store scale. Interleaved BGR items de-interleave
  executor-side into R,G,B(,A) channel rows.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
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
    for pdf in it:
        for r in pdf.itertuples():
            raw = _read_extents(r.path, r.offsets, r.lengths)
            plane = np.frombuffer(raw, dtype=np.dtype(r.dtype))
            h, w, samples = int(r.h), int(r.w), int(r.samples)
            if samples > 1:
                block = plane.reshape(h, w, samples)
                for s in range(samples):
                    # BGR(A) -> RGB(A), offset into the item's OWN
                    # channel block (multi-channel BGR grids: item c
                    # owns channels c*samples .. c*samples+samples-1)
                    c = int(r.c) * samples + ((2 - s) if s < 3 else s)
                    yield plane_frame(block[..., s], r.t, c, r.z)
            else:
                yield plane_frame(plane.reshape(h, w), r.t, r.c, r.z)


def _plan_rows(path: str, cat: dict) -> list:
    ap = os.path.abspath(path)
    return [{"path": ap, "t": t, "c": c, "z": z,
             "h": cat["size_y"], "w": cat["size_x"],
             "samples": cat["samples"], "dtype": cat["dtype"],
             "offsets": [o for o, _ in ext],
             "lengths": [n for _, n in ext]}
            for (t, c, z), ext in sorted(cat["planes"].items())]


_PLAN_SCHEMA = ("path string, t int, c int, z int, h int, w int, "
                "samples int, dtype string, offsets array<long>, "
                "lengths array<long>")


def read_zvi_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None):
    """Window-pruned ZVI read: t/z (and c for gray items) prune whole
    item payloads driver-side over the catalog grid; interleaved BGR
    items are the read granularity for any requested channel, with the
    c/y/x trim a codegen filter after the de-interleave."""
    cat = ZviImageReader.catalog(path)
    t0, t1 = norm_window(t, cat["size_t"])
    c0, c1 = norm_window(c, cat["size_c"])
    z0, z1 = norm_window(z, cat["size_z"])
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    rows = [r for r in _plan_rows(path, cat)
            if t0 <= r["t"] < t1 and z0 <= r["z"] < z1
            and (cat["bgr"] or c0 <= r["c"] < c1)]
    if not rows:
        return empty_window(spark)
    px = plan_pixels(spark, rows, _plane_batches, WINDOW_SCHEMA,
                     nbytes=sum(r["h"] * r["w"] * r["samples"]
                                * np.dtype(r["dtype"]).itemsize
                                for r in rows),
                     row_schema=_PLAN_SCHEMA)
    return trim(px, c=(c0, c1), y=(y0, y1), x=(x0, x1))


class ZviImageReader(PlannedReader):
    """BioImage reader over Zeiss ZVI compound documents."""

    EXTENSIONS = (".zvi",)
    DIM_ORDER_ERROR = "ZVI axis sizes come from the item coordinate tags"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.zvi import read_zvi_catalog

        return read_zvi_catalog(path)

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return read_zvi_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(self._channel_names, cat["size_c"], 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        scenes = [scene_row(
            self._image_id, scene, 0, cat["dtype"],
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps,
            metadata=cat["description"] or "Zeiss ZVI (MS-CFB)")]
        px = standardize(
            plan_pixels(spark, _plan_rows(self._path, cat),
                        _plane_batches, WINDOW_SCHEMA,
                        nbytes=scene_bytes(scenes),
                        row_schema=_PLAN_SCHEMA),
            self._image_id, scene)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
