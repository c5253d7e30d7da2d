"""The single-raster reader core (PNG, JPEG, BMP, GIF, NetPBM — the
everyday formats of the reference's bioio-imageio plugin, ref
README.md:61).

One file = one scene of ``(T, Y, X[, S])`` frames — T > 1 only for
animations — and a directory of such files reads as a multi-scene image
in sorted-path order. The catalog reads each file's header only; the
pixels come from one binaryFile scan whose ``mapInPandas`` body decodes
each file's bytes and emits its frames through ``plane_frame``, one
file per task. A format module supplies just its ``header`` and its
``decode`` (the reference's plugin split, ref
array_like_reader.py:442-448).
"""

from __future__ import annotations

import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.sources.planned import PlannedReader, plane_frame, standardize

RASTER_SCHEMA = ("scene string, t int, c int, z int, y int, x int, s int, "
                 "value double")


class RasterReader(PlannedReader):
    """Shared reader of the single-raster formats. A subclass sets
    ``EXTENSIONS`` and ``DIM_ORDER_ERROR`` and gives ``header`` (the
    metadata-only probe) and ``decode`` (a file's bytes -> its
    frames)."""

    @staticmethod
    def header(path: str) -> tuple[int, int, int, int, str,
                                   Optional[float]]:
        """``(frames, height, width, samples, dtype, time_interval)``
        from the file's header, without decoding pixel data."""
        raise NotImplementedError

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        """A file's bytes -> its ``(T, Y, X[, S])`` frames."""
        raise NotImplementedError

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(
                f"No {'/'.join(self.EXTENSIONS)} files under {self._path}")

        scenes, channels, scene_of = [], [], {}
        for si, p in enumerate(paths):
            frames, h, w, samples, dtype, interval = self.header(p)
            scene = f"Image:{si}"
            scene_of[os.path.abspath(p)] = scene
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            rgb = samples > 1
            scenes.append(scene_row(
                self._image_id, scene, si, dtype,
                dict(T=frames, C=1, Z=1, Y=h, X=w,
                     S=samples if rgb else None),
                dim_order="TCZYXS" if rgb else "TCZYX", pps=self._pps,
                time_interval=interval))

        reader, decode = type(self).__name__, self.decode

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.fsio import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        # every path was catalogued; a miss means the
                        # binaryFile path didn't round-trip (encoding,
                        # symlink) — fail loudly, never mislabel a scene
                        raise KeyError(
                            f"{reader}: {path!r} (local {local!r}) "
                            f"not in the catalog scene map")
                    for t, plane in enumerate(decode(bytes(content))):
                        # a gray plane has no S axis: s = -1 (absent)
                        yield plane_frame(
                            plane, t, 0, 0, scene=scene_of[local],
                            **({} if plane.ndim == 3 else {"s": -1}))

        px = (spark.read.format("binaryFile")
              .load([f"file://{os.path.abspath(p)}" for p in paths])
              .select("path", "content")
              .mapInPandas(batches, schema=RASTER_SCHEMA))
        return ImageDataset(standardize(px, self._image_id), scenes,
                            channels)
