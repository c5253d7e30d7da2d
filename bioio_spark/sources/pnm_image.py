"""NetPBM reader (.pgm/.ppm/.pnm — imageio-tier plugin; ref
README.md:61). One file = one scene, YX (PGM) or YXS (PPM); a directory
of NetPBM files reads as a multi-scene image in sorted order. Catalog
parses only the three-token header; pixels decode executor-side off a
binaryFile scan."""

from __future__ import annotations

import os
import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import PlannedReader


def _read_pnm_header(path: str):
    """(height, width, samples, dtype_name) from the header tokens."""
    with open(path, "rb") as f:
        head = f.read(256)
    magic = head[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError(f"{path}: not a PGM/PPM file")
    samples = 3 if magic in (b"P3", b"P6") else 1
    pos, vals = 2, []
    while len(vals) < 3:
        m = re.match(rb"(?:\s+|#[^\n]*\n)*(\d+)", head[pos:])
        if not m:
            raise ValueError(f"{path}: truncated PGM/PPM header")
        vals.append(int(m.group(1)))
        pos += m.end()
    w, h, maxval = vals
    return h, w, samples, "uint16" if maxval > 255 else "uint8"


class PnmImageReader(PlannedReader):
    """BioImage reader over NetPBM files (plugin tier)."""

    EXTENSIONS = (".pgm", ".ppm", ".pnm")
    DIM_ORDER_ERROR = "NetPBM planes are always YX(S)"

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No PGM/PPM files under {self._path}")

        scene_rows, channel_rows = [], []
        scene_of: dict[str, str] = {}
        for si, p in enumerate(sorted(paths)):
            h, w, samples, dtype = _read_pnm_header(p)
            scene = f"Image:{si}"
            scene_of[os.path.abspath(p)] = scene
            for ci, nm in enumerate(resolve_channel_names(
                    self._channel_names, 1, si)):
                channel_rows.append({
                    "image_id": self._image_id, "scene": scene,
                    "c": ci, "channel_name": nm})
            pps = self._pps
            scene_rows.append({
                "image_id": self._image_id, "scene": scene,
                "scene_idx": si,
                "dim_order": "TCZYXS" if samples > 1 else "TCZYX",
                "size_t": 1, "size_c": 1, "size_z": 1,
                "size_y": h, "size_x": w, "size_m": None,
                "size_s": samples if samples > 1 else None,
                "dtype": dtype, "ome_pixel_type": dtype,
                "pps_z": pps.Z if pps else None,
                "pps_y": pps.Y if pps else None,
                "pps_x": pps.X if pps else None,
                "time_interval": None, "metadata": None,
            })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.pnm import decode_pnm
            from bioio_spark.sources.tiff_image import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        raise KeyError(
                            f"PnmImageReader: {path!r} not in the "
                            f"catalog scene map")
                    plane = decode_pnm(bytes(content))
                    y_n, x_n = plane.shape[0], plane.shape[1]
                    s_n = plane.shape[2] if plane.ndim == 3 else 1
                    zero = np.zeros(plane.size, dtype=np.int32)
                    s_col = (np.full(plane.size, -1, dtype=np.int32)
                             if s_n == 1 else
                             np.tile(np.arange(s_n, dtype=np.int32),
                                     y_n * x_n))
                    yield pd.DataFrame({
                        "scene": scene_of[local],
                        "t": zero, "c": zero, "z": zero,
                        "y": np.repeat(np.arange(y_n, dtype=np.int32),
                                       x_n * s_n),
                        "x": np.tile(np.repeat(
                            np.arange(x_n, dtype=np.int32), s_n), y_n),
                        "s": s_col,
                        "value": plane.ravel().astype(np.float64),
                    })

        binary = (spark.read.format("binaryFile")
                  .load([f"file://{os.path.abspath(p)}" for p in paths]))
        px = (binary.select("path", "content")
              .mapInPandas(batches,
                           schema="scene string, t int, c int, z int, "
                                  "y int, x int, s int, value double")
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  F.lit(0).alias("res_level"), "t", "c", "z", "y", "x",
                  F.lit(-1).alias("m"), "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(pixels=px, scenes=pd.DataFrame(scene_rows),
                            channels=pd.DataFrame(channel_rows))
