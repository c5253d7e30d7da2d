"""BMP reader (imageio-tier plugin; ref README.md:61 — bioio-imageio's
everyday raster formats). One BMP = one scene, dims TCZYX(S); a
directory of *.bmp reads as a multi-scene image in sorted-path order.

Catalog reads only the 54-byte file+info header per file; pixels decode
executor-side off a binaryFile scan (formats/bmp.py baseline codec)."""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import PlannedReader


def _read_bmp_header(path: str) -> tuple[int, int, int]:
    """(height, width, samples) without reading pixel data."""
    with open(path, "rb") as f:
        head = f.read(54)
        if head[:2] != b"BM":
            raise ValueError(f"{path}: not a BMP file")
        _, w, h = struct.unpack_from("<Iii", head, 14)
        (bpp,) = struct.unpack_from("<H", head, 28)
        if bpp == 8:
            # probe the (<=1 KB) palette: gray -> 1 sample, color -> 3
            (hdr_size,) = struct.unpack_from("<I", head, 14)
            (clr_used,) = struct.unpack_from("<I", head, 46)
            f.seek(14 + hdr_size)
            pal = np.frombuffer(
                f.read(4 * (clr_used or 256)), dtype=np.uint8)
            pal = pal.reshape(-1, 4)
            gray = ((pal[:, 0] == pal[:, 1]).all()
                    and (pal[:, 1] == pal[:, 2]).all())
            samples = 1 if gray else 3
    if bpp == 8:
        pass
    elif bpp == 24:
        samples = 3
    elif bpp == 32:
        samples = 4
    else:
        raise ValueError(f"{path}: unsupported BMP bit depth {bpp}")
    return abs(h), w, samples


class BmpImageReader(PlannedReader):
    """BioImage reader over baseline BMP files (plugin tier)."""

    EXTENSIONS = (".bmp",)
    DIM_ORDER_ERROR = "BMP planes are always YX(S)"

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No BMP files under {self._path}")

        scene_rows, channel_rows = [], []
        scene_of: dict[str, str] = {}
        for si, p in enumerate(sorted(paths)):
            h, w, samples = _read_bmp_header(p)
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
                "dtype": "uint8", "ome_pixel_type": "uint8",
                "pps_z": pps.Z if pps else None,
                "pps_y": pps.Y if pps else None,
                "pps_x": pps.X if pps else None,
                "time_interval": None, "metadata": None,
            })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.bmp import decode_bmp
            from bioio_spark.sources.tiff_image import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        raise KeyError(
                            f"BmpImageReader: {path!r} not in the "
                            f"catalog scene map")
                    plane = decode_bmp(bytes(content))
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
                  .option("pathGlobFilter", "*.bmp")
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
