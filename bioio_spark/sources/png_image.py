"""PNG reader (second real-format plugin; S4 routing tier).

One grayscale PNG file = one scene with dims TCZYX (1,1,1,H,W); a
directory of *.png reads as a multi-scene image in sorted-path order (the
reference's imageio plugin exposes the same single-plane shape).

Catalog (driver-side): only the 33-byte header (signature + IHDR) is read
per file — height/width/dtype without touching pixel data. Pixels
(executor-side): binaryFile scan + Arrow-batched mapInPandas decode, one
pandas frame per file; parallelism = file count.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import PlannedReader


def _read_png_header(path: str) -> tuple[int, int, int, int]:
    """(height, width, bit_depth, samples) from the IHDR without reading
    pixels. Paletted files (color type 3) decode to RGB — or RGBA when a
    tRNS chunk is present — so their sample count comes from a bounded
    chunk walk that stops at IDAT."""
    from bioio_spark.formats.png import _SAMPLES_OF_COLOR_TYPE

    with open(path, "rb") as f:
        head = f.read(33)
        if head[:8] != b"\x89PNG\r\n\x1a\n" or head[12:16] != b"IHDR":
            raise ValueError(f"{path}: not a PNG file")
        w, h, depth, color = struct.unpack(">IIBB", head[16:26])
        if color == 3:
            f.seek(8 + 12 + 13)          # past signature + IHDR chunk
            samples = 3
            while True:
                hdr = f.read(8)
                if len(hdr) < 8:
                    break
                (length,) = struct.unpack(">I", hdr[:4])
                ctype = hdr[4:8]
                if ctype == b"tRNS":
                    samples = 4
                    break
                if ctype in (b"IDAT", b"IEND"):
                    break
                f.seek(length + 4, os.SEEK_CUR)
            # paletted pixels decode through PLTE to 8-bit channels
            return h, w, 8, samples
    if color not in _SAMPLES_OF_COLOR_TYPE:
        raise ValueError(f"{path}: unsupported PNG color type {color}")
    return h, w, depth, _SAMPLES_OF_COLOR_TYPE[color]


class PngImageReader(PlannedReader):
    """BioImage reader over baseline grayscale PNG files (plugin tier)."""

    EXTENSIONS = (".png",)
    DIM_ORDER_ERROR = "PNG planes are always YX"

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No PNG files under {self._path}")

        scene_rows, channel_rows = [], []
        scene_of: dict[str, str] = {}
        for si, p in enumerate(sorted(paths)):
            h, w, depth, samples = _read_png_header(p)
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
                "dtype": "uint16" if depth == 16 else "uint8",
                "ome_pixel_type": "uint16" if depth == 16 else "uint8",
                "pps_z": pps.Z if pps else None,
                "pps_y": pps.Y if pps else None,
                "pps_x": pps.X if pps else None,
                "time_interval": None, "metadata": None,
            })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.png import decode_png
            from bioio_spark.sources.tiff_image import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        # every path was catalogued; a miss means the
                        # binaryFile path didn't round-trip (encoding,
                        # symlink) — fail loudly, never mislabel as Image:0
                        raise KeyError(
                            f"PngImageReader: {path!r} (local {local!r}) "
                            f"not in the catalog scene map")
                    plane = decode_png(bytes(content))
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
                  .option("pathGlobFilter", "*.png")
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
