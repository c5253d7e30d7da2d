"""JPEG reader (fourth real-format plugin; S4 routing tier).

One baseline JPEG = one scene: TCZYX (1,1,1,H,W) for grayscale, TCZYXS
with S=3 for color (the same sample-dim convention as color PNG; the
reference's imageio plugin exposes the identical YX(S) shape).

Catalog (driver-side): only the marker segments up to SOF0 are scanned
per file — height/width/components without entropy-decoding any pixel.
Pixels (executor-side): binaryFile scan + Arrow-batched mapInPandas
decode through the in-repo baseline codec; parallelism = file count.
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


def _read_jpeg_header(path: str) -> tuple[int, int, int]:
    """(height, width, n_components) from the SOF0 segment — a streamed
    marker walk against the file handle (seek past each segment by its
    length), no entropy data read. Segments can individually exceed any
    fixed prefix — EXIF thumbnails and ICC profiles over 64 KB are
    common — so no prefix cap applies."""
    with open(path, "rb") as f:
        if f.read(2) != b"\xFF\xD8":
            raise ValueError(f"{path}: not a JPEG file")
        while True:
            b = f.read(1)
            if not b:
                break
            if b != b"\xFF":
                continue
            # consume fill bytes (0xFF padding before a marker)
            marker = f.read(1)
            while marker == b"\xFF":
                marker = f.read(1)
            if not marker:
                break
            m = marker[0]
            if m in (0xD8, 0x01, 0x00) or 0xD0 <= m <= 0xD7:
                continue                    # no length field
            if m in (0xC0, 0xC1):
                seg = f.read(8)
                if len(seg) < 8:
                    raise ValueError(f"{path}: truncated SOF segment")
                _ln, _prec, h, w, nc = struct.unpack(">HBHHB", seg)
                return h, w, nc
            if m in (0xDA, 0xD9):
                break                       # entropy data / EOI: give up
            ln_bytes = f.read(2)
            if len(ln_bytes) < 2:
                break
            (ln,) = struct.unpack(">H", ln_bytes)
            f.seek(max(ln - 2, 0), os.SEEK_CUR)
    raise ValueError(f"{path}: no baseline SOF segment found")


class JpegImageReader(PlannedReader):
    """BioImage reader over baseline JPEG files (plugin tier)."""

    EXTENSIONS = (".jpg", ".jpeg")
    DIM_ORDER_ERROR = "JPEG planes are always YX(S)"

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No JPEG files under {self._path}")

        scene_rows, channel_rows = [], []
        scene_of: dict[str, str] = {}
        for si, p in enumerate(sorted(paths)):
            h, w, nc = _read_jpeg_header(p)
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
                "dim_order": "TCZYXS" if nc > 1 else "TCZYX",
                "size_t": 1, "size_c": 1, "size_z": 1,
                "size_y": h, "size_x": w, "size_m": None,
                "size_s": nc if nc > 1 else None,
                "dtype": "uint8", "ome_pixel_type": "uint8",
                "pps_z": pps.Z if pps else None,
                "pps_y": pps.Y if pps else None,
                "pps_x": pps.X if pps else None,
                "time_interval": None, "metadata": None,
            })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.jpeg import decode_jpeg
            from bioio_spark.sources.tiff_image import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        raise KeyError(
                            f"JpegImageReader: {path!r} not in the "
                            f"catalog scene map")
                    plane = decode_jpeg(bytes(content))
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
                  .option("pathGlobFilter", "*.jp*g")
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
