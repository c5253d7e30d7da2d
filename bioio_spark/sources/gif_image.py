"""GIF reader (imageio-tier plugin; ref README.md:61). Frames map to T
(the standard-order time axis) — the reference's imageio plugin exposes
animations the same way — and the first frame delay becomes
`time_interval` (centiseconds -> seconds). A directory of *.gif reads
as a multi-scene image in sorted-path order.

Catalog: header + a bounded block walk per file counts frames and
reads geometry without LZW-decoding pixel data. Pixels: binaryFile scan
+ mapInPandas decode, one file per task."""

from __future__ import annotations

import os
import struct
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import PlannedReader


def _read_gif_header(path: str):
    """(height, width, n_frames, first_delay_cs, gray) without decoding
    pixel data — the block walk skips LZW sub-blocks by their length
    prefixes."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"{path}: not a GIF file")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gray = True
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        pal = np.frombuffer(data[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        gray = bool((pal[:, 0] == pal[:, 1]).all()
                    and (pal[:, 1] == pal[:, 2]).all())
        pos += 3 * n
    frames, delay = 0, 0
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:
            break
        if b == 0x21:
            label = data[pos]
            pos += 1
            if label == 0xF9 and frames == 0:
                (delay,) = struct.unpack_from("<H", data, pos + 2)
            while data[pos]:
                pos += data[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"{path}: unexpected GIF block 0x{b:02x}")
        _, _, _, _, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lpal = np.frombuffer(data[pos:pos + 3 * n],
                                 dtype=np.uint8).reshape(n, 3)
            gray = gray and bool((lpal[:, 0] == lpal[:, 1]).all()
                                 and (lpal[:, 1] == lpal[:, 2]).all())
            pos += 3 * n
        pos += 1                           # LZW min code size
        while data[pos]:
            pos += data[pos] + 1
        pos += 1
        frames += 1
    if not frames:
        raise ValueError(f"{path}: GIF contains no image frames")
    return h, w, frames, delay, gray


class GifImageReader(PlannedReader):
    """BioImage reader over baseline GIF files (plugin tier)."""

    EXTENSIONS = (".gif",)
    DIM_ORDER_ERROR = "GIF frames are always (T)YX(S)"

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset)

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No GIF files under {self._path}")

        scene_rows, channel_rows = [], []
        scene_of: dict[str, str] = {}
        for si, p in enumerate(sorted(paths)):
            h, w, frames, delay, gray = _read_gif_header(p)
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
                "dim_order": "TCZYX" if gray else "TCZYXS",
                "size_t": frames, "size_c": 1, "size_z": 1,
                "size_y": h, "size_x": w, "size_m": None,
                "size_s": None if gray else 3,
                "dtype": "uint8", "ome_pixel_type": "uint8",
                "pps_z": pps.Z if pps else None,
                "pps_y": pps.Y if pps else None,
                "pps_x": pps.X if pps else None,
                "time_interval": (delay / 100.0) if delay else None,
                "metadata": None,
            })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.gif import decode_gif
            from bioio_spark.sources.tiff_image import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in scene_of:
                        raise KeyError(
                            f"GifImageReader: {path!r} not in the "
                            f"catalog scene map")
                    frames, _delays = decode_gif(bytes(content))
                    for ti in range(frames.shape[0]):
                        plane = frames[ti]
                        y_n, x_n = plane.shape[0], plane.shape[1]
                        s_n = plane.shape[2] if plane.ndim == 3 else 1
                        zero = np.zeros(plane.size, dtype=np.int32)
                        s_col = (np.full(plane.size, -1, dtype=np.int32)
                                 if s_n == 1 else
                                 np.tile(np.arange(s_n, dtype=np.int32),
                                         y_n * x_n))
                        yield pd.DataFrame({
                            "scene": scene_of[local],
                            "t": np.full(plane.size, ti, np.int32),
                            "c": zero, "z": zero,
                            "y": np.repeat(
                                np.arange(y_n, dtype=np.int32),
                                x_n * s_n),
                            "x": np.tile(np.repeat(
                                np.arange(x_n, dtype=np.int32), s_n),
                                y_n),
                            "s": s_col,
                            "value": plane.ravel().astype(np.float64),
                        })

        binary = (spark.read.format("binaryFile")
                  .option("pathGlobFilter", "*.gif")
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
