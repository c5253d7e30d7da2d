"""Video containers — the AVI/MP4/MKV/MPEG-1 rows of the reference's
imageio tier (bioio-imageio routes them through ffmpeg; ref
README.md:61,82-84). One reader serves all four: frames map to T (the
GIF rule), decoded samples to R,G,B channels, and the container's frame
rate becomes ``time_interval``.

- **Catalog (driver-side)**: the format's index walk (AVI idx1, MP4
  sample table, MKV Cluster walk, MPEG-1 start-code scan) gives each
  frame's absolute byte range — no frame IO (D8 contract).
- **Pixels (executor-side)**: one plan row per frame, seek-read +
  decode (DIB bit-copy, the in-repo baseline JPEG codec for Motion-JPEG
  samples, or in-repo MPEG-1 intra decode) — zero shuffle, one ranged
  GET per frame at object-store scale.

A format module subclasses ``VideoReader`` with its extensions, its
``catalog``, its ``decode`` and its metadata label; its
``read_*_window`` is the subclass's ``window``.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import SparkSession

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plain_scene, plan_pixels,
                                         plane_frame, standardize, trim)


class VideoReader(PlannedReader):
    """BioImage reader over one video container file."""

    LABEL = ""   # the container's name in the scene metadata

    @staticmethod
    def decode(data: bytes, row) -> np.ndarray:
        """One frame's bytes -> (h, w, 3) uint8 RGB, given its plan row."""
        raise NotImplementedError

    @classmethod
    def frame_fields(cls, cat: dict) -> dict:
        """Per-file fields every frame's plan row carries for decode."""
        return {"w": cat["width"], "h": cat["height"]}

    @classmethod
    def _plan_rows(cls, path: str, cat: dict) -> list:
        ap = os.path.abspath(path)
        extra = cls.frame_fields(cat)
        return [{"path": ap, "t": t, "offset": off, "nbytes": size,
                 **extra}
                for t, (off, size) in enumerate(cat["frames"])]

    @classmethod
    def _pixels(cls, spark: SparkSession, rows: list):
        def batches(it):
            for pdf in it:
                for r in pdf.itertuples():
                    frame = cls.decode(
                        read_range(r.path, r.offset, r.nbytes), r)
                    for c in range(3):
                        yield plane_frame(frame[..., c], r.t, c, 0)

        return plan_pixels(spark, rows, batches, WINDOW_SCHEMA,
                           nbytes=sum(r["h"] * r["w"] * 3 for r in rows))

    @classmethod
    def window(cls, spark: SparkSession, path: str,
               t=None, c=None, z=None, y=None, x=None):
        """Window-pruned read: the t window prunes whole FRAMES (byte
        ranges from the catalog); c/y/x trim via codegen filter after
        the per-frame decode (the frame is the read granularity)."""
        cat = cls.catalog(path)
        t0, t1 = norm_window(t, cat["n_frames"])
        c0, c1 = norm_window(c, 3)
        norm_window(z, 1)
        y0, y1 = norm_window(y, cat["height"])
        x0, x1 = norm_window(x, cat["width"])
        rows = [r for r in cls._plan_rows(path, cat) if t0 <= r["t"] < t1]
        if not rows:
            return empty_window(spark)
        return trim(cls._pixels(spark, rows),
                    c=(c0, c1), y=(y0, y1), x=(x0, x1))

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if plain_scene(img):
            return self.window(spark, self._path, t=t, c=c, z=z, y=y, x=x)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)

        cat = self.catalog(self._path)
        scene = "Image:0"
        names = self._channel_names or ["Red", "Green", "Blue"]
        channels = channel_rows(self._image_id, scene,
                                [str(names[ci]) for ci in range(3)])
        scenes = [scene_row(
            self._image_id, scene, 0, "uint8",
            dict(T=cat["n_frames"], C=3, Z=1, Y=cat["height"],
                 X=cat["width"]),
            pps=self._pps, time_interval=cat["time_interval"],
            metadata=f"{self.LABEL} {cat['codec']}")]
        px = standardize(
            self._pixels(spark, self._plan_rows(self._path, cat)),
            self._image_id, scene)
        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
