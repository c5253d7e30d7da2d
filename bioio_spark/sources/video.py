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
``catalog``, its ``decode`` and its metadata label.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import Plan, PlannedReader


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
    def decode_tiles(cls, rows):
        for r in rows.itertuples(index=False):
            yield r, cls.decode(read_range(r.path, r.offset, r.nbytes), r)

    def plan(self) -> Plan:
        """One row per frame: its byte range and its R, G, B channels."""
        from bioio_spark.sources.array_like import channel_rows, scene_row

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
        ap, extra = os.path.abspath(self._path), self.frame_fields(cat)
        plan = [{"path": ap, "scene": scene, "t": t, "nc": 3,
                 "offset": off, "nbytes": size, **extra}
                for t, (off, size) in enumerate(cat["frames"])]
        return Plan(plan, scenes, channels)
