"""AVI (.avi) reader — RIFF/AVI on the shared video reader
(bioio_spark.sources.video). Built on the public RIFF/AVI layout
(bioio_spark.formats.avi): idx1 gives each frame's byte range, frames
decode by DIB bit-copy (BGR samples to R,G,B) or the in-repo baseline
JPEG codec for MJPG, and ``strh`` scale/rate becomes
``time_interval``."""

from __future__ import annotations

from bioio_spark.sources.video import VideoReader


class AviImageReader(VideoReader):
    """BioImage reader over RIFF/AVI video containers."""

    EXTENSIONS = (".avi",)
    DIM_ORDER_ERROR = "AVI frames map to T; dim_order is fixed"
    LABEL = "RIFF/AVI"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.avi import read_avi_catalog

        return read_avi_catalog(path)

    @classmethod
    def frame_fields(cls, cat: dict) -> dict:
        return {**super().frame_fields(cat), "codec": cat["codec"],
                "topdown": cat["topdown"]}

    @staticmethod
    def decode(data: bytes, row):
        from bioio_spark.formats.avi import decode_avi_frame

        return decode_avi_frame(data, row.codec, row.w, row.h,
                                bool(row.topdown))

