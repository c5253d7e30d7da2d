"""MP4 (.mp4/.mov) reader — ISO BMFF on the shared video reader
(bioio_spark.sources.video). Built on the public ISO/IEC 14496-12
layout (bioio_spark.formats.mp4): the moov sample table (stsz + stco +
stsc) gives each frame's byte range, Motion-JPEG samples decode with
the in-repo baseline JPEG codec, and ``stts``/``mdhd`` become
``time_interval``."""

from __future__ import annotations

from bioio_spark.sources.video import VideoReader


class Mp4ImageReader(VideoReader):
    """BioImage reader over ISO BMFF (MP4/MOV) video containers."""

    EXTENSIONS = (".mp4", ".mov")
    DIM_ORDER_ERROR = "MP4 frames map to T; dim_order is fixed"
    LABEL = "ISO BMFF"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.mp4 import read_mp4_catalog

        return read_mp4_catalog(path)

    @staticmethod
    def decode(data: bytes, row):
        from bioio_spark.formats.mp4 import decode_mp4_frame

        return decode_mp4_frame(data, row.w, row.h)

