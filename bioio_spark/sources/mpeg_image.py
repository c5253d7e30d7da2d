"""MPEG-1 (.mpg/.mpeg) reader — the elementary-stream member of the
shared video reader (bioio_spark.sources.video). Built on
bioio_spark.formats.mpeg1 (ISO/IEC 11172-2, I-frames only): a
start-code scan gives one byte range per picture, and every picture is
a closed intra GOP, so frames decode independently."""

from __future__ import annotations

from bioio_spark.sources.video import VideoReader


class MpegImageReader(VideoReader):
    """BioImage reader over MPEG-1 video elementary streams."""

    EXTENSIONS = (".mpg", ".mpeg")
    DIM_ORDER_ERROR = "MPEG-1 frames map to T; dim_order is fixed"
    LABEL = "MPEG-1 ES"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.mpeg1 import read_mpeg1_catalog

        return read_mpeg1_catalog(path)

    @staticmethod
    def decode(data: bytes, row):
        from bioio_spark.formats.mpeg1 import decode_mpeg1_frame

        return decode_mpeg1_frame(data, row.w, row.h)

