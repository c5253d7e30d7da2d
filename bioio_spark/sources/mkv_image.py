"""MKV (.mkv) reader — Matroska on the shared video reader
(bioio_spark.sources.video). Built on the public EBML (RFC 8794) +
Matroska layout (bioio_spark.formats.mkv): the Segment/Cluster walk
resolves each SimpleBlock to a byte range, V_MJPEG samples decode with
the in-repo baseline JPEG codec, and the track's DefaultDuration
becomes ``time_interval``."""

from __future__ import annotations

from bioio_spark.sources.video import VideoReader


class MkvImageReader(VideoReader):
    """BioImage reader over Matroska (MKV) video containers."""

    EXTENSIONS = (".mkv",)
    DIM_ORDER_ERROR = "MKV frames map to T; dim_order is fixed"
    LABEL = "Matroska"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.mkv import read_mkv_catalog

        return read_mkv_catalog(path)

    @staticmethod
    def decode(data: bytes, row):
        from bioio_spark.formats.mkv import decode_mkv_frame

        return decode_mkv_frame(data, row.w, row.h)

