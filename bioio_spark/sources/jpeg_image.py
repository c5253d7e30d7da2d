"""JPEG reader (fourth real-format plugin; S4 routing tier).

One baseline JPEG = one scene: TCZYX (1,1,1,H,W) for grayscale, TCZYXS
with S=3 for color (the same sample-dim convention as color PNG; the
reference's imageio plugin exposes the identical YX(S) shape).

The catalog scans only the marker segments up to SOF0 per file —
height/width/components without entropy-decoding any pixel; pixels
decode through the in-repo baseline codec (``sources/raster.py``).
"""

from __future__ import annotations

import os
import struct

import numpy as np

from bioio_spark.sources.raster import RasterReader


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


class JpegImageReader(RasterReader):
    """BioImage reader over baseline JPEG files (plugin tier)."""

    EXTENSIONS = (".jpg", ".jpeg")
    DIM_ORDER_ERROR = "JPEG planes are always YX(S)"

    @staticmethod
    def header(path: str):
        h, w, nc = _read_jpeg_header(path)
        return 1, h, w, nc, "uint8", None

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        from bioio_spark.formats.jpeg import decode_jpeg

        return decode_jpeg(data)[None]
