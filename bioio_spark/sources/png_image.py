"""PNG reader (second real-format plugin; S4 routing tier).

One PNG file = one scene: TCZYX (1,1,1,H,W) for grayscale, TCZYXS for
gray+alpha, RGB and RGBA (paletted files decode to RGB, or RGBA with a
tRNS chunk); a directory of *.png reads as a multi-scene image in
sorted-path order (the reference's imageio plugin exposes the same YX(S)
shape). The catalog reads only the IHDR (plus, for paletted files, the
chunk walk up to IDAT); ``sources/raster.py`` does the rest.
"""

from __future__ import annotations

import os
import struct

import numpy as np

from bioio_spark.sources.raster import RasterReader


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


class PngImageReader(RasterReader):
    """BioImage reader over baseline PNG files (plugin tier)."""

    EXTENSIONS = (".png",)
    DIM_ORDER_ERROR = "PNG planes are always YX"

    @staticmethod
    def header(path: str):
        h, w, depth, samples = _read_png_header(path)
        return 1, h, w, samples, "uint16" if depth == 16 else "uint8", None

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        from bioio_spark.formats.png import decode_png

        return decode_png(data)[None]
