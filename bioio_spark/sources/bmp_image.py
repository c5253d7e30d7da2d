"""BMP reader (imageio-tier plugin; ref README.md:61 — bioio-imageio's
everyday raster formats). One BMP = one scene, dims TCZYX(S); a
directory of *.bmp reads as a multi-scene image in sorted-path order.

The catalog reads only the 54-byte file+info header (and an 8-bit
palette) per file; pixels decode off ``sources/raster.py``'s scan
(formats/bmp.py baseline codec)."""

from __future__ import annotations

import struct

import numpy as np

from bioio_spark.sources.raster import RasterReader


def _read_bmp_header(path: str) -> tuple[int, int, int]:
    """(height, width, samples) without reading pixel data."""
    with open(path, "rb") as f:
        head = f.read(54)
        if head[:2] != b"BM":
            raise ValueError(f"{path}: not a BMP file")
        _, w, h = struct.unpack_from("<Iii", head, 14)
        (bpp,) = struct.unpack_from("<H", head, 28)
        if bpp == 8:
            # probe the (<=1 KB) palette: gray -> 1 sample, color -> 3
            (hdr_size,) = struct.unpack_from("<I", head, 14)
            (clr_used,) = struct.unpack_from("<I", head, 46)
            f.seek(14 + hdr_size)
            pal = np.frombuffer(
                f.read(4 * (clr_used or 256)), dtype=np.uint8)
            pal = pal.reshape(-1, 4)
            gray = ((pal[:, 0] == pal[:, 1]).all()
                    and (pal[:, 1] == pal[:, 2]).all())
            samples = 1 if gray else 3
    if bpp == 8:
        pass
    elif bpp == 24:
        samples = 3
    elif bpp == 32:
        samples = 4
    else:
        raise ValueError(f"{path}: unsupported BMP bit depth {bpp}")
    return abs(h), w, samples


class BmpImageReader(RasterReader):
    """BioImage reader over baseline BMP files (plugin tier)."""

    EXTENSIONS = (".bmp",)
    DIM_ORDER_ERROR = "BMP planes are always YX(S)"

    @staticmethod
    def header(path: str):
        h, w, samples = _read_bmp_header(path)
        return 1, h, w, samples, "uint8", None

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        from bioio_spark.formats.bmp import decode_bmp

        return decode_bmp(data)[None]
