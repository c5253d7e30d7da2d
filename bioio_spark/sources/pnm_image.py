"""NetPBM reader (.pgm/.ppm/.pnm — imageio-tier plugin; ref
README.md:61). One file = one scene, YX (PGM) or YXS (PPM); a directory
of NetPBM files reads as a multi-scene image in sorted order. The
catalog parses only the three-token header; pixels decode off
``sources/raster.py``'s scan."""

from __future__ import annotations

import re

import numpy as np

from bioio_spark.sources.raster import RasterReader


def _read_pnm_header(path: str):
    """(height, width, samples, dtype_name) from the header tokens."""
    with open(path, "rb") as f:
        head = f.read(256)
    magic = head[:2]
    if magic not in (b"P2", b"P3", b"P5", b"P6"):
        raise ValueError(f"{path}: not a PGM/PPM file")
    samples = 3 if magic in (b"P3", b"P6") else 1
    pos, vals = 2, []
    while len(vals) < 3:
        m = re.match(rb"(?:\s+|#[^\n]*\n)*(\d+)", head[pos:])
        if not m:
            raise ValueError(f"{path}: truncated PGM/PPM header")
        vals.append(int(m.group(1)))
        pos += m.end()
    w, h, maxval = vals
    return h, w, samples, "uint16" if maxval > 255 else "uint8"


class PnmImageReader(RasterReader):
    """BioImage reader over NetPBM files (plugin tier)."""

    EXTENSIONS = (".pgm", ".ppm", ".pnm")
    DIM_ORDER_ERROR = "NetPBM planes are always YX(S)"

    @staticmethod
    def header(path: str):
        h, w, samples, dtype = _read_pnm_header(path)
        return 1, h, w, samples, dtype, None

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        from bioio_spark.formats.pnm import decode_pnm

        return decode_pnm(data)[None]
