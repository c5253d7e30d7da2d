"""GIF reader (imageio-tier plugin; ref README.md:61). Frames map to T
(the standard-order time axis) — the reference's imageio plugin exposes
animations the same way — and the first frame delay becomes
`time_interval` (centiseconds -> seconds). A directory of *.gif reads
as a multi-scene image in sorted-path order.

Catalog: header + a bounded block walk per file counts frames and
reads geometry without LZW-decoding pixel data; pixels decode off
``sources/raster.py``'s scan, one file per task."""

from __future__ import annotations

import struct

import numpy as np

from bioio_spark.sources.raster import RasterReader


def _read_gif_header(path: str):
    """(height, width, n_frames, first_delay_cs, gray) without decoding
    pixel data — the block walk skips LZW sub-blocks by their length
    prefixes."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError(f"{path}: not a GIF file")
    w, h, packed, _bg, _ar = struct.unpack_from("<HHBBB", data, 6)
    pos = 13
    gray = True
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        pal = np.frombuffer(data[pos:pos + 3 * n],
                            dtype=np.uint8).reshape(n, 3)
        gray = bool((pal[:, 0] == pal[:, 1]).all()
                    and (pal[:, 1] == pal[:, 2]).all())
        pos += 3 * n
    frames, delay = 0, 0
    while pos < len(data):
        b = data[pos]
        pos += 1
        if b == 0x3B:
            break
        if b == 0x21:
            label = data[pos]
            pos += 1
            if label == 0xF9 and frames == 0:
                (delay,) = struct.unpack_from("<H", data, pos + 2)
            while data[pos]:
                pos += data[pos] + 1
            pos += 1
            continue
        if b != 0x2C:
            raise ValueError(f"{path}: unexpected GIF block 0x{b:02x}")
        _, _, _, _, ipacked = struct.unpack_from("<HHHHB", data, pos)
        pos += 9
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            lpal = np.frombuffer(data[pos:pos + 3 * n],
                                 dtype=np.uint8).reshape(n, 3)
            gray = gray and bool((lpal[:, 0] == lpal[:, 1]).all()
                                 and (lpal[:, 1] == lpal[:, 2]).all())
            pos += 3 * n
        pos += 1                           # LZW min code size
        while data[pos]:
            pos += data[pos] + 1
        pos += 1
        frames += 1
    if not frames:
        raise ValueError(f"{path}: GIF contains no image frames")
    return h, w, frames, delay, gray


class GifImageReader(RasterReader):
    """BioImage reader over baseline GIF files (plugin tier)."""

    EXTENSIONS = (".gif",)
    DIM_ORDER_ERROR = "GIF frames are always (T)YX(S)"

    @staticmethod
    def header(path: str):
        h, w, frames, delay, gray = _read_gif_header(path)
        return (frames, h, w, 1 if gray else 3, "uint8",
                delay / 100.0 if delay else None)

    @staticmethod
    def decode(data: bytes) -> np.ndarray:
        from bioio_spark.formats.gif import decode_gif

        return decode_gif(data)[0]
