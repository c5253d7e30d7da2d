"""A Zarr v2 reader for output checks, written apart from the library's
codecs so that a codec bug cannot vouch for itself."""

from __future__ import annotations

import itertools
import json
import os
import zlib

import numpy as np


def read(array_dir: str) -> np.ndarray:
    """Assemble the array stored under `array_dir` (a `.zarray` plus
    chunk files). Chunks not yet written read as fill_value."""
    with open(os.path.join(array_dir, ".zarray")) as f:
        meta = json.load(f)
    comp = meta.get("compressor")
    if comp is not None and comp.get("id") != "zlib":
        raise ValueError(f"unsupported compressor {comp!r}")
    shape, chunks = tuple(meta["shape"]), tuple(meta["chunks"])
    dtype = np.dtype(meta["dtype"])
    sep = meta.get("dimension_separator", ".")
    out = np.full(shape, meta.get("fill_value") or 0, dtype=dtype)
    grid = [range(-(-s // c)) for s, c in zip(shape, chunks)]
    for idx in itertools.product(*grid):
        path = os.path.join(array_dir, sep.join(map(str, idx)))
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            raw = f.read()
        if comp is not None:
            raw = zlib.decompress(raw)
        block = np.frombuffer(raw, dtype=dtype).reshape(chunks)
        sl = tuple(slice(i * c, min((i + 1) * c, s))
                   for i, c, s in zip(idx, chunks, shape))
        out[sl] = block[tuple(slice(0, x.stop - x.start) for x in sl)]
    return out


def tree_bytes(path: str) -> int:
    """Total size of the files under `path`."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
