"""Micro-Manager NDTiff codec — the NDTiffStorage dataset layout
(public spec in the micro-manager/NDTiffStorage repository, "NDTiff
file format" v3). A dataset is a DIRECTORY:

- ``NDTiff.index``: binary index; one entry per image:
  ``[axes-JSON length u32][axes JSON][filename length u32][filename]
  [pixel offset u32][width u32][height u32][pixel type u32]
  [pixel compression u32][metadata offset u32][metadata length u32]
  [metadata compression u32]`` (little-endian)
- one or more ``.tif`` files the offsets point into (valid TIFFs, but
  readers go STRAIGHT to the indexed pixel offsets — no IFD walking)

Axes vocabulary: ``time``->T, ``channel``->C, ``z``->Z, ``position``->
scene. Pixel types: 0=8-bit, 1=16-bit, 2=8-bit RGB (10/12/14-bit
variants store as 16). Pixel compression 0 = uncompressed.

The index IS the read plan: every image row is a (file, offset,
nbytes) seek — the acquisition layout that needs zero parsing at scale.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

INDEX_NAME = "NDTiff.index"
_PIXEL_DTYPE = {0: np.dtype("u1"), 1: np.dtype("<u2")}
_TYPE_OF_DTYPE = {"uint8": 0, "uint16": 1}


def write_index_entry(axes: dict, filename: str, offset: int,
                      width: int, height: int, pixel_type: int) -> bytes:
    aj = json.dumps(axes, sort_keys=True).encode()
    fn = filename.encode()
    return (struct.pack("<I", len(aj)) + aj
            + struct.pack("<I", len(fn)) + fn
            + struct.pack("<8I", offset, width, height, pixel_type,
                          0, 0, 0, 0))


def read_index(path: str) -> list[dict]:
    """NDTiff.index -> entry dicts (axes, filename, offset, w, h,
    dtype)."""
    entries = []
    with open(path, "rb") as f:
        data = f.read()
    pos = 0
    while pos + 4 <= len(data):
        (k,) = struct.unpack_from("<I", data, pos)
        pos += 4
        axes = json.loads(data[pos:pos + k].decode())
        pos += k
        (fl,) = struct.unpack_from("<I", data, pos)
        pos += 4
        filename = data[pos:pos + fl].decode()
        pos += fl
        (off, w, h, ptype, pcomp, _mo, _ml,
         _mc) = struct.unpack_from("<8I", data, pos)
        pos += 32
        if pcomp != 0:
            raise ValueError(f"{path}: compressed NDTiff pixels "
                             f"(code {pcomp}) not supported")
        dt = _PIXEL_DTYPE.get(ptype)
        if dt is None:
            raise ValueError(f"{path}: NDTiff pixel type {ptype} "
                             f"not supported")
        entries.append({"axes": axes, "filename": filename,
                        "offset": off, "w": w, "h": h, "dtype": dt})
    if not entries:
        raise ValueError(f"{path}: empty NDTiff index")
    return entries


def encode_ndtiff(block: np.ndarray, out_dir: str,
                  positions: int = 1) -> str:
    """TCZYX block -> an NDTiff dataset directory (one real TIFF per
    position holding all its planes, plus the binary index pointing at
    each plane's raw strip). Returns the dataset directory."""
    from bioio_spark.formats.tiff import encode_tiff, iter_tiff_chunks

    if block.ndim != 5:
        raise ValueError("encode_ndtiff takes a TCZYX block")
    t_n, c_n, z_n, y_n, x_n = block.shape
    dt = np.dtype(block.dtype)
    if dt.name not in _TYPE_OF_DTYPE:
        raise ValueError(f"NDTiff encodes {list(_TYPE_OF_DTYPE)}")
    os.makedirs(out_dir, exist_ok=True)
    index = b""
    for p in range(positions):
        fname = f"NDTiffStack_{p}.tif"
        planes = [block[t, c, z]
                  for t in range(t_n) for c in range(c_n)
                  for z in range(z_n)]
        with open(os.path.join(out_dir, fname), "wb") as f:
            f.write(encode_tiff(planes))
        pages = iter_tiff_chunks(os.path.join(out_dir, fname))
        i = 0
        for t in range(t_n):
            for c in range(c_n):
                for z in range(z_n):
                    off = pages[i]["chunks"][0]["offset"]
                    axes = {"time": t, "channel": c, "z": z}
                    if positions > 1:
                        axes["position"] = p
                    index += write_index_entry(
                        axes, fname, off, x_n, y_n,
                        _TYPE_OF_DTYPE[dt.name])
                    i += 1
    with open(os.path.join(out_dir, INDEX_NAME), "wb") as f:
        f.write(index)
    return out_dir


def read_ndtiff_catalog(path: str) -> dict:
    """Driver-side catalog: the index alone gives every plane's byte
    address; axes vocabulary resolves sizes. No pixel IO."""
    idx_path = os.path.join(path, INDEX_NAME)
    if not os.path.isfile(idx_path):
        raise FileNotFoundError(f"{path}: no {INDEX_NAME}")
    entries = read_index(idx_path)
    t_n = max(e["axes"].get("time", 0) for e in entries) + 1
    c_n = max(e["axes"].get("channel", 0) for e in entries) + 1
    z_n = max(e["axes"].get("z", 0) for e in entries) + 1
    p_n = max(e["axes"].get("position", 0) for e in entries) + 1
    sizes = {(e["w"], e["h"]) for e in entries}
    dts = {e["dtype"] for e in entries}
    if len(sizes) != 1 or len(dts) != 1:
        raise ValueError(f"{path}: mixed plane geometry in index")
    if len(entries) != t_n * c_n * z_n * p_n:
        raise ValueError(
            f"{path}: {len(entries)} index entries do not fill the "
            f"{t_n}x{c_n}x{z_n}x{p_n} (T,C,Z,P) grid")
    (w, h), = sizes
    (dt,) = dts
    return {"size_t": t_n, "size_c": c_n, "size_z": z_n,
            "n_positions": p_n, "size_y": h, "size_x": w,
            "dtype": dt, "entries": entries}
