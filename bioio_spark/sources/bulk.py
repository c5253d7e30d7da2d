"""Distributed bulk catalog: executor-side metadata walk over an
acquisition DIRECTORY, feeding the existing per-file planned readers.

Every planned source catalogs ONE file driver-side (fine per image —
the D8 metadata-only contract — but a serialization point for a real
acquisition directory of millions of files). ``bulk_catalog`` lifts
the same catalog walks onto executors: parallelize the path list ->
``mapInPandas`` batch catalog -> one row per file, with per-file
errors captured as rows (ok=false, err) instead of failing the job —
at directory scale SOME files are always truncated or foreign, and a
catalog stage that dies on the first one never finishes. The output
frame is the input to the per-file read plans, admission control, or
partition planning; no pixel IO happens here.

Formats: TIFF/OME-TIFF (shared IFD walk), DNG (raw-IFD catalog), PNG
(IHDR header), CZI (segment directory walk), ND2 (tail chunk map +
attributes), LIF (block walk + XML scenes), OME-Zarr v2/v3 (store
metadata documents). Each entry reuses the reader tier's existing
driver-side catalog walk verbatim on executors — the dispatch table is
the extension point; a real acquisition directory is a MIX of these.

Reference parity: bioio routes directories only file-at-a-time through
``BioImage`` construction (ref ``bio_image.py``); the bulk stage is
the scale path this engine adds.
"""

from __future__ import annotations

import os
import struct
from typing import Iterator

CATALOG_SCHEMA = ("path string, fmt string, ok boolean, err string, "
                  "n_pages int, size_y int, size_x int, dtype string, "
                  "n_chunks int, n_bytes bigint")

_COLUMNS = ["path", "fmt", "ok", "err", "n_pages", "size_y", "size_x",
            "dtype", "n_chunks", "n_bytes"]


def _catalog_tiff(path: str) -> dict:
    from bioio_spark.formats.tiff import iter_tiff_chunks

    pages = iter_tiff_chunks(path)
    p0 = pages[0]
    return {"fmt": "tiff", "n_pages": len(pages),
            "size_y": p0["h"], "size_x": p0["w"],
            "dtype": str(p0["dtype"]),
            "n_chunks": sum(len(p["chunks"]) for p in pages)}


def _catalog_dng(path: str) -> dict:
    from bioio_spark.formats.dng import read_dng_catalog

    cat = read_dng_catalog(path)
    return {"fmt": "dng", "n_pages": 1,
            "size_y": cat["size_y"], "size_x": cat["size_x"],
            "dtype": str(cat["dtype"]),
            "n_chunks": len(cat["chunks"])}


def _catalog_png(path: str) -> dict:
    # IHDR is mandatory-first (PNG spec 11.2.2): signature(8) +
    # len/type(8) + width/height/depth/color — a 26-byte ranged read
    with open(path, "rb") as f:
        head = f.read(26)
    if head[:8] != b"\x89PNG\r\n\x1a\n" or head[12:16] != b"IHDR":
        raise ValueError(f"{path}: not a PNG (bad signature/IHDR)")
    w, h = struct.unpack(">II", head[16:24])
    depth = head[24]
    return {"fmt": "png", "n_pages": 1, "size_y": h, "size_x": w,
            "dtype": "<u2" if depth == 16 else "|u1", "n_chunks": 1}


def _catalog_czi(path: str) -> dict:
    # the CziImageReader planning walk (sources/czi_image.py): segment
    # directory entries, no pixel IO
    import numpy as np

    from bioio_spark.formats.czi import (DTYPE_OF_PIXEL_TYPE,
                                         read_czi_directory)

    entries = read_czi_directory(path)
    if not entries:
        raise ValueError(f"{path}: CZI directory has no subblocks")
    dt, _samples = DTYPE_OF_PIXEL_TYPE[entries[0]["pixel_type"]]
    h = max(e["dims"]["Y"]["stored"] or e["dims"]["Y"]["size"]
            for e in entries)
    w = max(e["dims"]["X"]["stored"] or e["dims"]["X"]["size"]
            for e in entries)
    return {"fmt": "czi", "n_pages": len(entries),
            "size_y": int(h), "size_x": int(w),
            "dtype": np.dtype(dt).newbyteorder("=").name,
            "n_chunks": len(entries)}


def _catalog_nd2(path: str) -> dict:
    # the Nd2ImageReader planning walk: tail-seek chunk map +
    # ImageAttributesLV — header-only IO
    from bioio_spark.formats.nd2 import (read_nd2_attributes,
                                         read_nd2_chunkmap)

    attrs = read_nd2_attributes(path)
    cmap = read_nd2_chunkmap(path)
    frames = sum(1 for k in cmap if k.startswith("ImageDataSeq|"))
    return {"fmt": "nd2", "n_pages": int(attrs["uiSequenceCount"]),
            "size_y": int(attrs["uiHeight"]),
            "size_x": int(attrs["uiWidth"]),
            "dtype": ("uint8" if attrs["uiBpcInMemory"] == 8
                      else "uint16"),
            "n_chunks": frames}


def _catalog_lif(path: str) -> dict:
    # the LifImageReader planning walk: block offsets + XML scene
    # strides (parse_lif_header also routes single-object LOF)
    from bioio_spark.formats.lif import parse_lif_header

    header = parse_lif_header(path)
    scenes = header["scenes"]
    if not scenes:
        raise ValueError(f"{path}: LIF XML declares no image scenes")
    n_pages = sum(sc["shape"][0] * sc["shape"][1] * sc["shape"][2]
                  * sc.get("m_n", 1) for sc in scenes)
    return {"fmt": "lif", "n_pages": int(n_pages),
            "size_y": max(int(sc["shape"][3]) for sc in scenes),
            "size_x": max(int(sc["shape"][4]) for sc in scenes),
            "dtype": str(scenes[0]["dtype"]),
            "n_chunks": len(header["blocks"])}


def _catalog_zarr(path: str) -> dict:
    # the ZarrImageReader planning walk: the store's metadata documents
    # (v2 .zarray/.zattrs or v3 zarr.json) at full resolution — plus a
    # store walk for total bytes (a zarr store is a DIRECTORY; its
    # "file size" is the sum of its objects)
    import math

    from bioio_spark.sources.zarr_image import store_levels

    _attrs, _doc, _axes, levels = store_levels(path)
    za = levels[0][2]
    shape, chunks = za["shape"], za["chunks"]
    n_pages = 1
    for s in shape[:-2]:
        n_pages *= int(s)
    n_chunks = 1
    for s, c in zip(shape, chunks):
        n_chunks *= math.ceil(s / c)
    n_bytes = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
    return {"fmt": "zarr", "n_pages": n_pages,
            "size_y": int(shape[-2]) if len(shape) >= 2 else 1,
            "size_x": int(shape[-1]),
            "dtype": str(za["dtype"]), "n_chunks": n_chunks,
            "n_bytes": n_bytes}


_DISPATCH = {
    ".tif": _catalog_tiff, ".tiff": _catalog_tiff,
    ".dng": _catalog_dng,
    ".png": _catalog_png,
    ".czi": _catalog_czi,
    ".nd2": _catalog_nd2,
    ".lif": _catalog_lif, ".lof": _catalog_lif,
    ".zarr": _catalog_zarr,
}


def catalog_one(path: str) -> dict:
    """Catalog a single file (the function the executors run): full
    row dict per CATALOG_SCHEMA; failures become (ok=false, err)."""
    row = {c: None for c in _COLUMNS}
    row["path"] = path
    ext = os.path.splitext(path)[1].lower()
    row["fmt"] = ext.lstrip(".") or "?"
    try:
        fn = _DISPATCH.get(ext)
        if fn is None:
            raise ValueError(f"unsupported extension {ext!r} "
                             f"(bulk catalog handles "
                             f"{sorted(_DISPATCH)})")
        row.update(fn(path))
        if row.get("n_bytes") is None:
            row["n_bytes"] = os.path.getsize(path)
        row["ok"] = True
        row["err"] = None
    except Exception as exc:
        row["ok"] = False
        row["err"] = f"{type(exc).__name__}: {exc}"[:200]
    return row


def bulk_catalog(spark, paths, n_partitions: int = 0):
    """Executor-side catalog of `paths` -> DataFrame(CATALOG_SCHEMA).

    The path list is parallelized (it is the 100 TB directory listing
    — millions of rows, trivially distributable) and the per-file
    catalog walk runs inside ``mapInPandas``: every partition opens
    its own files, so a 1000-executor cluster catalogs a million-file
    directory in parallel instead of serializing ranged reads through
    the driver. Deterministic row content; no pixel IO."""
    import pandas as pd

    from bioio_spark.sources.planned import plan_width

    paths = list(paths)
    n = n_partitions or max(1, plan_width(spark, len(paths)))
    pdf = spark.createDataFrame([(p,) for p in paths],
                                "path string").repartition(n)

    def walk(batches: Iterator) -> Iterator:
        for b in batches:
            rows = [catalog_one(p) for p in b["path"]]
            yield pd.DataFrame(
                rows if rows else None, columns=_COLUMNS)

    return pdf.mapInPandas(walk, CATALOG_SCHEMA)
