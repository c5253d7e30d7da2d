"""SlideBook (.sldy / .dir) reader — the reference's bioio-sldy plugin
tier (ref README.md:67).

3i SlideBook's open export is a DIRECTORY of numpy ``.npy`` files plus
yaml metadata records: each image directory carries per-record yaml
documents (``ImageRecord.yaml``, ``ChannelRecord.yaml``) and an
``ImageData/`` folder with one npy stack per (timepoint, channel) —
the npy format itself is numpy's published spec, so the data tier is
fully open. This module implements that structure: scene = one image
directory, npy file ``ImageData/T{t}_C{c}.npy`` = one ZYX stack (2D
YX planes load as Z=1). The exact record field vocabulary is 3i's; the
reader takes the subset the BioImage catalog needs (name, channel
names, physical pixel sizes) and preserves the raw yaml text as scene
metadata.

Spark shape: a C-order npy payload holds each Z plane as one contiguous
byte range after its preamble, so the plan has one row per (T, C, Z)
plane and each task seek-reads exactly its planes — zero shuffle, the
raw-plane lever of the DV and MRC readers.
Metadata yaml parses driver-side with a dependency-free flat
``key: value`` reader (PyYAML is not in this container).
"""

from __future__ import annotations

import glob as _glob
import os
import re

import numpy as np

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)

_NPY_RE = re.compile(r"T(\d+)_C(\d+)\.npy$")


def parse_flat_yaml(text: str) -> dict:
    """Minimal flat ``key: value`` yaml subset (no nesting/anchors):
    enough for the SlideBook record documents' scalar fields and
    ``[a, b, c]`` inline lists."""
    out: dict = {}
    for line in text.splitlines():
        line = line.split("#", 1)[0].rstrip()
        if ":" not in line or line.startswith(" "):
            continue
        k, v = line.split(":", 1)
        v = v.strip()
        if not v:
            continue
        if v.startswith("[") and v.endswith("]"):
            items = [i.strip().strip("'\"")
                     for i in v[1:-1].split(",") if i.strip()]
            out[k.strip()] = items
            continue
        v = v.strip("'\"")
        try:
            out[k.strip()] = int(v)
        except ValueError:
            try:
                out[k.strip()] = float(v)
            except ValueError:
                out[k.strip()] = v
    return out


def _scene_dirs(image: str) -> list[str]:
    """A .sldy/.dir directory is either ONE image dir (has ImageData/)
    or a slide of several image subdirs."""
    if not os.path.isdir(image):
        return []
    if os.path.isdir(os.path.join(image, "ImageData")):
        return [image]
    return sorted(
        d for d in _glob.glob(os.path.join(image, "*"))
        if os.path.isdir(os.path.join(d, "ImageData")))


def _npy_layout(path: str):
    """(shape, dtype, data_offset) from the npy preamble only — numpy's
    published format spec: magic, version, little-endian header length,
    then a Python-literal dict with descr/fortran_order/shape; the
    C-order payload starts right after it. No data IO."""
    with open(path, "rb") as f:
        version = np.lib.format.read_magic(f)
        readers = {(1, 0): np.lib.format.read_array_header_1_0,
                   (2, 0): np.lib.format.read_array_header_2_0}
        # 3.0 adds utf8 field names only
        reader = readers.get(tuple(version),
                             np.lib.format.read_array_header_2_0)
        shape, fortran, dtype = reader(f)
        if fortran:
            raise ValueError(f"{path}: fortran-order npy not supported")
        return shape, dtype, f.tell()


def read_npy_header(path: str):
    """(shape, dtype) of an npy file, from its preamble only."""
    return _npy_layout(path)[:2]


class SldyImageReader(PlannedReader):
    """BioImage reader over SlideBook npy-export directories."""

    EXTENSIONS = (".sldy", ".dir")
    DIM_ORDER_ERROR = "SlideBook stacks are ZYX per (T, C) npy file"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str):
            return False
        if not image.lower().rstrip("/").endswith(cls.EXTENSIONS):
            return False
        return bool(_scene_dirs(image))

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        dirs = _scene_dirs(self._path)
        if not dirs:
            raise FileNotFoundError(
                f"No SlideBook image dirs (ImageData/) under {self._path}")

        scenes, channels, plan = [], [], []
        for si, d in enumerate(dirs):
            files = {}
            for p in _glob.glob(os.path.join(d, "ImageData", "*.npy")):
                m = _NPY_RE.search(os.path.basename(p))
                if m:
                    files[(int(m.group(1)), int(m.group(2)))] = p
            if not files:
                raise FileNotFoundError(
                    f"{d}: no T*_C*.npy stacks under ImageData/")
            t_n = max(t for t, _ in files) + 1
            c_n = max(c for _, c in files) + 1
            if len(files) != t_n * c_n:
                raise ValueError(
                    f"{d}: {len(files)} npy stacks do not fill the "
                    f"{t_n}x{c_n} (T, C) grid")
            layout = {k: _npy_layout(p) for k, p in files.items()}
            shape, dtype, _off = layout[(0, 0)]
            if len(shape) == 2:
                z_n, (y_n, x_n) = 1, shape
            elif len(shape) == 3:
                z_n, y_n, x_n = shape
            else:
                raise ValueError(
                    f"{files[(0, 0)]}: npy stacks must be YX or ZYX, "
                    f"got shape {shape}")

            meta_doc, rec = None, {}
            rec_path = os.path.join(d, "ImageRecord.yaml")
            if os.path.exists(rec_path):
                meta_doc = open(rec_path).read()
                rec = parse_flat_yaml(meta_doc)
            names = self._channel_names
            ch_path = os.path.join(d, "ChannelRecord.yaml")
            if names is None and os.path.exists(ch_path):
                ch = parse_flat_yaml(open(ch_path).read())
                got = ch.get("channel_names") or ch.get("ChannelNames")
                if isinstance(got, list) and len(got) == c_n:
                    names = got
            pps = self._pps
            if pps is None:
                mz = rec.get("microns_per_pixel_z") or rec.get("ZStep")
                myx = rec.get("microns_per_pixel") or rec.get("XYSize")
                if mz or myx:
                    pps = PhysicalPixelSizes(
                        Z=float(mz) if mz else None,
                        Y=float(myx) if myx else None,
                        X=float(myx) if myx else None)

            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(names, c_n, si))
            scenes.append(scene_row(
                self._image_id, scene, si, dtype,
                dict(T=t_n, C=c_n, Z=z_n, Y=y_n, X=x_n), pps=pps,
                time_interval=rec.get("time_interval"),
                metadata=meta_doc))
            for (t, c), (shape_tc, dtype_tc, off) in layout.items():
                if (shape_tc, dtype_tc) != (shape, dtype):
                    raise ValueError(
                        f"{files[(t, c)]}: npy stack {shape_tc} "
                        f"{dtype_tc} differs from {shape} {dtype}")
                plan += [{"path": os.path.abspath(files[(t, c)]),
                          "scene": scene, "t": t, "c": c, "z": z,
                          "offset": off + z * y_n * x_n * dtype.itemsize,
                          "nbytes": y_n * x_n * dtype.itemsize,
                          "dtype": dtype.str} for z in range(z_n)]
        return Plan(plan, scenes, channels)
