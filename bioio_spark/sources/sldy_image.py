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

Spark shape: the npy-per-plane-stack layout is already distributed —
one npy file per task off the planned read (path list known
driver-side), zero shuffle, the same lever as the TIFF glob series.
Metadata yaml parses driver-side with a dependency-free flat
``key: value`` reader (PyYAML is not in this container).
"""

from __future__ import annotations

import glob as _glob
import os
import re
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (PLANES_SCHEMA, WINDOW_SCHEMA,
                                         PlannedReader, norm_window,
                                         payload_frame, plan_pixels,
                                         plane_frame, scene_bytes, standardize)
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


def read_npy_header(path: str):
    """(shape, dtype) from the npy preamble only — numpy's published
    format spec: magic, version, little-endian header length, then a
    Python-literal dict with descr/fortran_order/shape. No data IO."""
    with open(path, "rb") as f:
        version = np.lib.format.read_magic(f)
        readers = {(1, 0): np.lib.format.read_array_header_1_0,
                   (2, 0): np.lib.format.read_array_header_2_0}
        reader = readers.get(tuple(version))
        if reader is None:               # 3.0 adds utf8 field names only
            reader = np.lib.format.read_array_header_2_0
        shape, fortran, dtype = reader(f)
        if fortran:
            raise ValueError(f"{path}: fortran-order npy not supported")
        return shape, dtype


def _npy_layout(path: str):
    """(shape, dtype, data_offset): like read_npy_header plus the byte
    offset where the C-order payload starts — the seek base for
    byte-range windowed reads."""
    with open(path, "rb") as f:
        version = np.lib.format.read_magic(f)
        readers = {(1, 0): np.lib.format.read_array_header_1_0,
                   (2, 0): np.lib.format.read_array_header_2_0}
        reader = readers.get(tuple(version),
                             np.lib.format.read_array_header_2_0)
        shape, fortran, dtype = reader(f)
        if fortran:
            raise ValueError(f"{path}: fortran-order npy not supported")
        return shape, dtype, f.tell()


def read_sldy_window(spark: SparkSession, path: str,
                     t=None, c=None, z=None, y=None, x=None,
                     scene: int = 0):
    """Window-pruned SLDY read: t/c selectors prune whole npy FILES
    (driver-side directory arithmetic), and because npy payloads are
    C-order ZYX, the (z, y) window of each surviving stack is ONE
    CONTIGUOUS BYTE RANGE per (z, y-run) — each task seek-reads exactly
    the window's rows; x prunes in numpy. Selector forms match the
    other window readers."""
    dirs = _scene_dirs(path)
    if not (0 <= scene < len(dirs)):
        raise IndexError(f"{path}: no scene {scene}")
    d = dirs[scene]
    files = {}
    for p in _glob.glob(os.path.join(d, "ImageData", "*.npy")):
        m = _NPY_RE.search(os.path.basename(p))
        if m:
            files[(int(m.group(1)), int(m.group(2)))] = os.path.abspath(p)
    if not files:
        raise FileNotFoundError(f"{d}: no T*_C*.npy stacks")
    t_n = max(t_ for t_, _ in files) + 1
    c_n = max(c_ for _, c_ in files) + 1
    shape, dtype, off0 = _npy_layout(files[(0, 0)])
    if len(shape) == 2:
        z_n, (y_n, x_n) = 1, shape
    else:
        z_n, y_n, x_n = shape
    t0, t1 = norm_window(t, t_n)
    c0, c1 = norm_window(c, c_n)
    z0, z1 = norm_window(z, z_n)
    y0, y1 = norm_window(y, y_n)
    x0, x1 = norm_window(x, x_n)
    row_bytes = x_n * dtype.itemsize
    plan = [{"path": files[(ti, ci)], "t": ti, "c": ci, "z": zi,
             # one contiguous row range per (z, y-window)
             "start": off0 + (zi * y_n + y0) * row_bytes,
             "nbytes": (y1 - y0) * row_bytes}
            for ti in range(t0, t1) for ci in range(c0, c1)
            for zi in range(z0, z1)]

    dtype_str = dtype.str

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples():
                buf = read_range(r.path, r.start, r.nbytes)
                rows = np.frombuffer(
                    buf, dtype=np.dtype(dtype_str)).reshape(
                    y1 - y0, x_n)
                yield plane_frame(rows[:, x0:x1], r.t, r.c, r.z,  # prune
                                  y0=y0, x0=x0)

    return plan_pixels(spark, plan, batches, WINDOW_SCHEMA,
                       nbytes=sum(r["nbytes"] for r in plan))


def read_sldy_planes(spark: SparkSession, path: str, scene: int = 0):
    """ZERO-SHUFFLE npy -> planes-layout read (the SLDY member of the
    planes family): each T{t}_C{c}.npy stack yields one payload row per
    Z plane — npy-per-task parallelism with no per-pixel rows."""
    dirs = _scene_dirs(path)
    if not (0 <= scene < len(dirs)):
        raise IndexError(f"{path}: no scene {scene}")
    d = dirs[scene]
    plan = []
    for p in _glob.glob(os.path.join(d, "ImageData", "*.npy")):
        m = _NPY_RE.search(os.path.basename(p))
        if m:
            plan.append({"path": os.path.abspath(p),
                         "t": int(m.group(1)), "c": int(m.group(2))})
    if not plan:
        raise FileNotFoundError(f"{d}: no T*_C*.npy stacks")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples():
                stack = np.load(r.path)
                if stack.ndim == 2:
                    stack = stack[None]
                for z in range(stack.shape[0]):
                    yield payload_frame(stack[z], r.t, r.c, z)

    return plan_pixels(spark, plan, batches, PLANES_SCHEMA,
                       nbytes=sum(os.path.getsize(r["path"])
                                  for r in plan))


class SldyImageReader(PlannedReader):
    """BioImage reader over SlideBook npy-export directories."""

    EXTENSIONS = (".sldy", ".dir")
    DIM_ORDER_ERROR = "SlideBook stacks are ZYX per (T, C) npy file"

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str):
            return False
        if not image.lower().rstrip("/").endswith(cls.EXTENSIONS):
            return False
        return bool(_scene_dirs(image))

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        return read_sldy_window(spark, self._path,
                                t=t, c=c, z=z, y=y, x=x,
                                scene=img.current_scene_index)

    def read_planes(self, spark, img):
        return read_sldy_planes(spark, self._path,
                                scene=img.current_scene_index)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
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
            shape, dtype = read_npy_header(files[(0, 0)])
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
            for (t, c), p in files.items():
                plan.append({"path": os.path.abspath(p), "scene": scene,
                             "t": t, "c": c})

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for r in pdf.itertuples():
                    stack = np.load(r.path)
                    if stack.ndim == 2:
                        stack = stack[None]
                    z_n, y_n, x_n = stack.shape
                    yield pd.DataFrame({
                        "scene": r.scene,
                        "t": np.full(stack.size, r.t, np.int32),
                        "c": np.full(stack.size, r.c, np.int32),
                        "z": np.repeat(np.arange(z_n, dtype=np.int32),
                                       y_n * x_n),
                        "y": np.tile(np.repeat(
                            np.arange(y_n, dtype=np.int32), x_n), z_n),
                        "x": np.tile(np.arange(x_n, dtype=np.int32),
                                     z_n * y_n),
                        "value": stack.ravel().astype(np.float64),
                    })

        px = standardize(
            plan_pixels(spark, plan, batches,
                        "scene string, " + WINDOW_SCHEMA,
                        nbytes=scene_bytes(scenes)),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
