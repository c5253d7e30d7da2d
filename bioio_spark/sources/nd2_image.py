"""ND2 reader (.nd2) — the reference's bioio-nd2 plugin tier (ref
README.md:63), over the in-repo pure-Python chunk-map codec
(bioio_spark.formats.nd2).

- **Catalog (driver-side)**: tail-seek the chunk map, decode the
  ImageAttributesLV tree (width/height/components/bit depth/sequence
  count) and ImageTextInfoLV channel names — a few KB of IO.
- **Pixels (executor-side)**: one plan row per ImageDataSeq FRAME
  (chunk offset + geometry from the map); each task seek-reads its
  frame and de-interleaves components into the c column — parallelism
  = frame count, zero shuffle, one ranged GET per frame at
  object-store scale.

The SLxExperiment loop structure (ImageMetadataLV!) factorizes the
frame sequence: TimeLoop/NETimeLoop -> T, ZStackLoop -> Z, and
XYPosLoop -> one SCENE per stage position (the reference's bioio-nd2
multi-position mapping), any nesting order. Custom/unknown loop types
(and files without the chunk) fall back to the flat T series,
documented in formats/nd2.py."""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (PLANES_SCHEMA, WINDOW_SCHEMA,
                                         PlannedReader, empty_window,
                                         norm_window, payload_frame,
                                         plan_pixels, plane_frame, scene_bytes,
                                         standardize, with_tile)


def read_nd2_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None,
                    scene: int = 0):
    """Window-pruned ND2 read: t/z selectors prune whole frame CHUNKS
    via the chunk map + loop factorization (driver-side, a few KB of
    IO), and the y window turns into a BYTE RANGE inside each surviving
    chunk (rows are stored contiguously, so only the window's rows'
    bytes are read — one ranged GET per frame at object-store scale);
    c/x prune in numpy on the de-interleave, no residual filter needed.
    ``scene`` selects the XYPosLoop stage position for multi-position
    files. Selector forms match the other window readers: None, int, or
    (start, stop)/slice half-open windows."""
    from bioio_spark.formats.nd2 import (nd2_seq_coords,
                                         read_nd2_attributes,
                                         read_nd2_chunkmap,
                                         read_nd2_experiment,
                                         resolve_nd2_loops)

    path = os.path.abspath(path)
    attrs = read_nd2_attributes(path)
    cmap = read_nd2_chunkmap(path)
    seq_n = attrs["uiSequenceCount"]
    c_n = attrs["uiComp"]
    y_n, x_n = attrs["uiHeight"], attrs["uiWidth"]
    itemsize = 1 if attrs["uiBpcInMemory"] == 8 else 2
    kinds = resolve_nd2_loops(read_nd2_experiment(path), seq_n)
    if kinds is None:
        kinds = [("t", seq_n)]
    t_n = z_n = p_n = 1
    for kind, count in kinds:
        t_n, z_n, p_n = (t_n * count if kind == "t" else t_n,
                         z_n * count if kind == "z" else z_n,
                         p_n * count if kind == "p" else p_n)
    if not (0 <= scene < p_n):
        raise IndexError(f"{path}: no position {scene} "
                         f"({p_n} position(s))")
    t0, t1 = norm_window(t, t_n)
    c0, c1 = norm_window(c, c_n)
    z0, z1 = norm_window(z, z_n)
    y0, y1 = norm_window(y, y_n)
    x0, x1 = norm_window(x, x_n)
    row_bytes = x_n * c_n * itemsize
    plan = []
    for seq in range(seq_n):
        co = nd2_seq_coords(kinds, seq)
        if co["p"] != scene or not (t0 <= co["t"] < t1
                                    and z0 <= co["z"] < z1):
            continue
        name = f"ImageDataSeq|{seq}!"
        if name not in cmap:
            raise KeyError(f"{path}: missing frame chunk {name}")
        off, _size = cmap[name]
        plan.append({"path": path, "seq": seq, "t": co["t"],
                     "z": co["z"], "offset": off,
                     # +8 skips the frame's timestamp double
                     "start": 8 + y0 * row_bytes,
                     "nbytes": (y1 - y0) * row_bytes})

    if not plan:
        return empty_window(spark)
    dt_name = "u1" if itemsize == 1 else "<u2"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bioio_spark.formats.nd2 import read_nd2_chunk_slice

        for pdf in it:
            for r in pdf.itertuples():
                data = read_nd2_chunk_slice(
                    r.path, f"ImageDataSeq|{r.seq}!", int(r.offset),
                    int(r.start), int(r.nbytes))
                rows = (np.frombuffer(data, dtype=np.dtype(dt_name))
                        .reshape(y1 - y0, x_n, c_n))
                win = rows[:, x0:x1, c0:c1]          # exact numpy prune
                for ci in range(c1 - c0):
                    yield plane_frame(win[:, :, ci], r.t, c0 + ci, r.z,
                                      y0=y0, x0=x0)

    return plan_pixels(spark, plan, batches, WINDOW_SCHEMA,
                       nbytes=sum(r["nbytes"] for r in plan))


def read_nd2_planes(spark: SparkSession, path: str, scene: int = 0):
    """ZERO-SHUFFLE frame -> planes-layout read (the ND2 member of the
    planes family): one payload row per (frame, component) plane,
    de-interleaved executor-side. ``scene`` = XYPosLoop stage
    position."""
    from bioio_spark.formats.nd2 import (nd2_seq_coords,
                                         read_nd2_attributes,
                                         read_nd2_chunkmap,
                                         read_nd2_experiment,
                                         resolve_nd2_loops)

    path = os.path.abspath(path)
    attrs = read_nd2_attributes(path)
    cmap = read_nd2_chunkmap(path)
    seq_n = attrs["uiSequenceCount"]
    c_n = attrs["uiComp"]
    y_n, x_n = attrs["uiHeight"], attrs["uiWidth"]
    dt_name = "u1" if attrs["uiBpcInMemory"] == 8 else "<u2"
    kinds = resolve_nd2_loops(read_nd2_experiment(path), seq_n)
    if kinds is None:
        kinds = [("t", seq_n)]
    p_n = 1
    for kind, count in kinds:
        if kind == "p":
            p_n *= count
    if not (0 <= scene < p_n):
        raise IndexError(f"{path}: no position {scene}")
    plan = []
    for seq in range(seq_n):
        co = nd2_seq_coords(kinds, seq)
        if co["p"] != scene:
            continue
        off, size = cmap[f"ImageDataSeq|{seq}!"]
        plan.append({"path": path, "seq": seq, "t": co["t"],
                     "z": co["z"], "offset": off, "size": size})

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bioio_spark.formats.nd2 import read_nd2_chunk

        for pdf in it:
            for r in pdf.itertuples():
                data = read_nd2_chunk(
                    r.path, f"ImageDataSeq|{r.seq}!",
                    int(r.offset), int(r.size))
                a = np.frombuffer(
                    data, dtype=np.dtype(dt_name), offset=8,
                    count=y_n * x_n * c_n)
                frame = (a.reshape(y_n, x_n, c_n)
                         .transpose(2, 0, 1))
                for c in range(c_n):
                    yield payload_frame(frame[c], r.t, c, r.z)

    nbytes = len(plan) * c_n * y_n * x_n * np.dtype(dt_name).itemsize
    return with_tile(plan_pixels(spark, plan, batches, PLANES_SCHEMA,
                                 nbytes=nbytes), (y_n, x_n))


class Nd2ImageReader(PlannedReader):
    """BioImage reader over baseline ND2 files (plugin tier)."""

    EXTENSIONS = (".nd2",)
    DIM_ORDER_ERROR = "ND2 dimensions come from the attribute chunks"

    @classmethod
    def is_supported_image(cls, image) -> bool:
        import struct

        if not isinstance(image, str) or not \
                image.lower().endswith(cls.EXTENSIONS):
            return False
        try:
            with open(image, "rb") as f:
                head = f.read(4)
            return len(head) == 4 and struct.unpack(
                "<I", head)[0] == 0x0ABECEDA
        except OSError:
            return False

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if os.path.isfile(self._path):
            return read_nd2_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x,
                                   scene=img.current_scene_index)
        return None

    def read_planes(self, spark, img):
        if os.path.isfile(self._path):
            return read_nd2_planes(spark, self._path,
                                   scene=img.current_scene_index)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.nd2 import (decode_lv, nd2_seq_coords,
                                             read_nd2_attributes,
                                             read_nd2_chunk,
                                             read_nd2_chunkmap,
                                             read_nd2_experiment,
                                             read_nd2_time_interval,
                                             resolve_nd2_loops)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        path = os.path.abspath(self._path)
        attrs = read_nd2_attributes(path)
        cmap = read_nd2_chunkmap(path)
        seq_n = attrs["uiSequenceCount"]
        c_n = attrs["uiComp"]
        y_n, x_n = attrs["uiHeight"], attrs["uiWidth"]
        dtype = "uint8" if attrs["uiBpcInMemory"] == 8 else "uint16"

        # SLxExperiment resolution: TimeLoop/NETimeLoop -> T, ZStackLoop
        # -> Z, XYPosLoop -> SCENES (the reference's bioio-nd2 maps
        # multi-position acquisitions to one scene per stage position);
        # unknown loop types keep the flat-T fallback
        kinds = resolve_nd2_loops(read_nd2_experiment(path), seq_n)
        if kinds is None:
            kinds = [("t", seq_n)]
        t_n = z_n = p_n = 1
        for kind, count in kinds:
            if kind == "t":
                t_n *= count
            elif kind == "z":
                z_n *= count
            else:
                p_n *= count

        names = self._channel_names
        if names is None and "ImageTextInfoLV!" in cmap:
            ti = decode_lv(read_nd2_chunk(
                path, "ImageTextInfoLV!", *cmap["ImageTextInfoLV!"]))
            items = ti.get("SLxImageTextInfo", {})
            got = [items[k] for k in sorted(items)
                   if k.startswith("TextInfoItem_")]
            if len(got) == c_n:
                names = got
        pps = self._pps
        if pps is None and attrs.get("dCalibration"):
            from bioio_spark.formats.nd2 import read_nd2_z_step

            cal = float(attrs["dCalibration"])
            pps = PhysicalPixelSizes(Z=read_nd2_z_step(path),
                                     Y=cal, X=cal)
        time_interval = read_nd2_time_interval(path)

        scene_ids = [f"Image:{p}" for p in range(p_n)]
        channels, scenes = [], []
        for p, scene in enumerate(scene_ids):
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(names, c_n, p))
            scenes.append(scene_row(
                self._image_id, scene, p, dtype,
                dict(T=t_n, C=c_n, Z=z_n, Y=y_n, X=x_n), pps=pps,
                time_interval=time_interval))
        plan = []
        for seq in range(seq_n):
            name = f"ImageDataSeq|{seq}!"
            if name not in cmap:
                raise KeyError(f"{path}: missing frame chunk {name}")
            off, size = cmap[name]
            # mixed-radix decomposition, innermost loop fastest
            co = nd2_seq_coords(kinds, seq)
            plan.append({"path": path, "seq": seq, "t": co["t"],
                         "z": co["z"], "scene": scene_ids[co["p"]],
                         "offset": off, "size": size})
        n_comp, height, width, dt_name = c_n, y_n, x_n, dtype

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.nd2 import read_nd2_chunk

            for pdf in it:
                for r in pdf.itertuples():
                    data = read_nd2_chunk(
                        r.path, f"ImageDataSeq|{r.seq}!",
                        int(r.offset), int(r.size))
                    dt = np.dtype("u1" if dt_name == "uint8"
                                  else "<u2")
                    a = np.frombuffer(
                        data, dtype=dt, offset=8,
                        count=width * height * n_comp)
                    # component-interleaved -> (c, y, x)
                    frame = (a.reshape(height, width, n_comp)
                             .transpose(2, 0, 1))
                    for c in range(n_comp):
                        yield plane_frame(frame[c], r.t, c, r.z,
                                          scene=r.scene)

        px = standardize(
            plan_pixels(spark, plan, batches,
                        "scene string, " + WINDOW_SCHEMA,
                        nbytes=scene_bytes(scenes)),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
