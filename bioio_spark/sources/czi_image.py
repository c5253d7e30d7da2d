"""CZI reader (.czi) — the reference's headline vendor plugin tier
(bioio-czi, ref README.md:59), over the in-repo pure-Python ZISRAW
baseline codec (bioio_spark.formats.czi).

- **Catalog (driver-side)**: the file-header segment + subblock
  DIRECTORY + metadata XML — a few KB of seek reads; no pixel bytes.
  S entries become scenes, M entries mosaic tiles (a tiles table the
  M1 stitch operator consumes), channel names come from the XML's
  ``<Channel Name>`` attributes and physical pixel sizes from
  ``<Scaling>`` distances (meters -> µm).
- **Pixels (executor-side)**: the driver distributes one plan row per
  SUBBLOCK (file position + geometry); each task seek-reads exactly
  its block (`read_czi_subblock`) — CZI is a chunk-grid container like
  Zarr, so read parallelism = subblock count with zero shuffle, and at
  object-store scale each task is one ranged GET.

Bgr24 subblocks decode to S=3 RGB planes (the reference exposes RGB
CZIs the same way)."""

from __future__ import annotations

import os
import re
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         grid_tile, norm_window,
                                         payload_frame, plan_pixels,
                                         plane_frame, trim, with_tile)


def _xml_channel_names(xml: str) -> list[str]:
    return re.findall(r'<Channel[^>]*\bName="([^"]*)"', xml or "")


def _xml_scaling_um(xml: str) -> dict:
    """Scaling distances (spec stores meters) -> µm per axis id."""
    out = {}
    for m in re.finditer(
            r'<Distance[^>]*\bId="([XYZ])"[^>]*>.*?<Value>([^<]+)</Value>',
            xml or "", re.S):
        try:
            out[m.group(1)] = float(m.group(2)) * 1e6
        except ValueError:
            pass
    return out


def _start(dims: dict, name: str, default: int = 0) -> int:
    return dims[name]["start"] if name in dims else default


def _subblock(r) -> np.ndarray:
    """Decode the subblock a plan row points at (file_position,
    pixel_type, compression, stored h x w)."""
    from bioio_spark.formats.czi import read_czi_subblock

    entry = {"file_position": int(r.file_position),
             "pixel_type": int(r.pixel_type),
             "compression": int(r.compression),
             "dims": {"Y": {"stored": int(r.h), "size": int(r.h)},
                      "X": {"stored": int(r.w), "size": int(r.w)}}}
    return read_czi_subblock(r.path, entry)


def _gray_subblock(r) -> np.ndarray:
    """The window and planes paths are gray-only: first sample."""
    plane = _subblock(r)
    return plane[:, :, 0] if plane.ndim == 3 else plane


def _subblock_bytes(plan) -> int:
    """Decoded size of a subblock plan (stored ``h`` x ``w`` of each
    row's ``pixel_type``)."""
    from bioio_spark.formats.czi import DTYPE_OF_PIXEL_TYPE

    size = {pt: np.dtype(dt).itemsize * n
            for pt, (dt, n) in DTYPE_OF_PIXEL_TYPE.items()}
    return sum(r["h"] * r["w"] * size[r["pixel_type"]] for r in plan)


def read_czi_window(spark: SparkSession, path: str,
                    t=None, c=None, z=None, y=None, x=None,
                    scene: int = 0):
    """Window-pruned CZI read: the subblock DIRECTORY (a few KB of
    seek reads) turns selectors into the exact set of intersecting
    subblocks — t/c/z prune whole blocks, the y/x window prunes mosaic
    tiles by their stored extents; executors seek-read only surviving
    blocks and a codegen filter trims the residual. Mosaic coordinates
    come out GLOBAL (tile start + in-tile offset), so the window frame
    composes directly with stitching semantics.

    Selector forms match the other window readers: None, int, or
    (start, stop)/slice half-open windows."""
    from bioio_spark.formats.czi import read_czi_directory

    path = os.path.abspath(path)
    entries = [e for e in read_czi_directory(path)
               if _start(e["dims"], "S") == scene]
    if not entries:
        raise IndexError(f"{path}: no subblocks for scene {scene}")
    entries = [e for e in entries
               if e["dims"]["Y"]["stored"] in
               (0, e["dims"]["Y"]["size"]) and not e.get("pyramid")]
    t_n = max(_start(e["dims"], "T") for e in entries) + 1
    c_n = max(_start(e["dims"], "C") for e in entries) + 1
    z_n = max(_start(e["dims"], "Z") for e in entries) + 1
    y_min = min(_start(e["dims"], "Y") for e in entries)
    x_min = min(_start(e["dims"], "X") for e in entries)
    y_max = max(_start(e["dims"], "Y") + e["dims"]["Y"]["size"]
                for e in entries) - y_min
    x_max = max(_start(e["dims"], "X") + e["dims"]["X"]["size"]
                for e in entries) - x_min
    t0, t1 = norm_window(t, t_n)
    c0, c1 = norm_window(c, c_n)
    z0, z1 = norm_window(z, z_n)
    y0, y1 = norm_window(y, y_max)
    x0, x1 = norm_window(x, x_max)
    plan = []
    for e in entries:
        d = e["dims"]
        ty0 = _start(d, "Y") - y_min
        tx0 = _start(d, "X") - x_min
        h = d["Y"]["stored"] or d["Y"]["size"]
        w = d["X"]["stored"] or d["X"]["size"]
        if not (t0 <= _start(d, "T") < t1 and c0 <= _start(d, "C") < c1
                and z0 <= _start(d, "Z") < z1
                and ty0 < y1 and ty0 + h > y0
                and tx0 < x1 and tx0 + w > x0):
            continue
        plan.append({"path": path, "t": _start(d, "T"),
                     "c": _start(d, "C"), "z": _start(d, "Z"),
                     "m": _start(d, "M") if "M" in d else -1,
                     "file_position": e["file_position"],
                     "pixel_type": e["pixel_type"],
                     "compression": e["compression"],
                     "y0": ty0, "x0": tx0, "h": h, "w": w})

    schema = "m int, " + WINDOW_SCHEMA
    if not plan:
        return spark.createDataFrame([], schema)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples():
                yield plane_frame(_gray_subblock(r), r.t, r.c, r.z,
                                  y0=r.y0, x0=r.x0, m=r.m)

    return trim(plan_pixels(spark, plan, batches, schema,
                            nbytes=_subblock_bytes(plan)),
                y=(y0, y1), x=(x0, x1))


def read_czi_planes(spark: SparkSession, path: str,
                    scene: int = 0) -> DataFrame:
    """ZERO-SHUFFLE subblock -> planes-layout read (the CZI twin of
    read_zarr_planes): one row per level-0 subblock carrying
    (t, c, z, m, y0, x0, h, w) and the dense row-major ``values``
    payload — no per-pixel row amplification, so decode throughput is
    bounded by the codec, not by long-form materialization. Compose
    with operators/planes.py (window slice, project, downsample) or
    reduce payloads JVM-side with higher-order functions."""
    from bioio_spark.formats.czi import read_czi_directory

    path = os.path.abspath(path)
    entries = [e for e in read_czi_directory(path)
               if _start(e["dims"], "S") == scene]
    entries = [e for e in entries
               if e["dims"]["Y"]["stored"] in
               (0, e["dims"]["Y"]["size"]) and not e.get("pyramid")]
    if not entries:
        raise IndexError(f"{path}: no level-0 subblocks for scene "
                         f"{scene}")
    y_min = min(_start(e["dims"], "Y") for e in entries)
    x_min = min(_start(e["dims"], "X") for e in entries)
    plan = []
    for e in entries:
        d = e["dims"]
        plan.append({"path": path, "t": _start(d, "T"),
                     "c": _start(d, "C"), "z": _start(d, "Z"),
                     "m": _start(d, "M") if "M" in d else -1,
                     "file_position": e["file_position"],
                     "pixel_type": e["pixel_type"],
                     "compression": e["compression"],
                     "y0": _start(d, "Y") - y_min,
                     "x0": _start(d, "X") - x_min,
                     "h": d["Y"]["stored"] or d["Y"]["size"],
                     "w": d["X"]["stored"] or d["X"]["size"]})

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for r in pdf.itertuples():
                yield payload_frame(_gray_subblock(r), r.t, r.c, r.z,
                                    y0=r.y0, x0=r.x0, m=r.m)

    planes = plan_pixels(
        spark, plan, batches,
        "t int, c int, z int, m int, y0 int, x0 int, h int, w int, "
        "values array<double>", nbytes=_subblock_bytes(plan))
    return with_tile(planes, grid_tile(
        (r["y0"], r["x0"], r["h"], r["w"]) for r in plan))


class CziImageReader(PlannedReader):
    """BioImage reader over baseline (uncompressed) ZISRAW files."""

    EXTENSIONS = (".czi",)
    DIM_ORDER_ERROR = "CZI dimensions come from the subblock directory"

    @classmethod
    def is_supported_image(cls, image) -> bool:
        if not isinstance(image, str):
            return False
        if not image.lower().endswith(cls.EXTENSIONS):
            return (os.path.isdir(image) and bool(cls.paths(image)))
        try:
            with open(image, "rb") as f:
                return f.read(10) == b"ZISRAWFILE"
        except OSError:
            return False

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        # the window planner reads level-0 subblocks only, so a non-zero
        # resolution level falls through to the Catalyst filter over
        # standardized pixels (which honors the level) instead of
        # silently returning full-res data
        if os.path.isfile(self._path) and \
                img.current_resolution_level == 0:
            return read_czi_window(spark, self._path,
                                   t=t, c=c, z=z, y=y, x=x,
                                   scene=img.current_scene_index)
        return None

    def read_planes(self, spark, img):
        if os.path.isfile(self._path) and \
                img.current_resolution_level == 0 and \
                "M" not in img.dims.order:
            return read_czi_planes(spark, self._path,
                                   scene=img.current_scene_index)
        return None

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.czi import (DTYPE_OF_PIXEL_TYPE,
                                             read_czi_directory,
                                             read_czi_metadata)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (PIXEL_COLUMNS,
                                                    ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No CZI files under {self._path}")
        if len(paths) != 1:
            raise ValueError(
                "CziImageReader reads one .czi file (multi-file CZI "
                "parts are not supported)")
        path = os.path.abspath(paths[0])

        entries = read_czi_directory(path)
        if not entries:
            raise ValueError(f"{path}: CZI directory has no subblocks")
        xml = read_czi_metadata(path)

        # pyramid level from the stored/size ratio (PyramidType
        # subblocks store downsampled pixels over a full-res extent)
        import math

        def _level(e) -> int:
            dy = e["dims"]["Y"]
            if not e.get("pyramid") and dy["stored"] in (0, dy["size"]):
                return 0
            ratio = dy["size"] / max(dy["stored"], 1)
            return max(0, round(math.log2(ratio)))

        # group subblocks by scene (S start; absent -> scene 0)
        by_scene: dict[int, list] = {}
        for e in entries:
            e["level"] = _level(e)
            by_scene.setdefault(_start(e["dims"], "S"), []).append(e)
        scene_order = sorted(by_scene)
        if scene_order != list(range(len(scene_order))):
            raise ValueError(
                f"CZI S indices must be dense 0..n-1, got {scene_order}")

        names_from_xml = _xml_channel_names(xml) or None
        scaling = _xml_scaling_um(xml)
        pps = self._pps
        if pps is None and scaling:
            pps = PhysicalPixelSizes(Z=scaling.get("Z"),
                                     Y=scaling.get("Y"),
                                     X=scaling.get("X"))

        scenes, channels, tile_rows, plan = [], [], [], []
        for si in scene_order:
            all_subs = by_scene[si]
            levels = sorted({e["level"] for e in all_subs})
            # catalog dims from the FULL-RESOLUTION level; pyramid
            # levels ride along as res_level > 0 planes
            subs = [e for e in all_subs if e["level"] == 0]
            if not subs:
                raise ValueError(
                    f"{path}: scene {si} has no level-0 subblocks")
            scene = f"Image:{si}"
            pt = subs[0]["pixel_type"]
            if any(e["pixel_type"] != pt for e in all_subs):
                raise ValueError(
                    f"{path}: mixed pixel types within scene {si}")
            dt, samples = DTYPE_OF_PIXEL_TYPE[pt]
            t_n = max(_start(e["dims"], "T") for e in subs) + 1
            c_n = max(_start(e["dims"], "C") for e in subs) + 1
            z_n = max(_start(e["dims"], "Z") for e in subs) + 1
            has_m = any("M" in e["dims"] for e in subs)
            h = max(e["dims"]["Y"]["stored"] or e["dims"]["Y"]["size"]
                    for e in subs)
            w = max(e["dims"]["X"]["stored"] or e["dims"]["X"]["size"]
                    for e in subs)
            m_n = None
            if has_m:
                y_min = min(_start(e["dims"], "Y") for e in subs)
                x_min = min(_start(e["dims"], "X") for e in subs)
                offs = {}
                for e in subs:
                    m = _start(e["dims"], "M")
                    offs[m] = (_start(e["dims"], "Y") - y_min,
                               _start(e["dims"], "X") - x_min)
                m_n = max(offs) + 1
                for m in sorted(offs):
                    tile_rows.append({
                        "image_id": self._image_id, "scene": scene,
                        "m": m, "y_off": offs[m][0],
                        "x_off": offs[m][1]})
            names = (self._channel_names or names_from_xml)
            if names is not None and len(names) < c_n:
                names = None
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(names, c_n, si))
            scenes.append(scene_row(
                self._image_id, scene, si, dt,
                dict(T=t_n, C=c_n, Z=z_n, Y=h, X=w, M=m_n,
                     S=samples if samples > 1 else None),
                dim_order=("M" if has_m else "")
                + "TCZYX" + ("S" if samples > 1 else ""),
                pps=pps, metadata=xml, res_levels=levels))
            for e in all_subs:
                d = e["dims"]
                plan.append({
                    "path": path, "scene": scene,
                    "res_level": e["level"],
                    "t": _start(d, "T"), "c": _start(d, "C"),
                    "z": _start(d, "Z"),
                    "m": _start(d, "M") if "M" in d else -1,
                    "file_position": e["file_position"],
                    "pixel_type": e["pixel_type"],
                    "compression": e["compression"],
                    "h": d["Y"]["stored"] or d["Y"]["size"],
                    "w": d["X"]["stored"] or d["X"]["size"],
                })

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in it:
                for r in pdf.itertuples():
                    plane = _subblock(r)
                    y_n, x_n = plane.shape[0], plane.shape[1]
                    s_n = plane.shape[2] if plane.ndim == 3 else 1
                    s_col = (np.full(plane.size, -1, dtype=np.int32)
                             if s_n == 1 else
                             np.tile(np.arange(s_n, dtype=np.int32),
                                     y_n * x_n))
                    yield pd.DataFrame({
                        "scene": r.scene,
                        "res_level": np.full(plane.size, r.res_level,
                                             np.int32),
                        "t": np.full(plane.size, r.t, np.int32),
                        "c": np.full(plane.size, r.c, np.int32),
                        "z": np.full(plane.size, r.z, np.int32),
                        "m": np.full(plane.size, r.m, np.int32),
                        "y": np.repeat(np.arange(y_n, dtype=np.int32),
                                       x_n * s_n),
                        "x": np.tile(np.repeat(
                            np.arange(x_n, dtype=np.int32), s_n), y_n),
                        "s": s_col,
                        "value": plane.ravel().astype(np.float64),
                    })

        px = (plan_pixels(
                  spark, plan, batches,
                  "scene string, res_level int, t int, c int, z int, "
                  "m int, y int, x int, s int, value double",
                  nbytes=_subblock_bytes(plan))
              .select(
                  F.lit(self._image_id).alias("image_id"), "scene",
                  "res_level", "t", "c", "z", "y", "x",
                  "m", "s", "value")
              .select(*PIXEL_COLUMNS))

        return ImageDataset(
            pixels=px, scenes=scenes, channels=channels,
            tiles=pd.DataFrame(tile_rows) if tile_rows else None)
