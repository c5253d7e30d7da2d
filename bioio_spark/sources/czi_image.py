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

import math
import os
import re

import pandas as pd

from bioio_spark.sources.planned import Plan, PlannedReader


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

    @staticmethod
    def decode_tiles(rows):
        """Decode the subblock each row points at (file_position,
        pixel_type, compression, stored h x w)."""
        from bioio_spark.formats.czi import read_czi_subblock

        for r in rows.itertuples(index=False):
            yield r, read_czi_subblock(r.path, {
                "file_position": int(r.file_position),
                "pixel_type": int(r.pixel_type),
                "compression": int(r.compression),
                "dims": {"Y": {"stored": int(r.h), "size": int(r.h)},
                         "X": {"stored": int(r.w), "size": int(r.w)}}})

    def plan(self) -> Plan:
        from bioio_spark.formats.czi import (DTYPE_OF_PIXEL_TYPE,
                                             read_czi_directory,
                                             read_czi_metadata)
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
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
            y_min = min(_start(e["dims"], "Y") for e in subs)
            x_min = min(_start(e["dims"], "X") for e in subs)
            if has_m:
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
                # a mosaic tile's pixels are tile-local (the tiles table
                # places it); other subblocks sit in the scene's frame
                lv = 2 ** e["level"]
                plan.append({
                    "path": path, "scene": scene,
                    "res_level": e["level"],
                    "t": _start(d, "T"), "c": _start(d, "C"),
                    "z": _start(d, "Z"),
                    "m": _start(d, "M") if "M" in d else -1,
                    "y0": 0 if has_m else (_start(d, "Y") - y_min) // lv,
                    "x0": 0 if has_m else (_start(d, "X") - x_min) // lv,
                    "file_position": e["file_position"],
                    "pixel_type": e["pixel_type"],
                    "compression": e["compression"],
                    "h": d["Y"]["stored"] or d["Y"]["size"],
                    "w": d["X"]["stored"] or d["X"]["size"],
                })
        return Plan(plan, scenes, channels,
                    tiles=pd.DataFrame(tile_rows) if tile_rows else None)
