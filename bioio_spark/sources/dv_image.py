"""DeltaVision reader (.dv / .r3d) — the reference's bioio-dv plugin
tier (ref README.md:60), over the in-repo pure-Python DV codec
(bioio_spark.formats.dv, the public Priism/IVE MRC-variant layout).

- **Catalog (driver-side)**: one 1024-byte header read per file gives
  shape, dtype, pixel spacing, wavelengths, and the section order — the
  D8 metadata-only contract, no pixel IO.
- **Pixels (executor-side)**: the driver plans one row per SECTION
  (a contiguous YX plane at a computable byte offset), distributes the
  plan as a DataFrame, and a `mapInPandas` seek-reads exactly its
  plane — per-plane parallelism without shipping whole files, the same
  lever as TIFF strip planning. At object-store
  scale each task is one ranged GET.

DV waves map to the C axis with their wavelengths as channel names
(`"525"`-style), matching the reference plugin's channel surface.
A directory of .dv files reads as a multi-scene image in sorted order.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


def _read_header(path: str) -> dict:
    from bioio_spark.formats.dv import HEADER_SIZE, parse_dv_header

    with open(path, "rb") as f:
        return parse_dv_header(f.read(HEADER_SIZE))


class DvImageReader(PlannedReader):
    """BioImage reader over DeltaVision files (plugin tier)."""

    EXTENSIONS = (".dv", ".r3d")
    DIM_ORDER_ERROR = "DV dimension order comes from the header's ImgSequence"
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def decode_tiles(rows):
        """Raw sections; complex modes carry their real part."""
        for r, plane in raw_tiles(rows):
            yield r, (plane.real if np.iscomplexobj(plane) else plane)

    def plan(self) -> Plan:
        from bioio_spark.formats.dv import iter_dv_sections
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        paths = self.paths(self._path)
        if not paths:
            raise FileNotFoundError(f"No DV files under {self._path}")

        scenes, channels, plan = [], [], []
        for si, p in enumerate(sorted(paths)):
            h = _read_header(p)
            scene = f"Image:{si}"
            names = self._channel_names or [
                str(w) if w else None for w in h["waves"]]
            if all(n is None for n in names):
                names = None
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(names, h["num_waves"], si))
            pps = self._pps
            if pps is None and any(
                    v not in (0.0, 1.0) for v in
                    (h["dz"], h["dy"], h["dx"])):
                pps = PhysicalPixelSizes(
                    Z=h["dz"] or None, Y=h["dy"] or None,
                    X=h["dx"] or None)
            scenes.append(scene_row(
                self._image_id, scene, si, h["dtype"],
                dict(T=h["num_times"], C=h["num_waves"], Z=h["num_z"],
                     Y=h["ny"], X=h["nx"]),
                pps=pps))
            ap = os.path.abspath(p)
            plan += [{"path": ap, "scene": scene,
                      "t": s["t"], "c": s["w"], "z": s["z"],
                      "offset": s["offset"], "nbytes": s["nbytes"],
                      "dtype": h["dtype"].str}
                     for s in iter_dv_sections(h)]
        return Plan(plan, scenes, channels)
