"""MetaMorph STK (.stk) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .stk). Built on the in-repo TIFF IFD walk plus the
public UIC-tag layout (bioio_spark.formats.stk).

- **Catalog (driver-side)**: one IFD + UIC2 scan gives plane count,
  the Z-vs-T axis rule (nonzero z-distance -> Z), z spacing, and the
  wavelength — no pixel IO (D8 contract).
- **Pixels (executor-side)**: STK planes are contiguous raw blocks at
  ``base + i * plane_bytes``, so the driver plans one row per plane
  and a `mapInPandas` seek-reads exactly its plane — one ranged GET
  per plane at object-store scale, zero shuffle (the DV lever).
"""

from __future__ import annotations

import os

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


class StkImageReader(PlannedReader):
    """BioImage reader over MetaMorph STK plane stacks (plugin tier)."""

    EXTENSIONS = (".stk",)
    DIM_ORDER_ERROR = "STK axis mapping follows the UIC2 z-distance rule"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.stk import read_stk_catalog

        return read_stk_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        pg = cat["page"]
        scene = "Image:0"
        names = self._channel_names
        if names is None and cat["wavelength"]:
            names = [str(int(round(cat["wavelength"])))]
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(names, 1, 0))
        pps = self._pps
        if pps is None and cat["z_distance"]:
            pps = PhysicalPixelSizes(Z=cat["z_distance"], Y=None, X=None)
        z_axis = cat["axis"] == "Z"
        scenes = [scene_row(
            self._image_id, scene, 0, pg["dtype"],
            dict(T=1 if z_axis else cat["n_planes"], C=1,
                 Z=cat["n_planes"] if z_axis else 1, Y=pg["h"],
                 X=pg["w"]),
            pps=pps,
            metadata=f"STK axis={cat['axis']} planes={cat['n_planes']}")]
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "scene": scene, "z" if z_axis else "t": i,
                 "offset": off, "nbytes": cat["plane_bytes"],
                 "dtype": pg["dtype"]}
                for i, off in enumerate(cat["plane_offsets"])]
        return Plan(plan, scenes, channels)
