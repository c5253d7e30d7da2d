"""Zeiss ZVI (.zvi) reader — native coverage for a format the
reference reaches only through the bioio-bioformats Java bridge (ref
README.md:74 routes .zvi). A ZVI is an MS-CFB compound document whose
``Image/Item(N)`` storages hold per-plane VARIANT-tagged streams
(bioio_spark.formats.{cfb,zvi}).

- **Catalog (driver-side)**: CFB directory walk + per-item header
  prefixes + coordinate tag triples — no pixel IO (D8 contract).
- **Pixels (executor-side)**: each item's raw pixel payload resolves
  to SECTOR EXTENTS (byte runs) at catalog time; the driver plans one
  row per item carrying its extents and a `mapInPandas` seek-reads
  exactly those runs — raw bytes straight to ndarray (no entropy
  decode), zero shuffle, one ranged GET per contiguously-written
  stream at object-store scale. Interleaved BGR items de-interleave
  executor-side into R,G,B(,A) channel rows.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.sources.planned import Plan, PlannedReader


class ZviImageReader(PlannedReader):
    """BioImage reader over Zeiss ZVI compound documents."""

    EXTENSIONS = (".zvi",)
    DIM_ORDER_ERROR = "ZVI axis sizes come from the item coordinate tags"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.zvi import read_zvi_catalog

        return read_zvi_catalog(path)

    @staticmethod
    def decode_tiles(rows):
        """Each item's raw payload from its sector extents; interleaved
        BGR(A) items come out as their channels in R, G, B(, A) order."""
        from bioio_spark.fsio import ranged_read

        for r in rows.itertuples(index=False):
            plane = np.frombuffer(ranged_read(r.path, r.offsets, r.lengths),
                                  dtype=np.dtype(r.dtype))
            if r.nc == 1:
                yield r, plane.reshape(r.h, r.w)
                continue
            rgb = [2, 1, 0, *range(3, r.nc)]
            yield r, plane.reshape(r.h, r.w, r.nc)[..., rgb]

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(self._channel_names, cat["size_c"], 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        scenes = [scene_row(
            self._image_id, scene, 0, cat["dtype"],
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps,
            metadata=cat["description"] or "Zeiss ZVI (MS-CFB)")]
        # item c of a BGR grid owns channels c*samples .. +samples-1
        ns = cat["samples"]
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "scene": scene, "t": t, "c": c * ns,
                 "nc": ns, "z": z, "dtype": cat["dtype"],
                 "offsets": [o for o, _ in ext],
                 "lengths": [n for _, n in ext]}
                for (t, c, z), ext in sorted(cat["planes"].items())]
        return Plan(plan, scenes, channels)
