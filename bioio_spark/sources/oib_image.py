"""Olympus OIB (.oib) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .oib). An OIB is an MS-CFB compound document
holding the OIF payload (bioio_spark.formats.{cfb,oib}).

- **Catalog (driver-side)**: CFB directory walk + OibInfo map + the
  UTF-16 INI stream — no pixel IO (D8 contract).
- **Pixels (executor-side)**: each plane stream resolves to SECTOR
  EXTENTS (byte runs) at catalog time; the driver plans one row per
  plane carrying its extents, and a `mapInPandas` seek-reads exactly
  those runs and decodes the embedded TIFF — zero shuffle, and
  because the writer lays streams contiguously, each task is one
  ranged GET at object-store scale.
"""

from __future__ import annotations

import os

from bioio_spark.sources.planned import Plan, PlannedReader


def _read_extents(path: str, offsets, lengths) -> bytes:
    from bioio_spark.fsio import ranged_read

    return ranged_read(path, offsets, lengths)


class OibImageReader(PlannedReader):
    """BioImage reader over Olympus OIB compound documents."""

    EXTENSIONS = (".oib",)
    DIM_ORDER_ERROR = "OIB axis sizes come from the embedded OIF INI"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.oib import read_oib_catalog

        return read_oib_catalog(path)

    @staticmethod
    def decode_tiles(rows):
        """Each plane stream (a whole TIFF) read from its sector
        extents and decoded."""
        from bioio_spark.formats.tiff import decode_tiff

        for r in rows.itertuples(index=False):
            planes, _desc = decode_tiff(
                _read_extents(r.path, r.offsets, r.lengths))
            yield r, planes[0]

    def plan(self) -> Plan:
        from bioio_spark.formats.tiff import decode_tiff
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        scene = "Image:0"
        names = self._channel_names or cat["channel_names"]
        channels = channel_rows(
            self._image_id, scene,
            resolve_channel_names(names, cat["size_c"], 0))
        pps = self._pps
        if pps is None and (cat["um_per_px"] or cat["z_step_um"]):
            pps = PhysicalPixelSizes(
                Z=cat["z_step_um"] or None,
                Y=cat["um_per_px"] or None,
                X=cat["um_per_px"] or None)
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "scene": scene, "t": t, "c": c, "z": z,
                 "offsets": [o for o, _ in ext],
                 "lengths": [n for _, n in ext]}
                for (t, c, z), ext in sorted(cat["planes"].items())]
        # dtype from the first plane stream (planes are small
        # single-page TIFFs)
        pl0, _ = decode_tiff(_read_extents(ap, plan[0]["offsets"],
                                           plan[0]["lengths"]))
        if pl0[0].shape != (cat["size_y"], cat["size_x"]):
            raise ValueError(
                f"{self._path}: plane streams are "
                f"{pl0[0].shape[1]}x{pl0[0].shape[0]}, INI says "
                f"{cat['size_x']}x{cat['size_y']}")
        scenes = [scene_row(
            self._image_id, scene, 0, pl0[0].dtype,
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps, time_interval=cat["time_interval"],
            metadata="OIB FLUOVIEW (MS-CFB container)")]
        return Plan(plan, scenes, channels)
