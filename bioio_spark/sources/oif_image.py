"""Olympus OIF (.oif) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .oif). Built on the public INI + plane-TIFF
directory layout (bioio_spark.formats.oif) and the in-repo TIFF codec.

- **Catalog (driver-side)**: one UTF-16 INI decode + a directory
  listing — axis sizes, dye-name channels, µm conversions, the time
  interval. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per plane TIFF; each task
  reads exactly its file (the TIFF-glob lever) — zero shuffle,
  plane-count parallelism. A window narrows a row to its image rows,
  and an uncompressed plane then reads only those rows' bytes.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.fsio import read_bytes, read_range
from bioio_spark.sources.planned import Plan, PlannedReader, narrow_rows


class OifImageReader(PlannedReader):
    """BioImage reader over Olympus OIF plane-file directories."""

    EXTENSIONS = (".oif",)
    DIM_ORDER_ERROR = "OIF axis sizes come from the INI's Axis sections"
    narrow = staticmethod(narrow_rows)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.oif import read_oif_catalog

        return read_oif_catalog(path)

    @staticmethod
    def decode_tiles(rows):
        """Image rows ``y0 .. y0 + h`` of each plane TIFF: an
        uncompressed plane seek-reads just those rows of its strips, a
        compressed one decodes whole."""
        from bioio_spark.formats.tiff import decode_tiff, iter_tiff_chunks

        for r in rows.itertuples(index=False):
            pg = iter_tiff_chunks(r.path)[0]
            y1 = r.y0 + r.h
            if pg["comp"] != 1:
                planes, _desc = decode_tiff(read_bytes(r.path))
                yield r, planes[0][r.y0:y1]
                continue
            row_bytes = pg["w"] * np.dtype(pg["dtype"]).itemsize
            parts = []
            for ch in pg["chunks"]:
                lo, hi = max(ch["y0"], r.y0), min(ch["y0"] + ch["h"], y1)
                if lo < hi:
                    parts.append(read_range(
                        r.path, ch["offset"] + (lo - ch["y0"]) * row_bytes,
                        (hi - lo) * row_bytes))
            yield r, np.frombuffer(b"".join(parts), np.dtype(
                pg["dtype"])).reshape(r.h, pg["w"])

    def plan(self) -> Plan:
        from bioio_spark.formats.tiff import iter_tiff_chunks
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
        # dtype from one plane's IFD (a few bytes, no pixel IO)
        pg0 = iter_tiff_chunks(next(iter(cat["planes"].values())))[0]
        if (pg0["h"], pg0["w"]) != (cat["size_y"], cat["size_x"]):
            raise ValueError(
                f"{self._path}: plane files are "
                f"{pg0['w']}x{pg0['h']}, INI says "
                f"{cat['size_x']}x{cat['size_y']}")
        scenes = [scene_row(
            self._image_id, scene, 0, pg0["dtype"],
            dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                 Y=cat["size_y"], X=cat["size_x"]),
            pps=pps, time_interval=cat["time_interval"],
            metadata="OIF FLUOVIEW")]
        plan = [{"path": os.path.abspath(p), "scene": scene,
                 "t": t, "c": c, "z": z}
                for (t, c, z), p in sorted(cat["planes"].items())]
        return Plan(plan, scenes, channels)
