"""Yokogawa CellVoyager HCS reader — native coverage for the
high-content-screening plate layout the reference can only reach
through the bioio-bioformats Java bridge (ref README.md:74). Built on
the public mlf/mrf XML catalog (bioio_spark.formats.cellvoyager).

- **Plate model**: WELLS are scenes (named ``Well R{row}C{col}``),
  FIELDS are mosaic (M) tiles whose stage X/Y feed the tiles table —
  so the existing M1 broadcast-stitch machinery reconstructs each
  well from its fields, and M2/M3 tile-position lookups work.
- **Catalog (driver-side)**: the two XML documents + one TIFF header
  read for plane geometry (D8 contract).
- **Pixels (executor-side)**: one plan row per record (a single-plane
  TIFF), one file per task — HCS plates are tens of thousands of
  small files, the layout binaryFile/task-per-file parallelism was
  made for; zero shuffle.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from bioio_spark.fsio import read_bytes
from bioio_spark.sources.planned import Plan, PlannedReader


class CellVoyagerImageReader(PlannedReader):
    """BioImage reader over CellVoyager measurement directories."""

    # no extension: directory-probed (MeasurementData.mlf), like NDTiff
    # datasets
    DIM_ORDER_ERROR = "CellVoyager axes come from the mlf records"

    @classmethod
    def routes(cls, image: str) -> bool:
        from bioio_spark.formats.cellvoyager import MLF_NAME

        return os.path.isfile(os.path.join(image, MLF_NAME))

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.cellvoyager import \
            read_cellvoyager_catalog

        return read_cellvoyager_catalog(path)

    @staticmethod
    def decode_tiles(rows):
        """Each record's single-plane TIFF, decoded whole."""
        from bioio_spark.formats.tiff import decode_tiff

        for r in rows.itertuples(index=False):
            planes, _desc = decode_tiff(read_bytes(r.path))
            yield r, planes[0]

    def plan(self) -> Plan:
        from bioio_spark.formats.tiff import iter_tiff_chunks
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        # plane geometry from ONE record's TIFF header
        first = cat["records"][0]
        pg0 = iter_tiff_chunks(
            os.path.join(self._path, first["file"]))[0]
        dt = np.dtype(pg0["dtype"]).newbyteorder("=")
        pps = self._pps
        if pps is None and cat["um_per_px"]:
            pps = PhysicalPixelSizes(Z=None, Y=cat["um_per_px"],
                                     X=cat["um_per_px"])

        by_well: dict = {}
        for r in cat["records"]:
            by_well.setdefault((r["row"], r["column"]), []).append(r)

        scenes, channels, tile_rows, plan = [], [], [], []
        for si, key in enumerate(cat["wells"]):
            row, col = key
            recs = by_well[key]
            f_n = max(r["field"] for r in recs) + 1
            t_n = max(r["t"] for r in recs) + 1
            c_n = max(r["c"] for r in recs) + 1
            z_n = max(r["z"] for r in recs) + 1
            scene = f"Well R{row:02d}C{col:02d}"
            names = self._channel_names or cat["channel_names"]
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(names, c_n, si))
            # field stage positions (µm) -> pixel offsets for the
            # M1 stitch
            if f_n > 1 and pps and pps.Y and pps.X:
                pos = {}
                for r in recs:
                    pos[r["field"]] = (r["y_um"], r["x_um"])
                ys = [p[0] for p in pos.values()]
                xs = [p[1] for p in pos.values()]
                for m, (py_, px_) in sorted(pos.items()):
                    tile_rows.append({
                        "image_id": self._image_id, "scene": scene,
                        "m": m,
                        "y_off": int(round((py_ - min(ys)) / pps.Y)),
                        "x_off": int(round((px_ - min(xs)) / pps.X))})
            scenes.append(scene_row(
                self._image_id, scene, si, dt,
                dict(T=t_n, C=c_n, Z=z_n, Y=pg0["h"], X=pg0["w"],
                     M=f_n if f_n > 1 else None),
                dim_order=("M" if f_n > 1 else "") + "TCZYX", pps=pps,
                metadata=f"CellVoyager well R{row}C{col}"))
            for r in recs:
                plan.append({
                    "path": os.path.join(os.path.abspath(self._path),
                                         r["file"]),
                    "scene": scene,
                    "m": r["field"] if f_n > 1 else -1,
                    "t": r["t"], "c": r["c"], "z": r["z"]})

        return Plan(plan, scenes, channels,
                    tiles=pd.DataFrame(tile_rows) if tile_rows else None)
