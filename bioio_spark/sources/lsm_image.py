"""Zeiss LSM (.lsm) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge
(ref README.md:74 routes .lsm to the Bio-Formats long tail). Built on
the in-repo TIFF IFD walk + the public CZ_LSMINFO layout
(bioio_spark.formats.lsm).

- **Catalog (driver-side)**: one IFD walk (a few KB of seek reads)
  plus the 160-byte CZ_LSMINFO struct and the channel-names block —
  axis sizes, dtype, voxel sizes (meters -> µm), time interval,
  channel names. The D8 metadata-only contract: no pixel IO.
- **Pixels (executor-side)**: LSM strips are UNCOMPRESSED channel
  planes (PlanarConfiguration=2), so the driver plans one row per
  (page, strip) = (t, z, c, y-range) byte range and a `mapInPandas`
  seek-reads exactly its strip — at object-store scale each task is
  one ranged GET, zero shuffle (the DV/SLDY lever).
- Thumbnail pages (NewSubfileType bit 0) are skipped: they are
  display-only reductions, not pyramid levels of the data.
"""

from __future__ import annotations

import os

import numpy as np

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import Plan, PlannedReader, narrow_rows


class LsmImageReader(PlannedReader):
    """BioImage reader over Zeiss LSM files (plugin tier)."""

    EXTENSIONS = (".lsm",)
    DIM_ORDER_ERROR = "LSM dimension order comes from CZ_LSMINFO"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.lsm import read_lsm_catalog

        return read_lsm_catalog(path)

    @staticmethod
    def narrow(rows, lo, hi):
        """Raw strips narrow to the window's rows; LZW strips decode
        whole."""
        return narrow_rows(rows, lo, hi, rows["comp"] == 1)

    @staticmethod
    def decode_tiles(rows):
        """Seek-read each channel-plane strip (raw bytes, or whole-strip
        LZW decode for wild compressed acquisitions — TIFF 6.0 §13,
        optionally with the horizontal predictor)."""
        from bioio_spark.formats.tiff import (_undo_horizontal_predictor,
                                              decompress_tiff_chunk)

        for r in rows.itertuples(index=False):
            buf = read_range(r.path, r.offset, r.nbytes)
            if r.comp != 1:
                buf = decompress_tiff_chunk(buf, r.comp)
            plane = np.frombuffer(buf, dtype=np.dtype(r.dtype),
                                  count=r.h * r.w).reshape(r.h, r.w)
            yield r, (_undo_horizontal_predictor(plane) if r.pred == 2
                      else plane)

    def plan(self) -> Plan:
        """One row per (t, z, c) strip byte range, from the catalog walk
        only."""
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        info, pages = cat["info"], cat["pages"]
        z_n = max(info["size_z"], 1)
        ap = os.path.abspath(self._path)
        scene = "Image:0"
        plan = []
        for p_idx, pg in enumerate(pages):
            t, z = divmod(p_idx, z_n)
            if pg["comp"] not in (1, 5):
                raise ValueError(
                    f"{self._path}: LSM page compression {pg['comp']} "
                    f"not supported (LSM writes raw or LZW)")
            plan += [{"path": ap, "scene": scene, "t": t, "z": z,
                      "c": ch["s"], "offset": ch["offset"],
                      "nbytes": ch["nbytes"], "y0": ch["y0"],
                      "h": ch["h"], "w": pg["w"], "dtype": pg["dtype"],
                      "comp": pg["comp"], "pred": pg["pred"]}
                     for ch in pg["chunks"]]
        c_n = max(info["size_c"], 1)
        use_names = self._channel_names or (cat["channel_names"] or None)
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(use_names, c_n, 0))
        pps = self._pps
        vx, vy, vz = info["voxel_m"]
        if pps is None and any((vx, vy, vz)):
            # CZ_LSMINFO voxel sizes are METERS; catalog speaks µm
            pps = PhysicalPixelSizes(
                Z=vz * 1e6 if vz else None,
                Y=vy * 1e6 if vy else None,
                X=vx * 1e6 if vx else None)
        scenes = [scene_row(
            self._image_id, scene, 0, plan[0]["dtype"],
            dict(T=max(info["size_t"], 1), C=c_n, Z=z_n,
                 Y=info["size_y"], X=info["size_x"]),
            pps=pps, time_interval=info["time_interval"] or None,
            metadata=(f"LSM ScanType={info['scan_type']} "
                      f"DataType={info['data_type']}"))]
        return Plan(plan, scenes, channels)
