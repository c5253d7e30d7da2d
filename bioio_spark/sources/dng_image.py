"""Adobe DNG (.dng) camera-RAW reader — native coverage for the
openly-specified corner of the camera-RAW tail the reference reaches
only through the bioio-bioformats Java bridge (ref README.md:70
"Bio-Formats supported file formats" includes DNG/camera RAW).

- **Catalog (driver-side)**: one IFD walk (`formats/dng.py`) gives
  dims, strip byte ranges, CFA pattern, black/white levels — no pixel
  IO (D8 contract).
- **Pixels (executor-side)**: one plan row per strip; uncompressed
  strips slice straight from the ranged read, lossless-JPEG strips
  (Compression 7, the DNG-mandated codec) decode through the in-repo
  SOF3 codec (`formats/ljpeg.py`) — each strip is its own complete
  codestream, so strips are the independent read+decode granularity:
  one ranged GET each, zero shuffle.

The CFA mosaic is exposed un-demosaiced as a single-channel YX plane
(channel name = the CFA pattern string, e.g. "RGGB") — demosaicing is
an interpolation POLICY, not a property of the file, so it belongs to
downstream operators; this matches how the raw IFD actually stores
samples.
"""

from __future__ import annotations

import os

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tile)


class DngImageReader(PlannedReader):
    """BioImage reader over Adobe DNG camera-RAW mosaics."""

    EXTENSIONS = (".dng",)
    DIM_ORDER_ERROR = "DNG raw mosaics are always single-plane YX"

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.dng import read_dng_catalog

        return read_dng_catalog(path)

    @staticmethod
    def narrow(rows, lo, hi):
        """Uncompressed strips narrow to the window's rows; SOF3 strips
        are the decode granularity."""
        return narrow_rows(rows, lo, hi, rows["comp"] == 1)

    @staticmethod
    def decode_tiles(rows):
        from bioio_spark.formats.ljpeg import decode_ljpeg

        for r in rows.itertuples(index=False):
            buf = read_range(r.path, r.offset, r.nbytes)
            yield r, decode_ljpeg(buf) if r.comp == 7 else raw_tile(r, buf)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row

        cat = self.catalog(self._path)
        scene = "Image:0"
        names = self._channel_names
        if names is None and cat["cfa_pattern"]:
            names = [cat["cfa_pattern"]]
        channels = channel_rows(self._image_id, scene,
                                resolve_channel_names(names, 1, 0))
        scenes = [scene_row(
            self._image_id, scene, 0, cat["dtype"],
            dict(T=1, C=1, Z=1, Y=cat["size_y"], X=cat["size_x"]),
            pps=self._pps,
            metadata=(f"DNG {cat['dng_version']} model="
                      f"{cat['model']} cfa={cat['cfa_pattern']} "
                      f"black={cat['black_level']} "
                      f"white={cat['white_level']} "
                      f"comp={cat['comp']}"))]
        ap = os.path.abspath(self._path)
        plan = [{"path": ap, "scene": scene, "offset": ch["offset"],
                 "nbytes": ch["nbytes"], "y0": ch["y0"], "h": ch["h"],
                 "w": ch["w"], "comp": cat["comp"], "dtype": cat["dtype"]}
                for ch in cat["chunks"]]
        return Plan(plan, scenes, channels)
