"""Leica SCN (.scn) reader — native coverage for a format the
reference can only reach through the bioio-bioformats Java bridge (ref
README.md:74 routes .scn). Built on the in-repo TIFF machinery plus
the public SCN XML catalog (bioio_spark.formats.scn).

- **Scenes**: one per ``<image>`` in the collection XML (macro +
  acquired regions — the Bio-Formats series model); each scene's
  ``<dimension>`` entries give its res_levels and focal planes (Z).
- **Catalog (driver-side)**: IFD walk + XML parse only (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, z,
  tile); `mapInPandas` seek-reads + decodes exactly its tile — zero
  shuffle, one ranged GET per tile at object-store scale.
"""

from __future__ import annotations

from bioio_spark.sources.planned import Plan, PlannedReader
from bioio_spark.sources.tiff_image import decode_chunks, page_rows


class ScnImageReader(PlannedReader):
    """BioImage reader over Leica SCN slide collections."""

    EXTENSIONS = (".scn",)
    DIM_ORDER_ERROR = "SCN dimensions come from the collection XML"
    decode_tiles = staticmethod(decode_chunks)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.scn import read_scn_catalog

        return read_scn_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row

        cat = self.catalog(self._path)
        scenes, channels, plan = [], [], []
        for si, im in enumerate(cat["images"]):
            scene = f"Image:{si}"
            pg0 = im["levels"][0]["page"]
            spp = pg0["spp"]
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            scenes.append(scene_row(
                self._image_id, scene, si, pg0["dtype"],
                dict(T=1, C=1, Z=im["z_n"], Y=im["size_y"],
                     X=im["size_x"], S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX",
                pps=self._pps, metadata=f"SCN image {im['name']}",
                res_levels=list(range(im["n_levels"]))))
            for lv in im["levels"]:
                plan += page_rows(self._path, lv["page"], scene=scene,
                                  res_level=lv["r"], z=lv["z"])
        return Plan(plan, scenes, channels)
