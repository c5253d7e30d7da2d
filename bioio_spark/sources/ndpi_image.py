"""Hamamatsu NDPI (.ndpi) whole-slide reader — native coverage for a
format the reference can only reach through the bioio-bioformats Java
bridge (ref README.md:74 routes .ndpi). Built on the in-repo TIFF
machinery plus the public SourceLens classification
(bioio_spark.formats.ndpi); chunk plan and decode shared with the TIFF
reader (striped/tiled chunk seek-reads, gray or RGB).

- **Scenes**: Image:0 is the pyramid (SourceLens>0 pages as
  res_levels); the SourceLens=-1 macro and -2 map pages follow as
  their own scenes.
- **Catalog (driver-side)**: one IFD walk; XResolution (cm unit) ->
  physical pixel size. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, strip);
  zero shuffle, one ranged GET per strip at object-store scale.
"""

from __future__ import annotations

from bioio_spark.sources.planned import Plan, PlannedReader
from bioio_spark.sources.tiff_image import decode_chunks, page_rows


class NdpiImageReader(PlannedReader):
    """BioImage reader over Hamamatsu NDPI whole-slide files."""

    EXTENSIONS = (".ndpi",)
    DIM_ORDER_ERROR = ("NDPI is a 2D (optionally RGB) slide pyramid; "
                       "dim_order is fixed")
    decode_tiles = staticmethod(decode_chunks)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.ndpi import read_ndpi_catalog

        return read_ndpi_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        pps = self._pps
        if pps is None and cat["um_per_px"]:
            pps = PhysicalPixelSizes(Z=None, Y=cat["um_per_px"],
                                     X=cat["um_per_px"])
        # Image:0 is the pyramid; the macro and map pages follow
        pages = [("slide", cat["levels"])] + [
            (kind, [cat[kind]]) for kind in ("macro", "map")
            if cat[kind] is not None]
        scenes, channels, plan = [], [], []
        for si, (kind, levels) in enumerate(pages):
            scene, pg, spp = f"Image:{si}", levels[0], levels[0]["spp"]
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, 1, si))
            scenes.append(scene_row(
                self._image_id, scene, si, pg["dtype"],
                dict(T=1, C=1, Z=1, Y=pg["h"], X=pg["w"],
                     S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX",
                pps=pps if si == 0 else None,
                metadata=f"NDPI {kind} SourceLens={cat['source_lens']}",
                res_levels=list(range(len(levels)))))
            for lv, pg in enumerate(levels):
                plan += page_rows(self._path, pg, scene=scene,
                                  res_level=lv)
        return Plan(plan, scenes, channels)
