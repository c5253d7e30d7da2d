"""Aperio SVS (.svs) whole-slide reader — native coverage for a format
the reference can only reach through the bioio-bioformats Java bridge
(ref README.md:74 routes .svs). Built on the in-repo TIFF machinery
(tiled pages, JPEG-in-TIFF chunks) plus the public Aperio layout
(bioio_spark.formats.svs).

- **Scenes**: Image:0 is the pyramid (tiled pages as res_levels 0..k,
  ceil-halving per level — the C4 contract); the striped associated
  images (thumbnail, label, macro) follow as their own scenes, the
  Bio-Formats series model.
- **Catalog (driver-side)**: one IFD walk + the pipe-metadata parse;
  ``MPP`` feeds PhysicalPixelSizes (µm), ``AppMag`` is kept in scene
  metadata. No pixel IO (D8 contract).
- **Pixels (executor-side)**: the driver plans one row per surviving
  (scene, level, tile/strip) and a `mapInPandas` seek-reads + decodes
  exactly its chunk (raw or baseline-JPEG via the in-repo codec) —
  whole-slide images are the canonical 100 TB-shaped input, and this
  keeps each task one ranged GET + one tile decode, zero shuffle.
"""

from __future__ import annotations

from bioio_spark.sources.planned import Plan, PlannedReader
from bioio_spark.sources.tiff_image import decode_chunks, page_rows


class SvsImageReader(PlannedReader):
    """BioImage reader over Aperio SVS whole-slide files."""

    EXTENSIONS = (".svs",)
    DIM_ORDER_ERROR = ("SVS is a 2D (optionally RGB) slide pyramid; "
                       "dim_order is fixed")
    decode_tiles = staticmethod(decode_chunks)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.svs import read_svs_catalog

        return read_svs_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        cat = self.catalog(self._path)
        meta = cat["meta"]
        pps = self._pps
        mpp = meta.get("MPP")
        if pps is None and mpp:
            pps = PhysicalPixelSizes(Z=None, Y=float(mpp), X=float(mpp))
        # Image:0 is the pyramid; the associated images follow
        pages = [("slide", cat["levels"])] + [
            (kind, [cat[kind]]) for kind in ("thumbnail", "label", "macro")
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
                metadata=f"SVS {kind} AppMag={meta.get('AppMag')} "
                         f"MPP={mpp}",
                res_levels=list(range(len(levels)))))
            for lv, pg in enumerate(levels):
                plan += page_rows(self._path, pg, scene=scene,
                                  res_level=lv)
        return Plan(plan, scenes, channels)
