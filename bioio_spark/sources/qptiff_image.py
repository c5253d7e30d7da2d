"""PerkinElmer/Akoya QPTIFF (.qptiff) reader — native coverage for a
format the reference can only reach through the bioio-bioformats Java
bridge (ref README.md:74 routes .qptiff). Built on the in-repo TIFF
machinery plus the public QPI-XML page classification
(bioio_spark.formats.qptiff).

- **Axis model**: unlike SVS/NDPI the page grouping carries a REAL C
  axis — one page per fluorescence channel per level — so Image:0 is
  (C, Y, X) with res_levels; the RGB thumbnail is its own scene.
- **Catalog (driver-side)**: one IFD walk + XML parse; channel names
  from ``<Name>``. No pixel IO (D8 contract).
- **Pixels (executor-side)**: one plan row per (scene, level, c,
  tile); zero shuffle, one ranged GET + tile decode per task.
"""

from __future__ import annotations

from bioio_spark.sources.planned import Plan, PlannedReader
from bioio_spark.sources.tiff_image import decode_chunks, page_rows


class QptiffImageReader(PlannedReader):
    """BioImage reader over Vectra QPTIFF multiplexed slides."""

    EXTENSIONS = (".qptiff",)
    DIM_ORDER_ERROR = ("QPTIFF channels come from the page grouping; "
                       "dim_order is fixed")
    decode_tiles = staticmethod(decode_chunks)

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.qptiff import read_qptiff_catalog

        return read_qptiff_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row

        cat = self.catalog(self._path)
        pg0 = cat["levels"][0][0]
        c_n = len(cat["channels"])
        channels = channel_rows(
            self._image_id, "Image:0",
            resolve_channel_names(self._channel_names or cat["channels"],
                                  c_n, 0))
        scenes = [scene_row(
            self._image_id, "Image:0", 0, pg0["dtype"],
            dict(T=1, C=c_n, Z=1, Y=pg0["h"], X=pg0["w"]), pps=self._pps,
            metadata="QPTIFF multiplexed slide",
            res_levels=list(range(len(cat["levels"]))))]
        plan = [row for lv, grp in enumerate(cat["levels"])
                for c, pg in enumerate(grp)
                for row in page_rows(self._path, pg, scene="Image:0",
                                     res_level=lv, c=c)]
        pg = cat["thumbnail"]
        if pg is not None:
            spp = pg["spp"]
            channels += channel_rows(self._image_id, "Image:1",
                                     ["thumbnail:0"])
            scenes.append(scene_row(
                self._image_id, "Image:1", 1, pg["dtype"],
                dict(T=1, C=1, Z=1, Y=pg["h"], X=pg["w"],
                     S=spp if spp > 1 else None),
                dim_order="TCZYXS" if spp > 1 else "TCZYX",
                metadata="QPTIFF thumbnail", res_levels=[0]))
            plan += page_rows(self._path, pg, scene="Image:1")
        return Plan(plan, scenes, channels)
