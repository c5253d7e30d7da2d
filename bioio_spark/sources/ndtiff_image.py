"""Micro-Manager NDTiff reader — the NDTiffStorage acquisition layout
(public spec; bioio_spark.formats.ndtiff). Positions map to scenes,
``time``/``channel``/``z`` axes to T/C/Z.

- **Catalog (driver-side)**: the binary index alone (no TIFF parsing,
  no pixel IO) — every plane already has a (file, offset) address.
- **Pixels (executor-side)**: one plan row per indexed plane; tasks
  seek-read exactly their raw plane bytes — the acquisition layout
  built FOR this access pattern, zero shuffle, one ranged GET per
  plane.
"""

from __future__ import annotations

import os

from bioio_spark.sources.planned import (Plan, PlannedReader, narrow_rows,
                                         raw_tiles)


class NdtiffImageReader(PlannedReader):
    """BioImage reader over Micro-Manager NDTiff dataset dirs."""

    # no extension: NDTiff datasets are directories selected by their
    # NDTiff.index (probe-based routing, like the reference's
    # dir-shaped plugins)
    DIM_ORDER_ERROR = "NDTiff axes come from the index entries"
    decode_tiles = staticmethod(raw_tiles)
    narrow = staticmethod(narrow_rows)

    @classmethod
    def routes(cls, image: str) -> bool:
        from bioio_spark.formats.ndtiff import INDEX_NAME

        return os.path.isfile(os.path.join(image, INDEX_NAME))

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.ndtiff import read_ndtiff_catalog

        return read_ndtiff_catalog(path)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row

        cat = self.catalog(self._path)
        scenes, channels = [], []
        for si in range(cat["n_positions"]):
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, cat["size_c"],
                                      si))
            scenes.append(scene_row(
                self._image_id, scene, si, cat["dtype"],
                dict(T=cat["size_t"], C=cat["size_c"], Z=cat["size_z"],
                     Y=cat["size_y"], X=cat["size_x"]),
                pps=self._pps,
                metadata="NDTiff (Micro-Manager NDTiffStorage)"))
        root = os.path.abspath(self._path)
        plan = [{"path": os.path.join(root, e["filename"]),
                 "scene": f"Image:{e['axes'].get('position', 0)}",
                 "t": e["axes"].get("time", 0),
                 "c": e["axes"].get("channel", 0),
                 "z": e["axes"].get("z", 0),
                 "offset": e["offset"],
                 "nbytes": e["w"] * e["h"] * e["dtype"].itemsize,
                 "h": e["h"], "w": e["w"], "dtype": e["dtype"].str}
                for e in cat["entries"]]
        return Plan(plan, scenes, channels)
