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

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, PlannedReader,
                                         empty_window, norm_window,
                                         plan_pixels, plane_bytes,
                                         raw_plane_batches, standardize, trim)


def _plan(path: str, cat: dict) -> list[dict]:
    rows = []
    for e in cat["entries"]:
        a = e["axes"]
        rows.append({
            "path": os.path.join(os.path.abspath(path), e["filename"]),
            "scene": f"Image:{a.get('position', 0)}",
            "t": a.get("time", 0), "c": a.get("channel", 0),
            "z": a.get("z", 0),
            "offset": e["offset"],
            "nbytes": e["w"] * e["h"] * e["dtype"].itemsize,
            "y0": 0, "ny": e["h"], "nx": e["w"],
            "dtype": e["dtype"].str,
        })
    return rows


def read_ndtiff_window(spark: SparkSession, path: str,
                       t=None, c=None, z=None, y=None, x=None,
                       scene: int = 0):
    """Window-pruned NDTiff read: t/c/z prune whole index entries, the
    y window narrows each surviving plane to its contiguous row range
    (index offsets address raw rows), x trims via codegen filter."""
    cat = NdtiffImageReader.catalog(path)
    t0, t1 = norm_window(t, cat["size_t"])
    c0, c1 = norm_window(c, cat["size_c"])
    z0, z1 = norm_window(z, cat["size_z"])
    y0, y1 = norm_window(y, cat["size_y"])
    x0, x1 = norm_window(x, cat["size_x"])
    key = f"Image:{scene}"
    rows = []
    for r in _plan(path, cat):
        if r.pop("scene") != key:
            continue
        if not (t0 <= r["t"] < t1 and c0 <= r["c"] < c1
                and z0 <= r["z"] < z1):
            continue
        row_bytes = r["nbytes"] // r["ny"]
        rows.append({**r,
                     "offset": r["offset"] + y0 * row_bytes,
                     "nbytes": (y1 - y0) * row_bytes,
                     "y0": y0, "ny": y1 - y0})
    if not rows:
        return empty_window(spark)
    return trim(plan_pixels(spark, rows, raw_plane_batches, WINDOW_SCHEMA,
                            nbytes=plane_bytes(rows)),
                x=(x0, x1))


class NdtiffImageReader(PlannedReader):
    """BioImage reader over Micro-Manager NDTiff dataset dirs."""

    # no extension: NDTiff datasets are directories selected by their
    # NDTiff.index (probe-based routing, like the reference's
    # dir-shaped plugins)
    DIM_ORDER_ERROR = "NDTiff axes come from the index entries"

    @classmethod
    def routes(cls, image: str) -> bool:
        from bioio_spark.formats.ndtiff import INDEX_NAME

        return os.path.isfile(os.path.join(image, INDEX_NAME))

    @staticmethod
    def catalog(path: str) -> dict:
        from bioio_spark.formats.ndtiff import read_ndtiff_catalog

        return read_ndtiff_catalog(path)

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)

        cat = self.catalog(self._path)
        pps = self._pps
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
                pps=pps, metadata="NDTiff (Micro-Manager NDTiffStorage)"))
        plan = _plan(self._path, cat)
        px = standardize(
            plan_pixels(spark, plan, raw_plane_batches,
                        "scene string, " + WINDOW_SCHEMA,
                        nbytes=plane_bytes(plan)),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
