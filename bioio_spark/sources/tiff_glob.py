"""TIFF glob-series reader (the reference's bioio-tiff-glob plugin tier,
ref README.md:69 — `.tiff (glob)`).

A microscope acquisition often lands as MANY single-plane TIFFs whose
filenames carry the dimension indices (``img_S0_T2_C1_Z5.tif``). This
reader assembles such a series into one BioImage: the glob expands
driver-side, an ``indexer`` maps each filename to its (S, T, C, Z)
coordinates, and pixels decode executor-side — one file per task off a
binaryFile scan, so read parallelism equals the file count with NO
shuffle (each file already knows its coordinates). This is the
scale-friendliest acquisition layout of all: a 100 TB series is simply
100k independent files, and Spark's scheduler is the stitcher.

Indexer contract (mirrors the reference plugin's): a callable
``filename -> dict`` with any of the keys ``S T C Z``; the DEFAULT
indexer takes the LAST FOUR integer runs in the file's basename as
(S, T, C, Z), right-aligned when fewer are present (3 ints -> T, C, Z;
2 -> C, Z; 1 -> Z), which matches the common ``*_t{i}_c{j}_z{k}``
export convention. S selects the scene; files sharing an S form one
(T, C, Z, Y, X) stack. Multi-page files stack their pages along Z
(z = z_index * pages_per_file + page).
"""

from __future__ import annotations

import glob as _glob
import os
import re
from typing import Callable, Iterator, Optional

import pandas as pd

from pyspark.sql import SparkSession

from bioio_spark.sources.planned import (WINDOW_SCHEMA, plane_frame,
                                         standardize)

_GLOB_MAGIC = re.compile(r"[*?\[]")


def default_indexer(path: str) -> dict:
    """Last four integer runs of the basename -> S, T, C, Z
    (right-aligned: fewer runs fill the trailing dims)."""
    runs = re.findall(r"\d+", os.path.basename(path))[-4:]
    dims = ("S", "T", "C", "Z")[-len(runs):] if runs else ()
    return {d: int(v) for d, v in zip(dims, runs)}


def _glob_paths(image) -> list[str]:
    if isinstance(image, (list, tuple)):
        return [str(p) for p in image]
    return sorted(_glob.glob(str(image)))


class TiffGlobReader:
    """BioImage reader assembling a TIFF filename series into stacks."""

    # no extensions: glob patterns aren't routable by suffix — like the
    # reference's bioio-tiff-glob, callers select it with reader=
    EXTENSIONS = ()

    @staticmethod
    def is_supported_image(image) -> bool:
        if isinstance(image, (list, tuple)):
            return bool(image) and all(
                str(p).lower().endswith((".tif", ".tiff"))
                for p in image)
        if not isinstance(image, str) or not _GLOB_MAGIC.search(image):
            return False
        paths = _glob_paths(image)
        return bool(paths) and all(
            p.lower().endswith((".tif", ".tiff")) for p in paths)

    def __init__(self, image, indexer: Optional[Callable] = None,
                 dim_order=None, channel_names=None,
                 physical_pixel_sizes=None, image_id: str = "img",
                 **_kwargs):
        if dim_order is not None:
            raise ValueError(
                "TiffGlobReader dims come from the filename indexer")
        self._paths = _glob_paths(image)
        if not self._paths:
            raise FileNotFoundError(f"glob {image!r} matched no files")
        self._indexer = indexer or default_indexer
        self._image_id = image_id
        self._channel_names = channel_names
        self._pps = physical_pixel_sizes

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.tiff import iter_tiff_chunks
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)

        # driver-side planning: indexer coordinates (string work) + one
        # seek-based IFD walk per file for page count / YX / dtype — a
        # few KB of reads each, no pixel data
        coords: dict[str, dict] = {}
        scenes_seen: set[int] = set()
        for p in self._paths:
            idx = dict(self._indexer(p))
            bad = set(idx) - {"S", "T", "C", "Z"}
            if bad:
                raise ValueError(f"indexer returned unknown dims {bad}")
            coords[os.path.abspath(p)] = {
                "s": int(idx.get("S", 0)), "t": int(idx.get("T", 0)),
                "c": int(idx.get("C", 0)), "z": int(idx.get("Z", 0)),
            }
            scenes_seen.add(int(idx.get("S", 0)))
        if sorted(scenes_seen) != list(range(len(scenes_seen))):
            raise ValueError(
                f"S indices must be dense 0..n-1, got {sorted(scenes_seen)}")

        layout0 = iter_tiff_chunks(self._paths[0])
        pages = len(layout0)
        h, w = layout0[0]["h"], layout0[0]["w"]

        scenes, channels = [], []
        for si in sorted(scenes_seen):
            mine = [c for c in coords.values() if c["s"] == si]
            t_n = max(c["t"] for c in mine) + 1
            c_n = max(c["c"] for c in mine) + 1
            z_n = (max(c["z"] for c in mine) + 1) * pages
            if len(mine) != t_n * c_n * (z_n // pages):
                raise ValueError(
                    f"scene {si}: {len(mine)} files do not fill the "
                    f"{t_n}x{c_n}x{z_n // pages} (T, C, Z) grid")
            scene = f"Image:{si}"
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(self._channel_names, c_n, si))
            scenes.append(scene_row(
                self._image_id, scene, si, layout0[0]["dtype"],
                dict(T=t_n, C=c_n, Z=z_n, Y=h, X=w), pps=self._pps))

        n_pages = pages

        def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from bioio_spark.formats.tiff import decode_tiff
            from bioio_spark.fsio import local_path

            for pdf in it:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if local not in coords:
                        raise KeyError(
                            f"TiffGlobReader: {path!r} not in the "
                            f"indexer catalog")
                    co = coords[local]
                    planes, _ = decode_tiff(bytes(content))
                    for pg, plane in enumerate(planes):
                        yield plane_frame(plane, co["t"], co["c"],
                                          co["z"] * n_pages + pg,
                                          scene=f"Image:{co['s']}")

        binary = (spark.read.format("binaryFile")
                  .load([f"file://{os.path.abspath(p)}"
                         for p in self._paths]))
        px = standardize(
            binary.select("path", "content").mapInPandas(
                batches, schema="scene string, " + WINDOW_SCHEMA),
            self._image_id)

        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
