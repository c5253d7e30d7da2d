"""`bioio_tiff`: Spark Python DataSource over OME-TIFF files with
PAGE/STRIP/TILE PRUNING from Catalyst-pushed predicates — the TIFF twin
of the bioio_zarr DataSource (SURVEY §4 stretch; third Python DataSource
after bioio_raw and bioio_zarr).

`spark.read.format("bioio_tiff").option("path", dir_or_file).load()
     .filter("t = 1 AND z < 2 AND y BETWEEN 0 AND 255")`

plans ONE input partition per strip/tile whose page (t, c, z) and
coordinate ranges intersect the pushed predicates, using the seek-based
IFD walk (iter_tiff_chunks) at PLANNING time — a plane selection over a
multi-GB pyramidal TIFF schedules O(plane/strip) byte-range tasks,
decided by the optimizer, not a bespoke API. Pruned filters are handed
back to Spark for exact residual re-application inside surviving chunks,
so pruning is an optimization, never a correctness dependency.

A directory exposes every file's scenes (multi-Image files included)
under a `scene` column, itself prunable by equality.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, List

import numpy as np

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import StructType

TIFF_SCHEMA = ("scene string, t int, c int, z int, y int, x int, "
               "value double")
_RANGE_PRUNABLE = {"t", "c", "z", "y", "x"}


@dataclass
class TiffChunkPartition(InputPartition):
    path: str
    scene: str
    t: int
    c: int
    z: int
    offset: int
    nbytes: int
    y0: int
    x0: int
    ch: int
    cw: int
    page_h: int
    page_w: int
    dtype: str
    comp: int
    pred: int


class BioioTiffReader(DataSourceReader):
    def __init__(self, options):
        from bioio_spark.formats.tiff import (iter_tiff_chunks,
                                              parse_ome_xml_scenes)
        from bioio_spark.sources.tiff_image import _tiff_paths

        self._path = options.get("path")
        if not self._path:
            raise ValueError("bioio_tiff requires a path")
        paths = _tiff_paths(self._path)
        if not paths:
            raise ValueError(f"no TIFF files under {self._path}")
        # planning inputs: per file, the page layout + per-scene page
        # ranges (a few KB of IFD reads per file, no pixel data)
        self._files = []
        si = 0
        for p in sorted(paths):
            pages = iter_tiff_chunks(p)
            if any(pg["spp"] != 1 for pg in pages):
                raise ValueError(
                    f"{p}: bioio_tiff reads single-sample pages; use "
                    "the full reader for S-dim files")
            desc = pages[0]["description"] if pages else None
            metas = (parse_ome_xml_scenes(desc)
                     if desc and "<OME" in desc else [{}])
            plan, page0 = [], 0
            for h in metas:
                c_n = h.get("size_c") or 1
                z_n = h.get("size_z") or 1
                n_k = ((h.get("size_t") or 0) * c_n * z_n
                       or len(pages) - page0)
                plan.append({"scene": f"Image:{si}", "page0": page0,
                             "n": n_k, "c_n": c_n, "z_n": z_n})
                page0 += n_k
                si += 1
            self._files.append({"path": p, "pages": pages, "plan": plan})
        self._filters: List[Filter] = []

    # -- planning-time pruning -------------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        self._filters = [
            f for f in filters
            if isinstance(f, (EqualTo, In, GreaterThan, GreaterThanOrEqual,
                              LessThan, LessThanOrEqual))
            and len(f.attribute) == 1
            and (f.attribute[0] in _RANGE_PRUNABLE
                 or f.attribute[0] == "scene")
        ]
        return iter(filters)

    @staticmethod
    def _range_keep(lo: int, hi: int, flt: Filter) -> bool:
        if isinstance(flt, EqualTo):
            return lo <= flt.value < hi
        if isinstance(flt, In):
            return any(lo <= v < hi for v in flt.value)
        if isinstance(flt, GreaterThan):
            return hi - 1 > flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return hi - 1 >= flt.value
        if isinstance(flt, LessThan):
            return lo < flt.value
        if isinstance(flt, LessThanOrEqual):
            return lo <= flt.value
        return True

    def _keep_dim(self, dim: str, lo: int, hi: int) -> bool:
        for f in self._filters:
            if f.attribute[0] == dim and not self._range_keep(lo, hi, f):
                return False
        return True

    def partitions(self):
        parts = []
        for file in self._files:
            pages = file["pages"]
            for sc in file["plan"]:
                keep_scene = True
                for f in self._filters:
                    if f.attribute[0] != "scene":
                        continue
                    if isinstance(f, EqualTo) and sc["scene"] != f.value:
                        keep_scene = False
                    if isinstance(f, In) and sc["scene"] not in f.value:
                        keep_scene = False
                if not keep_scene:
                    continue
                for pi in range(sc["n"]):
                    pg = pages[sc["page0"] + pi]
                    t, rem = divmod(pi, sc["c_n"] * sc["z_n"])
                    c, z = divmod(rem, sc["z_n"])
                    if not (self._keep_dim("t", t, t + 1)
                            and self._keep_dim("c", c, c + 1)
                            and self._keep_dim("z", z, z + 1)):
                        continue
                    for ch in pg["chunks"]:
                        if not (self._keep_dim(
                                "y", ch["y0"],
                                min(ch["y0"] + ch["h"], pg["h"]))
                                and self._keep_dim(
                                "x", ch["x0"],
                                min(ch["x0"] + ch["w"], pg["w"]))):
                            continue
                        parts.append(TiffChunkPartition(
                            path=file["path"], scene=sc["scene"],
                            t=t, c=c, z=z,
                            offset=ch["offset"], nbytes=ch["nbytes"],
                            y0=ch["y0"], x0=ch["x0"],
                            ch=ch["h"], cw=ch["w"],
                            page_h=pg["h"], page_w=pg["w"],
                            dtype=pg["dtype"], comp=pg["comp"],
                            pred=pg["pred"]))
        return parts

    # -- executor-side byte-range decode ----------------------------------
    def read(self, partition: TiffChunkPartition):
        import pyarrow as pa

        from bioio_spark.formats.tiff import (_undo_horizontal_predictor,
                                              decompress_tiff_chunk)

        p = partition
        with open(p.path, "rb") as f:
            f.seek(p.offset)
            raw = decompress_tiff_chunk(f.read(p.nbytes), p.comp)
        block = np.frombuffer(raw, dtype=np.dtype(p.dtype)).reshape(
            (p.ch, p.cw))
        if p.pred == 2:
            block = _undo_horizontal_predictor(block)
        block = block[:min(p.ch, p.page_h - p.y0),
                      :min(p.cw, p.page_w - p.x0)]
        yy, xx = np.indices(block.shape)
        n = block.size
        yield pa.record_batch([
            pa.array([p.scene] * n, type=pa.string()),
            pa.array(np.full(n, p.t, dtype=np.int32)),
            pa.array(np.full(n, p.c, dtype=np.int32)),
            pa.array(np.full(n, p.z, dtype=np.int32)),
            pa.array((yy.ravel() + p.y0).astype(np.int32)),
            pa.array((xx.ravel() + p.x0).astype(np.int32)),
            pa.array(block.ravel().astype(np.float64)),
        ], names=["scene", "t", "c", "z", "y", "x", "value"])


class BioioTiffDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bioio_tiff"

    def schema(self) -> str:
        return TIFF_SCHEMA

    def reader(self, schema: StructType) -> BioioTiffReader:
        return BioioTiffReader(self.options)


def register_tiff_source(spark) -> None:
    """Idempotently register the bioio_tiff format (ships the package to
    Python workers via the shared raw-source mechanism)."""
    from bioio_spark.sources.raw_format import register_raw_source

    register_raw_source(spark)      # addPyFile + pushdown conf, idempotent
    spark.dataSource.register(BioioTiffDataSource)
