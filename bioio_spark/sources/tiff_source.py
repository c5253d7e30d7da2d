"""`bioio_tiff`: Spark Python DataSource over TIFF files with
PAGE/STRIP/TILE PRUNING from Catalyst-pushed predicates — the TIFF twin
of the bioio_zarr DataSource (SURVEY §4 stretch; third Python DataSource
after bioio_raw and bioio_zarr).

`spark.read.format("bioio_tiff").option("path", dir_or_file).load()
     .filter("t = 1 AND z < 2 AND y BETWEEN 0 AND 255")`

plans ONE input partition per level-0 row of ``TiffImageReader``'s
chunk plan (one stored strip or tile of one page) whose ``(scene, t,
c, z)`` and coordinate ranges intersect the pushed predicates — a plane
selection over a multi-GB TIFF schedules O(plane/strip) byte-range
tasks, decided by the optimizer, not a bespoke API. Each task decodes
its chunk through the reader's ``decode_tiles``. Pruned filters are
handed back to Spark for exact residual re-application inside surviving
chunks, so pruning is an optimization, never a correctness dependency.

A directory exposes every file's scenes (multi-Image files included)
under a `scene` column named as ``BioImage(...).scenes`` names them,
itself prunable by equality.
"""

from __future__ import annotations

from typing import Iterator, List

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


class TiffChunkPartition(InputPartition):
    """One row of the reader's chunk plan, its columns as attributes."""

    def __init__(self, row: dict):
        self.__dict__.update(row)


class BioioTiffReader(DataSourceReader):
    def __init__(self, options):
        from bioio_spark.sources.tiff_image import TiffImageReader

        path = options.get("path")
        if not path:
            raise ValueError("bioio_tiff requires a path")
        # planning input: the level-0 chunk rows of one IFD walk per
        # file (a few KB of reads per file, no pixel data)
        self._rows = [r for r in TiffImageReader(path).plan().rows
                      if r["res_level"] == 0]
        if any(r["spp"] != 1 for r in self._rows):
            raise ValueError(
                f"{path}: bioio_tiff reads single-sample pages; use "
                "the full reader for S-dim files")
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

    def _keep(self, r: dict) -> bool:
        span = {"t": (r["t"], r["t"] + 1), "c": (r["c"], r["c"] + 1),
                "z": (r["z"], r["z"] + 1), "y": (r["y0"], r["y0"] + r["h"]),
                "x": (r["x0"], r["x0"] + r["w"])}
        for f in self._filters:
            dim = f.attribute[0]
            if dim != "scene":
                if not self._range_keep(*span[dim], f):
                    return False
            elif (isinstance(f, EqualTo) and r["scene"] != f.value
                  or isinstance(f, In) and r["scene"] not in f.value):
                return False
        return True

    def partitions(self):
        return [TiffChunkPartition(r) for r in self._rows if self._keep(r)]

    # -- executor-side byte-range decode ----------------------------------
    def read(self, partition: TiffChunkPartition):
        import pandas as pd
        import pyarrow as pa

        from bioio_spark.sources.planned import plane_frame
        from bioio_spark.sources.tiff_image import TiffImageReader

        rows = pd.DataFrame([vars(partition)])
        for r, tile in TiffImageReader.decode_tiles(rows):
            yield pa.RecordBatch.from_pandas(plane_frame(
                tile, r.t, r.c, r.z, r.y0, r.x0, scene=r.scene),
                preserve_index=False)


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
