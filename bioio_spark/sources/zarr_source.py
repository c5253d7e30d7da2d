"""`bioio_zarr`: Spark Python DataSource over Zarr stores with CHUNK
PRUNING from Catalyst-pushed predicates — one instance of the planned
readers' DataSource core (``sources/plan_source.py``).

`spark.read.format("bioio_zarr").option("path", store).load()
     .filter("t = 1 AND z < 4 AND y BETWEEN 0 AND 255")`

plans one input partition per row of ``ZarrImageReader``'s plan at the
``level`` option's resolution level (default 0) — one chunk, or one
inner chunk of a shard, its extent from the array document alone —
that the pushed predicates leave, decoded by the reader's
``decode_tiles``. Works on Zarr v2 (NGFF 0.4) and v3 (NGFF 0.5) stores;
a multi-scene save_ome_zarr directory exposes every scene with a
`scene` column (itself prunable by equality).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from bioio_spark.sources.plan_source import PlanRowReader

ZARR_SCHEMA = ("scene string, res_level int, t int, c int, z int, "
               "y int, x int, value double")


class BioioZarrReader(PlanRowReader):
    CONST = {"scene": str, "res_level": np.int32}

    def __init__(self, options):
        from bioio_spark.sources.planned import extent_rows
        from bioio_spark.sources.zarr_image import ZarrImageReader

        path = options.get("path")
        if not path:
            raise ValueError("bioio_zarr requires a path")
        level = int(options.get("level", "0"))
        rows = extent_rows(ZarrImageReader(path).plan())
        rows = rows[rows["res_level"] == level]
        if rows.empty:
            raise ValueError(f"{path}: no resolution level {level}")
        super().__init__(rows, ZarrImageReader.decode_tiles)


class BioioZarrDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bioio_zarr"

    def schema(self) -> str:
        return ZARR_SCHEMA

    def reader(self, schema: StructType) -> BioioZarrReader:
        return BioioZarrReader(self.options)


def register_zarr_source(spark) -> None:
    """Idempotently register the bioio_zarr format (ships the package to
    Python workers via the shared raw-source mechanism)."""
    from bioio_spark.sources.raw_format import register_raw_source

    register_raw_source(spark)      # addPyFile + pushdown conf, idempotent
    spark.dataSource.register(BioioZarrDataSource)
