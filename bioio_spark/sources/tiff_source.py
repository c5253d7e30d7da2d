"""`bioio_tiff`: Spark Python DataSource over TIFF files with
PAGE/STRIP/TILE PRUNING from Catalyst-pushed predicates — one instance
of the planned readers' DataSource core (``sources/plan_source.py``).

`spark.read.format("bioio_tiff").option("path", dir_or_file).load()
     .filter("t = 1 AND z < 2 AND y BETWEEN 0 AND 255")`

plans one input partition per level-0 row of ``TiffImageReader``'s
chunk plan (one stored strip or tile of one page) that the pushed
predicates leave, a byte-range task decoded by the reader's
``decode_tiles``. A directory exposes every file's scenes (multi-Image
files included) under a `scene` column named as ``BioImage(...).scenes``
names them, itself prunable by equality.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import StructType

from bioio_spark.sources.plan_source import PlanRowReader

TIFF_SCHEMA = ("scene string, t int, c int, z int, y int, x int, "
               "value double")


class BioioTiffReader(PlanRowReader):
    def __init__(self, options):
        from bioio_spark.sources.planned import extent_rows
        from bioio_spark.sources.tiff_image import TiffImageReader

        path = options.get("path")
        if not path:
            raise ValueError("bioio_tiff requires a path")
        # planning input: the level-0 chunk rows of one IFD walk per
        # file (a few KB of reads per file, no pixel data)
        rows = extent_rows(TiffImageReader(path).plan())
        rows = rows[rows["res_level"] == 0]
        if (rows["spp"] != 1).any():
            raise ValueError(
                f"{path}: bioio_tiff reads single-sample pages; use "
                "the full reader for S-dim files")
        super().__init__(rows, TiffImageReader.decode_tiles)


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
