"""`bioio_zarr`: Spark Python DataSource over Zarr stores with CHUNK
PRUNING from Catalyst-pushed predicates (SURVEY §4 stretch goal, second
instance after bioio_raw).

`spark.read.format("bioio_zarr").option("path", store).load()
     .filter("t = 1 AND z < 4 AND y BETWEEN 0 AND 255")`

plans ONE input partition per chunk whose COORDINATE RANGES intersect the
pushed predicates — the automatic form of read_zarr_window's explicit
pruning: a plane selection over a 100 TB store schedules O(plane/chunk)
tasks at PLANNING time, decided by the optimizer, not by a bespoke API.
Pruned filters are handed back to Spark for re-application (exact residual
trim inside surviving chunks), so pruning is an optimization, never a
correctness dependency.

Works on Zarr v2 (NGFF 0.4) and v3 (NGFF 0.5) stores via the shared
metadata helpers; a multi-scene save_ome_zarr directory exposes every
scene with a `scene` column (itself prunable by equality).
"""

from __future__ import annotations

import os
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

ZARR_SCHEMA = ("scene string, res_level int, t int, c int, z int, "
               "y int, x int, value double")
_RANGE_PRUNABLE = {"t", "c", "z", "y", "x"}


@dataclass
class ChunkPartition(InputPartition):
    path: str
    scene: str
    grid: tuple
    shape: tuple
    chunks: tuple
    axes: str
    dtype: str
    compressor: object
    gzip_member: bool = False
    res_level: int = 0
    shard: object = None        # sharding_indexed inner-chunk layout
    window: object = None       # filter-derived bounds for inner pruning


class BioioZarrReader(DataSourceReader):
    def __init__(self, options):
        from bioio_spark.sources.zarr_image import (_array_of,
                                                    _scene_roots)

        self._path = options.get("path")
        if not self._path:
            raise ValueError("bioio_zarr requires a path")
        roots = _scene_roots(self._path)
        if not roots:
            raise ValueError(f"no .zarr stores under {self._path}")
        level = options.get("level", "0")
        self._arrays = []
        for si, root in enumerate(roots):
            arr_dir, za, axes = _array_of(root, level)
            self._arrays.append({
                "scene": f"Image:{si}", "arr_dir": arr_dir,
                "za": za, "axes": axes, "level": int(level)})
        self._filters: List[Filter] = []

    # -- planning-time chunk pruning -------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Record predicates on the chunk-grid dims (range overlap tests)
        and scene equality; hand every filter back for re-application."""
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
        """Does the half-open coordinate range [lo, hi) contain any value
        satisfying the predicate?"""
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

    def partitions(self):
        import itertools

        parts = []
        for arr in self._arrays:
            scene, za, axes = arr["scene"], arr["za"], arr["axes"]
            scene_flts = [f for f in self._filters
                          if f.attribute[0] == "scene"]
            vals = {"scene": scene}
            keep_scene = True
            for f in scene_flts:
                if isinstance(f, EqualTo) and vals["scene"] != f.value:
                    keep_scene = False
                if isinstance(f, In) and vals["scene"] not in f.value:
                    keep_scene = False
            if not keep_scene:
                continue
            shape, chunks = za["shape"], za["chunks"]
            sep = za["dimension_separator"]
            prefix = za.get("key_prefix")
            grids = [range(-(-s // c)) for s, c in zip(shape, chunks)]
            for grid in itertools.product(*grids):
                ok = True
                for f in self._filters:
                    d = f.attribute[0]
                    if d not in axes:
                        continue
                    ai = axes.index(d)
                    lo = grid[ai] * chunks[ai]
                    hi = min(lo + chunks[ai], shape[ai])
                    if not self._range_keep(lo, hi, f):
                        ok = False
                        break
                if not ok:
                    continue
                comps = (([prefix] if prefix else [])
                         + [str(i) for i in grid])
                p = (os.path.join(arr["arr_dir"], *comps) if sep == "/"
                     else os.path.join(arr["arr_dir"], sep.join(comps)))
                if not os.path.exists(p):
                    continue      # absent chunk = sparse fill region
                parts.append(ChunkPartition(
                    path=p, scene=scene, grid=tuple(grid),
                    shape=tuple(shape), chunks=tuple(chunks),
                    axes=axes, dtype=np.dtype(za["dtype"]).str,
                    compressor=za["compressor"],
                    gzip_member=za.get("gzip_member", False),
                    res_level=arr["level"],
                    shard=za.get("shard"),
                    window=self._axis_bounds(axes, shape)))
        return parts

    def _axis_bounds(self, axes: str, shape) -> list:
        """Per-axis [lo, hi) bounds implied by the pushed range filters —
        the inner-chunk pruning input for sharded arrays (a shard that
        intersects the window may still contain inner chunks that do
        not; those are skipped without decompression)."""
        bounds = []
        for ai, d in enumerate(axes):
            lo, hi = 0, int(shape[ai])
            for f in self._filters:
                if f.attribute[0] != d:
                    continue
                if isinstance(f, EqualTo):
                    lo, hi = max(lo, f.value), min(hi, f.value + 1)
                elif isinstance(f, In):
                    lo = max(lo, min(f.value))
                    hi = min(hi, max(f.value) + 1)
                elif isinstance(f, GreaterThan):
                    lo = max(lo, f.value + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    lo = max(lo, f.value)
                elif isinstance(f, LessThan):
                    hi = min(hi, f.value)
                elif isinstance(f, LessThanOrEqual):
                    hi = min(hi, f.value + 1)
            bounds.append((lo, hi))
        return bounds

    # -- executor-side chunk decode --------------------------------------
    def read(self, partition: ChunkPartition):
        import pyarrow as pa

        from bioio_spark.formats.zarr import iter_decoded_blocks

        p = partition
        with open(p.path, "rb") as f:
            data = f.read()
        info = {"shape": p.shape, "chunks": p.chunks, "dtype": p.dtype,
                "compressor": p.compressor, "gzip_member": p.gzip_member,
                "shard": p.shard, "window": p.window}
        for origin, block in iter_decoded_blocks(data, info, p.grid):
            coords = {d: np.zeros(block.size, dtype=np.int32)
                      for d in "tczyx"}
            idx = np.indices(block.shape, dtype=np.int32)
            for ai, d in enumerate(p.axes):
                coords[d] = idx[ai].ravel() + np.int32(origin[ai])
            n = block.size
            yield pa.record_batch([
                pa.array([p.scene] * n, type=pa.string()),
                pa.array(np.full(n, p.res_level, dtype=np.int32)),
                pa.array(coords["t"]), pa.array(coords["c"]),
                pa.array(coords["z"]), pa.array(coords["y"]),
                pa.array(coords["x"]),
                pa.array(block.ravel().astype(np.float64)),
            ], names=["scene", "res_level", "t", "c", "z", "y", "x",
                      "value"])


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
