"""The planned readers' Python DataSource core, shared by ``bioio_tiff``
and ``bioio_zarr`` (SURVEY §4 stretch; after bioio_raw).

`spark.read.format("bioio_zarr").option("path", store).load()
     .filter("t = 1 AND z < 4 AND y BETWEEN 0 AND 255")`

plans ONE input partition per row of the reader's plan (a TIFF strip or
tile, a Zarr chunk or inner chunk of a shard) whose extent meets every
Catalyst-pushed predicate on ``t``, ``c``, ``z``, ``y`` and ``x``, and
whose scene an equality on ``scene`` names: a plane selection over a
100 TB image schedules O(plane/chunk) tasks at planning time, decided
by the optimizer, not a bespoke API. Each task decodes its row through
the reader's ``decode_tiles``. Every filter is handed back to Spark for
exact residual re-application inside the surviving rows, so pruning is
an optimization, never a correctness dependency.
"""

from __future__ import annotations

import functools
import operator
from typing import Iterator, List

import numpy as np

from pyspark.sql.datasource import (
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

from bioio_spark.sources.planned import spans

_RANGE = (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan,
          LessThanOrEqual)


class RowPartition(InputPartition):
    """One plan row, its columns as attributes."""

    def __init__(self, row: dict):
        self.__dict__.update(row)


def _meets(lo, hi, flt: Filter):
    """Which half-open ranges ``[lo, hi)`` hold a value satisfying the
    predicate (vectorized over rows)."""
    v = flt.value
    if isinstance(flt, EqualTo):
        return (lo <= v) & (hi > v)
    if isinstance(flt, In):
        return functools.reduce(operator.or_, ((lo <= x) & (hi > x)
                                               for x in v), lo != lo)
    if isinstance(flt, GreaterThan):
        return hi - 1 > v
    if isinstance(flt, GreaterThanOrEqual):
        return hi - 1 >= v
    if isinstance(flt, LessThan):
        return lo < v
    return lo <= v                              # LessThanOrEqual


class PlanRowReader(DataSourceReader):
    """A DataSource reader over ``rows`` (``planned.extent_rows`` of one
    plan), decoded by ``decode``; output rows carry the ``CONST`` row
    columns, each cast to its type, ahead of ``t, c, z, y, x, value``."""

    CONST: dict = {"scene": str}

    def __init__(self, rows, decode):
        self._rows = rows
        self._decode = decode
        self._filters: List[Filter] = []

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Record the predicates a row's extent or scene can refute, and
        hand every filter back for re-application."""
        self._filters = [
            f for f in filters if len(f.attribute) == 1 and (
                f.attribute[0] in tuple("tczyx") and isinstance(f, _RANGE)
                or f.attribute[0] == "scene"
                and isinstance(f, (EqualTo, In)))]
        return iter(filters)

    def partitions(self):
        rows = self._rows
        span = spans(rows)
        keep = np.ones(len(rows), bool)
        for f in self._filters:
            dim = f.attribute[0]
            keep &= np.asarray(rows["scene"].isin(
                f.value if isinstance(f, In) else [f.value])
                if dim == "scene" else _meets(*span[dim], f))
        return [RowPartition(r) for r in rows[keep].to_dict("records")]

    def read(self, partition: RowPartition):
        import pandas as pd
        import pyarrow as pa

        from bioio_spark.sources.planned import _blocks, plane_frame

        for r, tile in self._decode(pd.DataFrame([vars(partition)])):
            const = {k: cast(getattr(r, k))
                     for k, cast in self.CONST.items()}
            a = _blocks(r, tile)
            for z in range(a.shape[0]):
                for ch in range(a.shape[3]):
                    frame = plane_frame(a[z, :, :, ch], r.t, r.c + ch,
                                        r.z + z, r.y0, r.x0, **const)
                    yield pa.RecordBatch.from_pandas(frame,
                                                     preserve_index=False)
