"""`bioio_raw`: a chunked dense-plane image format with a Spark Python
DataSource reader — SURVEY §4's stretch goal ("a v2 DataSource for chunked
image formats exposing partition pruning per (scene, t, c, z) chunk") made
real with Spark 4's Python DataSource API.

Layout (a `.braw` directory):
    manifest.json                      — scenes, shapes, dtype, channels
    planes/s{scene_idx}_t{t}_c{c}_z{z}.bin — one little-endian float64
                                         YX raster per plane

Scale design:
- **One input partition per plane file** → a 1000-executor cluster reads a
  100 TB image with per-plane parallelism and no driver bottleneck (the
  driver only lists the manifest; executors open their own files).
- **Partition pruning via pushFilters**: equality/range/In predicates on
  scene/scene_idx/t/c/z prune plane files at *planning* time, so a
  `T=8, C=0` selection of a 10k-plane image schedules ~1 task, not 10k —
  the reference's "only requested chunks are read from disk" behavior
  (ref bio_image.py:91-96) expressed as a Catalyst-visible source.
  Pruned filters are still returned to Spark for re-application: pruning is
  purely an optimization, never a correctness dependency.
- **Arrow-batch reads**: each plane decodes to a single pyarrow RecordBatch
  (vectorized numpy index math, no per-row Python loop).

The reference's analog is its plugin Reader protocol (`_read_delayed` per
chunk, ref array_like_reader.py:442-448); this module is the Spark-native
equivalent of writing such a plugin.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator, List, Optional, Sequence

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

RAW_SCHEMA = ("scene string, scene_idx int, t int, c int, z int, "
              "y int, x int, value double")
_PRUNABLE = {"scene", "scene_idx", "t", "c", "z"}


# -------------------------------------------------------------------------
# writer (driver-side; fixtures and exports)
# -------------------------------------------------------------------------
def write_raw(arrays, path: str,
              channel_names: Optional[Sequence[str]] = None) -> None:
    """Write ndarray(s) (TCZYX each; list = multi-scene) as a .braw dir."""
    arrs = arrays if isinstance(arrays, (list, tuple)) else [arrays]
    os.makedirs(os.path.join(path, "planes"), exist_ok=True)
    scenes = []
    for si, arr in enumerate(arrs):
        a = np.asarray(arr, dtype=np.float64)
        if a.ndim != 5:
            raise ValueError(f"write_raw expects 5D TCZYX, got {a.ndim}D")
        t_n, c_n, z_n, y_n, x_n = a.shape
        for t in range(t_n):
            for c in range(c_n):
                for z in range(z_n):
                    fn = os.path.join(
                        path, "planes", f"s{si}_t{t}_c{c}_z{z}.bin")
                    a[t, c, z].astype("<f8").tofile(fn)
        scenes.append({
            "scene": f"Image:{si}", "scene_idx": si,
            "shape": [t_n, c_n, z_n, y_n, x_n],
            "dtype": "float64",
            "channel_names": (list(channel_names) if channel_names
                              else None),
        })
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump({"version": 1, "scenes": scenes}, f)


# -------------------------------------------------------------------------
# Python DataSource (Spark 4)
# -------------------------------------------------------------------------
@dataclass
class PlanePartition(InputPartition):
    path: str
    scene: str
    scene_idx: int
    t: int
    c: int
    z: int
    y_n: int
    x_n: int


def _load_manifest(path: str) -> dict:
    with open(os.path.join(path, "manifest.json")) as f:
        return json.load(f)


class BioioRawReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("bioio_raw requires a path")
        self._manifest = _load_manifest(self._path)
        self._filters: List[Filter] = []

    # -- planning-time pruning -------------------------------------------
    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Record prunable single-column predicates; hand every filter back
        to Spark (pruning is an optimization, re-application keeps any
        residual semantics exact)."""
        self._filters = [
            f for f in filters
            if isinstance(f, (EqualTo, In, GreaterThan, GreaterThanOrEqual,
                              LessThan, LessThanOrEqual))
            and len(f.attribute) == 1 and f.attribute[0] in _PRUNABLE
        ]
        return iter(filters)

    @staticmethod
    def _keep(vals: dict, flt: Filter) -> bool:
        v = vals[flt.attribute[0]]
        if isinstance(flt, EqualTo):
            return v == flt.value
        if isinstance(flt, In):
            return v in flt.value
        if isinstance(flt, GreaterThan):
            return v > flt.value
        if isinstance(flt, GreaterThanOrEqual):
            return v >= flt.value
        if isinstance(flt, LessThan):
            return v < flt.value
        if isinstance(flt, LessThanOrEqual):
            return v <= flt.value
        return True  # pragma: no cover — only prunable types are stored

    def partitions(self):
        parts = []
        for sc in self._manifest["scenes"]:
            t_n, c_n, z_n, y_n, x_n = sc["shape"]
            for t in range(t_n):
                for c in range(c_n):
                    for z in range(z_n):
                        vals = {"scene": sc["scene"],
                                "scene_idx": sc["scene_idx"],
                                "t": t, "c": c, "z": z}
                        if all(self._keep(vals, f) for f in self._filters):
                            parts.append(PlanePartition(
                                path=os.path.join(
                                    self._path, "planes",
                                    f"s{sc['scene_idx']}_t{t}_c{c}"
                                    f"_z{z}.bin"),
                                scene=sc["scene"],
                                scene_idx=sc["scene_idx"],
                                t=t, c=c, z=z, y_n=y_n, x_n=x_n))
        return parts

    # -- executor-side decode --------------------------------------------
    def read(self, partition: PlanePartition):
        import pyarrow as pa

        p = partition
        plane = np.fromfile(p.path, dtype="<f8").reshape(p.y_n, p.x_n)
        n = p.y_n * p.x_n
        yield pa.record_batch([
            pa.array([p.scene] * n, type=pa.string()),
            pa.array(np.full(n, p.scene_idx, dtype=np.int32)),
            pa.array(np.full(n, p.t, dtype=np.int32)),
            pa.array(np.full(n, p.c, dtype=np.int32)),
            pa.array(np.full(n, p.z, dtype=np.int32)),
            pa.array(np.repeat(np.arange(p.y_n, dtype=np.int32), p.x_n)),
            pa.array(np.tile(np.arange(p.x_n, dtype=np.int32), p.y_n)),
            pa.array(plane.ravel()),
        ], names=["scene", "scene_idx", "t", "c", "z", "y", "x", "value"])


class BioioRawDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bioio_raw"

    def schema(self) -> str:
        return RAW_SCHEMA

    def reader(self, schema: StructType) -> BioioRawReader:
        return BioioRawReader(self.options)


def register_raw_source(spark) -> None:
    """Idempotently register the bioio_raw format on a session.

    The DataSource instance is unpickled in a Python worker, and driver
    ``sys.path`` edits don't propagate, so the session's workers must
    import bioio_spark: ``session.ship_package`` sees to it — on a real
    cluster this is how a custom Python source is deployed.
    """
    from pyspark.errors import AnalysisException

    from bioio_spark.session import ship_package

    spark.dataSource.register(BioioRawDataSource)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except AnalysisException:
        pass  # not modifiable in some deployments; reads still work
    ship_package(spark)


# -------------------------------------------------------------------------
# reader-protocol adapter (S4 routing tier, like ParquetImageReader)
# -------------------------------------------------------------------------
class RawImageReader:
    """BioImage reader over a .braw directory (built-in tier)."""

    @staticmethod
    def is_supported_image(image) -> bool:
        return isinstance(image, str) and image.rstrip("/").endswith(".braw")

    def __init__(self, image: str, dim_order=None, channel_names=None,
                 physical_pixel_sizes=None, image_id: str = "img",
                 **_kwargs):
        if dim_order is not None:
            raise ValueError("bioio_raw images are always TCZYX")
        self._path = image
        self._image_id = image_id
        self._channel_names = channel_names
        self._pps = physical_pixel_sizes

    def to_dataset(self, spark):
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.sources.planned import standardize

        register_raw_source(spark)
        manifest = _load_manifest(self._path)
        raw = spark.read.format("bioio_raw").option(
            "path", self._path).load()
        px = standardize(raw, self._image_id)

        scenes, channels = [], []
        for sc in manifest["scenes"]:
            channels += channel_rows(
                self._image_id, sc["scene"],
                resolve_channel_names(
                    self._channel_names or sc.get("channel_names"),
                    sc["shape"][1], sc["scene_idx"]))
            scenes.append(scene_row(
                self._image_id, sc["scene"], sc["scene_idx"], sc["dtype"],
                dict(zip("TCZYX", sc["shape"])), pps=self._pps))
        return ImageDataset(pixels=px, scenes=scenes, channels=channels)
