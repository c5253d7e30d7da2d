"""bioio_zarr Python DataSource: Catalyst-pushed chunk pruning
(SURVEY §4 stretch, second instance after bioio_raw)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bioio_spark.sources.zarr_source import (BioioZarrReader,
                                             register_zarr_source)


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(71)
    a = rng.integers(0, 4096, (2, 2, 4, 8, 9), dtype=np.uint16)
    out = str(tmp_path_factory.mktemp("zsrc") / "img")
    img = BioImage(a, spark=spark)
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4))
    return os.path.join(out, "scene_0.zarr"), a


def test_planning_time_chunk_pruning(store):
    """Unit-level: pushed filters shrink the partition list to the plan
    rows (chunks) whose extents intersect — O(window/chunk) tasks."""
    from pyspark.sql.datasource import EqualTo, LessThan

    path, a = store
    r = BioioZarrReader({"path": path})
    full = len(r.partitions())
    # grid: 2*2*2*3*3 = 72 chunks
    assert full == 2 * 2 * 2 * 3 * 3
    r.pushFilters([EqualTo(("t",), 1), EqualTo(("z",), 0),
                   LessThan(("y",), 3)])
    pruned = r.partitions()
    # t=1 -> 1 grid slot; z=0 -> chunk z-range [0,2) -> 1 slot;
    # y<3 -> first y chunk only; c and x unconstrained (2 * 3)
    assert len(pruned) == 1 * 2 * 1 * 1 * 3
    assert all(p.t == 1 and p.z == 0 and p.y0 == 0 for p in pruned)


def test_end_to_end_filter_equals_window(spark, store):
    path, a = store
    register_zarr_source(spark)
    df = (spark.read.format("bioio_zarr").option("path", path).load()
          .filter("t = 1 AND z >= 1 AND z < 3 AND y >= 2 AND y < 7"))
    pdf = df.toPandas()
    want = a[1, :, 1:3, 2:7, :]
    assert len(pdf) == want.size
    got = np.zeros_like(want)
    got[pdf["c"], pdf["z"] - 1, pdf["y"] - 2, pdf["x"]] = pdf["value"]
    np.testing.assert_array_equal(got, want)


def test_full_scan_equals_bioimage(spark, store):
    from bioio_spark import BioImage

    path, a = store
    register_zarr_source(spark)
    df = spark.read.format("bioio_zarr").option("path", path).load()
    total = df.agg(F.count(F.lit(1)), F.sum("value")).collect()[0]
    assert total[0] == a.size
    assert total[1] == float(a.sum())


def test_multi_scene_dir_scene_pruning(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr
    from pyspark.sql.datasource import EqualTo

    rng = np.random.default_rng(73)
    scenes = [rng.integers(0, 99, (1, 1, 1, 4, 4), dtype=np.uint8)
              for _ in range(2)]
    out = str(tmp_path / "multi")
    save_ome_zarr(BioImage(scenes, spark=spark), out)

    r = BioioZarrReader({"path": out})
    both = len(r.partitions())
    r.pushFilters([EqualTo(("scene",), "Image:1")])
    only1 = r.partitions()
    assert 0 < len(only1) < both
    assert all(p.scene == "Image:1" for p in only1)

    register_zarr_source(spark)
    df = (spark.read.format("bioio_zarr").option("path", out).load()
          .filter("scene = 'Image:1'"))
    assert df.count() == scenes[1].size
