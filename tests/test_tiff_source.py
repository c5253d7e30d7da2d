"""bioio_tiff Python DataSource: Catalyst-pushed page/strip pruning
(SURVEY §4 stretch, third instance after bioio_raw and bioio_zarr)."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from bioio_spark.sources.tiff_source import (BioioTiffReader,
                                             register_tiff_source)


@pytest.fixture(scope="module")
def tiff_file(spark, tmp_path_factory):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(79)
    a = rng.integers(0, 4096, (2, 2, 3, 6, 8), dtype=np.uint16)
    out = str(tmp_path_factory.mktemp("tsrc") / "img")
    save_ome_tiff(BioImage(a, spark=spark), out, compression=5)
    return os.path.join(out, "scene_0.ome.tiff"), a


def test_planning_time_page_pruning(tiff_file):
    """Pushed t/c/z filters shrink the partition list to intersecting
    pages (one single-strip chunk per page in our encoder's layout)."""
    from pyspark.sql.datasource import EqualTo, LessThan

    path, a = tiff_file
    r = BioioTiffReader({"path": path})
    assert len(r.partitions()) == 2 * 2 * 3        # one strip per page
    r.pushFilters([EqualTo(("t",), 1), LessThan(("z",), 2)])
    pruned = r.partitions()
    assert len(pruned) == 1 * 2 * 2
    assert all(p.t == 1 and p.z < 2 for p in pruned)


def test_strip_pruning_on_multistrip_page(tmp_path):
    """y-range filters prune STRIPS inside a page (hand-built
    RowsPerStrip=2 layout)."""
    import struct

    from pyspark.sql.datasource import LessThan

    img = (np.arange(18).reshape(6, 3) * 7).astype("<u2")
    strips = [img[0:2].tobytes(), img[2:4].tobytes(), img[4:6].tobytes()]
    body = b"".join(strips)
    offs = [8, 8 + len(strips[0]), 8 + 2 * len(strips[0])]
    blob_at = 8 + len(body)
    entries = [
        (256, 4, 1, struct.pack("<I", 3)),
        (257, 4, 1, struct.pack("<I", 6)),
        (258, 3, 1, struct.pack("<HH", 16, 0)),
        (259, 3, 1, struct.pack("<HH", 1, 0)),
        (273, 4, 3, struct.pack("<I", blob_at)),
        (277, 3, 1, struct.pack("<HH", 1, 0)),
        (278, 4, 1, struct.pack("<I", 2)),
        (279, 4, 3, struct.pack("<I", blob_at + 12)),
    ]
    header = struct.pack("<2sHI", b"II", 42, 8 + len(body) + 24)
    ifd = struct.pack("<H", len(entries)) + b"".join(
        struct.pack("<HHI", t, typ, cnt) + val
        for t, typ, cnt, val in entries) + struct.pack("<I", 0)
    blob = struct.pack("<3I", *offs) + struct.pack(
        "<3I", *[len(s) for s in strips])
    p = tmp_path / "ms.tif"
    p.write_bytes(header + body + blob + ifd)

    r = BioioTiffReader({"path": str(p)})
    assert len(r.partitions()) == 3
    r.pushFilters([LessThan(("y",), 3)])
    pruned = r.partitions()
    assert len(pruned) == 2 and all(pt.y0 < 3 for pt in pruned)


def test_end_to_end_filter_equals_window(spark, tiff_file):
    """The DataSource scan under a filter equals BioImage.read_window on
    the same selectors, value for value."""
    from bioio_spark import BioImage

    path, a = tiff_file
    register_tiff_source(spark)
    df = (spark.read.format("bioio_tiff").option("path", path).load()
          .filter("t = 0 AND z >= 1 AND y < 4")
          .select("t", "c", "z", "y", "x", "value"))
    want = BioImage(path, spark=spark).read_window(t=0, z=(1, 3),
                                                   y=(0, 4))
    got = sorted(map(tuple, df.collect()))
    exp = sorted(map(tuple, want.collect()))
    assert got == exp and len(got) > 0


def test_full_scan_equals_source_block(spark, tiff_file):
    path, a = tiff_file
    register_tiff_source(spark)
    df = spark.read.format("bioio_tiff").option("path", path).load()
    assert df.count() == a.size
    s = df.agg(F.sum("value")).collect()[0][0]
    assert s == float(a.sum())


def test_multiscene_file_scene_pruning(spark, tmp_path):
    """A multi-Image single file exposes prunable scenes: scene equality
    prunes at planning time and values match the source blocks."""
    from bioio_spark.formats.tiff import encode_multiscene_ome_tiff
    from pyspark.sql.datasource import EqualTo

    rng = np.random.default_rng(83)
    a = rng.integers(0, 4096, (1, 1, 2, 3, 4), dtype=np.uint16)
    b = rng.integers(0, 4096, (2, 1, 1, 3, 4), dtype=np.uint16)
    p = tmp_path / "multi.ome.tiff"
    p.write_bytes(encode_multiscene_ome_tiff([a, b]))

    r = BioioTiffReader({"path": str(p)})
    assert len(r.partitions()) == 2 + 2
    r.pushFilters([EqualTo(("scene",), "Image:1")])
    assert all(pt.scene == "Image:1" for pt in r.partitions())
    assert len(r.partitions()) == 2

    register_tiff_source(spark)
    df = (spark.read.format("bioio_tiff").option("path", str(p)).load()
          .filter(F.col("scene") == "Image:1"))
    assert df.count() == b.size
    assert df.agg(F.sum("value")).collect()[0][0] == float(b.sum())


def test_scene_names_match_bioimage(spark, tmp_path):
    """The scan names a scene as BioImage does: by its OME image id."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import encode_ome_tiff

    a = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(1, 1, 2, 3, 4)
    p = str(tmp_path / "cells.ome.tiff")
    with open(p, "wb") as f:
        f.write(encode_ome_tiff(a, image_id="Cells"))
    register_tiff_source(spark)
    df = spark.read.format("bioio_tiff").option("path", p).load()
    scenes = tuple(r.scene for r in df.select("scene").distinct().collect())
    assert scenes == BioImage(p, spark=spark).scenes == ("Cells",)
