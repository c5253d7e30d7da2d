"""SlideBook (.sldy/.dir) npy-directory reader — the reference's
bioio-sldy plugin tier (ref README.md:67)."""

import os

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.sources.sldy_image import (SldyImageReader,
                                            parse_flat_yaml,
                                            read_npy_header)


def _export(tmp_path, block, name="capture.sldy", yaml=True):
    """Write a TCZYX block as a SlideBook-style npy export."""
    d = tmp_path / name
    (d / "ImageData").mkdir(parents=True)
    t_n, c_n = block.shape[:2]
    for t in range(t_n):
        for c in range(c_n):
            np.save(d / "ImageData" / f"T{t}_C{c}.npy", block[t, c])
    if yaml:
        (d / "ImageRecord.yaml").write_text(
            "name: capture\nmicrons_per_pixel: 0.16\n"
            "microns_per_pixel_z: 0.5\n")
        (d / "ChannelRecord.yaml").write_text(
            "channel_names: [DAPI, GFP]\n")
    return str(d)


def _block():
    idx = np.indices((2, 2, 3, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def test_parse_flat_yaml():
    got = parse_flat_yaml(
        "name: hello  # comment\nnum: 3\nrate: 0.5\n"
        "channel_names: [DAPI, GFP]\nempty:\n  nested: skipped\n")
    assert got == {"name": "hello", "num": 3, "rate": 0.5,
                   "channel_names": ["DAPI", "GFP"]}


def test_read_npy_header(tmp_path):
    p = tmp_path / "a.npy"
    np.save(p, np.zeros((3, 4, 5), np.uint16))
    shape, dtype = read_npy_header(str(p))
    assert shape == (3, 4, 5) and dtype == np.uint16


def test_sldy_roundtrip_extension_routed(spark, tmp_path):
    block = _block()
    d = _export(tmp_path, block)
    img = BioImage(d, spark=spark)
    assert type(img.reader).__name__ == "SldyImageReader"
    assert (img.dims.T, img.dims.C, img.dims.Z) == (2, 2, 3)
    assert img.channel_names == ["DAPI", "GFP"]
    assert img.physical_pixel_sizes.X == pytest.approx(0.16)
    assert img.physical_pixel_sizes.Z == pytest.approx(0.5)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)
    assert "capture" in (img.metadata or "")


def test_sldy_without_yaml_defaults(spark, tmp_path):
    block = _block()[:1, :1]
    d = _export(tmp_path, block, name="bare.dir", yaml=False)
    img = BioImage(d, reader=SldyImageReader, spark=spark)
    assert img.channel_names == ["Channel:0:0"]
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)


def test_sldy_2d_planes_are_z1(spark, tmp_path):
    d = tmp_path / "flat.sldy"
    (d / "ImageData").mkdir(parents=True)
    plane = np.arange(12, dtype=np.float32).reshape(3, 4)
    np.save(d / "ImageData" / "T0_C0.npy", plane)
    img = BioImage(str(d), reader=SldyImageReader, spark=spark)
    assert (img.dims.Z, img.dims.Y, img.dims.X) == (1, 3, 4)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.float32), plane)


def test_sldy_slide_of_images_multiscene(spark, tmp_path):
    b = _block()
    slide = tmp_path / "slide.sldy"
    for i in range(2):
        d = slide / f"img_{i}"
        (d / "ImageData").mkdir(parents=True)
        np.save(d / "ImageData" / "T0_C0.npy", b[i, 0] + i)
    img = BioImage(str(slide), reader=SldyImageReader, spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    img.set_scene(1)
    np.testing.assert_array_equal(
        img.get_image_data("ZYX").astype(np.uint16), b[1, 0] + 1)


def test_sldy_incomplete_grid_raises(spark, tmp_path):
    d = tmp_path / "gap.sldy"
    (d / "ImageData").mkdir(parents=True)
    np.save(d / "ImageData" / "T0_C0.npy", np.zeros((2, 2), np.uint8))
    np.save(d / "ImageData" / "T1_C1.npy", np.zeros((2, 2), np.uint8))
    with pytest.raises(ValueError, match="grid"):
        BioImage(str(d), reader=SldyImageReader, spark=spark).dims


def test_sldy_plugin_registered():
    from bioio_spark.plugins import _REGISTRY

    assert any(e.name == "bioio-sldy-baseline" for e in _REGISTRY)


def test_get_planes_dataframe_sldy_fast_path(spark, tmp_path):
    """SLDY scenes decode to planes rows zero-shuffle (one payload row
    per Z plane of each npy stack)."""
    block = _block()
    d = _export(tmp_path, block)
    img = BioImage(d, spark=spark)
    pl = img.get_planes_dataframe()
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    pdf = pl.toPandas()
    assert len(pdf) == 2 * 2 * 3                 # t*c*z plane rows
    assert sum(len(v) for v in pdf["values"]) == block.size
    row = pdf[(pdf.t == 1) & (pdf.c == 0) & (pdf.z == 2)].iloc[0]
    np.testing.assert_array_equal(
        np.array(row["values"]),
        block[1, 0, 2].astype(np.float64).ravel())


def test_read_sldy_window_prunes(spark, tmp_path):
    """t/c prune whole npy files; (z, y) windows become contiguous
    byte-range seeks inside each C-order stack; x prunes in numpy."""

    block = _block()                    # (2, 2, 3, 4, 5) TCZYX
    d = _export(tmp_path, block)
    w = BioImage(d, spark=spark).read_window(
        t=1, c=(0, 2), z=(1, 3), y=(1, 3), x=(2, 5)).toPandas()
    exp = block[1, 0:2, 1:3, 1:3, 2:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["c"], w["z"] - 1, w["y"] - 1, w["x"] - 2] = \
        w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)
    # BioImage routing
    img = BioImage(d, spark=spark)
    w2 = img.read_window(t=0, c=1, z=2, y=(0, 2)).toPandas()
    exp2 = block[0, 1, 2, 0:2, :]
    got2 = np.zeros_like(exp2)
    got2[w2["y"], w2["x"]] = w2["value"].astype(np.uint16)
    np.testing.assert_array_equal(got2, exp2)
