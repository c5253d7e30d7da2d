"""ImageJ-hyperstack and bare (no-OME) TIFFs — the wild files the
reference's bioio-tifffile tier reads: C-fastest page order from the
"ImageJ=" description, the one-IFD contiguous big-stack layout, and
plain multi-page stacks mapping pages to Z."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.tiff import (encode_tiff,
                                      parse_imagej_description)
from bioio_spark.formats.tiff_pages import PageSpec, compose_tiff


def _block(T=2, C=3, Z=4, dtype="uint16"):
    idx = np.indices((T, C, Z, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(dtype)


def _ij_desc(T, C, Z, extra=""):
    return (f"ImageJ=1.53t\nimages={T * C * Z}\nchannels={C}\n"
            f"slices={Z}\nframes={T}\n{extra}")


def _hyper_pages(block):
    T, C, Z = block.shape[:3]
    # ImageJ page order: XYCZT — channel fastest
    return [block[t, c, z]
            for t in range(T) for z in range(Z) for c in range(C)]


def test_description_parse_rules():
    d = parse_imagej_description(
        "ImageJ=1.53t\nimages=24\nchannels=2\nslices=3\nframes=4")
    assert (d["channels"], d["slices"], d["frames"]) == (2, 3, 4)
    bare = parse_imagej_description("ImageJ=1.53t\nimages=7")
    assert bare["slices"] == 7
    assert parse_imagej_description("<OME/>") is None
    with pytest.raises(ValueError, match="images="):
        parse_imagej_description(
            "ImageJ=1\nimages=5\nchannels=2\nslices=3\nframes=1")


def test_hyperstack_multipage(spark, tmp_path):
    block = _block()
    p = tmp_path / "h.tif"
    p.write_bytes(encode_tiff(_hyper_pages(block),
                              description=_ij_desc(2, 3, 4,
                                                   "spacing=0.7\n"
                                                   "unit=micron")))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (2, 3, 4, 4, 5)
    assert img.physical_pixel_sizes.Z == 0.7
    np.testing.assert_array_equal(img.data, block)


def test_hyperstack_contiguous_single_ifd(spark, tmp_path):
    block = _block(T=2, C=2, Z=3)
    pages = _hyper_pages(block)
    rest = b"".join(np.ascontiguousarray(fr).astype("<u2").tobytes()
                    for fr in pages[1:])
    data, _ = compose_tiff([PageSpec(
        pages[0], description=_ij_desc(2, 2, 3), extra_data=rest)])
    p = tmp_path / "c.tif"
    p.write_bytes(data)
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (2, 2, 3, 4, 5)
    np.testing.assert_array_equal(img.data, block)
    # each appended frame is a plan row of its own, so the reader
    # windows this layout itself
    assert img._reader.read_window(spark, img, t=1, c=0) is not None
    got = (img.read_window(t=1, c=0, z=(1, 3), y=(1, 3))
           .orderBy("z", "y", "x").toPandas())
    sub = block[1, 0, 1:3, 1:3]
    np.testing.assert_allclose(
        got["value"].to_numpy().reshape(sub.shape), sub)


def test_plain_tiff_pages_to_z(spark, tmp_path):
    vol = np.random.default_rng(1).integers(
        0, 60000, (6, 4, 5), dtype=np.uint16)
    p = tmp_path / "p.tif"
    p.write_bytes(encode_tiff(list(vol)))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (1, 1, 6, 4, 5)
    np.testing.assert_array_equal(img.data[0, 0], vol)


def test_plain_rgb_tiff(spark, tmp_path):
    rgb = np.random.default_rng(2).integers(
        0, 255, (8, 9, 3), dtype=np.uint8)
    p = tmp_path / "rgb.tif"
    p.write_bytes(encode_tiff([rgb]))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (1, 1, 1, 8, 9, 3)
    np.testing.assert_array_equal(img.data[0, 0, 0], rgb)


def test_window_read_imagej_order(spark, tmp_path):
    """The windowed path maps pages C-fastest — the axis-mislabeling
    trap this dialect sets for OME-order planners."""
    block = _block()
    p = tmp_path / "h.tif"
    p.write_bytes(encode_tiff(_hyper_pages(block),
                              description=_ij_desc(2, 3, 4)))
    img = BioImage(str(p), spark=spark)
    assert img._reader.read_window(spark, img, t=1) is not None
    got = img.read_window(t=1, c=(1, 3), z=2, y=(1, 4),
                          x=(2, 5)).toPandas()
    sub = block[1, 1:3, 2, 1:4, 2:5]
    got = got.sort_values(["c", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_planes_read_imagej_order(spark, tmp_path):
    block = _block()
    p = tmp_path / "h.tif"
    p.write_bytes(encode_tiff(_hyper_pages(block),
                              description=_ij_desc(2, 3, 4)))
    img = BioImage(str(p), spark=spark)
    assert img._reader.read_planes(spark, img) is not None
    pdf = img.get_planes_dataframe().toPandas()
    assert len(pdf) == 2 * 3 * 4
    row = pdf[(pdf.t == 1) & (pdf.c == 2) & (pdf.z == 3)].iloc[0]
    np.testing.assert_allclose(
        np.asarray(row["values"]).reshape(4, 5), block[1, 2, 3])
