"""Imaris IMS (.ims) + native HDF5 subset codec — coverage for the
HDF5-based format the reference routes to bioio-bioformats (ref
README.md:74), with NO h5py/libhdf5: container per the public HDF5
File Format Specification (superblock v0, v1 object headers, group
B-trees, chunked v1-B-tree layout, deflate filter), payload per the
public Imaris 5.5 layout."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.hdf5 import H5Node, H5Reader, build_hdf5
from bioio_spark.formats.ims import encode_ims, read_ims_catalog
from bioio_spark.sources.ims_image import ImsImageReader


def _block():
    idx = np.indices((2, 3, 4, 5, 6))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


# -- HDF5 container --------------------------------------------------------
def test_h5_groups_attrs_datasets(tmp_path):
    root = H5Node()
    root.attrs["s"] = b"hello"
    g = root.group("a").group("b")
    arr = np.arange(24, dtype=np.float32).reshape(4, 6)
    g.dataset("d", arr)
    g.attrs["num"] = np.int32(7)
    p = tmp_path / "t.h5"
    p.write_bytes(build_hdf5(root))
    with H5Reader(str(p)) as r:
        assert r.attrs("/")["s"] == "hello"
        assert r.list_children("a") == ["b"]
        assert int(r.attrs("a/b")["num"][0]) == 7
        np.testing.assert_array_equal(r.read_dataset("a/b/d"), arr)


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "int16",
                                   "uint32", "float32", "float64"])
def test_h5_dtypes(tmp_path, dtype):
    arr = np.arange(60).astype(dtype).reshape(3, 4, 5)
    root = H5Node()
    root.dataset("d", arr)
    p = tmp_path / f"{dtype}.h5"
    p.write_bytes(build_hdf5(root))
    with H5Reader(str(p)) as r:
        back = r.read_dataset("d")
        assert back.dtype == np.dtype(dtype).newbyteorder("<")
        np.testing.assert_array_equal(back, arr)


def test_h5_chunked_gzip_roundtrip(tmp_path):
    rng = np.random.default_rng(4)
    arr = rng.integers(0, 60000, (5, 33, 47), dtype=np.uint16)
    root = H5Node()
    root.dataset("c", arr, chunks=(2, 16, 16), gzip=True)
    root.dataset("raw", arr, chunks=(3, 20, 20))
    p = tmp_path / "c.h5"
    p.write_bytes(build_hdf5(root))
    with H5Reader(str(p)) as r:
        di = r.dataset_info("c")
        assert di["kind"] == "chunked" and di["gzip"]
        assert len(di["chunks"]) == 3 * 3 * 3
        np.testing.assert_array_equal(r.read_dataset("c"), arr)
        np.testing.assert_array_equal(r.read_dataset("raw"), arr)


def test_h5_contiguous_single_extent(tmp_path):
    arr = np.zeros((8, 9), np.uint8)
    root = H5Node()
    root.dataset("d", arr)
    p = tmp_path / "e.h5"
    p.write_bytes(build_hdf5(root))
    with H5Reader(str(p)) as r:
        di = r.dataset_info("d")
        assert di["kind"] == "contiguous"
        assert len(di["extents"]) == 1
        assert di["extents"][0][1] == 72


def test_h5_rejects_non_hdf5(tmp_path):
    p = tmp_path / "x.h5"
    p.write_bytes(b"plainly not hdf5 data")
    with pytest.raises(ValueError, match="HDF5"):
        H5Reader(str(p))


def test_h5_large_group_fanout(tmp_path):
    """One SNOD holding far more than the legacy 2k=8 entries (the
    superblock advertises leaf k=1024) — the Imaris TimePoint shape."""
    root = H5Node()
    g = root.group("g")
    for i in range(60):
        g.dataset(f"TimePoint {i}", np.full((2, 2), i, np.uint8))
    p = tmp_path / "big.h5"
    p.write_bytes(build_hdf5(root))
    with H5Reader(str(p)) as r:
        kids = r.list_children("g")
        assert len(kids) == 60
        np.testing.assert_array_equal(
            r.read_dataset("g/TimePoint 59"),
            np.full((2, 2), 59, np.uint8))


# -- IMS layer -------------------------------------------------------------
def test_ims_catalog(tmp_path):
    p = tmp_path / "c.ims"
    p.write_bytes(encode_ims(_block(), channel_names=["A", "B", "C"],
                             pps_zyx_um=(0.5, 0.1, 0.1), n_levels=2))
    cat = read_ims_catalog(str(p))
    assert (cat["size_t"], cat["size_c"], cat["size_z"],
            cat["size_y"], cat["size_x"]) == (2, 3, 4, 5, 6)
    assert cat["n_levels"] == 2
    assert cat["channel_names"] == ["A", "B", "C"]
    np.testing.assert_allclose(cat["pps_zyx"], (0.5, 0.1, 0.1))
    assert len(cat["datasets"]) == 2 * 2 * 3


def test_ims_bio_image_contiguous(spark, tmp_path):
    block = _block()
    p = tmp_path / "c.ims"
    p.write_bytes(encode_ims(block, pps_zyx_um=(0.5, 0.1, 0.1)))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (2, 3, 4, 5, 6)
    assert img.physical_pixel_sizes.Z == 0.5
    np.testing.assert_array_equal(img.data, block)


def test_ims_bio_image_chunked_gzip(spark, tmp_path):
    """The wild-file layout: chunked + deflate Data datasets read
    through the same planned path (one plan row per chunk)."""
    block = _block()
    p = tmp_path / "z.ims"
    p.write_bytes(encode_ims(block, chunks=(2, 4, 4), gzip=True))
    img = BioImage(str(p), spark=spark)
    np.testing.assert_array_equal(img.data, block)


def test_ims_window_read(spark, tmp_path):
    block = _block()
    p = tmp_path / "c.ims"
    p.write_bytes(encode_ims(block))
    got = BioImage(str(p), spark=spark).read_window(
        t=1, c=(1, 3), z=2, y=(1, 4), x=(2, 5)).toPandas()
    sub = block[1, 1:3, 2, 1:4, 2:5]
    got = got.sort_values(["c", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_ims_window_read_chunked_gzip(spark, tmp_path):
    """Gzip chunks are not narrowed to the window's rows: each keeps its
    whole compressed byte range, and the task slices the decoded
    chunk."""
    block = _block()
    p = tmp_path / "g.ims"
    p.write_bytes(encode_ims(block, chunks=(2, 3, 4), gzip=True))
    got = BioImage(str(p), spark=spark).read_window(
        t=1, c=(1, 3), z=(1, 3), y=(1, 4), x=(2, 5)).toPandas()
    sub = block[1, 1:3, 1:3, 1:4, 2:5]
    got = got.sort_values(["c", "z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_ims_routing(tmp_path):
    p = tmp_path / "c.ims"
    p.write_bytes(encode_ims(_block()))
    assert ImsImageReader.is_supported_image(str(p))
    q = tmp_path / "x.ims"
    q.write_bytes(b"not hdf5")
    assert not ImsImageReader.is_supported_image(str(q))


# -- ImsWriter: the registered write path (round 8) -------------------------
def test_ims_writer_registered_roundtrip(tmp_path, spark):
    from bioio_spark import BioImage
    from bioio_spark.writers import WRITER_REGISTRY

    idx = np.indices((2, 2, 3, 4, 6))
    block = (idx[0] * 9000 + idx[1] * 900 + idx[2] * 90 + idx[3] * 10
             + idx[4]).astype(np.uint16)
    p = tmp_path / "w.ims"
    WRITER_REGISTRY["ImsWriter"].save(
        block, str(p), dim_order="TCZYX",
        channel_names=["A", "B"], physical_pixel_sizes=(2.0, 0.5, 0.5))
    img = BioImage(str(p), spark=spark)
    assert img.channel_names == ["A", "B"]
    assert img.physical_pixel_sizes.Z == pytest.approx(2.0)
    assert img.physical_pixel_sizes.X == pytest.approx(0.5)
    np.testing.assert_array_equal(img.get_image_data("TCZYX"), block)


def test_ims_writer_coerces_dim_order(tmp_path):
    from bioio_spark.formats.ims import read_ims_catalog
    from bioio_spark.writers import WRITER_REGISTRY

    zyx = np.arange(3 * 4 * 5, dtype=np.uint16).reshape(3, 4, 5)
    p = tmp_path / "zyx.ims"
    WRITER_REGISTRY["ImsWriter"].save(zyx, str(p), dim_order="ZYX")
    cat = read_ims_catalog(str(p))
    assert (cat["size_t"], cat["size_c"], cat["size_z"]) == (1, 1, 3)
    assert (cat["size_y"], cat["size_x"]) == (4, 5)
