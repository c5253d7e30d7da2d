"""Micro-Manager NDTiff — the NDTiffStorage dataset layout (public
spec in micro-manager/NDTiffStorage): binary index + TIFF data files,
positions -> scenes. Like the reference's bioio-tiff-glob, the
extension-less directory is selected with reader=."""

import os
import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.ndtiff import (INDEX_NAME, encode_ndtiff,
                                        read_index, read_ndtiff_catalog,
                                        write_index_entry)
from bioio_spark.sources.ndtiff_image import NdtiffImageReader


def _block():
    idx = np.indices((2, 2, 3, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def test_index_entry_roundtrip(tmp_path):
    e = write_index_entry({"time": 3, "channel": 1}, "a.tif",
                          4096, 64, 32, 1)
    p = tmp_path / INDEX_NAME
    p.write_bytes(e + e)
    back = read_index(str(p))
    assert len(back) == 2
    assert back[0]["axes"] == {"time": 3, "channel": 1}
    assert back[0]["filename"] == "a.tif"
    assert (back[0]["offset"], back[0]["w"], back[0]["h"]) == \
        (4096, 64, 32)
    assert back[0]["dtype"] == np.dtype("<u2")


def test_index_rejects_compressed_pixels(tmp_path):
    e = bytearray(write_index_entry({"time": 0}, "a.tif", 0, 4, 4, 1))
    # pixel compression field is the 5th u32 of the fixed tail
    tail = len(e) - 32
    struct.pack_into("<I", e, tail + 16, 1)
    p = tmp_path / INDEX_NAME
    p.write_bytes(bytes(e))
    with pytest.raises(ValueError, match="compressed"):
        read_index(str(p))


def test_catalog_grid_and_offsets(tmp_path):
    block = _block()
    d = str(tmp_path / "acq")
    encode_ndtiff(block, d, positions=2)
    cat = read_ndtiff_catalog(d)
    assert (cat["size_t"], cat["size_c"], cat["size_z"],
            cat["n_positions"]) == (2, 2, 3, 2)
    # index offsets address the raw planes directly
    e = cat["entries"][0]
    with open(os.path.join(d, e["filename"]), "rb") as f:
        f.seek(e["offset"])
        arr = np.frombuffer(f.read(4 * 5 * 2), np.dtype("<u2"))
    a = e["axes"]
    np.testing.assert_array_equal(
        arr.reshape(4, 5),
        block[a.get("time", 0), a.get("channel", 0), a.get("z", 0)])


def test_bio_image_positions_as_scenes(spark, tmp_path):
    block = _block()
    d = str(tmp_path / "acq")
    encode_ndtiff(block, d, positions=2)
    img = BioImage(d, spark=spark, reader=NdtiffImageReader)
    assert img.scenes == ("Image:0", "Image:1")
    assert img.dims.shape == (2, 2, 3, 4, 5)
    np.testing.assert_array_equal(img.data, block)
    img.set_scene("Image:1")
    np.testing.assert_array_equal(img.data, block)


def test_window_read(spark, tmp_path):
    block = _block()
    d = str(tmp_path / "acq")
    encode_ndtiff(block, d)
    img = BioImage(d, spark=spark, reader=NdtiffImageReader)
    win = dict(t=1, c=(0, 2), z=2, y=(1, 4), x=(2, 5))
    assert img._reader.read_window(spark, img, **win) is not None
    got = img.read_window(**win).toPandas()
    sub = block[1, 0:2, 2, 1:4, 2:5]
    got = got.sort_values(["c", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_is_supported_requires_index(tmp_path):
    d = tmp_path / "noidx"
    d.mkdir()
    assert not NdtiffImageReader.is_supported_image(str(d))
    encode_ndtiff(_block(), str(tmp_path / "acq"))
    assert NdtiffImageReader.is_supported_image(str(tmp_path / "acq"))
