"""MRC-2014 (.mrc/.st/.map) codec + reader — native coverage for the
cryo-EM standard the reference routes to bioio-bioformats (ref
README.md:74); layout per the public CCP-EM MRC-2014 spec."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.mrc import (encode_mrc, parse_mrc_header,
                                     read_mrc_header)
from bioio_spark.sources.mrc_image import MrcImageReader


def _vol(dtype="float32"):
    idx = np.indices((4, 5, 6))
    return (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(dtype)


def test_header_fields(tmp_path):
    p = tmp_path / "v.mrc"
    p.write_bytes(encode_mrc(_vol(), pixel_size_a=1.5,
                             labels=["hello mrc"]))
    h = read_mrc_header(str(p))
    assert (h["nx"], h["ny"], h["nz"]) == (6, 5, 4)
    assert h["dtype"] == np.dtype("<f4")
    assert abs(h["pixel_size_a"] - 1.5) < 1e-6
    assert h["labels"] == ["hello mrc"]
    assert h["data_offset"] == 1024


@pytest.mark.parametrize("dtype", ["int8", "int16", "uint16",
                                   "float32"])
def test_modes_roundtrip(tmp_path, dtype):
    vol = _vol(dtype)
    p = tmp_path / f"{dtype}.mrc"
    p.write_bytes(encode_mrc(vol))
    h = read_mrc_header(str(p))
    with open(p, "rb") as f:
        f.seek(h["data_offset"])
        back = np.frombuffer(f.read(), h["dtype"]).reshape(4, 5, 6)
    np.testing.assert_array_equal(back, vol)


def test_big_endian_machine_stamp(tmp_path):
    """The machine stamp flips byte order for the whole header."""
    data = bytearray(encode_mrc(_vol("int16")))
    # rebuild as BE: swap the fields we read
    be = bytearray(1024)
    struct.pack_into(">4i", be, 0, 6, 5, 4, 1)
    struct.pack_into(">3i", be, 28, 6, 5, 4)
    struct.pack_into(">3f", be, 40, 9.0, 7.5, 6.0)
    struct.pack_into(">i", be, 92, 0)
    be[208:212] = b"MAP "
    be[212:216] = b"\x11\x11\x00\x00"
    h = parse_mrc_header(bytes(be))
    assert h["bo"] == ">"
    assert (h["nx"], h["ny"], h["nz"]) == (6, 5, 4)
    assert h["dtype"] == np.dtype(">i2")
    assert abs(h["pixel_size_a"] - 1.5) < 1e-6


def test_no_map_stamp_rejected(tmp_path):
    p = tmp_path / "x.mrc"
    p.write_bytes(b"\x00" * 2048)
    with pytest.raises(ValueError, match="MAP"):
        read_mrc_header(str(p))
    assert not MrcImageReader.is_supported_image(str(p))


def test_bio_image_volume(spark, tmp_path):
    vol = _vol()
    p = tmp_path / "v.mrc"
    p.write_bytes(encode_mrc(vol, pixel_size_a=2.0))
    img = BioImage(str(p), spark=spark)
    assert img.dims.shape == (1, 1, 4, 5, 6)
    # 2 Å = 2e-4 µm
    np.testing.assert_allclose(img.physical_pixel_sizes.X, 2e-4)
    np.testing.assert_array_equal(img.data[0, 0], vol)


def test_window_read(spark, tmp_path):
    vol = _vol()
    p = tmp_path / "v.mrc"
    p.write_bytes(encode_mrc(vol))
    got = BioImage(str(p), spark=spark).read_window(
        z=(1, 3), y=(1, 4), x=(2, 5)).toPandas()
    sub = vol[1:3, 1:4, 2:5]
    got = got.sort_values(["z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)
