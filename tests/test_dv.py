"""DeltaVision (.dv/.r3d) codec + reader — the reference's bioio-dv
plugin tier (ref README.md:60); layout per the public Priism/IVE MRC
subfile notes."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.dv import (DV_MAGIC, decode_dv, encode_dv,
                                    iter_dv_sections, parse_dv_header,
                                    section_index)
from bioio_spark.sources.dv_image import DvImageReader


def _block():
    idx = np.indices((2, 3, 4, 5, 6))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


@pytest.mark.parametrize("seq", [0, 1, 2])
def test_codec_roundtrip_sequences(seq):
    block = _block()
    back, h = decode_dv(encode_dv(block, img_sequence=seq))
    np.testing.assert_array_equal(back, block)
    assert h["img_sequence"] == seq


@pytest.mark.parametrize("dtype", ["uint8", "int16", "float32", "int32",
                                   "uint16"])
def test_codec_dtypes(dtype):
    block = _block().astype(dtype)
    back, h = decode_dv(encode_dv(block))
    np.testing.assert_array_equal(back, block)
    assert back.dtype == np.dtype(dtype)


def test_codec_complex64():
    block = (_block() + 1j * _block()[::-1]).astype(np.complex64)
    back, _ = decode_dv(encode_dv(block))
    np.testing.assert_array_equal(back, block)


def test_header_fields_pinned():
    """Field offsets per the Priism spec: nx@0, PixelType@12, d@40,
    dvid@96, NumTimes@180, ImgSequence@182, NumWaves@196, wave@198."""
    data = encode_dv(_block(), pixel_sizes=(0.3, 0.2, 0.1),
                     waves=[435, 525, 595], title="hello")
    assert struct.unpack_from("<3i", data, 0) == (6, 5, 2 * 3 * 4)
    assert struct.unpack_from("<i", data, 12) == (6,)       # uint16
    np.testing.assert_allclose(
        struct.unpack_from("<3f", data, 40), (0.1, 0.2, 0.3), rtol=1e-6)
    assert struct.unpack_from("<h", data, 96) == (DV_MAGIC,)
    assert struct.unpack_from("<h", data, 180) == (2,)
    assert struct.unpack_from("<h", data, 196) == (3,)
    assert struct.unpack_from("<3h", data, 198) == (435, 525, 595)
    assert data[224:229] == b"hello"
    h = parse_dv_header(data[:1024])
    assert (h["num_times"], h["num_waves"], h["num_z"]) == (2, 3, 4)
    assert h["waves"] == [435, 525, 595]


def test_section_order_ztw_is_z_fastest():
    h = parse_dv_header(encode_dv(_block(), img_sequence=0)[:1024])
    assert section_index(h, 0, 0, 1) == 1          # z fastest
    assert section_index(h, 1, 0, 0) == 4          # then t
    assert section_index(h, 0, 1, 0) == 8          # w slowest
    plan = iter_dv_sections(h)
    assert len(plan) == 24
    assert all(p["nbytes"] == 5 * 6 * 2 for p in plan)


def test_big_endian_header_detected():
    """MM-style DV (written on big-endian IRIX boxes) parses via the
    byte-order probe on the dvid magic."""
    head = bytearray(1024)
    struct.pack_into(">4i", head, 0, 6, 5, 4, 6)
    struct.pack_into(">h", head, 96, DV_MAGIC)
    struct.pack_into(">h", head, 180, 1)
    struct.pack_into(">h", head, 182, 0)
    struct.pack_into(">h", head, 196, 2)
    h = parse_dv_header(bytes(head))
    assert h["bo"] == ">"
    assert (h["num_times"], h["num_waves"], h["num_z"]) == (1, 2, 2)
    assert h["dtype"] == np.dtype(">u2")


def test_not_dv_raises():
    with pytest.raises(ValueError, match="dvid"):
        parse_dv_header(b"\x00" * 1024)
    with pytest.raises(ValueError, match="truncated"):
        parse_dv_header(b"\x00" * 10)


def test_bioimage_dv_roundtrip(spark, tmp_path):
    block = _block()
    p = tmp_path / "cells.dv"
    p.write_bytes(encode_dv(block, pixel_sizes=(0.3, 0.1, 0.1),
                            waves=[435, 525, 595]))
    img = BioImage(str(p), spark=spark)     # extension-routed
    assert type(img.reader).__name__ == "DvImageReader"
    assert (img.dims.T, img.dims.C, img.dims.Z) == (2, 3, 4)
    assert img.channel_names == ["435", "525", "595"]
    assert img.physical_pixel_sizes.Z == pytest.approx(0.3)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)


def test_dv_directory_multiscene(spark, tmp_path):
    b = _block()
    (tmp_path / "a.dv").write_bytes(encode_dv(b[:1]))
    (tmp_path / "b.r3d").write_bytes(encode_dv(b[1:] * 2))
    img = BioImage(str(tmp_path), reader=DvImageReader, spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    np.testing.assert_array_equal(
        img.get_image_data("CZYX").astype(np.uint16), b[0])
    img.set_scene(1)
    np.testing.assert_array_equal(
        img.get_image_data("CZYX").astype(np.uint16), b[1] * 2)


def test_read_dv_window_prunes_sections_and_rows(spark, tmp_path):
    """t/c/z prune whole sections; y narrows the per-section byte
    range; x trims residually."""

    block = _block()
    p = tmp_path / "win.dv"
    p.write_bytes(encode_dv(block, img_sequence=2))
    w = BioImage(str(p), spark=spark).read_window(
        t=1, c=(1, 3), z=2, y=(1, 4), x=(2, 5)).toPandas()
    exp = block[1, 1:3, 2, 1:4, 2:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["c"] - 1, w["y"] - 1, w["x"] - 2] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_read_dv_window_empty_selection(spark, tmp_path):
    p = tmp_path / "e.dv"
    p.write_bytes(encode_dv(_block()[:1, :1]))
    with pytest.raises(IndexError):
        BioImage(str(p), spark=spark).read_window(t=5)


def test_bioimage_read_window_dispatches_to_dv(spark, tmp_path):
    block = _block()
    p = tmp_path / "rw.dv"
    p.write_bytes(encode_dv(block))
    img = BioImage(str(p), spark=spark)
    w = img.read_window(t=0, c=2, z=(1, 3), y=(0, 2)).toPandas()
    exp = block[0, 2, 1:3, 0:2, :]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["z"] - 1, w["y"], w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)
