"""BMP codec + reader (imageio-tier; ref README.md:61 bioio-imageio's
raster formats)."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.bmp import decode_bmp, encode_bmp
from bioio_spark.sources.bmp_image import BmpImageReader


def test_gray_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7), dtype=np.uint8)
    data = encode_bmp(img)
    assert data[:2] == b"BM"
    np.testing.assert_array_equal(decode_bmp(data), img)


def test_rgb_roundtrip_odd_width_padding():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)  # stride pad
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


def test_header_layout_pinned():
    """BM magic, pixel offset at 10, BITMAPINFOHEADER width/height/bpp,
    bottom-up rows, BGR order — the Windows DIB layout."""
    img = np.zeros((2, 2, 3), np.uint8)
    img[0, 0] = (255, 0, 0)          # top-left red
    data = encode_bmp(img)
    (off,) = struct.unpack_from("<I", data, 10)
    assert off == 54
    assert struct.unpack_from("<ii", data, 18) == (2, 2)
    assert struct.unpack_from("<H", data, 28) == (24,)
    # bottom-up: file row 0 is image row 1; BGR: red = 00 00 FF
    row1, row0 = data[54:62], data[62:70]
    assert row0[:3] == b"\x00\x00\xff"
    assert row1[:3] == b"\x00\x00\x00"


def test_topdown_and_32bit_decode():
    """Hand-built top-down 32-bit BMP decodes without a flip."""
    h, w = 2, 2
    px = np.arange(h * w * 4, dtype=np.uint8).reshape(h, w, 4)
    body = px[:, :, [2, 1, 0, 3]].tobytes()       # store as BGRA
    head = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0,
                       len(body), 0, 0, 0, 0)
    out = decode_bmp(head + info + body)
    np.testing.assert_array_equal(out, px)


def test_color_palette_decodes_rgb():
    img = np.array([[0, 1], [1, 0]], np.uint8)
    data = bytearray(encode_bmp(img))
    # recolor palette entries 0/1 (BGRA quads at offset 54)
    data[54:58] = bytes([255, 0, 0, 0])     # index 0 -> blue
    data[58:62] = bytes([0, 0, 255, 0])     # index 1 -> red
    out = decode_bmp(bytes(data))
    assert out.shape == (2, 2, 3)
    np.testing.assert_array_equal(out[0, 0], [0, 0, 255])
    np.testing.assert_array_equal(out[0, 1], [255, 0, 0])


def test_rejects_unsupported():
    with pytest.raises(ValueError, match="magic"):
        decode_bmp(b"XX" + b"\x00" * 60)
    with pytest.raises(ValueError, match="uint8"):
        encode_bmp(np.zeros((2, 2), np.uint16))
    data = bytearray(encode_bmp(np.zeros((2, 2), np.uint8)))
    struct.pack_into("<I", data, 30, 1)     # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        decode_bmp(bytes(data))


def test_bioimage_bmp_extension_routed(spark, tmp_path):
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    p = tmp_path / "scan.bmp"
    p.write_bytes(encode_bmp(img))
    bi = BioImage(str(p), spark=spark)
    assert type(bi.reader).__name__ == "BmpImageReader"
    assert (bi.dims.Y, bi.dims.X) == (4, 6)
    np.testing.assert_array_equal(
        bi.get_image_data("YX").astype(np.uint8), img)


def test_bioimage_bmp_rgb_s_dim(spark, tmp_path):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
    p = tmp_path / "rgb.bmp"
    p.write_bytes(encode_bmp(img))
    bi = BioImage(str(p), reader=BmpImageReader, spark=spark)
    assert bi.dims.order.endswith("S")
    np.testing.assert_array_equal(
        bi.get_image_data("YXS").astype(np.uint8), img)


def test_autocodec_sniffs_bmp():
    from bioio_spark.functions.multimodal import AutoCodec, BmpCodec

    payload = BmpCodec.encode(3, "image", 6, 4, 1)
    out = AutoCodec.decode(payload)
    assert out.shape == (1, 4, 6)


def _bgra_bmp(px):
    """A top-down 32-bit BMP (BGRA quads) of the (H, W, 4) array."""
    h, w = px.shape[:2]
    body = px[:, :, [2, 1, 0, 3]].tobytes()
    head = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0,
                       len(body), 0, 0, 0, 0)
    return head + info + body


@pytest.mark.parametrize("kind", ["gray", "rgb", "rgba"])
def test_pixel_rows_match_decoded(spark, tmp_path, raster_rows_match, kind):
    """The reader's (t, c, z, y, x, s, value) rows equal decode_bmp's
    array for 8-bit gray, 24-bit RGB and 32-bit RGBA files."""
    rng = np.random.default_rng(85)
    shape = {"gray": (5, 7), "rgb": (5, 7, 3), "rgba": (5, 7, 4)}[kind]
    px = rng.integers(0, 256, shape, dtype=np.uint8)
    data = _bgra_bmp(px) if kind == "rgba" else encode_bmp(px)
    p = tmp_path / f"{kind}.bmp"
    p.write_bytes(data)
    raster_rows_match(BioImage(str(p), spark=spark), decode_bmp(data)[None])
