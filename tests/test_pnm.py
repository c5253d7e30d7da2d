"""NetPBM (PGM/PPM) codec + reader (imageio-tier; ref README.md:61)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.pnm import decode_pnm, encode_pnm
from bioio_spark.sources.pnm_image import PnmImageReader


@pytest.mark.parametrize("ascii_form", [False, True])
@pytest.mark.parametrize("dtype", ["uint8", "uint16"])
def test_pgm_roundtrip(ascii_form, dtype):
    rng = np.random.default_rng(3)
    img = rng.integers(0, np.iinfo(dtype).max + 1, (5, 7)).astype(dtype)
    back = decode_pnm(encode_pnm(img, ascii_form=ascii_form))
    np.testing.assert_array_equal(back, img)
    assert back.dtype == np.dtype(dtype)


@pytest.mark.parametrize("ascii_form", [False, True])
def test_ppm_roundtrip(ascii_form):
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, (4, 5, 3), dtype=np.uint8)
    np.testing.assert_array_equal(
        decode_pnm(encode_pnm(img, ascii_form=ascii_form)), img)


def test_wild_ascii_with_comments():
    """Hand-written P2 with comments and ragged whitespace — the spec's
    liberal header form."""
    doc = b"P2\n# a comment\n3 2\n# another\n255\n0 1 2\n3 4 5\n"
    np.testing.assert_array_equal(
        decode_pnm(doc), [[0, 1, 2], [3, 4, 5]])


def test_binary_16bit_is_big_endian():
    img = np.array([[0x0102]], np.uint16)
    data = encode_pnm(img)
    assert data.endswith(b"\x01\x02")         # MSB first per spec
    np.testing.assert_array_equal(decode_pnm(data), img)


def test_rejects_bad_input():
    with pytest.raises(ValueError, match="magic"):
        decode_pnm(b"P9\n1 1\n255\n\x00")
    with pytest.raises(ValueError, match="uint8"):
        encode_pnm(np.zeros((2, 2), np.float32))


def test_bioimage_pgm_extension_routed(spark, tmp_path):
    rng = np.random.default_rng(6)
    img = rng.integers(0, 65536, (4, 6)).astype(np.uint16)
    p = tmp_path / "depth.pgm"
    p.write_bytes(encode_pnm(img))
    bi = BioImage(str(p), spark=spark)
    assert type(bi.reader).__name__ == "PnmImageReader"
    assert bi.dtype == np.dtype("uint16")
    np.testing.assert_array_equal(
        bi.get_image_data("YX").astype(np.uint16), img)


def test_bioimage_ppm_s_dim(spark, tmp_path):
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
    p = tmp_path / "rgb.ppm"
    p.write_bytes(encode_pnm(img))
    bi = BioImage(str(p), reader=PnmImageReader, spark=spark)
    assert bi.dims.order.endswith("S")
    np.testing.assert_array_equal(
        bi.get_image_data("YXS").astype(np.uint8), img)


@pytest.mark.parametrize("kind", ["pgm16", "ppm"])
def test_pixel_rows_match_decoded(spark, tmp_path, raster_rows_match, kind):
    """The reader's (t, c, z, y, x, s, value) rows equal decode_pnm's
    array for a 16-bit PGM and an RGB PPM."""
    rng = np.random.default_rng(87)
    px = (rng.integers(0, 65536, (4, 6)).astype(np.uint16)
          if kind == "pgm16"
          else rng.integers(0, 256, (4, 6, 3), dtype=np.uint8))
    data = encode_pnm(px)
    p = tmp_path / f"{kind}.{kind[:3]}"
    p.write_bytes(data)
    raster_rows_match(BioImage(str(p), spark=spark), decode_pnm(data)[None])
