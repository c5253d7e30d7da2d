"""Baseline JPEG codec + reader/writer (4th real format; the reference
delegates JPEG to bioio-imageio, ref README.md:54-80)."""

import numpy as np
import pytest

from bioio_spark.formats.jpeg import decode_jpeg, encode_jpeg


def _psnr(a, b):
    err = (a.astype(float) - b.astype(float)) ** 2
    return 10 * np.log10(255 ** 2 / max(1e-12, err.mean()))


def test_flat_image_exact():
    flat = np.full((16, 24), 128, dtype=np.uint8)
    np.testing.assert_array_equal(decode_jpeg(encode_jpeg(flat)), flat)


def test_gray_gradient_high_psnr():
    g = np.clip(np.add.outer(np.arange(33) * 3, np.arange(41) * 2),
                0, 255).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(g, quality=90))
    assert out.shape == g.shape and out.dtype == np.uint8
    assert _psnr(out, g) > 40


@pytest.mark.parametrize("subsampling", ["444", "420"])
def test_rgb_roundtrip_psnr(subsampling):
    rng = np.random.default_rng(5)
    base = rng.integers(40, 215, (4, 5, 3)).astype(np.float64)
    rgb = np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(rgb, quality=92,
                                  subsampling=subsampling))
    assert out.shape == rgb.shape
    assert _psnr(out, rgb) > (90 if subsampling == "444" else 35)


def test_odd_dims_and_noise():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, (19, 23, 3), dtype=np.uint8)
    for sub in ("444", "420"):
        out = decode_jpeg(encode_jpeg(img, quality=95, subsampling=sub))
        assert out.shape == img.shape
        assert _psnr(out, img) > (30 if sub == "444" else 12)


def test_rejects_progressive_and_garbage():
    g = np.zeros((8, 8), dtype=np.uint8)
    data = bytearray(encode_jpeg(g))
    i = data.find(b"\xFF\xC0")
    data[i + 1] = 0xC2                     # rewrite SOF0 -> SOF2
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg(bytes(data))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    with pytest.raises(ValueError, match="uint8"):
        encode_jpeg(np.zeros((4, 4), dtype=np.uint16))


def test_autocodec_sniffs_jpeg():
    from bioio_spark.functions.multimodal import AutoCodec

    g = np.clip(np.add.outer(np.arange(16) * 8, np.arange(16) * 8),
                0, 255).astype(np.uint8)
    out = AutoCodec.decode(encode_jpeg(g, quality=95))
    assert out.shape == g.shape
    assert _psnr(out, g) > 35


def test_reader_writer_roundtrip(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import JpegWriter

    g = np.clip(np.add.outer(np.arange(24) * 5, np.arange(32) * 3),
                0, 255).astype(np.uint8)
    p = str(tmp_path / "g.jpg")
    JpegWriter.save(g, p, quality=95)
    img = BioImage(p, spark=spark)            # suffix routing
    assert img.dims.order == "TCZYX"
    got = img.get_image_data()[0, 0, 0]
    assert got.shape == g.shape
    assert _psnr(got, g) > 40

    rng = np.random.default_rng(11)
    base = rng.integers(40, 215, (3, 4, 3)).astype(np.float64)
    rgb = np.kron(base, np.ones((8, 8, 1))).astype(np.uint8)
    pc = str(tmp_path / "c.jpeg")
    JpegWriter.save(rgb, pc, quality=95)
    cimg = BioImage(pc, spark=spark)
    assert cimg.dims.order == "TCZYXS"
    assert cimg.dims["S"] == (3,)
    got = cimg.get_image_data()[0, 0, 0]
    assert _psnr(got, rgb) > 40


def test_header_walk_streams_past_large_app_segments(tmp_path):
    """EXIF thumbnails / ICC profiles routinely exceed 64 KB; the catalog
    header walk must seek past them rather than scan a fixed prefix."""
    from bioio_spark.formats.jpeg import encode_jpeg
    from bioio_spark.sources.jpeg_image import _read_jpeg_header

    g = np.clip(np.add.outer(np.arange(24) * 5, np.arange(32) * 3),
                0, 255).astype(np.uint8)
    enc = encode_jpeg(g)
    assert enc[:2] == b"\xFF\xD8"
    # splice three maximum-size APP segments (~192 KB total — the
    # multi-segment ICC/EXIF shape) right after SOI; each APPn length
    # field is 16-bit so big profiles span several segments
    payload = b"ICC_PROFILE\x00" + b"\xAB" * 65520
    seg = (len(payload) + 2).to_bytes(2, "big") + payload
    apps = b"\xFF\xE1" + seg + b"\xFF\xE2" + seg + b"\xFF\xE2" + seg
    p = tmp_path / "bigapp.jpg"
    p.write_bytes(enc[:2] + apps + enc[2:])
    h, w, nc = _read_jpeg_header(str(p))
    assert (h, w, nc) == (24, 32, 1)


_WILD_JPEGS = [
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
    "test/imghdrdata/python.jpg",
    "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11/"
    "site-packages/IPython/core/tests/2x2.jpg",
]
_WILD_PNGS = [
    "/mnt/sandboxing/model_tools_env/v1/python/install/share/jupyter/"
    "kernels/python3/logo-64x64.png",
]


@pytest.mark.parametrize("path", _WILD_JPEGS)
def test_decodes_wild_jpegs(path):
    """Interop: files produced by independent encoders (CPython/IPython
    test assets present in this environment) decode without error to
    plausible rasters. Skipped where the assets are absent."""
    import os

    if not os.path.exists(path):
        pytest.skip("wild sample not present")
    img = decode_jpeg(open(path, "rb").read())
    assert img.dtype == np.uint8
    assert img.ndim in (2, 3) and img.shape[0] > 0 and img.shape[1] > 0


@pytest.mark.parametrize("path", _WILD_PNGS)
def test_decodes_wild_pngs(path):
    import os

    from bioio_spark.formats.png import decode_png

    if not os.path.exists(path):
        pytest.skip("wild sample not present")
    img = decode_png(open(path, "rb").read())
    assert img.dtype == np.uint8 and img.shape[2] == 4  # RGBA


@pytest.mark.parametrize("kind", ["gray", "rgb"])
def test_pixel_rows_match_decoded(spark, tmp_path, raster_rows_match, kind):
    """The reader's (t, c, z, y, x, s, value) rows equal decode_jpeg's
    array for gray and RGB files."""
    from bioio_spark import BioImage

    rng = np.random.default_rng(84)
    shape = (9, 11) if kind == "gray" else (9, 11, 3)
    data = encode_jpeg(rng.integers(0, 255, shape, dtype=np.uint8))
    p = tmp_path / f"{kind}.jpg"
    p.write_bytes(data)
    raster_rows_match(BioImage(str(p), spark=spark),
                      decode_jpeg(data)[None])
