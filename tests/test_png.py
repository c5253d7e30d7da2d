"""Baseline PNG codec + reader/writer (second real-format plugin)."""

import struct
import zlib

import numpy as np
import pytest

from bioio_spark.formats.png import decode_png, encode_png


@pytest.mark.parametrize("dtype", ["uint8", "uint16"])
def test_codec_roundtrip(dtype):
    rng = np.random.default_rng(3)
    a = rng.integers(0, np.iinfo(dtype).max, (13, 7), dtype=dtype)
    out = decode_png(encode_png(a))
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, a)


def test_decoder_handles_all_filters():
    """Re-encode a gradient image with each filter type and verify the
    decoder reconstructs it (files from standard writers use 1-4)."""
    a = (np.add.outer(np.arange(9), np.arange(11)) * 7 % 251).astype(
        np.uint8)
    h, w = a.shape

    def encode_with_filter(ftype):
        raw = bytearray()
        prior = bytes(w)
        for r in range(h):
            line = bytes(a[r])
            enc = bytearray([ftype])
            for i in range(w):
                left = line[i - 1] if i else 0
                ul = prior[i - 1] if i else 0
                up = prior[i]
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = left
                elif ftype == 2:
                    pred = up
                elif ftype == 3:
                    pred = (left + up) >> 1
                else:
                    p = left + up - ul
                    pa, pb, pc = (abs(p - left), abs(p - up), abs(p - ul))
                    pred = (left if pa <= pb and pa <= pc
                            else up if pb <= pc else ul)
                enc.append((line[i] - pred) & 0xFF)
            raw += enc
            prior = line
        sig = b"\x89PNG\r\n\x1a\n"

        def chunk(t, d):
            return (struct.pack(">I", len(d)) + t + d
                    + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (sig + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw)))
                + chunk(b"IEND", b""))

    for ftype in range(5):
        np.testing.assert_array_equal(
            decode_png(encode_with_filter(ftype)), a,
            err_msg=f"filter {ftype}")


def test_codec_rejects():
    with pytest.raises(ValueError, match="2D"):
        encode_png(np.zeros((2, 2, 2), dtype=np.uint8))
    with pytest.raises(ValueError, match="uint8/uint16"):
        encode_png(np.zeros((2, 2), dtype=np.float32))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"nope")


def test_bioimage_png_roundtrip(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import WRITER_REGISTRY, PngWriter

    assert WRITER_REGISTRY["PngWriter"] is PngWriter
    rng = np.random.default_rng(9)
    a = rng.integers(0, 65535, (6, 8), dtype=np.uint16)
    path = str(tmp_path / "p.png")
    PngWriter.save(a, path)

    img = BioImage(path, spark=spark)   # suffix routes to PngImageReader
    assert img.dims.order == "TCZYX"
    assert img.shape == (1, 1, 1, 6, 8)
    assert img.dtype == np.dtype("uint16")
    np.testing.assert_array_equal(img.get_image_data()[0, 0, 0], a)


def test_png_directory_multiscene(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.sources.png_image import PngImageReader
    from bioio_spark.writers import PngWriter

    planes = [np.full((3, 4), i * 10, dtype=np.uint8) for i in range(3)]
    for i, p in enumerate(planes):
        PngWriter.save(p, str(tmp_path / f"s{i}.png"))
    img = BioImage(str(tmp_path), reader=PngImageReader, spark=spark)
    assert img.scenes == ("Image:0", "Image:1", "Image:2")
    for i, p in enumerate(planes):
        img.set_scene(i)
        np.testing.assert_array_equal(img.get_image_data()[0, 0, 0], p)


def test_png_plugin_listed():
    import bioio_spark
    from bioio_spark.plugins import dump_plugins

    # other test modules clear the registry; re-registration is idempotent
    bioio_spark._register_builtin_plugins()
    assert "bioio-png-baseline" in dump_plugins()
    assert "bioio-ome-tiff-baseline" in dump_plugins()


def test_rgb_roundtrip():
    from bioio_spark.formats.png import decode_png, encode_png

    rng = np.random.default_rng(47)
    rgb = rng.integers(0, 255, (7, 5, 3), dtype=np.uint8)
    back = decode_png(encode_png(rgb))
    assert back.shape == (7, 5, 3)
    np.testing.assert_array_equal(back, rgb)
    rgb16 = rng.integers(0, 65535, (4, 6, 3), dtype=np.uint16)
    np.testing.assert_array_equal(decode_png(encode_png(rgb16)), rgb16)


def test_rgb_filters_sub_up_paeth():
    """Foreign-writer RGB rows: apply each filter FORWARD in the test with
    the 3-byte pixel distance, assert the decoder inverts it."""
    import struct
    import zlib

    from bioio_spark.formats.png import _chunk, _SIGNATURE, decode_png

    rng = np.random.default_rng(53)
    img = rng.integers(0, 255, (4, 5, 3), dtype=np.uint8)
    h, w, bpp = 4, 5, 3
    stride = w * bpp
    flat = img.reshape(h, stride).astype(np.int64)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

    raw = bytearray()
    filters = [1, 2, 3, 4]  # Sub, Up, Average, Paeth
    for r, ft in enumerate(filters):
        raw.append(ft)
        prior = flat[r - 1] if r else np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            x = flat[r, i]
            left = flat[r, i - bpp] if i >= bpp else 0
            up = prior[i]
            ul = prior[i - bpp] if i >= bpp else 0
            if ft == 1:
                v = x - left
            elif ft == 2:
                v = x - up
            elif ft == 3:
                v = x - ((left + up) >> 1)
            else:
                v = x - paeth(left, up, ul)
            raw.append(v & 0xFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (_SIGNATURE + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _chunk(b"IEND", b""))
    np.testing.assert_array_equal(decode_png(data), img)


def test_rgb_png_reader_s_dim(spark, tmp_path):
    """A color PNG reads as a TCZYXS scene with the sample dim."""
    from bioio_spark import BioImage
    from bioio_spark.formats.png import encode_png

    rng = np.random.default_rng(59)
    rgb = rng.integers(0, 255, (6, 4, 3), dtype=np.uint8)
    p = tmp_path / "c.png"
    p.write_bytes(encode_png(rgb))
    img = BioImage(str(p), spark=spark)
    assert img.dims.order == "TCZYXS"
    assert img.dims["S"] == (3,)
    np.testing.assert_array_equal(img.get_image_data()[0, 0, 0], rgb)


def _encode_adam7(img: np.ndarray) -> bytes:
    """Test-side Adam7 interlaced encoder (filter-0 rows): seven passes,
    each an independently-filtered sub-image, per the PNG spec lattice."""
    import struct
    import zlib

    passes = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
              (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
    h, w = img.shape[:2]
    samples = 1 if img.ndim == 2 else img.shape[2]
    depth = 16 if img.dtype.itemsize == 2 else 8
    color = {1: 0, 2: 4, 3: 2, 4: 6}[samples]
    stream = bytearray()
    be = img.astype(np.dtype(f">u{depth // 8}"))
    if be.ndim == 2:
        be = be[:, :, None]
    for (x0, y0, xs, ys) in passes:
        sub = be[y0::ys, x0::xs]
        if sub.size == 0:
            continue
        for row in sub:
            stream.append(0)
            stream += row.tobytes()

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 1)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("shape,dtype", [
    ((10, 7), np.uint8),          # empty passes on the narrow axis
    ((16, 16), np.uint8),
    ((5, 3), np.uint8),           # smaller than one 8x8 macro-block
    ((9, 11, 3), np.uint8),       # RGB
    ((12, 6), np.uint16),         # 16-bit
    ((1, 1), np.uint8),           # single pixel: only pass 1 non-empty
])
def test_decode_adam7_interlaced(shape, dtype):
    from bioio_spark.formats.png import decode_png

    rng = np.random.default_rng(61)
    hi = 65535 if dtype == np.uint16 else 255
    img = rng.integers(0, hi, shape).astype(dtype)
    out = decode_png(_encode_adam7(img))
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, img)


def _encode_paletted(idx: np.ndarray, pal: np.ndarray, depth: int,
                     trns=None, interlace=0) -> bytes:
    """Test-side paletted encoder: packed big-endian indices, filter-0
    rows, optional tRNS, optional Adam7."""
    import struct
    import zlib

    h, w = idx.shape

    def pack_rows(sub):
        out = bytearray()
        for row in sub:
            out.append(0)
            bits = np.unpackbits(
                row.astype(np.uint8)[:, None], axis=1)[:, 8 - depth:]
            out += np.packbits(bits.ravel()).tobytes()
        return out

    stream = bytearray()
    if interlace:
        for (x0, y0, xs, ys) in [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                                 (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                                 (0, 1, 1, 2)]:
            sub = idx[y0::ys, x0::xs]
            if sub.size:
                stream += pack_rows(sub)
    else:
        stream += pack_rows(idx)

    def chunk(ctype, body):
        return (struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body)))

    ihdr = struct.pack(">IIBBBBB", w, h, depth, 3, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    out += chunk(b"PLTE", pal.astype(np.uint8).tobytes())
    if trns is not None:
        out += chunk(b"tRNS", bytes(trns))
    return (out + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("depth", [1, 2, 4, 8])
@pytest.mark.parametrize("interlace", [0, 1])
def test_decode_paletted(depth, interlace):
    from bioio_spark.formats.png import decode_png

    rng = np.random.default_rng(67)
    n_pal = 1 << depth
    pal = rng.integers(0, 255, (n_pal, 3)).astype(np.uint8)
    idx = rng.integers(0, n_pal, (11, 7)).astype(np.uint8)
    out = decode_png(_encode_paletted(idx, pal, depth,
                                      interlace=interlace))
    assert out.shape == (11, 7, 3)
    np.testing.assert_array_equal(out, pal[idx])


def test_decode_paletted_trns_alpha():
    from bioio_spark.formats.png import decode_png

    rng = np.random.default_rng(71)
    pal = rng.integers(0, 255, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (6, 9)).astype(np.uint8)
    trns = bytes(range(0, 48, 12))      # alpha for first 4 entries
    out = decode_png(_encode_paletted(idx, pal, 4, trns=trns))
    assert out.shape == (6, 9, 4)
    np.testing.assert_array_equal(out[:, :, :3], pal[idx])
    alpha = np.full(16, 255, np.uint8)
    alpha[:4] = list(trns)
    np.testing.assert_array_equal(out[:, :, 3], alpha[idx])


def test_paletted_png_through_bioimage(spark, tmp_path):
    """A paletted wild-style PNG catalogs (samples from PLTE/tRNS) and
    reads through the full BioImage plugin route."""
    from bioio_spark import BioImage

    rng = np.random.default_rng(73)
    pal = rng.integers(0, 255, (16, 3)).astype(np.uint8)
    idx = rng.integers(0, 16, (8, 10)).astype(np.uint8)
    p = tmp_path / "icon.png"
    p.write_bytes(_encode_paletted(idx, pal, 4))

    img = BioImage(str(p), spark=spark)
    assert img.dims.order == "TCZYXS"
    assert img.dims["S"] == (3,)
    np.testing.assert_array_equal(img.get_image_data()[0, 0, 0], pal[idx])

    p2 = tmp_path / "icon_a.png"
    p2.write_bytes(_encode_paletted(idx, pal, 4, trns=bytes([7] * 16)))
    img2 = BioImage(str(p2), spark=spark)
    assert img2.dims["S"] == (4,)


@pytest.mark.parametrize("kind,name", [("gray16", "g.png"),
                                       ("rgb", "c.png"), ("rgba", "a.png"),
                                       ("rgb", "UPPER.PNG")])
def test_pixel_rows_match_decoded(spark, tmp_path, raster_rows_match, kind,
                                  name):
    """The reader's (t, c, z, y, x, s, value) rows equal decode_png's
    array for gray, RGB and RGBA files; a file whose suffix is upper
    case is read too, not just catalogued."""
    from bioio_spark import BioImage

    rng = np.random.default_rng(83)
    if kind == "gray16":
        data = encode_png(rng.integers(0, 65535, (5, 7), dtype=np.uint16))
    elif kind == "rgb":
        data = encode_png(rng.integers(0, 255, (5, 7, 3), dtype=np.uint8))
    else:
        data = _encode_adam7(rng.integers(0, 255, (5, 7, 4),
                                          dtype=np.uint8))
    p = tmp_path / name
    p.write_bytes(data)
    raster_rows_match(BioImage(str(p), spark=spark), decode_png(data)[None])
