"""GIF codec + reader (imageio-tier; ref README.md:61). GIF-LZW is
LSB-first with NO EarlyChange — the schedule twin tests here pin it
against the TIFF variant."""

import numpy as np
import pytest

from bioio_spark.formats.gif import (decode_gif, encode_gif,
                                     lzw_decode_gif, lzw_encode_gif)


@pytest.mark.parametrize("payload", [
    b"",
    b"A",
    b"AB" * 300,
    bytes(range(256)) * 20,                  # many width bumps
    np.random.default_rng(5).integers(
        0, 256, 60000, dtype=np.uint8).tobytes(),   # table resets
    b"\x00" * 5000,                          # KwKwK chains
])
def test_lzw_roundtrip(payload):
    assert lzw_decode_gif(lzw_encode_gif(payload, 8), 8) == payload


def test_lzw_small_code_size():
    payload = bytes([0, 1, 2, 3] * 50)
    assert lzw_decode_gif(lzw_encode_gif(payload, 2), 2) == payload


def test_lzw_first_bytes_pinned():
    """min_code_size 2: Clear(100b) then literal — LSB-first packing
    puts Clear in the LOW bits of byte 0."""
    out = lzw_encode_gif(b"\x01", 2)
    # 3-bit codes: 100 (Clear=4), 001 (1), 101 (EOI=5) ->
    # byte0 = 001_100 | (101 <<6)&0xff
    assert out[0] == 0b01001100
    assert lzw_decode_gif(out, 2) == b"\x01"


def test_wild_1x1_transparent_gif():
    """The canonical 43-byte transparent-pixel GIF (an independent
    encoder's output) decodes: pins header walk, GCE transparency, and
    the LZW bit order against the wild."""
    data = (b"GIF89a\x01\x00\x01\x00\x80\x00\x00\x00\x00\x00\xff\xff"
            b"\xff!\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01"
            b"\x00\x01\x00\x00\x02\x02D\x01\x00;")
    frames, delays = decode_gif(data)
    assert frames.shape == (1, 1, 1)
    assert frames[0, 0, 0] == 0        # transparent over black canvas
    assert delays == [0]


def test_gray_roundtrip():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (7, 9), dtype=np.uint8)
    frames, delays = decode_gif(encode_gif(img))
    assert frames.shape == (1, 7, 9)
    np.testing.assert_array_equal(frames[0], img)


def test_animation_roundtrip_with_delays():
    rng = np.random.default_rng(4)
    vid = rng.integers(0, 256, (4, 5, 6), dtype=np.uint8)
    frames, delays = decode_gif(encode_gif(vid, delays=[10, 20, 30, 40]))
    np.testing.assert_array_equal(frames, vid)
    assert delays == [10, 20, 30, 40]


def test_rgb_palette_roundtrip():
    rgb = np.zeros((2, 4, 4, 3), np.uint8)
    rgb[0, :, :, 0] = 200
    rgb[1, :, :, 2] = 100
    rgb[0, 0, 0] = (1, 2, 3)
    frames, _ = decode_gif(encode_gif(rgb))
    np.testing.assert_array_equal(frames, rgb)


def test_interlaced_roundtrip():
    rng = np.random.default_rng(6)
    img = rng.integers(0, 256, (13, 5), dtype=np.uint8)   # odd height
    frames, _ = decode_gif(encode_gif(img, interlace=True))
    np.testing.assert_array_equal(frames[0], img)


def test_palette_limit_raises():
    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, (1, 20, 20, 3), dtype=np.uint8)
    with pytest.raises(ValueError, match="palette"):
        encode_gif(rgb)


def test_rejects_non_gif():
    with pytest.raises(ValueError, match="GIF"):
        decode_gif(b"NOPE" + b"\x00" * 40)


def test_bioimage_gif_frames_are_t(spark, tmp_path):
    from bioio_spark import BioImage

    rng = np.random.default_rng(8)
    vid = rng.integers(0, 256, (3, 4, 5), dtype=np.uint8)
    p = tmp_path / "anim.gif"
    p.write_bytes(encode_gif(vid, delays=[5, 5, 5]))
    img = BioImage(str(p), spark=spark)
    assert type(img.reader).__name__ == "GifImageReader"
    assert (img.dims.T, img.dims.Y, img.dims.X) == (3, 4, 5)
    np.testing.assert_array_equal(
        img.get_image_data("TYX").astype(np.uint8), vid)
    # frame delay -> time_interval (centiseconds -> seconds)
    assert img.time_interval == pytest.approx(0.05)


def test_autocodec_sniffs_gif():
    from bioio_spark.functions.multimodal import AutoCodec, GifCodec

    payload = GifCodec.encode(3, "video", 6, 4, 5)
    out = AutoCodec.decode(payload)
    assert out.shape == (5, 4, 6)


def test_disposal_2_clears_after_its_own_frame():
    """The GCE disposal applies AFTER its frame renders: frame 1 (with
    disposal 2) composites over frame 0's pixels; frame 2 then sees
    frame 1's region restored to background."""
    import struct

    from bioio_spark.formats.gif import lzw_encode_gif

    def gce(disposal):
        return struct.pack("<BBBBHBB", 0x21, 0xF9, 4, disposal << 2,
                           0, 0, 0)

    def img_block(idx_plane, x0=0, y0=0):
        h, w = idx_plane.shape
        out = bytearray(struct.pack("<BHHHHB", 0x2C, x0, y0, w, h, 0))
        out.append(8)
        lzw = lzw_encode_gif(idx_plane.tobytes(), 8)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, 1)
    head = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0xF7, 0, 0)
            + pal.tobytes())
    f0 = np.full((2, 2), 10, np.uint8)
    f1 = np.full((1, 1), 20, np.uint8)      # 1x1 overlay, disposal 2
    f2 = np.full((1, 1), 30, np.uint8)      # drawn at (1,1)
    data = (head
            + gce(0) + img_block(f0)
            + gce(2) + img_block(f1)        # dispose AFTER rendering
            + gce(0) + img_block(f2, x0=1, y0=1)
            + b"\x3b")
    frames, _ = decode_gif(data)
    assert frames[0][0, 0] == 10
    assert frames[1][0, 0] == 20            # overlay visible in frame 1
    assert frames[2][0, 0] == 0             # restored to bg in frame 2
    assert frames[2][1, 1] == 30
    assert frames[2][0, 1] == 10            # untouched region persists


def test_gif_disposal_restore_previous():
    """Disposal 3 (restore to previous): pixels covered by a frame are
    reverted — not carried — once the next frame draws."""
    import struct

    from bioio_spark.formats.gif import lzw_encode_gif

    def gce(disposal):
        return struct.pack("<BBBBHBB", 0x21, 0xF9, 4, disposal << 2,
                           0, 0, 0)

    def img_block(idx_plane, x0=0, y0=0):
        h, w = idx_plane.shape
        out = bytearray(struct.pack("<BHHHHB", 0x2C, x0, y0, w, h, 0))
        out.append(8)
        lzw = lzw_encode_gif(idx_plane.tobytes(), 8)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i:i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
        return bytes(out)

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, 1)
    head = (b"GIF89a" + struct.pack("<HHBBB", 2, 2, 0xF7, 0, 0)
            + pal.tobytes())
    f0 = np.full((2, 2), 10, np.uint8)
    f1 = np.full((1, 1), 20, np.uint8)      # 1x1 overlay, disposal 3
    f2 = np.full((1, 1), 30, np.uint8)      # drawn at (1,1)
    data = (head
            + gce(0) + img_block(f0)
            + gce(3) + img_block(f1)        # revert AFTER rendering
            + gce(0) + img_block(f2, x0=1, y0=1)
            + b"\x3b")
    frames, _ = decode_gif(data)
    assert frames[0][0, 0] == 10
    assert frames[1][0, 0] == 20            # overlay visible in frame 1
    assert frames[2][0, 0] == 10            # REVERTED (not 20, not 0)
    assert frames[2][1, 1] == 30
    assert frames[2][0, 1] == 10


@pytest.mark.parametrize("kind", ["gray", "rgb", "frames"])
def test_pixel_rows_match_decoded(spark, tmp_path, raster_rows_match, kind):
    """The reader's (t, c, z, y, x, s, value) rows equal decode_gif's
    frames for a gray, an RGB and a multi-frame file."""
    from bioio_spark import BioImage

    rng = np.random.default_rng(86)
    shape = {"gray": (4, 6), "rgb": (1, 4, 6, 3), "frames": (3, 4, 6)}[kind]
    data = encode_gif(rng.integers(0, 256, shape, dtype=np.uint8) // 64)
    p = tmp_path / f"{kind}.gif"
    p.write_bytes(data)
    raster_rows_match(BioImage(str(p), spark=spark), decode_gif(data)[0])
