"""MP4 (.mp4/.mov) ISO BMFF codec + reader — the remaining
video-container rows of the reference's imageio tier (ref
README.md:61,82); layout per the public ISO/IEC 14496-12 spec
(ftyp/mdat/moov, sample table as the read plan)."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.mp4 import (decode_mp4, decode_mp4_frame,
                                     encode_mp4, read_mp4_catalog)
from bioio_spark.sources.mp4_image import Mp4ImageReader


def _frames(t_n=4, h=16, w=24):
    """Constant on 8x8 blocks: DC-only JPEG content decodes EXACTLY
    (the img_jpeg_roundtrip rule)."""
    idx = np.indices((t_n, h, w, 3))
    return ((idx[0] * 30 + (idx[1] // 8) * 25 + (idx[2] // 8) * 15
             + idx[3] * 10) % 200 + 20).astype(np.uint8)


def _write(tmp_path, frames=None, name="clip.mp4", **kw):
    p = tmp_path / name
    p.write_bytes(encode_mp4(frames if frames is not None
                             else _frames(), **kw))
    return str(p)


def test_mp4_roundtrip_blocky_exact(tmp_path):
    fr = _frames()
    np.testing.assert_array_equal(decode_mp4(_write(tmp_path, fr)), fr)


def test_mp4_catalog_metadata(tmp_path):
    p = _write(tmp_path, fps=10)
    cat = read_mp4_catalog(p)
    assert (cat["width"], cat["height"]) == (24, 16)
    assert cat["n_frames"] == 4 and cat["codec"] == "jpeg"
    assert cat["time_interval"] == pytest.approx(0.1)
    # the sample table IS the read plan: ranges are absolute and land
    # on a JFIF SOI marker, without touching mdat during cataloging
    with open(p, "rb") as f:
        for off, size in cat["frames"]:
            f.seek(off)
            assert f.read(2) == b"\xFF\xD8"


def test_mp4_rejects_non_mp4(tmp_path):
    p = tmp_path / "x.mp4"
    p.write_bytes(b"certainly not an iso bmff file")
    with pytest.raises(ValueError, match="BMFF"):
        read_mp4_catalog(str(p))
    assert not Mp4ImageReader.is_supported_image(str(p))


def test_mp4_unsupported_codec_rejected(tmp_path):
    raw = bytearray(encode_mp4(_frames(t_n=1)))
    i = raw.index(b"jpeg", raw.index(b"stsd"))
    raw[i:i + 4] = b"avc1"
    p = tmp_path / "h264.mp4"
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="avc1"):
        read_mp4_catalog(str(p))


def test_mp4_co64_offsets(tmp_path):
    """64-bit chunk offsets (co64) resolve the same plan."""
    fr = _frames(t_n=2)
    raw = bytearray(encode_mp4(fr))
    i = raw.index(b"stco")
    (n,) = struct.unpack_from(">I", raw, i + 8)
    offs = struct.unpack_from(f">{n}I", raw, i + 12)
    body = struct.pack(">I", 0) + struct.pack(">I", n) \
        + b"".join(struct.pack(">Q", o) for o in offs)
    box = struct.pack(">I", 8 + len(body)) + b"co64" + body
    end = i + 4 + struct.unpack_from(">I", raw, i - 4)[0] - 8
    old_len = struct.unpack_from(">I", raw, i - 4)[0]
    new = raw[:i - 4] + box + raw[i - 4 + old_len:]
    # fix enclosing box sizes (stbl/minf/mdia/trak/moov grew)
    delta = len(box) - old_len
    for typ in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = new.index(typ)
        struct.pack_into(">I", new, j - 4,
                         struct.unpack_from(">I", new, j - 4)[0]
                         + delta)
    p = tmp_path / "co64.mp4"
    p.write_bytes(bytes(new))
    np.testing.assert_array_equal(decode_mp4(str(p)), fr)


def test_mp4_bioimage_roundtrip(spark, tmp_path):
    fr = _frames()
    img = BioImage(_write(tmp_path, fr), spark=spark)
    assert img.dims.T == 4 and img.dims.C == 3
    got = img.get_image_data("TYXC")
    np.testing.assert_array_equal(got, fr)


def test_mp4_window_prunes_frames(spark, tmp_path):
    fr = _frames()
    p = _write(tmp_path, fr)
    w = BioImage(p, spark=spark).read_window(
        t=(1, 3), y=(0, 8), x=(8, 16)).toPandas()
    assert set(w["t"]) == {1, 2}
    got = np.zeros((2, 3, 8, 8), np.uint8)
    got[w["t"] - 1, w["c"], w["y"], w["x"] - 8] = w["value"]
    np.testing.assert_array_equal(
        got, fr[1:3, 0:8, 8:16].transpose(0, 3, 1, 2))


def test_mp4_timeseries_writer_route(tmp_path):
    from bioio_spark.writers import WRITER_REGISTRY

    fr = _frames(t_n=2)
    w = WRITER_REGISTRY["TimeSeriesWriter"]
    for name in ("w.mp4", "w.mov"):
        p = tmp_path / name
        w.save(fr, str(p), fps=5)
        cat = read_mp4_catalog(str(p))
        assert cat["n_frames"] == 2
        np.testing.assert_array_equal(decode_mp4(str(p)), fr)
    # .mkv is also native now — covered in tests/test_mkv.py


def test_mp4_twod_writer_route(tmp_path):
    from bioio_spark.writers import WRITER_REGISTRY

    frame = _frames(t_n=1)[0]
    w = WRITER_REGISTRY["TwoDWriter"]
    p = tmp_path / "still.mp4"
    w.save(frame, str(p))
    np.testing.assert_array_equal(decode_mp4(str(p))[0], frame)


def test_mp4_gray_sample_promotes_rgb():
    from bioio_spark.formats.jpeg import encode_jpeg

    gray = _frames(t_n=1)[0, :, :, 0]
    got = decode_mp4_frame(encode_jpeg(gray, quality=95), 24, 16)
    assert got.shape == (16, 24, 3)
    np.testing.assert_array_equal(got[..., 0], gray)


def test_mp4_skips_unknown_boxes(tmp_path):
    """Wild files carry free/udta/meta boxes the reader must walk
    over: insert a 'free' box after moov and an unknown box between
    moov children — the catalog is unchanged (sample offsets are
    absolute, so trailing/metadata boxes cannot shift them)."""
    fr = _frames(t_n=2)
    raw = bytearray(encode_mp4(fr))
    free = struct.pack(">I", 8 + 16) + b"free" + b"\x00" * 16
    raw += free                          # after moov: ignored
    p = tmp_path / "wild.mp4"
    p.write_bytes(bytes(raw))
    cat = read_mp4_catalog(str(p))
    assert cat["n_frames"] == 2
    np.testing.assert_array_equal(decode_mp4(str(p)), fr)


def test_mp4_largesize_box(tmp_path):
    """64-bit largesize (size==1) boxes parse: rewrite the trailing
    free box with a largesize header."""
    fr = _frames(t_n=1)
    raw = bytearray(encode_mp4(fr))
    large = (struct.pack(">I", 1) + b"free"
             + struct.pack(">Q", 16 + 8) + b"\x00" * 8)
    raw += large
    p = tmp_path / "ls.mp4"
    p.write_bytes(bytes(raw))
    np.testing.assert_array_equal(decode_mp4(str(p)), fr)
