"""AVI (.avi) RIFF container codec + reader — the video-container row
of the reference's imageio tier (ref README.md:61,83); layout per the
public Microsoft RIFF/AVI specification (hdrl/movi/idx1)."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.avi import (decode_avi, decode_avi_frame,
                                     encode_avi, read_avi_catalog)
from bioio_spark.sources.avi_image import AviImageReader


def _frames(t_n=4, h=6, w=8):
    idx = np.indices((t_n, h, w, 3))
    return ((idx[0] * 40 + idx[3] * 60 + idx[1] * 9 + idx[2])
            % 256).astype(np.uint8)


def _write(tmp_path, frames=None, name="clip.avi", **kw):
    p = tmp_path / name
    p.write_bytes(encode_avi(frames if frames is not None
                             else _frames(), **kw))
    return str(p)


def test_avi_rgb_roundtrip_bit_exact():
    fr = _frames()
    import tempfile, os
    p = tempfile.mktemp(suffix=".avi")
    try:
        open(p, "wb").write(encode_avi(fr, codec="rgb"))
        np.testing.assert_array_equal(decode_avi(p), fr)
    finally:
        os.remove(p)


def test_avi_rgb_row_padding(tmp_path):
    """Width 13 -> 39-byte rows pad to 40; decode must strip it."""
    rng = np.random.default_rng(9)
    fr = (rng.random((2, 5, 13, 3)) * 255).astype(np.uint8)
    p = _write(tmp_path, fr, codec="rgb")
    np.testing.assert_array_equal(decode_avi(p), fr)


def test_avi_mjpg_blocky_exact(tmp_path):
    yy, xx, ss = np.indices((16, 24, 3))
    blocky = (((yy // 8) * 30 + (xx // 8) * 20 + ss * 10) % 200
              + 20).astype(np.uint8)
    fr = np.stack([blocky, np.roll(blocky, 8, axis=1)])
    p = _write(tmp_path, fr, codec="mjpg", quality=95)
    np.testing.assert_array_equal(decode_avi(p), fr)
    assert read_avi_catalog(p)["codec"] == "mjpg"


def test_avi_catalog_metadata(tmp_path):
    p = _write(tmp_path, fps=10)
    cat = read_avi_catalog(p)
    assert (cat["width"], cat["height"], cat["n_frames"]) == (8, 6, 4)
    assert cat["codec"] == "rgb"
    assert cat["time_interval"] == pytest.approx(0.1)
    # absolute frame ranges point at real chunk payloads
    with open(p, "rb") as f:
        off, size = cat["frames"][0]
        f.seek(off - 8)
        assert f.read(4) == b"00db"


def test_avi_absolute_idx1_offsets(tmp_path):
    """Some muxers write absolute idx1 offsets; the parser detects
    and accepts both."""
    fr = _frames(2)
    data = bytearray(encode_avi(fr, codec="rgb"))
    # find idx1 and movi, rewrite offsets to absolute
    idx_pos = bytes(data).index(b"idx1")
    movi_pos = bytes(data).index(b"movi")
    (idx_size,) = struct.unpack_from("<I", data, idx_pos + 4)
    for i in range(idx_size // 16):
        base = idx_pos + 8 + i * 16
        (off,) = struct.unpack_from("<I", data, base + 8)
        struct.pack_into("<I", data, base + 8, off + movi_pos)
    p = tmp_path / "abs.avi"
    p.write_bytes(bytes(data))
    np.testing.assert_array_equal(decode_avi(str(p)), fr)


def test_avi_rejects_non_avi(tmp_path):
    p = tmp_path / "x.avi"
    p.write_bytes(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError, match="RIFF/AVI"):
        read_avi_catalog(str(p))
    assert not AviImageReader.is_supported_image(str(p))


def test_avi_unknown_codec_rejected(tmp_path):
    data = bytearray(encode_avi(_frames(1), codec="rgb"))
    strf_pos = bytes(data).index(b"strf")
    struct.pack_into("<4s", data, strf_pos + 8 + 16, b"H264")
    p = tmp_path / "h264.avi"
    p.write_bytes(bytes(data))
    with pytest.raises(ValueError, match="unsupported AVI codec"):
        read_avi_catalog(str(p))


def test_avi_bioimage_roundtrip(spark, tmp_path):
    fr = _frames()
    p = _write(tmp_path, fr, fps=10)
    img = BioImage(p, spark=spark)
    assert isinstance(img._reader, AviImageReader)
    assert img.dims.shape == (4, 3, 1, 6, 8)
    assert img.time_interval == pytest.approx(0.1)
    assert img.channel_names == ["Red", "Green", "Blue"]
    got = img.get_image_data("TCZYX")
    exp = fr.transpose(0, 3, 1, 2)[:, :, None]
    np.testing.assert_array_equal(got, exp)


def test_avi_window_prunes_frames(spark, tmp_path):
    fr = _frames()
    p = _write(tmp_path, fr)
    w = BioImage(p, spark=spark).read_window(
        t=slice(1, 3), c=0, y=slice(2, 5), x=slice(3, 7)).toPandas()
    exp = fr[1:3, 2:5, 3:7, 0]
    assert len(w) == exp.size
    got = np.zeros_like(exp, dtype=float)
    for r in w.itertuples():
        got[r.t - 1, r.y - 2, r.x - 3] = r.value
    np.testing.assert_array_equal(got, exp.astype(float))


def test_avi_frame_decode_gray_mjpg_promotes_rgb():
    from bioio_spark.formats.jpeg import encode_jpeg

    g = (np.indices((8, 8)).sum(0) * 0 + 77).astype(np.uint8)
    out = decode_avi_frame(encode_jpeg(g, quality=95), "mjpg", 8, 8)
    assert out.shape == (8, 8, 3)
    assert (out == 77).all()


# -- writer-registry parity (ref README.md:82-83) --------------------------
def test_timeseries_writer_gif_and_avi(spark, tmp_path):
    from bioio_spark.formats.avi import decode_avi
    from bioio_spark.formats.gif import decode_gif
    from bioio_spark.writers import WRITER_REGISTRY

    w = WRITER_REGISTRY["TimeSeriesWriter"]
    fr = _frames(3)
    p_avi = str(tmp_path / "a.avi")
    w.save(fr, p_avi, fps=5)
    np.testing.assert_array_equal(decode_avi(p_avi), fr)
    # gray TYX -> replicated channels in AVI
    g = fr[..., 0]
    p2 = str(tmp_path / "g.avi")
    w.save(g, p2, fps=5)
    np.testing.assert_array_equal(decode_avi(p2)[..., 1], g)
    # animated gif (palette-sized content)
    small = (np.indices((3, 5, 6)).sum(0) * 7 % 200).astype(np.uint8)
    p_gif = str(tmp_path / "a.gif")
    w.save(small, p_gif, fps=10)
    frames, delays = decode_gif(open(p_gif, "rb").read())
    assert len(frames) == 3 and delays[0] == 10
    # every reference TimeSeriesWriter route (.gif/.avi/.mp4/.mkv) is
    # native as of round 8 (tests/test_mp4.py, tests/test_mkv.py)
    with pytest.raises(ValueError, match="TimeSeriesWriter"):
        w.save(fr, str(tmp_path / "a.webm"))


def test_twod_writer_routes_extensions(tmp_path):
    from bioio_spark.formats.avi import decode_avi
    from bioio_spark.formats.bmp import decode_bmp
    from bioio_spark.formats.png import decode_png
    from bioio_spark.writers import WRITER_REGISTRY

    w = WRITER_REGISTRY["TwoDWriter"]
    rng = np.random.default_rng(11)
    img = rng.integers(0, 255, (7, 9, 3), dtype=np.uint8)
    p = str(tmp_path / "f.png")
    w.save(img, p)
    np.testing.assert_array_equal(decode_png(open(p, "rb").read()),
                                  img)
    p = str(tmp_path / "f.bmp")
    w.save(img, p)
    np.testing.assert_array_equal(decode_bmp(open(p, "rb").read()),
                                  img)
    p = str(tmp_path / "f.avi")
    w.save(img, p)
    np.testing.assert_array_equal(decode_avi(p)[0], img)
    # .mov/.mp4/.mkv native as of round 8, .mpg/.mpeg native as of
    # round 9 (tests/test_mpeg1.py); wmv/ogg remain the closed tier
    p = str(tmp_path / "f.mpg")
    w.save(img, p)
    from bioio_spark.formats.mpeg1 import read_mpeg1_catalog
    assert read_mpeg1_catalog(p)["n_frames"] == 1
    with pytest.raises(NotImplementedError, match="proprietary"):
        w.save(img, str(tmp_path / "f.wmv"))
    with pytest.raises(ValueError, match="extension"):
        w.save(img, str(tmp_path / "f.xyz"))


# -- robustness against real-muxer shapes (round-8 ADVICE) ------------------
def test_avi_topdown_dib_not_mirrored(tmp_path):
    """BI_RGB with biHeight < 0 is a TOP-DOWN DIB: rows are already in
    raster order and must not be flipped."""
    fr = _frames()
    t_n, h, w, _ = fr.shape
    # payload rows in raster order == bottom-up encoding of the
    # vertically flipped frame
    raw = bytearray(encode_avi(fr[:, ::-1], codec="rgb"))
    i = raw.index(b"strf") + 8          # strf data
    assert struct.unpack_from("<i", raw, i + 8)[0] == h
    struct.pack_into("<i", raw, i + 8, -h)   # declare top-down
    p = tmp_path / "td.avi"
    p.write_bytes(bytes(raw))
    cat = read_avi_catalog(str(p))
    assert cat["topdown"] and cat["height"] == h
    np.testing.assert_array_equal(decode_avi(str(p)), fr)


def _splice_audio_strl(raw: bytes, first: bool = False) -> bytes:
    """Insert an 'auds' strl (bogus scale/rate) into hdrl and a
    non-video '01dc' idx1 entry — the real-muxer shape that leaked the
    audio header into time_interval before round 8."""
    from bioio_spark.formats.avi import _chunk, _list

    strh_a = (b"auds" + b"\x00" * 4
              + struct.pack("<IHHIIIIIIiI4h", 0, 0, 0, 0, 1, 8000, 0,
                            64, 2, -1, 0, 0, 0, 0, 0))
    audio = _list(b"strl", _chunk(b"strh", strh_a)
                  + _chunk(b"strf", b"\x01\x00\x01\x00" + b"\x00" * 12))
    out = bytearray(raw)
    hd = out.index(b"hdrl") - 8
    (hsize,) = struct.unpack_from("<I", out, hd + 4)
    # inside hdrl: avih chunk then the strl LISTs
    av = out.index(b"avih", hd)
    (asize,) = struct.unpack_from("<I", out, av + 4)
    if first:
        at = av + 8 + asize + (asize & 1)   # before the video strl
    else:
        at = hd + 8 + hsize                 # after it
    out[at:at] = audio
    struct.pack_into("<I", out, hd + 4, hsize + len(audio))
    ix = out.index(b"idx1")
    (isize,) = struct.unpack_from("<I", out, ix + 4)
    entry = b"01dc" + struct.pack("<3I", 0x10, 4, 12)
    out[ix + 8 + isize:ix + 8 + isize] = entry
    struct.pack_into("<I", out, ix + 4, isize + 16)
    struct.pack_into("<I", out, 4,
                     struct.unpack_from("<I", out, 4)[0]
                     + len(audio) + 16)
    return bytes(out)


def test_avi_audio_strl_after_video_ignored(tmp_path):
    fr = _frames()
    p = tmp_path / "av.avi"
    p.write_bytes(_splice_audio_strl(encode_avi(fr, fps=25)))
    cat = read_avi_catalog(str(p))
    assert cat["n_frames"] == fr.shape[0]      # '01dc' filtered out
    assert cat["time_interval"] == 1 / 25      # video strh, not audio
    np.testing.assert_array_equal(decode_avi(str(p)), fr)


def test_avi_audio_strl_before_video_ignored(tmp_path):
    """Audio as stream 0: the video stream is then 1 — but our encoder
    numbered its chunks 00db, so the catalog must reject the mismatch
    rather than silently misread. Covered case: audio AFTER video
    (stream numbering intact). Audio FIRST with renumbered chunks is a
    different mux entirely; here we only pin that the vids strl is
    still found and its header wins."""
    fr = _frames()
    raw = _splice_audio_strl(encode_avi(fr, fps=25), first=True)
    p = tmp_path / "va.avi"
    p.write_bytes(raw)
    # video chunks are numbered 00 but video is now stream index 1:
    # idx1 entries no longer match the vids stream prefix -> clear error
    with pytest.raises(ValueError):
        read_avi_catalog(str(p))
