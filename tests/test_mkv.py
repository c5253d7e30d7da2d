"""MKV (.mkv) Matroska/EBML codec + reader — the last video-container
row of the reference's imageio tier (ref README.md:82); layout per the
public EBML (RFC 8794) + Matroska specs (Segment/Tracks/Cluster,
SimpleBlocks as the read plan)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.mkv import (decode_mkv, encode_mkv,
                                     read_mkv_catalog)
from bioio_spark.sources.mkv_image import MkvImageReader


def _frames(t_n=4, h=16, w=24):
    """Constant on 8x8 blocks: DC-only JPEG content decodes EXACTLY."""
    idx = np.indices((t_n, h, w, 3))
    return ((idx[0] * 30 + (idx[1] // 8) * 25 + (idx[2] // 8) * 15
             + idx[3] * 10) % 200 + 20).astype(np.uint8)


def _write(tmp_path, frames=None, name="clip.mkv", **kw):
    p = tmp_path / name
    p.write_bytes(encode_mkv(frames if frames is not None
                             else _frames(), **kw))
    return str(p)


def test_mkv_roundtrip_blocky_exact(tmp_path):
    fr = _frames()
    np.testing.assert_array_equal(decode_mkv(_write(tmp_path, fr)), fr)


def test_mkv_catalog_metadata(tmp_path):
    p = _write(tmp_path, fps=10)
    cat = read_mkv_catalog(p)
    assert (cat["width"], cat["height"]) == (24, 16)
    assert cat["n_frames"] == 4 and cat["codec"] == "mjpeg"
    assert cat["time_interval"] == pytest.approx(0.1)
    # SimpleBlocks ARE the read plan: absolute ranges land on JFIF SOI
    with open(p, "rb") as f:
        for off, size in cat["frames"]:
            f.seek(off)
            assert f.read(2) == b"\xFF\xD8"


def test_mkv_rejects_non_mkv(tmp_path):
    p = tmp_path / "x.mkv"
    p.write_bytes(b"this is not an ebml container at all")
    with pytest.raises(ValueError, match="EBML"):
        read_mkv_catalog(str(p))
    assert not MkvImageReader.is_supported_image(str(p))


def test_mkv_unsupported_codec_rejected(tmp_path):
    raw = bytearray(encode_mkv(_frames(t_n=1)))
    i = raw.index(b"V_MJPEG")
    raw[i:i + 7] = b"V_MPEG4"           # same length, AVC-ish id
    p = tmp_path / "h264.mkv"
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="V_MPEG4"):
        read_mkv_catalog(str(p))


def test_mkv_laced_blocks_rejected(tmp_path):
    raw = bytearray(encode_mkv(_frames(t_n=1)))
    # SimpleBlock header: 0xA3 id, size vint, track vint, 2-byte ts,
    # flags — set a lacing bit in flags
    i = raw.index(b"\xFF\xD8")          # first JFIF payload
    raw[i - 1] |= 0x06                  # flags byte precedes payload
    p = tmp_path / "laced.mkv"
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="laced"):
        read_mkv_catalog(str(p))


def test_mkv_bioimage_roundtrip(spark, tmp_path):
    fr = _frames()
    img = BioImage(_write(tmp_path, fr), spark=spark)
    assert img.dims.T == 4 and img.dims.C == 3
    np.testing.assert_array_equal(img.get_image_data("TYXC"), fr)


def test_mkv_window_prunes_frames(spark, tmp_path):
    fr = _frames()
    p = _write(tmp_path, fr)
    w = BioImage(p, spark=spark).read_window(
        t=(2, 4), y=(8, 16), x=(0, 8)).toPandas()
    assert set(w["t"]) == {2, 3}
    got = np.zeros((2, 3, 8, 8), np.uint8)
    got[w["t"] - 2, w["c"], w["y"] - 8, w["x"]] = w["value"]
    np.testing.assert_array_equal(
        got, fr[2:4, 8:16, 0:8].transpose(0, 3, 1, 2))


def test_mkv_timeseries_writer_route(tmp_path):
    from bioio_spark.writers import WRITER_REGISTRY

    fr = _frames(t_n=2)
    w = WRITER_REGISTRY["TimeSeriesWriter"]
    p = tmp_path / "w.mkv"
    w.save(fr, str(p), fps=5)
    cat = read_mkv_catalog(str(p))
    assert cat["n_frames"] == 2
    np.testing.assert_array_equal(decode_mkv(str(p)), fr)
    # gray TYX promotes to replicated channels
    p2 = tmp_path / "g.mkv"
    w.save(fr[..., 0], str(p2), fps=5)
    np.testing.assert_array_equal(decode_mkv(str(p2))[..., 1],
                                  fr[..., 0])


def test_mkv_twod_writer_route(tmp_path):
    from bioio_spark.writers import WRITER_REGISTRY

    frame = _frames(t_n=1)[0]
    p = tmp_path / "still.mkv"
    WRITER_REGISTRY["TwoDWriter"].save(frame, str(p))
    np.testing.assert_array_equal(decode_mkv(str(p))[0], frame)


def test_mkv_skips_unknown_elements(tmp_path):
    """Wild Matroska files carry SeekHead/Cues/Void elements the
    reader must walk over: splice a Void (0xEC) element between the
    Segment's children — EBML sizes are explicit, so unknown elements
    shift nothing."""
    import struct

    fr = _frames(t_n=2)
    raw = bytearray(encode_mkv(fr))
    # Segment payload starts after its id (4B) + size vint; find the
    # Info element (0x1549A966) and insert a Void before it
    i = raw.index(bytes.fromhex("1549A966"))
    void = b"\xec" + bytes([0x80 | 12]) + b"\x00" * 12
    raw[i:i] = void
    # grow the Segment size vint (8-byte form written by encode_mkv)
    seg = raw.index(bytes.fromhex("18538067"))
    size_pos = seg + 4
    n = 1
    b0 = raw[size_pos]
    while not (b0 & (0x80 >> (n - 1))):
        n += 1
    old = int.from_bytes(raw[size_pos:size_pos + n],
                         "big") & ((1 << (7 * n)) - 1)
    raw[size_pos:size_pos + n] = (
        (1 << (7 * n)) | (old + len(void))).to_bytes(n, "big")
    p = tmp_path / "wild.mkv"
    p.write_bytes(bytes(raw))
    cat = read_mkv_catalog(str(p))
    assert cat["n_frames"] == 2
    np.testing.assert_array_equal(decode_mkv(str(p)), fr)
    del struct


def test_mkv_unknown_size_clusters(tmp_path):
    """Live muxers (streamed Matroska) write Clusters with UNKNOWN
    size; each must end at the next Cluster, not swallow its siblings
    — a parser that clips unknown size to the Segment end sees only
    the first cluster's frame."""
    from bioio_spark.formats import mkv as m

    fr = _frames(t_n=3)
    sized = encode_mkv(fr)
    cat_sized = read_mkv_catalog_path(tmp_path, "sized.mkv", sized)
    assert cat_sized["n_frames"] == 3

    # rebuild with every Cluster carrying the unknown-size marker
    from bioio_spark.formats.jpeg import encode_jpeg
    head = m._elem(m._EBML, b"".join(
        [m._uint(s, v) for s, v in ((0x4286, 1), (0x42F7, 1),
                                    (0x42F2, 4), (0x42F3, 8))]
        + [m._elem(m._DOCTYPE, b"matroska"),
           m._uint(0x4287, 4), m._uint(0x4285, 2)]))
    info = m._elem(m._INFO, m._uint(m._TIMESTAMP_SCALE, 1_000_000))
    video = m._elem(m._VIDEO, m._uint(m._PIXEL_WIDTH, 24)
                    + m._uint(m._PIXEL_HEIGHT, 16))
    track = m._elem(m._TRACK_ENTRY, b"".join(
        [m._uint(m._TRACK_NUMBER, 1), m._uint(m._TRACK_UID, 1),
         m._uint(m._TRACK_TYPE, 1),
         m._elem(m._CODEC_ID, b"V_MJPEG"),
         m._uint(m._DEFAULT_DURATION, 40_000_000), video]))
    tracks = m._elem(m._TRACKS, track)
    import struct as _s
    clusters = b""
    for t in range(3):
        payload = encode_jpeg(fr[t], quality=95)
        block = m._elem(m._SIMPLE_BLOCK,
                        m._vint(1) + _s.pack(">h", 0) + b"\x80"
                        + payload)
        body = m._uint(m._CLUSTER_TS, t * 40) + block
        clusters += m._id_bytes(m._CLUSTER) + b"\xFF" + body
    data = head + m._elem(m._SEGMENT, info + tracks + clusters)
    cat = read_mkv_catalog_path(tmp_path, "unksize.mkv", data)
    assert cat["n_frames"] == 3
    got = decode_mkv(str(tmp_path / "unksize.mkv"))
    np.testing.assert_array_equal(got, fr)


def read_mkv_catalog_path(tmp_path, name, data):
    p = tmp_path / name
    p.write_bytes(data)
    return read_mkv_catalog(str(p))
