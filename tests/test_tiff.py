"""Baseline OME-TIFF codec + writer/reader roundtrips (S10 + real-format S4).

The encode side mirrors the reference's OmeTiffWriter contract
(ref bioio/writers/__init__.py:10-15, bio_image.py:1229-1301); decode
verifies the bytes independently, and the BioImage roundtrip closes the
loop through the plugin routing tier.
"""

import numpy as np
import pytest

from bioio_spark.formats.tiff import (build_ome_xml, decode_ome_tiff,
                                      decode_tiff, encode_ome_tiff,
                                      encode_tiff, iter_tiff_chunks,
                                      parse_ome_xml)
from bioio_spark.types import PhysicalPixelSizes


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "uint32", "int8",
                                   "int16", "int32", "float32", "float64"])
def test_codec_roundtrip_dtypes(dtype):
    rng = np.random.default_rng(11)
    if np.dtype(dtype).kind == "f":
        block = rng.random((2, 3, 2, 5, 7)).astype(dtype)
    else:
        info = np.iinfo(dtype)
        block = rng.integers(info.min, info.max, (2, 3, 2, 5, 7),
                             dtype=dtype)
    data = encode_ome_tiff(block)
    out, xml = decode_ome_tiff(data)
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, block)
    h = parse_ome_xml(xml)
    assert (h["size_t"], h["size_c"], h["size_z"],
            h["size_y"], h["size_x"]) == block.shape


def test_codec_rejects_unsupported():
    with pytest.raises(ValueError, match="dtype"):
        encode_tiff([np.zeros((2, 2), dtype=np.complex64)])
    with pytest.raises(ValueError, match="2D"):
        encode_tiff([np.zeros((2, 2, 2, 2))])
    with pytest.raises(ValueError, match="sample count"):
        encode_tiff([np.zeros((2, 2, 3)), np.zeros((2, 2, 2))])
    with pytest.raises(ValueError, match="at least one"):
        encode_tiff([])
    with pytest.raises(ValueError, match="compression"):
        encode_tiff([np.zeros((2, 2), dtype=np.uint8)], compression=6)
    with pytest.raises(ValueError, match="uint8"):
        encode_tiff([np.zeros((2, 2), dtype=np.uint16)], compression=7)
    with pytest.raises(ValueError, match="predictor"):
        encode_tiff([np.zeros((2, 2), dtype=np.uint8)], predictor=3)
    with pytest.raises(ValueError, match="integer-only"):
        encode_tiff([np.zeros((2, 2), dtype=np.float32)], predictor=2)
    with pytest.raises(ValueError, match="TIFF"):
        decode_tiff(b"MM\x00\x2a garbage")


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "float64"])
def test_codec_deflate_roundtrip(dtype):
    rng = np.random.default_rng(3)
    if np.dtype(dtype).kind == "f":
        block = rng.random((2, 1, 2, 6, 7)).astype(dtype)
    else:
        block = rng.integers(0, 50, (2, 1, 2, 6, 7), dtype=dtype)
    packed = encode_ome_tiff(block, compression=8)
    out, _ = decode_ome_tiff(packed)
    np.testing.assert_array_equal(out, block)


@pytest.mark.parametrize("dtype", ["float32", "float64"])
@pytest.mark.parametrize("comp", [1, 5, 8])
def test_codec_float_special_values(dtype, comp):
    """SampleFormat=3 pages must roundtrip negatives, NaN and inf bit-
    exactly under every compression (no predictor on the float path)."""
    a = ((np.arange(80, dtype=dtype).reshape(8, 10) / 4.0) - 3.5)
    a[0, 0], a[1, 1], a[2, 2] = np.nan, np.inf, -np.inf
    planes, _desc = decode_tiff(encode_tiff([a], compression=comp))
    out = planes[0]
    assert out.dtype == np.dtype(dtype)
    np.testing.assert_array_equal(out, a)


def test_codec_deflate_shrinks_low_entropy():
    zeros = np.zeros((1, 1, 1, 64, 64), dtype=np.uint16)
    assert (len(encode_ome_tiff(zeros, compression=8))
            < len(encode_ome_tiff(zeros)) / 4)


def test_codec_deflate_legacy_code_decodes():
    """Compression=32946 (old Deflate code) decodes like 8."""
    import struct

    block = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(1, 1, 2, 3, 4)
    data = bytearray(encode_ome_tiff(block, compression=8))
    # patch the Compression SHORT value 8 -> 32946 in every IFD entry
    needle = struct.pack("<HHIHH", 259, 3, 1, 8, 0)
    repl = struct.pack("<HHIHH", 259, 3, 1, 32946, 0)
    patched = bytes(data).replace(needle, repl)
    assert patched != bytes(data)
    out, _ = decode_ome_tiff(patched)
    np.testing.assert_array_equal(out, block)


def test_codec_multisample_roundtrip():
    """TCZYXS (interleaved RGB-style) pages: S in the XML, PHOTOMETRIC=RGB,
    out-of-line BitsPerSample/SampleFormat arrays."""
    rng = np.random.default_rng(9)
    block = rng.integers(0, 65535, (2, 2, 1, 4, 5, 3), dtype=np.uint16)
    for comp in (1, 8):
        data = encode_ome_tiff(block, compression=comp)
        out, xml = decode_ome_tiff(data)
        assert out.shape == block.shape
        np.testing.assert_array_equal(out, block)
        h = parse_ome_xml(xml)
        assert h["size_s"] == 3
        assert h["size_c"] == 2  # plane channels, not channel samples
        assert 'SizeC="6"' in xml  # OME SizeC totals channel samples
        assert 'Interleaved="true"' in xml


def test_codec_multisample_pages_via_decode_tiff():
    planes = [np.arange(4 * 5 * 2, dtype=np.uint8).reshape(4, 5, 2)]
    out, _ = decode_tiff(encode_tiff(planes))
    assert out[0].shape == (4, 5, 2)
    np.testing.assert_array_equal(out[0], planes[0])


def test_distributed_save_compressed_multisample(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(21)
    arr = rng.integers(0, 255, (1, 2, 2, 4, 5, 3), dtype=np.uint8)
    img = BioImage(arr, dim_order="TCZYXS", spark=spark)
    out = str(tmp_path / "deflate")
    report = save_ome_tiff(img, out, compression=8)
    assert report[0]["n_bytes"] > 0
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    assert back.dims.order == "TCZYXS"
    np.testing.assert_array_equal(back.get_image_data(), arr)


def test_ome_xml_attrs():
    xml = build_ome_xml(2, 3, 4, 5, 6, "uint16", image_id="Image:7",
                        image_name='say "hi"',
                        channel_names=["DAPI", "GFP", "RFP"],
                        physical_pixel_sizes=PhysicalPixelSizes(
                            Z=2.0, Y=0.5, X=0.5))
    h = parse_ome_xml(xml)
    assert h["image_id"] == "Image:7"
    assert h["image_name"] == 'say "hi"'
    assert h["pixel_type"] == "uint16"
    assert h["channel_names"] == ["DAPI", "GFP", "RFP"]
    assert (h["pps_z"], h["pps_y"], h["pps_x"]) == (2.0, 0.5, 0.5)
    # one TiffData per plane, XYZCT page order (z fastest)
    assert xml.count("<TiffData") == 2 * 3 * 4


def test_writer_save_ndarray_guessed_order(tmp_path):
    from bioio_spark.writers import OmeTiffWriter

    a = (np.arange(2 * 4 * 6, dtype=np.uint16).reshape(2, 4, 6))
    path = str(tmp_path / "img.ome.tiff")
    OmeTiffWriter.save(a, path)  # 3D -> guessed ZYX -> TCZYX standardize
    block, xml = decode_ome_tiff(open(path, "rb").read())
    assert block.shape == (1, 1, 2, 4, 6)
    np.testing.assert_array_equal(block[0, 0], a)
    assert iter_tiff_chunks(path)[0]["description"] == xml


def test_writer_save_nonstandard_dims_coerced(tmp_path):
    from bioio_spark.writers import OmeTiffWriter

    # explicit non-standard dim Q is sliced at index 0 (BioImage coercion)
    a = np.arange(3 * 2 * 4 * 5, dtype=np.float32).reshape(3, 2, 4, 5)
    path = str(tmp_path / "q.tiff")
    OmeTiffWriter.save(a, path, dim_order="QZYX")
    block, _ = decode_ome_tiff(open(path, "rb").read())
    assert block.shape == (1, 1, 2, 4, 5)
    np.testing.assert_array_equal(block[0, 0], a[0])


def test_distributed_save_and_bioimage_roundtrip(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(5)
    scenes = [rng.integers(0, 4096, (2, 2, 3, 4, 5), dtype=np.uint16),
              rng.integers(0, 4096, (1, 2, 2, 6, 3), dtype=np.uint16)]
    img = BioImage(scenes, channel_names=["a", "b"], spark=spark,
                   physical_pixel_sizes=PhysicalPixelSizes(1.0, 0.5, 0.5))
    out = str(tmp_path / "export")
    report = save_ome_tiff(img, out)
    assert [r["scene_idx"] for r in report] == [0, 1]
    assert all(r["n_bytes"] > 0 for r in report)

    back = BioImage(out, reader=TiffImageReader, spark=spark)
    assert back.scenes == img.scenes
    assert back.dtype == np.dtype("uint16")
    assert back.channel_names == ["a", "b"]
    assert back.physical_pixel_sizes == PhysicalPixelSizes(1.0, 0.5, 0.5)
    for i, arr in enumerate(scenes):
        back.set_scene(i)
        assert back.dims.order == "TCZYX"
        np.testing.assert_array_equal(back.get_image_data(), arr)


def test_single_file_suffix_routing(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import OmeTiffWriter

    a = np.arange(2 * 3 * 4, dtype=np.int16).reshape(2, 3, 4)
    path = str(tmp_path / "one.ome.tiff")
    OmeTiffWriter.save(a, path, dim_order="ZYX",
                       channel_names=None, image_name="one")
    img = BioImage(path, spark=spark)  # no reader arg: suffix routes
    assert img.dims.order == "TCZYX"
    np.testing.assert_array_equal(img.get_image_data()[0, 0], a)


def test_select_scenes_export(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    arrs = [np.full((1, 1, 1, 2, 2), i, dtype=np.uint8) for i in range(3)]
    img = BioImage(arrs, spark=spark)
    out = str(tmp_path / "sel")
    report = save_ome_tiff(img, out, select_scenes=[2])
    assert len(report) == 1 and report[0]["scene"] == "Image:2"
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    assert back.scenes == ("Image:2",)
    np.testing.assert_array_equal(back.get_image_data(), arrs[2])


def test_directory_of_individually_saved_files_keeps_scenes_distinct(
        spark, tmp_path):
    """Each standalone OmeTiffWriter.save embeds image_id 'Image:0'; a
    directory of such files must still read back as distinct scenes
    (positional fallback), not silently merge pixel rows."""
    from bioio_spark import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import OmeTiffWriter

    d = tmp_path / "many"
    d.mkdir()
    arrs = [np.full((2, 3), 10 * i + 1, dtype=np.uint8) for i in range(3)]
    for i, a in enumerate(arrs):
        OmeTiffWriter.save(a, str(d / f"f{i}.ome.tiff"), dim_order="YX")

    img = BioImage(str(d), reader=TiffImageReader, spark=spark)
    assert len(img.scenes) == 3
    assert len(set(img.scenes)) == 3  # no duplicate scene ids
    for i in range(3):
        img.set_scene(i)
        np.testing.assert_array_equal(
            img.get_image_data()[0, 0, 0], arrs[i])


# -- LZW (Compression=5) + horizontal predictor ---------------------------

def test_lzw_tiny_bitstream_pinned():
    """encode(b'A') = Clear(256), 'A'(65), EOI(257) in 9-bit MSB-first
    packing — pins the bit order against the TIFF 6.0 S13 layout."""
    from bioio_spark.formats.tiff import lzw_decode, lzw_encode

    assert lzw_encode(b"A") == bytes([0x80, 0x10, 0x60, 0x20])
    assert lzw_decode(bytes([0x80, 0x10, 0x60, 0x20])) == b"A"


@pytest.mark.parametrize("payload", [
    b"",
    b"ABABABABABABABAB" * 40,          # high-redundancy, KwKwK cases
    bytes(range(256)) * 8,              # full alphabet
    np.random.default_rng(5).integers(0, 256, 40000,
                                      dtype=np.uint8).tobytes(),
    # random data grows ~1 entry per 2 bytes: 40k forces 9->12-bit widths
    # and at least one table reset at 4094
])
def test_lzw_roundtrip(payload):
    from bioio_spark.formats.tiff import lzw_decode, lzw_encode

    assert lzw_decode(lzw_encode(payload)) == payload


def _spec_lzw_decode(data: bytes) -> bytes:
    """Independent TIFF 6.0 §13 decoder written straight from the spec
    prose (MSB-first bit reader + string table), used to cross-check
    lzw_encode's EarlyChange schedule with a second implementation."""
    CLEAR, EOI = 256, 257
    pos, total = 0, len(data) * 8

    def take(w):
        nonlocal pos
        v = 0
        for _ in range(w):
            v = (v << 1) | ((data[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        return v

    out, table, prev, width = bytearray(), [], None, 9
    while pos + width <= total:
        code = take(width)
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            prev, width = None, 9
            continue
        if prev is None:
            entry = table[code]
        else:
            entry = table[code] if code < len(table) else prev + prev[:1]
            table.append(prev + entry[:1])
            # EarlyChange: decoder widens one registration before the
            # encoder's 511/1023/2047 switch lands in its table
            if len(table) in (510, 1022, 2046):
                width += 1
        out += entry
        prev = entry
    return bytes(out)


def test_lzw_earlychange_schedule_pinned():
    """TIFF 6.0 / libtiff EarlyChange: for bytes(range(256))*2 the code
    stream is Clear + 384 emissions + EOI, where emissions 1–253 are
    9-bit and everything after (first widened code = emission #254) is
    10-bit: 9*254 + 10*132 = 3606 bits = 451 bytes. The old late-change
    schedule emitted one extra 9-bit code (450 bytes) and desyncs
    against libtiff-compatible readers."""
    from bioio_spark.formats.tiff import lzw_decode, lzw_encode

    data = bytes(range(256)) * 2
    enc = lzw_encode(data)
    assert len(enc) == (9 * 254 + 10 * 132 + 7) // 8 == 451
    assert lzw_decode(enc) == data
    assert _spec_lzw_decode(enc) == data
    import hashlib

    assert hashlib.sha256(enc).hexdigest() == (
        "e57402fc586671f50a3463fe57bf64a0ab6193b61d429799a4c0dc7e919c8bea")


def test_lzw_spec_decoder_agrees_on_random_and_reset():
    from bioio_spark.formats.tiff import lzw_encode

    rng = np.random.default_rng(11)
    for n in (300, 1100, 2100, 9000):   # spans 9->10->11->12 + 4094 reset
        payload = rng.integers(0, 256, n * 2, dtype=np.uint8).tobytes()
        assert _spec_lzw_decode(lzw_encode(payload)) == payload
    payload = b"abcabd" * 4000
    assert _spec_lzw_decode(lzw_encode(payload)) == payload


def test_lzw_width_transitions_roundtrip():
    """Data sized to sit exactly around the 511/1023/2047 EarlyChange
    boundaries (each new 2-byte pair adds one table entry)."""
    from bioio_spark.formats.tiff import lzw_decode, lzw_encode

    rng = np.random.default_rng(9)
    for n in (500, 512, 1020, 1030, 2040, 2050, 4200):
        payload = rng.integers(0, 256, n * 2, dtype=np.uint8).tobytes()
        assert lzw_decode(lzw_encode(payload)) == payload


def test_codec_lzw_roundtrip_and_predictor():
    from bioio_spark.formats.tiff import (_undo_horizontal_predictor,
                                          decode_tiff, encode_tiff)

    rng = np.random.default_rng(13)
    planes = [rng.integers(0, 65535, (17, 23), dtype=np.uint16)
              for _ in range(3)]
    # LZW alone
    back, _ = decode_tiff(encode_tiff(planes, compression=5))
    for a, b in zip(planes, back):
        np.testing.assert_array_equal(a, b)
    # LZW + horizontal differencing (the common wild combo)
    back2, _ = decode_tiff(encode_tiff(planes, compression=5, predictor=2))
    for a, b in zip(planes, back2):
        np.testing.assert_array_equal(a, b)
    # predictor inversion is a wrapping cumsum
    d = planes[0].copy()
    d[:, 1:] = planes[0][:, 1:] - planes[0][:, :-1]
    np.testing.assert_array_equal(
        _undo_horizontal_predictor(d), planes[0])


def test_codec_lzw_multisample_predictor():
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(17)
    rgb = rng.integers(0, 256, (9, 11, 3), dtype=np.uint8)
    back, _ = decode_tiff(encode_tiff([rgb], compression=5, predictor=2))
    np.testing.assert_array_equal(back[0], rgb)


def test_codec_lzw_shrinks_low_entropy():
    from bioio_spark.formats.tiff import encode_tiff

    flat = np.zeros((64, 64), dtype=np.uint8)
    raw = len(encode_tiff([flat]))
    lzw = len(encode_tiff([flat], compression=5))
    assert lzw < raw / 4


# -- tiled layout + big-endian decode -------------------------------------

def _build_tiff(bo, entries_fn, body):
    """Minimal hand-rolled single-IFD TIFF: header | body | IFD."""
    import struct

    header = struct.pack(f"{bo}2sHI", b"II" if bo == "<" else b"MM", 42,
                         8 + len(body))
    entries = entries_fn(8)  # body starts at offset 8
    ifd = struct.pack(f"{bo}H", len(entries)) + b"".join(
        struct.pack(f"{bo}HHI", t, typ, cnt) + val
        for t, typ, cnt, val in entries) + struct.pack(f"{bo}I", 0)
    return header + body + ifd


def test_decode_tiled_layout():
    """TIFF 6.0 S15 tiles: 3x2 grid of 4x4 tiles over a 10x7 image, edge
    tiles stored full-size; reassembly + crop must reproduce the image."""
    import struct

    from bioio_spark.formats.tiff import decode_tiff

    rng = np.random.default_rng(41)
    img = rng.integers(0, 255, (10, 7), dtype=np.uint8)
    th = tw = 4
    tiles, offs, counts = [], [], []
    body = b""
    for ty in range(3):
        for tx in range(2):
            block = np.zeros((th, tw), dtype=np.uint8)
            sl = img[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            block[:sl.shape[0], :sl.shape[1]] = sl
            tiles.append(block.tobytes())
    for t in tiles:
        offs.append(8 + len(body))
        counts.append(len(t))
        body += t

    def entries(base):
        import struct as s
        off_blob_at = 8 + len(body)
        return [
            (256, 4, 1, s.pack("<I", 7)),      # ImageWidth
            (257, 4, 1, s.pack("<I", 10)),     # ImageLength
            (258, 3, 1, s.pack("<HH", 8, 0)),  # BitsPerSample
            (259, 3, 1, s.pack("<HH", 1, 0)),  # Compression none
            (277, 3, 1, s.pack("<HH", 1, 0)),  # SamplesPerPixel
            (322, 4, 1, s.pack("<I", tw)),     # TileWidth
            (323, 4, 1, s.pack("<I", th)),     # TileLength
            (324, 4, 6, s.pack("<I", off_blob_at)),          # TileOffsets
            (325, 4, 6, s.pack("<I", off_blob_at + 24)),     # ByteCounts
        ]

    # out-of-line offset/count arrays appended after tile data
    blob = (struct.pack("<6I", *offs) + struct.pack("<6I", *counts))
    data = _build_tiff("<", entries, body + blob)
    planes, _ = decode_tiff(data)
    np.testing.assert_array_equal(planes[0], img)


def test_decode_big_endian():
    """MM byte order: big-endian offsets, tags, and uint16 pixel data."""
    import struct

    from bioio_spark.formats.tiff import decode_tiff

    # .astype last: numpy ufuncs return NATIVE-endian, so the multiply
    # must happen before the big-endian cast
    img = (np.arange(6).reshape(2, 3) * 1000).astype(">u2")
    body = img.tobytes()

    def entries(base):
        import struct as s
        return [
            (256, 4, 1, s.pack(">I", 3)),
            (257, 4, 1, s.pack(">I", 2)),
            (258, 3, 1, s.pack(">HH", 16, 0)),
            (259, 3, 1, s.pack(">HH", 1, 0)),
            (273, 4, 1, s.pack(">I", base)),       # StripOffsets
            (277, 3, 1, s.pack(">HH", 1, 0)),
            (278, 4, 1, s.pack(">I", 2)),          # RowsPerStrip
            (279, 4, 1, s.pack(">I", len(body))),  # StripByteCounts
        ]

    data = _build_tiff(">", entries, body)
    planes, _ = decode_tiff(data)
    assert planes[0].dtype == np.dtype("uint16").newbyteorder("=")
    np.testing.assert_array_equal(planes[0], img.astype("=u2"))


def test_decode_tiled_lzw_predictor():
    """Tiles + LZW + Predictor 2 together (the wild pyramidal combo):
    predictor must be undone PER TILE before reassembly."""
    import struct

    from bioio_spark.formats.tiff import decode_tiff, lzw_encode

    rng = np.random.default_rng(43)
    img = rng.integers(0, 255, (5, 6), dtype=np.uint8)
    th, tw = 3, 4
    payloads, offs, counts = [], [], []
    body = b""
    for ty in range(2):
        for tx in range(2):
            block = np.zeros((th, tw), dtype=np.uint8)
            sl = img[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            block[:sl.shape[0], :sl.shape[1]] = sl
            d = block.copy()
            d[:, 1:] = block[:, 1:] - block[:, :-1]   # per-tile predictor
            payloads.append(lzw_encode(d.tobytes()))
    for p in payloads:
        offs.append(8 + len(body))
        counts.append(len(p))
        body += p

    def entries(base):
        import struct as s
        blob_at = 8 + len(body)
        return [
            (256, 4, 1, s.pack("<I", 6)),
            (257, 4, 1, s.pack("<I", 5)),
            (258, 3, 1, s.pack("<HH", 8, 0)),
            (259, 3, 1, s.pack("<HH", 5, 0)),   # LZW
            (277, 3, 1, s.pack("<HH", 1, 0)),
            (317, 3, 1, s.pack("<HH", 2, 0)),   # Predictor 2
            (322, 4, 1, s.pack("<I", tw)),
            (323, 4, 1, s.pack("<I", th)),
            (324, 4, 4, s.pack("<I", blob_at)),
            (325, 4, 4, s.pack("<I", blob_at + 16)),
        ]

    blob = struct.pack("<4I", *offs) + struct.pack("<4I", *counts)
    data = _build_tiff("<", entries, body + blob)
    planes, _ = decode_tiff(data)
    np.testing.assert_array_equal(planes[0], img)


def test_ifd_walk_reads_big_endian_description(tmp_path):
    """The catalog-side IFD walk honors MM byte order like the full
    decoder: IFD0's description and its page geometry."""
    import struct

    desc = b"<OME><Image ID=\"Image:9\"/></OME>\x00"
    body = bytes(8) + desc    # 8 pixel bytes then the description

    def entries(base):
        import struct as s
        return [
            (256, 4, 1, s.pack(">I", 4)),
            (257, 4, 1, s.pack(">I", 2)),
            (258, 3, 1, s.pack(">HH", 8, 0)),
            (259, 3, 1, s.pack(">HH", 1, 0)),
            (270, 2, len(desc), s.pack(">I", base + 8)),  # description
            (273, 4, 1, s.pack(">I", base)),
            (277, 3, 1, s.pack(">HH", 1, 0)),
            (278, 4, 1, s.pack(">I", 2)),
            (279, 4, 1, s.pack(">I", 8)),
        ]

    data = _build_tiff(">", entries, body)
    p = tmp_path / "be.tiff"
    p.write_bytes(data)
    [page] = iter_tiff_chunks(str(p))
    assert page["description"] == '<OME><Image ID="Image:9"/></OME>'
    assert (page["w"], page["h"]) == (4, 2)


def test_decode_bigtiff(tmp_path):
    """BigTIFF (version 43): 64-bit offsets, 8-byte counts, 20-byte IFD
    entries, LONG8 strip offsets — how wild >4 GB files ship. Hand-built
    single-page fixture; both the full decoder and the catalog IFD walk
    must handle it."""
    import struct

    img = (np.arange(12, dtype=np.uint16) * 99).astype("<u2").reshape(3, 4)
    desc = b'<OME><Image ID="Image:7"/></OME>\x00'
    body = img.tobytes() + desc            # pixels at 16, desc at 16+24
    pix_off, desc_off = 16, 16 + len(img.tobytes())

    def entry(tag, typ, count, raw8):
        return (struct.pack("<HHQ", tag, typ, count)
                + raw8.ljust(8, b"\x00"))

    entries = [
        entry(256, 4, 1, struct.pack("<I", 4)),      # ImageWidth
        entry(257, 4, 1, struct.pack("<I", 3)),      # ImageLength
        entry(258, 3, 1, struct.pack("<H", 16)),
        entry(259, 3, 1, struct.pack("<H", 1)),
        entry(270, 2, len(desc), struct.pack("<Q", desc_off)),
        entry(273, 16, 1, struct.pack("<Q", pix_off)),   # LONG8 offsets
        entry(277, 3, 1, struct.pack("<H", 1)),
        entry(278, 4, 1, struct.pack("<I", 3)),
        entry(279, 16, 1, struct.pack("<Q", len(img.tobytes()))),
    ]
    ifd_off = 16 + len(body)
    data = (struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)
            + body
            + struct.pack("<Q", len(entries)) + b"".join(entries)
            + struct.pack("<Q", 0))

    planes, description = decode_tiff(data)
    np.testing.assert_array_equal(planes[0], img.astype("=u2"))
    assert description == '<OME><Image ID="Image:7"/></OME>'

    p = tmp_path / "big.tiff"
    p.write_bytes(data)
    assert iter_tiff_chunks(str(p))[0]["description"] == \
        '<OME><Image ID="Image:7"/></OME>'


def test_encode_bigtiff_roundtrip():
    """bigtiff=True emits the version-43 layout; our decoder reads it
    back bit-for-bit (multi-page, deflate, description)."""
    rng = np.random.default_rng(71)
    planes = [rng.integers(0, 65535, (6, 7), dtype=np.uint16)
              for _ in range(3)]
    data = encode_tiff(planes, description="<OME/>", compression=8,
                       bigtiff=True)
    assert data[:4] == b"II\x2b\x00"      # version 43
    out, desc = decode_tiff(data)
    assert desc == "<OME/>"
    for a, b in zip(planes, out):
        np.testing.assert_array_equal(a, b)
    # multisample page through the BigTIFF path (out-of-line shorts)
    rgb = [rng.integers(0, 255, (4, 5, 3), dtype=np.uint8)]
    out2, _ = decode_tiff(encode_tiff(rgb, bigtiff=True))
    np.testing.assert_array_equal(out2[0], rgb[0])


def test_distributed_save_bigtiff(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    a = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(1, 1, 2, 3, 4)
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "big")
    save_ome_tiff(img, out, bigtiff=True)
    raw = open(f"{out}/scene_0.ome.tiff", "rb").read()
    assert raw[:4] == b"II\x2b\x00"
    back = BioImage(out, reader=TiffImageReader, spark=spark)
    np.testing.assert_array_equal(back.get_image_data(), a)


# -- window-pruned reads (BioImage.read_window over the chunk plan) --------

def _window(spark, path, level=0, **win):
    """``path``'s window at resolution ``level`` through
    ``BioImage.read_window``, which the reader's own chunk-plan read
    must answer (no fallback to the filtered frame)."""
    from bioio_spark import BioImage

    img = BioImage(str(path), spark=spark)
    img.set_resolution_level(level)
    assert img._reader.read_window(spark, img, **win) is not None
    return img.read_window(**win)


def test_read_tiff_window_page_pruning(spark, tmp_path):
    """Selectors prune to the exact page set via the seek-based IFD walk;
    values and coordinates match the source block."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import iter_tiff_chunks
    from bioio_spark.writers import save_ome_tiff

    idx = np.indices((2, 2, 3, 6, 8))
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    img = BioImage(block, spark=spark)
    out = tmp_path / "w"
    save_ome_tiff(img, str(out), compression=5)
    path = str(out / "scene_0.ome.tiff")

    layout = iter_tiff_chunks(path)
    assert len(layout) == 2 * 2 * 3          # one page per (t, c, z)
    assert all(len(pg["chunks"]) == 1 for pg in layout)

    pdf = _window(spark, path, t=1, z=(1, 3), y=range(2, 5),
                  x=3).toPandas()
    want = block[1, :, 1:3, 2:5, 3]
    assert len(pdf) == want.size
    got = np.zeros_like(want)
    got[pdf["c"], pdf["z"] - 1, pdf["y"] - 2] = \
        pdf["value"].astype(np.uint32)
    np.testing.assert_array_equal(got, want)

    full = _window(spark, path)
    assert full.count() == block.size


def test_read_tiff_window_tile_pruning(spark, tmp_path):
    """A tiled page prunes in BOTH y and x: only intersecting tiles are
    fetched (checked via the planner's task count) and edge-tile overhang
    is trimmed."""
    import struct

    from bioio_spark.formats.tiff import iter_tiff_chunks

    rng = np.random.default_rng(47)
    img = rng.integers(0, 255, (10, 7), dtype=np.uint8)
    th = tw = 4
    tiles, offs, counts = [], [], []
    body = b""
    for ty in range(3):
        for tx in range(2):
            blockt = np.zeros((th, tw), dtype=np.uint8)
            sl = img[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw]
            blockt[:sl.shape[0], :sl.shape[1]] = sl
            tiles.append(blockt.tobytes())
    for t_ in tiles:
        offs.append(8 + len(body))
        counts.append(len(t_))
        body += t_

    def entries(base):
        import struct as s
        off_blob_at = 8 + len(body)
        return [
            (256, 4, 1, s.pack("<I", 7)),
            (257, 4, 1, s.pack("<I", 10)),
            (258, 3, 1, s.pack("<HH", 8, 0)),
            (259, 3, 1, s.pack("<HH", 1, 0)),
            (277, 3, 1, s.pack("<HH", 1, 0)),
            (322, 4, 1, s.pack("<I", tw)),
            (323, 4, 1, s.pack("<I", th)),
            (324, 4, 6, s.pack("<I", off_blob_at)),
            (325, 4, 6, s.pack("<I", off_blob_at + 24)),
        ]

    blob = struct.pack("<6I", *offs) + struct.pack("<6I", *counts)
    data = _build_tiff("<", entries, body + blob)
    p = tmp_path / "tiled.tif"
    p.write_bytes(data)

    layout = iter_tiff_chunks(str(p))
    assert layout[0]["tiled"] and len(layout[0]["chunks"]) == 6

    # window (y in [5,9), x in [5,7)) intersects tiles (1,1) and (2,1)
    pdf = (_window(spark, str(p), y=(5, 9), x=(5, 7))
           .toPandas().sort_values(["y", "x"]))
    want = img[5:9, 5:7]
    assert len(pdf) == want.size
    got = np.zeros_like(want)
    got[pdf["y"] - 5, pdf["x"] - 5] = pdf["value"].astype(np.uint8)
    np.testing.assert_array_equal(got, want)

    # no-OME file: pages read as (1, 1, n_pages); whole read matches
    full = _window(spark, str(p)).toPandas()
    assert len(full) == img.size


def test_read_tiff_window_big_endian_multistrip(spark, tmp_path):
    """MM byte order + RowsPerStrip=2 over a 6x3 uint16 page: the window
    planner prunes to the intersecting strips only, and the big-endian
    strip bytes decode to native values."""
    import struct

    from bioio_spark.formats.tiff import iter_tiff_chunks

    img = (np.arange(18).reshape(6, 3) * 1000).astype(">u2")
    strips = [img[0:2].tobytes(), img[2:4].tobytes(), img[4:6].tobytes()]
    body = b"".join(strips)
    offs = [8, 8 + len(strips[0]), 8 + len(strips[0]) + len(strips[1])]

    def entries(base):
        import struct as s
        blob_at = 8 + len(body)
        return [
            (256, 4, 1, s.pack(">I", 3)),
            (257, 4, 1, s.pack(">I", 6)),
            (258, 3, 1, s.pack(">HH", 16, 0)),
            (259, 3, 1, s.pack(">HH", 1, 0)),
            (273, 4, 3, s.pack(">I", blob_at)),        # StripOffsets
            (277, 3, 1, s.pack(">HH", 1, 0)),
            (278, 4, 1, s.pack(">I", 2)),              # RowsPerStrip
            (279, 4, 3, s.pack(">I", blob_at + 12)),   # ByteCounts
        ]

    blob = struct.pack(">3I", *offs) + struct.pack(
        ">3I", *[len(s_) for s_ in strips])
    data = _build_tiff(">", entries, body + blob)
    p = tmp_path / "mm.tif"
    p.write_bytes(data)

    layout = iter_tiff_chunks(str(p))
    assert len(layout[0]["chunks"]) == 3
    assert layout[0]["chunks"][1] == {
        "offset": offs[1], "nbytes": len(strips[1]),
        "y0": 2, "x0": 0, "h": 2, "w": 3, "s": 0}

    # y in [3,5) intersects strips 1 and 2 only
    pdf = _window(spark, str(p), y=(3, 5)).toPandas()
    want = img.astype("=u2")[3:5]
    assert len(pdf) == want.size
    got = np.zeros_like(want)
    got[pdf["y"] - 3, pdf["x"]] = pdf["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, want)


def test_multiscene_single_file(spark, tmp_path):
    """One OME-TIFF with two <Image> elements: scenes surface through the
    reference scene model (C1-C3) with per-scene dims, channel names and
    values; TiffData IFD indices offset per scene."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import (encode_multiscene_ome_tiff,
                                          parse_ome_xml_scenes)

    rng = np.random.default_rng(53)
    a = rng.integers(0, 4096, (2, 1, 2, 3, 4), dtype=np.uint16)
    b = rng.integers(0, 4096, (1, 2, 1, 3, 4), dtype=np.uint16)
    data = encode_multiscene_ome_tiff(
        [a, b], channel_names=[["mono"], ["red", "green"]])
    p = tmp_path / "multi.ome.tiff"
    p.write_bytes(data)

    img = BioImage(str(p), spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    assert img.channel_names == ["mono"]
    assert img.dims["TCZ"] == (2, 1, 2)
    np.testing.assert_array_equal(img.data, a)

    img.set_scene("Image:1")
    assert img.channel_names == ["red", "green"]
    assert img.dims["TCZ"] == (1, 2, 1)
    np.testing.assert_array_equal(img.data, b)

    # scene stack across the in-file scenes
    assert img.get_stack_dataframe().count() == a.size + b.size

    # scene Image:1's window reads through the plan and equals its
    # filtered frame
    assert img._reader.read_window(spark, img, c=1, y=(1, 3)) is not None
    got = (img.read_window(c=1, y=(1, 3)).orderBy("t", "c", "z", "y", "x")
           .toPandas())
    want = (img.get_image_dataframe()
            .filter("c = 1 AND y >= 1 AND y < 3")
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x").toPandas())
    assert len(got) == len(want) == 2 * 4
    for col in ("t", "c", "z", "y", "x", "value"):
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy())

    xml = iter_tiff_chunks(str(p))[0]["description"]
    assert len(parse_ome_xml_scenes(xml)) == 2
    assert 'IFD="4"' in xml and 'IFD="5"' in xml


def test_subifd_pyramid_levels(spark, tmp_path):
    """SubIFD (tag 330) pyramid levels — the wild pyramidal-OME-TIFF
    layout: iter_tiff_chunks exposes each page's children and
    a window read at resolution level k reads only that level's
    chunks."""
    import struct

    from bioio_spark.formats.tiff import iter_tiff_chunks

    lvl0 = np.arange(24, dtype=np.uint8).reshape(6, 4)
    lvl1 = (np.arange(6, dtype=np.uint8) * 10 + 3).reshape(3, 2)
    body = lvl0.tobytes() + lvl1.tobytes()          # strips at 8 and 32
    ifd0_off = 8 + len(body)
    n0 = 9
    sub_off = ifd0_off + 2 + n0 * 12 + 4

    def ent(tag, typ, cnt, val):
        return struct.pack("<HHII", tag, typ, cnt, val)

    ifd0 = struct.pack("<H", n0) + b"".join([
        ent(256, 4, 1, 4), ent(257, 4, 1, 6),
        ent(258, 3, 1, 8), ent(259, 3, 1, 1),
        ent(273, 4, 1, 8), ent(277, 3, 1, 1),
        ent(278, 4, 1, 6), ent(279, 4, 1, 24),
        ent(330, 4, 1, sub_off),
    ]) + struct.pack("<I", 0)
    n1 = 8
    sub = struct.pack("<H", n1) + b"".join([
        ent(256, 4, 1, 2), ent(257, 4, 1, 3),
        ent(258, 3, 1, 8), ent(259, 3, 1, 1),
        ent(273, 4, 1, 32), ent(277, 3, 1, 1),
        ent(278, 4, 1, 3), ent(279, 4, 1, 6),
    ]) + struct.pack("<I", 0)
    data = struct.pack("<2sHI", b"II", 42, ifd0_off) + body + ifd0 + sub
    p = tmp_path / "pyr.tif"
    p.write_bytes(data)

    layout = iter_tiff_chunks(str(p))
    assert len(layout) == 1
    assert len(layout[0]["subifds"]) == 1
    assert (layout[0]["subifds"][0]["h"],
            layout[0]["subifds"][0]["w"]) == (3, 2)

    full = _window(spark, str(p)).toPandas()
    assert len(full) == 24

    l1 = _window(spark, str(p), level=1).toPandas()
    got = np.zeros_like(lvl1)
    got[l1["y"], l1["x"]] = l1["value"].astype(np.uint8)
    np.testing.assert_array_equal(got, lvl1)

    # window pruning applies to the level's own grid
    win = _window(spark, str(p), level=1, y=(1, 3)).toPandas()
    assert len(win) == 4

    with pytest.raises(IndexError, match="Resolution level 2"):
        _window(spark, str(p), level=2)


# -- PackBits (Compression=32773) ------------------------------------------

def test_packbits_spec_vector_pinned():
    """The TIFF 6.0 §9 worked example, byte for byte in both directions."""
    from bioio_spark.formats.tiff import packbits_decode, packbits_encode

    unpacked = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA")
    packed = bytes.fromhex("FEAA0280002AFDAA0380002A22F7AA")
    assert packbits_encode(unpacked) == packed
    assert packbits_decode(packed) == unpacked


def test_packbits_decode_noop_header():
    from bioio_spark.formats.tiff import packbits_decode

    # 0x80 headers are skipped per spec
    assert packbits_decode(bytes([0x80, 0x00, 0x41, 0x80])) == b"A"


@pytest.mark.parametrize("payload", [
    b"",
    b"\x00" * 1000,                      # max-length replicate runs
    bytes(range(256)),                   # pure literal
    b"AB" * 200,                         # 2-cycles stay literal
    np.random.default_rng(7).integers(0, 4, 5000,
                                      dtype=np.uint8).tobytes(),
])
def test_packbits_roundtrip(payload):
    from bioio_spark.formats.tiff import packbits_decode, packbits_encode

    assert packbits_decode(packbits_encode(payload)) == payload
    # runs restart at row boundaries but decode is row-agnostic
    assert packbits_decode(packbits_encode(payload, row_bytes=37)) == payload


def test_packbits_rows_never_cross():
    """A replicate run spanning two rows must be emitted per-row."""
    from bioio_spark.formats.tiff import packbits_encode

    # 8 equal bytes, rows of 4 -> two independent 4-byte replicate runs
    assert packbits_encode(b"\x55" * 8, row_bytes=4) == bytes(
        [253, 0x55, 253, 0x55])


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "float32"])
def test_codec_packbits_roundtrip(dtype):
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(11)
    if dtype == "float32":
        planes = [rng.normal(size=(9, 7)).astype(dtype) for _ in range(3)]
    else:
        # low-cardinality data so RLE actually engages
        planes = [rng.integers(0, 3, (9, 7)).astype(dtype)
                  for _ in range(3)]
    blob = encode_tiff(planes, compression=32773)
    back, _ = decode_tiff(blob)
    assert len(back) == 3
    for a, b in zip(planes, back):
        np.testing.assert_array_equal(a, b)


def test_codec_packbits_predictor_multisample():
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(12)
    planes = [np.cumsum(rng.integers(0, 2, (6, 5, 3)), axis=1)
              .astype(np.uint16)]
    blob = encode_tiff(planes, compression=32773, predictor=2)
    back, _ = decode_tiff(blob)
    np.testing.assert_array_equal(back[0], planes[0])


def test_codec_packbits_shrinks_low_entropy():
    from bioio_spark.formats.tiff import encode_tiff

    flat = [np.zeros((64, 64), dtype=np.uint8)]
    raw = len(encode_tiff(flat, compression=1))
    packed = len(encode_tiff(flat, compression=32773))
    assert packed < raw / 10


def test_packbits_window_read(spark, tmp_path):
    """decompress_tiff_chunk handles PackBits in the pruned-read path."""
    from bioio_spark.formats.tiff import encode_tiff

    plane = np.arange(20 * 12, dtype=np.uint8).reshape(20, 12) % 5
    p = tmp_path / "pb.tif"
    p.write_bytes(encode_tiff([plane], compression=32773))
    got = _window(spark, str(p), y=(4, 9), x=(2, 6)).toPandas()
    win = np.zeros((20, 12), dtype=np.uint8)
    win[got["y"], got["x"]] = got["value"].astype(np.uint8)
    np.testing.assert_array_equal(win[4:9, 2:6], plane[4:9, 2:6])
    assert len(got) == 5 * 4


# -- tiled WRITE path (the .tiles.ome.tif tier) ----------------------------

@pytest.mark.parametrize("comp", [1, 5, 8, 32773])
def test_encode_tiled_roundtrip(comp):
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(21)
    planes = [rng.integers(0, 50, (37, 45)).astype(np.uint16)
              for _ in range(2)]
    back, _ = decode_tiff(encode_tiff(planes, compression=comp,
                                      tile=(16, 32)))
    for a, b in zip(planes, back):
        np.testing.assert_array_equal(a, b)


def test_encode_tiled_predictor_and_rgb():
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    rng = np.random.default_rng(22)
    grad = [np.cumsum(rng.integers(0, 3, (40, 33)), axis=1)
            .astype(np.uint16)]
    back, _ = decode_tiff(encode_tiff(grad, compression=5, predictor=2,
                                      tile=(16, 16)))
    np.testing.assert_array_equal(back[0], grad[0])
    rgb = [rng.integers(0, 255, (20, 25, 3)).astype(np.uint8)]
    back, _ = decode_tiff(encode_tiff(rgb, tile=(16, 16)))
    np.testing.assert_array_equal(back[0], rgb[0])


def test_encode_tiled_bigtiff_two_tiles():
    """n==2 exercises the BigTIFF inline-vs-offset entry edge (LONG8
    arrays keep 2-element offset/count arrays out of line)."""
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    plane = np.arange(16 * 30, dtype=np.uint8).reshape(16, 30)
    back, _ = decode_tiff(encode_tiff([plane], tile=(16, 16),
                                      bigtiff=True))
    np.testing.assert_array_equal(back[0], plane)


def test_encode_tiled_guards():
    from bioio_spark.formats.tiff import encode_tiff

    with pytest.raises(ValueError, match="16"):
        encode_tiff([np.zeros((4, 4), np.uint8)], tile=(10, 16))


def test_tiled_write_window_read_prunes(spark, tmp_path):
    """Our own tiled output feeds the window read's tile pruning: a
    window touching one tile plans exactly one chunk."""
    from bioio_spark.formats.tiff import encode_tiff, iter_tiff_chunks

    rng = np.random.default_rng(23)
    plane = rng.integers(0, 9999, (48, 64)).astype(np.uint16)
    p = tmp_path / "tiled.tif"
    p.write_bytes(encode_tiff([plane], compression=8, tile=(16, 16)))
    lay = iter_tiff_chunks(str(p))
    assert lay[0]["tiled"] and len(lay[0]["chunks"]) == 3 * 4
    w = _window(spark, str(p), y=(17, 30), x=(18, 30)).toPandas()
    got = np.zeros((13, 12), dtype=np.uint16)
    got[w["y"] - 17, w["x"] - 18] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, plane[17:30, 18:30])


def test_save_ome_tiff_tiled(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import iter_tiff_chunks
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(24)
    block = rng.integers(0, 9999, (1, 2, 1, 40, 48)).astype(np.uint16)
    out = str(tmp_path / "tiled_scene")
    save_ome_tiff(BioImage(block, spark=spark), out,
                  compression=5, tile=(16, 16))
    import os

    f = os.path.join(out, "scene_0.ome.tiff")
    assert iter_tiff_chunks(f)[0]["tiled"]
    back = BioImage(f, reader=TiffImageReader, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint16), block)


# -- pyramidal SubIFD WRITE ------------------------------------------------

def test_encode_pyramidal_subifds(spark, tmp_path):
    """sub_levels= writes tifffile-style pyramids: standalone SubIFD
    children per main page, readable back through the window path's
    level selector with tile pruning intact."""
    from bioio_spark.formats.tiff import (decode_tiff, encode_tiff,
                                          iter_tiff_chunks)

    rng = np.random.default_rng(31)
    mains = [rng.integers(0, 999, (64, 80)).astype(np.uint16)
             for _ in range(2)]
    levels = [[m[::2, ::2].copy(), m[::4, ::4].copy()] for m in mains]
    p = tmp_path / "pyr.tif"
    p.write_bytes(encode_tiff(mains, compression=8, tile=(16, 16),
                              sub_levels=levels))
    lay = iter_tiff_chunks(str(p))
    assert [len(pg["subifds"]) for pg in lay] == [2, 2]
    assert (lay[0]["subifds"][0]["h"],
            lay[0]["subifds"][0]["w"]) == (32, 40)
    # the main chain decodes without seeing sub pages
    back, _ = decode_tiff(p.read_bytes())
    assert len(back) == 2
    np.testing.assert_array_equal(back[0], mains[0])
    np.testing.assert_array_equal(back[1], mains[1])
    # level-1 read through the pruned window path (no OME description:
    # pages map to z)
    l1 = _window(spark, str(p), level=1).toPandas()
    for z in sorted(l1["z"].unique()):
        sub = l1[l1["z"] == z]
        got = np.zeros((32, 40), np.uint16)
        got[sub["y"], sub["x"]] = sub["value"].astype(np.uint16)
        np.testing.assert_array_equal(got, levels[z][0])
    # windowed level-2 read trims to the window
    win = _window(spark, str(p), level=2, z=0, y=(0, 8),
                  x=(4, 12)).toPandas()
    got = np.zeros((8, 8), np.uint16)
    got[win["y"], win["x"] - 4] = win["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, levels[0][1][0:8, 4:12])


def test_encode_pyramidal_validation():
    from bioio_spark.formats.tiff import encode_tiff

    with pytest.raises(ValueError, match="sub_levels"):
        encode_tiff([np.zeros((4, 4), np.uint8)], sub_levels=[[], []])
    with pytest.raises(ValueError, match="dtype"):
        encode_tiff([np.zeros((4, 4), np.uint8)],
                    sub_levels=[[np.zeros((2, 2), np.uint16)]])


def test_save_ome_tiff_pyramidal(spark, tmp_path):
    """n_levels > 1: the distributed sink writes SubIFD pyramids whose
    levels are the 2x2 block means (Zarr-sink convention), readable
    through the window path's level selector."""
    import os

    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import iter_tiff_chunks
    from bioio_spark.sources.tiff_image import TiffImageReader
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(33)
    block = rng.integers(0, 999, (1, 1, 2, 32, 40)).astype(np.uint16)
    out = str(tmp_path / "pyr_scene")
    save_ome_tiff(BioImage(block, spark=spark), out,
                  compression=8, tile=(16, 16), n_levels=3)
    f = os.path.join(out, "scene_0.ome.tiff")
    lay = iter_tiff_chunks(f)
    assert [len(pg["subifds"]) for pg in lay] == [2, 2]
    back = BioImage(f, reader=TiffImageReader, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint16), block)
    # level 1 = rint of the 2x2 block mean
    l1 = _window(spark, f, level=1, z=0).toPandas()
    got = np.zeros((16, 20), np.uint16)
    got[l1["y"], l1["x"]] = l1["value"].astype(np.uint16)
    exp = np.rint((block[0, 0, 0, 0::2, 0::2].astype(np.float64)
                   + block[0, 0, 0, 1::2, 0::2]
                   + block[0, 0, 0, 0::2, 1::2]
                   + block[0, 0, 0, 1::2, 1::2]) / 4.0).astype(np.uint16)
    np.testing.assert_array_equal(got, exp)
    assert (lay[0]["subifds"][1]["h"], lay[0]["subifds"][1]["w"]) \
        == (8, 10)


def test_bioimage_tiff_pyramid_resolution_levels(spark, tmp_path):
    """The standard reader catalogs SubIFD depth as res_levels and
    set_resolution_level reads the level planes — full C4 parity on
    pyramidal TIFFs, same surface as the Zarr/CZI tiers."""
    import os

    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(35)
    block = rng.integers(0, 999, (1, 1, 2, 32, 40)).astype(np.uint16)
    out = str(tmp_path / "pyr")
    save_ome_tiff(BioImage(block, spark=spark), out,
                  tile=(16, 16), n_levels=3)
    img = BioImage(os.path.join(out, "scene_0.ome.tiff"), spark=spark)
    assert img.resolution_levels == (0, 1, 2)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)
    img.set_resolution_level(1)
    exp = np.rint((block[..., 0::2, 0::2].astype(np.float64)
                   + block[..., 1::2, 0::2] + block[..., 0::2, 1::2]
                   + block[..., 1::2, 1::2]) / 4.0)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.float64), exp)
    img.set_resolution_level(2)
    assert img.get_image_data("TCZYX").shape == (1, 1, 2, 8, 10)


def test_single_file_save_tiled(spark, tmp_path):
    """BioImage.save forwards tile=/predictor= to the single-file sink;
    the tiled multi-Image file reads back scene-faithful."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import iter_tiff_chunks

    rng = np.random.default_rng(37)
    block = rng.integers(0, 999, (1, 1, 2, 32, 40)).astype(np.uint16)
    p = str(tmp_path / "multi.ome.tiff")
    BioImage(block, spark=spark).save(p, compression=5, tile=(16, 16),
                                      predictor=2)
    lay = iter_tiff_chunks(p)
    assert all(pg["tiled"] for pg in lay)
    back = BioImage(p, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint16), block)


def test_read_window_honors_resolution_level(spark, tmp_path):
    """BioImage.read_window after set_resolution_level must return the
    LEVEL'S pixels through the pruned TIFF path, matching the
    standardized (Catalyst) path for the same level."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(63)
    a = rng.integers(0, 255, (32, 48)).astype(np.uint8)
    out = tmp_path / "pyr_rw"
    save_ome_tiff(BioImage(a, dim_order="YX", spark=spark), str(out),
                  tile=(16, 16), n_levels=2)
    path = str(out / "scene_0.ome.tiff")
    img = BioImage(path, spark=spark)
    img.set_resolution_level(1)
    want = img.get_image_data("YX")[:4, :6]
    w = img.read_window(y=(0, 4), x=(0, 6)).toPandas()
    assert len(w) == want.size
    got = np.zeros_like(want)
    got[w["y"], w["x"]] = w["value"].astype(want.dtype)
    np.testing.assert_array_equal(got, want)


def test_read_tiff_window_padded_final_strip(spark, tmp_path):
    """Wild writers pad the final strip of a compressed file to full
    rows_per_strip; the decoder must slice to the strip's true extent
    instead of raising on reshape."""
    import struct
    import zlib

    a = np.arange(20, dtype=np.uint8).reshape(5, 4)
    strip0 = zlib.compress(a[0:3].tobytes())
    # final strip covers 2 rows but is PADDED to 3 before compression
    strip1 = zlib.compress(a[3:5].tobytes() + b"\x00" * 4)
    off0 = 8
    off1 = off0 + len(strip0)
    arrays_off = off1 + len(strip1)
    ifd_off = arrays_off + 16

    def ent(tag, typ, cnt, val):
        return struct.pack("<HHII", tag, typ, cnt, val)

    n = 8
    ifd = struct.pack("<H", n) + b"".join([
        ent(256, 4, 1, 4), ent(257, 4, 1, 5),
        ent(258, 3, 1, 8), ent(259, 3, 1, 8),       # deflate
        ent(273, 4, 2, arrays_off), ent(277, 3, 1, 1),
        ent(278, 4, 1, 3), ent(279, 4, 2, arrays_off + 8),
    ]) + struct.pack("<I", 0)
    data = (struct.pack("<2sHI", b"II", 42, ifd_off)
            + strip0 + strip1
            + struct.pack("<II", off0, off1)
            + struct.pack("<II", len(strip0), len(strip1))
            + ifd)
    p = tmp_path / "padded.tif"
    p.write_bytes(data)

    pdf = _window(spark, str(p)).toPandas()
    assert len(pdf) == 20
    got = np.zeros_like(a)
    got[pdf["y"], pdf["x"]] = pdf["value"].astype(np.uint8)
    np.testing.assert_array_equal(got, a)


def test_ome_plane_count_must_match_pages(spark, tmp_path):
    """An OME-XML that declares fewer planes than the file has pages is
    rejected at open, naming both counts, instead of each view reading
    its own subset of the pages."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import encode_ome_tiff

    block = np.arange(6 * 16 * 8, dtype=np.uint16).reshape(1, 1, 6, 16, 8)
    data = encode_ome_tiff(block)
    assert data.count(b'SizeZ="6"') == 1
    p = tmp_path / "short.ome.tiff"
    p.write_bytes(data.replace(b'SizeZ="6"', b'SizeZ="5"'))
    with pytest.raises(ValueError, match="declares 5 planes.*6 pages"):
        BioImage(str(p), spark=spark)


def test_uneven_subifd_depth_rejected(spark, tmp_path):
    """Pages with differing SubIFD pyramid depths would emit res_level
    rows beyond the advertised res_levels — the catalog rejects them."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import build_ome_xml, encode_tiff

    rng = np.random.default_rng(64)
    mains = [rng.integers(0, 255, (8, 8)).astype(np.uint8)
             for _ in range(2)]
    xml = build_ome_xml(1, 1, 2, 8, 8, "uint8")
    p = tmp_path / "uneven.ome.tiff"
    p.write_bytes(encode_tiff(
        mains, description=xml,
        sub_levels=[[mains[0][::2, ::2].copy()], []]))
    with pytest.raises(ValueError, match="uneven SubIFD"):
        BioImage(str(p), spark=spark).get_image_dataframe()


# -- JPEG-compressed TIFF (compression 7, TechNote 2) ----------------------

def test_jpeg_tiff_gray_roundtrip():
    """Compression 7 strips: whole-slide bright-field layout. Lossy —
    compare with JPEG-grade tolerance on a smooth ramp."""
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    yy, xx = np.mgrid[0:32, 0:40]
    a = ((yy * 3 + xx * 2) % 200 + 20).astype(np.uint8)
    planes, _ = decode_tiff(encode_tiff([a], compression=7))
    assert planes[0].shape == a.shape
    assert np.abs(planes[0].astype(int) - a.astype(int)).mean() < 4


def test_jpeg_tiff_rgb_tiled_roundtrip():
    """Tiled RGB JPEG pages (Photometric 6 YCbCr streams) decode back
    to RGB within JPEG tolerance."""
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    yy, xx = np.mgrid[0:32, 0:48]
    rgb = np.stack([(yy * 4) % 256, (xx * 3) % 256,
                    ((yy + xx) * 2) % 256], axis=2).astype(np.uint8)
    data = encode_tiff([rgb], compression=7, tile=(16, 16))
    planes, _ = decode_tiff(data)
    assert planes[0].shape == rgb.shape
    assert np.abs(planes[0].astype(int) - rgb.astype(int)).mean() < 8
    # photometric declared as 6 (YCbCr) per TechNote 2
    from bioio_spark.formats.tiff import iter_tiff_chunks
    import struct as _st
    # decode path via file for chunk metadata
    p = "/tmp/_jt_rgb.tif"
    with open(p, "wb") as f:
        f.write(data)
    lay = iter_tiff_chunks(p)
    assert lay[0]["comp"] == 7 and lay[0]["spp"] == 3


def test_jpeg_tiff_abbreviated_tables_stream():
    """The JPEGTables form: shared DQT/DHT in tag 347, table-less
    SOI+frame chunks — the layout scanner vendors write. Built by
    splitting our own encoder's stream into tables + abbreviated
    parts, so the merge path is exercised for real."""
    import struct as _st

    from bioio_spark.formats.jpeg import decode_jpeg, encode_jpeg
    from bioio_spark.formats.tiff import (_merge_jpeg_tables,
                                          decode_tiff, encode_tiff)

    yy, xx = np.mgrid[0:24, 0:24]
    a = ((yy * 5 + xx * 3) % 220).astype(np.uint8)
    full = encode_jpeg(a, quality=95, subsampling="444")

    # split: DQT(FFDB)/DHT(FFC4) segments -> tables; rest -> frame
    def segments(buf):
        pos = 2
        out = []
        while pos < len(buf):
            assert buf[pos] == 0xFF
            marker = buf[pos + 1]
            if marker == 0xD9:            # EOI
                out.append((marker, buf[pos:pos + 2]))
                break
            if marker == 0xDA:            # SOS: rest is entropy data
                out.append((marker, buf[pos:]))
                break
            (ln,) = _st.unpack(">H", buf[pos + 2:pos + 4])
            out.append((marker, buf[pos:pos + 2 + ln]))
            pos += 2 + ln
        return out

    segs = segments(full)
    tables = b"\xFF\xD8" + b"".join(
        s for m, s in segs if m in (0xDB, 0xC4)) + b"\xFF\xD9"
    frame = b"\xFF\xD8" + b"".join(
        s for m, s in segs if m not in (0xDB, 0xC4))
    # abbreviated stream alone must fail, merged must decode
    with np.testing.assert_raises(Exception):
        decode_jpeg(frame)
    merged = _merge_jpeg_tables(tables, frame)
    np.testing.assert_array_equal(decode_jpeg(merged), decode_jpeg(full))

    # hand-assemble a comp-7 TIFF with tag 347 + the abbreviated strip
    def ent(tag, typ, cnt, val):
        return _st.pack("<HHII", tag, typ, cnt, val)

    strip_off = 8
    tables_off = strip_off + len(frame)
    ifd_off = tables_off + len(tables)
    n = 10
    ifd = _st.pack("<H", n) + b"".join([
        ent(256, 4, 1, 24), ent(257, 4, 1, 24),
        ent(258, 3, 1, 8), ent(259, 3, 1, 7),
        ent(262, 3, 1, 1),
        ent(273, 4, 1, strip_off), ent(277, 3, 1, 1),
        ent(278, 4, 1, 24), ent(279, 4, 1, len(frame)),
        ent(347, 7, len(tables), tables_off),
    ]) + _st.pack("<I", 0)
    data = (_st.pack("<2sHI", b"II", 42, ifd_off) + frame + tables
            + ifd)
    planes, _ = decode_tiff(data)
    np.testing.assert_array_equal(planes[0], decode_jpeg(full))


def test_jpeg_tiff_window_and_planes_paths(spark, tmp_path):
    """The pruned window read and the planes read decode gray JPEG
    tiles (tables merged executor-side)."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import decode_tiff, encode_tiff

    yy, xx = np.mgrid[0:32, 0:32]
    a = ((yy * 2 + xx) % 250).astype(np.uint8)
    p = tmp_path / "j.tif"
    p.write_bytes(encode_tiff([a], compression=7, tile=(16, 16)))
    want, _ = decode_tiff(p.read_bytes())     # codec ground truth

    w = _window(spark, str(p), y=(4, 12), x=(20, 30)).toPandas()
    got = np.zeros((8, 10), np.uint8)
    got[w["y"] - 4, w["x"] - 20] = w["value"].astype(np.uint8)
    np.testing.assert_array_equal(got, want[0][4:12, 20:30])

    img = BioImage(str(p), spark=spark)
    assert img._reader.read_planes(spark, img) is not None
    pl = img.get_planes_dataframe().toPandas()
    assert len(pl) == 4
    row = pl[(pl.y0 == 16) & (pl.x0 == 0)].iloc[0]
    np.testing.assert_array_equal(
        np.array(row["values"]).reshape(16, 16),
        want[0][16:32, 0:16].astype(np.float64))


def test_bioimage_jpeg_tiff_end_to_end(spark, tmp_path):
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.tiff import (build_ome_xml, decode_tiff,
                                          encode_tiff)

    yy, xx = np.mgrid[0:24, 0:30]
    a = ((yy * 3 + xx * 2) % 230).astype(np.uint8)
    xml = build_ome_xml(1, 1, 1, 24, 30, "uint8")
    p = tmp_path / "jo.ome.tiff"
    p.write_bytes(encode_tiff([a], description=xml, compression=7))
    want, _ = decode_tiff(p.read_bytes())
    img = BioImage(str(p), spark=spark)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.uint8), want[0])


def test_jpeg_tiff_pyramid_levels(spark, tmp_path):
    """JPEG compression composes with SubIFD pyramids: the IFD walk
    finds the 32x32 level-1 child of 16x16 JPEG tiles, and a window read
    at resolution level 1 equals that level's full read, which is the
    level's pixels up to JPEG loss."""
    from bioio_spark import BioImage
    from bioio_spark.formats.tiff import encode_tiff

    yy, xx = np.mgrid[0:64, 0:64]
    a = ((yy * 2 + xx) % 240).astype(np.uint8)
    lvl1 = a[::2, ::2].copy()
    p = tmp_path / "jp.tif"
    p.write_bytes(encode_tiff([a], compression=7, tile=(16, 16),
                              sub_levels=[[lvl1]]))
    [sub] = iter_tiff_chunks(str(p))[0]["subifds"]
    assert (sub["h"], sub["w"], sub["comp"]) == (32, 32, 7)
    img = BioImage(str(p), spark=spark)
    img.set_resolution_level(1)
    level = img.get_image_data("YX").astype(np.int16)
    assert level.shape == (32, 32)
    assert np.abs(level - lvl1).max() <= 8
    w = _window(spark, str(p), level=1, y=(0, 8),
                x=(8, 16)).toPandas()
    got = np.zeros((8, 8), np.int16)
    got[w["y"], w["x"] - 8] = w["value"]
    np.testing.assert_array_equal(got, level[0:8, 8:16])
