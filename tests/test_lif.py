"""LIF (Leica) codec + reader — the reference's bioio-lif plugin tier
(ref README.md:62); block/XML layout per the public LIF docs."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.lif import (decode_lif, encode_lif,
                                     parse_lif_header, read_lif_plane)
from bioio_spark.sources.lif_image import LifImageReader


def _block():
    idx = np.indices((2, 3, 4, 5, 6))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def test_container_layout_pinned(tmp_path):
    """0x70 block magic, 0x2A test bytes, UTF-16-LE XML, uint64
    memory sizes — the version-2 layout."""
    p = tmp_path / "a.lif"
    p.write_bytes(encode_lif(
        [{"name": "S", "data": np.zeros((1, 1, 1, 2, 2), np.uint8)}]))
    data = p.read_bytes()
    magic, size = struct.unpack_from("<iI", data, 0)
    assert magic == 0x70
    assert data[8] == 0x2A
    (nc,) = struct.unpack_from("<I", data, 9)
    xml = data[13:13 + 2 * nc].decode("utf-16-le")
    assert xml.startswith('<LMSDataContainerHeader Version="2">')
    assert "MemBlock_0" in xml


def test_codec_roundtrip_multiscene(tmp_path):
    block = _block()
    b2 = np.random.default_rng(3).integers(
        0, 256, (1, 1, 2, 3, 4)).astype(np.uint8)
    p = tmp_path / "two.lif"
    p.write_bytes(encode_lif([
        {"name": "SeriesA", "data": block, "pps": (0.5, 0.2, 0.2)},
        {"name": "SeriesB", "data": b2}]))
    out = decode_lif(str(p))
    assert [n for n, _ in out] == ["SeriesA", "SeriesB"]
    np.testing.assert_array_equal(out[0][1], block)
    np.testing.assert_array_equal(out[1][1], b2)
    h = parse_lif_header(str(p))
    assert h["scenes"][0]["pps"][0] == pytest.approx(0.5)
    np.testing.assert_array_equal(
        read_lif_plane(str(p), h, 0, 1, 2, 3), block[1, 2, 3])


def test_strides_honored_on_decode(tmp_path):
    """A hand-edited XML with channel-interleaved strides decodes
    through the stride arithmetic, not an assumed C order."""
    a = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)  # c,y,x
    inter = np.ascontiguousarray(
        a.transpose(1, 2, 0))          # y,x,c interleaved on disk
    xml = ('<LMSDataContainerHeader Version="2"><Element Name="LifFile">'
           '<Children><Element Name="I" UniqueID="0"><Data><Image>'
           '<ImageDescription><Channels>'
           '<ChannelDescription Resolution="8" BytesInc="0"/>'
           '<ChannelDescription Resolution="8" BytesInc="1"/>'
           '</Channels><Dimensions>'
           '<DimensionDescription DimID="1" NumberOfElements="3" '
           'Length="0" BytesInc="2"/>'
           '<DimensionDescription DimID="2" NumberOfElements="2" '
           'Length="0" BytesInc="6"/>'
           '</Dimensions></ImageDescription></Image></Data>'
           '<Memory Size="12" MemoryBlockID="MemBlock_0"/>'
           '</Element></Children></Element></LMSDataContainerHeader>')
    u = xml.encode("utf-16-le")
    head = (struct.pack("<iI", 0x70, 5 + len(u)) + b"\x2a"
            + struct.pack("<I", len(xml)) + u)
    bid = "MemBlock_0".encode("utf-16-le")
    blk = (struct.pack("<iI", 0x70, 14 + len(bid)) + b"\x2a"
           + struct.pack("<Q", 12) + b"\x2a"
           + struct.pack("<I", 10) + bid + inter.tobytes())
    p = tmp_path / "inter.lif"
    p.write_bytes(head + blk)
    (name, got), = decode_lif(str(p))
    np.testing.assert_array_equal(got[0, :, 0], a)


def test_rejects_non_lif(tmp_path):
    p = tmp_path / "no.lif"
    p.write_bytes(b"\x00" * 64)
    with pytest.raises(ValueError, match="magic"):
        parse_lif_header(str(p))
    assert not LifImageReader.is_supported_image(str(p))


def test_bioimage_lif_roundtrip(spark, tmp_path):
    block = _block()
    p = tmp_path / "cells.lif"
    p.write_bytes(encode_lif(
        [{"name": "SeriesA", "data": block, "pps": (0.5, 0.2, 0.2)}]))
    img = BioImage(str(p), spark=spark)     # extension-routed
    assert type(img.reader).__name__ == "LifImageReader"
    assert (img.dims.T, img.dims.C, img.dims.Z) == (2, 3, 4)
    assert img.physical_pixel_sizes.Z == pytest.approx(0.5)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)


def test_bioimage_lif_multiscene(spark, tmp_path):
    b = _block()
    p = tmp_path / "multi.lif"
    p.write_bytes(encode_lif([
        {"name": "A", "data": b[:1, :1]},
        {"name": "B", "data": (b[1:, 2:] * 2)}]))
    img = BioImage(str(p), spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    img.set_scene(1)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), b[1:, 2:] * 2)


def test_interleaved_strides_uint16(tmp_path):
    """Channel-interleaved uint16 (X BytesInc = 4) decodes through the
    multi-byte stride gather."""
    import struct as _s

    a = (np.arange(2 * 2 * 3, dtype=np.uint16) * 1000).reshape(2, 2, 3)
    inter = np.ascontiguousarray(a.transpose(1, 2, 0))  # y,x,c on disk
    xml = ('<LMSDataContainerHeader Version="2"><Element Name="LifFile">'
           '<Children><Element Name="I" UniqueID="0"><Data><Image>'
           '<ImageDescription><Channels>'
           '<ChannelDescription Resolution="16" BytesInc="0"/>'
           '<ChannelDescription Resolution="16" BytesInc="2"/>'
           '</Channels><Dimensions>'
           '<DimensionDescription DimID="1" NumberOfElements="3" '
           'Length="0" BytesInc="4"/>'
           '<DimensionDescription DimID="2" NumberOfElements="2" '
           'Length="0" BytesInc="12"/>'
           '</Dimensions></ImageDescription></Image></Data>'
           '<Memory Size="24" MemoryBlockID="MemBlock_0"/>'
           '</Element></Children></Element></LMSDataContainerHeader>')
    u = xml.encode("utf-16-le")
    head = (_s.pack("<iI", 0x70, 5 + len(u)) + b"\x2a"
            + _s.pack("<I", len(xml)) + u)
    bid = "MemBlock_0".encode("utf-16-le")
    blk = (_s.pack("<iI", 0x70, 14 + len(bid)) + b"\x2a"
           + _s.pack("<Q", 24) + b"\x2a"
           + _s.pack("<I", 10) + bid + inter.tobytes())
    p = tmp_path / "inter16.lif"
    p.write_bytes(head + blk)
    (name, got), = decode_lif(str(p))
    np.testing.assert_array_equal(got[0, :, 0], a)


def test_lif_tile_scan_mosaic_stitches(spark, tmp_path):
    """DimID 10 tile scans: M dim + TileScanInfo stage positions feed
    the M1 stitch (positions µm -> pixel offsets via the pixel size)."""
    rng = np.random.default_rng(43)
    tiles = rng.integers(0, 999, (2, 1, 1, 1, 4, 5)).astype(np.uint16)
    p = tmp_path / "scan.lif"
    # 0.5 µm pixels; tile 1 sits 2.5 µm right of tile 0 = 5 px
    p.write_bytes(encode_lif([{
        "name": "TileScan", "data": tiles,
        "pps": (1.0, 0.5, 0.5),
        "tiles": [(0.0, 0.0), (0.0, 2.5)]}]))
    img = BioImage(str(p), spark=spark)
    assert img.dims.order == "TCZYX"        # M absorbed by the stitch
    assert (img.dims.Y, img.dims.X) == (4, 10)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.uint16),
        np.concatenate([tiles[0, 0, 0, 0], tiles[1, 0, 0, 0]], axis=1))
    assert img.get_mosaic_tile_positions() == [(0, 0), (0, 5)]
    # the stitched scene's window and planes reads fall back to the
    # standardized pixels instead of the single-tile source planner
    win = img.read_window(x=(3, 7)).orderBy("y", "x").toPandas()
    np.testing.assert_array_equal(
        win["value"].to_numpy().reshape(4, 4),
        np.concatenate([tiles[0, 0, 0, 0], tiles[1, 0, 0, 0]],
                       axis=1)[:, 3:7])
    planes = img.get_planes_dataframe().toPandas()
    assert sum(len(v) for v in planes["values"]) == 4 * 10
    raw = BioImage(str(p), reconstruct_mosaic=False, spark=spark)
    assert "M" in raw.dims.order
    np.testing.assert_array_equal(
        raw.get_image_data("MYX").astype(np.uint16),
        tiles[:, 0, 0, 0])


def test_read_lif_window_prunes(spark, tmp_path):
    """t/c/z windows prune whole planes; the y window is a row-range
    seek; x prunes in numpy after the stride gather."""

    idx = np.indices((2, 3, 4, 5, 6))    # t c z y x
    vol = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
           + idx[3] * 10 + idx[4]).astype(np.uint16)
    p = tmp_path / "win.lif"
    p.write_bytes(encode_lif([{"name": "S", "data": vol}]))
    w = BioImage(str(p), spark=spark).read_window(
        t=1, c=(1, 3), z=2, y=(1, 3), x=(2, 5)).toPandas()
    exp = vol[1, 1:3, 2, 1:3, 2:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["c"] - 1, w["y"] - 1, w["x"] - 2] = \
        w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_read_lif_window_second_scene(spark, tmp_path):
    a = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(1, 1, 2, 3, 4)
    b = (a * 3).astype(np.uint16)
    p = tmp_path / "two.lif"
    p.write_bytes(encode_lif([{"name": "A", "data": a},
                              {"name": "B", "data": b}]))
    img = BioImage(str(p), spark=spark)
    img.set_scene(1)
    w = img.read_window(z=1).toPandas()
    exp = b[0, 0, 1]
    got = np.zeros_like(exp)
    got[w["y"], w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_bioimage_read_window_routes_lif(spark, tmp_path):
    idx = np.indices((1, 2, 3, 4, 5))
    vol = (idx[1] * 1000 + idx[2] * 100 + idx[3] * 10
           + idx[4]).astype(np.uint16)
    p = tmp_path / "route.lif"
    p.write_bytes(encode_lif([{"name": "S", "data": vol}]))
    img = BioImage(str(p), spark=spark)
    w = img.read_window(c=1, z=(1, 3), y=(0, 2)).toPandas()
    exp = vol[0, 1, 1:3, 0:2, :]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["z"] - 1, w["y"], w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)
