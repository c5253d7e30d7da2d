"""CZI (ZISRAW) codec + reader — the reference's bioio-czi plugin tier
(ref README.md:59); segment/directory layout per the public ZISRAW
specification."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.czi import (encode_czi, parse_czi_header,
                                     read_czi_directory,
                                     read_czi_metadata,
                                     read_czi_subblock)
from bioio_spark.sources.czi_image import CziImageReader

_XML = ('<ImageDocument><Metadata><Information><Image><Dimensions>'
        '<Channels><Channel Id="Channel:0" Name="DAPI"/>'
        '<Channel Id="Channel:1" Name="GFP"/></Channels></Dimensions>'
        '</Image></Information><Scaling><Items>'
        '<Distance Id="X"><Value>6.5e-07</Value></Distance>'
        '<Distance Id="Y"><Value>6.5e-07</Value></Distance>'
        '<Distance Id="Z"><Value>1e-06</Value></Distance>'
        '</Items></Scaling></Metadata></ImageDocument>')


def _block():
    idx = np.indices((2, 2, 2, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def _grid_subblocks(block):
    return [{"data": block[t, c, z], "dims": {"T": t, "C": c, "Z": z}}
            for t in range(block.shape[0])
            for c in range(block.shape[1])
            for z in range(block.shape[2])]


def test_segment_layout_pinned(tmp_path):
    """ZISRAWFILE magic, 32-byte segment headers, directory/metadata
    positions resolvable — the spec's container shape."""
    data = encode_czi(_grid_subblocks(_block()), metadata_xml=_XML)
    assert data[:10] == b"ZISRAWFILE"
    alloc, used = struct.unpack_from("<qq", data, 16)
    assert alloc == 512
    h = parse_czi_header(data[:544])
    assert data[h["directory_position"]:
                h["directory_position"] + 15] == b"ZISRAWDIRECTORY"
    assert data[h["metadata_position"]:
                h["metadata_position"] + 14] == b"ZISRAWMETADATA"


def test_directory_and_subblocks_roundtrip(tmp_path):
    block = _block()
    p = tmp_path / "a.czi"
    p.write_bytes(encode_czi(_grid_subblocks(block), metadata_xml=_XML))
    entries = read_czi_directory(str(p))
    assert len(entries) == 8
    for e in entries:
        d = e["dims"]
        got = read_czi_subblock(str(p), e)
        np.testing.assert_array_equal(
            got, block[d["T"]["start"], d["C"]["start"],
                       d["Z"]["start"]])
    assert "DAPI" in read_czi_metadata(str(p))


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "float32",
                                   "int32", "float64"])
def test_pixel_types(dtype, tmp_path):
    a = (np.arange(20).reshape(4, 5) % 7).astype(dtype)
    p = tmp_path / "t.czi"
    p.write_bytes(encode_czi([{"data": a, "dims": {}}]))
    (e,) = read_czi_directory(str(p))
    np.testing.assert_array_equal(read_czi_subblock(str(p), e), a)


def test_bgr24_stored_bgr_decoded_rgb(tmp_path):
    rgb = np.zeros((2, 2, 3), np.uint8)
    rgb[0, 0] = (10, 20, 30)
    p = tmp_path / "rgb.czi"
    p.write_bytes(encode_czi([{"data": rgb, "dims": {}}]))
    (e,) = read_czi_directory(str(p))
    assert e["pixel_type"] == 3
    np.testing.assert_array_equal(read_czi_subblock(str(p), e), rgb)


def test_rejects_non_czi():
    with pytest.raises(ValueError, match="ZISRAWFILE"):
        parse_czi_header(b"\x00" * 544)


def test_compressed_subblock_raises(tmp_path):
    p = tmp_path / "c.czi"
    p.write_bytes(encode_czi(
        [{"data": np.zeros((2, 2), np.uint8), "dims": {}}]))
    (e,) = read_czi_directory(str(p))
    e["compression"] = 4        # JpgXr
    with pytest.raises(ValueError, match="compression"):
        read_czi_subblock(str(p), e)


def test_bioimage_czi_roundtrip(spark, tmp_path):
    block = _block()
    p = tmp_path / "cells.czi"
    p.write_bytes(encode_czi(_grid_subblocks(block), metadata_xml=_XML))
    img = BioImage(str(p), spark=spark)      # extension-routed
    assert type(img.reader).__name__ == "CziImageReader"
    assert (img.dims.T, img.dims.C, img.dims.Z) == (2, 2, 2)
    assert img.channel_names == ["DAPI", "GFP"]
    assert img.physical_pixel_sizes.X == pytest.approx(0.65)
    assert img.physical_pixel_sizes.Z == pytest.approx(1.0)
    np.testing.assert_array_equal(
        img.get_image_data("TCZYX").astype(np.uint16), block)


def test_bioimage_czi_mosaic_stitches(spark, tmp_path):
    rng = np.random.default_rng(5)
    tiles = [rng.integers(0, 65535, (4, 5)).astype(np.uint16)
             for _ in range(2)]
    subs = [{"data": tiles[m],
             "dims": {"S": 0, "M": m, "X": m * 5, "Y": 0}}
            for m in range(2)]
    p = tmp_path / "mosaic.czi"
    p.write_bytes(encode_czi(subs))
    img = BioImage(str(p), spark=spark)
    assert img.dims.order == "TCZYX"         # M absorbed by the stitch
    assert (img.dims.Y, img.dims.X) == (4, 10)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.uint16),
        np.concatenate(tiles, axis=1))
    assert img.get_mosaic_tile_positions() == [(0, 0), (0, 5)]
    # reconstruct_mosaic=False keeps tile-local coordinates + M
    raw = BioImage(str(p), reconstruct_mosaic=False, spark=spark)
    assert "M" in raw.dims.order
    np.testing.assert_array_equal(
        raw.get_image_data("MYX").astype(np.uint16), np.stack(tiles))


def test_bioimage_czi_multiscene(spark, tmp_path):
    b = _block()
    subs = ([{"data": b[0, 0, z], "dims": {"S": 0, "Z": z}}
             for z in range(2)]
            + [{"data": b[1, 1, z] * 2, "dims": {"S": 1, "Z": z}}
               for z in range(2)])
    p = tmp_path / "scenes.czi"
    p.write_bytes(encode_czi(subs))
    img = BioImage(str(p), spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    np.testing.assert_array_equal(
        img.get_image_data("ZYX").astype(np.uint16), b[0, 0])
    img.set_scene(1)
    np.testing.assert_array_equal(
        img.get_image_data("ZYX").astype(np.uint16), b[1, 1] * 2)


def test_bioimage_czi_pyramid_levels(spark, tmp_path):
    """PyramidType subblocks (StoredSize < Size) become res_levels;
    level 0 dims stay full-resolution and levels never double-count."""
    rng = np.random.default_rng(9)
    full = rng.integers(0, 65535, (8, 10)).astype(np.uint16)
    half = full[::2, ::2].copy()
    p = tmp_path / "pyr.czi"
    p.write_bytes(encode_czi([
        {"data": full, "dims": {"S": 0}},
        {"data": half, "dims": {"S": 0}, "scale": 2},
    ]))
    img = BioImage(str(p), spark=spark)
    assert (img.dims.Y, img.dims.X) == (8, 10)
    assert img.resolution_levels == (0, 1)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.uint16), full)
    img.set_resolution_level(1)
    np.testing.assert_array_equal(
        img.get_image_data("YX").astype(np.uint16), half)


def test_read_czi_window_prunes_subblocks(spark, tmp_path):
    """t/c/z prune whole subblocks; mosaic tiles prune by extent; the
    residual trims to exact bounds with GLOBAL mosaic coordinates."""

    block = _block()
    p = tmp_path / "win.czi"
    p.write_bytes(encode_czi(_grid_subblocks(block)))
    w = BioImage(str(p), spark=spark).read_window(
        t=1, c=(0, 2), z=0, y=(1, 3), x=(2, 5)).toPandas()
    exp = block[1, 0:2, 0, 1:3, 2:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["c"], w["y"] - 1, w["x"] - 2] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_read_czi_window_mosaic_tiles(spark, tmp_path):
    rng = np.random.default_rng(41)
    tiles = [rng.integers(0, 65535, (4, 5)).astype(np.uint16)
             for _ in range(3)]
    subs = [{"data": tiles[m],
             "dims": {"S": 0, "M": m, "X": m * 5, "Y": 0}}
            for m in range(3)]
    p = tmp_path / "mwin.czi"
    p.write_bytes(encode_czi(subs))
    # the window covers only tiles 1 and 2
    img = BioImage(str(p), spark=spark)
    pushed = img._reader.read_window(spark, img, x=(6, 12)).toPandas()
    assert set(pushed["m"]) == {1, 2}
    w = img.read_window(x=(6, 12)).toPandas()
    canvas = np.concatenate(tiles, axis=1)
    got = np.zeros((4, 6), np.uint16)
    got[w["y"], w["x"] - 6] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, canvas[:, 6:12])


def test_bioimage_read_window_dispatches_to_czi(spark, tmp_path):
    block = _block()
    p = tmp_path / "rw.czi"
    p.write_bytes(encode_czi(_grid_subblocks(block)))
    img = BioImage(str(p), spark=spark)
    w = img.read_window(t=0, c=1, z=(0, 2), y=(1, 3)).toPandas()
    exp = block[0, 1, 0:2, 1:3, :]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["z"], w["y"] - 1, w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_read_window_honors_czi_resolution_level(spark, tmp_path):
    """read_window after set_resolution_level(1) on a pyramidal CZI
    returns the LEVEL'S pixels (via the standardized fallback), not the
    level-0 subblocks the window planner would read."""
    rng = np.random.default_rng(19)
    full = rng.integers(0, 65535, (8, 10)).astype(np.uint16)
    half = full[::2, ::2].copy()
    p = tmp_path / "pyr_rw.czi"
    p.write_bytes(encode_czi([
        {"data": full, "dims": {"S": 0}},
        {"data": half, "dims": {"S": 0}, "scale": 2},
    ]))
    img = BioImage(str(p), spark=spark)
    img.set_resolution_level(1)
    w = img.read_window(y=(0, 2), x=(0, 3)).toPandas()
    assert len(w) == 6
    got = np.zeros((2, 3), np.uint16)
    got[w["y"], w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, half[0:2, 0:3])
    # level 0 still routes through the pruned subblock planner
    img.set_resolution_level(0)
    w0 = img.read_window(y=(0, 2), x=(0, 3)).toPandas()
    got0 = np.zeros((2, 3), np.uint16)
    got0[w0["y"], w0["x"]] = w0["value"].astype(np.uint16)
    np.testing.assert_array_equal(got0, full[0:2, 0:3])


def test_zstd_subblock_roundtrips(tmp_path):
    """Compression 5 (zstd0) and 6 (zstd1, hi/lo packed for 16-bit)
    roundtrip bit-exact through pyarrow's bundled zstd codec, and the
    directory entries carry the compression id."""
    from bioio_spark.formats.czi import (read_czi_directory,
                                         read_czi_subblock)

    rng = np.random.default_rng(23)
    planes = [rng.integers(0, 65535, (7, 9)).astype(np.uint16),
              rng.integers(0, 255, (7, 9)).astype(np.uint8),
              rng.random((7, 9)).astype(np.float32)]
    for comp in (5, 6):
        p = tmp_path / f"z{comp}.czi"
        p.write_bytes(encode_czi(
            [{"data": a, "dims": {"C": i}}
             for i, a in enumerate(planes)], compression=comp))
        entries = read_czi_directory(str(p))
        assert [e["compression"] for e in entries] == [comp] * 3
        for e, a in zip(entries, planes):
            np.testing.assert_array_equal(
                read_czi_subblock(str(p), e), a)


def test_zstd_compresses_smaller(tmp_path):
    smooth = np.tile(np.arange(128, dtype=np.uint16), (128, 1))
    raw = encode_czi([{"data": smooth}])
    z1 = encode_czi([{"data": smooth}], compression=6)
    assert len(z1) < len(raw) // 2


def test_unsupported_compression_raises(tmp_path):
    p = tmp_path / "bad.czi"
    with pytest.raises(ValueError, match="compression"):
        encode_czi([{"data": np.zeros((2, 2), np.uint16),
                     "compression": 4}])
    # decode side: patch a raw file's directory entry to JPEG-XR (4)
    from bioio_spark.formats.czi import (read_czi_directory,
                                         read_czi_subblock)
    p.write_bytes(encode_czi([{"data": np.zeros((2, 2), np.uint16)}]))
    e = read_czi_directory(str(p))[0]
    e["compression"] = 4
    with pytest.raises(ValueError, match="JPEG-XR"):
        read_czi_subblock(str(p), e)
    e["compression"] = 99
    with pytest.raises(ValueError, match="unsupported CZI compression"):
        read_czi_subblock(str(p), e)


def test_bioimage_mosaic_stitch_zstd(spark, tmp_path):
    """Mixed-compression mosaic (zstd1 + zstd0 + raw tiles in ONE
    file) stitches identically to the uncompressed fixture."""
    rng = np.random.default_rng(29)
    tiles = [rng.integers(0, 65535, (3, 4)).astype(np.uint16)
             for _ in range(3)]
    subs_raw, subs_z = [], []
    for m, t in enumerate(tiles):
        dims = {"S": 0, "M": m, "X": m * 4, "Y": 0}
        subs_raw.append({"data": t, "dims": dict(dims)})
        subs_z.append({"data": t, "dims": dict(dims),
                       "compression": (6, 5, 0)[m]})
    p_raw = tmp_path / "m_raw.czi"
    p_z = tmp_path / "m_z.czi"
    p_raw.write_bytes(encode_czi(subs_raw))
    p_z.write_bytes(encode_czi(subs_z))
    a = BioImage(str(p_raw), spark=spark).get_image_data("YX")
    b = BioImage(str(p_z), spark=spark).get_image_data("YX")
    np.testing.assert_array_equal(a, b)
    np.testing.assert_array_equal(
        b.astype(np.uint16), np.hstack(tiles))


def test_read_czi_window_zstd(spark, tmp_path):
    """Window-pruned reads decode compressed subblocks executor-side."""

    rng = np.random.default_rng(31)
    planes = rng.integers(0, 65535, (4, 6, 8)).astype(np.uint16)
    p = tmp_path / "zwin.czi"
    p.write_bytes(encode_czi(
        [{"data": planes[z], "dims": {"Z": z}} for z in range(4)],
        compression=6))
    w = BioImage(str(p), spark=spark).read_window(
        z=(1, 3), y=(2, 5), x=(3, 7)).toPandas()
    exp = planes[1:3, 2:5, 3:7]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["z"] - 1, w["y"] - 2, w["x"] - 3] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


# -- JPEG subblocks (compression 1, round-8) --------------------------------
def _blocky(h, w, seed=0):
    """uint8 plane constant on 8x8 blocks: DC-only JPEG content, which
    the q=95 baseline codec decodes EXACTLY (img_jpeg_roundtrip rule)."""
    yy, xx = np.indices((h, w))
    return ((seed * 37 + (yy // 8) * 3 + (xx // 8) * 5) % 200
            + 20).astype(np.uint8)


def test_jpeg_subblock_roundtrip_gray_blocky(tmp_path):
    from bioio_spark.formats.czi import (read_czi_directory,
                                         read_czi_subblock)

    planes = [_blocky(16, 24, s) for s in range(3)]
    p = tmp_path / "j.czi"
    p.write_bytes(encode_czi(
        [{"data": a, "dims": {"C": i}} for i, a in enumerate(planes)],
        compression=1))
    entries = read_czi_directory(str(p))
    assert [e["compression"] for e in entries] == [1, 1, 1]
    for e, a in zip(entries, planes):
        np.testing.assert_array_equal(read_czi_subblock(str(p), e), a)


def test_jpeg_subblock_bgr24_near_exact(tmp_path):
    from bioio_spark.formats.czi import (read_czi_directory,
                                         read_czi_subblock)

    rgb = np.stack([_blocky(8, 16, s) for s in range(3)], axis=-1)
    p = tmp_path / "jc.czi"
    p.write_bytes(encode_czi([{"data": rgb}], compression=1))
    e = read_czi_directory(str(p))[0]
    got = read_czi_subblock(str(p), e)
    # color transform rounding: DC-only blocks stay within 1 level
    assert np.abs(got.astype(int) - rgb.astype(int)).max() <= 1


def test_jpeg_subblock_rejects_16bit():
    with pytest.raises(ValueError, match="uint8"):
        encode_czi([{"data": np.zeros((8, 8), np.uint16)}],
                   compression=1)


def test_jpeg_subblock_compresses_smaller():
    plane = _blocky(64, 64)
    raw = encode_czi([{"data": plane}])
    jp = encode_czi([{"data": plane}], compression=1)
    assert len(jp) < len(raw) // 2


def test_bioimage_reads_jpeg_czi(spark, tmp_path):
    planes = [_blocky(16, 16, s) for s in range(2)]
    p = tmp_path / "jr.czi"
    p.write_bytes(encode_czi(
        [{"data": a, "dims": {"C": i}} for i, a in enumerate(planes)],
        compression=1))
    img = BioImage(str(p), spark=spark)
    got = img.get_image_data("CYX")
    np.testing.assert_array_equal(got, np.stack(planes))


def test_jpegxr_subblock_raises_actionable_error():
    """JPEG-XR (compression 4, ITU-T T.832) is the DELIBERATE scope
    gap (README "Known gaps"): the error must name the codec and the
    workaround, not be a generic unsupported-compression raise."""
    from bioio_spark.formats.czi import (COMP_JPEGXR,
                                         _decompress_subblock)

    with pytest.raises(ValueError) as ei:
        _decompress_subblock(b"\x00" * 32, COMP_JPEGXR, 64)
    msg = str(ei.value)
    assert "JPEG-XR" in msg and "T.832" in msg
    assert "re-export" in msg and "zstd" in msg
