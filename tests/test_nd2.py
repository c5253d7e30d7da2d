"""ND2 (Nikon) codec + reader — the reference's bioio-nd2 plugin tier
(ref README.md:63); chunk/chunk-map layout per the public nd2
container docs."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.nd2 import (CHUNK_MAGIC, decode_lv, decode_nd2,
                                     encode_lv, encode_nd2,
                                     read_nd2_attributes,
                                     read_nd2_chunkmap, read_nd2_frame)
from bioio_spark.sources.nd2_image import Nd2ImageReader


def test_lv_roundtrip():
    d = {"SLx": {"uiWidth": 5, "dCal": 0.25, "name": "héllo",
                 "nested": {"a": 1, "b": 2.5}}}
    assert decode_lv(encode_lv(d)) == d


def test_container_layout_pinned(tmp_path):
    """Chunk magic 0x0ABECEDA, signature chunk first, chunk-map offset
    in the file's last 8 bytes."""
    p = tmp_path / "a.nd2"
    p.write_bytes(encode_nd2(np.zeros((1, 2, 3), np.uint8)))
    data = p.read_bytes()
    magic, nlen, dlen = struct.unpack_from("<IIQ", data, 0)
    assert magic == CHUNK_MAGIC
    assert data[16:16 + nlen] == b"ND2 FILE SIGNATURE CHUNK NAME01!"
    (map_pos,) = struct.unpack_from("<Q", data, len(data) - 8)
    assert struct.unpack_from("<I", data, map_pos)[0] == CHUNK_MAGIC


def test_codec_roundtrip_gray(tmp_path):
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 65535, (4, 5, 6)).astype(np.uint16)
    p = tmp_path / "g.nd2"
    p.write_bytes(encode_nd2(frames, pixel_um=0.25))
    back, attrs = decode_nd2(str(p))
    np.testing.assert_array_equal(back, frames)
    assert attrs["dCalibration"] == pytest.approx(0.25)
    np.testing.assert_array_equal(
        read_nd2_frame(str(p), 2), frames[2])


def test_codec_roundtrip_interleaved(tmp_path):
    rng = np.random.default_rng(4)
    fc = rng.integers(0, 256, (3, 4, 5, 2)).astype(np.uint8)
    p = tmp_path / "c.nd2"
    p.write_bytes(encode_nd2(fc, channel_names=["DAPI", "GFP"]))
    back, attrs = decode_nd2(str(p))
    np.testing.assert_array_equal(back, fc)
    assert attrs["uiComp"] == 2


def test_chunkmap_tail_seek(tmp_path):
    p = tmp_path / "m.nd2"
    p.write_bytes(encode_nd2(np.zeros((3, 2, 2), np.uint8)))
    cmap = read_nd2_chunkmap(str(p))
    assert {f"ImageDataSeq|{t}!" for t in range(3)} <= set(cmap)
    assert "ImageAttributesLV!" in cmap


def test_rejects_bad_map(tmp_path):
    p = tmp_path / "bad.nd2"
    p.write_bytes(b"\x00" * 64)
    with pytest.raises(ValueError):
        read_nd2_chunkmap(str(p))
    assert not Nd2ImageReader.is_supported_image(str(p))


def test_bioimage_nd2_roundtrip(spark, tmp_path):
    rng = np.random.default_rng(6)
    fc = rng.integers(0, 65535, (3, 4, 5, 2)).astype(np.uint16)
    p = tmp_path / "cells.nd2"
    p.write_bytes(encode_nd2(fc, pixel_um=0.16,
                             channel_names=["DAPI", "GFP"]))
    img = BioImage(str(p), spark=spark)     # extension-routed
    assert type(img.reader).__name__ == "Nd2ImageReader"
    assert (img.dims.T, img.dims.C, img.dims.Z) == (3, 2, 1)
    assert img.channel_names == ["DAPI", "GFP"]
    assert img.physical_pixel_sizes.X == pytest.approx(0.16)
    got = img.get_image_data("TCYX").astype(np.uint16)
    np.testing.assert_array_equal(got, fc.transpose(0, 3, 1, 2))


# -- SLxExperiment loop factorization --------------------------------------

def test_experiment_chunk_roundtrip(tmp_path):
    from bioio_spark.formats.nd2 import (encode_nd2, factor_nd2_loops,
                                         read_nd2_experiment)

    frames = np.zeros((12, 2, 3), np.uint16)
    p = tmp_path / "loops.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("TimeLoop", 3), ("ZStackLoop", 4)]))
    loops = read_nd2_experiment(str(p))
    assert loops == [(1, 3), (4, 4)]
    assert factor_nd2_loops(loops, 12) == (3, 4, True)
    # no chunk -> []
    p2 = tmp_path / "flat.nd2"
    p2.write_bytes(encode_nd2(frames))
    assert read_nd2_experiment(str(p2)) == []


def test_factor_nd2_loops_edge_cases():
    from bioio_spark.formats.nd2 import factor_nd2_loops

    assert factor_nd2_loops([], 5) is None
    # Z outer, T inner
    assert factor_nd2_loops([(4, 2), (1, 3)], 6) == (3, 2, False)
    # NETimeLoop counts as T
    assert factor_nd2_loops([(8, 2), (4, 3)], 6) == (2, 3, True)
    # XYPos loop -> fallback
    assert factor_nd2_loops([(2, 4), (1, 3)], 12) is None
    # count mismatch -> fallback
    assert factor_nd2_loops([(1, 3), (4, 4)], 11) is None
    # interleaved t,z,t nesting -> fallback
    assert factor_nd2_loops([(1, 2), (4, 2), (1, 2)], 8) is None
    # single loops
    assert factor_nd2_loops([(1, 7)], 7) == (7, 1, False)
    assert factor_nd2_loops([(4, 7)], 7) == (1, 7, True)


def test_encode_loop_count_mismatch(tmp_path):
    from bioio_spark.formats.nd2 import encode_nd2

    with pytest.raises(ValueError, match="loop counts"):
        encode_nd2(np.zeros((5, 2, 2), np.uint8),
                   loops=[("TimeLoop", 2), ("ZStackLoop", 2)])


def test_bioimage_nd2_tz_factorization(spark, tmp_path):
    """TimeLoop(2) x ZStackLoop(3): frames stored z-fastest read back
    as a (T=2, Z=3) stack, not a flat T=6 series."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((2, 3, 4, 5))       # t z y x
    vol = (idx[0] * 1000 + idx[1] * 100 + idx[2] * 10
           + idx[3]).astype(np.uint16)
    frames = vol.reshape(6, 4, 5)        # seq = t*3 + z
    p = tmp_path / "tz.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("TimeLoop", 2), ("ZStackLoop", 3)]))
    img = BioImage(str(p), spark=spark)
    assert (img.dims.T, img.dims.Z) == (2, 3)
    got = img.get_image_data("TZYX")[:, :, :, :].astype(np.uint16)
    np.testing.assert_array_equal(got, vol)


def test_bioimage_nd2_z_outer(spark, tmp_path):
    """ZStackLoop(3) OVER TimeLoop(2): t varies fastest in storage."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((3, 2, 2, 2))       # z t y x storage order
    vol = (idx[0] * 100 + idx[1] * 1000 + idx[2] * 10
           + idx[3]).astype(np.uint16)
    frames = vol.reshape(6, 2, 2)        # seq = z*2 + t
    p = tmp_path / "zt.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("ZStackLoop", 3), ("TimeLoop", 2)]))
    img = BioImage(str(p), spark=spark)
    assert (img.dims.T, img.dims.Z) == (2, 3)
    got = img.get_image_data("ZTYX").astype(np.uint16)
    np.testing.assert_array_equal(got, vol)


def test_bioimage_nd2_positions_become_scenes(spark, tmp_path):
    """XYPosLoop(2) over TimeLoop(2): each stage position reads as its
    own scene (the reference's bioio-nd2 multi-position mapping)."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((2, 2, 2, 3))       # p t y x storage order
    vol = (idx[0] * 1000 + idx[1] * 100 + idx[2] * 10
           + idx[3]).astype(np.uint16)
    frames = vol.reshape(4, 2, 3)        # seq = p*2 + t
    p = tmp_path / "pos.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("XYPosLoop", 2), ("TimeLoop", 2)]))
    img = BioImage(str(p), spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    assert (img.dims.T, img.dims.Z) == (2, 1)
    np.testing.assert_array_equal(
        img.get_image_data("TYX").astype(np.uint16), vol[0])
    img.set_scene(1)
    np.testing.assert_array_equal(
        img.get_image_data("TYX").astype(np.uint16), vol[1])


def test_bioimage_nd2_custom_loop_flat_fallback(spark, tmp_path):
    """An unknown loop type keeps the documented flat-T fallback."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.nd2 import encode_nd2

    frames = np.arange(4 * 2 * 3, dtype=np.uint16).reshape(4, 2, 3)
    p = tmp_path / "custom.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[(7, 2), ("TimeLoop", 2)]))   # 7 = CustomLoop
    img = BioImage(str(p), spark=spark)
    assert img.scenes == ("Image:0",)
    assert (img.dims.T, img.dims.Z) == (4, 1)


def test_resolve_and_seq_coords():
    from bioio_spark.formats.nd2 import nd2_seq_coords, resolve_nd2_loops

    # XYPos over Time over ZStack
    kinds = resolve_nd2_loops([(2, 2), (1, 3), (4, 2)], 12)
    assert kinds == [("p", 2), ("t", 3), ("z", 2)]
    # seq 11 = p1, t2, z1 (inner fastest)
    assert nd2_seq_coords(kinds, 11) == {"p": 1, "t": 2, "z": 1}
    assert nd2_seq_coords(kinds, 0) == {"p": 0, "t": 0, "z": 0}
    assert nd2_seq_coords(kinds, 6) == {"p": 1, "t": 0, "z": 0}
    # non-contiguous t runs still decompose (t combined by nesting)
    kinds2 = resolve_nd2_loops([(1, 2), (4, 2), (8, 2)], 8)
    assert kinds2 == [("t", 2), ("z", 2), ("t", 2)]
    assert nd2_seq_coords(kinds2, 7) == {"p": 0, "t": 3, "z": 1}
    # unknown type -> None
    assert resolve_nd2_loops([(7, 2)], 2) is None
    assert resolve_nd2_loops([(1, 3)], 4) is None


def test_read_nd2_window_prunes(spark, tmp_path):
    """t/z windows prune whole frame chunks; the y window becomes a
    byte range inside each chunk; c/x prune on the de-interleave."""
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((3, 4, 5, 6, 2))    # t z y x c (interleaved)
    vol = (idx[0] * 10000 + idx[1] * 1000 + idx[4] * 500
           + idx[2] * 10 + idx[3]).astype(np.uint16)
    frames = vol.reshape(12, 5, 6, 2)    # seq = t*4 + z
    p = tmp_path / "win.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("TimeLoop", 3), ("ZStackLoop", 4)]))
    w = BioImage(str(p), spark=spark).read_window(
        t=1, z=(1, 3), c=1, y=(2, 4), x=(3, 6)).toPandas()
    exp = vol[1, 1:3, 2:4, 3:6, 1]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["z"] - 1, w["y"] - 2, w["x"] - 3] = \
        w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_read_nd2_window_position_scene(spark, tmp_path):
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((2, 3, 2, 2))       # p t y x
    vol = (idx[0] * 1000 + idx[1] * 100 + idx[2] * 10
           + idx[3]).astype(np.uint16)
    p = tmp_path / "pw.nd2"
    p.write_bytes(encode_nd2(
        vol.reshape(6, 2, 2),
        loops=[("XYPosLoop", 2), ("TimeLoop", 3)]))
    img = BioImage(str(p), spark=spark)
    w = img.read_window(t=(1, 3)).toPandas()
    assert sorted(w["t"].unique()) == [1, 2]
    assert w["value"].min() >= 100 and w["value"].max() < 1000
    img.set_scene(1)
    w1 = img.read_window(t=0).toPandas()
    assert (w1["value"].astype(int) // 1000 == 1).all()
    with pytest.raises(IndexError, match="out of range"):
        img.set_scene(2)


def test_bioimage_read_window_routes_nd2(spark, tmp_path):
    from bioio_spark.formats.nd2 import encode_nd2

    idx = np.indices((4, 3, 4))
    frames = (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(np.uint16)
    p = tmp_path / "route.nd2"
    p.write_bytes(encode_nd2(frames))
    img = BioImage(str(p), spark=spark)
    w = img.read_window(t=(1, 3), y=1).toPandas()
    exp = frames[1:3, 1:2, :]
    assert len(w) == exp.size
    got = np.zeros_like(exp)
    got[w["t"] - 1, w["y"] - 1, w["x"]] = w["value"].astype(np.uint16)
    np.testing.assert_array_equal(got, exp)


def test_time_interval_from_dperiod(spark, tmp_path):
    """TimeLoop dPeriod (ms) surfaces as BioImage.time_interval (s)."""
    from bioio_spark.formats.nd2 import (encode_nd2,
                                         read_nd2_time_interval)

    frames = np.zeros((6, 2, 3), np.uint16)
    p = tmp_path / "ti.nd2"
    p.write_bytes(encode_nd2(
        frames, loops=[("TimeLoop", 3, {"dPeriod": 500.0}),
                       ("ZStackLoop", 2)]))
    assert read_nd2_time_interval(str(p)) == pytest.approx(0.5)
    img = BioImage(str(p), spark=spark)
    assert img.time_interval == pytest.approx(0.5)
    assert img.scale.T == pytest.approx(0.5)
    # no period declared -> None
    p2 = tmp_path / "np.nd2"
    p2.write_bytes(encode_nd2(frames, loops=[("TimeLoop", 6)]))
    assert read_nd2_time_interval(str(p2)) is None


def test_z_step_feeds_physical_pixel_sizes(spark, tmp_path):
    from bioio_spark.formats.nd2 import encode_nd2, read_nd2_z_step

    frames = np.zeros((6, 2, 3), np.uint16)
    p = tmp_path / "zs.nd2"
    p.write_bytes(encode_nd2(
        frames, pixel_um=0.16,
        loops=[("TimeLoop", 2), ("ZStackLoop", 3, {"dZStep": 0.7})]))
    assert read_nd2_z_step(str(p)) == pytest.approx(0.7)
    img = BioImage(str(p), spark=spark)
    assert img.physical_pixel_sizes.Z == pytest.approx(0.7)
    assert img.physical_pixel_sizes.X == pytest.approx(0.16)
