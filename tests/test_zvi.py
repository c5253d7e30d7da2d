"""Zeiss ZVI (.zvi) codec + reader — native coverage for a format the
reference routes to bioio-bioformats (ref README.md:74); container per
the public MS-CFB spec (hierarchical Image/Item(N) storages), payload
per the public ZVI format spec (VARIANT-typed item streams, coordinate
tag triples, raw pixel blocks)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.cfb import CfbFile, build_cfb
from bioio_spark.formats.zvi import (PIXEL_FORMATS, decode_zvi,
                                     encode_zvi, read_zvi_catalog,
                                     slice_extents)
from bioio_spark.sources.zvi_image import ZviImageReader


def _block(dtype=np.uint16):
    idx = np.indices((2, 2, 3, 4, 5))
    return (idx[0] * 20000 + idx[1] * 2000 + idx[2] * 200
            + idx[3] * 20 + idx[4]).astype(dtype)


def _write(tmp_path, block=None, name="stack.zvi", **kw):
    p = tmp_path / name
    p.write_bytes(encode_zvi(block if block is not None else _block(),
                             **kw))
    return str(p)


# -- hierarchical CFB ---------------------------------------------------
def test_cfb_nested_storages_roundtrip(tmp_path):
    rng = np.random.default_rng(7)
    streams = [("Image/Contents", rng.bytes(300)),
               ("Image/Item(0)/Contents", rng.bytes(9000)),
               ("Image/Item(0)/Tags/Contents", rng.bytes(120)),
               ("Image/Item(1)/Contents", rng.bytes(9001)),
               ("flat.txt", b"still works")]
    p = tmp_path / "t.cfb"
    p.write_bytes(build_cfb(streams))
    c = CfbFile(str(p))
    assert sorted(c.stream_names()) == sorted(n for n, _ in streams)
    for name, data in streams:
        assert c.read_stream(name) == data


def test_cfb_path_collision_rejected():
    with pytest.raises(ValueError, match="collision"):
        build_cfb([("A", b"x"), ("A/B", b"y")])
    with pytest.raises(ValueError, match="duplicate"):
        build_cfb([("A/B", b"x"), ("A/B", b"y")])


def test_slice_extents_spans_runs():
    ext = [(100, 10), (300, 10), (900, 10)]
    assert slice_extents(ext, 0, 30) == ext
    assert slice_extents(ext, 5, 10) == [(105, 5), (300, 5)]
    assert slice_extents(ext, 12, 3) == [(302, 3)]
    with pytest.raises(ValueError, match="overruns"):
        slice_extents(ext, 25, 10)


# -- codec ---------------------------------------------------------------
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.int32,
                                   np.float32, np.float64])
def test_zvi_gray_roundtrip_dtypes(dtype):
    rng = np.random.default_rng(3)
    block = (rng.random((2, 2, 2, 5, 6)) * 100).astype(dtype)
    assert (decode_zvi(encode_zvi(block)) == block).all()


@pytest.mark.parametrize("pf,c_n,dtype", [(1, 3, np.uint8),
                                          (2, 4, np.uint8),
                                          (7, 3, np.uint16)])
def test_zvi_bgr_roundtrip(pf, c_n, dtype):
    rng = np.random.default_rng(4)
    block = (rng.random((2, c_n, 2, 4, 5)) * 200).astype(dtype)
    assert (decode_zvi(encode_zvi(block, pixel_format=pf))
            == block).all()


def test_zvi_bgr_sample_order_on_disk(tmp_path):
    """PixelFormat 1 stores B,G,R interleaved: byte-level check that
    channel 0 (R) lands as the THIRD sample of the raw payload."""
    block = np.zeros((1, 3, 1, 1, 1), np.uint8)
    block[0, 0] = 11   # R
    block[0, 1] = 22   # G
    block[0, 2] = 33   # B
    p = _write(tmp_path, block, pixel_format=1)
    cat = read_zvi_catalog(p)
    ext = cat["planes"][(0, 0, 0)]
    with open(p, "rb") as f:
        f.seek(ext[0][0])
        raw = f.read(3)
    assert list(raw) == [33, 22, 11]     # B, G, R on disk


def test_zvi_catalog_metadata(tmp_path):
    p = _write(tmp_path, um_per_px=0.25, z_step_um=1.5)
    cat = read_zvi_catalog(p)
    assert (cat["size_t"], cat["size_c"], cat["size_z"],
            cat["size_y"], cat["size_x"]) == (2, 2, 3, 4, 5)
    assert cat["dtype"] == "uint16"
    assert cat["um_per_px"] == 0.25 and cat["z_step_um"] == 1.5


def test_zvi_rejects_non_zvi(tmp_path):
    p = tmp_path / "x.zvi"
    p.write_bytes(build_cfb([("NotImage", b"nope")]))
    with pytest.raises(ValueError, match="Image/Contents"):
        read_zvi_catalog(str(p))
    assert not ZviImageReader.is_supported_image(str(p))


def test_zvi_grid_gap_detected(tmp_path):
    """A missing (t,c,z) item must fail loudly, not silently zero."""
    data = encode_zvi(_block())
    # rebuild without Item(0): parse the CFB and drop the first item
    p0 = tmp_path / "full.zvi"
    p0.write_bytes(data)
    c = CfbFile(str(p0))
    keep = [(n, c.read_stream(n)) for n in c.stream_names()
            if not n.startswith("Image/Item(0)/")]
    # renumbering would fix the grid; keep the hole but patch count
    names = [n for n, _ in keep]
    assert "Image/Item(1)/Contents" in names
    p = tmp_path / "gap.zvi"
    p.write_bytes(build_cfb(keep))
    with pytest.raises(ValueError):
        read_zvi_catalog(str(p))


# -- Spark reader ---------------------------------------------------------
def test_zvi_bioimage_roundtrip(spark, tmp_path):
    block = _block()
    p = _write(tmp_path, block, um_per_px=0.25)
    img = BioImage(p, spark=spark)
    assert isinstance(img._reader, ZviImageReader)  # extension routing
    assert img.dims.order == "TCZYX"
    assert img.dims.shape == (2, 2, 3, 4, 5)
    assert img.dtype == np.uint16
    assert img.physical_pixel_sizes.X == 0.25
    np.testing.assert_array_equal(img.get_image_data("TCZYX"), block)


def test_zvi_window_prunes_items(spark, tmp_path):
    block = _block()
    p = _write(tmp_path, block)
    w = BioImage(p, spark=spark).read_window(
        t=1, c=0, z=slice(1, 3), y=slice(1, 3), x=slice(2, 5)).toPandas()
    exp = block[1, 0, 1:3, 1:3, 2:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp, dtype=float)
    for r in w.itertuples():
        got[r.z - 1, r.y - 1, r.x - 2] = r.value
    np.testing.assert_array_equal(got, exp.astype(float))


def test_zvi_window_empty_rejected(spark, tmp_path):
    """Empty windows raise (the engine-wide norm_window contract)."""
    p = _write(tmp_path)
    with pytest.raises(ValueError, match="empty window"):
        BioImage(p, spark=spark).read_window(y=slice(4, 4))


def test_zvi_bgr_bioimage_channels(spark, tmp_path):
    idx = np.indices((1, 3, 1, 6, 8))
    block = ((idx[1] * 50 + idx[3] * 8 + idx[4]) % 251).astype(
        np.uint8)
    p = _write(tmp_path, block, pixel_format=1, name="rgb.zvi")
    img = BioImage(p, spark=spark)
    assert img.dims.C == 3
    np.testing.assert_array_equal(img.get_image_data("TCZYX"), block)


def test_zvi_pixel_formats_table_complete():
    for pf, (dt, samples, bgr) in PIXEL_FORMATS.items():
        assert samples in (1, 3, 4)
        assert bgr == (samples > 1)
        assert np.dtype(dt).itemsize in (1, 2, 4, 8)


def test_zvi_multichannel_bgr_grid_roundtrip():
    """c_base > 1 with a BGR format: TWO BGR items per (t, z), each
    owning its own channel block (round-8 ADVICE: without the
    r.c*samples offset the items collided on channels 0..2)."""
    rng = np.random.default_rng(5)
    block = (rng.random((2, 6, 2, 4, 5)) * 200).astype(np.uint8)
    data = encode_zvi(block, pixel_format=1)       # 6 = 2 blocks of 3
    assert (decode_zvi(data) == block).all()


def test_zvi_multichannel_bgr_bioimage(spark, tmp_path):
    idx = np.indices((1, 6, 1, 4, 6))
    block = ((idx[1] * 37 + idx[3] * 6 + idx[4]) % 251).astype(
        np.uint8)
    p = _write(tmp_path, block, pixel_format=1, name="mcbgr.zvi")
    cat = read_zvi_catalog(p)
    assert cat["size_c"] == 6
    img = BioImage(p, spark=spark)
    assert img.dims.C == 6
    np.testing.assert_array_equal(img.get_image_data("TCZYX"), block)


def test_zvi_bgr_channel_count_must_be_multiple():
    block = np.zeros((1, 4, 1, 2, 2), np.uint8)
    with pytest.raises(ValueError, match="packs 3 channels"):
        encode_zvi(block, pixel_format=1)
