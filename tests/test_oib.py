"""Olympus OIB (.oib) + MS-CFB compound-file codec — native coverage
for a format the reference routes to bioio-bioformats (ref
README.md:74); container per the public Microsoft MS-CFB spec, payload
per the FluoView OIF vocabulary (OibInfo.txt stream map)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.cfb import CfbFile, build_cfb
from bioio_spark.formats.oib import (encode_oib, parse_oib_info,
                                     read_oib_catalog)
from bioio_spark.sources.oib_image import OibImageReader


def _block():
    idx = np.indices((2, 2, 3, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def _write(tmp_path, block=None, name="scan.oib", **kw):
    p = tmp_path / name
    p.write_bytes(encode_oib(block if block is not None else _block(),
                             **kw))
    return str(p)


# -- CFB container ---------------------------------------------------------
def test_cfb_roundtrip_mini_and_fat_streams(tmp_path):
    rng = np.random.default_rng(1)
    streams = [("small.txt", b"hello"), ("big.bin", rng.bytes(10000)),
               ("edge1.bin", rng.bytes(4095)),
               ("edge2.bin", rng.bytes(4096)), ("empty.bin", b"")]
    p = tmp_path / "t.cfb"
    p.write_bytes(build_cfb(streams))
    c = CfbFile(str(p))
    assert sorted(c.stream_names()) == sorted(n for n, _ in streams)
    for name, data in streams:
        assert c.read_stream(name) == data


def test_cfb_extents_are_coalesced(tmp_path):
    rng = np.random.default_rng(2)
    p = tmp_path / "t.cfb"
    p.write_bytes(build_cfb([("a.bin", rng.bytes(20000))]))
    c = CfbFile(str(p))
    ext = c.stream_extents("a.bin")
    assert len(ext) == 1                 # contiguously written
    assert ext[0][1] == 20000


def test_cfb_rejects_non_cfb(tmp_path):
    p = tmp_path / "x.bin"
    p.write_bytes(b"not a compound file at all")
    with pytest.raises(ValueError, match="compound"):
        CfbFile(str(p))


def test_cfb_corrupt_chain_detected(tmp_path):
    rng = np.random.default_rng(3)
    p = tmp_path / "t.cfb"
    data = bytearray(build_cfb([("a.bin", rng.bytes(10000))]))
    # truncate the file mid-FAT: reading the big chain must fail loudly
    p.write_bytes(bytes(data[:600]))
    with pytest.raises(Exception):
        CfbFile(str(p)).read_stream("a.bin")


# -- OIB layer -------------------------------------------------------------
def test_oib_info_map():
    m = parse_oib_info("[OibSaveInfo]\r\n"
                       'MainFileName="x.oif"\r\n'
                       'Stream00000="x.oif"\r\n'
                       'Stream00001="s_C001Z001T001.tif"')
    assert m["Stream00000"] == "x.oif"
    assert m["Stream00001"] == "s_C001Z001T001.tif"


def test_catalog_fields_and_extents(tmp_path):
    p = _write(tmp_path, channel_names=["CFP", "YFP"],
               time_interval_s=3.0)
    cat = read_oib_catalog(p)
    assert (cat["size_t"], cat["size_c"], cat["size_z"]) == (2, 2, 3)
    assert cat["channel_names"] == ["CFP", "YFP"]
    assert cat["time_interval"] == 3.0
    assert len(cat["planes"]) == 12
    for ext in cat["planes"].values():
        assert len(ext) == 1             # contiguous plane streams


def test_bio_image_roundtrip(spark, tmp_path):
    block = _block()
    p = _write(tmp_path, um_per_px=0.21, z_step_um=0.8)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (2, 2, 3, 4, 5)
    assert img.physical_pixel_sizes.Z == 0.8
    np.testing.assert_array_equal(img.data, block)


def test_window_read_matches_numpy(spark, tmp_path):
    block = _block()
    p = _write(tmp_path)
    got = BioImage(p, spark=spark).read_window(
        t=0, c=1, z=(0, 2), y=(1, 4), x=(2, 5)).toPandas()
    sub = block[0, 1, 0:2, 1:4, 2:5]
    got = got.sort_values(["z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_routing_and_rejection(tmp_path):
    p = _write(tmp_path)
    assert OibImageReader.is_supported_image(p)
    q = tmp_path / "plain.oib"
    q.write_bytes(build_cfb([("NotOib.txt", b"x")]))
    assert not OibImageReader.is_supported_image(str(q))


def test_cfb_cyclic_minifat_detected(tmp_path):
    """A crafted/corrupt CYCLIC mini-FAT chain must raise, not hang the
    driver during cataloging (the big-FAT walk already guarded this)."""
    p = tmp_path / "t.cfb"
    p.write_bytes(build_cfb([("small.txt", b"x" * 200)]))
    c = CfbFile(str(p))
    c.mini_fat = [0] * len(c.mini_fat)        # every sector points at 0
    with pytest.raises(ValueError, match="mini-FAT"):
        c.stream_extents("small.txt")


def test_cfb_out_of_range_minifat_detected(tmp_path):
    p = tmp_path / "t.cfb"
    p.write_bytes(build_cfb([("small.txt", b"x" * 200)]))
    c = CfbFile(str(p))
    c.mini_fat = [10 ** 6] * len(c.mini_fat)  # points past the table
    with pytest.raises(ValueError, match="mini-FAT"):
        c.stream_extents("small.txt")
