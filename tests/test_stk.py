"""MetaMorph STK (.stk) codec + reader — native coverage for a format
the reference routes to bioio-bioformats (ref README.md:74); layout per
the public MetaMorph UIC-tag documentation (one IFD, contiguous plane
stack, UIC2 count = planes with 6-u32 records)."""

import struct

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.stk import (UIC2_TAG, encode_stk,
                                     read_stk_catalog)
from bioio_spark.sources.stk_image import StkImageReader


def _stack(dtype="uint16"):
    idx = np.indices((4, 5, 6))
    return (idx[0] * 100 + idx[1] * 10 + idx[2]).astype(dtype)


def _write(tmp_path, name="fix.stk", stack=None, **kw):
    p = tmp_path / name
    p.write_bytes(encode_stk(stack if stack is not None else _stack(),
                             **kw))
    return str(p)


def test_catalog_axis_rule(tmp_path):
    pz = _write(tmp_path, "z.stk", z_distance=0.3)
    pt = _write(tmp_path, "t.stk", z_distance=0.0)
    assert read_stk_catalog(pz)["axis"] == "Z"
    assert read_stk_catalog(pt)["axis"] == "T"


def test_catalog_plane_offsets_contiguous(tmp_path):
    p = _write(tmp_path)
    cat = read_stk_catalog(p)
    offs = cat["plane_offsets"]
    assert len(offs) == 4
    assert all(offs[i + 1] - offs[i] == cat["plane_bytes"]
               for i in range(3))


def test_uic2_declared_count_is_planes(tmp_path):
    """Pin the wild quirk: tag 33629 declares count == n_planes while
    its payload is 24 bytes per plane."""
    p = _write(tmp_path)
    data = open(p, "rb").read()
    (ifd_off,) = struct.unpack("<I", data[4:8])
    (n_ent,) = struct.unpack("<H", data[ifd_off:ifd_off + 2])
    for i in range(n_ent):
        ent = data[ifd_off + 2 + 12 * i:ifd_off + 2 + 12 * (i + 1)]
        tag, typ = struct.unpack("<HH", ent[:4])
        if tag == UIC2_TAG:
            (count,) = struct.unpack("<I", ent[4:8])
            (off,) = struct.unpack("<I", ent[8:12])
            assert count == 4
            # 24-byte records live at the offset
            znum, zden = struct.unpack_from("<2I", data, off)
            assert zden == 1000
            return
    pytest.fail("no UIC2 tag written")


@pytest.mark.parametrize("dtype", ["uint8", "uint16", "float32"])
def test_plane_payloads_all_dtypes(tmp_path, dtype):
    stack = _stack(dtype)
    p = _write(tmp_path, f"{dtype}.stk", stack=stack)
    cat = read_stk_catalog(p)
    with open(p, "rb") as f:
        for i, off in enumerate(cat["plane_offsets"]):
            f.seek(off)
            arr = np.frombuffer(f.read(cat["plane_bytes"]),
                                np.dtype(cat["page"]["dtype"]))
            np.testing.assert_array_equal(arr.reshape(5, 6), stack[i])


def test_single_plane_stack(tmp_path):
    stack = _stack()[:1]
    p = _write(tmp_path, "one.stk", stack=stack)
    cat = read_stk_catalog(p)
    assert cat["n_planes"] == 1


def test_non_stk_tiff_rejected(tmp_path):
    from bioio_spark.formats.tiff import encode_tiff

    p = tmp_path / "plain.stk"
    p.write_bytes(encode_tiff([_stack()[0]]))
    with pytest.raises(ValueError, match="UIC2"):
        read_stk_catalog(str(p))
    assert not StkImageReader.is_supported_image(str(p))


def test_bio_image_z_series(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, z_distance=0.5, wavelength=488)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (1, 1, 4, 5, 6)
    assert img.channel_names == ["488"]
    assert img.physical_pixel_sizes.Z == 0.5
    np.testing.assert_array_equal(img.data[0, 0], stack)


def test_bio_image_t_series(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, "t.stk", z_distance=0.0)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (4, 1, 1, 5, 6)
    np.testing.assert_array_equal(img.data[:, 0, 0], stack)


def test_window_read_matches_numpy(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, z_distance=0.5)
    got = BioImage(p, spark=spark).read_window(
        z=(1, 3), y=(1, 4), x=(2, 5)).toPandas()
    sub = stack[1:3, 1:4, 2:5]
    got = got.sort_values(["z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)
