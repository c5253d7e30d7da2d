"""Bio-Rad PIC (.pic) codec + reader — native coverage for a format
the reference routes to bioio-bioformats (ref README.md:74); layout
per the public Bio-Rad confocal documentation (magic 12345 header,
contiguous planes, AXIS_* notes)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.pic import (decode_pic, encode_pic,
                                     parse_pic_header,
                                     read_pic_catalog)
from bioio_spark.sources.pic_image import PicImageReader


def _stack(dtype=np.uint16):
    idx = np.indices((4, 5, 6))
    return (idx[0] * 900 + idx[1] * 30 + idx[2]).astype(dtype)


def _write(tmp_path, stack=None, name="cells.pic", **kw):
    p = tmp_path / name
    p.write_bytes(encode_pic(stack if stack is not None else _stack(),
                             **kw))
    return str(p)


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
def test_pic_roundtrip_dtypes(dtype):
    stack = _stack(dtype) if dtype == np.uint16 else (
        _stack(np.uint16) % 251).astype(np.uint8)
    assert (decode_pic(encode_pic(stack)) == stack).all()


def test_pic_header_fields():
    data = encode_pic(_stack(), name="my experiment")
    h = parse_pic_header(data[:76])
    assert (h["nx"], h["ny"], h["npic"]) == (6, 5, 4)
    assert h["dtype"] == np.dtype("<u2")
    assert h["name"] == "my experiment"


def test_pic_rejects_bad_magic(tmp_path):
    p = tmp_path / "x.pic"
    p.write_bytes(b"\x00" * 200)
    with pytest.raises(ValueError, match="12345"):
        read_pic_catalog(str(p))
    assert not PicImageReader.is_supported_image(str(p))


def test_pic_axis4_z_vs_t(tmp_path):
    pz = _write(tmp_path, axis4="z", step_um=0.3, z_step=1.2,
                name="z.pic")
    cz = read_pic_catalog(pz)
    assert (cz["size_t"], cz["size_z"]) == (1, 4)
    assert cz["um_per_px"] == pytest.approx(0.3)
    assert cz["z_step_um"] == pytest.approx(1.2)
    assert cz["time_interval"] is None
    pt = _write(tmp_path, axis4="t", z_step=0.5, name="t.pic")
    ct = read_pic_catalog(pt)
    assert (ct["size_t"], ct["size_z"]) == (4, 1)
    assert ct["time_interval"] == pytest.approx(0.5)


def test_pic_bioimage_roundtrip(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, stack, axis4="z", step_um=0.3, z_step=1.2)
    img = BioImage(p, spark=spark)
    assert isinstance(img._reader, PicImageReader)
    assert img.dims.shape == (1, 1, 4, 5, 6)
    assert img.dtype == np.uint16
    assert img.physical_pixel_sizes.X == pytest.approx(0.3)
    assert img.physical_pixel_sizes.Z == pytest.approx(1.2)
    np.testing.assert_array_equal(
        img.get_image_data("ZYX", T=0, C=0), stack)


def test_pic_time_series_maps_to_t(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, stack, axis4="t", z_step=0.5)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (4, 1, 1, 5, 6)
    assert img.time_interval == pytest.approx(0.5)
    np.testing.assert_array_equal(
        img.get_image_data("TYX", C=0, Z=0), stack)


def test_pic_window_prunes_planes_and_rows(spark, tmp_path):
    stack = _stack()
    p = _write(tmp_path, stack)
    w = BioImage(p, spark=spark).read_window(
        z=slice(1, 3), y=slice(2, 4), x=slice(1, 5)).toPandas()
    exp = stack[1:3, 2:4, 1:5]
    assert len(w) == exp.size
    got = np.zeros_like(exp, dtype=float)
    for r in w.itertuples():
        got[r.z - 1, r.y - 2, r.x - 1] = r.value
    np.testing.assert_array_equal(got, exp.astype(float))


def test_pic_window_y_is_byte_ranged(tmp_path, spark, monkeypatch):
    """The y window must shrink the planned read itself, not just
    filter rows after a full-plane read: the reader's ``narrow`` hook,
    which runs on the driver, turns the z=0 plane's row into the bytes
    of image rows 2 and 3 only."""
    p = _write(tmp_path)
    cat = read_pic_catalog(p)
    row_bytes = cat["nx"] * cat["dtype"].itemsize
    narrow, seen = PicImageReader.narrow, []

    def spy(rows, lo, hi):
        out = narrow(rows, lo, hi)
        seen.append((rows, out))
        return out

    monkeypatch.setattr(PicImageReader, "narrow", staticmethod(spy))
    df = BioImage(p, spark=spark).read_window(z=0, y=slice(2, 4))
    assert df.count() == 2 * cat["nx"]
    (planned, narrowed), = seen
    assert list(narrowed["nbytes"]) == [2 * row_bytes]
    assert list(narrowed["offset"]) == [
        planned["offset"].iloc[0] + 2 * row_bytes]
