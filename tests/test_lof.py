"""Leica LOF (.lof) — the single-object LAS X export the reference
routes to bioio-bioformats (ref README.md:74); same public block
framing and XML vocabulary as LIF (header marker block, raw memory,
trailing XML), read through the shared LIF machinery."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.lof import encode_lof, parse_lof_header
from bioio_spark.sources.lof_image import LofImageReader


def _block():
    idx = np.indices((2, 3, 4, 5, 6))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def _write(tmp_path, name="obj.lof", **kw):
    p = tmp_path / name
    p.write_bytes(encode_lof({"name": "Series1",
                              "data": _block(), **kw}))
    return str(p)


def test_header_marker_and_tail_xml(tmp_path):
    p = _write(tmp_path)
    h = parse_lof_header(p)
    assert h["scenes"][0]["name"] == "Series1"
    assert h["scenes"][0]["shape"] == (2, 3, 4, 5, 6)
    assert "LMSDataContainerHeader" in h["xml"]
    (blk,) = h["blocks"].values()
    assert blk["size"] == 2 * 3 * 4 * 5 * 6 * 2


def test_non_lof_rejected(tmp_path):
    from bioio_spark.formats.lif import encode_lif

    p = tmp_path / "x.lof"
    p.write_bytes(encode_lif([{"name": "S", "data": _block()}]))
    with pytest.raises(ValueError, match="marker"):
        parse_lof_header(str(p))
    assert not LofImageReader.is_supported_image(str(p))


def test_parse_lif_header_delegates(tmp_path):
    """A .lof handed to the LIF parser transparently resolves — the
    whole LIF reader surface works on LOF paths."""
    from bioio_spark.formats.lif import parse_lif_header

    p = _write(tmp_path)
    h = parse_lif_header(p)
    assert h["scenes"][0]["shape"] == (2, 3, 4, 5, 6)


def test_bio_image_roundtrip(spark, tmp_path):
    block = _block()
    p = _write(tmp_path)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (2, 3, 4, 5, 6)
    np.testing.assert_array_equal(img.data, block)


def test_window_read_via_lif_path(spark, tmp_path):
    block = _block()
    p = _write(tmp_path)
    got = BioImage(p, spark=spark).read_window(
        t=1, c=(1, 3), z=2, y=(1, 4), x=(2, 5)).toPandas()
    sub = block[1, 1:3, 2, 1:4, 2:5]
    got = got.sort_values(["c", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)
