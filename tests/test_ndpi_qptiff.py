"""Hamamatsu NDPI + PerkinElmer/Akoya QPTIFF — native coverage for two
whole-slide formats the reference routes to bioio-bioformats (ref
README.md:74); layouts per the public OpenSlide Hamamatsu notes
(SourceLens tag 65420) and the Akoya QPI-XML page classification."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.ndpi import encode_ndpi, read_ndpi_catalog
from bioio_spark.formats.qptiff import (build_qpi_xml, encode_qptiff,
                                        parse_qpi_xml,
                                        read_qptiff_catalog)
from bioio_spark.sources.ndpi_image import NdpiImageReader
from bioio_spark.sources.qptiff_image import QptiffImageReader


def _slide(h=80, w=112):
    rng = np.random.default_rng(21)
    return rng.integers(0, 255, (h, w, 3), dtype=np.uint8)


def _stack(c=3, h=64, w=96):
    rng = np.random.default_rng(22)
    return rng.integers(0, 60000, (c, h, w), dtype=np.uint16)


# -- NDPI ------------------------------------------------------------------
def test_ndpi_source_lens_classification(tmp_path):
    img = _slide()
    macro = _slide(20, 30)
    p = tmp_path / "s.ndpi"
    p.write_bytes(encode_ndpi(img, n_levels=3, source_lens=40.0,
                              macro=macro, map_image=img[:16, :16]))
    cat = read_ndpi_catalog(str(p))
    assert len(cat["levels"]) == 3
    assert cat["source_lens"] == 40.0
    assert cat["macro"] is not None and cat["map"] is not None
    assert [(pg["h"], pg["w"]) for pg in cat["levels"]] == \
        [(80, 112), (40, 56), (20, 28)]


def test_ndpi_resolution_cm_to_um(tmp_path):
    p = tmp_path / "s.ndpi"
    p.write_bytes(encode_ndpi(_slide(), um_per_px=0.25, n_levels=1))
    cat = read_ndpi_catalog(str(p))
    assert abs(cat["um_per_px"] - 0.25) < 1e-3


def test_ndpi_bio_image(spark, tmp_path):
    img = _slide()
    macro = _slide(20, 30)
    p = tmp_path / "s.ndpi"
    p.write_bytes(encode_ndpi(img, n_levels=2, macro=macro))
    b = BioImage(str(p), spark=spark)
    assert b.scenes == ("Image:0", "Image:1")
    assert b.resolution_levels == (0, 1)
    np.testing.assert_array_equal(b.data[0, 0, 0], img)
    b.set_scene("Image:1")
    np.testing.assert_array_equal(b.data[0, 0, 0], macro)


def test_ndpi_rejects_plain_tiff(tmp_path):
    from bioio_spark.formats.tiff import encode_tiff

    p = tmp_path / "x.ndpi"
    p.write_bytes(encode_tiff([_slide()[:, :, 0]]))
    with pytest.raises(ValueError, match="SourceLens"):
        read_ndpi_catalog(str(p))
    assert not NdpiImageReader.is_supported_image(str(p))


# -- QPTIFF ----------------------------------------------------------------
def test_qpi_xml_roundtrip():
    m = parse_qpi_xml(build_qpi_xml("DAPI", "FullResolution"))
    assert m["Name"] == "DAPI"
    assert m["ImageType"] == "FullResolution"
    assert parse_qpi_xml("<OME/>") is None


def test_qptiff_catalog_channel_grouping(tmp_path):
    stack = _stack()
    p = tmp_path / "m.qptiff"
    p.write_bytes(encode_qptiff(stack, channel_names=["A", "B", "C"],
                                n_levels=2, tile=(32, 32)))
    cat = read_qptiff_catalog(str(p))
    assert cat["channels"] == ["A", "B", "C"]
    assert len(cat["levels"]) == 2
    assert cat["thumbnail"] is not None
    assert [pg["h"] for pg in cat["levels"][1]] == [32, 32, 32]


def test_qptiff_channel_order_mismatch_rejected(tmp_path):
    stack = _stack(c=2)
    p = tmp_path / "m.qptiff"
    data = encode_qptiff(stack, channel_names=["A", "B"], n_levels=2,
                         thumbnail=False)
    # swap the two reduced-level names in the XML
    data = data.replace(b"<Name>A</Name>", b"<Name>X</Name>", 2)
    data = (data[::-1].replace(b"<Name>X</Name>"[::-1],
                               b"<Name>A</Name>"[::-1], 1))[::-1]
    p.write_bytes(data)
    with pytest.raises(ValueError, match="channel order"):
        read_qptiff_catalog(str(p))


def test_qptiff_bio_image_c_axis(spark, tmp_path):
    stack = _stack()
    p = tmp_path / "m.qptiff"
    p.write_bytes(encode_qptiff(stack, channel_names=["A", "B", "C"],
                                n_levels=2, tile=(32, 32)))
    b = BioImage(str(p), spark=spark)
    assert b.dims.shape == (1, 3, 1, 64, 96)
    assert b.channel_names == ["A", "B", "C"]
    np.testing.assert_array_equal(b.data[0, :, 0], stack)


def test_qptiff_window_prunes_channels(spark, tmp_path):
    stack = _stack()
    p = tmp_path / "m.qptiff"
    p.write_bytes(encode_qptiff(stack, n_levels=1, tile=(32, 32),
                                thumbnail=False))
    b = BioImage(str(p), spark=spark)
    win = dict(c=1, y=(5, 30), x=(40, 90))
    assert b._reader.read_window(spark, b, **win) is not None
    got = b.read_window(**win).toPandas()
    sub = stack[1, 5:30, 40:90]
    arr = np.zeros_like(sub)
    arr[got["y"] - 5, got["x"] - 40] = got["value"].astype(np.uint16)
    np.testing.assert_array_equal(arr, sub)


def test_qptiff_routing(tmp_path):
    p = tmp_path / "m.qptiff"
    p.write_bytes(encode_qptiff(_stack(), n_levels=1))
    assert QptiffImageReader.is_supported_image(str(p))
