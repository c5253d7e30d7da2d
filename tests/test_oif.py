"""Olympus OIF (.oif) codec + reader — native coverage for a format
the reference routes to bioio-bioformats (ref README.md:74); layout
per the public FluoView OIF notes (UTF-16 INI main file + one TIFF per
plane in name.oif.files/)."""

import os

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.oif import (build_oif, encode_oif, parse_oif,
                                     read_oif_catalog)
from bioio_spark.sources.oif_image import OifImageReader


def _block(dtype="uint16"):
    idx = np.indices((2, 2, 3, 4, 5))
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(dtype)


def _write(tmp_path, block=None, **kw):
    return encode_oif(block if block is not None else _block(),
                      str(tmp_path), **kw)


def test_ini_parse_quotes_and_numbers():
    ini = parse_oif(build_oif(2, 3, 4, 5, 6,
                              channel_names=["A", "B", "C"],
                              um_per_px=0.25))
    assert ini["Axis 0 Parameters Common"]["AxisCode"] == "X"
    assert ini["Axis 0 Parameters Common"]["MaxSize"] == 6
    assert ini["Channel 2 Parameters"]["DyeName"] == "B"
    assert ini["Reference Image Parameter"]["WidthConvertValue"] == 0.25


def test_main_file_is_utf16(tmp_path):
    p = _write(tmp_path)
    raw = open(p, "rb").read()
    assert raw[:2] == b"\xff\xfe"          # UTF-16-LE BOM
    assert "FLUOVIEW" in raw.decode("utf-16-le")


def test_catalog_fields(tmp_path):
    p = _write(tmp_path, channel_names=["CFP", "YFP"], um_per_px=0.21,
               z_step_um=0.8, time_interval_s=5.0)
    cat = read_oif_catalog(p)
    assert (cat["size_t"], cat["size_c"], cat["size_z"],
            cat["size_y"], cat["size_x"]) == (2, 2, 3, 4, 5)
    assert cat["channel_names"] == ["CFP", "YFP"]
    assert cat["time_interval"] == 5.0
    assert len(cat["planes"]) == 12


def test_catalog_rejects_incomplete_grid(tmp_path):
    p = _write(tmp_path)
    victim = os.path.join(p + ".files", "s_C001Z001T001.tif")
    os.remove(victim)
    with pytest.raises(ValueError, match="grid"):
        read_oif_catalog(p)


def test_bio_image_roundtrip(spark, tmp_path):
    block = _block()
    p = _write(tmp_path, channel_names=["CFP", "YFP"], um_per_px=0.21,
               z_step_um=0.8)
    img = BioImage(p, spark=spark)
    assert img.dims.shape == (2, 2, 3, 4, 5)
    assert img.channel_names == ["CFP", "YFP"]
    assert img.physical_pixel_sizes.X == 0.21
    np.testing.assert_array_equal(img.data, block)


def test_plane_size_vs_ini_mismatch_raises(spark, tmp_path):
    from bioio_spark.formats.tiff import encode_tiff

    p = _write(tmp_path)
    victim = os.path.join(p + ".files", "s_C001Z001T001.tif")
    with open(victim, "wb") as f:
        f.write(encode_tiff([np.zeros((9, 9), np.uint16)]))
    with pytest.raises(ValueError, match="INI says"):
        BioImage(p, spark=spark, reader=OifImageReader).dims


def test_window_read_matches_numpy(spark, tmp_path):
    block = _block()
    p = _write(tmp_path)
    got = BioImage(p, spark=spark).read_window(
        t=1, c=0, z=(1, 3), y=(1, 4), x=(2, 5)).toPandas()
    sub = block[1, 0, 1:3, 1:4, 2:5]
    got = got.sort_values(["z", "y", "x"])["value"].to_numpy()
    np.testing.assert_allclose(got.reshape(sub.shape), sub)


def test_routing(tmp_path):
    p = _write(tmp_path)
    assert OifImageReader.is_supported_image(p)
    assert not OifImageReader.is_supported_image(p + ".missing")
