"""Leica SCN (.scn) codec + reader — native coverage for a format the
reference routes to bioio-bioformats (ref README.md:74); layout per
the public OpenSlide/Bio-Formats Leica notes (collection XML mapping
(image, r, z) to tiled IFDs)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.scn import (build_scn_xml, encode_scn,
                                     parse_scn_xml, read_scn_catalog)
from bioio_spark.sources.scn_image import ScnImageReader


def _rgb(h=40, w=56):
    rng = np.random.default_rng(2)
    return rng.integers(0, 255, (h, w, 3), dtype=np.uint8)


def _zstack(z=3, h=64, w=96):
    rng = np.random.default_rng(4)
    return rng.integers(0, 255, (z, h, w), dtype=np.uint8)


def _write(tmp_path, images=None, name="s.scn", **kw):
    p = tmp_path / name
    if images is None:
        images = [{"name": "macro", "array": _rgb(), "n_levels": 1},
                  {"name": "region", "array": _zstack(), "n_levels": 2}]
    p.write_bytes(encode_scn(images, **kw))
    return str(p)


def test_xml_roundtrip():
    images = [{"name": "macro", "size_x": 80, "size_y": 60,
               "levels": [{"r": 0, "z": 0, "ifd": 0,
                           "size_x": 80, "size_y": 60},
                          {"r": 1, "z": 0, "ifd": 1,
                           "size_x": 40, "size_y": 30}]}]
    back = parse_scn_xml(build_scn_xml(images))
    assert back[0]["name"] == "macro"
    assert back[0]["size_x"] == 80
    assert len(back[0]["levels"]) == 2
    assert back[0]["levels"][1] == {"r": 1, "z": 0, "ifd": 1,
                                    "size_x": 40, "size_y": 30}


def test_xml_without_namespace_tolerated():
    xml = ("<scn><collection><image name='a'>"
           "<pixels sizeX='8' sizeY='4'>"
           "<dimension r='0' ifd='0' sizeX='8' sizeY='4'/>"
           "</pixels></image></collection></scn>")
    assert parse_scn_xml(xml)[0]["size_x"] == 8


def test_catalog_images_and_z(tmp_path):
    p = _write(tmp_path)
    cat = read_scn_catalog(p)
    assert [im["name"] for im in cat["images"]] == ["macro", "region"]
    assert cat["images"][1]["z_n"] == 3
    assert cat["images"][1]["n_levels"] == 2


def test_catalog_rejects_wrong_ifd_size(tmp_path):
    p = _write(tmp_path)
    data = open(p, "rb").read()
    # corrupt the region's XML geometry (pixels sizeX 96 -> 97): the
    # catalog's dimension-vs-page / ceil-half validation must fire
    assert data.count(b'sizeX="96"') >= 1
    bad = data.replace(b'sizeX="96"', b'sizeX="97"')
    q = tmp_path / "bad.scn"
    q.write_bytes(bad)
    with pytest.raises(ValueError, match="XML says|ceil-half"):
        read_scn_catalog(str(q))


def test_bio_image_scenes_and_zstack(spark, tmp_path):
    macro, region = _rgb(), _zstack()
    p = _write(tmp_path, images=[
        {"name": "macro", "array": macro, "n_levels": 1},
        {"name": "region", "array": region, "n_levels": 2}])
    b = BioImage(p, spark=spark)
    assert b.scenes == ("Image:0", "Image:1")
    assert b.dims.shape == (1, 1, 1, 40, 56, 3)
    np.testing.assert_array_equal(b.data[0, 0, 0], macro)
    b.set_scene("Image:1")
    assert b.resolution_levels == (0, 1)
    assert b.dims.shape == (1, 1, 3, 64, 96)
    np.testing.assert_array_equal(b.data[0, 0], region)


def test_level1_is_block_mean(spark, tmp_path):
    from bioio_spark.formats.svs import _halve

    region = _zstack(z=1)
    p = _write(tmp_path, images=[
        {"name": "r", "array": region, "n_levels": 2}])
    b = BioImage(p, spark=spark)
    b.set_resolution_level(1)
    np.testing.assert_array_equal(b.data[0, 0, 0], _halve(region[0]))


def test_window_read_z_and_tiles(spark, tmp_path):
    region = _zstack()
    p = _write(tmp_path, images=[
        {"name": "r", "array": region, "n_levels": 1}], tile=(32, 32))
    b = BioImage(p, spark=spark)
    win = dict(z=(1, 3), y=(10, 40), x=(40, 90))
    assert b._reader.read_window(spark, b, **win) is not None
    got = b.read_window(**win).toPandas()
    sub = region[1:3, 10:40, 40:90]
    arr = np.zeros_like(sub)
    arr[got["z"] - 1, got["y"] - 10, got["x"] - 40] = \
        got["value"].astype(np.uint8)
    np.testing.assert_array_equal(arr, sub)


def test_routing_and_rejection(tmp_path):
    from bioio_spark.formats.tiff import encode_tiff

    p = _write(tmp_path)
    assert ScnImageReader.is_supported_image(p)
    q = tmp_path / "plain.scn"
    q.write_bytes(encode_tiff([_rgb()[:, :, 0]]))
    assert not ScnImageReader.is_supported_image(str(q))
