"""Aperio SVS (.svs) codec + reader — native whole-slide coverage for
a format the reference routes to bioio-bioformats (ref README.md:74);
layout per the public OpenSlide/Bio-Formats Aperio notes (tiled
pyramid pages, pipe metadata, striped label/macro/thumbnail)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.svs import (_halve, classify_svs_pages,
                                     encode_svs, parse_svs_description,
                                     read_svs_catalog)
from bioio_spark.sources.svs_image import SvsImageReader


def _slide(h=100, w=120):
    rng = np.random.default_rng(11)
    return rng.integers(0, 255, (h, w, 3), dtype=np.uint8)


def _write(tmp_path, name="slide.svs", image=None, **kw):
    p = tmp_path / name
    p.write_bytes(encode_svs(image if image is not None else _slide(),
                             **kw))
    return str(p)


def test_description_parse():
    meta = parse_svs_description(
        "Aperio Image Library v12\n100x80 [0,0 100x80] (64x64) "
        "JPEG/RGB Q=30|AppMag = 20|MPP = 0.4990|Filename = x")
    assert meta["AppMag"] == 20
    assert meta["MPP"] == 0.499
    assert meta["Filename"] == "x"


def test_catalog_classification(tmp_path):
    rng = np.random.default_rng(1)
    p = _write(tmp_path, n_levels=3,
               label=rng.integers(0, 255, (30, 40, 3), dtype=np.uint8),
               macro=rng.integers(0, 255, (20, 50, 3), dtype=np.uint8))
    cat = read_svs_catalog(p)
    assert len(cat["levels"]) == 3
    assert (cat["label"]["h"], cat["label"]["w"]) == (30, 40)
    assert (cat["macro"]["h"], cat["macro"]["w"]) == (20, 50)
    assert cat["thumbnail"] is not None
    assert cat["meta"]["MPP"] == 0.5


def test_levels_are_ceil_halves(tmp_path):
    p = _write(tmp_path, image=_slide(101, 121), n_levels=3)
    cat = read_svs_catalog(p)
    assert [(pg["h"], pg["w"]) for pg in cat["levels"]] == \
        [(101, 121), (51, 61), (26, 31)]


def test_non_dyadic_pyramid_rejected(tmp_path):
    """A file whose level sizes don't follow ceil-halving is rejected
    (the catalog answers level dims from level-0 sizes alone)."""
    from bioio_spark.formats.tiff_pages import PageSpec, compose_tiff

    img = _slide(96, 96)
    data, _ = compose_tiff([
        PageSpec(img, description="Aperio Image Library\n96x96",
                 tile=(32, 32)),
        PageSpec(img[::4, ::4],
                 description="Aperio Image Library\n96x96 -> 24x24",
                 tile=(32, 32)),
    ])
    p = tmp_path / "bad.svs"
    p.write_bytes(data)
    with pytest.raises(ValueError, match="non-dyadic"):
        read_svs_catalog(str(p))


def test_bio_image_pyramid_and_scenes(spark, tmp_path):
    img = _slide(100, 120)
    label = np.full((16, 24, 3), 7, np.uint8)
    p = _write(tmp_path, image=img, n_levels=2, mpp=0.25, label=label)
    b = BioImage(p, spark=spark)
    # Image:0 pyramid + thumbnail + label scenes
    assert b.scenes == ("Image:0", "Image:1", "Image:2")
    assert b.resolution_levels == (0, 1)
    assert b.dims.shape == (1, 1, 1, 100, 120, 3)
    assert b.physical_pixel_sizes.X == 0.25
    np.testing.assert_array_equal(b.data[0, 0, 0], img)
    b.set_resolution_level(1)
    np.testing.assert_array_equal(b.data[0, 0, 0], _halve(img))
    b.set_resolution_level(0)
    b.set_scene("Image:2")
    np.testing.assert_array_equal(b.data[0, 0, 0], label)


def test_gray_slide(spark, tmp_path):
    img = _slide()[:, :, 0]
    p = _write(tmp_path, "gray.svs", image=img, n_levels=1,
               thumbnail=False)
    b = BioImage(p, spark=spark)
    assert b.dims.shape == (1, 1, 1, 100, 120)
    np.testing.assert_array_equal(b.data[0, 0, 0], img)


def test_window_read_prunes_tiles(spark, tmp_path):
    img = _slide(140, 200)
    p = _write(tmp_path, image=img, n_levels=1, tile=(64, 64),
               thumbnail=False)
    b = BioImage(p, spark=spark)
    win = dict(y=(70, 130), x=(130, 190))
    assert b._reader.read_window(spark, b, **win) is not None
    got = b.read_window(**win).toPandas()
    sub = img[70:130, 130:190]
    arr = np.zeros_like(sub)
    arr[got["y"] - 70, got["x"] - 130, got["s"]] = \
        got["value"].astype(np.uint8)
    np.testing.assert_array_equal(arr, sub)
    # pruning: only the 4 intersecting tiles of the 4x3 grid decode
    assert len(b._reader.plan().rows) == 12


def test_jpeg_slide_decodes_close(spark, tmp_path):
    img = _slide()
    p = _write(tmp_path, "j.svs", image=img, n_levels=1, jpeg=True,
               thumbnail=False)
    b = BioImage(p, spark=spark)
    got = b.data[0, 0, 0].astype(float)
    assert np.abs(got - img).mean() < 8.0


def test_routing_and_rejection(tmp_path):
    from bioio_spark.formats.tiff import encode_tiff

    p = _write(tmp_path)
    assert SvsImageReader.is_supported_image(p)
    q = tmp_path / "plain.svs"
    q.write_bytes(encode_tiff([_slide()[:, :, 0]]))
    assert not SvsImageReader.is_supported_image(str(q))
