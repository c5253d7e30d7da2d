"""Adobe DNG camera-RAW: lossless-JPEG (SOF3) codec, DNG composer/
catalog, planned-read reader + window pruning. Native coverage for the
openly-specified corner of the camera-RAW tail the reference routes to
bioio-bioformats (ref README.md:70)."""

import numpy as np
import pytest

from bioio_spark import BioImage
from bioio_spark.formats.dng import build_dng, read_dng_catalog
from bioio_spark.formats.ljpeg import decode_ljpeg, encode_ljpeg
from bioio_spark.sources.dng_image import DngImageReader


def _mosaic():
    idx = np.indices((12, 16))
    return (idx[0] * 257 + idx[1] * 13 + (idx[0] % 2) * 2048
            + (idx[1] % 2) * 1024).astype(np.uint16)


@pytest.mark.parametrize("predictor", [1, 2, 3, 4, 5, 6, 7])
def test_ljpeg_roundtrip_predictors(predictor):
    rng = np.random.default_rng(predictor)
    a = rng.integers(0, 1 << 16, (9, 13)).astype(np.uint16)
    assert (decode_ljpeg(encode_ljpeg(a, predictor=predictor)) == a).all()


@pytest.mark.parametrize("precision", [8, 10, 12, 14, 16])
def test_ljpeg_precisions(precision):
    rng = np.random.default_rng(precision)
    a = rng.integers(0, 1 << precision, (6, 7)).astype(np.uint16)
    got = decode_ljpeg(encode_ljpeg(a, precision=precision))
    assert (got.astype(np.uint16) == a).all()


def test_ljpeg_extreme_diffs():
    a = np.array([[0, 65535, 0], [65535, 0, 65535]], np.uint16)
    assert (decode_ljpeg(encode_ljpeg(a)) == a).all()


def test_ljpeg_rejects_baseline_jpeg():
    from bioio_spark.formats.jpeg import encode_jpeg
    base = encode_jpeg(np.zeros((8, 8), np.uint8))
    with pytest.raises(ValueError, match="DCT SOF"):
        decode_ljpeg(base)


@pytest.mark.parametrize("comp,rps", [(1, 0), (1, 4), (7, 0), (7, 4)])
def test_dng_catalog_and_strips(tmp_path, comp, rps):
    a = _mosaic()
    p = tmp_path / "raw.dng"
    p.write_bytes(build_dng(a, compression=comp, rows_per_strip=rps))
    cat = read_dng_catalog(str(p))
    assert (cat["size_y"], cat["size_x"]) == a.shape
    assert cat["comp"] == comp
    assert cat["cfa_pattern"] == "RGGB"
    assert cat["dng_version"] == "1.4.0.0"
    assert len(cat["chunks"]) == (1 if rps == 0 else 3)


def test_dng_rejects_plain_tiff(tmp_path):
    from bioio_spark.formats.tiff import encode_tiff
    p = tmp_path / "x.dng"
    p.write_bytes(encode_tiff([np.zeros((4, 5), np.uint16)]))
    with pytest.raises(ValueError, match="DNGVersion"):
        read_dng_catalog(str(p))
    assert not DngImageReader.is_supported_image(str(p))


@pytest.mark.parametrize("comp", [1, 7])
def test_dng_bioimage_roundtrip(spark, tmp_path, comp):
    a = _mosaic()
    p = tmp_path / "raw.dng"
    p.write_bytes(build_dng(a, compression=comp, rows_per_strip=4))
    img = BioImage(str(p), spark=spark)
    assert isinstance(img._reader, DngImageReader)
    assert img.dims.shape == (1, 1, 1, 12, 16)
    assert img.dtype == np.uint16
    assert img.channel_names == ["RGGB"]
    np.testing.assert_array_equal(
        img.get_image_data("YX", T=0, C=0, Z=0), a)


def test_dng_window_prunes_strips(spark, tmp_path):
    a = _mosaic()
    p = tmp_path / "raw.dng"
    p.write_bytes(build_dng(a, compression=1, rows_per_strip=4))
    df = BioImage(str(p), spark=spark).read_window(y=(5, 9), x=(2, 10))
    rows = df.collect()
    got = np.zeros((4, 8))
    for r in rows:
        got[r["y"] - 5, r["x"] - 2] = r["value"]
    np.testing.assert_array_equal(got, a[5:9, 2:10].astype(float))
    # uncompressed strips narrow to the touched row byte ranges
    plan = DngImageReader(str(p)).plan().rows
    row_bytes = 16 * 2
    pruned_rows = sum(
        r["nbytes"] // row_bytes for r in plan
        if not (r["y0"] + r["h"] <= 5 or r["y0"] >= 9))
    assert pruned_rows <= 8    # two strips touched, 4 rows each


def test_dng_scan_shuffle_free(spark, tmp_path):
    p = tmp_path / "raw.dng"
    p.write_bytes(build_dng(_mosaic(), compression=7,
                            rows_per_strip=4))
    df = BioImage(str(p), spark=spark).get_image_dataframe()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_dng_writer_route(spark, tmp_path):
    """Registered DngWriter: write a mosaic through the registry,
    read it back through the BioImage plugin routing."""
    from bioio_spark.writers import WRITER_REGISTRY

    a = _mosaic()
    p = str(tmp_path / "written.dng")
    WRITER_REGISTRY["DngWriter"].save(a, p, rows_per_strip=4)
    cat = read_dng_catalog(p)
    assert cat["comp"] == 7 and cat["cfa_pattern"] == "RGGB"
    img = BioImage(p, spark=spark)
    np.testing.assert_array_equal(
        img.get_image_data("YX", T=0, C=0, Z=0), a)


def test_dng_writer_rejects_nd(tmp_path):
    from bioio_spark.writers import WRITER_REGISTRY

    with pytest.raises(ValueError, match="YX CFA mosaic"):
        WRITER_REGISTRY["DngWriter"].save(
            np.zeros((2, 3, 4, 5), np.uint16),
            str(tmp_path / "x.dng"))


@pytest.mark.parametrize("nf", [2, 4])
def test_ljpeg_multi_component(nf):
    """Column-interleaved multi-component SOF3 (the Adobe-converter
    DNG shape): each component predicts from its own plane."""
    rng = np.random.default_rng(nf)
    a = rng.integers(0, 1 << 14, (7, nf * 5)).astype(np.uint16)
    got = decode_ljpeg(encode_ljpeg(a, n_components=nf))
    assert got.shape == a.shape and (got == a).all()


def test_dng_two_component_ljpeg_roundtrip(spark, tmp_path):
    a = _mosaic()
    p = tmp_path / "raw2c.dng"
    p.write_bytes(build_dng(a, compression=7, rows_per_strip=4,
                            ljpeg_components=2))
    img = BioImage(str(p), spark=spark)
    np.testing.assert_array_equal(
        img.get_image_data("YX", T=0, C=0, Z=0), a)


def test_dng_develop_metadata_roundtrip(tmp_path):
    """BlackLevel/AsShotNeutral/ColorMatrix1 survive the build ->
    catalog roundtrip: neutral as exact dyadic floats, matrix as exact
    signed (num, den) pairs."""
    from bioio_spark.formats.dng import read_dng_catalog

    a = _mosaic()
    p = tmp_path / "dev.dng"
    cm = [(21, 10), (-3, 25), (1, 2),
          (0, 1), (19, 10), (7, 100),
          (1, 100), (0, 1), (23, 10)]
    p.write_bytes(build_dng(
        a, compression=1, black_level=128,
        as_shot_neutral=((5, 8), (1, 1), (13, 16)),
        color_matrix1=cm))
    cat = read_dng_catalog(str(p))
    assert cat["black_level"] == 128
    assert cat["as_shot_neutral"] == [0.625, 1.0, 0.8125]
    assert cat["color_matrix1"] == cm


def test_invert_color_matrix_exact():
    """inv(M) @ M == I in exact rational arithmetic (checked through
    the float boundary on a matrix whose inverse is dyadic), and a
    singular matrix raises."""
    import pytest

    from bioio_spark.operators.intensity import invert_color_matrix

    cm = [(2, 1), (1, 2), (0, 1),
          (0, 1), (2, 1), (1, 2),
          (0, 1), (0, 1), (2, 1)]
    inv = invert_color_matrix(cm)
    m = [[n / d for n, d in cm[r * 3:r * 3 + 3]] for r in range(3)]
    for i in range(3):
        for j in range(3):
            s = sum(inv[i][k] * m[k][j] for k in range(3))
            assert s == (1.0 if i == j else 0.0)
    with pytest.raises(ValueError, match="singular"):
        invert_color_matrix([(1, 1)] * 9)


def test_dng_develop_without_metadata_raises(tmp_path):
    """A DNG missing the develop tags yields catalog None fields; the
    operator's matrix inversion rejects None early."""
    import pytest

    from bioio_spark.formats.dng import read_dng_catalog
    from bioio_spark.operators.intensity import invert_color_matrix

    a = _mosaic()
    p = tmp_path / "plain.dng"
    p.write_bytes(build_dng(a, compression=1))
    cat = read_dng_catalog(str(p))
    assert cat["as_shot_neutral"] is None
    assert cat["color_matrix1"] is None
    with pytest.raises((ValueError, TypeError)):
        invert_color_matrix(cat["color_matrix1"])
