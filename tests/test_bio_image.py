"""Two-tier tests mirroring the reference's matrix
(ref tests/test_array_like_reader.py:17-869 reader tier, :871-1142 BioImage
tier): construct from ndarrays, assert standardized TCZYX outputs, scenes,
channel names, selector semantics, stacks, metadata."""

import numpy as np
import pytest

from bioio_spark.bio_image import BioImage
from bioio_spark.types import PhysicalPixelSizes


@pytest.fixture(scope="module")
def rng():
    return np.random.default_rng(42)


@pytest.mark.parametrize("shape,expected_dims,expected_shape", [
    ((4, 5), "TCZYX", (1, 1, 1, 4, 5)),
    ((3, 4, 5), "TCZYX", (1, 1, 1, 3, 4, 5)[1:]),
    ((2, 3, 4, 5), "TCZYX", (1, 2, 3, 4, 5)),
    ((6, 2, 3, 4, 5), "TCZYX", (6, 2, 3, 4, 5)),
])
def test_standardized_shape(spark, rng, shape, expected_dims, expected_shape):
    arr = rng.random(shape)
    img = BioImage(arr, spark=spark)
    assert img.dims.order == expected_dims
    assert img.shape == expected_shape
    data = img.data
    assert data.shape == expected_shape
    # values survive standardization: squeeze inserted axes and compare
    np.testing.assert_allclose(np.squeeze(data), np.squeeze(arr))


def test_six_dim_samples(spark, rng):
    arr = rng.random((1, 2, 3, 4, 5, 6))
    img = BioImage(arr, spark=spark)
    assert img.dims.order == "TCZYXS"
    assert img.shape == (1, 2, 3, 4, 5, 6)


def test_nonstandard_dims_coerced(spark, rng):
    # ref tests/test_array_like_reader.py:1028-1047: "ABD"(2,2,2) ->
    # TCZYX(1,1,1,1,1) with the index-0 hyperplane
    arr = rng.random((2, 2, 2))
    img = BioImage(arr, dim_order="ABD", spark=spark)
    assert img.dims.order == "TCZYX"
    assert img.shape == (1, 1, 1, 1, 1)
    assert img.data[0, 0, 0, 0, 0] == pytest.approx(arr[0, 0, 0])


def test_selectors(spark, rng):
    arr = rng.random((6, 2, 3, 4, 5))
    img = BioImage(arr, spark=spark)
    out = img.get_image_data("ZYX", T=3, C=0)
    np.testing.assert_allclose(out, arr[3, 0])
    out = img.get_image_data("CZYX", T=-1, C=[1, 0])
    np.testing.assert_allclose(out, arr[5, [1, 0]])
    out = img.get_image_data("TYX", T=slice(0, -1, 2), C=0, Z=1)
    np.testing.assert_allclose(out, arr[0:-1:2, 0, 1])
    out = img.get_image_data("ZTYX", C=0)
    np.testing.assert_allclose(out, arr[:, 0].transpose(1, 0, 2, 3))


def test_selector_dataframe_is_lazy(spark, rng):
    arr = rng.random((6, 2, 3, 4, 5))
    img = BioImage(arr, spark=spark)
    df = img.get_image_dataframe("ZYX", T=0, C=0)
    assert df.columns == ["z", "y", "x", "value"]


def test_multi_scene(spark, rng):
    a = rng.random((1, 4, 5))
    b = rng.random((2, 4, 5))
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    assert img.scenes == ("Image:0", "Image:1")
    assert img.current_scene == "Image:0"
    assert img.channel_names == ["Channel:0:0"]
    img.set_scene("Image:1")
    assert img.current_scene_index == 1
    assert img.channel_names == ["Channel:1:0", "Channel:1:1"]
    assert img.shape == (1, 2, 1, 4, 5)
    np.testing.assert_allclose(img.data[0, :, 0], b)
    img.set_scene(0)
    assert img.current_scene == "Image:0"
    with pytest.raises(IndexError):
        img.set_scene("Image:9")
    with pytest.raises(IndexError):
        img.set_scene(5)
    with pytest.raises(TypeError):
        img.set_scene(1.5)


def test_stack(spark, rng):
    a = rng.random((2, 4, 5))
    b = rng.random((2, 4, 5))
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    stack = img.get_stack()
    assert stack.shape == (2, 1, 2, 1, 4, 5)
    np.testing.assert_allclose(stack[0, 0, :, 0], a)
    np.testing.assert_allclose(stack[1, 0, :, 0], b)
    sdf = img.get_stack_dataframe()
    assert sdf.columns[0] == "scene_idx"
    assert sdf.count() == 2 * 2 * 4 * 5


def test_channel_names_provided(spark, rng):
    arr = rng.random((2, 3, 4, 5))
    img = BioImage(arr, channel_names=["A", "B"], spark=spark)
    assert img.channel_names == ["A", "B"]
    with pytest.raises(ValueError):
        BioImage(rng.random((2, 3, 4, 5)), channel_names=["A"], spark=spark)


def test_physical_pixel_sizes(spark, rng):
    pps = PhysicalPixelSizes(1.0, 0.5, 0.5)
    img = BioImage(rng.random((3, 4, 5)), physical_pixel_sizes=pps,
                   spark=spark)
    assert img.physical_pixel_sizes == pps
    assert img.scale.Z == 1.0 and img.scale.C is None
    assert img.time_interval is None


def test_standard_metadata(spark, rng):
    img = BioImage(rng.random((6, 2, 3, 4, 5)), spark=spark)
    md = img.standard_metadata
    assert md["image_size_t"] == 6
    assert md["image_size_c"] == 2
    assert md["image_size_x"] == 5
    assert md["dtype"] == "float64"
    assert md["ome_pixel_type"] == "double"


def test_dims_metadata_only_no_job(spark, rng):
    img = BioImage(np.zeros((6, 2, 3, 4, 5)), spark=spark)
    # dims/shape/dtype must come from the catalog, not a Spark job
    assert img.dims.order == "TCZYX"
    assert img.dtype == np.dtype("float64")


def test_loc_physical_selection(spark, rng):
    from bioio_spark.types import PhysicalPixelSizes

    from bioio_spark.bio_image import BioImage

    arr = rng.random((4, 1, 1, 6, 5))
    img = BioImage(arr, dim_order="TCZYX", spark=spark,
                   physical_pixel_sizes=PhysicalPixelSizes(Z=1.0, Y=0.5,
                                                           X=2.0))
    # Y physical = idx * 0.5 -> [0.5, 1.5] selects y in {1, 2, 3}
    out = img.loc(Y=(0.5, 1.5)).select("y").distinct().collect()
    assert {r["y"] for r in out} == {1, 2, 3}
    # unknown dim rejected
    import pytest as _pt
    with _pt.raises(ValueError):
        img.loc(C=(0, 1))


def test_materialize_pyramid(spark):
    import numpy as np

    from bioio_spark.bio_image import BioImage

    arr = np.arange(8 * 6, dtype=np.float64).reshape(8, 6)
    img = BioImage(arr, dim_order="YX", spark=spark)
    img.materialize_pyramid(3)
    assert img.resolution_levels == (0, 1, 2)
    assert img.resolution_level_dims == {
        0: (1, 1, 1, 8, 6), 1: (1, 1, 1, 4, 3), 2: (1, 1, 1, 2, 2)}

    # level 0 untouched
    np.testing.assert_array_equal(img.data[0, 0, 0], arr)

    img.set_resolution_level(1)
    want1 = arr.reshape(4, 2, 3, 2).mean(axis=(1, 3))
    np.testing.assert_array_equal(img.data[0, 0, 0], want1)

    img.set_resolution_level(2)
    assert img.shape == (1, 1, 1, 2, 2)
    # ragged col edge: last column block is 1-wide
    got2 = img.data[0, 0, 0]
    want2 = np.array([
        [want1[0:2, 0:2].mean(), want1[0:2, 2:3].mean()],
        [want1[2:4, 0:2].mean(), want1[2:4, 2:3].mean()],
    ])
    np.testing.assert_allclose(got2, want2)


def test_scene_error_paths_and_repr(spark):
    import numpy as np
    import pytest as _pt

    from bioio_spark.bio_image import BioImage

    img = BioImage([np.zeros((2, 2)), np.ones((2, 2))], dim_order="YX",
                   spark=spark)
    with _pt.raises(IndexError):
        img.set_scene("Image:99")
    with _pt.raises(IndexError):
        img.set_scene(5)
    with _pt.raises(TypeError):
        img.set_scene(1.5)
    with _pt.raises(IndexError):
        img.set_resolution_level(3)
    assert "Image:0" in repr(img) and "Dimensions" in repr(img)


def test_reader_property_and_dimension_properties(spark):
    from bioio_spark.sources.array_like import ArrayLikeReader
    from bioio_spark.types import PhysicalPixelSizes, TimeInterval

    img = BioImage(np.zeros((2, 1, 2, 3, 4), dtype=np.uint8), spark=spark,
                   physical_pixel_sizes=PhysicalPixelSizes(2.0, 0.5, 0.5))
    assert isinstance(img.reader, ArrayLikeReader)
    dp = img.dimension_properties
    assert set(dp) == set("TCZYX")
    assert dp["Z"].value == 2.0 and dp["Z"].unit == "micrometer"
    assert dp["C"].type == "channel"
    assert dp["T"].type == "time" and dp["T"].unit is None


def test_dask_tier_raises_without_dask(spark):
    """dask absent in this container: the dask twins point the user at
    the engine-native lazy tier instead of failing obscurely."""
    img = BioImage(np.zeros((2, 2)), spark=spark)
    try:
        import dask  # noqa: F401
        has_dask = True
    except ImportError:
        has_dask = False
    if has_dask:
        arr = img.get_image_dask_data()
        assert arr.shape == img.shape
        np.testing.assert_array_equal(np.asarray(arr), img.data)
    else:
        with pytest.raises(NotImplementedError, match="dataframe"):
            img.get_image_dask_data()
        with pytest.raises(NotImplementedError, match="dataframe"):
            _ = img.dask_data


def test_imread_dask_entry_points(spark):
    """Module-level dask twins (ref bio_image.py:1340-1393): present and
    honest about a missing dask."""
    from bioio_spark import imread_dask, imread_xarray_dask

    try:
        import dask  # noqa: F401
        arr = imread_dask(np.ones((2, 3)), spark=spark)
        assert arr.shape == (1, 1, 1, 2, 3)
        lab = imread_xarray_dask(np.ones((2, 3)), spark=spark)
        assert lab.dims == "TCZYX"
    except ImportError:
        with pytest.raises(NotImplementedError):
            imread_dask(np.ones((2, 3)), spark=spark)
        with pytest.raises(NotImplementedError):
            imread_xarray_dask(np.ones((2, 3)), spark=spark)


def test_complex64_pixels_end_to_end(spark):
    """SURVEY §1.2/§1.3: complex64 -> struct<re,im> value column; ingest,
    selectors, and assembly preserve values and restore the native
    complex dtype (ref ome_utils.py:66-137 includes complex64/128)."""
    idx = np.indices((2, 2, 3, 4, 5))
    base = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.float32)
    block = (base - 1j * (base / 4.0)).astype(np.complex64)

    img = BioImage(block, spark=spark)
    assert img.dtype == np.dtype("complex64")

    value_type = dict(img.get_image_dataframe().dtypes)["value"]
    assert value_type == "struct<re:double,im:double>"

    np.testing.assert_array_equal(img.data, block)
    assert img.data.dtype == np.dtype("complex64")
    sel = img.get_image_data("ZYX", T=1, C=0)
    np.testing.assert_array_equal(sel, block[1, 0])
    assert sel.dtype == np.dtype("complex64")

    c128 = BioImage(block.astype(np.complex128), spark=spark)
    assert c128.dtype == np.dtype("complex128")
    np.testing.assert_array_equal(c128.data, block.astype(np.complex128))


def test_mixed_complex_real_scenes_rejected(spark):
    with pytest.raises(ValueError, match="all-complex or all-real"):
        BioImage([np.ones((2, 2), dtype=np.complex64),
                  np.ones((2, 2), dtype=np.float32)],
                 spark=spark).get_image_dataframe()


def test_top_level_export_parity():
    """Every name in the reference's __all__ (ref __init__.py:51-66) is
    importable from the package top level."""
    import bioio_spark as b

    for name in ("ArrayLike", "BioImage", "DimensionNames",
                 "DimensionProperties", "Dimensions", "ImageLike",
                 "MetaArrayLike", "PathLike", "PhysicalPixelSizes",
                 "Scale", "StandardMetadata", "TimeInterval", "Writer",
                 "plugin_feasibility_report"):
        assert hasattr(b, name), name
    assert b.DimensionNames.Channel == "C"
    md = b.StandardMetadata(image_size_t=4, dtype="uint8")
    assert md.image_size_t == 4 and md["dtype"] == "uint8"
    assert md.to_dict()["image_size_t"] == 4
    with pytest.raises(NotImplementedError):
        b.Writer.save(None, "/x")


def test_bioimage_with_text_and_missing_file(spark, tmp_path):
    """ref tests/test_bio_image.py:19-28: a non-image text file and a
    missing path both raise UnsupportedFileFormatError at construction."""
    from bioio_spark.bio_image import UnsupportedFileFormatError

    txt = tmp_path / "notes.txt"
    txt.write_text("hello\n")
    with pytest.raises(UnsupportedFileFormatError):
        BioImage(str(txt), spark=spark)

    with pytest.raises(UnsupportedFileFormatError):
        BioImage(str(tmp_path / "does-not-exist-xyz.bad"), spark=spark)


def test_read_window_source_pushdown_and_fallback(spark, tmp_path):
    """BioImage.read_window routes to the source-pruned readers for
    single TIFF files / Zarr stores and falls back to a Catalyst filter
    elsewhere — all three paths return identical windows."""
    from bioio_spark.writers import save_ome_tiff, save_ome_zarr

    idx = np.indices((2, 2, 3, 6, 8))
    block = (idx[0] * 100000 + idx[1] * 10000 + idx[2] * 1000
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    src = BioImage(block, spark=spark)
    tdir = tmp_path / "t"
    save_ome_tiff(src, str(tdir), compression=5)
    zdir = tmp_path / "z"
    save_ome_zarr(src, str(zdir), chunks=(1, 1, 2, 3, 4))

    def rows(df):
        return sorted(map(tuple, df.select(
            "t", "c", "z", "y", "x", "value").collect()))

    win = dict(t=1, z=(1, 3), y=range(2, 5))
    want = rows(BioImage(block, spark=spark).read_window(**win))
    assert len(want) == 2 * 2 * 3 * 8

    tiff_img = BioImage(str(tdir / "scene_0.ome.tiff"), spark=spark)
    assert rows(tiff_img.read_window(**win)) == want

    zarr_img = BioImage(str(zdir / "scene_0.zarr"), spark=spark)
    assert rows(zarr_img.read_window(**win)) == want


def test_tiff_eager_tier_decodes_once(spark, tmp_path, count_jobs):
    """A TIFF BioImage decodes its scene once: get_image_data loads it
    through read_planes in one job and project_data is numpy over the
    loaded array; save_ome_zarr encodes chunks over the plane tiles in
    one job with no shuffle."""
    from bioio_spark.dimensions import Dimensions
    from bioio_spark.formats.tiff import encode_ome_tiff
    from bioio_spark.operators.selectors import to_ndarray
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    a = np.random.default_rng(8).integers(
        0, 4000, (1, 2, 6, 32, 24)).astype(np.uint16)
    p = tmp_path / "img.ome.tiff"
    p.write_bytes(encode_ome_tiff(a))
    img = BioImage(str(p), spark=spark)

    (zyx, mip), jobs, _ = count_jobs(lambda: (
        img.get_image_data("ZYX", T=0, C=0), img.project_data("Z", "max")))
    assert jobs == 1
    assert zyx.dtype == mip.dtype == np.uint16
    np.testing.assert_array_equal(zyx, a[0, 0])
    np.testing.assert_array_equal(mip, a.max(axis=2))

    # sum/mean still promote to float64 and equal the lazy aggregate's
    for op in ("sum", "mean"):
        got = img.project_data("Z", op, C=1)
        lazy = img.project("Z", op, C=1)
        want = to_ndarray(lazy, Dimensions("TCYX", got.shape))
        assert got.dtype == np.float64, op
        np.testing.assert_array_equal(got, want)
    np.testing.assert_array_equal(img.project_data("Z", "mean"),
                                  a.mean(axis=2))

    out = str(tmp_path / "store")
    report, jobs, shuffle = count_jobs(lambda: save_ome_zarr(img, out))
    assert (jobs, shuffle) == (1, 0)
    assert report[0]["n_chunks"] == 1 * 2 * 6
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    np.testing.assert_array_equal(back.data, a)


def test_planes_tier_follows_levels_and_derived_pyramids(spark, tmp_path):
    """The planes-backed data stays equal to the pixel frame at every
    level of a pyramidal TIFF, and a pyramid derived in the pixel plan
    is never answered from the source's planes."""
    from bioio_spark.formats.tiff import encode_ome_tiff
    from bioio_spark.operators.selectors import apply_selectors, to_ndarray
    from bioio_spark.writers import save_ome_tiff

    a = np.random.default_rng(9).integers(0, 255, (32, 48)).astype(np.uint8)
    save_ome_tiff(BioImage(a, dim_order="YX", spark=spark),
                  str(tmp_path / "tp"), tile=(16, 16), n_levels=2)
    img = BioImage(str(tmp_path / "tp" / "scene_0.ome.tiff"), spark=spark)
    for level in (0, 1):
        img.set_resolution_level(level)
        px, dims = img._standard_pixels()
        plan, out_dims = apply_selectors(px, dims, dims.order, {})
        np.testing.assert_array_equal(
            img.data, to_ndarray(plan, out_dims, dtype=img.dtype))

    p = tmp_path / "flat.ome.tiff"
    p.write_bytes(encode_ome_tiff(a[None, None, None]))
    flat = BioImage(str(p), spark=spark)
    flat.materialize_pyramid(2)
    flat.set_resolution_level(1)
    assert flat._pushdown("read_planes") is None
    px, dims = flat._standard_pixels()
    plan, out_dims = apply_selectors(px, dims, dims.order, {})
    assert flat.data.shape == (1, 1, 1, 16, 24)
    np.testing.assert_array_equal(
        flat.data, to_ndarray(plan, out_dims, dtype=flat.dtype))


def test_open_builds_no_pixel_plan(spark, tmp_path, count_jobs,
                                   monkeypatch):
    """Opening a file walks its catalog only: 0 jobs and no DataFrame, for
    a planned reader (TIFF) and for Zarr. The pixel frame is built on
    first use, once; a file that can't be read still fails at open."""
    from pyspark.sql.classic.dataframe import DataFrame

    from bioio_spark.writers import save_ome_tiff, save_ome_zarr

    a = np.arange(2 * 3 * 8 * 10, dtype=np.uint16).reshape(1, 2, 3, 8, 10)
    save_ome_tiff(BioImage(a, spark=spark), str(tmp_path / "t"))
    save_ome_zarr(BioImage(a, spark=spark), str(tmp_path / "z"))
    built, init = [], DataFrame.__init__
    monkeypatch.setattr(DataFrame, "__init__", lambda self, *args: (
        built.append(1), init(self, *args))[1])
    for src in ("t/scene_0.ome.tiff", "z/scene_0.zarr"):
        built.clear()
        img, jobs, _ = count_jobs(
            lambda: BioImage(str(tmp_path / src), spark=spark))
        assert (jobs, built) == (0, []), src
        px = img._dataset.pixels
        assert built and img._dataset.pixels is px, src
        assert px.count() == a.size, src
    bad = tmp_path / "bad.ome.tiff"
    bad.write_bytes(b"II*\x00 not a tiff")
    with pytest.raises(Exception):
        BioImage(str(bad), spark=spark)
