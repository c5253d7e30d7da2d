"""Chunked plane layout: roundtrip, window pruning, ndarray assembly."""

import numpy as np
from pyspark.sql import functions as F

from bioio_spark.operators.planes import (
    assemble_ndarray,
    pixels_to_planes,
    planes_to_pixels,
    select_window,
)


def _pixels(spark, arr):
    t, c, y, x = arr.shape
    rows = [(int(ti), int(ci), int(yi), int(xi), float(arr[ti, ci, yi, xi]))
            for ti in range(t) for ci in range(c)
            for yi in range(y) for xi in range(x)]
    return spark.createDataFrame(
        rows, "t int, c int, y int, x int, value double")


def test_roundtrip_ragged_tiles(spark):
    arr = np.arange(2 * 2 * 5 * 7, dtype=np.float64).reshape(2, 2, 5, 7)
    px = _pixels(spark, arr)
    planes = pixels_to_planes(px, tile_h=2, tile_w=3)
    # 5 rows -> tiles of h 2,2,1; 7 cols -> w 3,3,1
    hw = {(r["h"], r["w"]) for r in planes.collect()}
    assert hw == {(2, 3), (2, 1), (1, 3), (1, 1)}
    back = planes_to_pixels(planes)
    got = {(r["t"], r["c"], r["y"], r["x"]): r["value"]
           for r in back.collect()}
    assert len(got) == arr.size
    for k, v in got.items():
        assert arr[k] == v


def test_assemble_matches_numpy(spark):
    arr = np.arange(3 * 2 * 6 * 4, dtype=np.float64).reshape(3, 2, 6, 4)
    px = _pixels(spark, arr)
    planes = pixels_to_planes(px, tile_h=4, tile_w=4)
    out = assemble_ndarray(planes, "TC", arr.shape)
    np.testing.assert_array_equal(out, arr)


def test_assemble_is_one_job_in_native_dtype(spark, count_jobs):
    """assemble_ndarray collects the tiles once (one Spark job, not one
    per partition) and scatters them straight into the asked dtype."""
    arr = np.arange(2 * 3 * 6 * 4).reshape(2, 3, 6, 4).astype(np.uint16)
    planes = pixels_to_planes(_pixels(spark, arr), tile_h=4, tile_w=4)
    planes = planes.repartition(4).cache()
    planes.count()
    out, jobs, _ = count_jobs(
        lambda: assemble_ndarray(planes, "TC", arr.shape, dtype=np.uint16))
    planes.unpersist()
    assert jobs == 1
    assert out.dtype == np.uint16
    np.testing.assert_array_equal(out, arr)


def test_window_prunes_tiles(spark):
    arr = np.arange(1 * 1 * 8 * 8, dtype=np.float64).reshape(1, 1, 8, 8)
    px = _pixels(spark, arr)
    planes = pixels_to_planes(px, tile_h=4, tile_w=4).cache()
    win = select_window(planes, y_lo=0, y_hi=2, x_lo=5, x_hi=7)
    rows = win.collect()
    assert len(rows) == 3 * 3
    np.testing.assert_array_equal(
        sorted(r["value"] for r in rows),
        sorted(arr[0, 0, 0:3, 5:8].ravel()))
    planes.unpersist()


def test_selector_predicates_reach_parquet_scan(spark, tmp_path):
    """Scale regression guard: point/strided selectors must appear as
    PushedFilters in the parquet scan, and column pruning must drop unused
    columns from ReadSchema."""
    import numpy as np

    from bioio_spark.dimensions import Dimensions
    from bioio_spark.operators.selectors import apply_selectors

    arr = np.arange(2 * 3 * 4 * 5, dtype=np.float64).reshape(2, 3, 4, 5)
    rows = [(t, c, y, x, float(arr[t, c, y, x]))
            for t in range(2) for c in range(3)
            for y in range(4) for x in range(5)]
    path = str(tmp_path / "px.parquet")
    (spark.createDataFrame(rows, "t int, c int, y int, x int, value double")
     .write.parquet(path))

    px = spark.read.parquet(path)
    plan, _ = apply_selectors(
        px, Dimensions("TCYX", (2, 3, 4, 5)), "YX", {"T": 1, "C": 2})
    physical = plan._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in physical.splitlines() if "PushedFilters" in l)
    assert "EqualTo(t,1)" in scan and "EqualTo(c,2)" in scan, scan
    # y/x/value survive; t/c are filter-only and pruned after pushdown
    assert "value:double" in scan


class TestReductions:
    """project / channel_histogram vs numpy over the standardized array."""

    def test_max_projection_matches_numpy(self, spark):
        import numpy as np

        from bioio_spark import BioImage

        arr = np.random.default_rng(11).random((3, 2, 4, 5, 6))
        img = BioImage(arr)
        mip = img.project_data("Z", "max")
        np.testing.assert_allclose(mip, arr.max(axis=2))

    def test_mean_projection_with_selectors(self, spark):
        import numpy as np

        from bioio_spark import BioImage

        arr = np.arange(2 * 2 * 3 * 4 * 5, dtype=np.float64).reshape(
            (2, 2, 3, 4, 5))
        img = BioImage(arr)
        out = img.project_data("T", "mean", C=1)
        # C=1 point select keeps a size-1 axis (the full TCZYX order is the
        # requested output order, matching ref reshape_data semantics)
        np.testing.assert_allclose(out, arr[:, [1]].mean(axis=0))

    def test_project_unknown_dim_raises(self, spark):
        import numpy as np
        import pytest

        from bioio_spark import BioImage

        img = BioImage(np.zeros((2, 3)))
        with pytest.raises(ValueError, match="not in image dims"):
            img.project("M").collect()
        with pytest.raises(ValueError, match="unknown projection op"):
            img.project("Z", op="median").collect()

    def test_channel_histogram_matches_numpy(self, spark):
        import numpy as np

        from bioio_spark import BioImage

        arr = np.random.default_rng(5).random((1, 3, 2, 8, 8))
        img = BioImage(arr)
        rows = img.channel_histogram(nbins=8).collect()
        for c in range(3):
            vals = arr[0, c]
            mn, mx = vals.min(), vals.max()
            bins = np.minimum(
                np.floor((vals - mn) * 8 / (mx - mn)), 7).astype(int)
            expected = {b: int(n) for b, n in
                        zip(*np.unique(bins, return_counts=True))}
            got = {r["bin"]: r["n_pixels"] for r in rows if r["c"] == c}
            assert got == expected

    def test_flat_channel_single_bin(self, spark):
        import numpy as np

        from bioio_spark import BioImage

        img = BioImage(np.full((1, 1, 1, 4, 4), 7.0))
        rows = img.channel_histogram(nbins=16).collect()
        assert len(rows) == 1
        assert (rows[0]["bin"], rows[0]["n_pixels"]) == (0, 16)

    def test_contrast_stretch_matches_numpy(self, spark):
        import numpy as np

        from bioio_spark import BioImage

        arr = np.random.default_rng(3).random((1, 2, 2, 6, 6))
        img = BioImage(arr)
        rows = img.contrast_stretch(0.1, 0.9).collect()
        for c in range(2):
            vals = arr[0, c]
            lo, hi = np.quantile(vals, [0.1, 0.9])
            want = np.clip((vals - lo) / (hi - lo), 0.0, 1.0)
            for r in rows:
                if r["c"] == c:
                    np.testing.assert_allclose(
                        r["value"], want[r["z"], r["y"], r["x"]],
                        rtol=1e-9)

    def test_contrast_stretch_bad_quantiles(self, spark):
        import numpy as np
        import pytest

        from bioio_spark import BioImage

        img = BioImage(np.zeros((2, 2)))
        with pytest.raises(ValueError, match="lo_q < hi_q"):
            img.contrast_stretch(0.9, 0.1).collect()

    def test_project_planes_matches_numpy(self, spark):
        import numpy as np

        from bioio_spark.operators.planes import (assemble_ndarray,
                                                  pixels_to_planes,
                                                  project_planes)

        rng = np.random.default_rng(17)
        arr = rng.random((2, 2, 3, 5, 7))
        rows = [(t, c, z, y, x, float(arr[t, c, z, y, x]))
                for t in range(2) for c in range(2) for z in range(3)
                for y in range(5) for x in range(7)]
        px = spark.createDataFrame(
            rows, "t int, c int, z int, y int, x int, value double")
        planes = pixels_to_planes(px, tile_h=2, tile_w=4)
        for op, npop in [("max", np.max), ("min", np.min),
                         ("sum", np.sum)]:
            out = project_planes(planes, "z", op)
            got = assemble_ndarray(out, "TC", (2, 2, 5, 7))
            np.testing.assert_allclose(got, npop(arr, axis=2))

    def test_project_planes_bad_args(self, spark):
        import pytest

        from bioio_spark.operators.planes import (pixels_to_planes,
                                                  project_planes)

        px = spark.createDataFrame(
            [(0, 0, 0.0)], "t int, y int, value double")
        px = px.withColumn("x", F.lit(0)).select("t", "y", "x", "value")
        planes = pixels_to_planes(px, 2, 2)
        with pytest.raises(ValueError, match="not in plane frame"):
            project_planes(planes, "z")
        with pytest.raises(ValueError, match="unknown projection op"):
            project_planes(planes, "t", op="avg")

    def test_downsample_planes_matches_numpy(self, spark):
        import numpy as np

        from bioio_spark.operators.planes import (assemble_ndarray,
                                                  downsample_planes,
                                                  pixels_to_planes)

        rng = np.random.default_rng(23)
        arr = rng.random((2, 7, 9))  # ragged in both axes
        rows = [(t, y, x, float(arr[t, y, x]))
                for t in range(2) for y in range(7) for x in range(9)]
        px = spark.createDataFrame(
            rows, "t int, y int, x int, value double")
        planes = pixels_to_planes(px, tile_h=4, tile_w=4)
        down = downsample_planes(planes)
        got = assemble_ndarray(down, "T", (2, 4, 5))
        want = np.zeros((2, 4, 5))
        for t in range(2):
            for y in range(4):
                for x in range(5):
                    want[t, y, x] = arr[t, 2*y:2*y+2, 2*x:2*x+2].mean()
        np.testing.assert_allclose(got, want, rtol=1e-12)


class TestPlaneReductionProperties:
    """Hypothesis sweep: tile-level reductions equal numpy for arbitrary
    shapes, tile geometries, and ops."""

    def test_projection_and_downsample_property(self, spark):
        import numpy as np
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from bioio_spark.operators.planes import (assemble_ndarray,
                                                  downsample_planes,
                                                  pixels_to_planes,
                                                  project_planes)

        @settings(max_examples=12, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture])
        @given(
            z=st.integers(1, 4), h=st.integers(1, 9), w=st.integers(1, 9),
            tile=st.sampled_from([2, 4, 8]),
            op=st.sampled_from(["max", "min", "sum"]),
            seed=st.integers(0, 2**31 - 1),
        )
        def check(z, h, w, tile, op, seed):
            arr = np.random.default_rng(seed).random((z, h, w))
            rows = [(zi, y, x, float(arr[zi, y, x]))
                    for zi in range(z) for y in range(h) for x in range(w)]
            px = spark.createDataFrame(
                rows, "z int, y int, x int, value double")
            planes = pixels_to_planes(px, tile_h=tile, tile_w=tile)

            proj = project_planes(planes, "z", op)
            got = assemble_ndarray(proj, "", (h, w))
            npop = {"max": np.max, "min": np.min, "sum": np.sum}[op]
            np.testing.assert_allclose(got, npop(arr, axis=0), rtol=1e-12)

            down = downsample_planes(planes)
            h2, w2 = (h + 1) // 2, (w + 1) // 2
            got_d = assemble_ndarray(down, "Z", (z, h2, w2))
            want = np.zeros((z, h2, w2))
            for zi in range(z):
                for y in range(h2):
                    for x in range(w2):
                        want[zi, y, x] = arr[zi, 2*y:2*y+2,
                                             2*x:2*x+2].mean()
            np.testing.assert_allclose(got_d, want, rtol=1e-12)

        check()


# -- BioImage.get_planes_dataframe dispatch --------------------------------

def test_get_planes_dataframe_zarr_fast_path(spark, tmp_path, planned_read):
    """Zarr-backed scenes produce planes rows with ZERO hash exchanges
    (the store's own chunk grid), equal to the shuffle fallback."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(41)
    block = rng.integers(0, 4096, (1, 2, 2, 6, 8)).astype(np.uint16)
    out = str(tmp_path / "st")
    save_ome_zarr(BioImage(block, spark=spark), out,
                  chunks=(1, 1, 1, 4, 4))
    from bioio_spark.sources.zarr_image import ZarrImageReader
    img = BioImage(out, reader=ZarrImageReader, spark=spark)
    pl = img.get_planes_dataframe()
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert planned_read(plan), plan
    pdf = pl.toPandas()
    # chunk grid: 2c * 2z * ceil(6/4) * ceil(8/4) = 2*2*2*2 = 16 tiles
    assert len(pdf) == 16
    total = sum(len(v) for v in pdf["values"])
    assert total == block.size
    # values agree with the ndarray
    row = pdf[(pdf.c == 1) & (pdf.z == 1) & (pdf.y0 == 4)
              & (pdf.x0 == 4)].iloc[0]
    want = block[0, 1, 1, 4:6, 4:8].astype(np.float64).ravel()
    np.testing.assert_array_equal(np.array(row["values"]), want)


def test_get_planes_dataframe_czi_fast_path(spark, tmp_path, planned_read):
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.czi import encode_czi

    rng = np.random.default_rng(43)
    planes = rng.integers(0, 65535, (3, 4, 5)).astype(np.uint16)
    p = tmp_path / "pl.czi"
    p.write_bytes(encode_czi(
        [{"data": planes[z], "dims": {"Z": z}} for z in range(3)],
        compression=6))
    img = BioImage(str(p), spark=spark)
    pl = img.get_planes_dataframe()
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert planned_read(plan), plan
    pdf = pl.toPandas().sort_values("z")
    assert list(pdf["z"]) == [0, 1, 2]
    np.testing.assert_array_equal(
        np.array(pdf.iloc[1]["values"]),
        planes[1].astype(np.float64).ravel())


def test_get_planes_dataframe_fallback(spark):
    """ArrayLike scenes fall back to pixels_to_planes (one shuffle) —
    same schema, same data."""
    import numpy as np

    from bioio_spark import BioImage

    block = np.arange(2 * 6 * 8, dtype=np.float64).reshape(1, 1, 2, 6, 8)
    img = BioImage(block, spark=spark)
    pdf = img.get_planes_dataframe(tile_h=4, tile_w=4).toPandas()
    assert set(pdf.columns) == {"t", "c", "z", "y0", "x0", "h", "w",
                                "values"}
    assert sum(len(v) for v in pdf["values"]) == block.size


def test_get_planes_dataframe_tiff_fast_path(spark, tmp_path, planned_read):
    """Tiled-TIFF-backed scenes produce planes rows zero-shuffle from
    the file's own tile grid, honoring the current resolution level."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_tiff

    rng = np.random.default_rng(53)
    a = rng.integers(0, 255, (32, 48)).astype(np.uint8)
    out = tmp_path / "tp"
    save_ome_tiff(BioImage(a, dim_order="YX", spark=spark), str(out),
                  tile=(16, 16), n_levels=2, compression=8)
    img = BioImage(str(out / "scene_0.ome.tiff"), spark=spark)
    pl = img.get_planes_dataframe()
    plan = pl._jdf.queryExecution().executedPlan().toString()
    assert planned_read(plan), plan
    pdf = pl.toPandas()
    assert len(pdf) == (32 // 16) * (48 // 16)          # 6 tiles
    row = pdf[(pdf.y0 == 16) & (pdf.x0 == 32)].iloc[0]
    np.testing.assert_array_equal(
        np.array(row["values"]),
        a[16:32, 32:48].astype(np.float64).ravel())
    # level 1 planes come from the SubIFD grid
    img.set_resolution_level(1)
    want = img.get_image_data("YX")
    pdf1 = img.get_planes_dataframe().toPandas()
    assert sum(len(v) for v in pdf1["values"]) == want.size


def test_get_planes_dataframe_vendor_fast_paths(spark, tmp_path, planned_read):
    """DV, ND2, and LIF scenes all decode to planes rows zero-shuffle
    — every planned source now has a planes fast path."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.formats.dv import encode_dv
    from bioio_spark.formats.lif import encode_lif
    from bioio_spark.formats.nd2 import encode_nd2

    rng = np.random.default_rng(59)
    block = rng.integers(0, 65535, (2, 2, 2, 4, 5)).astype(np.uint16)
    files = {
        "a.dv": encode_dv(block),
        "a.lif": encode_lif([{"name": "S", "data": block}]),
        "a.nd2": encode_nd2(
            block[:, 0, :, :, :].reshape(4, 4, 5),
            loops=[("TimeLoop", 2), ("ZStackLoop", 2)]),
    }
    for name, payload in files.items():
        p = tmp_path / name
        p.write_bytes(payload)
        img = BioImage(str(p), spark=spark)
        pl = img.get_planes_dataframe()
        plan = pl._jdf.queryExecution().executedPlan().toString()
        assert planned_read(plan), name
        pdf = pl.toPandas()
        n_expected = (block.size if name != "a.nd2"
                      else block[:, 0].size)
        assert sum(len(v) for v in pdf["values"]) == n_expected, name
        # spot-check one plane's payload
        row = pdf[(pdf.t == 1) & (pdf.c == 0) & (pdf.z == 1)].iloc[0]
        want = (block[1, 0, 1] if name != "a.nd2"
                else block[1, 0, 1]).astype(np.float64).ravel()
        np.testing.assert_array_equal(np.array(row["values"]), want)
