"""Cross-format window-read consistency: for EVERY planned source,
``BioImage.read_window`` (the pruned byte-range path) must return
exactly the rows of the standardized pixel frame filtered to the same
bounds — one invariant, every pushdown format, several window shapes.
Each case also pins that the reader's own ``read_window`` (and, where
the format has one, ``read_planes``) answers, so a refactor can't fall
back to the Catalyst filter while the rows still match.
"""

import numpy as np
import pytest

from bioio_spark import BioImage


def _vol():
    idx = np.indices((2, 2, 3, 6, 7))        # t c z y x
    return (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
            + idx[3] * 10 + idx[4]).astype(np.uint16)


def _fixture_vol(fmt):
    """The TCZYX volume a format's fixture holds: single-axis stacks
    keep Z, video keeps T and three uint8 channels, DNG one plane."""
    vol = _vol()
    if fmt in ("stk", "dicom", "mrc", "pic"):
        return vol[:1, :1]
    if fmt == "dng":
        return vol[:1, :1, :1]
    if fmt in VIDEO:
        rgb = (vol[:, :1, :1] % 256).astype(np.uint8)
        return np.concatenate([rgb, 255 - rgb, rgb // 2], axis=1)
    return vol


VIDEO = ("avi", "mp4", "mpeg", "mkv")


def _write_fixture(fmt, vol, tmp_path, spark):
    if fmt == "tiff":
        from bioio_spark.writers import save_ome_tiff

        out = tmp_path / "w_tiff"
        save_ome_tiff(BioImage(vol, spark=spark), str(out),
                      compression=8)
        return str(out / "scene_0.ome.tiff")
    if fmt == "tiff_dir":
        # a multi-file save_ome_tiff directory: one file per scene, the
        # window reads scene 0
        from bioio_spark.writers import save_ome_tiff

        out = tmp_path / "w_tiff_dir"
        save_ome_tiff(BioImage([vol, vol[:1] + 1], spark=spark), str(out),
                      compression=5)
        return str(out)
    if fmt == "tiff_imagej_contiguous":
        # ImageJ's one-IFD contiguous stack: raw frames, channel-fastest,
        # appended after the first page's strip
        from bioio_spark.formats.tiff_pages import PageSpec, compose_tiff

        frames = [vol[t, c, z] for t in range(vol.shape[0])
                  for z in range(vol.shape[2]) for c in range(vol.shape[1])]
        desc = (f"ImageJ=1.53t\nimages={len(frames)}\n"
                f"channels={vol.shape[1]}\nslices={vol.shape[2]}\n"
                f"frames={vol.shape[0]}\n")
        data, _ = compose_tiff([PageSpec(
            frames[0], description=desc,
            extra_data=b"".join(f.astype("<u2").tobytes()
                                for f in frames[1:]))])
        p = tmp_path / "w_ij.tif"
        p.write_bytes(data)
        return str(p)
    if fmt == "zarr":
        from bioio_spark.writers import save_ome_zarr

        out = tmp_path / "w_zarr"
        save_ome_zarr(BioImage(vol, spark=spark), str(out),
                      chunks=(1, 1, 2, 3, 4), compressor="zstd")
        return str(out / "scene_0.zarr")
    if fmt == "zarr_tdeep":
        # chunks two timepoints deep: a plan row spans t and t + 1
        from bioio_spark.writers import save_ome_zarr

        out = tmp_path / "w_zarr_tdeep"
        save_ome_zarr(BioImage(vol, spark=spark), str(out),
                      chunks=(2, 1, 1, 4, 5))
        return str(out / "scene_0.zarr")
    if fmt == "zarr_multiscene":
        # a two-scene save_ome_zarr directory: the window reads scene 0
        from bioio_spark.writers import save_ome_zarr

        out = tmp_path / "w_zarr_multiscene"
        save_ome_zarr(BioImage([vol, vol[:1] + 1], spark=spark), str(out),
                      chunks=(1, 1, 2, 3, 4))
        return str(out)
    if fmt == "zarr_sharded":
        # a Zarr v3 store whose shards (stored objects) hold 2x2 inner
        # chunks: reads decode inner chunks, so rows follow that grid
        from bioio_spark.writers import save_ome_zarr

        out = tmp_path / "w_zarr_sharded"
        save_ome_zarr(BioImage(vol, spark=spark), str(out),
                      chunks=(1, 1, 1, 3, 4), shards=(1, 1, 3, 6, 8),
                      ngff_version="0.5")
        return str(out / "scene_0.zarr")
    if fmt == "dv":
        from bioio_spark.formats.dv import encode_dv

        p = tmp_path / "w.dv"
        p.write_bytes(encode_dv(vol))
        return str(p)
    if fmt == "czi":
        from bioio_spark.formats.czi import encode_czi

        p = tmp_path / "w.czi"
        subs = [{"data": vol[t, c, z],
                 "dims": {"S": 0, "T": t, "C": c, "Z": z}}
                for t in range(2) for c in range(2) for z in range(3)]
        p.write_bytes(encode_czi(subs, compression=6))
        return str(p)
    if fmt == "nd2":
        from bioio_spark.formats.nd2 import encode_nd2

        p = tmp_path / "w.nd2"
        # seq = t*3 + z, channels interleaved per pixel
        frames = vol.transpose(0, 2, 3, 4, 1).reshape(6, 6, 7, 2)
        p.write_bytes(encode_nd2(
            frames, loops=[("TimeLoop", 2), ("ZStackLoop", 3)]))
        return str(p)
    if fmt == "lif":
        from bioio_spark.formats.lif import encode_lif

        p = tmp_path / "w.lif"
        p.write_bytes(encode_lif([{"name": "S", "data": vol}]))
        return str(p)
    if fmt == "lsm":
        from bioio_spark.formats.lsm import encode_lsm

        p = tmp_path / "w.lsm"
        p.write_bytes(encode_lsm(vol))
        return str(p)
    if fmt == "oif":
        from bioio_spark.formats.oif import encode_oif

        return encode_oif(vol, str(tmp_path), name="w")
    if fmt == "oib":
        from bioio_spark.formats.oib import encode_oib

        p = tmp_path / "w.oib"
        p.write_bytes(encode_oib(vol))
        return str(p)
    if fmt == "ims":
        from bioio_spark.formats.ims import encode_ims

        p = tmp_path / "w.ims"
        p.write_bytes(encode_ims(vol, chunks=(2, 3, 4), gzip=True))
        return str(p)
    if fmt == "stk":
        from bioio_spark.formats.stk import encode_stk

        p = tmp_path / "w.stk"
        p.write_bytes(encode_stk(vol[0, 0], z_distance=0.5))
        return str(p)
    if fmt == "dicom":
        from bioio_spark.formats.dicom import encode_dicom

        p = tmp_path / "w.dcm"
        p.write_bytes(encode_dicom(vol[0, 0]))
        return str(p)
    if fmt == "mrc":
        from bioio_spark.formats.mrc import encode_mrc

        p = tmp_path / "w.mrc"
        p.write_bytes(encode_mrc(vol[0, 0]))
        return str(p)
    if fmt == "zvi":
        from bioio_spark.formats.zvi import encode_zvi

        p = tmp_path / "w.zvi"
        p.write_bytes(encode_zvi(vol))
        return str(p)
    if fmt == "dng":
        from bioio_spark.formats.dng import build_dng

        p = tmp_path / "w.dng"
        p.write_bytes(build_dng(vol[0, 0, 0], rows_per_strip=4))
        return str(p)
    if fmt == "pic":
        from bioio_spark.formats.pic import encode_pic

        p = tmp_path / "w.pic"
        p.write_bytes(encode_pic(vol[0, 0], axis4="z"))
        return str(p)
    if fmt in VIDEO:
        import importlib

        codec = "mpeg1" if fmt == "mpeg" else fmt
        encode = getattr(importlib.import_module(
            f"bioio_spark.formats.{codec}"), f"encode_{codec}")
        p = tmp_path / f"w.{'mpg' if fmt == 'mpeg' else fmt}"
        p.write_bytes(encode(vol[:, :, 0].transpose(0, 2, 3, 1)))
        return str(p)
    if fmt == "sldy":
        d = tmp_path / "w.sldy"
        (d / "ImageData").mkdir(parents=True)
        for t in range(vol.shape[0]):
            for c in range(vol.shape[1]):
                np.save(d / "ImageData" / f"T{t}_C{c}.npy", vol[t, c])
        return str(d)
    raise AssertionError(fmt)


WINDOWS = [
    dict(t=1, z=(1, 3), y=(2, 5), x=(1, 6)),
    dict(c=1, y=(0, 3)),
    dict(t=0, c=0, z=0, y=2, x=(3, 7)),
]

WINDOW_FORMATS = ["tiff", "tiff_dir", "tiff_imagej_contiguous", "zarr",
                  "zarr_sharded", "zarr_tdeep", "zarr_multiscene", "dv", "czi", "nd2", "lif", "lsm", "oif",
                  "oib", "ims", "stk", "dicom", "mrc", "zvi", "dng", "pic",
                  *VIDEO, "sldy"]
PLANES_FORMATS = {"tiff", "tiff_dir", "tiff_imagej_contiguous", "zarr",
                  "zarr_sharded", "zarr_tdeep", "zarr_multiscene", "dv", "czi", "nd2", "lif", "lsm", "oif",
                  "oib", "ims", "stk", "dicom", "mrc", "zvi", "dng", "pic",
                  *VIDEO, "sldy"}


def _fit(win, sizes):
    """The window with each selector moved inside a dim of ``sizes``
    (a size-1 axis can only be read at index 0)."""
    return {d: (min(s, sizes[d] - 1) if isinstance(s, int)
                else (min(s[0], sizes[d] - 1), s[1]))
            for d, s in win.items()}


@pytest.mark.parametrize("fmt", WINDOW_FORMATS)
def test_reader_owns_window_pushdown(spark, tmp_path, fmt):
    """Plan-only pin (no Spark job): the format's reader answers
    read_window itself for every window shape, and read_planes exactly
    where the format plans its own chunks."""
    vol = _fixture_vol(fmt)
    img = BioImage(_write_fixture(fmt, vol, tmp_path, spark), spark=spark)
    sizes = dict(zip("tczyx", vol.shape))
    for win in (_fit(w, sizes) for w in WINDOWS):
        px = img._reader.read_window(spark, img, **win)
        assert px is not None, (fmt, win)
        assert {"t", "c", "z", "y", "x", "value"} <= set(px.columns)
    pushed = img._reader.read_planes(spark, img)
    assert (pushed is not None) == (fmt in PLANES_FORMATS), fmt


@pytest.mark.parametrize("fmt", WINDOW_FORMATS)
def test_read_window_matches_filtered_frame(spark, tmp_path, fmt):
    vol = _fixture_vol(fmt)
    path = _write_fixture(fmt, vol, tmp_path, spark)
    img = BioImage(path, spark=spark)
    assert (img.dims.T, img.dims.C, img.dims.Z,
            img.dims.Y, img.dims.X) == vol.shape
    from pyspark.sql import functions as F

    sizes = dict(zip("tczyx", vol.shape))
    full = img.get_image_dataframe()
    for win in (_fit(w, sizes) for w in WINDOWS):
        assert img._reader.read_window(spark, img, **win) is not None, \
            (fmt, win)
        got = (img.read_window(**win)
               .orderBy("t", "c", "z", "y", "x").toPandas())
        cond = F.lit(True)
        for name, sel in win.items():
            lo, hi = ((sel, sel + 1) if isinstance(sel, int)
                      else (sel[0], min(sel[1], sizes[name])))
            cond = cond & (F.col(name) >= lo) & (F.col(name) < hi)
        want = (full.filter(cond)
                .select("t", "c", "z", "y", "x", "value")
                .orderBy("t", "c", "z", "y", "x").toPandas())
        assert len(got) == len(want), (fmt, win)
        for col in ("t", "c", "z", "y", "x", "value"):
            np.testing.assert_array_equal(
                got[col].to_numpy(), want[col].to_numpy(),
                err_msg=f"{fmt} {win} {col}")


@pytest.mark.parametrize("fmt", WINDOW_FORMATS)
def test_planes_fast_path_matches_pixels(spark, tmp_path, fmt):
    """get_planes_dataframe's zero-shuffle fast path, exploded back to
    pixels, equals the standardized long-form frame — the planes
    layout loses nothing for any source. Formats with a planes
    planner answer through it; the rest take pixels_to_planes."""
    from bioio_spark.operators.planes import planes_to_pixels
    from bioio_spark.sources.planned import tile_of

    vol = _fixture_vol(fmt)
    path = _write_fixture(fmt, vol, tmp_path, spark)
    img = BioImage(path, spark=spark)
    pushed = img._reader.read_planes(spark, img)
    assert (pushed is not None) == (fmt in PLANES_FORMATS), fmt
    got = (planes_to_pixels(img.get_planes_dataframe())
           .select("t", "c", "z", "y", "x", "value")
           .orderBy("t", "c", "z", "y", "x").toPandas())
    want = (img.get_image_dataframe()
            .select("t", "c", "z", "y", "x", "value")
            .orderBy("t", "c", "z", "y", "x").toPandas())
    assert len(got) == len(want) == vol.size
    for col in ("t", "c", "z", "y", "x", "value"):
        np.testing.assert_array_equal(
            got[col].to_numpy(), want[col].to_numpy(),
            err_msg=f"{fmt} {col}")
    # the eager tier, loaded through read_planes where there is one,
    # holds the same values in TCZYX order
    np.testing.assert_array_equal(
        img.data.ravel().astype(np.float64), want["value"].to_numpy(),
        err_msg=fmt)
    # a declared tile grid holds every planes row in one grid cell
    tile = None if pushed is None else tile_of(pushed)
    if tile is not None:
        th, tw = tile
        for r in pushed.select("y0", "x0", "h", "w").collect():
            assert r.y0 % th == 0 and r.x0 % tw == 0, (fmt, tile, r)
            assert r.h <= th and r.w <= tw, (fmt, tile, r)


def _mm_tiff(plane):
    """A one-page big-endian (MM) uint16 TIFF, two rows per strip."""
    import struct

    h, w = plane.shape
    body = plane.astype(">u2").tobytes()
    step = 2 * w * 2
    n = -(-h // 2)
    at = 8 + len(body)          # the strip offset and count arrays
    blob = (struct.pack(f">{n}I", *(8 + i * step for i in range(n)))
            + struct.pack(f">{n}I", *(min(step, len(body) - i * step)
                                      for i in range(n))))
    tags = [(256, 4, 1, struct.pack(">I", w)),
            (257, 4, 1, struct.pack(">I", h)),
            (258, 3, 1, struct.pack(">HH", 16, 0)),
            (259, 3, 1, struct.pack(">HH", 1, 0)),
            (262, 3, 1, struct.pack(">HH", 1, 0)),
            (273, 4, n, struct.pack(">I", at)),
            (277, 3, 1, struct.pack(">HH", 1, 0)),
            (278, 4, 1, struct.pack(">I", 2)),
            (279, 4, n, struct.pack(">I", at + 4 * n))]
    ifd = (struct.pack(">H", len(tags))
           + b"".join(struct.pack(">HHI", t, typ, cnt) + val
                      for t, typ, cnt, val in tags)
           + struct.pack(">I", 0))
    return (struct.pack(">2sHI", b"MM", 42, at + len(blob)) + body + blob
            + ifd)


def _write_data_fixture(case, tmp_path, spark):
    """(the TCZYX volume of each scene, path) for an eager-read case: a
    window-consistency format, an OME-TIFF of another dtype, a
    two-scene OME-TIFF or a big-endian TIFF."""
    from bioio_spark.writers import save_ome_tiff, save_ome_tiff_single_file

    vol = _vol()
    dtypes = {"tiff_uint8": vol % 256, "tiff_int16": vol.astype(np.int16)
              - 6000, "tiff_float32": vol.astype(np.float32) / 7}
    if case in dtypes:
        out = tmp_path / case
        save_ome_tiff(BioImage(dtypes[case], spark=spark), str(out))
        return [dtypes[case]], str(out / "scene_0.ome.tiff")
    if case == "tiff_multiscene":
        vols = [vol, (vol[:1, :, 1:] + 7).astype(np.uint16)]
        p = tmp_path / "two.ome.tiff"
        save_ome_tiff_single_file(BioImage(vols, spark=spark), str(p))
        return vols, str(p)
    if case == "tiff_mm":
        p = tmp_path / "mm.tif"
        p.write_bytes(_mm_tiff(vol[1, 1, 2]))
        return [vol[1:2, 1:2, 2:3]], str(p)
    if case == "zarr_multiscene":
        return [vol, vol[:1] + 1], _write_fixture(case, vol, tmp_path,
                                                  spark)
    return [_fixture_vol(case)], _write_fixture(
        case, _fixture_vol(case), tmp_path, spark)


@pytest.mark.parametrize("case", ["tiff", "zarr", "zarr_sharded",
                                  "zarr_tdeep", "zarr_multiscene", "czi",
                                  "tiff_uint8", "tiff_int16",
                                  "tiff_float32", "tiff_multiscene",
                                  "tiff_mm"])
def test_native_data_matches_pixel_frame(spark, tmp_path, case):
    """``img.data`` reads each tile as native-dtype bytes through the
    reader's ``read_tiles``; on every scene it equals ``to_ndarray`` over
    the standardized pixel frame, in dtype and in values."""
    from bioio_spark.operators.selectors import apply_selectors, to_ndarray
    from bioio_spark.sources.planned import NATIVE_SCHEMA, native_tiles

    vols, path = _write_data_fixture(case, tmp_path, spark)
    img = BioImage(path, spark=spark)
    assert len(img.scenes) == len(vols)
    for i, vol in enumerate(vols):
        img.set_scene(i)
        assert img._tile_read(native_tiles(img.dtype),
                              NATIVE_SCHEMA) is not None, case
        px, dims = img._standard_pixels()
        plan, out = apply_selectors(px, dims, dims.order, {})
        want = to_ndarray(plan, out, dtype=img.dtype)
        assert img.data.dtype == want.dtype == vol.dtype, case
        np.testing.assert_array_equal(img.data, want, err_msg=case)
        np.testing.assert_array_equal(img.data, vol, err_msg=case)


def test_sparse_zarr_absent_chunk_reads_as_no_rows(spark, tmp_path):
    """A store with one chunk file deleted: the window, planes and full
    reads hold no rows for that chunk and every other pixel exactly, and
    ``data`` holds zeros there."""
    import os

    from bioio_spark.operators.planes import planes_to_pixels

    vol = _vol()
    store = _write_fixture("zarr", vol, tmp_path, spark)
    os.remove(os.path.join(store, "0", "1.0.0.0.1"))
    present = np.ones(vol.shape, bool)
    present[1, 0, 0:2, 0:3, 4:8] = False
    img = BioImage(store, spark=spark)
    np.testing.assert_array_equal(img.data, np.where(present, vol, 0))

    def rows(df):
        return sorted(map(tuple, df.select("t", "c", "z", "y", "x",
                                           "value").collect()))

    def expect(mask):
        return sorted((*map(int, i), float(vol[tuple(i)]))
                      for i in np.argwhere(mask & present))

    assert rows(img.get_image_dataframe()) == expect(present)
    assert rows(planes_to_pixels(img.get_planes_dataframe())) == \
        expect(present)
    for win in WINDOWS:
        assert img._reader.read_window(spark, img, **win) is not None
        mask = np.zeros(vol.shape, bool)
        mask[tuple(slice(s, s + 1) if isinstance(s, int)
                   else slice(*s) if isinstance(s, tuple) else slice(None)
                   for s in (win.get(d) for d in "tczyx"))] = True
        assert rows(img.read_window(**win)) == expect(mask), win


def _write_catalog_fixture(case, tmp_path, spark):
    """A fixture for ``case``: a window-consistency format, a single-raster
    file, a float32 MRC or plain TIFF, or (``ndarray``) the volume
    itself."""
    import importlib

    vol = _vol()
    plane = (vol[0, 0, 0] % 256).astype(np.uint8)
    rgb = np.stack([plane, 255 - plane, plane // 2], axis=-1)
    if case == "ndarray":
        return vol
    if case == "mrc_float32":
        from bioio_spark.formats.mrc import encode_mrc

        p = tmp_path / "f.mrc"
        p.write_bytes(encode_mrc(vol[0, 0].astype(np.float32)))
        return str(p)
    if case == "tiff_float32":
        from bioio_spark.formats.tiff import encode_tiff

        p = tmp_path / "f.tif"
        p.write_bytes(encode_tiff(list(vol[0, 0].astype(np.float32))))
        return str(p)
    if case in RASTER:
        suffix, data = RASTER[case](plane, rgb)
        encode = getattr(importlib.import_module(
            f"bioio_spark.formats.{case}"), f"encode_{case}")
        p = tmp_path / f"r{suffix}"
        p.write_bytes(encode(data))
        return str(p)
    return _write_fixture(case, _fixture_vol(case), tmp_path, spark)


# single-raster cases: (suffix, encoder input) from a gray and an RGB plane
RASTER = {
    "png": lambda g, rgb: (".png", g.astype(np.uint16) * 250),
    "jpeg": lambda g, rgb: (".jpg", rgb),
    "bmp": lambda g, rgb: (".bmp", rgb),
    "gif": lambda g, rgb: (".gif", np.stack([g, g // 2])),
    "pnm": lambda g, rgb: (".ppm", rgb),
}


@pytest.mark.parametrize("case", [*WINDOW_FORMATS, *RASTER, "ndarray",
                                  "mrc_float32", "tiff_float32"])
def test_scene_catalog_contract(spark, tmp_path, case):
    """Catalog-only: every reader's scenes frame has exactly the
    ``SCENE_COLUMNS`` set, and its OME PixelType is the one
    ``dtype_to_ome_type`` derives from the scene's dtype (a float32
    scene is ``"float"``, never ``"float32"``)."""
    from bioio_spark.sources.array_like import SCENE_COLUMNS
    from bioio_spark.types import dtype_to_ome_type

    img = BioImage(_write_catalog_fixture(case, tmp_path, spark),
                   spark=spark)
    assert list(img._dataset.scenes.columns) == SCENE_COLUMNS
    if case.endswith("float32"):
        assert img.dtype == np.float32
    assert img.standard_metadata["ome_pixel_type"] == \
        dtype_to_ome_type(img.dtype)


def test_a38_scd2_designed_history(spark, tmp_path):
    """A,A,B,A collapses to three half-open intervals: the repeated A
    run merges (n_events 2), the B interlude closes it, the final A
    re-opens (valid_to NULL = still current). Boundary = value
    change, not time gap."""
    import datetime as dt

    from bioio_spark.queries.relational import a38_scd2_intervals

    t = [dt.datetime(2024, 1, 1, h) for h in (0, 1, 2, 3)]
    rows = [(0, t[0], 7, "A", 0.0, "{}"), (1, t[1], 7, "A", 0.0, "{}"),
            (2, t[2], 7, "B", 0.0, "{}"), (3, t[3], 7, "A", 0.0, "{}")]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    d = str(tmp_path / "sfscd")
    df.write.parquet(d + "/events.parquet")

    out = [(r["event_type"], r["valid_from"], r["valid_to"],
            r["n_events"])
           for r in a38_scd2_intervals(spark, d).collect()]
    assert out == [("A", t[0], t[2], 2),
                   ("B", t[2], t[3], 1),
                   ("A", t[3], None, 1)]


def test_a38_single_analytic_shuffle(spark, sf_dir):
    """The lag flag, running island id, island agg, and closing
    lead() all reuse ONE user_id hashpartitioning (subset-key
    clustering satisfies the group-by distribution); the only other
    Exchange is the presentation ORDER BY rangepartitioning."""
    from bioio_spark.queries import REGISTRY

    plan = (REGISTRY["a38_scd2_intervals"].fn(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("hashpartitioning") <= 1
    assert plan.count("rangepartitioning") == 1
