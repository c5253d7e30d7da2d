"""Zarr v2 codec + OME-NGFF writer/reader roundtrips (the reference's
bioio-ome-zarr plugin surface, ref README.md:66,81)."""

import json
import os

import numpy as np
import pytest

from bioio_spark.formats.zarr import (build_ngff_attrs, build_zarray,
                                      decode_chunk, encode_chunk,
                                      parse_ngff_attrs, parse_zarray)
from bioio_spark.types import PhysicalPixelSizes


@pytest.mark.parametrize("compressor", ["zlib", None])
def test_chunk_codec_roundtrip(compressor):
    rng = np.random.default_rng(3)
    block = rng.integers(0, 65535, (1, 1, 2, 4, 5), dtype=np.uint16)
    data = encode_chunk(block, compressor=compressor)
    back = decode_chunk(data, block.dtype, block.shape,
                        compressor=compressor)
    np.testing.assert_array_equal(back, block)


def test_zarray_document_roundtrip():
    doc = build_zarray((2, 3, 4, 16, 20), (1, 1, 2, 8, 8), "uint16")
    za = parse_zarray(doc)
    assert za["shape"] == (2, 3, 4, 16, 20)
    assert za["chunks"] == (1, 1, 2, 8, 8)
    assert za["dtype"] == np.dtype("uint16")
    assert za["compressor"] == "zlib"
    assert za["dimension_separator"] == "."


def test_zarray_rejects_unsupported():
    bad = json.loads(build_zarray((2, 2), (1, 1), "uint8"))
    bad["compressor"] = {"id": "lzma"}
    with pytest.raises(ValueError, match="compressor"):
        parse_zarray(json.dumps(bad))
    bad2 = json.loads(build_zarray((2, 2), (1, 1), "uint8"))
    bad2["order"] = "F"
    with pytest.raises(ValueError, match="C-order"):
        parse_zarray(json.dumps(bad2))


def test_ngff_attrs_roundtrip():
    doc = build_ngff_attrs("demo", ["DAPI", "GFP"],
                           PhysicalPixelSizes(Z=2.0, Y=0.5, X=0.5))
    a = parse_ngff_attrs(doc)
    assert a["name"] == "demo"
    assert a["axes"] == "tczyx"
    assert a["level_paths"] == ["0"]
    assert a["scale"] == [1.0, 1.0, 2.0, 0.5, 0.5]
    assert a["channel_names"] == ["DAPI", "GFP"]


def test_save_and_bioimage_roundtrip(spark, tmp_path):
    """Full chain: BioImage -> chunked NGFF store -> BioImage; chunk grid
    does NOT divide the shape evenly, so edge-trim and fill-padding are on
    the path."""
    from bioio_spark import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(11)
    scenes = [rng.integers(0, 4096, (2, 2, 3, 5, 7), dtype=np.uint16),
              rng.integers(0, 4096, (1, 2, 2, 4, 6), dtype=np.uint16)]
    img = BioImage(scenes, channel_names=["a", "b"], spark=spark,
                   physical_pixel_sizes=PhysicalPixelSizes(1.0, 0.25, 0.25))
    out = str(tmp_path / "export")
    report = save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4))
    assert [r["scene_idx"] for r in report] == [0, 1]
    # scene 0 grid: 2*2*ceil(3/2)*ceil(5/3)*ceil(7/4) = 2*2*2*2*2 = 32
    assert report[0]["n_chunks"] == 32
    assert all(r["n_bytes"] > 0 for r in report)
    assert os.path.exists(
        os.path.join(out, "scene_0.zarr", "0", "0.0.0.0.0"))

    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    assert len(back.scenes) == 2
    assert back.dtype == np.dtype("uint16")
    assert back.physical_pixel_sizes == PhysicalPixelSizes(1.0, 0.25, 0.25)
    for i, arr in enumerate(scenes):
        back.set_scene(i)
        assert back.dims.order == "TCZYX"
        np.testing.assert_array_equal(back.get_image_data(), arr)


def test_single_store_suffix_routing(spark, tmp_path):
    """A path ending in .zarr routes without an explicit reader."""
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    a = np.arange(2 * 3 * 4, dtype=np.float32).reshape(1, 1, 2, 3, 4)
    img = BioImage(a, spark=spark, channel_names=["ch"])
    out = str(tmp_path / "one")
    save_ome_zarr(img, out)
    store = os.path.join(out, "scene_0.zarr")
    back = BioImage(store, spark=spark)  # suffix routing
    assert back.scenes == ("Image:0",)
    assert back.channel_names == ["ch"]
    assert back.dtype == np.dtype("float32")
    np.testing.assert_array_equal(back.get_image_data(), a)


def test_reads_foreign_store_slash_separator_zyx(spark, tmp_path):
    """Stores written by other tools: '/'-separated chunk keys, a bare
    zyx axes subset, no compressor."""
    root = tmp_path / "foreign.zarr"
    arr_dir = root / "0"
    shape, chunks = (3, 4, 5), (2, 3, 4)
    rng = np.random.default_rng(7)
    full = rng.integers(0, 255, shape, dtype=np.uint8)
    os.makedirs(arr_dir)
    (root / ".zgroup").write_text(json.dumps({"zarr_format": 2}))
    (root / ".zattrs").write_text(json.dumps({"multiscales": [{
        "version": "0.4",
        "axes": [{"name": n, "type": "space"} for n in "zyx"],
        "datasets": [{"path": "0"}]}]}))
    zdoc = json.loads(build_zarray(shape, chunks, "uint8",
                                   compressor=None))
    zdoc["dimension_separator"] = "/"
    (arr_dir / ".zarray").write_text(json.dumps(zdoc))
    import math
    for gz in range(math.ceil(shape[0] / chunks[0])):
        for gy in range(math.ceil(shape[1] / chunks[1])):
            for gx in range(math.ceil(shape[2] / chunks[2])):
                block = np.zeros(chunks, dtype=np.uint8)
                sl = tuple(slice(g * c, min((g + 1) * c, s))
                           for g, c, s in zip((gz, gy, gx), chunks, shape))
                ext = tuple(s.stop - s.start for s in sl)
                block[tuple(slice(0, e) for e in ext)] = full[sl]
                d = arr_dir / str(gz) / str(gy)
                os.makedirs(d, exist_ok=True)
                (d / str(gx)).write_bytes(
                    encode_chunk(block, compressor=None))

    from bioio_spark import BioImage
    img = BioImage(str(root), spark=spark)
    assert img.dims["ZYX"] == shape
    np.testing.assert_array_equal(img.get_image_data()[0, 0], full)


def test_multiscale_pyramid_roundtrip(spark, tmp_path):
    """n_levels>1 writes the NGFF multiscale pyramid (C4 producer inline);
    the reader exposes every dataset path as a selectable res level."""
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    # deterministic ramp so 2x2 block means are exact .25-grid values
    a = (np.arange(1 * 1 * 1 * 6 * 8, dtype=np.float64)
         .reshape(1, 1, 1, 6, 8))
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "pyr")
    save_ome_zarr(img, out, chunks=(1, 1, 1, 4, 4), n_levels=3)
    store = os.path.join(out, "scene_0.zarr")
    attrs = json.loads(open(os.path.join(store, ".zattrs")).read())
    assert [d["path"] for d in
            attrs["multiscales"][0]["datasets"]] == ["0", "1", "2"]
    # level scale doubles y/x per level
    assert attrs["multiscales"][0]["datasets"][2][
        "coordinateTransformations"][0]["scale"][-1] == 4.0

    back = BioImage(store, spark=spark)
    assert back.resolution_levels == (0, 1, 2)
    assert back.resolution_level_dims[1][-2:] == (3, 4)
    assert back.resolution_level_dims[2][-2:] == (2, 2)
    np.testing.assert_array_equal(back.get_image_data(), a)
    back.set_resolution_level(1)
    expect1 = a.reshape(1, 1, 1, 3, 2, 4, 2).mean(axis=(4, 6))
    np.testing.assert_array_equal(back.get_image_data(), expect1)
    back.set_resolution_level(2)
    # ragged edge: level-2 x = ceil(4/2) = 2
    assert back.get_image_data().shape == (1, 1, 1, 2, 2)


def test_multiscale_integer_dtype_rounds(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    a = np.array([[0, 1], [2, 4]], dtype=np.uint8).reshape(1, 1, 1, 2, 2)
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "ri")
    save_ome_zarr(img, out, chunks=(1, 1, 1, 2, 2), n_levels=2)
    back = BioImage(os.path.join(out, "scene_0.zarr"), spark=spark)
    back.set_resolution_level(1)
    # mean 1.75 -> rint -> 2, stored back in uint8
    np.testing.assert_array_equal(
        back.get_image_data(), np.array([[[[[2]]]]], dtype=np.uint8))
    assert back.dtype == np.dtype("uint8")


def test_ome_zarr_writer_class_and_save_routing(spark, tmp_path):
    """Registry OmeZarrWriter (ndarray, driver-side) + BioImage.save
    suffix routing to the chunked NGFF sink."""
    from bioio_spark import BioImage
    from bioio_spark.writers import WRITER_REGISTRY, OmeZarrWriter

    assert WRITER_REGISTRY["OmeZarrWriter"] is OmeZarrWriter
    a = np.arange(3 * 4 * 5, dtype=np.uint16).reshape(3, 4, 5)
    store = str(tmp_path / "w.zarr")
    OmeZarrWriter.save(a, store, dim_order="ZYX", channel_names=["c0"],
                       chunks=(1, 1, 2, 3, 4))
    back = BioImage(store, spark=spark)
    assert back.channel_names == ["c0"]
    np.testing.assert_array_equal(back.get_image_data()[0, 0], a)

    img = BioImage(a, dim_order="ZYX", spark=spark)
    out = str(tmp_path / "routed.ome.zarr")
    img.save(out)   # suffix-routed to save_ome_zarr
    back2 = BioImage(os.path.join(out, "scene_0.zarr"), spark=spark)
    np.testing.assert_array_equal(back2.get_image_data()[0, 0], a)


def test_window_chunk_keys_arithmetic(spark, tmp_path):
    """Window pruning is pure arithmetic over the array document: the
    plan rows a windowed read decodes are O(window/chunk), independent
    of store size — planned from a store that holds no chunk file."""
    from bioio_spark import BioImage

    shape, chunks = (4, 2, 10, 100, 100), (1, 1, 2, 32, 32)
    root = tmp_path / "meta_only.zarr"
    (root / "0").mkdir(parents=True)
    (root / ".zattrs").write_text(build_ngff_attrs(None, None))
    (root / "0" / ".zarray").write_text(build_zarray(shape, chunks,
                                                     "uint8"))
    img = BioImage(str(root), spark=spark)
    reader = img._reader
    # one z-plane window in a corner
    rows, _ = reader.window_rows(img, t=1, c=0, z=4, y=(0, 40),
                                 x=(0, 40))
    assert len(rows) == 1 * 1 * 1 * 2 * 2
    first = rows.iloc[0]
    assert (first.t, first.c, first.z, first.y0, first.x0) == \
        (1, 0, 4, 0, 0)
    # full-store window = full grid
    rows, _ = reader.window_rows(img)
    assert len(rows) == 4 * 2 * 5 * 4 * 4


def test_read_zarr_window_prunes_and_matches(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(23)
    a = rng.integers(0, 1000, (2, 2, 4, 8, 9), dtype=np.uint16)
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "w")
    save_ome_zarr(img, out, chunks=(1, 1, 2, 3, 4))
    store = os.path.join(out, "scene_0.zarr")

    back = BioImage(store, spark=spark)
    df = back.read_window(t=1, z=(1, 3), y=range(2, 7),
                          x=(0, 9)).toPandas()
    want = a[1, :, 1:3, 2:7, :]
    assert len(df) == want.size
    got = np.zeros_like(want)
    got[df["c"], df["z"] - 1, df["y"] - 2, df["x"]] = df["value"]
    np.testing.assert_array_equal(got, want)
    # single-pixel probe
    one = back.read_window(t=0, c=1, z=3, y=7, x=8).toPandas()
    assert len(one) == 1 and one["value"].iloc[0] == a[0, 1, 3, 7, 8]


def _write_v3_store(root, full, chunks, gzip_codec=True):
    """Hand-built Zarr v3 / NGFF 0.5 store: group zarr.json with
    attributes.ome, array zarr.json, chunks under the 'c/' default
    key encoding."""
    import gzip as _gzip
    import math

    arr_dir = root / "0"
    os.makedirs(arr_dir)
    (root / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "group",
        "attributes": {"ome": {"version": "0.5", "multiscales": [{
            "axes": [{"name": n, "type": "space"} for n in "zyx"],
            "datasets": [{"path": "0", "coordinateTransformations":
                          [{"type": "scale", "scale": [1.0, 0.5, 0.5]}]}],
        }], "omero": {"channels": [{"label": "c0"}]}}}}))
    codecs = [{"name": "bytes", "configuration": {"endian": "little"}}]
    if gzip_codec:
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    (arr_dir / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array",
        "shape": list(full.shape), "data_type": str(full.dtype),
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0, "codecs": codecs}))
    grid = [math.ceil(s / c) for s, c in zip(full.shape, chunks)]
    for idx in np.ndindex(*grid):
        block = np.zeros(chunks, dtype=full.dtype)
        sl = tuple(slice(g * c, min((g + 1) * c, s))
                   for g, c, s in zip(idx, chunks, full.shape))
        ext = tuple(s.stop - s.start for s in sl)
        block[tuple(slice(0, e) for e in ext)] = full[sl]
        d = arr_dir / "c" / "/".join(str(i) for i in idx[:-1])
        os.makedirs(d, exist_ok=True)
        raw = block.tobytes()
        (d / str(idx[-1])).write_bytes(
            _gzip.compress(raw, 1) if gzip_codec else raw)


def test_reads_zarr_v3_ngff05_store(spark, tmp_path):
    """Zarr v3 (NGFF 0.5): zarr.json metadata, 'c/'-prefixed keys, gzip
    codec chain — the reference's OMEZarrWriter 0.5 output shape."""
    from bioio_spark import BioImage
    from bioio_spark.types import PhysicalPixelSizes

    rng = np.random.default_rng(31)
    full = rng.integers(0, 4096, (3, 5, 7), dtype=np.uint16)
    root = tmp_path / "v3.zarr"
    _write_v3_store(root, full, (2, 3, 4))

    img = BioImage(str(root), spark=spark)
    assert img.dims["ZYX"] == full.shape
    assert img.channel_names == ["c0"]
    assert img.physical_pixel_sizes == PhysicalPixelSizes(1.0, 0.5, 0.5)
    np.testing.assert_array_equal(img.get_image_data()[0, 0], full)


def test_zarr_v3_window_read(spark, tmp_path):
    from bioio_spark import BioImage

    rng = np.random.default_rng(37)
    full = rng.integers(0, 255, (4, 6, 8), dtype=np.uint8)
    root = tmp_path / "v3w.zarr"
    _write_v3_store(root, full, (2, 2, 3), gzip_codec=False)

    df = BioImage(str(root), spark=spark).read_window(
        z=(1, 3), y=2, x=(3, 7)).toPandas()
    want = full[1:3, 2, 3:7]
    assert len(df) == want.size
    got = np.zeros_like(want)
    got[df["z"] - 1, df["x"] - 3] = df["value"]
    np.testing.assert_array_equal(got, want)


def _write_v3_bare_array(root, full, chunks):
    """Zarr v3 bare ARRAY store: zarr.json with node_type=array at the
    root, no group / multiscales wrapper — the layout zarr-python writes
    for `zarr.save_array`."""
    import math

    os.makedirs(root)
    (root / "zarr.json").write_text(json.dumps({
        "zarr_format": 3, "node_type": "array",
        "shape": list(full.shape), "data_type": str(full.dtype),
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": list(chunks)}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [{"name": "bytes",
                    "configuration": {"endian": "little"}}]}))
    grid = [math.ceil(s / c) for s, c in zip(full.shape, chunks)]
    for idx in np.ndindex(*grid):
        block = np.zeros(chunks, dtype=full.dtype)
        sl = tuple(slice(g * c, min((g + 1) * c, s))
                   for g, c, s in zip(idx, chunks, full.shape))
        ext = tuple(s.stop - s.start for s in sl)
        block[tuple(slice(0, e) for e in ext)] = full[sl]
        d = root / "c" / "/".join(str(i) for i in idx[:-1])
        os.makedirs(d, exist_ok=True)
        (d / str(idx[-1])).write_bytes(block.tobytes())


def test_zarr_v3_bare_array_low_rank(spark, tmp_path):
    """Regression: a bare v3 array store of rank < 5 must derive axes
    from the array's real shape ('tczyx'[-rank:]), not default to 5D —
    the 5D default mis-bound z/y/x selectors to t/c/z and the chunk
    enumerator raised IndexError."""
    from bioio_spark import BioImage

    rng = np.random.default_rng(41)
    full = rng.integers(0, 255, (4, 6, 8), dtype=np.uint8)
    root = tmp_path / "bare3.zarr"
    _write_v3_bare_array(root, full, (2, 3, 3))

    df = BioImage(str(root), spark=spark).read_window(
        z=(1, 3), y=2, x=(3, 7)).toPandas()
    want = full[1:3, 2, 3:7]
    assert len(df) == want.size
    got = np.zeros_like(want)
    got[df["z"] - 1, df["x"] - 3] = df["value"]
    np.testing.assert_array_equal(got, want)

    img = BioImage(str(root), spark=spark)
    assert img.dims["ZYX"] == full.shape
    np.testing.assert_array_equal(img.get_image_data()[0, 0], full)


def test_read_zarr_planes_zero_shuffle_equivalence(spark, tmp_path):
    """Chunk -> planes-layout read: ZERO exchanges in the plan, and
    planes_to_pixels over the result equals the long-form reader."""
    from bioio_spark import BioImage
    from bioio_spark.operators.planes import planes_to_pixels
    from bioio_spark.plans import physical_plan, shuffle_count
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(61)
    a = rng.integers(0, 4096, (2, 2, 3, 5, 7), dtype=np.uint16)
    img = BioImage(a, spark=spark)
    out = str(tmp_path / "pl")
    save_ome_zarr(img, out, chunks=(1, 2, 2, 3, 4))
    store = os.path.join(out, "scene_0.zarr")

    planes = BioImage(store, spark=spark).get_planes_dataframe()
    assert shuffle_count(planes) == 0
    # chunk (1,2,2,...) -> each chunk carries up to 1*2*2 = 4 tile rows
    n_tiles = planes.count()
    # total tile rows = t*c*z * ceil(5/3)*ceil(7/4) = 12 * 2 * 2
    assert n_tiles == 2 * 2 * 3 * 2 * 2

    px = planes_to_pixels(planes).select("t", "c", "z", "y", "x", "value")
    got = {tuple(r) for r in px.collect()}
    want_df = BioImage(store, spark=spark).get_image_dataframe()
    want = {tuple(r) for r in
            want_df.select("t", "c", "z", "y", "x", "value").collect()}
    assert got == want


def test_read_zarr_planes_v3(spark, tmp_path):
    from bioio_spark import BioImage
    from bioio_spark.operators.planes import planes_to_pixels

    rng = np.random.default_rng(67)
    full = rng.integers(0, 255, (4, 6, 8), dtype=np.uint8)  # zyx
    root = tmp_path / "v3p.zarr"
    _write_v3_store(root, full, (2, 3, 4))
    planes = BioImage(str(root), spark=spark).get_planes_dataframe()
    px = planes_to_pixels(planes).toPandas()
    got = np.zeros_like(full)
    got[px["z"], px["y"], px["x"]] = px["value"]
    np.testing.assert_array_equal(got, full)


def test_save_ome_zarr_v3_ngff05_roundtrip(spark, tmp_path):
    """NGFF 0.5 / Zarr v3 WRITE: group + array zarr.json, attributes.ome,
    'c/'-prefixed '/'-separated chunk keys, bytes+gzip codecs — read back
    through the v3 source path with pyramid, channels and pixel sizes
    intact."""
    from bioio_spark import BioImage
    from bioio_spark.types import PhysicalPixelSizes
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(43)
    arr = rng.integers(0, 60000, (2, 2, 3, 5, 6), dtype=np.uint16)
    img = BioImage(arr, channel_names=["DAPI", "GFP"],
                   physical_pixel_sizes=PhysicalPixelSizes(2.0, 0.5, 0.5))
    out = tmp_path / "v3out.ome.zarr"
    rep = save_ome_zarr(img, str(out), chunks=(1, 1, 2, 3, 4),
                        ngff_version="0.5", n_levels=2)
    assert rep[0]["n_chunks"] > 0

    scene = out / "scene_0.zarr"
    top = json.loads((scene / "zarr.json").read_text())
    assert top["node_type"] == "group"
    ome = top["attributes"]["ome"]
    assert ome["version"] == "0.5"
    assert [d["path"] for d in ome["multiscales"][0]["datasets"]] == \
        ["0", "1"]
    arr_doc = json.loads((scene / "0" / "zarr.json").read_text())
    assert [c["name"] for c in arr_doc["codecs"]] == ["bytes", "gzip"]
    assert (scene / "0" / "c" / "0" / "0" / "0" / "0" / "0").exists()
    assert not (scene / ".zgroup").exists()

    back = BioImage(str(scene), spark=spark)
    np.testing.assert_array_equal(back.data, arr)
    assert back.channel_names == ["DAPI", "GFP"]
    assert back.physical_pixel_sizes == PhysicalPixelSizes(2.0, 0.5, 0.5)
    back.set_resolution_level(1)
    assert back.dims["YX"] == (3, 3)

    with pytest.raises(ValueError, match="NGFF version"):
        save_ome_zarr(img, str(tmp_path / "bad"), ngff_version="0.6")


# -- Zarr v3 sharding_indexed ----------------------------------------------

def test_crc32c_pinned():
    """Published CRC-32C check value + empty-input identity."""
    from bioio_spark.formats.zarr import crc32c

    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


def test_shard_encode_parse_index():
    from bioio_spark.formats.zarr import encode_shard, parse_shard_index

    rng = np.random.default_rng(3)
    block = rng.integers(1, 100, (4, 6)).astype(np.uint16)
    block[0:2, 0:3] = 0          # all-fill inner chunk -> elided
    data = encode_shard(block, (2, 3), compressor="zlib")
    idx = parse_shard_index(data, 4)
    assert idx.shape == (4, 2)
    missing = 0xFFFFFFFFFFFFFFFF
    assert tuple(idx[0]) == (missing, missing)
    assert all(int(idx[i, 0]) != missing for i in (1, 2, 3))
    # offsets are contiguous ascending within the body
    assert int(idx[1, 0]) == 0
    assert int(idx[2, 0]) == int(idx[1, 0]) + int(idx[1, 1])


def test_shard_index_crc_guard():
    from bioio_spark.formats.zarr import encode_shard, parse_shard_index

    data = bytearray(encode_shard(np.ones((2, 2), np.uint8), (1, 2)))
    data[-1] ^= 0xFF
    with pytest.raises(ValueError, match="crc32c"):
        parse_shard_index(bytes(data), 2)


@pytest.mark.parametrize("crc,loc", [(True, "end"), (False, "start")])
def test_shard_block_roundtrip(crc, loc):
    from bioio_spark.formats.zarr import encode_shard, iter_decoded_blocks

    rng = np.random.default_rng(5)
    block = rng.integers(0, 9, (4, 6, 8)).astype(np.int32)
    data = encode_shard(block, (2, 3, 4), compressor="zlib",
                        crc=crc, index_location=loc)
    info = {"shape": (4, 6, 8), "chunks": (4, 6, 8), "dtype": "<i4",
            "compressor": "zlib", "gzip_member": True,
            "shard": {"inner_chunks": (2, 3, 4), "crc": crc,
                      "index_location": loc}}
    out = np.full((4, 6, 8), -1, np.int32)
    for origin, b in iter_decoded_blocks(data, info, (0, 0, 0)):
        sl = tuple(slice(o, o + n) for o, n in zip(origin, b.shape))
        out[sl] = b
    np.testing.assert_array_equal(out, block)


def test_shard_window_prunes_inner_chunks(spark, tmp_path):
    """A sharded plan holds one row per inner chunk, so a window keeps
    only the inner chunks it meets (the rest are never inflated), and
    an inner chunk overhanging the array edge trims to it."""
    from bioio_spark import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    a = (np.arange(3)[:, None] * 10 + np.arange(6) + 1).astype(
        np.uint8).reshape(1, 1, 1, 3, 6)
    out = str(tmp_path / "edge")
    save_ome_zarr(BioImage(a, spark=spark), out, chunks=(1, 1, 1, 2, 3),
                  shards=(1, 1, 1, 4, 6), ngff_version="0.5")
    img = BioImage(out + "/scene_0.zarr", spark=spark)
    reader = img._reader
    assert len(reader.window_rows(img)[0]) == 4     # one shard, 2x2
    rows, _ = reader.window_rows(img, y=(0, 2), x=(3, 6))
    assert len(rows) == 1 and (rows.y0.iloc[0], rows.x0.iloc[0]) == (0, 3)
    [(r, tile)] = ZarrImageReader.decode_tiles(rows)
    np.testing.assert_array_equal(tile, a[0, 0, 0, 0:2, 3:6])
    # rows 2.. of the shard trim to the 3-row array: window over row 2
    rows, _ = reader.window_rows(img, y=2)
    assert sorted(zip(rows.y0, rows.x0)) == [(2, 0), (2, 3)]
    got = list(ZarrImageReader.decode_tiles(rows))
    assert all(tile.shape == (1, 3) for _, tile in got)
    for r, tile in got:
        np.testing.assert_array_equal(tile, a[0, 0, 0, 2:3,
                                              r.x0:r.x0 + 3])


def test_missing_inner_chunk_decodes_as_fill_value():
    """An all-zero inner chunk is stored as missing; decoding reads it
    back as the array's fill_value, the rest exactly."""
    from bioio_spark.formats.zarr import encode_shard, iter_decoded_blocks

    block = np.arange(1, 25, dtype=np.uint16).reshape(4, 6)
    block[0:2, 3:6] = 0
    data = encode_shard(block, (2, 3), compressor="zlib")
    info = {"shape": (4, 6), "chunks": (4, 6), "dtype": "<u2",
            "compressor": "zlib", "gzip_member": True, "fill_value": 5,
            "shard": {"inner_chunks": (2, 3), "crc": True,
                      "index_location": "end"}}
    out = np.zeros((4, 6), np.uint16)
    for origin, b in iter_decoded_blocks(data, info, (0, 0)):
        out[origin[0]:origin[0] + 2, origin[1]:origin[1] + 3] = b
    want = block.copy()
    want[0:2, 3:6] = 5
    np.testing.assert_array_equal(out, want)


def test_truncated_shard_file_fails_loudly(tmp_path):
    """A shard read through ranged reads whose object is shorter than
    its index raises the codec's clear error, not a failed seek."""
    import functools

    from bioio_spark.formats.zarr import encode_shard, iter_decoded_blocks
    from bioio_spark.fsio import read_range

    data = encode_shard(np.ones((2, 2), np.uint8), (1, 2))
    p = tmp_path / "shard"
    p.write_bytes(data[-10:])
    info = {"shape": (2, 2), "chunks": (2, 2), "dtype": "|u1",
            "compressor": "zlib", "gzip_member": True,
            "shard": {"inner_chunks": (1, 2), "crc": True,
                      "index_location": "end"}}
    with pytest.raises(ValueError, match="too small"):
        list(iter_decoded_blocks(functools.partial(read_range, str(p)),
                                 info, (0, 0)))


def test_zarr3_array_doc_sharded_roundtrip():
    from bioio_spark.formats.zarr import build_zarr3_array, parse_zarr3_array

    doc = build_zarr3_array((8, 12), (2, 3), "uint16", shard_shape=(4, 6))
    d = json.loads(doc)
    assert d["codecs"][0]["name"] == "sharding_indexed"
    assert d["chunk_grid"]["configuration"]["chunk_shape"] == [4, 6]
    za = parse_zarr3_array(doc)
    assert za["chunks"] == (4, 6)            # stored-object granularity
    assert za["shard"]["inner_chunks"] == (2, 3)
    assert za["shard"]["crc"] and za["shard"]["index_location"] == "end"
    with pytest.raises(ValueError, match="divisible"):
        build_zarr3_array((8, 12), (3, 3), "uint16", shard_shape=(4, 6))


def test_save_ome_zarr_sharded_roundtrip(spark, tmp_path):
    """NGFF 0.5 sharded save -> BioImage read, window read, and the
    stored-object count: shards, not chunks."""
    import shutil

    from bioio_spark import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    idx = np.indices((2, 2, 2, 8, 12))
    block = (idx[0] * 10000 + idx[1] * 1000 + idx[2] * 100
             + idx[3] * 10 + idx[4]).astype(np.uint32)
    out = str(tmp_path / "sharded")
    rep = save_ome_zarr(BioImage(block, spark=spark), out,
                        chunks=(1, 1, 1, 4, 4), shards=(2, 2, 2, 8, 8),
                        ngff_version="0.5")
    store = os.path.join(out, "scene_0.zarr")
    objs = [f for r, _, fs in os.walk(os.path.join(store, "0", "c"))
            for f in fs]
    assert len(objs) == 2                    # 12/8 -> 2 x-shards
    assert rep[0]["n_chunks"] == 2
    back = BioImage(store, reader=ZarrImageReader, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint32), block)
    w = back.read_window(t=1, c=0, z=(0, 2), y=(2, 6),
                         x=(3, 9)).toPandas()
    exp = block[1, 0, 0:2, 2:6, 3:9]
    win = np.zeros_like(exp)
    win[w["z"], w["y"] - 2, w["x"] - 3] = w["value"].astype(np.uint32)
    np.testing.assert_array_equal(win, exp)


def test_save_ome_zarr_sharded_requires_v3(spark):
    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_zarr

    with pytest.raises(ValueError, match="0.5"):
        save_ome_zarr(BioImage(np.zeros((1, 1, 1, 4, 4)), spark=spark),
                      "/tmp/never", shards=(1, 1, 1, 4, 4),
                      ngff_version="0.4")


# -- zstd compressor (v2 numcodecs id + v3 codec) --------------------------

def test_chunk_codec_zstd_roundtrip():
    from bioio_spark.formats.zarr import (decode_chunk, decode_chunk_v3,
                                          encode_chunk, encode_chunk_v3)

    rng = np.random.default_rng(11)
    block = rng.integers(0, 65535, (3, 4, 5)).astype(np.uint16)
    v2 = encode_chunk(block, compressor="zstd")
    np.testing.assert_array_equal(
        decode_chunk(v2, block.dtype, block.shape, "zstd"), block)
    v3 = encode_chunk_v3(block, compressor="zstd")
    np.testing.assert_array_equal(
        decode_chunk_v3(v3, block.dtype, block.shape, "zstd"), block)
    # v2 and v3 zstd frames are the same wire format (raw frames)
    np.testing.assert_array_equal(
        decode_chunk_v3(v2, block.dtype, block.shape, "zstd"), block)


def test_zarray_zstd_documents():
    from bioio_spark.formats.zarr import (build_zarr3_array, build_zarray,
                                          parse_zarr3_array, parse_zarray)

    za = parse_zarray(build_zarray((4, 4), (2, 2), "u2",
                                   compressor="zstd"))
    assert za["compressor"] == "zstd"
    z3 = parse_zarr3_array(build_zarr3_array((4, 4), (2, 2), "uint16",
                                             compressor="zstd"))
    assert z3["compressor"] == "zstd"
    assert z3["gzip_member"] is True   # "use the v3 decoder" flag


def test_zarr_v2_zstd_store_roundtrip(spark, tmp_path):
    """A v2 store written with the numcodecs zstd id reads back through
    the full BioImage path."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(13)
    block = rng.integers(0, 65535, (1, 2, 2, 6, 8)).astype(np.uint16)
    out = str(tmp_path / "v2zstd_out")
    save_ome_zarr(BioImage(block, spark=spark), out,
                  chunks=(1, 1, 1, 4, 4), compressor="zstd")
    import json
    import os
    zarray = json.loads(
        open(os.path.join(out, "scene_0.zarr", "0", ".zarray")).read())
    assert zarray["compressor"]["id"] == "zstd"
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint16), block)


def test_zarr_v3_sharded_zstd_roundtrip(spark, tmp_path):
    """sharding_indexed with zstd inner codecs (the zarr-python 3
    sharded default): inner chunks are raw zstd frames inside shards."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    rng = np.random.default_rng(17)
    block = rng.integers(0, 65535, (1, 1, 2, 8, 8)).astype(np.uint16)
    out = str(tmp_path / "v3szstd_out")
    save_ome_zarr(BioImage(block, spark=spark), out,
                  chunks=(1, 1, 1, 4, 4), shards=(1, 1, 2, 8, 8),
                  ngff_version="0.5", compressor="zstd")
    back = BioImage(out, reader=ZarrImageReader, spark=spark)
    np.testing.assert_array_equal(
        back.get_image_data("TCZYX").astype(np.uint16), block)


def test_wild_zarr_python3_document_and_store(spark, tmp_path):
    """A v3 store laid out exactly as zarr-python 3 writes it (array
    zarr.json field order/defaults, zstd codec with level+checksum
    config, 'c/' chunk keys) decodes through the full reader path —
    pins the parser against the wild producer, not just our own
    writer."""
    import json

    from bioio_spark.bio_image import BioImage
    from bioio_spark.formats.zarr import encode_chunk_v3
    from bioio_spark.sources.zarr_image import ZarrImageReader

    root = tmp_path / "wild.zarr"
    (root / "0").mkdir(parents=True)
    # group zarr.json: NGFF 0.5 attributes under attributes.ome
    (root / "zarr.json").write_text(json.dumps({
        "attributes": {"ome": {
            "version": "0.5",
            "multiscales": [{
                "axes": [
                    {"name": "z", "type": "space", "unit": "micrometer"},
                    {"name": "y", "type": "space", "unit": "micrometer"},
                    {"name": "x", "type": "space", "unit": "micrometer"},
                ],
                "datasets": [{
                    "path": "0",
                    "coordinateTransformations": [
                        {"scale": [1.0, 0.5, 0.5], "type": "scale"}],
                }],
            }],
        }},
        "zarr_format": 3, "node_type": "group", "consolidated_metadata":
        None}))
    # array zarr.json in zarr-python 3's own field order and codec form
    (root / "0" / "zarr.json").write_text(json.dumps({
        "shape": [3, 4, 5],
        "data_type": "uint16",
        "chunk_grid": {"name": "regular",
                       "configuration": {"chunk_shape": [2, 2, 3]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": 0,
        "codecs": [
            {"name": "bytes", "configuration": {"endian": "little"}},
            {"name": "zstd",
             "configuration": {"level": 0, "checksum": False}},
        ],
        "attributes": {},
        "zarr_format": 3,
        "node_type": "array",
        "storage_transformers": [],
    }))
    rng = np.random.default_rng(47)
    full = rng.integers(0, 65535, (3, 4, 5)).astype(np.uint16)
    import math
    for gz in range(math.ceil(3 / 2)):
        for gy in range(math.ceil(4 / 2)):
            for gx in range(math.ceil(5 / 3)):
                block = np.zeros((2, 2, 3), np.uint16)
                sl = tuple(slice(g * c, min((g + 1) * c, s))
                           for g, c, s in zip((gz, gy, gx), (2, 2, 3),
                                              (3, 4, 5)))
                ext = tuple(x.stop - x.start for x in sl)
                block[tuple(slice(0, e) for e in ext)] = full[sl]
                d = root / "0" / "c" / str(gz) / str(gy)
                d.mkdir(parents=True, exist_ok=True)
                (d / str(gx)).write_bytes(
                    encode_chunk_v3(block, compressor="zstd"))

    img = BioImage(str(root), reader=ZarrImageReader, spark=spark)
    assert img.dims["ZYX"] == (3, 4, 5)
    assert img.physical_pixel_sizes.Y == 0.5
    np.testing.assert_array_equal(
        img.get_image_data("ZYX").astype(np.uint16), full)
