"""S10 writer surface: scene-partitioned parquet sink roundtrip + the
OME-TIFF stub contract (real registry, gated encode)."""

import numpy as np
import pytest

from bioio_spark.bio_image import BioImage
from bioio_spark.writers import WRITER_REGISTRY, OmeTiffWriter, save_parquet


def test_save_parquet_roundtrip(spark, tmp_path):
    a = np.arange(24, dtype=np.float64).reshape(2, 3, 4)
    b = np.arange(24, 48, dtype=np.float64).reshape(2, 3, 4)
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    uri = str(tmp_path / "img.parquet")
    save_parquet(img, uri)

    back = spark.read.parquet(uri)
    assert back.count() == 48
    # partition values preserved per scene
    assert {r["scene_idx"] for r in
            back.select("scene_idx").distinct().collect()} == {0, 1}
    got = (back.filter("scene_idx = 1").orderBy("c", "y", "x")
           .select("value").toPandas()["value"].to_numpy())
    np.testing.assert_array_equal(got, b.ravel())


def test_save_parquet_scene_selection(spark, tmp_path):
    a = np.zeros((1, 2, 2))
    b = np.ones((1, 2, 2))
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    uri = str(tmp_path / "sel.parquet")
    save_parquet(img, uri, select_scenes=[1])
    back = spark.read.parquet(uri)
    assert back.select("scene_idx").distinct().collect()[0][0] == 1
    # save must not disturb the handle's current scene
    assert img.current_scene_index == 0


def test_ome_tiff_writer_is_registered_and_real(tmp_path):
    import numpy as np

    from bioio_spark.formats.tiff import decode_ome_tiff

    assert WRITER_REGISTRY["OmeTiffWriter"] is OmeTiffWriter
    path = str(tmp_path / "x.ome.tiff")
    OmeTiffWriter.save(np.ones((2, 3), dtype=np.uint8), uri=path)
    block, xml = decode_ome_tiff(open(path, "rb").read())
    assert block.shape == (1, 1, 1, 2, 3)
    assert 'Type="uint8"' in xml


def test_parquet_image_full_roundtrip(spark, tmp_path):
    """save_parquet -> read_parquet_image -> BioImage: scenes, dims, and
    pixel values all survive the native sink."""
    import numpy as np

    from bioio_spark.writers import read_parquet_image

    a = np.arange(24, dtype=np.float64).reshape(2, 3, 4)
    b = np.arange(24, 48, dtype=np.float64).reshape(2, 3, 4)
    img = BioImage([a, b], dim_order="CYX", spark=spark)
    uri = str(tmp_path / "rt.parquet")
    save_parquet(img, uri)

    back = BioImage(read_parquet_image(spark, uri), spark=spark)
    # the sink stores the standardized TCZYX frame, so the reload is 5D
    assert back.scenes == ("Image:0", "Image:1")
    assert back.shape == (1, 2, 1, 3, 4)
    assert back.channel_names == ["Channel:0:0", "Channel:0:1"]
    np.testing.assert_array_equal(back.data[0, :, 0], a)
    back.set_scene(1)
    np.testing.assert_array_equal(back.data[0, :, 0], b)


def test_bioimage_routes_parquet_path(spark, tmp_path):
    """BioImage('*.parquet') routes to the native-format reader."""
    import numpy as np

    a = np.arange(12, dtype=np.float64).reshape(3, 4)
    img = BioImage(a, dim_order="YX", spark=spark)
    uri = str(tmp_path / "route.parquet")
    save_parquet(img, uri)

    back = BioImage(uri, spark=spark)
    assert back.shape == (1, 1, 1, 3, 4)
    np.testing.assert_array_equal(back.data[0, 0, 0], a)
    # imread entry point works on parquet too
    from bioio_spark.bio_image import imread
    np.testing.assert_array_equal(imread(uri)[0, 0, 0], a)


def test_save_parquet_preserves_dtype_and_scene_ids(spark, tmp_path):
    """The _catalog sidecar carries the native dtype and original scene
    ids through a save/load roundtrip (ADVICE r1: reload must not
    collapse everything to float64)."""
    from bioio_spark.writers import read_parquet_image

    a = np.arange(24, dtype=np.uint16).reshape(2, 3, 4)
    img = BioImage(
        [a], dim_order="CYX", channel_names=[["red", "green"]], spark=spark)
    orig_scene = img.current_scene
    uri = str(tmp_path / "dt.parquet")
    save_parquet(img, uri)

    back = BioImage(read_parquet_image(spark, uri), spark=spark)
    assert back.dtype == np.dtype("uint16")
    assert back.current_scene == orig_scene
    assert back.channel_names == ["red", "green"]
    arr = back.data
    assert arr.dtype == np.dtype("uint16")
    np.testing.assert_array_equal(arr, a.reshape(1, 2, 1, 3, 4))


def test_get_image_data_preserves_native_dtype(spark):
    """BioImage.data / get_image_data return the cataloged dtype, not the
    relational DOUBLE carrier type."""
    a = (np.arange(12, dtype=np.int32) - 6).reshape(3, 4)
    img = BioImage(a, dim_order="YX", spark=spark)
    assert img.data.dtype == np.dtype("int32")
    sel = img.get_image_data("YX", Y=[0, 2])
    assert sel.dtype == np.dtype("int32")
    np.testing.assert_array_equal(sel, a[[0, 2]])
    # max/min projections preserve dtype; mean promotes (numpy semantics)
    assert img.project_data("Y", "max").dtype == np.dtype("int32")
    assert img.project_data("Y", "mean").dtype == np.dtype("float64")


def test_save_ome_tiff_single_file_multiscene(spark, tmp_path):
    """Multi-scene single-file export -> one OME-TIFF with two <Image>
    elements -> BioImage reads both scenes back identically."""
    import numpy as np

    from bioio_spark import BioImage
    from bioio_spark.writers import save_ome_tiff_single_file

    rng = np.random.default_rng(59)
    a = rng.integers(0, 4096, (2, 1, 3, 4), dtype=np.uint16)   # CZYX
    b = rng.integers(0, 4096, (1, 2, 3, 4), dtype=np.uint16)
    img = BioImage([a, b], dim_order="CZYX", spark=spark,
                   channel_names=[["m0", "m1"], ["solo"]])
    p = str(tmp_path / "all.ome.tiff")
    rep = save_ome_tiff_single_file(img, p, compression=8)
    assert rep["n_scenes"] == 2 and rep["n_pages"] == 2 + 2

    back = BioImage(p, spark=spark)
    assert back.scenes == ("Image:0", "Image:1")
    assert back.channel_names == ["m0", "m1"]
    np.testing.assert_array_equal(back.data[0], a)
    back.set_scene(1)
    assert back.channel_names == ["solo"]
    np.testing.assert_array_equal(back.data[0], b)

    # scene selection mirrors save(select_scenes=...)
    one = str(tmp_path / "one.ome.tiff")
    save_ome_tiff_single_file(img, one, select_scenes=[1])
    only = BioImage(one, spark=spark)
    assert len(only.scenes) == 1
    np.testing.assert_array_equal(only.data[0], b)


def test_bioimage_save_tiff_writes_one_file(spark, tmp_path):
    """ref bio_image.py:1229-1301: BioImage.save(uri) writes ONE OME-TIFF
    holding every selected scene — a real file, not a directory."""
    import os

    import numpy as np

    from bioio_spark import BioImage

    a = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(2, 3, 4)
    b = (np.arange(2 * 3 * 4, dtype=np.uint16) + 100).reshape(2, 3, 4)
    img = BioImage([a, b], dim_order="ZYX", spark=spark)
    p = str(tmp_path / "all.ome.tiff")
    img.save(p)
    assert os.path.isfile(p)
    back = BioImage(p, spark=spark)
    assert back.scenes == ("Image:0", "Image:1")
    np.testing.assert_array_equal(back.data[0, 0], a)
    back.set_scene(1)
    np.testing.assert_array_equal(back.data[0, 0], b)

    one = str(tmp_path / "one.tiff")
    img.save(one, select_scenes=["Image:1"])
    only = BioImage(one, spark=spark)
    assert len(only.scenes) == 1
    np.testing.assert_array_equal(only.data[0, 0], b)


def test_save_ome_zarr_tile_path_and_grouped_path_agree(spark, tmp_path,
                                                        count_jobs,
                                                        monkeypatch):
    """Chunks that fit the source's tiles encode in the task that decoded
    each tile (one job, no shuffle); chunks that span tiles, shards and
    pyramids take the grouped path. Both write the same store. The
    grouped path's exchange is no longer a sign of it: this image's
    plan reads in one task, already grouped."""
    import numpy as np

    import bioio_spark.writers as writers
    from bioio_spark import BioImage
    from bioio_spark.sources.planned import tile_of
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_tiff, save_ome_zarr

    a = np.random.default_rng(3).integers(
        0, 60000, (1, 2, 3, 40, 48)).astype(np.uint16)
    save_ome_tiff(BioImage(a, spark=spark), str(tmp_path / "t"),
                  tile=(16, 16))
    path = str(tmp_path / "t" / "scene_0.ome.tiff")
    planes = BioImage(path, spark=spark).get_planes_dataframe()
    assert tile_of(planes) == (16, 16)
    assert all(r.y0 % 16 == 0 and r.x0 % 16 == 0
               for r in planes.select("y0", "x0").collect())

    # the tile path runs exactly where _tile_writes finds tile reads
    tile_writes, found = writers._tile_writes, []
    monkeypatch.setattr(writers, "_tile_writes", lambda img, meta, enc: (
        found.append(tile_writes(img, meta, enc)) or found[-1]))
    img = BioImage(path, spark=spark)
    cases = {"fits": dict(chunks=(1, 1, 1, 16, 8)),
             "fits_v3": dict(chunks=(1, 1, 1, 8, 16), ngff_version="0.5"),
             "spans": dict(chunks=(1, 1, 1, 32, 32)),
             "deep": dict(chunks=(1, 1, 3, 16, 16))}
    for name, kw in cases.items():
        out = str(tmp_path / f"{name}_store")
        report, jobs, shuffle = count_jobs(
            lambda: save_ome_zarr(img, out, **kw))
        tile_path = found.pop() is not None
        assert tile_path == name.startswith("fits"), name
        if tile_path:
            assert (jobs, shuffle) == (1, 0), name
        cy, cx = kw["chunks"][3:]
        assert report[0]["n_chunks"] == 2 * 3 // kw["chunks"][2] * \
            -(-40 // cy) * -(-48 // cx), name
        back = BioImage(out, reader=ZarrImageReader, spark=spark)
        np.testing.assert_array_equal(back.data, a, err_msg=name)


def test_save_ome_zarr_decodes_and_encodes_in_one_pass(
        spark, tmp_path, count_jobs, monkeypatch):
    """From a TIFF source and from a Zarr source, the tile path runs one
    job whose executed plan holds exactly one Python map node: each tile
    is decoded and its chunks encoded in the same Python pass, so the
    payload never enters the JVM."""
    from pyspark.sql.classic.dataframe import DataFrame

    from bioio_spark.writers import save_ome_tiff, save_ome_zarr

    a = np.random.default_rng(11).integers(
        0, 60000, (1, 2, 3, 24, 20)).astype(np.uint16)
    save_ome_tiff(BioImage(a, spark=spark), str(tmp_path / "t"))
    save_ome_zarr(BioImage(a, spark=spark), str(tmp_path / "z"))
    plans, collect = [], DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect", lambda self: (plans.append(
        self._jdf.queryExecution().executedPlan().toString()),
        collect(self))[1])
    for src in ("t/scene_0.ome.tiff", "z/scene_0.zarr"):
        img = BioImage(str(tmp_path / src), spark=spark)
        out = str(tmp_path / f"{src[0]}_out")
        plans.clear()
        report, jobs, shuffle = count_jobs(lambda: save_ome_zarr(img, out))
        assert (jobs, shuffle, len(plans)) == (1, 0, 1), src
        assert plans[0].count("MapInPandas") == 1, plans[0]
        assert report[0]["n_chunks"] == 2 * 3, src
        np.testing.assert_array_equal(BioImage(out, spark=spark).data, a)


def test_read_parquet_image_sidecar_missing_or_malformed(spark, tmp_path):
    """A sink without its ``_catalog`` sidecar rebuilds the catalog
    relationally; a sidecar that is there but malformed raises."""
    import json
    import shutil

    from bioio_spark.writers import read_parquet_image

    a = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(2, 3, 4)
    out = str(tmp_path / "sink")
    save_parquet(BioImage(a, dim_order="ZYX", spark=spark), out)
    shutil.rmtree(tmp_path / "sink" / "_catalog")
    ds = read_parquet_image(spark, out)
    assert ds.scenes["dtype"].tolist() == ["float64"]
    save_parquet(BioImage(a, dim_order="ZYX", spark=spark), out)
    for crc in (tmp_path / "sink" / "_catalog").glob(".*.crc"):
        crc.unlink()
    part = next((tmp_path / "sink" / "_catalog").glob("part-*"))
    part.write_text('{"scenes": [')
    with pytest.raises(json.JSONDecodeError):
        read_parquet_image(spark, out)


def test_save_ome_zarr_resaves_sharded_source(spark, tmp_path, count_jobs,
                                              monkeypatch):
    """A sharded Zarr source's planes read declares its inner-chunk grid,
    not its shard shape: a re-save takes the tile path only for chunks
    inside one inner chunk, and round-trips either way. The grouped
    path's exchange is no longer a sign of it: this image's plan reads
    in one task, already grouped. An empty scene selection writes
    nothing and runs no job."""
    import bioio_spark.writers as writers
    from bioio_spark import BioImage
    from bioio_spark.sources.planned import tile_of
    from bioio_spark.sources.zarr_image import ZarrImageReader
    from bioio_spark.writers import save_ome_zarr

    a = np.random.default_rng(5).integers(
        0, 60000, (1, 2, 2, 8, 8)).astype(np.uint16)
    src = tmp_path / "src"
    save_ome_zarr(BioImage(a, spark=spark), str(src),
                  chunks=(1, 1, 1, 4, 4), shards=(1, 1, 1, 8, 8),
                  ngff_version="0.5")
    img = BioImage(str(src / "scene_0.zarr"), reader=ZarrImageReader,
                   spark=spark)
    assert tile_of(img.get_planes_dataframe()) == (4, 4)
    # the tile path runs exactly where _tile_writes finds tile reads
    tile_writes, found = writers._tile_writes, []
    monkeypatch.setattr(writers, "_tile_writes", lambda img, meta, enc: (
        found.append(tile_writes(img, meta, enc)) or found[-1]))
    # default chunks are the whole 8x8 plane: larger than an inner chunk
    cases = {"default": {}, "wider": dict(chunks=(1, 1, 1, 4, 8)),
             "fits": dict(chunks=(1, 1, 1, 2, 4))}
    for name, kw in cases.items():
        out = str(tmp_path / name)
        report, jobs, shuffle = count_jobs(
            lambda: save_ome_zarr(img, out, **kw))
        tile_path = found.pop() is not None
        assert tile_path == (name == "fits"), name
        if tile_path:
            assert (jobs, shuffle) == (1, 0)
        back = BioImage(out, reader=ZarrImageReader, spark=spark)
        np.testing.assert_array_equal(back.data, a, err_msg=name)
    report, jobs, _ = count_jobs(lambda: save_ome_zarr(
        img, str(tmp_path / "none"), select_scenes=[]))
    assert (report, jobs) == ([], 0)
