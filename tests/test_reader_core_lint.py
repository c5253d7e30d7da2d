"""Readers own their pushdown, and the plane-reader scaffolding lives once
in bioio_spark/sources/planned.py. This stdlib-only scan fails if
BioImage grows a type switch over readers again, if a source module
re-inlines the ``createDataFrame(...).repartition(min(len(rows),
defaultParallelism))`` plan idiom instead of calling ``plan_scan`` /
``plan_width``, if anything reaches into the Zarr module for the
window normalizer that ``planned.norm_window`` now owns, if a source
module hand-writes a scene- or channel-catalog row instead of calling
``array_like.scene_row`` / ``channel_rows``, if a single-raster
format module re-inlines the decode loop that ``sources/raster.py`` owns,
if a source module other than ``raster.py``, ``tiff_glob.py`` and
``binary_media.py`` scans files with ``binaryFile``, or if a source
module grows a module-level ``def read_…_window(`` / ``def read_…_planes(``
again — every planned reader, TIFF and Zarr included, builds one plan
and ``PlannedReader`` derives its window and planes reads from it."""

import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "bioio_spark")
SOURCES = os.path.join(PKG, "sources")
RASTER_MODULES = {f"{fmt}_image.py" for fmt in ("png", "jpeg", "bmp", "gif",
                                                "pnm")}


def _source_module(rel, allow=()):
    return (os.path.dirname(rel) == os.path.join("bioio_spark", "sources")
            and os.path.basename(rel) not in allow)


# (files a rule applies to, forbidden text, why)
RULES = [
    (lambda rel: rel == os.path.join("bioio_spark", "bio_image.py"),
     "isinstance(reader,",
     "BioImage dispatches through reader.read_window/read_planes"),
    (lambda rel: _source_module(rel, allow=("planned.py",)),
     "defaultParallelism))",
     "plan rows go through planned.plan_scan / plan_width"),
    (lambda rel: True,
     "zarr_image import _norm_window",
     "the window normalizer is planned.norm_window"),
    *((lambda rel: _source_module(rel, allow=("array_like.py",)), pat,
       "catalog rows come from array_like.scene_row / channel_rows")
      for pat in ('"ome_pixel_type":', '"channel_name":')),
    (lambda rel: _source_module(rel)
     and os.path.basename(rel) in RASTER_MODULES, "mapInPandas",
     "single-raster readers scan and decode through sources/raster.py"),
    (lambda rel: _source_module(rel, allow=("raster.py", "tiff_glob.py",
                                            "binary_media.py")),
     '"binaryFile"',
     "a reader decodes its plan's rows; only whole-file readers scan"),
    (lambda rel: _source_module(rel, allow=("planned.py",)),
     re.compile(r"^def read_\w+_(window|planes)\("),
     "window and planes reads derive from the reader's one plan"),
]


def _hit(pat, line):
    return pat.search(line) if isinstance(pat, re.Pattern) else pat in line


def _sources():
    """Every module under bioio_spark/ and tests/."""
    for top in (PKG, os.path.join(ROOT, "tests")):
        for d, _dirs, files in os.walk(top):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(d, f)


def _violations(paths, root=ROOT):
    hits = []
    for path in paths:
        rel = os.path.relpath(path, root)
        with open(path, encoding="utf-8") as fh:
            for n, line in enumerate(fh, 1):
                hits += [f"{rel}:{n}: {getattr(pat, 'pattern', pat)} "
                         f"({why})"
                         for applies, pat, why in RULES
                         if applies(rel) and _hit(pat, line)]
    return hits


def test_reader_core_has_one_home():
    sources = [p for p in _sources()
               if os.path.basename(p) != os.path.basename(__file__)]
    assert len(sources) > 100   # the walk really reached the package
    assert os.path.join(SOURCES, "planned.py") in sources
    hits = _violations(sources)
    assert hits == [], "reader scaffolding outside planned.py:\n" + \
        "\n".join(hits)


def test_scan_catches_planted_violations(tmp_path):
    src = tmp_path / "bioio_spark" / "sources"
    src.mkdir(parents=True)
    (tmp_path / "bioio_spark" / "bio_image.py").write_text(
        "if isinstance(reader, TiffImageReader):\n    pass\n")
    (src / "fake_image.py").write_text(
        "plan.repartition(\n"
        "    min(len(rows), spark.sparkContext.defaultParallelism))\n"
        "from bioio_spark.sources.zarr_image import _norm_window\n"
        "def read_fake_window(spark, path, t=None):\n"
        "    def read_fake_planes(spark, path):\n")
    (src / "tiff_image.py").write_text(
        "def read_tiff_window(spark, path, t=None):\n")
    (src / "zarr_image.py").write_text(
        "def read_zarr_window(spark, path, t=None):\n"
        'chunks = spark.read.format("binaryFile").load(store)\n')
    (src / "planned.py").write_text(
        "n = min(n, spark.sparkContext.defaultParallelism))\n")
    catalog = ('row = {"ome_pixel_type": "uint8"}\n'
               'ch = {"channel_name": "C:0"}\n')
    (src / "fake_image.py").write_text(
        (src / "fake_image.py").read_text() + catalog)
    (src / "array_like.py").write_text(catalog)
    raster = ('spark.read.format("binaryFile")\n'
              'px.mapInPandas(batches, schema)\n')
    (src / "gif_image.py").write_text(raster)
    (src / "raster.py").write_text(raster)
    paths = [str(tmp_path / "bioio_spark" / "bio_image.py"),
             str(src / "fake_image.py"), str(src / "planned.py"),
             str(src / "array_like.py"), str(src / "gif_image.py"),
             str(src / "raster.py"), str(src / "tiff_image.py"),
             str(src / "zarr_image.py")]
    hits = _violations(paths, root=str(tmp_path))
    assert len(hits) == 11, hits
    files = [os.path.basename(h.split(":")[0]) for h in hits]
    assert not {"planned.py", "array_like.py", "raster.py"} & set(files)
    # the module-level read_fake_window, not the nested read_fake_planes
    assert files.count("fake_image.py") == 5
    assert [h for h in hits if "one plan" in h] == [
        f"bioio_spark/sources/{f} "
        "^def read_\\w+_(window|planes)\\( "
        "(window and planes reads derive from the reader's one plan)"
        for f in ("fake_image.py:4:", "tiff_image.py:1:",
                  "zarr_image.py:1:")]
    assert [h.split(" ")[0] for h in hits if "binaryFile" in h] == [
        "bioio_spark/sources/gif_image.py:1:",
        "bioio_spark/sources/zarr_image.py:2:"]
    assert files.count("gif_image.py") == 2
