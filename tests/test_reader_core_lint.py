"""Readers own their pushdown, and the plane-reader scaffolding lives once
in bioio_spark/sources/planned.py. This stdlib-only scan fails if
BioImage grows a type switch over readers again, if a source module
re-inlines the ``createDataFrame(...).repartition(min(len(rows),
defaultParallelism))`` plan idiom instead of calling ``plan_pixels`` /
``plan_width``, or if anything reaches into the Zarr module for the
window normalizer that ``planned.norm_window`` now owns."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "bioio_spark")
SOURCES = os.path.join(PKG, "sources")

# (files a rule applies to, forbidden text, why)
RULES = [
    (lambda rel: rel == os.path.join("bioio_spark", "bio_image.py"),
     "isinstance(reader,",
     "BioImage dispatches through reader.read_window/read_planes"),
    (lambda rel: os.path.dirname(rel) == os.path.join("bioio_spark",
                                                      "sources")
     and os.path.basename(rel) != "planned.py",
     "defaultParallelism))",
     "plan rows go through planned.plan_pixels / plan_width"),
    (lambda rel: True,
     "zarr_image import _norm_window",
     "the window normalizer is planned.norm_window"),
]


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
                hits += [f"{rel}:{n}: {pat} ({why})"
                         for applies, pat, why in RULES
                         if applies(rel) and pat in line]
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
        "from bioio_spark.sources.zarr_image import _norm_window\n")
    (src / "planned.py").write_text(
        "n = min(n, spark.sparkContext.defaultParallelism))\n")
    paths = [str(tmp_path / "bioio_spark" / "bio_image.py"),
             str(src / "fake_image.py"), str(src / "planned.py")]
    hits = _violations(paths, root=str(tmp_path))
    assert len(hits) == 3, hits
    assert not any("planned.py" in h for h in hits)
