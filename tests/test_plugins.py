"""Registry/routing semantics pinned to ref tests/test_plugins.py:66-177 and
ref tests/test_bio_image.py:45-259."""

import numpy as np
import pytest

from bioio_spark import plugins as P
from bioio_spark.bio_image import UnsupportedFileFormatError
from bioio_spark.sources.array_like import ArrayLikeReader


@pytest.fixture(autouse=True)
def clean_registry():
    P.clear_plugins()
    yield
    # restore the builtin plugins for later test modules that exercise
    # registry-based extension routing (.dv, .sldy, ...)
    P.clear_plugins()
    import bioio_spark

    bioio_spark._register_builtin_plugins()


def test_normalize_extensions():
    assert P.normalize_extensions(["TIFF", ".tif", "tiff", ""]) == \
        [".tiff", ".tif"]


@pytest.mark.parametrize("exts,families", [
    ([".ome.tiff", ".tiff"], 1),          # suffix family
    ([".ome.tif", ".tif", ".czi"], 2),
    ([".a", ".b", ".c"], 3),
    ([".ome.tiff", ".tiff", ".ome.tif", ".tif"], 2),
])
def test_count_extension_families(exts, families):
    assert P.count_extension_families(exts) == families


def _entry(name, exts, probe_ok=True):
    return P.PluginEntry(
        name=name, reader=ArrayLikeReader, extensions=exts,
        is_supported_image=lambda image, ok=probe_ok: ok)


def test_key_ordering_longest_extension_first():
    P.register_plugin(_entry("a", [".tif"]))
    P.register_plugin(_entry("b", [".ome.tif"]))
    keys = list(P.get_plugins(use_cache=False))
    assert keys.index(".ome.tif") < keys.index(".tif")


def test_plugin_ordering_family_count_then_name():
    # more extension families ranks first; alphabetical tiebreak
    P.register_plugin(_entry("z_plugin", [".tif"]))
    P.register_plugin(_entry("a_plugin", [".tif"]))
    P.register_plugin(_entry("multi", [".tif", ".czi"]))
    order = [e.name for e in P.get_plugins(use_cache=False)[".tif"]]
    assert order == ["multi", "a_plugin", "z_plugin"]


def test_path_has_extension_query_string():
    assert P.path_has_extension("s3://b/x.TIFF?versionId=7", ".tiff")
    assert not P.path_has_extension("s3://b/x.czi", ".tiff")


def test_routing_first_probe_wins():
    P.register_plugin(_entry("broken", [".tif"], probe_ok=False))
    P.register_plugin(_entry("works", [".tif"]))
    # both advertise .tif; 'broken' sorts first alphabetically but its probe
    # rejects -> 'works' wins
    assert P.determine_reader("file.tif") is ArrayLikeReader


def test_routing_array_goes_to_arraylike():
    assert P.determine_reader(np.zeros((4, 5))) is ArrayLikeReader


def test_routing_no_match_raises():
    with pytest.raises(UnsupportedFileFormatError):
        P.determine_reader("file.unknown")


def test_feasibility_report():
    P.register_plugin(_entry("good", [".tif"]))
    P.register_plugin(P.PluginEntry(
        name="explodes", reader=ArrayLikeReader, extensions=[".tif"],
        is_supported_image=lambda image: 1 / 0))
    rep = P.plugin_feasibility_report("x.tif")
    assert rep["good"].supported is True
    assert rep["explodes"].supported is False
    assert rep["explodes"].error is not None
    assert rep["ArrayLike"].supported is False


def test_parse_version_range():
    assert P.parse_version_range(">=1.2,<2") == (
        (1, 2, 0), (2, 0, 0), False)
    assert P.parse_version_range("==1.0.3") == (
        (1, 0, 3), (1, 0, 3), True)
    assert P.parse_version_range(">=1,<=2.1") == (
        (1, 0, 0), (2, 1, 0), True)


def test_exclusive_upper_bound_rejects_equal_core(clean_registry,
                                                  monkeypatch):
    """A plugin declaring '<2.0' must be skipped when the core is
    exactly 2.0.0 — the bound is exclusive."""
    class _EP:
        name = "fake-strict"
        dist = None

        @staticmethod
        def load():
            raise AssertionError("must be filtered before load")

    monkeypatch.setattr(P, "_core_version_tuple", lambda: (2, 0, 0))
    monkeypatch.setattr(
        P, "plugin_core_requirement",
        lambda name: ((0, 0, 0), (2, 0, 0), False))
    from importlib import metadata as _md
    monkeypatch.setattr(_md, "entry_points", lambda group: [_EP()])
    assert P.discover_plugins() == []
    # inclusive '<=2.0' at the same core version registers (load fails
    # harmlessly -> still no entry, but it must be ATTEMPTED)
    attempted = []

    class _EP2(_EP):
        @staticmethod
        def load():
            attempted.append(1)
            raise RuntimeError("stop here")

    monkeypatch.setattr(
        P, "plugin_core_requirement",
        lambda name: ((0, 0, 0), (2, 0, 0), True))
    monkeypatch.setattr(_md, "entry_points", lambda group: [_EP2()])
    P.discover_plugins()
    assert attempted


def test_s3_anon_retry(clean_registry):
    """S7 (ref bio_image.py:397-410, tests/test_bio_image.py:73-99): a
    failed selection for an s3:// path retries the whole selection with
    anon=True; non-s3 paths do not retry."""
    import pytest as _pt

    from bioio_spark.bio_image import UnsupportedFileFormatError
    from bioio_spark.plugins import (PluginEntry, anon_s3a_conf,
                                     determine_reader, register_plugin)

    seen = []

    def probe(image, **fs_kwargs):
        seen.append(dict(fs_kwargs))
        return fs_kwargs.get("anon", False)

    register_plugin(PluginEntry(
        name="anonreader", reader=object, extensions=[".czi"],
        is_supported_image=probe))

    rd = determine_reader("s3://bucket/img.czi")
    assert rd is object
    assert seen == [{}, {"anon": True}]

    seen.clear()
    with _pt.raises(UnsupportedFileFormatError):
        determine_reader("/local/img.czi")
    assert seen == [{}]

    assert "AnonymousAWSCredentialsProvider" in list(
        anon_s3a_conf().values())[0]


# -- S1 across a package boundary: entry-point discovery -------------------
# The reference discovers readers from the `bioio.readers` entry-point
# group of INSTALLED distributions (ref plugins.py:230-300) and its test
# suite fakes such packages (ref tests/helpers/mock_reader.py:101-160).
# Here we build a real on-disk distribution (module + dist-info metadata)
# and let importlib.metadata find it — a true package boundary.

_MOCK_MODULE = '''
class MockReader:
    """Third-party-shaped reader: participates in selection only."""

    @staticmethod
    def is_supported_image(image, **_fs):
        return isinstance(image, str) and "unsupported" not in image


class ReaderMetadata:
    @staticmethod
    def get_supported_extensions():
        return [".mock", ".mock.tiff"]

    @staticmethod
    def get_reader():
        return MockReader
'''


def _install_dist(base, dist_name, module_name, version, requires_core,
                  module_src=_MOCK_MODULE):
    pkg = base / module_name
    (base / f"{module_name}.py").write_text(module_src)
    di = base / f"{module_name}-{version}.dist-info"
    di.mkdir()
    (di / "METADATA").write_text(
        f"Metadata-Version: 2.1\nName: {dist_name}\nVersion: {version}\n"
        f"Requires-Dist: bioio-spark ({requires_core})\n")
    (di / "entry_points.txt").write_text(
        f"[{P.ENTRY_POINT_GROUP}]\n{dist_name} = {module_name}\n")
    (di / "RECORD").write_text("")
    return pkg


@pytest.fixture
def dist_path(tmp_path, monkeypatch):
    import importlib

    monkeypatch.syspath_prepend(str(tmp_path))
    importlib.invalidate_caches()
    yield tmp_path


def test_entry_point_discovery_registers_and_routes(dist_path):
    """An external package advertising our entry-point group is found,
    version-checked, registered with dist metadata, ordered by the S1
    rules, and routed by determine_reader — end to end across the
    package boundary."""
    _install_dist(dist_path, "bioio-mock-reader", "bioio_mock_reader",
                  "1.2.3", ">=0.1,<2")
    # r13: the repo itself is now an installed dist with real entry
    # points; rediscovery may re-register those alongside the mock if
    # an earlier test cleared the registry — scope to the mock
    got = [e for e in P.discover_plugins()
           if e.name == "bioio-mock-reader"]
    assert [e.name for e in got] == ["bioio-mock-reader"]
    assert got[0].version == "1.2.3"
    assert got[0].extensions == [".mock", ".mock.tiff"]

    by_ext = P.get_plugins()
    assert ".mock" in by_ext and ".mock.tiff" in by_ext
    # most-specific extension key first (S1 key ordering)
    keys = list(by_ext)
    assert keys.index(".mock.tiff") < keys.index(".mock")

    rd = P.determine_reader("/data/img.mock")
    assert rd.__name__ == "MockReader"

    # rediscovery is idempotent: no duplicate registration
    assert P.discover_plugins() == []
    assert sum(e.name == "bioio-mock-reader" for e in P._REGISTRY) == 1


def test_entry_point_discovery_version_compat_filter(dist_path):
    """S13 (ref plugins.py:268-279): a plugin whose declared bioio-spark
    range excludes the running core version is skipped."""
    _install_dist(dist_path, "bioio-old-reader", "bioio_old_reader",
                  "0.9.0", "<0.0.1")
    assert not any(e.name == "bioio-old-reader"
                   for e in P.discover_plugins())
    assert not any(e.name == "bioio-old-reader" for e in P._REGISTRY)


def test_entry_point_plugin_priority_vs_builtin(dist_path):
    """Ordering against an in-proc plugin on a SHARED extension follows
    the S1 rule (family count desc, raw ext count desc, name asc) — an
    external package slots into the same ordering, not ahead of it."""
    _install_dist(dist_path, "bioio-mock-reader", "bioio_mock_reader",
                  "1.2.3", ">=0.1,<2")
    P.discover_plugins()
    # the external plugin spans two families (.mock / .mock.tiff are not
    # suffixes of each other); the in-proc reader claims one family of
    # one extension -> lower family count -> sorts after
    P.register_plugin(P.PluginEntry(
        name="zz-builtin", reader=object, extensions=[".mock.tiff"]))
    order = [e.name for e in P.get_plugins()[".mock.tiff"]]
    assert order == ["bioio-mock-reader", "zz-builtin"]


_MOCK_WRITER_MODULE = '''
class Writer:
    """Third-party-shaped writer package."""

    @staticmethod
    def save(data, uri, **kwargs):
        return ("saved", uri)
'''


def test_writer_entry_point_discovery(dist_path):
    """The writer twin of reader discovery: an external distribution
    advertising bioio_spark.writers registers into WRITER_REGISTRY; an
    incompatible one is version-filtered out."""
    from bioio_spark import writers as W

    base = dist_path
    (base / "bioio_mock_writer.py").write_text(_MOCK_WRITER_MODULE)
    di = base / "bioio_mock_writer-2.0.0.dist-info"
    di.mkdir()
    (di / "METADATA").write_text(
        "Metadata-Version: 2.1\nName: bioio-mock-writer\nVersion: 2.0.0\n"
        "Requires-Dist: bioio-spark (>=0.1,<2)\n")
    (di / "entry_points.txt").write_text(
        f"[{W.WRITER_ENTRY_POINT_GROUP}]\n"
        "bioio-mock-writer = bioio_mock_writer\n")
    (di / "RECORD").write_text("")

    (base / "bioio_old_writer.py").write_text(_MOCK_WRITER_MODULE)
    di2 = base / "bioio_old_writer-0.1.0.dist-info"
    di2.mkdir()
    (di2 / "METADATA").write_text(
        "Metadata-Version: 2.1\nName: bioio-old-writer\nVersion: 0.1.0\n"
        "Requires-Dist: bioio-spark (<0.0.1)\n")
    (di2 / "entry_points.txt").write_text(
        f"[{W.WRITER_ENTRY_POINT_GROUP}]\n"
        "bioio-old-writer = bioio_old_writer\n")
    (di2 / "RECORD").write_text("")

    # identifier-named entry point: exposed as a module attribute like
    # the reference (`from bioio.writers import DummyWriter`)
    (base / "bioio_dummy_writer.py").write_text(_MOCK_WRITER_MODULE)
    di3 = base / "bioio_dummy_writer-1.0.0.dist-info"
    di3.mkdir()
    (di3 / "METADATA").write_text(
        "Metadata-Version: 2.1\nName: bioio-dummy-writer\n"
        "Version: 1.0.0\nRequires-Dist: bioio-spark (>=0.1,<2)\n")
    (di3 / "entry_points.txt").write_text(
        f"[{W.WRITER_ENTRY_POINT_GROUP}]\n"
        "DummyWriter = bioio_dummy_writer\n")
    (di3 / "RECORD").write_text("")

    import importlib
    importlib.invalidate_caches()
    try:
        got = W.discover_writers()
        assert sorted(got) == ["bioio-dummy-writer", "bioio-mock-writer"]
        assert "bioio-old-writer" not in W.WRITER_REGISTRY
        w = W.WRITER_REGISTRY["bioio-mock-writer"]
        assert w.save(None, "/x")[0] == "saved"
        assert W.discover_writers() == []     # idempotent
        from bioio_spark.writers import DummyWriter  # module attribute
        assert DummyWriter.save(None, "/y")[0] == "saved"
        assert "DummyWriter" in W.__all__
    finally:
        W.WRITER_REGISTRY.pop("bioio-mock-writer", None)
        W.WRITER_REGISTRY.pop("bioio-dummy-writer", None)
        W.__all__[:] = [n for n in W.__all__ if n != "DummyWriter"]
        if hasattr(W, "DummyWriter"):
            delattr(W, "DummyWriter")


def test_determine_plugin_returns_entry():
    """ref bio_image.py:158-262: determine_plugin returns the ENTRY (not
    just the reader class); arrays get the built-in ArrayLike entry."""
    from bioio_spark.bio_image import BioImage

    P.register_plugin(_entry("tiffy", [".tif"]))
    e = BioImage.determine_plugin("img.tif")
    assert e.name == "tiffy" and e.reader is ArrayLikeReader

    arr_entry = BioImage.determine_plugin(np.zeros((2, 2)))
    assert arr_entry.name == "ArrayLikeReader"

    with pytest.raises(UnsupportedFileFormatError):
        BioImage.determine_plugin("nope.unknown")
    with pytest.raises(UnsupportedFileFormatError):
        BioImage.determine_plugin(12345)


# The built-in registry as it stood before the readers declared their
# own EXTENSIONS: registration order (dump) and the S1 key order both
# feed plugin priority, so they must not drift.
BUILTIN_DUMP = [
    "bioio-ome-tiff-baseline 0.1.0: .ome.tiff, .ome.tif, "
    ".tiles.ome.tif, .tiff, .tif",
    "bioio-png-baseline 0.1.0: .png",
    "bioio-ome-zarr-baseline 0.1.0: .zarr, .ome.zarr",
    "bioio-jpeg-baseline 0.1.0: .jpg, .jpeg",
    "bioio-nd2-baseline 0.1.0: .nd2",
    "bioio-lif-baseline 0.1.0: .lif",
    "bioio-czi-baseline 0.1.0: .czi",
    "bioio-pnm-baseline 0.1.0: .pgm, .ppm, .pnm",
    "bioio-gif-baseline 0.1.0: .gif",
    "bioio-bmp-baseline 0.1.0: .bmp",
    "bioio-sldy-baseline 0.1.0: .sldy, .dir",
    "bioio-dv-baseline 0.1.0: .dv, .r3d",
    "bioio-lsm-baseline 0.1.0: .lsm",
    "bioio-stk-baseline 0.1.0: .stk",
    "bioio-dng-baseline 0.1.0: .dng",
    "bioio-svs-baseline 0.1.0: .svs",
    "bioio-scn-baseline 0.1.0: .scn",
    "bioio-oif-baseline 0.1.0: .oif",
    "bioio-oib-baseline 0.1.0: .oib",
    "bioio-ndpi-baseline 0.1.0: .ndpi",
    "bioio-qptiff-baseline 0.1.0: .qptiff",
    "bioio-ims-baseline 0.1.0: .ims",
    "bioio-ndtiff-baseline 0.1.0: ",
    "bioio-dicom-baseline 0.1.0: .dcm, .dicom",
    "bioio-lof-baseline 0.1.0: .lof",
    "bioio-mrc-baseline 0.1.0: .mrc, .st, .map, .rec",
    "bioio-cellvoyager-baseline 0.1.0: ",
    "bioio-avi-baseline 0.1.0: .avi",
    "bioio-mp4-baseline 0.1.0: .mp4, .mov",
    "bioio-mkv-baseline 0.1.0: .mkv",
    "bioio-mpeg1-baseline 0.1.0: .mpg, .mpeg",
    "bioio-biorad-pic-baseline 0.1.0: .pic",
    "bioio-zvi-baseline 0.1.0: .zvi",
    "bioio-tiff-glob-baseline 0.1.0: ",
]
BUILTIN_KEYS = [
    ".tiles.ome.tif", ".ome.tiff", ".ome.zarr", ".ome.tif", ".qptiff",
    ".dicom", ".tiff", ".zarr", ".jpeg", ".sldy", ".ndpi", ".mpeg",
    ".tif", ".png", ".jpg", ".nd2", ".lif", ".czi", ".pgm", ".ppm",
    ".pnm", ".gif", ".bmp", ".dir", ".r3d", ".lsm", ".stk", ".dng",
    ".svs", ".scn", ".oif", ".oib", ".ims", ".dcm", ".lof", ".mrc",
    ".map", ".rec", ".avi", ".mp4", ".mov", ".mkv", ".mpg", ".pic",
    ".zvi", ".dv", ".st",
]


def test_builtin_registry_pinned(clean_registry):
    import bioio_spark

    bioio_spark._register_builtin_plugins()
    assert P.dump_plugins().split("\n") == BUILTIN_DUMP
    assert list(P.get_plugins(use_cache=False)) == BUILTIN_KEYS
    assert all(len(v) == 1 for v in P.get_plugins().values())


def test_directory_routes_to_readers_that_accept_it(tmp_path):
    """A directory carries no suffix: it reaches the readers whose
    ``routes`` accept it — a directory of OME-TIFFs (what save_ome_tiff
    writes) opens as TIFF, and an NDTiff dataset, which holds TIFFs
    too, goes to the reader of its index file first."""
    import bioio_spark
    from bioio_spark.formats.ndtiff import encode_ndtiff
    from bioio_spark.formats.tiff import encode_ome_tiff
    from bioio_spark.sources.ndtiff_image import NdtiffImageReader
    from bioio_spark.sources.tiff_image import TiffImageReader

    bioio_spark._register_builtin_plugins()
    block = np.arange(2 * 3 * 4, dtype=np.uint16).reshape(1, 1, 2, 3, 4)
    tiffs = tmp_path / "tiffs"
    tiffs.mkdir()
    for k in range(2):
        (tiffs / f"scene_{k}.ome.tiff").write_bytes(encode_ome_tiff(block))
    assert P.determine_reader(str(tiffs)) is TiffImageReader
    assert P.determine_plugin(str(tiffs)).reader is TiffImageReader

    nd = encode_ndtiff(block, str(tmp_path / "acq"))
    assert P.determine_reader(nd) is NdtiffImageReader

    (tmp_path / "empty").mkdir()
    with pytest.raises(UnsupportedFileFormatError):
        P.determine_reader(str(tmp_path / "empty"))
