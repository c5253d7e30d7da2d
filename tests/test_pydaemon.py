"""The stat guard bioio_spark.pydaemon puts on zipimporter re-reads.

Each case runs in a fresh interpreter, so this pytest process keeps the
stock zipimport. A zip archive holding one module is on the child's
sys.path; ``zipimport._read_directory`` is wrapped to count re-reads."""

import os
import subprocess
import sys
import textwrap
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRELUDE = """
import importlib, os, sys, zipfile, zipimport
sys.path.insert(0, {root!r})
ARCHIVE = {archive!r}
sys.path.insert(0, ARCHIVE)
from bioio_spark import pydaemon
stock = zipimport.zipimporter.invalidate_caches
reads = []
_read = zipimport._read_directory
def counting(path):
    reads.append(path)
    return _read(path)
zipimport._read_directory = counting
"""


def _write_zip(path, body):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zmod.py", body)


def _run(tmp_path, body):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "VALUE = 1\n")
    script = PRELUDE.format(root=ROOT, archive=archive) + \
        textwrap.dedent(body)
    res = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    return res.stdout


def test_unchanged_archive_is_not_reread(tmp_path):
    out = _run(tmp_path, """
        import zmod
        importlib.invalidate_caches()   # stock: re-parses on every call
        n_stock = reads.count(ARCHIVE)
        pydaemon.install()
        importlib.invalidate_caches()   # a worker's first task stamps it
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        print(n_stock, len(reads), zmod.VALUE)
    """)
    assert out.split() == ["1", "0", "1"]


def test_archive_rewritten_in_place_is_reread(tmp_path):
    out = _run(tmp_path, """
        pydaemon.install()
        import zmod
        importlib.invalidate_caches()
        del reads[:]
        with zipfile.ZipFile(ARCHIVE, "w") as zf:
            zf.writestr("zmod.py", "VALUE = 22  # rewritten\\n")
        importlib.invalidate_caches()
        del sys.modules["zmod"]
        import zmod
        print(reads.count(ARCHIVE), zmod.VALUE)
    """)
    assert out.split() == ["1", "22"]


def test_deleted_archive_does_not_raise(tmp_path):
    out = _run(tmp_path, """
        pydaemon.install()
        import zmod
        importlib.invalidate_caches()
        os.remove(ARCHIVE)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        del sys.modules["zmod"]
        try:
            import zmod
        except ImportError:
            print("gone")
    """)
    assert out.split() == ["gone"]


def test_leaves_zipimport_alone_from_python_3_13(tmp_path):
    out = _run(tmp_path, """
        sys.version_info = (3, 13, 0, "final", 0)
        pydaemon.install()
        print(zipimport.zipimporter.invalidate_caches is stock)
    """)
    assert out.split() == ["True"]

