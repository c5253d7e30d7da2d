"""Scheme-dispatched byte-range IO for planned image sources.

Every vendor reader in this repo plans (unit -> byte range) rows
driver-side and seek-reads executor-side. On a 100 TB deployment those
paths are OBJECT-STORE URIs (s3://bucket/key), not local files — this
module is the one place that dispatch lives:

- plain paths (and file:// URIs) use local ``open()`` — zero overhead
  over what the readers did inline;
- scheme-qualified URIs (s3://, gs://, az://, abfs://, http(s)://…)
  route through ``fsspec`` when installed, where each
  ``read_range`` / ``ranged_read`` run maps to a ranged GET. fsspec is
  import-gated (the reference's own remote-path behavior is
  fsspec-based too, ref bio_image.py:158-282); without it a remote
  URI raises a clear error instead of a confusing ENOENT.

Executors call these helpers per plan row, so no file handles cross
task boundaries (serialization-safe by construction).
"""

from __future__ import annotations

import os
import re
from typing import Optional

_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def local_path(path: str) -> str:
    """Hadoop-FS URI -> local filesystem path. binaryFile reports paths as
    `file:/abs/path` (sometimes `file:///abs/path`); strip the scheme,
    percent-decode (Hadoop URI-encodes spaces etc.), and collapse leading
    slashes so dict lookups keyed by os.path.abspath match."""
    from urllib.parse import unquote

    if path.startswith("file:"):
        path = path[len("file:"):]
    elif "://" in path:
        path = path.split("://", 1)[-1]
    return re.sub(r"^/+", "/", unquote(path))


def _is_remote(path: str) -> bool:
    m = _SCHEME_RE.match(path)
    return bool(m) and not path.startswith("file://")


def open_binary(path: str):
    """Binary handle for a local path or a remote URI (fsspec)."""
    if not _is_remote(path):
        if path.startswith("file://"):
            path = path[len("file://"):]
        return open(path, "rb")
    try:
        import fsspec
    except ImportError as exc:                 # pragma: no cover
        raise ImportError(
            f"{path}: remote URI reads need the optional fsspec "
            f"dependency (pip install fsspec + the filesystem's "
            f"driver, e.g. s3fs)") from exc
    return fsspec.open(path, "rb").open()


def read_range(path: str, offset: int, nbytes: Optional[int]) -> bytes:
    """One ranged read — the planned-source executor primitive (a
    single ranged GET on object stores). A negative ``offset`` counts
    from the end of the object, and from its start when the object is
    shorter (an HTTP suffix range); ``nbytes=None`` reads to the end."""
    with open_binary(path) as f:
        if offset < 0:
            offset = max(0, f.seek(0, os.SEEK_END) + offset)
        f.seek(offset)
        return f.read(-1 if nbytes is None else nbytes)


def read_bytes(path: str) -> bytes:
    """Whole-object read (small sidecar/plane files)."""
    with open_binary(path) as f:
        return f.read()


def ranged_read(path: str, offsets, lengths) -> bytes:
    """Concatenated multi-run read (CFB sector extents etc.) over one
    handle — run count is bounded by the catalog, not data size."""
    parts = []
    with open_binary(path) as f:
        for off, n in zip(offsets, lengths):
            f.seek(off)
            parts.append(f.read(n))
    return b"".join(parts)
