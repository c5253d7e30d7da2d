"""Reader registry + routing (SURVEY §2.1, S1-S6, S11-S13).

Re-implements the reference's plugin-dispatch semantics
(ref bioio/plugins.py, bioio/bio_image.py:158-369) for Spark-backed readers:

- S2 extension normalization (lowercase, leading dot, order-preserving dedup,
  ref plugins.py:39-59)
- S3 extension-family counting (suffix-grouped union-find,
  ref plugins.py:62-97)
- S1 registry ordering: extension keys by descending length; per-extension
  plugin lists by (family_count desc, raw extension count desc, name asc)
  (ref plugins.py:299-320)
- S4/S5 routing: path -> candidate plugins by case-insensitive suffix match
  (query strings stripped, ref bio_image.py:284-304), then for a directory
  the plugins whose reader ``routes`` it; first plugin whose
  `is_supported_image` probe passes wins; probe errors logged and skipped
  (ref bio_image.py:246-262); arrays route to ArrayLikeReader
- S6 explicit reader try-order with failure aggregation
  (ref bio_image.py:306-369)
- S11 feasibility report probing every plugin (ref plugins.py:378-465)

Registration is in-process (no entry points in this environment); the
semantics and ordering are identical.
"""

from __future__ import annotations

import logging
import os
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np

log = logging.getLogger(__name__)


@dataclass
class PluginEntry:
    """One registered reader (analog of ref plugins.py PluginEntry)."""

    name: str
    reader: Callable                      # reader factory / class
    extensions: list[str]
    is_supported_image: Callable[[object], bool] = field(
        default=lambda image: True)
    version: str = "0.0.0"


_REGISTRY: list[PluginEntry] = []
_plugins_by_ext_cache: Optional[dict[str, list[PluginEntry]]] = None


def register_plugin(entry: PluginEntry) -> None:
    global _plugins_by_ext_cache
    _REGISTRY.append(entry)
    _plugins_by_ext_cache = None      # ref plugins.py:35-36 cache semantics


def clear_plugins() -> None:
    global _plugins_by_ext_cache
    _REGISTRY.clear()
    _plugins_by_ext_cache = None


def normalize_extensions(extensions) -> list[str]:
    """S2 (ref plugins.py:39-59): lowercase, ensure leading '.', dedup
    preserving first-seen order."""
    out: list[str] = []
    for ext in extensions:
        if not ext:
            continue
        e = ext.lower()
        if not e.startswith("."):
            e = "." + e
        if e not in out:
            out.append(e)
    return out


def count_extension_families(extensions: list[str]) -> int:
    """S3 (ref plugins.py:62-97): two extensions belong to one family when
    one is a suffix of the other; returns the number of families."""
    exts = normalize_extensions(extensions)
    parent = {e: e for e in exts}

    def find(e):
        while parent[e] != e:
            parent[e] = parent[parent[e]]
            e = parent[e]
        return e

    for a in exts:
        for b in exts:
            if a != b and (a.endswith(b) or b.endswith(a)):
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
    return len({find(e) for e in exts})


def get_plugins(use_cache: bool = True) -> dict[str, list[PluginEntry]]:
    """S1 (ref plugins.py:167-326): extension -> ordered plugin list.

    Keys ordered by descending extension length (most specific first);
    plugins per key ordered by (family_count desc, raw ext count desc,
    name asc).
    """
    global _plugins_by_ext_cache
    if use_cache and _plugins_by_ext_cache is not None:
        return _plugins_by_ext_cache

    by_ext: dict[str, list[PluginEntry]] = {}
    for entry in _REGISTRY:
        for ext in normalize_extensions(entry.extensions):
            by_ext.setdefault(ext, []).append(entry)

    for ext, entries in by_ext.items():
        entries.sort(key=lambda e: (
            -count_extension_families(e.extensions),
            -len(normalize_extensions(e.extensions)),
            e.name,
        ))
    ordered = dict(sorted(by_ext.items(), key=lambda kv: -len(kv[0])))
    _plugins_by_ext_cache = ordered
    return ordered


def path_has_extension(path: str, ext: str) -> bool:
    """S5 (ref bio_image.py:284-304): case-insensitive endswith on the path
    or on the path with its '?query' stripped."""
    p = path.lower()
    e = ext.lower()
    return p.endswith(e) or p.split("?", 1)[0].endswith(e)


def determine_reader(image, readers: Optional[list] = None,
                     fs_kwargs: Optional[dict] = None):
    """S4/S6/S7 routing (ref bio_image.py:158-369, :397-410).

    Array-likes -> ArrayLikeReader. Paths -> first plugin (in registry
    priority order over matching extensions) whose probe accepts the file.
    Explicit `readers` list bypasses discovery: first success wins, all
    failure messages aggregated on total failure (ref bio_image.py:306-369).
    S7: when selection fails for an s3:// path without anonymous
    credentials, the whole selection retries once with ``anon=True``
    (ref bio_image.py:397-410) — the Spark-cluster analog is switching the
    S3A credentials provider to anonymous, see ``anon_s3a_conf``.
    """
    from bioio_spark.bio_image import UnsupportedFileFormatError

    try:
        return _determine_reader_once(image, readers, fs_kwargs)
    except UnsupportedFileFormatError:
        if (isinstance(image, str) and image.startswith("s3://")
                and not (fs_kwargs or {}).get("anon")):
            return _determine_reader_once(
                image, readers, {**(fs_kwargs or {}), "anon": True})
        raise


def anon_s3a_conf() -> dict[str, str]:
    """Hadoop-S3A settings equivalent to fsspec ``anon=True`` — what a
    cluster session applies when the S7 retry selects anonymous access."""
    return {
        "spark.hadoop.fs.s3a.aws.credentials.provider":
            "org.apache.hadoop.fs.s3a.AnonymousAWSCredentialsProvider",
    }


def _probe(entry: PluginEntry, image, fs_kwargs: Optional[dict]) -> bool:
    """Call a plugin probe, forwarding fs kwargs when the probe accepts
    them (plugins predating the fs_kwargs contract take only the image)."""
    if fs_kwargs:
        try:
            return bool(entry.is_supported_image(image, **fs_kwargs))
        except TypeError:
            pass
    return bool(entry.is_supported_image(image))


def _candidates(image: str, use_cache: bool = True):
    """The plugins that may read path `image`, in routing order: those
    advertising one of its suffixes (registry priority), then, for a
    directory, those whose reader's ``routes`` accepts it — readers
    routing on a marker file (no extensions: NDTiff, CellVoyager)
    before readers routing on their files' suffixes, since a marker is
    the more specific claim."""
    tried = []
    for ext, entries in get_plugins(use_cache=use_cache).items():
        if path_has_extension(image, ext):
            tried += entries
            yield from entries
    if os.path.isdir(image):
        for entry in sorted(_REGISTRY, key=lambda e: bool(e.extensions)):
            routes = getattr(entry.reader, "routes", None)
            if (routes is not None and not any(e is entry for e in tried)
                    and routes(image)):
                yield entry


def _first_supported(image: str, fs_kwargs: Optional[dict],
                     use_cache: bool = True) -> Optional[PluginEntry]:
    """The first candidate whose probe accepts `image` (S4/S5): probe
    errors are logged and skipped, a missing file propagates."""
    for entry in _candidates(image, use_cache):
        try:
            if _probe(entry, image, fs_kwargs):
                return entry
        except FileNotFoundError:
            raise
        except Exception as exc:
            log.warning("Plugin %s probe failed on %s: %s",
                        entry.name, image, exc)
    return None


def _determine_reader_once(image, readers: Optional[list] = None,
                           fs_kwargs: Optional[dict] = None):
    from bioio_spark.bio_image import UnsupportedFileFormatError
    from bioio_spark.sources.array_like import ArrayLikeReader

    if readers:
        failures = []
        for rd in readers:
            try:
                return rd
            except Exception as exc:  # pragma: no cover - defensive
                failures.append(f"{rd}: {exc}")
        raise UnsupportedFileFormatError(
            "All provided readers failed:\n" + "\n".join(failures))

    if isinstance(image, (np.ndarray, list, tuple)):
        return ArrayLikeReader

    if isinstance(image, str):
        entry = _first_supported(image, fs_kwargs)
        if entry is not None:
            return entry.reader
        raise UnsupportedFileFormatError(
            f"No reader supports image: {image!r}")

    raise UnsupportedFileFormatError(
        f"Unsupported image type: {type(image)!r}")


def get_array_like_plugin() -> PluginEntry:
    """PluginEntry wrapping the built-in ArrayLike reader
    (ref plugins.py:100-110)."""
    from bioio_spark.sources.array_like import ArrayLikeReader

    return PluginEntry(
        name="ArrayLikeReader", reader=ArrayLikeReader, extensions=[],
        is_supported_image=lambda image: isinstance(
            image, (np.ndarray, list, tuple)))


def determine_plugin(image, fs_kwargs: Optional[dict] = None,
                     use_plugin_cache: bool = False) -> PluginEntry:
    """The PluginEntry (not just the reader class) that would read
    `image` — ref bio_image.py:158-262 `BioImage.determine_plugin`.
    Array-likes return the built-in ArrayLike entry; paths probe
    candidates in registry priority order; no match raises
    UnsupportedFileFormatError."""
    from bioio_spark.bio_image import UnsupportedFileFormatError

    if isinstance(image, (np.ndarray, list, tuple)):
        return get_array_like_plugin()
    if isinstance(image, str):
        entry = _first_supported(image, fs_kwargs, use_plugin_cache)
        if entry is not None:
            return entry
        raise UnsupportedFileFormatError(
            f"No plugin supports image: {image!r}")
    raise UnsupportedFileFormatError(
        f"Unsupported image type: {type(image)!r}")


@dataclass
class PluginSupport:
    supported: bool
    error: Optional[str] = None


def plugin_feasibility_report(image) -> dict[str, PluginSupport]:
    """S11 (ref plugins.py:378-465): probe every registered plugin plus the
    built-in ArrayLike path; record supported/error per plugin; warn when a
    plugin supports a file whose extension it doesn't advertise."""
    report: dict[str, PluginSupport] = {}
    for entry in _REGISTRY:
        try:
            ok = bool(entry.is_supported_image(image))
            report[entry.name] = PluginSupport(supported=ok)
            if ok and isinstance(image, str) and not any(
                path_has_extension(image, e)
                for e in normalize_extensions(entry.extensions)
            ):
                log.warning(
                    "Plugin %s reads %s despite not advertising its "
                    "extension", entry.name, image)
        except Exception as exc:
            report[entry.name] = PluginSupport(supported=False,
                                               error=str(exc))
    try:
        arr_ok = isinstance(image, (np.ndarray, list, tuple))
        report["ArrayLike"] = PluginSupport(supported=arr_ok)
    except Exception as exc:  # pragma: no cover
        report["ArrayLike"] = PluginSupport(supported=False, error=str(exc))
    return report


def dump_plugins() -> str:
    """S12 (ref plugins.py:329-375): human-readable registry listing."""
    lines = []
    for entry in _REGISTRY:
        lines.append(f"{entry.name} {entry.version}: "
                     f"{', '.join(normalize_extensions(entry.extensions))}")
    return "\n".join(lines)


ENTRY_POINT_GROUP = "bioio_spark.readers"
CORE_DIST_NAME = "bioio-spark"


def _core_version_tuple() -> tuple:
    from bioio_spark import __version__

    parts = [int(p) for p in __version__.split(".") if p.isdigit()]
    while len(parts) < 3:
        parts.append(0)
    return tuple(parts[:3])


def plugin_core_requirement(
        dist_name: str) -> tuple[tuple, Optional[tuple], bool]:
    """(min, max, max_inclusive) core-version range a distribution
    declares for ``bioio-spark`` via its Requires-Dist metadata — the
    reference reads the same range for ``bioio-base`` from each plugin
    distribution (ref plugins.py:113-164). No declared dependency ->
    unbounded."""
    from importlib import metadata as _md

    try:
        reqs = _md.requires(dist_name) or []
    except _md.PackageNotFoundError:
        return (0, 0, 0), None, True
    for dep in reqs:
        head = dep.replace("_", "-").lower()
        if not head.startswith(CORE_DIST_NAME):
            continue
        spec = dep[len(CORE_DIST_NAME):]
        spec = spec.strip().strip("()").strip()
        if not spec:
            return (0, 0, 0), None, True
        return parse_version_range(spec)
    return (0, 0, 0), None, True


def discover_plugins(group: str = ENTRY_POINT_GROUP) -> list[PluginEntry]:
    """S1 discovery across a real package boundary: load readers
    advertised through importlib.metadata entry points — the reference's
    ``bioio.readers`` group mechanism (ref plugins.py:230-300) under our
    group name. Each entry point resolves to an object (usually a module)
    exposing ``ReaderMetadata`` with ``get_supported_extensions()`` and
    ``get_reader()``.

    S13 compat filter (ref plugins.py:268-279): a plugin whose declared
    ``bioio-spark`` range excludes the running core version is skipped
    with a warning, not registered. Already-registered names are skipped
    (idempotent rediscovery). Returns the entries registered this call."""
    from importlib import metadata as _md

    core = _core_version_tuple()
    registered: list[PluginEntry] = []
    for ep in _md.entry_points(group=group):
        dist = getattr(ep, "dist", None)
        dist_name = getattr(dist, "name", None) or ep.name
        # the core distribution may advertise SEVERAL in-repo readers
        # under one dist (unlike the reference's one-dist-per-plugin
        # ecosystem); key those on the entry-point name so they don't
        # collapse into a single registry entry
        if dist_name.replace("_", "-").lower() == CORE_DIST_NAME:
            dist_name = ep.name
        lo, hi, hi_incl = plugin_core_requirement(dist_name)
        if core < lo or (hi is not None
                         and (core > hi or (not hi_incl and core == hi))):
            log.warning(
                "Plugin %s requires %s in [%s, %s]; running %s — skipped",
                dist_name, CORE_DIST_NAME, lo, hi, core)
            continue
        if any(e.name == dist_name for e in _REGISTRY):
            continue
        try:
            obj = ep.load()
        except Exception as exc:
            log.warning("Plugin %s failed to load: %s", dist_name, exc)
            continue
        meta = getattr(obj, "ReaderMetadata", obj)
        reader = meta.get_reader()
        entry = PluginEntry(
            name=dist_name,
            reader=reader,
            extensions=list(meta.get_supported_extensions()),
            is_supported_image=getattr(
                reader, "is_supported_image", lambda image: True),
            version=getattr(dist, "version", None) or "0.0.0",
        )
        register_plugin(entry)
        registered.append(entry)
    return registered


def parse_version_range(
        requirement: str) -> tuple[tuple, Optional[tuple], bool]:
    """S13 (ref plugins.py:113-164): parse '>=x.y,<a.b' style requirement
    into (min, max, max_inclusive), padding partial versions to x.y.z.
    An exclusive '<a.b' bound sets max_inclusive=False so a core version
    exactly equal to the bound is rejected."""
    def pad(v: str) -> tuple:
        parts = [int(p) for p in v.strip().split(".") if p.isdigit()]
        while len(parts) < 3:
            parts.append(0)
        return tuple(parts[:3])

    lo, hi, hi_inclusive = (0, 0, 0), None, True
    for clause in requirement.split(","):
        clause = clause.strip()
        if clause.startswith(">="):
            lo = pad(clause[2:])
        elif clause.startswith("<="):
            hi, hi_inclusive = pad(clause[2:]), True
        elif clause.startswith("<"):
            hi, hi_inclusive = pad(clause[1:]), False
        elif clause.startswith("=="):
            lo = pad(clause[2:])
            hi, hi_inclusive = lo, True
    return lo, hi, hi_inclusive


def get_dependency_version_range_for_distribution(
        distribution_name: str,
        dependency_name: str = CORE_DIST_NAME) -> tuple:
    """(min, max) version strings a distribution declares for a
    dependency (ref plugins.py:113-164 signature); None = unbounded.
    The tuple form used internally comes from plugin_core_requirement."""
    lo, hi, _hi_incl = plugin_core_requirement(distribution_name)
    lo_s = ".".join(map(str, lo)) if lo != (0, 0, 0) else None
    hi_s = ".".join(map(str, hi)) if hi is not None else None
    return lo_s, hi_s
