"""OME-Zarr reader (third real-format plugin; S4 routing tier).

The reference's bioio-ome-zarr plugin reads `.zarr` stores (ref
README.md:66); this is its Spark-native analog over the in-repo Zarr
codec (bioio_spark.formats.zarr), and a planned reader like every other:

- **Plan (driver-side)**: one walk of each store's metadata documents
  (``.zattrs`` / ``.zarray`` for v2, ``zarr.json`` for v3, group or bare
  array) at every resolution level — shape, dtype, chunking, channel
  labels and physical sizes without touching chunk data (the D8
  metadata-only contract). A chunk's key follows from the array's shape
  and chunks, so the plan lists no directory and stats no chunk file: it
  holds one row per chunk key, or per inner chunk of a shard, with its
  extent trimmed to the array bounds. A chunk deeper than one plane
  carries ``nt``/``nc``/``nz`` planes.
- **Decode (executor-side)**: ``decode_tiles`` reads each row's object
  through ``fsio.read_range`` — a shard's index, then the inner chunk's
  byte range — and decodes it with ``iter_decoded_blocks``, one
  native-dtype tile per t. An absent chunk file stores no values and
  yields no tile; a missing inner chunk of a shard decodes as the
  array's fill_value.

``PlannedReader`` derives the full read, ``read_window`` and
``read_tiles`` from that plan. Supports Zarr v2 and v3 stores with C
order, zlib/zstd/blosc or no compressor, "." or "/" dimension
separators, v3 ``sharding_indexed``, and any subset of the tczyx NGFF
axes (absent axes read as size-1); a directory of ``scene_*.zarr``
groups (the save_ome_zarr layout) is a multi-scene image.
"""

from __future__ import annotations

import functools
import glob as _glob
import json
import os
from typing import Optional

import numpy as np

from bioio_spark.fsio import read_range
from bioio_spark.sources.planned import Plan, PlannedReader


def _scene_roots(image: str) -> list[str]:
    """A `.zarr` group dir is one scene; a directory of `scene_*.zarr`
    groups (the save_ome_zarr layout) is a multi-scene image."""
    if image.rstrip("/").lower().endswith(".zarr"):
        return [image.rstrip("/")]
    if os.path.isdir(image):
        return sorted(
            p for p in _glob.glob(os.path.join(image, "*.zarr"))
            if os.path.isdir(p))
    return []


def _read_doc(root: str, name: str) -> Optional[str]:
    p = os.path.join(root, name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read()


def store_levels(root: str) -> tuple[dict, Optional[str], str, list]:
    """The one metadata walk of a store: ``(attrs, attrs_doc, axes,
    levels)`` — its NGFF attributes, the document they came from, its
    axes, and ``(res_level, array_dir, parsed array doc)`` for each
    level whose array document exists. Handles v2 and v3 groups and
    bare v2 and v3 arrays."""
    from bioio_spark.formats.zarr import (parse_ngff_attrs,
                                          parse_zarr3_array, parse_zarray)

    bare = {"name": None, "axes": None, "level_paths": ["0"],
            "scale": None, "channel_names": None}
    v3_doc = _read_doc(root, "zarr.json")
    if v3_doc is not None and json.loads(v3_doc).get(
            "node_type") == "array":
        attrs, attrs_doc, levels = bare, None, [
            (0, root, parse_zarr3_array(v3_doc))]
    else:
        attrs_doc = v3_doc if v3_doc is not None else _read_doc(
            root, ".zattrs")
        attrs = parse_ngff_attrs(attrs_doc) if attrs_doc else bare
        name, parse = (("zarr.json", parse_zarr3_array) if v3_doc
                       else (".zarray", parse_zarray))
        levels = []
        for lv, lp in enumerate(attrs["level_paths"]):
            doc = _read_doc(os.path.join(root, lp), name)
            if doc is not None:
                levels.append((lv, os.path.join(root, lp), parse(doc)))
        if not levels or levels[0][0] != 0:
            zdoc = None if v3_doc else _read_doc(root, ".zarray")
            if zdoc is None:
                raise ValueError(f"{root}: no {name} document at level 0")
            levels = [(0, root, parse_zarray(zdoc))]   # bare v2 array
    axes = attrs["axes"] or "tczyx"[-len(levels[0][2]["shape"]):]
    for _lv, arr_dir, za in levels:
        if len(axes) != len(za["shape"]):
            raise ValueError(
                f"{arr_dir}: axes {axes!r} vs shape {za['shape']}")
    return attrs, attrs_doc, axes, levels


def _decode_info(za: dict, axes: str) -> dict:
    """The decode-info dict ``iter_decoded_blocks`` reads, for one
    parsed array document."""
    return {"axes": axes, "shape": za["shape"], "chunks": za["chunks"],
            "dtype": np.dtype(za["dtype"]).str,
            "compressor": za["compressor"],
            "gzip_member": za.get("gzip_member", False),
            "fill_value": za["fill_value"], "shard": za.get("shard")}


def chunk_rows(arr_dir: str, za: dict, axes: str, **extent) -> list[dict]:
    """Plan rows of one level's array: one per chunk key, or per inner
    chunk of a shard, with the object's ``path``, its chunk-grid key
    (``grid``), the inner chunk's C-order index (``inner``) and its
    ``t/nt, c/nc, z/nz, y0/h, x0/w`` extent trimmed to the array
    bounds. ``extent`` places the level (scene, res_level). Pure
    arithmetic over the array document: no listing, no stat."""
    shape, chunks = za["shape"], za["chunks"]
    cell = za["shard"]["inner_chunks"] if za.get("shard") else chunks
    info = json.dumps(_decode_info(za, axes))
    sep, prefix = za["dimension_separator"], za.get("key_prefix")
    root = os.path.abspath(arr_dir)
    rows = []
    for key in np.ndindex(*(-(-s // c) for s, c in zip(shape, chunks))):
        comps = ([prefix] if prefix else []) + [str(k) for k in key]
        path = (os.path.join(root, *comps) if sep == "/"
                else os.path.join(root, sep.join(comps)))
        cells = np.ndindex(*(c // i for c, i in zip(chunks, cell)))
        for li, at in enumerate(cells):
            origin = [k * c + a * i
                      for k, c, a, i in zip(key, chunks, at, cell)]
            if any(o >= s for o, s in zip(origin, shape)):
                continue        # inner chunk wholly past the array edge
            lo = dict(zip(axes, origin))
            n = {d: min(i, s - o)
                 for d, i, s, o in zip(axes, cell, shape, origin)}
            rows.append({
                "path": path, **extent,
                "t": lo.get("t", 0), "nt": n.get("t", 1),
                "c": lo.get("c", 0), "nc": n.get("c", 1),
                "z": lo.get("z", 0), "nz": n.get("z", 1),
                "y0": lo.get("y", 0), "h": n.get("y", 1),
                "x0": lo.get("x", 0), "w": n.get("x", 1),
                "grid": list(key), "inner": li, "info": info})
    return rows


class ZarrImageReader(PlannedReader):
    """BioImage reader over OME-NGFF 0.4 / 0.5 (Zarr v2 / v3) stores
    (plugin tier)."""

    EXTENSIONS = (".zarr", ".ome.zarr")
    DIM_ORDER_ERROR = ("OME-Zarr dimension order comes from the NGFF "
                       "axes metadata; dim_order not accepted")

    @staticmethod
    def is_supported_image(image) -> bool:
        if not isinstance(image, str):
            return False
        roots = _scene_roots(image)
        return bool(roots) and all(
            _read_doc(r, ".zattrs") is not None
            or _read_doc(os.path.join(r, "0"), ".zarray") is not None
            or _read_doc(r, ".zarray") is not None
            or _read_doc(r, "zarr.json") is not None
            for r in roots)

    @staticmethod
    def decode_tiles(rows):
        """The one Zarr chunk decoder: each row's chunk, or a shard's
        inner chunk, read through ``fsio.read_range`` and decoded by
        ``iter_decoded_blocks`` (a shard's index is read once per
        batch), yielded as one ``(row, tile)`` pair per t: ``(h, w)``,
        with a trailing ``nc`` axis and a leading ``nz`` axis where the
        chunk is that deep. An absent chunk file yields no tile."""
        from bioio_spark.formats.zarr import iter_decoded_blocks

        for path, group in rows.groupby("path", sort=False):
            first = group.iloc[0]
            info = json.loads(first["info"])
            try:
                blocks = list(iter_decoded_blocks(
                    functools.partial(read_range, path), info,
                    first["grid"], inner=list(group["inner"])))
            except FileNotFoundError:
                continue        # an absent chunk file stores no values
            axes = info["axes"]
            order = [axes.index(d) for d in "tczyx" if d in axes]
            for r, (_origin, block) in zip(group.itertuples(index=False),
                                           blocks):
                a = block.transpose(order).reshape(r.nt, r.nc, r.nz, r.h,
                                                   r.w)
                for i in range(r.nt):
                    tile = a[i].transpose(1, 2, 3, 0)   # (nz, h, w, nc)
                    if r.nc == 1:
                        tile = tile[..., 0]
                    yield (r._replace(t=r.t + i),
                           tile[0] if r.nz == 1 else tile)

    def plan(self) -> Plan:
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import channel_rows, scene_row
        from bioio_spark.types import PhysicalPixelSizes

        roots = _scene_roots(self._path)
        if not roots:
            raise FileNotFoundError(f"No .zarr stores under {self._path}")
        rows, scenes, channels = [], [], []
        for si, root in enumerate(roots):
            attrs, attrs_doc, axes, levels = store_levels(root)
            za = levels[0][2]
            size = {d: 1 for d in "tczyx"}
            size.update(zip(axes, za["shape"]))
            scene = f"Image:{si}"
            pps = self._pps
            if pps is None and attrs["scale"]:
                by_ax = dict(zip(axes, attrs["scale"]))
                vals = {d: float(by_ax.get(d, 1.0)) for d in "zyx"}
                if any(v != 1.0 for v in vals.values()):
                    pps = PhysicalPixelSizes(
                        Z=vals["z"], Y=vals["y"], X=vals["x"])
            channels += channel_rows(
                self._image_id, scene,
                resolve_channel_names(
                    self._channel_names or attrs["channel_names"],
                    size["c"], si))
            scenes.append(scene_row(
                self._image_id, scene, si, za["dtype"],
                {d.upper(): size[d] for d in "tczyx"}, pps=pps,
                metadata=attrs_doc,
                res_levels=[lv for lv, _, _ in levels]))
            for lv, arr_dir, lza in levels:
                rows += chunk_rows(arr_dir, lza, axes, scene=scene,
                                   res_level=lv)
        return Plan(rows, scenes, channels)
