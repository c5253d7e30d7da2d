"""OME-Zarr reader (third real-format plugin; S4 routing tier).

The reference's bioio-ome-zarr plugin reads `.zarr` stores (ref
README.md:66); this is its Spark-native analog over the in-repo Zarr v2
codec (bioio_spark.formats.zarr):

- **Catalog (driver-side)**: only the `.zattrs` / `.zarray` JSON documents
  are read per scene — shape/dtype/chunking/channel labels/physical sizes
  without touching chunk data (the D8 metadata-only contract).
- **Pixels (executor-side)**: `binaryFile` scans the CHUNK FILES (Hadoop's
  hidden-file filter skips the dot-prefixed metadata documents for free)
  and an Arrow-batched `mapInPandas` decodes each chunk to long-form pixel
  rows. Decode parallelism is the CHUNK COUNT — for a 100 TB store that is
  tens of millions of independent tasks, the property that makes Zarr the
  scale-native format of the reference's plugin pair. The pixel frame is
  a thunk, built on first use.
- **Tiles**: `read_tiles`, the planned readers' contract, over the same
  scan of one level's chunk files: each decoded chunk's native-dtype
  YX slabs go to the caller's body in the task that decoded them, and
  the chunk (or a shard's inner-chunk) grid is the declared tile grid.

Supports Zarr v2 stores with C order, zlib/zstd or no compressor, "." or "/"
dimension separators, any subset of the tczyx NGFF axes (absent axes read
as size-1), and trims edge-chunk fill padding to the array bounds.
"""

from __future__ import annotations

import glob as _glob
import os
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from bioio_spark.sources.planned import (PlannedReader, norm_window,
                                         standardize, trim, with_tile)


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


class ZarrImageReader(PlannedReader):
    """BioImage reader over OME-NGFF 0.4 / Zarr v2 stores (plugin tier)."""

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

    def read_window(self, spark, img, t=None, c=None, z=None, y=None,
                    x=None):
        if len(img.scenes) == 1 and any(
                os.path.exists(os.path.join(self._path, f))
                for f in ("zarr.json", ".zgroup", ".zarray")):
            return read_zarr_window(
                spark, self._path, t=t, c=c, z=z, y=y, x=x,
                level=img.current_resolution_level)
        return None

    def read_tiles(self, spark, img, body, schema):
        """``PlannedReader.read_tiles`` over the current scene's level
        array: a ``binaryFile`` scan of its chunk files, each decoded
        chunk (or inner chunk of a shard) handed to ``body`` as its YX
        slabs. None for a scene the store doesn't hold or an array
        without y and x axes."""
        from bioio_spark.fsio import local_path

        roots = _scene_roots(self._path)
        if not 0 <= img.current_scene_index < len(roots):
            return None
        arr_dir, za, axes = _array_of(roots[img.current_scene_index],
                                      img.current_resolution_level)
        if "y" not in axes or "x" not in axes:
            return None
        info = _decode_info(za, axes)
        arr_abs = os.path.abspath(arr_dir)

        def yx_tiles(batches):
            from bioio_spark.formats.zarr import iter_decoded_blocks

            lead = [d for d in axes if d not in "yx"]
            yx = [axes.index("y"), axes.index("x")]
            for pdf in batches:
                for path, content in zip(pdf["path"], pdf["content"]):
                    local = local_path(path)
                    if os.path.basename(local) == "zarr.json":
                        continue
                    parts = os.path.relpath(local, arr_abs).replace(
                        os.sep, ".").split(".")
                    if info["key_prefix"] and parts[0] == info["key_prefix"]:
                        parts = parts[1:]
                    for origin, block in iter_decoded_blocks(
                            bytes(content), info, [int(p) for p in parts]):
                        slabs = np.moveaxis(block, yx, [-2, -1])
                        for idx in np.ndindex(*slabs.shape[:-2]):
                            at = {d: origin[axes.index(d)] + i
                                  for d, i in zip(lead, idx)}
                            yield (at.get("t", 0), at.get("c", 0),
                                   at.get("z", 0), origin[yx[0]],
                                   origin[yx[1]], slabs[idx])

        binary = (spark.read.format("binaryFile")
                  .option("recursiveFileLookup", "true")
                  .load([f"file://{arr_abs}"]))
        tiles = binary.select("path", "content").mapInPandas(
            lambda it: body(yx_tiles(it)), schema=schema)
        # rows are decoded chunks: a shard's inner chunks when sharded
        grid = za["shard"]["inner_chunks"] if za.get("shard") \
            else za["chunks"]
        return with_tile(tiles, (grid[axes.index("y")],
                                 grid[axes.index("x")]))

    def to_dataset(self, spark: SparkSession):
        from bioio_spark.formats.zarr import parse_ngff_attrs, parse_zarray
        from bioio_spark.ome_utils import resolve_channel_names
        from bioio_spark.sources.array_like import (ImageDataset,
                                                    channel_rows, scene_row)
        from bioio_spark.types import PhysicalPixelSizes

        roots = _scene_roots(self._path)
        if not roots:
            raise FileNotFoundError(f"No .zarr stores under {self._path}")

        scenes, channels = [], []
        arrays: dict[str, dict] = {}   # abs array dir -> decode info
        for si, root in enumerate(roots):
            v3_doc = _read_doc(root, "zarr.json")
            if v3_doc is not None:
                # Zarr v3 store (NGFF 0.5): group zarr.json carries the
                # ome attributes; each level dir has its own array doc
                import json as _json

                from bioio_spark.formats.zarr import parse_zarr3_array

                top = _json.loads(v3_doc)
                if top.get("node_type") == "array":
                    attrs_doc = None
                    attrs = {"name": None, "axes": None,
                             "level_paths": ["0"], "scale": None,
                             "channel_names": None}
                    arr_dir, za = root, parse_zarr3_array(v3_doc)
                    extra_levels = []
                else:
                    attrs_doc = v3_doc
                    attrs = parse_ngff_attrs(v3_doc)
                    level = attrs["level_paths"][0]
                    arr_dir = os.path.join(root, level)
                    adoc = _read_doc(arr_dir, "zarr.json")
                    if adoc is None:
                        raise ValueError(f"{arr_dir}: no zarr.json")
                    za = parse_zarr3_array(adoc)
                    extra_levels = []
                    for lv, lp in enumerate(attrs["level_paths"][1:],
                                            start=1):
                        ld = os.path.join(root, lp)
                        ldoc = _read_doc(ld, "zarr.json")
                        if ldoc is not None:
                            extra_levels.append(
                                (lv, ld, parse_zarr3_array(ldoc)))
            else:
                attrs_doc = _read_doc(root, ".zattrs")
                attrs = (parse_ngff_attrs(attrs_doc) if attrs_doc
                         else {"name": None, "axes": None,
                               "level_paths": ["0"],
                               "scale": None, "channel_names": None})
                level = attrs["level_paths"][0]
                arr_dir = os.path.join(root, level)
                zdoc = _read_doc(arr_dir, ".zarray")
                if zdoc is None:        # bare array store (no group level)
                    arr_dir, zdoc = root, _read_doc(root, ".zarray")
                if zdoc is None:
                    raise ValueError(f"{root}: no .zarray document")
                za = parse_zarray(zdoc)
                # multiscale levels beyond the first (C4: every NGFF
                # dataset path is a selectable resolution level)
                extra_levels = []
                if arr_dir != root:
                    for lv, lp in enumerate(attrs["level_paths"][1:],
                                            start=1):
                        ld = os.path.join(root, lp)
                        lzdoc = _read_doc(ld, ".zarray")
                        if lzdoc is not None:
                            extra_levels.append((lv, ld, parse_zarray(lzdoc)))
            axes = attrs["axes"] or "tczyx"[-len(za["shape"]):]
            if len(axes) != len(za["shape"]):
                raise ValueError(
                    f"{root}: axes {axes!r} vs shape {za['shape']}")
            size = {d: 1 for d in "tczyx"}
            size.update(dict(zip(axes, za["shape"])))

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
                res_levels=[0] + [lv for lv, _, _ in extra_levels]))
            arrays[os.path.abspath(arr_dir)] = _decode_info(
                za, axes, scene=scene, res_level=0)
            for lv, ld, lza in extra_levels:
                arrays[os.path.abspath(ld)] = _decode_info(
                    lza, axes, scene=scene, res_level=lv)

        return ImageDataset(
            pixels=lambda: standardize(decode_zarr_chunks(spark, arrays),
                                       self._image_id),
            scenes=scenes, channels=channels)


def decode_zarr_chunks(spark: SparkSession,
                       arrays: dict[str, dict],
                       files: Optional[list[str]] = None) -> DataFrame:
    """binaryFile scan over chunk files + mapInPandas chunk decode.

    One pandas frame per chunk bounds executor memory to a single chunk;
    edge chunks are trimmed to the array bounds (Zarr v2 stores them
    full-shape, fill-padded). `files` restricts the scan to an explicit
    chunk-file list (the read_zarr_window pruning path); default is every
    chunk under every array root."""
    from bioio_spark.fsio import local_path

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from bioio_spark.formats.zarr import iter_decoded_blocks

        for pdf in it:
            for path, content in zip(pdf["path"], pdf["content"]):
                local = local_path(path)
                if os.path.basename(local) == "zarr.json":
                    continue    # v3 metadata doc, not hidden-file-filtered
                info = None
                for arr_dir, cand in arrays.items():
                    if local.startswith(arr_dir + os.sep):
                        info = cand
                        rel = os.path.relpath(local, arr_dir)
                        break
                if info is None:
                    raise KeyError(
                        f"decode_zarr_chunks: {path!r} not under any "
                        f"catalogued array root")
                # "." separator -> flat name "t.c.z.y.x"; "/" separator
                # -> nested dirs; both normalize through relpath. v3
                # "default" keys lead with a "c" component.
                parts = rel.replace(os.sep, ".").split(".")
                if info.get("key_prefix") and parts[0] == info["key_prefix"]:
                    parts = parts[1:]
                grid = [int(p) for p in parts]
                if len(grid) != len(info["shape"]):
                    raise ValueError(
                        f"{rel}: chunk key rank {len(grid)} vs array "
                        f"rank {len(info['shape'])}")
                for origin, block in iter_decoded_blocks(
                        bytes(content), info, grid):
                    coords = {d: np.zeros(block.size, dtype=np.int32)
                              for d in "tczyx"}
                    idx = np.indices(block.shape, dtype=np.int32)
                    for ai, d in enumerate(info["axes"]):
                        coords[d] = (idx[ai].ravel()
                                     + np.int32(origin[ai]))
                    yield pd.DataFrame({
                        "scene": info["scene"],
                        "res_level": np.int32(info.get("res_level", 0)),
                        "t": coords["t"], "c": coords["c"],
                        "z": coords["z"], "y": coords["y"],
                        "x": coords["x"],
                        "value": block.ravel().astype(np.float64),
                    })

    paths = ([f"file://{os.path.abspath(f)}" for f in files]
             if files is not None else [f"file://{d}" for d in arrays])
    binary = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true")
              .load(paths))
    return binary.select("path", "content").mapInPandas(
        batches,
        schema="scene string, res_level int, t int, c int, z int, y int, "
               "x int, value double")


def window_chunk_keys(shape, chunks, window) -> list[tuple[int, ...]]:
    """Grid indices of every chunk intersecting the window — pure
    arithmetic, no IO. len(result) is the number of FILES a windowed read
    touches: O(window volume / chunk volume), independent of store size."""
    import itertools

    ranges = []
    for (start, stop), c in zip(window, chunks):
        ranges.append(range(start // c, (stop - 1) // c + 1))
    return [tuple(g) for g in itertools.product(*ranges)]


def _array_of(root: str, level: str | int = 0) -> tuple[str, dict, str]:
    """(array_dir, decode-info dict, axes) for one store at one level —
    shared by the windowed and planes read paths; handles Zarr v2 group,
    v2 bare array, and v3 (group or bare) layouts."""
    from bioio_spark.formats.zarr import (parse_ngff_attrs,
                                          parse_zarr3_array, parse_zarray)

    root = root.rstrip("/")
    v3_doc = _read_doc(root, "zarr.json")
    if v3_doc is not None:
        attrs = parse_ngff_attrs(v3_doc)
        arr_dir = os.path.join(root, str(level))
        adoc = _read_doc(arr_dir, "zarr.json")
        if adoc is None:
            arr_dir, adoc = root, v3_doc
        za = parse_zarr3_array(adoc)
    else:
        attrs_doc = _read_doc(root, ".zattrs")
        attrs = (parse_ngff_attrs(attrs_doc) if attrs_doc
                 else {"axes": None, "level_paths": ["0"]})
        arr_dir = os.path.join(root, str(level))
        zdoc = _read_doc(arr_dir, ".zarray")
        if zdoc is None:
            arr_dir, zdoc = root, _read_doc(root, ".zarray")
        if zdoc is None:
            raise ValueError(f"{root}: no .zarray document")
        za = parse_zarray(zdoc)
    axes = attrs["axes"] or "tczyx"[-len(za["shape"]):]
    return arr_dir, za, axes


def _decode_info(za: dict, axes: str, **extra) -> dict:
    """The decode-info dict ``iter_decoded_blocks`` reads, for one
    parsed array document."""
    return {"axes": axes, "shape": za["shape"], "chunks": za["chunks"],
            "dtype": np.dtype(za["dtype"]).str,
            "compressor": za["compressor"],
            "key_prefix": za.get("key_prefix"),
            "gzip_member": za.get("gzip_member", False),
            "shard": za.get("shard"), **extra}


def read_zarr_window(spark: SparkSession, store: str,
                     t=None, c=None, z=None, y=None, x=None,
                     level: str | int = 0) -> DataFrame:
    """Chunk-pruned windowed read of one `.zarr` store: selectors are
    turned into the exact set of intersecting chunk FILES driver-side
    (catalog arithmetic only), and the binaryFile scan lists just those —
    reading one plane of a 100 TB store touches O(plane/chunk) files, not
    the whole store. The residual trim to exact window bounds is a codegen
    row filter after decode.

    This is the pushdown the reference gets from tifffile/zarr slicing
    (ref bio_image.py:764-839 lazy selection); Spark-side it is listing-
    level pruning, the same lever as parquet partition pruning.
    """
    arr_dir, za, axes = _array_of(store, level)
    sel_of = {"t": t, "c": c, "z": z, "y": y, "x": x}
    window = [norm_window(sel_of.get(d), s)
              for d, s in zip(axes, za["shape"])]
    keys = window_chunk_keys(za["shape"], za["chunks"], window)
    sep = za["dimension_separator"]
    prefix = za.get("key_prefix")
    files = []
    for k in keys:
        comps = ([prefix] if prefix else []) + [str(i) for i in k]
        p = (os.path.join(arr_dir, *comps) if sep == "/"
             else os.path.join(arr_dir, sep.join(comps)))
        if os.path.exists(p):       # absent chunk = all fill_value
            files.append(p)
    # inner-chunk pruning inside shards: decode only inner chunks
    # intersecting the window (the local analog of ranged GETs)
    arrays = {os.path.abspath(arr_dir): _decode_info(
        za, axes, scene="Image:0", res_level=0,
        window=[tuple(w) for w in window])}
    schema = ("scene string, res_level int, t int, c int, z int, y int, "
              "x int, value double")
    if not files:   # whole window lives in absent (all-fill) chunks
        return spark.createDataFrame([], schema)
    return trim(decode_zarr_chunks(spark, arrays, files=files),
                **dict(zip(axes, window)))
