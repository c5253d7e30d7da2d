"""BioImage: the user-facing handle (ref bioio/bio_image.py:27-418).

Holds a SparkSession, an ImageDataset (lazy DataFrames + driver-side
catalogs), the current scene / resolution level, and memoized caches that are
invalidated on scene or resolution change — the Spark analog of the
reference's `_xarray_dask_data`/`_xarray_data` cache discipline
(ref bio_image.py:415-418, :474-498, :548-604).

Laziness maps 1:1: `get_image_dataframe` returns an unexecuted Catalyst plan
(= `get_image_dask_data`, ref bio_image.py:764-839); `get_image_data`
materializes it to an ndarray (= the eager twin, ref bio_image.py:841-917).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.dimensions import Dimensions, reshape_data
from bioio_spark.operators.mosaic import (
    mosaic_tile_position,
    mosaic_tile_positions,
    stitch_mosaic,
)
from bioio_spark.operators.selectors import apply_selectors, to_ndarray
from bioio_spark.operators.standardize import standardized_dims
from bioio_spark.sources.array_like import ImageDataset
from bioio_spark.types import PhysicalPixelSizes, Scale


class UnsupportedFileFormatError(Exception):
    """No reader could handle the given image (ref bioio-base semantics,
    raised from bio_image.py:269-282)."""


class BioImage:
    """Image handle over relational pixel/catalog DataFrames.

    Parameters mirror the reference constructor (ref bio_image.py:371-418):
    `image` may be an ndarray, list of ndarrays (multi-scene), or an
    ImageDataset; `reader` may override routing (ref bio_image.py:306-369).
    """

    def __init__(
        self,
        image,
        reader=None,
        dim_order: Optional[str] = None,
        channel_names: Optional[Sequence[str]] = None,
        physical_pixel_sizes: Optional[PhysicalPixelSizes] = None,
        reconstruct_mosaic: bool = True,
        spark: Optional[SparkSession] = None,
        image_id: str = "img",
        **reader_kwargs,
    ):
        from bioio_spark.session import get_session

        self._spark = spark or get_session()
        self._reconstruct_mosaic = reconstruct_mosaic

        if isinstance(image, ImageDataset):
            self._dataset = image
            self._reader = None
        else:
            reader_cls = reader or _route(image)
            # extra kwargs forward to the reader, the reference's
            # plugin-specific passthrough (ref bio_image.py:105-119:
            # chunk_dims and co reach the selected Reader)
            self._reader = reader_cls(
                image,
                dim_order=dim_order,
                channel_names=channel_names,
                physical_pixel_sizes=physical_pixel_sizes,
                image_id=image_id,
                **reader_kwargs,
            )
            self._dataset = self._reader.to_dataset(self._spark)

        self._scene_ids = self._dataset.scene_ids()
        if not self._scene_ids:
            raise UnsupportedFileFormatError("Image contains no scenes")
        self._current_scene_index = 0
        self._current_resolution_level = 0
        # levels > 0 derived by materialize_pyramid exist only in the
        # pixel plan, not in the reader's source
        self._derived_levels = False
        self._invalidate()

    # -- cache discipline (ref bio_image.py:415-418, :495-498) -----------
    def _invalidate(self) -> None:
        self._cached_df: Optional[DataFrame] = None
        self._cached_array: Optional[np.ndarray] = None

    @property
    def reader(self):
        """The reader instance backing this image (ref bio_image.py:
        420-431). ImageDataset-constructed handles have no reader."""
        if self._reader is None:
            raise AttributeError(
                "this BioImage was built from an ImageDataset directly "
                "and has no reader")
        return self._reader

    # -- scenes (C1, C2) --------------------------------------------------
    @property
    def scenes(self) -> tuple[str, ...]:
        return tuple(self._scene_ids)

    @property
    def current_scene(self) -> str:
        return self._scene_ids[self._current_scene_index]

    @property
    def current_scene_index(self) -> int:
        return self._current_scene_index

    def set_scene(self, scene_id) -> None:
        """Switch by string id or int index (ref bio_image.py:474-498)."""
        if isinstance(scene_id, str):
            if scene_id not in self._scene_ids:
                raise IndexError(
                    f"Scene {scene_id!r} not in {self._scene_ids}")
            idx = self._scene_ids.index(scene_id)
        elif isinstance(scene_id, int) and not isinstance(scene_id, bool):
            if not 0 <= scene_id < len(self._scene_ids):
                raise IndexError(
                    f"Scene index {scene_id} out of range "
                    f"({len(self._scene_ids)} scenes)")
            idx = scene_id
        else:
            raise TypeError(
                f"scene_id must be str or int, got {type(scene_id)!r}")
        if idx != self._current_scene_index:
            self._current_scene_index = idx
            self._invalidate()

    # -- resolution levels (C4, ref bio_image.py:548-604) -----------------
    @property
    def resolution_levels(self) -> tuple[int, ...]:
        srow = self._scene_catalog_row()
        if "res_levels" in srow and srow["res_levels"] is not None:
            return tuple(srow["res_levels"])
        return (0,)

    @property
    def current_resolution_level(self) -> int:
        return self._current_resolution_level

    def set_resolution_level(self, level: int) -> None:
        if level not in self.resolution_levels:
            raise IndexError(
                f"Resolution level {level} not in {self.resolution_levels}")
        if level != self._current_resolution_level:
            self._current_resolution_level = level
            self._invalidate()

    @property
    def resolution_level_dims(self) -> dict[int, tuple[int, ...]]:
        """Per-level shapes (ref bio_image.py:548-604): level k halves Y/X
        with ceil division (ceil(ceil(s/2)/2) == ceil(s/4), so the closed
        form is exact). Answered from the catalog — no job."""
        saved = self._current_resolution_level
        out = {}
        try:
            for lvl in self.resolution_levels:
                self._current_resolution_level = lvl
                out[lvl] = self.dims.shape
        finally:
            self._current_resolution_level = saved
        return out

    def materialize_pyramid(self, n_levels: int) -> "BioImage":
        """C4 producer: derive resolution levels 1..n_levels-1 from level 0
        by chained 2x2 block means (operators.pyramid) and re-bind the
        handle's pixel plan to the stacked pyramid. Lazy — nothing computes
        until a level is read."""
        from bioio_spark.operators.pyramid import build_pyramid
        from bioio_spark.sources.array_like import PIXEL_COLUMNS

        base = self._dataset.pixels.filter(F.col("res_level") == 0)
        pyr = build_pyramid(base, n_levels).select(*PIXEL_COLUMNS)
        self._dataset.pixels = pyr
        self._dataset.scenes["res_levels"] = [
            list(range(n_levels))] * len(self._dataset.scenes)
        self._derived_levels = True
        self._invalidate()
        return self

    # -- catalog helpers --------------------------------------------------
    def _scene_catalog_row(self) -> dict:
        cat = self._dataset.scenes
        row = cat[cat["scene"] == self.current_scene].iloc[0]
        return row.to_dict()

    @property
    def dims(self) -> Dimensions:
        """Standardized dims, metadata-only — no Spark job
        (ref bio_image.py:729-747 answers from lazy metadata)."""
        row = self._scene_catalog_row()
        raw_order = row["dim_order"]
        raw_shape = tuple(
            int(row[f"size_{d.lower()}"])
            for d in raw_order if row.get(f"size_{d.lower()}") is not None
        )
        if len(raw_shape) != len(raw_order):
            # non-standard letters have no size_* column; reconstruct from
            # stored sizes by assuming their cataloged size (sliced to 1)
            raw_shape = tuple(
                int(row[f"size_{d.lower()}"])
                if row.get(f"size_{d.lower()}") is not None else 1
                for d in raw_order)
        dims = standardized_dims(raw_order, raw_shape)
        if self._reconstruct_mosaic and "M" in dims.order:
            stitched = self._stitched_yx_size()
            if stitched is not None:
                h, w = stitched
                order = dims.order.replace("M", "")
                shape = [h if d == "Y" else w if d == "X" else dims[d][0]
                         for d in order]
                return self._apply_res_level(Dimensions(order, tuple(shape)))
        return self._apply_res_level(dims)

    def _apply_res_level(self, dims: Dimensions) -> Dimensions:
        """Level k halves Y/X k times with ceil division (catalog stores
        level-0 sizes only)."""
        lvl = self._current_resolution_level
        if lvl == 0:
            return dims
        shape = tuple(-(-s // (2 ** lvl)) if d in "YX" else s
                      for d, s in dims.items)
        return Dimensions(dims.order, shape)

    @property
    def shape(self) -> tuple[int, ...]:
        return self.dims.shape

    @property
    def dtype(self):
        return np.dtype(self._scene_catalog_row()["dtype"])

    # -- pixel access (P1-P6 + M1) ----------------------------------------
    def _scene_pixels(self) -> DataFrame:
        px = self._dataset.pixels
        return px.filter(
            (F.col("scene") == self.current_scene)
            & (F.col("res_level") == self._current_resolution_level))

    def _standard_pixels(self) -> tuple[DataFrame, Dimensions]:
        """Current scene's standardized (possibly stitched) pixel plan."""
        row = self._scene_catalog_row()
        raw_order = row["dim_order"]
        raw_shape = tuple(
            int(row[f"size_{d.lower()}"])
            if row.get(f"size_{d.lower()}") is not None else 1
            for d in raw_order)
        dims = standardized_dims(raw_order, raw_shape)
        px = self._scene_pixels()
        if (self._reconstruct_mosaic and "M" in dims.order
                and self._dataset.tiles is not None):
            # a tiles table with no rows for this scene -> no stitch info;
            # fall through to the unstitched path (mirrors the dims() guard)
            stitched = self._stitched_yx_size()
            if stitched is not None:
                h, w = stitched
                tiles = self._spark.createDataFrame(self._dataset.tiles)
                px = stitch_mosaic(px, tiles)
                order = dims.order.replace("M", "")
                shape = tuple(
                    h if d == "Y" else w if d == "X" else dims[d][0]
                    for d in order)
                dims = Dimensions(order, shape)
        return px, self._apply_res_level(dims)

    def _stitched_yx_size(self) -> Optional[tuple[int, int]]:
        if self._dataset.tiles is None:
            return None
        t = self._dataset.tiles
        t = t[t["scene"] == self.current_scene]
        if not len(t):
            return None
        row = self._scene_catalog_row()
        tile_h, tile_w = int(row["size_y"]), int(row["size_x"])
        return (int(t["y_off"].max()) + tile_h,
                int(t["x_off"].max()) + tile_w)

    def get_image_dataframe(self, dimension_order_out: Optional[str] = None,
                            **selectors) -> DataFrame:
        """Lazy plan for a dim-ordered, selector-applied view
        (analog of get_image_dask_data, ref bio_image.py:764-839)."""
        px, dims = self._standard_pixels()
        order = dimension_order_out or dims.order
        plan, _ = apply_selectors(px, dims, order, selectors)
        return plan

    def get_planes_dataframe(self, tile_h: int = 256,
                             tile_w: int = 256) -> DataFrame:
        """The current scene in the chunked PLANES layout — one row per
        YX tile: (t, c, z, y0, x0, h, w, values dense row-major
        array<double>) — the scale representation (no per-pixel row
        amplification; compose with operators/planes.py).

        Readers that plan their own chunks (TIFF, Zarr and every
        ``PlannedReader``: CZI, ND2, LIF, SLDY, DV, LSM, OIB, OIF, IMS,
        STK, DICOM, MRC, ZVI, DNG, PIC, NDTiff, the slide formats and
        video) decode STRAIGHT to payload rows with zero shuffle
        through their ``read_planes`` (tile geometry = the store's own
        chunk/strip/subblock grid, so tile_h/tile_w are ignored) for a
        scene without S or M; every other source falls back to
        pixels_to_planes over the standardized frame (one groupBy
        shuffle, honest and documented)."""
        from bioio_spark.operators.planes import pixels_to_planes

        cols = ["t", "c", "z", "y0", "x0", "h", "w", "values"]
        planes = self._pushdown("read_planes")
        if planes is not None:
            return planes.select(*cols)
        px, _dims = self._standard_pixels()
        return pixels_to_planes(px, tile_h=tile_h,
                                tile_w=tile_w).select(*cols)

    def read_window(self, t=None, c=None, z=None, y=None,
                    x=None) -> DataFrame:
        """Source-pruned window read: when the current scene's reader
        can plan the window itself (its ``read_window``), the selectors
        push down to the SOURCE — only intersecting pages/strips/tiles,
        chunk files, sections or frames are read, the Spark analog of
        the reference's lazy dask slicing actually skipping chunks
        (ref bio_image.py:764-839). Other sources (arrays, parquet,
        directories, multi-scene or pyramid levels a planner can't
        address) fall back to a Catalyst filter over the standardized
        pixel frame — same result, scan-level pruning only where the
        format supports it. Returns the long-form
        ``(t, c, z, y, x, value)`` frame for the window, with ``s``
        before ``value`` for a scene with samples (RGB)."""
        from bioio_spark.sources.planned import norm_window

        cols = ["t", "c", "z", "y", "x"] + (
            ["s"] if "S" in self.dims.order else []) + ["value"]
        px = self._pushdown("read_window", t=t, c=c, z=z, y=y, x=x)
        if px is not None:
            return px.select(*cols)
        px, dims = self._standard_pixels()
        cond = F.lit(True)
        for name, sel in (("t", t), ("c", c), ("z", z), ("y", y),
                          ("x", x)):
            if sel is None:
                continue
            size = dims[name.upper()][0]
            lo, hi = norm_window(sel, size)
            cond = cond & (F.col(name) >= lo) & (F.col(name) < hi)
        return px.filter(cond).select(*cols)

    def _pushdown(self, method: str, **selectors) -> Optional[DataFrame]:
        """The reader's own source-level read for the current scene, or
        None when it has none (arrays, ImageDataset handles, plugins
        without the method) or declines this scene/level."""
        fn = getattr(self._reader, method, None)
        if fn is None or (self._derived_levels
                          and self._current_resolution_level > 0):
            return None
        return fn(self._spark, self, **selectors)

    def get_image_data(self, dimension_order_out: Optional[str] = None,
                       **selectors) -> np.ndarray:
        """Eager ndarray (analog of get_image_data, ref bio_image.py:
        841-917). As in the reference, this loads the whole current scene
        once (``data``, memoized) and answers every call with numpy
        selection over it (``dimensions.reshape_data``, ref :907-917).
        For a window of a scene too big for the driver, use the lazy
        ``read_window`` or ``get_image_dataframe``."""
        if dimension_order_out is None and not selectors:
            return self.data
        dims = self.dims
        return reshape_data(self.data, dims.order,
                            dimension_order_out or dims.order, **selectors)

    def project(self, dim: str = "Z", op: str = "max",
                **selectors) -> DataFrame:
        """Axis reduction as a lazy grouped aggregate — e.g. the
        maximum-intensity projection users of the reference compute with
        numpy after get_image_data (ref bio_image.py:841-917). Selectors
        (same algebra as get_image_data) apply before the reduction.
        """
        from bioio_spark.operators.reductions import project as _project

        px, dims = self._standard_pixels()
        plan, out_dims = apply_selectors(px, dims, dims.order, selectors)
        reduced, _ = _project(plan, out_dims, dim, op)
        return reduced

    def project_data(self, dim: str = "Z", op: str = "max",
                     **selectors) -> np.ndarray:
        """Eager ndarray twin of project(), in numpy over ``data`` (no
        job once the scene is loaded). max/min preserve the native dtype
        (numpy semantics); sum/mean promote to float64."""
        from bioio_spark.operators.reductions import project_ndarray

        order = self.dims.order
        return project_ndarray(
            reshape_data(self.data, order, order, **selectors), order,
            dim, op)

    def channel_histogram(self, nbins: int = 16) -> DataFrame:
        """Per-channel equal-width intensity histogram (c, bin, n_pixels)."""
        from bioio_spark.operators.reductions import channel_histogram

        px, dims = self._standard_pixels()
        plan, _ = apply_selectors(px, dims, dims.order, {})
        return channel_histogram(plan, nbins=nbins)

    def contrast_stretch(self, lo_q: float = 0.01,
                         hi_q: float = 0.99) -> DataFrame:
        """Per-channel percentile contrast stretch to [0,1], clamped."""
        from bioio_spark.operators.reductions import contrast_stretch

        px, dims = self._standard_pixels()
        plan, _ = apply_selectors(px, dims, dims.order, {})
        return contrast_stretch(plan, lo_q=lo_q, hi_q=hi_q)

    def loc(self, **bounds) -> DataFrame:
        """P8 label-based selection: physical-coordinate ranges instead of
        indices (analog of xarray `.loc`, ref docs/OVERVIEW.md:337-354).

        Bounds are per-dim (lo, hi) tuples in physical units — seconds on T,
        micrometers on Z/Y/X — inclusive both ends like pandas/xarray loc
        slices: ``img.loc(T=(1.5, 6.0), Y=(0.0, 10.0))``.
        """
        from bioio_spark.operators.loc import build_coords, loc_select

        unknown = set(bounds) - set("TZYX")
        if unknown:
            raise ValueError(
                f"loc bounds only apply to physical dims TZYX: "
                f"{sorted(unknown)}")
        px, dims = self._standard_pixels()
        coords = build_coords(
            self._spark, dims,
            physical_pixel_sizes=self.physical_pixel_sizes,
            time_interval=self.time_interval)
        return loc_select(px, coords, dict(bounds))

    def get_image_xarray(self, dimension_order_out: Optional[str] = None):
        """Labeled-array output (ref bio_image.py:500-546 `xarray_data`):
        the standardized eager array with per-axis coordinate vectors —
        Channel names guaranteed on C, physical units on T/Z/Y/X (seconds
        via time_interval, micrometers via pixel sizes, missing scales
        defaulting to 1.0 exactly like the relational coords table) — and
        the raw metadata under attrs["unprocessed"].

        Returns a LabeledArray (xarray.DataArray stand-in; `.to_xarray()`
        upgrades when xarray is installed). Label selection via `.sel`
        matches `BioImage.loc` index-for-index by construction.
        """
        from bioio_spark.labeled import build_labeled

        order = dimension_order_out or self.dims.order
        data = (self.get_image_data(dimension_order_out)
                if dimension_order_out else self.data)
        return build_labeled(
            data, order, self.channel_names,
            physical_pixel_sizes=self.physical_pixel_sizes,
            time_interval=self.time_interval,
            attrs={"unprocessed": self.metadata,
                   "standard_metadata": self.standard_metadata})

    @property
    def xarray_data(self):
        """Labeled standardized array (ref bio_image.py:500-546)."""
        return self.get_image_xarray()

    # -- dask tier (ref bio_image.py:606-714, 764-839) --------------------
    # The reference's deferred-IO tier is dask; this engine's native lazy
    # tier is the DataFrame plan (get_image_dataframe). When dask is
    # installed, the dask twins stay genuinely lazy: output shape/dtype
    # come from the catalog (metadata-only, no job), and the Spark job
    # runs only at .compute().
    def _require_dask(self):
        try:
            import dask
            import dask.array as da
        except ImportError as e:
            raise NotImplementedError(
                "dask is not installed in this environment; the "
                "engine-native lazy tier is get_image_dataframe() / "
                "get_image_xarray()") from e
        return dask, da

    def get_image_dask_data(self, dimension_order_out: Optional[str] = None,
                            **selectors):
        """Lazy dask twin of get_image_data (ref bio_image.py:764-839)."""
        dask, da = self._require_dask()
        px, dims = self._standard_pixels()
        order = dimension_order_out or dims.order
        _, out_dims = apply_selectors(px, dims, order, selectors)
        delayed = dask.delayed(self.get_image_data)(order, **selectors)
        return da.from_delayed(delayed, shape=out_dims.shape,
                               dtype=self.dtype)

    @property
    def dask_data(self):
        """Lazy standardized array (ref bio_image.py:701-713)."""
        return self.get_image_dask_data()

    @property
    def xarray_dask_data(self):
        """Labeled lazy array (ref bio_image.py:606-648): dask-backed
        values with the same coords/attrs as xarray_data."""
        from bioio_spark.labeled import build_labeled

        return build_labeled(
            self.dask_data, self.dims.order, self.channel_names,
            physical_pixel_sizes=self.physical_pixel_sizes,
            time_interval=self.time_interval,
            attrs={"unprocessed": self.metadata,
                   "standard_metadata": self.standard_metadata})

    def get_dask_stack(self, **selectors):
        """Lazy scene stack (ref bio_image.py:939-957)."""
        dask, da = self._require_dask()
        current = self._current_scene_index
        arrays = []
        try:
            for i in range(len(self._scene_ids)):
                self.set_scene(i)
                px, dims = self._standard_pixels()
                _, out_dims = apply_selectors(px, dims, dims.order,
                                              selectors)
                delayed = dask.delayed(
                    lambda idx, sel: self._stack_scene_data(idx, sel)
                )(i, dict(selectors))
                arrays.append(da.from_delayed(
                    delayed, shape=out_dims.shape, dtype=self.dtype))
            return da.stack(arrays)
        finally:
            self.set_scene(current)

    def _stack_scene_data(self, scene_index: int, selectors: dict):
        current = self._current_scene_index
        try:
            self.set_scene(scene_index)
            return (self.get_image_data(**selectors)
                    if selectors else self.data)
        finally:
            self.set_scene(current)

    def get_xarray_dask_stack(self, **selectors):
        """Labeled lazy scene stack (ref bio_image.py:984-1007). Coords
        depend only on catalogs (build_labeled reads shapes, never
        values), so labeling stays compute-free."""
        from bioio_spark.labeled import LabeledArray, build_labeled

        data = self.get_dask_stack(**selectors)
        current = self._current_scene_index
        try:
            self.set_scene(0)
            if selectors:
                px, sdims = self._standard_pixels()
                _, out_dims = apply_selectors(px, sdims, sdims.order,
                                              selectors)
                order, coords0 = out_dims.order, {}
            else:
                order = self.dims.order
                coords0 = build_labeled(
                    data[0], order, self.channel_names,
                    physical_pixel_sizes=self.physical_pixel_sizes,
                    time_interval=self.time_interval).coords
            attrs = {"unprocessed": self.metadata,
                     "standard_metadata": self.standard_metadata}
        finally:
            self.set_scene(current)
        coords = {"I": np.asarray(self._scene_ids, dtype=object)}
        coords.update(coords0)
        return LabeledArray(data=data, dims="I" + order,
                            coords=coords, attrs=attrs)

    @property
    def data(self) -> np.ndarray:
        """Standardized eager array of the current scene and level,
        memoized (ref bio_image.py:700-727). It is read in one job: from
        the reader's ``read_tiles``, each tile shipped as native-dtype
        bytes and placed with ``np.frombuffer``, or, for a scene no tile
        read carries, from the standardized pixel frame."""
        from bioio_spark.operators.planes import assemble_ndarray
        from bioio_spark.sources.planned import NATIVE_SCHEMA, native_tiles

        if self._cached_array is not None:
            return self._cached_array
        tiles = self._tile_read(native_tiles(self.dtype), NATIVE_SCHEMA)
        if tiles is not None:
            self._cached_array = assemble_ndarray(
                tiles, "TCZ", self.dims.shape, dtype=self.dtype)
        else:
            px, dims = self._standard_pixels()
            plan, out_dims = apply_selectors(px, dims, dims.order, {})
            self._cached_array = to_ndarray(plan, out_dims, dtype=self.dtype)
        return self._cached_array

    def _tile_read(self, body, schema: str) -> Optional[DataFrame]:
        """The reader's ``read_tiles`` of the current scene and level
        through ``body``, or None where a tile read can't carry the
        standardized scene (S or M dims, a stitched mosaic, complex
        pixels) or the reader has none."""
        if (self.dims.order != "TCZYX" or self.dtype.kind not in "biuf"
                or self._stitched_yx_size() is not None):
            return None
        return self._pushdown("read_tiles", body=body, schema=schema)

    @property
    def dataframe(self) -> DataFrame:
        """Standardized lazy DataFrame, memoized."""
        if self._cached_df is None:
            px, dims = self._standard_pixels()
            self._cached_df, _ = apply_selectors(px, dims, dims.order, {})
        return self._cached_df

    # -- stacks (C3, ref bio_image.py:919-1007) ---------------------------
    def get_stack(self, **selectors) -> np.ndarray:
        """Stack all scenes along a new leading axis (UNION ALL analog)."""
        current = self._current_scene_index
        try:
            arrays = []
            for i in range(len(self._scene_ids)):
                self.set_scene(i)
                arrays.append(self.get_image_data(**selectors)
                              if selectors else self.data)
            return np.stack(arrays)
        finally:
            self.set_scene(current)

    def get_xarray_stack(self, **selectors):
        """All scenes stacked into one labeled array with `I` (image) as
        the leading dim (ref bio_image.py:959-982; as there, the FIRST
        scene's coordinate planes win for the stack's coords). The I
        coordinate carries the scene ids."""
        import numpy as np

        from bioio_spark.labeled import LabeledArray

        data = self.get_stack(**selectors)
        current = self._current_scene_index
        try:
            self.set_scene(0)
            if selectors:
                # int selectors drop dims: derive the post-selection order
                px, sdims = self._standard_pixels()
                _, out_dims = apply_selectors(px, sdims, sdims.order,
                                              selectors)
                order = out_dims.order
                first = None
            else:
                first = self.get_image_xarray()
                order = first.dims
            attrs = {"unprocessed": self.metadata,
                     "standard_metadata": self.standard_metadata}
        finally:
            self.set_scene(current)
        coords = {"I": np.asarray(self._scene_ids, dtype=object)}
        if first is not None:
            coords.update(first.coords)
        return LabeledArray(data=data, dims="I" + order,
                            coords=coords, attrs=attrs)

    def get_stack_dataframe(self) -> DataFrame:
        """Lazy stack: unionByName of per-scene standardized frames with a
        scene_idx column — the engine's canonical set operation."""
        current = self._current_scene_index
        try:
            frames = []
            for i, sid in enumerate(self._scene_ids):
                self.set_scene(i)
                px, dims = self._standard_pixels()
                plan, _ = apply_selectors(px, dims, dims.order, {})
                frames.append(plan.select(
                    F.lit(i).alias("scene_idx"), "*"))
            out = frames[0]
            for f in frames[1:]:
                out = out.unionByName(f)
            return out
        finally:
            self.set_scene(current)

    # -- mosaic surface (M1-M4) -------------------------------------------
    def _scene_tiles(self) -> DataFrame:
        if self._dataset.tiles is None:
            raise ValueError("Image has no mosaic tiles")
        t = self._spark.createDataFrame(self._dataset.tiles)
        return t.filter(F.col("scene") == self.current_scene)

    def get_mosaic_tile_position(self, mosaic_tile_index: int,
                                 **dims) -> tuple[int, int]:
        if dims:
            # tiles carry one (y_off, x_off) per M in this engine; dim
            # selections would silently not apply — reject like the
            # reference rejects unsupported kwargs (ref bio_image.py:1167)
            raise NotImplementedError(
                f"dim kwargs are not supported for tile positions: "
                f"{sorted(dims)}")
        return mosaic_tile_position(self._scene_tiles(), mosaic_tile_index)

    def get_mosaic_tile_positions(self, **dims) -> list[tuple[int, int]]:
        if "M" in dims:
            raise NotImplementedError(
                "M kwarg cannot be combined with other dims "
                "(ref bio_image.py:1167-1216)")
        if dims:
            raise NotImplementedError(
                f"dim kwargs are not supported for tile positions: "
                f"{sorted(dims)}")
        return mosaic_tile_positions(self._scene_tiles())

    @property
    def mosaic_tile_dims(self) -> Optional[Dimensions]:
        row = self._scene_catalog_row()
        if self._dataset.tiles is None or "M" not in row["dim_order"]:
            return None
        return Dimensions("YX", (int(row["size_y"]), int(row["size_x"])))

    # -- metadata (D1-D8) --------------------------------------------------
    @property
    def metadata(self):
        return self._scene_catalog_row().get("metadata")

    @property
    def ome_metadata(self):
        """Typed OME model over the raw metadata (D2 tier 2, ref
        bio_image.py:1021-1036). Raises NotImplementedError when the raw
        metadata is not OME-XML — the reference's contract for readers
        that cannot convert."""
        from bioio_spark.ome_model import OME

        raw = self.metadata
        if isinstance(raw, str) and ("<OME" in raw or "<Image" in raw):
            try:
                return OME.from_xml(raw)
            except Exception as exc:
                raise NotImplementedError(
                    f"Raw metadata is not parseable OME-XML: {exc}"
                ) from exc
        raise NotImplementedError(
            "This image's raw metadata cannot be converted to OME "
            "(ref bio_image.py:1034)")

    @property
    def channel_names(self) -> Optional[list[str]]:
        ch = self._dataset.channels
        ch = ch[ch["scene"] == self.current_scene].sort_values("c")
        if not len(ch):
            # BioImage tier guarantees a Channel coord (ref :527-539)
            return [f"Channel:{self._current_scene_index}:0"]
        return list(ch["channel_name"])

    @property
    def physical_pixel_sizes(self) -> PhysicalPixelSizes:
        row = self._scene_catalog_row()
        return PhysicalPixelSizes(
            row.get("pps_z"), row.get("pps_y"), row.get("pps_x"))

    @property
    def time_interval(self):
        return self._scene_catalog_row().get("time_interval")

    @property
    def scale(self) -> Scale:
        pps = self.physical_pixel_sizes
        return Scale(T=self.time_interval, C=None, Z=pps.Z, Y=pps.Y, X=pps.X)

    @property
    def dimension_properties(self) -> dict:
        """Per-dimension (value, type, unit) triples (ref bio_image.py:
        1083-1093; bioio-base's DimensionProperties struct). Spatial dims
        carry micrometer units when pixel sizes are known; T carries
        seconds when the time interval is known."""
        from bioio_spark.types import DimensionProperties

        pps = self.physical_pixel_sizes
        ti = self.time_interval
        spatial = {"Z": pps.Z, "Y": pps.Y, "X": pps.X}
        out: dict = {}
        for d in self.dims.order:
            if d == "T":
                out[d] = DimensionProperties(
                    value=float(ti) if ti is not None else None,
                    type="time", unit="s" if ti is not None else None)
            elif d == "C":
                out[d] = DimensionProperties(
                    value=None, type="channel", unit=None)
            elif d in spatial:
                v = spatial[d]
                out[d] = DimensionProperties(
                    value=float(v) if v is not None else None,
                    type="space",
                    unit="micrometer" if v is not None else None)
            elif d == "S":
                out[d] = DimensionProperties(
                    value=None, type="samples", unit=None)
            elif d == "M":
                out[d] = DimensionProperties(
                    value=None, type="mosaic", unit=None)
        return out

    @property
    def standard_metadata(self) -> "StandardMetadata":
        """Flat metadata with image sizes overridden from actual dims
        (ref bio_image.py:1110-1133 `dataclasses.replace` overlay).
        Returns the StandardMetadata dataclass (attribute access like the
        reference; mapping-style access kept for relational consumers)."""
        from bioio_spark.types import StandardMetadata

        row = self._scene_catalog_row()
        d = self.dims
        return StandardMetadata(
            image_id=row["image_id"],
            scene=row["scene"],
            dtype=row["dtype"],
            ome_pixel_type=row.get("ome_pixel_type"),
            image_size_t=d.T if "T" in d.order else 1,
            image_size_c=d.C if "C" in d.order else 1,
            image_size_z=d.Z if "Z" in d.order else 1,
            image_size_y=d.Y if "Y" in d.order else 1,
            image_size_x=d.X if "X" in d.order else 1,
            pixel_size_z=row.get("pps_z"),
            pixel_size_y=row.get("pps_y"),
            pixel_size_x=row.get("pps_x"),
            time_interval=row.get("time_interval"),
        )

    @staticmethod
    def determine_plugin(image, fs_kwargs: Optional[dict] = None,
                         use_plugin_cache: bool = False):
        """The PluginEntry that would read `image`
        (ref bio_image.py:158-262): array-likes return the built-in
        ArrayLike entry, paths probe candidates in registry priority
        order, no match raises UnsupportedFileFormatError."""
        from bioio_spark.plugins import determine_plugin

        return determine_plugin(image, fs_kwargs=fs_kwargs,
                                use_plugin_cache=use_plugin_cache)

    # -- sink (S10) --------------------------------------------------------
    def save(self, uri: str, select_scenes=None, **sink_kwargs) -> None:
        """Sink routing by suffix (ref bio_image.py:1229-1301 saves ONE
        OME-TIFF file holding every selected scene; the plugin ecosystem
        adds OME-Zarr): `.zarr`/`.ome.zarr` -> chunk-parallel NGFF store,
        `.tif(f)`/`.ome.tif(f)` -> a single multi-Image OME-TIFF file
        (the reference's semantics — use writers.save_ome_tiff for the
        distributed per-scene directory sink when scenes don't fit one
        encode task), anything else -> the native scene-partitioned
        parquet sink. Extra kwargs go to the sink (e.g. ``compression=5``
        for LZW / ``bigtiff=True`` on the TIFF path, ``chunks=`` on
        Zarr)."""
        from bioio_spark.writers import (save_ome_tiff_single_file,
                                         save_ome_zarr, save_parquet)

        low = uri.rstrip("/").lower()
        if low.endswith((".zarr", ".ome.zarr")):
            save_ome_zarr(self, uri, select_scenes=select_scenes,
                          **sink_kwargs)
        elif low.endswith((".tif", ".tiff", ".ome.tif", ".ome.tiff")):
            save_ome_tiff_single_file(self, uri,
                                      select_scenes=select_scenes,
                                      **sink_kwargs)
        else:
            save_parquet(self, uri, select_scenes=select_scenes,
                         **sink_kwargs)

    def __repr__(self) -> str:
        return (f"<BioImage [scene={self.current_scene!r}, "
                f"dims={self.dims}]>")


def _route(image):
    """S4 routing: arrays -> ArrayLikeReader; *.parquet -> the native-format
    reader (built-in tier, like the reference's ArrayLikeReader,
    ref bio_image.py:264-276); *.tif(f) -> the baseline OME-TIFF reader;
    other paths -> plugin registry."""
    from bioio_spark.plugins import determine_reader
    from bioio_spark.sources.parquet_image import ParquetImageReader
    from bioio_spark.sources.raw_format import RawImageReader
    from bioio_spark.sources.tiff_image import TiffImageReader

    if ParquetImageReader.is_supported_image(image):
        return ParquetImageReader
    if RawImageReader.is_supported_image(image):
        return RawImageReader
    if isinstance(image, str) and image.lower().endswith(
            (".tif", ".tiff")):
        return TiffImageReader
    if isinstance(image, str) and image.lower().endswith(".png"):
        from bioio_spark.sources.png_image import PngImageReader

        return PngImageReader
    if isinstance(image, str) and image.rstrip("/").lower().endswith(
            (".zarr", ".ome.zarr")):
        from bioio_spark.sources.zarr_image import ZarrImageReader

        return ZarrImageReader
    if isinstance(image, str) and image.lower().endswith(
            (".jpg", ".jpeg")):
        from bioio_spark.sources.jpeg_image import JpegImageReader

        return JpegImageReader
    return determine_reader(image)


# -- convenience entry points (E1-E2, ref bio_image.py:1340-1446) ---------
def imread(image, scene_id=None, **kwargs) -> np.ndarray:
    img = BioImage(image, **kwargs)
    if scene_id is not None:
        img.set_scene(scene_id)
    return img.data


def imread_df(image, scene_id=None, **kwargs) -> DataFrame:
    img = BioImage(image, **kwargs)
    if scene_id is not None:
        img.set_scene(scene_id)
    return img.dataframe


def imread_xarray(image, scene_id=None, **kwargs):
    """E2: labeled-array convenience twin (ref imread_xarray,
    bio_image.py:1395-1419) — returns a LabeledArray with coords/attrs."""
    img = BioImage(image, **kwargs)
    if scene_id is not None:
        img.set_scene(scene_id)
    return img.get_image_xarray()


def imread_dask(image, scene_id=None, **kwargs):
    """Lazy convenience twin (ref imread_dask, bio_image.py:1367-1393):
    a dask array whose Spark job fires at .compute()."""
    img = BioImage(image, **kwargs)
    if scene_id is not None:
        img.set_scene(scene_id)
    return img.dask_data


def imread_xarray_dask(image, scene_id=None, **kwargs):
    """Labeled lazy convenience twin (ref imread_xarray_dask,
    bio_image.py:1340-1365)."""
    img = BioImage(image, **kwargs)
    if scene_id is not None:
        img.set_scene(scene_id)
    return img.xarray_dask_data
