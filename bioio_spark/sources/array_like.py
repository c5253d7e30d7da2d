"""Array-like source: numpy/list-of-numpy -> relational image dataset.

Spark-first analog of the reference's only in-repo reader
(`ArrayLikeReader`, ref bioio/array_like_reader.py:165-431): each input array
becomes one *scene*; dims are user-provided or guessed right-aligned against
TCZYX/TCZYXS (ref array_like_reader.py:131-163); channel names are validated
or generated (ref array_like_reader.py:302-378).

Representation (SURVEY §1.3): a long-form pixel table
    pixels(image_id, scene, res_level, t, c, z, y, x, m, s, value double)
with absent dims encoded as index -1 (avoids NULL-key divergence vs the
oracle), plus catalog tables `scenes` and `channels`.

Scale note: long-form is the *correctness* representation. At 100 TB the same
API is fed by the chunked `planes` representation (one row per YX tile,
binary/array payload) and `mapInPandas` assembly; both live behind
ImageDataset so callers never see the difference. The pixel table is
partition-pruned on (scene, res_level) and predicate-pushed on t/c/z/y/x.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bioio_spark.dimensions import (
    DIM_COLUMNS,
    Dimensions,
    guess_dim_order,
    validate_dim_order,
)
from bioio_spark.ome_utils import generate_ome_image_id, resolve_channel_names
from bioio_spark.types import PhysicalPixelSizes, dtype_to_ome_type

PIXEL_DIM_COLS = ["t", "c", "z", "y", "x", "m", "s"]
PIXEL_COLUMNS = ["image_id", "scene", "res_level", *PIXEL_DIM_COLS, "value"]

# the scene catalog: one row per scene, the same columns for every reader
# (absent axes and metadata are None; res_levels None = no pyramid)
SCENE_COLUMNS = ["image_id", "scene", "scene_idx", "dim_order",
                 *(f"size_{d}" for d in "tczyxms"), "dtype",
                 "ome_pixel_type", "pps_z", "pps_y", "pps_x",
                 "time_interval", "metadata", "res_levels"]
CHANNEL_COLUMNS = ["image_id", "scene", "c", "channel_name"]


def scene_row(image_id: str, scene: str, scene_idx: int, dtype,
              sizes: Mapping[str, Optional[int]], dim_order: str = "TCZYX",
              pps: Optional[PhysicalPixelSizes] = None,
              time_interval: Optional[float] = None, metadata=None,
              res_levels: Optional[list] = None) -> dict:
    """One scene-catalog row. ``sizes`` maps dim letters to sizes (a
    missing axis is None); the OME PixelType is always derived from
    ``dtype`` (ref ome_utils.py:85-118), never passed in."""
    dtype = np.dtype(dtype)
    return {
        "image_id": image_id, "scene": scene, "scene_idx": scene_idx,
        "dim_order": dim_order,
        **{f"size_{d.lower()}": sizes.get(d) for d in "TCZYXMS"},
        "dtype": dtype.name, "ome_pixel_type": dtype_to_ome_type(dtype),
        "pps_z": pps.Z if pps else None, "pps_y": pps.Y if pps else None,
        "pps_x": pps.X if pps else None,
        "time_interval": time_interval, "metadata": metadata,
        "res_levels": res_levels,
    }


def channel_rows(image_id: str, scene: str, names) -> list[dict]:
    """The channel-catalog rows of one scene: channel ``c`` is named
    ``names[c]``."""
    return [{"image_id": image_id, "scene": scene, "c": ci,
             "channel_name": name} for ci, name in enumerate(names)]


def _frame(rows, columns: list[str]) -> pd.DataFrame:
    """A catalog frame from a row list (missing keys -> None), or the
    frame itself."""
    if isinstance(rows, pd.DataFrame):
        return rows
    return pd.DataFrame([{c: r.get(c) for c in columns} for r in rows],
                        columns=columns)


class ImageDataset:
    """Bundle of lazy DataFrames backing one image: pixels + catalogs.
    ``scenes`` / ``channels`` are catalog frames or lists of
    ``scene_row`` / ``channel_rows`` dicts. ``pixels`` is the pixel
    frame, or a no-argument function that builds it: a reader whose
    eager and tile reads never need the frame then builds no plan at
    open, and the frame is built once, on first use."""

    def __init__(self, pixels, scenes, channels,
                 tiles: Optional[pd.DataFrame] = None,
                 coords: Optional[pd.DataFrame] = None):
        self._pixels = pixels
        # small catalogs: kept driver-side (pandas)
        self.scenes = _frame(scenes, SCENE_COLUMNS)
        self.channels = _frame(channels, CHANNEL_COLUMNS)
        self.tiles = tiles
        self.coords = coords

    @property
    def pixels(self) -> DataFrame:
        if not isinstance(self._pixels, DataFrame):
            self._pixels = self._pixels()
        return self._pixels

    @pixels.setter
    def pixels(self, frame: DataFrame) -> None:
        self._pixels = frame

    def scene_ids(self) -> list[str]:
        return list(self.scenes.sort_values("scene_idx")["scene"])


class ArrayLikeReader:
    """Wrap ndarray(s) into an ImageDataset.

    A list input becomes a multi-scene image (ref array_like_reader.py:37-41);
    per-scene `dim_order` / `channel_names` may be a single value applied to
    every scene or a list with one entry per scene
    (ref array_like_reader.py:203-271).
    """

    def __init__(
        self,
        image,
        dim_order: Optional[str | Sequence[Optional[str]]] = None,
        channel_names=None,
        physical_pixel_sizes: Optional[PhysicalPixelSizes] = None,
        image_id: str = "img",
    ):
        arrays = image if isinstance(image, (list, tuple)) else [image]
        self.arrays = [np.asarray(a) for a in arrays]
        n = len(self.arrays)

        def _per_scene(val, name):
            if val is None:
                return [None] * n
            if isinstance(val, (list, tuple)) and len(val) and isinstance(
                val[0], (list, tuple, type(None))
            ):
                if len(val) != n:
                    raise ValueError(
                        f"{name} list length {len(val)} != n scenes {n}")
                return list(val)
            if name == "dim_order" and isinstance(val, (list, tuple)):
                if len(val) != n:
                    raise ValueError(
                        f"{name} list length {len(val)} != n scenes {n}")
                return list(val)
            return [val] * n

        self.dim_orders = _per_scene(dim_order, "dim_order")
        self.channel_names = _per_scene(channel_names, "channel_names")
        self.physical_pixel_sizes = physical_pixel_sizes or PhysicalPixelSizes(
            None, None, None)
        self.image_id = image_id

        self.resolved: list[tuple[str, Dimensions]] = []
        for i, arr in enumerate(self.arrays):
            order = self.dim_orders[i]
            order = (validate_dim_order(order, arr.shape) if order is not None
                     else guess_dim_order(arr.shape))
            self.resolved.append((order, Dimensions(order, arr.shape)))

    # -- relational materialization --------------------------------------
    def to_dataset(self, spark: SparkSession) -> ImageDataset:
        pixel_frames, scenes, channels = [], [], []
        for idx, arr in enumerate(self.arrays):
            order, dims = self.resolved[idx]
            scene = generate_ome_image_id(idx)
            pixel_frames.append(
                _array_to_long_form(arr, order, self.image_id, scene))

            size_c = dims.C if "C" in order else None
            names = resolve_channel_names(self.channel_names[idx], size_c, idx)
            channels += channel_rows(self.image_id, scene, names)
            scenes.append(scene_row(
                self.image_id, scene, idx, arr.dtype,
                {d: dims[d][0] for d in order}, dim_order=order,
                pps=self.physical_pixel_sizes))

        pdf = pd.concat(pixel_frames, ignore_index=True)
        has_complex = "value_re" in pdf.columns
        if has_complex and "value" in pdf.columns:
            raise ValueError(
                "multi-scene images must be all-complex or all-real")
        # cast dim indexes to int and value to double for a stable schema;
        # complex pixels become one struct<re,im> column (SURVEY §1.3)
        value_cols = (["value_re", "value_im"] if has_complex
                      else ["value"])
        base = pdf[[c for c in PIXEL_COLUMNS if c != "value"] + value_cols]
        value_expr = (
            F.struct(F.col("value_re").cast("double").alias("re"),
                     F.col("value_im").cast("double").alias("im"))
            .alias("value") if has_complex
            else F.col("value").cast("double").alias("value"))
        pixels = spark.createDataFrame(base).select(
            "image_id", "scene",
            F.col("res_level").cast("int").alias("res_level"),
            *[F.col(d).cast("int").alias(d) for d in PIXEL_DIM_COLS],
            value_expr,
        )
        return ImageDataset(pixels, scenes, channels)


def _array_to_long_form(arr: np.ndarray, order: str, image_id: str,
                        scene: str) -> pd.DataFrame:
    """Explode an ndarray into the long-form pixel schema.

    Dim letters outside MTCZYXS are preserved under their own column only if
    standard; non-standard letters are kept positionally by temporarily
    mapping them into unused standard slots is NOT done here — instead the
    raw (order, shape) is retained in the catalog and standardization (P7)
    slices them at index 0 before they ever reach the pixel table, matching
    ref tests/test_array_like_reader.py:1028-1047.
    """
    idx = np.indices(arr.shape).reshape(len(arr.shape), -1)
    data = {"image_id": image_id, "scene": scene, "res_level": 0}
    standard = set("TCZYXMS")
    for d, row in zip(order, idx):
        if d in standard:
            data[DIM_COLUMNS[d]] = row.astype(np.int64)
        else:
            # non-standard dim: only the index-0 hyperplane survives
            data[f"_nonstd_{d}"] = row.astype(np.int64)
    pdf = pd.DataFrame(data)
    vals = arr.reshape(-1)
    if np.iscomplexobj(vals):
        # complex64/128 -> struct<re,im> (SURVEY §1.3): carried as two
        # float64 component columns here, assembled into one struct column
        # in to_dataset (the catalog dtype restores complex on assembly)
        pdf["value_re"] = vals.real.astype(np.float64)
        pdf["value_im"] = vals.imag.astype(np.float64)
    else:
        pdf["value"] = vals.astype(np.float64)
    for d in PIXEL_DIM_COLS:
        if d not in pdf.columns:
            pdf[d] = -1 if d in ("m", "s") else 0
    # slice away non-standard dims at index 0 (ref pins this coercion)
    for col in [c for c in pdf.columns if c.startswith("_nonstd_")]:
        pdf = pdf[pdf[col] == 0].drop(columns=[col])
    # dims absent from the data: m/s = -1 sentinel, t/c/z/y/x = 0
    present = {DIM_COLUMNS[d] for d in order if d in standard}
    for d in ("m", "s"):
        if d not in present:
            pdf[d] = -1
    return pdf.reset_index(drop=True)


class ArrayLikeReaderMetadata:
    """Entry-point-shaped metadata for the built-in reader
    (ref array_like_reader.py:467-476)."""

    @staticmethod
    def get_supported_extensions() -> list:
        return []   # array inputs have no file extensions

    @staticmethod
    def get_reader():
        return ArrayLikeReader
