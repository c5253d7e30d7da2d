"""Chunked plane representation — the 100 TB layout (SURVEY §1.3, §7).

Long-form `pixels` (one row per pixel) is the correctness representation;
at scale an image is stored as `planes`: ONE ROW PER YX TILE with a dense
row-major `values array<double>` payload — the Spark analog of a dask chunk
(ref docs/OVERVIEW.md:267-270 recommends chunking on tile boundaries).

Why this wins at scale:
- A (t,c,z) selector prunes whole tile rows via min/max stats on plain int
  columns — the values array is never deserialized for pruned tiles
  (parquet column pruning + predicate pushdown on the key columns).
- A YX window selector keeps only overlapping tiles (y0/x0/h/w range
  predicate) and slices inside the array payload, so I/O is proportional to
  the selected window, not the image.
- ndarray assembly scatters whole tiles (vectorized numpy copy per row)
  instead of one scatter per pixel.

Both representations are exact inverses (`pixels_to_planes` /
`planes_to_pixels`), which the img_planes_roundtrip oracle query
hash-checks against the canonical pixel generator.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PLANE_KEY_COLS = ["image_id", "scene", "res_level", "t", "c", "z", "m", "s"]


def pixels_to_planes(pixels: DataFrame, tile_h: int = 256,
                     tile_w: int = 256) -> DataFrame:
    """Re-chunk a long-form pixel frame into dense row-major YX tiles.

    One shuffle (groupBy tile key); tile size bounds the per-row payload
    (tile_h*tile_w*8 bytes — 512 KiB at the 256x256 default), so rows stay
    well under parquet/Arrow batch limits and executor memory per task is
    flat. Ragged edge tiles keep their true h/w from the data.
    """
    key_cols = [c for c in PLANE_KEY_COLS if c in pixels.columns]
    y0 = (F.floor(F.col("y") / tile_h) * tile_h).cast("int").alias("y0")
    x0 = (F.floor(F.col("x") / tile_w) * tile_w).cast("int").alias("x0")
    cells = F.array_sort(F.collect_list(F.struct("y", "x", "value")))
    return (
        pixels.groupBy(*key_cols, y0, x0)
        .agg((F.max("y") - F.min("y") + 1).cast("int").alias("h"),
             (F.max("x") - F.min("x") + 1).cast("int").alias("w"),
             F.transform(cells, lambda s: s["value"]).alias("values"))
    )


def planes_to_pixels(planes: DataFrame) -> DataFrame:
    """Inverse of pixels_to_planes: explode each dense row-major tile back
    to one row per pixel (y = y0 + i // w, x = x0 + i % w)."""
    key_cols = [c for c in PLANE_KEY_COLS if c in planes.columns]
    ex = planes.select(
        *key_cols, "y0", "x0", "w",
        F.posexplode("values").alias("i", "value"))
    return ex.select(
        *key_cols,
        (F.col("y0") + (F.col("i") / F.col("w")).cast("long"))
        .cast("int").alias("y"),
        (F.col("x0") + F.col("i") % F.col("w")).cast("int").alias("x"),
        "value")


def select_window(planes: DataFrame, y_lo: int, y_hi: int,
                  x_lo: int, x_hi: int) -> DataFrame:
    """Tile-pruned YX window selection (inclusive bounds).

    The overlap predicate touches only the int key columns, so non-
    overlapping tiles are skipped before their payload is read; inside a
    surviving tile the window is cut out of the array payload without
    exploding non-window cells.
    """
    key_cols = [c for c in PLANE_KEY_COLS if c in planes.columns]
    overlapping = planes.filter(
        (F.col("y0") <= y_hi) & (F.col("y0") + F.col("h") - 1 >= y_lo)
        & (F.col("x0") <= x_hi) & (F.col("x0") + F.col("w") - 1 >= x_lo))
    ex = overlapping.select(
        *key_cols, "y0", "x0", "w",
        F.posexplode("values").alias("i", "value"))
    y = (F.col("y0") + (F.col("i") / F.col("w")).cast("long")).cast("int")
    x = (F.col("x0") + F.col("i") % F.col("w")).cast("int")
    return (ex.select(*key_cols, y.alias("y"), x.alias("x"), "value")
            .filter((F.col("y") >= y_lo) & (F.col("y") <= y_hi)
                    & (F.col("x") >= x_lo) & (F.col("x") <= x_hi)))


def assemble_ndarray(planes: DataFrame, dims_order: str,
                     shape: tuple[int, ...], dtype=np.float64
                     ) -> np.ndarray:
    """Materialize a plane frame into a dense ``dtype`` ndarray,
    scattering whole tiles (one vectorized numpy copy per tile row, not
    per pixel). One Spark job: the tiles come back in a single Arrow
    collect. Cells no tile covers stay 0. A frame with a ``data``
    column (``planned.NATIVE_SCHEMA``) carries each tile as native
    ``dtype`` bytes, read with ``np.frombuffer``; otherwise its
    ``values`` arrays are cast to ``dtype``.

    dims_order are the leading dims before Y/X, e.g. "TCZ" for a TCZYX
    output of the given shape.
    """
    lead = [d.lower() for d in dims_order]
    arr = np.zeros(shape, dtype=dtype)
    native = "data" in planes.columns
    pdf = planes.select(*lead, "y0", "x0", "h", "w",
                        "data" if native else "values").toPandas()
    for row in pdf.itertuples(index=False):
        idx = tuple(getattr(row, d) for d in lead)
        tile = (np.frombuffer(row.data, dtype=arr.dtype) if native
                else np.asarray(row.values)).reshape(row.h, row.w)
        arr[idx + (slice(row.y0, row.y0 + row.h),
                   slice(row.x0, row.x0 + row.w))] = tile
    return arr


def project_planes(planes: DataFrame, reduce_dim: str = "z",
                   op: str = "max") -> DataFrame:
    """Tile-level axis reduction: reduce `reduce_dim` away by combining
    whole tile payloads elementwise (zip_with inside an array fold) —
    the scale path for projections: no pixel-row explosion, the shuffle
    carries one dense array per output tile, and the combine runs
    vectorized over the payload.

    Tiles at the same (y0, x0) share the image's tile grid, so payload
    shapes align within a group by construction.
    """
    ops = {
        "max": (lambda a, b: F.greatest(a, b), False),
        "min": (lambda a, b: F.least(a, b), False),
        "sum": (lambda a, b: a + b, True),
    }
    if op not in ops:
        raise ValueError(f"unknown projection op {op!r}; "
                         f"choose from {sorted(ops)}")
    combine, needs_zero_init = ops[op]
    if reduce_dim not in planes.columns:
        raise ValueError(f"dim column {reduce_dim!r} not in plane frame")
    key_cols = [c for c in PLANE_KEY_COLS
                if c in planes.columns and c != reduce_dim]
    grouped = (planes.groupBy(*key_cols, "y0", "x0", "h", "w")
               .agg(F.collect_list("values").alias("chunks")))
    first = F.element_at(F.col("chunks"), 1)
    # max/min are idempotent, so re-folding the first chunk over itself is
    # harmless; sum needs a zero init to avoid double-counting it
    init = F.transform(first, lambda _: F.lit(0.0)) if needs_zero_init \
        else first
    merged = F.aggregate(
        F.col("chunks"), init,
        lambda acc, ch: F.zip_with(acc, ch, combine))
    return grouped.select(*key_cols, "y0", "x0", "h", "w",
                          merged.alias("values"))


def downsample_planes(planes: DataFrame) -> DataFrame:
    """Factor-2 bin-average downsample computed INSIDE tile payloads — the
    pyramid-generation scale path: a pure narrow projection (zero shuffle),
    each output tile derived from its own input tile's array.

    Requires even tile offsets (the default power-of-two tile grid), so
    2x2 pooling windows never span tiles. Ragged edge windows average the
    cells that exist (matching a pixel-level floor(y/2)/floor(x/2) group
    average). Summation order inside a window is fixed row-major, so
    results are deterministic.
    """
    h2 = F.ceil(F.col("h") / 2).cast("int")
    w2 = F.ceil(F.col("w") / 2).cast("int")

    def pooled(k):
        i, j = (k / F.col("w2")).cast("int"), k % F.col("w2")
        cells = []
        for di in (0, 1):
            for dj in (0, 1):
                y, x = 2 * i + di, 2 * j + dj
                cells.append(
                    F.when((y < F.col("h")) & (x < F.col("w")),
                           F.element_at(F.col("values"),
                                        (y * F.col("w") + x + 1)
                                        .cast("int"))))
        arr = F.array(*cells)
        present = F.filter(arr, lambda v: v.isNotNull())
        return (F.aggregate(present, F.lit(0.0), lambda a, v: a + v)
                / F.size(present))

    key_cols = [c for c in PLANE_KEY_COLS if c in planes.columns]
    # pooling runs in its own projection step: renaming h2 -> h in the same
    # select would shadow the lambda's references to the INPUT h/w
    mid = (planes
           .withColumn("h2", h2).withColumn("w2", w2)
           .withColumn("pooled", F.transform(
               F.sequence(F.lit(0), F.col("h2") * F.col("w2") - 1),
               pooled)))
    return mid.select(
        *key_cols,
        (F.col("y0") / 2).cast("int").alias("y0"),
        (F.col("x0") / 2).cast("int").alias("x0"),
        F.col("h2").alias("h"), F.col("w2").alias("w"),
        F.col("pooled").alias("values"))
