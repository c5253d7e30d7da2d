"""Axis reductions over the long-form pixel frame.

The reference ends at `get_image_data` and leaves reductions to numpy
(`ref bio_image.py:841-917` returns the ndarray users then `np.max(...,
axis=...)` over — maximum-intensity projection being the canonical
microscopy example). Here those reductions stay IN the engine as grouped
aggregates, so they distribute: a max-Z projection of a 100 TB image is a
partial-combining hash aggregate whose shuffle carries one row per output
pixel, not a driver-side ndarray.

- project: reduce one dim away (max/min/sum/mean) — MIP and friends;
  project_ndarray is its numpy twin over an already loaded scene.
- channel_histogram: per-channel equal-width intensity histogram; the
  per-channel (min, max) range is a tiny aggregate broadcast back onto the
  pixel scan, then binning + counting is one partial-combining aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioio_spark.dimensions import DIM_COLUMNS, Dimensions

_OPS = {"max": F.max, "min": F.min, "sum": F.sum, "mean": F.avg}


def project(px: DataFrame, dims: Dimensions, reduce_dim: str,
            op: str = "max") -> tuple[DataFrame, Dimensions]:
    """Reduce `reduce_dim` away with `op`; returns (plan, out_dims).

    The plan groups by every remaining dim column, so Catalyst plans a
    partial+final hash aggregate: each input partition collapses its local
    pixels before the one shuffle on the output-pixel key.
    """
    if op not in _OPS:
        raise ValueError(f"unknown projection op {op!r}; "
                         f"choose from {sorted(_OPS)}")
    if reduce_dim not in dims.order:
        raise ValueError(
            f"dim {reduce_dim!r} not in image dims {dims.order!r}")
    out_order = dims.order.replace(reduce_dim, "")
    group_cols = [DIM_COLUMNS[d] for d in out_order]
    plan = (px.groupBy(*group_cols)
            .agg(_OPS[op]("value").alias("value")))
    return plan, Dimensions(out_order, dims[out_order])


def project_ndarray(arr, order: str, reduce_dim: str, op: str = "max"):
    """``project`` over a loaded ``order``-ordered ndarray, in numpy: the
    same ops and errors, and Spark's NaN ordering (NaN sorts above every
    number, so max returns it and min skips it). max/min keep the dtype;
    sum/mean return float64."""
    import numpy as np

    if op not in _OPS:
        raise ValueError(f"unknown projection op {op!r}; "
                         f"choose from {sorted(_OPS)}")
    if reduce_dim not in order:
        raise ValueError(
            f"dim {reduce_dim!r} not in image dims {order!r}")
    axis = order.index(reduce_dim)
    if op == "max":
        return arr.max(axis=axis)
    if op == "min":
        return np.fmin.reduce(arr, axis=axis)
    values = arr.astype(np.float64)
    return values.sum(axis=axis) if op == "sum" else values.mean(axis=axis)


def channel_histogram(px: DataFrame, nbins: int = 16) -> DataFrame:
    """Per-channel equal-width histogram: (c, bin, n_pixels).

    Two aggregates: the per-channel range (|C| rows, broadcast back — never
    a shuffle of the pixel side) and the bin count (partial-combining).
    The top bin is closed (value == max lands in nbins-1). A flat channel
    (min == max) puts all pixels in bin 0.
    """
    if nbins < 1:
        raise ValueError("nbins must be >= 1")
    rng = px.groupBy("c").agg(F.min("value").alias("mn"),
                              F.max("value").alias("mx"))
    width = F.col("mx") - F.col("mn")
    bin_ = F.when(width == 0, F.lit(0)).otherwise(
        F.least(F.floor((F.col("value") - F.col("mn")) * nbins / width),
                F.lit(nbins - 1))).cast("int")
    return (px.join(F.broadcast(rng), "c")
            .select("c", bin_.alias("bin"))
            .groupBy("c", "bin")
            .agg(F.count(F.lit(1)).alias("n_pixels"))
            .orderBy("c", "bin"))


def contrast_stretch(px: DataFrame, lo_q: float = 0.01,
                     hi_q: float = 0.99, approx: bool = False,
                     accuracy: int = 10000) -> DataFrame:
    """Per-channel percentile contrast stretch: rescale each channel's
    intensities to [0,1] between its lo_q/hi_q percentiles, clamped.

    The per-channel percentile pair is a |C|-row aggregate broadcast back
    onto the scan; the rescale itself is a narrow codegen projection.
    ``approx=False`` uses exact interpolated percentiles (buffers per-group
    values — fine for catalog-scale channels); ``approx=True`` is the
    100 TB form: percentile_approx's mergeable quantile sketch, bounded
    memory per channel, identical plan shape (rank error <= 1/accuracy;
    img_contrast_stretch_approx gates it against exact clamp mass).
    """
    if not (0.0 <= lo_q < hi_q <= 1.0):
        raise ValueError("need 0 <= lo_q < hi_q <= 1")
    pct_fn = (F.percentile_approx("value",
                                  F.array(F.lit(lo_q), F.lit(hi_q)),
                                  accuracy)
              if approx else
              F.percentile("value", F.array(F.lit(lo_q), F.lit(hi_q))))
    pct = px.groupBy("c").agg(pct_fn.alias("pcts"))
    pct = pct.select("c", F.col("pcts")[0].alias("lo"),
                     F.col("pcts")[1].alias("hi"))
    span = F.col("hi") - F.col("lo")
    scaled = F.when(span == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest((F.col("value") - F.col("lo")) / span,
                           F.lit(0.0)), F.lit(1.0)))
    keep = [c for c in px.columns if c != "value"]
    return (px.join(F.broadcast(pct), "c")
            .select(*keep, scaled.alias("value")))
