"""Dimension model: canonical TCZYX(+M,S) ordering, dim guessing, slice algebra.

Semantics mirror the reference's dimension handling:
- canonical order TCZYX, extended MTCZYXS (ref: bioio/bio_image.py:500-546,
  docs/OVERVIEW.md:276-286)
- shape-based dim guessing right-aligned against "TCZYX"/"TCZYXS"
  (ref: bioio/array_like_reader.py:131-163)
- selector algebra: int = point select (drops dim), list/tuple = fancy select
  (keeps dim, re-indexed densely), range/slice = python slice semantics
  (ref: bioio/bio_image.py:776-788)

Everything here is driver-side pure Python: selectors are resolved against
cataloged dim sizes into literal predicates *before* any Spark plan is built,
so Catalyst sees plain comparisons it can push down to the parquet scan.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence


class InvalidDimensionOrderingError(ValueError):
    pass


TIME = "T"
CHANNEL = "C"
SPATIAL_Z = "Z"
SPATIAL_Y = "Y"
SPATIAL_X = "X"
MOSAIC_TILE = "M"
SAMPLES = "S"


class DimensionNames:
    """Dimension-name constants (the reference's
    bioio_base.dimensions.DimensionNames surface, ref __init__.py:8)."""

    Time = TIME
    Channel = CHANNEL
    SpatialZ = SPATIAL_Z
    SpatialY = SPATIAL_Y
    SpatialX = SPATIAL_X
    MosaicTile = MOSAIC_TILE
    Samples = SAMPLES

DEFAULT_DIMENSION_ORDER = "TCZYX"                 # ref bio_image.py:500-546
DIMENSION_ORDER_WITH_SAMPLES = "TCZYXS"
DIMENSION_ORDER_WITH_MOSAIC = "MTCZYX"
DIMENSION_ORDER_WITH_MOSAIC_SAMPLES = "MTCZYXS"

# column names used in the long-form pixel table for each dim letter
DIM_COLUMNS = {"T": "t", "C": "c", "Z": "z", "Y": "y", "X": "x",
               "M": "m", "S": "s"}


@dataclass(frozen=True)
class Dimensions:
    """Named axes + sizes; analog of bioio-base Dimensions
    (surfaced at ref bio_image.py:729-747)."""

    order: str
    shape: tuple[int, ...]

    def __post_init__(self):
        if len(self.order) != len(self.shape):
            raise InvalidDimensionOrderingError(
                f"order {self.order!r} does not match shape {self.shape}"
            )

    def __getattr__(self, name: str) -> int:
        if len(name) == 1 and name in self.order:
            return self.shape[self.order.index(name)]
        raise AttributeError(name)

    def __getitem__(self, dims: str) -> tuple[int, ...]:
        return tuple(self.shape[self.order.index(d)] for d in dims)

    @property
    def items(self) -> list[tuple[str, int]]:
        return list(zip(self.order, self.shape))

    def __str__(self) -> str:
        inner = ", ".join(f"{d}: {s}" for d, s in self.items)
        return f"<Dimensions [{inner}]>"


def guess_dim_order(shape: Sequence[int]) -> str:
    """Right-align shape against TCZYX (<=5d) or TCZYXS (6d).

    Mirrors ref bioio/array_like_reader.py:131-163: 1d->"X", 2d->"YX",
    3d->"ZYX", 4d->"CZYX", 5d->"TCZYX", 6d->"TCZYXS"; >6 dims raises.
    """
    n = len(shape)
    if n <= 5:
        return DEFAULT_DIMENSION_ORDER[5 - n:]
    if n == 6:
        return DIMENSION_ORDER_WITH_SAMPLES
    raise InvalidDimensionOrderingError(
        f"Cannot guess dimension order for {n}-dimensional data"
    )


def validate_dim_order(dim_order: str, shape: Sequence[int]) -> str:
    """Validate a user-provided dim order against a shape
    (ref array_like_reader.py:273-300): length must match, letters unique."""
    if len(dim_order) != len(shape):
        raise InvalidDimensionOrderingError(
            f"dim_order {dim_order!r} has {len(dim_order)} dims, "
            f"data has {len(shape)}"
        )
    if len(set(dim_order)) != len(dim_order):
        raise InvalidDimensionOrderingError(
            f"dim_order {dim_order!r} contains repeated dimensions"
        )
    return dim_order.upper()


def target_standard_order(present_dims: str) -> str:
    """Choose the standardized output order for the BioImage tier
    (ref bio_image.py:500-546): TCZYX, TCZYX+S, M+TCZYX, or M+TCZYX+S,
    depending on which extra dims are present."""
    has_m = MOSAIC_TILE in present_dims
    has_s = SAMPLES in present_dims
    if has_m and has_s:
        return DIMENSION_ORDER_WITH_MOSAIC_SAMPLES
    if has_m:
        return DIMENSION_ORDER_WITH_MOSAIC
    if has_s:
        return DIMENSION_ORDER_WITH_SAMPLES
    return DEFAULT_DIMENSION_ORDER


# ---------------------------------------------------------------------------
# Selector algebra (P1-P3): resolve python-style selectors against a dim size
# into explicit index lists / strided triples, driver-side.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class ResolvedSelector:
    """A selector resolved against a concrete dim size.

    kind: 'point' (drops the dim), 'fancy' (explicit kept indices, re-indexed
    in listed order), 'stride' (start/stop/step, re-indexed densely).
    """

    kind: str
    indices: tuple[int, ...] = ()
    start: int = 0
    stop: int = 0
    step: int = 1

    @property
    def kept_indices(self) -> tuple[int, ...]:
        if self.kind == "stride":
            return tuple(range(self.start, self.stop, self.step))
        return self.indices


def resolve_selector(sel, size: int) -> ResolvedSelector:
    """Resolve int / list / tuple / range / slice selector semantics
    (ref bio_image.py:776-788) against a dim of length `size`."""
    if isinstance(sel, (int,)) and not isinstance(sel, bool):
        i = sel + size if sel < 0 else sel
        if not 0 <= i < size:
            raise IndexError(f"index {sel} out of range for dim size {size}")
        return ResolvedSelector("point", indices=(i,))
    if isinstance(sel, (list, tuple)):
        out = []
        for v in sel:
            i = v + size if v < 0 else v
            if not 0 <= i < size:
                raise IndexError(f"index {v} out of range for size {size}")
            out.append(i)
        return ResolvedSelector("fancy", indices=tuple(out))
    if isinstance(sel, range):
        sel = slice(sel.start, sel.stop, sel.step)
    if isinstance(sel, slice):
        start, stop, step = sel.indices(size)
        if step <= 0:
            # pragmatic restriction: reference relies on numpy which supports
            # negative steps; our relational re-indexing requires positive
            # step (negative step = fancy select with reversed range)
            idx = tuple(range(size))[sel]
            return ResolvedSelector("fancy", indices=idx)
        return ResolvedSelector("stride", start=start, stop=stop, step=step)
    raise TypeError(f"Unsupported selector type: {type(sel)!r}")


def reshape_data(data, given_dims: str, return_dims: str, **selectors):
    """``data`` (an ndarray in ``given_dims`` order) with the selectors
    applied and its axes arranged in ``return_dims`` order — the
    reference's ``reshape_data`` (ref bio_image.py:907-917), in numpy
    over an already loaded scene. Same algebra as the DataFrame plan of
    ``operators.selectors.apply_selectors``:

    - an int drops its dim, unless the dim is in ``return_dims``, where
      it is kept with size 1;
    - a list/tuple or range/slice keeps the listed indices, in order;
    - a dim absent from ``return_dims`` without a selector takes index 0,
      one with a list or slice takes its first listed index;
    - a dim in ``return_dims`` but absent from ``given_dims`` is added
      with size 1.
    """
    import numpy as np

    unknown = set(selectors) - set(DIM_COLUMNS)
    if unknown:
        raise ValueError(f"Unknown selector dims: {sorted(unknown)}")
    take, kept, empty = [], [], False
    for letter, size in zip(given_dims, data.shape):
        sel = selectors.get(letter)
        idx = (range(size) if sel is None
               else resolve_selector(sel, size).kept_indices)
        if letter in return_dims:
            kept.append(letter)
        elif sel is None:
            idx = (0,)
        else:
            # the dim is dropped: its first selected index remains, and
            # an empty selection leaves nothing (the plan's empty frame
            # assembles to zeros)
            empty = empty or not idx
            idx = tuple(idx)[:1] or (0,)
        take.append(np.asarray(idx, dtype=np.intp))
    out = data[np.ix_(*take)] if take else data
    # squeeze the dropped axes, add the absent requested ones
    out = out.reshape([len(t) for t, d in zip(take, given_dims)
                       if d in return_dims] or ())
    shape = {d: out.shape[i] for i, d in enumerate(kept)}
    out = np.transpose(out, [kept.index(d) for d in return_dims
                             if d in shape]) if kept else out
    out = out.reshape([shape.get(d, 1) for d in return_dims])
    if empty:
        return np.zeros(out.shape, dtype=data.dtype)
    return out
