"""Property-based pinning of the selector algebra against numpy.

The reference pins `reshape_data` semantics with a hand-enumerated
parametrize matrix (ref tests/test_array_like_reader.py:17-869); hypothesis
explores the same space exhaustively: for random shapes, output orders, and
per-dim selectors (point/fancy/strided with negative indices), the eager
``get_image_data`` (numpy ``reshape_data`` over the loaded scene) and the
lazy DataFrame plan (``apply_selectors``) must both produce exactly the
ndarray that direct numpy indexing produces.
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

DIMS = "TCZYX"


def _numpy_reference(arr: np.ndarray, out: str, sel: dict) -> np.ndarray:
    """Reference semantics via pure numpy: one axis at a time (int selectors
    drop the axis, fancy/strided keep it, unrequested dims slice at 0),
    then transpose to `out` order."""
    kept: list[str] = []
    axis = 0
    for d in DIMS:
        s = sel.get(d)
        if s is None:
            s = slice(None) if d in out else 0
        if isinstance(s, int):
            arr = np.take(arr, s, axis=axis)  # drops axis
        elif isinstance(s, (list, tuple)):
            arr = np.take(arr, list(s), axis=axis)
            kept.append(d)
            axis += 1
        else:  # slice
            arr = arr[(slice(None),) * axis + (s,)]
            kept.append(d)
            axis += 1
    perm = [kept.index(d) for d in out if d in kept]
    return np.transpose(arr, perm)


@st.composite
def selector_cases(draw):
    shape = tuple(draw(st.integers(1, 4)) for _ in DIMS)
    # output order: random non-empty subset of DIMS, random permutation
    out_letters = draw(st.lists(st.sampled_from(DIMS), min_size=1,
                                max_size=5, unique=True))
    out = "".join(out_letters)
    sel: dict = {}
    for d, size in zip(DIMS, shape):
        if d not in out:
            continue
        kind = draw(st.sampled_from(["none", "fancy", "slice"]))
        if kind == "fancy":
            idx = draw(st.lists(
                st.integers(-size, size - 1), min_size=1, max_size=size,
                unique=True))
            sel[d] = idx
        elif kind == "slice":
            start = draw(st.integers(-size, size))
            stop = draw(st.integers(-size, size))
            step = draw(st.integers(1, 3))
            s = slice(start, stop, step)
            if len(range(*s.indices(size))) == 0:
                sel[d] = slice(None)  # avoid empty outputs (engine returns
                # 0 rows; ndarray assembly of 0-size dims is untested ref
                # behavior)
            else:
                sel[d] = s
    # point-select (int) every dim NOT in out, sometimes
    for d, size in zip(DIMS, shape):
        if d not in out and draw(st.booleans()):
            sel[d] = draw(st.integers(-size, size - 1))
    return shape, out, sel


@pytest.mark.usefixtures("spark")
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(case=selector_cases())
def test_selectors_match_numpy(spark, case):
    from bioio_spark.bio_image import BioImage

    shape, out, sel = case
    arr = np.arange(np.prod(shape), dtype=np.float64).reshape(shape)
    img = BioImage(arr, dim_order=DIMS, spark=spark)

    expected = _numpy_reference(arr, out, sel)
    # int selectors on dims outside `out` are index selections the engine
    # applies as filters; dims inside `out` use fancy/strided only (an int
    # selector would drop the axis and `out` would no longer match).
    got = img.get_image_data(out, **sel)
    assert got.shape == expected.shape, (shape, out, sel)
    np.testing.assert_array_equal(got, expected)


@pytest.mark.usefixtures("spark")
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(case=selector_cases())
def test_reshape_data_matches_numpy_and_plan(spark, case):
    """reshape_data equals the numpy reference and the DataFrame plan's
    assembled array (to_ndarray over apply_selectors), shape and dtype
    included."""
    from bioio_spark.bio_image import BioImage
    from bioio_spark.dimensions import reshape_data
    from bioio_spark.operators.selectors import apply_selectors, to_ndarray

    shape, out, sel = case
    arr = np.arange(np.prod(shape), dtype=np.int32).reshape(shape)
    got = reshape_data(arr, DIMS, out, **sel)
    expected = _numpy_reference(arr, out, sel)
    assert got.dtype == arr.dtype
    assert got.shape == expected.shape, (shape, out, sel)
    np.testing.assert_array_equal(got, expected)

    px, dims = BioImage(arr, dim_order=DIMS,
                        spark=spark)._standard_pixels()
    plan, out_dims = apply_selectors(px, dims, out, sel)
    planned = to_ndarray(plan, out_dims, dtype=arr.dtype)
    assert planned.shape == got.shape, (shape, out, sel)
    np.testing.assert_array_equal(got, planned)


@st.composite
def plane_cases(draw):
    t = draw(st.integers(1, 3))
    c = draw(st.integers(1, 2))
    h = draw(st.integers(1, 9))
    w = draw(st.integers(1, 9))
    tile_h = draw(st.integers(1, 5))
    tile_w = draw(st.integers(1, 5))
    return (t, c, h, w), (tile_h, tile_w)


@pytest.mark.usefixtures("spark")
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(case=plane_cases())
def test_planes_roundtrip_property(spark, case):
    """pixels -> tiles -> pixels is the identity for every shape/tile-size
    combination, including tiles larger than the image and ragged edges."""
    from bioio_spark.operators.planes import (assemble_ndarray,
                                              pixels_to_planes,
                                              planes_to_pixels)

    (t, c, h, w), (th, tw) = case
    arr = np.arange(t * c * h * w, dtype=np.float64).reshape(t, c, h, w)
    rows = [(ti, ci, yi, xi, float(arr[ti, ci, yi, xi]))
            for ti in range(t) for ci in range(c)
            for yi in range(h) for xi in range(w)]
    px = spark.createDataFrame(
        rows, "t int, c int, y int, x int, value double")
    planes = pixels_to_planes(px, tile_h=th, tile_w=tw)

    back = {(r["t"], r["c"], r["y"], r["x"]): r["value"]
            for r in planes_to_pixels(planes).collect()}
    assert len(back) == arr.size
    for k, v in back.items():
        assert arr[k] == v

    out = assemble_ndarray(planes, "TC", arr.shape)
    np.testing.assert_array_equal(out, arr)
