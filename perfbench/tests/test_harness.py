"""Self-tests for the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import harness, inputs, run
from perfbench.workloads import live_acquisition

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def test_percentile_refuses_thin_tail():
    values = [float(v) for v in range(1, 20)]
    with pytest.raises(harness.TooFewSamples):
        harness.percentile(values, 0.5)        # 19 samples: 9 beyond p50
    assert harness.percentile(values + [20.0], 0.5) == 10.0
    with pytest.raises(harness.TooFewSamples):
        harness.percentile([1.0] * 99, 0.9)    # 9 beyond p90
    assert harness.percentile([1.0] * 100, 0.9) == 1.0


def _store(path: str, planes: np.ndarray) -> None:
    """Write `planes` (T, Z, Y, X) the way the live sink lays out its
    store, one chunk per t, with the library's own Zarr codec."""
    from bioio_spark.formats.zarr import build_zarray, chunk_key, encode_chunk

    arr = os.path.join(path, "live.zarr", "0")
    os.makedirs(arr)
    t, z, y, x = planes.shape
    with open(os.path.join(arr, ".zarray"), "w") as f:
        f.write(build_zarray((t, 1, z, y, x), (1, 1, z, y, x), "float64"))
    for k in range(t):
        with open(os.path.join(arr, chunk_key((k, 0, 0, 0, 0))), "wb") as f:
            f.write(encode_chunk(planes[k:k + 1, None].astype("float64")))


def test_corrupted_expected_value_fails_op_and_ranks_it_slowest(tmp_path):
    planes = np.random.default_rng(0).integers(
        0, 4096, (2, 2, 4, 5), dtype=np.uint16)
    _store(str(tmp_path), planes)
    wl = live_acquisition.Workload(seed=0, seconds=1, work=str(tmp_path),
                                   cache=str(tmp_path))
    wl.base = str(tmp_path)
    wl.files = [(b"", planes[k].copy()) for k in range(2)]
    wl.files[1][1][0, 0, 0] += 1          # corrupt op 1's expected planes
    # the op with the corrupted expectation is the faster one
    ops = [{"id": k, "latency_s": 2.0 - k, "traced": False}
           for k in range(2)]
    wl.check(ops)
    assert ops[0]["ok"] and not ops[1]["ok"]
    ranked = harness.ranked_latencies(ops)
    assert ranked[1] > ranked[0]
    line = json.loads(harness.result_line(2, 1, 1, {"x": (1.0, "s")}))
    assert line["correct"] is False and line["failed"] == 1


def test_metric_names():
    names = set(run.per_layer_units()) | {
        "setup_s", "ops_per_s", "op_mean_s", "peak_rss_mb", "cpu_s_per_op"}
    for name in names:
        assert harness.METRIC_NAME.fullmatch(name), name
    with pytest.raises(ValueError):
        harness.result_line(1, 0, 0, {"op p50": (1.0, "s")})
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert ({m["name"]: m["unit"] for m in spec["per_layer"]}
            == run.per_layer_units())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "ops_per_s", "op_mean_s", "cpu_s_per_op", "peak_rss_mb"}


def _tree(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), path)] = fh.read()
    return out


def _make_all(seed: int, out: str) -> dict:
    os.makedirs(out)
    inputs.corpus_shard(seed, 0, out, 30, 20)
    files = inputs.acquisition_files(seed, 3, 2, 8, 8)
    got = _tree(out)
    got.update({f"acq{k}": data for k, (data, _) in enumerate(files)})
    return got


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _make_all(7, str(tmp_path / "a"))
    b = _make_all(7, str(tmp_path / "b"))
    c = _make_all(8, str(tmp_path / "c"))
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a)


def _write_rows(path: str, expected: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [json.loads(r) for r in expected["rows"]]
    cols = expected["columns"]
    pq.write_table(pa.table({c: [r[i] for r in rows]
                             for i, c in enumerate(cols)}), path)


def test_stale_semantic_dedup_memo_counts_as_known_failure(tmp_path):
    from perfbench.workloads import corpus_curation as cc

    wl = cc.Workload(seed=3, seconds=1, work=str(tmp_path),
                     cache=str(tmp_path / "cache"))
    wl.shards = [inputs.corpus_shard(3, k, str(tmp_path), 20, 64)
                 for k in range(2)]
    expected = [wl._oracle(s) for s in wl.shards]
    assert expected[0]["semantic_dedup"] != expected[1]["semantic_dedup"]
    wl.first_shard = 0
    ops = []
    for i, (shard, stale, corrupt) in enumerate(
            [(0, False, False), (1, True, False), (1, True, True)]):
        out = tmp_path / f"op{i}"
        out.mkdir()
        for fn in cc.ORACLES:
            want = expected[0 if stale and fn == cc.KNOWN_DEFECT
                            else shard][fn]
            if corrupt and fn == "quality_score":
                want = expected[0][fn]
            _write_rows(str(out / fn), want)
        ops.append({"id": i, "shard": shard, "out": str(out),
                    "latency_s": 1.0, "traced": False})
    wl.check(ops)
    assert [o["ok"] for o in ops] == [True, False, False]
    assert [o.get("known") for o in ops] == [False, True, False]
    assert ops[2]["why"] == "quality_score, semantic_dedup"
