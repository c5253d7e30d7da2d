import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

# -- default fast tier (round 14) -------------------------------------------
# The driver's verify window cannot fit the full suite (~58 min of
# single-process Spark work at round 13); tests listed in slow_tests.txt
# are marked `slow` and deselected by the `-m "not slow"` addopts in
# pyproject.toml. SPARK_GRAFT_FULL_TESTS=1 disables the marking so the
# same command runs everything (the pre-commit bar — see slow_tests.txt).

_SLOW_LIST = os.path.join(os.path.dirname(__file__), "slow_tests.txt")


def _slow_ids():
    try:
        with open(_SLOW_LIST) as f:
            return {ln.strip() for ln in f
                    if ln.strip() and not ln.startswith("#")}
    except OSError:
        return set()


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: heavyweight test excluded from the default (driver) tier; "
        "run with SPARK_GRAFT_FULL_TESTS=1 to include")


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    # explicit node ids (pytest file.py::test_name) mean the developer
    # wants exactly those tests — don't let the default -m filter
    # silently deselect a named slow test into a green-looking no-op
    if any("::" in str(a) for a in config.invocation_params.args):
        return
    slow = _slow_ids()
    if not slow:
        return
    for item in items:
        key = f"{os.path.basename(str(item.fspath))}::{item.name}"
        if key in slow:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from bioio_spark.session import get_session

    s = get_session("bioio_spark_tests", extra_conf={
        "spark.sql.shuffle.partitions": "4",
        "spark.default.parallelism": "4",
    })
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture
def raster_rows_match():
    """Checker for the single-raster readers: the long-form
    ``(t, c, z, y, x, s, value)`` rows a reader builds for a one-file
    image equal its decoded ``(T, Y, X[, S])`` frames, in row order
    y, x, s; a gray raster has no S axis (s = -1)."""
    import numpy as np

    def check(img, frames):
        frames = np.asarray(frames)
        got = (img._dataset.pixels
               .select("t", "c", "z", "y", "x", "s", "value")
               .orderBy("t", "y", "x", "s").toPandas())
        idx = np.indices(frames.shape).reshape(frames.ndim, -1)
        want = {"t": idx[0], "c": 0, "z": 0, "y": idx[1], "x": idx[2],
                "s": idx[3] if frames.ndim == 4 else -1,
                "value": frames.ravel()}
        assert len(got) == frames.size
        for col, val in want.items():
            np.testing.assert_array_equal(
                got[col].to_numpy(), np.broadcast_to(val, frames.size),
                err_msg=col)

    return check


def _jobs_in_group(sc, group: str) -> tuple:
    """``(jobs, shuffle_bytes)`` of the Spark jobs run under job group
    ``group``: their count and the shuffle bytes their stages read and
    wrote."""
    # job and stage events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    shuffle = 0
    for jid in jobs:
        for sid in tracker.getJobInfo(jid).stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # py4j: a skipped stage has no attempt
                continue
            shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
    return len(jobs), shuffle


@pytest.fixture
def count_jobs(spark):
    """Runner that calls ``fn()`` under a fresh job group and returns
    ``(result, jobs, shuffle_bytes)``: the Spark jobs the call ran and
    the shuffle bytes their stages read and wrote."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return (out, *_jobs_in_group(sc, group))

    return run


@pytest.fixture
def stream_jobs(spark):
    """``(jobs, shuffle_bytes)`` of a finished streaming query: Spark
    runs a stream's micro-batch jobs under the job group
    ``str(query.runId)``."""
    return lambda query: _jobs_in_group(spark.sparkContext,
                                        str(query.runId))


@pytest.fixture
def planned_read():
    """Predicate on a planned read's physical plan string: no exchange of
    any kind, and no Python-RDD scan — the plan rows are an Arrow-built
    ``LocalTableScan`` (``Scan ExistingRDD`` would also mean a silent
    fallback off Arrow)."""
    def check(plan: str) -> bool:
        return "Exchange" not in plan and "Scan ExistingRDD" not in plan

    return check
