"""bench.py environment-telemetry contract (round 12): the
BENCH_LOCAL.json artifact must carry machine-readable adjudication —
ambient loadavg, host_busy, and fresh-JVM rechecks of inflated
queries — so a co-tenancy dispute (rounds 9-11's recurring verdict
narrative) is decidable from the file, not from prose."""

import json
import os

import bench
from bioio_spark.session import hold, memo, release, stats


def test_read_loadavg_shape():
    la = bench._read_loadavg()
    # on this Linux box the file exists; three non-negative floats
    assert len(la) == 3 and all(x >= 0.0 for x in la)


def test_prev_bench_queries_parses_driver_artifact(tmp_path):
    art = {"n": 7, "rc": 0, "parsed": {
        "queries": {"q1": 1.5, "q2": 0.4, "other": 9.9},
        "value": 11.8}}
    with open(tmp_path / "BENCH_r07.json", "w") as f:
        json.dump(art, f)
    # an OLDER round with different numbers must lose to r07
    with open(tmp_path / "BENCH_r02.json", "w") as f:
        json.dump({"parsed": {"queries": {"q1": 99.0}}}, f)
    prev = bench._prev_bench_queries(str(tmp_path))
    assert prev == {"q1": 1.5, "q2": 0.4}      # 'other' excluded
    assert bench._prev_bench_queries(str(tmp_path / "nowhere")) == {}


def test_prev_bench_queries_orders_numerically(tmp_path):
    # r10 > r9 numerically but not lexically — the sort must be on N
    with open(tmp_path / "BENCH_r09.json", "w") as f:
        json.dump({"parsed": {"queries": {"q": 1.0}}}, f)
    with open(tmp_path / "BENCH_r10.json", "w") as f:
        json.dump({"parsed": {"queries": {"q": 2.0}}}, f)
    assert bench._prev_bench_queries(str(tmp_path)) == {"q": 2.0}


def test_select_outliers_ratio_floor_and_cap():
    prev = {"fast": 0.2, "a": 1.0, "b": 2.0, "c": 4.0, "missing": 1.0}
    timings = {
        "fast": 5.0,     # inflated but prev below floor -> excluded
        "a": 1.2,        # under ratio -> excluded
        "b": 3.0,        # 1.5x, excess 1.0
        "c": 8.0,        # 2.0x, excess 4.0
        "new_query": 9.0,  # no prev -> excluded
    }
    out = bench._select_outliers(timings, prev)
    assert out == ["c", "b"]                   # worst excess first
    assert bench._select_outliers(timings, prev, cap=1) == ["c"]


def test_bench_local_schema_has_env_block():
    """If a BENCH_LOCAL.json exists at the repo root it must carry the
    env block (guards the schema the next verdict adjudicates from)."""
    p = os.path.join(os.path.dirname(os.path.abspath(bench.__file__)),
                     "BENCH_LOCAL.json")
    if not os.path.isfile(p):
        return
    with open(p) as f:
        d = json.load(f)
    if "env" not in d:
        # a pre-r12 artifact from an old run; the next bench.py run
        # rewrites it — only enforce once the new schema has landed
        return
    env = d["env"]
    for key in ("loadavg_before", "loadavg_after", "host_busy",
                "recheck", "recheck_ratio"):
        assert key in env
    assert isinstance(env["host_busy"], bool)


def test_reset_session_memos_releases_trained_state(spark):
    """r14 (verdict #6): between timed passes the bench releases the
    session-lifetime trained-state memos (session.release), so min-of-3
    never times a query against the previous pass's training. Pin: a
    populated IVF/BPE memo is emptied (persisted frames unpersisted) and
    the next lookup recomputes instead of reusing the old object."""
    from pyspark.sql import functions as F

    marker = spark.range(2).select(F.col("id")).persist()
    memo(spark, "ivf", ("k", 8, 4), lambda: {"0": [0.0]})  # trained dict
    memo(spark, "ivf", ("assigned", "k", 8, 4), lambda: marker)
    bpe_frame = spark.range(3).persist()
    bpe_frame.count()
    memo(spark, "bpe", ("corpus", 16),
         lambda: (bpe_frame, [(1, "a b", "ab", 2)], [bpe_frame]))

    release(spark)

    assert "ivf" not in stats(spark)
    assert memo(spark, "bpe", ("corpus", 16), lambda: "rebuilt") == "rebuilt"
    # the persisted frames were actually released
    assert marker.storageLevel.useMemory is False
    assert bpe_frame.storageLevel.useMemory is False
    release(spark, "bpe")


def test_release_unpersists_every_namespace(spark):
    """release(spark) frees a memo value, a hold tag and a BPE entry."""
    frames = [spark.range(n).persist() for n in (4, 5, 6)]
    for df in frames:
        df.count()
    memo_df, held_df, bpe_df = frames
    memo(spark, "test_memo", "k", lambda: memo_df)
    hold(spark, "test_tag", held_df)
    memo(spark, "bpe", ("test", 1), lambda: (bpe_df, [], [bpe_df]))
    st = stats(spark)
    assert st["test_memo"]["frames"][0] is memo_df
    assert st["hold:test_tag"]["frames"][0] is held_df
    assert st["bpe"]["entries"] == 1

    release(spark)

    assert stats(spark) == {}
    for df in frames:
        assert df.storageLevel.useMemory is False


def test_sibling_session_has_its_own_registry(spark):
    """A sibling session (spark.newSession()) neither sees nor releases
    the first session's entries — the registry is per session object,
    never keyed by a recyclable id()."""
    sib = spark.newSession()
    df = spark.range(7).persist()
    df.count()
    memo(spark, "test_sib", "k", lambda: df)

    assert "test_sib" not in stats(sib)
    assert memo(sib, "test_sib", "k", lambda: "own") == "own"
    release(sib)

    assert stats(spark)["test_sib"]["frames"][0] is df
    assert df.storageLevel.useMemory is True
    release(spark, "test_sib")
    assert df.storageLevel.useMemory is False


def test_cache_key_none_stores_nothing(spark):
    """cache_key=None means "do not memoize": the trainer runs and the
    session registry gains no entry."""
    from bioio_spark.functions.similarity import _train_sq

    emb = spark.createDataFrame([(0, [0.0, 1.0]), (1, [2.0, 3.0])],
                                "vec_id long, e array<double>")
    release(spark, "ivf")
    assert _train_sq(emb, sample_mod=1, cache_key=None) == \
        ([0.0, 1.0], [2.0, 3.0])
    assert "ivf" not in stats(spark)
    assert memo(spark, "test_none", None, lambda: 1) == 1
    assert "test_none" not in stats(spark)
    _train_sq(emb, sample_mod=1, cache_key="t")
    assert stats(spark)["ivf"]["entries"] == 1
    release(spark, "ivf")
