"""L2g incremental dedup invariants (oracle parity in
test_oracle_parity)."""
import pyspark.sql.functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = ("the quick brown fox jumps over the lazy dog and then "
        "runs far away into the deep dark forest tonight")


def test_gate_attribution(spark):
    """Exact copy of an index doc -> hit_exact (and hit_index, since
    identical text shares every band); near-copy -> hit_index only;
    delta-internal copy -> higher id gets hit_delta; fresh doc keeps."""
    from bioio_spark.functions.dedup import incremental_dedup

    near = BASE.replace("tonight", "tomorrow")
    fresh = ("completely different content about spark catalyst "
             "optimizer rules and adaptive query execution plans "
             "rewriting shuffles at runtime for skewed joins")
    other = ("microscopy plates under the confocal objective emit "
             "fluorescence captured as z stacks across channels with "
             "physical pixel sizes recorded in metadata blocks")
    rows = [
        (1, BASE),              # index
        (3, other),             # index (distinct from every delta doc)
        (10, BASE),             # delta: exact copy of index doc 1
        (20, near),             # delta: near-dup of index doc 1
        (30, fresh),            # delta: novel
        (40, fresh),            # delta: exact copy of delta doc 30
    ]
    out = {r["doc_id"]: r for r in
           incremental_dedup(_docs(spark, rows)).collect()}
    assert set(out) == {10, 20, 30, 40}
    assert out[10]["hit_exact"] == 1 and out[10]["keep"] == 0
    assert out[20]["hit_exact"] == 0 and out[20]["hit_index"] == 1
    assert out[20]["keep"] == 0
    assert (out[30]["hit_exact"], out[30]["hit_index"],
            out[30]["hit_delta"], out[30]["keep"]) == (0, 0, 0, 1)
    # 40 is identical to delta doc 30 (same signature, every band
    # shared) but NOT in the index
    assert out[40]["hit_exact"] == 0
    assert out[40]["hit_delta"] == 1 and out[40]["keep"] == 0


def test_short_docs_only_exact_gate(spark):
    """Docs under 3 words have no shingles, hence no signature: they
    can only be caught by the exact gate, never the band gates."""
    from bioio_spark.functions.dedup import incremental_dedup

    rows = [(1, "hi there"), (10, "hi there"), (20, "yo")]
    out = {r["doc_id"]: r for r in
           incremental_dedup(_docs(spark, rows)).collect()}
    assert out[10]["hit_exact"] == 1 and out[10]["hit_index"] == 0
    assert out[20]["keep"] == 1


def test_plan_no_cartesian(spark, sf_dir):
    from bioio_spark.functions.dedup import incremental_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (incremental_dedup(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_boilerplate_flooded_delta_bounded(spark):
    """Adversarial fixture: an ingest day of 60 IDENTICAL boilerplate
    delta docs (plus one fresh doc). The exact-dup collapse means only
    ONE representative is signed/banded — every band bucket holds one
    member per distinct text — and with max_width the residual
    rep-vs-rep join is capped. All 60 copies beyond the rep get
    hit_delta=1 via the rep-map, the rep keeps."""
    from bioio_spark.functions.dedup import incremental_dedup

    fresh = ("completely different content about catalyst optimizer "
             "rules and adaptive query execution plans rewriting "
             "shuffles at runtime for skewed joins")
    idx_doc = ("microscopy plates under the confocal objective emit "
               "fluorescence captured as z stacks across channels with "
               "physical pixel sizes recorded in metadata blocks")
    rows = [(1, idx_doc)]                                  # index
    rows += [(10 * (k + 1), BASE) for k in range(60)]      # delta flood
    rows += [(990, fresh)]                                 # delta novel
    out = {r["doc_id"]: r for r in
           incremental_dedup(_docs(spark, rows)).collect()}
    assert out[10]["hit_delta"] == 0 and out[10]["keep"] == 1  # the rep
    for k in range(1, 60):
        d = out[10 * (k + 1)]
        assert d["hit_delta"] == 1 and d["keep"] == 0
    assert out[990]["keep"] == 1


def test_identical_shingleless_delta_twins_collapse(spark):
    """Two identical delta docs too short to shingle (no signature, no
    bands): the rep-map still flags the higher id via hit_delta — the
    exact-dup collapse catches what the band gate structurally cannot."""
    from bioio_spark.functions.dedup import incremental_dedup

    rows = [(1, "hello world"), (10, "hi there"), (20, "hi there")]
    out = {r["doc_id"]: r for r in
           incremental_dedup(_docs(spark, rows)).collect()}
    assert out[10]["hit_delta"] == 0 and out[10]["keep"] == 1
    assert out[20]["hit_delta"] == 1 and out[20]["keep"] == 0


def test_l2g_persists_released_on_next_invocation(spark):
    """ADVICE r9: the persisted delta artifacts must not accumulate
    across invocations — session.hold frees the previous pins."""
    from bioio_spark.functions.dedup import incremental_dedup
    from bioio_spark.session import stats

    rows = [(1, BASE), (10, BASE)]
    incremental_dedup(_docs(spark, rows)).collect()
    held = stats(spark)["hold:l2g"]["frames"]
    assert held and len(held) == 2
    first = list(held)
    incremental_dedup(_docs(spark, rows)).collect()
    held2 = stats(spark)["hold:l2g"]["frames"]
    assert len(held2) == 2
    for df in first:
        assert not df.storageLevel.useMemory and \
            not df.storageLevel.useDisk
