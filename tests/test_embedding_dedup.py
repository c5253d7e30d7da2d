"""L2e embedding-cosine near-dup dedup — keep-lowest-id over LSH sign
buckets (the SemDeDup-style decision layer; pairs machinery shared with
l3b lsh_near_duplicates)."""

import os

import numpy as np
import pytest

from bioio_spark.functions.dedup import embedding_near_dup_dedup
from bioio_spark.functions.similarity import N_SIGN_BITS


def _df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in enumerate(vecs)],
        "vec_id long, embedding array<double>")


def test_keeps_lowest_id_per_near_dup_set(spark):
    dim = max(N_SIGN_BITS, 8)
    base = np.zeros(dim); base[0] = 1.0
    nearly = base.copy(); nearly[1] = 0.05       # cosine ~0.999
    far = np.zeros(dim); far[0] = -1.0           # different sign bucket
    out = {r["vec_id"]: r for r in
           embedding_near_dup_dedup(
               _df(spark, [base, nearly, far]), threshold=0.9)
           .collect()}
    assert out[0]["keep"] == 1 and out[0]["n_dup_lower"] == 0
    assert out[1]["keep"] == 0 and out[1]["n_dup_lower"] == 1
    assert out[2]["keep"] == 1                   # bucket-isolated


def test_below_threshold_pairs_survive(spark):
    dim = max(N_SIGN_BITS, 8)
    a = np.ones(dim)
    b = np.ones(dim); b[:dim // 2] = 0.01        # same bucket, low cosine?
    out = {r["vec_id"]: r["keep"] for r in
           embedding_near_dup_dedup(
               _df(spark, [a, b]), threshold=0.999).collect()}
    assert out[0] == 1
    # cosine(a, b) < 0.999 -> both kept
    cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert cos < 0.999
    assert out[1] == 1


def test_every_vector_gets_a_row(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(20, max(N_SIGN_BITS, 8)))
    rows = embedding_near_dup_dedup(_df(spark, vecs)).collect()
    assert sorted(r["vec_id"] for r in rows) == list(range(20))


# -- L12 SemDeDup ----------------------------------------------------------
def test_semantic_dedup_keep_lowest_id(spark):
    """Two near-identical vectors in one cluster: the higher vec_id is
    the duplicate; an orthogonal vector survives."""
    import numpy as np

    from bioio_spark.functions.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 1.0, 0.0, 0.0], 0),
        (5, [0.99, 0.01, 0.0, 0.0], 0),   # near-dup of vec 0
        (7, [0.0, 0.0, 1.0, 0.0], 0),     # orthogonal, survives
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    out = semantic_dedup(emb, threshold=0.9, n_centroids=2,
                         sample_mod=1, cache_key=None).toPandas()
    assert out.n_vecs.sum() == 4
    # exactly one vector dropped (vec 5, the higher id of the pair)
    assert out.n_vecs.sum() - out.n_kept.sum() == 1
    del np


def test_semantic_dedup_join_is_cluster_keyed(spark):
    """The pair join must key on cid (cluster-bounded), never a
    cartesian product."""
    from bioio_spark.functions.similarity import semantic_dedup
    from tests.test_plans import physical_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = physical_plan(semantic_dedup(emb, cache_key=None))
    assert "CartesianProduct" not in plan
    assert "cid" in plan


# -- Hard pairing-width caps (the l2d MAX_BUCKET_WIDTH pattern) -------------
def test_l2e_cap_bounds_degenerate_bucket(spark):
    """Adversarial fixture: 300 IDENTICAL embeddings (one sign bucket).
    With max_width=8 only the 8 lowest vec_ids enter the pair join —
    O(cap^2) pair work however wide the bucket — and every vector
    beyond the cap is kept verbatim."""
    dim = max(N_SIGN_BITS, 8)
    vecs = [np.ones(dim)] * 300
    out = embedding_near_dup_dedup(
        _df(spark, vecs), threshold=0.9, max_width=8).toPandas()
    assert len(out) == 300
    by_id = out.set_index("vec_id")
    # inside the cap: keep-lowest-id, n_dup_lower == rank
    assert by_id.loc[0, "keep"] == 1
    for i in range(1, 8):
        assert by_id.loc[i, "n_dup_lower"] == i
        assert by_id.loc[i, "keep"] == 0
    # beyond the cap: never paired, always kept
    beyond = by_id.loc[8:]
    assert (beyond.n_dup_lower == 0).all() and (beyond.keep == 1).all()
    assert int(out.keep.sum()) == 1 + 292


def test_l2e_cap_wide_enough_is_a_noop(spark):
    """At fixture scale (bucket width << cap) the cap changes nothing."""
    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(30, max(N_SIGN_BITS, 8)))
    capped = embedding_near_dup_dedup(
        _df(spark, vecs), threshold=0.8).toPandas()
    uncapped = embedding_near_dup_dedup(
        _df(spark, vecs), threshold=0.8, max_width=10 ** 9).toPandas()
    assert capped.equals(uncapped)


def test_semdedup_cap_bounds_degenerate_cluster(spark):
    """Adversarial fixture: 100 IDENTICAL embeddings flood one cluster.
    With max_width=8 the pair join sees 8 rows per side; the other 92
    vectors are kept verbatim -> survivors = 1 (lowest id) + 92."""
    from bioio_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(100)],
        "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, threshold=0.9, n_centroids=2,
                         sample_mod=1, max_width=8,
                         cache_key=None).toPandas()
    assert int(out.n_vecs.sum()) == 100
    assert int(out.n_kept.sum()) == 1 + 92


def test_semdedup_sweep_cap_is_noop_at_fixture_scale(spark):
    """l12b gauge: at fixture scale every cluster sits far below
    MAX_CLUSTER_WIDTH, so capped and uncapped survivors agree at every
    threshold; kept counts are monotone in the threshold."""
    from bioio_spark.functions.similarity import semdedup_sweep

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semdedup_sweep(emb, cache_key=None).toPandas()
    assert (out.n_kept_capped == out.n_kept_uncapped).all()
    assert out.n_kept_capped.is_monotonic_increasing
    assert (out.n_kept_capped <= out.n_vecs).all()


# -- L3e/L3f product quantization -------------------------------------------
def test_pq_codes_deterministic_and_complete(spark):
    """Every vector encodes to m_sub codes in [0, ks); identical
    vectors get identical codes; the ADC of the query against itself
    is the minimum possible for its own codes."""
    from bioio_spark.functions.similarity import pq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = pq_topk(emb, query_vec_id=2, k=5, cache_key=None).toPandas()
    assert len(out) == 5
    assert out.adc_q.is_monotonic_increasing
    assert (out.adc_q >= 0).all()


def test_pq_recall_bounds(spark):
    from bioio_spark.functions.similarity import pq_recall

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    row = pq_recall(emb, query_vec_id=2, cache_key=None).collect()[0]
    assert 0 <= row["n_common_adc"] <= row["k"]
    assert 0 <= row["n_common_rerank"] <= row["k"]
    # re-ranking an ADC shortlist can only help ranking quality at
    # fixture scale (exact distances on the shortlist)
    assert row["n_common_rerank"] >= row["n_common_adc"]


def test_knn_join_salt_invariant(spark):
    """The salted two-phase top-k must equal the single-window form
    for any salt width (top-k under a deterministic total order is
    salt-invariant)."""
    from bioio_spark.functions.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = knn_join(emb, query_vec_ids=(0, 3), k=4, n_salt=8).toPandas()
    b = knn_join(emb, query_vec_ids=(0, 3), k=4, n_salt=1).toPandas()
    assert a.equals(b)
    assert list(a.groupby("query_id").size()) == [4, 4]
    # self never appears among its own neighbors
    assert (a.query_id != a.vec_id).all()


def test_pq_missing_query_vec_is_valueerror(spark):
    from bioio_spark.functions.similarity import PQ_M, pq_topk

    dim = PQ_M * 2
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, "x", [float(v) for v in rng.standard_normal(dim)])
         for i in range(20)],
        "vec_id long, label string, embedding array<double>")
    with pytest.raises(ValueError, match="vec_id 999 not found"):
        pq_topk(emb, query_vec_id=999, k=3, cache_key=None)


def test_pq_sparse_seed_ids_is_valueerror(spark):
    """vec_ids that skip 0..ks-1 must raise a named error instead of
    IndexError/KeyError deep inside codebook training."""
    from bioio_spark.functions.similarity import PQ_KS, PQ_M, _train_pq
    from pyspark.sql import functions as F

    dim = PQ_M * 2
    rng = np.random.default_rng(4)
    emb = spark.createDataFrame(
        [(i * 2 + 1, "x", [float(v) for v in rng.standard_normal(dim)])
         for i in range(20)],
        "vec_id long, label string, embedding array<double>")
    e = emb.select("vec_id", "label",
                   F.col("embedding").alias("e"))
    with pytest.raises(ValueError, match="requires vec_ids 0.."):
        _train_pq(e, PQ_M, PQ_KS, 1, cache_key=None)


def test_ivf_adc_subset_of_probed_lists(spark):
    """L3i composition invariant: every IVF-ADC result id must carry
    the SAME adc_q as the unpruned PQ ranking assigns it (pruning
    changes the candidate set, never the distance), and the composed
    result is a subset of vectors assigned to the probed lists."""
    from bioio_spark.functions.similarity import (ivf_adc_topk,
                                                  pq_topk)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comp = {r["vec_id"]: r["adc_q"]
            for r in ivf_adc_topk(emb, query_vec_id=2, k=10,
                                  cache_key=None).collect()}
    full = {r["vec_id"]: r["adc_q"]
            for r in pq_topk(emb, query_vec_id=2, k=10 ** 6,
                             cache_key=None).collect()}
    assert comp  # pruning must not empty the fixture result
    for vid, adc in comp.items():
        assert full[vid] == adc


def test_ivf_adc_recall_dominates_pq_recall(spark):
    """The r10 verdict's done-bar: the composed index's
    shortlist->rerank recall must be >= the PQ-only gauge's (IVF adds
    pruning loss, but the rerank recovers it at fixture scale)."""
    from bioio_spark.functions.similarity import (ivf_adc_recall,
                                                  pq_recall)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    comp = ivf_adc_recall(emb, query_vec_id=2, cache_key=None).collect()[0]
    pq = pq_recall(emb, query_vec_id=2, cache_key=None).collect()[0]
    assert comp["n_common_rerank"] >= pq["n_common_rerank"]
    assert 0 <= comp["n_common_adc"] <= comp["k"]


def test_ivf_rpq_codes_bounded_and_consistent(spark):
    """L3k: residual codes are m_sub values in [0, ks); identical
    vectors (same cid, same residual) get identical codes; the codes
    frame covers every vector exactly once."""
    from bioio_spark.functions.similarity import (PQ_KS, PQ_M,
                                                  _rpq_codes_frame,
                                                  _to_double,
                                                  _train_ivf,
                                                  _train_rpq)
    import pyspark.sql.functions as F

    emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
           .select("vec_id", "label",
                   _to_double(F.col("embedding")).alias("e")))
    cents = _train_ivf(emb, 8, 4, cache_key=None)
    books = _train_rpq(emb, cents, cache_key=None)
    coded = _rpq_codes_frame(emb, cents, books, cache_key=None)
    rows = coded.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for m in range(PQ_M):
            assert 0 <= r[f"_c{m}"] < PQ_KS


def test_ivf_rpq_topk_subset_of_probed_lists(spark):
    """L3k results must lie in the probed lists and respect the
    adc_q ASC, vec_id ASC total order."""
    from bioio_spark.functions.similarity import ivf_rpq_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivf_rpq_topk(emb, query_vec_id=2, k=10,
                       cache_key=None).toPandas()
    assert len(out) == 10
    assert out.adc_q.is_monotonic_increasing
    assert (out.adc_q >= 0).all()


def test_l3l_recall_arms_within_noise(spark, sf_dir):
    """l3l honest-number pin (SCALING.md r12): on the near-uniform
    synthetic fixture the residual arm does NOT beat the raw arm —
    both recall 2-3/10 at sf0.001 within ±1 of each other. Pin the
    exact measured values so a silent regression of either encode
    path (or a fixture reshape that flips the story) shows up here
    and forces the SCALING.md narrative to be re-checked."""
    from bioio_spark.queries import REGISTRY

    [row] = REGISTRY["l3l_rpq_vs_raw_recall"].fn(spark, sf_dir).collect()
    assert (row["k"], row["n_common_raw"], row["n_common_res"]) \
        == (10, 3, 2)


def test_l3o_adc_blind_to_subresolution_rerank_recovers(spark, sf_dir):
    """The l3o designed semantics, pinned end-to-end: TRUE plants
    (1 + j/8192 on element 0) and DECOY plants (1 + j/512, 16x
    farther) share one PQ code cell, so the ADC top-10 is handed to
    the lower-vec_id decoys by the deterministic tie-break
    (n_true_adc = 0, n_decoy_adc = 10) while the exact re-rank of the
    50-wide shortlist recovers the true tier completely
    (n_true_rerank = 10). If codebook training or the tie-break order
    ever drifts, this moves."""
    from bioio_spark.queries import REGISTRY

    [row] = REGISTRY["l3o_adc_rerank_planted"].fn(spark, sf_dir) \
        .collect()
    assert (row["k"], row["n_true_adc"], row["n_decoy_adc"],
            row["n_true_rerank"]) == (10, 0, 10, 10)


def test_l3o_rerank_recall_is_shortlist_bounded(spark, sf_dir):
    """The r13 clustered-corpus probe's second finding, pinned by
    construction: exact re-rank can only recover what the shortlist
    contains. With shortlist = k = 10, the shortlist IS the ADC
    top-10 — all decoys — so the re-rank arm collapses to
    n_true_rerank = 0. (Production rule: size the refine shortlist to
    the expected code-cell width, not to k.)"""
    from bioio_spark.functions.similarity import adc_rerank_planted
    from bioio_spark.queries.base import load

    # this test runs on the FULL corpus while the registry query runs
    # the 1/8 remapped sub-corpus; the memo keys on the input, and the
    # distinct cache_key labels the entry
    [row] = adc_rerank_planted(
        load(spark, sf_dir, "embeddings"), query_vec_id=2,
        shortlist=10, cache_key=sf_dir + ":l3o-sl10").collect()
    assert (row["n_true_adc"], row["n_true_rerank"]) == (0, 0)
    assert row["n_decoy_adc"] == 10


def test_sq8_topk_high_fidelity_and_plan(spark, sf_dir):
    """SQ8 spends a full 8 bits per dimension, so unlike the 3-bit PQ
    arms its top-10 should nearly reproduce the exact-L2 top-10 —
    that fidelity IS the codec's selling point vs PQ's compression.
    Plan: one broadcast of the 1-row range frame, no shuffle before
    the TakeOrderedAndProject top-k."""
    from pyspark.sql import functions as F

    from bioio_spark.functions.similarity import _to_double, sq8_topk
    from bioio_spark.queries.base import load

    embeddings = load(spark, sf_dir, "embeddings")
    out = sq8_topk(embeddings, query_vec_id=2, k=10, cache_key=None)
    got = [r["vec_id"] for r in out.collect()]

    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    q = [float(v) for v in emb.filter(F.col("vec_id") == 2)
         .first()["e"]]
    exact = F.aggregate(
        F.zip_with(F.col("e"),
                   F.array(*[F.lit(v) for v in q]),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, v: acc + v)
    want = [r["vec_id"] for r in
            emb.filter(F.col("vec_id") != 2)
            .select("vec_id", exact.alias("l2"))
            .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
            .limit(10).collect()]
    assert len(set(got) & set(want)) >= 8, (got, want)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_retrieval_metrics_math_on_designed_corpus(spark):
    """The fixture's random labels make l26 read ~0 (honest: labels
    don't cluster in cosine space) — so pin the METRIC MATH itself on
    a corpus where relevance is designed: query 0's class occupies
    ranks 1, 3, 5 of its top-5 exactly. recall@5 = 3/5 of attainable
    (n_rel=4 -> attainable 4), MRR = 1000//1, NDCG = (w1+w3+w5)*1000
    // (w1+w2+w3+w4) with the shared weight table."""
    from bioio_spark.functions.similarity import (NDCG_PREFIX, NDCG_W,
                                                  retrieval_metrics)

    # 64-dim unit-ish vectors: class 1 vectors at decreasing cosine to
    # the query, interleaved with class 0 decoys
    def vec(main, off):
        v = [0.0] * 64
        v[0] = main
        v[1] = off
        return v

    rows = [
        (0, 1, vec(1.0, 0.0)),        # the query, class 1
        (1, 1, vec(1.0, 0.1)),        # rank 1, relevant
        (2, 0, vec(1.0, 0.2)),        # rank 2, decoy
        (3, 1, vec(1.0, 0.3)),        # rank 3, relevant
        (4, 0, vec(1.0, 0.4)),        # rank 4, decoy
        (5, 1, vec(1.0, 0.5)),        # rank 5, relevant
        (6, 1, vec(-1.0, 0.0)),       # relevant but far (rank > 5)
        (7, 0, vec(-1.0, 0.1)),
        (8, 0, vec(-1.0, 0.2)),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>")
    [m] = (retrieval_metrics(emb, query_vec_ids=(0,), k=5)
           .collect())
    assert m["n_rel"] == 4 and m["n_hit"] == 3
    assert m["recall_permille"] == 3 * 1000 // 4
    assert m["mrr_milli"] == 1000
    want_ndcg = ((NDCG_W[0] + NDCG_W[2] + NDCG_W[4]) * 1000
                 // NDCG_PREFIX[3])
    assert m["ndcg_milli"] == want_ndcg


def test_planted_metrics_floor_on_fixture(spark):
    """l26b's whole point: at fixture scale the planted gauge is
    INFORMATIVE — a working kNN retrieves every plant, so all three
    metrics pin at exactly 1000 per query (the driver-visible floor).
    Natural max cosine in the fixture is ~0.39 vs plants' ~0.9999, so
    this is not a near-threshold assertion."""
    from bioio_spark.functions.similarity import planted_retrieval_metrics
    from bioio_spark.queries.base import load

    rows = (planted_retrieval_metrics(
        load(spark, "/root/testdata/sf0.001", "embeddings")).collect())
    assert len(rows) == 4
    for m in rows:
        assert m["n_rel"] == 5 and m["n_hit"] == 5
        assert m["recall_permille"] == 1000
        assert m["mrr_milli"] == 1000
        assert m["ndcg_milli"] == 1000


def test_planted_metrics_detect_broken_ranking(spark):
    """The discriminator l26 lacked: if the retriever's ranking is
    broken (here: simulated by ranking on cosine ASC — worst-first),
    the planted gauge must COLLAPSE, not read 1000. Reuses the same
    planted corpus + metric math, swapping only the ranking order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bioio_spark.functions.similarity import (KNN_K, KNN_QUERY_IDS,
                                                  PLANT_BASE,
                                                  PLANT_STRIDE,
                                                  _planted_corpus,
                                                  _dot, _norm,
                                                  _to_double)
    from bioio_spark.queries.base import load

    emb = (load(spark, "/root/testdata/sf0.001", "embeddings")
           .select("vec_id",
                   _to_double(F.col("embedding")).alias("e")))
    ids = [int(i) for i in KNN_QUERY_IDS]
    aug = _planted_corpus(emb, ids, KNN_K)
    q = (emb.filter(F.col("vec_id").isin(ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("e").alias("qe")))
    sim = _dot(F.col("e"), F.col("qe")) / (_norm(F.col("e"))
                                           * _norm(F.col("qe")))
    broken = (aug.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("cosine_sim", sim)
              .withColumn("rank", F.row_number().over(
                  Window.partitionBy("query_id")
                  .orderBy(F.col("cosine_sim").asc(), "vec_id"))
                  .cast("bigint"))
              .filter(F.col("rank") <= KNN_K)
              .select("query_id", "vec_id", "rank"))
    is_rel = ((F.col("vec_id") >= PLANT_BASE)
              & (F.expr(f"(vec_id - {PLANT_BASE}) div {PLANT_STRIDE}")
                 == F.col("query_id")))
    n_hits = (broken.withColumn("rel", is_rel.cast("int"))
              .agg(F.sum("rel")).collect()[0][0])
    assert n_hits == 0     # worst-first ranking retrieves zero plants


def test_literal_free_training_matches_literal_path_exactly(spark):
    """r13: _train_ivf/_train_pq/_train_rpq ride the broadcast index
    frames instead of literal expression trees (constant Catalyst cost
    in nlist x ks). The trained dicts must equal the LITERAL
    formulation bit-for-bit — same dot fold, same 0.0-seeded distance
    fold, same lexicographic argmax/argmin — reconstructed inline here
    as the frozen reference."""
    from pyspark.sql import functions as F

    from bioio_spark.functions.similarity import (_KMEANS_SCALE,
                                                  _assigned, _norm,
                                                  _pq_code, _to_double,
                                                  _train_ivf, _train_pq)
    from bioio_spark.queries.base import load

    emb = (load(spark, "/root/testdata/sf0.001", "embeddings")
           .select("vec_id", "label",
                   _to_double(F.col("embedding")).alias("e")))
    n_cent, mod = 8, 4

    # literal Lloyd pass, verbatim pre-r13 formulation
    seeds = {int(r["vec_id"]): list(r["e"]) for r in
             emb.filter(F.col("vec_id") < n_cent)
             .select("vec_id", "e").collect()}
    dim = len(next(iter(seeds.values())))
    sums = [F.sum(F.floor(F.element_at("e", j + 1)
                          * F.lit(_KMEANS_SCALE))).alias(f"p{j}")
            for j in range(dim)]
    rows = (emb.filter(F.col("vec_id") % mod == 0)
            .withColumn("ne", _norm(F.col("e")))
            .withColumn("cid", _assigned(seeds).cast("int"))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("cnt"), *sums).collect())
    lit_ivf = dict(seeds)
    for r in rows:
        lit_ivf[int(r["cid"])] = [
            float(r[f"p{j}"]) / float(r["cnt"]) / _KMEANS_SCALE
            for j in range(dim)]
    assert _train_ivf(emb, n_cent, mod, cache_key=None) == lit_ivf

    # literal PQ pass (m_sub=8, ks=8), verbatim pre-r13 formulation
    m_sub = ks = 8
    subdim = dim // m_sub
    seed_rows = (emb.filter(F.col("vec_id") < ks)
                 .select("vec_id", "e").collect())
    pseeds = {(m, int(r["vec_id"])):
              [float(v) for v in r["e"][m * subdim:(m + 1) * subdim]]
              for r in seed_rows for m in range(m_sub)}
    per_m = [F.struct(
        F.lit(m).alias("m"),
        _pq_code(F.col("e"), m, subdim, pseeds, ks).alias("code"),
        F.array(*[F.element_at("e", m * subdim + i + 1)
                  for i in range(subdim)]).alias("sub"))
        for m in range(m_sub)]
    qs = [F.sum(F.floor(F.element_at("sub", i + 1)
                        * F.lit(_KMEANS_SCALE))).alias(f"p{i}")
          for i in range(subdim)]
    prows = (emb.filter(F.col("vec_id") % mod == 0)
             .select(F.array(*per_m).alias("arr"))
             .select(F.explode("arr").alias("s"))
             .select("s.m", "s.code", "s.sub")
             .groupBy("m", "code")
             .agg(F.count(F.lit(1)).alias("cnt"), *qs).collect())
    lit_pq = dict(pseeds)
    for r in prows:
        lit_pq[(int(r["m"]), int(r["code"]))] = [
            float(r[f"p{i}"]) / float(r["cnt"]) / _KMEANS_SCALE
            for i in range(subdim)]
    assert _train_pq(emb, m_sub, ks, mod, cache_key=None) == lit_pq

def test_cluster_kernel_degenerates_match_oracle(spark):
    """The per-cluster pairing kernel's degenerate-input semantics mirror
    the DuckDB oracle, which l12's dedup decision is graded against: a
    zero denominator yields NULL (DuckDB double division by zero is
    NULL; NaN would pass a NaN-is-largest `sim >= t` test and wrongly
    drop zero-norm vectors), and a null embedding or a pair of ragged
    rows yields NULL (zip_with null-pads, nulling the fold), while two
    rows of one other length still pair. Normal pairs are bit-identical
    to the strict left-fold dot over IEEE doubles."""
    import struct

    import duckdb
    import pyarrow as pa

    from bioio_spark.functions.similarity import (_cluster_kept,
                                                  _pair_cosines)

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, [4.0, 5.0, 6.0]),           # cos 0.97 to vec 1: a duplicate
        (3, [0.25, -0.5, 0.125]),
        (4, [1.0, 3.0, -2.0]),
        (5, [0.0, 0.0, 0.0]),           # zero norm
        (6, None),                      # null embedding
        (7, [1.0, 2.0]),                # ragged against the 3-dim rows
        (8, [2.0, 4.0]),                # parallel to vec 7: a duplicate
    ]
    col = pa.array([e for _, e in rows], pa.list_(pa.float64()))
    sim, null = _pair_cosines(col)

    def fold_sim(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (x * y)
        na = sum(v * v for v in a) ** 0.5
        nb = sum(v * v for v in b) ** 0.5
        return acc / (na * nb)

    for group in ((0, 1, 2, 3), (6, 7)):
        for i in group:
            for j in group:
                assert not null[i, j], (i, j)
                assert struct.pack("<d", sim[i, j]) == struct.pack(
                    "<d", fold_sim(rows[i][1], rows[j][1])), (i, j)
    # degenerate pairs: NULL, like the oracle — a `sim >= threshold`
    # dedup test drops the pair and the vectors stay
    for i in range(8):
        for j in (4, 5):
            assert null[i, j] and null[j, i], (i, j)
        for j in (6, 7):
            if i < 4:
                assert null[i, j] and null[j, i], (i, j)
    [[zero_cos]] = duckdb.sql(
        "SELECT list_dot_product(a, b) / (sqrt(list_dot_product(a, a))"
        " * sqrt(list_dot_product(b, b))) FROM (SELECT"
        " [0.0, 0.0, 0.0]::DOUBLE[] AS a, [1.0, 2.0, 3.0]::DOUBLE[] AS b)"
    ).fetchall()
    assert zero_cos is None

    cluster = spark.createDataFrame(
        [(0, vid, e, 9) for vid, e in rows],
        "cid int, vec_id long, e array<double>, n_vecs long")
    [out] = (cluster.groupBy("cid")
             .applyInArrow(_cluster_kept(0.9),
                           "cid int, n_vecs long, n_kept long")
             .collect())
    # vecs 2 and 8 are duplicates; the ninth vector sat beyond the cap
    assert (out["cid"], out["n_vecs"], out["n_kept"]) == (0, 9, 7)


def _write_embeddings(path, vecs) -> str:
    """An sf-shaped directory holding embeddings.parquet (the fixture
    schema: vec_id long, embedding list<float>, label int)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array([[float(x) for x in v] for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array([i % 3 for i in range(len(vecs))], pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))
    return path


def _oracle_rows(sf_dir, sql):
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                    f"'{sf_dir}/embeddings.parquet')")
        return sorted(con.execute(sql).fetchall())
    finally:
        con.close()


def test_semantic_dedup_keys_its_memo_by_input(spark, tmp_path):
    """Two corpora in one session with default arguments: each result
    equals its own l12 oracle rows. A memo keyed by a constant name
    handed the second corpus the first one's clusters."""
    from bioio_spark.functions.similarity import (SEMANTIC_DEDUP_ORACLE,
                                                  semantic_dedup)
    from bioio_spark.queries.base import load
    from bioio_spark.session import release

    dirs = [_write_embeddings(str(tmp_path / f"c{k}"),
                              np.random.default_rng(40 + k)
                              .normal(size=(64, 16)))
            for k in range(2)]
    want = [_oracle_rows(d, SEMANTIC_DEDUP_ORACLE) for d in dirs]
    assert want[0] != want[1]
    release(spark, "ivf")
    try:
        for d, rows in zip(dirs, want):
            got = sorted(tuple(r) for r in
                         semantic_dedup(load(spark, d, "embeddings"))
                         .collect())
            assert got == rows, d
    finally:
        release(spark, "ivf")


def test_zero_embeddings_match_oracle(spark, tmp_path, sf_dir):
    """All-zero embeddings (vec 3 a training seed, 12 in the training
    sample, 9 neither) must not raise DIVIDE_BY_ZERO: l12 and l12b equal
    their oracle rows, where a zero vector's cosine to anything is NULL,
    ranks below every other and never makes a duplicate."""
    import pyarrow.parquet as pq

    from bioio_spark.queries import REGISTRY

    vecs = [list(v) for v in pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"))
        .sort_by("vec_id").column("embedding").to_pylist()]
    for i in (3, 9, 12):
        vecs[i] = [0.0] * len(vecs[i])
    d = _write_embeddings(str(tmp_path / "zeros"), vecs)
    for name in ("l12_semantic_dedup", "l12b_semdedup_sweep"):
        spec = REGISTRY[name]
        got = sorted(tuple(r) for r in spec.fn(spark, d).collect())
        assert got == _oracle_rows(d, spec.oracle), name


def _literal_ivf(emb, n_cent, mod):
    """The frozen literal Lloyd pass of
    test_literal_free_training_matches_literal_path_exactly, verbatim,
    as a function."""
    from pyspark.sql import functions as F

    from bioio_spark.functions.similarity import (_KMEANS_SCALE,
                                                  _assigned, _norm)

    seeds = {int(r["vec_id"]): list(r["e"]) for r in
             emb.filter(F.col("vec_id") < n_cent)
             .select("vec_id", "e").collect()}
    dim = len(next(iter(seeds.values())))
    sums = [F.sum(F.floor(F.element_at("e", j + 1)
                          * F.lit(_KMEANS_SCALE))).alias(f"p{j}")
            for j in range(dim)]
    rows = (emb.filter(F.col("vec_id") % mod == 0)
            .withColumn("ne", _norm(F.col("e")))
            .withColumn("cid", _assigned(seeds).cast("int"))
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("cnt"), *sums).collect())
    lit_ivf = dict(seeds)
    for r in rows:
        lit_ivf[int(r["cid"])] = [
            float(r[f"p{j}"]) / float(r["cnt"]) / _KMEANS_SCALE
            for j in range(dim)]
    return lit_ivf


def test_partial_sum_training_matches_literal_reference(spark):
    """Hypothesis sweep: the one-pass partial-sum _fit_ivf equals the
    literal Lloyd pass bit for bit on random small corpora — gaussian
    rows, and small-integer rows full of exact cosine ties and zero
    vectors (ties go to the smallest cid; NULL ranks last)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bioio_spark.functions.similarity import _fit_ivf

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(n=st.integers(4, 40), dim=st.integers(1, 8),
           n_cent=st.integers(2, 4), mod=st.integers(1, 3),
           ints=st.booleans(), seed=st.integers(0, 2 ** 31 - 1))
    def check(n, dim, n_cent, mod, ints, seed):
        rng = np.random.default_rng(seed)
        vecs = (rng.integers(-1, 2, size=(n, dim)) if ints
                else rng.normal(size=(n, dim)))
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, e array<double>")
        assert _fit_ivf(emb, n_cent, mod) == _literal_ivf(emb, n_cent, mod)

    check()


def test_semantic_dedup_job_counts(spark, count_jobs, sf_dir):
    """A new input trains, assigns and pairs in at most 10 Spark jobs;
    a memo hit (the same corpus again) pairs in at most 4."""
    from bioio_spark.functions.similarity import semantic_dedup
    from bioio_spark.queries.base import load
    from bioio_spark.session import release

    emb = load(spark, sf_dir, "embeddings")

    def run():
        semantic_dedup(emb).write.format("noop").mode("overwrite").save()

    release(spark, "ivf")
    try:
        _, new, _ = count_jobs(run)
        _, hit, _ = count_jobs(run)
    finally:
        release(spark, "ivf")
    assert new <= 10 and hit <= 4, (new, hit)
