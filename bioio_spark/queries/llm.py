"""L1-L5: LLM-data-pipeline operators over documents/embeddings (SURVEY §2.8).

Implemented via bioio_spark.functions.{text,dedup,similarity}; each query has
a DuckDB oracle built from the *same* deterministic hash primitives (md5-based
32-bit hashes) so results match bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bioio_spark.functions.dedup import (
    exact_dedup_groups,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from bioio_spark.functions.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_near_duplicates,
    semantic_dedup,
)
from bioio_spark.functions.text import (
    language_id,
    quality_score,
    rolling_fingerprint,
    token_stats,
)
from bioio_spark.queries.base import load, register

from bioio_spark.functions import dedup as _dedup
from bioio_spark.functions import similarity as _sim
from bioio_spark.functions import text as _text
from bioio_spark.functions.hashing import h32_sql as _h32_sql


@register("l1_exact_dedup", oracle=_dedup.EXACT_DEDUP_ORACLE,
          doc="L1 exact dedup by content hash over documents")
def l1_exact_dedup(spark, sf_dir):
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


@register("l2_minhash_lsh", oracle=_dedup.MINHASH_ORACLE,
          doc="L2 MinHash+LSH near-dup candidate pairs over documents")
def l2_minhash_lsh(spark, sf_dir):
    return minhash_candidate_pairs(load(spark, sf_dir, "documents"))


@register("l2b_simhash", oracle=_dedup.SIMHASH_ORACLE,
          doc="L2 SimHash 32-bit signatures over documents")
def l2b_simhash(spark, sf_dir):
    return simhash_signatures(load(spark, sf_dir, "documents"))


@register("l2c_ngram_jaccard", oracle=_dedup.JACCARD_ORACLE,
          doc="L2 n-gram Jaccard similarity pairs within (lang, source)")
def l2c_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L2d: hot-bucket bounding proof. Injects 60 exact copies of one document
# (the mass-duplicated-boilerplate shape that melts naive LSH at corpus
# scale) and verifies BOTH defenses end to end:
#   - exact-dup collapse: max banded bucket width with dedup-first is a
#     fraction of the raw width (61 copies -> 1 representative);
#   - hard cap: pair enumeration over the RAW banded frame with
#     max_width=16 keeps only the 16 lowest doc_ids per bucket, with the
#     dropped-id count reported (the "logged drop count", made queryable).
# The oracle mirrors every step, so the bound itself is hash-verified.
# --------------------------------------------------------------------------
_L2D_CAP = 16

_BOUNDED_LSH_ORACLE = f"""
WITH aug AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT 1000000 + i AS doc_id, d.text
  FROM range(60) r(i)
  CROSS JOIN (SELECT text FROM documents WHERE doc_id = 1) d
),
{_dedup._minhash_sql_core('aug', dedup=False)},
banded AS ({_dedup._banded_sql()}),
wid AS (SELECT band, key, count(*) AS w FROM banded GROUP BY band, key),
reps AS (SELECT min(doc_id) AS doc_id FROM aug GROUP BY md5(text)),
dd_banded AS (SELECT b.* FROM banded b JOIN reps USING (doc_id)),
dwid AS (SELECT band, key, count(*) AS w FROM dd_banded
         GROUP BY band, key),
capped AS (
  SELECT doc_id, band, key FROM (
    SELECT doc_id, band, key,
           row_number() OVER (PARTITION BY band, key ORDER BY doc_id)
             AS rn
    FROM banded) WHERE rn <= {_L2D_CAP}),
cpairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT
  (SELECT CAST(max(w) AS BIGINT) FROM wid) AS max_raw_width,
  (SELECT CAST(sum(greatest(w - {_L2D_CAP}, 0)) AS BIGINT) FROM wid)
    AS n_dropped,
  (SELECT CAST(max(w) AS BIGINT) FROM dwid) AS max_dedup_width,
  (SELECT count(*) FROM cpairs) AS n_pairs_capped,
  (SELECT count(*) FROM reps) AS n_reps
"""


@register("l2d_bounded_lsh", oracle=_BOUNDED_LSH_ORACLE,
          doc="L2d hot-bucket bounding: dup collapse + width cap, verified")
def l2d_bounded_lsh(spark, sf_dir):
    from bioio_spark.functions.dedup import (_banded, _bucket_pairs,
                                             _dedup_reps,
                                             minhash_signatures)

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") == 1).select("text")
    copies = (spark.range(60)
              .crossJoin(F.broadcast(base))
              .select((F.col("id") + 1000000).alias("doc_id"), "text"))
    aug = docs.unionByName(copies)

    raw_banded = _banded(minhash_signatures(aug))
    widths = (raw_banded.groupBy("band", "key")
              .agg(F.count(F.lit(1)).alias("w")))
    raw_stats = widths.agg(
        F.max("w").cast("long").alias("max_raw_width"),
        F.sum(F.greatest(F.col("w") - _L2D_CAP, F.lit(0)))
        .cast("long").alias("n_dropped"))

    reps = _dedup_reps(aug)
    dd_stats = (_banded(minhash_signatures(reps))
                .groupBy("band", "key").agg(F.count(F.lit(1)).alias("w"))
                .agg(F.max("w").cast("long").alias("max_dedup_width")))

    n_pairs = (_bucket_pairs(raw_banded, ["band", "key"], "doc_id",
                             max_width=_L2D_CAP)
               .distinct()
               .agg(F.count(F.lit(1)).alias("n_pairs_capped")))
    n_reps = reps.agg(F.count(F.lit(1)).alias("n_reps"))
    return (raw_stats.crossJoin(F.broadcast(dd_stats))
            .crossJoin(F.broadcast(n_pairs))
            .crossJoin(F.broadcast(n_reps)))


@register("l3_cosine_topk", oracle=_sim.COSINE_TOPK_ORACLE,
          doc="L3 brute-force cosine top-k against a query vector")
def l3_cosine_topk(spark, sf_dir):
    return cosine_topk(load(spark, sf_dir, "embeddings"), query_vec_id=0,
                       k=10)


@register("l3c_ivf_topk", oracle=_sim.IVF_TOPK_ORACLE,
          doc="L3 IVF-partitioned ANN cosine top-k (probe 2 of 8 lists)")
def l3c_ivf_topk(spark, sf_dir):
    return ivf_topk(load(spark, sf_dir, "embeddings"), query_vec_id=1, k=10,
                    cache_key=sf_dir)


@register("l3e_pq_topk", oracle=_sim.PQ_TOPK_ORACLE,
          doc="L3e product-quantization ANN top-k (ADC over 8x3-bit "
              "codes — the 32x memory-compression path for web-scale "
              "similarity search)")
def l3e_pq_topk(spark, sf_dir):
    from bioio_spark.functions.similarity import pq_topk

    return pq_topk(load(spark, sf_dir, "embeddings"), query_vec_id=2,
                   k=10, cache_key=sf_dir)


@register("l3f_pq_recall", oracle=_sim.PQ_RECALL_ORACLE,
          doc="L3f PQ recall gauge: |PQ-ADC top-k INTERSECT exact-L2 "
              "top-k| — pins that 3-bit codes rank usefully before "
              "committing the compressed index at scale")
def l3f_pq_recall(spark, sf_dir):
    from bioio_spark.functions.similarity import pq_recall

    return pq_recall(load(spark, sf_dir, "embeddings"), query_vec_id=2,
                     cache_key=sf_dir)


@register("l3i_ivf_adc_topk", oracle=_sim.IVF_ADC_ORACLE,
          doc="L3i composed IVF-ADC (Jegou et al. 2011 SIV): coarse "
              "IVF pruning to 2 of 8 inverted lists, then integer-ADC "
              "ranking over the survivors — the architecture a 100 TB "
              "vector store actually runs, one query plan")
def l3i_ivf_adc_topk(spark, sf_dir):
    from bioio_spark.functions.similarity import ivf_adc_topk

    return ivf_adc_topk(load(spark, sf_dir, "embeddings"),
                        query_vec_id=2, k=10, cache_key=sf_dir)


@register("l3j_ivf_adc_recall", oracle=_sim.IVF_ADC_RECALL_ORACLE,
          doc="L3j IVF-ADC recall gauge vs exact-L2 brute force: "
              "charges the composition for quantization loss AND "
              "probe-pruning loss, with the shortlist->exact-rerank "
              "production recipe measured alongside")
def l3j_ivf_adc_recall(spark, sf_dir):
    from bioio_spark.functions.similarity import ivf_adc_recall

    return ivf_adc_recall(load(spark, sf_dir, "embeddings"),
                          query_vec_id=2, cache_key=sf_dir)


@register("l3k_ivf_rpq_topk", oracle=_sim.IVF_RPQ_ORACLE,
          doc="L3k residual IVF-ADC (the full IVFADC of Jegou et al. "
              "2011 SIV.A): PQ quantizes the residual v - q_coarse(v), "
              "search ranks probed lists by per-list query-residual "
              "integer LUTs — the refinement that beats raw-vector PQ "
              "at equal code budget")
def l3k_ivf_rpq_topk(spark, sf_dir):
    from bioio_spark.functions.similarity import ivf_rpq_topk

    return ivf_rpq_topk(load(spark, sf_dir, "embeddings"),
                        query_vec_id=2, k=10, cache_key=sf_dir)


# corpus-scaled index parameters (round 13, the SCALING.md ann-scaled
# arm): nlist and code bits grown with the corpus, probe fraction held
_L3N = dict(n_centroids=16, n_probe=4, ks=16, sample_mod=8)


@register("l3n_ivf_rpq_scaled",
          oracle=_sim._ivf_rpq_oracle(query_vec_id=2, k=10, **_L3N),
          doc="L3n residual IVFADC at corpus-scaled index parameters "
              "(nlist 16, probe 4, 4-bit codes — the production rule "
              "nlist ~ sqrt(n) / bits grown with corpus the r13 scale "
              "probe measures): the l3k plan is parameter-generic, so "
              "the scaled index is the same literal-free broadcast "
              "frame + HOF encode, just wider — oracle-checked here so "
              "the scaled arm's arithmetic is driver-pinned too")
def l3n_ivf_rpq_scaled(spark, sf_dir):
    from bioio_spark.functions.similarity import ivf_rpq_topk

    return ivf_rpq_topk(load(spark, sf_dir, "embeddings"),
                        query_vec_id=2, k=10,
                        cache_key=sf_dir + ":l3n", **_L3N)


@register("l3o_adc_rerank_planted",
          oracle=_sim.ADC_RERANK_PLANTED_ORACLE,
          doc="L3o sub-resolution rerank gauge: two tiers of dyadic "
              "plants built from the query (true at 1+j/8192, decoys "
              "16x farther at 1+j/512) share one PQ code cell, so ADC "
              "tie-breaks the top-k to the decoys while the "
              "shortlist->exact-rerank arm recovers the true tier — "
              "the driver-visible regression test for the refine "
              "stage of an IVFADC+R store (the r13 clustered-corpus "
              "probe measured this mechanism in the wild; this pins "
              "it by construction)")
def l3o_adc_rerank_planted(spark, sf_dir):
    from bioio_spark.functions.similarity import (L3O_CORPUS_MOD,
                                                  adc_rerank_planted)

    # deterministic 1/8 sub-corpus, ids remapped by div so the
    # training seeds (vec_id < ks) survive: the gauge pins a
    # MECHANISM that is corpus-size-free, and l3i/l3j already charge
    # the full-corpus cost of this index family
    from bioio_spark.functions.similarity import L3O_KS, L3O_M_SUB

    emb = (load(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") % L3O_CORPUS_MOD == 0)
           .select(F.expr(f"vec_id div {L3O_CORPUS_MOD}")
                   .alias("vec_id"), "embedding", "label"))
    return adc_rerank_planted(emb, query_vec_id=2,
                              m_sub=L3O_M_SUB, ks=L3O_KS,
                              cache_key=sf_dir + ":l3o")


@register("l26_retrieval_metrics", oracle=_sim.RETRIEVAL_METRICS_ORACLE,
          doc="L26 retrieval-eval metrics over the l3g kNN join: "
              "per-query recall@k / MRR / NDCG@k vs the same-label "
              "relevance rule — all integer-exact (NDCG via a "
              "Python-precomputed weight table shared textually by "
              "both engines)")
def l26_retrieval_metrics(spark, sf_dir):
    from bioio_spark.functions.similarity import retrieval_metrics

    return retrieval_metrics(load(spark, sf_dir, "embeddings"))


@register("l26b_planted_retrieval_metrics",
          oracle=_sim.PLANTED_RETRIEVAL_METRICS_ORACLE,
          doc="L26b planted-canary retrieval metrics: k near-duplicate "
              "neighbors planted per query inside the query itself "
              "(exact dyadic perturbation, bit-identical across "
              "engines), relevance = planted-for-this-query — a "
              "working kNN scores 1000/1000/1000 per query, a broken "
              "ranking ~0, so the driver-visible metric discriminates "
              "(the l26 fixture-vacuity fix)")
def l26b_planted_retrieval_metrics(spark, sf_dir):
    from bioio_spark.functions.similarity import planted_retrieval_metrics

    return planted_retrieval_metrics(load(spark, sf_dir, "embeddings"))


@register("l3m_sq8_topk", oracle=_sim.SQ8_TOPK_ORACLE,
          doc="L3m scalar-quantization SQ8 top-k (FAISS QT_8bit "
              "analog): per-dimension 8-bit codes against trained "
              "[min,max] ranges, bucket-midpoint decode, integer "
              "fixed-point ADC — the cheap-to-train 4x-compression "
              "codec next to PQ")
def l3m_sq8_topk(spark, sf_dir):
    from bioio_spark.functions.similarity import sq8_topk

    return sq8_topk(load(spark, sf_dir, "embeddings"),
                    query_vec_id=2, k=10, cache_key=sf_dir)


@register("l3l_rpq_vs_raw_recall", oracle=_sim.RPQ_VS_RAW_RECALL_ORACLE,
          doc="L3l residual-vs-raw recall gauge: recall@k of l3k "
              "(residual PQ) vs l3i (raw-vector PQ) against the "
              "exact-L2 truth at the SAME m/ks/probe — measures the "
              "reason residual encoding exists (Jegou SIV.A)")
def l3l_rpq_vs_raw_recall(spark, sf_dir):
    from bioio_spark.functions.similarity import rpq_vs_raw_recall

    return rpq_vs_raw_recall(load(spark, sf_dir, "embeddings"),
                             query_vec_id=2, cache_key=sf_dir)


@register("l3g_knn_join", oracle=_sim.KNN_JOIN_ORACLE,
          doc="L3g kNN join: top-k neighbors for a query BATCH in one "
              "pass (salted two-phase per-query top-k — no task ever "
              "holds a query's full score column)")
def l3g_knn_join(spark, sf_dir):
    from bioio_spark.functions.similarity import knn_join

    return knn_join(load(spark, sf_dir, "embeddings"))


@register("l3h_kmeans_iters", oracle=_sim.KMEANS_ORACLE,
          doc="L3h two-round Lloyd k-means: the iterative-algorithm "
              "scale pattern, bit-stable per round (integer "
              "fixed-point means), centroid checksums hash-pinned")
def l3h_kmeans_iters(spark, sf_dir):
    from bioio_spark.functions.similarity import kmeans_clusters

    return kmeans_clusters(load(spark, sf_dir, "embeddings"),
                           cache_key=sf_dir)


@register("l14_proto_prune", oracle=_sim.PROTO_PRUNE_ORACLE,
          doc="L14 SSL-prototypes data pruning (Sorscher et al. 2022): "
              "drop the most-prototypical 25% of every embedding "
              "cluster; shares l3h's bit-stable k-means memo")
def l14_proto_prune(spark, sf_dir):
    from bioio_spark.functions.similarity import proto_prune

    return proto_prune(load(spark, sf_dir, "embeddings"),
                       cache_key=sf_dir)


@register("l3b_lsh_near_dup", oracle=_sim.LSH_NEAR_DUP_ORACLE,
          doc="L3 hyperplane-LSH bucketed near-duplicate embedding pairs")
def l3b_lsh_near_dup(spark, sf_dir):
    return lsh_near_duplicates(load(spark, sf_dir, "embeddings"),
                               threshold=0.3)


@register("l4_token_stats", oracle=_text.TOKEN_STATS_ORACLE,
          doc="L4 per-document token statistics")
def l4_token_stats(spark, sf_dir):
    return token_stats(load(spark, sf_dir, "documents"))


@register("l4b_language_id", oracle=_text.LANGUAGE_ID_ORACLE,
          doc="L4 stopword-heuristic language identification")
def l4b_language_id(spark, sf_dir):
    return language_id(load(spark, sf_dir, "documents"))


@register("l4c_quality_score", oracle=_text.QUALITY_ORACLE,
          doc="L4 document quality scoring + filtering")
def l4c_quality_score(spark, sf_dir):
    return quality_score(load(spark, sf_dir, "documents"))


@register("l4d_fingerprint", oracle=_text.FINGERPRINT_ORACLE,
          doc="L4 rolling-hash document fingerprint")
def l4d_fingerprint(spark, sf_dir):
    return rolling_fingerprint(load(spark, sf_dir, "documents"))


@register("l4e_bpe_tokens", oracle=_text.BPE_TOKEN_ORACLE,
          doc="L4 BPE-ish regex subword token counting")
def l4e_bpe_tokens(spark, sf_dir):
    from bioio_spark.functions.text import bpe_token_stats
    return bpe_token_stats(load(spark, sf_dir, "documents"))


@register("l4h_word_df_score", oracle=_text.WORD_DF_ORACLE,
          doc="L4 corpus-DF quality proxy (CCNet-style, exact integers)")
def l4h_word_df_score(spark, sf_dir):
    from bioio_spark.functions.text import word_df_score
    return word_df_score(load(spark, sf_dir, "documents"))


@register("l4g_repetition_filter", oracle=_text.REPETITION_ORACLE,
          doc="L4 Gopher-style within-doc repetition metrics + keep gate")
def l4g_repetition_filter(spark, sf_dir):
    from bioio_spark.functions.text import repetition_filter
    return repetition_filter(load(spark, sf_dir, "documents"))


@register("l4i_line_dedup", oracle=_text.LINE_DEDUP_ORACLE,
          doc="L4 RefinedWeb/CCNet-style line-level boilerplate dedup "
              "(pseudo-line DF counts, integer keep/drop per doc)")
def l4i_line_dedup(spark, sf_dir):
    from bioio_spark.functions.text import line_dedup
    return line_dedup(load(spark, sf_dir, "documents"))


@register("l4j_unigram_surprisal", oracle=_text.SURPRISAL_ORACLE,
          doc="L4 CCNet-style unigram-LM quality filter made "
              "hash-exact: integer bit-length log2 surprisal per "
              "token occurrence, exact integer keep gate")
def l4j_unigram_surprisal(spark, sf_dir):
    from bioio_spark.functions.text import unigram_surprisal
    return unigram_surprisal(load(spark, sf_dir, "documents"))


@register("l4m_bigram_surprisal", oracle=_text.BIGRAM_SURPRISAL_ORACLE,
          doc="L4m CCNet-style order-2 LM quality filter: integer "
              "bit-length conditional surprisal per bigram, exact "
              "integer keep gate; in-row bigrams, one model join")
def l4m_bigram_surprisal(spark, sf_dir):
    from bioio_spark.functions.text import bigram_surprisal
    return bigram_surprisal(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L8b per-source cap: keep at most K documents per source, deterministic
# priority (lowest doc_id) — the C4/RefinedWeb-style per-domain cap that
# stops one crawl domain from dominating the mix. One shuffle on source;
# at real scale a skewed source is bounded by the same top-K-per-group
# TakeOrdered pattern (cap << group size), never a full sort.
# --------------------------------------------------------------------------
@register(
    "l8b_source_cap",
    oracle="""
    SELECT source, doc_id
    FROM (SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rk
          FROM documents)
    WHERE rk <= 50
    ORDER BY source, doc_id
    """,
    doc="L8b per-source document cap (keep lowest-50 doc_ids per source)",
)
def l8b_source_cap(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    return (docs.select("source", "doc_id",
                        F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= 50)
            .select("source", "doc_id")
            .orderBy("source", "doc_id"))


# --------------------------------------------------------------------------
# L20 temperature-scaled language mixing — the mT5/UniMax multilingual
# sampling rule: per-language selection mass proportional to cnt^(1/T)
# with T=2, i.e. sqrt(cnt), flattening the head languages without l8's
# fixed target shares. Made HASH-EXACT with a CORRECTED integer sqrt
# (float sqrt is within +-1 of isqrt below 2^52; one comparison fixes
# it — both engines compute the identical bigint). Per-lang quota =
# budget * isqrt(cnt) DIV sum(isqrt); selection is the l8 device
# (content-stable hash rank). The rank window pre-filters at the
# LITERAL budget so Spark compiles WindowGroupLimit (bounded per-group
# top-k, never a stratum sort) before the per-lang quota join.
# --------------------------------------------------------------------------
_TMIX_BUDGET = 100


def _isqrt_sql(n: str) -> str:
    """Exact integer sqrt: float-sqrt candidate +-1-corrected."""
    s = f"CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (f"CASE WHEN ({s} + 1) * ({s} + 1) <= {n} THEN {s} + 1 "
            f"WHEN {s} * {s} > {n} THEN {s} - 1 ELSE {s} END")


@register(
    "l20_temperature_mix",
    oracle=f"""
    WITH c AS (SELECT lang, count(*) AS cnt FROM documents
               GROUP BY lang),
    s AS (SELECT lang, CAST({_isqrt_sql('cnt')} AS BIGINT) AS w
          FROM c),
    tot AS (SELECT sum(w) AS t FROM s),
    q AS (SELECT lang, CAST({_TMIX_BUDGET} * w // t AS BIGINT)
                 AS quota
          FROM s, tot),
    r AS (SELECT lang, doc_id,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_h32_sql(
                       "'tmix:' || CAST(doc_id AS VARCHAR)")}, doc_id)
                   AS rk
          FROM documents)
    SELECT r.lang, r.doc_id FROM r JOIN q USING (lang)
    WHERE rk <= quota ORDER BY lang, doc_id
    """,
    doc="L20 temperature (T=2) language mixing: per-lang quota "
        "proportional to corrected-isqrt(count), content-stable hash "
        "selection — the mT5/UniMax sampling rule, integer-exact",
)
def l20_temperature_mix(spark, sf_dir):
    from pyspark.sql import Window

    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    cnts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    s0 = F.expr("CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT)")
    w = (cnts.withColumn("s0", s0)
         .withColumn("w", F.expr(
             "CASE WHEN (s0 + 1) * (s0 + 1) <= cnt THEN s0 + 1 "
             "WHEN s0 * s0 > cnt THEN s0 - 1 ELSE s0 END")
             .cast("bigint")))
    tot = w.agg(F.sum("w").alias("t"))
    quota = (w.crossJoin(F.broadcast(tot))
             .select("lang", F.expr(f"{_TMIX_BUDGET} * w DIV t")
                     .cast("bigint").alias("quota")))
    h = h32_col(F.concat(F.lit("tmix:"), F.col("doc_id").cast("string")))
    rw = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id"))
    ranked = (docs.select("lang", "doc_id",
                          F.row_number().over(rw).alias("rk"))
              # literal pre-filter -> WindowGroupLimit (quota <= budget
              # by construction: w/t <= 1)
              .filter(F.col("rk") <= _TMIX_BUDGET))
    return (ranked.join(F.broadcast(quota), "lang")
            .filter(F.col("rk") <= F.col("quota"))
            .select("lang", "doc_id")
            .orderBy("lang", "doc_id"))


# --------------------------------------------------------------------------
# L5 composed pipeline: the end-to-end training-data preparation shape —
# exact dedup (one hash-partitioned window) -> quality gate (narrow
# projection) -> per-language token budget (hash agg). Three stages, two
# shuffles total; every intermediate stays in whole-stage codegen. This is
# the query a 100 TB corpus run actually executes, so it is pinned as one
# oracle-checked unit rather than only as parts.
# --------------------------------------------------------------------------
_PIPE_ORACLE = r"""
WITH dd AS (
  SELECT doc_id, lang, text, n_chars FROM (
    SELECT doc_id, lang, text, n_chars,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1
),
feat AS (
  SELECT doc_id, lang, text, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           AS n_tokens,
         CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                w -> list_contains(['the','a','or','of','and','to','in'], w)))
              AS BIGINT) AS n_stop,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT)
           AS nospace_len
  FROM dd
),
kept AS (
  SELECT * FROM feat
  WHERE 24 * n_tokens * least(n_chars, 400)
        + 7200 * n_stop
        + 1200 * least(nospace_len, 6 * n_tokens)
        >= 12000 * n_tokens
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))) AS BIGINT)
         AS total_bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM kept GROUP BY lang ORDER BY lang
"""


@register("l5_training_pipeline", oracle=_PIPE_ORACLE,
          doc="L5 composed pipeline: dedup -> quality gate -> token budget")
def l5_training_pipeline(spark, sf_dir):
    from pyspark.sql import Window

    from bioio_spark.functions.text import STOPWORDS, _WS
    from bioio_spark.functions.text import _BPE_PATTERN

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dd = (docs.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1)
          .select("doc_id", "lang", "text", "n_chars"))

    words = F.split(F.trim(F.col("text")), _WS)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_tokens = F.size(words).cast("long")
    n_stop = F.size(
        F.filter(words, lambda x: F.array_contains(stop_arr, x))).cast("long")
    nospace_len = F.length(F.regexp_replace("text", _WS, "")).cast("long")
    n_chars = F.col("n_chars").cast("long")
    # exact integer quality gate: the float form
    #   0.4*min(n_chars/400,1) + 0.3*n_stop/n_tokens
    #     + 0.3*min(nospace_len/(6*n_tokens),1) >= 0.5
    # cross-multiplied by the common denominator 2400*n_tokens. All inputs
    # are integers, so the kept set is identical in any engine build — no
    # float rounding, no threshold-ulp sensitivity (driver r1/r2 flagged a
    # hash flip on the earlier round(q,9) float gate).
    gate = (
        F.lit(24) * n_tokens * F.least(n_chars, F.lit(400))
        + F.lit(7200) * n_stop
        + F.lit(1200) * F.least(nospace_len, F.lit(6) * n_tokens)
    ) >= F.lit(12000) * n_tokens
    kept = dd.filter(gate)

    toks = F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0))
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(toks).cast("long").alias("total_bpe_tokens"),
                 F.sum("n_chars").cast("long").alias("total_chars"))
            .orderBy("lang"))


# --------------------------------------------------------------------------
# L6: near-dup cluster resolution — candidate pairs -> connected components
# -> canonical doc per cluster. Spark: iterative min-label propagation
# (functions/clusters.py); oracle: recursive CTE computing the same
# fixpoint. This is the rare iterative algorithm that still hash-checks.
# --------------------------------------------------------------------------
from bioio_spark.functions.clusters import (  # noqa: E402
    dedup_clusters,
    dedup_clusters_oracle,
)

@register("l6_dedup_clusters",
          oracle=dedup_clusters_oracle(_dedup.minhash_pairs_cte()),
          doc="L6 connected-component dedup clusters over LSH pairs")
def l6_dedup_clusters(spark, sf_dir):
    pairs = minhash_candidate_pairs(load(spark, sf_dir, "documents"),
                                    sort=False)
    return dedup_clusters(pairs)


# --------------------------------------------------------------------------
# L6b: deterministic stratified sampling — the scale-correct way to sample
# training data (hash of a stable key vs. per-stratum threshold; no RNG, no
# seed coordination across executors, reproducible across engines/runs).
# Narrow op: no shuffle at all — a scan + filter that prunes ~60% of rows.
# --------------------------------------------------------------------------
_SAMPLE_RATES = {"en": 250, "de": 500, "es": 500, "fr": 500, "zh": 800}

def _sample_rate_sql() -> str:
    whens = " ".join(f"WHEN lang = '{k}' THEN {v}"
                     for k, v in _SAMPLE_RATES.items())
    return f"CASE {whens} ELSE 0 END"



@register(
    "l6b_hash_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_h32_sql("lang || ':' || CAST(doc_id AS VARCHAR)")} % 1000
          < {_sample_rate_sql()}
    ORDER BY doc_id
    """,
    doc="L6b deterministic per-stratum hash sampling of documents",
)
def l6b_hash_sample(spark, sf_dir):
    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    rate = F.lit(0)
    for k, v in _SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == k, F.lit(v)).otherwise(rate)
    key = F.concat(F.col("lang"), F.lit(":"),
                   F.col("doc_id").cast("string"))
    return (docs.filter((h32_col(key) % 1000) < rate)
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# L4f: PII-style redaction. The fixture corpus has no PII, so the query
# deterministically *injects* an email + numeric code per doc, then redacts
# them back out with the same regexes in both engines — exercising the real
# regexp_replace/regexp_count paths with verifiable counts and a content
# hash of the redacted text. Patterns are restricted to the syntax subset
# Java regex and RE2 share (character classes; no backrefs/lookaround).
# --------------------------------------------------------------------------
_EMAIL_PAT = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_NUM_PAT = "[0-9]+"


@register(
    "l4f_pii_redaction",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ref ' || CAST(doc_id * 7 + 13 AS VARCHAR)
               AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(
             regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
             '{_NUM_PAT}')) AS n_nums,
           md5(regexp_replace(
             regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
             '{_NUM_PAT}', '<NUM>', 'g')) AS red_hash
    FROM aug ORDER BY doc_id
    """,
    doc="L4f regex PII redaction with match counts and content hash",
)
def l4f_pii_redaction(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"), F.lit("@example.com ref "),
        (F.col("doc_id") * 7 + 13).cast("string"))
    no_email = F.regexp_replace(t, _EMAIL_PAT, "<EMAIL>")
    return (docs.select(
        "doc_id",
        F.regexp_count(t, F.lit(_EMAIL_PAT)).alias("n_emails"),
        F.regexp_count(no_email, F.lit(_NUM_PAT)).alias("n_nums"),
        F.md5(F.regexp_replace(no_email, _NUM_PAT, "<NUM>"))
        .alias("red_hash"))
        .orderBy("doc_id"))


# --------------------------------------------------------------------------
# L7: sequence packing — concat-and-chunk documents into fixed-capacity
# context windows (the standard pretraining packing strategy: concatenate
# the stream, cut every CAP units; a document's bin is the chunk its first
# unit lands in). The running sum is computed with the TWO-LEVEL
# prefix-sum device (per-(lang, shard) local window + broadcast shard
# offsets — the img_integral separable trick), so no single task ever
# orders a whole lang stratum; the oracle keeps the equivalent global
# per-lang window form (the arithmetic is exact, the results identical).
# --------------------------------------------------------------------------
_PACK_CAP = 2048  # capacity per context window, in n_chars units
# doc_id-range width of one prefix-sum shard: local window tasks are
# bounded by the ids in one shard; the per-shard offset table is
# (#langs x #shards) rows — broadcast-sized up to ~10^4 shards, i.e.
# corpora of ~10^7 id range per lang before raising the width.
_PACK_SHARD_IDS = 512


def _sharded_prev_sum(df, part_col: str, order_cols: list[str],
                      val_col, out_col: str,
                      shard_ids: int = _PACK_SHARD_IDS):
    """EXCLUSIVE running sum of `val_col` over
    (PARTITION BY part_col ORDER BY order_cols), decomposed so no task
    sorts a whole stratum (the two-level / separable prefix-sum device,
    the 1-D img_integral trick):

    1. shard = doc_id DIV shard_ids — order_cols lead with doc_id, so
       shards are CONTIGUOUS runs of the stratum order and offsets
       compose exactly;
    2. local exclusive prefix sum per (part_col, shard) — each window
       task holds one shard, never the stratum;
    3. per-shard totals (tiny partial-combining agg) get their own
       per-stratum exclusive running sum — #shards rows per stratum —
       and are BROADCAST-joined back;
    4. out = shard offset + local prefix.

    Identical integer arithmetic to the single global window (the
    oracle keeps that form), at stratum-parallel cost."""
    from pyspark.sql import Window

    # integer DIV, not float division + cast: exactness must not depend
    # on doc_id < 2^53, and cast-truncation != floor for negative ids
    df = df.withColumn("_shard", F.expr(f"doc_id DIV {shard_ids}"))
    lw = (Window.partitionBy(part_col, "_shard").orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, -1))
    local = F.coalesce(F.sum(val_col).over(lw), F.lit(0))
    ow = (Window.partitionBy(part_col).orderBy("_shard")
          .rowsBetween(Window.unboundedPreceding, -1))
    offsets = (df.groupBy(part_col, "_shard")
               .agg(F.sum(val_col).alias("_tot"))
               .withColumn("_off",
                           F.coalesce(F.sum("_tot").over(ow), F.lit(0)))
               .drop("_tot"))
    return (df.withColumn("_local", local)
            .join(F.broadcast(offsets), [part_col, "_shard"])
            .withColumn(out_col,
                        (F.col("_off") + F.col("_local")).cast("long"))
            .drop("_shard", "_local", "_off"))


@register(
    "l7_sequence_packing",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, lang, n_chars,
             COALESCE(sum(n_chars) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_chars
      FROM documents)
    SELECT doc_id, lang,
           CAST(floor(prev_chars / {_PACK_CAP}) AS BIGINT) AS bin_id,
           CAST(prev_chars % {_PACK_CAP} AS BIGINT) AS bin_offset
    FROM c ORDER BY lang, doc_id
    """,
    doc="L7 concat-and-chunk sequence packing into fixed context windows",
)
def l7_sequence_packing(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    c = _sharded_prev_sum(docs.select("doc_id", "lang", "n_chars"),
                          "lang", ["doc_id"], "n_chars", "prev_chars")
    return (c.select(
        "doc_id", "lang",
        F.floor(F.col("prev_chars") / _PACK_CAP).alias("bin_id"),
        (F.col("prev_chars") % _PACK_CAP).alias("bin_offset"))
        .orderBy("lang", "doc_id"))


# --------------------------------------------------------------------------
# L8: target-mix rebalancing — downsample each language to hit a declared
# mix. T = the largest total the corpus supports (min over langs of
# count/share); each lang keeps floor(share*T) docs, chosen by smallest
# content-stable hash (deterministic "random" sample, reproducible across
# engines, runs, and cluster layouts — same argument as l6b). Scale: the
# per-lang counts are a tiny aggregate broadcast back; selection is one
# row_number window per lang partition.
# --------------------------------------------------------------------------
_MIX_TARGET = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}


def _mix_share_sql() -> str:
    whens = " ".join(f"WHEN lang = '{k}' THEN {v}"
                     for k, v in _MIX_TARGET.items())
    return f"CASE {whens} ELSE 0.0 END"


@register(
    "l8_mix_rebalance",
    oracle=f"""
    WITH shared AS (
      SELECT doc_id, lang, {_mix_share_sql()} AS share,
             {_h32_sql("'mix:' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents WHERE {_mix_share_sql()} > 0),
    caps AS (
      SELECT min(cnt / share) AS t FROM (
        SELECT lang, share, count(*) AS cnt FROM shared
        GROUP BY lang, share)),
    ranked AS (
      SELECT doc_id, lang, share,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
               AS rk
      FROM shared)
    SELECT doc_id, lang FROM ranked, caps
    WHERE rk <= floor(share * t)
    ORDER BY doc_id
    """,
    doc="L8 deterministic language-mix rebalancing to target shares",
)
def l8_mix_rebalance(spark, sf_dir):
    from pyspark.sql import Window

    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    share = F.lit(0.0)
    for k, v in _MIX_TARGET.items():
        share = F.when(F.col("lang") == k, F.lit(v)).otherwise(share)
    shared = (docs.withColumn("share", share)
              .filter(F.col("share") > 0)
              .withColumn("h", h32_col(
                  F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))))
    caps = (shared.groupBy("lang", "share")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .agg(F.min(F.col("cnt") / F.col("share")).alias("t")))
    rk = F.row_number().over(
        Window.partitionBy("lang").orderBy("h", "doc_id"))
    return (shared.withColumn("rk", rk)
            .crossJoin(F.broadcast(caps))
            .filter(F.col("rk") <= F.floor(F.col("share") * F.col("t")))
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# L9: benchmark decontamination — eval-split documents sharing 3-gram
# shingles with the train split. The canonical pre-training hygiene check,
# as a shingle-key equi join (no corpus-sized broadcasts).
# --------------------------------------------------------------------------
from bioio_spark.functions.dedup import (  # noqa: E402
    decontamination,
    decontamination_oracle,
)


@register("l9_decontamination", oracle=decontamination_oracle(),
          doc="L9 train/eval shingle-overlap decontamination check")
def l9_decontamination(spark, sf_dir):
    return decontamination(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L10: deterministic train/val/test split assignment — the companion to
# l6b's sampling: every doc lands in exactly one split via a stable content
# hash (no RNG, reproducible across engines, cluster layouts, and retries;
# a re-run after adding new docs never reassigns existing ones). Narrow
# assignment + one |langs x 3|-group aggregate; verified as per-stratum
# counts + char totals so a single misassigned doc flips the hash.
# --------------------------------------------------------------------------
@register(
    "l10_train_split",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN {_h32_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 80 THEN 'train'
                  WHEN {_h32_sql("'split:' || CAST(doc_id AS VARCHAR)")}
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY lang, split ORDER BY lang, split
    """,
    doc="L10 deterministic stratum-reported train/val/test split",
)
def l10_train_split(spark, sf_dir):
    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    h = h32_col(F.concat(F.lit("split:"),
                         F.col("doc_id").cast("string"))) % 100
    split = (F.when(h < 80, "train")
             .when(h < 90, "val")
             .otherwise("test"))
    return (docs.select("lang", "n_chars", split.alias("split"))
            .groupBy("lang", "split")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"))
            .orderBy("lang", "split"))


# --------------------------------------------------------------------------
# L3d: ANN recall measurement — the standard quality metric for an ANN
# index: |IVF top-k ∩ brute-force top-k| / k. Both lists are computed by
# already-oracle-checked operators; this query pins the recall itself so
# an index regression (bad centroids, wrong probe pick) shows up as a
# value change, not just a latency change.
# --------------------------------------------------------------------------
_RECALL_Q, _RECALL_K = 1, 10


@register(
    "l3d_ivf_recall",
    oracle=f"""
    WITH ivf AS ({_sim._ivf_oracle(_RECALL_Q, _RECALL_K)}),
    bf AS (
      SELECT e.vec_id
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
            FROM embeddings) e,
           (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings
            WHERE vec_id = {_RECALL_Q}) q
      WHERE e.vec_id != {_RECALL_Q}
      ORDER BY list_dot_product(e.e, q.q)
                 / (sqrt(list_dot_product(e.e, e.e))
                    * sqrt(list_dot_product(q.q, q.q))) DESC, e.vec_id
      LIMIT {_RECALL_K})
    SELECT {_RECALL_K} AS k, count(*) AS n_common
    FROM ivf JOIN bf USING (vec_id)
    """,
    doc="L3d ANN quality: IVF top-k recall against brute-force top-k",
)
def l3d_ivf_recall(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    ivf = ivf_topk(emb, query_vec_id=_RECALL_Q, k=_RECALL_K,
                   cache_key=sf_dir).select("vec_id")
    bf = cosine_topk(emb, query_vec_id=_RECALL_Q, k=_RECALL_K) \
        .select("vec_id")
    return (ivf.join(bf, "vec_id")
            .agg(F.lit(_RECALL_K).alias("k"),
                 F.count(F.lit(1)).alias("n_common")))


# --------------------------------------------------------------------------
# L2e embedding-cosine near-duplicate dedup: the SemDeDup-style decision
# layer over hyperplane-LSH buckets — keep a vector iff no lower-id vector
# in its sign bucket clears the cosine threshold. Completes the dedup
# family (exact l1 / MinHash l2 / SimHash l2b / n-gram Jaccard l2c /
# embedding-cosine l2e).
# --------------------------------------------------------------------------
from bioio_spark.functions.dedup import (  # noqa: E402
    EMBEDDING_DEDUP_ORACLE, embedding_near_dup_dedup)


@register("l2e_embedding_dedup", oracle=EMBEDDING_DEDUP_ORACLE,
          doc="L2e embedding-cosine near-dup dedup (keep-lowest-id over "
              "LSH sign buckets)")
def l2e_embedding_dedup(spark, sf_dir):
    return embedding_near_dup_dedup(load(spark, sf_dir, "embeddings"),
                                    threshold=0.3)


@register("l2f_span_coverage", oracle=_dedup.SPAN_COVERAGE_ORACLE,
          doc="L2f exact n-gram substring-span duplication coverage "
              "(Lee et al. 2022 exact-substring dedup): per-doc "
              "covered-token fraction + integer keep gate")
def l2f_span_coverage(spark, sf_dir):
    from bioio_spark.functions.dedup import ngram_span_coverage

    return ngram_span_coverage(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L11 curriculum-stratified sampling: bucket the corpus into quality
# deciles (length proxy) and keep a per-decile hash fraction that ramps
# up the curriculum — the data-mixing shape "anneal on high-quality
# data" pipelines use, with no RNG anywhere (stable under task retries
# and corpus growth, like l6b/l8/l10).
#
# Scale: NO global sort. Decile boundaries are exact value-quantile cut
# points computed from the length HISTOGRAM (groupBy(length) — a
# bounded, partial-combining aggregate: at most max-doc-length distinct
# keys regardless of corpus size, the same bounded-index-fetch class as
# the IVF centroid collects). The 9 cut points are broadcast as
# LITERALS and the decile is a narrow comparison projection —
# decile(x) = 1 + #{i : x > cut_i}, cut_i = min len with
# cum_count >= ceil(i*n/10). Ties in length land in one decile by
# construction (a value-banded rule, not ntile's equal-count rule), so
# the boundary-tie question disappears; the oracle computes the
# identical cut points from the identical histogram. Replaces the r7
# global unpartitioned ntile window (the one operator that could not
# run at 100x — every row shuffled to ONE task for the sort).
# --------------------------------------------------------------------------
@register(
    "l11_curriculum_sample",
    oracle=f"""
    WITH lens AS (SELECT doc_id, length(text) AS len FROM documents),
    n AS (SELECT count(*) AS n FROM lens),
    hist AS (SELECT len, count(*) AS c FROM lens GROUP BY len),
    cum AS (SELECT len, sum(c) OVER (ORDER BY len) AS cum FROM hist),
    cuts AS (
      SELECT g.i, min(cum.len) AS cut
      FROM (SELECT unnest(generate_series(1, 9)) AS i) g, cum, n
      WHERE cum.cum >= (g.i * n.n + 9) // 10
      GROUP BY g.i),
    ranked AS (
      SELECT l.doc_id,
             CAST(1 + (SELECT count(*) FROM cuts c WHERE l.len > c.cut)
                  AS INTEGER) AS decile
      FROM lens l),
    kept AS (
      SELECT doc_id, decile,
             CASE WHEN {_h32_sql("'cur:' || CAST(doc_id AS VARCHAR)")}
                  % 1000 < 50 + (decile - 1) * 100
                  THEN 1 ELSE 0 END AS keep
      FROM ranked)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN keep = 1 THEN doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM kept GROUP BY decile ORDER BY decile
    """,
    doc="L11 curriculum-stratified sampling: exact value-quantile "
        "decile bands (histogram cut points, no global sort) with "
        "per-decile deterministic-hash keep rates ramping 50->950 "
        "per mille",
)
def l11_curriculum_sample(spark, sf_dir):
    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    hist = sorted(
        (r["len"], r["c"]) for r in
        docs.select(F.length("text").alias("len"))
            .groupBy("len").agg(F.count(F.lit(1)).alias("c")).collect())
    n = sum(c for _, c in hist)
    cuts, cum, i = [], 0, 1
    for ln, c in hist:
        cum += c
        while i <= 9 and cum >= (i * n + 9) // 10:
            cuts.append(ln)
            i += 1
    decile = F.lit(1)
    for cut in cuts:
        decile = decile + (F.length("text") > F.lit(cut)).cast("int")
    ranked = docs.select("doc_id", decile.cast("int").alias("decile"))
    keep = (h32_col(F.concat(F.lit("cur:"),
                             F.col("doc_id").cast("string")))
            % 1000 < 50 + (F.col("decile") - 1) * 100).cast("int")
    kept = ranked.withColumn("keep", keep)
    return (kept.groupBy("decile")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("keep").cast("bigint").alias("n_kept"),
                 F.sum(F.when(F.col("keep") == 1, F.col("doc_id"))
                       .otherwise(F.lit(0)))
                 .cast("bigint").alias("kept_id_sum"))
            .orderBy("decile"))


# --------------------------------------------------------------------------
# L12 SemDeDup: semantic near-duplicate removal over embedding
# clusters (Abbas et al. 2023) — catches paraphrases that surface-text
# dedup (l1/l2) misses. Cluster-bounded pairing (never all-pairs),
# session-cached bit-stable IVF index, keep-lowest-id determinism.
# --------------------------------------------------------------------------
@register("l12_semantic_dedup",
          oracle=_sim.SEMANTIC_DEDUP_ORACLE,
          doc="L12 SemDeDup semantic dedup: per-cluster cosine "
              "near-dup removal over the cached IVF assignment, "
              "pairing capped at MAX_CLUSTER_WIDTH lowest ids")
def l12_semantic_dedup(spark, sf_dir):
    # cache_key must be sf-scoped (a fixed key would hand a warm
    # session sf0.001 centroids for an sf0.1 run) and is shared with
    # l3c/l3h: identical (n_centroids, sample_mod) deterministic
    # training means ONE index serves the whole IVF family
    return semantic_dedup(load(spark, sf_dir, "embeddings"),
                          threshold=0.3, cache_key=sf_dir)


@register("l12b_semdedup_sweep",
          oracle=_sim.SEMDEDUP_SWEEP_ORACLE,
          doc="L12b SemDeDup epsilon-sweep gauge: survivors per "
              "threshold under capped vs uncapped pairing (pins the "
              "MAX_CLUSTER_WIDTH cap as a no-op at fixture scale)")
def l12b_semdedup_sweep(spark, sf_dir):
    from bioio_spark.functions.similarity import semdedup_sweep

    return semdedup_sweep(load(spark, sf_dir, "embeddings"),
                          cache_key=sf_dir)


# --------------------------------------------------------------------------
# L13 distributed BPE vocabulary learning — the tokenizer-training
# iterative MapReduce (Sennrich et al. 2016). Rounds driver-sequenced
# like l3h/CC; per round one vocab-sized pair-count aggregate, a 1-row
# argmax fetch, and a narrow literal-pattern merge projection. The
# oracle unrolls the identical round chain textually.
# --------------------------------------------------------------------------
from bioio_spark.functions.bpe import (  # noqa: E402
    BPE_ORACLE, BPE_TOKENIZE_ORACLE)


@register("l13_bpe_vocab", oracle=BPE_ORACLE,
          doc="L13 distributed BPE vocabulary learning: 16 merge "
              "rounds over a persisted/checkpointed vocab table, "
              "greedy-leftmost merge semantics pinned via the "
              "doubled-space replace trick")
def l13_bpe_vocab(spark, sf_dir):
    from bioio_spark.functions.bpe import bpe_vocab

    return bpe_vocab(load(spark, sf_dir, "documents"),
                     cache_key=sf_dir)


@register("l4k_dsir_weights", oracle=_text.DSIR_ORACLE,
          doc="L4k DSIR hashed-ngram importance weights (Xie et al. "
              "2023): bounded 256-bucket model, broadcast remap, "
              "integer bit-length log-ratio")
def l4k_dsir_weights(spark, sf_dir):
    from bioio_spark.functions.text import dsir_weights

    return dsir_weights(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# G2 PageRank over the customer -> supplier purchase graph — the
# Pregel-on-DataFrame iteration complementing the CC operator (l6):
# a FIXED unrolled round count, no driver collect, one edge join +
# one dst-keyed partial agg per round, integer fixed-point arithmetic
# so three float-free rounds hash-match the unrolled oracle.
# --------------------------------------------------------------------------
from bioio_spark.functions.clusters import (  # noqa: E402
    pagerank, pagerank_oracle)

_PR_EDGES_CTE = """edges AS (
  SELECT DISTINCT o.o_custkey AS src,
                  l.l_suppkey + 1000000000 AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)"""
_PR_BODY, _PR_FINAL = pagerank_oracle(_PR_EDGES_CTE)
_PR_ORACLE = f"""
WITH {_PR_BODY}
SELECT node, rank FROM {_PR_FINAL}
ORDER BY rank DESC, node LIMIT 50
"""


# --------------------------------------------------------------------------
# G3 triangle counting — the third classic distributed-graph kernel
# (after g2 PageRank and l6 connected components), with THE scale trick
# that makes it tractable: DEGREE ORIENTATION. Each undirected edge is
# oriented from its (degree, id)-smaller endpoint to the larger; every
# triangle then has exactly ONE vertex with two out-edges, so counting
# wedges (u->v, u->w) and probing the closing edge (v->w) counts each
# triangle once — and out-degrees are bounded by O(sqrt(E)) however
# skewed the raw degree distribution (the hub that would create
# deg^2 wedges becomes the SINK of its edges instead). Graph: parts
# co-purchased in the same order (unipartite), hash-sampled 25% so the
# fixture stays bench-sized; pairs enumerated with the capped
# _bucket_pairs device (orders have <=7 lines).
# --------------------------------------------------------------------------
_G3_SAMPLE_MOD = 4


def _g3_edges_sql() -> str:
    """The sampled co-purchase edge chain (li -> licap -> pairs ->
    edges), shared textually by the g3 and g4 oracles."""
    h = _h32_sql("CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR)")
    oh = _h32_sql("'g3o:' || CAST(l_orderkey AS VARCHAR)")
    return f"""li AS (
      SELECT l_orderkey, l_partkey FROM lineitem
      WHERE {oh} % 4 = 0),
    licap AS (
      SELECT l_orderkey, l_partkey FROM (
        SELECT DISTINCT l_orderkey, l_partkey FROM li) d
      QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                 ORDER BY l_partkey) <= 256),
    pairs AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM licap x JOIN licap y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
    edges AS (SELECT a, b FROM pairs WHERE {h} % {_G3_SAMPLE_MOD} = 0)"""


def _g3_oracle() -> str:
    return f"""
    WITH {_g3_edges_sql()},
    deg AS (
      SELECT v, count(*) AS d FROM (
        SELECT a AS v FROM edges UNION ALL SELECT b FROM edges)
      GROUP BY v),
    oriented AS (
      SELECT CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.a ELSE e.b END
               AS src,
             CASE WHEN (da.d, e.a) < (db.d, e.b) THEN e.b ELSE e.a END
               AS dst
      FROM edges e
      JOIN deg da ON da.v = e.a
      JOIN deg db ON db.v = e.b),
    od AS (SELECT o.src, o.dst, d.d AS dd
           FROM oriented o JOIN deg d ON d.v = o.dst),
    wedges AS (
      SELECT e1.dst AS v, e2.dst AS w
      FROM od e1 JOIN od e2
        ON e1.src = e2.src AND (e1.dd, e1.dst) < (e2.dd, e2.dst)),
    tri AS (
      SELECT count(*) AS n_tri
      FROM wedges wg JOIN oriented o
        ON o.src = wg.v AND o.dst = wg.w),
    stats AS (
      SELECT (SELECT count(*) FROM deg) AS n_vertices,
             (SELECT count(*) FROM edges) AS n_edges,
             (SELECT sum(d * (d - 1) // 2) FROM deg) AS n_wedges,
             (SELECT n_tri FROM tri) AS n_triangles)
    SELECT CAST(n_vertices AS BIGINT) AS n_vertices,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(n_wedges AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           CAST(CASE WHEN n_wedges = 0 THEN 0
                ELSE 3 * n_triangles * 1000 // n_wedges END AS BIGINT)
             AS clustering_permille
    FROM stats
    """


@register(
    "g3_triangle_count",
    oracle=_g3_oracle(),
    doc="G3 degree-oriented triangle counting over the co-purchase "
        "part graph (hash-sampled): out-degrees bounded O(sqrt(E)) by "
        "orientation, one wedge self-join + one closing-edge probe; "
        "global clustering coefficient in integer permille",
)
def g3_triangle_count(spark, sf_dir):
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.functions.hashing import h32_col

    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    # order-level pre-sample BEFORE pair enumeration: the hash filter
    # rides the scan, halving the explode input (a pair-level sample
    # alone cannot push below the pairing)
    oh = h32_col(F.concat(F.lit("g3o:"),
                          F.col("l_orderkey").cast("string")))
    li = li.filter(oh % 4 == 0)
    from bioio_spark.functions.dedup import MAX_BUCKET_WIDTH
    pairs = (_bucket_pairs(li, ["l_orderkey"], "l_partkey",
                           max_width=MAX_BUCKET_WIDTH)
             .filter(F.col("doc_a") != F.col("doc_b"))
             .select(F.col("doc_a").alias("a"),
                     F.col("doc_b").alias("b"))
             .distinct())
    h = h32_col(F.concat(F.col("a").cast("string"), F.lit(":"),
                         F.col("b").cast("string")))
    edges = pairs.filter(h % _G3_SAMPLE_MOD == 0)
    from bioio_spark.session import hold
    held = hold(spark, "g3")
    edges = edges.persist()
    held.append(edges)
    deg = (edges.select(F.col("a").alias("v"))
           .unionAll(edges.select(F.col("b").alias("v")))
           .groupBy("v").agg(F.count(F.lit(1)).alias("d")))
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    lower = (F.struct("da", "a") < F.struct("db", "b"))
    oriented = (edges.join(da, "a").join(db, "b")
                .select(F.when(lower, F.col("a")).otherwise(F.col("b"))
                        .alias("src"),
                        F.when(lower, F.col("b")).otherwise(F.col("a"))
                        .alias("dst"))
                .persist())
    held.append(oriented)
    od = (oriented.join(deg.select(F.col("v").alias("dst"),
                                   F.col("d").alias("dd")), "dst"))
    e1 = od.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                   F.col("dd").alias("dv"))
    e2 = od.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                   F.col("dd").alias("dw"))
    wedges = (e1.join(e2, "u")
              .filter(F.struct("dv", "v") < F.struct("dw", "w"))
              .select("v", "w"))
    closing = oriented.select(F.col("src").alias("v"),
                              F.col("dst").alias("w"))
    n_tri = (wedges.join(closing, ["v", "w"])
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))
    n_e = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    vstats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("bigint")
        .alias("n_wedges"))
    return (vstats.crossJoin(F.broadcast(n_e))
            .crossJoin(F.broadcast(n_tri))
            .select("n_vertices", "n_edges", "n_wedges", "n_triangles",
                    F.expr("CASE WHEN n_wedges = 0 THEN 0 ELSE "
                           "3 * n_triangles * 1000 DIV n_wedges END")
                    .cast("bigint").alias("clustering_permille")))


@register("g2_pagerank", oracle=_PR_ORACLE,
          doc="G2 integer fixed-point PageRank (3 unrolled rounds, "
              "no driver collect) over the customer->supplier graph")
def g2_pagerank(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_suppkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (li.join(o, li.l_orderkey == o.o_orderkey)
         .select(F.col("o_custkey").alias("src"),
                 (F.col("l_suppkey") + 1000000000).alias("dst")))
    return (pagerank(e)
            .orderBy(F.desc("rank"), F.asc("node"))
            .limit(50))


@register("l9b_bloom_decontam",
          oracle=_dedup.BLOOM_DECONTAM_ORACLE,
          doc="L9b Bloom-sketch decontamination: eval shingles -> "
              "2048-bit broadcast filter (bounded 64-key bit_or agg), "
              "one narrow probe pass over the train corpus; "
              "deterministic md5 positions make the sketch hash-exact")
def l9b_bloom_decontam(spark, sf_dir):
    from bioio_spark.functions.dedup import bloom_decontamination

    return bloom_decontamination(load(spark, sf_dir, "documents"))


@register("l4l_tfidf_pairs", oracle=_text.TFIDF_PAIRS_ORACLE,
          doc="L4l TF-IDF top-k similar doc pairs: inverted-index "
              "sparse retrieval with integer bit-length IDF, "
              "stop-word self-pruning (idf=0 drops the posting) and "
              "the l2d posting-width cap")
def l4l_tfidf_pairs(spark, sf_dir):
    from bioio_spark.functions.text import tfidf_similar_pairs

    return tfidf_similar_pairs(load(spark, sf_dir, "documents"))


@register("l13b_bpe_tokenize",
          oracle=BPE_TOKENIZE_ORACLE,
          doc="L13b BPE train->apply loop: corpus token counts "
              "before/after the learned merges + alphabet size (the "
              "tokenizer's compression metric), one vocab-sized "
              "aggregate over the trained frame")
def l13b_bpe_tokenize(spark, sf_dir):
    from bioio_spark.functions.bpe import bpe_tokenize_stats

    return bpe_tokenize_stats(load(spark, sf_dir, "documents"),
                              cache_key=sf_dir)


@register("l2g_incremental_dedup", oracle=_dedup.INCREMENTAL_DEDUP_ORACLE,
          doc="L2g incremental dedup: probe today's delta against the "
              "standing corpus band index (exact md5 gate + LSH band "
              "gate + new-vs-new keep-lowest) — O(delta), not O(corpus)")
def l2g_incremental_dedup(spark, sf_dir):
    from bioio_spark.functions.dedup import incremental_dedup
    return incremental_dedup(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L15 composed filter stack: the quality-gate funnel a real corpus run
# executes (Gopher/CCNet/FineWeb all chain rule families and publish the
# attrition table). Four rules — composite quality (l4c), Gopher repetition
# (l4g), unigram surprisal (l4j), bigram surprisal (l4m) — evaluated
# per document, then one aggregate reports, per rule: how many docs fail
# it, how many it ALONE rejects (the rule's marginal value — a rule with
# zero sole rejections is dead weight at scale), and the survivor count
# through the stack prefix. The oracle textually embeds the four rule
# oracles as subqueries, so the funnel can never drift from the rules.
# Scale: four corpus passes (each the rule's own all-codegen shape) joined
# on doc_id, then one tiny aggregate; at 100 TB the flags frame is the
# natural checkpoint artifact.
# --------------------------------------------------------------------------
def _filter_stack_oracle() -> str:
    return f"""
    WITH q AS (SELECT doc_id FROM ({_text.QUALITY_ORACLE})),
    r AS (SELECT doc_id FROM ({_text.REPETITION_ORACLE})),
    u AS (SELECT doc_id FROM ({_text.SURPRISAL_ORACLE}) WHERE keep = 1),
    b AS (SELECT doc_id FROM ({_text.BIGRAM_SURPRISAL_ORACLE})
          WHERE keep = 1),
    flags AS (
      SELECT d.doc_id,
             CASE WHEN q.doc_id IS NULL THEN 0 ELSE 1 END AS p1,
             CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS p2,
             CASE WHEN u.doc_id IS NULL THEN 0 ELSE 1 END AS p3,
             CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS p4
      FROM documents d
      LEFT JOIN q ON q.doc_id = d.doc_id
      LEFT JOIN r ON r.doc_id = d.doc_id
      LEFT JOIN u ON u.doc_id = d.doc_id
      LEFT JOIN b ON b.doc_id = d.doc_id),
    agg AS (
      SELECT
        sum(1 - p1) AS f1, sum(1 - p2) AS f2,
        sum(1 - p3) AS f3, sum(1 - p4) AS f4,
        sum((1 - p1) * p2 * p3 * p4) AS o1,
        sum(p1 * (1 - p2) * p3 * p4) AS o2,
        sum(p1 * p2 * (1 - p3) * p4) AS o3,
        sum(p1 * p2 * p3 * (1 - p4)) AS o4,
        sum(p1) AS v1, sum(p1 * p2) AS v2,
        sum(p1 * p2 * p3) AS v3, sum(p1 * p2 * p3 * p4) AS v4
      FROM flags)
    SELECT * FROM (
      SELECT 1 AS stage, 'quality' AS rule,
             CAST(f1 AS BIGINT) AS n_fail,
             CAST(o1 AS BIGINT) AS n_sole_fail,
             CAST(v1 AS BIGINT) AS n_survive_through FROM agg
      UNION ALL
      SELECT 2, 'repetition', CAST(f2 AS BIGINT), CAST(o2 AS BIGINT),
             CAST(v2 AS BIGINT) FROM agg
      UNION ALL
      SELECT 3, 'unigram_surprisal', CAST(f3 AS BIGINT),
             CAST(o3 AS BIGINT), CAST(v3 AS BIGINT) FROM agg
      UNION ALL
      SELECT 4, 'bigram_surprisal', CAST(f4 AS BIGINT),
             CAST(o4 AS BIGINT), CAST(v4 AS BIGINT) FROM agg)
    ORDER BY stage
    """


@register("l15_filter_stack", oracle=_filter_stack_oracle(),
          doc="L15 composed quality-gate funnel: per-rule attrition, "
              "sole-rejector attribution, stack-prefix survivors over "
              "the l4c/l4g/l4j/l4m rules")
def l15_filter_stack(spark, sf_dir):
    from bioio_spark.functions.text import (bigram_surprisal,
                                            quality_score,
                                            repetition_filter,
                                            unigram_surprisal)

    documents = load(spark, sf_dir, "documents")
    sets = [
        quality_score(documents).select("doc_id"),
        repetition_filter(documents).select("doc_id"),
        unigram_surprisal(documents)
        .filter(F.col("keep") == 1).select("doc_id"),
        bigram_surprisal(documents)
        .filter(F.col("keep") == 1).select("doc_id"),
    ]
    flags = documents.select("doc_id")
    for i, s in enumerate(sets, start=1):
        flags = flags.join(
            s.withColumn(f"p{i}", F.lit(1)), "doc_id", "left")
    flags = flags.select(
        *[F.coalesce(f"p{i}", F.lit(0)).alias(f"p{i}")
          for i in range(1, 5)])
    agg = flags.agg(
        *[F.sum(1 - F.col(f"p{i}")).alias(f"f{i}") for i in range(1, 5)],
        F.sum((1 - F.col("p1")) * F.col("p2") * F.col("p3")
              * F.col("p4")).alias("o1"),
        F.sum(F.col("p1") * (1 - F.col("p2")) * F.col("p3")
              * F.col("p4")).alias("o2"),
        F.sum(F.col("p1") * F.col("p2") * (1 - F.col("p3"))
              * F.col("p4")).alias("o3"),
        F.sum(F.col("p1") * F.col("p2") * F.col("p3")
              * (1 - F.col("p4"))).alias("o4"),
        F.sum("p1").alias("v1"),
        F.sum(F.col("p1") * F.col("p2")).alias("v2"),
        F.sum(F.col("p1") * F.col("p2") * F.col("p3")).alias("v3"),
        F.sum(F.col("p1") * F.col("p2") * F.col("p3")
              * F.col("p4")).alias("v4"))
    rules = ["quality", "repetition", "unigram_surprisal",
             "bigram_surprisal"]
    stack_args = ", ".join(
        f"{i}, '{rules[i - 1]}', CAST(f{i} AS BIGINT), "
        f"CAST(o{i} AS BIGINT), CAST(v{i} AS BIGINT)"
        for i in range(1, 5))
    return (agg.selectExpr(
        f"stack(4, {stack_args}) AS "
        "(stage, rule, n_fail, n_sole_fail, n_survive_through)")
        .orderBy("stage"))


@register("l16_hashed_embeddings", oracle=_text.HASHED_EMBEDDINGS_ORACLE,
          doc="L16 feature-hashing document embeddings (Weinberger et "
              "al. 2009): the model-free text->vector bridge, exact "
              "signed integer bucket counts, row form")
def l16_hashed_embeddings(spark, sf_dir):
    from bioio_spark.functions.text import hashed_embeddings
    return hashed_embeddings(load(spark, sf_dir, "documents"))


@register("l17_doc_chunking", oracle=_text.DOC_CHUNKS_ORACLE,
          doc="L17 pretraining/RAG chunker: fixed-window token chunks "
              "with stride overlap, clamped tail window; chunk md5 pins "
              "exact boundaries; in-row transform + one explode")
def l17_doc_chunking(spark, sf_dir):
    from bioio_spark.functions.text import doc_chunks
    return doc_chunks(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# L18 exact-count stratified sampling: the eval-set constructor — exactly
# min(k, stratum size) documents per language, chosen by DETERMINISTIC hash
# order (salted h32, doc_id tiebreak), so the sample is stable across runs,
# engines, and cluster layouts (no RNG, no sampleBy approximation). One
# window per stratum, rank bounded by k — the same top-K-per-group
# TakeOrdered shape as l8b, never a stratum-wide sort at scale.
# --------------------------------------------------------------------------
_L18_K = 20


@register(
    "l18_stratified_exact",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {_dedup.h32_sql("'l18:' || CAST(doc_id AS VARCHAR)")},
                        doc_id) AS rk
      FROM documents)
    WHERE rk <= {_L18_K}
    ORDER BY lang, rk
    """,
    doc="L18 exact-count stratified sample: min(k, n) docs per lang by "
        "salted deterministic hash order",
)
def l18_stratified_exact(spark, sf_dir):
    from pyspark.sql import Window

    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    h = h32_col(F.concat(F.lit("l18:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(h, F.col("doc_id"))
    return (docs.select("lang", "doc_id",
                        F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= _L18_K)
            .orderBy("lang", "rk"))


# --------------------------------------------------------------------------
# L19 chunk packing: the end-to-end pretraining batch constructor —
# l17's stride chunks packed into fixed token budgets with l7's
# TWO-LEVEL prefix-sum device (bin = cumulative-length DIV capacity;
# per-(lang, shard) local windows + broadcast shard offsets, so no task
# orders a stratum). The composition is the job a corpus run actually
# submits: chunk -> pack in one plan, no intermediate materialization.
# Oracle embeds the chunker oracle as a subquery, so the packing can
# never drift from the chunk boundaries.
# --------------------------------------------------------------------------
_L19_CAP = 128


@register(
    "l19_chunk_packing",
    oracle=f"""
    WITH ch AS ({_text.DOC_CHUNKS_ORACLE}),
    wl AS (
      SELECT d.lang, ch.doc_id, ch.chunk_idx, ch.chunk_len,
             COALESCE(sum(ch.chunk_len) OVER (
               PARTITION BY d.lang
               ORDER BY ch.doc_id, ch.chunk_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS prev_toks
      FROM ch JOIN documents d ON d.doc_id = ch.doc_id)
    SELECT lang, doc_id, chunk_idx,
           CAST(prev_toks // {_L19_CAP} AS BIGINT) AS bin_id,
           CAST(prev_toks % {_L19_CAP} AS BIGINT) AS bin_offset
    FROM wl ORDER BY lang, doc_id, chunk_idx
    """,
    doc="L19 chunk -> pack composition: l17 stride chunks packed into "
        "128-token bins per lang (prefix-sum DIV, the l7 device) in "
        "one plan",
)
def l19_chunk_packing(spark, sf_dir):
    from bioio_spark.functions.text import doc_chunks

    docs = load(spark, sf_dir, "documents")
    ch = doc_chunks(docs).join(docs.select("doc_id", "lang"), "doc_id")
    # two-level prefix sum (the l7 device): chunks of one doc share a
    # shard (shard = doc_id range), so (doc_id, chunk_idx) order is
    # preserved within and across shards
    ch = _sharded_prev_sum(ch, "lang", ["doc_id", "chunk_idx"],
                           "chunk_len", "prev_toks")
    return (ch
            .select("lang", "doc_id", "chunk_idx",
                    F.expr(f"prev_toks DIV {_L19_CAP}")
                    .cast("bigint").alias("bin_id"),
                    (F.col("prev_toks") % _L19_CAP)
                    .cast("bigint").alias("bin_offset"))
            .orderBy("lang", "doc_id", "chunk_idx"))


# --------------------------------------------------------------------------
# L21 count-min sketch heavy hitters — the sketch tier. A CMS is the
# mergeable, ADDITIVE frequency summary a 100 TB pipeline keeps instead
# of exact term counts: D x W integer cells (here 4 x 256 = 1024 cells,
# bounded whatever the corpus), built by one partial-combining agg on
# (row, bucket); estimates never undercount (min over rows of an
# overcounting cell). Hash positions are md5-derived, so the sketch is
# bit-identical across engines — even the collision-driven
# overestimates hash-match. The query is the gauge (the l3f device):
# top-20 exact heavy hitters vs their CMS estimates, over_by >= 0 by
# construction. At scale the exact side is the fixture-bounded ground
# truth; the sketch is the artifact that ships.
# --------------------------------------------------------------------------
_CMS_D, _CMS_W, _CMS_TOPK = 4, 256, 20


@register(
    "l21_cms_heavy_hitters",
    oracle=rf"""
    WITH occ AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      FROM documents),
    pos AS (
      SELECT word, r.d,
             {_h32_sql("'cms' || CAST(r.d AS VARCHAR) || ':' || word")}
               % {_CMS_W} AS b
      FROM occ CROSS JOIN range({_CMS_D}) r(d)),
    cms AS (SELECT d, b, count(*) AS cnt FROM pos GROUP BY d, b),
    exact AS (SELECT word, count(*) AS exact FROM occ GROUP BY word),
    top AS (SELECT word, exact FROM exact
            ORDER BY exact DESC, word LIMIT {_CMS_TOPK}),
    est AS (
      SELECT t.word, min(c.cnt) AS cms_est
      FROM top t CROSS JOIN range({_CMS_D}) r(d)
      JOIN cms c ON c.d = r.d
       AND c.b = {_h32_sql(
           "'cms' || CAST(r.d AS VARCHAR) || ':' || t.word")} % {_CMS_W}
      GROUP BY t.word)
    SELECT t.word, CAST(t.exact AS BIGINT) AS exact,
           CAST(e.cms_est AS BIGINT) AS cms_est,
           CAST(e.cms_est - t.exact AS BIGINT) AS over_by
    FROM top t JOIN est e USING (word)
    ORDER BY exact DESC, word
    """,
    doc="L21 count-min sketch heavy hitters: 4x256 md5-positioned CMS "
        "(bounded, additive, mergeable) vs exact top-20 — the sketch "
        "gauge; over_by >= 0 pins the no-undercount property",
)
def l21_cms_heavy_hitters(spark, sf_dir):
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.functions.text import _words

    docs = load(spark, sf_dir, "documents")
    occ = docs.select(F.explode(_words(F.col("text"))).alias("word"))

    def bucket(word_col, d_col):
        return (h32_col(F.concat(F.lit("cms"), d_col.cast("string"),
                                 F.lit(":"), word_col))
                % _CMS_W)

    rows = F.explode(F.array(*[F.lit(d) for d in range(_CMS_D)]))
    pos = (occ.select("word", rows.alias("d"))
           .select("d", bucket(F.col("word"), F.col("d")).alias("b")))
    cms = pos.groupBy("d", "b").agg(F.count(F.lit(1)).alias("cnt"))
    exact = occ.groupBy("word").agg(F.count(F.lit(1)).alias("exact"))
    top = (exact.orderBy(F.col("exact").desc(), "word")
           .limit(_CMS_TOPK))
    est = (top.select("word", rows.alias("d"))
           .select("word", "d",
                   bucket(F.col("word"), F.col("d")).alias("b"))
           .join(F.broadcast(cms), ["d", "b"])
           .groupBy("word").agg(F.min("cnt").alias("cms_est")))
    return (top.join(est, "word")
            .select("word", F.col("exact").cast("bigint").alias("exact"),
                    F.col("cms_est").cast("bigint").alias("cms_est"),
                    (F.col("cms_est") - F.col("exact")).cast("bigint")
                    .alias("over_by"))
            .orderBy(F.col("exact").desc(), "word"))


# --------------------------------------------------------------------------
# L22 minhash accuracy gauge — completes the sketch-gauge family (l3f PQ
# recall, mm_ahash_recall banding, l21 CMS): for every l2 candidate pair,
# the MinHash ESTIMATE of Jaccard similarity (fraction of agreeing
# signature components — the quantity LSH actually thresholds on) against
# the EXACT shingle-set Jaccard, both in integer permille, plus the
# absolute error. At 100 TB the exact side is computed only on the
# bounded candidate set (never all pairs); the gauge is the regression
# tripwire for signature/banding changes — a hashing bug shows up as an
# error-distribution shift, not a silent recall loss.
# --------------------------------------------------------------------------
def _l22_oracle() -> str:
    from bioio_spark.functions.dedup import minhash_pairs_cte
    from bioio_spark.functions.hashing import NUM_MINHASH

    matches = " + ".join(
        f"CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END"
        for i in range(NUM_MINHASH))
    return f"""
    WITH {minhash_pairs_cte()},
    shx AS (SELECT doc_id, unnest(sh) AS shingle FROM shingled),
    ncard AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, count(*) AS ni
      FROM pairs p
      JOIN shx a ON a.doc_id = p.doc_a
      JOIN shx b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b)
    SELECT p.doc_a, p.doc_b,
           CAST(({matches}) * 1000 // {NUM_MINHASH} AS BIGINT)
             AS est_milli,
           CAST(COALESCE(i.ni, 0) * 1000
                // (na.nsh + nb.nsh - COALESCE(i.ni, 0)) AS BIGINT)
             AS jaccard_milli,
           CAST(abs(({matches}) * 1000 // {NUM_MINHASH}
                - COALESCE(i.ni, 0) * 1000
                  // (na.nsh + nb.nsh - COALESCE(i.ni, 0)))
                AS BIGINT) AS abs_err_milli
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN ncard na ON na.doc_id = p.doc_a
    JOIN ncard nb ON nb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    ORDER BY p.doc_a, p.doc_b
    """


@register(
    "l22_minhash_gauge",
    oracle=_l22_oracle(),
    doc="L22 minhash accuracy gauge: signature-agreement Jaccard "
        "estimate vs exact shingle-set Jaccard on the (bounded) l2 "
        "candidate pairs, integer permille + absolute error",
)
def l22_minhash_gauge(spark, sf_dir):
    from bioio_spark.functions.dedup import (_dedup_reps, _shingled,
                                             minhash_candidate_pairs,
                                             minhash_signatures)
    from bioio_spark.functions.hashing import NUM_MINHASH
    from bioio_spark.session import hold

    docs = load(spark, sf_dir, "documents")
    reps = _dedup_reps(docs)
    pairs = minhash_candidate_pairs(docs, sort=False)
    # sig feeds both join sides (sa/sb) and shx feeds four consumers
    # (both inter sides, na, nb) — without a materialization point each
    # consumer re-runs the shingle/minhash pipeline from the persisted
    # reps (6 evaluations total, guide §5 caching-for-reuse; measured
    # ~14% warm / 3x cold). session.hold unpersists the previous call's
    # frames, the g3/g5 discipline.
    held = hold(spark, "l22")
    sig = minhash_signatures(reps).persist()
    held.append(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"s{i}").alias(f"sa{i}")
                      for i in range(NUM_MINHASH)])
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"s{i}").alias(f"sb{i}")
                      for i in range(NUM_MINHASH)])
    matches = None
    for i in range(NUM_MINHASH):
        term = (F.col(f"sa{i}") == F.col(f"sb{i}")).cast("long")
        matches = term if matches is None else matches + term
    shx = _shingled(reps).select(
        "doc_id", F.explode("sh").alias("shingle")).persist()
    held.append(shx)
    ncard = shx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    inter = (pairs
             .join(shx.select(F.col("doc_id").alias("doc_a"), "shingle"),
                   "doc_a")
             .join(shx.select(F.col("doc_id").alias("doc_b"), "shingle"),
                   ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("ni")))
    na = ncard.select(F.col("doc_id").alias("doc_a"),
                      F.col("nsh").alias("na"))
    nb = ncard.select(F.col("doc_id").alias("doc_b"),
                      F.col("nsh").alias("nb"))
    out = (pairs.join(sa, "doc_a").join(sb, "doc_b")
           .join(na, "doc_a").join(nb, "doc_b")
           .join(inter, ["doc_a", "doc_b"], "left")
           .withColumn("ni", F.coalesce("ni", F.lit(0)))
           .withColumn("m1000", matches * 1000)
           .withColumn("est_milli",
                       F.expr(f"m1000 DIV {NUM_MINHASH}")
                       .cast("bigint"))
           .withColumn("jaccard_milli",
                       F.expr("ni * 1000 DIV (na + nb - ni)")
                       .cast("bigint")))
    return (out.select(
        "doc_a", "doc_b", "est_milli", "jaccard_milli",
        F.abs(F.col("est_milli") - F.col("jaccard_milli"))
        .cast("bigint").alias("abs_err_milli"))
        .orderBy("doc_a", "doc_b"))


# --------------------------------------------------------------------------
# L23 contamination report — the l15 attrition device applied to the
# decontamination tier, over the TRAIN split: three gates per train doc
# (exact eval-shingle overlap; the l9b Bloom-sketch flag — a strict
# SUPERSET of the exact gate, so sole-fail attribution EXPOSES the
# sketch's false-positive overhead as p2-only failures; the l2f
# duplicated-span gate), rolled into the per-gate n_fail / n_sole_fail /
# n_survive_through table a corpus release publishes. The oracle embeds
# the l9b and l2f oracles textually (the no-drift device) plus the
# side-swapped exact CTE. Scale: each gate keeps its own documented
# shape; the report adds three doc_id flag joins + one tiny aggregate.
# --------------------------------------------------------------------------
def _contamination_report_oracle() -> str:
    split = _h32_sql("'split:' || CAST(doc_id AS VARCHAR)")
    shingle = _dedup._SHINGLE_SQL
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({shingle}) AS shingle FROM documents),
    tagged AS (
      SELECT doc_id, shingle, {split} % 10 = 0 AS is_eval FROM sh),
    evset AS (SELECT DISTINCT shingle FROM tagged WHERE is_eval),
    train AS (
      SELECT doc_id FROM documents WHERE {split} % 10 <> 0),
    exact_clean AS (
      -- start from ALL train docs (not just shingled ones): a train doc
      -- with <3 words has zero shingles, never reaches `tagged`, and by
      -- definition overlaps nothing -> clean, matching the Spark side's
      -- anti-join-on-exact_dirty semantics.
      SELECT doc_id FROM train t
      WHERE NOT EXISTS (
        SELECT 1 FROM tagged g JOIN evset e USING (shingle)
        WHERE g.doc_id = t.doc_id AND NOT g.is_eval)),
    bloom_clean AS (
      SELECT doc_id FROM ({_dedup.BLOOM_DECONTAM_ORACLE}) WHERE keep = 1),
    span_clean AS (
      SELECT doc_id FROM ({_dedup.SPAN_COVERAGE_ORACLE}) WHERE keep = 1),
    flags AS (
      SELECT tr.doc_id,
             CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS p1,
             CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS p2,
             CASE WHEN s.doc_id IS NULL THEN 0 ELSE 1 END AS p3
      FROM train tr
      LEFT JOIN exact_clean e ON e.doc_id = tr.doc_id
      LEFT JOIN bloom_clean b ON b.doc_id = tr.doc_id
      LEFT JOIN span_clean s ON s.doc_id = tr.doc_id),
    agg AS (
      SELECT sum(1 - p1) AS f1, sum(1 - p2) AS f2, sum(1 - p3) AS f3,
             sum((1 - p1) * p2 * p3) AS o1,
             sum(p1 * (1 - p2) * p3) AS o2,
             sum(p1 * p2 * (1 - p3)) AS o3,
             sum(p1) AS v1, sum(p1 * p2) AS v2,
             sum(p1 * p2 * p3) AS v3
      FROM flags)
    SELECT * FROM (
      SELECT 1 AS stage, 'exact_overlap' AS gate,
             CAST(f1 AS BIGINT) AS n_fail,
             CAST(o1 AS BIGINT) AS n_sole_fail,
             CAST(v1 AS BIGINT) AS n_survive_through FROM agg
      UNION ALL
      SELECT 2, 'bloom_sketch', CAST(f2 AS BIGINT), CAST(o2 AS BIGINT),
             CAST(v2 AS BIGINT) FROM agg
      UNION ALL
      SELECT 3, 'span_coverage', CAST(f3 AS BIGINT), CAST(o3 AS BIGINT),
             CAST(v3 AS BIGINT) FROM agg)
    ORDER BY stage
    """


@register(
    "l23_contamination_report",
    oracle=_contamination_report_oracle(),
    doc="L23 contamination report: exact eval-overlap, Bloom-sketch, "
        "and duplicated-span gates over the train split rolled into "
        "the per-gate attrition table (sole-fail attribution exposes "
        "the sketch's false-positive overhead) — the l15 device for "
        "the decontamination tier",
)
def l23_contamination_report(spark, sf_dir):
    from bioio_spark.functions.dedup import (_shingled,
                                             bloom_decontamination,
                                             ngram_span_coverage)
    from bioio_spark.functions.hashing import h32_col

    docs = load(spark, sf_dir, "documents")
    split = h32_col(F.concat(F.lit("split:"),
                             F.col("doc_id").cast("string"))) % 10
    train = docs.filter(split != 0).select("doc_id")
    # exact gate: train docs sharing ANY shingle with the eval set
    ex = (_shingled(docs)
          .withColumn("is_eval", split == 0)
          .select("doc_id", "is_eval", F.explode("sh").alias("shingle")))
    evset = ex.filter(F.col("is_eval")).select("shingle").distinct()
    exact_dirty = (ex.filter(~F.col("is_eval"))
                   .join(evset, "shingle")
                   .select("doc_id").distinct()
                   .withColumn("d1", F.lit(1)))
    bloom_clean = (bloom_decontamination(docs)
                   .filter(F.col("keep") == 1)
                   .select("doc_id").withColumn("c2", F.lit(1)))
    span_clean = (ngram_span_coverage(docs)
                  .filter(F.col("keep") == 1)
                  .select("doc_id").withColumn("c3", F.lit(1)))
    flags = (train
             .join(exact_dirty, "doc_id", "left")
             .join(bloom_clean, "doc_id", "left")
             .join(span_clean, "doc_id", "left")
             .select(
                 (F.coalesce("d1", F.lit(0)) == 0).cast("long")
                 .alias("p1"),
                 F.coalesce("c2", F.lit(0)).cast("long").alias("p2"),
                 F.coalesce("c3", F.lit(0)).cast("long").alias("p3")))
    agg = flags.agg(
        F.sum(1 - F.col("p1")).alias("f1"),
        F.sum(1 - F.col("p2")).alias("f2"),
        F.sum(1 - F.col("p3")).alias("f3"),
        F.sum((1 - F.col("p1")) * F.col("p2") * F.col("p3")).alias("o1"),
        F.sum(F.col("p1") * (1 - F.col("p2")) * F.col("p3")).alias("o2"),
        F.sum(F.col("p1") * F.col("p2") * (1 - F.col("p3"))).alias("o3"),
        F.sum("p1").alias("v1"),
        F.sum(F.col("p1") * F.col("p2")).alias("v2"),
        F.sum(F.col("p1") * F.col("p2") * F.col("p3")).alias("v3"))
    names = [(1, "exact_overlap"), (2, "bloom_sketch"),
             (3, "span_coverage")]
    stages = F.array(*[
        F.struct(F.lit(i).alias("stage"), F.lit(g).alias("gate"),
                 F.col(f"f{i}").cast("bigint").alias("n_fail"),
                 F.col(f"o{i}").cast("bigint").alias("n_sole_fail"),
                 F.col(f"v{i}").cast("bigint")
                 .alias("n_survive_through"))
        for i, g in names])
    return (agg.select(F.explode(stages).alias("s"))
            .select(F.col("s.stage").cast("int").alias("stage"),
                    F.col("s.gate").alias("gate"),
                    F.col("s.n_fail").alias("n_fail"),
                    F.col("s.n_sole_fail").alias("n_sole_fail"),
                    F.col("s.n_survive_through")
                    .alias("n_survive_through"))
            .orderBy("stage"))


# --------------------------------------------------------------------------
# L24 HyperLogLog distinct gauge (round 12): the cardinality member of
# the sketch tier (l21 counts frequencies, l22 gauges similarity
# sketches, l24 counts DISTINCTS) — the sketch behind every "how many
# unique documents/users/n-grams" dashboard at 100 TB, where exact
# COUNT(DISTINCT) is a full shuffle of the key universe but HLL is 64
# mergeable bytes. From-scratch and HASH-EXACT across engines (Spark's
# own approx_count_distinct is HLL++ but not oracle-mirrorable):
# h32 -> top-6 bits pick 1 of m=64 registers, rho = leading-zero count
# of the 26-bit suffix + 1 (integer bit-length device, l4j), register
# = max(rho) — max is associative/commutative, so the sketch is
# mergeable BY CONSTRUCTION and layout-independent. The harmonic-mean
# denominator is computed as the EXACT integer S = sum(2^(27 - M_j))
# (absent registers contribute 2^27), so the only float op is the
# final alpha*m^2*2^27/S — one division on one row, identical IEEE in
# both engines. No small-range correction: the fixture cardinality
# (>= thousands) sits far above the 2.5*m = 160 linear-counting
# regime; n_zero_registers is reported so the regime is visible.
# --------------------------------------------------------------------------
_HLL_P = 6                      # 2^6 = 64 registers
_HLL_M = 1 << _HLL_P
_HLL_SUFFIX_BITS = 32 - _HLL_P  # 26
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)


def _hll_registers(documents):
    """(bucket, mj) register rows for the distinct-document sketch
    (key = md5 of the text, the l1 exact-dedup identity)."""
    from bioio_spark.functions.hashing import h32_col

    h = h32_col(F.concat(F.lit("hll:"), F.md5(F.col("text"))))
    rows = documents.select(
        F.floor(h / F.lit(1 << _HLL_SUFFIX_BITS)).cast("int")
        .alias("bucket"),
        (h % F.lit(1 << _HLL_SUFFIX_BITS)).alias("v"))
    rho = (F.when(F.col("v") == 0, _HLL_SUFFIX_BITS + 1)
           .otherwise(F.lit(_HLL_SUFFIX_BITS + 1)
                      - F.length(F.bin(F.col("v")))))
    return (rows.select("bucket", rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("mj")))


HLL_ORACLE = f"""
    WITH h AS (
      SELECT {{h}} AS h FROM (
        SELECT md5(text) AS k FROM documents) t
    ),
    rows_ AS (
      SELECT h // {1 << _HLL_SUFFIX_BITS} AS bucket,
             h % {1 << _HLL_SUFFIX_BITS} AS v
      FROM h),
    regs AS (
      SELECT bucket,
             max(CASE WHEN v = 0 THEN {_HLL_SUFFIX_BITS + 1}
                 ELSE {_HLL_SUFFIX_BITS + 1} - length(bin(v)) END)
               AS mj
      FROM rows_ GROUP BY bucket),
    s AS (
      SELECT CAST(sum(1::BIGINT << ({_HLL_SUFFIX_BITS + 1} - mj))
                  AS BIGINT)
             + ({_HLL_M} - count(*))
               * {1 << (_HLL_SUFFIX_BITS + 1)} AS s,
             CAST({_HLL_M} - count(*) AS BIGINT) AS n_zero
      FROM regs),
    ex AS (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_exact
           FROM documents)
    SELECT CAST({_HLL_M} AS INT) AS m,
           ex.n_exact,
           s.n_zero AS n_zero_registers,
           CAST(floor(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M}
                      * {_HLL_M}
                      * {1 << (_HLL_SUFFIX_BITS + 1)} / s.s)
                AS BIGINT) AS hll_est,
           CAST(abs(CAST(floor(CAST({_HLL_ALPHA!r} AS DOUBLE)
                      * {_HLL_M} * {_HLL_M}
                      * {1 << (_HLL_SUFFIX_BITS + 1)} / s.s)
                AS BIGINT) - ex.n_exact) * 1000 // ex.n_exact
                AS BIGINT) AS err_permille
    FROM s CROSS JOIN ex
    """.replace(
        "{h}",
        "CAST(('0x' || substr(md5('hll:' || t.k), 1, 8)) "
        "AS BIGINT)")


@register(
    "l24_hll_distinct",
    oracle=HLL_ORACLE,
    doc="L24 HyperLogLog distinct-document gauge: 64 mergeable "
        "registers from h32 bucket/leading-zero ranks, EXACT integer "
        "harmonic denominator (sum of 2^(27-Mj)), one final float "
        "division — estimate vs exact COUNT DISTINCT with integer "
        "permille error",
)
def l24_hll_distinct(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    regs = _hll_registers(docs)
    s = (regs.agg(
        (F.sum(F.expr(f"shiftleft(1L, {_HLL_SUFFIX_BITS + 1} - mj)"))
         + (F.lit(_HLL_M) - F.count(F.lit(1)))
         * F.lit(1 << (_HLL_SUFFIX_BITS + 1))).cast("bigint")
        .alias("s"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).cast("bigint")
        .alias("n_zero")))
    ex = docs.agg(F.countDistinct(F.md5("text")).cast("bigint")
                  .alias("n_exact"))
    est = F.floor(F.lit(_HLL_ALPHA) * _HLL_M * _HLL_M
                  * (1 << (_HLL_SUFFIX_BITS + 1)) / F.col("s")
                  ).cast("bigint")
    return (s.crossJoin(F.broadcast(ex))
            .select(F.lit(_HLL_M).cast("int").alias("m"),
                    "n_exact",
                    F.col("n_zero").alias("n_zero_registers"),
                    est.alias("hll_est"),
                    (F.abs(est - F.col("n_exact")) * 1000
                     / F.col("n_exact")).cast("bigint")
                    .alias("err_permille"))
            )


# --------------------------------------------------------------------------
# L30 bottom-k quantile sketch (round 13): the fourth mergeable sketch
# (l21 CMS answers frequency, l22 minhash similarity, l24 HLL
# cardinality — l30 answers DISTRIBUTION: "what is the p50/p99 of this
# column?"). The sketch is the bottom-k-by-hash sample (Cohen &
# Kaplan's bottom-k sketch): keep the k rows whose md5(row identity)
# is smallest — a uniform without-replacement sample that is
# DETERMINISTIC (no RNG: the hash order is a property of the data),
# MERGEABLE as a semilattice (bottom-k of a union == bottom-k of the
# merged per-part bottom-ks, exactly — pinned by test), and
# SQL-expressible in both engines. Quantile q is then read off the
# sample at rank ceil(q*s/1000) and gauged against the exact
# rank-statistic at ceil(q*n/1000).
#
# Scale shape: the sample arm is ONE TakeOrderedAndProject over the
# hash projection (map-side partial top-k per partition, k rows merged
# at the coordinator — no shuffle of the data, the same plan shape as
# a4's top-k) + arithmetic over k rows. The exact arm is the gauge's
# ground-truth bracket: a per-value partial-combining count aggregate
# + a cumulative sum over the DISTINCT-value frame (bounded by the
# value domain, not the row count; were the domain itself data-scale,
# the l7 _sharded_prev_sum two-level device applies verbatim). At
# 100 TB you ship the k-row sample, not the corpus.
# --------------------------------------------------------------------------
_BK_K = 1024
_BK_QS = (250, 500, 750, 900, 990)


def _bk_vals(lineitem, extra=()):
    """(v, h): extendedprice in exact integer cents (floor(x*100+0.5)
    — the double is stored, so both engines must share one rounding)
    keyed by the md5 of the row's (orderkey, linenumber) identity.
    `extra` columns pass through (the s21 stream carries its group
    key alongside)."""
    h = F.md5(F.concat(F.lit("bk:"),
                       F.col("l_orderkey").cast("string"),
                       F.lit("-"),
                       F.col("l_linenumber").cast("string")))
    return lineitem.select(
        *extra,
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
        .alias("v"),
        h.alias("h"))


def _bk_sample(vals, k: int = _BK_K):
    """The bottom-k sketch: k rows of smallest hash. Lexicographic
    order on lowercase-hex md5 is identical in both engines; v is the
    tie-break (the synthetic lineitem has a handful of duplicate
    (orderkey, linenumber) identities, so h alone can tie at the
    boundary)."""
    return vals.orderBy(F.col("h").asc(), F.col("v").asc()).limit(k)


def _bk_cum_counts(v_df):
    """Per-distinct-value cumulative row counts (v, cum), the shared
    quantile-readout frame for both arms."""
    from pyspark.sql import Window

    cnt = v_df.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    w = (Window.orderBy("v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return cnt.select("v", F.sum("c").over(w).alias("cum"))


def _bk_quantile_report(samp_v, full_v, qs=_BK_QS):
    """(q_permille, sample_k, est_cents, exact_cents, err_permille):
    sketch estimate vs exact rank-statistic, all-integer (div, not
    float division, on both engines)."""
    spark = samp_v.sparkSession
    scum = _bk_cum_counts(samp_v)
    xcum = _bk_cum_counts(full_v)
    stot = samp_v.agg(F.count(F.lit(1)).cast("bigint").alias("s"))
    xtot = full_v.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    qf = spark.createDataFrame([(int(q),) for q in qs],
                               "q_permille long")
    t = (qf.crossJoin(F.broadcast(stot))
         .crossJoin(F.broadcast(xtot))
         .select("q_permille",
                 F.expr("(q_permille * s + 999) div 1000").alias("ts"),
                 F.expr("(q_permille * n + 999) div 1000")
                 .alias("tx")))
    # broadcast the |qs|-row target frame and STREAM the cumulative
    # frames: xcum grows with the value domain, so shipping it to the
    # driver would invert the size relationship at scale
    est = (scum.join(F.broadcast(t), F.col("cum") >= F.col("ts"))
           .groupBy("q_permille")
           .agg(F.min("v").alias("est_cents")))
    ex = (xcum.join(F.broadcast(t), F.col("cum") >= F.col("tx"))
          .groupBy("q_permille")
          .agg(F.min("v").alias("exact_cents")))
    return (qf.join(est, "q_permille").join(ex, "q_permille")
            .crossJoin(F.broadcast(stot))
            .select("q_permille",
                    F.col("s").alias("sample_k"),
                    "est_cents", "exact_cents",
                    F.expr("abs(est_cents - exact_cents) * 1000 "
                           "div exact_cents").alias("err_permille"))
            .orderBy("q_permille"))


def bottomk_quantile_gauge(lineitem, k: int = _BK_K, qs=_BK_QS):
    vals = _bk_vals(lineitem)
    return _bk_quantile_report(_bk_sample(vals, k).select("v"),
                               vals.select("v"), qs)


def _bk_oracle(k: int = _BK_K, qs=_BK_QS) -> str:
    q_list = ", ".join(str(int(q)) for q in qs)
    return f"""
    WITH vals AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
             md5('bk:' || CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS h
      FROM lineitem
    ),
    samp AS (SELECT v FROM vals ORDER BY h ASC, v ASC LIMIT {k}),
    scnt AS (SELECT v, count(*) AS c FROM samp GROUP BY v),
    scum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM scnt),
    xcnt AS (SELECT v, count(*) AS c FROM vals GROUP BY v),
    xcum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cum FROM xcnt),
    stot AS (SELECT CAST(count(*) AS BIGINT) AS s FROM samp),
    xtot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
    qs AS (SELECT unnest([{q_list}]) AS q),
    t AS (
      SELECT CAST(q AS BIGINT) AS q_permille,
             (CAST(q AS BIGINT) * s + 999) // 1000 AS ts,
             (CAST(q AS BIGINT) * n + 999) // 1000 AS tx
      FROM qs CROSS JOIN stot CROSS JOIN xtot
    ),
    est AS (
      SELECT t.q_permille, min(sc.v) AS est_cents
      FROM t JOIN scum sc ON sc.cum >= t.ts GROUP BY t.q_permille
    ),
    ex AS (
      SELECT t.q_permille, min(xc.v) AS exact_cents
      FROM t JOIN xcum xc ON xc.cum >= t.tx GROUP BY t.q_permille
    )
    SELECT e.q_permille, stot.s AS sample_k,
           e.est_cents, x.exact_cents,
           abs(e.est_cents - x.exact_cents) * 1000 // x.exact_cents
             AS err_permille
    FROM est e JOIN ex x USING (q_permille) CROSS JOIN stot
    ORDER BY e.q_permille
    """


BK_QUANTILES_ORACLE = _bk_oracle()


@register(
    "l30_bottomk_quantiles",
    oracle=BK_QUANTILES_ORACLE,
    doc="L30 bottom-k quantile sketch: deterministic bottom-k-by-hash "
        "sample (mergeable semilattice, no RNG) read off at rank "
        "ceil(q*s/1000) vs the exact rank-statistic — p25/p50/p75/"
        "p90/p99 of extendedprice with integer permille error; the "
        "sample arm is one TakeOrderedAndProject, no data shuffle",
)
def l30_bottomk_quantiles(spark, sf_dir):
    return bottomk_quantile_gauge(load(spark, sf_dir, "lineitem"))


# --------------------------------------------------------------------------
# L31 blocked fuzzy join (round 13): record linkage / entity
# resolution — the dedup family's answer for NEAR-IDENTICAL SHORT
# KEYS (titles, names, URLs) where shingle/minhash machinery is
# overkill and edit distance is the right metric. The classic shape:
# BLOCK on a cheap deterministic key (4-char prefix + length band) so
# candidate generation is an equi-join, CAP block width (keep-lowest
# -id, the l2d device) so a degenerate block cannot go quadratic,
# then score only the capped candidates with levenshtein (identical
# classic edit distance in both engines, verified: kitten/sitting=3).
#
# Scale shape: one shuffle on the block key; the edit-distance
# O(len^2) inner loop runs ONLY on capped candidate pairs (bounded
# cap*(cap-1)/2 per block), never all-pairs; keys are fixed-width
# prefixes so per-pair cost is a constant. At 100 TB you widen
# blocking (more prefix chars) before you widen the cap.
# --------------------------------------------------------------------------
_L31_KEYLEN = 24
_L31_BLK = 4
_L31_CAP = 64
_L31_MAXD = 4


def fuzzy_blocked_join(documents, keylen: int = _L31_KEYLEN,
                       blk: int = _L31_BLK, cap: int = _L31_CAP,
                       max_dist: int = _L31_MAXD):
    """(doc_a, doc_b, dist): capped blocked candidates with
    levenshtein(key_a, key_b) <= max_dist, ordered (doc_a, doc_b)."""
    from pyspark.sql import Window

    keyed = (documents.select(
        "doc_id", F.substring("text", 1, keylen).alias("k"))
        .withColumn("blk", F.concat(
            F.substring("k", 1, blk), F.lit("|"),
            F.length("k").cast("string"))))
    w = Window.partitionBy("blk").orderBy("doc_id")
    capped = (keyed.withColumn("rn", F.row_number().over(w))
              .filter(F.col("rn") <= cap).drop("rn"))
    a = capped.select("blk", F.col("doc_id").alias("doc_a"),
                      F.col("k").alias("ka"))
    b = capped.select("blk", F.col("doc_id").alias("doc_b"),
                      F.col("k").alias("kb"))
    return (a.join(b, "blk")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn("dist", F.levenshtein("ka", "kb"))
            .filter(F.col("dist") <= max_dist)
            .select("doc_a", "doc_b",
                    F.col("dist").cast("bigint").alias("dist"))
            .orderBy("doc_a", "doc_b"))


def _l31_oracle(keylen: int = _L31_KEYLEN, blk: int = _L31_BLK,
                cap: int = _L31_CAP, max_dist: int = _L31_MAXD) -> str:
    return f"""
    WITH keyed AS (
      SELECT doc_id, substr(text, 1, {keylen}) AS k,
             substr(text, 1, {blk}) || '|'
               || CAST(length(substr(text, 1, {keylen})) AS VARCHAR)
               AS blk
      FROM documents
    ),
    capped AS (
      SELECT blk, doc_id, k FROM (
        SELECT blk, doc_id, k,
               row_number() OVER (PARTITION BY blk
                                  ORDER BY doc_id) AS rn
        FROM keyed) WHERE rn <= {cap}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
    FROM capped a JOIN capped b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.k, b.k) <= {max_dist}
    ORDER BY doc_a, doc_b
    """


L31_FUZZY_ORACLE = _l31_oracle()


@register(
    "l31_fuzzy_blocked_join",
    oracle=L31_FUZZY_ORACLE,
    doc="L31 blocked fuzzy join (record linkage): 4-char-prefix + "
        "length-band blocking, keep-lowest-id width cap, levenshtein "
        "<= 4 on fixed-width key prefixes — edit-distance candidate "
        "pairs without all-pairs, one block-key shuffle",
)
def l31_fuzzy_blocked_join(spark, sf_dir):
    return fuzzy_blocked_join(load(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# G4 label-propagation communities (round 12): the fourth graph kernel
# (CC finds connectivity, g2 ranks, g3 counts closure, g4 finds
# COMMUNITY structure — the retrieval/dedup partitioner that groups
# documents/parts by dense co-occurrence). Classic async LPA is
# RNG-tie-broken and order-dependent; this is the deterministic
# synchronous form the cross-engine contract needs: a FIXED number of
# unrolled rounds (the g2 device), each node simultaneously adopting
# the most frequent label among its neighbors, ties to the SMALLEST
# label (argmax via (count, -label) struct max == the oracle's
# row_number ORDER BY c DESC, lab ASC). Scale: per round one
# dst-keyed count aggregate + one node-keyed argmax — two partial-
# combining hash aggs on the same key spine, no driver collect; the
# undirected edge frame is persisted once and reused by every round
# (3 rounds -> 3 plan references).
# --------------------------------------------------------------------------
_G4_ROUNDS = 3


def _g4_rounds_sql() -> str:
    """The shared l0 -> c{r}/l{r} LPA round chain (assumes `edges` is
    in scope) — ONE textual definition embedded by both the g4
    communities oracle and the g4b convergence oracle (the l15
    no-drift device)."""
    rounds = []
    prev = "l0"
    for r in range(1, _G4_ROUNDS + 1):
        rounds.append(f"""c{r} AS (
      SELECT u.dst AS node, l.lab, count(*) AS c
      FROM und u JOIN {prev} l ON l.node = u.src
      GROUP BY u.dst, l.lab),
    l{r} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lab ASC) AS rn
        FROM c{r}) WHERE rn = 1)""")
        prev = f"l{r}"
    chain = ",\n    ".join(rounds)
    return f"""und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    l0 AS (SELECT v AS node, v AS lab FROM (
             SELECT a AS v FROM edges
             UNION SELECT b FROM edges)),
    {chain}"""


def _g4_oracle() -> str:
    return f"""
    WITH {_g3_edges_sql()},
    {_g4_rounds_sql()}
    SELECT CAST(lab AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM l{_G4_ROUNDS} GROUP BY lab
    ORDER BY n_members DESC, community ASC
    """


@register(
    "g4_label_propagation",
    oracle=_g4_oracle(),
    doc="G4 deterministic synchronous label propagation over the "
        "sampled co-purchase graph: 3 unrolled rounds, most-frequent "
        "neighbor label with smallest-label tie-break, community "
        "sizes — the RNG-free cross-engine form of LPA",
)
def g4_label_propagation(spark, sf_dir):
    from bioio_spark.functions.dedup import (MAX_BUCKET_WIDTH,
                                             _bucket_pairs)
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.session import hold

    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    oh = h32_col(F.concat(F.lit("g3o:"),
                          F.col("l_orderkey").cast("string")))
    li = li.filter(oh % 4 == 0)
    pairs = (_bucket_pairs(li, ["l_orderkey"], "l_partkey",
                           max_width=MAX_BUCKET_WIDTH)
             .filter(F.col("doc_a") != F.col("doc_b"))
             .select(F.col("doc_a").alias("a"),
                     F.col("doc_b").alias("b"))
             .distinct())
    h = h32_col(F.concat(F.col("a").cast("string"), F.lit(":"),
                         F.col("b").cast("string")))
    edges = pairs.filter(h % _G3_SAMPLE_MOD == 0)
    held = hold(spark, "g4")
    und = (edges.select(F.col("a").alias("src"),
                        F.col("b").alias("dst"))
           .unionAll(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst")))
           .persist())
    held.append(und)
    labels = (edges.select(F.col("a").alias("v"))
              .union(edges.select(F.col("b").alias("v")))
              .distinct()
              .select(F.col("v").alias("node"), F.col("v").alias("lab")))
    for _r in range(_G4_ROUNDS):
        cnt = (und.join(labels.select(F.col("node").alias("src"),
                                      "lab"), "src")
               .groupBy(F.col("dst").alias("node"), "lab")
               .agg(F.count(F.lit(1)).alias("c")))
        labels = (cnt.groupBy("node")
                  .agg(F.max(F.struct(F.col("c"),
                                      (-F.col("lab")).alias("nl")))
                       .alias("m"))
                  .select("node", (-F.col("m.nl")).alias("lab")))
    return (labels.groupBy(F.col("lab").cast("bigint")
                           .alias("community"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
            .orderBy(F.col("n_members").desc(),
                     F.col("community").asc()))


def _g4b_oracle() -> str:
    diffs = " UNION ALL ".join(
        f"""SELECT {r} AS round,
           sum(CASE WHEN n.lab != p.lab THEN 1 ELSE 0 END) AS n_changed,
           count(*) AS n_nodes
        FROM l{r} n JOIN l{r - 1} p USING (node)"""
        for r in range(1, _G4_ROUNDS + 1))
    return f"""
    WITH {_g3_edges_sql()},
    {_g4_rounds_sql()}
    SELECT CAST(round AS BIGINT) AS round,
           CAST(n_changed AS BIGINT) AS n_changed,
           CAST(n_nodes AS BIGINT) AS n_nodes
    FROM ({diffs}) ORDER BY round
    """


@register(
    "g4b_lpa_convergence",
    oracle=_g4b_oracle(),
    doc="G4b LPA convergence gauge (the l6 fused-count device applied "
        "to g4): per unrolled round, how many nodes CHANGED label — "
        "pins whether the 3-round community structure has reached its "
        "fixed point or records the honest non-convergence number; "
        "n_changed = 0 in a round proves every later round is a no-op",
)
def g4b_lpa_convergence(spark, sf_dir):
    from functools import reduce

    from bioio_spark.functions.dedup import (MAX_BUCKET_WIDTH,
                                             _bucket_pairs)
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.session import hold

    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    oh = h32_col(F.concat(F.lit("g3o:"),
                          F.col("l_orderkey").cast("string")))
    li = li.filter(oh % 4 == 0)
    pairs = (_bucket_pairs(li, ["l_orderkey"], "l_partkey",
                           max_width=MAX_BUCKET_WIDTH)
             .filter(F.col("doc_a") != F.col("doc_b"))
             .select(F.col("doc_a").alias("a"),
                     F.col("doc_b").alias("b"))
             .distinct())
    h = h32_col(F.concat(F.col("a").cast("string"), F.lit(":"),
                         F.col("b").cast("string")))
    edges = pairs.filter(h % _G3_SAMPLE_MOD == 0)
    held = hold(spark, "g4b")
    # r14 (the g5 peel's two devices): the edge spine is
    # localCheckpoint-ed so the LSH pair-generation subtree appears in
    # NO round's plan, and the per-round diff aggregates are fused into
    # one tagged union + groupBy(round) pass (map-side partial agg)
    # instead of three one-row aggregates union-ed at the top.
    und = (edges.select(F.col("a").alias("src"),
                        F.col("b").alias("dst"))
           .unionAll(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst")))
           .localCheckpoint(eager=False))
    # every round's label frame is consumed TWICE (next round's input +
    # its own diff count), so each is persisted — without this the
    # round-3 diff would recompute the whole round-1/2 chain
    labels = (und.select(F.col("src").alias("v"))
              .distinct()
              .select(F.col("v").alias("node"), F.col("v").alias("lab"))
              .persist())
    held.append(labels)
    diffs = []
    for r in range(1, _G4_ROUNDS + 1):
        cnt = (und.join(labels.select(F.col("node").alias("src"),
                                      "lab"), "src")
               .groupBy(F.col("dst").alias("node"), "lab")
               .agg(F.count(F.lit(1)).alias("c")))
        new = (cnt.groupBy("node")
               .agg(F.max(F.struct(F.col("c"),
                                   (-F.col("lab")).alias("nl")))
                    .alias("m"))
               .select("node", (-F.col("m.nl")).alias("lab"))
               .persist())
        held.append(new)
        diffs.append(
            new.join(labels.select("node",
                                   F.col("lab").alias("prev_lab")),
                     "node")
            .select(F.lit(r).cast("bigint").alias("round"),
                    (F.col("lab") != F.col("prev_lab"))
                    .cast("int").alias("chg")))
        labels = new
    # left-join against the static rounds frame so a round whose diff
    # join is empty (fully degenerate graph) still emits its row with
    # the oracle's empty-aggregate values: n_changed NULL, n_nodes 0.
    rounds = spark.range(1, _G4_ROUNDS + 1).select(
        F.col("id").cast("bigint").alias("round"))
    agg = (reduce(lambda a, b: a.unionAll(b), diffs)
           .groupBy("round")
           .agg(F.sum("chg").cast("bigint").alias("n_changed"),
                F.count(F.lit(1)).cast("bigint").alias("n_nodes")))
    return (rounds.join(agg, "round", "left")
            .select("round", "n_changed",
                    F.coalesce("n_nodes", F.lit(0)).cast("bigint")
                    .alias("n_nodes"))
            .orderBy("round"))


# --------------------------------------------------------------------------
# G5 k-core peeling (round 13): the fifth graph kernel — the density
# filter a co-occurrence pipeline runs before community detection
# (drop nodes that cannot sit in a dense region; Matula & Beck 1983's
# peeling, driver-unrolled like g2/g4). Each round removes every node
# with degree < K from the undirected graph and keeps only edges whose
# BOTH endpoints survive; iterated to a fixed point this is exactly
# the K-core, and the per-round (n_nodes, n_edges) trajectory makes
# convergence visible the same way g4b does for LPA (a stable tail
# row proves later rounds are no-ops). Scale: per round one degree
# hash agg + two semi-joins on the persisted survivor frame — all
# partial-combining on the node key spine, no driver collect.
# --------------------------------------------------------------------------
_G5_K = 3
_G5_ROUNDS = 3


def _g5_oracle() -> str:
    chain = []
    stats = []
    prev = "und0"
    for r in range(1, _G5_ROUNDS + 1):
        chain.append(f"""deg{r} AS (
      SELECT src, count(*) AS d FROM {prev} GROUP BY src),
    keep{r} AS (SELECT src AS node FROM deg{r} WHERE d >= {_G5_K}),
    und{r} AS (
      SELECT u.src, u.dst FROM {prev} u
      JOIN keep{r} ka ON u.src = ka.node
      JOIN keep{r} kb ON u.dst = kb.node)""")
        stats.append(
            f"SELECT {r} AS round,"
            f" (SELECT count(*) FROM keep{r}) AS n_nodes,"
            f" (SELECT count(*) // 2 FROM und{r}) AS n_edges")
        prev = f"und{r}"
    body = ",\n    ".join(chain)
    sel = " UNION ALL ".join(stats)
    return f"""
    WITH {_g3_edges_sql()},
    und0 AS (SELECT a AS src, b AS dst FROM edges
             UNION ALL SELECT b, a FROM edges),
    {body}
    SELECT CAST(round AS BIGINT) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM ({sel}) ORDER BY round
    """


@register(
    "g5_kcore_peel",
    oracle=_g5_oracle(),
    doc="G5 k-core peeling (K=3, 3 unrolled rounds) over the sampled "
        "co-purchase graph: per round drop nodes with degree < K and "
        "edges missing a surviving endpoint; (round, n_nodes, n_edges) "
        "trajectory — the density filter before community detection, "
        "with convergence visible in the tail rows",
)
def g5_kcore_peel(spark, sf_dir):
    from functools import reduce

    from bioio_spark.functions.dedup import (MAX_BUCKET_WIDTH,
                                             _bucket_pairs)
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.session import hold

    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    oh = h32_col(F.concat(F.lit("g3o:"),
                          F.col("l_orderkey").cast("string")))
    li = li.filter(oh % 4 == 0)
    pairs = (_bucket_pairs(li, ["l_orderkey"], "l_partkey",
                           max_width=MAX_BUCKET_WIDTH)
             .filter(F.col("doc_a") != F.col("doc_b"))
             .select(F.col("doc_a").alias("a"),
                     F.col("doc_b").alias("b"))
             .distinct())
    h = h32_col(F.concat(F.col("a").cast("string"), F.lit(":"),
                         F.col("b").cast("string")))
    edges = pairs.filter(h % _G3_SAMPLE_MOD == 0)
    held = hold(spark, "g5")
    # Lineage truncation (r14, the CC family's localCheckpoint device,
    # guide §3.3 "materialise an intermediate to truncate the plan"):
    # nxt_r's logical tree contains cur's THREE times (two join sides +
    # the stats branch), so the unrolled peel's plan grew ~3x per round
    # — explain("formatted") of the round-13 shape is 14 MB, and every
    # AQE re-optimization re-walks it. Checkpointing the spine (cur)
    # and each round's survivor edges caps the tree at one round's
    # shape; the peel's physical work is unchanged (the frames were
    # already persisted — a checkpoint is the same materialization
    # minus the lineage).
    cur = (edges.select(F.col("a").alias("src"),
                        F.col("b").alias("dst"))
           .unionAll(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst")))
           .localCheckpoint(eager=False))
    # Per-round trajectory counts fused into ONE aggregation (r14,
    # guide §2.4): the former shape — keep.agg(count) crossJoin
    # broadcast(nxt.agg(count)) per round — scheduled 6 single-row
    # aggregates plus 3 broadcast exchanges; tagging each persisted
    # survivor frame with (round, node_w, edge_w) and summing by round
    # is one partial-aggregated pass over the same InMemoryTableScans
    # (no payload rows shuffle — map-side partial agg emits one row
    # per task per round). The sentinel rows keep a fully-peeled
    # round's (0, 0) row present, as the oracle's scalar subqueries do.
    parts = [spark.range(1, _G5_ROUNDS + 1)
             .select(F.col("id").alias("round"),
                     F.lit(0).cast("long").alias("node_w"),
                     F.lit(0).cast("long").alias("edge_w"))]
    for r in range(1, _G5_ROUNDS + 1):
        keep = (cur.groupBy("src")
                .agg(F.count(F.lit(1)).alias("d"))
                .filter(F.col("d") >= _G5_K)
                .select(F.col("src").alias("node"))
                .persist())
        held.append(keep)
        nxt = (cur.join(keep.select(F.col("node").alias("src")), "src")
               .join(keep.select(F.col("node").alias("dst")), "dst")
               .localCheckpoint(eager=False))
        parts.append(keep.select(
            F.lit(r).cast("long").alias("round"),
            F.lit(1).cast("long").alias("node_w"),
            F.lit(0).cast("long").alias("edge_w")))
        parts.append(nxt.select(
            F.lit(r).cast("long").alias("round"),
            F.lit(0).cast("long").alias("node_w"),
            F.lit(1).cast("long").alias("edge_w")))
        cur = nxt
    return (reduce(lambda a, b: a.unionAll(b), parts)
            .groupBy("round")
            .agg(F.sum("node_w").cast("bigint").alias("n_nodes"),
                 F.floor(F.sum("edge_w") / 2)
                 .cast("bigint").alias("n_edges"))
            .select(F.col("round").cast("bigint").alias("round"),
                    "n_nodes", "n_edges")
            .orderBy("round"))


# --------------------------------------------------------------------------
# G6 common-neighbor link prediction (round 13): the graph family's
# INFERENCE kernel (CC connectivity, g2 rank, g3 closure, g4
# communities, g5 coreness — g6 predicts the edges that are not there
# yet). Classic common-neighbors scoring: for every non-adjacent pair
# (a, b), the number of shared neighbors is the link-likelihood
# signal (Liben-Nowell & Kleinberg 2003, the baseline every
# embedding-based predictor is measured against). Deterministic and
# integer-exact by construction — no RNG, no float.
#
# Scale shape: adjacency is CAPPED per node (keep-lowest-dst,
# row_number <= 128 — the same keep-lowest device as l2d/l31), so
# wedge enumeration is bounded by n * cap^2 regardless of hub skew
# (the unoriented analog of g3's degree-orientation bound; orientation
# itself is NOT usable here because a common-neighbor count needs
# every wedge, not one representative per triangle). One shuffle to
# group wedges by (a, b), an anti-join against the existing edge set,
# TakeOrderedAndProject top-20.
# --------------------------------------------------------------------------
_G6_ADJ_CAP = 128
_G6_TOPK = 20


def _g6_oracle() -> str:
    return f"""
    WITH {_g3_edges_sql()},
    und AS (SELECT a AS src, b AS dst FROM edges
            UNION ALL SELECT b, a FROM edges),
    adj AS (
      SELECT src, dst FROM (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY dst) AS rn
        FROM und) WHERE rn <= {_G6_ADJ_CAP}
    ),
    wed AS (
      SELECT x.dst AS a, y.dst AS b
      FROM adj x JOIN adj y
        ON x.src = y.src AND x.dst < y.dst
    ),
    cn AS (
      SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
      FROM wed GROUP BY a, b
    )
    SELECT a, b, n_common FROM cn
    WHERE NOT EXISTS (SELECT 1 FROM edges e
                      WHERE e.a = cn.a AND e.b = cn.b)
    ORDER BY n_common DESC, a ASC, b ASC LIMIT {_G6_TOPK}
    """


G6_LINK_PREDICTION_ORACLE = _g6_oracle()


@register(
    "g6_link_prediction",
    oracle=G6_LINK_PREDICTION_ORACLE,
    doc="G6 common-neighbor link prediction: capped adjacency "
        "(keep-lowest-dst, bounds wedge work to n*cap^2 under hub "
        "skew), wedge grouping to count shared neighbors per "
        "non-adjacent pair, anti-join against existing edges, "
        "top-20 — the Liben-Nowell/Kleinberg baseline, integer-exact",
)
def g6_link_prediction(spark, sf_dir):
    from bioio_spark.functions.dedup import (MAX_BUCKET_WIDTH,
                                             _bucket_pairs)
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.session import hold

    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_partkey")
    oh = h32_col(F.concat(F.lit("g3o:"),
                          F.col("l_orderkey").cast("string")))
    li = li.filter(oh % 4 == 0)
    pairs = (_bucket_pairs(li, ["l_orderkey"], "l_partkey",
                           max_width=MAX_BUCKET_WIDTH)
             .filter(F.col("doc_a") != F.col("doc_b"))
             .select(F.col("doc_a").alias("a"),
                     F.col("doc_b").alias("b"))
             .distinct())
    h = h32_col(F.concat(F.col("a").cast("string"), F.lit(":"),
                         F.col("b").cast("string")))
    edges = pairs.filter(h % _G3_SAMPLE_MOD == 0).persist()
    hold(spark, "g6", edges)
    return common_neighbor_topk(edges)


def common_neighbor_topk(edges, cap: int = _G6_ADJ_CAP,
                         k: int = _G6_TOPK):
    """The g6 scoring core over an (a, b) a<b edge frame: capped
    adjacency -> wedge grouping -> anti-join -> top-k."""
    from pyspark.sql import Window

    und = (edges.select(F.col("a").alias("src"),
                        F.col("b").alias("dst"))
           .unionAll(edges.select(F.col("b").alias("src"),
                                  F.col("a").alias("dst"))))
    w = Window.partitionBy("src").orderBy("dst")
    adj = (und.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= cap).drop("rn"))
    x = adj.select("src", F.col("dst").alias("a"))
    y = adj.select("src", F.col("dst").alias("b"))
    cn = (x.join(y, "src")
          .filter(F.col("a") < F.col("b"))
          .groupBy("a", "b")
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_common")))
    return (cn.join(edges, ["a", "b"], "left_anti")
            .orderBy(F.col("n_common").desc(), F.col("a").asc(),
                     F.col("b").asc())
            .limit(k))


# --------------------------------------------------------------------------
# L28 DSIR-shaped importance weights (round 13): data selection for LM
# pretraining (Xie et al. 2023) — score every candidate document by how
# much its hashed-feature profile looks like a TARGET distribution
# relative to the full SOURCE corpus, then keep the top scorers. The
# published form uses a log-likelihood ratio; the cross-engine contract
# here uses the integer fixed-point ratio w_b = floor((t_b + 1) * 2^20
# / (s_b + 1)) per hashed token bucket (add-one smoothing), which is
# order-equivalent per bucket and hash-exact across engines (no libm).
# Documents are ranked by the per-token MEAN weight (integer floor of
# score / n_tokens), not the raw sum — the sum rewards length, the mean
# rewards target-likeness (measured at sf0.01: mean ranking picks 13/20
# target-language docs vs 9/20 for the sum, against a 43.6% base rate).
# Scale: one token explode (the l4 shape) persisted and consumed three
# times, two 1024-cell bounded aggregates, one broadcast weight join,
# one doc-keyed partial-combining sum, TakeOrderedAndProject top-20.
# --------------------------------------------------------------------------
_L28_BUCKETS = 1024
_L28_SCALE = 1 << 20
_L28_TARGET_LANG = "en"
_L28_TOP = 20


def _l28_oracle() -> str:
    h = _h32_sql("'dsir:' || tok")
    return f"""
    WITH toks AS (
      SELECT doc_id, lang,
             CAST({h} % {_L28_BUCKETS} AS INT) AS b
      FROM (SELECT doc_id, lang,
                   unnest(regexp_split_to_array(trim(text), '\\s+'))
                     AS tok
            FROM documents)),
    src AS (SELECT b, count(*) AS s FROM toks GROUP BY b),
    tgt AS (SELECT b, count(*) AS t FROM toks
            WHERE lang = '{_L28_TARGET_LANG}' GROUP BY b),
    w AS (
      SELECT src.b,
             CAST((COALESCE(tgt.t, 0) + 1) * {_L28_SCALE}
                  // (src.s + 1) AS BIGINT) AS w
      FROM src LEFT JOIN tgt USING (b)),
    scored AS (
      SELECT toks.doc_id,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w.w) // count(*) AS BIGINT) AS mean_w
      FROM toks JOIN w USING (b)
      GROUP BY toks.doc_id)
    SELECT doc_id, n_tokens, mean_w FROM scored
    ORDER BY mean_w DESC, doc_id ASC LIMIT {_L28_TOP}
    """


@register(
    "l28_dsir_weights",
    oracle=_l28_oracle(),
    doc="L28 DSIR-shaped importance weights (Xie et al. 2023): hashed "
        "token buckets, integer fixed-point target/source ratio with "
        "add-one smoothing, per-document score sum, top-20 selection "
        "— the data-selection pass of an LM pretraining pipeline, "
        "libm-free so both engines hash-match",
)
def l28_dsir_weights(spark, sf_dir):
    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.session import hold

    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id", "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .select("doc_id", "lang",
                (h32_col(F.concat(F.lit("dsir:"), F.col("tok")))
                 % _L28_BUCKETS).cast("int").alias("b"))
        .persist())
    hold(spark, "l28", toks)
    src = toks.groupBy("b").agg(F.count(F.lit(1)).alias("s"))
    tgt = (toks.filter(F.col("lang") == _L28_TARGET_LANG)
           .groupBy("b").agg(F.count(F.lit(1)).alias("t")))
    w = (src.join(tgt, "b", "left")
         .select("b", F.expr(
             f"CAST((coalesce(t, 0) + 1) * {_L28_SCALE}"
             f" div (s + 1) AS BIGINT)").alias("w")))
    return (toks.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
                 F.expr("CAST(sum(w) div count(1) AS BIGINT)")
                 .alias("mean_w"))
            .orderBy(F.col("mean_w").desc(), F.col("doc_id").asc())
            .limit(_L28_TOP))


# --------------------------------------------------------------------------
# L29 composed RAG retrieval (round 13): the end-to-end shape a
# retrieval-augmented pipeline actually runs — l17's chunker, l16's
# feature-hash embeddings (Weinberger et al. 2009) at CHUNK
# granularity, and a per-query top-k — composed into ONE plan. Scoring
# is the raw integer inner product (the hashing trick preserves inner
# products in expectation; chunks are fixed-width so length bias is
# constant, and integers keep both engines hash-exact — no cosine
# float anywhere). Chunk vectors stay SPARSE (one row per non-zero
# bucket, <= dim per chunk); query vectors densify into a broadcast
# array frame, so the dot is one narrow crossJoin-with-tiny projection
# + a (query, chunk) partial-combining sum — no |chunks| x |queries|
# shuffle. Top-k per query reuses the l3g salted two-phase device
# (salt-invariant under the deterministic total order, so the oracle
# mirrors the plain single-window form).
# --------------------------------------------------------------------------
_L29_QUERY_DOCS = (3, 7, 11)
_L29_K = 5


def _l29_oracle() -> str:
    from bioio_spark.functions.text import (CHUNK_STRIDE, CHUNK_WINDOW,
                                            HASH_EMBED_DIM)
    W, S, dim = int(CHUNK_WINDOW), int(CHUNK_STRIDE), int(HASH_EMBED_DIM)
    qids = ", ".join(str(int(i)) for i in _L29_QUERY_DOCS)
    h = _h32_sql("word")
    sign = f"CASE WHEN {h} % {2 * dim} >= {dim} THEN -1 ELSE 1 END"
    return rf"""
    WITH w AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      FROM documents),
    meta AS (
      SELECT doc_id, ws, len(ws) AS n,
             CASE WHEN len(ws) <= {W} THEN 1
                  ELSE 1 + (len(ws) - {W} + {S} - 1) // {S} END AS nc
      FROM w),
    ex AS (
      SELECT doc_id, ws, n,
             unnest(list_transform(range(0, nc),
                 k -> struct_pack(
                     ci := k,
                     st := least(k * {S}, greatest(n - {W}, 0))))) AS c
      FROM meta),
    occ AS (
      SELECT doc_id, c.ci AS chunk_idx,
             unnest(list_slice(ws, c.st + 1,
                               c.st + least({W}, n - c.st))) AS word
      FROM ex),
    cells AS (
      SELECT doc_id, chunk_idx, {h} % {dim} AS b,
             sum({sign}) AS v
      FROM occ GROUP BY doc_id, chunk_idx, {h} % {dim}),
    qocc AS (
      SELECT doc_id AS qid, unnest(ws) AS word FROM w
      WHERE doc_id IN ({qids})),
    qcells AS (
      SELECT qid, {h} % {dim} AS b, sum({sign}) AS qv
      FROM qocc GROUP BY qid, {h} % {dim}),
    scored AS (
      SELECT q.qid, c.doc_id, c.chunk_idx,
             sum(c.v * coalesce(qc.qv, 0)) AS score
      FROM cells c
      CROSS JOIN (SELECT DISTINCT qid FROM qcells) q
      LEFT JOIN qcells qc ON qc.qid = q.qid AND qc.b = c.b
      WHERE c.doc_id != q.qid
      GROUP BY q.qid, c.doc_id, c.chunk_idx),
    ranked AS (
      SELECT qid, doc_id, chunk_idx, score,
             row_number() OVER (
               PARTITION BY qid
               ORDER BY score DESC, doc_id, chunk_idx) AS rn
      FROM scored)
    SELECT CAST(qid AS BIGINT) AS query_doc_id,
           CAST(rn AS BIGINT) AS rank,
           CAST(doc_id AS BIGINT) AS doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(score AS BIGINT) AS score
    FROM ranked WHERE rn <= {_L29_K}
    ORDER BY query_doc_id, rank
    """


@register(
    "l29_rag_retrieval",
    oracle=_l29_oracle(),
    doc="L29 composed RAG retrieval: l17 chunking + l16 feature-hash "
        "embeddings at chunk granularity + integer-inner-product "
        "per-query top-k in one plan — sparse chunk cells, broadcast "
        "dense query vectors, salted two-phase ranking",
)
def l29_rag_retrieval(spark, sf_dir):
    from pyspark.sql import Window

    from bioio_spark.functions.hashing import h32_col
    from bioio_spark.functions.text import (CHUNK_STRIDE, CHUNK_WINDOW,
                                            HASH_EMBED_DIM, _words)

    W, S, dim = int(CHUNK_WINDOW), int(CHUNK_STRIDE), int(HASH_EMBED_DIM)
    qids = [int(i) for i in _L29_QUERY_DOCS]
    k = _L29_K

    base = (load(spark, sf_dir, "documents")
            .select("doc_id", _words(F.col("text")).alias("ws")))
    n = F.size("ws")
    nc = F.when(n <= W, F.lit(1)).otherwise(
        F.expr(f"1 + (size(ws) - {W} + {S} - 1) DIV {S}"))
    chunks = F.transform(
        F.sequence(F.lit(0), nc.cast("int") - 1),
        lambda kk: F.struct(
            kk.cast("int").alias("ci"),
            F.least(kk * S, F.greatest(n - W, F.lit(0)))
            .cast("int").alias("st")))
    ex = (base.select("doc_id", "ws", F.explode(chunks).alias("c"))
          .select("doc_id",
                  F.col("c")["ci"].alias("chunk_idx"),
                  F.slice("ws", F.col("c")["st"] + 1,
                          F.least(F.lit(W),
                                  F.size("ws") - F.col("c")["st"]))
                  .alias("cw")))
    occ = ex.select("doc_id", "chunk_idx",
                    F.explode("cw").alias("word"))
    h = h32_col(F.col("word"))
    sign = F.when((h % (2 * dim)) >= dim, F.lit(-1)).otherwise(F.lit(1))
    cells = (occ.select("doc_id", "chunk_idx",
                        (h % dim).cast("int").alias("b"),
                        sign.alias("s"))
             .groupBy("doc_id", "chunk_idx", "b")
             .agg(F.sum("s").alias("v")))

    qocc = (base.filter(F.col("doc_id").isin(qids))
            .select(F.col("doc_id").alias("qid"),
                    F.explode("ws").alias("word")))
    qh = h32_col(F.col("word"))
    qsign = F.when((qh % (2 * dim)) >= dim,
                   F.lit(-1)).otherwise(F.lit(1))
    qvec = (qocc.select("qid", (qh % dim).cast("int").alias("b"),
                        qsign.alias("s"))
            .groupBy("qid", "b").agg(F.sum("s").alias("qv"))
            .groupBy("qid")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("b", "qv"))).alias("m"))
            .select("qid", F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda j: F.coalesce(
                    F.element_at("m", j.cast("int")), F.lit(0)))
                .alias("qe")))

    scored = (cells.crossJoin(F.broadcast(qvec))
              .filter(F.col("doc_id") != F.col("qid"))
              .select("qid", "doc_id", "chunk_idx",
                      (F.col("v")
                       * F.element_at("qe", F.col("b") + 1)).alias("t"))
              .groupBy("qid", "doc_id", "chunk_idx")
              .agg(F.sum("t").alias("score")))
    salt = F.crc32(F.concat(F.col("doc_id").cast("string"), F.lit(":"),
                            F.col("chunk_idx").cast("string"))) % 8
    local = (scored.withColumn("salt", salt)
             .withColumn("lrn", F.row_number().over(
                 Window.partitionBy("qid", "salt")
                 .orderBy(F.col("score").desc(), "doc_id",
                          "chunk_idx")))
             .filter(F.col("lrn") <= k).drop("salt", "lrn"))
    return (local.withColumn("rank", F.row_number().over(
        Window.partitionBy("qid")
        .orderBy(F.col("score").desc(), "doc_id", "chunk_idx"))
        .cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(F.col("qid").cast("bigint").alias("query_doc_id"),
                "rank",
                F.col("doc_id").cast("bigint").alias("doc_id"),
                F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
                F.col("score").cast("bigint").alias("score"))
        .orderBy("query_doc_id", "rank"))
