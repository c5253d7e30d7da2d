"""Seeded-random reference tests for the round-9 text operators: each
Spark result is replayed against an independent pure-Python
implementation over ~100 random documents (one Spark job per property,
deterministic rng — the codec-tier property-test discipline applied to
the LLM tier)."""
import hashlib

import numpy as np


def _rand_docs(n_docs=100, seed=29):
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(n_docs):
        n = int(rng.integers(1, 200))
        words = [vocab[int(i)] for i in rng.integers(0, len(vocab), n)]
        rows.append((d, " ".join(words)))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_doc_chunks_matches_python_reference(spark):
    from bioio_spark.functions.text import (CHUNK_STRIDE, CHUNK_WINDOW,
                                            doc_chunks)

    rows = _rand_docs()
    got = [(r["doc_id"], r["chunk_idx"], r["start_tok"],
            r["chunk_len"], r["chunk_md5"])
           for r in doc_chunks(_df(spark, rows)).collect()]

    W, S = CHUNK_WINDOW, CHUNK_STRIDE
    want = []
    for d, text in rows:
        ws = text.split()
        n = len(ws)
        nc = 1 if n <= W else 1 + -(-(n - W) // S)
        for k in range(nc):
            st = min(k * S, max(n - W, 0))
            chunk = ws[st:st + min(W, n - st)]
            want.append((d, k, st, len(chunk),
                         hashlib.md5(" ".join(chunk).encode()).hexdigest()))
    assert got == sorted(want)


def _h32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_bigram_surprisal_matches_python_reference(spark):
    from bioio_spark.functions.text import (BIGRAM_KEEP_MILLI,
                                            bigram_surprisal)

    rows = _rand_docs(seed=31)
    got = [tuple(r) for r in
           bigram_surprisal(_df(spark, rows)).collect()]

    from collections import Counter
    pair, prev = Counter(), Counter()
    bgs = {}
    for d, text in rows:
        ws = text.split()
        bg = list(zip(ws, ws[1:]))
        if not bg:
            continue
        bgs[d] = bg
        for p in bg:
            pair[p] += 1
            prev[p[0]] += 1
    want = []
    for d in sorted(bgs):
        bits = sum(prev[p[0]].bit_length() - pair[p].bit_length()
                   for p in bgs[d])
        n = len(bgs[d])
        want.append((d, n, bits,
                     int(bits * 1000 <= BIGRAM_KEEP_MILLI * n)))
    assert got == want


def test_hashed_embeddings_match_python_reference(spark):
    from bioio_spark.functions.text import (HASH_EMBED_DIM,
                                            hashed_embeddings)

    rows = _rand_docs(seed=37)
    got = {}
    for r in hashed_embeddings(_df(spark, rows)).collect():
        got.setdefault(r["doc_id"], [0] * HASH_EMBED_DIM)[
            r["dim_idx"]] = r["component"]

    dim = HASH_EMBED_DIM
    for d, text in rows:
        vec = [0] * dim
        for w in text.split():
            h = _h32(w)
            vec[h % dim] += -1 if h % (2 * dim) >= dim else 1
        assert got[d] == vec, d


def test_hll_registers_merge_exactly(spark, sf_dir):
    """l24's scale claim IS mergeability: registers built per SOURCE
    shard and merged by per-bucket max must equal the registers built
    over the whole corpus in one pass — max is associative and
    commutative, so the sketch is layout-independent by construction,
    and this pins that the implementation kept that property."""
    from pyspark.sql import functions as F

    from bioio_spark.queries.base import load
    from bioio_spark.queries.llm import _hll_registers

    docs = load(spark, sf_dir, "documents")
    whole = {(r["bucket"], r["mj"])
             for r in _hll_registers(docs).collect()}
    sources = [r["source"] for r in
               docs.select("source").distinct().collect()]
    partials = []
    for s in sources:
        partials.append(_hll_registers(
            docs.filter(F.col("source") == s)))
    merged = {}
    for p in partials:
        for r in p.collect():
            b = r["bucket"]
            merged[b] = max(merged.get(b, 0), r["mj"])
    assert set(merged.items()) == whole


def test_l28_dsir_mean_ranking_selects_target_language(spark):
    """l28: the per-token mean importance weight must produce a real
    selection LIFT toward the target language — at sf0.01 the top-20
    contains 13 'en' docs against a 43.6% (218/500) base rate (9/20
    under the length-biased raw-sum ranking this op deliberately
    avoids). Pinned exactly: the ranking is integer-deterministic."""
    from pyspark.sql import functions as F

    from bioio_spark.queries import REGISTRY
    from bioio_spark.queries.base import load

    top = REGISTRY["l28_dsir_weights"].fn(spark, "/root/testdata/sf0.01")
    docs = load(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "lang")
    n_en = (top.join(docs, "doc_id")
            .filter(F.col("lang") == "en").count())
    assert n_en == 13


def test_l28_weights_favor_target_exclusive_tokens(spark):
    """Designed corpus: tokens that appear ONLY in target-language docs
    get weight ~2^20 * (t+1)/(t+1) ... > 2^19, tokens only outside the
    target get the minimum smoothing weight — so a doc written purely
    in target vocabulary must outrank a doc of off-target vocabulary,
    regardless of length."""
    from bioio_spark.queries import REGISTRY
    from bioio_spark.session import hold  # noqa: F401

    spark.createDataFrame(
        [(1, "alpha alpha beta", "en", "s", 16),
         (2, "alpha beta gamma", "en", "s", 16),
         (3, "delta epsilon zeta", "fr", "s", 18),
         (4, "delta zeta zeta delta", "fr", "s", 21),
         (5, "alpha beta", "fr", "s", 10),       # en-vocab doc, fr label
         ],
        "doc_id long, text string, lang string, source string, "
        "n_chars int").write.mode("overwrite").parquet(
        "/tmp/l28_designed/documents.parquet")
    out = {r["doc_id"]: r["mean_w"] for r in
           REGISTRY["l28_dsir_weights"].fn(
               spark, "/tmp/l28_designed").collect()}
    # docs built from en-exclusive vocabulary outrank fr-exclusive ones
    assert min(out[1], out[2], out[5]) > max(out[3], out[4])
