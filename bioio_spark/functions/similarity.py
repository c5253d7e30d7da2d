"""L3 similarity search over the embeddings table (SURVEY §2.8).

- cosine_topk: brute-force cosine against one query vector. Scale: a single
  narrow scan + broadcast of the (1-row) query, per-partition top-k heaps via
  TakeOrderedAndProject — the baseline every ANN variant is checked against.
- lsh_near_duplicates: random-hyperplane (here: coordinate-plane sign bits)
  bucketing, pairs generated only within buckets — the scale path: the
  self-join shuffles on the bucket key instead of exploding n^2 pairs.

Dot products use higher-order functions (zip_with + aggregate) on
double-cast elements — JVM-side, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioio_spark import session

N_SIGN_BITS = 8


def _to_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_topk(embeddings: DataFrame, query_vec_id: int = 0,
                k: int = 10) -> DataFrame:
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    q = (emb.filter(F.col("vec_id") == query_vec_id)
         .select(F.col("e").alias("q")))
    sim = _dot(F.col("e"), F.col("q")) / (_norm(F.col("e"))
                                          * _norm(F.col("q")))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


COSINE_TOPK_ORACLE = """
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
q AS (SELECT e AS q FROM e WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       list_dot_product(e.e, q.q)
         / (sqrt(list_dot_product(e.e, e.e))
            * sqrt(list_dot_product(q.q, q.q))) AS cosine_sim
FROM e, q
WHERE e.vec_id != 0
ORDER BY cosine_sim DESC, e.vec_id LIMIT 10
"""


N_CENTROIDS = 8
N_PROBE = 2
# Centroid training reads only the deterministic hash-sample
# vec_id % IVF_SAMPLE_MOD == 0 (the l6b sampling pattern): at 100 TB the
# Lloyd aggregation must not scan the full corpus — a fixed-rate key-hash
# sample trains statistically equivalent centroids from a pushed-down
# filtered scan, and stays exactly reproducible in the DuckDB oracle.
IVF_SAMPLE_MOD = 4
# fixed-point quantization scale for the k-means mean: element sums are
# integers, so the reduction is exact and ORDER-INDEPENDENT — the same
# centroid bits fall out of any partitioning, any engine (a raw double sum
# would vary with Spark's partition-dependent reduction order and could
# never hash-match DuckDB)
_KMEANS_SCALE = float(1 << 20)

# Hard per-cluster pairing width for SemDeDup: a cluster wider than this
# pairs only its MAX_CLUSTER_WIDTH lowest vec_ids (deterministic,
# oracle-mirrored — the l2d MAX_BUCKET_WIDTH pattern, functions/dedup.py).
# A degenerate cluster (all-zero or templated embeddings) otherwise makes
# one task O(n^2); with the cap the worst task is O(cap^2) pairs and
# every vector beyond the cap is kept verbatim (no lower-id pairing
# partner ever sees it). n_centroids growing with the corpus keeps real
# clusters far below this; the cap is the adversarial-input backstop.
MAX_CLUSTER_WIDTH = 256


def _norm_py(a):
    # sequential fold, same accumulation order as F.aggregate/DuckDB
    na = 0.0
    for x in a:
        na += x * x
    return na ** 0.5


def _cos_py(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    return dot / (_norm_py(a) * _norm_py(b))


def _lit_double_array(vals) -> "F.Column":
    """array<double> literal built as ONE parsed expression (r13,
    guide §1.2 per-task work): `F.array(*[F.lit(v) ...])` costs one
    py4j round trip per element plus an n-node Catalyst subtree, which
    at dim 64 made PLAN CONSTRUCTION the dominant cost of the whole
    ANN query family (measured: ivf_adc_topk spent 5.4 s of a 6.2 s
    warm call building expressions, 0.8 s executing them). A single
    expr() string crosses py4j once and constant-folds to one
    Literal(array<double>). CAST('<repr>' AS DOUBLE) round-trips the
    IEEE-754 value exactly (repr is shortest-roundtrip; the JVM parse
    is correctly rounded), so the folded literal is bit-identical to
    the per-element F.lit path."""
    body = ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals)
    return F.expr(f"array({body})")


def _pair_sims_arrow(pairs: "DataFrame") -> "DataFrame":
    """(vec_id, sim) per joined pair, scored in one Arrow batch pass.

    Bit-exact twin of the HOF scoring `_dot(ea, eb) / (na * nb)` (r14,
    guide §4.2: hand whole batches to vectorized native code). The
    oracle pins a strict left-fold dot — ((0.0 + p1) + p2) + ... — so
    plain numpy `dot`/`sum` (pairwise summation) would reorder floats;
    instead the fold runs ACROSS PAIRS: `acc = acc + (a[:, j] * b[:, j])`
    steps j = 0..dim-1, each one IEEE-754 double multiply + add per
    pair in exactly the HOF's association order, vectorized over the
    ~250k-pair batch axis where order does not matter. The denominator
    multiplies before dividing, as the column expression does.

    Input columns (select exactly these before calling — mapInArrow is
    opaque to column pruning): vec_id long, ea/eb array<double> of one
    common fixed dim, na/nb double. Output: vec_id long, sim double.

    Why Arrow at all: the interpreted `aggregate(zip_with(...))` fold
    was l12's warm floor (~5 s over 250k pairs x 64 dims) and the
    unrolled-expression replacement measured 2x WORSE (r13); numpy does
    the same 16M flops in milliseconds, and only (vec_id, sim) rides
    back across the boundary.

    Degenerate inputs mirror the DUCKDB ORACLE (pinned by
    tests/test_embedding_dedup.py::
    test_pair_sims_arrow_degenerates_match_oracle): a ZERO denominator
    yields NULL — DuckDB double division by zero is NULL; raw IEEE NaN
    would pass Spark's NaN-is-largest `sim >= t` filter and wrongly
    drop zero-norm vectors, and the in-stage JVM division this
    replaced would RAISE DIVIDE_BY_ZERO under ANSI Spark 4 — and any
    null/ragged embedding pair yields NULL (zip_with null-pads,
    nulling the fold). Batches with nulls or ragged lists take a
    per-row fallback; the fixture-shaped fast path is pure vector
    code."""
    import numpy as np
    import pyarrow as pa

    def _fallback(rows_a, rows_b, na_l, nb_l):
        sims = []
        for va_, vb_, na_, nb_ in zip(rows_a, rows_b, na_l, nb_l):
            if va_ is None or vb_ is None or na_ is None \
                    or nb_ is None or len(va_) != len(vb_) \
                    or any(x is None for x in va_) \
                    or any(y is None for y in vb_):
                sims.append(None)
                continue
            acc = 0.0
            for x, y in zip(va_, vb_):
                acc = acc + (x * y)
            den = na_ * nb_
            sims.append(None if den == 0.0 else acc / den)
        return sims

    def score(batches):
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            ea, eb = rb.column("ea"), rb.column("eb")
            fa = ea.combine_chunks() if hasattr(ea, "combine_chunks") \
                else ea
            fb = eb.combine_chunks() if hasattr(eb, "combine_chunks") \
                else eb
            na_col, nb_col = rb.column("na"), rb.column("nb")
            lens_a = np.diff(fa.offsets.to_numpy())
            lens_b = np.diff(fb.offsets.to_numpy())
            clean = (fa.null_count == 0 and fb.null_count == 0
                     and na_col.null_count == 0
                     and nb_col.null_count == 0
                     and fa.flatten().null_count == 0
                     and fb.flatten().null_count == 0
                     and lens_a.size and lens_a.min() == lens_a.max()
                     and np.array_equal(lens_a, lens_b))
            if clean:
                va = fa.flatten().to_numpy(zero_copy_only=False)
                vb = fb.flatten().to_numpy(zero_copy_only=False)
                dim = va.shape[0] // n
                a2 = va.reshape(n, dim)
                b2 = vb.reshape(n, dim)
                acc = np.zeros(n, dtype=np.float64)
                for j in range(dim):
                    acc = acc + (a2[:, j] * b2[:, j])
                na = na_col.to_numpy(zero_copy_only=False)
                nb = nb_col.to_numpy(zero_copy_only=False)
                den = na * nb
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = acc / den
                out = pa.array(sim, pa.float64(), mask=(den == 0.0))
            else:
                out = pa.array(
                    _fallback(fa.to_pylist(), fb.to_pylist(),
                              na_col.to_pylist(), nb_col.to_pylist()),
                    pa.float64())
            yield pa.RecordBatch.from_arrays(
                [rb.column("vec_id"), out], ["vec_id", "sim"])

    return pairs.mapInArrow(score, "vec_id long, sim double")


# literal-side norms are constants: computed driver-side (identical
# fold order => identical bits) so the per-row expression carries one
# dot product per centroid, not a dot + two norm folds — roughly
# halves the codegen'd expression tree
def _cos_lit(vec):
    lit = _lit_double_array(vec)
    return _dot(F.col("e"), lit) / (F.col("ne") * F.lit(_norm_py(vec)))


# per-row argmax over centroids: greatest() on (cos, -cid) structs —
# lexicographic struct compare gives max-cos, ties to smallest cid;
# the row's own norm is hoisted into a column computed once
def _assigned(cents):
    return F.greatest(*[
        F.struct(_cos_lit(vec).alias("s"), F.lit(-cid).alias("n"))
        for cid, vec in sorted(cents.items())
    ])["n"] * -1


def _cents_frame(spark, cents: dict) -> DataFrame:
    """Centroids as a ONE-ROW broadcast frame (`_ix_cents` cid-indexed,
    `_ix_cnorms` their driver-side norms — the same _norm_py fold
    _cos_lit bakes into its literal) — the cents-only slice of
    _index_frame, for literal-free TRAINING passes (r13)."""
    cents_a = [[float(x) for x in vec]
               for _cid, vec in sorted(cents.items())]
    cnorms = [_norm_py(vec) for vec in cents_a]
    return spark.createDataFrame(
        [(cents_a, cnorms)],
        "_ix_cents array<array<double>>, _ix_cnorms array<double>")


def _books_frame(spark, books: dict, m_sub: int, ks: int) -> DataFrame:
    """{(m, code): [subdim]} codebooks as a ONE-ROW broadcast frame
    (`_ix_books` [m][code][subdim]) — the books-only slice of
    _index_frame, for literal-free codebook TRAINING passes (r13)."""
    books_a = [[[float(x) for x in books[(m, j)]] for j in range(ks)]
               for m in range(m_sub)]
    return spark.createDataFrame(
        [(books_a,)], "_ix_books array<array<array<double>>>")


def _hof_code(vec_col, m: int, subdim: int):
    """The higher-order-function twin of _pq_code over a joined
    _books_frame: slice subspace m of `vec_col`, argmin over the
    book's codes by the same (r - b)^2 left fold with a 0.0 seed
    (0.0 + x == x) and the same lexicographic (dist, code) struct
    compare — codes bit-identical to the literal least() path."""
    sub = F.slice(vec_col, m * subdim + 1, subdim)
    return F.array_min(F.transform(
        F.element_at(F.col("_ix_books"), m + 1),
        lambda cb, j: F.struct(
            F.aggregate(
                F.zip_with(sub, cb, lambda r, b: (r - b) * (r - b)),
                F.lit(0.0),
                lambda acc, v: acc + v).alias("d"),
            j.alias("c"))))["c"]


def _hof_assigned(n_cent: int):
    """The higher-order-function twin of _assigned over a joined
    _cents_frame/_index_frame: per-centroid struct(cos, -cid),
    array_max — same dot fold, same driver-computed norms, same
    lexicographic struct compare, so the winning cid is bit-identical
    to the literal greatest() path (the rpq_encode equivalence,
    reused for training). Requires `e`, `ne`, `_ix_cents`,
    `_ix_cnorms` columns in scope."""
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_cent - 1)),
        lambda i: F.struct(
            (_dot(F.col("e"), F.element_at(F.col("_ix_cents"), i + 1))
             / (F.col("ne")
                * F.element_at(F.col("_ix_cnorms"), i + 1))).alias("s"),
            (-i).alias("n")))
    return F.array_max(scored)["n"] * -1


def _ivf_memo(emb: DataFrame, cache_key, key: tuple, build):
    """session.memo in namespace "ivf" — the trained indexes, codebooks
    and persisted index frames; cache_key=None builds without storing."""
    return session.memo(emb.sparkSession, "ivf",
                        None if cache_key is None else key, build)


def _train_ivf(emb: DataFrame, n_centroids: int, sample_mod: int,
               cache_key=None) -> dict:
    """Build (and memoize) the IVF centroid index.

    Seeds are the first `n_centroids` vectors by vec_id (deterministic
    seeding); one Lloyd iteration assigns the TRAINING SAMPLE
    (vec_id % sample_mod == 0 — a pushed-down scan filter, not a full-corpus
    pass) to its max-cosine seed and re-centers each centroid as the
    element-wise mean of its sampled cluster, computed as an INTEGER sum of
    floor(x * 2^20) fixed-point elements divided once at the end. Integer
    partial aggregation is exact and associative, so the trained centroids
    are bit-identical across engines and cluster layouts — the property
    that lets an iterative float algorithm stay hash-checkable. Empty
    clusters keep their seed.

    The trained index is memoized per (cache_key, n_centroids, sample_mod)
    on the session (`_ivf_memo`), so l3c/l3d (and any repeat search) reuse
    one build instead of re-training per query — at 100 TB the index is
    built once and persisted, never rebuilt inside a search.
    """
    return _ivf_memo(emb, cache_key, (cache_key, n_centroids, sample_mod),
                     lambda: _fit_ivf(emb, n_centroids, sample_mod))


def _fit_ivf(emb: DataFrame, n_centroids: int, sample_mod: int) -> dict:
    spark = emb.sparkSession
    seeds = {
        int(r["vec_id"]): list(r["e"])
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "e").collect()}
    dim = len(next(iter(seeds.values())))

    # -- one Lloyd iteration over the hash-sample (index build job #2) ----
    # r13: assignment via the literal-free broadcast-index device
    # (rpq_encode's HOF twin of _assigned — same dot fold, same
    # driver-computed norms, same lexicographic struct argmax, so the
    # trained centroids are bit-identical to the literal path the
    # oracle spells out) — Catalyst analysis/codegen cost no longer
    # grows with n_centroids x dim, which at scaled index parameters
    # (l3n: nlist 16+) dominated the training wall.
    quant_sums = [
        F.sum(F.floor(F.element_at("e", j + 1) * F.lit(_KMEANS_SCALE)))
        .alias(f"p{j}")
        for j in range(dim)
    ]
    cluster_rows = (
        emb.filter(F.col("vec_id") % sample_mod == 0)
        .crossJoin(F.broadcast(_cents_frame(spark, seeds)))
        .withColumn("ne", _norm(F.col("e")))
        .withColumn("cid", _hof_assigned(len(seeds)).cast("int"))
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cnt"), *quant_sums)
        .collect())
    trained = dict(seeds)   # empty clusters keep their seed
    for r in cluster_rows:
        cnt = float(r["cnt"])
        # float(s)/float(cnt) mirrors the oracle's CAST(s AS DOUBLE)/cnt
        # bit-for-bit (Python int/int true division would round the exact
        # rational instead once sums exceed 2^53)
        trained[int(r["cid"])] = [
            float(r[f"p{j}"]) / cnt / _KMEANS_SCALE for j in range(dim)]
    return trained


def ivf_topk(embeddings: DataFrame, query_vec_id: int = 1, k: int = 10,
             n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE,
             sample_mod: int = IVF_SAMPLE_MOD, cache_key=None) -> DataFrame:
    """IVF-style ANN top-k: the scale path for similarity search.

    Train: see _train_ivf — sample-trained, session-cached, exact
    fixed-point means.
    Assign: each vector to its max-cosine trained centroid, computed PER
    ROW against broadcast literal centroids via higher-order functions — a
    narrow projection, no shuffle, no 8x row duplication (vs the naive
    crossJoin + window argmax).
    Probe: the query searches only the `n_probe` centroids nearest to it
    (picked driver-side at build time, like any ANN index probe); exact
    cosine + top-k within the probed inverted lists.

    At 100 TB: training is one narrow sampled assignment + one tiny shuffle
    (n_centroids x dim integer partial sums), amortized across queries by
    the index cache; search assignment is embarrassingly parallel; the
    probed filter cuts the candidate set by ~n_centroids/n_probe before the
    only wide op (TakeOrderedAndProject top-k, which aggregates
    per-partition heaps). Tie-break: equal cosine -> smallest centroid id
    (matches oracle's ORDER BY cos DESC, cid ASC).
    """
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    trained = _train_ivf(emb, n_centroids, sample_mod, cache_key=cache_key)
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q_vec = list(q_rows[0]["e"])

    probe_ids = [cid for cid, _ in sorted(
        ((cid, _cos_py(q_vec, v)) for cid, v in trained.items()),
        key=lambda t: (-t[1], t[0]))[:n_probe]]

    return (
        emb.withColumn("ne", _norm(F.col("e")))
        .withColumn("cid", _assigned(trained).cast("int"))
        .filter(F.col("cid").isin(probe_ids))
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", _cos_lit(q_vec).alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# cosine expression template shared by every IVF-family oracle
_COS_SQL = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
            " * sqrt(list_dot_product({b}, {b})))")


def _ivf_train_sql(n_centroids: int, sample_mod: int, p: str = "") -> str:
    """The IVF centroid-training CTE chain ({p}seeds -> {p}assign0 ->
    {p}dims -> {p}tsum -> {p}trained), referencing a preceding `e` CTE.
    The name prefix `p` lets the SAME text compose into oracles that
    also carry the PQ chain (whose unprefixed CTE names would collide) —
    the l15 no-drift device: one training definition, embedded verbatim
    everywhere it's used."""
    scale = int(_KMEANS_SCALE)
    cos = _COS_SQL
    return f"""{p}seeds AS (SELECT vec_id AS cid, e AS ce FROM e
              WHERE vec_id < {n_centroids}),
    {p}assign0 AS (
      SELECT vec_id, e, cid FROM (
        SELECT e.vec_id, e.e, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='s.ce')} DESC,
                          s.cid ASC) AS rn
        FROM e CROSS JOIN {p}seeds s
        WHERE e.vec_id % {sample_mod} = 0) WHERE rn = 1
    ),
    {p}dims AS (SELECT unnest(generate_series(
               1, (SELECT max(len(e)) FROM e))) AS i),
    {p}tsum AS (
      SELECT a.cid, d.i,
             CAST(sum(CAST(floor(a.e[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS cnt
      FROM {p}assign0 a CROSS JOIN {p}dims d GROUP BY a.cid, d.i
    ),
    {p}trained AS (
      SELECT s.cid, COALESCE(t.ce, s.ce) AS ce
      FROM {p}seeds s LEFT JOIN (
        SELECT cid,
               list(CAST(s AS DOUBLE) / cnt / {scale}.0 ORDER BY i) AS ce
        FROM {p}tsum GROUP BY cid) t USING (cid)
    )"""


def _ivf_oracle(query_vec_id: int = 1, k: int = 10,
                n_centroids: int = N_CENTROIDS,
                n_probe: int = N_PROBE,
                sample_mod: int = IVF_SAMPLE_MOD) -> str:
    cos = _COS_SQL
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT e AS q FROM e WHERE vec_id = {query_vec_id}),
    {_ivf_train_sql(n_centroids, sample_mod)},
    assigned AS (
      SELECT e.vec_id, e.label, e.e, c.cid,
             row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                        c.cid ASC) AS rn
      FROM e CROSS JOIN trained c
    ),
    probes AS (
      SELECT c.cid,
             row_number() OVER (
               ORDER BY {cos.format(a='q.q', b='c.ce')} DESC,
                        c.cid ASC) AS prn
      FROM trained c CROSS JOIN q
    )
    SELECT a.vec_id, a.label,
           {cos.format(a='a.e', b='q.q')} AS cosine_sim
    FROM assigned a
    JOIN probes p ON a.cid = p.cid AND p.prn <= {n_probe}
    CROSS JOIN q
    WHERE a.rn = 1 AND a.vec_id != {query_vec_id}
    ORDER BY cosine_sim DESC, a.vec_id LIMIT {k}
    """


IVF_TOPK_ORACLE = _ivf_oracle()


def lsh_near_duplicates(embeddings: DataFrame,
                        threshold: float = 0.3) -> DataFrame:
    """Sign-bucket LSH: pairs within a bucket with cosine >= threshold."""
    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    bucket = None
    for b in range(N_SIGN_BITS):
        bit = F.when(F.element_at(F.col("e"), b + 1) >= 0,
                     F.lit(2 ** b)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    emb = emb.withColumn("bucket", bucket.cast("int"))
    a, b_ = emb.alias("a"), emb.alias("b")
    sim = _dot(F.col("a.e"), F.col("b.e")) / (
        _norm(F.col("a.e")) * _norm(F.col("b.e")))
    return (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def _lsh_oracle(threshold: float = 0.3) -> str:
    bits = " + ".join(
        f"CASE WHEN e[{b + 1}] >= 0 THEN {2 ** b} ELSE 0 END"
        for b in range(N_SIGN_BITS))
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bucketed AS (SELECT vec_id, e, CAST({bits} AS INTEGER) AS bucket FROM e)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.e, b.e)
             / (sqrt(list_dot_product(a.e, a.e))
                * sqrt(list_dot_product(b.e, b.e))) AS cosine_sim
    FROM bucketed a JOIN bucketed b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))) >= {threshold}
    ORDER BY vec_a, vec_b
    """


LSH_NEAR_DUP_ORACLE = _lsh_oracle()



def _assigned_frame(emb: DataFrame, n_centroids: int, sample_mod: int,
                    cache_key=None) -> DataFrame:
    """Memoized, persisted (vec_id, cid, e, ne) cluster assignment —
    the SemDeDup pipeline's materialization point. One persisted frame
    per (cache_key, n_centroids, sample_mod) per session (session.memo,
    via _ivf_memo), so l12 and l12b share a single cached assignment
    instead of stacking a new one per call; MEMORY_AND_DISK keeps the
    blocks evictable under storage pressure."""
    from pyspark import StorageLevel

    trained = _train_ivf(emb, n_centroids, sample_mod,
                         cache_key=cache_key)
    return _ivf_memo(
        emb, cache_key, ("assigned", cache_key, n_centroids, sample_mod),
        lambda: (emb.withColumn("ne", _norm(F.col("e")))
                 .withColumn("cid", _assigned(trained).cast("int"))
                 .select("vec_id", "cid", "e", "ne")
                 .persist(StorageLevel.MEMORY_AND_DISK)))


def semantic_dedup(embeddings: DataFrame, threshold: float = 0.3,
                   n_centroids: int = N_CENTROIDS,
                   sample_mod: int = IVF_SAMPLE_MOD,
                   max_width: int = MAX_CLUSTER_WIDTH,
                   cache_key="semdedup") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate removal via embedding clustering — the
    training-data curation step between exact/MinHash dedup (surface
    text) and nothing (paraphrases survive l1/l2).

    1. Cluster: the session-cached IVF centroid index (_train_ivf —
       hash-sampled one-Lloyd training with exact fixed-point means,
       bit-stable across engines).
    2. Assign: per-row max-cosine centroid against broadcast literal
       centroids — a narrow projection, no shuffle.
    3. Pair WITHIN clusters only: self-join keyed on cid (never
       all-pairs); a vector is a semantic duplicate if some
       lower-vec_id vector in its cluster has cosine >= threshold
       (the deterministic keep-lowest-id variant of the paper's
       per-cluster dedup — no RNG, stable under task retries).
    4. Survivors: left-anti join against the duplicate set.

    Returns the per-cluster summary (cid, n_vecs, n_kept) — pins both
    the assignment and the dedup decision.

    At 100 TB: pairing cost is sum over clusters of |cluster|^2, the
    paper's design point — n_centroids grows with the corpus so
    clusters stay bounded (they use 11k clusters for LAION-440M); the
    cid-keyed shuffle is AQE-skew-splittable, and a hard per-cluster
    pairing cap (max_width — the l2d MAX_BUCKET_WIDTH pattern,
    oracle-mirrored) bounds the worst task to O(max_width^2) pairs
    even when a degenerate embedding (all-zeros) floods one cluster:
    only each cluster's max_width lowest vec_ids enter the pair join
    (row_number per cid, a bounded-per-key window), so rows beyond the
    cap are kept verbatim and never pair.

    The trained index and the persisted assignment are memoized per
    (cache_key, n_centroids, sample_mod), NOT per input frame. The
    default cache_key="semdedup" is a fixed name: a session that dedups
    more than one corpus must pass a per-corpus cache_key, or every
    corpus after the first is deduped against the first one's memoized
    assignment. cache_key=None trains afresh on every call."""
    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    # materialize the assignment once — the paper's own pipeline shape
    # (write the cluster assignment, then dedup per cluster); without
    # this the argmax-over-centroids projection re-evaluates on every
    # consumer (both self-join sides, the anti-join, both summaries).
    # Memoized per (cache_key, params): repeated l12/l12b calls share
    # ONE persisted frame instead of leaking a new one per call.
    assigned = _assigned_frame(emb, n_centroids, sample_mod,
                               cache_key=cache_key)
    from pyspark.sql import Window
    capped = (assigned.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("cid").orderBy("vec_id")))
        .filter(F.col("rn") <= max_width)
        .drop("rn"))
    a, b = capped.alias("a"), capped.alias("b")
    # pair scoring via the Arrow batch scorer (r14): the within-cluster
    # join stays JVM-side; only the 5 needed columns cross the boundary
    # and only (vec_id, sim) comes back — bit-exact fold, see
    # _pair_sims_arrow.
    pair_cols = (a.join(b, (F.col("a.cid") == F.col("b.cid"))
                        & (F.col("a.vec_id") > F.col("b.vec_id")))
                 .select(F.col("a.vec_id").alias("vec_id"),
                         F.col("a.e").alias("ea"),
                         F.col("b.e").alias("eb"),
                         F.col("a.ne").alias("na"),
                         F.col("b.ne").alias("nb")))
    dups = (_pair_sims_arrow(pair_cols)
            .filter(F.col("sim") >= threshold)
            .select("vec_id")
            .distinct())
    kept = assigned.join(dups, "vec_id", "left_anti")
    return (assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
            .join(kept.groupBy("cid")
                  .agg(F.count(F.lit(1)).cast("bigint")
                       .alias("n_kept")), "cid", "left")
            .select("cid", "n_vecs",
                    F.coalesce("n_kept", F.lit(0)).cast("bigint")
                    .alias("n_kept"))
            .orderBy("cid"))


_COS_SQL = ("list_dot_product({a}, {b}) / "
            "(sqrt(list_dot_product({a}, {a}))"
            " * sqrt(list_dot_product({b}, {b})))")


def _semdedup_assign_sql(n_centroids: int, sample_mod: int,
                         max_width: int) -> str:
    """Shared CTE chain e -> seeds -> trained -> assigned -> capped:
    the bit-stable IVF training + assignment + per-cluster pairing cap,
    mirrored by semantic_dedup and semdedup_sweep oracles alike."""
    scale = int(_KMEANS_SCALE)
    cos = _COS_SQL
    return f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    seeds AS (SELECT vec_id AS cid, e AS ce FROM e
              WHERE vec_id < {n_centroids}),
    assign0 AS (
      SELECT vec_id, e, cid FROM (
        SELECT e.vec_id, e.e, s.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='s.ce')} DESC,
                          s.cid ASC) AS rn
        FROM e CROSS JOIN seeds s
        WHERE e.vec_id % {sample_mod} = 0) WHERE rn = 1
    ),
    dims AS (SELECT unnest(generate_series(
               1, (SELECT max(len(e)) FROM e))) AS i),
    tsum AS (
      SELECT a.cid, d.i,
             CAST(sum(CAST(floor(a.e[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS cnt
      FROM assign0 a CROSS JOIN dims d GROUP BY a.cid, d.i
    ),
    trained AS (
      SELECT s.cid, COALESCE(t.ce, s.ce) AS ce
      FROM seeds s LEFT JOIN (
        SELECT cid,
               list(CAST(s AS DOUBLE) / cnt / {scale}.0 ORDER BY i)
                 AS ce
        FROM tsum GROUP BY cid) t USING (cid)
    ),
    assigned AS (
      SELECT vec_id, cid, e FROM (
        SELECT e.vec_id, e.e, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN trained c) WHERE rn = 1
    ),
    capped AS (
      SELECT vec_id, cid, e FROM (
        SELECT vec_id, cid, e,
               row_number() OVER (PARTITION BY cid ORDER BY vec_id)
                 AS rn
        FROM assigned) WHERE rn <= {max_width}
    )"""


def _semantic_dedup_oracle(threshold: float = 0.3,
                           n_centroids: int = N_CENTROIDS,
                           sample_mod: int = IVF_SAMPLE_MOD,
                           max_width: int = MAX_CLUSTER_WIDTH) -> str:
    cos = _COS_SQL
    prefix = _semdedup_assign_sql(n_centroids, sample_mod, max_width)
    return f"""
    WITH {prefix},
    dups AS (
      SELECT DISTINCT a.vec_id
      FROM capped a JOIN capped b
        ON a.cid = b.cid AND a.vec_id > b.vec_id
      WHERE {cos.format(a='a.e', b='b.e')} >= {threshold}
    )
    SELECT CAST(a.cid AS INTEGER) AS cid,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (a.vec_id NOT IN
                (SELECT vec_id FROM dups)) AS BIGINT) AS n_kept
    FROM assigned a GROUP BY a.cid ORDER BY a.cid
    """


SEMANTIC_DEDUP_ORACLE = _semantic_dedup_oracle()


SWEEP_THRESHOLDS = (0.2, 0.3, 0.5)


def semdedup_sweep(embeddings: DataFrame,
                   thresholds=SWEEP_THRESHOLDS,
                   n_centroids: int = N_CENTROIDS,
                   sample_mod: int = IVF_SAMPLE_MOD,
                   max_width: int = MAX_CLUSTER_WIDTH,
                   cache_key="semdedup") -> DataFrame:
    """L12b epsilon-sweep gauge for SemDeDup (the l3d recall-gauge
    pattern): per threshold, how many vectors survive dedup under the
    CAPPED pairing (production l12) vs the UNCAPPED pairing — pinning,
    oracle-checked, that the max_width cap does not change survivors
    at fixture scale (real clusters sit far below the cap; only the
    adversarial degenerate cluster triggers it).

    One assignment pass + two per-vec max-cosine aggregations feed
    every threshold (conditional sums over broadcastable single-row
    aggregates — the sweep adds no per-threshold scan).

    Returns (threshold, n_vecs, n_kept_capped, n_kept_uncapped)
    ordered by threshold."""
    from pyspark.sql import Window

    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    # the memoized persisted assignment (shared with semantic_dedup):
    # ~5 consumers below would otherwise each re-evaluate the argmax
    assigned = _assigned_frame(emb, n_centroids, sample_mod,
                               cache_key=cache_key)
    capped = (assigned.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("cid").orderBy("vec_id")))
        .filter(F.col("rn") <= max_width)
        .drop("rn"))

    # NOTE(r14): the Arrow pair scorer (used by semantic_dedup) was
    # measured here too and LOST (interleaved A/B 2.70 vs 2.54 s): the
    # max() aggregation runs map-side in the same stage as the join
    # when the sim is a JVM expression, but an Arrow boundary between
    # join and agg ships every pair's arrays to Python twice (capped +
    # uncapped) before any reduction. Kept on the HOF fold.
    def max_sim_to_lower(src, out):
        a, b = src.alias("a"), src.alias("b")
        sim = _dot(F.col("a.e"), F.col("b.e")) / (
            F.col("a.ne") * F.col("b.ne"))
        return (a.join(b, (F.col("a.cid") == F.col("b.cid"))
                       & (F.col("a.vec_id") > F.col("b.vec_id")))
                .groupBy(F.col("a.vec_id").alias("vec_id"))
                .agg(F.max(sim).alias(out)))

    joined = (assigned.select("vec_id")
              .join(max_sim_to_lower(capped, "ms_c"), "vec_id", "left")
              .join(max_sim_to_lower(assigned, "ms_u"), "vec_id",
                    "left"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_vecs")]
    for i, t in enumerate(thresholds):
        for col, out in (("ms_c", f"c{i}"), ("ms_u", f"u{i}")):
            kept = F.when(F.col(col).isNull()
                          | (F.col(col) < F.lit(float(t))), 1).otherwise(0)
            aggs.append(F.sum(kept).cast("bigint").alias(out))
    row = joined.agg(*aggs)
    per_t = F.array(*[
        F.struct(F.lit(float(t)).alias("threshold"),
                 F.col("n_vecs"),
                 F.col(f"c{i}").alias("n_kept_capped"),
                 F.col(f"u{i}").alias("n_kept_uncapped"))
        for i, t in enumerate(thresholds)])
    return (row.select(F.explode(per_t).alias("r"))
            .select("r.threshold", "r.n_vecs", "r.n_kept_capped",
                    "r.n_kept_uncapped")
            .orderBy("threshold"))


def _semdedup_sweep_oracle(thresholds=SWEEP_THRESHOLDS,
                           n_centroids: int = N_CENTROIDS,
                           sample_mod: int = IVF_SAMPLE_MOD,
                           max_width: int = MAX_CLUSTER_WIDTH) -> str:
    cos = _COS_SQL
    prefix = _semdedup_assign_sql(n_centroids, sample_mod, max_width)
    tvals = ", ".join(f"(CAST({float(t)} AS DOUBLE))"
                      for t in thresholds)
    return f"""
    WITH {prefix},
    msc AS (
      SELECT a.vec_id, max({cos.format(a='a.e', b='b.e')}) AS ms
      FROM capped a JOIN capped b
        ON a.cid = b.cid AND a.vec_id > b.vec_id GROUP BY a.vec_id),
    msu AS (
      SELECT a.vec_id, max({cos.format(a='a.e', b='b.e')}) AS ms
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id > b.vec_id GROUP BY a.vec_id),
    j AS (
      SELECT e.vec_id, msc.ms AS ms_c, msu.ms AS ms_u
      FROM assigned e
      LEFT JOIN msc ON e.vec_id = msc.vec_id
      LEFT JOIN msu ON e.vec_id = msu.vec_id)
    SELECT CAST(t.threshold AS DOUBLE) AS threshold,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(sum(CASE WHEN j.ms_c IS NULL OR j.ms_c < t.threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_capped,
           CAST(sum(CASE WHEN j.ms_u IS NULL OR j.ms_u < t.threshold
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_uncapped
    FROM j CROSS JOIN (VALUES {tvals}) t(threshold)
    GROUP BY t.threshold ORDER BY threshold
    """


SEMDEDUP_SWEEP_ORACLE = _semdedup_sweep_oracle()


# --------------------------------------------------------------------------
# L3e Product-Quantization ANN (Jegou, Douze, Schmid 2011, "Product
# Quantization for Nearest Neighbor Search", IEEE TPAMI): THE standard
# memory-compression path for web-scale ANN — a 64-dim float vector
# becomes PQ_M 3-bit codes (32x smaller), and query distance is a
# per-subspace table lookup (ADC), never a full dot product.
#
# Scale shape: training = one narrow sampled assignment + one tiny
# integer shuffle per subspace (same bit-stable fixed-point-mean trick
# as the IVF index, session-cached); encoding is a pure codegen
# projection; search is a narrow LUT projection + TakeOrderedAndProject
# top-k. At 100 TB the codes table is what you persist and scan — 32x
# less IO than raw embeddings.
#
# Determinism: every distance is a textually-identical left-associated
# IEEE expression in Spark and DuckDB; the ADC lookup table is
# quantized to fixed-point INTEGERS driver-side, so the per-vector ADC
# sum is associative and hash-exact in any aggregation order.
# --------------------------------------------------------------------------
PQ_M = 8          # subspaces
PQ_KS = 8         # codes per subspace (3 bits)


def _sub_dist(col_e, off: int, centroid) -> "F.Column":
    """Squared L2 between e[off+1..off+len] and a literal centroid —
    the same left-associated sum of (e_i - c_i)^2 terms the oracle
    spells out textually, expressed as a fold over ONE array literal
    (r13): slice + zip_with + aggregate with a 0.0 seed visits the
    identical term sequence (0.0 + x == x for the non-negative squared
    terms), so the result is bit-identical to the old unrolled
    element_at chain while the expression tree shrinks from ~4*subdim
    nodes (and as many py4j calls) to a constant-size HOF."""
    sub = F.slice(col_e, off + 1, len(centroid))
    return F.aggregate(
        F.zip_with(sub, _lit_double_array(centroid),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v)


def _exact_l2(q, m_sub: int, subdim: int) -> "F.Column":
    """Exact squared L2 between column `e` and query vector `q`,
    summed subspace-by-subspace in the same left-associated order as
    the oracles' textual expression (and the pre-r13 unrolled loops —
    _sub_dist preserves the per-term fold bit-for-bit)."""
    exact = None
    for m in range(m_sub):
        d = _sub_dist(F.col("e"), m * subdim,
                      q[m * subdim:(m + 1) * subdim])
        exact = d if exact is None else exact + d
    return exact


def _sub_dist_py(vec, off: int, centroid) -> float:
    d = None
    for i, c in enumerate(centroid):
        t = vec[off + i] - c
        term = t * t
        d = term if d is None else d + term
    return d


def _sub_dist_sql(a: str, b: str, subdim: int) -> str:
    return " + ".join(
        f"({a}[{i}]-{b}[{i}])*({a}[{i}]-{b}[{i}])"
        for i in range(1, subdim + 1))


def _pq_code(col_e, m: int, subdim: int, books: dict, ks: int):
    """argmin code for subspace m: least() over (dist, code) structs —
    lexicographic struct compare gives min-dist, ties to smallest
    code (the oracle's ORDER BY dist ASC, code ASC)."""
    return F.least(*[
        F.struct(_sub_dist(col_e, m * subdim, books[(m, j)]).alias("d"),
                 F.lit(j).alias("c"))
        for j in range(ks)])["c"]


def _train_pq(emb: DataFrame, m_sub: int = PQ_M, ks: int = PQ_KS,
              sample_mod: int = IVF_SAMPLE_MOD, cache_key=None) -> dict:
    """Build (and memoize) the PQ codebooks: per subspace, seeds are
    the first `ks` vectors' subvectors; one Lloyd iteration re-centers
    each code as the exact fixed-point integer mean of its sampled
    assignment (the _train_ivf recipe applied per subspace — empty
    codes keep their seed). Returns {(m, code): [subdim floats]}."""
    return _ivf_memo(emb, cache_key,
                     ("pq", cache_key, m_sub, ks, sample_mod),
                     lambda: _fit_pq(emb, m_sub, ks, sample_mod))


def _fit_pq(emb: DataFrame, m_sub: int, ks: int, sample_mod: int) -> dict:
    spark = emb.sparkSession
    seed_rows = (emb.filter(F.col("vec_id") < ks)
                 .select("vec_id", "e").collect())
    seed_ids = {int(r["vec_id"]) for r in seed_rows}
    if seed_ids != set(range(ks)):
        raise ValueError(
            f"PQ seeding requires vec_ids 0..{ks - 1} present; "
            f"missing {sorted(set(range(ks)) - seed_ids)}")
    dim = len(seed_rows[0]["e"])
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by {m_sub} "
                         f"subspaces")
    subdim = dim // m_sub
    seeds = {(m, int(r["vec_id"])):
             [float(v) for v in r["e"][m * subdim:(m + 1) * subdim]]
             for r in seed_rows for m in range(m_sub)}

    # r13: literal-free — codes via the broadcast seed-books frame
    # (the rpq_encode device; bit-identical folds/compares, see
    # _hof_code), so analysis/codegen cost is constant in m_sub x ks.
    # (Historical note kept for the explode shape: the struct array is
    # PROJECTED before the explode because GenerateExec inlines its
    # generator expression into one generate_doConsume method — with
    # the pre-r13 literal distance terms that blew janino's limits and
    # fell back to interpreted eval.)
    sbooks = _books_frame(spark, seeds, m_sub, ks)
    per_m = []
    for m in range(m_sub):
        per_m.append(F.struct(
            F.lit(m).alias("m"),
            _hof_code(F.col("e"), m, subdim).alias("code"),
            F.slice(F.col("e"), m * subdim + 1, subdim).alias("sub")))
    quant_sums = [
        F.sum(F.floor(F.element_at("sub", i + 1)
                      * F.lit(_KMEANS_SCALE))).alias(f"p{i}")
        for i in range(subdim)]
    rows = (emb.filter(F.col("vec_id") % sample_mod == 0)
            .crossJoin(F.broadcast(sbooks))
            .select(F.array(*per_m).alias("arr"))
            .select(F.explode("arr").alias("s"))
            .select("s.m", "s.code", "s.sub")
            .groupBy("m", "code")
            .agg(F.count(F.lit(1)).alias("cnt"), *quant_sums)
            .collect())
    trained = dict(seeds)
    for r in rows:
        cnt = float(r["cnt"])
        trained[(int(r["m"]), int(r["code"]))] = [
            float(r[f"p{i}"]) / cnt / _KMEANS_SCALE
            for i in range(subdim)]
    return trained


def pq_topk(embeddings: DataFrame, query_vec_id: int = 2, k: int = 10,
            m_sub: int = PQ_M, ks: int = PQ_KS,
            sample_mod: int = IVF_SAMPLE_MOD,
            cache_key=None) -> DataFrame:
    """PQ/ADC approximate top-k by squared L2: encode every vector as
    `m_sub` codes (narrow argmin projection), build the query's
    fixed-point integer distance lookup table driver-side, and rank by
    the associative integer ADC sum. Returns (vec_id, label, adc_q)
    ordered by adc_q ASC, vec_id ASC, k rows."""
    import math

    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    trained = _train_pq(emb, m_sub, ks, sample_mod,
                        cache_key=cache_key)
    dim = len(trained[(0, 0)]) * m_sub
    subdim = dim // m_sub
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]

    # r13: codebooks + LUT ride as a one-row broadcast frame and the
    # codes/sum are HOFs over them (_hof_code ≡ _pq_code bit-for-bit),
    # so plan size is constant in m_sub x ks instead of ~m_sub*ks
    # unrolled literal subtrees
    luts = [[int(math.floor(
        _sub_dist_py(q, m * subdim, trained[(m, j)])
        * _KMEANS_SCALE)) for j in range(ks)]
        for m in range(m_sub)]
    bframe = _adc_frame(emb.sparkSession, trained, luts, m_sub, ks)
    return (emb.filter(F.col("vec_id") != query_vec_id)
            .crossJoin(F.broadcast(bframe))
            .select("vec_id", "label",
                    _hof_adc(m_sub, subdim).cast("bigint")
                    .alias("adc_q"))
            .orderBy(F.col("adc_q").asc(), F.col("vec_id").asc())
            .limit(k))


def _pq_train_sql(query_vec_id: int, m_sub: int, ks: int,
                  sample_mod: int, subdim: int,
                  e_cte: str = None) -> str:
    """Shared CTE chain e -> subs -> seeds -> trained -> codes -> q ->
    lut -> adc: the full PQ pipeline, bit-identical to the Spark
    path. `e_cte` overrides the corpus CTE (must end by defining `e`
    with columns vec_id, label, e DOUBLE[]) — the l3o planted-corpus
    device trains the same chain over an augmented corpus."""
    scale = int(_KMEANS_SCALE)
    dist = _sub_dist_sql("s.sub", "c.ce", subdim)
    if e_cte is None:
        e_cte = """e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    )"""
    return f"""{e_cte},
    subs AS (
      SELECT vec_id, label, m.m AS m,
             e[m.m * {subdim} + 1 : (m.m + 1) * {subdim}] AS sub
      FROM e CROSS JOIN (SELECT unnest(generate_series(
             0, {m_sub - 1})) AS m) m
    ),
    seeds AS (SELECT m, vec_id AS code, sub AS ce FROM subs
              WHERE vec_id < {ks}),
    assign0 AS (
      SELECT m, vec_id, sub, code FROM (
        SELECT s.m, s.vec_id, s.sub, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {dist} ASC, c.code ASC) AS rn
        FROM subs s JOIN seeds c USING (m)
        WHERE s.vec_id % {sample_mod} = 0) WHERE rn = 1
    ),
    dims AS (SELECT unnest(generate_series(1, {subdim})) AS i),
    tsum AS (
      SELECT a.m, a.code, d.i,
             CAST(sum(CAST(floor(a.sub[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS cnt
      FROM assign0 a CROSS JOIN dims d GROUP BY a.m, a.code, d.i
    ),
    trained AS (
      SELECT s.m, s.code, COALESCE(t.ce, s.ce) AS ce
      FROM seeds s LEFT JOIN (
        SELECT m, code,
               list(CAST(s AS DOUBLE) / cnt / {scale}.0 ORDER BY i)
                 AS ce
        FROM tsum GROUP BY m, code) t USING (m, code)
    ),
    codes AS (
      SELECT m, vec_id, code FROM (
        SELECT s.m, s.vec_id, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {dist} ASC, c.code ASC) AS rn
        FROM subs s JOIN trained c USING (m)) WHERE rn = 1
    ),
    q AS (SELECT m, sub AS qs FROM subs
          WHERE vec_id = {query_vec_id}),
    lut AS (
      SELECT c.m, c.code,
             CAST(floor(({_sub_dist_sql("q.qs", "c.ce", subdim)})
                        * {scale}.0) AS BIGINT) AS d
      FROM trained c JOIN q USING (m)
    ),
    adc AS (
      SELECT cd.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_q
      FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
      GROUP BY cd.vec_id
    )"""


def _pq_oracle(query_vec_id: int = 2, k: int = 10, m_sub: int = PQ_M,
               ks: int = PQ_KS, sample_mod: int = IVF_SAMPLE_MOD,
               dim: int = 64) -> str:
    subdim = dim // m_sub
    prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod, subdim)
    return f"""
    WITH {prefix}
    SELECT e.vec_id, e.label, a.adc_q
    FROM adc a JOIN e USING (vec_id)
    WHERE e.vec_id != {query_vec_id}
    ORDER BY a.adc_q ASC, e.vec_id ASC LIMIT {k}
    """


PQ_TOPK_ORACLE = _pq_oracle()

_PQ_RECALL_K = 10


_PQ_SHORTLIST = 50


def pq_recall(embeddings: DataFrame, query_vec_id: int = 2,
              k: int = _PQ_RECALL_K, m_sub: int = PQ_M, ks: int = PQ_KS,
              sample_mod: int = IVF_SAMPLE_MOD,
              shortlist: int = _PQ_SHORTLIST,
              cache_key=None) -> DataFrame:
    """L3f recall gauge (the l3d pattern for PQ): against the exact-L2
    top-k, report BOTH |pure-ADC top-k ∩ exact| and the production
    recipe's |(ADC shortlist -> exact re-rank) top-k ∩ exact|. Random
    synthetic embeddings are PQ's ADVERSARIAL case (no cluster
    structure for 3-bit codes to exploit), so the gauge reads low here
    by design — it exists to catch exactly that before a compressed
    index ships at scale; re-ranking an ADC shortlist is the standard
    fix and is measured alongside. Returns one row
    (k, n_common_adc, n_common_rerank)."""
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    trained = _train_pq(emb, m_sub, ks, sample_mod,
                        cache_key=cache_key)
    dim = len(trained[(0, 0)]) * m_sub
    subdim = dim // m_sub
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]

    # exact squared L2, summed subspace-by-subspace in the same
    # left-associated order as the oracle's textual expression
    exact = _exact_l2(q, m_sub, subdim)
    base = emb.filter(F.col("vec_id") != query_vec_id)
    bf = (base.select("vec_id", exact.alias("l2"))
          .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
          .limit(k)
          .select("vec_id"))

    # ONE ADC pass: the ADC top-k is by definition the first k rows of
    # the ADC shortlist (same total order), and the shortlist is a
    # bounded 50-row fetch (the IVF-centroid-collect class) — so the
    # k-cut happens driver-side and the rerank scan filters by a
    # pushed-down isin over the 50 ids instead of a second full
    # ADC+join pass. Cuts the gauge from four corpus passes to two.
    short_ids = [int(r["vec_id"]) for r in
                 pq_topk(embeddings, query_vec_id, shortlist, m_sub,
                         ks, sample_mod, cache_key=cache_key)
                 .select("vec_id").collect()]
    pq = emb.sparkSession.createDataFrame(
        [(i,) for i in short_ids[:k]], "vec_id long")
    rerank = (base.filter(F.col("vec_id").isin(short_ids))
              .select("vec_id", exact.alias("l2"))
              .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
              .limit(k)
              .select("vec_id"))

    n_adc = (bf.join(F.broadcast(pq), "vec_id")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_common_adc")))
    n_rr = (rerank.join(bf, "vec_id")
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_common_rerank")))
    return (n_adc.crossJoin(F.broadcast(n_rr))
            .select(F.lit(k).cast("bigint").alias("k"),
                    "n_common_adc", "n_common_rerank"))


def _pq_recall_oracle(query_vec_id: int = 2, k: int = _PQ_RECALL_K,
                      m_sub: int = PQ_M, ks: int = PQ_KS,
                      sample_mod: int = IVF_SAMPLE_MOD,
                      shortlist: int = _PQ_SHORTLIST,
                      dim: int = 64) -> str:
    subdim = dim // m_sub
    prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod, subdim)
    exact = " + ".join(
        "(" + _sub_dist_sql(f"s{m}.sub", f"qq{m}.qs", subdim) + ")"
        for m in range(m_sub))
    sub_joins = " ".join(
        f"JOIN subs s{m} ON s{m}.vec_id = e.vec_id AND s{m}.m = {m} "
        f"JOIN q qq{m} ON qq{m}.m = {m}"
        for m in range(m_sub))
    return f"""
    WITH {prefix},
    pq AS (
      SELECT a.vec_id FROM adc a
      WHERE a.vec_id != {query_vec_id}
      ORDER BY a.adc_q ASC, a.vec_id ASC LIMIT {k}
    ),
    short AS (
      SELECT a.vec_id FROM adc a
      WHERE a.vec_id != {query_vec_id}
      ORDER BY a.adc_q ASC, a.vec_id ASC LIMIT {shortlist}
    ),
    rerank AS (
      SELECT e.vec_id FROM e JOIN short USING (vec_id) {sub_joins}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    ),
    bf AS (
      SELECT e.vec_id FROM e {sub_joins}
      WHERE e.vec_id != {query_vec_id}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    )
    SELECT CAST({k} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM pq JOIN bf
            USING (vec_id)) AS n_common_adc,
           (SELECT CAST(count(*) AS BIGINT) FROM rerank JOIN bf
            USING (vec_id)) AS n_common_rerank
    """


PQ_RECALL_ORACLE = _pq_recall_oracle()


# --------------------------------------------------------------------------
# L3i IVF-ADC: the COMPOSED architecture a 100 TB vector store actually
# runs (Jegou, Douze, Schmid 2011 §IV, "IVFADC"): coarse IVF centroids
# prune the corpus to n_probe inverted lists, then PQ/ADC ranks the
# survivors by integer table lookups — never a full dot product on the
# pruned set, never a scan of the unpruned corpus. The repo had both
# halves (l3c's probe-limited pruning, l3e's integer ADC); this is the
# one-query composition (non-residual variant: codes quantize raw
# vectors, which keeps every distance hash-exact; residual encoding is
# a documented refinement, not a correctness requirement).
#
# Scale shape: both trainings are sampled + session-cached (built once,
# amortized across queries); assignment and encoding are narrow
# codegen projections (at ingest time in a real store — the cid and
# codes columns are what you persist); the probe filter prunes
# ~n_centroids/n_probe of the corpus BEFORE the ADC projection runs
# (Catalyst orders the filter ahead of the LUT arithmetic), and the
# only wide op is TakeOrderedAndProject top-k.
# --------------------------------------------------------------------------
def ivf_adc_topk(embeddings: DataFrame, query_vec_id: int = 2,
                 k: int = 10, n_centroids: int = N_CENTROIDS,
                 n_probe: int = N_PROBE, m_sub: int = PQ_M,
                 ks: int = PQ_KS, sample_mod: int = IVF_SAMPLE_MOD,
                 cache_key=None) -> DataFrame:
    """IVF-pruned ADC top-k: assign each vector to its max-cosine IVF
    centroid, keep only the `n_probe` lists nearest the query, rank
    survivors by the integer ADC sum. Returns (vec_id, label, adc_q)
    ordered adc_q ASC, vec_id ASC, k rows."""
    import math

    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    cents = _train_ivf(emb, n_centroids, sample_mod,
                       cache_key=cache_key)
    books = _train_pq(emb, m_sub, ks, sample_mod, cache_key=cache_key)
    subdim = len(books[(0, 0)])
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]
    probe_ids = [cid for cid, _ in sorted(
        ((cid, _cos_py(q, v)) for cid, v in cents.items()),
        key=lambda t: (-t[1], t[0]))[:n_probe]]

    # r13: the whole frozen index (coarse centroids + codebooks + the
    # query's LUT) rides as one-row broadcast frames; assignment and
    # codes are the proven HOF twins (_hof_assigned ≡ _assigned,
    # _hof_code ≡ _pq_code), so warm plan construction is constant in
    # index size (measured 5.4 s -> sub-s) and the probe filter still
    # prunes before the ADC projection
    luts = [[int(math.floor(
        _sub_dist_py(q, m * subdim, books[(m, j)])
        * _KMEANS_SCALE)) for j in range(ks)]
        for m in range(m_sub)]
    cframe = _cents_frame(emb.sparkSession, cents)
    bframe = _adc_frame(emb.sparkSession, books, luts, m_sub, ks)
    return (emb.crossJoin(F.broadcast(cframe))
            .crossJoin(F.broadcast(bframe))
            .withColumn("ne", _norm(F.col("e")))
            .withColumn("cid", _hof_assigned(len(cents)).cast("int"))
            .filter(F.col("cid").isin(probe_ids))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label",
                    _hof_adc(m_sub, subdim).cast("bigint")
                    .alias("adc_q"))
            .orderBy(F.col("adc_q").asc(), F.col("vec_id").asc())
            .limit(k))


def _ivf_adc_probe_sql(query_vec_id: int, n_centroids: int,
                       sample_mod: int) -> str:
    """IVF half of the composed oracle, PREFIXED 'i' so the PQ chain's
    unprefixed CTE names don't collide: training embedded verbatim via
    _ivf_train_sql (the no-drift device), then per-vector assignment
    and the query's probe ranking."""
    cos = _COS_SQL
    return f"""{_ivf_train_sql(n_centroids, sample_mod, p="i")},
    iq AS (SELECT e AS q FROM e WHERE vec_id = {query_vec_id}),
    iassigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN itrained c) WHERE rn = 1
    ),
    iprobes AS (
      SELECT c.cid,
             row_number() OVER (
               ORDER BY {cos.format(a='iq.q', b='c.ce')} DESC,
                        c.cid ASC) AS prn
      FROM itrained c CROSS JOIN iq
    )"""


def _ivf_adc_oracle(query_vec_id: int = 2, k: int = 10,
                    n_centroids: int = N_CENTROIDS,
                    n_probe: int = N_PROBE, m_sub: int = PQ_M,
                    ks: int = PQ_KS,
                    sample_mod: int = IVF_SAMPLE_MOD,
                    dim: int = 64) -> str:
    subdim = dim // m_sub
    pq_prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod,
                              subdim)
    return f"""
    WITH {pq_prefix},
    {_ivf_adc_probe_sql(query_vec_id, n_centroids, sample_mod)}
    SELECT e.vec_id, e.label, a.adc_q
    FROM adc a JOIN e USING (vec_id)
    JOIN iassigned ia ON ia.vec_id = e.vec_id
    JOIN iprobes p ON ia.cid = p.cid AND p.prn <= {n_probe}
    WHERE e.vec_id != {query_vec_id}
    ORDER BY a.adc_q ASC, e.vec_id ASC LIMIT {k}
    """


IVF_ADC_ORACLE = _ivf_adc_oracle()


def ivf_adc_recall(embeddings: DataFrame, query_vec_id: int = 2,
                   k: int = _PQ_RECALL_K, n_centroids: int = N_CENTROIDS,
                   n_probe: int = N_PROBE, m_sub: int = PQ_M,
                   ks: int = PQ_KS, sample_mod: int = IVF_SAMPLE_MOD,
                   shortlist: int = _PQ_SHORTLIST,
                   cache_key=None) -> DataFrame:
    """L3j recall gauge for the composed index (the l3f device applied
    to IVF-ADC): against the exact-L2 top-k over the WHOLE corpus,
    report |IVF-ADC top-k ∩ exact| and the production recipe's
    |(IVF-ADC shortlist -> exact re-rank) top-k ∩ exact| — so the gauge
    charges the composition for BOTH quantization loss (l3f's subject)
    and probe-pruning loss (what IVF adds). One row
    (k, n_common_adc, n_common_rerank)."""
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    books = _train_pq(emb, m_sub, ks, sample_mod, cache_key=cache_key)
    subdim = len(books[(0, 0)])
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]

    exact = _exact_l2(q, m_sub, subdim)
    base = emb.filter(F.col("vec_id") != query_vec_id)
    bf = (base.select("vec_id", exact.alias("l2"))
          .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
          .limit(k)
          .select("vec_id"))

    # one composed pass: IVF-ADC shortlist (bounded fetch); its first
    # k rows ARE the IVF-ADC top-k (same total order)
    short_ids = [int(r["vec_id"]) for r in
                 ivf_adc_topk(embeddings, query_vec_id, shortlist,
                              n_centroids, n_probe, m_sub, ks,
                              sample_mod, cache_key=cache_key)
                 .select("vec_id").collect()]
    comp = emb.sparkSession.createDataFrame(
        [(i,) for i in short_ids[:k]], "vec_id long")
    rerank = (base.filter(F.col("vec_id").isin(short_ids))
              .select("vec_id", exact.alias("l2"))
              .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
              .limit(k)
              .select("vec_id"))

    n_adc = (bf.join(F.broadcast(comp), "vec_id")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_common_adc")))
    n_rr = (rerank.join(bf, "vec_id")
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_common_rerank")))
    return (n_adc.crossJoin(F.broadcast(n_rr))
            .select(F.lit(k).cast("bigint").alias("k"),
                    "n_common_adc", "n_common_rerank"))


def _ivf_adc_recall_oracle(query_vec_id: int = 2,
                           k: int = _PQ_RECALL_K,
                           n_centroids: int = N_CENTROIDS,
                           n_probe: int = N_PROBE, m_sub: int = PQ_M,
                           ks: int = PQ_KS,
                           sample_mod: int = IVF_SAMPLE_MOD,
                           shortlist: int = _PQ_SHORTLIST,
                           dim: int = 64) -> str:
    subdim = dim // m_sub
    pq_prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod,
                              subdim)
    exact = " + ".join(
        "(" + _sub_dist_sql(f"s{m}.sub", f"qq{m}.qs", subdim) + ")"
        for m in range(m_sub))
    sub_joins = " ".join(
        f"JOIN subs s{m} ON s{m}.vec_id = e.vec_id AND s{m}.m = {m} "
        f"JOIN q qq{m} ON qq{m}.m = {m}"
        for m in range(m_sub))
    return f"""
    WITH {pq_prefix},
    {_ivf_adc_probe_sql(query_vec_id, n_centroids, sample_mod)},
    pruned AS (
      SELECT a.vec_id, a.adc_q
      FROM adc a
      JOIN iassigned ia ON ia.vec_id = a.vec_id
      JOIN iprobes p ON ia.cid = p.cid AND p.prn <= {n_probe}
      WHERE a.vec_id != {query_vec_id}
    ),
    comp AS (
      SELECT vec_id FROM pruned
      ORDER BY adc_q ASC, vec_id ASC LIMIT {k}
    ),
    short AS (
      SELECT vec_id FROM pruned
      ORDER BY adc_q ASC, vec_id ASC LIMIT {shortlist}
    ),
    rerank AS (
      SELECT e.vec_id FROM e JOIN short USING (vec_id) {sub_joins}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    ),
    bf AS (
      SELECT e.vec_id FROM e {sub_joins}
      WHERE e.vec_id != {query_vec_id}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    )
    SELECT CAST({k} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM comp JOIN bf
            USING (vec_id)) AS n_common_adc,
           (SELECT CAST(count(*) AS BIGINT) FROM rerank JOIN bf
            USING (vec_id)) AS n_common_rerank
    """


IVF_ADC_RECALL_ORACLE = _ivf_adc_recall_oracle()


# --------------------------------------------------------------------------
# L3o WHY the production recipe ends with an exact re-rank: the r13
# clustered-corpus probe (SCALING.md) measured that when true neighbors
# sit closer together than the PQ code resolution, ADC ranking among
# them degenerates to the tie-break — recall@10 collapses to the
# random-overlap floor no matter how many lists are probed. This gauge
# pins that mechanism as a driver-checked value on a DESIGNED corpus:
# two tiers of plants built from the query vector itself (the l26b
# dyadic device), TRUE plants at factor (1 + j/8192) on element 0 and
# DECOY plants at (1 + j/512) — 16x farther, yet BOTH tiers inside one
# quantization cell, so their ADC distances tie exactly and the
# deterministic (adc, vec_id) order hands the top-k to the lower-id
# decoys. Exact top-k is provably the true tier (same element
# perturbed, strictly smaller factors). A correct engine therefore
# reads n_true_adc = 0 and n_true_rerank = k: the ADC arm CANNOT see
# sub-resolution structure and the shortlist->exact-rerank arm MUST
# recover it. At 100 TB this is the regression test for the refine
# stage of an IVFADC+R store: if someone drops the re-rank (or breaks
# its exact arithmetic), n_true_rerank collapses driver-visibly.
# --------------------------------------------------------------------------
L3O_TRUE_BASE = 2_000_000_000
L3O_DECOY_BASE = 1_500_000_000
_L3O_TRUE_DEN = 8192.0
_L3O_DECOY_DEN = 512.0


def _two_tier_planted(emb: DataFrame, query_vec_id: int,
                      k: int) -> DataFrame:
    """(vec_id, label, e) corpus with k TRUE + k DECOY plants built
    from the query row: plant j of tier (base, den) has vec_id =
    base + j and the query vector with element 0 scaled by
    (1 + j/den). Both factors are dyadic, so Spark and the oracle
    synthesize bit-identical plants (one shared double multiply)."""
    qrow = (emb.filter(F.col("vec_id") == query_vec_id)
            .select("label", "e"))
    plants = None
    for base, den in ((L3O_TRUE_BASE, _L3O_TRUE_DEN),
                      (L3O_DECOY_BASE, _L3O_DECOY_DEN)):
        factor = F.lit(1.0) + F.col("j").cast("double") / F.lit(den)
        p = (qrow
             .withColumn("j", F.explode(F.sequence(F.lit(1),
                                                   F.lit(k))))
             .select((F.lit(base) + F.col("j")).alias("vec_id"),
                     "label",
                     F.transform(
                         "e",
                         lambda x, i: F.when(i == 0, x * factor)
                         .otherwise(x)).alias("e")))
        plants = p if plants is None else plants.unionByName(p)
    return emb.select("vec_id", "label", "e").unionByName(plants)


def adc_rerank_planted(embeddings: DataFrame, query_vec_id: int = 2,
                       k: int = _PQ_RECALL_K,
                       n_centroids: int = N_CENTROIDS,
                       n_probe: int = N_PROBE, m_sub: int = PQ_M,
                       ks: int = PQ_KS,
                       sample_mod: int = IVF_SAMPLE_MOD,
                       shortlist: int = _PQ_SHORTLIST,
                       cache_key=None) -> DataFrame:
    """L3o ADC-vs-rerank on the two-tier planted corpus: one row
    (k, n_true_adc, n_decoy_adc, n_true_rerank). See the block comment
    above for the designed semantics (true plants sub-resolution close,
    decoys 16x farther but code-identical)."""
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    aug = _two_tier_planted(emb, query_vec_id, k)
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]
    dim = len(q)
    subdim = dim // m_sub

    # composed IVF-ADC shortlist over the augmented corpus (trains on
    # it too — mirrored verbatim in the oracle's e CTE); first k rows
    # ARE the ADC top-k (same total order), driver fetch bounded by
    # `shortlist`
    short_ids = [int(r["vec_id"]) for r in
                 ivf_adc_topk(aug.select(
                     "vec_id", "label",
                     F.col("e").alias("embedding")),
                     query_vec_id, shortlist, n_centroids, n_probe,
                     m_sub, ks, sample_mod, cache_key=cache_key)
                 .select("vec_id").collect()]

    # exact-L2 with the same per-subspace term grouping as the l3j
    # gauge and the oracle's sub_joins — identical float folds
    exact = _exact_l2(q, m_sub, subdim)

    base = aug.filter(F.col("vec_id") != query_vec_id)
    rerank = (base.filter(F.col("vec_id").isin(short_ids))
              .select("vec_id", exact.alias("l2"))
              .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
              .limit(k)
              .select("vec_id"))

    is_true = (F.col("vec_id") >= L3O_TRUE_BASE).cast("bigint")
    is_decoy = ((F.col("vec_id") >= L3O_DECOY_BASE)
                & (F.col("vec_id") < L3O_TRUE_BASE)).cast("bigint")
    comp = emb.sparkSession.createDataFrame(
        [(i,) for i in short_ids[:k]], "vec_id long")
    adc_counts = comp.agg(
        F.coalesce(F.sum(is_true), F.lit(0)).cast("bigint")
        .alias("n_true_adc"),
        F.coalesce(F.sum(is_decoy), F.lit(0)).cast("bigint")
        .alias("n_decoy_adc"))
    rr_counts = rerank.agg(
        F.coalesce(F.sum(is_true), F.lit(0)).cast("bigint")
        .alias("n_true_rerank"))
    return (adc_counts.crossJoin(F.broadcast(rr_counts))
            .select(F.lit(k).cast("bigint").alias("k"),
                    "n_true_adc", "n_decoy_adc", "n_true_rerank"))


def _adc_rerank_planted_oracle(query_vec_id: int = 2,
                               k: int = _PQ_RECALL_K,
                               n_centroids: int = N_CENTROIDS,
                               n_probe: int = N_PROBE,
                               m_sub: int = PQ_M, ks: int = PQ_KS,
                               sample_mod: int = IVF_SAMPLE_MOD,
                               shortlist: int = _PQ_SHORTLIST,
                               dim: int = 64,
                               corpus_mod: int = 1) -> str:
    subdim = dim // m_sub
    # corpus_mod > 1 gauges the MECHANISM on a deterministic
    # sub-corpus (every corpus_mod-th vector, ids remapped by div so
    # the training seeds vec_id < ks survive) — the designed plant
    # semantics are corpus-size-free, and the l3i/l3j rows already
    # charge the full-corpus cost of this index family
    if corpus_mod == 1:
        base_sel = ("SELECT vec_id, label, "
                    "CAST(embedding AS DOUBLE[]) AS e FROM embeddings")
    else:
        base_sel = (f"SELECT vec_id // {corpus_mod} AS vec_id, label, "
                    f"CAST(embedding AS DOUBLE[]) AS e FROM embeddings "
                    f"WHERE vec_id % {corpus_mod} = 0")
    # AS MATERIALIZED is load-bearing: e is referenced by every stage
    # of the training chain and by the 8 rerank sub_joins; DuckDB
    # inlines plain CTEs per reference, and the remapped-union-plants
    # construction re-inlined ~20x deep sends optimization time over
    # a cliff (observed: >300 s vs <1 s materialized)
    e_cte = f"""ebase AS (
      {base_sel}
    ),
    pj AS (SELECT unnest(generate_series(1, {k})) AS j),
    ptier AS (SELECT * FROM (VALUES
      ({L3O_TRUE_BASE}, {_L3O_TRUE_DEN}),
      ({L3O_DECOY_BASE}, {_L3O_DECOY_DEN})) t(pbase, pden)),
    e AS MATERIALIZED (
      SELECT vec_id, label, e FROM ebase
      UNION ALL
      SELECT t.pbase + pj.j AS vec_id, q.label AS label,
             list_transform(generate_series(1, len(q.e)),
               i -> CASE WHEN i = 1
                         THEN q.e[i] * (1.0 + pj.j / t.pden)
                         ELSE q.e[i] END) AS e
      FROM ebase q CROSS JOIN pj CROSS JOIN ptier t
      WHERE q.vec_id = {query_vec_id}
    )"""
    pq_prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod,
                              subdim, e_cte=e_cte)
    exact = " + ".join(
        "(" + _sub_dist_sql(f"s{m}.sub", f"qq{m}.qs", subdim) + ")"
        for m in range(m_sub))
    sub_joins = " ".join(
        f"JOIN subs s{m} ON s{m}.vec_id = e.vec_id AND s{m}.m = {m} "
        f"JOIN q qq{m} ON qq{m}.m = {m}"
        for m in range(m_sub))
    return f"""
    WITH {pq_prefix},
    {_ivf_adc_probe_sql(query_vec_id, n_centroids, sample_mod)},
    pruned AS (
      SELECT a.vec_id, a.adc_q
      FROM adc a
      JOIN iassigned ia ON ia.vec_id = a.vec_id
      JOIN iprobes p ON ia.cid = p.cid AND p.prn <= {n_probe}
      WHERE a.vec_id != {query_vec_id}
    ),
    comp AS (
      SELECT vec_id FROM pruned
      ORDER BY adc_q ASC, vec_id ASC LIMIT {k}
    ),
    short AS (
      SELECT vec_id FROM pruned
      ORDER BY adc_q ASC, vec_id ASC LIMIT {shortlist}
    ),
    rerank AS (
      SELECT e.vec_id FROM e JOIN short USING (vec_id) {sub_joins}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    )
    SELECT CAST({k} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM comp
            WHERE vec_id >= {L3O_TRUE_BASE}) AS n_true_adc,
           (SELECT CAST(count(*) AS BIGINT) FROM comp
            WHERE vec_id >= {L3O_DECOY_BASE}
              AND vec_id < {L3O_TRUE_BASE}) AS n_decoy_adc,
           (SELECT CAST(count(*) AS BIGINT) FROM rerank
            WHERE vec_id >= {L3O_TRUE_BASE}) AS n_true_rerank
    """


L3O_CORPUS_MOD = 8
# m_sub=4 / ks=4: half the literal terms of the l3i defaults in both
# the _pq_code argmin and the ADC LUTs — the gauge's plan is
# Catalyst-compile-bound at fixture scale, and COARSER codes only
# strengthen the designed sub-resolution tie (bigger cells)
L3O_M_SUB = 4
L3O_KS = 4
ADC_RERANK_PLANTED_ORACLE = _adc_rerank_planted_oracle(
    m_sub=L3O_M_SUB, ks=L3O_KS, corpus_mod=L3O_CORPUS_MOD)


# --------------------------------------------------------------------------
# L3k RESIDUAL IVF-ADC: the full IVFADC of Jegou et al. 2011 §IV.A —
# PQ quantizes the RESIDUAL r = v - q_coarse(v), not the raw vector.
# Residuals concentrate around the origin regardless of which cell a
# vector lives in, so one shared codebook set spends its 3 bits per
# subspace on the part of the vector the coarse quantizer did NOT
# explain — the refinement that makes IVFADC beat IVF+raw-PQ at equal
# code budget. Search builds one integer LUT PER PROBED LIST from the
# query's residual against that list's centroid.
#
# Determinism: the coarse centroids are the bit-stable _train_ivf
# artifact, residual arithmetic is plain IEEE subtraction textually
# mirrored in SQL, and the residual codebooks reuse the fixed-point
# integer-mean device — every distance hash-exact. Codegen: the
# residual is materialized as ONE projected array column before any
# argmin touches it (the explode/janino rule, SCALING.md r10).
# --------------------------------------------------------------------------
def _train_rpq(emb: DataFrame, cents: dict, m_sub: int = PQ_M,
               ks: int = PQ_KS, sample_mod: int = IVF_SAMPLE_MOD,
               cache_key=None) -> dict:
    """Residual PQ codebooks: the _train_pq recipe over r = e - ce[cid]
    of the sampled rows (seeds = the first `ks` vectors' residual
    subvectors; one Lloyd step with exact fixed-point integer means)."""
    return _ivf_memo(emb, cache_key,
                     ("rpq", cache_key, m_sub, ks, sample_mod, len(cents)),
                     lambda: _fit_rpq(emb, cents, m_sub, ks, sample_mod))


def _fit_rpq(emb: DataFrame, cents: dict, m_sub: int, ks: int,
             sample_mod: int) -> dict:
    spark = emb.sparkSession
    dim = len(next(iter(cents.values())))
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by {m_sub}")
    subdim = dim // m_sub

    # r13: literal-free training — both passes ride the broadcast
    # index frames (the rpq_encode device), so Catalyst cost is a
    # small constant plan however large nlist/ks grow. Arithmetic is
    # bit-identical to the literal path (same folds, same struct
    # compares): the DuckDB oracles, which spell the literal chain out
    # textually, stay hash-green.
    def _residual_frame(src):
        return (src.crossJoin(F.broadcast(_cents_frame(spark, cents)))
                .withColumn("ne", _norm(F.col("e")))
                .withColumn("cid", _hof_assigned(len(cents))
                            .cast("int"))
                .withColumn("res", F.zip_with(
                    F.col("e"),
                    F.element_at(F.col("_ix_cents"), F.col("cid") + 1),
                    lambda a, b: a - b)))

    seed_rows = (_residual_frame(emb.filter(F.col("vec_id") < ks))
                 .select("vec_id", "res").collect())
    seed_ids = {int(r["vec_id"]) for r in seed_rows}
    if seed_ids != set(range(ks)):
        raise ValueError(
            f"residual-PQ seeding requires vec_ids 0..{ks - 1}; "
            f"missing {sorted(set(range(ks)) - seed_ids)}")
    seeds = {(m, int(r["vec_id"])):
             [float(v) for v in r["res"][m * subdim:(m + 1) * subdim]]
             for r in seed_rows for m in range(m_sub)}

    sbooks = _books_frame(spark, seeds, m_sub, ks)
    per_m = []
    for m in range(m_sub):
        per_m.append(F.struct(
            F.lit(m).alias("m"),
            _hof_code(F.col("res"), m, subdim).alias("code"),
            F.slice(F.col("res"), m * subdim + 1, subdim)
            .alias("sub")))
    quant_sums = [
        F.sum(F.floor(F.element_at("sub", i + 1)
                      * F.lit(_KMEANS_SCALE))).alias(f"p{i}")
        for i in range(subdim)]
    rows = (_residual_frame(
        emb.filter(F.col("vec_id") % sample_mod == 0))
        .crossJoin(F.broadcast(sbooks))
        .select(F.array(*per_m).alias("arr"))
        .select(F.explode("arr").alias("s"))
        .select("s.m", "s.code", "s.sub")
        .groupBy("m", "code")
        .agg(F.count(F.lit(1)).alias("cnt"), *quant_sums)
        .collect())
    trained = dict(seeds)
    for r in rows:
        cnt = float(r["cnt"])
        trained[(int(r["m"]), int(r["code"]))] = [
            float(r[f"p{i}"]) / cnt / _KMEANS_SCALE
            for i in range(subdim)]
    return trained


def _adc_frame(spark, books: dict, luts, m_sub: int,
               ks: int) -> DataFrame:
    """{(m, code): [subdim]} codebooks PLUS the query's per-subspace
    integer distance LUT as a ONE-ROW broadcast frame (`_ix_books`
    [m][code][subdim], `_ix_lut` [m][code] bigint) — the _index_frame
    device for the ADC ranking paths (r13): the codebooks and LUT ride
    as data in a LocalRelation instead of ~m_sub*ks literal expression
    subtrees, so plan construction/analysis cost is constant in the
    code budget (measured: ivf_adc_topk warm plan build 5.4 s -> sub-s,
    execution unchanged)."""
    books_a = [[[float(x) for x in books[(m, j)]] for j in range(ks)]
               for m in range(m_sub)]
    lut_a = [[int(v) for v in row] for row in luts]
    return spark.createDataFrame(
        [(books_a, lut_a)],
        "_ix_books array<array<array<double>>>, "
        "_ix_lut array<array<bigint>>")


def _hof_adc(m_sub: int, subdim: int) -> "F.Column":
    """Integer ADC sum over `_ix_lut` via `_hof_code` codes — the HOF
    twin of the literal element_at(lut, _pq_code + 1) chain. Codes are
    bit-identical (_hof_code ≡ _pq_code) and the terms are integers,
    so the sum is exact regardless of fold shape."""
    adc = None
    for m in range(m_sub):
        term = F.element_at(
            F.element_at(F.col("_ix_lut"), m + 1),
            _hof_code(F.col("e"), m, subdim) + 1)
        adc = term if adc is None else adc + term
    return adc


def _index_frame(spark, cents: dict, books: dict,
                 m_sub: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """The frozen IVFADC index as a ONE-ROW DataFrame of nested array
    columns — `_ix_cents` (cid-indexed coarse centroids), `_ix_cnorms`
    (their driver-computed norms, same fold as _cos_lit's literal
    norm), `_ix_books` ([m][code][subdim] residual codebooks). Joined
    broadcast into the encode plan so the index travels as DATA in a
    LocalRelation, not as literal expression trees: the plan stays
    constant-size however large the index, Catalyst re-analysis per
    streaming micro-batch is O(1), and the CollapseProject
    literal-re-inlining codegen trap (SCALING.md r11 postscript)
    cannot trigger — array columns are not 'cheap' expressions, so
    projections referencing them more than once are never collapsed."""
    cents_a = [[float(x) for x in vec]
               for _cid, vec in sorted(cents.items())]
    cnorms = [_norm_py(vec) for vec in cents_a]
    books_a = [[[float(x) for x in books[(m, j)]] for j in range(ks)]
               for m in range(m_sub)]
    return spark.createDataFrame(
        [(cents_a, cnorms, books_a)],
        "_ix_cents array<array<double>>, _ix_cnorms array<double>, "
        "_ix_books array<array<array<double>>>")


def rpq_encode(emb: DataFrame, cents: dict, books: dict,
               m_sub: int = PQ_M, ks: int = PQ_KS) -> DataFrame:
    """Encode (vec_id, label, e) rows against a FROZEN residual-PQ
    index, LITERAL-FREE: the index rides in as a one-row broadcast
    join (_index_frame) and every step — coarse argmax assignment,
    residual, per-subspace argmin codes — is a higher-order function
    over the index's array columns, compiling to loops over data
    instead of unrolled literal expressions. Arithmetic is
    bit-identical to the literal path the oracle spells out: dot and
    distance are the same left fold with a 0.0 seed (0.0 + x == x),
    argmax/argmin are the same lexicographic struct compares
    (array_max/array_min vs greatest/least), so l3k/s15 stay
    hash-green. Used by the batch codes frame AND the s15 streaming
    micro-batch encoder (one definition, streaming == batch by
    construction); per-micro-batch Catalyst cost is now a small
    constant plan, not seconds of literal-tree re-optimization."""
    dim = len(next(iter(cents.values())))
    subdim = dim // m_sub
    n_cent = len(cents)
    idx = _index_frame(emb.sparkSession, cents, books, m_sub, ks)

    # coarse argmax: per-centroid struct(cos, -cid), array_max — the
    # HOF twin of _assigned() (max cos, ties to smallest cid)
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(n_cent - 1)),
        lambda i: F.struct(
            (_dot(F.col("e"), F.element_at(F.col("_ix_cents"), i + 1))
             / (F.col("ne")
                * F.element_at(F.col("_ix_cnorms"), i + 1))).alias("s"),
            (-i).alias("n")))
    assigned = (emb.crossJoin(F.broadcast(idx))
                .withColumn("ne", _norm(F.col("e")))
                .withColumn("cid",
                            (F.array_max(scored)["n"] * -1).cast("int")))

    # per-subspace code: residual slice r = e[m] - cent[cid][m] fused
    # into the (r - book)^2 fold — same element values and fold order
    # as the residual-zip_with + _sub_dist literal chain the oracle
    # spells out, so codes match bit-for-bit
    cvec = F.element_at(F.col("_ix_cents"), F.col("cid") + 1)

    def _code(m: int):
        rsub = F.zip_with(
            F.slice(F.col("e"), m * subdim + 1, subdim),
            F.slice(cvec, m * subdim + 1, subdim),
            lambda a, b: a - b)
        return F.array_min(F.transform(
            F.element_at(F.col("_ix_books"), m + 1),
            lambda cb, j: F.struct(
                F.aggregate(
                    F.zip_with(rsub, cb,
                               lambda r, b: (r - b) * (r - b)),
                    F.lit(0.0),
                    lambda acc, v: acc + v).alias("d"),
                j.alias("c"))))["c"]

    return assigned.select(
        "vec_id", "label", "cid",
        *[_code(m).alias(f"_c{m}") for m in range(m_sub)])


def _rpq_codes_frame(emb: DataFrame, cents: dict, books: dict,
                     m_sub: int = PQ_M, ks: int = PQ_KS,
                     cache_key=None) -> DataFrame:
    """The (vec_id, label, cid, _c0.._c{m-1}) CODES TABLE — the artifact
    a real IVFADC store computes at INGEST and persists (32x smaller
    than raw vectors); searches scan it, never the embeddings. Persisted
    MEMORY_AND_DISK and memoized per cache_key (session.memo, via
    _ivf_memo); with cache_key=None the codes are pinned with
    session.hold instead, so the next such call releases them. The
    persist is also what keeps the search stage compilable: encoding
    (argmax assignment + residual + m_sub argmin codes, ~3k generated
    ops) and LUT ranking would otherwise fuse into one whole-stage span
    past janino's method limits (the r10 codegen rule, third sighting —
    this time pure collapsed Projects, no explode involved)."""
    from pyspark import StorageLevel

    def encode():
        return rpq_encode(emb, cents, books, m_sub, ks).persist(
            StorageLevel.MEMORY_AND_DISK)

    if cache_key is None:
        return session.hold(emb.sparkSession, "l3k_codes", encode())[0]
    return _ivf_memo(emb, cache_key,
                     ("rpq_codes", cache_key, m_sub, ks, len(cents)),
                     encode)


def ivf_rpq_topk(embeddings: DataFrame, query_vec_id: int = 2,
                 k: int = 10, n_centroids: int = N_CENTROIDS,
                 n_probe: int = N_PROBE, m_sub: int = PQ_M,
                 ks: int = PQ_KS, sample_mod: int = IVF_SAMPLE_MOD,
                 cache_key=None) -> DataFrame:
    """Residual IVF-ADC top-k: probe-pruned lists ranked by the integer
    ADC of residual codes against PER-LIST query-residual LUTs. Returns
    (vec_id, label, adc_q) ordered adc_q ASC, vec_id ASC, k rows."""
    import math

    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    cents = _train_ivf(emb, n_centroids, sample_mod,
                       cache_key=cache_key)
    books = _train_rpq(emb, cents, m_sub, ks, sample_mod,
                       cache_key=cache_key)
    dim = len(next(iter(cents.values())))
    subdim = dim // m_sub
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]
    probe_ids, luts = rpq_query_luts(q, cents, books, n_probe,
                                     m_sub, ks)
    coded = _rpq_codes_frame(emb, cents, books, m_sub, ks,
                             cache_key=cache_key)
    return rpq_search(coded, luts, probe_ids, query_vec_id, k,
                      m_sub=m_sub)


def rpq_search(coded: DataFrame, luts: dict, probe_ids: list,
               query_vec_id: int, k: int,
               m_sub: int = PQ_M) -> DataFrame:
    """LUT-rank a codes table: filter to the probed lists, sum the
    per-subspace integer lookups (when-chain over the n_probe lists),
    bounded top-k. Shared by the batch path and the s15 streaming
    codes-store probe (one search definition)."""
    coded = (coded.filter(F.col("cid").isin(list(probe_ids)))
             .filter(F.col("vec_id") != query_vec_id))
    adc = None
    for m in range(m_sub):
        code = F.col(f"_c{m}")
        # when-chain over the n_probe lists (first probe = base case;
        # rows are already filtered to probed cids)
        term = F.element_at(
            F.array(*[F.lit(v) for v in luts[(probe_ids[0], m)]]),
            code + 1)
        for cid in probe_ids[1:]:
            lut = F.element_at(
                F.array(*[F.lit(v) for v in luts[(cid, m)]]), code + 1)
            term = F.when(F.col("cid") == cid, lut).otherwise(term)
        adc = term if adc is None else adc + term
    return (coded.select("vec_id", "label",
                         adc.cast("bigint").alias("adc_q"))
            .orderBy(F.col("adc_q").asc(), F.col("vec_id").asc())
            .limit(k))


def rpq_query_luts(q: list, cents: dict, books: dict,
                   n_probe: int = N_PROBE, m_sub: int = PQ_M,
                   ks: int = PQ_KS):
    """(probe_ids, luts) for a query vector against a frozen index —
    one integer LUT per (probed list, subspace), since the query
    residual differs per list."""
    import math

    dim = len(next(iter(cents.values())))
    subdim = dim // m_sub
    probe_ids = [cid for cid, _ in sorted(
        ((cid, _cos_py(q, v)) for cid, v in cents.items()),
        key=lambda t: (-t[1], t[0]))[:n_probe]]
    luts = {}
    for cid in probe_ids:
        qr = [q[i] - cents[cid][i] for i in range(dim)]
        for m in range(m_sub):
            luts[(cid, m)] = [int(math.floor(
                _sub_dist_py(qr, m * subdim, books[(m, j)])
                * _KMEANS_SCALE)) for j in range(ks)]
    return probe_ids, luts


def _rpq_chain_sql(query_vec_id: int, n_probe: int, m_sub: int,
                   ks: int, sample_mod: int, dim: int) -> str:
    """The residual-PQ CTE chain (res -> rsubs -> rtrained -> rcodes ->
    per-probed-list query LUTs -> radc), r-prefixed so it composes next
    to the raw-PQ chain in one WITH. Assumes `e` plus the i-prefixed
    IVF chain (_ivf_adc_probe_sql) are already in scope."""
    scale = int(_KMEANS_SCALE)
    subdim = dim // m_sub
    dist = _sub_dist_sql("s.sub", "c.ce", subdim)
    return f"""res AS (
      SELECT e.vec_id, ia.cid,
             list_transform(generate_series(1, {dim}),
                            i -> e.e[i] - c.ce[i]) AS r
      FROM e
      JOIN iassigned ia ON ia.vec_id = e.vec_id
      JOIN itrained c ON c.cid = ia.cid),
    rsubs AS (
      SELECT vec_id, cid, m.m AS m,
             r[m.m * {subdim} + 1 : (m.m + 1) * {subdim}] AS sub
      FROM res CROSS JOIN (SELECT unnest(generate_series(
             0, {m_sub - 1})) AS m) m
    ),
    rseeds AS (SELECT m, vec_id AS code, sub AS ce FROM rsubs
               WHERE vec_id < {ks}),
    rassign0 AS (
      SELECT m, vec_id, sub, code FROM (
        SELECT s.m, s.vec_id, s.sub, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {dist} ASC, c.code ASC) AS rn
        FROM rsubs s JOIN rseeds c USING (m)
        WHERE s.vec_id % {sample_mod} = 0) WHERE rn = 1
    ),
    rdims AS (SELECT unnest(generate_series(1, {subdim})) AS i),
    rtsum AS (
      SELECT a.m, a.code, d.i,
             CAST(sum(CAST(floor(a.sub[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS cnt
      FROM rassign0 a CROSS JOIN rdims d GROUP BY a.m, a.code, d.i
    ),
    rtrained AS (
      SELECT s.m, s.code, COALESCE(t.ce, s.ce) AS ce
      FROM rseeds s LEFT JOIN (
        SELECT m, code,
               list(CAST(s AS DOUBLE) / cnt / {scale}.0 ORDER BY i)
                 AS ce
        FROM rtsum GROUP BY m, code) t USING (m, code)
    ),
    rcodes AS (
      SELECT m, vec_id, cid, code FROM (
        SELECT s.m, s.vec_id, s.cid, c.code,
               row_number() OVER (
                 PARTITION BY s.vec_id, s.m
                 ORDER BY {dist} ASC, c.code ASC) AS rn
        FROM rsubs s JOIN rtrained c USING (m)) WHERE rn = 1
    ),
    qres AS (
      SELECT p.cid,
             list_transform(generate_series(1, {dim}),
                            i -> iq.q[i] - c.ce[i]) AS qr
      FROM iprobes p
      JOIN itrained c ON c.cid = p.cid
      CROSS JOIN iq
      WHERE p.prn <= {n_probe}),
    qrsubs AS (
      SELECT cid, m.m AS m,
             qr[m.m * {subdim} + 1 : (m.m + 1) * {subdim}] AS sub
      FROM qres CROSS JOIN (SELECT unnest(generate_series(
             0, {m_sub - 1})) AS m) m
    ),
    rlut AS (
      SELECT s.cid, c.m, c.code,
             CAST(floor(({_sub_dist_sql("s.sub", "c.ce", subdim)})
                        * {scale}.0) AS BIGINT) AS d
      FROM rtrained c JOIN qrsubs s ON s.m = c.m
    ),
    radc AS (
      SELECT cd.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_q
      FROM rcodes cd
      JOIN rlut l ON l.cid = cd.cid AND l.m = cd.m
                 AND l.code = cd.code
      GROUP BY cd.vec_id
    )"""


def _ivf_rpq_oracle(query_vec_id: int = 2, k: int = 10,
                    n_centroids: int = N_CENTROIDS,
                    n_probe: int = N_PROBE, m_sub: int = PQ_M,
                    ks: int = PQ_KS,
                    sample_mod: int = IVF_SAMPLE_MOD,
                    dim: int = 64) -> str:
    """Residual-IVFADC oracle: the prefixed IVF chain, residuals for
    every vector against its assigned centroid, the PQ training chain
    over the residual subvectors (r-prefixed), per-probed-list query
    residual LUTs, and the ADC sum keyed on (cid, m, code)."""
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    ),
    {_ivf_adc_probe_sql(query_vec_id, n_centroids, sample_mod)},
    {_rpq_chain_sql(query_vec_id, n_probe, m_sub, ks, sample_mod, dim)}
    SELECT e.vec_id, e.label, a.adc_q
    FROM radc a JOIN e USING (vec_id)
    WHERE e.vec_id != {query_vec_id}
    ORDER BY a.adc_q ASC, e.vec_id ASC LIMIT {k}
    """


IVF_RPQ_ORACLE = _ivf_rpq_oracle()


def rpq_vs_raw_recall(embeddings: DataFrame, query_vec_id: int = 2,
                      k: int = _PQ_RECALL_K,
                      n_centroids: int = N_CENTROIDS,
                      n_probe: int = N_PROBE, m_sub: int = PQ_M,
                      ks: int = PQ_KS,
                      sample_mod: int = IVF_SAMPLE_MOD,
                      cache_key=None) -> DataFrame:
    """L3l: WHY residual encoding exists (Jegou et al. 2011 §IV.A) —
    at the SAME code budget (m_sub x log2(ks) bits) and the SAME probe
    set, residual PQ should recall better than raw-vector PQ, because
    its codebooks spend their bits on what the coarse quantizer did
    NOT explain instead of re-describing which cell a vector lives in.
    Measures both arms against the exact-L2 top-k over the whole
    corpus: one row (k, n_common_raw, n_common_res). The residual >=
    raw inequality is pinned by test; if a fixture ever contradicts
    the theory, the honest number goes to SCALING.md instead."""
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]
    dim = len(q)
    subdim = dim // m_sub

    # exact-L2 truth, grouped per subspace — the same term grouping
    # (and so the same float fold) as the l3j gauge and both oracles
    exact = _exact_l2(q, m_sub, subdim)
    bf = (emb.filter(F.col("vec_id") != query_vec_id)
          .select("vec_id", exact.alias("l2"))
          .orderBy(F.col("l2").asc(), F.col("vec_id").asc())
          .limit(k)
          .select("vec_id"))

    raw_ids = ivf_adc_topk(embeddings, query_vec_id, k, n_centroids,
                           n_probe, m_sub, ks, sample_mod,
                           cache_key=cache_key).select("vec_id")
    res_ids = ivf_rpq_topk(embeddings, query_vec_id, k, n_centroids,
                           n_probe, m_sub, ks, sample_mod,
                           cache_key=cache_key).select("vec_id")

    n_raw = (bf.join(raw_ids, "vec_id")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_common_raw")))
    n_res = (bf.join(res_ids, "vec_id")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("n_common_res")))
    return (n_raw.crossJoin(F.broadcast(n_res))
            .select(F.lit(k).cast("bigint").alias("k"),
                    "n_common_raw", "n_common_res"))


def _rpq_vs_raw_recall_oracle(query_vec_id: int = 2,
                              k: int = _PQ_RECALL_K,
                              n_centroids: int = N_CENTROIDS,
                              n_probe: int = N_PROBE, m_sub: int = PQ_M,
                              ks: int = PQ_KS,
                              sample_mod: int = IVF_SAMPLE_MOD,
                              dim: int = 64) -> str:
    """Composes the raw-PQ chain (unprefixed), the IVF chain
    (i-prefixed) and the residual chain (r-prefixed) in ONE WITH —
    textually the same CTEs the l3i and l3k oracles run, plus the
    exact-L2 truth and two intersection counts."""
    subdim = dim // m_sub
    pq_prefix = _pq_train_sql(query_vec_id, m_sub, ks, sample_mod,
                              subdim)
    exact = " + ".join(
        "(" + _sub_dist_sql(f"s{m}.sub", f"qq{m}.qs", subdim) + ")"
        for m in range(m_sub))
    sub_joins = " ".join(
        f"JOIN subs s{m} ON s{m}.vec_id = e.vec_id AND s{m}.m = {m} "
        f"JOIN q qq{m} ON qq{m}.m = {m}"
        for m in range(m_sub))
    return f"""
    WITH {pq_prefix},
    {_ivf_adc_probe_sql(query_vec_id, n_centroids, sample_mod)},
    {_rpq_chain_sql(query_vec_id, n_probe, m_sub, ks, sample_mod, dim)},
    comp_raw AS (
      SELECT a.vec_id
      FROM adc a
      JOIN iassigned ia ON ia.vec_id = a.vec_id
      JOIN iprobes p ON ia.cid = p.cid AND p.prn <= {n_probe}
      WHERE a.vec_id != {query_vec_id}
      ORDER BY a.adc_q ASC, a.vec_id ASC LIMIT {k}
    ),
    comp_res AS (
      SELECT vec_id FROM radc
      WHERE vec_id != {query_vec_id}
      ORDER BY adc_q ASC, vec_id ASC LIMIT {k}
    ),
    bf AS (
      SELECT e.vec_id FROM e {sub_joins}
      WHERE e.vec_id != {query_vec_id}
      ORDER BY ({exact}) ASC, e.vec_id ASC LIMIT {k}
    )
    SELECT CAST({k} AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM comp_raw JOIN bf
            USING (vec_id)) AS n_common_raw,
           (SELECT CAST(count(*) AS BIGINT) FROM comp_res JOIN bf
            USING (vec_id)) AS n_common_res
    """


RPQ_VS_RAW_RECALL_ORACLE = _rpq_vs_raw_recall_oracle()


# --------------------------------------------------------------------------
# L3g kNN JOIN: top-k neighbors for a BATCH of query vectors in one
# pass — the shape retrieval/dedup/eval pipelines actually run (not
# one query at a time). Scale: broadcast the (tiny) query batch, score
# with a narrow JVM projection, then distributed top-k-per-query in
# TWO bounded windows — per-(query, salt) local top-k first, so no
# single task ever sees a query's full score column (|Q| partitions of
# the whole corpus is exactly the skew a naive window would create);
# the final per-query window ranks only n_salt*k rows. The salted
# refinement provably cannot change the result: top-k under the
# deterministic (sim DESC, vec_id ASC) order is salt-invariant, so the
# oracle mirrors the plain single-window form.
# --------------------------------------------------------------------------
# --------------------------------------------------------------------------
# L3m SCALAR QUANTIZATION (SQ8): the OTHER production vector codec next
# to PQ (FAISS IndexScalarQuantizer QT_8bit) — per-DIMENSION 8-bit
# codes against trained per-dimension [min, max] ranges, 4x memory
# compression with no codebook training beyond two order statistics.
# Where PQ spends bits on joint subspace structure, SQ spends them
# uniformly per dimension — cheaper to train/encode, larger codes,
# the codec a pipeline reaches for when ingest throughput beats
# compression ratio. Encode/decode arithmetic is plain IEEE doubles
# mirrored textually in SQL; the ADC distance is made hash-exact by
# flooring each per-dimension squared term to a fixed-point BIGINT
# before the (associative, order-free) integer sum — the l3e device.
# The trained ranges ride the literal-free one-row broadcast frame
# (the r12 rpq_encode pattern), so the encode plan is constant-size.
# --------------------------------------------------------------------------
SQ_LEVELS = 255


def _train_sq(emb: DataFrame, sample_mod: int = IVF_SAMPLE_MOD,
              cache_key=None) -> tuple:
    """Per-dimension (min, max) over the hash sample — the entire SQ
    'codebook' (2 x dim doubles, trivially broadcastable)."""
    return _ivf_memo(emb, cache_key, ("sq", cache_key, sample_mod),
                     lambda: _fit_sq(emb, sample_mod))


def _fit_sq(emb: DataFrame, sample_mod: int) -> tuple:
    dim = len(emb.select("e").first()["e"])
    row = (emb.filter(F.col("vec_id") % sample_mod == 0)
           .agg(*[F.min(F.element_at("e", i + 1)).alias(f"mn{i}")
                  for i in range(dim)],
                *[F.max(F.element_at("e", i + 1)).alias(f"mx{i}")
                  for i in range(dim)])
           .collect()[0])
    mins = [float(row[f"mn{i}"]) for i in range(dim)]
    maxs = [float(row[f"mx{i}"]) for i in range(dim)]
    return mins, maxs


def sq8_topk(embeddings: DataFrame, query_vec_id: int = 2,
             k: int = 10, sample_mod: int = IVF_SAMPLE_MOD,
             cache_key=None) -> DataFrame:
    """SQ8/ADC approximate top-k by squared L2: encode every dimension
    as floor((v - mn) * 255 / (mx - mn)) clamped to [0, 255], decode
    to the bucket midpoint mn + (c + 0.5) * (mx - mn) / 255, rank by
    the integer-floored sum of per-dimension squared errors against
    the raw query. One narrow literal-free projection over the
    broadcast range frame; TakeOrderedAndProject top-k."""
    emb = embeddings.select(
        "vec_id", "label", _to_double(F.col("embedding")).alias("e"))
    mins, maxs = _train_sq(emb, sample_mod, cache_key=cache_key)
    spark = emb.sparkSession
    q_rows = (emb.filter(F.col("vec_id") == query_vec_id)
              .select("e").collect())
    if not q_rows:
        raise ValueError(
            f"query vec_id {query_vec_id} not found in embeddings")
    q = [float(v) for v in q_rows[0]["e"]]
    dim = len(q)

    idx = spark.createDataFrame(
        [(mins, maxs, q)],
        "_sq_mn array<double>, _sq_mx array<double>, "
        "_sq_q array<double>")

    def _term(i):
        # i is a lambda-bound index column (0-based)
        ei = F.element_at(F.col("e"), i + 1)
        mn = F.element_at(F.col("_sq_mn"), i + 1)
        mx = F.element_at(F.col("_sq_mx"), i + 1)
        qi = F.element_at(F.col("_sq_q"), i + 1)
        code = F.when(mx == mn, F.lit(0.0)).otherwise(
            F.least(F.lit(float(SQ_LEVELS)), F.greatest(
                F.lit(0.0),
                F.floor((ei - mn) * SQ_LEVELS / (mx - mn))
                .cast("double"))))
        dec = mn + (code + 0.5) * (mx - mn) / SQ_LEVELS
        d = qi - dec
        return F.floor(d * d * F.lit(_KMEANS_SCALE)).cast("bigint")

    # one integer fold over the dimension index: literal-free,
    # loop-compiled (the rpq_encode device); integer partials are
    # associative, so the fold matches the oracle's order-free sum
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + _term(i))
    return (emb.crossJoin(F.broadcast(idx))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "label", adc.alias("adc_q"))
            .orderBy(F.col("adc_q").asc(), F.col("vec_id").asc())
            .limit(k))


def _sq8_oracle(query_vec_id: int = 2, k: int = 10,
                sample_mod: int = IVF_SAMPLE_MOD,
                dim: int = 64) -> str:
    scale = int(_KMEANS_SCALE)
    lv = SQ_LEVELS
    return f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
      FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
    rng AS (
      SELECT d.i, min(e.e[d.i]) AS mn, max(e.e[d.i]) AS mx
      FROM e CROSS JOIN dims d
      WHERE e.vec_id % {sample_mod} = 0 GROUP BY d.i),
    q AS (SELECT e FROM e WHERE vec_id = {query_vec_id}),
    adc AS (
      SELECT e.vec_id,
             CAST(sum(CAST(floor(
               (q.e[r.i] - (r.mn + (
                  CASE WHEN r.mx = r.mn THEN 0
                  ELSE LEAST({lv}.0, GREATEST(0.0,
                    floor((e.e[r.i] - r.mn) * {lv} / (r.mx - r.mn))))
                  END + 0.5) * (r.mx - r.mn) / {lv}))
               * (q.e[r.i] - (r.mn + (
                  CASE WHEN r.mx = r.mn THEN 0
                  ELSE LEAST({lv}.0, GREATEST(0.0,
                    floor((e.e[r.i] - r.mn) * {lv} / (r.mx - r.mn))))
                  END + 0.5) * (r.mx - r.mn) / {lv}))
               * {scale}.0) AS BIGINT)) AS BIGINT) AS adc_q
      FROM e CROSS JOIN q JOIN rng r ON TRUE
      WHERE e.vec_id != {query_vec_id}
      GROUP BY e.vec_id)
    SELECT e.vec_id, e.label, a.adc_q
    FROM adc a JOIN e USING (vec_id)
    ORDER BY a.adc_q ASC, e.vec_id ASC LIMIT {k}
    """


SQ8_TOPK_ORACLE = _sq8_oracle()


KNN_QUERY_IDS = (0, 5, 9, 13)
KNN_K = 5
_KNN_SALT = 8


def knn_join(embeddings: DataFrame, query_vec_ids=KNN_QUERY_IDS,
             k: int = KNN_K, n_salt: int = _KNN_SALT) -> DataFrame:
    """Per query_id: the k nearest corpus vectors by cosine (self
    excluded). Returns (query_id, vec_id, rank, cosine_sim) ordered by
    (query_id, rank)."""
    from pyspark.sql import Window

    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    ids = [int(i) for i in query_vec_ids]
    q = (emb.filter(F.col("vec_id").isin(ids))
         .select(F.col("vec_id").alias("query_id"),
                 F.col("e").alias("qe"),
                 _norm(F.col("e")).alias("nq")))
    sim = _dot(F.col("e"), F.col("qe")) / (_norm(F.col("e"))
                                           * F.col("nq"))
    scored = (emb.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id", sim.alias("cosine_sim")))
    salt = F.crc32(F.col("vec_id").cast("string")) % n_salt
    local = (scored.withColumn("salt", salt)
             .withColumn("lrn", F.row_number().over(
                 Window.partitionBy("query_id", "salt")
                 .orderBy(F.col("cosine_sim").desc(), "vec_id")))
             .filter(F.col("lrn") <= k)
             .drop("salt", "lrn"))
    final = (local.withColumn("rank", F.row_number().over(
        Window.partitionBy("query_id")
        .orderBy(F.col("cosine_sim").desc(), "vec_id"))
        .cast("bigint"))
        .filter(F.col("rank") <= k))
    return (final.select("query_id", "vec_id", "rank", "cosine_sim")
            .orderBy("query_id", "rank"))


def _knn_join_oracle(query_vec_ids=KNN_QUERY_IDS,
                     k: int = KNN_K) -> str:
    ids = ", ".join(str(int(i)) for i in query_vec_ids)
    cos = ("list_dot_product(e.e, q.qe) / "
           "(sqrt(list_dot_product(e.e, e.e))"
           " * sqrt(list_dot_product(q.qe, q.qe)))")
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, e AS qe FROM e
          WHERE vec_id IN ({ids})),
    ranked AS (
      SELECT q.query_id, e.vec_id, {cos} AS cosine_sim,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {cos} DESC, e.vec_id) AS rn
      FROM e CROSS JOIN q WHERE e.vec_id != q.query_id)
    SELECT query_id, vec_id, CAST(rn AS BIGINT) AS rank, cosine_sim
    FROM ranked WHERE rn <= {k} ORDER BY query_id, rank
    """


KNN_JOIN_ORACLE = _knn_join_oracle()


# --------------------------------------------------------------------------
# L3h multi-iteration Lloyd: the ITERATIVE-ALGORITHM scale pattern made
# hash-checkable. Each round is the _train_ivf step (sampled narrow
# assignment -> tiny integer shuffle of fixed-point sums), and because
# every round's centroids are exact functions of integer aggregates,
# round N's INPUT is bit-identical across engines — so an iterative
# float algorithm stays deterministic end to end. The oracle unrolls
# the same chain textually. At 100 TB each round costs one sampled
# pass; rounds are driver-sequenced like the pointer-jumping CC loop.
# --------------------------------------------------------------------------
def _train_kmeans(emb: DataFrame, n_centroids: int, sample_mod: int,
                  n_iters: int, cache_key=None) -> dict:
    """n_iters Lloyd rounds of the bit-stable fixed-point recipe
    (n_iters=1 == _train_ivf). Empty clusters keep their previous
    centroid each round."""
    return _ivf_memo(emb, cache_key,
                     ("kmeans", cache_key, n_centroids, sample_mod, n_iters),
                     lambda: _fit_kmeans(emb, n_centroids, sample_mod,
                                         n_iters))


def _fit_kmeans(emb: DataFrame, n_centroids: int, sample_mod: int,
                n_iters: int) -> dict:
    trained = {
        int(r["vec_id"]): [float(v) for v in r["e"]]
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", "e").collect()}
    dim = len(next(iter(trained.values())))
    quant_sums = [
        F.sum(F.floor(F.element_at("e", j + 1) * F.lit(_KMEANS_SCALE)))
        .alias(f"p{j}")
        for j in range(dim)]
    sample = emb.filter(F.col("vec_id") % sample_mod == 0)
    for _ in range(n_iters):
        rows = (sample.withColumn("ne", _norm(F.col("e")))
                .withColumn("cid", _assigned(trained).cast("int"))
                .groupBy("cid")
                .agg(F.count(F.lit(1)).alias("cnt"), *quant_sums)
                .collect())
        nxt = dict(trained)
        for r in rows:
            cnt = float(r["cnt"])
            nxt[int(r["cid"])] = [
                float(r[f"p{j}"]) / cnt / _KMEANS_SCALE
                for j in range(dim)]
        trained = nxt
    return trained


KMEANS_ITERS = 2


def kmeans_clusters(embeddings: DataFrame,
                    n_centroids: int = N_CENTROIDS,
                    sample_mod: int = IVF_SAMPLE_MOD,
                    n_iters: int = KMEANS_ITERS,
                    cache_key="kmeans2") -> DataFrame:
    """Assign the FULL corpus to the n_iters-round centroids and pin
    both the assignment and the trained centroids themselves: returns
    (cid, n_vecs, centroid_checksum) where centroid_checksum is the
    integer sum of floor(ce[j] * 2^20) — a bit-exact fingerprint of
    the iterated float centroid."""
    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    trained = _train_kmeans(emb, n_centroids, sample_mod, n_iters,
                            cache_key=cache_key)
    import math
    checks = {cid: sum(int(math.floor(v * _KMEANS_SCALE)) for v in ce)
              for cid, ce in trained.items()}
    check_col = None
    for cid in sorted(checks):
        w = F.when(F.col("cid") == cid, F.lit(checks[cid]))
        check_col = w if check_col is None else check_col.when(
            F.col("cid") == cid, F.lit(checks[cid]))
    assigned = (emb.withColumn("ne", _norm(F.col("e")))
                .withColumn("cid", _assigned(trained).cast("int")))
    return (assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
            .withColumn("centroid_checksum",
                        check_col.cast("bigint"))
            .orderBy("cid"))


def _kmeans_cte_parts(n_centroids: int, sample_mod: int,
                      n_iters: int):
    """The unrolled Lloyd-iteration CTE chain shared by every oracle
    that consumes the trained centroids (l3h checksums, l14 pruning):
    returns (parts, final_trained_name)."""
    scale = int(_KMEANS_SCALE)
    cos = _COS_SQL
    parts = [f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    dims AS (SELECT unnest(generate_series(
               1, (SELECT max(len(e)) FROM e))) AS i),
    trained0 AS (SELECT vec_id AS cid, e AS ce FROM e
                 WHERE vec_id < {n_centroids})"""]
    for it in range(n_iters):
        parts.append(f"""assign{it} AS (
      SELECT vec_id, e, cid FROM (
        SELECT e.vec_id, e.e, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN trained{it} c
        WHERE e.vec_id % {sample_mod} = 0) WHERE rn = 1
    ),
    tsum{it} AS (
      SELECT a.cid, d.i,
             CAST(sum(CAST(floor(a.e[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS s,
             count(*) AS cnt
      FROM assign{it} a CROSS JOIN dims d GROUP BY a.cid, d.i
    ),
    trained{it + 1} AS (
      SELECT p.cid, COALESCE(t.ce, p.ce) AS ce
      FROM trained{it} p LEFT JOIN (
        SELECT cid,
               list(CAST(s AS DOUBLE) / cnt / {scale}.0 ORDER BY i)
                 AS ce
        FROM tsum{it} GROUP BY cid) t USING (cid)
    )""")
    return parts, f"trained{n_iters}"


def _kmeans_oracle(n_centroids: int = N_CENTROIDS,
                   sample_mod: int = IVF_SAMPLE_MOD,
                   n_iters: int = KMEANS_ITERS) -> str:
    scale = int(_KMEANS_SCALE)
    cos = _COS_SQL
    parts, final = _kmeans_cte_parts(n_centroids, sample_mod, n_iters)
    parts.append(f"""assigned AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN {final} c) WHERE rn = 1
    ),
    checks AS (
      SELECT c.cid,
             CAST(sum(CAST(floor(c.ce[d.i] * {scale}.0) AS BIGINT))
                  AS BIGINT) AS centroid_checksum
      FROM {final} c CROSS JOIN dims d GROUP BY c.cid
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT a.cid, CAST(count(*) AS BIGINT) AS n_vecs,
           ch.centroid_checksum
    FROM assigned a JOIN checks ch ON a.cid = ch.cid
    GROUP BY a.cid, ch.centroid_checksum ORDER BY a.cid
    """


KMEANS_ORACLE = _kmeans_oracle()


# -- L14 prototypicality pruning (SSL-prototypes) ----------------------------

PROTO_PRUNE_MILLI = 250     # drop the most-prototypical 25% per cluster


def proto_prune(embeddings: DataFrame,
                n_centroids: int = N_CENTROIDS,
                sample_mod: int = IVF_SAMPLE_MOD,
                n_iters: int = KMEANS_ITERS,
                prune_milli: int = PROTO_PRUNE_MILLI,
                cache_key=None) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022,
    "Beyond neural scaling laws", arXiv:2206.14486): cluster the
    embedding space, score each example by its cosine to its OWN
    cluster centroid (prototypicality), and drop the most prototypical
    `prune_milli`/1000 fraction of every cluster — in the
    abundant-data regime, easy/prototypical examples contribute least
    to the loss, so pruning them beats random subsampling.

    Reuses the bit-stable fixed-point k-means of l3h (same
    `_train_kmeans` memo key, so a suite run trains once); the
    assignment is the same broadcast-literal-centroid argmax as l12 —
    one narrow codegen projection per row, no join. Ranking is one
    window per cid (shuffle on cid only); with n_centroids scaled to
    the corpus, per-cluster widths stay bounded, and the drop gate is
    the exact integer `proto_rank > cn * prune_milli DIV 1000` — no
    float fraction that could round differently across engines. At
    extreme skew the l11 histogram-cut-point rewrite applies per
    cluster; rank is kept here because the rank itself is the output.

    Returns the KEPT rows (vec_id, cid, proto_rank) — proto_rank 1 is
    the most prototypical survivor's predecessor-count + 1, i.e. rank
    within the cluster by cosine DESC, ties to smallest vec_id."""
    from pyspark.sql import Window

    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    trained = _train_kmeans(emb, n_centroids, sample_mod, n_iters,
                            cache_key=cache_key)
    best = F.greatest(*[
        F.struct(_cos_lit(vec).alias("s"), F.lit(-cid).alias("n"))
        for cid, vec in sorted(trained.items())])
    scored = (emb.withColumn("ne", _norm(F.col("e")))
              .withColumn("b", best)
              .select("vec_id",
                      (F.col("b")["n"] * -1).cast("int").alias("cid"),
                      F.col("b")["s"].alias("cos")))
    w = Window.partitionBy("cid").orderBy(F.desc("cos"), F.asc("vec_id"))
    cw = Window.partitionBy("cid")
    ranked = scored.select(
        "vec_id", "cid",
        F.row_number().over(w).cast("bigint").alias("proto_rank"),
        F.count(F.lit(1)).over(cw).alias("cn"))
    return (ranked
            .filter(F.col("proto_rank")
                    > F.expr(f"cn * {int(prune_milli)} DIV 1000"))
            .select("vec_id", "cid", "proto_rank")
            .orderBy("cid", "proto_rank"))


def _proto_prune_oracle(n_centroids: int = N_CENTROIDS,
                        sample_mod: int = IVF_SAMPLE_MOD,
                        n_iters: int = KMEANS_ITERS,
                        prune_milli: int = PROTO_PRUNE_MILLI) -> str:
    cos = _COS_SQL
    parts, final = _kmeans_cte_parts(n_centroids, sample_mod, n_iters)
    parts.append(f"""assigned AS (
      SELECT vec_id, cid, cos FROM (
        SELECT e.vec_id, c.cid,
               {cos.format(a='e.e', b='c.ce')} AS cos,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {cos.format(a='e.e', b='c.ce')} DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN {final} c) WHERE rn = 1
    ),
    ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY cid
               ORDER BY cos DESC, vec_id ASC) AS proto_rank,
             count(*) OVER (PARTITION BY cid) AS cn
      FROM assigned
    )""")
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT vec_id, CAST(cid AS INT) AS cid,
           CAST(proto_rank AS BIGINT) AS proto_rank
    FROM ranked WHERE proto_rank > cn * {int(prune_milli)} // 1000
    ORDER BY cid, proto_rank
    """


PROTO_PRUNE_ORACLE = _proto_prune_oracle()


# --------------------------------------------------------------------------
# L26 retrieval metrics (round 12): the eval harness a RAG / retrieval
# pipeline runs over its ANN results — recall@k, MRR, NDCG@k per query
# against a deterministic relevance rule (same `label` as the query
# vector: the class-retrieval protocol). All metrics are EXACT
# integers: MRR as 1000 // first_relevant_rank, recall as permille of
# the attainable hit count, and NDCG via a PRE-COMPUTED integer weight
# table w(i) = floor(10^6 / log2(i + 1)) baked textually into BOTH
# engines — the one float (log2) is evaluated once in Python, never
# per-engine, so no cross-libm ULP can split the hash. Composes the
# l3g kNN join (same k, same tie-breaks); at 100 TB the metrics add
# one broadcast label join + one per-query aggregate to the retrieval
# plan itself.
# --------------------------------------------------------------------------
import math as _m

NDCG_W = tuple(int(_m.floor(1_000_000 / _m.log2(i + 1)))
               for i in range(1, KNN_K + 1))
NDCG_PREFIX = tuple(sum(NDCG_W[:i]) for i in range(1, KNN_K + 1))


def retrieval_metrics(embeddings: DataFrame,
                      query_vec_ids=KNN_QUERY_IDS,
                      k: int = KNN_K) -> DataFrame:
    """Per query: (query_id, n_rel, n_hit, recall_permille, mrr_milli,
    ndcg_milli). n_rel counts same-label corpus vectors (self
    excluded); ideal DCG uses the first min(k, n_rel) weights."""
    res = knn_join(embeddings, query_vec_ids, k)
    lab = embeddings.select("vec_id",
                            F.col("label").cast("long").alias("lab"))
    qlab = (lab.filter(F.col("vec_id").isin(list(query_vec_ids)))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("lab").alias("qlab")))
    w_arr = F.array(*[F.lit(w) for w in NDCG_W])
    pre_arr = F.array(*[F.lit(p) for p in NDCG_PREFIX])

    hits = (res.join(lab, "vec_id")
            .join(F.broadcast(qlab), "query_id")
            .withColumn("rel", (F.col("lab") == F.col("qlab"))
                        .cast("int"))
            .groupBy("query_id")
            .agg(F.sum("rel").alias("n_hit"),
                 F.min(F.when(F.col("rel") == 1, F.col("rank")))
                 .alias("first_rank"),
                 F.sum(F.when(F.col("rel") == 1,
                              F.element_at(w_arr,
                                           F.col("rank").cast("int")))
                       .otherwise(0)).alias("dcg")))
    nrel = (lab.join(F.broadcast(qlab),
                     F.col("lab") == F.col("qlab"))
            .filter(F.col("vec_id") != F.col("query_id"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_rel")))
    attain = F.least(F.lit(k).cast("bigint"), F.col("n_rel"))
    idcg = F.element_at(pre_arr, attain.cast("int"))
    return (qlab.select("query_id")
            .join(hits, "query_id", "left")
            .join(nrel, "query_id", "left")
            .select(
                "query_id",
                F.coalesce("n_rel", F.lit(0)).cast("bigint")
                .alias("n_rel"),
                F.coalesce("n_hit", F.lit(0)).cast("bigint")
                .alias("n_hit"),
                F.when(F.coalesce("n_rel", F.lit(0)) == 0, F.lit(0))
                .otherwise(F.floor(F.coalesce("n_hit", F.lit(0))
                                   * 1000 / attain))
                .cast("bigint").alias("recall_permille"),
                F.when(F.col("first_rank").isNull(), F.lit(0))
                .otherwise(F.floor(1000 / F.col("first_rank")))
                .cast("bigint").alias("mrr_milli"),
                F.when((F.coalesce("n_rel", F.lit(0)) == 0)
                       | F.col("dcg").isNull(), F.lit(0))
                .otherwise(F.floor(F.col("dcg") * 1000 / idcg))
                .cast("bigint").alias("ndcg_milli"))
            .orderBy("query_id"))


def _retrieval_metrics_oracle(query_vec_ids=KNN_QUERY_IDS,
                              k: int = KNN_K) -> str:
    ids = ", ".join(str(int(i)) for i in query_vec_ids)
    w_list = ", ".join(str(w) for w in NDCG_W)
    p_list = ", ".join(str(p) for p in NDCG_PREFIX)
    return f"""
    WITH knn AS ({KNN_JOIN_ORACLE}),
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS lab
            FROM embeddings),
    qlab AS (SELECT vec_id AS query_id, lab AS qlab FROM lab
             WHERE vec_id IN ({ids})),
    wt AS (SELECT * FROM (VALUES ([{w_list}]::BIGINT[],
                                  [{p_list}]::BIGINT[]))
           t(w, pre)),
    hits AS (
      SELECT knn.query_id,
             sum(CASE WHEN l.lab = q.qlab THEN 1 ELSE 0 END) AS n_hit,
             min(CASE WHEN l.lab = q.qlab THEN knn.rank END)
               AS first_rank,
             sum(CASE WHEN l.lab = q.qlab
                 THEN wt.w[CAST(knn.rank AS INT)] ELSE 0 END) AS dcg
      FROM knn
      JOIN lab l ON l.vec_id = knn.vec_id
      JOIN qlab q ON q.query_id = knn.query_id
      CROSS JOIN wt
      GROUP BY knn.query_id),
    nrel AS (
      SELECT q.query_id, count(*) AS n_rel
      FROM lab l JOIN qlab q ON l.lab = q.qlab
      WHERE l.vec_id != q.query_id
      GROUP BY q.query_id)
    SELECT q.query_id,
           CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0
                ELSE COALESCE(h.n_hit, 0) * 1000
                     // LEAST({k}, n.n_rel) END AS BIGINT)
             AS recall_permille,
           CAST(CASE WHEN h.first_rank IS NULL THEN 0
                ELSE 1000 // h.first_rank END AS BIGINT) AS mrr_milli,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) = 0
                      OR h.dcg IS NULL THEN 0
                ELSE h.dcg * 1000
                     // wt.pre[CAST(LEAST({k}, n.n_rel) AS INT)]
                END AS BIGINT) AS ndcg_milli
    FROM qlab q
    LEFT JOIN hits h ON h.query_id = q.query_id
    LEFT JOIN nrel n ON n.query_id = q.query_id
    CROSS JOIN wt
    ORDER BY q.query_id
    """


RETRIEVAL_METRICS_ORACLE = _retrieval_metrics_oracle()


# --------------------------------------------------------------------------
# L26b PLANTED retrieval metrics (round 13): the l26 harness made
# INFORMATIVE at driver scale. l26's class-relevance rule is honest but
# vacuous on the fixture (random labels don't cluster in cosine space,
# so working and broken rankings both score ~0). Here relevance is
# derived from VECTOR GEOMETRY instead: for every query vector, k
# near-duplicate neighbors are PLANTED into the corpus inside the query
# itself — plant j perturbs coordinate j of the query by the exact
# power-of-two factor (1 + j/1024), giving cosine ~0.9999 vs the
# fixture's natural maximum ~0.39 — and relevance means "planted for
# this query". A working kNN ranking MUST retrieve all k plants at the
# top (recall/MRR/NDCG = 1000), a broken one scores ~0, so the
# driver-visible number finally discriminates. Both engines build the
# same derived corpus from the same arithmetic (the perturbation factor
# j/1024 is exactly representable, so the plants are bit-identical),
# and the metric math is the l26 integer contract unchanged. At 100 TB
# this is the standard "planted canary" retrieval regression test: the
# plants ride the normal broadcast-query kNN plan, adding |Q| x k rows.
# --------------------------------------------------------------------------
PLANT_BASE = 1_000_000_000
PLANT_STRIDE = 100


def _planted_corpus(emb: DataFrame, query_vec_ids, k: int) -> DataFrame:
    """(vec_id, e) corpus with k plants per query appended. Plant j of
    query q gets vec_id = PLANT_BASE + q * PLANT_STRIDE + j and vector
    q_e with element j scaled by (1 + j/1024) — exact dyadic factor,
    so Spark and the oracle synthesize bit-identical plants."""
    ids = [int(i) for i in query_vec_ids]
    factor = F.lit(1.0) + F.col("j").cast("double") / F.lit(1024.0)
    plants = (emb.filter(F.col("vec_id").isin(ids))
              .select(F.col("vec_id").alias("qid"), "e")
              .withColumn("j", F.explode(F.sequence(F.lit(1), F.lit(k))))
              .select(
                  (F.lit(PLANT_BASE) + F.col("qid") * PLANT_STRIDE
                   + F.col("j")).alias("vec_id"),
                  F.transform(
                      "e",
                      lambda x, i: F.when(i == F.col("j") - 1, x * factor)
                      .otherwise(x)).alias("e")))
    return emb.select("vec_id", "e").unionByName(plants)


def planted_retrieval_metrics(embeddings: DataFrame,
                              query_vec_ids=KNN_QUERY_IDS,
                              k: int = KNN_K) -> DataFrame:
    """Per query: (query_id, n_rel, n_hit, recall_permille, mrr_milli,
    ndcg_milli) against the planted-neighbor relevance rule. All
    metrics integer-exact (the l26 contract); a correct kNN scores
    1000/1000/1000 per query, pinned by test as the metric floor."""
    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    ids = [int(i) for i in query_vec_ids]
    aug = _planted_corpus(emb, ids, k)
    res = knn_join(aug.select("vec_id", F.col("e").alias("embedding")),
                   ids, k)

    rel = ((F.col("vec_id") >= PLANT_BASE)
           & (F.expr(f"(vec_id - {PLANT_BASE}) div {PLANT_STRIDE}")
              == F.col("query_id"))).cast("int")
    w_arr = F.array(*[F.lit(w) for w in NDCG_W])
    pre_arr = F.array(*[F.lit(p) for p in NDCG_PREFIX])
    hits = (res.withColumn("rel", rel)
            .groupBy("query_id")
            .agg(F.sum("rel").alias("n_hit"),
                 F.min(F.when(F.col("rel") == 1, F.col("rank")))
                 .alias("first_rank"),
                 F.sum(F.when(F.col("rel") == 1,
                              F.element_at(w_arr,
                                           F.col("rank").cast("int")))
                       .otherwise(0)).alias("dcg")))
    nrel = (aug.filter(F.col("vec_id") >= PLANT_BASE)
            .select(F.expr(f"(vec_id - {PLANT_BASE}) div {PLANT_STRIDE}")
                    .alias("query_id"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n_rel")))
    attain = F.least(F.lit(k).cast("bigint"), F.col("n_rel"))
    idcg = F.element_at(pre_arr, attain.cast("int"))
    qframe = emb.filter(F.col("vec_id").isin(ids)).select(
        F.col("vec_id").alias("query_id"))
    return (qframe
            .join(hits, "query_id", "left")
            .join(nrel, "query_id", "left")
            .select(
                "query_id",
                F.coalesce("n_rel", F.lit(0)).cast("bigint")
                .alias("n_rel"),
                F.coalesce("n_hit", F.lit(0)).cast("bigint")
                .alias("n_hit"),
                F.when(F.coalesce("n_rel", F.lit(0)) == 0, F.lit(0))
                .otherwise(F.floor(F.coalesce("n_hit", F.lit(0))
                                   * 1000 / attain))
                .cast("bigint").alias("recall_permille"),
                F.when(F.col("first_rank").isNull(), F.lit(0))
                .otherwise(F.floor(1000 / F.col("first_rank")))
                .cast("bigint").alias("mrr_milli"),
                F.when((F.coalesce("n_rel", F.lit(0)) == 0)
                       | F.col("dcg").isNull(), F.lit(0))
                .otherwise(F.floor(F.col("dcg") * 1000 / idcg))
                .cast("bigint").alias("ndcg_milli"))
            .orderBy("query_id"))


def _planted_retrieval_metrics_oracle(query_vec_ids=KNN_QUERY_IDS,
                                      k: int = KNN_K) -> str:
    ids = ", ".join(str(int(i)) for i in query_vec_ids)
    w_list = ", ".join(str(w) for w in NDCG_W)
    p_list = ", ".join(str(p) for p in NDCG_PREFIX)
    cos = ("list_dot_product(a.e, q.qe) / "
           "(sqrt(list_dot_product(a.e, a.e))"
           " * sqrt(list_dot_product(q.qe, q.qe)))")
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    js AS (SELECT unnest(generate_series(1, {k})) AS j),
    plants AS (
      SELECT {PLANT_BASE} + e.vec_id * {PLANT_STRIDE} + js.j AS vec_id,
             list_transform(generate_series(1, len(e.e)),
               i -> CASE WHEN i = js.j
                         THEN e.e[i] * (1.0 + js.j / 1024.0)
                         ELSE e.e[i] END) AS e
      FROM e CROSS JOIN js WHERE e.vec_id IN ({ids})),
    aug AS (SELECT vec_id, e FROM e
            UNION ALL SELECT vec_id, e FROM plants),
    q AS (SELECT vec_id AS query_id, e AS qe FROM e
          WHERE vec_id IN ({ids})),
    ranked AS (
      SELECT q.query_id, a.vec_id,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY {cos} DESC, a.vec_id) AS rn
      FROM aug a CROSS JOIN q WHERE a.vec_id != q.query_id),
    knn AS (SELECT query_id, vec_id, CAST(rn AS BIGINT) AS rank
            FROM ranked WHERE rn <= {k}),
    wt AS (SELECT * FROM (VALUES ([{w_list}]::BIGINT[],
                                  [{p_list}]::BIGINT[]))
           t(w, pre)),
    relknn AS (
      SELECT query_id, vec_id, rank,
             CASE WHEN vec_id >= {PLANT_BASE}
                   AND (vec_id - {PLANT_BASE}) // {PLANT_STRIDE}
                       = query_id
                  THEN 1 ELSE 0 END AS rel
      FROM knn),
    hits AS (
      SELECT query_id,
             sum(rel) AS n_hit,
             min(CASE WHEN rel = 1 THEN rank END) AS first_rank,
             sum(CASE WHEN rel = 1
                 THEN wt.w[CAST(rank AS INT)] ELSE 0 END) AS dcg
      FROM relknn CROSS JOIN wt
      GROUP BY query_id),
    nrel AS (
      SELECT (vec_id - {PLANT_BASE}) // {PLANT_STRIDE} AS query_id,
             count(*) AS n_rel
      FROM plants GROUP BY 1)
    SELECT q.query_id,
           CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) = 0 THEN 0
                ELSE COALESCE(h.n_hit, 0) * 1000
                     // LEAST({k}, n.n_rel) END AS BIGINT)
             AS recall_permille,
           CAST(CASE WHEN h.first_rank IS NULL THEN 0
                ELSE 1000 // h.first_rank END AS BIGINT) AS mrr_milli,
           CAST(CASE WHEN COALESCE(n.n_rel, 0) = 0
                      OR h.dcg IS NULL THEN 0
                ELSE h.dcg * 1000
                     // wt.pre[CAST(LEAST({k}, n.n_rel) AS INT)]
                END AS BIGINT) AS ndcg_milli
    FROM q
    LEFT JOIN hits h ON h.query_id = q.query_id
    LEFT JOIN nrel n ON n.query_id = q.query_id
    CROSS JOIN wt
    ORDER BY q.query_id
    """


PLANTED_RETRIEVAL_METRICS_ORACLE = _planted_retrieval_metrics_oracle()
