"""L1/L2 deduplication operators (SURVEY §2.8).

Exact dedup, MinHash+LSH candidate pairs, SimHash signatures, and n-gram
Jaccard — each with a DuckDB oracle built on the same md5-derived 32-bit
hash primitive (functions/hashing.py) so both engines agree bit-for-bit.

Scale notes:
- exact dedup: one hash-shuffle on the content hash; partial agg map-side.
- minhash: shingle explode is narrow; the signature groupBy shuffles once on
  doc_id; band self-join shuffles on (band, key). Hot buckets are bounded
  two ways: (1) exact-duplicate texts collapse to one representative
  BEFORE banding (_dedup_reps — mass-duplicated boilerplate, the dominant
  real-corpus skew source, contributes one bucket member instead of k);
  (2) a hard per-bucket width cap (MAX_BUCKET_WIDTH, keep-lowest-doc_id,
  mirrored exactly in the oracle) bounds the residual worst case to
  O(cap^2) pairs per bucket task. AQE skew-join covers the rest.
- simhash: a single groupBy(doc_id) with 32 conditional sums — partial
  aggregation makes the shuffle tiny.
- jaccard: shingle-equi-join restricted within (lang, source) blocks to
  bound the candidate space (blocked near-dup join, the standard trick when
  a full cross join is infeasible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioio_spark import session
from bioio_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MOD,
    NUM_MINHASH,
    h32_col,
    h32_sql,
)

N_BANDS = 4
ROWS_PER_BAND = NUM_MINHASH // N_BANDS

# Hard per-bucket width cap for LSH pair enumeration: a bucket wider than
# this keeps only its `cap` lowest doc_ids (deterministic, oracle-mirrored).
# After exact-dup collapse a wider bucket means >cap DISTINCT texts agree on
# a full band — at that point the band key carries no discriminating power
# and enumerating O(k^2) pairs in one task is a liability, not recall.
MAX_BUCKET_WIDTH = 256

_SHINGLE_SPARK = None   # built lazily below
_WS = r"\s+"

import logging

log = logging.getLogger(__name__)


# -- L1 exact dedup --------------------------------------------------------

def exact_dedup_groups(documents: DataFrame) -> DataFrame:
    """Group documents by content hash; keep the lowest doc_id per group."""
    return (
        documents.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
        .orderBy("content_hash")
    )


EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY content_hash ORDER BY content_hash
"""


# -- shingling helpers -----------------------------------------------------

def _shingled(documents: DataFrame, *extra_cols: str) -> DataFrame:
    """Project (doc_id, *extra_cols, sh) with distinct 3-word shingles.

    Words are materialized as a column attribute *before* the shingle lambda
    so the regex split runs once per document — referencing the split
    expression directly inside the lambda would re-evaluate it per element
    (measured 8x slowdown on the minhash pipeline at sf0.1)."""
    words = documents.select(
        "doc_id", *extra_cols,
        F.split(F.trim(F.col("text")), _WS).alias("words"))
    sh = F.transform(
        F.sequence(F.lit(0), F.size("words") - 3),
        lambda i: F.concat_ws(
            " ", F.element_at(F.col("words"), i + 1),
            F.element_at(F.col("words"), i + 2),
            F.element_at(F.col("words"), i + 3)))
    # guard: <3 words would make sequence() run descending into negatives
    sh = F.when(F.size("words") >= 3, sh).otherwise(
        F.array().cast("array<string>"))
    # NOTE: no size()-filter on sh here — Catalyst pushes such a predicate
    # below this projection, substituting the full shingle expression into
    # the filter (3x re-evaluation per row, measured ~7s at sf0.1); explode
    # drops empty arrays on its own.
    return words.select(
        "doc_id", *extra_cols, F.array_distinct(sh).alias("sh"))


_SHINGLE_SQL = r"""
list_distinct(list_transform(
  generate_series(1, len(regexp_split_to_array(trim(text), '\s+')) - 2),
  i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
       regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
       regexp_split_to_array(trim(text), '\s+')[i+2]))
"""


# -- L2 MinHash + LSH ------------------------------------------------------

def minhash_signatures(documents: DataFrame) -> DataFrame:
    """Per-document minhash signature columns s0..s{n-1}."""
    docs = _shingled(documents)
    exploded = docs.select("doc_id", F.explode("sh").alias("shingle"))
    hp = (h32_col(F.col("shingle")) % MOD).alias("hp")
    exploded = exploded.select("doc_id", hp)
    aggs = [
        F.min((F.col("hp") * MINHASH_A[i] + MINHASH_B[i]) % MOD)
        .alias(f"s{i}")
        for i in range(NUM_MINHASH)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def _dedup_reps(documents: DataFrame, *group_cols: str) -> DataFrame:
    """Exact-duplicate collapse: one representative row (lowest doc_id) per
    distinct text (within *group_cols blocks).

    Shuffle discipline: the aggregation ships only (group_cols, md5, doc_id)
    — never the text itself (md5 is a narrow map-side projection; the
    shuffle rows are ~40 bytes regardless of document size). The surviving
    ids then JOIN BACK to `documents` on doc_id to recover the text: the
    corpus side reuses its existing doc_id hash partitioning (the load-time
    fan-out), so the join moves only the id set and the representative rows
    come out already spread across the cluster — which also sidesteps AQE
    coalescing the small dedup shuffle under the expensive downstream
    narrow work (shingling, minhash). Joining on doc_id alone is exact:
    a doc_id identifies one row, and every text in its group is identical
    by construction (the previous min(text) and the joined-back text agree
    byte-for-byte, so the DuckDB oracle keeps its min(text) form).

    The deduped corpus is a MULTI-CONSUMER materialization point (l2
    banding, l2c jaccard blocks, l6 cluster resolution all start from it),
    so the frame is persisted MEMORY_AND_DISK and memoized per
    (input frame, group_cols) with session.memo — each consumer reads the
    materialized representatives instead of re-running the collapse. At
    100 TB this is the standard "write the deduped corpus once" stage of a
    training-data pipeline (disk-backed, spill-safe)."""
    # a DataFrame hashes by identity, so the key pins this input frame
    return session.memo(documents.sparkSession, "reps",
                        (documents, group_cols),
                        lambda: _collapse(documents, group_cols))


def _collapse(documents: DataFrame, group_cols: tuple) -> DataFrame:
    keep = (documents
            .groupBy(*group_cols, F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id"))
    reps = documents.join(keep, "doc_id").select(
        "doc_id", *group_cols, "text")
    from pyspark import StorageLevel
    return reps.persist(StorageLevel.MEMORY_AND_DISK)


def _bucket_pairs(df: DataFrame, bucket_cols: list[str], id_col: str,
                  max_width: int | None = None) -> DataFrame:
    """All (a < b) id pairs within each bucket, pipeline computed ONCE.

    A self-join on the bucket key would recompute the (expensive) upstream
    plan for both join sides; instead: groupBy(bucket) -> sorted id list ->
    enumerate pairs with nested array transforms -> explode. Output columns:
    doc_a, doc_b (one row per pair per bucket; caller dedups).

    max_width caps each bucket to its `max_width` lowest ids before pair
    enumeration (the SQL mirror is row_number() OVER (PARTITION BY bucket
    ORDER BY id) <= max_width), bounding per-task pair work to
    O(max_width^2) however pathological the bucket."""
    ids = F.sort_array(F.collect_set(id_col)).alias("ids")
    grouped = df.groupBy(*bucket_cols).agg(ids).filter(F.size("ids") >= 2)
    if max_width is not None:
        log.info("bucket pair enumeration capped at %d ids/bucket",
                 max_width)
        grouped = grouped.withColumn(
            "ids", F.slice("ids", 1, max_width))
    pairs = F.flatten(F.transform(
        "ids",
        lambda x, i: F.transform(
            F.slice("ids", i + 2, F.size("ids")),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")))))
    return (grouped.select(F.explode(pairs).alias("p"))
            .select(F.col("p.doc_a").alias("doc_a"),
                    F.col("p.doc_b").alias("doc_b")))


def _banded(sig: DataFrame) -> DataFrame:
    """Signature frame -> (doc_id, band, key) LSH band rows."""
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"s{b * ROWS_PER_BAND + r}").cast("string")
                 for r in range(ROWS_PER_BAND)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"),
                     F.md5(F.concat_ws(",", *parts)).alias("key")))
    return (
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
    )


def minhash_candidate_pairs(documents: DataFrame, sort: bool = True,
                            max_bucket_width: int | None = MAX_BUCKET_WIDTH
                            ) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become a pair.

    Exact-duplicate texts are collapsed to one representative before
    signing/banding (l1 composes BEFORE l2 in the dedup pipeline — exact
    copies need no MinHash to be found, and a mass-duplicated document
    would otherwise put k identical signatures in every band bucket and
    build k^2/2 pairs in a single task). Bucket width is further hard-
    capped at max_bucket_width (keep-lowest-doc_id, oracle-mirrored).

    sort=False skips the final range-partition exchange — downstream
    consumers that re-shuffle anyway (cluster resolution) should not pay
    for a global sort they immediately destroy."""
    reps = _dedup_reps(documents)
    banded = _banded(minhash_signatures(reps))
    pairs = _bucket_pairs(banded, ["band", "key"], "doc_id",
                          max_width=max_bucket_width).distinct()
    return pairs.orderBy("doc_a", "doc_b") if sort else pairs


def _minhash_sql_core(source: str = "documents",
                      dedup: bool = True, suffix: str = "") -> str:
    """CTE chain ending in sig{suffix}(doc_id, s0..s{n-1}); the suffix
    lets two independent corpora (index + delta, l2g) instantiate the
    chain side by side in one WITH."""
    mins = ", ".join(
        f"min((hp * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MOD}) AS s{i}"
        for i in range(NUM_MINHASH))
    dd = (f"SELECT min(doc_id) AS doc_id, min(text) AS text "
          f"FROM {source} GROUP BY md5(text)"
          if dedup else f"SELECT doc_id, text FROM {source}")
    return f"""
    mh_dd{suffix} AS ({dd}),
    shingled{suffix} AS (
      SELECT doc_id, {_SHINGLE_SQL.strip()} AS sh
      FROM mh_dd{suffix}
    ),
    hashed{suffix} AS (
      SELECT doc_id, {h32_sql('shingle')} % {MOD} AS hp
      FROM (SELECT doc_id, unnest(sh) AS shingle FROM shingled{suffix}
            WHERE len(sh) >= 1)
    ),
    sig{suffix} AS (
      SELECT doc_id, {mins} FROM hashed{suffix} GROUP BY doc_id
    )"""


def _banded_sql(suffix: str = "") -> str:
    """banded CTE body (requires a preceding `sig{suffix}` CTE)."""
    band_rows = []
    for b in range(N_BANDS):
        parts = " || ',' || ".join(
            f"CAST(s{b * ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(ROWS_PER_BAND))
        band_rows.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS key "
            f"FROM sig{suffix}")
    return " UNION ALL ".join(band_rows)


def minhash_pairs_cte(source: str = "documents",
                      cap: int = MAX_BUCKET_WIDTH,
                      name: str = "pairs") -> str:
    """CTE chain (no WITH keyword) ending in {name}(doc_a, doc_b) —
    shared by the pairs oracle and downstream consumers (cluster
    resolution, crossmodal composition — `name` renames just the
    terminal CTE so composed oracles can reserve `pairs` for their own
    union). Mirrors the Spark pipeline exactly: exact-dup collapse
    (mh_dd), band keys, keep-lowest-doc_id bucket cap, pair
    enumeration."""
    return f"""{_minhash_sql_core(source)},
    banded AS ({_banded_sql()}),
    capped AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, band, key,
               row_number() OVER (PARTITION BY band, key
                                  ORDER BY doc_id) AS rn
        FROM banded) WHERE rn <= {cap}
    ),
    {name} AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM capped a JOIN capped b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )"""


MINHASH_ORACLE = (
    f"WITH {minhash_pairs_cte()} "
    "SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b")


# -- L2 SimHash ------------------------------------------------------------

def simhash_signatures(documents: DataFrame) -> DataFrame:
    """32-bit simhash over word hashes (with multiplicity).

    Fully narrow: the word array never explodes — per-row higher-order
    functions hash each word once and count per-bit majorities inside the
    row, so the operator is a pure codegen projection with ZERO shuffles
    (the explode + groupBy(doc_id) formulation pays a wide exchange for
    what is row-local arithmetic).
    """
    words = F.split(F.trim(F.col("text")), _WS)
    with_hs = documents.select(
        "doc_id",
        F.transform(words, lambda w: h32_col(w)).alias("hs"))
    n = F.size(F.col("hs"))
    sig = None
    for b in range(32):
        ones = F.size(F.filter(
            F.col("hs"),
            lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1))
        bit = F.when(ones * 2 > n, F.lit(2 ** b).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig + bit
    return (with_hs.select("doc_id", sig.alias("simhash"))
            .orderBy("doc_id"))


def _simhash_oracle() -> str:
    ones = ", ".join(
        f"sum((h // {2 ** b}) % 2) AS ones_{b}" for b in range(32))
    sig = " + ".join(
        f"CASE WHEN ones_{b} * 2 > n THEN CAST({2 ** b} AS BIGINT) "
        f"ELSE 0 END"
        for b in range(32))
    return f"""
    WITH hashed AS (
      SELECT doc_id, {h32_sql('w')} AS h
      FROM (SELECT doc_id,
                   unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
            FROM documents)
    ),
    counted AS (
      SELECT doc_id, count(*) AS n, {ones} FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, {sig} AS simhash FROM counted ORDER BY doc_id
    """


SIMHASH_ORACLE = _simhash_oracle()


# -- L2 n-gram Jaccard -----------------------------------------------------

JACCARD_THRESHOLD = 0.05


def ngram_jaccard_pairs(documents: DataFrame) -> DataFrame:
    """Jaccard over distinct 3-gram shingles, blocked by (lang, source).

    The shingle-set size rides along as a struct field through the explode
    and the pair enumeration, so |A|/|B| are already on every pair row —
    one pass over the shingle pipeline and zero size-lookup joins (the
    previous plan shingled twice and shuffled twice more for the joins).

    Exact duplicates collapse per (lang, source) block before shingling —
    identical texts have Jaccard 1 by definition and would otherwise
    multiply every shingle bucket they touch. No width cap here: shingle
    buckets feed intersection COUNTS (capping would bias similarity), and
    the (lang, source) blocking plus dup collapse bound them.
    """
    reps = _dedup_reps(
        documents.select("doc_id", "lang", "source", "text"),
        "lang", "source")
    docs = _shingled(reps, "lang", "source")
    ex = docs.select(
        F.struct("doc_id", F.size("sh").alias("n_sh")).alias("doc"),
        "lang", "source", F.explode("sh").alias("shingle"))
    # each (lang, source, shingle) bucket contributes 1 to the intersection
    # of every doc pair in it; shingles are distinct per doc, so counting
    # pair occurrences across buckets = |A ∩ B|. Structs sort by doc_id
    # first, so pair order (doc_a < doc_b) is preserved.
    pairs = _bucket_pairs(ex, ["lang", "source", "shingle"], "doc")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .select(
            F.col("doc_a.doc_id").alias("doc_a"),
            F.col("doc_b.doc_id").alias("doc_b"),
            "n_inter",
            (F.col("n_inter")
             / (F.col("doc_a.n_sh") + F.col("doc_b.n_sh")
                - F.col("n_inter"))).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .orderBy("doc_a", "doc_b")
    )


JACCARD_ORACLE = f"""
WITH jc_dd AS (
  SELECT lang, source, min(doc_id) AS doc_id, min(text) AS text
  FROM documents GROUP BY lang, source, md5(text)
),
shingled AS (
  SELECT doc_id, lang, source, {_SHINGLE_SQL.strip()} AS sh
  FROM jc_dd
),
docs AS (SELECT * FROM shingled WHERE len(sh) >= 1),
sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
ex AS (SELECT doc_id, lang, source, unnest(sh) AS shingle FROM docs),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM ex a JOIN ex b
    ON a.shingle = b.shingle AND a.lang = b.lang AND a.source = b.source
   AND a.doc_id < b.doc_id
  GROUP BY doc_a, doc_b
)
SELECT i.doc_a, i.doc_b, i.n_inter,
       i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.n_inter / CAST(sa.n_sh + sb.n_sh - i.n_inter AS DOUBLE)
      >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# -- L9 train/eval decontamination ----------------------------------------

def decontamination(documents: DataFrame, eval_mod: int = 10) -> DataFrame:
    """Benchmark-decontamination check: which held-out (eval) documents
    share word-3-gram shingles with the training split?

    The split is content-stable hashing (doc_id -> eval iff h % eval_mod
    == 0 — same reproducibility argument as hash sampling). The overlap is
    an equi join on the shingle hash: train-side distinct shingles shuffle
    once on the shingle key; contaminated eval docs aggregate shared-
    shingle counts. At 100 TB the train shingle set is the big side and
    stays hash-partitioned; no broadcasts of corpus-sized state.
    """
    from bioio_spark.functions.hashing import h32_col as _h

    sh = _shingled(documents)
    is_eval = (_h(F.concat(F.lit("split:"),
                           F.col("doc_id").cast("string")))
               % eval_mod) == 0
    ex = (sh.withColumn("is_eval", is_eval)
          .select("doc_id", "is_eval", F.explode("sh").alias("shingle")))
    train = (ex.filter(~F.col("is_eval"))
             .select("shingle").distinct())
    return (ex.filter(F.col("is_eval"))
            .join(train, "shingle")
            .groupBy("doc_id")
            .agg(F.countDistinct("shingle").alias("n_shared_shingles"))
            .orderBy("doc_id"))


def decontamination_oracle(eval_mod: int = 10) -> str:
    split = h32_sql("'split:' || CAST(doc_id AS VARCHAR)")
    return f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SHINGLE_SQL}) AS shingle FROM documents),
    tagged AS (
      SELECT doc_id, shingle, {split} % {eval_mod} = 0 AS is_eval
      FROM sh),
    train AS (SELECT DISTINCT shingle FROM tagged WHERE NOT is_eval)
    SELECT t.doc_id, count(DISTINCT t.shingle) AS n_shared_shingles
    FROM tagged t JOIN train USING (shingle)
    WHERE t.is_eval GROUP BY t.doc_id ORDER BY t.doc_id
    """


# --------------------------------------------------------------------------
# L2e: embedding-cosine near-duplicate DEDUP — the decision layer over the
# hyperplane-LSH candidate pairs (similarity.lsh_near_duplicates finds the
# pairs; this keeps one representative per near-dup set). Greedy
# keep-lowest-id: a vector survives iff NO lower-id vector in its sign
# bucket has cosine >= threshold — single-pass, deterministic under task
# retries, and the rule SemDeDup-style embedding dedup pipelines use.
#
# Scale shape: the only wide op is the bucket self-join, which inherits the
# l3b machinery (sign buckets bound candidates; AQE handles bucket skew);
# the decision is a partial-combining count per vec — no iteration, no
# transitive closure, no driver-side state at any size. A hard per-bucket
# pairing cap (max_width, default MAX_BUCKET_WIDTH — the l2d pattern,
# oracle-mirrored) bounds the worst task to O(max_width^2) pairs: only a
# bucket's max_width lowest vec_ids enter the self-join, so a degenerate
# bucket (near-identical embeddings — exactly what dedup corpora contain)
# cannot go quadratic; rows beyond the cap are kept verbatim.
# --------------------------------------------------------------------------
def embedding_near_dup_dedup(embeddings: DataFrame,
                             threshold: float = 0.3,
                             max_width: int = MAX_BUCKET_WIDTH
                             ) -> DataFrame:
    """Per vec_id: the number of LOWER-ID near-duplicates among the
    `max_width` lowest vec_ids of its sign bucket, and the keep
    decision (keep iff that count is 0).

    Returns (vec_id, n_dup_lower, keep) sorted by vec_id.
    """
    from bioio_spark.functions.similarity import (N_SIGN_BITS, _dot,
                                                  _norm, _to_double)

    emb = embeddings.select(
        "vec_id", _to_double(F.col("embedding")).alias("e"))
    bucket = None
    for b in range(N_SIGN_BITS):
        bit = F.when(F.element_at(F.col("e"), b + 1) >= 0,
                     F.lit(2 ** b)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    emb = emb.withColumn("bucket", bucket.cast("int"))
    from pyspark.sql import Window
    capped = (emb.withColumn(
        "rn", F.row_number().over(
            Window.partitionBy("bucket").orderBy("vec_id")))
        .filter(F.col("rn") <= max_width)
        .drop("rn"))
    a, b_ = capped.alias("a"), capped.alias("b")
    sim = _dot(F.col("a.e"), F.col("b.e")) / (
        _norm(F.col("a.e")) * _norm(F.col("b.e")))
    dup_counts = (
        a.join(b_, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .filter(sim >= threshold)
        .groupBy(F.col("b.vec_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_dup_lower")))
    return (emb.select("vec_id")
            .join(dup_counts, "vec_id", "left")
            .select("vec_id",
                    F.coalesce(F.col("n_dup_lower"),
                               F.lit(0)).cast("bigint")
                    .alias("n_dup_lower"))
            .withColumn("keep",
                        (F.col("n_dup_lower") == 0).cast("bigint"))
            .orderBy("vec_id"))


def _embedding_dedup_oracle(threshold: float = 0.3,
                            max_width: int = MAX_BUCKET_WIDTH) -> str:
    from bioio_spark.functions.similarity import N_SIGN_BITS

    bits = " + ".join(
        f"CASE WHEN e[{b + 1}] >= 0 THEN {2 ** b} ELSE 0 END"
        for b in range(N_SIGN_BITS))
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    bucketed AS (SELECT vec_id, e, CAST({bits} AS INTEGER) AS bucket
                 FROM e),
    capped AS (
      SELECT vec_id, e, bucket FROM (
        SELECT vec_id, e, bucket,
               row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
                 AS rn
        FROM bucketed) WHERE rn <= {max_width}
    ),
    dups AS (
      SELECT b.vec_id, count(*) AS n_dup_lower
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= {threshold}
      GROUP BY b.vec_id)
    SELECT e.vec_id,
           CAST(coalesce(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
           CAST(coalesce(d.n_dup_lower, 0) = 0 AS BIGINT) AS keep
    FROM e LEFT JOIN dups d ON e.vec_id = d.vec_id
    ORDER BY e.vec_id
    """


EMBEDDING_DEDUP_ORACLE = _embedding_dedup_oracle()


# -- L2f exact n-gram substring-span coverage --------------------------------

from bioio_spark.functions.text import _words  # noqa: E402

SPAN_K = 3                       # shingle width (words)
SPAN_KEEP_MILLI = 200            # keep iff covered fraction <= 20.0%


def ngram_span_coverage(documents: DataFrame, k: int = SPAN_K,
                        keep_milli: int = SPAN_KEEP_MILLI) -> DataFrame:
    """Exact substring-duplication coverage at n-gram granularity (the
    practical form of Lee et al. 2022's exact-substring dedup, arXiv
    2107.06499: a k-word shingle occurring in >= 2 DISTINCT documents
    marks its k-token span as duplicated; a document's covered-token
    fraction is the dedup signal). Per doc: token count, the number of
    token positions covered by any cross-document-duplicated shingle
    (distinct positions — overlapping spans count once), and the exact
    integer keep gate `n_covered * 1000 <= keep_milli * n_tokens`.

    Scale: positioned-shingle explode (narrow, xK rows), one
    partial-combining distinct-doc count on the shingle key, a
    shingle-keyed join back, then the covered-token count via an
    INTERVAL-UNION SWEEP — per doc, duplicated start positions are
    strictly increasing, so |union of [pos, pos+k-1]| =
    k + sum(min(k, pos_i - pos_{i-1})), one lag window partitioned by
    doc_id (bounded by the doc's own positions) — no xk span explode
    and no distinct. All integers; no RNG, no floats.

    Returns (doc_id, n_tokens, n_covered, keep) by doc_id."""
    words = _words(F.col("text"))
    n = F.size(words)
    # 1-based positions, matching the oracle's generate_series
    idxs = F.when(n >= k, F.sequence(F.lit(1), n - k + 1)) \
        .otherwise(F.array().cast("array<int>"))
    sh = F.concat_ws(" ", *[F.element_at(F.col("ws"), F.col("i") + j)
                            for j in range(k)])
    pos_sh = (documents
              .select("doc_id", words.alias("ws"),
                      F.explode(idxs).alias("i"))
              .select("doc_id", F.col("i").alias("pos"),
                      sh.alias("sh")))
    dup = (pos_sh.groupBy("sh")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("sh"))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos").over(w)
    gain = (F.when(prev.isNull(), F.lit(k))
            .otherwise(F.least(F.lit(k), F.col("pos") - prev)))
    covered = (pos_sh.join(dup, "sh")
               .select("doc_id", "pos")
               .withColumn("g", gain)
               .groupBy("doc_id")
               .agg(F.sum("g").alias("n_covered")))
    return (documents.select("doc_id", n.cast("bigint")
                             .alias("n_tokens"))
            .join(covered, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_covered", F.lit(0)).cast("bigint")
                    .alias("n_covered"))
            .withColumn(
                "keep",
                (F.col("n_covered") * 1000
                 <= F.lit(keep_milli) * F.col("n_tokens"))
                .cast("bigint"))
            .orderBy("doc_id"))


SPAN_COVERAGE_ORACLE = rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
  FROM documents),
ps AS (
  SELECT w.doc_id, t.i AS pos,
         w.ws[t.i] || ' ' || w.ws[t.i+1] || ' ' || w.ws[t.i+2] AS sh
  FROM w, unnest(generate_series(1, len(w.ws) - {SPAN_K - 1})) t(i)
  WHERE len(w.ws) >= {SPAN_K}),
dup AS (SELECT sh FROM ps GROUP BY sh
        HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT doc_id,
         CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   IS NULL THEN {SPAN_K}
              ELSE least({SPAN_K}, pos - lag(pos)
                     OVER (PARTITION BY doc_id ORDER BY pos)) END AS g
  FROM (SELECT ps.doc_id, ps.pos FROM ps JOIN dup USING (sh)) d),
per_doc AS (SELECT doc_id, sum(g) AS n FROM cov GROUP BY doc_id)
SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(p.n, 0) AS BIGINT) AS n_covered,
       CAST(CASE WHEN coalesce(p.n, 0) * 1000
                      <= {SPAN_KEEP_MILLI} * len(w.ws)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM w LEFT JOIN per_doc p USING (doc_id) ORDER BY w.doc_id
"""


# -- L9b Bloom-filter decontamination ----------------------------------------

BLOOM_WORDS = 64                # filter = 64 bigint words
BLOOM_BITS = 32                 # usable bits per word (sign-safe)
BLOOM_M = BLOOM_WORDS * BLOOM_BITS     # 2048 bits
BLOOM_J = 4                     # hash functions


def bloom_decontamination(documents: DataFrame,
                          eval_mod: int = 10,
                          j: int = BLOOM_J) -> DataFrame:
    """Bloom-sketch decontamination: flag TRAIN documents carrying
    eval-set shingles via a broadcast fixed-size bit filter — the
    at-scale complement of l9's exact shingle join. l9 shuffles the
    train shingle set on the shingle key (right when both sides are
    large); here the EVAL set (always the small side in practice)
    compresses into a 2048-bit Bloom filter built by a bounded 64-key
    bit_or aggregate, the probe is a broadcast join against <= 64
    filter words plus codegen bit tests, and the train corpus is
    touched in ONE narrow pass. False positives are inherent to the
    sketch and IDENTICAL across engines (the filter is a deterministic
    function of md5-derived positions), so the op is hash-exact — the
    same determinism argument as the minhash family.

    Returns (doc_id, n_grams, n_flagged, keep) over train docs:
    n_flagged = distinct shingles whose j filter bits are all set,
    keep = 1 iff n_flagged == 0."""
    from bioio_spark.functions.hashing import h32_col as _h

    sh = _shingled(documents)
    is_eval = (_h(F.concat(F.lit("split:"),
                           F.col("doc_id").cast("string")))
               % eval_mod) == 0
    ex = (sh.withColumn("is_eval", is_eval)
          .select("doc_id", "is_eval", F.explode("sh").alias("g")))
    seeds = F.array(*[
        (_h(F.concat(F.lit(f"b{i}:"), F.col("g"))) % BLOOM_M)
        for i in range(j)])
    build = (ex.filter(F.col("is_eval"))
             .select(F.explode(seeds).alias("p"))
             .select(F.expr(f"p DIV {BLOOM_BITS}").alias("w"),
                     F.expr(f"shiftleft(CAST(1 AS BIGINT), "
                            f"CAST(p % {BLOOM_BITS} AS INT))")
                     .alias("mask"))
             .groupBy("w")
             .agg(F.bit_or("mask").alias("bits")))
    probe = (ex.filter(~F.col("is_eval"))
             .select("doc_id", "g", F.explode(seeds).alias("p"))
             .select("doc_id", "g",
                     F.expr(f"p DIV {BLOOM_BITS}").alias("w"),
                     F.expr(f"CAST(p % {BLOOM_BITS} AS INT)")
                     .alias("b"))
             .join(F.broadcast(build), "w", "left")
             .select("doc_id", "g",
                     F.coalesce(
                         F.expr("shiftright(bits, b)")
                         .bitwiseAND(F.lit(1).cast("long")),
                         F.lit(0).cast("long")).alias("hit"))
             .groupBy("doc_id", "g")
             .agg(F.sum("hit").alias("nhits")))
    return (probe
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_grams"),
                 F.sum((F.col("nhits") == j).cast("bigint"))
                 .cast("bigint").alias("n_flagged"))
            .withColumn("keep", (F.col("n_flagged") == 0)
                        .cast("bigint"))
            .orderBy("doc_id"))


def bloom_decontamination_oracle(eval_mod: int = 10,
                                 j: int = BLOOM_J) -> str:
    split = h32_sql("'split:' || CAST(doc_id AS VARCHAR)")
    pos = ", ".join(h32_sql(f"'b{i}:' || g") + f" % {BLOOM_M}"
                    for i in range(j))
    return f"""
    WITH sh AS (
      SELECT doc_id, ({split} % {eval_mod} = 0) AS is_eval,
             unnest({_SHINGLE_SQL}) AS g
      FROM documents),
    pos AS (
      SELECT doc_id, is_eval, g,
             unnest([{pos}]) AS p
      FROM sh),
    filt AS (
      SELECT p // {BLOOM_BITS} AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {BLOOM_BITS}
                                              AS INTEGER)) AS bits
      FROM pos WHERE is_eval GROUP BY p // {BLOOM_BITS}),
    probe AS (
      SELECT t.doc_id, t.g,
             sum(coalesce((f.bits >> CAST(t.p % {BLOOM_BITS}
                                          AS INTEGER)) & 1, 0))
               AS nhits
      FROM pos t LEFT JOIN filt f ON t.p // {BLOOM_BITS} = f.w
      WHERE NOT t.is_eval GROUP BY t.doc_id, t.g),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN nhits = {j} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_flagged
      FROM probe GROUP BY doc_id)
    SELECT doc_id, n_grams, n_flagged,
           CAST(CASE WHEN n_flagged = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS keep
    FROM per_doc ORDER BY doc_id
    """


BLOOM_DECONTAM_ORACLE = bloom_decontamination_oracle()


# -- L2g incremental dedup: delta vs standing index --------------------------

INCR_DELTA_MOD = 10     # doc_id % 10 == 0 -> today's delta; else index


def incremental_dedup(documents: DataFrame,
                      delta_mod: int = INCR_DELTA_MOD) -> DataFrame:
    """Dedup a DELTA (today's crawl) against a STANDING INDEX without
    re-pairing the index — the incremental form every long-running
    corpus actually needs: re-running full-corpus LSH per ingest day is
    O(corpus) daily, probing the standing band index is O(delta).

    Split is deterministic (doc_id % delta_mod == 0 -> delta). Three
    gates per delta document, cheapest first:

    - hit_exact: md5(text) seen in the index (narrow anti-join-shaped
      probe; at scale the index md5 set is a bucketed table);
    - hit_index: any LSH band of the delta doc's minhash signature
      matches an index band (near-dup of existing corpus) — the same
      N_BANDS x ROWS_PER_BAND banding as l2, so a delta doc is caught
      exactly when full-corpus l2 would have paired it with an index
      doc;
    - hit_delta: shares a band with a LOWER-id delta doc (new-vs-new;
      keep-lowest-id, the l2 determinism rule — identical delta texts
      collapse here too, their signatures being equal).

    keep = none of the three. At 100 TB the index band table is a
    persisted artifact updated by appending each day's kept delta
    bands — only the fixture recomputes it per query (no cross-query
    storage). The delta is EXACT-DUP COLLAPSED before signing (the l2
    discipline applied to the incremental form): only one
    representative per distinct delta text is shingled/signed/banded —
    a boilerplate-flooded ingest day contributes one bucket member per
    distinct text, not k — and the band artifacts are persisted (both
    gates consume them) with release via the session registry
    (session.hold). Returns (doc_id, hit_exact, hit_index, hit_delta,
    keep) for every delta doc by doc_id."""
    from pyspark import StorageLevel

    idx = documents.filter(F.col("doc_id") % delta_mod != 0)
    delta = documents.filter(F.col("doc_id") % delta_mod == 0)
    held = session.hold(documents.sparkSession, "l2g")
    delta_md5 = (delta.select("doc_id", F.md5("text").alias("h"))
                 .persist(StorageLevel.MEMORY_AND_DISK))
    held.append(delta_md5)
    reps = delta_md5.groupBy("h").agg(F.min("doc_id").alias("rep_id"))
    bd = _banded(minhash_signatures(delta.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id"))).persist(
        StorageLevel.MEMORY_AND_DISK)
    held.append(bd)
    return incremental_flags(
        idx, delta.select("doc_id"), delta_md5, bd,
        reps=reps, bd_is_reps=True)


def incremental_flags(idx: DataFrame, delta_ids: DataFrame,
                      delta_md5: DataFrame, bd: DataFrame,
                      max_width: int | None = MAX_BUCKET_WIDTH,
                      reps: DataFrame | None = None,
                      bd_is_reps: bool = False) -> DataFrame:
    """The l2g gate evaluation over already-materialized delta artifacts
    — (doc_id), (doc_id, h=md5) and (doc_id, band, key) frames — so the
    streaming twin (s10) can probe the SAME semantics from its
    incrementally-built band store and hash-match the same oracle.

    The delta is exact-dup collapsed at probe time: `bd` may carry
    bands for every delta doc (the s10 store cannot know global reps —
    a doc's twin may arrive in a later micro-batch) or for reps only
    (the batch path); either way only the REPRESENTATIVE (lowest
    doc_id per md5) bands enter the gates. This is semantics-preserving
    because equal texts have equal signatures, hence equal bands:

    - hit_index of a non-rep == hit_index of its rep (same bands), so
      hi is evaluated on rep bands and propagated through the md5
      rep-map;
    - hit_delta of a non-rep is 1 by construction (its rep has a lower
      id and shares every band); hit_delta of a rep reduces to the
      rep-vs-rep band join — which goes through the capped
      `_bucket_pairs` device (keep-lowest-id, oracle-mirrored as
      row_number() <= max_width), so a boilerplate-flooded delta can
      never make one band bucket O(k^2).

    `reps` (h -> rep_id) may be passed in when the caller already
    derived it (the batch path computes it once from the persisted
    delta_md5); `bd_is_reps=True` skips the rep-filter join when `bd`
    is known to carry representative bands only (also the batch path —
    s10's store holds per-doc bands and keeps the filter)."""
    bi = _banded(minhash_signatures(idx))
    exact_idx = idx.select(F.md5("text").alias("h")).distinct()
    he = (delta_md5.join(exact_idx, "h").select("doc_id").distinct()
          .withColumn("he", F.lit(1)))
    if reps is None:
        reps = delta_md5.groupBy("h").agg(
            F.min("doc_id").alias("rep_id"))
    repmap = delta_md5.join(reps, "h").select("doc_id", "rep_id")
    bdr = bd if bd_is_reps else bd.join(
        reps.select(F.col("rep_id").alias("doc_id")), "doc_id")
    hi_rep = (bdr.alias("d").join(bi.alias("i"), ["band", "key"])
              .select(F.col("d.doc_id").alias("rep_id")).distinct())
    hi = (repmap.join(hi_rep, "rep_id").select("doc_id").distinct()
          .withColumn("hi", F.lit(1)))
    hd_rep = (_bucket_pairs(bdr, ["band", "key"], "doc_id",
                            max_width=max_width)
              .select(F.col("doc_b").alias("rep_id")).distinct())
    hd = (repmap.filter(F.col("doc_id") != F.col("rep_id"))
          .select("doc_id")
          .unionByName(repmap.join(hd_rep, "rep_id").select("doc_id"))
          .distinct()
          .withColumn("hd", F.lit(1)))
    flags = (delta_ids
             .join(he, "doc_id", "left")
             .join(hi, "doc_id", "left")
             .join(hd, "doc_id", "left"))
    z = F.lit(0)
    return (flags.select(
        "doc_id",
        F.coalesce("he", z).cast("bigint").alias("hit_exact"),
        F.coalesce("hi", z).cast("bigint").alias("hit_index"),
        F.coalesce("hd", z).cast("bigint").alias("hit_delta"))
        .withColumn(
            "keep",
            ((F.col("hit_exact") + F.col("hit_index")
              + F.col("hit_delta")) == 0).cast("bigint"))
        .orderBy("doc_id"))


def _incremental_dedup_oracle(delta_mod: int = INCR_DELTA_MOD,
                              cap: int = MAX_BUCKET_WIDTH) -> str:
    """Mirrors incremental_flags exactly: the delta is exact-dup
    collapsed (mh_dd_d, the dedup=True core = min(doc_id) per
    md5(text)), hi is evaluated on rep bands and propagated through
    the rep-map, and hd = (doc is a non-rep) OR (its rep appears as
    the higher id of a capped rep-vs-rep band pair)."""
    return f"""
    WITH idx AS (SELECT doc_id, text FROM documents
                 WHERE doc_id % {delta_mod} <> 0),
    delta AS (SELECT doc_id, text FROM documents
              WHERE doc_id % {delta_mod} = 0),
    {_minhash_sql_core('idx', dedup=False, suffix='_i')},
    banded_i AS ({_banded_sql('_i')}),
    {_minhash_sql_core('delta', dedup=True, suffix='_d')},
    banded_d AS ({_banded_sql('_d')}),
    capped_d AS (
      SELECT doc_id, band, key FROM (
        SELECT doc_id, band, key,
               row_number() OVER (PARTITION BY band, key
                                  ORDER BY doc_id) AS rn
        FROM banded_d) WHERE rn <= {cap}),
    repmap AS (
      SELECT d.doc_id, r.rep_id FROM delta d
      JOIN (SELECT md5(text) AS h, min(doc_id) AS rep_id
            FROM delta GROUP BY md5(text)) r
        ON md5(d.text) = r.h),
    he AS (SELECT DISTINCT d.doc_id FROM delta d
           JOIN (SELECT DISTINCT md5(text) AS h FROM idx) x
             ON md5(d.text) = x.h),
    hi_rep AS (SELECT DISTINCT bd.doc_id FROM banded_d bd
               JOIN banded_i bi
                 ON bd.band = bi.band AND bd.key = bi.key),
    hi AS (SELECT DISTINCT rm.doc_id FROM repmap rm
           JOIN hi_rep ON hi_rep.doc_id = rm.rep_id),
    hd_rep AS (SELECT DISTINCT x.doc_id FROM capped_d x
               JOIN capped_d y
                 ON x.band = y.band AND x.key = y.key
                AND x.doc_id > y.doc_id),
    hd AS (SELECT doc_id FROM repmap WHERE doc_id <> rep_id
           UNION
           SELECT rm.doc_id FROM repmap rm
           JOIN hd_rep ON hd_rep.doc_id = rm.rep_id)
    SELECT d.doc_id,
           CAST(CASE WHEN he.doc_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS hit_exact,
           CAST(CASE WHEN hi.doc_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS hit_index,
           CAST(CASE WHEN hd.doc_id IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS hit_delta,
           CAST(CASE WHEN he.doc_id IS NULL AND hi.doc_id IS NULL
                      AND hd.doc_id IS NULL THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM delta d
    LEFT JOIN he ON he.doc_id = d.doc_id
    LEFT JOIN hi ON hi.doc_id = d.doc_id
    LEFT JOIN hd ON hd.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


INCREMENTAL_DEDUP_ORACLE = _incremental_dedup_oracle()
