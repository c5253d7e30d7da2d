"""L13: distributed BPE vocabulary learning (Sennrich et al. 2016,
arXiv:1508.07909 — the GPT-2/SentencePiece tokenizer-training loop)
over the documents corpus.

BPE training is the canonical ITERATIVE MapReduce of a training-data
pipeline: each merge round is (1) a partial-combining hash aggregate
of adjacent symbol-pair frequencies over the word-frequency table,
(2) a global argmax (TakeOrderedAndProject, 1-row driver fetch — the
bounded-index-fetch class), (3) a narrow per-row merge projection.
Rounds are driver-sequenced exactly like the pointer-jumping CC loop
and the l3h Lloyd iterations; the only cross-round state is the merge
rule itself, a string literal.

Hash-exactness: every count is an integer; the argmax tiebreak is
pinned (count DESC, pair ASC); and the merge application is the
GREEDY LEFTMOST NON-OVERLAPPING pair replacement both engines'
``replace`` implement. Overlap correctness ("a a a" must merge once,
"a a a a" twice) is guaranteed by the DOUBLED-SPACE trick: gaps carry
two spaces, the pattern ``' a  b '`` consumes one boundary space per
side, so adjacent occurrences never steal each other's boundary; a
single ``' +' -> ' '`` collapse restores the invariant. Symbols are
restricted to ``[a-z0-9]+`` so patterns are metacharacter-free.

Scale: the working set after round 0 is the WORD-FREQUENCY table
(corpus vocabulary, not the corpus — the classic BPE-training
compression). The trainer PERSISTS that state: the round-0 frame
(word freqs + initial symbol split) is lazily persisted, every round's
merged frame is persisted on top of its predecessor's cache, and every
``CHECKPOINT_EVERY`` rounds the frame is ``localCheckpoint``-ed to
truncate the growing merge-projection lineage — so round r's argmax
job reads round r-1's CACHED vocab table plus one narrow projection,
never the raw corpus. The corpus is scanned exactly once, in round 0
(pinned by the accumulator-source test in
``tests/test_intensity.py::test_bpe_scans_corpus_once``); at a real
30k-merge vocab each round stays one vocab-sized cached pass instead
of the O(rounds²) re-derivation the unpersisted chain would cost.
Memory hygiene goes through the session registry (``session.memo``,
namespace ``"bpe"``): each NEW training releases every frame a
previous training pinned, and results are memoized per
``(cache_key, n_merges)`` so the l13/l13b pair trains once per
session, not once per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bioio_spark import session

N_MERGES = 16
CHECKPOINT_EVERY = 8
WORD_RE = "^[a-z0-9]+$"

def _word_freqs(documents: DataFrame) -> DataFrame:
    word = F.explode(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
    return (documents.select(word)
            .filter(F.col("word").rlike(WORD_RE))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("bigint").alias("freq")))


def _merge_seq(seq, pair: str):
    """Greedy leftmost merge of `pair` inside the space-separated
    symbol string `seq` via the doubled-space trick."""
    doubled = F.concat(F.lit(" "),
                       F.replace(seq, F.lit(" "), F.lit("  ")),
                       F.lit(" "))
    pat = " " + pair.replace(" ", "  ") + " "
    rep = " " + pair.replace(" ", "") + " "
    return F.trim(F.regexp_replace(
        F.replace(doubled, F.lit(pat), F.lit(rep)), " +", " "))


def _run_merges(documents: DataFrame, n_merges: int,
                cache_key=None):
    """Shared trainer loop: returns (final word-freq frame with the
    merged `seq` column, [(round, pair, token, count), ...]).

    Persistence contract (the round-8 verdict's directed fix): the
    round-0 frame and every round's merged frame are LAZILY persisted,
    so each round's 1-row argmax job materializes exactly one new
    narrow projection over the previous round's cache — the corpus is
    scanned once, in round 0. Every CHECKPOINT_EVERY rounds the frame
    is localCheckpoint(eager=False)-ed so lineage depth stays bounded
    at a real 30k-merge vocab. Results are memoized per
    (cache_key, n_merges) with session.memo (namespace "bpe"); a new
    training releases all frames earlier trainings pinned."""
    # an anonymous training still registers (under a key nothing can
    # hit), so the next training releases its frames
    key = (cache_key, n_merges) if cache_key is not None \
        else ("anon", object())
    cur, merges, _held = session.memo(
        documents.sparkSession, "bpe", key,
        lambda: _train_merges(documents, n_merges))
    return cur, merges


def _train_merges(documents: DataFrame, n_merges: int):
    # a NEW training releases every other training's pinned frames —
    # the session holds at most one training's cache blocks
    session.release(documents.sparkSession, "bpe")
    wf = _word_freqs(documents)
    seq0 = F.trim(F.regexp_replace("word", "(.)", "$1 "))
    cur = wf.withColumn("seq", seq0).persist()
    held = [cur]
    merges = []
    for r in range(n_merges):
        s = F.split(F.col("seq"), " ")
        idxs = (F.when(F.size(s) >= 2,
                       F.sequence(F.lit(1), F.size(s) - 1))
                .otherwise(F.array().cast("array<int>")))
        ex = cur.select("freq", s.alias("s"),
                        F.explode(idxs).alias("i"))
        pair_col = F.concat_ws(
            " ", F.element_at("s", F.col("i")),
            F.element_at("s", F.col("i") + 1))
        best = (ex.select(pair_col.alias("pair"), "freq")
                .groupBy("pair")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("pair"))
                .limit(1).collect())
        if not best:
            break
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        merges.append((r + 1, pair, pair.replace(" ", ""), cnt))
        cur = cur.withColumn("seq", _merge_seq(F.col("seq"), pair))
        if (r + 1) % CHECKPOINT_EVERY == 0 and r + 1 < n_merges:
            # truncate the merge-projection lineage; lazy so the NEXT
            # round's argmax job materializes it with cache reuse
            cur = cur.localCheckpoint(eager=False)
        else:
            cur = cur.persist()
        held.append(cur)
    return cur, merges, held


def bpe_vocab(documents: DataFrame, n_merges: int = N_MERGES,
              cache_key=None) -> DataFrame:
    """Learn `n_merges` BPE merge rules; returns one row per round:
    (merge_round, pair, token, pair_count) where pair_count is the
    pair's corpus frequency at merge time."""
    _cur, merges = _run_merges(documents, n_merges,
                               cache_key=cache_key)
    return documents.sparkSession.createDataFrame(
        merges,
        "merge_round int, pair string, token string, "
        "pair_count bigint").orderBy("merge_round")


def bpe_tokenize_stats(documents: DataFrame,
                       n_merges: int = N_MERGES,
                       cache_key=None) -> DataFrame:
    """Train the merges, APPLY them to the corpus, and report the
    tokenizer's effect — the full train-tokenizer -> tokenize-corpus
    loop: (n_merges, n_words, vocab_size, n_symbols_before,
    n_symbols_after, n_token_types). n_symbols_* are
    occurrence-weighted symbol counts (the corpus length in tokens
    before/after merging — BPE's compression metric); n_token_types
    is the symbol alphabet size after merging.

    Scale: the stats are one vocab-sized aggregate over the trained
    frame plus a distinct-symbol count — nothing re-reads the raw
    text, and (via the _run_merges memo) a session that already ran
    bpe_vocab with the same cache_key reuses that training outright."""
    cur, _merges = _run_merges(documents, n_merges,
                               cache_key=cache_key)
    types = (cur.select(F.explode(F.split("seq", " ")).alias("sym"))
             .agg(F.countDistinct("sym").cast("bigint")
                  .alias("n_token_types")))
    stats = cur.agg(
        F.sum("freq").cast("bigint").alias("n_words"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.col("freq") * F.length("word")).cast("bigint")
        .alias("n_symbols_before"),
        F.sum(F.col("freq") * F.size(F.split("seq", " ")))
        .cast("bigint").alias("n_symbols_after"))
    return (stats.crossJoin(F.broadcast(types))
            .select(F.lit(n_merges).cast("int").alias("n_merges"),
                    "n_words", "vocab_size", "n_symbols_before",
                    "n_symbols_after", "n_token_types"))


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    # AS MATERIALIZED is load-bearing: seq{r} is referenced by both
    # best{r} and seq{r+1}, so an inlining planner would re-derive the
    # whole prefix chain per reference — exponential in n_merges (the
    # direct analogue of the Spark side's per-round persist)
    parts = [rf"""wf AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)),
                                            '\s+')) AS word
        FROM documents)
      WHERE regexp_matches(word, '{WORD_RE}')
      GROUP BY word),
    seq0 AS MATERIALIZED (
             SELECT freq,
                    trim(regexp_replace(word, '(.)', '\1 ', 'g'))
                      AS seq
             FROM wf)"""]
    for r in range(n_merges):
        parts.append(f"""best{r} AS MATERIALIZED (
      SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT q.freq, q.s[t.i] || ' ' || q.s[t.i + 1] AS pair
        FROM (SELECT freq, string_split(seq, ' ') AS s
              FROM seq{r}) q,
             unnest(generate_series(1, len(q.s) - 1)) t(i))
      GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 1),
    seq{r + 1} AS MATERIALIZED (
      -- coalesce to a chr(1) sentinel (symbols are [a-z0-9]+, so it
      -- can never match): an EMPTY best{r} (merges ran dry) leaves
      -- seq unchanged instead of cascading NULLs — matching the
      -- Spark loop's break
      SELECT freq,
             trim(regexp_replace(
               replace(' ' || replace(seq, ' ', '  ') || ' ',
                       coalesce((SELECT ' ' || replace(pair, ' ', '  ')
                                 || ' ' FROM best{r}), chr(1)),
                       coalesce((SELECT ' ' || replace(pair, ' ', '')
                                 || ' ' FROM best{r}), chr(1))),
               ' +', ' ', 'g')) AS seq
      FROM seq{r})""")
    rounds = "\n      UNION ALL ".join(
        f"""SELECT CAST({r + 1} AS INTEGER) AS merge_round, pair,
               replace(pair, ' ', '') AS token, cnt AS pair_count
        FROM best{r}""" for r in range(n_merges))
    body = ",\n    ".join(parts)
    return f"""
    WITH {body}
    SELECT * FROM ({rounds}) ORDER BY merge_round
    """


BPE_ORACLE = _bpe_oracle()


def _bpe_tokenize_oracle(n_merges: int = N_MERGES) -> str:
    base = _bpe_oracle(n_merges)
    # reuse the unrolled chain up to seq{n}; swap the final SELECT
    head, _tail = base.rsplit("SELECT * FROM", 1)
    return f"""{head}
    SELECT CAST({n_merges} AS INTEGER) AS n_merges,
           (SELECT CAST(sum(freq) AS BIGINT) FROM seq{n_merges})
             AS n_words,
           (SELECT CAST(count(*) AS BIGINT) FROM seq{n_merges})
             AS vocab_size,
           (SELECT CAST(sum(freq * length(replace(seq0.seq, ' ', '')))
                   AS BIGINT) FROM seq0) AS n_symbols_before,
           (SELECT CAST(sum(freq * len(string_split(seq, ' ')))
                   AS BIGINT) FROM seq{n_merges}) AS n_symbols_after,
           (SELECT CAST(count(DISTINCT sym) AS BIGINT) FROM (
              SELECT unnest(string_split(seq, ' ')) AS sym
              FROM seq{n_merges})) AS n_token_types
    """


BPE_TOKENIZE_ORACLE = _bpe_tokenize_oracle()
