"""corpus_curation: the LLM-corpus pipeline, closed loop, one client.

Each op takes the next of SHARDS seeded shards, cycling, loads its
documents and embeddings with queries.load, runs exact_dedup_groups,
quality_score and semantic_dedup, and writes each result to Parquet.
Expected results come from the registry's DuckDB oracle SQL for the
same call, computed after the timed window and cached by shard content.

Loads queries and functions; the image layers and streaming stay idle.
Session memos may hit on a shard seen before and must miss on a new one:
the cold warm-up op meets one shard, the first measured op meets the
other for the first time, and later ops see both again.

Known defect shown here, not worked around: semantic_dedup memoizes its
cluster assignment under the constant cache_key "semdedup", so in one
session every shard after the first gets the first shard's result. The
benchmark passes the library's defaults and never clears memos, so those
ops count as failed until the memo is keyed by its input.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

from perfbench import harness, inputs

SHARDS = 2
N_DOCS = 48
N_VECS = 64
# function -> registry query whose oracle SQL is its expected result
# minhash_candidate_pairs and pq_topk are left out: with them a run took
# 56-67 s on a 4-vCPU host, more than one run of the benchmark can spend
# beside the other workloads
ORACLES = {
    "exact_dedup_groups": "l1_exact_dedup",
    "quality_score": "l4c_quality_score",
    "semantic_dedup": "l12_semantic_dedup",
}
SPANS = ("queries.load",) + tuple(f"functions.{f}" for f in ORACLES)
EXTRAS = {"functions.cached_rdds": "count"}
KNOWN_DEFECT = "semantic_dedup"
# a cycle's length (SHARDS ops) on the reference host (4 vCPUs, first ops
# of a fresh JVM); a run measures round(seconds / CYCLE_S) cycles, a fixed
# count for the reason image_convert.OP_S gives
CYCLE_S = 8.0


class Workload:
    def __init__(self, seed: int, seconds: float, work: str, cache: str):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.cache = cache
        self.cached_rdds: list[int] = []
        self.first_shard = None  # the first shard semantic_dedup sees

    def make_inputs(self) -> None:
        src = os.path.join(self.work, "in")
        self.shards = [inputs.corpus_shard(self.seed, k, src, N_DOCS,
                                           N_VECS)
                       for k in range(SHARDS)]

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _op(self, i: int, out: str, traced: bool = False) -> float:
        from bioio_spark.functions.dedup import exact_dedup_groups
        from bioio_spark.functions.similarity import semantic_dedup
        from bioio_spark.functions.text import quality_score
        from bioio_spark.queries import load

        if self.first_shard is None:
            self.first_shard = i % SHARDS
        shard = self.shards[i % SHARDS]
        span = self.tracer.span
        t = time.perf_counter()
        with self.tracer.op(i, traced):
            with span("queries.load"):
                docs, emb = load(self.spark, shard, "documents",
                                 "embeddings")
            for fn, src in ((exact_dedup_groups, docs),
                            (quality_score, docs),
                            (semantic_dedup, emb)):
                with span(f"functions.{fn.__name__}"):
                    fn(src).write.parquet(os.path.join(out, fn.__name__))
        latency = time.perf_counter() - t
        if traced:
            self.cached_rdds.append(
                self.spark.sparkContext._jsc.getPersistentRDDs().size())
        self.tracer.resolve()
        return latency

    def warm(self) -> None:
        """One cold op. It meets shard 1 (op -1), which owns the
        semantic_dedup memo for the rest of the session."""
        self._op(-1, os.path.join(self.work, "warm"))

    def measure(self):
        # whole cycles, so each run has the same share of known failures;
        # a traced run needs two, for one whole T U U T pattern
        cycles = max(2 if self.tracer.enabled else 1,
                     round(self.seconds / CYCLE_S))
        ops = []
        start = time.perf_counter()
        for i in range(SHARDS * cycles):
            out = os.path.join(self.work, "out", f"op{i}")
            traced = harness.abba(i)
            ops.append({"id": i, "traced": traced, "shard": i % SHARDS,
                        "latency_s": self._op(i, out, traced), "out": out})
        return ops, time.perf_counter() - start

    def check(self, ops) -> None:
        expected = [self._oracle(s) for s in self.shards]
        # the result the semantic_dedup memo holds all session
        memo_owner = expected[self.first_shard]["semantic_dedup"]
        for o in ops:
            want = expected[o["shard"]]
            bad = [fn for fn in ORACLES
                   if _spark_rows(os.path.join(o["out"], fn)) != want[fn]]
            o["ok"] = not bad
            o["why"] = ", ".join(bad)
            o["known"] = bad == [KNOWN_DEFECT] and _spark_rows(
                os.path.join(o["out"], KNOWN_DEFECT)) == memo_owner

    def _oracle(self, shard: str) -> dict:
        """Canonical oracle rows per function for one shard, cached by
        the shard's bytes."""
        import duckdb

        from bioio_spark.queries import REGISTRY

        h = hashlib.sha256()
        for table in ("documents", "embeddings"):
            with open(os.path.join(shard, f"{table}.parquet"), "rb") as f:
                h.update(f.read())
        os.makedirs(self.cache, exist_ok=True)
        path = os.path.join(self.cache, f"corpus-{h.hexdigest()[:24]}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        con = duckdb.connect()
        try:
            for table in ("documents", "embeddings"):
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
                    f"'{os.path.join(shard, table + '.parquet')}')")
            out = {}
            for fn, query in ORACLES.items():
                cur = con.execute(REGISTRY[query].oracle)
                cols = [d[0] for d in cur.description]
                out[fn] = _canon_rows(cols, cur.fetchall())
        finally:
            con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out

    def layer_metrics(self) -> dict:
        out = self.tracer.layer_metrics(SPANS)
        out["functions.cached_rdds"] = (harness.mean(self.cached_rdds),
                                        "count")
        return out


def _canon(v):
    """The parity suite's value canon: doubles to 9 significant digits,
    sequences element-wise."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0 else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def _canon_rows(cols, rows) -> dict:
    """Column names plus rows sorted canonically, in JSON-stable form."""
    canon = [json.dumps([_canon(v) for v in r]) for r in rows]
    return {"columns": list(cols), "rows": sorted(canon)}


def _spark_rows(path: str) -> dict:
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    rows = zip(*(table.column(c).to_pylist() for c in table.column_names))
    return _canon_rows(table.column_names, list(rows))
