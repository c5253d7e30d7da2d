"""live_acquisition: incremental ingest of a growing acquisition
directory, open loop.

A generator thread lands pre-encoded multi-page TIFFs in the acquisition
directory at RATE files per second, on a schedule that does not slow
when ingest does. On a 4-vCPU host an ingest took 1.5 to 3 s and took in
3 to 6 files, so the backlog stays bounded. Meanwhile the main thread
runs incremental ingests back to back:
read_image_stream -> streaming_decode_pixels -> streaming_ngff_sink
(availableNow, one persistent checkpoint). Each file is one op, timed
from its due time to the end of the ingest that committed its chunk.
After the run the Zarr store is read back and compared with the
generated planes.

Loads streaming and its per-trigger floor, and formats in the write
direction (TIFF decode, Zarr encode); functions stays idle.
"""

from __future__ import annotations

import math
import os
import threading
import time

import numpy as np

from perfbench import harness, inputs, zarr_check

RATE = 2.0  # files per second
PAGES, SIZE = 4, 128  # pages of SIZE x SIZE per file
# warm-up: a cold ingest of PRIMER files of PRIMER_SIZE x PRIMER_SIZE
# pages loads classes, generates code and starts Python workers without
# interpreting full pages; then one ingest of WARM_FILES full files, so
# the first measured ingest is not also the first on full pages
PRIMER, PRIMER_SIZE = 2, 16
WARM_FILES = 4
SPANS = ("streaming.ingest",)
PHASES = ("addBatch", "queryPlanning", "getBatch", "latestOffset",
          "commitOffsets", "walCommit", "triggerExecution")
EXTRAS = {
    "streaming.ingest.triggers": "count",
    "streaming.start.s": "s",
    "streaming.files_per_ingest": "count",
    "streaming.backlog_files": "count",
    "gen.lag_max_s": "s",
    **{f"streaming.trigger.{p}_ms": "ms" for p in PHASES},
}


class Workload:
    def __init__(self, seed: int, seconds: float, work: str, cache: str):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.n_ops = math.ceil(RATE * seconds)
        self.ingests: list[dict] = []

    def make_inputs(self) -> None:
        self.files = inputs.acquisition_files(
            self.seed, self.n_ops, PAGES, SIZE, SIZE)
        self.primer = inputs.acquisition_files(
            self.seed + 1, PRIMER, PAGES, PRIMER_SIZE, PRIMER_SIZE)

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _ingest(self, k: int, base: str, shape: tuple,
                traced: bool = False) -> dict:
        """One availableNow ingest into a store of TZYX `shape`."""
        from pyspark.sql import functions as F

        from bioio_spark.streaming import (read_image_stream,
                                           streaming_decode_pixels)
        from bioio_spark.streaming.ingest import streaming_ngff_sink

        t = time.perf_counter()
        with self.tracer.op(k, traced):
            with self.tracer.span("streaming.ingest") as rec:
                stream = read_image_stream(self.spark,
                                           os.path.join(base, "acq"))
                px = streaming_decode_pixels(stream).select(
                    F.regexp_extract("scene", r"f(\d+)", 1).cast("int")
                    .alias("t"), F.lit(0).alias("c"),
                    F.col("page").alias("z"), "y", "x", "value")
                q = streaming_ngff_sink(
                    px, os.path.join(base, "live.zarr"),
                    shape=(shape[0], 1) + shape[1:],
                    chunks=(1, 1) + shape[1:],
                    checkpoint=os.path.join(base, "ckpt"))
                q.awaitTermination()
                if rec is not None:
                    # the stream's own jobs run under its run id
                    rec["groups"].append(str(q.runId))
        end = time.perf_counter()
        self.tracer.resolve()
        return {"start": t, "end": end, "traced": traced,
                "progress": [_duration_ms(p) for p in q.recentProgress]}

    def warm(self) -> None:
        """The primer ingest, then one of full files; each lands its
        files in a directory and store of its own."""
        for name, files, size in (
                ("primer", self.primer, PRIMER_SIZE),
                ("warm", self.files[:WARM_FILES], SIZE)):
            base = os.path.join(self.work, name)
            os.makedirs(os.path.join(base, "acq"))
            for k, (data, _) in enumerate(files):
                _land(base, k, data)
            self._ingest(-1, base, (len(files), PAGES, size, size))

    def measure(self):
        base = os.path.join(self.work, "run")
        os.makedirs(os.path.join(base, "acq"))
        self.base = base
        chunk_dir = os.path.join(base, "live.zarr", "0")
        landed: list[float] = []
        t0 = time.perf_counter() + 0.05
        self.due = [t0 + k / RATE for k in range(self.n_ops)]
        gen = threading.Thread(target=self._generate,
                               args=(base, landed), daemon=True)
        gen.start()
        committed: dict[int, dict] = {}
        deadline = t0 + self.seconds + 120
        while len(committed) < self.n_ops:
            if time.perf_counter() > deadline:
                raise RuntimeError(
                    f"ingest stalled: {len(committed)} of {self.n_ops} "
                    "files committed")
            backlog = len(landed) - len(committed)
            if backlog == 0:
                time.sleep(0.005)
                continue
            ing = self._ingest(len(self.ingests), base,
                               (self.n_ops, PAGES, SIZE, SIZE),
                               traced=harness.abba(len(self.ingests)))
            new = {int(f.split(".")[0]) for f in os.listdir(chunk_dir)
                   if not f.startswith(".")} - set(committed)
            ing.update(backlog=backlog, files=len(new))
            self.ingests.append(ing)
            committed.update((k, ing) for k in new)
        gen.join()
        self.lag = [at - due for at, due in zip(landed, self.due)]
        ops = [{"id": k, "traced": committed[k]["traced"],
                "latency_s": committed[k]["end"] - self.due[k]}
               for k in range(self.n_ops)]
        return ops, max(i["end"] for i in self.ingests) - t0

    def _generate(self, base: str, landed: list) -> None:
        for k, (data, _) in enumerate(self.files):
            wait = self.due[k] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            _land(base, k, data)
            landed.append(time.perf_counter())

    def check(self, ops) -> None:
        stored = zarr_check.read(os.path.join(self.base, "live.zarr", "0"))
        for o in ops:
            want = self.files[o["id"]][1].astype(stored.dtype)
            o["ok"] = bool(np.array_equal(stored[o["id"], 0], want))
            o["why"] = "" if o["ok"] else "stored planes differ"

    def layer_metrics(self) -> dict:
        traced = [i for i in self.ingests if i["traced"]]
        triggers = [p for i in traced for p in i["progress"]]
        out = self.tracer.layer_metrics(SPANS)
        out.update({
            "streaming.ingest.triggers": (
                harness.mean(len(i["progress"]) for i in traced), "count"),
            "streaming.start.s": (harness.mean(
                i["end"] - i["start"]
                - sum(p.get("triggerExecution", 0) for p in i["progress"])
                / 1e3 for i in traced), "s"),
            "streaming.files_per_ingest": (
                harness.mean(i["files"] for i in self.ingests), "count"),
            "streaming.backlog_files": (
                harness.mean(i["backlog"] for i in self.ingests), "count"),
            "gen.lag_max_s": (max(self.lag), "s"),
        })
        for p in PHASES:
            out[f"streaming.trigger.{p}_ms"] = (
                harness.mean(t.get(p, 0) for t in triggers), "ms")
        return out


def _land(base: str, k: int, data: bytes) -> None:
    """Write a file under a name the stream ignores, then rename it, so
    the stream never lists a partly written file."""
    tmp = os.path.join(base, "acq", f"f{k:05d}.part")
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(base, "acq", f"f{k:05d}.tif"))


def _duration_ms(progress) -> dict:
    d = (progress["durationMs"] if isinstance(progress, dict)
         else progress.durationMs)
    return {k: float(v) for k, v in dict(d).items()}
