"""image_convert: the reference's core use, closed loop, one client.

Each op takes the next seeded OME-TIFF of a small pool, opens it with
BioImage, reads the ZYX selection at T=0, C=0 to an ndarray, takes the Z
max projection, and saves the image as OME-Zarr. Outputs are compared
with numpy ground truth after the timed window.

Loads bio_image, sources, formats.tiff, operators, writers and
formats.zarr; functions and streaming stay idle.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import harness, inputs, zarr_check

POOL = 4
# TCZYX, uint16. An op took the same time with 64 x 64 to 128 x 128
# planes (2.9 s, interleaved in one session), and 35% longer with
# 192 x 192 ones, which would leave two ops in a 10 s run.
SHAPE = (1, 2, 6, 128, 128)
# the warm-up image: the cold op loads classes, generates code and starts
# Python workers without interpreting a full image's pixels
PRIMER_SHAPE = (1, 2, 6, 16, 16)
# an op's length on the reference host (4 vCPUs, first ops of a fresh
# JVM); a run measures round(seconds / OP_S) ops. A fixed count, not a
# deadline, keeps every run on the same ops: latency still falls through
# the first ops of a fresh JVM, so a run that fit one op more or less
# than another would differ by where it stopped on that slope.
OP_S = 3.3
SPANS = ("bio_image.open", "bio_image.get_image_data",
         "bio_image.project_data", "writers.save_ome_zarr")
EXTRAS = {"writers.bytes_out_per_pixel_byte": "ratio"}


class Workload:
    def __init__(self, seed: int, seconds: float, work: str, cache: str):
        self.seed, self.seconds, self.work = seed, seconds, work
        self.results: dict = {}

    def make_inputs(self) -> None:
        src = os.path.join(self.work, "in")
        os.makedirs(os.path.join(src, "primer"))
        self.pool = inputs.image_pool(self.seed, src, POOL, SHAPE)
        self.primer = inputs.image_pool(
            self.seed, os.path.join(src, "primer"), 1, PRIMER_SHAPE)[0][0]

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _op(self, i: int, path: str, out: str, traced: bool = False
            ) -> float:
        from bioio_spark import BioImage
        from bioio_spark.writers import save_ome_zarr

        span = self.tracer.span
        t = time.perf_counter()
        with self.tracer.op(i, traced):
            with span("bio_image.open"):
                img = BioImage(path, spark=self.spark)
            with span("bio_image.get_image_data"):
                zyx = img.get_image_data("ZYX", T=0, C=0)
            with span("bio_image.project_data"):
                mip = img.project_data("Z", "max")
            with span("writers.save_ome_zarr"):
                save_ome_zarr(img, out)
        latency = time.perf_counter() - t
        self.tracer.resolve()
        self.results[i] = (zyx, mip, out)
        return latency

    def warm(self) -> None:
        """One cold op on the primer image."""
        out = os.path.join(self.work, "warm.ome.zarr")
        self._op(-1, self.primer, out)
        del self.results[-1]

    def measure(self):
        # a traced run needs four ops, for one whole T U U T pattern
        n = max(4 if self.tracer.enabled else 1, round(self.seconds / OP_S))
        ops = []
        start = time.perf_counter()
        for i in range(n):
            out = os.path.join(self.work, "out", f"op{i}.ome.zarr")
            traced = harness.abba(i)
            ops.append({"id": i, "traced": traced,
                        "latency_s": self._op(i, self.pool[i % POOL][0],
                                              out, traced)})
        return ops, time.perf_counter() - start

    def check(self, ops) -> None:
        self.bytes_ratio = []
        for o in ops:
            zyx, mip, out = self.results[o["id"]]
            _, a = self.pool[o["id"] % POOL]
            stored = zarr_check.read(os.path.join(out, "scene_0.zarr", "0"))
            checks = {
                "get_image_data": _same(zyx, a[0, 0]),
                "project_data": _same(mip, a.max(axis=2)),
                "save_ome_zarr": _same(stored, a),
            }
            bad = [k for k, good in checks.items() if not good]
            o["ok"] = not bad
            o["why"] = ", ".join(bad)
            self.bytes_ratio.append(zarr_check.tree_bytes(out) / a.nbytes)

    def layer_metrics(self) -> dict:
        out = self.tracer.layer_metrics(SPANS)
        out["writers.bytes_out_per_pixel_byte"] = (
            harness.mean(self.bytes_ratio), "ratio")
        return out


def _same(got, want) -> bool:
    got = np.asarray(got)
    return (got.shape == want.shape and got.dtype == want.dtype
            and np.array_equal(got, want))
