"""L5 multimodal columns: image/audio/video as opaque binary + typed metadata
(SURVEY §2.8).

Design for 100 TB: media payloads ride as `binary` columns beside text in the
same row (or in sidecar tables keyed by media_id), metadata is a typed struct
so filters (kind, width, duration) prune *before* any decode; decoding runs
as Arrow-batched `mapInPandas` on executors — one Python worker per
partition, zero driver involvement, repartition governs decode parallelism.

Real codecs (PIL/av/soundfile) are not in this container. The decode step is
therefore pluggable: `FakeCodec` is a deterministic byte-level format (tested
end-to-end, exercising the exact schema/batch plumbing a real codec would),
and `PillowCodec` raises NotImplementedError until its import succeeds.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),        # image | audio | video
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ])),
])

_MAGIC = b"FKC1"


class FakeCodec:
    """Deterministic toy media format: 4-byte magic + packed header + raw
    uint8 samples. Stands in for PNG/WAV/MP4 so the Spark-side plumbing
    (schema, batching, partitioning) is fully real and testable."""

    @staticmethod
    def encode(media_id: int, kind: str, width: int, height: int,
               n_frames: int) -> bytes:
        n = width * height * n_frames
        # deterministic pixel/sample content from media_id (no RNG)
        samples = ((np.arange(n, dtype=np.int64) * 31 + media_id * 7) % 251
                   ).astype(np.uint8)
        header = struct.pack("<iii", width, height, n_frames)
        return _MAGIC + header + samples.tobytes()

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        if payload[:4] != _MAGIC:
            raise ValueError("bad magic: not a FakeCodec payload")
        width, height, n_frames = struct.unpack_from("<iii", payload, 4)
        arr = np.frombuffer(payload, dtype=np.uint8, offset=16)
        return arr.reshape(n_frames, height, width)


class PngCodec:
    """REAL image codec over the in-repo baseline PNG implementation
    (formats/png.py — grayscale 8/16-bit, zlib): image payloads are actual
    PNG files, decoded scanline-filter and all. Single-frame by nature
    (PNG has no frame axis), so decode returns (1, h, w)."""

    @staticmethod
    def encode(media_id: int, kind: str, width: int, height: int,
               n_frames: int) -> bytes:
        from bioio_spark.formats.png import encode_png

        if n_frames != 1:
            raise ValueError("PNG is single-frame; use FakeCodec for video")
        samples = ((np.arange(width * height, dtype=np.int64) * 31
                    + media_id * 7) % 251).astype(np.uint8)
        return encode_png(samples.reshape(height, width))

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        from bioio_spark.formats.png import decode_png

        return decode_png(payload)[None, ...]


class JpegCodec:
    """In-repo baseline JPEG codec (formats/jpeg.py)."""

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        from bioio_spark.formats.jpeg import decode_jpeg

        return decode_jpeg(bytes(payload))


class GifCodec:
    """In-repo baseline GIF codec (formats/gif.py): the one real-file
    container with a frame axis, so VIDEO rows can carry actual files.
    Decode -> (n_frames, h, w)."""

    @staticmethod
    def encode(media_id: int, kind: str, width: int, height: int,
               n_frames: int) -> bytes:
        from bioio_spark.formats.gif import encode_gif

        n = width * height * n_frames
        samples = ((np.arange(n, dtype=np.int64) * 31 + media_id * 7)
                   % 251).astype(np.uint8)
        return encode_gif(samples.reshape(n_frames, height, width),
                          delays=[4] * n_frames)

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        from bioio_spark.formats.gif import decode_gif

        frames, _delays = decode_gif(bytes(payload))
        return frames


class BmpCodec:
    """In-repo baseline BMP codec (formats/bmp.py): 8-bit paletted
    grayscale / 24-bit BGR, BI_RGB. Single-frame, decode -> (1, h, w)
    or (1, h, w, 3)."""

    @staticmethod
    def encode(media_id: int, kind: str, width: int, height: int,
               n_frames: int) -> bytes:
        from bioio_spark.formats.bmp import encode_bmp

        if n_frames != 1:
            raise ValueError("BMP is single-frame; use FakeCodec for video")
        samples = ((np.arange(width * height, dtype=np.int64) * 31
                    + media_id * 7) % 251).astype(np.uint8)
        return encode_bmp(samples.reshape(height, width))

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        from bioio_spark.formats.bmp import decode_bmp

        return decode_bmp(bytes(payload))[None, ...]


class WavCodec:
    """REAL audio codec over the in-repo RIFF/WAVE PCM implementation
    (formats/wav.py): audio payloads are actual WAV files. Decode keeps
    the media frame contract — (1, channels, n_samples)."""

    @staticmethod
    def encode(media_id: int, kind: str, width: int, height: int,
               n_frames: int, sample_rate: int = 8000) -> bytes:
        from bioio_spark.formats.wav import encode_wav

        n = width * height * n_frames
        samples = ((np.arange(n, dtype=np.int64) * 31 + media_id * 7)
                   % 251).astype(np.uint8)
        return encode_wav(samples, sample_rate=sample_rate)

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        from bioio_spark.formats.wav import decode_wav

        samples, _rate = decode_wav(bytes(payload))
        return samples[None, ...]          # (1, channels, n)


class AutoCodec:
    """Magic-byte dispatch decoder: PNG / JPEG signatures route to the
    real in-repo codecs, FKC1 to FakeCodec — the pattern a production
    pipeline uses for mixed-container media columns (sniff, then
    decode)."""

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        head = bytes(payload[:12])
        if head[:8] == b"\x89PNG\r\n\x1a\n":
            return PngCodec.decode(payload)
        if head[:2] == b"\xFF\xD8":
            return JpegCodec.decode(payload)
        if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
            return WavCodec.decode(payload)
        if head[:2] == b"BM":
            return BmpCodec.decode(payload)
        if head[:6] in (b"GIF87a", b"GIF89a"):
            return GifCodec.decode(payload)
        return FakeCodec.decode(payload)


class PillowCodec:
    """Third-party image codec, gated on import (unavailable in this
    container; the in-repo real-codec path is PngCodec)."""

    @staticmethod
    def decode(payload: bytes) -> np.ndarray:
        try:
            from PIL import Image  # noqa: F401
        except ImportError as exc:
            raise NotImplementedError(
                "PIL is not installed in this environment; use PngCodec/"
                "FakeCodec or install pillow on the cluster") from exc
        raise NotImplementedError("wire Image.open(BytesIO(payload)) here")


def synth_media(spark: SparkSession, n: int = 64,
                image_format: str = "fkc1",
                audio_format: str = "fkc1",
                video_format: str = "fkc1") -> DataFrame:
    """Deterministic media table: images (1 frame), audio (1xN), video
    (multi-frame), round-robin by media_id. image_format 'png' / 'bmp'
    encodes the image rows as real PNG / BMP payloads, audio_format
    'wav' the audio rows as real RIFF/WAVE PCM, video_format 'gif' the
    video rows as real multi-frame GIF89a animations (same closed-form
    sample content in every container)."""
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        w, h, fr, sr = {
            "image": (16 + (i % 4) * 8, 12, 1, 0),
            "audio": (800, 1, 1, 8000),
            "video": (8, 8, 4 + (i // 3) % 3, 0),
        }[kind]
        if kind == "image" and image_format == "png":
            payload, fmt = PngCodec.encode(i, kind, w, h, fr), "png"
        elif kind == "image" and image_format == "bmp":
            payload, fmt = BmpCodec.encode(i, kind, w, h, fr), "bmp"
        elif kind == "audio" and audio_format == "wav":
            payload, fmt = WavCodec.encode(i, kind, w, h, fr,
                                           sample_rate=sr), "wav"
        elif kind == "video" and video_format == "gif":
            payload, fmt = GifCodec.encode(i, kind, w, h, fr), "gif"
        else:
            payload, fmt = FakeCodec.encode(i, kind, w, h, fr), "fkc1"
        rows.append((i, kind, payload, (w, h, fr, sr, fmt)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# -- decode / feature extraction (Arrow-batched, executor-side) ------------

DECODE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("mean_value", T.DoubleType()),
    T.StructField("max_value", T.IntegerType()),
])


def decode_features(media: DataFrame, codec=FakeCodec) -> DataFrame:
    """Per-media decoded shape + intensity stats via mapInPandas."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames = [codec.decode(p) for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"].values,
                "kind": pdf["kind"].values,
                "height": [f.shape[1] for f in frames],
                "width": [f.shape[2] for f in frames],
                "n_frames": [f.shape[0] for f in frames],
                "mean_value": [float(f.mean()) for f in frames],
                "max_value": [int(f.max()) for f in frames],
            })

    return media.mapInPandas(batches, schema=DECODE_SCHEMA)


def resize_images(media: DataFrame, out_w: int, out_h: int,
                  codec=FakeCodec) -> DataFrame:
    """Nearest-neighbor resize of image payloads; non-images pass through
    untouched. Output schema == MEDIA_SCHEMA (composable pipeline stage)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            new_payloads, new_meta = [], []
            for _, row in pdf.iterrows():
                if row["kind"] != "image":
                    new_payloads.append(row["payload"])
                    new_meta.append(row["meta"])
                    continue
                frames = codec.decode(row["payload"])
                _, h, w = frames.shape
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                resized = frames[:, yi][:, :, xi]
                header = struct.pack("<iii", out_w, out_h, frames.shape[0])
                new_payloads.append(_MAGIC + header + resized.tobytes())
                meta = dict(row["meta"])
                meta["width"], meta["height"] = out_w, out_h
                new_meta.append(meta)
            out["payload"] = new_payloads
            out["meta"] = new_meta
            yield out

    return media.mapInPandas(batches, schema=MEDIA_SCHEMA)


def sample_frames(media: DataFrame, every_k: int = 2,
                  codec=FakeCodec) -> DataFrame:
    """Explode videos into every-k-th frame rows (frame_idx + stats)."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("mean_value", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, means = [], [], []
            for _, row in pdf.iterrows():
                frames = codec.decode(row["payload"])
                for fi in range(0, frames.shape[0], every_k):
                    ids.append(row["media_id"])
                    idxs.append(fi)
                    means.append(float(frames[fi].mean()))
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "mean_value": means})

    return (media.filter(F.col("kind") == "video")
            .mapInPandas(batches, schema=schema))


def audio_window_energy(media: DataFrame, window: int = 100,
                        codec=FakeCodec) -> DataFrame:
    """Per-window mean amplitude over audio payloads."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("energy", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, energies = [], [], []
            for _, row in pdf.iterrows():
                samples = codec.decode(row["payload"]).reshape(-1)
                n_win = len(samples) // window
                trimmed = samples[: n_win * window].astype(np.float64)
                e = trimmed.reshape(n_win, window).mean(axis=1)
                ids.extend([row["media_id"]] * n_win)
                idxs.extend(range(n_win))
                energies.extend(e.tolist())
            yield pd.DataFrame(
                {"media_id": ids, "window_idx": idxs, "energy": energies})

    return (media.filter(F.col("kind") == "audio")
            .mapInPandas(batches, schema=schema))


# -- perceptual average-hash near-duplicates (LAION-style image dedup) ------

AHASH_GRID = 8          # 8x8 block grid -> 64-bit hash
AHASH_BANDS = 4         # 4 x 16-bit LSH bands
AHASH_MAX_HAMMING = 3   # banded join is EXACT for hamming < AHASH_BANDS
# Hard per-(band, value) bucket cap for perceptual near-dup candidate
# enumeration — the l2d MAX_BUCKET_WIDTH device (keep-lowest-media_id,
# oracle-mirrored). Band keys are 16-bit: a bucket wider than the cap means
# >cap items agree on a full band, where the key carries no discriminating
# power (degenerate corpora: solid-color frames, silence-padded audio) —
# and even a uniform corpus reaches n/65536 expected members per bucket
# (SCALING.md "16-bit band-space saturation").
MEDIA_MAX_BUCKET_WIDTH = 256


def ahash_images(media: DataFrame, codec=FakeCodec) -> DataFrame:
    """64-bit average hash per IMAGE row, as 4 x 16-bit band columns.

    The classic pHash-family aHash: partition the decoded frame into an
    8x8 grid (pixel (x, y) -> block ((x*8)//w, (y*8)//h)), set bit
    b = by*8+bx iff the block's mean EXCEEDS the global mean. The
    comparison is the exact integer cross-multiplication
    `block_sum * n_pixels > total_sum * block_count` — no float means,
    so the hash is bit-identical to the SQL oracle's recomputation.

    Bands are bits [16k, 16k+16) as small positive ints (the int64
    assembly is avoided entirely: band values stay below 2^16, sparing
    both engines any sign-bit arithmetic). Decode runs executor-side on
    Arrow batches; non-image rows are dropped before decode."""
    schema = T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [T.StructField(f"b{k}", T.IntegerType())
           for k in range(AHASH_BANDS)])
    grid = AHASH_GRID

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = []
            bands = [[] for _ in range(AHASH_BANDS)]
            for _, row in pdf.iterrows():
                img = codec.decode(row["payload"])[0].astype(np.int64)
                h, w = img.shape
                ys = (np.arange(h) * grid) // h
                xs = (np.arange(w) * grid) // w
                bid = (ys[:, None] * grid + xs[None, :]).ravel()
                # bincount sums stay < 2^53: exact in the float64 path
                bs = np.bincount(bid, weights=img.ravel(),
                                 minlength=grid * grid).astype(np.int64)
                bc = np.bincount(bid, minlength=grid * grid)
                ts, tc = int(img.sum()), h * w
                bits = (bs * tc) > (ts * bc.astype(np.int64))
                ids.append(int(row["media_id"]))
                for k in range(AHASH_BANDS):
                    val = 0
                    for j in range(16):
                        if bits[k * 16 + j]:
                            val |= 1 << j
                    bands[k].append(val)
            out = {"media_id": np.asarray(ids, dtype=np.int64)}
            for k in range(AHASH_BANDS):
                out[f"b{k}"] = np.asarray(bands[k], dtype=np.int32)
            yield pd.DataFrame(out)

    return (media.filter(F.col("kind") == "image")
            .mapInPandas(batches, schema=schema))


def _banded_near_dups(h: DataFrame, max_hamming: int,
                      max_width: int = MEDIA_MAX_BUCKET_WIDTH,
                      n_bands: int = AHASH_BANDS) -> DataFrame:
    """Near-duplicate pairs over a (media_id, b0..b{n_bands-1})
    banded-hash frame: candidates must share one EXACT 16-bit band — by
    pigeonhole any pair with hamming < n_bands differs in at most
    n_bands-1 of the n_bands bands, so the banding loses NOTHING at
    thresholds below the band count (exact, not approximate, recall —
    up to the width cap below). `n_bands` parameterizes the key width:
    4 x 16-bit for the 64-bit aHash family, 8 x 16-bit for the 128-bit
    pHash (the SCALING.md band-space-saturation escape path — the key
    space multiplies from 2^16 to the same 2^16 per band but over twice
    the bands, moving the exact-recall regime from hamming<4 to
    hamming<8 and the saturation point out by the extra entropy of the
    wider fingerprint).

    Scale discipline (the l2d contract, applied for real):
    - candidate enumeration goes through `_bucket_pairs`
      (functions/dedup.py): groupBy(band, value) -> sorted id list ->
      pair explode, with each bucket HARD-CAPPED to its `max_width`
      lowest media_ids (oracle-mirrored as
      row_number() OVER (PARTITION BY k, v ORDER BY media_id) <= cap).
      Degenerate corpora — solid-color images, silence-padded audio —
      collapse to one band value; without the cap that one bucket is
      O(n^2) pairs in a single task. Band keys are 16-bit, so even a
      UNIFORM corpus saturates at n/65536 expected members per bucket
      (see SCALING.md "16-bit band-space saturation").
    - the fingerprint frame `h` (1 row per item, 4 ints) is PERSISTED:
      it feeds the bucket grouping and both hamming-lookup sides, and
      without the pin the Arrow-batched decode subtree would run three
      times (on different join keys, so exchange reuse cannot save it).
      Released by the next invocation via the session registry.
    Hamming is then evaluated only on candidates via two hash-keyed
    lookups."""
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.session import hold

    held = hold(h.sparkSession, "media_neardup")
    h = h.persist()
    held.append(h)
    bands = F.array(*[
        F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("v"))
        for k in range(n_bands)])
    lf = (h.select("media_id", F.explode(bands).alias("bv"))
          .select("media_id", F.col("bv")["k"].alias("k"),
                  F.col("bv")["v"].alias("v")))
    cand = (_bucket_pairs(lf, ["k", "v"], "media_id",
                          max_width=max_width)
            .distinct()
            .select(F.col("doc_a").alias("media_id_a"),
                    F.col("doc_b").alias("media_id_b")))
    ha = h.select(F.col("media_id").alias("media_id_a"),
                  *[F.col(f"b{k}").alias(f"xa{k}")
                    for k in range(n_bands)])
    hb = h.select(F.col("media_id").alias("media_id_b"),
                  *[F.col(f"b{k}").alias(f"xb{k}")
                    for k in range(n_bands)])
    ham = None
    for k in range(n_bands):
        term = F.bit_count(
            F.col(f"xa{k}").bitwiseXOR(F.col(f"xb{k}")))
        ham = term if ham is None else ham + term
    return (cand.join(ha, "media_id_a").join(hb, "media_id_b")
            .withColumn("hamming", ham.cast("int"))
            .filter(F.col("hamming") <= max_hamming)
            .select("media_id_a", "media_id_b", "hamming")
            .orderBy("media_id_a", "media_id_b"))


def image_near_dups(media: DataFrame, codec=FakeCodec,
                    max_hamming: int = AHASH_MAX_HAMMING,
                    max_width: int = MEDIA_MAX_BUCKET_WIDTH) -> DataFrame:
    """Near-duplicate IMAGE pairs by aHash hamming distance <=
    `max_hamming` (LAION-style perceptual dedup): one hash per image
    (Arrow-batched decode, persisted), then the exact banded join with
    the `max_width` bucket cap. Returns (media_id_a, media_id_b,
    hamming), a < b."""
    return _banded_near_dups(ahash_images(media, codec), max_hamming,
                             max_width=max_width)


# -- 128-bit pHash (integer DCT) — the wider-band-key scale path ------------
#
# SCALING.md "16-bit band-space saturation" derives that the 64-bit
# aHash's 4 x 16-bit band key stops discriminating around n = 10^6-10^7
# items. The documented escape is a WIDER key: a 128-bit perceptual
# fingerprint banded 8 x 16-bit. This is the classic pHash construction
# (block-mean image -> 2-D DCT -> sign of the low-frequency AC
# coefficients), made integer-exact so the SQL oracle reproduces every
# bit: the DCT basis is a FIXED-POINT table T[u][y] =
# round(1024 * cos((2y+1) u pi / 32)) baked as literals into BOTH
# engines, and coefficients are integer dot products of block SUMS
# (never means — no division anywhere). Exactness bound: |c| <=
# 255 * n_pixels * 1024^2, so int64 arithmetic is exact up to ~3 x 10^13
# pixels per image.
#
# Why DCT bits (not just a finer 16x8 aHash grid): aHash bits are
# spatially LOCAL — a localized edit (logo overlay, crop border) flips a
# contiguous run of bits, wiping out whole bands at once. DCT bits are
# GLOBAL frequency signs: a local edit perturbs every coefficient a
# little, flipping only the ones near zero — flips spread thinly across
# bands, which is exactly what banded LSH wants.

PHASH_GRID = 16     # 16x16 block grid feeding the DCT
PHASH_BANDS = 8     # 8 x 16-bit bands = 128-bit fingerprint
PHASH_MAX_HAMMING = 7   # banded join is EXACT for hamming < PHASH_BANDS
_DCT_SCALE = 1024

import math as _math

# fixed-point DCT-II basis, u,y in 0..15 (u=DC row included: T[0][y]=1024)
DCT_T = [[int(round(_DCT_SCALE * _math.cos((2 * y + 1) * u *
                                           _math.pi / 32)))
          for y in range(16)] for u in range(16)]

# the 128 (u, v) coefficient positions, lowest frequencies first: the
# u in 0..7 x v in 0..15 rectangle minus DC, plus (8, 0) to round out
# 128. Band k holds bits [16k, 16k+16) — band 0 is the most stable
# (lowest-frequency) 16 signs, which is where near-dups agree first.
PHASH_PAIRS = ([(u, v) for u in range(8) for v in range(16)][1:]
               + [(8, 0)])


def phash_images(media: DataFrame, codec=FakeCodec) -> DataFrame:
    """128-bit integer-DCT pHash per IMAGE row, as 8 x 16-bit bands.

    Pipeline per image (all int64, bit-identical to the SQL oracle):
    block sums bs[16][16] over the 16x16 grid (pixel (x, y) -> block
    ((x*16)//w, (y*16)//h)); C = T[:9] @ bs @ T.T (fixed-point DCT);
    bit k = 1 iff C[PHASH_PAIRS[k]] > 0. Decode runs executor-side on
    Arrow batches; non-image rows are dropped before decode."""
    schema = T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [T.StructField(f"b{k}", T.IntegerType())
           for k in range(PHASH_BANDS)])
    grid = PHASH_GRID
    tu = np.asarray(DCT_T, dtype=np.int64)[:9, :]     # u rows 0..8
    tv = np.asarray(DCT_T, dtype=np.int64)            # v rows 0..15
    pu = np.asarray([p[0] for p in PHASH_PAIRS])
    pv = np.asarray([p[1] for p in PHASH_PAIRS])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = []
            bands = [[] for _ in range(PHASH_BANDS)]
            for _, row in pdf.iterrows():
                img = codec.decode(row["payload"])[0].astype(np.int64)
                h, w = img.shape
                ys = (np.arange(h) * grid) // h
                xs = (np.arange(w) * grid) // w
                bid = (ys[:, None] * grid + xs[None, :]).ravel()
                # bincount sums stay < 2^53: exact in the float64 path
                bs = (np.bincount(bid, weights=img.ravel(),
                                  minlength=grid * grid)
                      .astype(np.int64).reshape(grid, grid))
                coef = tu @ bs @ tv.T                  # int64-exact
                bits = coef[pu, pv] > 0
                ids.append(int(row["media_id"]))
                for k in range(PHASH_BANDS):
                    val = 0
                    for j in range(16):
                        if bits[k * 16 + j]:
                            val |= 1 << j
                    bands[k].append(val)
            out = {"media_id": np.asarray(ids, dtype=np.int64)}
            for k in range(PHASH_BANDS):
                out[f"b{k}"] = np.asarray(bands[k], dtype=np.int32)
            yield pd.DataFrame(out)

    return (media.filter(F.col("kind") == "image")
            .mapInPandas(batches, schema=schema))


# -- cross-modal dedup fixture (the LAION shape: image + caption) ----------
#
# (doc_id, imgidx, capbase, capvar) rows; two docs sharing imgidx carry
# byte-identical images, two docs sharing (capbase, capvar) carry
# byte-identical captions, and capvar=1 swaps the caption's LAST word
# (a minhash NEAR-dup of the capvar=0 twin — 9/10 shingles shared).
# Structure: 10 base docs; 5 image-twins of docs 0-4 with fresh
# captions; 5 exact-caption-twins of docs 0-4 with fresh images; 5
# near-caption-twins of docs 5-9 with fresh images; one BRIDGE doc
# (image-twin of doc 0 AND near-caption of doc 3 — merges two clusters
# transitively); two singletons.
CROSSMODAL_SPEC = tuple(
    [(k, k, k, 0) for k in range(10)]
    + [(10 + j, j, 10 + j, 0) for j in range(5)]
    + [(15 + j, 15 + j, j, 0) for j in range(5)]
    + [(20 + j, 20 + j, 5 + j, 1) for j in range(5)]
    + [(25, 0, 3, 1), (26, 26, 26, 0), (27, 27, 27, 0)]
)
CAPTION_WORDS = 12


def _caption_text(capbase: int, capvar: int) -> str:
    # words are unique per (capbase, position): distinct capbases share
    # ZERO shingles (a modular-arithmetic word alphabet would make every
    # caption a rotation of the same cyclic progression — all captions
    # near-dups of each other), while a variant shares 9 of 10 shingles
    # with its base (only the last-shingle window moves)
    ws = [f"w{capbase}_{j}" for j in range(CAPTION_WORDS)]
    if capvar:
        ws[-1] = f"x{capbase}"
    return " ".join(ws)


def synth_crossmodal(spark: SparkSession):
    """The crossmodal fixture as (media, captions): one real-PNG image
    row (MEDIA_SCHEMA, media_id = doc_id) plus one caption row
    (doc_id, text) per CROSSMODAL_SPEC entry. Image content is the
    closed-form pixel formula keyed by imgidx (identical imgidx ->
    byte-identical image; distinct imgidx are >3 aHash bits apart on
    this spec, verified by test)."""
    from bioio_spark.formats.png import encode_png

    media_rows, cap_rows = [], []
    for doc_id, imgidx, capbase, capvar in CROSSMODAL_SPEC:
        w, h = 16 + (imgidx % 4) * 8, 12
        px = ((np.arange(w * h, dtype=np.int64) * 31 + imgidx * 7)
              % 251).astype(np.uint8)
        media_rows.append((doc_id, "image",
                           encode_png(px.reshape(h, w)),
                           (w, h, 1, 0, "png")))
        cap_rows.append((doc_id, _caption_text(capbase, capvar)))
    media = spark.createDataFrame(media_rows, MEDIA_SCHEMA)
    caps = spark.createDataFrame(cap_rows, "doc_id long, text string")
    return media, caps


TWIN_DELTA = 30   # per-pixel perturbation of the twin copies
TWIN_NPIX = 3     # how many leading pixels the twin perturbs
VTWIN_DELTA = 20  # video twin: frame-0 perturbation
VTWIN_NPIX = 2


def synth_video_twins(spark: SparkSession, n: int = 64) -> DataFrame:
    """Near-duplicate VIDEO fixture for the wide-key tier: every video
    id of the standard geometry (i % 3 == 2, fr = 4 + (i//3) % 3) plus
    a TWIN at media_id i + n whose first VTWIN_NPIX pixels of FRAME 0
    are shifted by VTWIN_DELTA (mod 251) — later frames byte-identical.
    Per-frame pHash lands the twins at frame-0 hamming ~2-16 across the
    fixture ids (some inside the per-frame boundary 7, some beyond), so
    the aligned verification has both accepts and rejects. Real GIFs."""
    from bioio_spark.formats.gif import encode_gif

    rows = []
    for i in range(n):
        if i % 3 != 2:
            continue
        w = h = 8
        fr = 4 + (i // 3) % 3
        base = ((np.arange(w * h * fr, dtype=np.int64) * 31 + i * 7)
                % 251)
        twin = base.copy()
        twin[:VTWIN_NPIX] = (twin[:VTWIN_NPIX] + VTWIN_DELTA) % 251
        for mid, px in ((i, base), (i + n, twin)):
            payload = encode_gif(
                px.astype(np.uint8).reshape(fr, h, w),
                delays=[4] * fr)
            rows.append((mid, "video", payload, (w, h, fr, 0, "gif")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synth_image_twins(spark: SparkSession, n: int = 64) -> DataFrame:
    """Near-duplicate IMAGE fixture for the 128-bit pHash tier: every
    image id of the standard `synth_media` geometry (i % 3 == 0) plus a
    TWIN copy at media_id i + n whose first TWIN_NPIX pixels are shifted
    by TWIN_DELTA (mod 251) — a closed-form perturbation the SQL oracle
    reproduces exactly. The twins land at pHash hamming ~2-8 of their
    base (empirically 2/3/4/8 across the four fixture widths), so the
    banded join has real positives to find AND a just-over-threshold
    pair to reject. All payloads are real PNGs."""
    from bioio_spark.formats.png import encode_png

    rows = []
    for i in range(n):
        if i % 3 != 0:
            continue
        w, h = 16 + (i % 4) * 8, 12
        base = ((np.arange(w * h, dtype=np.int64) * 31 + i * 7) % 251)
        twin = base.copy()
        twin[:TWIN_NPIX] = (twin[:TWIN_NPIX] + TWIN_DELTA) % 251
        for mid, px in ((i, base), (i + n, twin)):
            payload = encode_png(px.astype(np.uint8).reshape(h, w))
            rows.append((mid, "image", payload, (w, h, 1, 0, "png")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# -- crop-robust perceptual dedup (the l2f exact-substring analog) ---------
#
# The wide-key triad catches PERTURBATION near-dups, but a crop (or
# pad) shifts every pixel coordinate, so every global DCT coefficient
# moves and the banded pHash key is lost. The text tier's answer to
# the same problem is l2f's exact-substring containment; the image
# analog is TILE-WISE hashing: fingerprint small aligned tiles, make
# ANY exact tile-hash match a candidate (banding where each tile IS a
# band), then verify candidates by the BEST-OFFSET aligned hamming —
# slide B's tile grid over A's, score each offset by total hamming
# over the overlapping tiles, accept if the best offset's per-tile
# average is low over enough tiles. A crop by a multiple of the tile
# size leaves interior tiles byte-identical (exact candidate recall),
# and the offset score localizes edits the way substring containment
# localizes edits in text.
#
# Integer exactness: tile hash bit p = 1 iff pixel_p * n_px > tile_sum
# (the aHash cross-multiplication), offsets and overlap counts are
# integers, and the per-tile average is the integer permille
# hs * 1000 // n_overlap — every step textually mirrored in SQL.

CROP_TILE = 4             # tile side in pixels (16-bit hash per tile)
CROP_MAX_MILLI = 500      # accept: best offset avg <= 0.5 bit/tile
#   (measured on the twin fixture: true crops score 0, the densest
#   spurious-offset scores start at 571, cross-image noise at 1333 —
#   500 sits in the widest gap; see tests/test_crop_dedup.py)
CROP_MIN_OVERLAP = 4      # ... over at least this many aligned tiles
CTWIN_ROWS = 4            # crop-twin: rows removed from the top
CTWIN_DELTA = 97          # corrupt-twin: perturbation of the top rows


def synth_crop_twins(spark: SparkSession, n: int = 64) -> DataFrame:
    """Crop-twin fixture: every image id of the standard geometry
    (i % 3 == 0, w = 16 + (i%4)*8, h = 12) plus TWO derived arms —
    media_id i + n is a PURE CROP (top CTWIN_ROWS rows and the left
    4*(1 + (i//3) % 2) columns removed: tile-aligned, so its interior
    tiles are byte-identical to the base and best-offset hamming is 0:
    the accept arm), and media_id i + 2n is the same crop with its top
    CTWIN_ROWS rows shifted by CTWIN_DELTA (mod 251): half its tiles
    still match exactly (so it IS enumerated as a candidate) but the
    best aligned offset averages ~half-corrupted tiles, failing the
    CROP_MAX_MILLI gate — the reject arm. All payloads real PNGs; the
    pixel formula is closed-form so the SQL oracle reproduces every
    arm from range() alone."""
    from bioio_spark.formats.png import encode_png

    rows = []
    for i in range(n):
        if i % 3 != 0:
            continue
        w, h = 16 + (i % 4) * 8, 12
        # per-image stride 31 + i decorrelates DIFFERENT ids (the
        # shared-stride synth_media formula makes same-width images
        # constant-offset copies of each other, which the
        # offset-invariant tile bits would all "accept"); 251 is prime
        # and 31 + i < 251, so every stride is full-period
        base = (((np.arange(w * h, dtype=np.int64)) * (31 + i) + i * 7)
                % 251).reshape(h, w)
        cw = 4 * (1 + (i // 3) % 2)
        crop = base[CTWIN_ROWS:, cw:]
        corrupt = crop.copy()
        corrupt[:CTWIN_ROWS, :] = (corrupt[:CTWIN_ROWS, :]
                                   + CTWIN_DELTA) % 251
        for mid, px in ((i, base), (i + n, crop), (i + 2 * n, corrupt)):
            ph, pw = px.shape
            rows.append((mid, "image",
                         encode_png(px.astype(np.uint8)),
                         (pw, ph, 1, 0, "png")))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def crop_tile_hashes(media: DataFrame, codec=FakeCodec,
                     tile: int = CROP_TILE) -> DataFrame:
    """16-bit aHash per aligned `tile` x `tile` tile per IMAGE row:
    (media_id, ti, tj, v) with ti/tj the tile's row/col index and bit
    (y % tile) * tile + (x % tile) set iff pixel * tile^2 > tile_sum.
    Arrow-batched decode; partial trailing tiles are dropped (crops in
    the fixture are tile-aligned; a production pipeline pads)."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("ti", T.IntegerType()),
        T.StructField("tj", T.IntegerType()),
        T.StructField("v", T.IntegerType()),
    ])
    npx = tile * tile
    weights = (1 << np.arange(npx, dtype=np.int64))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            mids, tis, tjs, vals = [], [], [], []
            for _, row in pdf.iterrows():
                img = codec.decode(row["payload"])[0].astype(np.int64)
                h, w = img.shape
                nty, ntx = h // tile, w // tile
                if nty == 0 or ntx == 0:
                    continue
                tiles = (img[:nty * tile, :ntx * tile]
                         .reshape(nty, tile, ntx, tile)
                         .transpose(0, 2, 1, 3)
                         .reshape(nty, ntx, npx))
                ts = tiles.sum(axis=2)
                bits = tiles * npx > ts[:, :, None]
                v = (bits * weights).sum(axis=2).astype(np.int64)
                for a in range(nty):
                    for b in range(ntx):
                        mids.append(int(row["media_id"]))
                        tis.append(a)
                        tjs.append(b)
                        vals.append(int(v[a, b]))
            yield pd.DataFrame({
                "media_id": np.asarray(mids, dtype=np.int64),
                "ti": np.asarray(tis, dtype=np.int32),
                "tj": np.asarray(tjs, dtype=np.int32),
                "v": np.asarray(vals, dtype=np.int32)})

    return (media.filter(F.col("kind") == "image")
            .mapInPandas(batches, schema=schema))


def _crop_best_offsets(cand: DataFrame, th: DataFrame,
                       min_overlap: int = CROP_MIN_OVERLAP) -> DataFrame:
    """Best-offset aligned hamming per candidate pair: cross the two
    tile grids, group by the implied offset (dy, dx), score each
    offset by (sum hamming, n overlapping tiles), keep the offset
    minimizing the integer per-tile permille (ties to smallest dy,
    dx). Work per pair is n_tiles_a x n_tiles_b — bounded, because
    candidates come from capped buckets and tile counts are fixed by
    the image geometry, not the corpus."""
    from pyspark.sql import Window

    ta = th.select(F.col("media_id").alias("media_id_a"),
                   F.col("ti").alias("tia"), F.col("tj").alias("tja"),
                   F.col("v").alias("va"))
    tb = th.select(F.col("media_id").alias("media_id_b"),
                   F.col("ti").alias("tib"), F.col("tj").alias("tjb"),
                   F.col("v").alias("vb"))
    offs = (cand.join(ta, "media_id_a").join(tb, "media_id_b")
            .groupBy("media_id_a", "media_id_b",
                     (F.col("tib") - F.col("tia")).alias("dy"),
                     (F.col("tjb") - F.col("tja")).alias("dx"))
            .agg(F.sum(F.bit_count(
                F.col("va").bitwiseXOR(F.col("vb")))).alias("hs"),
                 F.count(F.lit(1)).alias("no"))
            .filter(F.col("no") >= min_overlap)
            .withColumn("ham_milli",
                        F.floor(F.col("hs") * 1000 / F.col("no"))
                        .cast("bigint")))
    w = (Window.partitionBy("media_id_a", "media_id_b")
         .orderBy(F.col("ham_milli").asc(), F.col("dy").asc(),
                  F.col("dx").asc()))
    return (offs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("media_id_a", "media_id_b",
                    F.col("dy").cast("int").alias("dy"),
                    F.col("dx").cast("int").alias("dx"),
                    F.col("no").cast("bigint").alias("n_overlap"),
                    "ham_milli"))


def crop_near_dups(media: DataFrame, codec=FakeCodec,
                   tile: int = CROP_TILE,
                   max_milli: int = CROP_MAX_MILLI,
                   min_overlap: int = CROP_MIN_OVERLAP,
                   max_width: int = MEDIA_MAX_BUCKET_WIDTH) -> DataFrame:
    """Crop-robust near-duplicate IMAGE pairs: tile-wise 16-bit
    hashes (persisted — they feed the bucket grouping and both sides
    of the offset verification), candidates = any exact tile-value
    match through the capped `_bucket_pairs` (the l2d discipline: a
    degenerate corpus of flat tiles collapses into one bucket, which
    the cap bounds to O(max_width^2) pairs), then best-offset aligned
    hamming with the (min_overlap, max_milli) gate. Returns
    (media_id_a, media_id_b, dy, dx, n_overlap, ham_milli), a < b."""
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.session import hold

    th = crop_tile_hashes(media, codec, tile)
    held = hold(th.sparkSession, "crop_neardup")
    th = th.persist()
    held.append(th)
    lf = th.select("media_id", "v").distinct()
    cand = (_bucket_pairs(lf, ["v"], "media_id", max_width=max_width)
            .distinct()
            .select(F.col("doc_a").alias("media_id_a"),
                    F.col("doc_b").alias("media_id_b")))
    best = _crop_best_offsets(cand, th, min_overlap)
    return (best.filter(F.col("ham_milli") <= max_milli)
            .orderBy("media_id_a", "media_id_b"))


def phash_near_dups(media: DataFrame, codec=FakeCodec,
                    max_hamming: int = PHASH_MAX_HAMMING,
                    max_width: int = MEDIA_MAX_BUCKET_WIDTH) -> DataFrame:
    """Near-duplicate IMAGE pairs by 128-bit pHash hamming <=
    `max_hamming` through the parameterized banded join (8 x 16-bit
    bands — exact recall for hamming < 8 by pigeonhole, capped buckets).
    Returns (media_id_a, media_id_b, hamming), a < b."""
    return _banded_near_dups(phash_images(media, codec), max_hamming,
                             max_width=max_width, n_bands=PHASH_BANDS)


AUDIO_FP_WINDOWS = 64


def audio_fingerprint(media: DataFrame, codec=FakeCodec,
                      n_win: int = AUDIO_FP_WINDOWS) -> DataFrame:
    """n_win-bit energy-envelope fingerprint per AUDIO row, as
    n_win/16 x 16-bit band columns — the 1-D sibling of `ahash_images`:
    sample j falls in window (j*n_win)//n, bit b is set iff window b's
    mean amplitude EXCEEDS the track mean, compared by the exact
    integer cross-multiplication `win_sum * n_samples > total_sum *
    win_count`. Shift- and gain-robust the way envelope hashes are (a
    constant offset moves every window with the mean), integer-exact
    across engines. The default 64 windows give the 4 x 16-bit key;
    n_win=128 is the audio arm of the WIDER-band-key scale path (8
    bands — pigeonhole exactness up to hamming 7, key space doubled)."""
    n_bands = n_win // 16
    schema = T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [T.StructField(f"b{k}", T.IntegerType())
           for k in range(n_bands)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = []
            bands = [[] for _ in range(n_bands)]
            for _, row in pdf.iterrows():
                s = codec.decode(row["payload"]).reshape(-1).astype(
                    np.int64)
                n = len(s)
                wid = (np.arange(n) * n_win) // n
                ws = np.bincount(wid, weights=s,
                                 minlength=n_win).astype(np.int64)
                wc = np.bincount(wid, minlength=n_win)
                ts = int(s.sum())
                bits = (ws * n) > (ts * wc.astype(np.int64))
                ids.append(int(row["media_id"]))
                for k in range(n_bands):
                    val = 0
                    for j in range(16):
                        if bits[k * 16 + j]:
                            val |= 1 << j
                    bands[k].append(val)
            out = {"media_id": np.asarray(ids, dtype=np.int64)}
            for k in range(n_bands):
                out[f"b{k}"] = np.asarray(bands[k], dtype=np.int32)
            yield pd.DataFrame(out)

    return (media.filter(F.col("kind") == "audio")
            .mapInPandas(batches, schema=schema))


def audio_near_dups(media: DataFrame, codec=FakeCodec,
                    max_hamming: int = AHASH_MAX_HAMMING,
                    max_width: int = MEDIA_MAX_BUCKET_WIDTH,
                    n_win: int = AUDIO_FP_WINDOWS) -> DataFrame:
    """Near-duplicate AUDIO pairs by envelope-fingerprint hamming
    distance <= `max_hamming` through the same exact banded join
    (capped, persisted). n_win=128 selects the wider 128-bit key
    (8 bands, exact recall below hamming 8). Returns
    (media_id_a, media_id_b, hamming), a < b."""
    return _banded_near_dups(audio_fingerprint(media, codec, n_win),
                             max_hamming, max_width=max_width,
                             n_bands=n_win // 16)


def video_fingerprint(media: DataFrame, codec=FakeCodec) -> DataFrame:
    """Per-FRAME aHash over VIDEO rows: one (media_id, fidx, b0..b3)
    row per frame, same 8x8 block-grid hash as `ahash_images` (on the
    fixture's 8x8 frames the grid degenerates to pixel-vs-frame-mean,
    which the SQL oracle mirrors as v*64 > frame_sum)."""
    schema = T.StructType(
        [T.StructField("media_id", T.LongType()),
         T.StructField("fidx", T.IntegerType())]
        + [T.StructField(f"b{k}", T.IntegerType())
           for k in range(AHASH_BANDS)])
    grid = AHASH_GRID

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidxs = [], []
            bands = [[] for _ in range(AHASH_BANDS)]
            for _, row in pdf.iterrows():
                frames = codec.decode(row["payload"]).astype(np.int64)
                fr, h, w = frames.shape
                ys = (np.arange(h) * grid) // h
                xs = (np.arange(w) * grid) // w
                bid = (ys[:, None] * grid + xs[None, :]).ravel()
                for f in range(fr):
                    img = frames[f]
                    bs = np.bincount(bid, weights=img.ravel(),
                                     minlength=grid * grid
                                     ).astype(np.int64)
                    bc = np.bincount(bid, minlength=grid * grid)
                    ts, tc = int(img.sum()), h * w
                    bits = (bs * tc) > (ts * bc.astype(np.int64))
                    ids.append(int(row["media_id"]))
                    fidxs.append(f)
                    for k in range(AHASH_BANDS):
                        val = 0
                        for j in range(16):
                            if bits[k * 16 + j]:
                                val |= 1 << j
                        bands[k].append(val)
            out = {"media_id": np.asarray(ids, dtype=np.int64),
                   "fidx": np.asarray(fidxs, dtype=np.int32)}
            for k in range(AHASH_BANDS):
                out[f"b{k}"] = np.asarray(bands[k], dtype=np.int32)
            yield pd.DataFrame(out)

    return (media.filter(F.col("kind") == "video")
            .mapInPandas(batches, schema=schema))


def phash_video_frames(media: DataFrame,
                       codec=FakeCodec) -> DataFrame:
    """Per-FRAME 128-bit integer-DCT pHash over VIDEO rows — the video
    arm of the wider-band-key scale path: one (media_id, fidx, b0..b7)
    row per frame, same fixed-point DCT construction as `phash_images`
    applied frame-by-frame. Feeds `video_near_dups` via its
    `fingerprint`/`n_bands` parameters (frame-0 banding moves from
    hamming<4-exact to hamming<8-exact)."""
    schema = T.StructType(
        [T.StructField("media_id", T.LongType()),
         T.StructField("fidx", T.IntegerType())]
        + [T.StructField(f"b{k}", T.IntegerType())
           for k in range(PHASH_BANDS)])
    grid = PHASH_GRID
    tu = np.asarray(DCT_T, dtype=np.int64)[:9, :]
    tv = np.asarray(DCT_T, dtype=np.int64)
    pu = np.asarray([p[0] for p in PHASH_PAIRS])
    pv = np.asarray([p[1] for p in PHASH_PAIRS])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, fidxs = [], []
            bands = [[] for _ in range(PHASH_BANDS)]
            for _, row in pdf.iterrows():
                frames = codec.decode(row["payload"]).astype(np.int64)
                fr, h, w = frames.shape
                ys = (np.arange(h) * grid) // h
                xs = (np.arange(w) * grid) // w
                bid = (ys[:, None] * grid + xs[None, :]).ravel()
                for f in range(fr):
                    bs = (np.bincount(bid,
                                      weights=frames[f].ravel(),
                                      minlength=grid * grid)
                          .astype(np.int64).reshape(grid, grid))
                    bits = (tu @ bs @ tv.T)[pu, pv] > 0
                    ids.append(int(row["media_id"]))
                    fidxs.append(f)
                    for k in range(PHASH_BANDS):
                        val = 0
                        for j in range(16):
                            if bits[k * 16 + j]:
                                val |= 1 << j
                        bands[k].append(val)
            out = {"media_id": np.asarray(ids, dtype=np.int64),
                   "fidx": np.asarray(fidxs, dtype=np.int32)}
            for k in range(PHASH_BANDS):
                out[f"b{k}"] = np.asarray(bands[k], dtype=np.int32)
            yield pd.DataFrame(out)

    return (media.filter(F.col("kind") == "video")
            .mapInPandas(batches, schema=schema))


def video_near_dups(media: DataFrame, codec=FakeCodec,
                    max_frame_hamming: int = AHASH_MAX_HAMMING,
                    max_width: int = MEDIA_MAX_BUCKET_WIDTH,
                    n_bands: int = AHASH_BANDS,
                    fingerprint=None) -> DataFrame:
    """Near-duplicate VIDEO pairs: same frame count and EVERY aligned
    frame within `max_frame_hamming` aHash bits (the re-encoded-copy
    detection contract). Candidates come from a banded join on FRAME 0
    only — exact by pigeonhole, since an all-frames-close pair is in
    particular frame-0-close and must share a frame-0 band — then the
    full aligned-frame hamming is evaluated on candidates only.

    Scale: one fingerprint pass (Arrow-batched decode) PERSISTED (the
    frame feeds candidate grouping, both aligned-join sides, and the
    frame-count agg — four consumers over one decode; released via the
    session registry), candidate enumeration via the capped
    `_bucket_pairs` device over n_videos frame-0 rows (never all-pairs:
    each (band, value) bucket keeps its `max_width` lowest media_ids,
    oracle-mirrored — black-leader frames are the degenerate corpus
    here), one fidx-aligned join bounded by candidate count x frames.
    Returns (media_id_a, media_id_b, n_frames, hamming_sum), a < b."""
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.session import hold

    held = hold(media.sparkSession, "video_neardup")
    fp_fn = fingerprint if fingerprint is not None else video_fingerprint
    fp = fp_fn(media, codec).persist()
    held.append(fp)
    f0 = fp.filter(F.col("fidx") == 0)
    bands = F.array(*[
        F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("v"))
        for k in range(n_bands)])
    lf = (f0.select("media_id", F.explode(bands).alias("bv"))
          .select("media_id", F.col("bv")["k"].alias("k"),
                  F.col("bv")["v"].alias("v")))
    cand = (_bucket_pairs(lf, ["k", "v"], "media_id",
                          max_width=max_width)
            .distinct()
            .select(F.col("doc_a").alias("media_id_a"),
                    F.col("doc_b").alias("media_id_b")))
    fa = fp.select(F.col("media_id").alias("media_id_a"), "fidx",
                   *[F.col(f"b{k}").alias(f"xa{k}")
                     for k in range(n_bands)])
    fb = fp.select(F.col("media_id").alias("mb"),
                   F.col("fidx").alias("fidx_b"),
                   *[F.col(f"b{k}").alias(f"xb{k}")
                     for k in range(n_bands)])
    nf = fp.groupBy("media_id").agg(F.count(F.lit(1)).alias("nf"))
    ham = None
    for k in range(n_bands):
        term = F.bit_count(
            F.col(f"xa{k}").bitwiseXOR(F.col(f"xb{k}")))
        ham = term if ham is None else ham + term
    aligned = (cand.join(fa, "media_id_a")
               .join(fb, (F.col("media_id_b") == F.col("mb"))
                     & (F.col("fidx") == F.col("fidx_b")))
               .drop("mb", "fidx_b")
               .withColumn("hf", ham.cast("int")))
    pairs = (aligned.groupBy("media_id_a", "media_id_b")
             .agg(F.count(F.lit(1)).cast("int").alias("n_frames"),
                  F.sum("hf").cast("int").alias("hamming_sum"),
                  F.max("hf").alias("hmax")))
    na = nf.select(F.col("media_id").alias("media_id_a"),
                   F.col("nf").alias("nf_a"))
    nb = nf.select(F.col("media_id").alias("media_id_b"),
                   F.col("nf").alias("nf_b"))
    return (pairs.join(na, "media_id_a").join(nb, "media_id_b")
            .filter((F.col("hmax") <= max_frame_hamming)
                    & (F.col("nf_a") == F.col("nf_b"))
                    & (F.col("n_frames") == F.col("nf_a")))
            .select("media_id_a", "media_id_b", "n_frames",
                    "hamming_sum")
            .orderBy("media_id_a", "media_id_b"))
