"""Oracle-checked multimodal-column queries (SURVEY §2.8 L5).

The media fixture is generated by `synth_media` (deterministic FakeCodec
payloads: `(j*31 + media_id*7) % 251` for sample j). Because the byte content
is closed-form, even the Arrow-batched `mapInPandas` DECODE path gets a
value-level DuckDB oracle — the SQL regenerates the same samples from the
formula, so a mismatch anywhere in the binary plumbing (encode, schema,
batching, decode, stats) breaks the hash.

Scale: metadata filters (kind/width) prune before any decode; decode runs
executor-side on Arrow batches; payloads never move through the driver.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bioio_spark.functions.multimodal import MEDIA_MAX_BUCKET_WIDTH
from bioio_spark.queries.base import register

_N_MEDIA = 64

# SQL mirror of synth_media's per-id geometry (multimodal.py synth_media):
# kind = (image, audio, video)[i % 3];
# image: w=16+(i%4)*8 h=12 fr=1 | audio: w=800 h=1 fr=1 | video: w=8 h=8
# fr=4+(i//3)%3. Payload = 16-byte header + w*h*fr uint8 samples.
_GEOM_SQL = f"""
  SELECT i AS media_id,
         CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
         CASE i % 3 WHEN 0 THEN 16 + (i % 4) * 8 WHEN 1 THEN 800
                    ELSE 8 END AS w,
         CASE i % 3 WHEN 0 THEN 12 WHEN 1 THEN 1 ELSE 8 END AS h,
         CASE i % 3 WHEN 2 THEN 4 + (i // 3) % 3 ELSE 1 END AS fr
  FROM range({_N_MEDIA}) r(i)
"""


# --------------------------------------------------------------------------
# L5a: metadata-level pruning stats — typed struct metadata + payload byte
# length, no decode. The filter on `kind`/width happens before any payload
# is touched (column pruning keeps the binary column out of the scan).
# --------------------------------------------------------------------------
@register(
    "mm_media_stats",
    oracle=f"""
    WITH g AS ({_GEOM_SQL})
    SELECT kind, count(*) AS n_media,
           CAST(sum(16 + w * h * fr) AS BIGINT) AS total_bytes,
           CAST(sum(w) AS BIGINT) AS sum_width, max(fr) AS max_frames
    FROM g GROUP BY kind ORDER BY kind
    """,
    doc="L5 metadata-level media stats (typed struct + payload length)",
)
def mm_media_stats(spark, sf_dir):
    from bioio_spark.functions.multimodal import synth_media

    media = synth_media(spark, _N_MEDIA)
    return (media.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_media"),
                 F.sum(F.octet_length("payload")).alias("total_bytes"),
                 F.sum(F.col("meta.width").cast("long")).alias("sum_width"),
                 F.max("meta.n_frames").alias("max_frames"))
            .orderBy("kind"))


# --------------------------------------------------------------------------
# L5b: the decode path itself — mapInPandas FakeCodec decode + per-media
# intensity stats, hash-checked against the sample formula in SQL.
# uint8 sums stay integer-exact in doubles, so mean_value matches bit-for-bit.
# --------------------------------------------------------------------------
@register(
    "mm_decode_features",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, g.kind, g.h, g.w, g.fr,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE j < g.w * g.h * g.fr
    )
    SELECT media_id, kind, CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width, CAST(fr AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM s GROUP BY media_id, kind, h, w, fr ORDER BY media_id
    """,
    doc="L5 mapInPandas binary decode + stats, value-checked end to end",
)
def mm_decode_features(spark, sf_dir):
    from bioio_spark.functions.multimodal import decode_features, synth_media

    return (decode_features(synth_media(spark, _N_MEDIA))
            .orderBy("media_id"))


# --------------------------------------------------------------------------
# L5b': the REAL-codec decode path — image rows are genuine PNG files
# (formats/png.py: zlib IDAT, scanline filters, CRCs), audio/video stay in
# the FakeCodec container, and AutoCodec sniffs magic bytes per payload.
# Same closed-form pixel content, so the oracle is the same sample formula:
# a bug anywhere in PNG encode, the inflate/unfilter decode, or the codec
# dispatch shifts the per-media stats and breaks the hash.
# --------------------------------------------------------------------------
@register(
    "mm_decode_png",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, g.kind, g.h, g.w, g.fr,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE j < g.w * g.h * g.fr
    )
    SELECT media_id, kind, CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width, CAST(fr AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM s GROUP BY media_id, kind, h, w, fr ORDER BY media_id
    """,
    doc="L5 real-PNG decode (magic-sniffed mixed codecs), value-checked",
)
def mm_decode_png(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec, decode_features,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png")
    return (decode_features(media, codec=AutoCodec)
            .orderBy("media_id"))


@register(
    "mm_decode_bmp",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, g.kind, g.h, g.w, g.fr,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE j < g.w * g.h * g.fr
    )
    SELECT media_id, kind, CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width, CAST(fr AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM s GROUP BY media_id, kind, h, w, fr ORDER BY media_id
    """,
    doc="L5 real-BMP decode (Windows DIB, bottom-up paletted rows) via "
        "AutoCodec magic sniffing, value-checked",
)
def mm_decode_bmp(spark, sf_dir):
    """Image rows carry real BMP payloads (formats/bmp.py); AutoCodec
    sniffs the BM magic. Same closed-form content as the PNG/WAV twins,
    so the hash pins the palette + bottom-up row arithmetic."""
    from bioio_spark.functions.multimodal import (AutoCodec, decode_features,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="bmp")
    return (decode_features(media, codec=AutoCodec)
            .orderBy("media_id"))


@register(
    "mm_decode_gif",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, g.kind, g.h, g.w, g.fr,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE j < g.w * g.h * g.fr
    )
    SELECT media_id, kind, CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width, CAST(fr AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM s GROUP BY media_id, kind, h, w, fr ORDER BY media_id
    """,
    doc="L5 real-GIF video decode: multi-frame GIF89a animations "
        "(LSB-first LZW, per-frame graphic control) via AutoCodec",
)
def mm_decode_gif(spark, sf_dir):
    """VIDEO rows carry real multi-frame GIFs (formats/gif.py) — the
    frame-axis container; images real PNGs. AutoCodec sniffs GIF87a/
    89a magic. The hash pins frame count, compositing, and the GIF-LZW
    schedule (no EarlyChange, unlike TIFF's)."""
    from bioio_spark.functions.multimodal import (AutoCodec, decode_features,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png",
                        video_format="gif")
    return (decode_features(media, codec=AutoCodec)
            .orderBy("media_id"))


# --------------------------------------------------------------------------
# L5b-audio: real-WAV decode — audio rows carry actual RIFF/WAVE PCM
# files, images real PNGs; AutoCodec sniffs magic bytes per payload and
# routes each to its real codec (video stays the deterministic container).
# Same closed-form oracle: WAV roundtrips the sample values exactly.
# --------------------------------------------------------------------------
@register(
    "mm_decode_wav",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, g.kind, g.h, g.w, g.fr,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE j < g.w * g.h * g.fr
    )
    SELECT media_id, kind, CAST(h AS INTEGER) AS height,
           CAST(w AS INTEGER) AS width, CAST(fr AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM s GROUP BY media_id, kind, h, w, fr ORDER BY media_id
    """,
    doc="L5 real-WAV audio decode (magic-sniffed mixed codecs)",
)
def mm_decode_wav(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  decode_features,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png",
                        audio_format="wav")
    return (decode_features(media, codec=AutoCodec)
            .orderBy("media_id"))


# --------------------------------------------------------------------------
# L5c: video frame sampling — explode every-2nd frame with per-frame means;
# frame f covers samples [f*w*h, (f+1)*w*h).
# --------------------------------------------------------------------------
@register(
    "mm_frame_sample",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, CAST(j // (g.w * g.h) AS INTEGER) AS frame_idx,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE g.kind = 'video' AND j < g.w * g.h * g.fr
    )
    SELECT media_id, frame_idx, avg(v) AS mean_value
    FROM s WHERE frame_idx % 2 = 0
    GROUP BY media_id, frame_idx ORDER BY media_id, frame_idx
    """,
    doc="L5 every-k-th video frame sampling with per-frame stats",
)
def mm_frame_sample(spark, sf_dir):
    from bioio_spark.functions.multimodal import sample_frames, synth_media

    return (sample_frames(synth_media(spark, _N_MEDIA), every_k=2)
            .orderBy("media_id", "frame_idx"))


# --------------------------------------------------------------------------
# L5d: audio windowed energy — 100-sample windows over audio payloads.
# --------------------------------------------------------------------------
@register(
    "mm_audio_energy",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    s AS (
      SELECT g.media_id, CAST(j // 100 AS INTEGER) AS window_idx,
             (j * 31 + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(800) t(j)
      WHERE g.kind = 'audio' AND j < g.w * g.h * g.fr
    )
    SELECT media_id, window_idx, avg(v) AS energy
    FROM s GROUP BY media_id, window_idx ORDER BY media_id, window_idx
    """,
    doc="L5 per-window audio energy over binary payloads",
)
def mm_audio_energy(spark, sf_dir):
    from bioio_spark.functions.multimodal import (audio_window_energy,
                                                  synth_media)

    return (audio_window_energy(synth_media(spark, _N_MEDIA), window=100)
            .orderBy("media_id", "window_idx"))


# --------------------------------------------------------------------------
# L5g: the RESIZE stage of the multimodal pipeline — nearest-neighbor
# image resize as a composable mapInPandas stage (MEDIA_SCHEMA in,
# MEDIA_SCHEMA out), then the decode-stats pass over the RESIZED
# payloads. The oracle regenerates the exact nearest-neighbor sample
# selection from the closed-form payload formula, so the resize index
# arithmetic (floor(r*h/out_h), floor(c*w/out_w)), the re-encoded
# payload header, and the second decode are all inside the hash.
# --------------------------------------------------------------------------
@register(
    "mm_resize",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    rs AS (
      SELECT g.media_id, g.kind,
             ((((r.r * g.h) // 6) * g.w + ((c.c * g.w) // 8)) * 31
              + g.media_id * 7) % 251 AS v
      FROM g CROSS JOIN range(6) r(r) CROSS JOIN range(8) c(c)
      WHERE g.kind = 'image')
    SELECT media_id, kind, CAST(6 AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS width, CAST(1 AS INTEGER) AS n_frames,
           avg(v) AS mean_value, CAST(max(v) AS INTEGER) AS max_value
    FROM rs GROUP BY media_id, kind ORDER BY media_id
    """,
    doc="L5 nearest-neighbor image resize (mapInPandas pipeline "
        "stage, MEDIA_SCHEMA-composable) + decode stats over the "
        "resized payloads",
)
def mm_resize(spark, sf_dir):
    from bioio_spark.functions.multimodal import (decode_features,
                                                  resize_images,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA).filter(F.col("kind") == "image")
    return (decode_features(resize_images(media, 8, 6))
            .orderBy("media_id"))


# --------------------------------------------------------------------------
# L5g: perceptual near-duplicate image pairs — the LAION-style image dedup
# stage. aHash (8x8 block-mean threshold, exact integer comparison) computed
# over REAL decoded PNG payloads in mapInPandas, then a banded LSH join on
# 4 x 16-bit hash bands (exact for hamming < 4 by pigeonhole). The oracle
# recomputes the hash from the closed-form pixel formula entirely in SQL, so
# the PNG encode/decode, block arithmetic, band split, candidate join, and
# hamming filter are all inside the value hash.
# --------------------------------------------------------------------------
# CTE chain ending in {p}ham(media_id_a, media_id_b, hamming) — shared by
# the pair oracle (L5g), the cluster-resolution oracle (L5j), and the
# crossmodal composition (L5o, prefixed so the minhash chain's `capped`
# doesn't collide). `img_src` must provide (media_id, w, h [, extras]);
# `cid` is the closed-form content id feeding the pixel formula.
def _ahash_chain(img_src: str, cid: str = "media_id",
                 p: str = "") -> str:
    return f"""{p}s AS (
      SELECT media_id, w, h, j,
             (j * 31 + {cid} * 7) % 251 AS v,
             ((j % w) * 8) // w AS bx,
             ((j // w) * 8) // h AS by
      FROM {img_src} CROSS JOIN range(480) t(j) WHERE j < w * h),
    {p}blk AS (SELECT media_id, by * 8 + bx AS b,
                   sum(v) AS bs, count(*) AS bc
            FROM {p}s GROUP BY media_id, by * 8 + bx),
    {p}tot AS (SELECT media_id, sum(v) AS ts, count(*) AS tc
            FROM {p}s GROUP BY media_id),
    {p}bits AS (SELECT {p}blk.media_id, b,
                    CASE WHEN bs * tc > ts * bc THEN 1 ELSE 0 END AS bit
             FROM {p}blk JOIN {p}tot USING (media_id)),
    {p}bands AS (SELECT media_id, b // 16 AS k,
                     CAST(sum(bit * (1 << (b % 16))) AS INT) AS v
              FROM {p}bits GROUP BY media_id, b // 16),
    {p}capped AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM {p}bands) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    {p}cand AS (SELECT DISTINCT x.media_id AS media_id_a,
                             y.media_id AS media_id_b
             FROM {p}capped x JOIN {p}capped y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id),
    {p}ham AS (
      SELECT c.media_id_a, c.media_id_b,
             CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hamming
      FROM {p}cand c
      JOIN {p}bands xa ON xa.media_id = c.media_id_a
      JOIN {p}bands xb ON xb.media_id = c.media_id_b AND xb.k = xa.k
      GROUP BY c.media_id_a, c.media_id_b)"""


_AHASH_CTE = (f"""g AS ({_GEOM_SQL}),
    img AS (SELECT media_id, w, h FROM g WHERE kind = 'image'),
    """ + _ahash_chain("img"))


@register(
    "mm_ahash_neardup",
    oracle=f"""
    WITH {_AHASH_CTE}
    SELECT media_id_a, media_id_b, hamming FROM ham
    WHERE hamming <= 3
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5g perceptual image near-dup pairs: aHash over real decoded "
        "PNGs, banded LSH join (exact for hamming<4), integer-exact "
        "block-mean bits",
)
def mm_ahash_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  image_near_dups,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png")
    return image_near_dups(media, codec=AutoCodec)


# --------------------------------------------------------------------------
# L5h: audio near-duplicate pairs — the 1-D envelope-fingerprint sibling of
# mm_ahash_neardup, over REAL RIFF/WAVE payloads. Same exact banded join;
# the oracle recomputes the 64-window envelope hash from the closed-form
# sample formula in SQL.
# --------------------------------------------------------------------------
@register(
    "mm_audio_neardup",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    aud AS (SELECT media_id FROM g WHERE kind = 'audio'),
    s AS (
      SELECT media_id, j, (j * 31 + media_id * 7) % 251 AS v,
             (j * 64) // 800 AS wd
      FROM aud CROSS JOIN range(800) t(j)),
    win AS (SELECT media_id, wd, sum(v) AS ws, count(*) AS wc
            FROM s GROUP BY media_id, wd),
    tot AS (SELECT media_id, sum(v) AS ts FROM s GROUP BY media_id),
    bits AS (SELECT win.media_id, wd,
                    CASE WHEN ws * 800 > ts * wc THEN 1 ELSE 0 END AS bit
             FROM win JOIN tot USING (media_id)),
    bands AS (SELECT media_id, wd // 16 AS k,
                     CAST(sum(bit * (1 << (wd % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, wd // 16),
    capped AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM bands) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS media_id_a,
                             y.media_id AS media_id_b
             FROM capped x JOIN capped y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id)
    SELECT media_id_a, media_id_b, hamming FROM (
      SELECT c.media_id_a, c.media_id_b,
             CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hamming
      FROM cand c
      JOIN bands xa ON xa.media_id = c.media_id_a
      JOIN bands xb ON xb.media_id = c.media_id_b AND xb.k = xa.k
      GROUP BY c.media_id_a, c.media_id_b)
    WHERE hamming <= 3
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5h audio near-dup pairs: 64-window energy-envelope "
        "fingerprint over real WAV payloads, exact banded LSH join",
)
def mm_audio_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  audio_near_dups,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, audio_format="wav")
    return audio_near_dups(media, codec=AutoCodec)


# --------------------------------------------------------------------------
# L5i: video near-duplicate pairs — per-frame aHash signatures over REAL
# multi-frame GIF payloads; candidates from a banded join on frame 0 only
# (exact by pigeonhole: an all-frames-close pair is frame-0-close and must
# share a frame-0 band), then aligned-frame hamming verified on candidates.
# The oracle rebuilds every frame hash from the closed-form sample formula.
# --------------------------------------------------------------------------
@register(
    "mm_video_neardup",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    vid AS (SELECT media_id, fr FROM g WHERE kind = 'video'),
    s AS (
      SELECT media_id, fr, j // 64 AS fidx, j % 64 AS p,
             (j * 31 + media_id * 7) % 251 AS v
      FROM vid CROSS JOIN range(384) t(j) WHERE j < 64 * fr),
    fs AS (SELECT media_id, fidx, sum(v) AS fsum
           FROM s GROUP BY media_id, fidx),
    bits AS (SELECT s.media_id, s.fidx, p,
                    CASE WHEN v * 64 > fsum THEN 1 ELSE 0 END AS bit
             FROM s JOIN fs ON fs.media_id = s.media_id
                           AND fs.fidx = s.fidx),
    bands AS (SELECT media_id, fidx, p // 16 AS k,
                     CAST(sum(bit * (1 << (p % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, fidx, p // 16),
    f0 AS (SELECT media_id, k, v FROM bands WHERE fidx = 0),
    f0c AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM f0) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
             FROM f0c x JOIN f0c y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id),
    hpf AS (SELECT c.a, c.b, xa.fidx,
                   CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hf
            FROM cand c
            JOIN bands xa ON xa.media_id = c.a
            JOIN bands xb ON xb.media_id = c.b
                         AND xb.fidx = xa.fidx AND xb.k = xa.k
            GROUP BY c.a, c.b, xa.fidx),
    pair AS (SELECT a, b, CAST(count(*) AS INT) AS n_frames,
                    CAST(sum(hf) AS INT) AS hamming_sum,
                    max(hf) AS hmax
             FROM hpf GROUP BY a, b),
    nf AS (SELECT media_id, count(DISTINCT fidx) AS nf
           FROM bands GROUP BY media_id)
    SELECT pair.a AS media_id_a, pair.b AS media_id_b,
           n_frames, hamming_sum
    FROM pair
    JOIN nf na ON na.media_id = pair.a
    JOIN nf nb ON nb.media_id = pair.b
    WHERE hmax <= 3 AND na.nf = nb.nf AND n_frames = na.nf
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5i video near-dup pairs: per-frame aHash over real GIF "
        "animations, frame-0 banded candidates (exact), aligned-frame "
        "verification",
)
def mm_video_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  synth_media,
                                                  video_near_dups)

    media = synth_media(spark, _N_MEDIA, video_format="gif")
    return video_near_dups(media, codec=AutoCodec)


# --------------------------------------------------------------------------
# L5j: the full image-dedup RESOLUTION — perceptual pairs (L5g) resolved to
# connected components (the l6 pointer-jumping CC over media ids), one
# cluster_rep = min media_id per component (the image a dedup pass keeps).
# Composes two module families end to end: multimodal fingerprinting and
# graph cluster resolution. Oracle: the shared aHash CTE feeding the
# recursive-CTE CC fixpoint.
# --------------------------------------------------------------------------
def _ahash_clusters_oracle() -> str:
    from bioio_spark.functions.clusters import dedup_clusters_oracle

    pairs_cte = (_AHASH_CTE + """,
    pairs AS (SELECT media_id_a AS doc_a, media_id_b AS doc_b
              FROM ham WHERE hamming <= 3)""")
    inner = dedup_clusters_oracle(pairs_cte)
    return (f"SELECT doc_id AS media_id, cluster_rep, cluster_size "
            f"FROM ({inner}) ORDER BY media_id")


@register(
    "mm_ahash_clusters",
    oracle=_ahash_clusters_oracle(),
    doc="L5j image-dedup resolution: aHash near-dup pairs -> connected "
        "components -> cluster rep (keep) + size per image",
)
def mm_ahash_clusters(spark, sf_dir):
    from bioio_spark.functions.clusters import dedup_clusters
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  image_near_dups,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png")
    pairs = (image_near_dups(media, codec=AutoCodec)
             .select(F.col("media_id_a").alias("doc_a"),
                     F.col("media_id_b").alias("doc_b")))
    return (dedup_clusters(pairs)
            .select(F.col("doc_id").alias("media_id"),
                    "cluster_rep", "cluster_size")
            .orderBy("media_id"))


# --------------------------------------------------------------------------
# L5k: the media dedup pipeline END-TO-END — the multimodal twin of l15's
# filter funnel: fingerprint -> capped banded near-dup pairs -> CC cluster
# resolution -> keeper filter, reported as ONE attrition table (the run
# report a 100 TB media dedup pass publishes). Composes the whole tier in
# one plan; the oracle textually embeds the aHash CTE and the recursive-CTE
# CC fixpoint (the l15 no-drift device), so the pipeline can never diverge
# from its stages' own oracles.
# --------------------------------------------------------------------------
def _mm_pipeline_oracle() -> str:
    from bioio_spark.functions.clusters import dedup_clusters_oracle

    pairs_cte = (_AHASH_CTE + """,
    pairs AS (SELECT media_id_a AS doc_a, media_id_b AS doc_b
              FROM ham WHERE hamming <= 3)""")
    inner = dedup_clusters_oracle(pairs_cte)
    return f"""
    WITH cl AS (SELECT * FROM ({inner})),
    {_AHASH_CTE}
    SELECT CAST(stage_idx AS INT) AS stage_idx, stage,
           CAST(n AS BIGINT) AS n
    FROM (
      SELECT 1 AS stage_idx, 'images' AS stage,
             (SELECT count(*) FROM img) AS n
      UNION ALL
      SELECT 2, 'neardup_pairs',
             (SELECT count(*) FROM ham WHERE hamming <= 3)
      UNION ALL
      SELECT 3, 'clusters',
             (SELECT count(DISTINCT cluster_rep) FROM cl)
      UNION ALL
      SELECT 4, 'dropped',
             (SELECT count(*) FROM cl WHERE doc_id <> cluster_rep)
      UNION ALL
      SELECT 5, 'kept',
             (SELECT count(*) FROM img)
             - (SELECT count(*) FROM cl WHERE doc_id <> cluster_rep))
    ORDER BY stage_idx
    """


@register(
    "mm_dedup_pipeline",
    oracle=_mm_pipeline_oracle(),
    doc="L5k media dedup pipeline attrition: fingerprint -> capped "
        "banded pairs -> CC clusters -> keepers, one composed plan, "
        "one published attrition table (the l15 funnel device for the "
        "multimodal tier)",
)
def mm_dedup_pipeline(spark, sf_dir):
    from bioio_spark.functions.clusters import dedup_clusters
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  image_near_dups,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png")
    pairs = image_near_dups(media, codec=AutoCodec)
    cl = dedup_clusters(pairs.select(
        F.col("media_id_a").alias("doc_a"),
        F.col("media_id_b").alias("doc_b")))
    n_img = (media.filter(F.col("kind") == "image")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_img")))
    n_pairs = pairs.agg(F.count(F.lit(1)).cast("bigint")
                        .alias("n_pairs"))
    n_cl = cl.agg(F.countDistinct("cluster_rep").cast("bigint")
                  .alias("n_cl"))
    n_dr = (cl.filter(F.col("doc_id") != F.col("cluster_rep"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dr")))
    # one row of stage counts (each a tiny broadcast) exploded into the
    # attrition table — the e1 funnel device
    row = (n_img.crossJoin(F.broadcast(n_pairs))
           .crossJoin(F.broadcast(n_cl))
           .crossJoin(F.broadcast(n_dr)))
    stages = F.array(
        F.struct(F.lit(1).alias("stage_idx"),
                 F.lit("images").alias("stage"),
                 F.col("n_img").alias("n")),
        F.struct(F.lit(2).alias("stage_idx"),
                 F.lit("neardup_pairs").alias("stage"),
                 F.col("n_pairs").alias("n")),
        F.struct(F.lit(3).alias("stage_idx"),
                 F.lit("clusters").alias("stage"),
                 F.col("n_cl").alias("n")),
        F.struct(F.lit(4).alias("stage_idx"),
                 F.lit("dropped").alias("stage"),
                 F.col("n_dr").alias("n")),
        F.struct(F.lit(5).alias("stage_idx"),
                 F.lit("kept").alias("stage"),
                 (F.col("n_img") - F.col("n_dr")).alias("n")))
    return (row.select(F.explode(stages).alias("s"))
            .select(F.col("s.stage_idx").cast("int").alias("stage_idx"),
                    F.col("s.stage").alias("stage"),
                    F.col("s.n").cast("bigint").alias("n"))
            .orderBy("stage_idx"))


# --------------------------------------------------------------------------
# L5l: banded-candidate RECALL gauge for the perceptual tier — the l3f
# device (PQ recall vs brute force) applied to aHash banding. Below
# hamming 4 the 4x16-bit banding is pigeonhole-EXACT; this gauge measures
# what the banding catches at thresholds 4..8, where exactness ends, by
# comparing the production candidate set (capped _bucket_pairs) against
# brute-force all-pairs hamming. The brute half is the ground truth and
# is fixture-only by design (like l3f); integer permille, no floats.
# --------------------------------------------------------------------------
_RECALL_THRESHOLDS = list(range(4, 9))


def _banding_recall(spark, h, n_bands: int, tag: str):
    """Shared recall-gauge core (mm_ahash_recall / mm_phash_recall):
    brute-force all-pairs hamming over a persisted fingerprint frame
    (the gauge's fixture-bounded ground-truth half) vs the PRODUCTION
    capped banded candidate set, reported per threshold as integer
    permille. Parameterized by band count exactly like
    _banded_near_dups, so one gauge definition serves every key width."""
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.session import hold
    from bioio_spark.functions.multimodal import MEDIA_MAX_BUCKET_WIDTH

    held = hold(spark, tag)
    h = h.persist()
    held.append(h)
    ha = h.select(F.col("media_id").alias("ma"),
                  *[F.col(f"b{k}").alias(f"xa{k}")
                    for k in range(n_bands)])
    hb = h.select(F.col("media_id").alias("mb"),
                  *[F.col(f"b{k}").alias(f"xb{k}")
                    for k in range(n_bands)])
    ham = None
    for k in range(n_bands):
        term = F.bit_count(F.col(f"xa{k}").bitwiseXOR(F.col(f"xb{k}")))
        ham = term if ham is None else ham + term
    allp = (ha.join(hb, F.col("ma") < F.col("mb"))
            .select("ma", "mb", ham.cast("int").alias("ham")))
    bands = F.array(*[
        F.struct(F.lit(k).alias("k"), F.col(f"b{k}").alias("v"))
        for k in range(n_bands)])
    lf = (h.select("media_id", F.explode(bands).alias("bv"))
          .select("media_id", F.col("bv")["k"].alias("k"),
                  F.col("bv")["v"].alias("v")))
    cand = (_bucket_pairs(lf, ["k", "v"], "media_id",
                          max_width=MEDIA_MAX_BUCKET_WIDTH)
            .distinct()
            .select(F.col("doc_a").alias("ma"),
                    F.col("doc_b").alias("mb"),
                    F.lit(1).alias("c")))
    j = (allp.join(cand, ["ma", "mb"], "left")
         .select("ham", F.coalesce("c", F.lit(0)).alias("c")))
    aggs = []
    for t in _RECALL_THRESHOLDS:
        aggs.append(F.sum(F.when(F.col("ham") <= t, 1).otherwise(0))
                    .cast("bigint").alias(f"t{t}"))
        aggs.append(F.sum(F.when(F.col("ham") <= t, F.col("c"))
                          .otherwise(0))
                    .cast("bigint").alias(f"c{t}"))
    row = j.agg(*aggs)
    out = F.array(*[
        F.struct(F.lit(t).alias("max_hamming"),
                 F.col(f"t{t}").alias("n_true"),
                 F.col(f"c{t}").alias("n_caught"))
        for t in _RECALL_THRESHOLDS])
    return (row.select(F.explode(out).alias("s"))
            .select(F.col("s.max_hamming").cast("int")
                    .alias("max_hamming"),
                    F.col("s.n_true").alias("n_true"),
                    F.col("s.n_caught").alias("n_caught"),
                    F.expr("CASE WHEN s.n_true = 0 THEN 1000 "
                           "ELSE s.n_caught * 1000 DIV s.n_true END")
                    .cast("bigint").alias("recall_permille"))
            .orderBy("max_hamming"))


@register(
    "mm_ahash_recall",
    oracle=f"""
    WITH {_AHASH_CTE},
    allp AS (
      SELECT a.media_id AS ma, b.media_id AS mb,
             CAST(sum(bit_count(xor(a.v, b.v))) AS INT) AS ham
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.media_id < b.media_id
      GROUP BY a.media_id, b.media_id),
    j AS (
      SELECT allp.ham,
             CASE WHEN c.media_id_a IS NOT NULL THEN 1 ELSE 0 END AS c
      FROM allp LEFT JOIN cand c
        ON c.media_id_a = allp.ma AND c.media_id_b = allp.mb),
    per AS (
      SELECT CAST(h AS INT) AS max_hamming,
             CAST(sum(CASE WHEN ham <= h THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN ham <= h THEN c ELSE 0 END)
                  AS BIGINT) AS n_caught
      FROM j CROSS JOIN range(4, 9) r(h) GROUP BY h)
    SELECT max_hamming, n_true, n_caught,
           CAST(CASE WHEN n_true = 0 THEN 1000
                ELSE n_caught * 1000 // n_true END AS BIGINT)
             AS recall_permille
    FROM per ORDER BY max_hamming
    """,
    doc="L5l aHash banding recall gauge at hamming 4..8 (beyond the "
        "pigeonhole-exact band count): capped banded candidates vs "
        "brute-force all-pairs ground truth, integer permille",
)
def mm_ahash_recall(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AHASH_BANDS,
                                                  AutoCodec,
                                                  ahash_images,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, image_format="png")
    # ground truth: brute-force all-pairs hamming (a deliberate
    # cartesian over the n_images-row fingerprint frame — the gauge's
    # fixture-bounded reference half, like l3f's brute re-rank; the
    # PRODUCTION half is the capped banded candidate set)
    return _banding_recall(spark, ahash_images(media, codec=AutoCodec),
                           AHASH_BANDS, "ahash_recall")


# --------------------------------------------------------------------------
# L5m: 128-bit integer-DCT pHash near-dups — the wider-band-key SCALE
# PATH for the perceptual triad (SCALING.md "16-bit band-space
# saturation"): 8 x 16-bit bands over a 128-bit fingerprint move the
# pigeonhole-exact regime from hamming<4 to hamming<8 and push the
# band-key saturation point out by the wider fingerprint's entropy.
# The oracle recomputes every DCT coefficient from the closed-form
# pixel formula with the SAME fixed-point basis table (shared Python
# constants baked as SQL literals), so the 16x16 block sums, the
# integer DCT, the 128-bit sign pattern, the band split, the capped
# candidate join, and the hamming filter are all inside the value hash.
# --------------------------------------------------------------------------
def _dct_literals():
    """The fixed-point DCT basis and bit-selection tables as SQL VALUES
    literals — the SAME Python constants the Spark side uses, shared by
    every pHash oracle (image twin fixture + video frames)."""
    from bioio_spark.functions.multimodal import DCT_T, PHASH_PAIRS

    dct_vals = ", ".join(
        f"({u},{y},{t})" for u, row in enumerate(DCT_T)
        for y, t in enumerate(row))
    pair_vals = ", ".join(
        f"({u},{v},{k})" for k, (u, v) in enumerate(PHASH_PAIRS))
    return dct_vals, pair_vals


def _phash_cte() -> str:
    from bioio_spark.functions.multimodal import TWIN_DELTA, TWIN_NPIX

    dct_vals, pair_vals = _dct_literals()
    # twin-fixture geometry (synth_image_twins): the image ids of the
    # standard geometry plus perturbed twins at media_id + N — the twin
    # shifts its first TWIN_NPIX pixels by TWIN_DELTA (mod 251)
    return f"""img AS (
      SELECT i + ({_N_MEDIA} * cp) AS media_id,
             16 + (i % 4) * 8 AS w, 12 AS h, cp AS is_twin
      FROM range({_N_MEDIA}) r(i) CROSS JOIN range(2) c(cp)
      WHERE i % 3 = 0),
    s AS (
      SELECT media_id, w, h, j,
             (j * 31 + (media_id % {_N_MEDIA}) * 7
              + CASE WHEN is_twin = 1 AND j < {TWIN_NPIX}
                     THEN {TWIN_DELTA} ELSE 0 END) % 251 AS v,
             ((j % w) * 16) // w AS bx,
             ((j // w) * 16) // h AS by
      FROM img CROSS JOIN range(480) t(j) WHERE j < w * h),
    blk AS (SELECT media_id, by, bx, sum(v) AS bs
            FROM s GROUP BY media_id, by, bx),
    dct(u, y, t) AS (VALUES {dct_vals}),
    bitsel(u, v, kb) AS (VALUES {pair_vals}),
    coef AS (SELECT blk.media_id, tu.u AS u, tv.u AS v,
                    sum(blk.bs * tu.t * tv.t) AS c
             FROM blk
             JOIN dct tu ON tu.y = blk.by AND tu.u <= 8
             JOIN dct tv ON tv.y = blk.bx
             GROUP BY blk.media_id, tu.u, tv.u),
    bits AS (SELECT coef.media_id, bitsel.kb,
                    CASE WHEN coef.c > 0 THEN 1 ELSE 0 END AS bit
             FROM coef JOIN bitsel
               ON bitsel.u = coef.u AND bitsel.v = coef.v),
    bands AS (SELECT media_id, kb // 16 AS k,
                     CAST(sum(bit * (1 << (kb % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, kb // 16),
    capped AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM bands) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS media_id_a,
                             y.media_id AS media_id_b
             FROM capped x JOIN capped y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id),
    ham AS (
      SELECT c.media_id_a, c.media_id_b,
             CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hamming
      FROM cand c
      JOIN bands xa ON xa.media_id = c.media_id_a
      JOIN bands xb ON xb.media_id = c.media_id_b AND xb.k = xa.k
      GROUP BY c.media_id_a, c.media_id_b)"""


_PHASH_CTE = _phash_cte()


@register(
    "mm_phash_neardup",
    oracle=f"""
    WITH {_PHASH_CTE}
    SELECT media_id_a, media_id_b, hamming FROM ham
    WHERE hamming <= 7
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5m 128-bit integer-DCT pHash near-dup pairs over real decoded "
        "PNGs (twin fixture: perturbed copies at hamming 2-8): 8 x "
        "16-bit banded join (exact for hamming<8), fixed-point DCT "
        "basis shared verbatim with the oracle",
)
def mm_phash_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  phash_near_dups,
                                                  synth_image_twins)

    media = synth_image_twins(spark, _N_MEDIA)
    return phash_near_dups(media, codec=AutoCodec)


# --------------------------------------------------------------------------
# L5n: the banding recall gauge RE-GAUGED AT THE WIDER KEY — the round-10
# mm_ahash_recall device applied to the 128-bit pHash: production capped
# banded candidates vs brute-force all-pairs hamming at thresholds 4..8.
# With 8 bands the whole 4..8 range sits at or below the pigeonhole
# boundary (exact below 8), so the curve must dominate the 64-bit key's —
# the regression tripwire for the scale path itself.
# --------------------------------------------------------------------------
@register(
    "mm_phash_recall",
    oracle=f"""
    WITH {_PHASH_CTE},
    allp AS (
      SELECT a.media_id AS ma, b.media_id AS mb,
             CAST(sum(bit_count(xor(a.v, b.v))) AS INT) AS ham
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.media_id < b.media_id
      GROUP BY a.media_id, b.media_id),
    j AS (
      SELECT allp.ham,
             CASE WHEN c.media_id_a IS NOT NULL THEN 1 ELSE 0 END AS c
      FROM allp LEFT JOIN cand c
        ON c.media_id_a = allp.ma AND c.media_id_b = allp.mb),
    per AS (
      SELECT CAST(h AS INT) AS max_hamming,
             CAST(sum(CASE WHEN ham <= h THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN ham <= h THEN c ELSE 0 END)
                  AS BIGINT) AS n_caught
      FROM j CROSS JOIN range(4, 9) r(h) GROUP BY h)
    SELECT max_hamming, n_true, n_caught,
           CAST(CASE WHEN n_true = 0 THEN 1000
                ELSE n_caught * 1000 // n_true END AS BIGINT)
             AS recall_permille
    FROM per ORDER BY max_hamming
    """,
    doc="L5n pHash banding recall gauge at hamming 4..8 over the 128-bit "
        "key (all thresholds at or below the 8-band pigeonhole boundary): "
        "capped banded candidates vs brute-force ground truth",
)
def mm_phash_recall(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  PHASH_BANDS,
                                                  phash_images,
                                                  synth_image_twins)

    media = synth_image_twins(spark, _N_MEDIA)
    return _banding_recall(spark, phash_images(media, codec=AutoCodec),
                           PHASH_BANDS, "phash_recall")


# --------------------------------------------------------------------------
# L5r (r12): CROP-ROBUST perceptual dedup — the l2f exact-substring
# analog for images. A crop shifts every global DCT coefficient, so the
# banded pHash key is lost; the tile-wise device recovers it:
# fingerprint aligned 4x4 tiles (16-bit aHash each), candidates = any
# EXACT tile-value match through the capped _bucket_pairs (each tile
# plays the role of a band), verification = best-offset aligned
# hamming (slide grid B over grid A; accept if the best offset's
# integer per-tile permille <= CROP_MAX_MILLI over >= CROP_MIN_OVERLAP
# tiles). The fixture's three arms give real accepts (pure tile-aligned
# crops, ham_milli = 0), real candidate-then-REJECT rows (corrupt arm:
# enumerated via its clean tiles, failing the milli gate), and
# coincidental cross-image candidates that verification removes.
# --------------------------------------------------------------------------
def _crop_cte() -> str:
    from bioio_spark.functions.multimodal import (CROP_MIN_OVERLAP,
                                                  CTWIN_DELTA,
                                                  CTWIN_ROWS)

    return f"""img AS (
      SELECT i + arm * {_N_MEDIA} AS media_id, i, arm,
             16 + (i % 4) * 8 AS w0,
             4 * (1 + (i // 3) % 2) AS cw
      FROM range({_N_MEDIA}) r(i) CROSS JOIN range(3) a(arm)
      WHERE i % 3 = 0),
    dims AS (
      SELECT media_id, i, arm, w0, cw,
             CASE WHEN arm = 0 THEN w0 ELSE w0 - cw END AS w,
             CASE WHEN arm = 0 THEN 12 ELSE 12 - {CTWIN_ROWS} END AS h
      FROM img),
    px AS (
      SELECT media_id,
             (p // w) // 4 AS ti, (p % w) // 4 AS tj,
             ((p // w) % 4) * 4 + (p % w) % 4 AS bidx,
             (((CASE WHEN arm = 0 THEN (p // w) * w0 + (p % w)
                ELSE ((p // w) + {CTWIN_ROWS}) * w0 + (p % w) + cw
                END) * (31 + i) + i * 7) % 251
              + CASE WHEN arm = 2 AND (p // w) < {CTWIN_ROWS}
                     THEN {CTWIN_DELTA} ELSE 0 END) % 251 AS v
      FROM dims CROSS JOIN range(480) t(p) WHERE p < w * h),
    th AS (
      SELECT media_id, ti, tj,
             CAST(sum(CASE WHEN v * 16 > ts THEN (1 << bidx)
                           ELSE 0 END) AS INT) AS v
      FROM (SELECT media_id, ti, tj, bidx, v,
                   sum(v) OVER (PARTITION BY media_id, ti, tj) AS ts
            FROM px)
      GROUP BY media_id, ti, tj),
    tvals AS (SELECT DISTINCT media_id, v FROM th),
    capped AS (SELECT media_id, v FROM (
      SELECT media_id, v,
             row_number() OVER (PARTITION BY v
                                ORDER BY media_id) AS rn
      FROM tvals) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS media_id_a,
                             y.media_id AS media_id_b
             FROM capped x JOIN capped y
               ON x.v = y.v AND x.media_id < y.media_id),
    offs AS (
      SELECT c.media_id_a, c.media_id_b,
             tb.ti - ta.ti AS dy, tb.tj - ta.tj AS dx,
             sum(bit_count(xor(ta.v, tb.v))) AS hs,
             count(*) AS no
      FROM cand c
      JOIN th ta ON ta.media_id = c.media_id_a
      JOIN th tb ON tb.media_id = c.media_id_b
      GROUP BY 1, 2, 3, 4),
    best AS (
      SELECT media_id_a, media_id_b,
             CAST(dy AS INT) AS dy, CAST(dx AS INT) AS dx,
             CAST(no AS BIGINT) AS n_overlap,
             CAST(hs * 1000 // no AS BIGINT) AS ham_milli
      FROM (
        SELECT media_id_a, media_id_b, dy, dx, hs, no,
               row_number() OVER (
                 PARTITION BY media_id_a, media_id_b
                 ORDER BY hs * 1000 // no ASC, dy ASC, dx ASC) AS rn
        FROM offs WHERE no >= {CROP_MIN_OVERLAP})
      WHERE rn = 1)"""


_CROP_CTE = _crop_cte()

from bioio_spark.functions.multimodal import (  # noqa: E402
    CROP_MAX_MILLI as _CROP_MAX_MILLI,
    CROP_MIN_OVERLAP as _CROP_MIN_OVERLAP,
)


@register(
    "mm_crop_neardup",
    oracle=f"""
    WITH {_CROP_CTE}
    SELECT media_id_a, media_id_b, dy, dx, n_overlap, ham_milli
    FROM best WHERE ham_milli <= {_CROP_MAX_MILLI}
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5r crop-robust image dedup: tile-wise 16-bit hashes, "
        "candidates = any exact tile match (capped buckets), verified "
        "by best-offset aligned hamming — catches the tile-aligned "
        "crops a global pHash misses, over real PNG payloads",
)
def mm_crop_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  crop_near_dups,
                                                  synth_crop_twins)

    media = synth_crop_twins(spark, _N_MEDIA)
    return crop_near_dups(media, codec=AutoCodec)


@register(
    "mm_crop_recall",
    oracle=f"""
    WITH {_CROP_CTE},
    mids AS (SELECT DISTINCT media_id FROM th),
    allp AS (SELECT a.media_id AS media_id_a, b.media_id AS media_id_b
             FROM mids a JOIN mids b ON a.media_id < b.media_id),
    aoffs AS (
      SELECT c.media_id_a, c.media_id_b,
             tb.ti - ta.ti AS dy, tb.tj - ta.tj AS dx,
             sum(bit_count(xor(ta.v, tb.v))) AS hs,
             count(*) AS no
      FROM allp c
      JOIN th ta ON ta.media_id = c.media_id_a
      JOIN th tb ON tb.media_id = c.media_id_b
      GROUP BY 1, 2, 3, 4),
    truth AS (
      SELECT media_id_a, media_id_b FROM (
        SELECT media_id_a, media_id_b, hs, no,
               row_number() OVER (
                 PARTITION BY media_id_a, media_id_b
                 ORDER BY hs * 1000 // no ASC, dy ASC, dx ASC) AS rn
        FROM aoffs WHERE no >= {_CROP_MIN_OVERLAP})
      WHERE rn = 1 AND hs * 1000 // no <= {_CROP_MAX_MILLI}),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN c.media_id_a IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
      FROM truth t LEFT JOIN cand c
        ON c.media_id_a = t.media_id_a
       AND c.media_id_b = t.media_id_b)
    SELECT n_true, n_caught,
           CAST(CASE WHEN n_true = 0 THEN 1000
                ELSE n_caught * 1000 // n_true END AS BIGINT)
             AS recall_permille
    FROM agg
    """,
    doc="L5s crop-dedup enumeration recall gauge: verified-true pairs "
        "from BRUTE-FORCE best-offset scoring over all pairs vs the "
        "capped tile-bucket candidate set — measures what the "
        "any-tile-match banding loses (exact for tile-aligned crops)",
)
def mm_crop_recall(spark, sf_dir):
    from bioio_spark.functions.dedup import _bucket_pairs
    from bioio_spark.session import hold
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  CROP_MAX_MILLI,
                                                  MEDIA_MAX_BUCKET_WIDTH,
                                                  _crop_best_offsets,
                                                  crop_tile_hashes,
                                                  synth_crop_twins)

    media = synth_crop_twins(spark, _N_MEDIA)
    th = crop_tile_hashes(media, codec=AutoCodec)
    held = hold(spark, "crop_recall")
    th = th.persist()
    held.append(th)
    ids = th.select("media_id").distinct()
    allp = (ids.select(F.col("media_id").alias("media_id_a"))
            .join(ids.select(F.col("media_id").alias("media_id_b")),
                  F.col("media_id_a") < F.col("media_id_b")))
    truth = (_crop_best_offsets(allp, th)
             .filter(F.col("ham_milli") <= CROP_MAX_MILLI)
             .select("media_id_a", "media_id_b"))
    lf = th.select("media_id", "v").distinct()
    cand = (_bucket_pairs(lf, ["v"], "media_id",
                          max_width=MEDIA_MAX_BUCKET_WIDTH)
            .distinct()
            .select(F.col("doc_a").alias("media_id_a"),
                    F.col("doc_b").alias("media_id_b")))
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    nc = (truth.join(cand, ["media_id_a", "media_id_b"])
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_caught")))
    return (nt.crossJoin(F.broadcast(nc))
            .select("n_true", "n_caught",
                    F.when(F.col("n_true") == 0, F.lit(1000))
                    .otherwise(F.floor(F.col("n_caught") * 1000
                                       / F.col("n_true")))
                    .cast("bigint").alias("recall_permille")))


# --------------------------------------------------------------------------
# L5p: the AUDIO arm of the wider-band-key scale path — the 128-window
# envelope fingerprint banded 8 x 16-bit (audio_fingerprint n_win=128
# through the parameterized _banded_near_dups): pigeonhole-exact recall
# moves from hamming<4 to hamming<8, same cap discipline, same oracle
# shape with 128 windows. Threshold 7 = the new exactness boundary.
# --------------------------------------------------------------------------
@register(
    "mm_audio_wideband_neardup",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    aud AS (SELECT media_id FROM g WHERE kind = 'audio'),
    s AS (
      SELECT media_id, j, (j * 31 + media_id * 7) % 251 AS v,
             (j * 128) // 800 AS wd
      FROM aud CROSS JOIN range(800) t(j)),
    win AS (SELECT media_id, wd, sum(v) AS ws, count(*) AS wc
            FROM s GROUP BY media_id, wd),
    tot AS (SELECT media_id, sum(v) AS ts FROM s GROUP BY media_id),
    bits AS (SELECT win.media_id, wd,
                    CASE WHEN ws * 800 > ts * wc THEN 1 ELSE 0 END AS bit
             FROM win JOIN tot USING (media_id)),
    bands AS (SELECT media_id, wd // 16 AS k,
                     CAST(sum(bit * (1 << (wd % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, wd // 16),
    capped AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM bands) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS media_id_a,
                             y.media_id AS media_id_b
             FROM capped x JOIN capped y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id)
    SELECT media_id_a, media_id_b, hamming FROM (
      SELECT c.media_id_a, c.media_id_b,
             CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hamming
      FROM cand c
      JOIN bands xa ON xa.media_id = c.media_id_a
      JOIN bands xb ON xb.media_id = c.media_id_b AND xb.k = xa.k
      GROUP BY c.media_id_a, c.media_id_b)
    WHERE hamming <= 7
    ORDER BY media_id_a, media_id_b
    """,
    doc="L5p wider-band-key audio near-dups: 128-window envelope "
        "fingerprint, 8 x 16-bit banded join (exact for hamming<8) "
        "over real WAV payloads — the audio arm of the r11 scale path",
)
def mm_audio_wideband_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  audio_near_dups,
                                                  synth_media)

    media = synth_media(spark, _N_MEDIA, audio_format="wav")
    return audio_near_dups(media, codec=AutoCodec, max_hamming=7,
                           n_win=128)


# --------------------------------------------------------------------------
# L5q: the VIDEO arm of the wider-band-key scale path — per-frame
# 128-bit integer-DCT pHash, frame-0 banded candidates over 8 x 16-bit
# bands (pigeonhole exactness moves to hamming<8), aligned-frame
# verification at the new per-frame boundary 7, same frame-count gate
# and cap discipline as mm_video_neardup. Completes the triad: image
# (mm_phash_neardup), audio (mm_audio_wideband_neardup), video (this).
# --------------------------------------------------------------------------
def _video_wide_oracle() -> str:
    from bioio_spark.functions.multimodal import VTWIN_DELTA, VTWIN_NPIX

    dct_vals, pair_vals = _dct_literals()
    return f"""
    WITH vid AS (
      SELECT i + ({_N_MEDIA} * cp) AS media_id, 8 AS w, 8 AS h,
             4 + (i // 3) % 3 AS fr, cp AS is_twin
      FROM range({_N_MEDIA}) r(i) CROSS JOIN range(2) c(cp)
      WHERE i % 3 = 2),
    s AS (
      SELECT media_id, j // (w * h) AS fidx,
             ((j % w) * 16) // w AS bx,
             (((j // w) % h) * 16) // h AS by,
             (j * 31 + (media_id % {_N_MEDIA}) * 7
              + CASE WHEN is_twin = 1 AND j < {VTWIN_NPIX}
                     THEN {VTWIN_DELTA} ELSE 0 END) % 251 AS v
      FROM vid CROSS JOIN range(384) t(j) WHERE j < w * h * fr),
    blk AS (SELECT media_id, fidx, by, bx, sum(v) AS bs
            FROM s GROUP BY media_id, fidx, by, bx),
    dct(u, y, t) AS (VALUES {dct_vals}),
    bitsel(u, v, kb) AS (VALUES {pair_vals}),
    coef AS (SELECT blk.media_id, blk.fidx, tu.u AS u, tv.u AS v,
                    sum(blk.bs * tu.t * tv.t) AS c
             FROM blk
             JOIN dct tu ON tu.y = blk.by AND tu.u <= 8
             JOIN dct tv ON tv.y = blk.bx
             GROUP BY blk.media_id, blk.fidx, tu.u, tv.u),
    bits AS (SELECT coef.media_id, coef.fidx, bitsel.kb,
                    CASE WHEN coef.c > 0 THEN 1 ELSE 0 END AS bit
             FROM coef JOIN bitsel
               ON bitsel.u = coef.u AND bitsel.v = coef.v),
    bands AS (SELECT media_id, fidx, kb // 16 AS k,
                     CAST(sum(bit * (1 << (kb % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, fidx, kb // 16),
    f0 AS (SELECT media_id, k, v FROM bands WHERE fidx = 0),
    f0c AS (SELECT media_id, k, v FROM (
      SELECT media_id, k, v,
             row_number() OVER (PARTITION BY k, v
                                ORDER BY media_id) AS rn
      FROM f0) WHERE rn <= {MEDIA_MAX_BUCKET_WIDTH}),
    cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b
             FROM f0c x JOIN f0c y
               ON x.k = y.k AND x.v = y.v
              AND x.media_id < y.media_id),
    hpf AS (SELECT c.a, c.b, xa.fidx,
                   CAST(sum(bit_count(xor(xa.v, xb.v))) AS INT) AS hf
            FROM cand c
            JOIN bands xa ON xa.media_id = c.a
            JOIN bands xb ON xb.media_id = c.b
                         AND xb.fidx = xa.fidx AND xb.k = xa.k
            GROUP BY c.a, c.b, xa.fidx),
    pair AS (SELECT a, b, CAST(count(*) AS INT) AS n_frames,
                    CAST(sum(hf) AS INT) AS hamming_sum,
                    max(hf) AS hmax
             FROM hpf GROUP BY a, b),
    nf AS (SELECT media_id, count(DISTINCT fidx) AS nf
           FROM bands GROUP BY media_id)
    SELECT pair.a AS media_id_a, pair.b AS media_id_b,
           n_frames, hamming_sum
    FROM pair
    JOIN nf na ON na.media_id = pair.a
    JOIN nf nb ON nb.media_id = pair.b
    WHERE hmax <= 7 AND na.nf = nb.nf AND n_frames = na.nf
    ORDER BY media_id_a, media_id_b
    """


@register(
    "mm_video_wideband_neardup",
    oracle=_video_wide_oracle(),
    doc="L5q wider-band-key video near-dups: per-frame 128-bit "
        "integer-DCT pHash over real GIF animations, frame-0 banded "
        "candidates over 8 bands (exact for hamming<8), aligned-frame "
        "verification at per-frame boundary 7",
)
def mm_video_wideband_neardup(spark, sf_dir):
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  PHASH_BANDS,
                                                  phash_video_frames,
                                                  synth_video_twins,
                                                  video_near_dups)

    media = synth_video_twins(spark, _N_MEDIA)
    return video_near_dups(media, codec=AutoCodec, max_frame_hamming=7,
                           n_bands=PHASH_BANDS,
                           fingerprint=phash_video_frames)


# --------------------------------------------------------------------------
# L5o: CROSS-MODAL dedup — a multimodal document is an image payload
# PLUS a caption (the LAION shape), and every dedup path so far is
# single-modality. One keep/drop decision: image-dup OR caption-dup
# (exact md5 OR minhash near-dup) puts two docs in the same cluster,
# CC-resolved, keep = cluster rep. The oracle embeds the aHash chain
# (prefixed 'a'), the l2 minhash chain over the caption CTE (terminal
# renamed cap_pairs), the exact-dup rep edges, and the recursive-CTE CC
# fixpoint — all four stage oracles textually composed (the l15
# no-drift device).
# Scale: each edge source keeps its own documented bounded shape
# (capped banded buckets on both modalities); the union adds one
# distinct + the CC fixpoint over near-dup edges only (sparse by
# construction at any corpus size — edges, not docs^2).
# --------------------------------------------------------------------------
def _crossmodal_oracle() -> str:
    from bioio_spark.functions.clusters import dedup_clusters_oracle
    from bioio_spark.functions.dedup import minhash_pairs_cte
    from bioio_spark.functions.multimodal import (CAPTION_WORDS,
                                                  CROSSMODAL_SPEC)

    spec_vals = ", ".join(f"({d},{i},{c},{v})"
                          for d, i, c, v in CROSSMODAL_SPEC)
    chain = f"""docspec(doc_id, imgidx, capbase, capvar) AS (
      VALUES {spec_vals}),
    cimg AS (SELECT doc_id AS media_id, 16 + (imgidx % 4) * 8 AS w,
                    12 AS h, imgidx FROM docspec),
    {_ahash_chain('cimg', cid='imgidx', p='ah_')},
    capw AS (
      SELECT doc_id, j,
             CASE WHEN capvar = 1 AND j = {CAPTION_WORDS - 1}
                  THEN 'x' || CAST(capbase AS VARCHAR)
                  ELSE 'w' || CAST(capbase AS VARCHAR) || '_'
                           || CAST(j AS VARCHAR)
             END AS wrd
      FROM docspec CROSS JOIN range({CAPTION_WORDS}) r(j)),
    captions AS (
      SELECT doc_id, string_agg(wrd, ' ' ORDER BY j) AS text
      FROM capw GROUP BY doc_id),
    {minhash_pairs_cte(source='captions', name='cap_pairs')},
    exact_reps AS (SELECT md5(text) AS h, min(doc_id) AS doc_a
                   FROM captions GROUP BY md5(text)),
    exact_edges AS (
      SELECT r.doc_a, c.doc_id AS doc_b
      FROM captions c JOIN exact_reps r ON md5(c.text) = r.h
      WHERE c.doc_id <> r.doc_a),
    pairs AS (
      SELECT media_id_a AS doc_a, media_id_b AS doc_b FROM ah_ham
      WHERE hamming <= 3
      UNION
      SELECT doc_a, doc_b FROM cap_pairs
      UNION
      SELECT doc_a, doc_b FROM exact_edges)"""
    inner = dedup_clusters_oracle(chain)
    return f"""
    SELECT d.doc_id,
           COALESCE(cl.cluster_rep, d.doc_id) AS cluster_rep,
           CAST(COALESCE(cl.cluster_size, 1) AS BIGINT) AS cluster_size,
           CASE WHEN COALESCE(cl.cluster_rep, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS keep
    FROM (VALUES {spec_vals}) AS d(doc_id, imgidx, capbase, capvar)
    LEFT JOIN ({inner}) AS cl USING (doc_id)
    ORDER BY d.doc_id
    """


@register(
    "mm_crossmodal_dedup",
    oracle=_crossmodal_oracle(),
    doc="L5o cross-modal dedup (LAION shape): image-dup OR caption-dup "
        "(exact + minhash near) => same cluster, CC-resolved keep/drop "
        "per doc — aHash, l2 minhash, exact-rep, and CC oracles "
        "textually composed",
)
def mm_crossmodal_dedup(spark, sf_dir):
    from bioio_spark.functions.clusters import dedup_clusters
    from bioio_spark.functions.dedup import minhash_candidate_pairs
    from bioio_spark.functions.multimodal import (AutoCodec,
                                                  image_near_dups,
                                                  synth_crossmodal)

    media, caps = synth_crossmodal(spark)
    img_edges = (image_near_dups(media, codec=AutoCodec)
                 .select(F.col("media_id_a").alias("doc_a"),
                         F.col("media_id_b").alias("doc_b")))
    near_edges = minhash_candidate_pairs(caps, sort=False)
    reps = (caps.groupBy(F.md5("text").alias("_h"))
            .agg(F.min("doc_id").alias("doc_a")))
    exact_edges = (caps.select(F.md5("text").alias("_h"),
                               F.col("doc_id").alias("doc_b"))
                   .join(reps, "_h")
                   .filter(F.col("doc_a") != F.col("doc_b"))
                   .select("doc_a", "doc_b"))
    edges = (img_edges.unionByName(near_edges)
             .unionByName(exact_edges).distinct())
    cl = dedup_clusters(edges)
    return (caps.select("doc_id")
            .join(cl, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_rep", F.col("doc_id"))
                    .alias("cluster_rep"),
                    F.coalesce("cluster_size", F.lit(1)).cast("bigint")
                    .alias("cluster_size"),
                    (F.coalesce("cluster_rep", F.col("doc_id"))
                     == F.col("doc_id")).cast("int").alias("keep"))
            .orderBy("doc_id"))


# --------------------------------------------------------------------------
# S11 streaming media fingerprint ingest: the streaming twin of L5g (the
# s10 device applied to BINARY media). Image files arrive as a binaryFile
# stream; every micro-batch decodes and aHash-fingerprints its files
# batch-side (Arrow mapInPandas inside foreachBatch) and appends the band
# rows to a store via dynamic partition overwrite on deterministic
# g-partitions (exactly-once under retries/replays); the final near-dup
# probe runs the SAME exact banded join over the accumulated store.
# Fingerprints are per-file, so the result is batch-split independent —
# s11 hash-checks against the SAME oracle as mm_ahash_neardup
# (streaming == batch for the multimodal tier, pinned).
# --------------------------------------------------------------------------
def _s11_fixture_dir() -> str:
    """The 22 image payloads of the media fixture as real PNG FILES with
    ascending mtimes (order only shapes micro-batch boundaries)."""
    import os
    import time

    from bioio_spark.functions.multimodal import PngCodec

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "s11_media")
    done = os.path.join(base, "_FIXTURE_DONE")
    if os.path.isfile(done):
        return base
    os.makedirs(base, exist_ok=True)
    now = time.time()
    k = 0
    for i in range(_N_MEDIA):
        if i % 3 != 0:
            continue
        w, h = 16 + (i % 4) * 8, 12
        p = os.path.join(base, f"img{i:04d}.png")
        with open(p, "wb") as f:
            f.write(PngCodec.encode(i, "image", w, h, 1))
        os.utime(p, (now + k, now + k))
        k += 1
    with open(done, "w") as f:
        f.write("ok")
    return base


def stream_fingerprint_store(spark, media_dir: str, store: str) -> None:
    """Stream PNG files; per micro-batch, fingerprint and append band
    columns to `store` (idempotent dynamic partition overwrite)."""
    import os

    from bioio_spark.functions.multimodal import AutoCodec, ahash_images
    from bioio_spark.streaming.ingest import read_image_stream

    stream = read_image_stream(spark, media_dir, pattern="*.png",
                               max_files_per_trigger=5)

    def write_batch(batch, _bid):
        media = batch.select(
            F.regexp_extract("path", r"img(\d+)\.png", 1)
            .cast("long").alias("media_id"),
            F.lit("image").alias("kind"),
            F.col("content").alias("payload"))
        # partition key = the ARRIVAL UNIT (one file -> one image -> one
        # partition, the s9 chunk-per-file device): a replayed batch
        # rewrites exactly its own files' partitions whatever the batch
        # split. At production scale the arrival unit is a shard/day
        # prefix, not a single asset.
        (ahash_images(media, codec=AutoCodec)
         .withColumn("g", F.col("media_id").cast("int"))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("g").parquet(store))

    q = (stream.writeStream.foreachBatch(write_batch)
         .option("checkpointLocation", os.path.join(store, "_ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()


@register(
    "s11_stream_media_fingerprint",
    oracle=f"""
    WITH {_AHASH_CTE}
    SELECT media_id_a, media_id_b, hamming FROM ham
    WHERE hamming <= 3
    ORDER BY media_id_a, media_id_b
    """,
    doc="S11 streaming media fingerprint ingest: binaryFile stream -> "
        "per-batch aHash into an exactly-once band store -> near-dup "
        "probe; hash-matches the mm_ahash_neardup batch oracle",
)
def s11_stream_media_fingerprint(spark, sf_dir):
    import os
    import shutil

    from bioio_spark.functions.multimodal import _banded_near_dups

    media_dir = _s11_fixture_dir()
    store = os.path.join(os.path.dirname(media_dir), "s11_store")
    shutil.rmtree(store, ignore_errors=True)
    stream_fingerprint_store(spark, media_dir, store)
    h = (spark.read.parquet(store)
         .select("media_id", "b0", "b1", "b2", "b3"))
    return _banded_near_dups(h, max_hamming=3)


# --------------------------------------------------------------------------
# L5m: video scene-cut detection — the shot-segmentation pass a video
# training pipeline runs before frame sampling: consecutive-frame aHash
# hamming distance, a cut where the jump exceeds the threshold. Built on
# the SAME per-frame fingerprints as the near-dup tier; the Spark side is
# one per-video lag window over the band columns (partition = media_id,
# bounded by frames/video — all codegen, zero joins); the oracle aligns
# frames by a fidx-1 self-join on the closed-form hashes.
# --------------------------------------------------------------------------
_SCENE_CUT_HAMMING = 13


@register(
    "mm_video_scene_cut",
    oracle=f"""
    WITH g AS ({_GEOM_SQL}),
    vid AS (SELECT media_id, fr FROM g WHERE kind = 'video'),
    s AS (
      SELECT media_id, fr, j // 64 AS fidx, j % 64 AS p,
             (j * 31 + media_id * 7) % 251 AS v
      FROM vid CROSS JOIN range(384) t(j) WHERE j < 64 * fr),
    fs AS (SELECT media_id, fidx, sum(v) AS fsum
           FROM s GROUP BY media_id, fidx),
    bits AS (SELECT s.media_id, s.fidx, p,
                    CASE WHEN v * 64 > fsum THEN 1 ELSE 0 END AS bit
             FROM s JOIN fs ON fs.media_id = s.media_id
                           AND fs.fidx = s.fidx),
    bands AS (SELECT media_id, fidx, p // 16 AS k,
                     CAST(sum(bit * (1 << (p % 16))) AS INT) AS v
              FROM bits GROUP BY media_id, fidx, p // 16),
    d AS (SELECT a.media_id, a.fidx,
                 CAST(sum(bit_count(xor(a.v, b.v))) AS INT) AS d_prev
          FROM bands a JOIN bands b ON b.media_id = a.media_id
           AND b.k = a.k AND b.fidx = a.fidx - 1
          WHERE a.fidx > 0 GROUP BY a.media_id, a.fidx)
    SELECT media_id, CAST(fidx AS INT) AS fidx, d_prev,
           CAST(CASE WHEN d_prev >= {_SCENE_CUT_HAMMING}
                THEN 1 ELSE 0 END AS BIGINT) AS is_cut
    FROM d ORDER BY media_id, fidx
    """,
    doc="L5m video scene-cut detection: consecutive-frame aHash "
        "hamming via one per-video lag window (no joins, codegen), "
        "cut where the jump >= threshold",
)
def mm_video_scene_cut(spark, sf_dir):
    from pyspark.sql import Window as W

    from bioio_spark.functions.multimodal import (AHASH_BANDS,
                                                  AutoCodec,
                                                  synth_media,
                                                  video_fingerprint)

    media = synth_media(spark, _N_MEDIA, video_format="gif")
    fp = video_fingerprint(media, codec=AutoCodec)
    w = W.partitionBy("media_id").orderBy("fidx")
    ham = None
    for k in range(AHASH_BANDS):
        term = F.bit_count(
            F.col(f"b{k}").bitwiseXOR(F.lag(f"b{k}").over(w)))
        ham = term if ham is None else ham + term
    return (fp.withColumn("d_prev", ham.cast("int"))
            .filter(F.col("fidx") > 0)
            .select("media_id", F.col("fidx").cast("int").alias("fidx"),
                    "d_prev",
                    (F.col("d_prev") >= _SCENE_CUT_HAMMING)
                    .cast("bigint").alias("is_cut"))
            .orderBy("media_id", "fidx"))
