"""aHash perceptual near-dup invariants (oracle parity covers the
registry query; these pin the hash arithmetic on adversarial inputs)."""
import struct

import numpy as np
import pyspark.sql.functions as F


def _fkc(media_id, img):
    from bioio_spark.functions.multimodal import _MAGIC

    h, w = img.shape
    header = struct.pack("<iii", w, h, 1)
    return (media_id, "image",
            _MAGIC + header + img.astype(np.uint8).tobytes(),
            (w, h, 1, 0, "fkc1"))


def _media(spark, rows):
    from bioio_spark.functions.multimodal import MEDIA_SCHEMA

    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_near_identical_pair_found_distinct_image_excluded(spark):
    from bioio_spark.functions.multimodal import image_near_dups

    rng = np.random.default_rng(11)
    base = rng.integers(0, 200, size=(16, 16))
    twin = base.copy()
    twin[0, 0] += 40          # flips at most a couple of hash bits
    other = rng.integers(0, 200, size=(16, 16))   # unrelated content
    rows = [_fkc(1, base), _fkc(2, twin), _fkc(3, other)]
    pairs = {(r["media_id_a"], r["media_id_b"])
             for r in image_near_dups(_media(spark, rows)).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_identical_images_hamming_zero(spark):
    from bioio_spark.functions.multimodal import image_near_dups

    img = (np.arange(256).reshape(16, 16) % 251)
    rows = [_fkc(5, img), _fkc(9, img)]
    out = image_near_dups(_media(spark, rows)).collect()
    assert len(out) == 1
    assert (out[0]["media_id_a"], out[0]["media_id_b"],
            out[0]["hamming"]) == (5, 9, 0)


def test_flat_image_hash_is_all_zero_bits(spark):
    """A constant image: every block mean == global mean, strict >
    comparison leaves all 64 bits unset in BOTH engines."""
    from bioio_spark.functions.multimodal import ahash_images

    rows = [_fkc(7, np.full((12, 24), 99))]
    r = ahash_images(_media(spark, rows)).collect()[0]
    assert [r[f"b{k}"] for k in range(4)] == [0, 0, 0, 0]


def test_non_images_dropped_before_decode(spark):
    from bioio_spark.functions.multimodal import (FakeCodec,
                                                  ahash_images)

    audio = (4, "audio", FakeCodec.encode(4, "audio", 800, 1, 1),
             (800, 1, 1, 8000, "fkc1"))
    rows = [_fkc(1, np.zeros((12, 16))), audio]
    out = ahash_images(_media(spark, rows)).collect()
    assert [r["media_id"] for r in out] == [1]


def test_plan_band_join_not_all_pairs(spark):
    """The candidate join is an equi-join on (k, v) band keys — no
    cartesian/BNLJ anywhere in the pair generation."""
    from bioio_spark.functions.multimodal import (image_near_dups,
                                                  synth_media)

    df = image_near_dups(synth_media(spark, 16))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def _wav_row(media_id, samples):
    from bioio_spark.functions.multimodal import _MAGIC

    n = len(samples)
    header = struct.pack("<iii", n, 1, 1)
    return (media_id, "audio",
            _MAGIC + header + np.asarray(samples, np.uint8).tobytes(),
            (n, 1, 1, 8000, "fkc1"))


def test_audio_shifted_copy_is_near_dup(spark):
    """A constant-gain offset moves every window mean with the track
    mean, so the envelope fingerprint is identical (hamming 0)."""
    from bioio_spark.functions.multimodal import audio_near_dups

    rng = np.random.default_rng(3)
    base = rng.integers(0, 200, size=800)
    shifted = np.clip(base + 20, 0, 255)   # clip hits no sample < 200+20
    noise = rng.integers(0, 200, size=800)
    rows = [_wav_row(1, base), _wav_row(2, shifted), _wav_row(3, noise)]
    out = {(r["media_id_a"], r["media_id_b"]): r["hamming"]
           for r in audio_near_dups(_media(spark, rows)).collect()}
    assert out.get((1, 2)) == 0
    assert (1, 3) not in out and (2, 3) not in out


def test_audio_fingerprint_window_partition_is_total(spark):
    """Every sample lands in exactly one of the 64 windows: a track of
    n=800 has window counts 12 or 13 summing to n (the same mapping the
    SQL oracle uses)."""
    import numpy as np
    wid = (np.arange(800) * 64) // 800
    counts = np.bincount(wid, minlength=64)
    assert counts.sum() == 800 and set(counts) == {12, 13}


def _vid_row(media_id, frames):
    from bioio_spark.functions.multimodal import _MAGIC

    fr, h, w = frames.shape
    header = struct.pack("<iii", w, h, fr)
    return (media_id, "video",
            _MAGIC + header + frames.astype(np.uint8).tobytes(),
            (w, h, fr, 0, "fkc1"))


def test_video_reencoded_copy_found_frame_count_mismatch_excluded(spark):
    from bioio_spark.functions.multimodal import video_near_dups

    rng = np.random.default_rng(5)
    base = rng.integers(0, 200, size=(4, 8, 8))
    twin = base.copy()
    twin[2, 0, 0] += 30                    # one pixel in one frame
    trunc = base[:3]                       # same content, fewer frames
    rows = [_vid_row(1, base), _vid_row(2, twin), _vid_row(3, trunc)]
    out = {(r["media_id_a"], r["media_id_b"]): (r["n_frames"],
                                                r["hamming_sum"])
           for r in video_near_dups(_media(spark, rows)).collect()}
    assert (1, 2) in out and out[(1, 2)][0] == 4
    # the truncated copy shares frame 0 exactly but fails the
    # frame-count gate
    assert (1, 3) not in out and (2, 3) not in out


def test_video_divergent_tail_frame_excluded(spark):
    """Identical first frames, but one WILDLY different later frame:
    candidate generation (frame 0) admits the pair, the per-frame
    hamming gate rejects it."""
    from bioio_spark.functions.multimodal import video_near_dups

    rng = np.random.default_rng(8)
    base = rng.integers(0, 200, size=(4, 8, 8))
    fork = base.copy()
    fork[3] = rng.integers(0, 200, size=(8, 8))
    rows = [_vid_row(1, base), _vid_row(2, fork)]
    out = video_near_dups(_media(spark, rows)).collect()
    assert out == []


# -- Hard bucket-width caps (the l2d MAX_BUCKET_WIDTH device, applied to
# the perceptual tier; SCALING.md "16-bit band-space saturation") ----------

def test_media_cap_bounds_degenerate_image_corpus(spark):
    """Adversarial fixture: 40 IDENTICAL flat images (every hash = 0,
    ONE band bucket holds the whole corpus). With max_width=8 only the
    8 lowest media_ids enter pair enumeration — O(cap^2) work however
    wide the bucket — keep-lowest-id, exactly the SQL cap mirror."""
    from bioio_spark.functions.multimodal import image_near_dups

    img = np.full((12, 16), 99)
    rows = [_fkc(i, img) for i in range(40)]
    out = image_near_dups(_media(spark, rows), max_width=8).collect()
    pairs = {(r["media_id_a"], r["media_id_b"]) for r in out}
    # exactly the 8-choose-2 pairs among the 8 lowest ids
    assert pairs == {(a, b) for a in range(8) for b in range(8) if a < b}
    assert all(r["hamming"] == 0 for r in out)


def test_media_cap_wide_enough_is_a_noop(spark):
    """At fixture scale (bucket width << cap) the cap changes nothing."""
    from bioio_spark.functions.multimodal import (image_near_dups,
                                                  synth_media)

    media = synth_media(spark, 24).filter(F.col("kind") == "image")
    capped = image_near_dups(media).toPandas()
    uncapped = image_near_dups(media, max_width=10 ** 9).toPandas()
    assert capped.equals(uncapped)


def test_video_cap_bounds_black_leader_corpus(spark):
    """Adversarial fixture: 30 videos sharing an all-black FRAME 0 (the
    black-leader degenerate case) with distinct tails. Candidate
    enumeration is capped at 8 frame-0 bucket members; the aligned-frame
    gate then rejects the divergent tails, and the pair-join input stays
    O(cap^2) rather than O(n^2)."""
    from bioio_spark.functions.multimodal import video_near_dups

    rng = np.random.default_rng(13)
    rows = []
    for i in range(30):
        frames = np.zeros((3, 8, 8), dtype=np.int64)
        frames[1:] = rng.integers(0, 200, size=(2, 8, 8))
        rows.append(_vid_row(i, frames))
    out = video_near_dups(_media(spark, rows), max_width=8).collect()
    assert out == []   # tails diverge; no pair survives verification


def test_media_neardup_fingerprints_persisted_and_released(spark):
    """The fingerprint frame is persisted (one Arrow decode feeds three
    consumers) and the NEXT invocation releases the previous pin
    (session.hold)."""
    from bioio_spark.functions.multimodal import image_near_dups
    from bioio_spark.session import stats

    img = np.arange(192).reshape(12, 16) % 251
    df1 = image_near_dups(_media(spark, [_fkc(1, img), _fkc(2, img)]))
    df1.collect()
    held = stats(spark)["hold:media_neardup"]["frames"]
    assert held and len(held) == 1
    first = held[0]
    assert first.storageLevel.useMemory or first.storageLevel.useDisk
    image_near_dups(_media(spark, [_fkc(3, img)])).collect()
    held2 = stats(spark)["hold:media_neardup"]["frames"]
    assert len(held2) == 1 and held2[0] is not first
    assert not first.storageLevel.useMemory  # released
