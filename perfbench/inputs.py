"""Seeded input generators. The same seed gives byte-identical files;
the library sees only these files, never the seed."""

from __future__ import annotations

import os

import numpy as np


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so changing one generator
    # does not shift the inputs of another
    return np.random.default_rng([seed, sum(map(ord, stream))])


# -- image_convert ------------------------------------------------------------

def image_pool(seed: int, out_dir: str, n: int, shape: tuple):
    """`n` OME-TIFFs of TCZYX `shape`, uint16: smooth blobs plus noise, so
    the max projection is not just the noise maximum. Returns
    [(path, array)]."""
    from bioio_spark.formats.tiff import encode_ome_tiff

    rng = _rng(seed, "image")
    t, c, z, y, x = shape
    zz, yy, xx = np.meshgrid(np.arange(z), np.arange(y), np.arange(x),
                             indexing="ij")
    pool = []
    for i in range(n):
        a = rng.integers(0, 2000, size=shape, dtype=np.uint16)
        for ti in range(t):
            for ci in range(c):
                cz, cy, cx = rng.uniform((0, 0, 0), (z, y, x))
                blob = np.exp(-((zz - cz) ** 2 / 4 + (yy - cy) ** 2 / 200
                                + (xx - cx) ** 2 / 200))
                a[ti, ci] += (blob * 40000).astype(np.uint16)
        path = os.path.join(out_dir, f"img{i:02d}.ome.tiff")
        with open(path, "wb") as f:
            f.write(encode_ome_tiff(a, image_id="Image:0",
                                    image_name=f"img{i:02d}"))
        pool.append((path, a))
    return pool


# -- corpus_curation ----------------------------------------------------------

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "der",
              "pen", "gal", "tor", "bex", "ul", "an", "os")
_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "der", "die",
              "und", "le", "la", "et")


def corpus_shard(seed: int, shard: int, out_dir: str, n_docs: int,
                 n_vecs: int, dim: int = 64) -> str:
    """A shard directory holding documents.parquet and embeddings.parquet
    with the fixture schemas, and planted duplicates: about 8% exact
    copies, 8% near copies (two words changed) and, among vectors, 10%
    semantic copies (an earlier vector plus small noise)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, f"corpus{shard}")
    vocab = ["".join(rng.choice(_SYLLABLES, size=rng.integers(1, 4)))
             for _ in range(300)] + list(_STOPWORDS) * 6
    weights = 1.0 / np.arange(1, len(vocab) + 1)
    weights /= weights.sum()
    texts = []
    for i in range(n_docs):
        kind = rng.random() if i >= 10 else 1.0
        if kind < 0.08:
            texts.append(texts[rng.integers(0, i)])
        elif kind < 0.16:
            words = texts[rng.integers(0, i)].split(" ")
            for j in rng.integers(0, len(words), size=2):
                words[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            n_words = int(rng.integers(12, 60))
            texts.append(" ".join(rng.choice(vocab, size=n_words,
                                             p=weights)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr")[k] for k in rng.integers(0, 3, n_docs)],
        "source": [f"src{k}" for k in rng.integers(0, 4, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    centers = rng.normal(size=(6, dim))
    vecs = np.empty((n_vecs, dim))
    for i in range(n_vecs):
        if i >= 10 and rng.random() < 0.10:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0, 0.05, dim)
        else:
            vecs[i] = centers[rng.integers(0, 6)] + rng.normal(0, 1.0, dim)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_vecs), pa.int32()),
    })

    path = os.path.join(out_dir, f"shard{shard}")
    os.makedirs(path, exist_ok=True)
    pq.write_table(docs, os.path.join(path, "documents.parquet"))
    pq.write_table(emb, os.path.join(path, "embeddings.parquet"))
    return path


# -- live_acquisition ---------------------------------------------------------

def acquisition_files(seed: int, n: int, pages: int, height: int,
                      width: int):
    """`n` multi-page uint16 TIFFs, encoded up front so the generator
    only writes bytes. Returns [(tiff_bytes, planes)]."""
    from bioio_spark.formats.tiff import encode_tiff

    rng = _rng(seed, "acquisition")
    out = []
    for _ in range(n):
        planes = rng.integers(0, 4096, size=(pages, height, width),
                              dtype=np.uint16)
        out.append((encode_tiff(list(planes)), planes))
    return out
