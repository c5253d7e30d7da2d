"""Pure-Python Zarr v2 chunk codec + OME-NGFF 0.4 metadata helpers.

The reference's second headline plugin is bioio-ome-zarr (ref README.md:66
reader for `.zarr`, :81 OMEZarrWriter for OME-NGFF 0.4/0.5). This module
implements the public Zarr v2 storage spec (zarr-specs v2: `.zarray` /
`.zgroup` JSON documents, C-order chunks, same-stored-shape edge chunks
padded with fill_value, `dimension_separator` "." or "/") and the OME-NGFF
0.4 `multiscales` / `omero` attribute layout — from the published specs
only. Compressors: zlib (a registered numcodecs id; the v3 `gzip`
codec), zstd (numcodecs `zstd` raw frames / the v3 `zstd` codec —
what zarr-python 3 writes by default — via pyarrow's bundled zstd, no
standalone dependency), and the numcodecs Blosc1 container
(bioio_spark.formats.blosc — zarr-python 2's DEFAULT compressor
family, lz4/zstd/zlib/snappy inner blocks + byte-shuffle), so wild v2
stores decode as-written.

Zarr is the scale-native format of the pair: a TCZYX array is a CHUNK GRID,
so read/write parallelism is the number of chunks, not the number of files
— at 100 TB this is what lets 1000 executors touch one image concurrently.
"""

from __future__ import annotations

import json
import zlib
from typing import Optional, Sequence

import numpy as np


# -- chunk codec -----------------------------------------------------------

def _zstd_compress(raw: bytes, level: int = 1) -> bytes:
    import pyarrow as pa
    return pa.Codec("zstd", compression_level=level).compress(
        raw, asbytes=True)


def _zstd_decompress(data: bytes, expected: int) -> bytes:
    import pyarrow as pa
    return pa.Codec("zstd").decompress(
        data, decompressed_size=expected, asbytes=True)


def _expected_nbytes(dtype, chunk_shape: Sequence[int]) -> int:
    return int(np.prod(tuple(chunk_shape))) * np.dtype(dtype).itemsize


def encode_chunk(block: np.ndarray, compressor="zlib",
                 level: int = 1) -> bytes:
    """C-order raw bytes of one FULL-SHAPE chunk, optionally compressed.
    ``compressor``: "zlib" (raw deflate stream), "zstd" (numcodecs-style
    raw frame), a numcodecs-style blosc dict
    ``{"id": "blosc", "cname": ..., "clevel": ..., "shuffle": ...}``
    (the zarr-python 2 DEFAULT compressor family), or None.

    Zarr v2 stores every chunk with the same shape; callers pad edge
    chunks with fill_value before encoding."""
    raw = np.ascontiguousarray(block).tobytes()
    if compressor == "zlib":
        return zlib.compress(raw, level)
    if compressor == "zstd":
        return _zstd_compress(raw, level)
    if isinstance(compressor, dict) and compressor.get("id") == "blosc":
        from bioio_spark.formats.blosc import blosc_encode
        return blosc_encode(
            raw, typesize=np.dtype(block.dtype).itemsize,
            cname=compressor.get("cname", "lz4"),
            clevel=int(compressor.get("clevel", 5)),
            shuffle=int(compressor.get("shuffle", 1)))
    if compressor is None:
        return raw
    raise ValueError(f"unsupported compressor {compressor!r}")


def decode_chunk(data: bytes, dtype: str | np.dtype,
                 chunk_shape: Sequence[int],
                 compressor="zlib") -> np.ndarray:
    if compressor == "zlib":
        data = zlib.decompress(data)
    elif compressor == "zstd":
        data = _zstd_decompress(data, _expected_nbytes(dtype, chunk_shape))
    elif compressor == "blosc" or (isinstance(compressor, dict)
                                   and compressor.get("id") == "blosc"):
        # the blosc frame self-describes its inner codec/shuffle
        from bioio_spark.formats.blosc import blosc_decode
        data = blosc_decode(data)
    elif compressor is not None:
        raise ValueError(f"unsupported compressor {compressor!r}")
    return np.frombuffer(data, dtype=np.dtype(dtype)).reshape(
        tuple(chunk_shape))


# -- .zarray / .zgroup documents ------------------------------------------

def build_zarray(shape: Sequence[int], chunks: Sequence[int],
                 dtype: str | np.dtype,
                 compressor: Optional[str] = "zlib",
                 fill_value=0,
                 dimension_separator: str = ".") -> str:
    if isinstance(compressor, dict):
        comp = compressor                   # e.g. numcodecs blosc config
    else:
        comp = ({"id": compressor, "level": 1}
                if compressor in ("zlib", "zstd") else None)
    return json.dumps({
        "zarr_format": 2,
        "shape": list(int(s) for s in shape),
        "chunks": list(int(c) for c in chunks),
        "dtype": np.dtype(dtype).str,
        "compressor": comp,
        "fill_value": fill_value,
        "order": "C",
        "filters": None,
        "dimension_separator": dimension_separator,
    })


def parse_zarray(doc: str) -> dict:
    z = json.loads(doc)
    if z.get("zarr_format") != 2:
        raise ValueError(f"unsupported zarr_format {z.get('zarr_format')}")
    if z.get("order", "C") != "C":
        raise ValueError("only C-order zarr arrays supported")
    if z.get("filters"):
        raise ValueError("zarr filters not supported")
    comp = z.get("compressor")
    if comp is None:
        comp_id = None
    elif isinstance(comp, dict) and comp.get("id") in ("zlib", "zstd"):
        comp_id = comp["id"]
    elif isinstance(comp, dict) and comp.get("id") == "blosc":
        # decode side only needs the family marker — the Blosc frame
        # header self-describes cname/shuffle/blocksize per chunk
        comp_id = "blosc"
    else:
        raise ValueError(f"unsupported compressor {comp!r}")
    return {
        "shape": tuple(z["shape"]),
        "chunks": tuple(z["chunks"]),
        "dtype": np.dtype(z["dtype"]),
        "compressor": comp_id,
        "fill_value": z.get("fill_value", 0),
        "dimension_separator": z.get("dimension_separator", "."),
    }


ZGROUP = json.dumps({"zarr_format": 2})


def parse_zarr3_array(doc: str) -> dict:
    """Zarr v3 array `zarr.json` -> the same decode-info dict as
    parse_zarray. Supported codec chains: [bytes], [bytes, gzip], and
    [sharding_indexed] wrapping either (the v3 spec's core codecs plus
    the sharding storage transformer); chunk keys use the "default"
    encoding ("c" prefix + "/" or "." separator). For sharded arrays
    `chunks` is the SHARD shape (the stored-object granularity) and the
    returned `shard` dict carries the inner chunk shape + index layout
    for iter_decoded_blocks."""
    z = json.loads(doc)
    if z.get("zarr_format") != 3 or z.get("node_type") != "array":
        raise ValueError("not a zarr v3 array document")
    grid = z.get("chunk_grid", {})
    if grid.get("name", "regular") != "regular":
        raise ValueError("only regular chunk grids supported")
    chunks = tuple(grid.get("configuration", {}).get("chunk_shape", ()))
    codecs = z.get("codecs") or [{"name": "bytes"}]
    names = [c.get("name") for c in codecs]
    shard = None
    if names == ["sharding_indexed"]:
        # sharding: chunk_grid's chunk_shape is the SHARD (stored-object)
        # shape; the codec's configuration carries the inner chunk shape
        # and the inner codec chain the payloads are encoded with
        cfg = codecs[0].get("configuration", {})
        inner = tuple(cfg.get("chunk_shape", ()))
        if len(inner) != len(chunks):
            raise ValueError("sharding inner chunk rank != array rank")
        _inner_grid_shape(chunks, inner)
        idx_names = [c.get("name")
                     for c in (cfg.get("index_codecs")
                               or [{"name": "bytes"}, {"name": "crc32c"}])]
        if idx_names not in (["bytes"], ["bytes", "crc32c"]):
            raise ValueError(
                f"unsupported shard index codecs {idx_names}")
        shard = {
            "inner_chunks": inner,
            "crc": idx_names == ["bytes", "crc32c"],
            "index_location": cfg.get("index_location", "end"),
        }
        codecs = cfg.get("codecs") or [{"name": "bytes"}]
        names = [c.get("name") for c in codecs]
    endian = "little"
    compressor = None
    if names == ["bytes"]:
        pass
    elif names == ["bytes", "gzip"]:
        compressor = "zlib"     # gzip member decodes via zlib (wbits auto)
    elif names == ["bytes", "zstd"]:
        compressor = "zstd"     # raw zstd frames (zarr-python 3 default)
    else:
        raise ValueError(f"unsupported zarr v3 codec chain {names}")
    for c in codecs:
        if c.get("name") == "bytes":
            endian = c.get("configuration", {}).get("endian", "little")
    dt = np.dtype(z["data_type"])
    if endian == "big":
        dt = dt.newbyteorder(">")
    enc = z.get("chunk_key_encoding",
                {"name": "default", "configuration": {"separator": "/"}})
    if enc.get("name", "default") != "default":
        raise ValueError("only the default chunk-key encoding supported")
    sep = enc.get("configuration", {}).get("separator", "/")
    return {
        "shape": tuple(z["shape"]),
        "chunks": chunks,
        "dtype": dt,
        "compressor": compressor,
        "fill_value": z.get("fill_value", 0),
        "dimension_separator": sep,
        "key_prefix": "c",      # v3 "default" encoding chunk prefix
        # "use the v3 decoder" flag: gzip members for zlib, raw zstd
        # frames for zstd — either way the v2 raw-zlib path is wrong
        "gzip_member": compressor is not None,
        "shard": shard,
    }


def decode_chunk_v3(data: bytes, dtype, chunk_shape,
                    compressor: Optional[str]) -> np.ndarray:
    """v3 twin of decode_chunk: gzip member instead of raw zlib stream;
    zstd frames decode identically in both versions."""
    if compressor == "zlib":
        data = zlib.decompress(data, wbits=zlib.MAX_WBITS | 32)  # gzip/zlib
    elif compressor == "zstd":
        data = _zstd_decompress(data, _expected_nbytes(dtype, chunk_shape))
    elif compressor is not None:
        raise ValueError(f"unsupported compressor {compressor!r}")
    return np.frombuffer(data, dtype=np.dtype(dtype)).reshape(
        tuple(chunk_shape))


# -- Zarr v3 sharding_indexed codec ---------------------------------------
#
# The 100 TB lever of the v3 spec: a shard is ONE stored object packing a
# grid of inner chunks plus a fixed-size byte-range index, so object count
# scales with shard count while read granularity stays one inner chunk.
# On an object store a windowed read is (1) one ranged GET for the index,
# (2) one ranged GET per needed inner chunk — never the whole shard.
# Index: for each inner chunk in C-order, (offset: uint64 LE, nbytes:
# uint64 LE); 2^64-1 pairs mark missing (all-fill) chunks; the index is
# itself encoded with index_codecs — bytes [+ crc32c] — and lives at
# index_location "end" (default) or "start" of the shard.

_MISSING = 0xFFFFFFFFFFFFFFFF

_CRC32C_TABLE = None


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the checksum of
    the zarr v3 `crc32c` codec (also iSCSI/ext4). Table-driven; pinned
    against the published check value crc32c(b'123456789')=0xE3069283."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _inner_grid_shape(shard_shape: Sequence[int],
                      inner: Sequence[int]) -> tuple[int, ...]:
    for s, c in zip(shard_shape, inner):
        if s % c:
            raise ValueError(
                f"shard shape {tuple(shard_shape)} not divisible by "
                f"inner chunk shape {tuple(inner)}")
    return tuple(s // c for s, c in zip(shard_shape, inner))


def parse_shard_index(data: bytes, n_inner: int, crc: bool = True,
                      index_location: str = "end") -> np.ndarray:
    """Shard bytes -> (n_inner, 2) uint64 array of (offset, nbytes)
    pairs in inner-grid C-order; verifies the crc32c footer when the
    index_codecs chain declares one."""
    isize = 16 * n_inner + (4 if crc else 0)
    if len(data) < isize:
        raise ValueError(
            f"shard of {len(data)} bytes too small for its "
            f"{isize}-byte index")
    raw = data[-isize:] if index_location == "end" else data[:isize]
    if crc:
        (want,) = np.frombuffer(raw[-4:], dtype="<u4")
        got = crc32c(raw[:-4])
        if got != int(want):
            raise ValueError(
                f"shard index crc32c mismatch: {got:#x} != {int(want):#x}")
        raw = raw[:-4]
    return np.frombuffer(raw, dtype="<u8").reshape(n_inner, 2)


def encode_shard(block: np.ndarray, inner: Sequence[int],
                 compressor: Optional[str] = "zlib",
                 crc: bool = True,
                 index_location: str = "end") -> bytes:
    """Encode one full-shape shard block: split into inner chunks
    (C-order), encode each through the v3 inner chain (bytes [+ gzip]),
    concatenate, and attach the byte-range index. All-fill_value(0) inner
    chunks are elided with the 2^64-1 sentinel — the sparse-shard layout
    readers must handle anyway."""
    igrid = _inner_grid_shape(block.shape, inner)
    n = int(np.prod(igrid))
    index = np.full((n, 2), _MISSING, dtype="<u8")
    payloads = []
    isize = 16 * n + (4 if crc else 0)
    pos = isize if index_location == "start" else 0
    for li, gi in enumerate(np.ndindex(*igrid)):
        sl = tuple(slice(g * c, (g + 1) * c) for g, c in zip(gi, inner))
        sub = block[sl]
        if not sub.any():
            continue            # all-fill inner chunk: sentinel entry
        enc = encode_chunk_v3(sub, compressor=compressor)
        index[li] = (pos, len(enc))
        payloads.append(enc)
        pos += len(enc)
    raw = index.tobytes()
    if crc:
        raw += np.array([crc32c(raw)], dtype="<u4").tobytes()
    body = b"".join(payloads)
    return raw + body if index_location == "start" else body + raw


def iter_decoded_blocks(content, info: dict, grid: Sequence[int],
                        inner: Optional[Sequence[int]] = None):
    """Decode ONE stored object -> (origin, block) pairs.

    `content` is the object's bytes, or a ``read(offset, nbytes)``
    function over them with ``fsio.read_range``'s meaning (a negative
    offset counts from the end, ``nbytes=None`` reads to the end), so a
    shard costs one ranged read for its index and one per wanted inner
    chunk — the ranged GETs of an object-store read. `info` is the
    decode-info dict of the owning array (shape, chunks, dtype,
    compressor, gzip_member, optional fill_value and `shard`); `grid` the
    object's chunk-grid indices. Plain arrays yield a single pair;
    sharded arrays yield one per inner chunk of `inner` (C-order indices
    into the shard's inner grid; default every inner chunk inside the
    array), in that order, a missing one filled with the array's
    fill_value. Blocks are trimmed to the array bounds (edge chunks are
    stored full-shape, fill-padded)."""
    read = content if callable(content) else (
        lambda offset, nbytes: content[offset:][:nbytes])
    shape, chunks = info["shape"], info["chunks"]

    def trim(origin, block):
        valid = tuple(min(c, s - o)
                      for o, s, c in zip(origin, shape, block.shape))
        return block[tuple(slice(0, v) for v in valid)]

    shard = info.get("shard")
    if not shard:
        dec = decode_chunk_v3 if info.get("gzip_member") else decode_chunk
        origin = tuple(g * c for g, c in zip(grid, chunks))
        block = dec(read(0, None), info["dtype"], chunks,
                    info["compressor"])
        yield origin, trim(origin, block)
        return

    inner_shape = tuple(shard["inner_chunks"])
    igrid = _inner_grid_shape(chunks, inner_shape)
    n = int(np.prod(igrid))
    crc = shard.get("crc", True)
    at_end = shard.get("index_location", "end") == "end"
    isize = 16 * n + (4 if crc else 0)
    index = parse_shard_index(read(-isize if at_end else 0, isize), n,
                              crc=crc)
    shard_origin = tuple(g * c for g, c in zip(grid, chunks))
    fill = np.full(inner_shape, info.get("fill_value") or 0,
                   dtype=np.dtype(info["dtype"]))
    for li in range(n) if inner is None else inner:
        origin = tuple(so + g * c for so, g, c in zip(
            shard_origin, np.unravel_index(li, igrid), inner_shape))
        if inner is None and any(o >= s for o, s in zip(origin, shape)):
            continue            # inner chunk wholly past the array edge
        off, nbytes = int(index[li, 0]), int(index[li, 1])
        block = fill if off == _MISSING else decode_chunk_v3(
            read(off, nbytes), info["dtype"], inner_shape,
            info["compressor"])
        yield origin, trim(origin, block)


# -- OME-NGFF 0.4 attributes ----------------------------------------------

_AXIS_TYPES = {"t": "time", "c": "channel", "z": "space", "y": "space",
               "x": "space"}


def _ngff_attrs_dict(image_name: Optional[str],
                     channel_names: Optional[Sequence[str]],
                     physical_pixel_sizes=None,
                     n_levels: int = 1,
                     level_scale: int = 2,
                     version: str = "0.4") -> dict:
    pps = physical_pixel_sizes
    base = [1.0, 1.0,
            float(getattr(pps, "Z", None) or 1.0) if pps else 1.0,
            float(getattr(pps, "Y", None) or 1.0) if pps else 1.0,
            float(getattr(pps, "X", None) or 1.0) if pps else 1.0]
    axes = [{"name": n, "type": _AXIS_TYPES[n]} for n in "tczyx"]
    for ax in axes:
        if ax["type"] == "space":
            ax["unit"] = "micrometer"
    datasets = []
    for lv in range(n_levels):
        f = float(level_scale ** lv)
        datasets.append({
            "path": str(lv),
            "coordinateTransformations": [{
                "type": "scale",
                "scale": base[:3] + [base[3] * f, base[4] * f]}],
        })
    attrs: dict = {"multiscales": [{
        "version": version,
        "name": image_name or "",
        "axes": axes,
        "datasets": datasets,
    }]}
    if channel_names is not None:
        attrs["omero"] = {
            "channels": [{"label": str(n)} for n in channel_names]}
    return attrs


def build_ngff_attrs(image_name: Optional[str],
                     channel_names: Optional[Sequence[str]],
                     physical_pixel_sizes=None,
                     n_levels: int = 1,
                     level_scale: int = 2) -> str:
    """`.zattrs` for one image group: NGFF 0.4 `multiscales` (TCZYX axes,
    per-level scale transforms) + `omero.channels` labels."""
    return json.dumps(_ngff_attrs_dict(
        image_name, channel_names, physical_pixel_sizes,
        n_levels=n_levels, level_scale=level_scale, version="0.4"))


def build_zarr3_group(image_name: Optional[str],
                      channel_names: Optional[Sequence[str]],
                      physical_pixel_sizes=None,
                      n_levels: int = 1,
                      level_scale: int = 2) -> str:
    """Group `zarr.json` for NGFF 0.5 over Zarr v3: the same multiscales
    + omero attributes wrapped under `attributes.ome` (the 0.5 layout
    parse_ngff_attrs already reads)."""
    attrs = _ngff_attrs_dict(
        image_name, channel_names, physical_pixel_sizes,
        n_levels=n_levels, level_scale=level_scale, version="0.5")
    return json.dumps({
        "zarr_format": 3, "node_type": "group",
        "attributes": {"ome": {"version": "0.5", **attrs}}})


def build_zarr3_array(shape: Sequence[int], chunks: Sequence[int],
                      dtype: str | np.dtype,
                      compressor: Optional[str] = "zlib",
                      fill_value=0,
                      shard_shape: Optional[Sequence[int]] = None) -> str:
    """Array `zarr.json` (Zarr v3): little-endian `bytes` codec plus an
    optional `gzip` compressor, regular chunk grid, default '/'-separated
    chunk-key encoding — exactly the chain parse_zarr3_array accepts.

    With `shard_shape` the codec chain becomes `sharding_indexed`:
    chunk_grid = shard_shape (the stored-object grid), `chunks` the inner
    chunk shape, index bytes+crc32c at the shard end — the layout
    zarr-python 3 writes."""
    codecs: list = [{"name": "bytes",
                     "configuration": {"endian": "little"}}]
    if compressor == "zlib":
        codecs.append({"name": "gzip", "configuration": {"level": 1}})
    elif compressor == "zstd":
        codecs.append({"name": "zstd",
                       "configuration": {"level": 1,
                                         "checksum": False}})
    elif compressor is not None:
        raise ValueError(f"unsupported compressor {compressor!r}")
    if shard_shape is not None:
        _inner_grid_shape(shard_shape, chunks)
        codecs = [{"name": "sharding_indexed", "configuration": {
            "chunk_shape": [int(c) for c in chunks],
            "codecs": codecs,
            "index_codecs": [{"name": "bytes",
                              "configuration": {"endian": "little"}},
                             {"name": "crc32c"}],
            "index_location": "end",
        }}]
        chunks = shard_shape
    return json.dumps({
        "zarr_format": 3, "node_type": "array",
        "shape": [int(s) for s in shape],
        "data_type": np.dtype(dtype).name,
        "chunk_grid": {"name": "regular",
                       "configuration": {
                           "chunk_shape": [int(c) for c in chunks]}},
        "chunk_key_encoding": {"name": "default",
                               "configuration": {"separator": "/"}},
        "fill_value": fill_value,
        "codecs": codecs,
    })


def encode_chunk_v3(block: np.ndarray,
                    compressor: Optional[str] = "zlib",
                    level: int = 1) -> bytes:
    """v3 twin of encode_chunk: little-endian C-order bytes through the
    v3 gzip codec (a real gzip member, not a raw zlib stream)."""
    import gzip as _gzip

    le = np.dtype(block.dtype).newbyteorder("<")
    raw = np.ascontiguousarray(block.astype(le, copy=False)).tobytes()
    if compressor == "zlib":
        return _gzip.compress(raw, level)
    if compressor == "zstd":
        return _zstd_compress(raw, level)
    if compressor is None:
        return raw
    raise ValueError(f"unsupported compressor {compressor!r}")


def parse_ngff_attrs(doc: str) -> dict:
    """Extract image name, axes order, level paths, per-axis scale, and
    channel labels from an NGFF `.zattrs` document — 0.4 (top-level
    `multiscales`) or 0.5 (wrapped under `attributes.ome` in the group's
    zarr.json, or passed here as the `ome` sub-object)."""
    a = json.loads(doc)
    if "attributes" in a and "ome" in a.get("attributes", {}):
        a = a["attributes"]["ome"]          # v3 group zarr.json document
    elif "ome" in a and "multiscales" not in a:
        a = a["ome"]                         # bare NGFF 0.5 attributes
    ms = (a.get("multiscales") or [{}])[0]
    # No explicit axes (bare-array doc, or a pre-0.4 multiscales block):
    # return None and let the caller derive 'tczyx'[-rank:] from the
    # array's real shape — defaulting to 5 axes here mis-binds selectors
    # on lower-rank bare stores.
    axes = "".join(ax["name"] for ax in ms.get("axes", [])) or None
    datasets = ms.get("datasets") or [{"path": "0"}]
    scale = None
    ct = (datasets[0].get("coordinateTransformations") or [])
    for tr in ct:
        if tr.get("type") == "scale":
            scale = tr.get("scale")
    channels = None
    if "omero" in a:
        channels = [c.get("label") for c in a["omero"].get("channels", [])]
    return {
        "name": ms.get("name") or None,
        "axes": axes,
        "level_paths": [d["path"] for d in datasets],
        "scale": scale,
        "channel_names": channels,
    }


def chunk_key(indices: Sequence[int], separator: str = ".") -> str:
    return separator.join(str(int(i)) for i in indices)


def place_rows(block: np.ndarray, origin: Sequence[int],
               coords: Sequence[np.ndarray], values) -> np.ndarray:
    """Write long-form rows into a chunk: ``block`` is a C-order chunk
    whose first element sits at array index ``origin``, ``coords`` one
    integer array per axis of the rows' array indices. Returns the rows'
    flat positions in the block; a row outside it raises ValueError."""
    flat = np.ravel_multi_index(
        tuple(np.asarray(c) - o for c, o in zip(coords, origin)),
        block.shape)
    block.ravel()[flat] = values
    return flat
