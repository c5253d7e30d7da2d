"""Pure-Python baseline TIFF + OME-XML codec.

The reference's headline sink is OME-TIFF via tifffile
(ref bioio/bio_image.py:1229-1301, writers/__init__.py:10-15); no TIFF
library ships in this container, so this module implements the subset the
OME-TIFF spec actually requires for multi-page scientific imagery:
little-endian classic TIFF, one IFD per plane, one strip per plane (or
the TIFF 6.0 §15 tiled layout via ``tile=(th, tw)``),
SampleFormat/BitsPerSample for the full OME integer/float pixel-type set,
Compression 1 (none), 5 (TIFF 6.0 LZW with EarlyChange, both directions),
8 (Adobe Deflate, via zlib — decode also accepts the legacy 32946
Deflate code), and 32773 (PackBits RLE, TIFF 6.0 §9, both directions),
Predictor 2 horizontal differencing (the common wild
LZW pairing), interleaved SamplesPerPixel > 1 pages (the
S dimension of the reference's TCZYX+S standard order, ref
bio_image.py:500-546), and the OME-XML block in IFD0's ImageDescription.

Both directions are implemented (encode_ome_tiff / decode_tiff) so a
save -> reread roundtrip is verifiable without any third-party dependency.
Arrays are handled as numpy blocks per plane — encoding is O(plane) memcpy,
no per-pixel Python.
"""

from __future__ import annotations

import re
import struct
from typing import Optional, Sequence
from xml.sax.saxutils import escape

import numpy as np

from bioio_spark.ome_utils import (generate_ome_channel_id,
                                   generate_ome_image_id)
from bioio_spark.types import NUMPY_DTYPE_TO_OME

# TIFF tag ids (TIFF 6.0 baseline)
_NEW_SUBFILE_TYPE = 254       # bit 0 = reduced-resolution (thumbnail) page
_IMAGE_WIDTH = 256
_IMAGE_LENGTH = 257
_BITS_PER_SAMPLE = 258
_COMPRESSION = 259
_PHOTOMETRIC = 262
_IMAGE_DESCRIPTION = 270
_STRIP_OFFSETS = 273
_SAMPLES_PER_PIXEL = 277
_TILE_WIDTH = 322
_TILE_LENGTH = 323
_TILE_OFFSETS = 324
_TILE_BYTE_COUNTS = 325
_ROWS_PER_STRIP = 278
_STRIP_BYTE_COUNTS = 279
_PLANAR_CONFIG = 284
_SAMPLE_FORMAT = 339

_COMPRESSION_NONE = 1
_COMPRESSION_LZW = 5              # TIFF 6.0 §13 LZW (MSB-first, EarlyChange)
_COMPRESSION_JPEG = 7             # TIFF TechNote 2 "new-style" JPEG
_COMPRESSION_DEFLATE = 8          # Adobe Deflate (TIFF spec supplement 2)
_COMPRESSION_DEFLATE_OLD = 32946  # legacy Deflate code, decode-only
_COMPRESSION_PACKBITS = 32773     # TIFF 6.0 §9 PackBits RLE
_PREDICTOR = 317                  # 1 = none, 2 = horizontal differencing
_JPEG_TABLES = 347                # shared DQT/DHT tables (TechNote 2)


def _merge_jpeg_tables(tables, stream: bytes) -> bytes:
    """TIFF TechNote 2 abbreviated streams: the JPEGTables tag holds
    ``SOI + shared DQT/DHT segments + EOI``; each strip/tile holds an
    (often table-less) ``SOI + frame``. Splice the shared tables right
    after the chunk's SOI — duplicate definitions in the chunk simply
    overwrite, matching libjpeg's tables-first decode order."""
    if not tables or len(tables) < 4 or tables[:2] != b"\xFF\xD8":
        return stream
    return stream[:2] + bytes(tables[2:-2]) + stream[2:]


def _decode_jpeg_chunk(payload: bytes, tables) -> np.ndarray:
    from bioio_spark.formats.jpeg import decode_jpeg

    return decode_jpeg(_merge_jpeg_tables(tables, payload))

_TYPE_SHORT = 3   # uint16
_TYPE_LONG = 4    # uint32
_TYPE_LONG8 = 16  # uint64 (BigTIFF)
_TYPE_ASCII = 2

# numpy kind -> TIFF SampleFormat
_SAMPLE_FORMAT_OF_KIND = {"u": 1, "i": 2, "f": 3}
_KIND_OF_SAMPLE_FORMAT = {1: "u", 2: "i", 3: "f"}

# dtypes the baseline encoder accepts (complex is not TIFF-representable
# in baseline; the reference's OME writer rejects it likewise)
SUPPORTED_DTYPES = ("int8", "int16", "int32", "uint8", "uint16", "uint32",
                    "float32", "float64")


def build_ome_xml(size_t: int, size_c: int, size_z: int, size_y: int,
                  size_x: int, pixel_type: str,
                  image_id: str = "Image:0",
                  image_name: Optional[str] = None,
                  channel_names: Optional[Sequence[str]] = None,
                  physical_pixel_sizes=None, size_s: int = 1,
                  physical_size_units: Optional[str] = None,
                  planes: bool = False,
                  acquisition_date: Optional[str] = None,
                  first_ifd: int = 0) -> str:
    """Minimal OME-XML (2016-06 schema) for one Image/Pixels block.

    Plane order in the companion TIFF is XYZCT (Z fastest among pages:
    IFD index = t*size_c*size_z + c*size_z + z), declared via
    DimensionOrder and per-plane TiffData elements — the same structure the
    reference's writer produces for a single-scene save. `size_c` counts
    PLANE channels (Channel elements); with size_s > 1 (interleaved RGB &
    co — the S of the reference's TCZYX+S standard order) each Channel
    carries SamplesPerPixel=size_s and the OME SizeC attribute is
    size_c * size_s, per the OME data-model rule that SizeC totals channel
    samples."""
    idx = image_id.split(":")[-1]
    pps = physical_pixel_sizes
    phys = ""
    if pps is not None:
        # value first, then its unit attribute — parse_ome_xml's literal
        # `PhysicalSizeX="` regex depends on this order being stable
        unit = physical_size_units or "µm"  # OME default micron
        for attr, val in (("PhysicalSizeX", getattr(pps, "X", None)),
                          ("PhysicalSizeY", getattr(pps, "Y", None)),
                          ("PhysicalSizeZ", getattr(pps, "Z", None))):
            if val is not None:
                phys += f' {attr}="{float(val)}" {attr}Unit="{unit}"'
    if size_s > 1:
        phys += ' Interleaved="true"'
    channels = []
    for c in range(size_c):
        cid = generate_ome_channel_id(idx, c)
        name = (escape(str(channel_names[c]), {'"': "&quot;"})
                if channel_names is not None else cid)
        channels.append(
            f'<Channel ID="{cid}" Name="{name}" '
            f'SamplesPerPixel="{size_s}"/>')
    tiffdata, plane_els = [], []
    ifd = first_ifd      # multi-scene files offset each scene's pages
    for t in range(size_t):
        for c in range(size_c):
            for z in range(size_z):
                tiffdata.append(
                    f'<TiffData IFD="{ifd}" FirstT="{t}" FirstC="{c}" '
                    f'FirstZ="{z}" PlaneCount="1"/>')
                if planes:
                    plane_els.append(
                        f'<Plane TheT="{t}" TheC="{c}" TheZ="{z}"/>')
                ifd += 1
    name_attr = (f' Name="{escape(str(image_name), {chr(34): "&quot;"})}"'
                 if image_name else "")
    acq = (f'<AcquisitionDate>{escape(str(acquisition_date))}'
           '</AcquisitionDate>' if acquisition_date else "")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/2016-06">'
        f'<Image ID="{image_id}"{name_attr}>{acq}'
        f'<Pixels ID="Pixels:{idx}" DimensionOrder="XYZCT" '
        f'Type="{pixel_type}" BigEndian="false" '
        f'SizeT="{size_t}" SizeC="{size_c * size_s}" SizeZ="{size_z}" '
        f'SizeY="{size_y}" SizeX="{size_x}"{phys}>'
        + "".join(channels) + "".join(tiffdata) + "".join(plane_els) +
        "</Pixels></Image></OME>"
    )


_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 10: 8, 11: 4, 12: 8,
               16: 8}


def _ifd_entry(tag: int, typ: int, count: int, value: int) -> bytes:
    """One 12-byte IFD entry. `value` is the inline value when the payload
    fits in 4 bytes, else the file offset of the out-of-line data (the
    offset is always packed as a 4-byte LONG, whatever the entry type)."""
    if _TYPE_SIZES[typ] * count > 4:
        packed = struct.pack("<I", value)     # out-of-line offset
    elif typ == _TYPE_SHORT:
        packed = struct.pack("<HH", value, 0)
    else:
        packed = struct.pack("<I", value)
    return struct.pack("<HHI", tag, typ, count) + packed


def _ifd_entry_shorts(tag: int, values: Sequence[int], off: int) -> bytes:
    """A SHORT-array IFD entry: values inline when they fit in 4 bytes
    (count <= 2), else the offset of the out-of-line array at `off`."""
    count = len(values)
    if count * 2 <= 4:
        packed = struct.pack("<HH", values[0],
                             values[1] if count > 1 else 0)
    else:
        packed = struct.pack("<I", off)
    return struct.pack("<HHI", tag, _TYPE_SHORT, count) + packed


def _ifd_entry_big(tag: int, typ: int, count: int, value: int) -> bytes:
    """One 20-byte BigTIFF IFD entry (8-byte count + 8-byte inline/offset
    field; offsets pack as LONG8 whatever the entry type)."""
    if _TYPE_SIZES[typ] * count > 8:
        packed = struct.pack("<Q", value)     # out-of-line offset
    elif typ == _TYPE_SHORT and count == 1:
        packed = struct.pack("<HHHH", value, 0, 0, 0)
    else:
        packed = struct.pack("<Q", value)
    return struct.pack("<HHQ", tag, typ, count) + packed


def _ifd_entry_shorts_big(tag: int, values: Sequence[int],
                          off: int) -> bytes:
    count = len(values)
    if count * 2 <= 8:
        vals = list(values) + [0] * (4 - count)
        packed = struct.pack("<4H", *vals)
    else:
        packed = struct.pack("<Q", off)
    return struct.pack("<HHQ", tag, _TYPE_SHORT, count) + packed


def encode_tiff(planes: Sequence[np.ndarray],
                description: Optional[str] = None,
                compression: int = _COMPRESSION_NONE,
                predictor: int = 1,
                bigtiff: bool = False,
                tile: Optional[tuple] = None,
                sub_levels: Optional[Sequence[Sequence[np.ndarray]]]
                = None) -> bytes:
    """Encode planes as a multi-page little-endian TIFF.

    Planes are 2D (YX, grayscale) or 3D (YXS, interleaved samples — RGB &
    co; PlanarConfiguration=1, Photometric=RGB when S==3). One IFD + one
    strip per plane; `compression` 1 writes raw strips, 8 Deflates each
    strip with zlib (whole-strip compression is what tifffile and the OME
    reference stack emit for Compression=8). `description` (OME-XML) lands
    in IFD0's ImageDescription, which is where OME-TIFF readers look.

    `tile=(th, tw)` writes the TIFF 6.0 §15 TILED layout instead of
    strips: fixed-size tiles row-major, edge tiles stored FULL SIZE and
    zero-padded, each tile independently compressed (predictor applied
    per tile) — the layout of wild pyramidal `.tiles.ome.tif` files and
    the one that makes windowed reads O(window/tile). Tile dims must be
    multiples of 16 per the spec.

    `sub_levels[i]` attaches PYRAMID levels to main page i as SubIFD
    (tag 330) children — one standalone IFD per level, offsets in the
    parent's SubIFDs entry, the layout tifffile/QuPath-tier pyramidal
    OME-TIFFs use (and iter_tiff_chunks / the TIFF reader's
    resolution levels already consume)."""
    import zlib

    if not planes:
        raise ValueError("encode_tiff requires at least one plane")
    if compression not in (_COMPRESSION_NONE, _COMPRESSION_LZW,
                           _COMPRESSION_JPEG,
                           _COMPRESSION_DEFLATE, _COMPRESSION_PACKBITS):
        raise ValueError(f"unsupported compression {compression}; "
                         "supported: 1 (none), 5 (LZW), 7 (JPEG), "
                         "8 (deflate), 32773 (PackBits)")
    arrs = [np.ascontiguousarray(p) for p in planes]
    dt = arrs[0].dtype
    if dt.name not in SUPPORTED_DTYPES:
        raise ValueError(
            f"TIFF baseline encoder does not support dtype {dt.name}; "
            f"supported: {SUPPORTED_DTYPES}")
    if any(a.dtype != dt for a in arrs):
        raise ValueError("all planes must share one dtype")
    if any(a.ndim not in (2, 3) for a in arrs):
        raise ValueError("planes must be 2D (YX) or 3D (YXS)")
    s_n = arrs[0].shape[2] if arrs[0].ndim == 3 else 1
    if any((a.shape[2] if a.ndim == 3 else 1) != s_n for a in arrs):
        raise ValueError("all planes must share one sample count (S)")
    dt_le = dt.newbyteorder("<")

    desc_bytes = b""
    if description is not None:
        desc_bytes = description.encode("utf-8") + b"\x00"
        if len(desc_bytes) % 2:
            desc_bytes += b"\x00"
        if bigtiff and len(desc_bytes) <= 8:
            # the entry builders emit offsets, not inline bytes; keep the
            # description past BigTIFF's 8-byte inline threshold (trailing
            # NULs are stripped on decode)
            desc_bytes += b"\x00" * (10 - len(desc_bytes))

    if predictor == 2 and not np.issubdtype(dt, np.integer):
        raise ValueError("horizontal predictor is integer-only")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported predictor {predictor}")
    if compression == _COMPRESSION_JPEG:
        # lossy baseline JPEG chunks (the whole-slide bright-field
        # layout): uint8 gray or RGB, no predictor
        if dt != np.uint8 or s_n not in (1, 3):
            raise ValueError(
                "JPEG-compressed TIFF encodes uint8 gray or RGB")
        if predictor != 1:
            raise ValueError("JPEG compression takes no predictor")
    if tile is not None:
        th, tw = int(tile[0]), int(tile[1])
        if th % 16 or tw % 16:
            raise ValueError(
                f"TIFF tile dims must be multiples of 16, got {tile}")

    def _diff(a: np.ndarray) -> np.ndarray:
        if predictor != 2:
            return a
        d = a.copy()
        d[:, 1:] = a[:, 1:] - a[:, :-1]   # wraps in the sample dtype
        return d

    def _pack(a: np.ndarray) -> bytes:
        if compression == _COMPRESSION_JPEG:
            from bioio_spark.formats.jpeg import encode_jpeg

            return encode_jpeg(np.ascontiguousarray(a), quality=95,
                               subsampling="444")
        raw = _diff(a).astype(dt_le, copy=False).tobytes()
        if compression == _COMPRESSION_DEFLATE:
            return zlib.compress(raw)
        if compression == _COMPRESSION_LZW:
            return lzw_encode(raw)
        if compression == _COMPRESSION_PACKBITS:
            return packbits_encode(
                raw, row_bytes=a.shape[1] * s_n * dt.itemsize)
        return raw

    def _chunked(a: np.ndarray) -> list[bytes]:
        """One plane -> its encoded payloads (one strip, or the
        row-major tile sequence, edge tiles zero-padded full size)."""
        if tile is None:
            return [_pack(a)]
        h0, w0 = a.shape[0], a.shape[1]
        padded_shape = (-(-h0 // th) * th, -(-w0 // tw) * tw) \
            + ((s_n,) if a.ndim == 3 else ())
        padded = np.zeros(padded_shape, dtype=a.dtype)
        padded[:h0, :w0] = a
        return [_pack(padded[ty:ty + th, tx:tx + tw])
                for ty in range(0, padded.shape[0], th)
                for tx in range(0, padded.shape[1], tw)]

    subs: list[list[np.ndarray]] = []
    if sub_levels is not None:
        if len(sub_levels) != len(arrs):
            raise ValueError(
                f"sub_levels has {len(sub_levels)} entries for "
                f"{len(arrs)} main pages")
        for lv_planes in sub_levels:
            svs = [np.ascontiguousarray(p) for p in lv_planes]
            if any(sv.dtype != dt for sv in svs):
                raise ValueError("pyramid levels must share the dtype")
            if any((sv.shape[2] if sv.ndim == 3 else 1) != s_n
                   for sv in svs):
                raise ValueError("pyramid levels must share S")
            subs.append(svs)
    else:
        subs = [[] for _ in arrs]

    chunks: list[list[bytes]] = [_chunked(a) for a in arrs]
    sub_chunks: list[list[list[bytes]]] = [
        [_chunked(sa) for sa in svs] for svs in subs]

    # multi-sample pages need out-of-line BitsPerSample / SampleFormat
    # arrays (s_n shorts > 4 bytes); one shared block serves every IFD
    extra_bytes = b""
    if s_n > 1:
        extra_bytes = (struct.pack(f"<{s_n}H", *([dt.itemsize * 8] * s_n))
                       + struct.pack(
                           f"<{s_n}H",
                           *([_SAMPLE_FORMAT_OF_KIND[dt.kind]] * s_n)))

    # layout: header | description | extras | plane strips | IFD chain.
    # bigtiff switches to the version-43 layout: 16-byte header, 8-byte
    # IFD counts/offsets, 20-byte entries (required once any offset
    # exceeds 4 GB; callers exporting scenes that big must set it).
    off_item = 8 if bigtiff else 4
    pos = 16 if bigtiff else 8
    desc_off = pos
    pos += len(desc_bytes)
    bits_off = pos
    fmt_off = pos + 2 * s_n
    pos += len(extra_bytes)
    chunk_offs: list[list[int]] = []
    for cs in chunks:
        offs = []
        for c in cs:
            if pos % 2:
                pos += 1
            offs.append(pos)
            pos += len(c)
        chunk_offs.append(offs)
    # out-of-line offset/count arrays for multi-chunk (tiled) planes
    def _lay_arrays(chunk_lists):
        nonlocal pos
        out = []
        for cs in chunk_lists:
            if len(cs) <= 1:
                out.append(None)
                continue
            if pos % 2:
                pos += 1
            o_pos = pos
            pos += off_item * len(cs)
            c_pos = pos
            pos += off_item * len(cs)   # counts LONG8 in BigTIFF
            out.append((o_pos, c_pos))
        return out

    arr_offs: list[Optional[tuple]] = _lay_arrays(chunks)
    # pyramid-level payloads + their arrays + their standalone IFDs
    sub_chunk_offs: list[list[list[int]]] = []
    for scs in sub_chunks:
        per_page = []
        for cs in scs:
            offs = []
            for c in cs:
                if pos % 2:
                    pos += 1
                offs.append(pos)
                pos += len(c)
            per_page.append(offs)
        sub_chunk_offs.append(per_page)
    sub_arr_offs = [_lay_arrays(scs) for scs in sub_chunks]
    ent_sz, cnt_sz, off_sz = (20, 8, 8) if bigtiff else (12, 2, 4)
    sub_count = (4 + (2 if s_n == 1 else 3) + 1
                 + (3 if tile is None else 4)
                 + (1 if predictor == 2 else 0))
    sub_ifd_size = cnt_sz + ent_sz * sub_count + off_sz
    sub_ifd_pos: list[list[int]] = []
    for svs in subs:
        per_page = []
        for _ in svs:
            if pos % 2:
                pos += 1
            per_page.append(pos)
            pos += sub_ifd_size
        sub_ifd_pos.append(per_page)
    # SubIFDs entry value arrays (count > 1 goes out of line)
    sub_list_pos: list[Optional[int]] = []
    for per_page in sub_ifd_pos:
        n = len(per_page)
        if n * off_item > (8 if bigtiff else 4):
            if pos % 2:
                pos += 1
            sub_list_pos.append(pos)
            pos += off_item * n
        else:
            sub_list_pos.append(None)
    if pos % 2:
        pos += 1
    ifd0_off = pos

    out = bytearray()
    if bigtiff:
        out += struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd0_off)
    else:
        out += struct.pack("<2sHI", b"II", 42, ifd0_off)
    out += desc_bytes
    out += extra_bytes
    for cs, offs in zip(chunks, chunk_offs):
        for c, off in zip(cs, offs):
            if len(out) != off:
                out += b"\x00" * (off - len(out))
            out += c
    def _write_arrays(chunk_lists, chunk_off_lists, arr_off_list):
        for cs, offs, ao in zip(chunk_lists, chunk_off_lists,
                                arr_off_list):
            if ao is None:
                continue
            o_pos, c_pos = ao
            if len(out) != o_pos:
                out.extend(b"\x00" * (o_pos - len(out)))
            fmt = "Q" if bigtiff else "I"
            out.extend(struct.pack(f"<{len(offs)}{fmt}", *offs))
            out.extend(struct.pack(f"<{len(cs)}{fmt}",
                                   *[len(c) for c in cs]))

    _write_arrays(chunks, chunk_offs, arr_offs)
    for scs, soffs in zip(sub_chunks, sub_chunk_offs):
        for cs, offs in zip(scs, soffs):
            for c, off in zip(cs, offs):
                if len(out) != off:
                    out += b"\x00" * (off - len(out))
                out += c
    for scs, soffs, saos in zip(sub_chunks, sub_chunk_offs,
                                sub_arr_offs):
        _write_arrays(scs, soffs, saos)

    sample_format = _SAMPLE_FORMAT_OF_KIND[dt.kind]
    # JPEG RGB chunks are stored as YCbCr streams (JFIF), declared via
    # Photometric 6 per TechNote 2; decode converts back to RGB
    photometric = (6 if compression == _COMPRESSION_JPEG and s_n == 3
                   else 2 if s_n == 3 else 1)
    ent = _ifd_entry_big if bigtiff else _ifd_entry
    ent_shorts = _ifd_entry_shorts_big if bigtiff else _ifd_entry_shorts
    off_type = _TYPE_LONG8 if bigtiff else _TYPE_LONG

    def _page_entries(a, cs, offs, ao) -> list:
        h, w = a.shape[0], a.shape[1]
        entries = [
            ent(_IMAGE_WIDTH, _TYPE_LONG, 1, w),
            ent(_IMAGE_LENGTH, _TYPE_LONG, 1, h),
            ent(_COMPRESSION, _TYPE_SHORT, 1, compression),
            ent(_PHOTOMETRIC, _TYPE_SHORT, 1, photometric),
        ]
        if s_n == 1:
            entries += [
                ent(_BITS_PER_SAMPLE, _TYPE_SHORT, 1, dt.itemsize * 8),
                ent(_SAMPLE_FORMAT, _TYPE_SHORT, 1, sample_format),
            ]
        else:
            entries += [
                ent_shorts(_BITS_PER_SAMPLE,
                           [dt.itemsize * 8] * s_n, bits_off),
                ent_shorts(_SAMPLE_FORMAT,
                           [sample_format] * s_n, fmt_off),
                ent(_PLANAR_CONFIG, _TYPE_SHORT, 1, 1),
            ]
        entries.append(ent(_SAMPLES_PER_PIXEL, _TYPE_SHORT, 1, s_n))
        if tile is None:
            entries += [
                ent(_STRIP_OFFSETS, off_type, 1, offs[0]),
                ent(_ROWS_PER_STRIP, _TYPE_LONG, 1, h),
                ent(_STRIP_BYTE_COUNTS, off_type, 1, len(cs[0])),
            ]
        else:
            n = len(cs)
            o_pos, c_pos = ao if ao else (offs[0], len(cs[0]))
            entries += [
                ent(_TILE_WIDTH, _TYPE_LONG, 1, tw),
                ent(_TILE_LENGTH, _TYPE_LONG, 1, th),
                ent(_TILE_OFFSETS, off_type, n,
                    o_pos if n > 1 else offs[0]),
                ent(_TILE_BYTE_COUNTS, off_type, n,
                    c_pos if n > 1 else len(cs[0])),
            ]
        if predictor == 2:
            entries.append(ent(_PREDICTOR, _TYPE_SHORT, 1, 2))
        return entries

    def _emit_ifd(entries, next_off):
        entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])
        out.extend(struct.pack("<Q" if bigtiff else "<H", len(entries)))
        out.extend(b"".join(entries))
        out.extend(struct.pack("<Q" if bigtiff else "<I", next_off))

    # pyramid-level IFDs (standalone: next = 0), at their planned slots
    for svs, scs, soffs, saos, spos in zip(
            subs, sub_chunks, sub_chunk_offs, sub_arr_offs,
            sub_ifd_pos):
        for sa, cs, offs, ao, p in zip(svs, scs, soffs, saos, spos):
            if len(out) % 2:
                out += b"\x00"
            assert len(out) == p, "sub-IFD layout drift"
            _emit_ifd(_page_entries(sa, cs, offs, ao), 0)
    for per_page, lp in zip(sub_ifd_pos, sub_list_pos):
        if lp is None:
            continue
        if len(out) != lp:
            out += b"\x00" * (lp - len(out))
        out += struct.pack(f"<{len(per_page)}{'Q' if bigtiff else 'I'}",
                           *per_page)
    if len(out) % 2:
        out += b"\x00"

    for i, (a, cs, offs, ao) in enumerate(
            zip(arrs, chunks, chunk_offs, arr_offs)):
        entries = _page_entries(a, cs, offs, ao)
        if i == 0 and desc_bytes:
            entries.append(ent(_IMAGE_DESCRIPTION, _TYPE_ASCII,
                               len(desc_bytes), desc_off))
        if subs[i]:
            n = len(subs[i])
            entries.append(ent(
                _SUB_IFDS, off_type, n,
                sub_list_pos[i] if sub_list_pos[i] is not None
                else sub_ifd_pos[i][0]))
        ifd_size = cnt_sz + ent_sz * len(entries) + off_sz
        next_off = (len(out) + ifd_size) if i + 1 < len(arrs) else 0
        _emit_ifd(entries, next_off)
    return bytes(out)


def encode_ome_tiff(block: np.ndarray, image_id: str = "Image:0",
                    image_name: Optional[str] = None,
                    channel_names: Optional[Sequence[str]] = None,
                    physical_pixel_sizes=None,
                    compression: int = _COMPRESSION_NONE,
                    bigtiff: bool = False,
                    predictor: int = 1,
                    tile: Optional[tuple] = None,
                    sub_levels: Optional[Sequence[np.ndarray]]
                    = None) -> bytes:
    """Encode a dense 5D TCZYX (or 6D TCZYXS, interleaved-sample) block as
    a single-scene OME-TIFF; compression 1 (none), 5 (LZW), 8 (deflate),
    32773 (PackBits); predictor 2 for horizontal differencing on integer
    pixels; bigtiff for scenes past the classic 4 GB offset ceiling;
    tile=(th, tw) for the tiled page layout (.tiles.ome.tif tier);
    `sub_levels` = downsampled TCZYX(S) blocks (same T/C/Z, halved-ish
    Y/X per level) written as each page's SubIFD pyramid children."""
    a = np.asarray(block)
    if a.ndim not in (5, 6):
        raise ValueError(
            f"encode_ome_tiff expects 5D TCZYX or 6D TCZYXS, got {a.ndim}D")
    t_n, c_n, z_n, y_n, x_n = a.shape[:5]
    s_n = a.shape[5] if a.ndim == 6 else 1
    ome = build_ome_xml(
        t_n, c_n, z_n, y_n, x_n,
        NUMPY_DTYPE_TO_OME[a.dtype.name], image_id=image_id,
        image_name=image_name, channel_names=channel_names,
        physical_pixel_sizes=physical_pixel_sizes, size_s=s_n)
    planes = [a[t, c, z]
              for t in range(t_n) for c in range(c_n) for z in range(z_n)]
    per_page_subs = None
    if sub_levels:
        lvls = [np.asarray(b) for b in sub_levels]
        for b in lvls:
            if b.shape[:3] != (t_n, c_n, z_n):
                raise ValueError(
                    "pyramid level blocks must share T/C/Z with level 0")
        per_page_subs = [
            [b[t, c, z] for b in lvls]
            for t in range(t_n) for c in range(c_n) for z in range(z_n)]
    return encode_tiff(planes, description=ome, compression=compression,
                       bigtiff=bigtiff, predictor=predictor, tile=tile,
                       sub_levels=per_page_subs)


def encode_multiscene_ome_tiff(blocks: Sequence[np.ndarray],
                               image_ids: Optional[Sequence[str]] = None,
                               image_names: Optional[Sequence] = None,
                               channel_names: Optional[Sequence] = None,
                               physical_pixel_sizes=None,
                               compression: int = _COMPRESSION_NONE,
                               bigtiff: bool = False,
                               tile: Optional[tuple] = None,
                               predictor: int = 1) -> bytes:
    """Encode several TCZYX(S) scene blocks into ONE OME-TIFF: the OME
    document carries one <Image> element per scene with TiffData IFD
    indices offset so each scene's pages map to its slice of the page
    sequence — the multi-scene single-file layout the reference's
    ecosystem readers expose through `scenes`/`set_scene`
    (ref bio_image.py:433-498). All scenes must share one dtype (one
    SampleFormat per page sequence is a codec constraint, not OME's)."""
    arrs = [np.asarray(b) for b in blocks]
    if not arrs:
        raise ValueError("encode_multiscene_ome_tiff requires >= 1 scene")
    if any(a.ndim not in (5, 6) for a in arrs):
        raise ValueError("scene blocks must be 5D TCZYX or 6D TCZYXS")
    if len({a.dtype for a in arrs}) != 1:
        raise ValueError("all scenes must share one dtype")
    from bioio_spark.ome_utils import generate_ome_image_id

    image_els, pages = [], []
    first_ifd = 0
    for i, a in enumerate(arrs):
        t_n, c_n, z_n = a.shape[:3]
        s_n = a.shape[5] if a.ndim == 6 else 1
        doc = build_ome_xml(
            t_n, c_n, z_n, a.shape[3], a.shape[4],
            NUMPY_DTYPE_TO_OME[a.dtype.name],
            image_id=(image_ids[i] if image_ids
                      else generate_ome_image_id(i)),
            image_name=image_names[i] if image_names else None,
            channel_names=channel_names[i] if channel_names else None,
            physical_pixel_sizes=physical_pixel_sizes, size_s=s_n,
            first_ifd=first_ifd)
        m = re.search(r"<Image\b.*</Image>", doc, re.S)
        image_els.append(m.group(0))
        pages += [a[t, c, z] for t in range(t_n)
                  for c in range(c_n) for z in range(z_n)]
        first_ifd += t_n * c_n * z_n
    ome = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<OME xmlns="http://www.openmicroscopy.org/Schemas/OME/'
           '2016-06">' + "".join(image_els) + "</OME>")
    return encode_tiff(pages, description=ome, compression=compression,
                       bigtiff=bigtiff, tile=tile, predictor=predictor)


def parse_ome_xml_scenes(ome_xml: str) -> list:
    """Per-scene catalog facts from a (possibly multi-Image) OME-XML
    document: one parse_ome_xml-shaped dict per <Image> element, in
    document order — the page sequence assigns each scene the next
    size_t*size_c*size_z pages."""
    starts = [m.start() for m in re.finditer(r"<Image\b", ome_xml)]
    if len(starts) <= 1:
        return [parse_ome_xml(ome_xml)]
    segs = [ome_xml[s:e] for s, e in zip(starts, starts[1:] + [len(ome_xml)])]
    return [parse_ome_xml(seg) for seg in segs]


def _read_tag_values(data: bytes, typ: int, count: int,
                     raw: bytes, bo: str = "<",
                     big: bool = False) -> list:
    """Decode an IFD entry's value(s), following the offset when needed.
    `bo` is the file byte order; `big` selects the BigTIFF entry layout
    (8-byte inline field and offsets, LONG8 type 16)."""
    sizes = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 10: 8, 11: 4, 12: 8, 16: 8}
    fmt = {1: "B", 3: "H", 4: "I", 11: "f", 12: "d", 16: "Q"}
    total = sizes.get(typ, 1) * count
    inline = 8 if big else 4
    if total > inline:
        (off,) = struct.unpack(f"{bo}{'Q' if big else 'I'}", raw)
        buf = data[off:off + total]
    else:
        buf = raw[:total]
    if typ == _TYPE_ASCII:
        return [buf.rstrip(b"\x00").decode("utf-8", errors="replace")]
    if typ in fmt:
        return list(struct.unpack(f"{bo}{count}{fmt[typ]}", buf))
    if typ == 5:  # RATIONAL
        vals = struct.unpack(f"{bo}{2 * count}I", buf)
        return [vals[i] / vals[i + 1] if vals[i + 1] else float("nan")
                for i in range(0, len(vals), 2)]
    if typ == 10:  # SRATIONAL: exact signed (num, den) pairs — color
        # matrices need the exact rationals, not a lossy float
        vals = struct.unpack(f"{bo}{2 * count}i", buf)
        return [(vals[i], vals[i + 1])
                for i in range(0, len(vals), 2)]
    return [buf]


def lzw_decode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first variable-width codes 9->12 bits,
    ClearCode 256 / EOI 257, EarlyChange width bumps at decoder table
    sizes 510/1022/2046 (one registration behind the encoder's
    511/1023/2047 switch — the libtiff convention). Wild OME-TIFFs are
    mostly LZW-compressed, so the decode side is the interop-critical
    half."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    bitpos, nbits, width = 0, len(data) * 8, 9
    table: list[bytes] = []
    prev: Optional[bytes] = None
    while bitpos + width <= nbits:
        byte0 = bitpos >> 3
        chunk = int.from_bytes(data[byte0:byte0 + 3].ljust(3, b"\0"),
                               "big")
        code = (chunk >> (24 - (bitpos & 7) - width)) & ((1 << width) - 1)
        bitpos += width
        if code == EOI:
            break
        if code == CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            width, prev = 9, None
            continue
        if not table:
            raise ValueError("LZW stream must start with a ClearCode")
        if prev is None:
            entry = table[code]
        else:
            entry = (table[code] if code < len(table)
                     else prev + prev[:1])     # the KwKwK case
            table.append(prev + entry[:1])
            if len(table) == (1 << width) - 2 and width < 12:
                width += 1                      # EarlyChange
        out += entry
        prev = entry
    return bytes(out)


def lzw_encode(data: bytes) -> bytes:
    """Encoder twin of lzw_decode (same EarlyChange schedule; emits a
    Clear + table reset when the 12-bit space fills, leaving room for
    EOI per the spec)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = acc_bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, acc_bits
        acc = (acc << width) | code
        acc_bits += width
        while acc_bits >= 8:
            acc_bits -= 8
            out.append((acc >> acc_bits) & 0xFF)
        acc &= (1 << acc_bits) - 1      # keep the int bounded (linear time)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    w = b""
    for b in data:
        ch = bytes([b])
        wc = w + ch
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # TIFF 6.0 / libtiff EarlyChange: the encoder widens when the NEXT
        # code to register would be (1<<w)-1 (511/1023/2047); the decoder's
        # table runs one registration behind, so it widens at table size
        # (1<<w)-2 (510/1022/2046).
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code == 4094:                 # 12-bit space nearly full
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = ch
    if w:
        emit(table[w], width)
    emit(EOI, width)
    if acc_bits:
        out.append((acc << (8 - acc_bits)) & 0xFF)
    return bytes(out)


def packbits_decode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits RLE (the Macintosh-era byte-oriented scheme
    still common in wild scanner TIFFs): header byte n in 0..127 copies
    the next n+1 literal bytes, n in 129..255 repeats the next byte
    257-n times, n == 128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i]
        i += 1
        if h < 128:              # literal run of h+1 bytes
            out += data[i:i + h + 1]
            i += h + 1
        elif h > 128:            # replicate run of 257-h copies
            out += data[i:i + 1] * (257 - h)
            i += 1
        # h == 128: no-op per spec
    return bytes(out)


def packbits_encode(data: bytes, row_bytes: Optional[int] = None) -> bytes:
    """Encoder twin of packbits_decode. Packs each `row_bytes`-sized row
    independently (runs never cross row boundaries, per the TIFF 6.0 §9
    note that each scanline is compressed separately); replicate runs
    are emitted for 3+ equal bytes, shorter repeats ride in literals."""
    if not data:
        return b""
    rb = row_bytes or len(data)
    out = bytearray()
    for r0 in range(0, len(data), rb):
        row = data[r0:r0 + rb]
        i, n = 0, len(row)
        while i < n:
            j = i + 1
            while j < n and j - i < 128 and row[j] == row[i]:
                j += 1
            if j - i >= 3:
                out.append(257 - (j - i))
                out.append(row[i])
                i = j
                continue
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and row[k] == row[k + 1] == row[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out += row[i:k]
            i = k
    return bytes(out)


def _undo_horizontal_predictor(plane: np.ndarray) -> np.ndarray:
    """Predictor=2: each sample stores the difference from its left
    neighbor; invert with a wrapping cumulative sum along x (per sample
    channel for interleaved pages)."""
    if not np.issubdtype(plane.dtype, np.integer):
        raise ValueError("horizontal predictor is integer-only")
    return np.cumsum(plane, axis=1, dtype=plane.dtype)


def decode_tiff(data: bytes):
    """Decode a TIFF -> (planes, description).

    planes: list of numpy arrays, one per IFD/page — 2D (YX) for grayscale
    pages, 3D (YXS) when SamplesPerPixel > 1 (interleaved); native dtype
    reconstructed from BitsPerSample + SampleFormat; Compression 1 / 5 /
    8 / 32946; strip AND tile layouts; II and MM byte orders; classic
    (version 42) and BigTIFF (version 43: 64-bit offsets/counts, 20-byte
    IFD entries — how wild >4 GB microscopy files ship);
    description: IFD0's ImageDescription string or None."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    version = struct.unpack(f"{bo}H", data[2:4])[0]
    if version == 42:
        big = False
        (ifd_off,) = struct.unpack(f"{bo}I", data[4:8])
        ent_sz, cnt_fmt, off_fmt, cnt_sz = 12, "H", "I", 2
    elif version == 43:
        big = True
        offsize, zero = struct.unpack(f"{bo}HH", data[4:8])
        if offsize != 8 or zero != 0:
            raise ValueError("malformed BigTIFF header")
        (ifd_off,) = struct.unpack(f"{bo}Q", data[8:16])
        ent_sz, cnt_fmt, off_fmt, cnt_sz = 20, "Q", "Q", 8
    else:
        raise ValueError(f"not a TIFF (bad magic {version})")
    off_sz = 8 if big else 4

    def _decode_ifd_at(ifd_off: int):
        """Decode the IFD at `ifd_off` -> (plane, tags, next_off)."""
        import zlib

        if ifd_off + cnt_sz > len(data):
            raise ValueError("truncated TIFF: IFD offset out of range")
        (n_entries,) = struct.unpack(
            f"{bo}{cnt_fmt}", data[ifd_off:ifd_off + cnt_sz])
        table_end = ifd_off + cnt_sz + ent_sz * n_entries + off_sz
        if table_end > len(data):
            raise ValueError("truncated TIFF: IFD table out of range")
        tags = {}
        for i in range(n_entries):
            ent = data[ifd_off + cnt_sz + ent_sz * i:
                       ifd_off + cnt_sz + ent_sz * (i + 1)]
            tag, typ = struct.unpack(f"{bo}HH", ent[:4])
            if big:
                (count,) = struct.unpack(f"{bo}Q", ent[4:12])
                raw = ent[12:20]
            else:
                (count,) = struct.unpack(f"{bo}I", ent[4:8])
                raw = ent[8:12]
            tags[tag] = _read_tag_values(data, typ, count, raw, bo,
                                         big=big)
        (next_off,) = struct.unpack(
            f"{bo}{off_fmt}", data[table_end - off_sz:table_end])
        comp = tags.get(_COMPRESSION, [1])[0]
        if comp not in (_COMPRESSION_NONE, _COMPRESSION_LZW,
                        _COMPRESSION_JPEG,
                        _COMPRESSION_DEFLATE, _COMPRESSION_DEFLATE_OLD,
                        _COMPRESSION_PACKBITS):
            raise ValueError(f"unsupported TIFF compression {comp}; "
                             "supported: 1 (none), 5 (LZW), 7 (JPEG), "
                             "8/32946 (deflate), 32773 (PackBits)")
        if comp == _COMPRESSION_JPEG:
            phot = tags.get(_PHOTOMETRIC, [1])[0]
            if phot not in (0, 1, 6):
                raise ValueError(
                    f"JPEG-compressed TIFF with Photometric {phot} not "
                    "supported (expect grayscale or 6 = YCbCr)")
        if tags.get(_PLANAR_CONFIG, [1])[0] != 1:
            raise ValueError("only chunky (interleaved) planar config "
                             "is supported")
        w = tags[_IMAGE_WIDTH][0]
        h = tags[_IMAGE_LENGTH][0]
        spp = tags.get(_SAMPLES_PER_PIXEL, [1])[0]
        bits = tags.get(_BITS_PER_SAMPLE, [8])[0]
        kind = _KIND_OF_SAMPLE_FORMAT[tags.get(_SAMPLE_FORMAT, [1])[0]]
        dt = np.dtype(f"{bo}{kind}{bits // 8}")
        pred = tags.get(_PREDICTOR, [1])[0]
        if pred not in (1, 2):
            raise ValueError(f"unsupported TIFF predictor {pred}")

        def decompress(c: bytes) -> bytes:
            if comp in (_COMPRESSION_DEFLATE, _COMPRESSION_DEFLATE_OLD):
                return zlib.decompress(c)
            if comp == _COMPRESSION_LZW:
                return lzw_decode(c)
            if comp == _COMPRESSION_PACKBITS:
                return packbits_decode(c)
            return c

        jpeg_tables = (tags.get(_JPEG_TABLES, [None])[0]
                       if comp == _COMPRESSION_JPEG else None)

        def chunk_array(payload: bytes, ch: int, cw: int) -> np.ndarray:
            """One chunk payload -> its (ch, cw[, spp]) array; JPEG
            chunks decode through the in-repo baseline codec, the rest
            through frombuffer."""
            if comp == _COMPRESSION_JPEG:
                img = _decode_jpeg_chunk(payload, jpeg_tables)
                got_spp = img.shape[2] if img.ndim == 3 else 1
                if got_spp != spp:
                    raise ValueError(
                        f"JPEG chunk has {got_spp} component(s), page "
                        f"declares {spp}")
                if img.shape[0] < ch or img.shape[1] < cw:
                    # lenient: pad short edge chunks to declared size
                    pad = np.zeros(
                        (ch, cw) + ((spp,) if spp > 1 else ()),
                        np.uint8)
                    pad[:img.shape[0], :img.shape[1]] = img
                    img = pad
                return img[:ch, :cw].astype(dt)
            cshape = (ch, cw) if spp == 1 else (ch, cw, spp)
            return (np.frombuffer(decompress(payload), dtype=dt,
                                  count=ch * cw * spp).reshape(cshape))

        if _TILE_OFFSETS in tags:
            # tiled layout (TIFF 6.0 §15): fixed-size tiles, row-major,
            # edge tiles stored full-size and cropped here. The common
            # layout of wild pyramidal OME-TIFFs.
            tw = tags[_TILE_WIDTH][0]
            th = tags[_TILE_LENGTH][0]
            offs = tags[_TILE_OFFSETS]
            counts = tags[_TILE_BYTE_COUNTS]
            across = -(-w // tw)
            down = -(-h // th)
            if len(offs) != across * down:
                raise ValueError(
                    f"tile count {len(offs)} != grid {down}x{across}")
            raster = np.zeros(
                (down * th, across * tw) + ((spp,) if spp > 1 else ()),
                dtype=dt)
            for ti, (o, c) in enumerate(zip(offs, counts)):
                tile = chunk_array(data[o:o + c], th, tw)
                if pred == 2:   # predictor resets per tile row
                    tile = _undo_horizontal_predictor(tile)
                ty, tx = divmod(ti, across)
                raster[ty * th:(ty + 1) * th, tx * tw:(tx + 1) * tw] = tile
            plane = raster[:h, :w].astype(dt.newbyteorder("="))
        else:
            offs = tags[_STRIP_OFFSETS]
            counts = tags[_STRIP_BYTE_COUNTS]
            rps = tags.get(_ROWS_PER_STRIP, [h])[0]
            strips = [
                chunk_array(data[o:o + c],
                            min(rps, h - si * rps), w)
                for si, (o, c) in enumerate(zip(offs, counts))]
            plane = (np.concatenate(strips, axis=0)[:h]
                     .astype(dt.newbyteorder("=")))
            if pred == 2:
                plane = _undo_horizontal_predictor(plane)
        return plane, tags, next_off

    planes, description = [], None
    first = True
    while ifd_off:
        plane, tags, next_off = _decode_ifd_at(ifd_off)
        planes.append(plane)
        if first:
            desc = tags.get(_IMAGE_DESCRIPTION)
            description = desc[0] if desc else None
            first = False
        ifd_off = next_off
    return planes, description


def _read_tag_values_fh(f, typ: int, count: int, raw: bytes, bo: str,
                        big: bool) -> list:
    """Seek-based twin of _read_tag_values: follows out-of-line value
    offsets through the file handle instead of a memory buffer."""
    sizes = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 10: 8, 11: 4, 12: 8, 16: 8}
    fmt = {1: "B", 3: "H", 4: "I", 11: "f", 12: "d", 16: "Q"}
    total = sizes.get(typ, 1) * count
    inline = 8 if big else 4
    if total > inline:
        (off,) = struct.unpack(f"{bo}{'Q' if big else 'I'}", raw)
        pos = f.tell()
        f.seek(off)
        buf = f.read(total)
        f.seek(pos)
    else:
        buf = raw[:total]
    if typ == _TYPE_ASCII:
        return [buf.rstrip(b"\x00").decode("utf-8", errors="replace")]
    if typ in fmt:
        return list(struct.unpack(f"{bo}{count}{fmt[typ]}", buf))
    if typ == 5:
        vals = struct.unpack(f"{bo}{2 * count}I", buf)
        return [vals[i] / vals[i + 1] if vals[i + 1] else float("nan")
                for i in range(0, len(vals), 2)]
    if typ == 10:  # SRATIONAL: exact signed (num, den) pairs
        vals = struct.unpack(f"{bo}{2 * count}i", buf)
        return [(vals[i], vals[i + 1])
                for i in range(0, len(vals), 2)]
    return [buf]


_SUB_IFDS = 330


def _parse_one_ifd(f, ifd_off: int, bo: str, big: bool,
                   keep_tags: Sequence[int] = ()) -> tuple:
    """Parse the IFD at `ifd_off` through the file handle -> (page dict
    without index/description, next-IFD offset). Shared by the main
    chain and SubIFD (tag 330) pyramid levels. `keep_tags` requests raw
    values of extra (vendor) tags into the page's ``vendor`` dict — the
    hook the TIFF-container dialect readers (LSM/STK/SVS/SCN) use."""
    ent_sz, cnt_fmt, off_fmt, cnt_sz = ((20, "Q", "Q", 8) if big
                                        else (12, "H", "I", 2))
    off_sz = 8 if big else 4
    f.seek(ifd_off)
    (n_entries,) = struct.unpack(f"{bo}{cnt_fmt}", f.read(cnt_sz))
    table = f.read(ent_sz * n_entries + off_sz)
    tags: dict = {}
    for i in range(n_entries):
        ent = table[ent_sz * i:ent_sz * (i + 1)]
        tag, typ = struct.unpack(f"{bo}HH", ent[:4])
        if big:
            (count,) = struct.unpack(f"{bo}Q", ent[4:12])
            raw = ent[12:20]
        else:
            (count,) = struct.unpack(f"{bo}I", ent[4:8])
            raw = ent[8:12]
        tags[tag] = _read_tag_values_fh(f, typ, count, raw, bo, big)
    (next_off,) = struct.unpack(f"{bo}{off_fmt}", table[-off_sz:])
    w = tags[_IMAGE_WIDTH][0]
    h = tags[_IMAGE_LENGTH][0]
    spp = tags.get(_SAMPLES_PER_PIXEL, [1])[0]
    bits = tags.get(_BITS_PER_SAMPLE, [8])[0]
    kind = _KIND_OF_SAMPLE_FORMAT[tags.get(_SAMPLE_FORMAT, [1])[0]]
    chunks = []
    if _TILE_OFFSETS in tags:
        tw, th = tags[_TILE_WIDTH][0], tags[_TILE_LENGTH][0]
        across = -(-w // tw)
        for ti, (o, c) in enumerate(zip(tags[_TILE_OFFSETS],
                                        tags[_TILE_BYTE_COUNTS])):
            ty, tx = divmod(ti, across)
            chunks.append({"offset": o, "nbytes": c,
                           "y0": ty * th, "x0": tx * tw,
                           "h": th, "w": tw})
    else:
        rps = tags.get(_ROWS_PER_STRIP, [h])[0]
        # PlanarConfiguration=2 (LSM channel planes): strips come in spp
        # groups of ceil(h/rps); strip index -> (sample, y0) instead of
        # a straight y walk (TIFF 6.0 §3 planar layout)
        planar2 = tags.get(_PLANAR_CONFIG, [1])[0] == 2
        per_sample = -(-h // rps) if planar2 else 0
        for si, (o, c) in enumerate(zip(tags[_STRIP_OFFSETS],
                                        tags[_STRIP_BYTE_COUNTS])):
            if planar2:
                samp, y0 = divmod(si, per_sample)
                y0 *= rps
            else:
                samp, y0 = 0, si * rps
            chunks.append({"offset": o, "nbytes": c,
                           "y0": y0, "x0": 0,
                           "h": min(rps, h - y0), "w": w, "s": samp})
    desc = tags.get(_IMAGE_DESCRIPTION)
    jt = tags.get(_JPEG_TABLES, [None])[0]
    page = {
        "w": w, "h": h, "spp": spp,
        "dtype": f"{bo}{kind}{bits // 8}",
        "comp": tags.get(_COMPRESSION, [1])[0],
        "pred": tags.get(_PREDICTOR, [1])[0],
        "tiled": _TILE_OFFSETS in tags,
        "planar": tags.get(_PLANAR_CONFIG, [1])[0],
        "subfile": tags.get(_NEW_SUBFILE_TYPE, [0])[0],
        "rows_per_strip": tags.get(_ROWS_PER_STRIP, [h])[0],
        "jpeg_tables": bytes(jt) if jt else None,
        "chunks": chunks,
        "vendor": {t: tags[t] for t in keep_tags if t in tags},
        "_desc": desc[0] if desc else None,
        "_sub_offs": list(tags.get(_SUB_IFDS, [])),
    }
    return page, next_off


def iter_tiff_chunks(path: str,
                     keep_tags: Sequence[int] = ()) -> list[dict]:
    """Seek-based IFD walk returning the strip/tile layout of every page
    WITHOUT touching pixel data — the planning input for window-pruned
    reads (a few KB of IFD reads even on a multi-GB file).

    One dict per page: ``{page, w, h, spp, dtype, comp, pred,
    description, chunks, subifds}`` where each chunk is ``{offset,
    nbytes, y0, x0, h, w}`` in page coordinates — strips span the full
    width with their actual row count; tiles carry the stored (full)
    tile shape, edge trim happens at decode. ``subifds`` holds the
    page's SubIFD (tag 330) children in order — the pyramid levels of
    wild tiled OME-TIFFs — each the same page-dict shape.

    Vendor-dialect hooks (LSM/STK/SVS/SCN readers): ``keep_tags``
    surfaces the raw values of those private tags per page under
    ``vendor``; every page also carries its OWN ImageDescription as
    ``page_desc`` (``description`` stays IFD0-only for the OME-TIFF
    contract), its PlanarConfiguration as ``planar``, NewSubfileType
    as ``subfile``, and ``rows_per_strip`` (planar=2 strip geometry is
    reconstructed by the dialect readers from strip index)."""
    out: list[dict] = []
    with open(path, "rb") as f:
        head = f.read(16)
        if head[:2] == b"II":
            bo = "<"
        elif head[:2] == b"MM":
            bo = ">"
        else:
            raise ValueError(f"{path}: not a TIFF")
        version = struct.unpack(f"{bo}H", head[2:4])[0]
        if version == 42:
            big = False
            (ifd_off,) = struct.unpack(f"{bo}I", head[4:8])
        elif version == 43:
            big = True
            (ifd_off,) = struct.unpack(f"{bo}Q", head[8:16])
        else:
            raise ValueError(f"{path}: not a TIFF (bad magic {version})")
        page = 0
        description = None
        while ifd_off:
            pg, ifd_off = _parse_one_ifd(f, ifd_off, bo, big, keep_tags)
            if page == 0:
                description = pg["_desc"]
            subs = []
            for so in pg.pop("_sub_offs"):
                sub, _ = _parse_one_ifd(f, so, bo, big)
                sub.pop("_sub_offs")
                sub.pop("_desc")
                sub["description"] = None
                subs.append(sub)
            own_desc = pg.pop("_desc")
            pg.update({
                "page": page,
                "description": description if page == 0 else None,
                "page_desc": own_desc,
                "subifds": subs,
            })
            out.append(pg)
            page += 1
    return out


def decompress_tiff_chunk(data: bytes, comp: int) -> bytes:
    """One strip/tile payload -> raw bytes (executor-side decode step)."""
    import zlib

    if comp in (_COMPRESSION_DEFLATE, _COMPRESSION_DEFLATE_OLD):
        return zlib.decompress(data)
    if comp == _COMPRESSION_LZW:
        return lzw_decode(data)
    if comp == _COMPRESSION_PACKBITS:
        return packbits_decode(data)
    if comp == _COMPRESSION_NONE:
        return data
    raise ValueError(f"unsupported TIFF compression {comp}")


def parse_ome_xml(ome_xml: str) -> dict:
    """Extract the catalog-level facts from a minimal OME-XML document:
    image id/name, TCZYX sizes, pixel type, channel names, physical sizes.

    Attribute-regex based (the documents are machine-generated by
    build_ome_xml or equivalent writers); the full nested-struct OME model
    lives in queries/meta.py (D2)."""
    import re
    from xml.sax.saxutils import unescape

    def attr(name, src, cast=str):
        m = re.search(rf'{name}="([^"]*)"', src)
        if m is None:
            return None
        v = m.group(1)
        return cast(unescape(v, {"&quot;": '"'}) if cast is str else v)

    img = re.search(r"<Image\b[^>]*>", ome_xml)
    pix = re.search(r"<Pixels\b[^>]*>", ome_xml)
    if pix is None:
        raise ValueError("OME-XML lacks a Pixels element")
    pixs = pix.group(0)
    chan_elems = [m.group(0)
                  for m in re.finditer(r"<Channel\b[^>]*/>", ome_xml)]
    channels = [attr("Name", ce) for ce in chan_elems]
    # OME SizeC totals channel SAMPLES; the plane-channel count is
    # SizeC / SamplesPerPixel (size_s). Absent Channel elements -> s = 1.
    size_s = (attr("SamplesPerPixel", chan_elems[0], int) or 1
              if chan_elems else 1)
    size_c_attr = attr("SizeC", pixs, int)
    size_c = (size_c_attr // size_s
              if size_c_attr is not None and size_s > 1 else size_c_attr)
    return {
        "image_id": attr("ID", img.group(0)) if img else None,
        "image_name": attr("Name", img.group(0)) if img else None,
        "size_t": attr("SizeT", pixs, int),
        "size_c": size_c,
        "size_z": attr("SizeZ", pixs, int),
        "size_y": attr("SizeY", pixs, int),
        "size_x": attr("SizeX", pixs, int),
        "size_s": size_s,
        "pixel_type": attr("Type", pixs),
        "channel_names": channels or None,
        "pps_x": attr("PhysicalSizeX", pixs, float),
        "pps_y": attr("PhysicalSizeY", pixs, float),
        "pps_z": attr("PhysicalSizeZ", pixs, float),
    }


def decode_ome_tiff(data: bytes):
    """Decode an encode_ome_tiff() file -> (block, ome_xml); the block is
    5D TCZYX, or 6D TCZYXS when the pages carry interleaved samples.

    Page order is taken from the OME-XML TiffData map (falling back to
    XYZCT sequential order when absent)."""
    import re

    planes, ome_xml = decode_tiff(data)
    if ome_xml is None:
        raise ValueError("no OME-XML ImageDescription present")
    h = parse_ome_xml(ome_xml)
    if h["size_t"] is None or h["size_c"] is None or h["size_z"] is None:
        raise ValueError("OME-XML lacks Pixels Size attributes")
    t_n, c_n, z_n, y_n, x_n, s_n = (h["size_t"], h["size_c"], h["size_z"],
                                    h["size_y"], h["size_x"], h["size_s"])
    shape = ((t_n, c_n, z_n, y_n, x_n) if s_n == 1
             else (t_n, c_n, z_n, y_n, x_n, s_n))
    block = np.empty(shape, dtype=planes[0].dtype)
    placed = 0
    for td in re.finditer(
            r'<TiffData IFD="(\d+)" FirstT="(\d+)" FirstC="(\d+)" '
            r'FirstZ="(\d+)"', ome_xml):
        ifd, t, c, z = (int(g) for g in td.groups())
        block[t, c, z] = planes[ifd]
        placed += 1
    if placed != t_n * c_n * z_n:
        for i, p in enumerate(planes):  # XYZCT fallback: z fastest
            t, rem = divmod(i, c_n * z_n)
            c, z = divmod(rem, z_n)
            block[t, c, z] = p
    return block, ome_xml


def parse_imagej_description(desc: Optional[str]) -> Optional[dict]:
    """ImageJ hyperstack ImageDescription ("ImageJ=1.53t\\nimages=N\\n
    channels=C\\nslices=Z\\nframes=T\\nspacing=..\\nunit=..") -> dict, or
    None when the description is not ImageJ's. The page order is
    C-FASTEST (XYCZT): page i -> (t, z, c) = (i // (C*Z),
    (i // C) % Z, i % C) — the opposite nesting of OME page order."""
    if not desc or not desc.startswith("ImageJ="):
        return None
    out: dict = {}
    for line in desc.splitlines():
        if "=" not in line:
            continue
        k, v = line.split("=", 1)
        k, v = k.strip(), v.strip()
        try:
            out[k] = int(v)
        except ValueError:
            try:
                out[k] = float(v)
            except ValueError:
                out[k] = v
    out.setdefault("images", 1)
    out.setdefault("channels", 1)
    out.setdefault("slices", 1)
    out.setdefault("frames", 1)
    if out["channels"] * out["slices"] * out["frames"] != out["images"]:
        # ImageJ tolerates a bare "images=N" stack: map the extra to Z
        if out["channels"] == out["slices"] == out["frames"] == 1:
            out["slices"] = out["images"]
        else:
            raise ValueError(
                f"ImageJ description images={out['images']} != "
                f"channels*slices*frames "
                f"{out['channels']}*{out['slices']}*{out['frames']}")
    return out
