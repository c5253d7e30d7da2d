"""Leica LOF (.lof) codec — the single-object sibling of LIF that the
reference routes to bioio-bioformats (the `.lof` row of the Bio-Formats
long tail; ref README.md:74). LAS X exports one image per .lof; the
container reuses LIF's public block framing (``int32 0x70 | uint32
size | 0x2A test byte`` blocks; Leica "LAS X file formats" notes,
mirrored by Bio-Formats' LOFReader):

- a small HEADER block whose UTF-16 payload is the marker string
  ``LMS_Object_File`` plus version words and the memory size
- the raw pixel memory follows immediately
- a trailing XML block closes the file, carrying the same
  ``<Element>/<ImageDescription>`` vocabulary as LIF (dimensions with
  BytesInc strides, channel descriptions, physical lengths) — so the
  scene parser is shared with the LIF codec
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = 0x70
_TEST = 0x2A
_MARKER = "LMS_Object_File"


def _u16(s: str) -> bytes:
    return s.encode("utf-16-le")


def _block(payload: bytes) -> bytes:
    return struct.pack("<iI", _MAGIC, len(payload)) + payload


def _element_xml(name: str, shape: tuple, itemsize: int,
                 block_id: str, nbytes: int) -> str:
    """One <Element> in the LIF vocabulary: channels OUTERMOST
    (BytesInc = whole-channel stride), then T/Z/Y/X — mirroring
    encode_lif's layout so the shared plane readers apply."""
    t_n, c_n, z_n, y_n, x_n = shape
    res = 8 * itemsize
    bx = itemsize
    by = bx * x_n
    bz = by * y_n
    bt = bz * z_n
    bc = bt * t_n
    chans = "".join(
        f'<ChannelDescription DataType="0" ChannelTag="0" '
        f'Resolution="{res}" NameOfMeasuredQuantity="" Min="0" '
        f'Max="{(1 << res) - 1}" Unit="" LUTName="Gray" '
        f'IsLUTInverted="0" BytesInc="{ci * bc}" BitInc="0"/>'
        for ci in range(c_n))
    dims = ""
    dim_ids = {"X": 1, "Y": 2, "Z": 3, "T": 4}
    for dname, n, inc in (("X", x_n, bx), ("Y", y_n, by),
                          ("Z", z_n, bz), ("T", t_n, bt)):
        if dname in ("Z", "T") and n == 1:
            continue
        dims += (f'<DimensionDescription DimID="{dim_ids[dname]}" '
                 f'NumberOfElements="{n}" Origin="0" Length="0.0" '
                 f'Unit="m" BytesInc="{inc}" BitInc="0"/>')
    return (f'<Element Name="{name}" Visibility="1" CopyOption="1" '
            f'UniqueID="0">'
            f'<Data><Image TextDescription="">'
            f'<ImageDescription><Channels>{chans}</Channels>'
            f'<Dimensions>{dims}</Dimensions></ImageDescription>'
            f'</Image></Data>'
            f'<Memory Size="{nbytes}" MemoryBlockID="{block_id}"/>'
            f'</Element>')


def encode_lof(scene: dict) -> bytes:
    """{name, data (TCZYX ndarray uint8/uint16)} -> .lof bytes.
    Layout: header block (marker + version + memory size), raw pixel
    memory in the LIF stride order (channels outermost), trailing XML
    block."""
    data = np.ascontiguousarray(scene["data"])
    if data.ndim != 5:
        raise ValueError("encode_lof takes a TCZYX block")
    if data.dtype not in (np.uint8, np.uint16):
        raise ValueError("LOF encodes uint8/uint16")
    le = data.dtype.newbyteorder("<")
    # channels outermost (c, t, z, y, x), matching the XML strides
    raw = data.astype(le, copy=False).transpose(
        1, 0, 2, 3, 4).tobytes()

    head_payload = bytearray()
    head_payload.append(_TEST)
    head_payload += struct.pack("<I", len(_MARKER))
    head_payload += _u16(_MARKER)
    head_payload += struct.pack("<ii", 2, 0)          # major, minor
    head_payload += struct.pack("<Q", len(raw))       # memory size

    xml = ('<LMSDataContainerHeader Version="2">'
           + _element_xml(scene.get("name", "Image"), data.shape,
                          data.dtype.itemsize, "MemBlock_0", len(raw))
           + "</LMSDataContainerHeader>")
    xml_payload = bytearray()
    xml_payload.append(_TEST)
    xml_payload += struct.pack("<I", len(xml))
    xml_payload += _u16(xml)

    return (_block(bytes(head_payload)) + raw
            + _block(bytes(xml_payload)))


def parse_lof_header(path: str) -> dict:
    """Driver-side plan: marker + memory extent + trailing XML —
    header/tail reads only, no pixel IO. Returns the parse_lif_header
    dict shape ({xml, blocks, scenes}) so the LIF plane readers work
    unchanged."""
    from bioio_spark.formats.lif import scenes_from_lif_xml

    size = None
    with open(path, "rb") as f:
        head = f.read(8)
        if len(head) < 8:
            raise ValueError(f"{path}: truncated LOF")
        magic, bsize = struct.unpack("<iI", head)
        if magic != _MAGIC:
            raise ValueError(f"{path}: not a LOF file (bad magic)")
        payload = f.read(bsize)
        if not payload or payload[0] != _TEST:
            raise ValueError(f"{path}: bad LOF test byte")
        (nc,) = struct.unpack_from("<I", payload, 1)
        marker = payload[5:5 + 2 * nc].decode("utf-16-le")
        if marker != _MARKER:
            raise ValueError(f"{path}: marker {marker!r} != "
                             f"{_MARKER!r} — not a LOF")
        (mem_size,) = struct.unpack_from("<Q", payload, 5 + 2 * nc + 8)
        data_off = 8 + bsize
        f.seek(data_off + mem_size)
        tail_head = f.read(8)
        if len(tail_head) < 8:
            raise ValueError(f"{path}: missing trailing XML block")
        magic, xsize = struct.unpack("<iI", tail_head)
        if magic != _MAGIC:
            raise ValueError(f"{path}: bad XML block magic")
        xpayload = f.read(xsize)
        if xpayload[0] != _TEST:
            raise ValueError(f"{path}: bad XML block test byte")
        (xn,) = struct.unpack_from("<I", xpayload, 1)
        xml = xpayload[5:5 + 2 * xn].decode("utf-16-le")

    scenes = scenes_from_lif_xml(xml)
    if len(scenes) != 1:
        raise ValueError(f"{path}: LOF files carry one image, "
                         f"XML lists {len(scenes)}")
    blocks = {scenes[0]["block_id"]: {"offset": data_off,
                                      "size": mem_size}}
    return {"xml": xml, "blocks": blocks, "scenes": scenes}
