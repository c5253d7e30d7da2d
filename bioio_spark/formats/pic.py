"""Bio-Rad PIC (.pic) codec — the laser-scanning confocal format the
reference routes to bioio-bioformats (the `.pic` row of the
Bio-Formats long tail; ref README.md:74). Layout per the public
Bio-Rad confocal file-format documentation (as consumed by
Bio-Formats' BioRadReader and ImageJ's Bio-Rad reader):

- 76-byte header: nx/ny/npic (u16 at 0/2/4), ramp1 min/max (i16 at
  6/8), notes flag (i32 at 10), byte_format (u16 at 14: 1 = 8-bit,
  0 = 16-bit LE), image_number (u16 at 16), name (char[32] at 18),
  merged (u16 at 50), color1 (u16 at 52), **file_id magic 12345
  (u16 at 54)**, ramp2 min/max (i16 at 56/58), color2 (u16 at 60),
  edited (u16 at 62), lens (i16 at 64), mag_factor (f32 at 66),
  6 reserved bytes
- npic contiguous ny*nx planes follow — each a planned byte range
- then 96-byte NOTE records: level i16, next i32, num i16, status
  i16, type i16, x i16, y i16, text char[80]; the AXIS_2 / AXIS_3 /
  AXIS_4 variable notes carry ``<axis> <code> <origin> <step>
  <units>`` — AXIS_4's units decide whether planes map to Z
  (Microns) or T (Seconds)
"""

from __future__ import annotations

import struct

import numpy as np

HEADER_SIZE = 76
NOTE_SIZE = 96
MAGIC = 12345


def encode_pic(stack: np.ndarray, axis4: str = "z",
               step_um: float = 1.0, z_step: float = 1.0,
               name: str = "bioio-spark") -> bytes:
    """(npic, Y, X) stack -> .pic bytes. ``axis4`` selects whether the
    plane axis is 'z' (Microns) or 't' (Seconds); ``z_step`` is the
    AXIS_4 increment in those units."""
    a = np.ascontiguousarray(stack)
    if a.ndim == 2:
        a = a[None]
    if a.ndim != 3:
        raise ValueError("encode_pic takes a YX or NYX stack")
    if a.dtype == np.uint8:
        byte_format = 1
    elif a.dtype == np.uint16:
        byte_format = 0
    else:
        raise ValueError(f"PIC stores uint8/uint16, got {a.dtype}")
    npic, ny, nx = a.shape
    if max(nx, ny, npic) > 0xFFFF:
        raise ValueError("PIC dimensions are 16-bit")
    head = bytearray(HEADER_SIZE)
    struct.pack_into("<3H", head, 0, nx, ny, npic)
    struct.pack_into("<2h", head, 6, 0, 255)             # ramp1
    struct.pack_into("<i", head, 10, 1)                  # has notes
    struct.pack_into("<H", head, 14, byte_format)
    raw_name = name.encode("ascii", errors="replace")[:31]
    head[18:18 + len(raw_name)] = raw_name
    struct.pack_into("<H", head, 54, MAGIC)
    struct.pack_into("<2h", head, 56, 0, 255)            # ramp2
    struct.pack_into("<f", head, 66, 1.0)                # mag_factor
    body = a.astype(a.dtype.newbyteorder("<"), copy=False).tobytes()
    unit4 = "Seconds" if axis4.lower() == "t" else "Microns"
    notes = [
        f"AXIS_2 001 0.000000e+00 {step_um:.6e} Microns",
        f"AXIS_3 001 0.000000e+00 {step_um:.6e} Microns",
        f"AXIS_4 001 0.000000e+00 {z_step:.6e} {unit4}",
    ]
    out = bytearray()
    for i, text in enumerate(notes):
        rec = bytearray(NOTE_SIZE)
        struct.pack_into("<h", rec, 0, 1)                # level
        struct.pack_into("<i", rec, 2,
                         1 if i < len(notes) - 1 else 0)  # next
        struct.pack_into("<h", rec, 6, 1)                # num
        struct.pack_into("<h", rec, 10, 20)              # type VARIABLE
        raw = text.encode("ascii")[:79]
        rec[16:16 + len(raw)] = raw
        out += rec
    return bytes(head) + body + bytes(out)


def parse_pic_header(head: bytes) -> dict:
    if len(head) < HEADER_SIZE:
        raise ValueError("truncated PIC file: header under 76 bytes")
    (magic,) = struct.unpack_from("<H", head, 54)
    if magic != MAGIC:
        raise ValueError("not a Bio-Rad PIC file (file_id != 12345)")
    nx, ny, npic = struct.unpack_from("<3H", head, 0)
    (notes_flag,) = struct.unpack_from("<i", head, 10)
    (byte_format,) = struct.unpack_from("<H", head, 14)
    name = head[18:50].split(b"\x00", 1)[0].decode(
        "ascii", errors="replace")
    (mag,) = struct.unpack_from("<f", head, 66)
    dt = np.dtype("u1" if byte_format == 1 else "<u2")
    return {"nx": nx, "ny": ny, "npic": npic, "dtype": dt,
            "has_notes": bool(notes_flag), "name": name,
            "mag_factor": mag,
            "section_bytes": ny * nx * dt.itemsize}


def _parse_notes(buf: bytes) -> list:
    notes = []
    for off in range(0, len(buf) - NOTE_SIZE + 1, NOTE_SIZE):
        rec = buf[off:off + NOTE_SIZE]
        (nxt,) = struct.unpack_from("<i", rec, 2)
        (ntype,) = struct.unpack_from("<h", rec, 10)
        text = rec[16:].split(b"\x00", 1)[0].decode(
            "ascii", errors="replace").strip()
        notes.append({"type": ntype, "text": text})
        if nxt == 0:
            break
    return notes


def read_pic_catalog(path: str) -> dict:
    """Header + axis notes -> dims, dtype, physical steps, and the
    T-vs-Z mapping of the plane axis (AXIS_4 units). One header read
    plus a bounded tail read — no pixel IO (D8 contract)."""
    import os

    with open(path, "rb") as f:
        h = parse_pic_header(f.read(HEADER_SIZE))
        axis = {"step_um": None, "axis4": "z", "axis4_step": None}
        if h["has_notes"]:
            data_end = HEADER_SIZE + h["npic"] * h["section_bytes"]
            size = os.fstat(f.fileno()).st_size
            if size > data_end:
                f.seek(data_end)
                for note in _parse_notes(f.read(size - data_end)):
                    parts = note["text"].split()
                    if len(parts) >= 5 and parts[0].startswith(
                            "AXIS_"):
                        try:
                            step = float(parts[3])
                        except ValueError:
                            continue
                        unit = parts[4]
                        if parts[0] == "AXIS_2":
                            axis["step_um"] = step
                        elif parts[0] == "AXIS_4":
                            axis["axis4_step"] = step
                            axis["axis4"] = (
                                "t" if unit.lower().startswith("sec")
                                else "z")
    t_n, z_n = ((h["npic"], 1) if axis["axis4"] == "t"
                else (1, h["npic"]))
    return {**h, "size_t": t_n, "size_z": z_n,
            "size_y": h["ny"], "size_x": h["nx"],
            "um_per_px": axis["step_um"],
            "z_step_um": (axis["axis4_step"]
                          if axis["axis4"] == "z" else None),
            "time_interval": (axis["axis4_step"]
                              if axis["axis4"] == "t" else None)}


def decode_pic(path_or_bytes) -> np.ndarray:
    """Whole-file eager decode -> (npic, Y, X) ndarray (test path)."""
    if isinstance(path_or_bytes, (bytes, bytearray)):
        buf = bytes(path_or_bytes)
    else:
        with open(path_or_bytes, "rb") as f:
            buf = f.read()
    h = parse_pic_header(buf[:HEADER_SIZE])
    n = h["npic"] * h["ny"] * h["nx"]
    return np.frombuffer(
        buf, dtype=h["dtype"], count=n,
        offset=HEADER_SIZE).reshape(h["npic"], h["ny"], h["nx"])
