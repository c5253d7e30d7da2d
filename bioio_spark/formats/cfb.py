"""Minimal Compound File Binary (OLE2 / MS-CFB) codec — the container
of Olympus OIB files (and other legacy vendor formats). The format is
publicly specified (Microsoft MS-CFB: header, FAT sector chains,
64-byte mini sectors for streams under 4096 bytes, 128-byte directory
entries with UTF-16 names).

This implements the subset OIB needs:
- read: header -> FAT (with DIFAT) -> directory tree -> per-stream
  SECTOR EXTENTS, so a stream's bytes resolve to (offset, length)
  runs in the file — the planning primitive for distributed reads
  (executors seek-read their stream's extents; no driver pixel IO)
- write: fixture/export composer producing a valid single-FAT-level
  document (v3, 512-byte sectors; mini stream for small payloads)
"""

from __future__ import annotations

import struct
from typing import Sequence

MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
SECT = 512
MINI_SECT = 64
MINI_CUTOFF = 4096
FREESECT = 0xFFFFFFFF
ENDOFCHAIN = 0xFFFFFFFE
FATSECT = 0xFFFFFFFD
DIFSECT = 0xFFFFFFFC


# -- write -----------------------------------------------------------------
def _pad(b: bytes, size: int, fill: bytes = b"\x00") -> bytes:
    return b + fill * (size - len(b))


def _dir_entry(name: str, obj_type: int, start: int, size: int,
               left: int = FREESECT, right: int = FREESECT,
               child: int = FREESECT) -> bytes:
    raw = name.encode("utf-16-le") + b"\x00\x00"
    if len(raw) > 64:
        raise ValueError(f"CFB name too long: {name!r}")
    ent = bytearray(128)
    ent[0:len(raw)] = raw
    struct.pack_into("<H", ent, 64, len(raw))
    ent[66] = obj_type                  # 1 storage, 2 stream, 5 root
    ent[67] = 1                         # black
    struct.pack_into("<3I", ent, 68, left, right, child)
    struct.pack_into("<I", ent, 116, start)
    struct.pack_into("<Q", ent, 120, size)
    return bytes(ent)


def build_cfb(streams: Sequence[tuple]) -> bytes:
    """streams: [(name, bytes)] -> a CFB document. ``name`` may contain
    ``/`` separators: intermediate components become STORAGE entries
    (type 1), the layout of hierarchical vendor containers (Zeiss ZVI's
    ``Image/Item(N)/Contents``). Sibling sets are left-spine chains —
    valid per MS-CFB, readers walk all reachable entries."""
    big_payloads: list[tuple] = []      # (idx, data)
    mini_payloads: list[tuple] = []
    for i, (_name, data) in enumerate(streams):
        (mini_payloads if len(data) < MINI_CUTOFF
         else big_payloads).append((i, data))

    # mini stream: concatenation of 64-byte-sector-padded small streams
    mini_stream = bytearray()
    mini_fat: list[int] = []
    mini_start: dict[int, int] = {}
    for i, data in mini_payloads:
        n = max(1, -(-len(data) // MINI_SECT))
        first = len(mini_fat)
        mini_start[i] = first
        for k in range(n):
            mini_fat.append(first + k + 1 if k < n - 1 else ENDOFCHAIN)
        mini_stream += _pad(data, n * MINI_SECT)

    sectors: list[bytes] = []
    fat: list[int] = []

    def add_chain(data: bytes) -> int:
        if not data:
            return ENDOFCHAIN
        n = -(-len(data) // SECT)
        first = len(sectors)
        for k in range(n):
            sectors.append(_pad(data[k * SECT:(k + 1) * SECT], SECT))
            fat.append(first + k + 1 if k < n - 1 else ENDOFCHAIN)
        return first

    big_start = {i: add_chain(data) for i, data in big_payloads}
    mini_stream_start = add_chain(bytes(mini_stream))
    minifat_data = b"".join(struct.pack("<I", v) for v in mini_fat)
    minifat_start = add_chain(minifat_data)
    n_minifat = -(-len(minifat_data) // SECT) if mini_fat else 0

    # directory: root + a tree of storage/stream entries; each sibling
    # set is a left-spine chain, storages point at their first child
    sizes = {i: len(d) for i, (_n, d) in enumerate(streams)}
    starts = {}
    for i in range(len(streams)):
        starts[i] = (mini_start[i] if i in mini_start
                     else big_start.get(i, ENDOFCHAIN))

    tree: dict = {}
    for i, (name, _d) in enumerate(streams):
        parts = name.split("/")
        node = tree
        for p in parts[:-1]:
            nxt = node.setdefault(p, {})
            if not isinstance(nxt, dict):
                raise ValueError(f"CFB path collision at {p!r} in "
                                 f"{name!r}")
            node = nxt
        if parts[-1] in node:
            raise ValueError(f"duplicate CFB entry {name!r}")
        node[parts[-1]] = i

    entries: list = [None]              # sid 0 = root, filled last

    def emit(node: dict) -> int:
        sids = []
        for nm, val in node.items():
            sids.append((len(entries), nm, val))
            entries.append(None)
        for k, (sid, nm, val) in enumerate(sids):
            left = sids[k + 1][0] if k + 1 < len(sids) else FREESECT
            if isinstance(val, dict):
                entries[sid] = _dir_entry(nm, 1, 0, 0, left=left,
                                          child=emit(val))
            else:
                entries[sid] = _dir_entry(nm, 2, starts[val],
                                          sizes[val], left=left)
        return sids[0][0] if sids else FREESECT

    first_child = emit(tree)
    entries[0] = _dir_entry("Root Entry", 5, mini_stream_start,
                            len(mini_stream), child=first_child)
    dir_data = b"".join(entries)
    dir_start = add_chain(dir_data)

    # FAT itself occupies sectors; account iteratively (one round is
    # enough at fixture scale, assert otherwise)
    n_fat = max(1, -(-len(fat) // (SECT // 4)))
    for _ in range(4):
        total = len(sectors) + n_fat
        need = max(1, -(-total // (SECT // 4)))
        if need == n_fat:
            break
        n_fat = need
    if n_fat > 109:
        raise ValueError("build_cfb supports header-DIFAT documents "
                         "(<= 109 FAT sectors)")
    fat_first = len(sectors)
    full_fat = fat + [FATSECT] * n_fat
    fat_bytes = b"".join(struct.pack("<I", v) for v in full_fat)
    fat_bytes = _pad(fat_bytes, n_fat * SECT, b"\xff")
    for k in range(n_fat):
        sectors.append(fat_bytes[k * SECT:(k + 1) * SECT])

    header = bytearray(SECT)
    header[0:8] = MAGIC
    struct.pack_into("<H", header, 24, 0x003E)      # minor
    struct.pack_into("<H", header, 26, 0x0003)      # major (v3)
    struct.pack_into("<H", header, 28, 0xFFFE)      # little-endian
    struct.pack_into("<H", header, 30, 9)           # sector shift
    struct.pack_into("<H", header, 32, 6)           # mini shift
    struct.pack_into("<I", header, 44, n_fat)
    struct.pack_into("<I", header, 48, dir_start)
    struct.pack_into("<I", header, 56, MINI_CUTOFF)
    struct.pack_into("<I", header, 60,
                     minifat_start if mini_fat else ENDOFCHAIN)
    struct.pack_into("<I", header, 64, n_minifat)
    struct.pack_into("<I", header, 68, ENDOFCHAIN)  # DIFAT start
    struct.pack_into("<I", header, 72, 0)           # DIFAT count
    difat = [fat_first + k for k in range(n_fat)]
    difat += [FREESECT] * (109 - len(difat))
    struct.pack_into("<109I", header, 76, *difat)
    return bytes(header) + b"".join(sectors)


# -- read ------------------------------------------------------------------
class CfbFile:
    """Parsed CFB document: stream names -> bytes / sector extents."""

    def __init__(self, path: str):
        self.path = path
        with open(path, "rb") as f:
            head = f.read(SECT)
            if head[:8] != MAGIC:
                raise ValueError(f"{path}: not a compound file")
            (self.sector_shift,) = struct.unpack_from("<H", head, 30)
            (self.mini_shift,) = struct.unpack_from("<H", head, 32)
            self.sect = 1 << self.sector_shift
            (n_fat,) = struct.unpack_from("<I", head, 44)
            (dir_start,) = struct.unpack_from("<I", head, 48)
            (self.mini_cutoff,) = struct.unpack_from("<I", head, 56)
            (minifat_start,) = struct.unpack_from("<I", head, 60)
            (difat_start,) = struct.unpack_from("<I", head, 68)
            (n_difat,) = struct.unpack_from("<I", head, 72)
            difat = list(struct.unpack_from("<109I", head, 76))
            # DIFAT continuation sectors (wild >6.8 MB FAT documents)
            pos = difat_start
            per = self.sect // 4 - 1
            for _ in range(n_difat):
                f.seek(SECT + pos * self.sect)
                vals = struct.unpack(f"<{per + 1}I", f.read(self.sect))
                difat += list(vals[:per])
                pos = vals[per]
            fat: list[int] = []
            for s in (v for v in difat if v != FREESECT):
                f.seek(SECT + s * self.sect)
                fat += list(struct.unpack(
                    f"<{self.sect // 4}I", f.read(self.sect)))
            self.fat = fat
            dir_data = self._read_chain_fh(f, dir_start)
            raw: list = []              # sid-positional directory slots
            for off in range(0, len(dir_data), 128):
                ent = dir_data[off:off + 128]
                if len(ent) < 128:
                    break
                (nlen,) = struct.unpack_from("<H", ent, 64)
                if nlen < 2:
                    raw.append(None)
                    continue
                name = ent[:nlen - 2].decode("utf-16-le")
                left, right, child = struct.unpack_from("<3I", ent, 68)
                (start,) = struct.unpack_from("<I", ent, 116)
                (size,) = struct.unpack_from("<Q", ent, 120)
                raw.append({
                    "name": name, "type": ent[66],
                    "start": start, "size": size,
                    "left": left, "right": right, "child": child,
                })
            # path-qualify by walking the sibling (left/right) / child
            # tree from the root: streams inside storages get
            # "Storage/.../Name" names (Zeiss ZVI's Image/Item(N) tree);
            # flat documents keep their bare names
            root = next(e for e in raw if e and e["type"] == 5)
            self.entries = []
            seen: set = set()

            def _walk(sid: int, prefix: str) -> None:
                stack = [(sid, prefix)]
                while stack:
                    s, pre = stack.pop()
                    if s in (FREESECT, ENDOFCHAIN) or s >= len(raw) \
                            or s in seen or raw[s] is None:
                        continue
                    seen.add(s)
                    e = raw[s]
                    stack.append((e["left"], pre))
                    stack.append((e["right"], pre))
                    path = pre + e["name"]
                    if e["type"] == 1:
                        stack.append((e["child"], path + "/"))
                        self.entries.append({**e, "name": path})
                    elif e["type"] == 2:
                        self.entries.append({**e, "name": path})

            _walk(root["child"], "")
            self.entries.append(dict(root))
            self.mini_stream = (
                self._read_chain_fh(f, root["start"])[:root["size"]]
                if root["size"] else b"")
            if minifat_start != ENDOFCHAIN and root["size"]:
                mf = self._read_chain_fh(f, minifat_start)
                self.mini_fat = list(struct.unpack(
                    f"<{len(mf) // 4}I", mf))
            else:
                self.mini_fat = []

    def _chain(self, start: int) -> list[int]:
        out, s, seen = [], start, set()
        while s not in (ENDOFCHAIN, FREESECT):
            if s in seen or s >= len(self.fat):
                raise ValueError(f"{self.path}: corrupt FAT chain")
            seen.add(s)
            out.append(s)
            s = self.fat[s]
        return out

    def _read_chain_fh(self, f, start: int) -> bytes:
        out = b""
        for s in self._chain(start):
            f.seek(SECT + s * self.sect)
            out += f.read(self.sect)
        return out

    def stream_names(self) -> list[str]:
        return [e["name"] for e in self.entries if e["type"] == 2]

    def stream_extents(self, name: str) -> list[tuple]:
        """(offset, nbytes) runs of the stream's bytes in the FILE —
        the distributed-read plan unit. Adjacent sectors coalesce, so
        a contiguously-written stream is one ranged GET. Mini-stream
        payloads resolve through the root chain to file offsets too."""
        e = next((x for x in self.entries
                  if x["type"] == 2 and x["name"] == name), None)
        if e is None:
            raise KeyError(f"{self.path}: no stream {name!r}")
        size = e["size"]
        if size >= self.mini_cutoff:
            runs = []
            for s in self._chain(e["start"]):
                off = SECT + s * self.sect
                if runs and runs[-1][0] + runs[-1][1] == off:
                    runs[-1] = (runs[-1][0], runs[-1][1] + self.sect)
                else:
                    runs.append((off, self.sect))
        else:
            # mini sectors live inside the root mini stream; map each
            # 64-byte sector through the big chain of the mini stream
            root = next(x for x in self.entries if x["type"] == 5)
            big = self._chain(root["start"])
            runs = []
            s, seen = e["start"], set()
            while s not in (ENDOFCHAIN, FREESECT):
                # cycle/range guard, mirroring _chain: a corrupt or
                # crafted mini-FAT must fail the catalog, not hang it
                if s in seen or s >= len(self.mini_fat):
                    raise ValueError(
                        f"{self.path}: corrupt mini-FAT chain")
                seen.add(s)
                byte0 = s * MINI_SECT
                big_idx, within = divmod(byte0, self.sect)
                off = SECT + big[big_idx] * self.sect + within
                if runs and runs[-1][0] + runs[-1][1] == off:
                    runs[-1] = (runs[-1][0], runs[-1][1] + MINI_SECT)
                else:
                    runs.append((off, MINI_SECT))
                s = self.mini_fat[s]
        # trim the tail run to the declared size
        total = 0
        trimmed = []
        for off, n in runs:
            take = min(n, size - total)
            if take <= 0:
                break
            trimmed.append((off, take))
            total += take
        if total != size:
            raise ValueError(f"{self.path}: stream {name!r} chain "
                             f"covers {total} of {size} bytes")
        return trimmed

    def read_stream(self, name: str) -> bytes:
        out = b""
        with open(self.path, "rb") as f:
            for off, n in self.stream_extents(name):
                f.seek(off)
                out += f.read(n)
        return out
