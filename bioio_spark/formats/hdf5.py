"""Minimal native HDF5 codec — no h5py/libhdf5. Implements the subset
of the public HDF5 File Format Specification (superblock v0, v1 object
headers, v1 group B-trees + local heaps + SNOD symbol tables) that
Imaris .ims files and h5py's default ("earliest"-compatible) layout
use:

- read: superblock -> group tree walk -> per-object attributes +
  dataset layout. Contiguous datasets resolve to ONE (offset, nbytes)
  extent; chunked datasets walk the v1 B-tree (node type 1) into a
  chunk table of (offset, nbytes, chunk coords) with optional gzip
  (deflate) filter — both are planning primitives for distributed
  reads (executors seek-read exactly their chunk/slab).
- write: fixture/export composer producing valid HDF5: groups with
  attributes, contiguous little-endian datasets (fixed-point and IEEE
  float), size-1 char-array attributes (the Imaris convention).

Everything here follows the published spec; no proprietary behavior.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional, Sequence

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
_SIG = b"\x89HDF\r\n\x1a\n"


# ==========================================================================
# WRITE
# ==========================================================================
def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _dt_message(dt: np.dtype) -> bytes:
    """Datatype message body for little-endian fixed-point / IEEE
    float / size-1 string (class 3, the Imaris attribute convention)."""
    dt = np.dtype(dt)
    if dt.kind == "S" and dt.itemsize == 1:
        # class 3 string: version 1, padding 0 (null-term), ASCII
        return struct.pack("<BBBBI", 0x13, 0x00, 0, 0, 1)
    if dt.kind in "ui":
        bits0 = 0x08 if dt.kind == "i" else 0x00   # signed flag
        body = struct.pack("<BBBBI", 0x10, bits0, 0, 0, dt.itemsize)
        body += struct.pack("<HH", 0, dt.itemsize * 8)
        return body
    if dt.kind == "f":
        if dt.itemsize == 4:
            # IEEE single LE: sign bit 31, exp loc 23 size 8,
            # mantissa loc 0 size 23, bias 127
            body = struct.pack("<BBBBI", 0x11, 0x20, 0x1F, 0, 4)
            body += struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
            return body
        if dt.itemsize == 8:
            body = struct.pack("<BBBBI", 0x11, 0x20, 0x3F, 0, 8)
            body += struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
            return body
    raise ValueError(f"hdf5 writer: unsupported dtype {dt}")


def _ds_message(shape: Sequence[int]) -> bytes:
    body = struct.pack("<BBB5x", 1, len(shape), 0)
    for s in shape:
        body += struct.pack("<Q", s)
    return body


def _attr_message(name: str, value) -> bytes:
    """Attribute message (version 1). Values: bytes -> char[len]
    (size-1 string elements, Imaris style); numpy scalar/array ->
    typed array."""
    if isinstance(value, str):
        value = value.encode("utf-8")
    if isinstance(value, bytes):
        arr = np.frombuffer(value, dtype="S1")
    else:
        arr = np.atleast_1d(np.asarray(value))
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("<"))
    nm = name.encode("utf-8") + b"\x00"
    dtm = _dt_message(arr.dtype)
    dsm = _ds_message(arr.shape)
    body = struct.pack("<BxHHH", 1, len(nm), len(dtm), len(dsm))
    body += _pad8(nm) + _pad8(dtm) + _pad8(dsm) + arr.tobytes()
    return body


class _Writer:
    def __init__(self):
        self.buf = bytearray(b"\x00" * 2048)   # placeholder, superblock
        # real data starts after superblock area (96 bytes is enough;
        # keep 2048 to leave room, spec allows any base)
        self.buf = bytearray()

    def tell(self) -> int:
        return len(self.buf)

    def write(self, b: bytes) -> int:
        off = len(self.buf)
        self.buf.extend(b)
        return off

    def align(self):
        self.buf.extend(b"\x00" * (-len(self.buf) % 8))


def _build_header(msg_list: list[tuple]) -> bytes:
    block = b""
    for typ, body in msg_list:
        body = _pad8(body)
        block += struct.pack("<HHB3x", typ, len(body), 0) + body
    return (struct.pack("<BxHII4x", 1, len(msg_list), 1, len(block))
            + block)


class H5Node:
    """Writer-side node: a group (children) or dataset (array)."""

    def __init__(self, array: Optional[np.ndarray] = None,
                 chunks: Optional[tuple] = None, gzip: bool = False):
        self.children: dict[str, "H5Node"] = {}
        self.attrs: dict[str, object] = {}
        self.array = array
        self.chunks = chunks
        self.gzip = gzip

    def group(self, name: str) -> "H5Node":
        node = self.children.get(name)
        if node is None:
            node = H5Node()
            self.children[name] = node
        return node

    def dataset(self, name: str, array: np.ndarray,
                chunks: Optional[tuple] = None,
                gzip: bool = False) -> "H5Node":
        """chunks=(...) writes the v1-B-tree chunked layout (what wild
        Imaris files use), optionally deflate-compressed; default is
        one contiguous extent."""
        if gzip and chunks is None:
            raise ValueError("gzip requires a chunked layout")
        node = H5Node(array=np.ascontiguousarray(array),
                      chunks=chunks, gzip=gzip)
        self.children[name] = node
        return node


def build_hdf5(root: H5Node) -> bytes:
    """Compose the file: superblock v0 + recursive group writing."""
    w = _Writer()
    w.write(b"\x00" * 96)                    # superblock placeholder

    def write_node(node: H5Node) -> int:
        msgs: list[tuple] = []
        for k, v in node.attrs.items():
            msgs.append((0x000C, _attr_message(k, v)))
        if node.array is not None:
            a = node.array
            dt = a.dtype
            if dt.byteorder == ">":
                a = a.astype(dt.newbyteorder("<"))
            msgs.insert(0, (0x0001, _ds_message(a.shape)))
            msgs.insert(1, (0x0003, _dt_message(a.dtype)))
            if node.chunks is None:
                w.align()
                data_off = w.write(a.tobytes())
                msgs.insert(2, (0x0008, struct.pack(
                    "<BBQQ", 3, 1, data_off, a.nbytes)))
            else:
                cs = tuple(int(v) for v in node.chunks)
                if len(cs) != a.ndim:
                    raise ValueError("chunk rank != dataset rank")
                rank1 = a.ndim + 1
                entries = []          # (key bytes, chunk addr)
                for coords in np.ndindex(*[-(-s // c) for s, c
                                           in zip(a.shape, cs)]):
                    origin = tuple(i * c for i, c in zip(coords, cs))
                    sel = tuple(slice(o, min(o + c, s)) for o, c, s
                                in zip(origin, cs, a.shape))
                    block = np.zeros(cs, a.dtype)
                    block[tuple(slice(0, sl.stop - sl.start)
                                for sl in sel)] = a[sel]
                    raw = block.tobytes()
                    if node.gzip:
                        raw = __import__("zlib").compress(raw)
                    w.align()
                    addr = w.write(raw)
                    key = struct.pack("<II", len(raw), 0)
                    key += struct.pack(f"<{rank1}Q", *origin, 0)
                    entries.append((key, addr))
                final_key = struct.pack("<II", 0, 0) + struct.pack(
                    f"<{rank1}Q", *a.shape, 0)
                body = b""
                for key, addr in entries:
                    body += key + struct.pack("<Q", addr)
                body += final_key
                w.align()
                bt_addr = w.write(
                    b"TREE" + struct.pack("<BBHQQ", 1, 0,
                                          len(entries), UNDEF, UNDEF)
                    + body)
                lay = struct.pack("<BBB", 3, 2, rank1)
                lay += struct.pack("<Q", bt_addr)
                lay += struct.pack(f"<{rank1}I", *cs, a.itemsize)
                msgs.insert(2, (0x0008, lay))
                if node.gzip:
                    # filter pipeline v1: deflate (id 1), no name
                    filt = struct.pack("<BB6x", 1, 1)
                    filt += struct.pack("<HHHH", 1, 0, 0, 1)
                    filt += struct.pack("<II", 6, 0)  # level + pad
                    msgs.insert(3, (0x000B, filt))
            w.align()
            return w.write(_build_header(msgs))

        # group: children first
        child_addrs = {name: write_node(ch)
                       for name, ch in node.children.items()}
        # local heap: names
        heap_data = bytearray(b"\x00" * 8)
        name_off = {}
        for name in sorted(child_addrs):
            name_off[name] = len(heap_data)
            raw = name.encode("utf-8") + b"\x00"
            heap_data.extend(raw)
            heap_data.extend(b"\x00" * (-len(raw) % 8))
        w.align()
        heap_seg = w.write(bytes(heap_data))
        w.align()
        heap_addr = w.write(b"HEAP" + struct.pack(
            "<B3xQQQ", 0, len(heap_data), len(heap_data), heap_seg))
        # SNOD with all entries (sorted by name)
        ents = b""
        for name in sorted(child_addrs):
            ents += struct.pack("<QQII16x", name_off[name],
                                child_addrs[name], 0, 0)
        w.align()
        snod_addr = w.write(b"SNOD" + struct.pack(
            "<BxH", 1, len(child_addrs)) + ents)
        # B-tree v1 node type 0, single leaf pointing at the SNOD
        names = sorted(child_addrs)
        k0 = 0
        k1 = name_off[names[-1]] if names else 0
        w.align()
        btree_addr = w.write(
            b"TREE" + struct.pack("<BBHQQ", 0, 0, 1 if names else 0,
                                  UNDEF, UNDEF)
            + struct.pack("<Q", k0) + struct.pack("<Q", snod_addr)
            + struct.pack("<Q", k1))
        msgs.insert(0, (0x0011, struct.pack("<QQ", btree_addr,
                                            heap_addr)))
        w.align()
        return w.write(_build_header(msgs))

    root_header = write_node(root)
    eof = w.tell()
    sb = bytearray(96)
    sb[0:8] = _SIG
    # versions: sb 0, freespace 0, root group 0, reserved, shared 0
    sb[8:13] = bytes([0, 0, 0, 0, 0])
    sb[13] = 8                                # size of offsets
    sb[14] = 8                                # size of lengths
    sb[15] = 0
    # leaf k sized so one SNOD legally holds 2k entries >= any group
    # fan-out we write (Imaris TimePoint lists can be long)
    struct.pack_into("<HH", sb, 16, 1024, 16)
    struct.pack_into("<I", sb, 20, 0)         # consistency flags
    struct.pack_into("<4Q", sb, 24, 0, UNDEF, eof, UNDEF)
    # root symbol table entry
    struct.pack_into("<QQII", sb, 56, 0, root_header, 0, 0)
    w.buf[0:96] = sb
    return bytes(w.buf)


# ==========================================================================
# READ
# ==========================================================================
class H5Reader:
    """Seek-based reader for the v0/v1 layout (+ gzip chunked
    datasets). Group paths use '/'-separated names."""

    def __init__(self, path: str):
        self.path = path
        self.f = open(path, "rb")
        head = self.f.read(96)
        if head[:8] != _SIG:
            self.f.close()
            raise ValueError(f"{path}: not an HDF5 file")
        if head[8] != 0:
            self.f.close()
            raise ValueError(
                f"{path}: superblock v{head[8]} not supported "
                f"(v0 subset)")
        self.offs_size = head[13]
        self.len_size = head[14]
        if (self.offs_size, self.len_size) != (8, 8):
            self.f.close()
            raise ValueError(f"{path}: only 8-byte offsets supported")
        (self.root_header,) = struct.unpack_from("<Q", head, 64)

    def close(self):
        self.f.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    # -- low level ---------------------------------------------------------
    def _messages(self, header_addr: int) -> list[tuple]:
        f = self.f
        f.seek(header_addr)
        pre = f.read(16)
        version, n_msgs, _refs, hdr_size = struct.unpack_from(
            "<BxHII", pre, 0)
        if version != 1:
            raise ValueError(f"{self.path}: object header v{version} "
                             f"not supported (v1 subset)")
        out = []
        blocks = [(header_addr + 16, hdr_size)]
        while blocks and len(out) < n_msgs:
            addr, size = blocks.pop(0)
            f.seek(addr)
            block = f.read(size)
            pos = 0
            while pos + 8 <= len(block) and len(out) < n_msgs:
                typ, msize, _flags = struct.unpack_from(
                    "<HHB", block, pos)
                body = block[pos + 8:pos + 8 + msize]
                if typ == 0x0010:              # continuation
                    cont_off, cont_len = struct.unpack_from(
                        "<QQ", body, 0)
                    blocks.append((cont_off, cont_len))
                else:
                    out.append((typ, body))
                pos += 8 + msize
        return out

    def _parse_dt(self, body: bytes):
        cls = body[0] & 0x0F
        bits0 = body[1]
        (size,) = struct.unpack_from("<I", body, 4)
        if cls == 0:                           # fixed-point
            signed = bool(bits0 & 0x08)
            kind = "i" if signed else "u"
            return np.dtype(f"<{kind}{size}")
        if cls == 1:                           # float
            return np.dtype(f"<f{size}")
        if cls == 3:                           # string
            return np.dtype(f"S{size}")
        raise ValueError(f"{self.path}: datatype class {cls} "
                         f"not supported")

    def _parse_ds(self, body: bytes):
        version = body[0]
        if version == 1:
            rank = body[1]
            off = 8
        elif version == 2:
            rank = body[1]
            off = 4
        else:
            raise ValueError(f"dataspace v{version}")
        return tuple(struct.unpack_from(f"<{rank}Q", body, off)) \
            if rank else ()

    def _node(self, header_addr: int) -> dict:
        info = {"attrs": {}, "btree": None, "heap": None,
                "shape": None, "dtype": None, "layout": None}
        for typ, body in self._messages(header_addr):
            if typ == 0x0011:
                info["btree"], info["heap"] = struct.unpack_from(
                    "<QQ", body, 0)
            elif typ == 0x0001:
                info["shape"] = self._parse_ds(body)
            elif typ == 0x0003:
                info["dtype"] = self._parse_dt(body)
            elif typ == 0x0008:
                version = body[0]
                if version != 3:
                    raise ValueError(f"layout v{version}")
                cls = body[1]
                if cls == 1:
                    addr, size = struct.unpack_from("<QQ", body, 2)
                    info["layout"] = ("contiguous", addr, size)
                elif cls == 2:
                    rank1 = body[2]
                    (bt,) = struct.unpack_from("<Q", body, 3)
                    dims = struct.unpack_from(f"<{rank1}I", body, 11)
                    info["layout"] = ("chunked", bt, dims)
                elif cls == 0:
                    (sz,) = struct.unpack_from("<H", body, 2)
                    info["layout"] = ("compact", body[4:4 + sz])
                else:
                    raise ValueError(f"layout class {cls}")
            elif typ == 0x000C:
                name, val = self._parse_attr(body)
                info["attrs"][name] = val
            elif typ == 0x000B:
                info["filters"] = self._parse_filters(body)
        return info

    def _parse_filters(self, body: bytes) -> list[int]:
        version = body[0]
        n = body[1]
        out = []
        pos = 8 if version == 1 else 2
        for _ in range(n):
            (fid,) = struct.unpack_from("<H", body, pos)
            if version == 1 or fid >= 256:
                name_len, _flags, nvals = struct.unpack_from(
                    "<HHH", body, pos + 2)
                pos += 8 + name_len + 4 * nvals
                if version == 1 and nvals % 2:
                    pos += 4
            else:
                _flags, nvals = struct.unpack_from("<HH", body, pos + 2)
                pos += 6 + 4 * nvals
            out.append(fid)
        return out

    def _parse_attr(self, body: bytes):
        version = body[0]
        if version != 1:
            raise ValueError(f"attribute v{version}")
        name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
        pos = 8
        name = body[pos:pos + name_sz].rstrip(b"\x00").decode()
        pos += name_sz + (-name_sz % 8)
        dt = self._parse_dt(body[pos:pos + dt_sz])
        pos += dt_sz + (-dt_sz % 8)
        shape = self._parse_ds(body[pos:pos + ds_sz])
        pos += ds_sz + (-ds_sz % 8)
        n = int(np.prod(shape)) if shape else 1
        raw = body[pos:pos + n * dt.itemsize]
        arr = np.frombuffer(raw, dtype=dt, count=n)
        if dt.kind == "S" and dt.itemsize == 1:
            return name, raw[:n].split(b"\x00")[0].decode(
                "utf-8", errors="replace")
        return name, (arr.reshape(shape) if shape else arr[0])

    def _children(self, info: dict) -> dict:
        """Group children: {name: header_addr} via B-tree + SNODs."""
        if info["btree"] is None:
            return {}
        heap_hdr_addr = info["heap"]
        f = self.f
        f.seek(heap_hdr_addr)
        hh = f.read(32)
        if hh[:4] != b"HEAP":
            raise ValueError(f"{self.path}: bad local heap")
        (seg_size,) = struct.unpack_from("<Q", hh, 8)
        (seg_addr,) = struct.unpack_from("<Q", hh, 24)
        f.seek(seg_addr)
        heap = f.read(seg_size)

        out = {}

        def walk_btree(addr):
            f.seek(addr)
            head = f.read(24)
            if head[:4] != b"TREE":
                raise ValueError(f"{self.path}: bad group B-tree")
            node_type, level, n_used = struct.unpack_from(
                "<BBH", head, 4)
            body = f.read((2 * n_used + 1) * 8)
            children = [struct.unpack_from("<Q", body, 8 + 16 * i)[0]
                        for i in range(n_used)]
            for ch in children:
                if level > 0:
                    walk_btree(ch)
                else:
                    f.seek(ch)
                    sh = f.read(8)
                    if sh[:4] != b"SNOD":
                        raise ValueError(f"{self.path}: bad SNOD")
                    (n_sym,) = struct.unpack_from("<H", sh, 6)
                    ents = f.read(40 * n_sym)
                    for i in range(n_sym):
                        no, oh = struct.unpack_from("<QQ", ents, 40 * i)
                        name = heap[no:heap.index(b"\x00", no)].decode()
                        out[name] = oh

        walk_btree(info["btree"])
        return out

    # -- public ------------------------------------------------------------
    def _resolve(self, path: str) -> dict:
        info = self._node(self.root_header)
        for part in [p for p in path.split("/") if p]:
            kids = self._children(info)
            if part not in kids:
                raise KeyError(f"{self.path}: no object {path!r} "
                               f"(missing {part!r})")
            info = self._node(kids[part])
        return info

    def list_children(self, path: str = "/") -> list[str]:
        return sorted(self._children(self._resolve(path)))

    def attrs(self, path: str = "/") -> dict:
        return self._resolve(path)["attrs"]

    def dataset_info(self, path: str) -> dict:
        """{shape, dtype, extents: [(offset, nbytes)]} for contiguous
        datasets, or {chunks: [{offset, nbytes, coords}], gzip} for
        chunked ones — the distributed-read plan."""
        info = self._resolve(path)
        if info["layout"] is None:
            raise ValueError(f"{self.path}: {path} is not a dataset")
        kind = info["layout"][0]
        out = {"shape": info["shape"], "dtype": info["dtype"],
               "kind": kind}
        if kind == "contiguous":
            _k, addr, size = info["layout"]
            out["extents"] = [(addr, size)] if size else []
        elif kind == "compact":
            out["data"] = info["layout"][1]
        else:
            _k, bt_addr, dims = info["layout"]
            rank1 = len(dims)
            chunks = []

            def walk(addr):
                self.f.seek(addr)
                head = self.f.read(24)
                if head[:4] != b"TREE":
                    raise ValueError(f"{self.path}: bad chunk B-tree")
                _nt, level, n_used = struct.unpack_from("<BBH", head, 4)
                key_sz = 8 + 8 * rank1
                body = self.f.read((n_used + 1) * key_sz + n_used * 8)
                pos = 0
                for _ in range(n_used):
                    nbytes, _mask = struct.unpack_from("<II", body, pos)
                    coords = struct.unpack_from(f"<{rank1}Q", body,
                                                pos + 8)
                    (child,) = struct.unpack_from("<Q", body,
                                                  pos + key_sz)
                    if level > 0:
                        walk(child)
                    else:
                        chunks.append({"offset": child,
                                       "nbytes": nbytes,
                                       "coords": coords[:-1]})
                    pos += key_sz + 8

            walk(bt_addr)
            out["chunks"] = chunks
            out["chunk_shape"] = dims[:-1]
            out["gzip"] = 1 in info.get("filters", [])
        return out

    def read_dataset(self, path: str) -> np.ndarray:
        di = self.dataset_info(path)
        shape, dt = di["shape"], di["dtype"]
        if di["kind"] == "contiguous":
            buf = b""
            for off, n in di["extents"]:
                self.f.seek(off)
                buf += self.f.read(n)
            return np.frombuffer(
                buf, dtype=dt,
                count=int(np.prod(shape))).reshape(shape)
        if di["kind"] == "compact":
            return np.frombuffer(
                di["data"], dtype=dt,
                count=int(np.prod(shape))).reshape(shape)
        out = np.zeros(shape, dt)
        cs = di["chunk_shape"]
        for ch in di["chunks"]:
            self.f.seek(ch["offset"])
            raw = self.f.read(ch["nbytes"])
            if di["gzip"]:
                raw = zlib.decompress(raw)
            block = np.frombuffer(raw, dtype=dt).reshape(cs)
            sel = tuple(slice(c, min(c + s, e))
                        for c, s, e in zip(ch["coords"], cs, shape))
            block_sel = tuple(slice(0, sl.stop - sl.start)
                              for sl in sel)
            out[sel] = block[block_sel]
        return out
