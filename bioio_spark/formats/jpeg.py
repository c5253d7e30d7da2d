"""Pure-Python baseline JPEG codec (ITU-T T.81 / JFIF, numpy + stdlib).

Third real image format (the reference delegates JPEG to bioio-imageio,
ref README.md:54-80). Scope:

- **Encode**: baseline sequential SOF0, 8-bit, grayscale or RGB (JFIF
  YCbCr, 4:4:4 — no subsampling), standard Annex K quantization (scaled
  by a quality factor) and Huffman tables, byte stuffing, no restarts.
- **Decode**: baseline SOF0 with ANY sampling factors (4:4:4, 4:2:0,
  4:2:2 — MCU-generic, nearest-neighbor upsampling), multiple DQT/DHT
  segments, DRI/RSTn restart intervals, byte unstuffing. Progressive
  (SOF2) and arithmetic coding raise a clear error.

The DCT pair is the exact orthonormal matrix form (D @ block @ D.T), so
encode->decode error comes only from quantization — roundtrip tests bound
it by PSNR.
"""

from __future__ import annotations

import struct

import numpy as np

# -- Annex K tables --------------------------------------------------------

STD_LUM_QT = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

STD_CHR_QT = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# (bits-per-length counts, symbol values) — T.81 Annex K.3
DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
          list(range(12)))
DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
          list(range(12)))
AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int32)

_D = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _D[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5)


def _dct2(blocks: np.ndarray) -> np.ndarray:
    """(N, 8, 8) orthonormal 2D DCT-II."""
    return np.einsum("ij,njk,lk->nil", _D, blocks, _D)


def _idct2(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ji,njk,kl->nil", _D, blocks, _D)


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """IJG quality scaling of a base table."""
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    t = (base * scale + 50) // 100
    return np.clip(t, 1, 255).astype(np.int32)


# -- Huffman ---------------------------------------------------------------

def _build_codes(counts, symbols):
    """symbol -> (code, length), canonical per T.81 Annex C."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[symbols[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(counts, symbols):
    """(code, length) -> symbol for the bit-at-a-time decoder."""
    return {v: s for s, v in _build_codes(counts, symbols).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)       # byte stuffing
        self.acc &= (1 << self.nbits) - 1   # keep the int bounded

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill padding
        return bytes(self.out)


def _magnitude(v: int) -> tuple[int, int]:
    """(category, mantissa bits) per T.81 F.1.2.1."""
    if v == 0:
        return 0, 0
    a = abs(v)
    cat = a.bit_length()
    bits = v if v > 0 else v + (1 << cat) - 1
    return cat, bits


# -- encoder ---------------------------------------------------------------

def encode_jpeg(img: np.ndarray, quality: int = 90,
                subsampling: str = "444") -> bytes:
    """Baseline JFIF encode: 2D uint8 grayscale or (H, W, 3) uint8 RGB
    (YCbCr). `subsampling` "444" (no chroma subsampling) or "420"
    (2x2 box-mean chroma, the wild-file default)."""
    a = np.asarray(img)
    if a.dtype != np.uint8:
        raise ValueError("JPEG baseline encodes uint8 only")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if a.ndim == 2:
        comps = [a.astype(np.float64)]
    elif a.ndim == 3 and a.shape[2] == 3:
        r, g, b = (a[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        comps = [y, cb, cr]
    else:
        raise ValueError(f"expected 2D or (H, W, 3) uint8, got {a.shape}")
    h, w = a.shape[0], a.shape[1]
    nc = len(comps)
    sub = subsampling == "420" and nc == 3
    hv = [(2, 2), (1, 1), (1, 1)][:nc] if sub else [(1, 1)] * nc
    hmax = max(x for x, _ in hv)
    vmax = max(v for _, v in hv)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    if sub:
        # 2x2 box-mean chroma (pad odd dims by edge replication first)
        def down2(p):
            ph = p if p.shape[0] % 2 == 0 else np.vstack([p, p[-1:]])
            ph = ph if ph.shape[1] % 2 == 0 else np.hstack(
                [ph, ph[:, -1:]])
            return ph.reshape(ph.shape[0] // 2, 2,
                              ph.shape[1] // 2, 2).mean(axis=(1, 3))
        comps = [comps[0], down2(comps[1]), down2(comps[2])]

    qts = [_scaled_qt(STD_LUM_QT, quality)]
    if nc == 3:
        qts.append(_scaled_qt(STD_CHR_QT, quality))

    dc_codes = [_build_codes(*DC_LUM)]
    ac_codes = [_build_codes(*AC_LUM)]
    if nc == 3:
        dc_codes.append(_build_codes(*DC_CHR))
        ac_codes.append(_build_codes(*AC_CHR))

    # quantized zigzag coefficients per component, on the comp's own
    # block grid (bw = mcus_x * h_i, bh = mcus_y * v_i)
    quant, grids = [], []
    for ci, plane in enumerate(comps):
        hi, vi = hv[ci]
        bh, bwid = mcus_y * vi, mcus_x * hi
        padded = np.pad(
            plane,
            ((0, bh * 8 - plane.shape[0]), (0, bwid * 8 - plane.shape[1])),
            mode="edge")
        bl = (padded.reshape(bh, 8, bwid, 8)
              .transpose(0, 2, 1, 3).reshape(-1, 8, 8))
        coefs = _dct2(bl - 128.0)
        qt = qts[min(ci, len(qts) - 1)].reshape(8, 8)
        qz = np.rint(coefs / qt).astype(np.int32).reshape(-1, 64)
        quant.append(qz[:, _ZIGZAG])    # coefficients in zigzag order
        grids.append((bh, bwid))

    bw = _BitWriter()

    def emit_block(zz, ti, ci):
        dc_c, ac_c = dc_codes[ti], ac_codes[ti]
        diff = int(zz[0]) - prev_dc[ci]
        prev_dc[ci] = int(zz[0])
        cat, bits = _magnitude(diff)
        code, ln = dc_c[cat]
        bw.write(code, ln)
        if cat:
            bw.write(bits, cat)
        run = 0
        nz = np.nonzero(zz[1:])[0]
        last_nz = nz[-1] + 1 if len(nz) else 0
        for k in range(1, last_nz + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_c[0xF0]    # ZRL
                bw.write(code, ln)
                run -= 16
            cat, bits = _magnitude(v)
            code, ln = ac_c[(run << 4) | cat]
            bw.write(code, ln)
            bw.write(bits, cat)
            run = 0
        if last_nz < 63:
            code, ln = ac_c[0x00]        # EOB
            bw.write(code, ln)

    prev_dc = [0] * nc
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in range(nc):
                hi, vi = hv[ci]
                _, bwid = grids[ci]
                for by in range(vi):
                    for bx in range(hi):
                        bi = (my * vi + by) * bwid + (mx * hi + bx)
                        emit_block(quant[ci][bi], min(ci, 1), ci)
    entropy = bw.flush()

    # -- marker segments --------------------------------------------------
    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xFF\xD8")                         # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, qt in enumerate(qts):
        out += seg(0xFFDB, bytes([ti]) + bytes(
            int(qt[z]) for z in _ZIGZAG))
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, (hv[ci][0] << 4) | hv[ci][1],
                      min(ci, len(qts) - 1)])
    out += seg(0xFFC0, sof)
    for ti, (cnt, sym) in enumerate([DC_LUM, DC_CHR][:max(1, nc - 1)]):
        out += seg(0xFFC4, bytes([ti]) + bytes(cnt) + bytes(sym))
    for ti, (cnt, sym) in enumerate([AC_LUM, AC_CHR][:max(1, nc - 1)]):
        out += seg(0xFFC4, bytes([0x10 | ti]) + bytes(cnt) + bytes(sym))
    sos = bytes([nc])
    for ci in range(nc):
        ti = min(ci, 1)
        sos += bytes([ci + 1, (ti << 4) | ti])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += entropy
    out += b"\xFF\xD9"                                   # EOI
    return bytes(out)


# -- decoder ---------------------------------------------------------------

class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = (self.data[self.pos]
                       if self.pos < len(self.data) else 0)
                if nxt == 0x00:
                    self.pos += 1           # stuffed byte
                else:
                    # marker ahead (RSTn handled by the caller via
                    # sync_restart): stop consuming and 1-pad — the
                    # entropy run for this interval has ended
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8
        self.acc &= (1 << self.nbits) - 1   # keep the int bounded

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
            if self.nbits == 0:
                return 1                    # 1-padding past the end
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self):
        """Skip to just past the next RSTn marker; reset bit state."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos < len(d) - 1:
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("restart marker expected but not found")


def _decode_huffman(br: _BitReader, table: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((code, length))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in entropy stream")


def _extend(bits: int, cat: int) -> int:
    if cat == 0:
        return 0
    return bits if bits >= (1 << (cat - 1)) else bits - (1 << cat) + 1


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline JFIF/JPEG -> (H, W) or (H, W, 3) uint8."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = []          # per component: (id, h, v, qt_id)
    height = width = None
    restart_interval = 0
    entropy_start = None
    while pos < len(data) - 1:
        if data[pos] != 0xFF:
            pos += 1
            continue
        marker = data[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:
            break
        (ln,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + ln]
        if marker == 0xDB:                      # DQT
            bpos = 0
            while bpos < len(body):
                pq_tq = body[bpos]
                prec, tid = pq_tq >> 4, pq_tq & 0x0F
                n = 64 * (2 if prec else 1)
                raw = body[bpos + 1:bpos + 1 + n]
                vals = (np.frombuffer(raw, dtype=">u2").astype(np.int32)
                        if prec else
                        np.frombuffer(raw, dtype=np.uint8)
                        .astype(np.int32))
                qt = np.zeros(64, dtype=np.int32)
                qt[_ZIGZAG] = vals
                qts[tid] = qt.reshape(8, 8)
                bpos += 1 + n
        elif marker == 0xC4:                    # DHT
            bpos = 0
            while bpos < len(body):
                tc_th = body[bpos]
                counts = list(body[bpos + 1:bpos + 17])
                n = sum(counts)
                syms = list(body[bpos + 17:bpos + 17 + n])
                huff[(tc_th >> 4, tc_th & 0x0F)] = _build_decode_table(
                    counts, syms)
                bpos += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1 baseline
            prec, height, width, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci:9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG mode (marker 0xFF{marker:02X}); "
                "only baseline sequential (SOF0/1) is implemented")
        elif marker == 0xDD:                    # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:                    # SOS
            ns = body[0]
            for si in range(ns):
                cid, tdta = body[1 + 2 * si:3 + 2 * si]
                for c in comps:
                    if c["id"] == cid:
                        c["td"], c["ta"] = tdta >> 4, tdta & 0x0F
            entropy_start = pos + ln
            break
        pos += ln
    if entropy_start is None or height is None:
        raise ValueError("JPEG missing SOS/SOF segments")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcus_x = -(-width // mcu_w)
    mcus_y = -(-height // mcu_h)

    for c in comps:
        c["bw"] = mcus_x * c["h"]            # blocks across
        c["bh"] = mcus_y * c["v"]
        c["coef"] = np.zeros((c["bh"] * c["bw"], 8, 8), dtype=np.float64)

    br = _BitReader(data[entropy_start:])
    prev_dc = {c["id"]: 0 for c in comps}
    mcu_i = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_i and \
                    mcu_i % restart_interval == 0:
                br.sync_restart()
                prev_dc = {c["id"]: 0 for c in comps}
            for c in comps:
                dc_t = huff[(0, c["td"])]
                ac_t = huff[(1, c["ta"])]
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = np.zeros(64, dtype=np.int32)
                        cat = _decode_huffman(br, dc_t)
                        diff = _extend(br.read_bits(cat), cat)
                        prev_dc[c["id"]] += diff
                        zz[0] = prev_dc[c["id"]]
                        k = 1
                        while k <= 63:
                            rs = _decode_huffman(br, ac_t)
                            if rs == 0x00:       # EOB
                                break
                            if rs == 0xF0:       # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC index overflow")
                            zz[k] = _extend(br.read_bits(rs & 0x0F),
                                            rs & 0x0F)
                            k += 1
                        blk = np.zeros(64, dtype=np.float64)
                        blk[_ZIGZAG] = zz
                        row = my * c["v"] + by
                        col = mx * c["h"] + bx
                        c["coef"][row * c["bw"] + col] = \
                            blk.reshape(8, 8)
            mcu_i += 1

    planes = []
    for c in comps:
        qt = qts[c["tq"]].astype(np.float64)
        px = _idct2(c["coef"] * qt) + 128.0
        bh, bw_ = c["bh"], c["bw"]
        raster = (px.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3)
                  .reshape(bh * 8, bw_ * 8))
        # upsample to full resolution (nearest) and crop
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            raster = raster.repeat(ry, axis=0).repeat(rx, axis=1)
        planes.append(raster[:height, :width])

    if len(planes) == 1:
        return np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.rint(np.stack([r, g, b], axis=-1)), 0,
                   255).astype(np.uint8)
