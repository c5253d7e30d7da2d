"""MPEG-1 video (.mpg/.mpeg) — ISO/IEC 11172-2 elementary stream,
I-frames only (the intra toolset: 8x8 DCT + default intra quantiser
matrix + DC-predictive coding), closing the reference's TwoDWriter
.mpg/.mpeg route natively (bioio-imageio reaches it via ffmpeg; ref
README.md:84).

Layout per the public spec:

- sequence header (0x000001B3: 12-bit sizes, aspect, picture-rate
  code, VBR bitrate) written once; one GOP header (0x000001B8) +
  picture header (0x00000100, type I) per frame — every frame is a
  closed GOP, so frames decode INDEPENDENTLY and the catalog is one
  (offset, nbytes) row per picture start code: the same planned-read
  contract as MP4/MKV/AVI (one ranged GET per frame, zero shuffle).
- one slice per macroblock row (start codes 0x01..0xAF carry the
  row); DC predictors reset per slice per the spec.
- macroblocks: address increment '1', type intra ('1', or '01' +
  new 5-bit quantiser_scale); blocks Y00 Y01 Y10 Y11 Cb Cr (4:2:0).
- intra DC: size VLC (separate luma/chroma tables, 2.4.3.7) +
  differential bits against the per-slice predictor (step 8 — a flat
  8x8 block therefore roundtrips BIT-EXACTLY, the img_jpeg_roundtrip
  rule applied to MPEG).
- intra AC: quantised against the default intra matrix and emitted
  as ESCAPE codes ('000001' + 6-bit run + 8/16-bit level) — escape
  coding is part of every compliant decoder; the decode side also
  accepts EOB ('10') and the run-0/level-±1 code ('11s'), and raises
  a clear ValueError for VLC codes outside this explicit subset.
- dequantisation with the spec's oddification + [-2048, 2047] clamp;
  orthonormal IDCT shared with the baseline JPEG codec.

BT.601 RGB<->YCbCr with 2x2-mean 4:2:0 chroma; grayscale content
(R=G=B) carries flat chroma planes (Cb=Cr=128) and stays exact on
8x8-constant blocks.
"""

from __future__ import annotations

import numpy as np

from bioio_spark.formats.jpeg import _ZIGZAG, _dct2, _idct2

MPEG_EXTS = (".mpg", ".mpeg")

# default intra quantiser matrix, ISO/IEC 11172-2 2.4.2.3 (raster)
_INTRA_Q = np.array([
    [8, 16, 19, 22, 26, 27, 29, 34],
    [16, 16, 22, 24, 27, 29, 34, 37],
    [19, 22, 26, 27, 29, 34, 34, 38],
    [22, 22, 26, 27, 29, 34, 37, 40],
    [22, 26, 27, 29, 32, 35, 40, 48],
    [26, 27, 29, 32, 35, 40, 48, 58],
    [26, 27, 29, 34, 38, 46, 56, 69],
    [27, 29, 35, 38, 46, 56, 69, 83]], dtype=np.int64)

# intra-DC size VLCs (2.4.3.7 tables B.5a/B.5b): size -> (code, len)
_DC_LUMA = {0: (0b100, 3), 1: (0b00, 2), 2: (0b01, 2), 3: (0b101, 3),
            4: (0b110, 3), 5: (0b1110, 4), 6: (0b11110, 5),
            7: (0b111110, 6), 8: (0b1111110, 7)}
_DC_CHROMA = {0: (0b00, 2), 1: (0b01, 2), 2: (0b10, 2), 3: (0b110, 3),
              4: (0b1110, 4), 5: (0b11110, 5), 6: (0b111110, 6),
              7: (0b1111110, 7), 8: (0b11111110, 8)}
_DC_LUMA_DEC = {v: k for k, v in _DC_LUMA.items()}
_DC_CHROMA_DEC = {v: k for k, v in _DC_CHROMA.items()}

_RATE_CODES = {24: 2, 25: 3, 30: 5, 50: 6, 60: 8}
_RATE_VALUES = {1: 24000 / 1001, 2: 24.0, 3: 25.0, 4: 30000 / 1001,
                5: 30.0, 6: 50.0, 7: 60000 / 1001, 8: 60.0}


class _BitW:
    """Plain MSB-first bit writer (no JPEG byte stuffing — MPEG start
    codes rely on natural zero padding)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)

    def start_code(self, code: int) -> None:
        self.align()
        self.out += bytes((0, 0, 1, code))


class _BitR:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos          # BIT position
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            if self.pos >= self.nbits:
                raise ValueError("MPEG-1 bitstream truncated")
            byte = self.data[self.pos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.pos & 7))) & 1)
            self.pos += 1
        return v


def _rgb_to_ycc(frame: np.ndarray):
    r = frame[..., 0].astype(np.float64)
    g = frame[..., 1].astype(np.float64)
    b = frame[..., 2].astype(np.float64)
    y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
    cb = np.clip(np.round(-0.168736 * r - 0.331264 * g + 0.5 * b
                          + 128), 0, 255)
    cr = np.clip(np.round(0.5 * r - 0.418688 * g - 0.081312 * b
                          + 128), 0, 255)
    return y, cb, cr


def _ycc_to_rgb(y, cb, cr) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _subsample(plane: np.ndarray) -> np.ndarray:
    """2x2 mean 4:2:0 subsample (even dims guaranteed by MB pad)."""
    return np.round((plane[0::2, 0::2] + plane[0::2, 1::2]
                     + plane[1::2, 0::2] + plane[1::2, 1::2])
                    / 4.0)


def _write_dc(bw: _BitW, diff: int, table: dict) -> None:
    size = abs(diff).bit_length()
    code, ln = table[size]
    bw.write(code, ln)
    if size:
        bits = diff if diff > 0 else diff + (1 << size) - 1
        bw.write(bits, size)


def _encode_block(bw: _BitW, block: np.ndarray, pred: int,
                  table: dict, qscale: int) -> int:
    """Intra-code one 8x8 spatial block; returns the new DC
    predictor (in quantised-DC units)."""
    coefs = _dct2(block[None].astype(np.float64))[0]
    qdc = int(np.round(coefs[0, 0] / 8.0))
    qdc = max(0, min(255, qdc))
    _write_dc(bw, qdc - pred, table)
    flat = coefs.ravel()[_ZIGZAG]
    qflat = _INTRA_Q.ravel()[_ZIGZAG]
    run = 0
    for i in range(1, 64):
        level = int(np.round(16.0 * flat[i] / (2 * qscale
                                               * int(qflat[i]))))
        level = max(-255, min(255, level))
        if level == 0:
            run += 1
            continue
        if run == 0 and level in (1, -1):
            # Table B.5c run-0/level-±1 "11s" — for INTRA blocks every
            # AC coefficient uses dct_coeff_next (ISO/IEC 11172-2
            # 2.4.3.7), where this short code is unambiguous alongside
            # EOB "10"; emitting it (not escape) for the most common
            # combination keeps strict external decoders happy.
            # Conformance caveat: every OTHER VLC-covered run/level is
            # still escape-coded ("000001" + run + level) — legal input
            # to any decoder that accepts escapes for in-table combos,
            # and self-consistent with the in-repo subset decoder.
            bw.write(0b11, 2)
            bw.write(0 if level == 1 else 1, 1)
            run = 0
            continue
        bw.write(0b000001, 6)                  # escape
        bw.write(run, 6)
        if -127 <= level <= -1:
            bw.write(level + 256, 8)
        elif 1 <= level <= 127:
            bw.write(level, 8)
        elif level <= -128:
            bw.write(0b10000000, 8)
            bw.write(level + 256, 8)
        else:                                  # 128..255
            bw.write(0, 8)
            bw.write(level, 8)
        run = 0
    bw.write(0b10, 2)                          # end of block
    return qdc


def encode_mpeg1(frames: np.ndarray, fps: int = 25,
                 qscale: int = 8) -> bytes:
    """(T, Y, X, 3) uint8 RGB -> MPEG-1 video elementary stream
    (.mpg), intra pictures only, one closed GOP per frame."""
    a = np.asarray(frames)
    if a.ndim != 4 or a.shape[-1] != 3 or a.dtype != np.uint8:
        raise ValueError("encode_mpeg1 takes (T, Y, X, 3) uint8 "
                         f"frames, got {a.shape} {a.dtype}")
    if not 1 <= qscale <= 31:
        raise ValueError("quantizer_scale must be 1..31")
    t, h, w = a.shape[:3]
    if not (1 <= w < 4096 and 1 <= h < 2800):
        raise ValueError("MPEG-1 sizes are 12-bit (and <= 175 slices)")
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    ph, pw = mbh * 16, mbw * 16
    rate = _RATE_CODES.get(fps, 3)

    bw = _BitW()
    bw.start_code(0xB3)                        # sequence header
    bw.write(w, 12)
    bw.write(h, 12)
    bw.write(1, 4)                             # square pels
    bw.write(rate, 4)
    bw.write(0x3FFFF, 18)                      # variable bitrate
    bw.write(1, 1)                             # marker
    bw.write(0, 10)                            # vbv_buffer_size
    bw.write(0, 1)                             # constrained flag
    bw.write(0, 2)                             # default both matrices

    for ti in range(t):
        pad = np.pad(a[ti], ((0, ph - h), (0, pw - w), (0, 0)),
                     mode="edge")
        y, cb, cr = _rgb_to_ycc(pad)
        cb, cr = _subsample(cb), _subsample(cr)

        bw.start_code(0xB8)                    # GOP: closed, t=0
        bw.write(0, 25)
        bw.write(1, 1)                         # closed_gop
        bw.write(0, 1)                         # broken_link
        bw.start_code(0x00)                    # picture header
        bw.write(ti % 1024, 10)
        bw.write(1, 3)                         # I picture
        bw.write(0xFFFF, 16)                   # vbv_delay
        bw.write(0, 1)                         # extra_bit_picture

        for row in range(mbh):
            bw.start_code(row + 1)             # slice per MB row
            bw.write(qscale, 5)
            bw.write(0, 1)                     # extra_bit_slice
            py, pb, pr = 128, 128, 128         # DC predictors
            for col in range(mbw):
                bw.write(1, 1)                 # address increment 1
                bw.write(1, 1)                 # macroblock_type intra
                y0, x0 = row * 16, col * 16
                for dy, dx in ((0, 0), (0, 8), (8, 0), (8, 8)):
                    py = _encode_block(
                        bw, y[y0 + dy:y0 + dy + 8,
                              x0 + dx:x0 + dx + 8],
                        py, _DC_LUMA, qscale)
                cy, cx = row * 8, col * 8
                pb = _encode_block(bw, cb[cy:cy + 8, cx:cx + 8],
                                   pb, _DC_CHROMA, qscale)
                pr = _encode_block(bw, cr[cy:cy + 8, cx:cx + 8],
                                   pr, _DC_CHROMA, qscale)
    bw.start_code(0xB7)                        # sequence end
    bw.align()
    return bytes(bw.out)


def _read_dc(br: _BitR, dec_table: dict) -> int:
    code, ln = 0, 0
    while ln < 9:
        code = (code << 1) | br.read(1)
        ln += 1
        size = dec_table.get((code, ln))
        if size is not None:
            if size == 0:
                return 0
            bits = br.read(size)
            return (bits if bits >= (1 << (size - 1))
                    else bits - (1 << size) + 1)
    raise ValueError("invalid intra-DC size code")


def _decode_block(br: _BitR, pred: int, dec_table: dict,
                  qscale: int) -> tuple:
    """-> (8x8 spatial block, new DC predictor)."""
    diff = _read_dc(br, dec_table)
    qdc = pred + diff
    zz = np.zeros(64, dtype=np.int64)
    zz[0] = qdc * 8
    i = 0
    while True:
        # subset VLC: EOB '10', run0/level±1 '11s', escape '000001'
        b1 = br.read(1)
        if b1 == 1:
            b2 = br.read(1)
            if b2 == 0:
                break                          # EOB
            level = 1 if br.read(1) == 0 else -1
            run = 0
        else:
            lead = 1
            while br.read(1) == 0:
                lead += 1
                if lead > 5:
                    raise ValueError(
                        "MPEG-1 AC VLC outside the explicit subset "
                        "(escape/EOB/run0-level1 supported)")
            if lead != 5:
                raise ValueError(
                    "MPEG-1 AC VLC outside the explicit subset "
                    "(escape/EOB/run0-level1 supported)")
            run = br.read(6)                   # escape
            level = br.read(8)
            if level == 0:
                level = br.read(8)             # 128..255
            elif level == 128:
                level = br.read(8) - 256       # -256..-129
            elif level > 128:
                level -= 256
        i += run + 1
        if i > 63:
            raise ValueError("AC run past end of block")
        q = int(_INTRA_Q.ravel()[_ZIGZAG][i])
        rec = (2 * level * qscale * q) // 16 if level >= 0 else \
            -((2 * (-level) * qscale * q) // 16)
        if rec and rec % 2 == 0:               # oddification
            rec += -1 if rec > 0 else 1
        zz[i] = max(-2048, min(2047, rec))
    coefs = np.zeros(64, dtype=np.float64)
    coefs[_ZIGZAG] = zz
    block = _idct2(coefs.reshape(1, 8, 8))[0]
    return block, qdc


def decode_mpeg1_frame(data: bytes, w: int, h: int) -> np.ndarray:
    """Decode ONE intra picture chunk (from its 0x00000100 picture
    start code up to the next picture/GOP/sequence code) ->
    (h, w, 3) uint8 RGB."""
    if data[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not a picture start code")
    mbw, mbh = (w + 15) // 16, (h + 15) // 16
    y = np.zeros((mbh * 16, mbw * 16))
    cb = np.full((mbh * 8, mbw * 8), 128.0)
    cr = np.full((mbh * 8, mbw * 8), 128.0)
    br = _BitR(data, pos=32)
    ptype = (br.read(10), br.read(3))[1]
    if ptype != 1:
        raise ValueError(f"picture type {ptype} unsupported "
                         "(I-frame-only subset)")
    # walk slice start codes byte-wise (they are byte-aligned)
    pos = 4
    while True:
        nxt = data.find(b"\x00\x00\x01", pos)
        if nxt < 0 or not 1 <= data[nxt + 3] <= 0xAF:
            break
        row = data[nxt + 3] - 1
        br = _BitR(data, pos=(nxt + 4) * 8)
        qscale = br.read(5)
        while br.read(1) == 1:
            br.read(8)                         # extra slice info
        py, pb, pr = 128, 128, 128
        for col in range(mbw):
            if br.read(1) != 1:
                raise ValueError("macroblock address increment != 1 "
                                 "unsupported (intra subset)")
            if br.read(1) != 1:
                if br.read(1) != 1:
                    raise ValueError("non-intra macroblock type in "
                                     "I picture")
                qscale = br.read(5)            # intra + quant ('01')
            y0, x0 = row * 16, col * 16
            for dy, dx in ((0, 0), (0, 8), (8, 0), (8, 8)):
                blk, py = _decode_block(br, py, _DC_LUMA_DEC, qscale)
                y[y0 + dy:y0 + dy + 8, x0 + dx:x0 + dx + 8] = blk
            cy, cx = row * 8, col * 8
            blk, pb = _decode_block(br, pb, _DC_CHROMA_DEC, qscale)
            cb[cy:cy + 8, cx:cx + 8] = blk
            blk, pr = _decode_block(br, pr, _DC_CHROMA_DEC, qscale)
            cr[cy:cy + 8, cx:cx + 8] = blk
        pos = nxt + 4
    cb = np.repeat(np.repeat(cb, 2, axis=0), 2, axis=1)
    cr = np.repeat(np.repeat(cr, 2, axis=0), 2, axis=1)
    rgb = _ycc_to_rgb(np.round(y), np.round(cb), np.round(cr))
    return rgb[:h, :w]


def read_mpeg1_catalog(path: str) -> dict:
    """Driver-side catalog: start-code scan only (no entropy decode,
    no pixel IO — the D8 contract). One (offset, nbytes) per picture;
    every picture is a closed intra GOP, so frames decode
    independently."""
    with open(path, "rb") as f:
        data = f.read()
    if data[:4] != b"\x00\x00\x01\xB3":
        raise ValueError(f"{path}: no MPEG-1 sequence header")
    br = _BitR(data, pos=32)
    w = br.read(12)
    h = br.read(12)
    br.read(4)
    rate = br.read(4)
    pics = []
    pos = 4
    while True:
        nxt = data.find(b"\x00\x00\x01\x00", pos)
        if nxt < 0:
            break
        pics.append(nxt)
        pos = nxt + 4
    ends = pics[1:] + [data.find(b"\x00\x00\x01\xB7", pics[-1])
                       if pics else len(data)]
    frames = []
    for off, end in zip(pics, ends):
        if end < 0:
            end = len(data)
        # back the end up over the frame's trailing GOP header if the
        # NEXT frame's GOP precedes its picture code
        gop = data.rfind(b"\x00\x00\x01\xB8", off, end)
        if gop > off:
            end = gop
        # picture header: 10-bit temporal_reference then 3-bit
        # picture_coding_type — the decoder handles INTRA pictures
        # only, so a genuine ffmpeg stream (P/B pictures) must fail
        # FAST here, driver-side, at is_supported_image/catalog time,
        # not per-frame inside executor tasks
        pbr = _BitR(data, pos=(off + 4) * 8)
        pbr.read(10)
        ptype = pbr.read(3)
        if ptype != 1:
            raise ValueError(
                f"{path}: picture at offset {off} has "
                f"picture_coding_type {ptype} — this reader decodes "
                f"I-picture-only MPEG-1 streams (P/B pictures need a "
                f"full Table B.5c + motion-compensation decoder)")
        frames.append((off, end - off))
    return {"width": w, "height": h, "n_frames": len(frames),
            "frames": frames, "codec": "mpeg1video",
            "time_interval": 1.0 / _RATE_VALUES.get(rate, 25.0)}
