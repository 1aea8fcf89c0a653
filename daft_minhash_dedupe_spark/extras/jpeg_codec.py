"""Minimal REAL baseline-JPEG codec — stdlib ``struct`` + numpy, no Pillow.

Baseline JPEG (ITU T.81 / the public JFIF spec) is a marker stream: SOI,
tables (DQT quantization, DHT Huffman), a frame header (SOF0), a scan
header (SOS), then the entropy-coded segment, then EOI. Each 8x8 block is
level-shifted, DCT-transformed, quantized, zigzag-ordered, and entropy
coded as (DC difference category + magnitude bits) followed by
run-length/size coded AC coefficients, all through canonical Huffman
tables carried in the file itself. Decoding reverses that: parse tables,
Huffman-decode the bit stream (0xFF00 byte stuffing removed, RSTn restart
markers resetting the DC predictors), dequantize, de-zigzag, IDCT with the
orthonormal 8x8 DCT-II basis, upsample chroma, and convert JFIF YCbCr back
to RGB.

Decoder scope (loud ``ValueError`` / ``NotImplementedError`` on anything
else — see ``_codec_util``):
- baseline + extended sequential Huffman (SOF0/SOF1), 8-bit precision
- 1-component grayscale and 3-component YCbCr with sampling factors 1-2
  (4:4:4, 4:2:2, 4:2:0); restart intervals (DRI/RSTn) supported
- progressive (SOF2) and arithmetic coding are rejected explicitly

The encoder exists for test/synthesis symmetry: grayscale or RGB, 4:4:4 or
4:2:0, caller-supplied quantization tables (default all-ones ==
near-lossless, so roundtrip tests can pin the transform math to a tight
pixel tolerance instead of eyeballing artifacts). Its Huffman tables are
valid canonical fixed-length tables built from the full baseline symbol
alphabets and shipped in DHT — the decoder consumes them through the same
table-driven path it would use for a camera JPEG's optimized tables.

The decoder is exercised against a hand-assembled spec fixture (flat gray
block whose 7-bit entropy segment is derived by hand in the test),
encoder roundtrips at tight tolerance, and subsampling/restart variants.
"""

from __future__ import annotations

import struct

import numpy as np

from daft_minhash_dedupe_spark.extras._codec_util import check_dims, loud_decoder

# natural-order index for each zigzag position, generated per the spec's
# diagonal traversal (even diagonals run bottom-left -> top-right)
def _zigzag_order() -> np.ndarray:
    out = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(s + 1)
        for i in rng:
            j = s - i
            if i < 8 and j < 8:
                out.append(i * 8 + j)
    return np.array(out, dtype=np.int64)


_ZZ = _zigzag_order()

# orthonormal 8x8 DCT-II basis: forward coef = C @ x @ C.T, inverse x = C.T @ coef @ C
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else np.sqrt(2 / 8))
            * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)

# JPEG's DCT convention differs from the orthonormal basis only by scale:
# dequantized coefficients ARE the orthonormal ones (T.81 A.3.3).


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map t magnitude bits back to the signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


class _HuffTable:
    """Canonical Huffman table from DHT's (BITS, HUFFVAL). Decode peeks 16
    bits once and probes only the code lengths the table actually uses —
    one dict hit per symbol for fixed-length tables, ≤16 worst case."""

    def __init__(self, bits: list[int], vals: bytes):
        if len(vals) < sum(bits):
            raise ValueError("JPEG DHT truncated")
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = vals[k]
                code += 1
                k += 1
            code <<= 1
        self.lengths = sorted({ln for ln, _ in self.lookup})

    def decode(self, br: _BitReader) -> int:
        peeked = br.peek16()
        lookup = self.lookup
        for length in self.lengths:
            sym = lookup.get((length, peeked >> (16 - length)))
            if sym is not None:
                br.skip(length)
                return sym
        raise ValueError("invalid Huffman code in JPEG entropy stream")


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment."""

    def __init__(self, data: bytes):
        self.data = data
        self.nbits = len(data) * 8
        self.pos = 0

    def peek16(self) -> int:
        """Next 16 bits MSB-first, 1-padded past the end (the spec's pad
        bits), without consuming."""
        p = self.pos
        if p >= self.nbits:
            raise ValueError("JPEG entropy stream truncated")
        b0 = p >> 3
        window = self.data[b0 : b0 + 3]
        v = int.from_bytes(window + b"\xff" * (3 - len(window)), "big")
        return (v >> (8 - (p & 7))) & 0xFFFF

    def skip(self, n: int) -> None:
        self.pos += n

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        p = self.pos
        if p + n > self.nbits:
            raise ValueError("JPEG entropy stream truncated")
        b0 = p >> 3
        b1 = (p + n + 7) >> 3
        chunk = int.from_bytes(self.data[b0:b1], "big")
        self.pos = p + n
        return (chunk >> ((b1 - b0) * 8 - (p & 7) - n)) & ((1 << n) - 1)


def _split_entropy(payload: bytes, pos: int) -> tuple[list[bytes], int]:
    """From the start of entropy data, return the de-stuffed segments
    between restart markers and the position of the terminating marker."""
    segs: list[bytes] = []
    cur = bytearray()
    i = pos
    n = len(payload)
    while i < n:
        b = payload[i]
        if b != 0xFF:
            cur.append(b)
            i += 1
            continue
        if i + 1 >= n:
            break
        m = payload[i + 1]
        if m == 0x00:
            cur.append(0xFF)
            i += 2
        elif 0xD0 <= m <= 0xD7:  # RSTn
            segs.append(bytes(cur))
            cur = bytearray()
            i += 2
        else:  # real marker (EOI or next segment)
            break
    segs.append(bytes(cur))
    return segs, i


@loud_decoder
def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (H, W, 1) gray or (H, W, 3) RGB uint8."""
    if not payload.startswith(b"\xff\xd8"):
        raise ValueError("not a JPEG payload")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], _HuffTable] = {}  # (class, id)
    comps: list[dict] = []
    h = w = None
    restart_interval = 0
    pos = 2
    n = len(payload)
    scan = None
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        # T.81 B.1.1.2: any number of extra 0xFF fill bytes may pad before
        # the marker code — skip the run so padded files parse
        while pos + 1 < n and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > n:
            break
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > n:
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                qt[tq] = np.frombuffer(
                    body, dtype=np.uint8, count=64, offset=o + 1
                ).astype(np.int32)
                o += 65
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(body):
                tc, th = body[o] >> 4, body[o] & 15
                bits = list(body[o + 1 : o + 17])
                cnt = sum(bits)
                huff[(tc, th)] = _HuffTable(bits, body[o + 17 : o + 17 + cnt])
                o += 17 + cnt
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1
            if body[0] != 8:
                raise NotImplementedError("JPEG precision != 8")
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq}
                )
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG (SOF2)")
        elif marker in (0xC9, 0xCA, 0xCB):
            raise NotImplementedError("arithmetic-coded JPEG")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan = []
            for c in range(ns):
                sel = body[1 + 2 * c : 3 + 2 * c]
                if len(sel) != 2:
                    raise ValueError("JPEG SOS header truncated")
                cs, tt = sel
                comp = next((x for x in comps if x["id"] == cs), None)
                if comp is None:
                    raise ValueError(f"JPEG SOS references unknown component {cs}")
                scan.append((comp, tt >> 4, tt & 15))
            pos = pos + 2 + seglen
            break
        # APPn / COM / others: skip
        pos = pos + 2 + seglen
    if scan is None or h is None:
        raise ValueError("JPEG missing SOF/SOS")
    check_dims(w, h, "JPEG SOF")
    if not (1 <= len(scan) <= 3):
        raise NotImplementedError(f"{len(scan)}-component JPEG scan")
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = [
        np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8), dtype=np.float64)
        for c, _, _ in scan
    ]
    segs, _end = _split_entropy(payload, pos)
    for comp, dct, act in scan:
        if comp["tq"] not in qt:
            raise ValueError(f"JPEG scan uses undefined quant table {comp['tq']}")
        if (0, dct) not in huff or (1, act) not in huff:
            raise ValueError(f"JPEG scan uses undefined Huffman table {dct}/{act}")
    seg_idx = 0
    br = _BitReader(segs[0])
    preds = [0] * len(scan)
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise ValueError("JPEG missing restart segment")
            br = _BitReader(segs[seg_idx])
            preds = [0] * len(scan)
        my, mx = divmod(m, mcux)
        for ci, (comp, dct, act) in enumerate(scan):
            q = qt[comp["tq"]]
            dtab, atab = huff[(0, dct)], huff[(1, act)]
            for by in range(comp["v"]):
                for bx in range(comp["h"]):
                    zz = np.zeros(64, dtype=np.int64)
                    t = dtab.decode(br)
                    preds[ci] += _extend(br.receive(t), t)
                    zz[0] = preds[ci] * int(q[0])
                    k = 1
                    while k < 64:
                        rs = atab.decode(br)
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r == 15:  # ZRL
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("JPEG AC run past block end")
                        zz[k] = _extend(br.receive(s), s) * int(q[k])
                        k += 1
                    block = np.zeros(64, dtype=np.float64)
                    block[_ZZ] = zz
                    px = _C.T @ block.reshape(8, 8) @ _C + 128.0
                    y0 = (my * comp["v"] + by) * 8
                    x0 = (mx * comp["h"] + bx) * 8
                    planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
    out_planes = []
    for (comp, _, _), plane in zip(scan, planes):
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        out_planes.append(plane[:h, :w])
    if len(out_planes) == 1:
        return (
            np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)[:, :, None]
        )
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _fixed_table(symbols: list[int]) -> tuple[list[int], bytes, dict[int, tuple[int, int]]]:
    """Valid canonical table with every symbol at one fixed code length
    L = ceil(log2(n+1)) — n < 2^L keeps the all-1-bits code unused, as the
    spec requires. Returns (BITS, HUFFVAL, symbol -> (code, length))."""
    n = len(symbols)
    length = max(1, (n + 1 - 1).bit_length())
    if n >= (1 << length):
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    enc = {sym: (i, length) for i, sym in enumerate(symbols)}
    return bits, bytes(symbols), enc


_DC_SYMS = list(range(12))
_AC_SYMS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _encode_block(
    bw: _BitWriter,
    coefs_zz: np.ndarray,
    pred: int,
    dc_enc: dict[int, tuple[int, int]],
    ac_enc: dict[int, tuple[int, int]],
) -> int:
    dc = int(coefs_zz[0])
    diff = dc - pred
    t = _category(diff)
    code, ln = dc_enc[t]
    bw.write(code, ln)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(coefs_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_enc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        code, ln = ac_enc[0x00]  # EOB
        bw.write(code, ln)
    return dc


def _plane_blocks(plane: np.ndarray, q_zz: np.ndarray) -> np.ndarray:
    """FDCT + quantize every 8x8 block of a padded plane; returns
    (by, bx, 64) zigzag-ordered quantized coefficients."""
    hh, ww = plane.shape
    shifted = plane.astype(np.float64) - 128.0
    out = np.empty((hh // 8, ww // 8, 64), dtype=np.int64)
    for by in range(hh // 8):
        for bx in range(ww // 8):
            blk = shifted[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            coef = (_C @ blk @ _C.T).reshape(64)[_ZZ]
            out[by, bx] = np.round(coef / q_zz).astype(np.int64)
    return out


def _pad_to(plane: np.ndarray, mult_y: int, mult_x: int) -> np.ndarray:
    hh, ww = plane.shape
    py = (-hh) % mult_y
    px = (-ww) % mult_x
    return np.pad(plane, ((0, py), (0, px)), mode="edge")


def encode_jpeg(
    arr: np.ndarray,
    quant: np.ndarray | None = None,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JPEG writer: gray (H,W)/(H,W,1) or RGB (H,W,3) uint8.

    ``quant`` is a length-64 zigzag-order table applied to every component
    (default all-ones — near-lossless, for tight roundtrip pinning).
    ``subsample=True`` emits 4:2:0 chroma (2x2-mean downsampled).
    ``restart_interval`` emits DRI + RSTn markers every N MCUs (decoder
    restart/DC-predictor-reset path)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    if ch not in (1, 3):
        raise ValueError("encode_jpeg supports gray or RGB")
    q_zz = (
        np.ones(64, dtype=np.int64)
        if quant is None
        else np.asarray(quant, dtype=np.int64).reshape(64)
    )
    if ch == 1:
        planes = [a[:, :, 0].astype(np.float64)]
        samps = [(1, 1)]
    else:
        rf = a.astype(np.float64)
        r, g, b = rf[:, :, 0], rf[:, :, 1], rf[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            ph, pw = _pad_to(cb, 2, 2).shape
            cb2 = _pad_to(cb, 2, 2).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr2 = _pad_to(cr, 2, 2).reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes = [y, cb2, cr2]
            samps = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            samps = [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    blocks = []
    for plane, (sh, sv) in zip(planes, samps):
        padded = _pad_to(plane, mcuy * sv * 8, mcux * sh * 8)
        blocks.append(_plane_blocks(padded, q_zz))
    dc_bits, dc_vals, dc_enc = _fixed_table(_DC_SYMS)
    ac_bits, ac_vals, ac_enc = _fixed_table(_AC_SYMS)
    bw = _BitWriter()
    preds = [0] * len(planes)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.flush()
            bw.out += bytes([0xFF, 0xD0 + rst % 8])
            rst += 1
            preds = [0] * len(planes)
        my, mx = divmod(m, mcux)
        for ci, (sh, sv) in enumerate(samps):
            for by in range(sv):
                for bx in range(sh):
                    zz = blocks[ci][my * sv + by, mx * sh + bx]
                    preds[ci] = _encode_block(bw, zz, preds[ci], dc_enc, ac_enc)
    bw.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    dqt = seg(0xDB, bytes([0]) + bytes(int(x) for x in q_zz))
    ncomp = len(planes)
    sof_body = struct.pack(">BHHB", 8, h, w, ncomp)
    sos_body = bytes([ncomp])
    for ci, (sh, sv) in enumerate(samps):
        sof_body += bytes([ci + 1, (sh << 4) | sv, 0])
        sos_body += bytes([ci + 1, 0x00])  # dc table 0, ac table 0
    sos_body += bytes([0, 63, 0])
    dht = seg(0xC4, bytes([0x00]) + bytes(dc_bits) + dc_vals) + seg(
        0xC4, bytes([0x10]) + bytes(ac_bits) + ac_vals
    )
    dri = seg(0xDD, struct.pack(">H", restart_interval)) if restart_interval else b""
    return (
        b"\xff\xd8"
        + dqt
        + dri
        + seg(0xC0, sof_body)
        + dht
        + seg(0xDA, sos_body)
        + bytes(bw.out)
        + b"\xff\xd9"
    )
