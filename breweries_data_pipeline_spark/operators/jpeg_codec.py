"""Dependency-free baseline JPEG (JFIF / ITU T.81) codec — the
non-PNG analog of the stdlib PNG path in operators.multimodal, so the
real-codec branch executes for JPEG bytes even in containers without
pillow (this one). Retires the PIL-absent xfail the r7/r8 records
carried.

Scope (the shapes a data pipeline's thumbnails and fixtures use):
- **decode**: baseline sequential (SOF0) AND progressive huffman
  (SOF2 — spectral selection, successive approximation, EOB runs,
  the full T.81 G.2 scan algebra), 8-bit samples, grayscale or
  YCbCr with any divisible sampling-factor layout — 4:4:4, 4:2:2,
  4:4:0, 4:2:0, 4:1:1 (chroma upsampled by replication), restart
  intervals (DRI/RSTm re-sync + predictor/EOB-run reset), 8- and
  16-bit quantization tables, huffman tables read from the blob's
  own DHT segments (the honest spec path — nothing assumes the
  encoder below). Arithmetic-coded, lossless, and non-divisible
  factor combinations raise NotImplementedError with the pillow
  pointer, mirroring decode_png's depth/interlace guard.
- **encode**: the matching writer (SOI/APP0/DQT/SOF0/DHT/SOS/EOI,
  canonical huffman, edge-replicated block padding, byte stuffing,
  box-averaged chroma downsampling for the subsampled modes), plus a
  progressive (SOF2) mode whose 4-phase scan script (DC first/refine
  interleaved + per-component AC first/refine) exercises every
  decoder branch — the round-trip invariant is strong: progressive
  and baseline code the SAME quantized coefficients, so their
  decodes must match byte-for-byte. The 4:4:4 baseline writer is
  byte-identical to the pre-sampling round-9 writer, so the
  q_jpeg_decode oracle lane is untouched.

Exactness lane: with an all-ones quantization table a FLAT grayscale
image round-trips bit-exactly — the block has only a DC coefficient
(8*(v-128), an exact float64 integer), AC terms quantize to exact
zeros, and the inverse DCT reproduces v identically. q_jpeg_decode
builds its closed-form value-hash oracle on that invariant while the
unit tests exercise the lossy textured/RGB paths with tolerances.

Reference tie-in: the reference pipeline has no binary columns at all
(SURVEY.md §1 — no nested/array/binary types anywhere); this module
is part of the multimodal extension surface (BASELINE.json north
star), same citation basis as operators/multimodal.py.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# zigzag order: ZIGZAG[k] = row-major index of the k-th coefficient
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# flat (all-ones) table: the bit-exact lane for flat images
Q_FLAT = np.ones(64, dtype=np.int64)

# a mild real table for the lossy tests (Annex-K-style magnitudes,
# luma top-left emphasis; exact values are encoder's choice — the
# decoder always reads DQT from the stream)
Q_STD = np.array([
    8, 6, 6, 7, 6, 5, 8, 7, 7, 7, 9, 9, 8, 10, 12, 20,
    13, 12, 11, 11, 12, 25, 18, 19, 15, 20, 29, 26, 31, 30, 29, 26,
    28, 28, 32, 36, 46, 39, 32, 34, 44, 35, 28, 28, 40, 55, 41, 44,
    48, 49, 52, 52, 52, 31, 39, 57, 61, 56, 50, 60, 46, 51, 52, 50,
], dtype=np.int64)


def _dct_matrix() -> np.ndarray:
    m = np.zeros((8, 8))
    for k in range(8):
        c = math.sqrt(1.0 / 8.0) if k == 0 else math.sqrt(2.0 / 8.0)
        for i in range(8):
            m[k, i] = c * math.cos((2 * i + 1) * k * math.pi / 16.0)
    return m


_DCT = _dct_matrix()

# canonical huffman specs (bits[1..16] counts + symbol order). Any
# valid prefix code is legal — the tables travel in DHT and the
# decoder builds its map from the stream, never from these constants.
_DC_BITS = [0, 0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_VALS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]
_AC_BITS = [0, 0, 0, 0, 0, 0, 0, len(_AC_VALS), 0, 0, 0, 0, 0, 0, 0, 0]

# progressive AC table: adds the EOBn symbols ((n<<4)|0, n=1..14) the
# spectral/successive scans use for EOB runs; a SEPARATE table so the
# baseline writer's bytes stay untouched (its oracle lane is pinned
# byte-for-byte)
_AC_VALS_PROG = (
    [0x00]
    + [(n << 4) for n in range(1, 15)]
    + [0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_AC_BITS_PROG = [
    0, 0, 0, 0, 0, 0, 0, len(_AC_VALS_PROG), 0, 0, 0, 0, 0, 0, 0, 0,
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, bit length), per T.81's canonical generation.
    A DHT whose BITS counts exceed its VALS payload is malformed input
    (ValueError per the module contract), not an engine IndexError."""
    if sum(bits) > len(vals):
        raise ValueError("huffman table values truncated")
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self._acc = 0
        self._n = 0

    def read_bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy stream truncated")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:  # un-stuff
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("unexpected marker inside entropy data")
                self.pos += 1
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


def _mag_size(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: sign-recover a magnitude-coded value."""
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(px: np.ndarray) -> np.ndarray:
    y, cb, cr = px[..., 0], px[..., 1] - 128.0, px[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.stack([r, g, b], axis=-1)


_SAMPLING = {
    # name -> (h, v) per YCbCr component; grayscale is always (1,1)
    "4:4:4": [(1, 1), (1, 1), (1, 1)],
    "4:2:2": [(2, 1), (1, 1), (1, 1)],
    "4:4:0": [(1, 2), (1, 1), (1, 1)],
    "4:2:0": [(2, 2), (1, 1), (1, 1)],
    "4:1:1": [(4, 1), (1, 1), (1, 1)],  # DV/camcorder layout
}


def _downsample(plane: np.ndarray, fx: int, fy: int) -> np.ndarray:
    """Box-average a plane by (fy, fx); edge-replicate odd tails so
    the average never reads past the image (the encoder's choice —
    decoders upsample by replication, see decode_jpeg)."""
    if fx == 1 and fy == 1:
        return plane
    h, w = plane.shape
    ph, pw = -(-h // fy) * fy, -(-w // fx) * fx
    p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
    return p.reshape(ph // fy, fy, pw // fx, fx).mean(axis=(1, 3))


class _EntropyStream:
    """Entropy-byte accumulator with optional restart markers: call
    ``before_unit()`` at the start of every restart unit (an MCU in
    interleaved scans, a block in non-interleaved ones) — every
    ``ri`` units it runs ``on_restart`` (flush EOB runs / reset DC
    predictors), byte-aligns, and emits RSTm (m cycling 0-7). With
    ri=0 it degenerates to a plain _BitWriter, byte-identical to the
    restart-free writer."""

    def __init__(self, ri: int, on_restart=None) -> None:
        self.ri = ri
        self.on_restart = on_restart or (lambda: None)
        self.outb = bytearray()
        self.bw = _BitWriter()
        self.n = 0
        self.m = 0

    def write(self, code: int, length: int) -> None:
        self.bw.write(code, length)

    def before_unit(self) -> None:
        if self.ri and self.n and self.n % self.ri == 0:
            self.on_restart()
            self.bw.flush()
            self.outb += self.bw.out
            self.outb += bytes([0xFF, 0xD0 + self.m])
            self.m = (self.m + 1) & 7
            self.bw = _BitWriter()
        self.n += 1

    def finish(self) -> bytes:
        self.bw.flush()
        self.outb += self.bw.out
        return bytes(self.outb)


class _EobRun:
    """Progressive EOB-run accumulator: counts blocks whose remaining
    band is all-zero and (in refinement scans) buffers the correction
    bits the decoder reads while walking those blocks. ``bw`` may be
    a _BitWriter or an _EntropyStream (both expose write)."""

    def __init__(self, bw, ac_codes: dict) -> None:
        self.bw = bw
        self.ac = ac_codes
        self.n = 0
        self.bits: list[int] = []

    def flush(self) -> None:
        if self.n == 0:
            if self.bits:  # refinement bits with no pending EOB run
                for b in self.bits:
                    self.bw.write(b, 1)
                self.bits = []
            return
        r = self.n.bit_length() - 1
        code, ln = self.ac[r << 4]
        self.bw.write(code, ln)
        if r:
            self.bw.write(self.n - (1 << r), r)
        for b in self.bits:
            self.bw.write(b, 1)
        self.n = 0
        self.bits = []


def _enc_ac_first(bw, ac_codes, eob: _EobRun, band: np.ndarray, al: int):
    """One block of a progressive AC FIRST scan (Ah=0): band is the
    63-entry zigzag tail; values point-transformed by truncation
    toward zero (T.81 AC point transform)."""
    va = np.fix(band / float(1 << al)).astype(np.int64) if al else band
    nz = np.nonzero(va)[0]
    if len(nz) == 0:
        eob.n += 1
        if eob.n == 32767:
            eob.flush()
        return
    eob.flush()
    last = nz[-1]
    run = 0
    for k in range(0, last + 1):
        v = int(va[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            run -= 16
        size = _mag_size(v)
        code, ln = ac_codes[(run << 4) | size]
        bw.write(code, ln)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < len(va) - 1:  # trailing zeros -> this block opens an EOB run
        eob.n += 1


def _enc_ac_refine(bw, ac_codes, eob: _EobRun, band: np.ndarray, al: int):
    """One block of a progressive AC REFINEMENT scan (Ah=Al+1): emits
    ±1-at-this-scale coefficients as (run|1)+sign and appends one
    correction bit per already-nonzero coefficient, buffered through
    EOB runs exactly as the decoder consumes them (jcphuff-style)."""
    absv = (np.abs(band) >> al).astype(np.int64)
    newly = np.nonzero(absv == 1)[0]
    last_new = int(newly[-1]) if len(newly) else -1
    r = 0
    pend: list[int] = []
    for k in range(len(band)):
        a = int(absv[k])
        if a == 0:
            r += 1
            continue
        while r > 15 and k <= last_new:
            eob.flush()
            code, ln = ac_codes[0xF0]
            bw.write(code, ln)
            r -= 16
            for b in pend:
                bw.write(b, 1)
            pend = []
        if a > 1:  # already nonzero at coarser scale: correction bit
            pend.append(a & 1)
            continue
        eob.flush()
        code, ln = ac_codes[(r << 4) | 1]
        bw.write(code, ln)
        bw.write(1 if int(band[k]) > 0 else 0, 1)
        for b in pend:
            bw.write(b, 1)
        pend = []
        r = 0
    if r > 0 or pend:
        eob.n += 1
        eob.bits.extend(pend)
        if eob.n == 32767:
            eob.flush()


def encode_jpeg(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    *,
    qtable: np.ndarray | None = None,
    sampling: str = "4:4:4",
    progressive: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF writer: grayscale (1) or RGB (3, written as
    YCbCr). ``qtable`` is the zigzag-ordered 64-entry quantization
    table for every component (default Q_STD; pass Q_FLAT for the
    bit-exact flat-image lane). ``sampling`` picks the chroma layout
    for 3-channel images: 4:4:4 (default — one block per component
    per MCU, byte-identical to the pre-sampling writer), 4:2:2,
    4:4:0, or 4:2:0 (2x2 box-averaged chroma, the common
    real-thumbnail shape). ``restart_interval`` > 0 writes a DRI
    segment and RSTm markers every that many restart units (MCUs in
    interleaved scans, blocks in non-interleaved progressive AC
    scans), resetting DC predictors / EOB runs at each — the
    error-resilience layout camera firmware commonly emits."""
    if channels not in (1, 3):
        raise ValueError("encode_jpeg writes 1- or 3-channel images")
    if sampling not in _SAMPLING:
        raise ValueError(f"sampling must be one of {sorted(_SAMPLING)}")
    factors = [(1, 1)] if channels == 1 else _SAMPLING[sampling]
    hmax = max(h for h, _ in factors)
    vmax = max(v for _, v in factors)
    q = (Q_STD if qtable is None else qtable).astype(np.int64)
    px = (
        np.frombuffer(pixels, dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.float64)
    )
    full = (
        [px[..., 0]] if channels == 1
        else [p for p in np.moveaxis(_rgb_to_ycbcr(px), -1, 0)]
    )
    planes = [
        _downsample(p, hmax // h, vmax // v)
        for p, (h, v) in zip(full, factors)
    ]

    dc_codes = _canonical_codes(_DC_BITS, _DC_VALS)
    ac_codes = _canonical_codes(_AC_BITS, _AC_VALS)
    qmat = np.empty(64, dtype=np.int64)
    qmat[ZIGZAG] = q  # zigzag table -> row-major matrix
    qmat = qmat.reshape(8, 8)

    # MCU grid is sized by the MAX factors; each component's plane is
    # padded to its own (mcuy*v*8, mcux*h*8) so every MCU owns exactly
    # h*v of its blocks
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    comp_coefs = []  # per comp: zigzag coefs, blocks raster over plane
    comp_bw = []  # per comp: blocks-per-row of that plane
    for plane, (h, v) in zip(planes, factors):
        ph, pw = plane.shape
        tgt_h, tgt_w = mcuy * v * 8, mcux * h * 8
        plane = np.pad(
            plane, ((0, tgt_h - ph), (0, tgt_w - pw)), mode="edge"
        )
        blocks = (
            plane.reshape(tgt_h // 8, 8, tgt_w // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        shifted = blocks - 128.0
        coefs = np.einsum("ki,nij,lj->nkl", _DCT, shifted, _DCT)
        qd = np.round(coefs / qmat).astype(np.int64)
        comp_coefs.append(qd.reshape(-1, 64)[:, ZIGZAG])
        comp_bw.append(tgt_w // 8)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    ncomp = len(planes)
    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xFFDB, bytes([0x00]) + bytes(int(x) for x in q))  # DQT 0
    sof = struct.pack(">BHHB", 8, height, width, ncomp)
    for c in range(ncomp):
        h, v = factors[c]
        sof += bytes([c + 1, (h << 4) | v, 0])  # id, sampling, qtable 0
    out += seg(0xFFC0 if not progressive else 0xFFC2, sof)
    out += seg(0xFFC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
    if progressive:
        ac_codes = _canonical_codes(_AC_BITS_PROG, _AC_VALS_PROG)
        out += seg(
            0xFFC4,
            bytes([0x10]) + bytes(_AC_BITS_PROG) + bytes(_AC_VALS_PROG),
        )
    else:
        out += seg(0xFFC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
    ri = int(restart_interval)
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))

    def sos_seg(scomps: list[int], ss: int, se: int, ah: int, al: int,
                data: bytes) -> bytes:
        payload = bytes([len(scomps)])
        for c in scomps:
            payload += bytes([c + 1, 0x00])
        payload += bytes([ss, se, (ah << 4) | al])
        return seg(0xFFDA, payload) + data

    # per-component NON-PADDED block grid (the traversal of every
    # non-interleaved scan): ceil(comp dims / 8); the interleaved MCU
    # grid may be larger by padding blocks
    nb = []
    for h, v in factors:
        cw = -(-(width * h) // hmax)
        ch = -(-(height * v) // vmax)
        nb.append((-(-ch // 8), -(-cw // 8)))

    if not progressive:
        preds = [0] * ncomp

        def _reset_preds() -> None:
            preds[:] = [0] * ncomp

        bw_ = _EntropyStream(ri, _reset_preds)
        for my in range(mcuy):
            for mx in range(mcux):
                bw_.before_unit()
                for c, zz in enumerate(comp_coefs):
                    h, v = factors[c]
                    for by in range(v):
                        for bx in range(h):
                            blk = zz[
                                (my * v + by) * comp_bw[c] + (mx * h + bx)
                            ]
                            diff = int(blk[0]) - preds[c]
                            preds[c] = int(blk[0])
                            size = _mag_size(diff)
                            code, ln = dc_codes[size]
                            bw_.write(code, ln)
                            if size:
                                bw_.write(
                                    diff if diff > 0
                                    else diff + (1 << size) - 1,
                                    size,
                                )
                            run = 0
                            last_nz = (
                                int(np.max(np.nonzero(blk)[0]))
                                if np.any(blk[1:]) else 0
                            )
                            for k in range(1, 64):
                                val = int(blk[k])
                                if val == 0:
                                    if k > last_nz:
                                        code, ln = ac_codes[0x00]  # EOB
                                        bw_.write(code, ln)
                                        break
                                    run += 1
                                    continue
                                while run >= 16:
                                    code, ln = ac_codes[0xF0]  # ZRL
                                    bw_.write(code, ln)
                                    run -= 16
                                size = _mag_size(val)
                                code, ln = ac_codes[(run << 4) | size]
                                bw_.write(code, ln)
                                bw_.write(
                                    val if val > 0
                                    else val + (1 << size) - 1,
                                    size,
                                )
                                run = 0
        out += sos_seg(list(range(ncomp)), 0, 63, 0, 0, bw_.finish())
        out += b"\xff\xd9"  # EOI
        return bytes(out)

    # progressive scan script (exercises every decoder branch):
    # DC first (Al=1, interleaved) -> AC first per comp (Al=1, EOB
    # runs) -> DC refine -> AC refine per comp (correction bits).
    # Restart units: MCU for the interleaved DC scans, block for the
    # non-interleaved AC scans (per T.81 an MCU of a one-component
    # scan IS one block).
    def dc_traverse(es: _EntropyStream, fn) -> None:
        for my in range(mcuy):
            for mx in range(mcux):
                es.before_unit()
                for c in range(ncomp):
                    h, v = factors[c]
                    for by in range(v):
                        for bx in range(h):
                            fn(c, (my * v + by) * comp_bw[c]
                               + (mx * h + bx))

    preds = [0] * ncomp

    def _reset_dc() -> None:
        preds[:] = [0] * ncomp

    bw_ = _EntropyStream(ri, _reset_dc)

    def _dc_first(c: int, idx: int) -> None:
        dc = int(comp_coefs[c][idx][0]) >> 1  # Al=1, arithmetic shift
        diff = dc - preds[c]
        preds[c] = dc
        size = _mag_size(diff)
        code, ln = dc_codes[size]
        bw_.write(code, ln)
        if size:
            bw_.write(diff if diff > 0 else diff + (1 << size) - 1, size)

    dc_traverse(bw_, _dc_first)
    out += sos_seg(list(range(ncomp)), 0, 0, 0, 1, bw_.finish())

    for c in range(ncomp):  # AC first, one comp per scan (spec rule)
        bw_ = _EntropyStream(ri)
        eob = _EobRun(bw_, ac_codes)
        bw_.on_restart = eob.flush  # pending EOB run closes a segment
        nby, nbx = nb[c]
        for by in range(nby):
            for bx in range(nbx):
                bw_.before_unit()
                band = comp_coefs[c][by * comp_bw[c] + bx][1:]
                _enc_ac_first(bw_, ac_codes, eob, band, 1)
        eob.flush()
        out += sos_seg([c], 1, 63, 0, 1, bw_.finish())

    bw_ = _EntropyStream(ri)
    dc_traverse(
        bw_,
        lambda c, idx: bw_.write(int(comp_coefs[c][idx][0]) & 1, 1),
    )
    out += sos_seg(list(range(ncomp)), 0, 0, 1, 0, bw_.finish())

    for c in range(ncomp):  # AC refine
        bw_ = _EntropyStream(ri)
        eob = _EobRun(bw_, ac_codes)
        bw_.on_restart = eob.flush
        nby, nbx = nb[c]
        for by in range(nby):
            for bx in range(nbx):
                bw_.before_unit()
                band = comp_coefs[c][by * comp_bw[c] + bx][1:]
                _enc_ac_refine(bw_, ac_codes, eob, band, 0)
        eob.flush()
        out += sos_seg([c], 1, 63, 1, 0, bw_.finish())

    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _read_symbol(reader: _BitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln <= 16:
        code = (code << 1) | reader.read_bit()
        ln += 1
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid huffman code in JPEG stream")


def _entropy_end(blob: bytes, pos: int) -> int:
    """First byte position after ``pos`` holding a real marker: inside
    entropy data every 0xFF is stuffed (FF 00) or starts an RSTm
    restart marker (FF D0-D7, part of the scan), so the first FF
    followed by anything else terminates the scan. Anchoring on
    len(blob) instead would break on multi-scan (progressive) streams
    and on real-world files with trailing bytes after EOI."""
    p = pos
    while True:
        i = blob.find(b"\xff", p)
        if i < 0 or i + 1 >= len(blob):
            return len(blob)
        nxt = blob[i + 1]
        if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
            p = i + 2
            continue
        return i


def _split_rst(data: bytes) -> list[bytes]:
    """Split one scan's entropy bytes at its RSTm markers (byte-
    aligned by construction; every in-data FF is stuffed, so FF D0-D7
    is always a real restart)."""
    segs: list[bytes] = []
    start = p = 0
    while True:
        i = data.find(b"\xff", p)
        if i < 0 or i + 1 >= len(data):
            break
        nxt = data[i + 1]
        if 0xD0 <= nxt <= 0xD7:
            segs.append(data[start:i])
            start = p = i + 2
        else:
            p = i + 2
    segs.append(data[start:])
    return segs


def decode_coefficients(
    blob: bytes,
) -> tuple[
    int, int, list[tuple[int, int, int, int]], list[np.ndarray],
    list[tuple[int, int]], list[tuple[int, int]],
]:
    """(width, height, comps, per-component QUANTIZED coefficient
    arrays in zigzag order, padded block grids, non-padded block
    counts) — the fully entropy-decoded state at the EOI boundary,
    BEFORE dequantization/IDCT/clip. This is the level the
    progressive-vs-baseline equality invariant must hold at: pixel
    equality alone could be satisfied by a paired writer/decoder bug
    cancelling through the IDCT round/clip, coefficient equality
    cannot (tests/test_multimodal.py pins both). The grids/nb pair
    lets callers mask the MCU-padding blocks, which baseline
    interleaved scans code but non-interleaved progressive scans
    legitimately do not (T.81 A.2.4)."""
    width, height, comps, coef, grids, nb, *_ = _decode_state(blob)
    return width, height, comps, coef, grids, nb


def decode_jpeg(blob: bytes) -> tuple[int, int, int, bytes]:
    """Baseline + progressive JFIF reader; see module docstring for
    scope. Returns (width, height, channels, pixel bytes) like
    decode_png. Scans decode into per-component coefficient state
    (T.81 spectral selection + successive approximation, EOB runs);
    dequantization + IDCT run once at EOI over all blocks."""
    (width, height, comps, coef, grids, _nb, qtables, hmax, vmax) = (
        _decode_state(blob)
    )

    # reconstruct: dequantize + IDCT every block of every component in
    # one einsum pass, then stitch planes from the block grid
    planes = []
    for ci, (_, h, v, tq) in enumerate(comps):
        rows, cols = grids[ci]
        mat = np.zeros((rows * cols, 64), dtype=np.float64)
        mat[:, ZIGZAG] = coef[ci] * _lookup(qtables, tq, "quantization")[None, :]
        blocks = (
            np.einsum(
                "ki,nkl,lj->nij", _DCT, mat.reshape(-1, 8, 8), _DCT
            )
            + 128.0
        )
        planes.append(
            blocks.reshape(rows, cols, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )

    # upsample subsampled components by replication (the nearest-
    # neighbor decoder lane; pairs with encode's box-average), then
    # crop everything to the image rectangle
    cropped = []
    for p, (_, h, v, _) in zip(planes, comps):
        if h != hmax:
            p = np.repeat(p, hmax // h, axis=1)
        if v != vmax:
            p = np.repeat(p, vmax // v, axis=0)
        cropped.append(p[:height, :width])
    if len(cropped) == 1:
        px = cropped[0]
    else:
        px = _ycbcr_to_rgb(np.stack(cropped, axis=-1))
    out = np.clip(np.round(px), 0, 255).astype(np.uint8)
    return width, height, len(cropped), out.tobytes()


def _decode_state(
    blob: bytes,
) -> tuple[int, int, list, list[np.ndarray], list, list, dict, int, int]:
    """Parse markers + entropy-decode every scan; returns the decoded
    state (width, height, comps, coef, grids, nb, qtables, hmax, vmax)
    at the EOI boundary."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG byte stream")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[tuple[int, int, int, int]] = []  # id, h, v, tq
    width = height = 0
    progressive = False
    coef: list[np.ndarray] | None = None
    grids: list[tuple[int, int]] = []  # per comp: padded (rows, cols)
    nb: list[tuple[int, int]] = []  # per comp: non-padded (rows, cols)
    hmax = vmax = mcux = mcuy = 0
    restart_ri = 0
    got_scan = False

    while pos + 2 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("JPEG marker expected")
        marker = struct.unpack(">H", blob[pos:pos + 2])[0]
        if marker == 0xFFD9:  # EOI
            break
        if pos + 4 > len(blob):
            raise ValueError("JPEG marker segment truncated")
        (length,) = struct.unpack(">H", blob[pos + 2:pos + 4])
        if length < 2:  # T.81 B.1.1.4: Lx counts its own two bytes; a
            # corrupted shorter value would make the payload slice
            # empty/negative and stall or misparse downstream
            raise ValueError(f"invalid JPEG segment length {length}")
        payload = blob[pos + 4:pos + 2 + length]

        def _need(n: int, what: str, _pl=None) -> None:
            # corrupted LENGTH bytes shrink the payload under what the
            # marker's own fields require; without this, the branches
            # below surface struct.error / IndexError instead of the
            # module's documented ValueError contract
            if len(payload if _pl is None else _pl) < n:
                raise ValueError(f"JPEG {what} segment truncated")

        pos += 2 + length
        if marker == 0xFFDB:  # DQT (possibly several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0x0F
                if pq == 0:  # 8-bit entries
                    _need(p + 65, "DQT")
                    qtables[tq] = np.frombuffer(
                        payload[p + 1:p + 65], dtype=np.uint8
                    ).astype(np.int64)
                    p += 65
                elif pq == 1:  # 16-bit entries (high-quality tables)
                    _need(p + 129, "DQT")
                    qtables[tq] = np.frombuffer(
                        payload[p + 1:p + 129], dtype=">u2"
                    ).astype(np.int64)
                    p += 129
                else:
                    raise ValueError(f"invalid DQT precision {pq}")
        elif marker == 0xFFC4:  # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                _need(p + 17, "DHT")
                tc, th = payload[p] >> 4, payload[p] & 0x0F
                bits = list(payload[p + 1:p + 17])
                nvals = sum(bits)
                _need(p + 17 + nvals, "DHT")
                vals = list(payload[p + 17:p + 17 + nvals])
                codes = _canonical_codes(bits, vals)
                huff[(tc, th)] = {
                    (ln, code): sym for sym, (code, ln) in codes.items()
                }
                p += 17 + nvals
        elif marker in (0xFFC0, 0xFFC2):  # SOF0 baseline / SOF2 prog
            progressive = marker == 0xFFC2
            _need(6, "SOF")
            _prec, height, width, ncomp = struct.unpack(
                ">BHHB", payload[:6]
            )
            _need(6 + 3 * ncomp, "SOF")
            for c in range(ncomp):
                cid, hv, tq = payload[6 + 3 * c:9 + 3 * c]
                h, v = hv >> 4, hv & 0x0F
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError(
                        f"invalid JPEG sampling factors ({h},{v}) — "
                        "T.81 allows 1-4"
                    )
                comps.append((cid, h, v, tq))
            hm = max(h for _, h, _v, _ in comps)
            vm = max(v for _, _h, v, _ in comps)
            if any(
                hm % h or vm % v for _, h, v, _ in comps
            ):  # e.g. factor-3 beside factor-4: needs fractional
                # chroma upsampling, which replication can't express
                raise NotImplementedError(
                    "non-divisible sampling factor combinations need "
                    "pillow (this decoder upsamples by replication)"
                )
            hmax = max(h for _, h, _v, _ in comps)
            vmax = max(v for _, _h, v, _ in comps)
            mcux = -(-width // (8 * hmax))
            mcuy = -(-height // (8 * vmax))
            coef = []
            for _, h, v, _ in comps:
                rows, cols = mcuy * v, mcux * h
                grids.append((rows, cols))
                cw = -(-(width * h) // hmax)
                ch = -(-(height * v) // vmax)
                nb.append((-(-ch // 8), -(-cw // 8)))
                coef.append(np.zeros((rows * cols, 64), dtype=np.int64))
        elif marker in (0xFFC1, 0xFFC3, 0xFFC9, 0xFFCA, 0xFFCB):
            raise NotImplementedError(
                "only baseline (SOF0) and progressive huffman (SOF2) "
                "JPEG decode without pillow (extended/lossless/"
                "arithmetic streams need it)"
            )
        elif marker == 0xFFDD:  # DRI: restart interval in MCUs
            _need(2, "DRI")
            restart_ri = struct.unpack(">H", payload[:2])[0]
        elif marker == 0xFFDA:  # SOS — entropy data follows
            if coef is None:
                raise ValueError("JPEG SOS before SOF")
            _need(1, "SOS")
            ns = payload[0]
            if len(payload) < 4 + 2 * ns:
                raise ValueError("JPEG SOS header truncated")
            scomps = []
            for c in range(ns):
                cid, tabs = payload[1 + 2 * c], payload[2 + 2 * c]
                scomps.append((cid, tabs >> 4, tabs & 0x0F))
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            if not (ss <= se <= 63):  # T.81 B.2.3: Ss 0-63, Se Ss-63;
                # a corrupt Se past 63 would index off the 64-entry
                # coefficient block
                raise ValueError(
                    f"invalid spectral selection range {ss}-{se}"
                )
            ahal = payload[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0x0F
            end = _entropy_end(blob, pos)
            _decode_scan(
                blob[pos:end], huff, comps, coef, grids,
                nb, mcux, mcuy, scomps, ss, se, ah, al, progressive,
                restart_ri,
            )
            got_scan = True
            pos = end
    if not got_scan or not comps:
        raise ValueError("JPEG missing SOF/SOS")
    return width, height, comps, coef, grids, nb, qtables, hmax, vmax


def _lookup(tables: dict, key, kind: str):
    """Explicit table lookup: a scan referencing an undefined Huffman /
    quantization table id is malformed INPUT — the module's contract is
    ValueError for that, never a bare KeyError escaping the engine."""
    try:
        return tables[key]
    except KeyError:
        raise ValueError(f"undefined {kind} table {key}") from None


def _decode_scan(
    data: bytes,
    huff: dict,
    comps: list,
    coef: list,
    grids: list,
    nb: list,
    mcux: int,
    mcuy: int,
    scomps: list,
    ss: int,
    se: int,
    ah: int,
    al: int,
    progressive: bool,
    ri: int = 0,
) -> None:
    """Decode ONE entropy-coded scan into the coefficient state. With
    ``ri`` > 0 (from DRI) the scan is split at its RSTm markers; at
    each restart the bit reader re-aligns on the next segment and DC
    predictors / EOB runs reset."""
    comp_ix = {cid: i for i, (cid, _h, _v, _t) in enumerate(comps)}
    for scid, _d, _a in scomps:
        if scid not in comp_ix:  # corrupt SOS header — malformed
            # input, not an engine KeyError (module contract)
            raise ValueError(
                f"scan references undefined component id {scid}"
            )
    preds = {cid: 0 for cid, _d, _a in scomps}
    segs = _split_rst(data) if ri else [data]
    seg_ix = 0
    reader = _BitReader(segs[0])
    units = 0
    eobrun = 0

    def unit_boundary() -> None:
        # call at the START of each restart unit (MCU in interleaved
        # scans, block in non-interleaved ones)
        nonlocal seg_ix, reader, units, eobrun
        if ri and units and units % ri == 0:
            seg_ix += 1
            if seg_ix < len(segs):
                reader = _BitReader(segs[seg_ix])
            for cid in preds:
                preds[cid] = 0
            eobrun = 0
        units += 1

    def mcu_traverse(fn) -> None:
        # interleaved order: per MCU, each scan component contributes
        # its h*v blocks (raster within the MCU)
        for my in range(mcuy):
            for mx in range(mcux):
                unit_boundary()
                for cid, dct, act in scomps:
                    ci = comp_ix[cid]
                    _, h, v, _ = comps[ci]
                    _, cols = grids[ci]
                    for iby in range(v):
                        for ibx in range(h):
                            idx = (my * v + iby) * cols + (mx * h + ibx)
                            fn(ci, cid, dct, act, idx)

    if not progressive:
        if len(scomps) != len(comps):
            raise NotImplementedError(
                "non-interleaved multi-scan baseline JPEG needs pillow"
            )

        # baseline: one interleaved scan, full blocks
        def _block(ci, cid, dct, act, idx):
            dc_t = _lookup(huff, (0, dct), "huffman")
            ac_t = _lookup(huff, (1, act), "huffman")
            zz = coef[ci][idx]
            size = _read_symbol(reader, dc_t)
            if size > 15:  # T.81 F.1.2.1: SSSS <= 15; a corrupt
                # stream's oversized size would overflow the int64
                # coefficient store
                raise ValueError("DC coefficient size out of range")
            diff = _extend(reader.read_bits(size), size) if size else 0
            preds[cid] += diff
            zz[0] = preds[cid]
            k = 1
            while k < 64:
                sym = _read_symbol(reader, ac_t)
                if sym == 0x00:  # EOB
                    break
                if sym == 0xF0:  # ZRL
                    k += 16
                    continue
                run, size = sym >> 4, sym & 0x0F
                k += run
                if k > 63:
                    raise ValueError("AC coefficient index overflow")
                zz[k] = _extend(reader.read_bits(size), size)
                k += 1

        mcu_traverse(_block)
        return

    if ss == 0:  # DC scan (first or refinement); Se must be 0
        if se != 0:
            raise ValueError("progressive DC scan with Se != 0")

        if ah == 0:
            def _dc(ci, cid, dct, _act, idx):
                size = _read_symbol(reader, _lookup(huff, (0, dct), "huffman"))
                if size > 15:  # see baseline DC guard
                    raise ValueError("DC coefficient size out of range")
                diff = (
                    _extend(reader.read_bits(size), size) if size else 0
                )
                preds[cid] += diff
                coef[ci][idx][0] = preds[cid] << al
        else:
            def _dc(ci, _cid, _dct, _act, idx):
                if reader.read_bit():
                    coef[ci][idx][0] |= 1 << al

        if len(scomps) > 1:
            mcu_traverse(_dc)
        else:
            cid, dct, act = scomps[0]
            ci = comp_ix[cid]
            nby, nbx = nb[ci]
            _, cols = grids[ci]
            for by in range(nby):
                for bx in range(nbx):
                    unit_boundary()
                    _dc(ci, cid, dct, act, by * cols + bx)
        return

    # AC scan: always single-component (T.81 rule)
    if len(scomps) != 1:
        raise ValueError("progressive AC scan must be non-interleaved")
    cid, _dct, act = scomps[0]
    ci = comp_ix[cid]
    ac_t = _lookup(huff, (1, act), "huffman")
    nby, nbx = nb[ci]
    _, cols = grids[ci]
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)

    for by in range(nby):
        for bx in range(nbx):
            unit_boundary()  # non-interleaved: one block per unit
            zz = coef[ci][by * cols + bx]
            if ah == 0:  # AC first scan
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _read_symbol(reader, ac_t)
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.read_bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError(
                            "AC coefficient index overflow"
                        )
                    zz[k] = _extend(reader.read_bits(s), s) << al
                    k += 1
                continue
            # AC refinement scan (jdphuff-style correction pass)
            k = ss
            if eobrun == 0:
                while k <= se:
                    sym = _read_symbol(reader, ac_t)
                    r, s = sym >> 4, sym & 0x0F
                    newval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += reader.read_bits(r)
                            break  # remaining band handled below
                        # r == 15: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise ValueError(
                                "refinement scan coded size != 1"
                            )
                        newval = p1 if reader.read_bit() else m1
                    while k <= se:
                        if zz[k] != 0:
                            if reader.read_bit() and not zz[k] & p1:
                                zz[k] += p1 if zz[k] >= 0 else m1
                        else:
                            r -= 1
                            if r < 0:
                                break
                        k += 1
                    if newval:
                        if k > se:  # corrupt stream ran the correction
                            # sweep past the band before placing the
                            # new coefficient (zz has 64 slots; k can
                            # reach se+1 here on fuzzed input)
                            raise ValueError(
                                "AC refinement index past spectral end"
                            )
                        zz[k] = newval
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if zz[k] != 0:
                        if reader.read_bit() and not zz[k] & p1:
                            zz[k] += p1 if zz[k] >= 0 else m1
                    k += 1
                eobrun -= 1
