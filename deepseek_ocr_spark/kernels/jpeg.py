"""JPEG codec — stdlib + numpy, no native library.

The reference's eval corpus is JPEG (vllm/run_dpsk_ocr_eval_batch.py:101-107
globs ``*.jpg``/``*.jpeg`` images opened by PIL at
vllm/run_dpsk_ocr_image.py:28-42) and its region crops are written JPEG
(vllm/run_dpsk_ocr_pdf.py:183-190).  This module makes that format real
in-sandbox, the way the PNG codec was done in round 3.

DECODER — sequential DCT (SOF0/SOF1) AND progressive (SOF2: spectral
selection, successive approximation, EOB runs — the jdphuff.c scan
semantics) Huffman processes, plus (r7) the ARITHMETIC-coded processes
SOF9 (sequential) and SOF10 (progressive) via the QM coder in
kernels/jparith.py with DAC conditioning; 8-bit, grayscale or YCbCr,
sampling 1x1 / 2x1 / 2x2 (other integral ratios via box upsample),
DRI/RSTn restart markers.  The arithmetic after entropy
decoding is a transcription of the PUBLIC libjpeg reference
implementation — jidctint.c "islow" fixed-point IDCT, jdsample.c fancy
(triangle) upsampling, jdcolor.c fixed-point YCbCr→RGB tables — public
library behavior with the same standing as the PIL bicubic transcription
in pixels.py, so decoded pixels byte-match PIL/libjpeg on baseline files
(PIL-gated parity test in tests/test_jpeg_kernel.py; the in-sandbox spec
is an independent scalar transcription in the tests, never this module).
Entropy decoding is inherently sequential (bit-serial Huffman) and stays
Python; dequantize/IDCT/upsample/color-convert are vectorized numpy over
all blocks at once.

ENCODER — baseline 4:4:4 (or single-component grayscale), Annex-K quant
tables scaled by the libjpeg quality formula, and Huffman tables BUILT
FROM the image's own symbol frequencies (the jchuff.c optimal-table
algorithm) — no memorized standard Huffman tables to get subtly wrong,
and smaller files than the fixed tables.

LOSSLESS (SOF3, r7) is also native — Annex H predictors 1-7, point
transform, 2-16-bit precision, per-component or interleaved scans,
row-aligned restarts; full precision via ``decode_jpeg_lossless``, 8-bit
display mapping via ``decode_jpeg``.  12-BIT DCT precision (r7) is
native on the Huffman processes SOF1/SOF2 — center 2048 / clamp 4095
IDCT and direct-arithmetic YCbCr ranges, exactly what a
BITS_IN_JSAMPLE=12 libjpeg build tabulates; full range via
``decode_jpeg_deep``, top-8-bits display via ``decode_jpeg``.
HIERARCHICAL sequences (Annex J, r7) are native for the
sequential-Huffman frame subset: DHP + EXP reference expansion
(J.1.1.2 filter) + SOF5 differential frames added signed-unclamped to
the upsampled reference (J.1.1.3); 8/12-bit, 1x1 components.
Differential progressive/lossless/arithmetic frames, 12-bit arithmetic
coding and >2 sampling factors raise NotImplementedError — callers fall
back to the PIL codec gate exactly as before this module existed.  (PIL
cannot decode the arithmetic, lossless, 12-bit or hierarchical
processes at all, so those lanes EXCEED the reference pipeline's codec
surface.)

Scale shape: this kernel runs inside Arrow-batched mapInPandas stages
(operators/vision.py, operators/multimodal.py) — per-image work,
embarrassingly parallel, no shuffle implications.  Where a native codec
(PIL/libjpeg-turbo) is importable the operators prefer it for raw speed;
this lane guarantees the capability everywhere and pins the semantics.
"""

from __future__ import annotations

import struct

import numpy as np

from . import jparith
from .pixels import MAX_PIXELS, Image

# --- shared constants --------------------------------------------------------

# natural-order index for each zigzag position, generated (not memorized):
# anti-diagonal walk, odd diagonals descend (row++), even diagonals ascend


def _zigzag_order() -> list[int]:
    out = []
    for s in range(15):
        rows = range(max(0, s - 7), min(s, 7) + 1)
        if s % 2 == 0:
            rows = reversed(list(rows))
        out.extend(r * 8 + (s - r) for r in rows)
    return out


ZIGZAG = _zigzag_order()  # ZIGZAG[k] = natural position of k-th zigzag coeff

# libjpeg jidctint.c islow constants (CONST_BITS = 13)
_CONST_BITS = 13
_PASS1_BITS = 2


def _fix(x: float) -> int:
    return int(round(x * (1 << _CONST_BITS)))


_F_0_298631336 = _fix(0.298631336)
_F_0_390180644 = _fix(0.390180644)
_F_0_541196100 = _fix(0.541196100)
_F_0_765366865 = _fix(0.765366865)
_F_0_899976223 = _fix(0.899976223)
_F_1_175875602 = _fix(1.175875602)
_F_1_501321110 = _fix(1.501321110)
_F_1_847759065 = _fix(1.847759065)
_F_1_961570560 = _fix(1.961570560)
_F_2_053119869 = _fix(2.053119869)
_F_2_562915447 = _fix(2.562915447)
_F_3_072711026 = _fix(3.072711026)


def idct_islow_blocks(
    coeffs: np.ndarray, quant: np.ndarray, prec: int = 8, signed: bool = False
) -> np.ndarray:
    """libjpeg jpeg_idct_islow over (n, 64) natural-order int coefficient
    blocks with a (64,) natural-order quant table → (n, 8, 8) uint8 samples
    (12-bit precision: center 2048 / clamp 4095 / uint16, the libjpeg
    BITS_IN_JSAMPLE=12 build's ranges).

    Bit-exact transcription of the two-pass fixed-point algorithm:
    dequantize, column pass descaled by CONST_BITS-PASS1_BITS, row pass
    descaled by CONST_BITS+PASS1_BITS+3, +128 level shift, clamp.  The
    zero-AC column shortcut in the C code is arithmetically identical to
    the full path (the kept rounding bits cannot reach the descale
    threshold), so the vectorized full path preserves byte parity.
    int64 throughout — valid baseline streams stay within int32 like the C
    code, hostile ones saturate at the final clamp instead of wrapping."""
    n = coeffs.shape[0]
    blk = (coeffs.astype(np.int64) * quant.astype(np.int64)).reshape(n, 8, 8)

    def _pass(inp: np.ndarray, descale: int, dequantized: bool) -> np.ndarray:
        # operates along the last axis = one 8-entry vector per (block, line)
        c = [inp[..., i] for i in range(8)]
        # even part
        z2, z3 = c[2], c[6]
        z1 = (z2 + z3) * _F_0_541196100
        tmp2 = z1 + z3 * (-_F_1_847759065)
        tmp3 = z1 + z2 * _F_0_765366865
        z2, z3 = c[0], c[4]
        tmp0 = (z2 + z3) << _CONST_BITS
        tmp1 = (z2 - z3) << _CONST_BITS
        tmp10, tmp13 = tmp0 + tmp3, tmp0 - tmp3
        tmp11, tmp12 = tmp1 + tmp2, tmp1 - tmp2
        # odd part
        t0, t1, t2, t3 = c[7], c[5], c[3], c[1]
        z1, z2 = t0 + t3, t1 + t2
        z3, z4 = t0 + t2, t1 + t3
        z5 = (z3 + z4) * _F_1_175875602
        t0 = t0 * _F_0_298631336
        t1 = t1 * _F_2_053119869
        t2 = t2 * _F_3_072711026
        t3 = t3 * _F_1_501321110
        z1 = z1 * -_F_0_899976223
        z2 = z2 * -_F_2_562915447
        z3 = z3 * -_F_1_961570560 + z5
        z4 = z4 * -_F_0_390180644 + z5
        t0 += z1 + z3
        t1 += z2 + z4
        t2 += z2 + z3
        t3 += z1 + z4
        half = 1 << (descale - 1)
        out = np.empty_like(inp)
        for i, v in enumerate(
            (tmp10 + t3, tmp11 + t2, tmp12 + t1, tmp13 + t0,
             tmp13 - t0, tmp12 - t1, tmp11 - t2, tmp10 - t3)
        ):
            out[..., i] = (v + half) >> descale
        return out

    # column pass: vectors along axis 1 → transpose so columns are last
    ws = _pass(blk.transpose(0, 2, 1), _CONST_BITS - _PASS1_BITS, True)
    ws = ws.transpose(0, 2, 1)
    # row pass on the worksheet
    out = _pass(ws, _CONST_BITS + _PASS1_BITS + 3, False)
    if signed:
        # differential (hierarchical) frames: no level shift, no clamp —
        # the caller adds the reference and clamps once (J.1.1.3)
        return out
    center = 1 << (prec - 1)
    maxval = (1 << prec) - 1
    return np.clip(out + center, 0, maxval).astype(
        np.uint8 if prec == 8 else np.uint16
    )


# --- fancy upsampling (jdsample.c) -------------------------------------------


def _h2v1_fancy(a: np.ndarray) -> np.ndarray:
    """jdsample.c h2v1_fancy_upsample: triangle filter, 2x horizontal."""
    a = a.astype(np.int32)
    left = np.concatenate([a[:, :1], a[:, :-1]], axis=1)
    right = np.concatenate([a[:, 1:], a[:, -1:]], axis=1)
    even = (a * 3 + left + 1) >> 2
    odd = (a * 3 + right + 2) >> 2
    even[:, 0] = a[:, 0]
    odd[:, -1] = a[:, -1]
    out = np.empty((a.shape[0], a.shape[1] * 2), np.int32)
    out[:, 0::2] = even
    out[:, 1::2] = odd
    return out


def _h2v2_fancy(a: np.ndarray) -> np.ndarray:
    """jdsample.c h2v2_fancy_upsample: triangle filter, 2x both axes; edge
    rows duplicate (the context-row behavior of jdmainct)."""
    a = a.astype(np.int32)
    above = np.concatenate([a[:1], a[:-1]], axis=0)
    below = np.concatenate([a[1:], a[-1:]], axis=0)
    h, w = a.shape
    out = np.empty((h * 2, w * 2), np.int32)
    for v, far in ((0, above), (1, below)):
        colsum = a * 3 + far
        left = np.concatenate([colsum[:, :1], colsum[:, :-1]], axis=1)
        right = np.concatenate([colsum[:, 1:], colsum[:, -1:]], axis=1)
        even = (colsum * 3 + left + 8) >> 4
        odd = (colsum * 3 + right + 7) >> 4
        even[:, 0] = (colsum[:, 0] * 4 + 8) >> 4
        odd[:, -1] = (colsum[:, -1] * 4 + 7) >> 4
        out[v::2, 0::2] = even
        out[v::2, 1::2] = odd
    return out


def _box_upsample(a: np.ndarray, rh: int, rv: int) -> np.ndarray:
    """jdsample.c int_upsample: pixel replication for other integral ratios."""
    return np.repeat(np.repeat(a.astype(np.int32), rv, axis=0), rh, axis=1)


# --- YCbCr -> RGB (jdcolor.c) ------------------------------------------------

_SCALEBITS = 16
_ONE_HALF = 1 << (_SCALEBITS - 1)


def _fix16(x: float) -> int:
    return int(round(x * (1 << _SCALEBITS)))


_X = np.arange(256, dtype=np.int64) - 128
_CR_R = (_fix16(1.40200) * _X + _ONE_HALF) >> _SCALEBITS
_CB_B = (_fix16(1.77200) * _X + _ONE_HALF) >> _SCALEBITS
_CR_G = -_fix16(0.71414) * _X
_CB_G = -_fix16(0.34414) * _X + _ONE_HALF


def ycc_to_rgb(
    y: np.ndarray, cb: np.ndarray, cr: np.ndarray, prec: int = 8
) -> np.ndarray:
    """jdcolor.c ycc_rgb_convert with its exact fixed-point tables (the
    deep path computes the same table arithmetic directly, centered at
    2^(prec-1) — what a BITS_IN_JSAMPLE=12 libjpeg build tabulates)."""
    y = y.astype(np.int64)
    if prec == 8:
        r = y + _CR_R[cr]
        g = y + ((_CB_G[cb] + _CR_G[cr]) >> _SCALEBITS)
        b = y + _CB_B[cb]
        return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)
    center = 1 << (prec - 1)
    c_b = cb.astype(np.int64) - center
    c_r = cr.astype(np.int64) - center
    r = y + ((_fix16(1.40200) * c_r + _ONE_HALF) >> _SCALEBITS)
    b = y + ((_fix16(1.77200) * c_b + _ONE_HALF) >> _SCALEBITS)
    g = y + (
        (-_fix16(0.34414) * c_b + _ONE_HALF + -_fix16(0.71414) * c_r)
        >> _SCALEBITS
    )
    return np.clip(np.stack([r, g, b], axis=-1), 0, (1 << prec) - 1).astype(
        np.uint16
    )


# --- entropy decoding --------------------------------------------------------


class _Huff:
    """Canonical Huffman decode table from DHT BITS/HUFFVAL, flattened to
    a full 16-bit-peek lookup (one list index per symbol instead of a
    per-bit tree walk — the standard fast-JPEG-decoder structure).  Entry
    = (symbol, code_length); length 0 marks an invalid prefix."""

    def __init__(self, bits: list[int], vals: bytes):
        if sum(bits) != len(vals):
            raise ValueError("DHT count mismatch")
        lut = [(0, 0)] * 65536
        code = 0
        k = 0
        for l in range(1, 17):
            for _ in range(bits[l - 1]):
                if code >= (1 << l):
                    raise ValueError("over-subscribed Huffman table")
                base = code << (16 - l)
                entry = (vals[k], l)
                for suffix in range(1 << (16 - l)):
                    lut[base | suffix] = entry
                code += 1
                k += 1
            code <<= 1
        self.lut = lut


class _BitReader:
    """MSB-first entropy-segment bit reader with 0xFF00 byte-unstuffing.
    Hitting a marker mid-read yields 1-bits (libjpeg pads the same way);
    the main loop consumes markers explicitly at restart boundaries."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        data, pos = self.data, self.pos
        if pos >= len(data):
            self.acc = (self.acc << 8) | 0xFF
            self.nbits += 8
            return
        b = data[pos]
        if b == 0xFF:
            nxt = data[pos + 1] if pos + 1 < len(data) else 0xD9
            if nxt == 0x00:
                self.pos = pos + 2
            else:  # marker — stop consuming, pad with 1s
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                return
        else:
            self.pos = pos + 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def decode(self, table: _Huff) -> int:
        while self.nbits < 16:
            self._fill()
        sym, l = table.lut[(self.acc >> (self.nbits - 16)) & 0xFFFF]
        if l == 0:
            raise ValueError("bad Huffman code")
        self.nbits -= l
        self.acc &= (1 << self.nbits) - 1
        return sym

    def restart(self, n: int) -> None:
        """Consume fill bytes + the expected RSTn marker, reset the bit
        buffer (spec E.2.4)."""
        self.acc = 0
        self.nbits = 0
        data = self.data
        pos = self.pos
        while pos + 1 < len(data) and data[pos] == 0xFF and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data) or data[pos] != 0xFF:
            raise ValueError("expected restart marker")
        if data[pos + 1] != 0xD0 + (n & 7):
            raise ValueError("restart marker out of sequence")
        self.pos = pos + 2


def _extend(v: int, t: int) -> int:
    """Spec EXTEND: map the t-bit received value to its signed coefficient."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


# --- decoder -----------------------------------------------------------------


class _Component:
    __slots__ = ("cid", "h", "v", "tq", "td", "ta", "blocks", "bw", "bh", "pred")

    def __init__(self, cid: int, h: int, v: int, tq: int):
        self.cid, self.h, self.v, self.tq = cid, h, v, tq
        self.pred = 0


def decode_jpeg(data: bytes) -> Image:
    """Hostile-input contract: ANY corrupt stream raises ValueError (the
    mapInPandas stages' drop rule catches exactly that) — deep parse
    failures (short buffers, dangling table ids, insane bit counts) must
    never escape as struct.error/KeyError/IndexError/OverflowError and
    kill a task.  See `_decode_jpeg_checked`."""
    try:
        return _decode_jpeg_checked(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e


def decode_jpeg_deep(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Full-precision decode → (w, h, ncomp, precision, uint16 samples of
    shape (h, w, ncomp)).  Covers every natively-decoded process: 8-bit
    streams come back verbatim (widened to uint16), 12-bit extended
    sequential / progressive (SOF1/SOF2, r7) keep their 12-bit range,
    and lossless SOF3 routes to the Annex-H parser.  ``decode_jpeg``
    stays the 8-bit display lane (top-8-bits rule for deep samples)."""
    try:
        return _decode_jpeg_checked(data, deep=True)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e


def _decode_jpeg_checked(data: bytes, deep: bool = False):
    """Decode JPEG bytes → pixels.Image tuple (w, h, ch, buf); ch = 1
    (grayscale) or 3 (RGB from YCbCr).  Handles baseline/extended
    sequential (SOF0/SOF1, 8- AND 12-bit) AND progressive (SOF2 both
    precisions, r5/r7 — spectral selection, successive approximation,
    EOB runs; the jdphuff.c scan semantics).  ValueError on corrupt
    data, NotImplementedError on hierarchical / 12-bit-arithmetic
    streams (the PIL codec gate covers those); arithmetic (SOF9/SOF10)
    and lossless (SOF3) streams decode natively.  ``deep`` returns the
    full-precision 5-tuple instead (see decode_jpeg_deep)."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _Huff] = {}
    ac_tabs: dict[int, _Huff] = {}
    dac_dc: dict[int, tuple[int, int]] = {}  # DC conditioning: (L, U)
    dac_ac: dict[int, int] = {}  # AC conditioning: Kx
    comps: list[_Component] = []
    width = height = 0
    prec = 8
    restart_interval = 0
    progressive = False
    arith = False
    saw_scan = False
    out: np.ndarray | None = None

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    vals = list(seg[i : i + 64])
                    i += 64
                else:
                    vals = [
                        struct.unpack(">H", seg[i + 2 * k : i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    i += 128
                nat = np.zeros(64, np.int64)
                for k, v in enumerate(vals):
                    nat[ZIGZAG[k]] = v
                qt[tq] = nat
        elif marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
            # SOF0/SOF1 sequential, SOF2 progressive (Huffman);
            # SOF9 sequential, SOF10 progressive (arithmetic, r7)
            progressive = marker in (0xC2, 0xCA)
            arith = marker in (0xC9, 0xCA)
            prec = seg[0]
            if prec != 8 and not (prec == 12 and marker in (0xC1, 0xC2)):
                # 12-bit rides the Huffman extended/progressive processes
                # only (the BITS_IN_JSAMPLE=12 libjpeg build's surface)
                raise NotImplementedError(f"{prec}-bit JPEG not supported")
            height, width = struct.unpack(">HH", seg[1:5])
            # pixels.MAX_PIXELS sanity bound (shared with BMP/GIF/PNG):
            # without it a ~100-byte SOF can demand tens of GB of
            # coefficient storage before any entropy data is read
            if width * height > MAX_PIXELS:
                raise ValueError("JPEG dims exceed sanity bound")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component JPEG")
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comp = _Component(cid, hv >> 4, hv & 15, tq)
                if not (1 <= comp.h <= 2 and 1 <= comp.v <= 2):
                    raise NotImplementedError(
                        f"sampling {comp.h}x{comp.v} not supported"
                    )
                comps.append(comp)
            if progressive:
                _alloc_blocks(comps, width, height)
        elif marker == 0xC3:  # SOF3 lossless (r7) — dedicated parser
            if deep:
                return _decode_lossless_checked(data)
            return _lossless_to_image(data)
        elif marker == 0xDE:  # DHP: hierarchical sequence (r7) — delegate
            return _decode_hierarchical(data, deep)
        elif marker in (0xC5, 0xC6, 0xC7, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG process (SOF marker 0x{marker:02x}) — "
                "use the native-codec lane"
            )
        elif marker == 0xCC:  # DAC: arithmetic conditioning (B.2.4.3)
            i = 0
            while i + 1 < len(seg):
                tc, tb = seg[i] >> 4, seg[i] & 15
                cs = seg[i + 1]
                if tc == 0:
                    lo, up = cs & 15, cs >> 4
                    if not lo <= up:
                        raise ValueError("bad DC conditioning (L > U)")
                    dac_dc[tb] = (lo, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError("bad AC conditioning Kx")
                    dac_ac[tb] = cs
                i += 2
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = bytes(seg[i + 17 : i + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _Huff(bits, vals)
                i += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in comps if x.cid == cs), None)
                if comp is None:
                    raise ValueError(f"SOS references unknown component {cs}")
                comp.td, comp.ta = tdta >> 4, tdta & 15
                scan.append(comp)
            if progressive:
                ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                if arith:
                    pos = _prog_scan_arith(
                        data, pos + 2 + seglen, scan, comps,
                        dac_dc, dac_ac, restart_interval,
                        ss, se, ahal >> 4, ahal & 15, width, height,
                    )
                else:
                    pos = _prog_scan(
                        data, pos + 2 + seglen, scan, comps,
                        dc_tabs, ac_tabs, restart_interval,
                        ss, se, ahal >> 4, ahal & 15, width, height,
                    )
                saw_scan = True
                continue  # more scans follow until EOI
            if arith:
                out = _decode_scan_arith(
                    data, pos + 2 + seglen, scan, comps, width, height,
                    qt, dac_dc, dac_ac, restart_interval,
                )
            else:
                out = _decode_scan(
                    data, pos + 2 + seglen, scan, comps, width, height,
                    qt, dc_tabs, ac_tabs, restart_interval, prec,
                )
            break  # single-scan baseline: done after first SOS
        # else: APPn/COM — skip
        pos += 2 + seglen

    if progressive and saw_scan:
        out = _finalize(comps, width, height, qt, prec)
    if out is None or not comps:
        raise ValueError("no SOS/SOF in JPEG stream")
    ch = 1 if len(comps) == 1 else 3
    if deep:
        arr = out.astype(np.uint16)
        if arr.ndim == 2:
            arr = arr[..., None]
        return (width, height, ch, prec, arr)
    if prec > 8:
        # display mapping: top 8 bits (the lossless/TIFF-16 rule)
        out = (out >> (prec - 8)).astype(np.uint8)
    return (width, height, ch, out.tobytes())


def _decode_scan(
    data: bytes,
    pos: int,
    scan: list[_Component],
    comps: list[_Component],
    width: int,
    height: int,
    qt: dict[int, np.ndarray],
    dc_tabs: dict[int, _Huff],
    ac_tabs: dict[int, _Huff],
    restart_interval: int,
    prec: int = 8,
) -> np.ndarray:
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    if len(scan) == 1 and len(comps) == 1:
        # non-interleaved single-component scan: MCU = one block
        c = scan[0]
        c.bw = (width + 7) // 8
        c.bh = (height + 7) // 8
        order = [(c, 0, 0)]
        mcus_x, mcus_y = c.bw, c.bh
    elif len(scan) == len(comps):
        mcu_w, mcu_h = 8 * hmax, 8 * vmax
        mcus_x = (width + mcu_w - 1) // mcu_w
        mcus_y = (height + mcu_h - 1) // mcu_h
        order = []
        for c in scan:
            c.bw = mcus_x * c.h
            c.bh = mcus_y * c.v
            # block order inside an MCU: v rows of h blocks (spec A.2.3)
        order = [(c, by, bx) for c in scan for by in range(c.v) for bx in range(c.h)]
    else:
        raise NotImplementedError("multi-scan baseline JPEG not supported")

    for c in comps:
        c.blocks = np.zeros((c.bh * c.bw, 64), np.int64)
        c.pred = 0

    reader = _BitReader(data, pos)
    nmcu = mcus_x * mcus_y
    rst = 0
    for m in range(nmcu):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart(rst)
            rst = (rst + 1) & 7
            for c in comps:
                c.pred = 0
        my, mx = divmod(m, mcus_x)
        for c, by, bx in order:
            if len(order) == 1:
                row, col = my, mx
            else:
                row, col = my * c.v + by, mx * c.h + bx
            _decode_block(
                reader, c.blocks[row * c.bw + col],
                dc_tabs[c.td], ac_tabs[c.ta], c,
            )

    return _finalize(comps, width, height, qt, prec)


def _finalize(
    comps: list[_Component], width: int, height: int,
    qt: dict[int, np.ndarray], prec: int = 8,
) -> np.ndarray:
    """Dequant + IDCT + upsample + color-convert the accumulated
    coefficient arrays (shared by the sequential and progressive paths)."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    planes = []
    for c in comps:
        samples = idct_islow_blocks(c.blocks, qt[c.tq], prec)  # (n, 8, 8)
        plane = (
            samples.reshape(c.bh, c.bw, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(c.bh * 8, c.bw * 8)
        )
        # crop to the component's true (downsampled) size before upsampling
        cw = (width * c.h + hmax - 1) // hmax
        ch = (height * c.v + vmax - 1) // vmax
        plane = plane[:ch, :cw]
        rh, rv = hmax // c.h, vmax // c.v
        if (rh, rv) == (1, 1):
            up = plane.astype(np.int32)
        elif (rh, rv) == (2, 1):
            up = _h2v1_fancy(plane)
        elif (rh, rv) == (2, 2):
            up = _h2v2_fancy(plane)
        else:
            up = _box_upsample(plane, rh, rv)
        planes.append(up[:height, :width])

    if len(planes) == 1:
        return planes[0].astype(np.uint8 if prec == 8 else np.uint16)
    return ycc_to_rgb(planes[0], planes[1], planes[2], prec)


def _decode_block(
    reader: _BitReader, block: np.ndarray, dc: _Huff, ac: _Huff, comp: _Component
) -> None:
    t = reader.decode(dc)
    diff = _extend(reader.receive(t), t)
    comp.pred += diff
    block[0] = comp.pred
    k = 1
    while k < 64:
        rs = reader.decode(ac)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC index overrun")
        block[ZIGZAG[k]] = _extend(reader.receive(s), s)
        k += 1


# --- progressive scans (jdphuff.c semantics) ---------------------------------


def _alloc_blocks(comps: list[_Component], width: int, height: int) -> None:
    """Full-image coefficient storage at the interleaved-MCU padded grid
    (progressive scans accumulate into it across the whole stream)."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    mcus_x = (width + 8 * hmax - 1) // (8 * hmax)
    mcus_y = (height + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c.bw = mcus_x * c.h
        c.bh = mcus_y * c.v
        c.blocks = np.zeros((c.bh * c.bw, 64), np.int64)
        c.pred = 0


def _next_marker_pos(data: bytes, pos: int) -> int:
    """Advance past the remaining entropy bytes to the next real marker
    (skipping 0xFF00 stuffing, fill bytes and stray RSTn)."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        nxt = data[pos + 1]
        if nxt == 0x00:
            pos += 2
        elif nxt == 0xFF:
            pos += 1
        elif 0xD0 <= nxt <= 0xD7:
            pos += 2
        else:
            return pos
    return n


class _ProgState:
    __slots__ = ("eobrun",)

    def __init__(self) -> None:
        self.eobrun = 0


def _dc_first_block(reader, block, dc, comp, al) -> None:
    t = reader.decode(dc)
    diff = _extend(reader.receive(t), t)
    comp.pred += diff
    block[0] = comp.pred << al


def _dc_refine_block(reader, block, al) -> None:
    if reader.receive(1):
        block[0] |= 1 << al  # jdphuff: OR the new bit in, never add


def _ac_first_block(reader, block, ac, ss, se, al, st: _ProgState) -> None:
    if st.eobrun > 0:
        st.eobrun -= 1
        return
    k = ss
    while k <= se:
        rs = reader.decode(ac)
        r, s = rs >> 4, rs & 15
        if s:
            k += r
            if k > se:
                raise ValueError("AC index overrun in progressive scan")
            block[ZIGZAG[k]] = _extend(reader.receive(s), s) << al
            k += 1
        else:
            if r != 15:
                st.eobrun = (1 << r) - 1
                if r:
                    st.eobrun += reader.receive(r)
                break
            k += 16  # ZRL


def _ac_refine_block(reader, block, ac, ss, se, al, st: _ProgState) -> None:
    """jdphuff decode_mcu_AC_refine: correction bits for already-nonzero
    coefficients, ±1<<Al for newly-nonzero ones, EOB-run handling.  A
    correction bit is READ for every nonzero-history coefficient passed,
    applied only when the Al bit is still clear."""
    p1 = 1 << al
    m1 = (-1) << al

    def refine(k: int) -> None:
        pos = ZIGZAG[k]
        coef = int(block[pos])
        if coef != 0:
            if reader.receive(1) and (coef & p1) == 0:
                block[pos] = coef + (p1 if coef >= 0 else m1)

    k = ss
    if st.eobrun > 0:  # block inside an EOB run: refinement only
        st.eobrun -= 1
        while k <= se:
            refine(k)
            k += 1
        return
    while k <= se:
        rs = reader.decode(ac)
        r, s = rs >> 4, rs & 15
        if s:
            if s != 1:
                raise ValueError("bad AC refinement symbol")
            val = p1 if reader.receive(1) else m1
        elif r != 15:
            # EOB: this block consumes one run slot; rest of band refines
            st.eobrun = (1 << r) - 1
            if r:
                st.eobrun += reader.receive(r)
            while k <= se:
                refine(k)
                k += 1
            return
        else:
            val = 0  # ZRL: skip 16 zero-history positions
        # advance past r zero-HISTORY coefficients, reading correction
        # bits for every nonzero-history coefficient passed on the way
        while k <= se:
            pos = ZIGZAG[k]
            coef = int(block[pos])
            if coef != 0:
                if reader.receive(1) and (coef & p1) == 0:
                    block[pos] = coef + (p1 if coef >= 0 else m1)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if s and k <= se:
            block[ZIGZAG[k]] = val
        k += 1


def _prog_scan(
    data: bytes,
    pos: int,
    scan: list[_Component],
    comps: list[_Component],
    dc_tabs: dict[int, _Huff],
    ac_tabs: dict[int, _Huff],
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    width: int,
    height: int,
) -> int:
    """Decode one progressive scan into the persistent coefficient arrays;
    returns the byte offset of the marker that follows the scan."""
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan with Se != 0")
    else:
        if len(scan) != 1:
            raise ValueError("AC progressive scan must be non-interleaved")
        if not 1 <= ss <= se <= 63:
            raise ValueError(f"bad spectral range {ss}..{se}")
    units = _scan_units(scan, comps, width, height)

    reader = _BitReader(data, pos)
    st = _ProgState()
    rst = 0
    for m, unit in enumerate(units):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart(rst)
            rst = (rst + 1) & 7
            st.eobrun = 0
            for c in comps:
                c.pred = 0
        for c, block_ix in unit:
            block = c.blocks[block_ix]
            if ss == 0:
                if ah == 0:
                    _dc_first_block(reader, block, dc_tabs[c.td], c, al)
                else:
                    _dc_refine_block(reader, block, al)
            else:
                if ah == 0:
                    _ac_first_block(reader, block, ac_tabs[c.ta], ss, se, al, st)
                else:
                    _ac_refine_block(reader, block, ac_tabs[c.ta], ss, se, al, st)
    return _next_marker_pos(data, reader.pos)


def _scan_units(
    scan: list[_Component], comps: list[_Component], width: int, height: int
) -> list:
    """The ordered data units of a scan: interleaved MCUs (each a list of
    (comp, block_index)) when the scan covers >1 component, else the
    single component's blocks over its CEIL grid — ceil(downsampled/8),
    which can be smaller than the MCU-padded storage grid; the row stride
    into storage is the padded c.bw (spec G.1/A.2)."""
    if len(scan) > 1:
        c0 = scan[0]
        mcus_x = c0.bw // c0.h
        mcus_y = c0.bh // c0.v
        units = []
        for m in range(mcus_x * mcus_y):
            my, mx = divmod(m, mcus_x)
            unit = [
                (c, (my * c.v + by) * c.bw + (mx * c.h + bx))
                for c in scan
                for by in range(c.v)
                for bx in range(c.h)
            ]
            units.append(unit)
        return units
    c = scan[0]
    hmax = max(x.h for x in comps)
    vmax = max(x.v for x in comps)
    cw = (width * c.h + hmax - 1) // hmax  # downsampled pixel dims
    ch = (height * c.v + vmax - 1) // vmax
    cw_blocks = (cw + 7) // 8
    ch_blocks = (ch + 7) // 8
    return [
        [(c, row * c.bw + col)]
        for row in range(ch_blocks)
        for col in range(cw_blocks)
    ]


# --- arithmetic-coded scans (T.81 Annexes F/G entropy via kernels/jparith) ---


def _arith_cond(
    dac_dc: dict[int, tuple[int, int]], dac_ac: dict[int, int],
    td: int, ta: int,
) -> tuple[int, int, int]:
    """(L, U, Kx) conditioning for one component's scan tables, with the
    spec defaults when no DAC segment set them (F.1.4.4.1.2 / F.1.4.4.2)."""
    lo, up = dac_dc.get(td, (jparith.DC_DEFAULT_L, jparith.DC_DEFAULT_U))
    kx = dac_ac.get(ta, jparith.AC_DEFAULT_KX)
    return lo, up, kx


def _find_restart(data: bytes, pos: int, expect: int) -> int:
    """Position just past the expected RSTn marker at/after ``pos``
    (skipping unconsumed entropy bytes).  Raises ValueError when a
    different marker appears — a hostile or truncated stream."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] != 0xFF:
            pos += 1
        elif data[pos + 1] == 0x00:
            pos += 2
        elif data[pos + 1] == 0xFF:
            pos += 1
        else:
            if data[pos + 1] != 0xD0 + expect:
                raise ValueError("missing restart marker in arithmetic scan")
            return pos + 2
    raise ValueError("truncated arithmetic scan (no restart marker)")


def _decode_scan_arith(
    data: bytes,
    pos: int,
    scan: list[_Component],
    comps: list[_Component],
    width: int,
    height: int,
    qt: dict[int, np.ndarray],
    dac_dc: dict[int, tuple[int, int]],
    dac_ac: dict[int, int],
    restart_interval: int,
) -> np.ndarray:
    """Sequential arithmetic scan (SOF9): the Annex F statistical model
    over the shared MCU geometry; statistics, DC contexts and predictors
    reset at every restart marker (F.1.4.1)."""
    hmax = max(c.h for c in comps)
    vmax = max(c.v for c in comps)
    if len(scan) == 1 and len(comps) == 1:
        c = scan[0]
        c.bw = (width + 7) // 8
        c.bh = (height + 7) // 8
        order = [(c, 0, 0)]
        mcus_x, mcus_y = c.bw, c.bh
    elif len(scan) == len(comps):
        mcu_w, mcu_h = 8 * hmax, 8 * vmax
        mcus_x = (width + mcu_w - 1) // mcu_w
        mcus_y = (height + mcu_h - 1) // mcu_h
        for c in scan:
            c.bw = mcus_x * c.h
            c.bh = mcus_y * c.v
        order = [(c, by, bx) for c in scan for by in range(c.v) for bx in range(c.h)]
    else:
        raise NotImplementedError("multi-scan sequential JPEG not supported")

    for c in comps:
        c.blocks = np.zeros((c.bh * c.bw, 64), np.int64)

    def fresh_stats():
        dc_st = {c.td: jparith.new_stats(jparith.DC_STAT_BINS) for c in scan}
        ac_st = {c.ta: jparith.new_stats(jparith.AC_STAT_BINS) for c in scan}
        for c in comps:
            c.pred = 0
        return dc_st, ac_st, {id(c): 0 for c in comps}

    dec = jparith.ArithDecoder(data, pos)
    fixed = jparith.fixed_stats()
    dc_st, ac_st, dc_ctx = fresh_stats()
    nmcu = mcus_x * mcus_y
    rst = 0
    for m in range(nmcu):
        if restart_interval and m and m % restart_interval == 0:
            nxt = _find_restart(data, dec.pos, rst)
            rst = (rst + 1) & 7
            dec = jparith.ArithDecoder(data, nxt)
            dc_st, ac_st, dc_ctx = fresh_stats()
        my, mx = divmod(m, mcus_x)
        for c, by, bx in order:
            if len(order) == 1:
                row, col = my, mx
            else:
                row, col = my * c.v + by, mx * c.h + bx
            block = c.blocks[row * c.bw + col]
            lo, up, kx = _arith_cond(dac_dc, dac_ac, c.td, c.ta)
            diff, dc_ctx[id(c)] = jparith.decode_dc_diff(
                dec, dc_st[c.td], dc_ctx[id(c)], lo, up
            )
            c.pred += diff
            block[0] = c.pred
            jparith.decode_ac_coefs(
                dec, ac_st[c.ta], fixed, block, ZIGZAG, 1, 63, 0, kx
            )

    return _finalize(comps, width, height, qt)


def _ac_refine_arith(dec, st, fixed, block, ss, se, al, kex) -> None:
    """Progressive AC refinement (G.1.3.3 / jdarith.c decode_mcu_AC_refine):
    kex is the highest index nonzero after the PREVIOUS stage; the EOB
    decision only exists beyond it.  Correction bits add ±(1<<al) to
    already-nonzero coefficients unconditionally (the arithmetic model,
    unlike the Huffman one, codes the increment itself)."""
    p1 = 1 << al
    m1 = (-1) << al
    k = ss
    while k <= se:
        i = 3 * (k - 1)
        if k > kex:
            if dec.decode(st, i):
                return  # EOB
        while True:
            npos = ZIGZAG[k]
            coef = int(block[npos])
            if coef != 0:
                if dec.decode(st, i + 2):
                    block[npos] = coef + (p1 if coef >= 0 else m1)
                break
            if dec.decode(st, i + 1):
                block[npos] = m1 if dec.decode(fixed, 0) else p1
                break
            i += 3
            k += 1
            if k > se:
                raise ValueError("arith AC refine overrun")
        k += 1


def _prog_scan_arith(
    data: bytes,
    pos: int,
    scan: list[_Component],
    comps: list[_Component],
    dac_dc: dict[int, tuple[int, int]],
    dac_ac: dict[int, int],
    restart_interval: int,
    ss: int,
    se: int,
    ah: int,
    al: int,
    width: int,
    height: int,
) -> int:
    """One progressive arithmetic scan (SOF10) into the persistent
    coefficient arrays; returns the offset of the following marker.
    Statistics are fresh per scan and per restart (G.1.3)."""
    if ss == 0:
        if se != 0:
            raise ValueError("DC scan with Se != 0")
    else:
        if len(scan) != 1:
            raise ValueError("AC progressive scan must be non-interleaved")
        if not 1 <= ss <= se <= 63:
            raise ValueError(f"bad spectral range {ss}..{se}")
    units = _scan_units(scan, comps, width, height)

    def fresh_stats():
        if ss == 0:
            st = {c.td: jparith.new_stats(jparith.DC_STAT_BINS) for c in scan}
        else:
            st = {c.ta: jparith.new_stats(jparith.AC_STAT_BINS) for c in scan}
        for c in comps:
            c.pred = 0
        return st, {id(c): 0 for c in comps}

    dec = jparith.ArithDecoder(data, pos)
    fixed = jparith.fixed_stats()
    stats, dc_ctx = fresh_stats()
    rst = 0
    for m, unit in enumerate(units):
        if restart_interval and m and m % restart_interval == 0:
            nxt = _find_restart(data, dec.pos, rst)
            rst = (rst + 1) & 7
            dec = jparith.ArithDecoder(data, nxt)
            stats, dc_ctx = fresh_stats()
        for c, block_ix in unit:
            block = c.blocks[block_ix]
            lo, up, kx = _arith_cond(dac_dc, dac_ac, c.td, c.ta)
            if ss == 0:
                if ah == 0:
                    diff, dc_ctx[id(c)] = jparith.decode_dc_diff(
                        dec, stats[c.td], dc_ctx[id(c)], lo, up
                    )
                    c.pred += diff
                    block[0] = c.pred << al
                else:
                    if dec.decode(fixed, 0):
                        block[0] |= 1 << al
            else:
                if ah == 0:
                    jparith.decode_ac_coefs(
                        dec, stats[c.ta], fixed, block, ZIGZAG, ss, se, al, kx
                    )
                else:
                    kex = se
                    while kex > 0 and block[ZIGZAG[kex]] == 0:
                        kex -= 1
                    _ac_refine_arith(
                        dec, stats[c.ta], fixed, block, ss, se, al, kex
                    )
    return _next_marker_pos(data, dec.pos)


# --- lossless process (SOF3, T.81 Annex H) -----------------------------------

#: Annex H.1.2.1 predictor selections: a = Ra (left), b = Rb (above),
#: c = Rc (above-left).  Python's // and >> are arithmetic (floor) on
#: negative ints, matching the spec's integer divide-by-two.
_LL_PREDICT = {
    1: lambda a, b, c: a,
    2: lambda a, b, c: b,
    3: lambda a, b, c: c,
    4: lambda a, b, c: a + b - c,
    5: lambda a, b, c: a + ((b - c) >> 1),
    6: lambda a, b, c: b + ((a - c) >> 1),
    7: lambda a, b, c: (a + b) >> 1,
}


def decode_jpeg_lossless(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    """Decode a lossless (SOF3, process 14) JPEG at FULL precision →
    ``(width, height, ncomp, precision, samples)`` with ``samples`` a
    uint16 array of shape (height, width, ncomp), point transform already
    undone (values multiplied back by 2^Pt, Annex H.2.2).

    The reference pipeline's PIL loader cannot decode SOF3 at all, so —
    like the SOF9/SOF10 arithmetic lanes — this EXCEEDS the reference
    codec surface rather than reproducing a library.  The in-sandbox spec
    is the independent encoder transcription in
    tests/test_jpeg_lossless.py (T.81 Annex H prediction + difference
    coding written from the spec text), which must round-trip bit-exactly
    through this decoder; change both together or not at all.

    Supported: precision 2–16, predictors 1–7, point transform,
    grayscale / 3-component (1x1 sampling when interleaved), single- or
    per-component scans, row-aligned restart intervals.  Components are
    emitted VERBATIM (lossless JPEG carries no subsampled YCbCr; DNG-style
    payloads keep their own color meaning).  Hostile-input contract
    mirrors ``decode_jpeg``: ValueError only.
    """
    try:
        return _decode_lossless_checked(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e


def _lossless_to_image(data: bytes) -> Image:
    """8-bit Image-tuple view of a lossless stream (the decode_jpeg lane):
    precision 8 is verbatim; deeper samples keep their top 8 bits
    (val >> (P-8)); shallower samples are left-shifted to full byte
    range — a deterministic display mapping, full precision via
    decode_jpeg_lossless."""
    w, h, ncomp, prec, arr = _decode_lossless_checked(data)
    if prec == 8:
        buf = arr.astype(np.uint8)
    elif prec < 8:
        buf = (arr << (8 - prec)).astype(np.uint8)
    else:
        buf = (arr >> (prec - 8)).astype(np.uint8)
    return (w, h, ncomp, buf.tobytes())


def _decode_lossless_checked(data: bytes) -> tuple[int, int, int, int, np.ndarray]:
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    pos = 2
    dc_tabs: dict[int, _Huff] = {}
    comps: list[_Component] = []
    planes: dict[int, list[list[int]]] = {}  # cid -> rows of reconstructed values
    pts: dict[int, int] = {}  # cid -> point transform of the scan that wrote it
    decoded: set[int] = set()
    width = height = prec = 0
    restart_interval = 0

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xC3:
            prec = seg[0]
            if not 2 <= prec <= 16:
                raise ValueError(f"bad lossless precision {prec}")
            height, width = struct.unpack(">HH", seg[1:5])
            if width * height > MAX_PIXELS:
                raise ValueError("JPEG dims exceed sanity bound")
            if not width or not height:
                raise ValueError("zero-dimension lossless JPEG")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component lossless JPEG")
            comps = []
            for c in range(ncomp):
                cid, hv, _tq = seg[6 + 3 * c : 9 + 3 * c]
                comp = _Component(cid, hv >> 4, hv & 15, 0)
                if ncomp > 1 and (comp.h, comp.v) != (1, 1):
                    raise NotImplementedError(
                        "subsampled multi-component lossless JPEG"
                    )
                comps.append(comp)
                planes[cid] = [[0] * width for _ in range(height)]
        elif marker == 0xC4:  # DHT — lossless uses DC-class tables only
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = bytes(seg[i + 17 : i + 17 + n])
                if tc == 0:
                    dc_tabs[th] = _Huff(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:
            if not comps:
                raise ValueError("SOS before SOF3")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in comps if x.cid == cs), None)
                if comp is None:
                    raise ValueError(f"SOS references unknown component {cs}")
                comp.td = tdta >> 4
                if comp.td not in dc_tabs:
                    raise ValueError(f"SOS references missing DC table {comp.td}")
                scan.append(comp)
            psel, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            pt = ahal & 15
            if not 1 <= psel <= 7:
                raise ValueError(f"bad lossless predictor {psel}")
            if se != 0 or (ahal >> 4) != 0:
                raise ValueError("bad lossless scan header (Se/Ah)")
            if pt >= prec:
                raise ValueError("point transform >= precision")
            pos = _lossless_scan(
                data, pos + 2 + seglen, scan, planes, dc_tabs,
                prec, psel, pt, restart_interval, width, height,
            )
            for c in scan:
                decoded.add(c.cid)
                pts[c.cid] = pt
            continue
        pos += 2 + seglen

    if not comps or decoded != {c.cid for c in comps}:
        raise ValueError("lossless stream missing scans for some components")
    out = np.zeros((height, width, len(comps)), np.uint16)
    for k, c in enumerate(comps):
        arr = np.array(planes[c.cid], np.uint32)
        out[:, :, k] = ((arr << pts[c.cid]) & 0xFFFF).astype(np.uint16)
    return (width, height, len(comps), prec, out)


def _lossless_scan(
    data: bytes,
    pos: int,
    scan: list[_Component],
    planes: dict[int, list[list[int]]],
    dc_tabs: dict[int, _Huff],
    prec: int,
    psel: int,
    pt: int,
    restart_interval: int,
    width: int,
    height: int,
) -> int:
    """Decode one lossless scan (interleaved over all its components —
    with 1x1 sampling an MCU is one sample per component, A.2.3) into
    the reconstructed-sample planes; returns the offset of the marker
    following the scan.

    Restart intervals are supported when row-aligned (a multiple of the
    samples-per-line MCU count): T.81 H.2.3 resets prediction at each
    restart exactly as at the start of the scan, so the restart row is
    treated as a first line (default-predicted first sample, then Ra).
    Mid-row restarts would leave the 2-D predictors' upper neighbours
    crossing the reset boundary — rejected rather than guessed.

    Entropy decoding is bit-serial and the 2-D predictors carry a
    left+above wavefront dependency, so this stays a per-sample Python
    loop (same standing as the Huffman block loops); the lane is a codec
    gate, not a hot path — Arrow-batched callers parallelize per image.
    """
    if restart_interval and restart_interval % width != 0:
        raise NotImplementedError(
            "non-row-aligned lossless restart interval"
        )
    default = 1 << (prec - pt - 1)
    predict = _LL_PREDICT[psel]
    tabs = [dc_tabs[c.td] for c in scan]
    rows = [planes[c.cid] for c in scan]
    reader = _BitReader(data, pos)
    mcu = 0
    rst = 0
    top = 0  # row index where prediction last reset (scan start / restart)
    for r in range(height):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.restart(rst)
            rst = (rst + 1) & 7
            top = r
        cur = [rows[k][r] for k in range(len(scan))]
        prev = [rows[k][r - 1] for k in range(len(scan))] if r else None
        first_line = r == top
        for cx in range(width):
            for k in range(len(scan)):
                if first_line:
                    px = default if cx == 0 else cur[k][cx - 1]
                elif cx == 0:
                    px = prev[k][0]
                else:
                    px = predict(cur[k][cx - 1], prev[k][cx], prev[k][cx - 1])
                t = reader.decode(tabs[k])
                if t > 16:
                    raise ValueError(f"bad lossless difference category {t}")
                diff = 32768 if t == 16 else _extend(reader.receive(t), t)
                cur[k][cx] = (px + diff) & 0xFFFF
            mcu += 1
    return _next_marker_pos(data, reader.pos)


# --- hierarchical process (DHP/EXP + differential frames, Annex J) -----------


def _hier_upsample(plane: np.ndarray, eh: int, ev: int) -> np.ndarray:
    """T.81 J.1.1.2 reference-expansion filter, one doubling per axis:
    even output samples copy the input, odd ones are the rounded mean of
    the two neighbours, and the trailing odd sample replicates the last
    input (the spec's edge rule)."""
    out = plane.astype(np.int64)
    if eh:
        left = out
        right = np.concatenate([out[:, 1:], out[:, -1:]], axis=1)
        o = np.empty((out.shape[0], out.shape[1] * 2), np.int64)
        o[:, 0::2] = left
        o[:, 1::2] = (left + right + 1) >> 1
        out = o
    if ev:
        top = out
        bot = np.concatenate([out[1:], out[-1:]], axis=0)
        o = np.empty((out.shape[0] * 2, out.shape[1]), np.int64)
        o[0::2] = top
        o[1::2] = (top + bot + 1) >> 1
        out = o
    return out


def _hier_frame_scan(
    data: bytes,
    pos: int,
    scan: list[_Component],
    width: int,
    height: int,
    dc_tabs: dict[int, _Huff],
    ac_tabs: dict[int, _Huff],
    restart_interval: int,
) -> tuple[int, dict[int, np.ndarray]]:
    """One sequential Huffman scan of a hierarchical frame (all
    components 1x1 by the caller's scope check) → per-component (n, 64)
    coefficient arrays in block-raster order; returns (next-marker
    offset, {cid: blocks})."""
    bw = (width + 7) // 8
    bh = (height + 7) // 8
    blocks = {c.cid: np.zeros((bw * bh, 64), np.int64) for c in scan}
    for c in scan:
        c.pred = 0
    reader = _BitReader(data, pos)
    rst = 0
    for m in range(bw * bh):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart(rst)
            rst = (rst + 1) & 7
            for c in scan:
                c.pred = 0
        for c in scan:
            _decode_block(
                reader, blocks[c.cid][m], dc_tabs[c.td], ac_tabs[c.ta], c
            )
    return _next_marker_pos(data, reader.pos), blocks


def _decode_hierarchical(data: bytes, deep: bool = False):
    """Annex J hierarchical sequence: DHP gives the full-resolution frame
    header; each subsequent frame is sequential Huffman — SOF0/SOF1
    non-differential or SOF5 differential (IDCT output added to the
    EXP-upsampled reference, J.1.1.3) — over per-component reference
    planes.  Scope (the honest subset): 8- or 12-bit, components 1x1 in
    every frame, sequential Huffman frames only (differential
    progressive/lossless/arithmetic stay behind the gate).  The spec
    lane is the hand-computable fixture battery in
    tests/test_jpeg_hierarchical.py (DC-only closed forms + an
    independent transcription of the J.1.1.2 expansion filter)."""
    pos = 2
    qt: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, _Huff] = {}
    ac_tabs: dict[int, _Huff] = {}
    restart_interval = 0
    full_w = full_h = 0
    prec = 8
    comp_order: list[int] = []
    refs: dict[int, np.ndarray] = {}
    pending_exp: tuple[int, int] | None = None
    frame: list[_Component] | None = None
    frame_w = frame_h = 0
    differential = False

    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"bad marker alignment at {pos}")
        marker = data[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        if marker == 0xD9:
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDE:  # DHP
            prec = seg[0]
            if prec not in (8, 12):
                raise NotImplementedError(f"{prec}-bit hierarchical JPEG")
            full_h, full_w = struct.unpack(">HH", seg[1:5])
            if full_w * full_h > MAX_PIXELS or not full_w or not full_h:
                raise ValueError("bad hierarchical dims")
            ncomp = seg[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(f"{ncomp}-component hierarchical")
            comp_order = [seg[6 + 3 * c] for c in range(ncomp)]
        elif marker == 0xDF:  # EXP
            pending_exp = (seg[0] >> 4, seg[0] & 15)
        elif marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 15
                i += 1
                if pq == 0:
                    vals = list(seg[i : i + 64])
                    i += 64
                else:
                    vals = [
                        struct.unpack(">H", seg[i + 2 * k : i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    i += 128
                nat = np.zeros(64, np.int64)
                for k, v in enumerate(vals):
                    nat[ZIGZAG[k]] = v
                qt[tq] = nat
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 15
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = bytes(seg[i + 17 : i + 17 + n])
                (dc_tabs if tc == 0 else ac_tabs)[th] = _Huff(bits, vals)
                i += 17 + n
        elif marker == 0xDD:
            (restart_interval,) = struct.unpack(">H", seg[0:2])
        elif marker in (0xC0, 0xC1, 0xC5):  # frame header
            if not comp_order:
                raise ValueError("hierarchical frame before DHP")
            if seg[0] != prec:
                raise ValueError("frame precision differs from DHP")
            differential = marker == 0xC5
            frame_h, frame_w = struct.unpack(">HH", seg[1:5])
            if frame_w * frame_h > MAX_PIXELS or not frame_w or not frame_h:
                raise ValueError("bad hierarchical frame dims")
            frame = []
            for c in range(seg[5]):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                if cid not in comp_order:
                    raise ValueError("frame component not declared in DHP")
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled hierarchical frame components"
                    )
                frame.append(_Component(cid, 1, 1, tq))
            if pending_exp is not None:
                eh, ev = pending_exp
                for c in frame:
                    if c.cid in refs:
                        refs[c.cid] = _hier_upsample(refs[c.cid], eh, ev)
                pending_exp = None
            if differential and any(c.cid not in refs for c in frame):
                raise ValueError("differential frame without a reference")
        elif marker in (0xC2, 0xC3, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical sequence with non-sequential-Huffman frame"
            )
        elif marker == 0xDA:
            if frame is None:
                raise ValueError("SOS before hierarchical frame header")
            ns = seg[0]
            scan = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c : 3 + 2 * c]
                comp = next((x for x in frame if x.cid == cs), None)
                if comp is None:
                    raise ValueError("SOS references unknown frame component")
                comp.td, comp.ta = tdta >> 4, tdta & 15
                if comp.td not in dc_tabs or comp.ta not in ac_tabs:
                    raise ValueError("SOS references missing Huffman table")
                if comp.tq not in qt:
                    raise ValueError("frame references missing quant table")
                scan.append(comp)
            pos, blocks = _hier_frame_scan(
                data, pos + 2 + seglen, scan, frame_w, frame_h,
                dc_tabs, ac_tabs, restart_interval,
            )
            bw = (frame_w + 7) // 8
            maxval = (1 << prec) - 1
            for c in scan:
                # dequant + IDCT; differential frames take the raw
                # signed sums (no level shift) and clamp only after the
                # reference add (J.1.1.3)
                raw = idct_islow_blocks(
                    blocks[c.cid], qt[c.tq], prec, signed=differential
                )
                plane = (
                    raw.reshape(-1, bw, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(-1, bw * 8)[:frame_h, :frame_w]
                    .astype(np.int64)
                )
                if differential:
                    ref = refs[c.cid]
                    if ref.shape != plane.shape:
                        raise ValueError(
                            "differential frame dims do not match reference"
                        )
                    refs[c.cid] = np.clip(ref + plane, 0, maxval)
                else:
                    refs[c.cid] = plane
            frame = None
            continue
        pos += 2 + seglen

    if not comp_order or any(cid not in refs for cid in comp_order):
        raise ValueError("hierarchical stream missing component frames")
    planes = []
    for cid in comp_order:
        p = refs[cid]
        if p.shape != (full_h, full_w):
            raise ValueError("final hierarchical frame below DHP resolution")
        planes.append(p)
    if len(planes) == 1:
        out = planes[0].astype(np.uint8 if prec == 8 else np.uint16)
    else:
        out = ycc_to_rgb(planes[0], planes[1], planes[2], prec)
    ch = 1 if len(planes) == 1 else 3
    if deep:
        arr = out.astype(np.uint16)
        if arr.ndim == 2:
            arr = arr[..., None]
        return (full_w, full_h, ch, prec, arr)
    if prec > 8:
        out = (out >> (prec - 8)).astype(np.uint8)
    return (full_w, full_h, ch, out.tobytes())


# --- encoder -----------------------------------------------------------------

# ITU-T T.81 Annex K.1 example quantization tables (the libjpeg defaults)
_Q_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_Q_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32


def _scaled_quant(base: list[int], quality: int) -> np.ndarray:
    """libjpeg jcparam.c jpeg_quality_scaling + jpeg_add_quant_table."""
    quality = max(1, min(100, quality))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    return np.array(
        [max(1, min(255, (b * scale + 50) // 100)) for b in base], np.int64
    )


# orthonormal 8-point DCT-II basis (float): M[u, x] = c(u)/2 * cos((2x+1)uπ/16)
_DCT_M = np.array(
    [
        [
            (np.sqrt(0.125) if u == 0 else 0.5)
            * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _fdct_quant(plane: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """(bh*8, bw*8) samples → (nblocks, 64) quantized natural-order coeffs.
    Float FDCT + round-half-away quantization (encoder side has no parity
    obligation — any spec-valid coefficient stream decodes identically)."""
    h, w = plane.shape
    bh, bw = h // 8, w // 8
    blocks = (
        plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    ).astype(np.float64) - 128.0
    f = np.einsum("ux,nxy,vy->nuv", _DCT_M, blocks, _DCT_M)
    q = f.reshape(-1, 64) / quant[None, :]
    return np.floor(np.abs(q) + 0.5).astype(np.int64) * np.sign(q).astype(np.int64)


def _csize(v: int) -> int:
    """Category (bit size) of a coefficient value."""
    return int(abs(v)).bit_length()


def _gen_optimal_table(freq: list[int]) -> tuple[list[int], list[int]]:
    """jchuff.c jpeg_gen_optimal_table: code lengths from frequencies with
    the JPEG 16-bit limit and the reserved all-ones code point (symbol 256
    seeded at frequency 1)."""
    freq = freq[:] + [1]  # reserve one code point
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        c1 = min(
            (i for i in range(257) if freq[i] > 0),
            key=lambda i: (freq[i], -i),
            default=-1,
        )
        rest = [i for i in range(257) if freq[i] > 0 and i != c1]
        if not rest:
            break
        c2 = min(rest, key=lambda i: (freq[i], -i))
        freq[c1] += freq[c2]
        freq[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = others[c1]
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = others[c2]
            codesize[c2] += 1
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    # limit code lengths to 16 bits (jchuff.c adjustment loop)
    for i in range(32, 16, -1):
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # remove the reserved code point
    huffval = [
        sym
        for size in range(1, 33)
        for sym in range(256)
        if codesize[sym] == size
    ]
    return bits[1:17], huffval


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    codes = {}
    code = 0
    k = 0
    for l in range(1, 17):
        for _ in range(bits[l - 1]):
            codes[vals[k]] = (code, l)
            code += 1
            k += 1
        code <<= 1
    return codes


def _block_symbols(zz: np.ndarray, nz: np.ndarray, pred: int) -> tuple[list, int]:
    """Symbol stream for one block given its ZIGZAG-order coefficients and
    the precomputed nonzero-AC positions (np.nonzero over the whole
    component at once — the per-block Python work is proportional to the
    handful of nonzero coefficients, not 64)."""
    syms = []
    dc = int(zz[0])
    diff = dc - pred
    syms.append(("dc", _csize(diff), diff))
    prev = 0
    for k in nz:
        run = k - prev - 1
        while run > 15:
            syms.append(("ac", 0xF0, 0))  # ZRL
            run -= 16
        v = int(zz[k])
        syms.append(("ac", (run << 4) | _csize(v), v))
        prev = k
    if prev < 63:
        syms.append(("ac", 0x00, 0))  # EOB
    return syms, dc


def _prep_coeffs(
    img: Image, quality: int
) -> tuple[int, int, int, list[np.ndarray], list[np.ndarray], int, int]:
    """Shared encoder front half: RGB→YCbCr 4:4:4 (or grayscale), edge
    padding to block multiples, float FDCT + quantization.  Returns
    (w, h, ch, quants, coeff_sets, bw, bh) — entropy coding (Huffman or
    arithmetic) is the caller's half."""
    w, h, ch, buf = img
    if ch not in (1, 3):
        raise ValueError(f"JPEG encodes 1 or 3 channels, got {ch}")
    if w == 0 or h == 0:
        raise ValueError("empty image")
    arr = np.frombuffer(buf, np.uint8).reshape(h, w, ch).astype(np.float64)
    if ch == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0,
        ]
    else:
        planes = [arr[..., 0]]
    planes = [np.clip(np.round(p), 0, 255) for p in planes]

    # pad to block multiples with edge replication
    bw, bh = (w + 7) // 8, (h + 7) // 8
    pw, ph = bw * 8, bh * 8
    quants = [_scaled_quant(_Q_LUMA, quality)]
    if ch == 3:
        quants.append(_scaled_quant(_Q_CHROMA, quality))
    coeff_sets = []
    for i, p in enumerate(planes):
        padded = np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
        coeff_sets.append(_fdct_quant(padded, quants[min(i, 1)]))
    return w, h, ch, quants, coeff_sets, bw, bh


def encode_jpeg_baseline(img: Image, quality: int = 95) -> bytes:
    """pixels.Image → baseline JFIF bytes.  ch==3 encodes YCbCr 4:4:4,
    ch==1 grayscale; 2/4-channel images must drop alpha first (the
    operators do).  Huffman tables are built from the actual symbol
    frequencies (two-pass, jchuff.c optimal algorithm)."""
    w, h, ch, quants, coeff_sets, bw, bh = _prep_coeffs(img, quality)

    # pass 1: symbol frequencies per table class (luma=0, chroma=1)
    ntab = 1 if ch == 1 else 2
    dc_freq = [[0] * 256 for _ in range(ntab)]
    ac_freq = [[0] * 256 for _ in range(ntab)]
    all_syms: list[list] = []
    for ci, coeffs in enumerate(coeff_sets):
        tc = min(ci, 1)
        pred = 0
        comp_syms = []
        zz_all = coeffs[:, ZIGZAG]  # zigzag reorder, all blocks at once
        nz_rows, nz_cols = np.nonzero(zz_all[:, 1:])
        nz_cols = nz_cols + 1
        splits = np.searchsorted(nz_rows, np.arange(1, coeffs.shape[0]))
        nz_per_block = np.split(nz_cols, splits)
        for n in range(coeffs.shape[0]):
            syms, pred = _block_symbols(zz_all[n], nz_per_block[n], pred)
            comp_syms.append(syms)
            for kind, sym, _v in syms:
                if kind == "dc":
                    dc_freq[tc][sym] += 1
                else:
                    ac_freq[tc][sym] += 1
        all_syms.append(comp_syms)

    dc_tabs = [_gen_optimal_table(f) for f in dc_freq]
    ac_tabs = [_gen_optimal_table(f) for f in ac_freq]
    dc_codes = [_huff_codes(*t) for t in dc_tabs]
    ac_codes = [_huff_codes(*t) for t in ac_tabs]

    # pass 2: emit (4:4:4 → MCU = one block per component, interleaved).
    # Bit-packing is inlined (one fused code+magnitude append per
    # coefficient, local-variable accumulator) — the method-call-per-bit
    # writer was the encoder hot spot at ~2M calls/image.
    body = bytearray()
    acc = 0
    nbits = 0
    for n in range(bw * bh):
        for ci in range(len(coeff_sets)):
            tc = min(ci, 1)
            dcc, acc_codes = dc_codes[tc], ac_codes[tc]
            for kind, sym, v in all_syms[ci][n]:
                if kind == "dc":
                    code, ln = dcc[sym]
                    size = sym
                else:
                    code, ln = acc_codes[sym]
                    size = 0 if sym in (0x00, 0xF0) else sym & 15
                if size:
                    mag = v if v >= 0 else v + (1 << size) - 1
                    code = (code << size) | (mag & ((1 << size) - 1))
                    ln += size
                acc = (acc << ln) | code
                nbits += ln
                while nbits >= 8:
                    nbits -= 8
                    b = (acc >> nbits) & 0xFF
                    body.append(b)
                    if b == 0xFF:
                        body.append(0)
                acc &= (1 << nbits) - 1
    if nbits:  # pad final byte with 1s
        pad = 8 - nbits
        acc = (acc << pad) | ((1 << pad) - 1)
        b = acc & 0xFF
        body.append(b)
        if b == 0xFF:
            body.append(0)

    # assemble segments
    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(quants):
        zz = bytes(int(q[ZIGZAG[k]]) for k in range(64))
        out += seg(0xDB, bytes([ti]) + zz)
    ncomp = 1 if ch == 1 else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, min(ci, 1)])
    out += seg(0xC0, sof)
    for tc, (bits, vals) in enumerate(dc_tabs):
        out += seg(0xC4, bytes([0x00 | tc]) + bytes(bits) + bytes(vals))
    for tc, (bits, vals) in enumerate(ac_tabs):
        out += seg(0xC4, bytes([0x10 | tc]) + bytes(bits) + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tc = min(ci, 1)
        sos += bytes([ci + 1, (tc << 4) | tc])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += body
    out += b"\xff\xd9"
    return bytes(out)


# --- arithmetic encoder (fixture writer for the SOF9/SOF10 decode lanes) -----


def encode_jpeg_arith(
    img: Image,
    quality: int = 95,
    progressive: bool = False,
    restart_interval: int = 0,
    emit_dac: bool = False,
) -> bytes:
    """pixels.Image → arithmetic-coded JFIF bytes (SOF9 sequential or
    SOF10 progressive, 4:4:4 / grayscale).  Entropy coding is the exact
    mirror of the decode lanes in kernels/jparith.py; DCT/quantization
    are shared with encode_jpeg_baseline, so the arithmetic and Huffman
    encodes of one image decode to IDENTICAL pixels (entropy coding is
    lossless) — the property the round-trip tests pin.  ``emit_dac``
    writes an explicit DAC segment with non-default conditioning
    (L=0,U=2 / Kx=4) to exercise that decode path."""
    w, h, ch, quants, coeff_sets, bw, bh = _prep_coeffs(img, quality)
    ncomp = 1 if ch == 1 else 3
    cond_dc = (0, 2) if emit_dac else (jparith.DC_DEFAULT_L, jparith.DC_DEFAULT_U)
    cond_kx = 4 if emit_dac else jparith.AC_DEFAULT_KX

    comps = []
    for ci in range(ncomp):
        c = _Component(ci + 1, 1, 1, min(ci, 1))
        c.td = c.ta = min(ci, 1)
        c.bw, c.bh = bw, bh
        c.blocks = coeff_sets[ci]
        comps.append(c)
    ntab = 1 if ch == 1 else 2

    def run_scan(scan, ss, se, ah, al):
        """Entropy bytes for one scan (the whole image for sequential),
        with restart chunking: fresh coder + statistics per chunk."""
        units = _scan_units(scan, comps, w, h)
        chunks = []
        step = restart_interval if restart_interval else len(units) or 1
        for start in range(0, len(units), step):
            enc = jparith.ArithEncoder()
            fixed = jparith.fixed_stats()
            dc_st = [jparith.new_stats(jparith.DC_STAT_BINS) for _ in range(ntab)]
            ac_st = [jparith.new_stats(jparith.AC_STAT_BINS) for _ in range(ntab)]
            dc_ctx = [0] * ncomp
            preds = [0] * ncomp
            for unit in units[start : start + step]:
                for c, block_ix in unit:
                    ci = c.cid - 1
                    block = c.blocks[block_ix]
                    if ss == 0:
                        if ah == 0:
                            cur = int(block[0]) >> al  # arithmetic shift (G.1.2.1)
                            diff = cur - preds[ci]
                            preds[ci] = cur
                            dc_ctx[ci] = jparith.encode_dc_diff(
                                enc, dc_st[c.td], dc_ctx[ci], diff, *cond_dc
                            )
                            if se == 63:  # sequential scan: AC follows DC
                                jparith.encode_ac_coefs(
                                    enc, ac_st[c.ta], fixed, block, ZIGZAG,
                                    1, 63, 0, cond_kx,
                                )
                        else:
                            enc.encode(fixed, 0, (int(block[0]) >> al) & 1)
                    else:
                        if ah == 0:
                            jparith.encode_ac_coefs(
                                enc, ac_st[c.ta], fixed, block, ZIGZAG,
                                ss, se, al, cond_kx,
                            )
                        else:
                            jparith.encode_ac_refine(
                                enc, ac_st[c.ta], fixed, block, ZIGZAG, ss, se, al
                            )
            chunks.append(enc.flush())
        body = bytearray()
        for n, chunk in enumerate(chunks):
            if n:
                body += bytes([0xFF, 0xD0 + ((n - 1) & 7)])
            body += chunk
        return bytes(body)

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    for ti, q in enumerate(quants):
        zz = bytes(int(q[ZIGZAG[k]]) for k in range(64))
        out += seg(0xDB, bytes([ti]) + zz)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, min(ci, 1)])
    out += seg(0xCA if progressive else 0xC9, sof)
    if emit_dac:
        dac = b"".join(
            bytes([tc << 4 | tb, cs])
            for tb in range(ntab)
            for tc, cs in ((0, cond_dc[1] << 4 | cond_dc[0]), (1, cond_kx))
        )
        out += seg(0xCC, dac)
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))

    def sos(scan, ss, se, ah, al):
        p = bytes([len(scan)])
        for c in scan:
            p += bytes([c.cid, (c.td << 4) | c.ta])
        return seg(0xDA, p + bytes([ss, se, (ah << 4) | al]))

    if not progressive:
        out += sos(comps, 0, 63, 0, 0)
        out += run_scan(comps, 0, 63, 0, 0)
        # sequential: ss/se in the scan runner select DC+AC per block
    else:
        script = [(comps, 0, 0, 0, 1)]
        script += [([c], 1, 63, 0, 1) for c in comps]
        script += [(comps, 0, 0, 1, 0)]
        script += [([c], 1, 63, 1, 0) for c in comps]
        for scan, ss, se, ah, al in script:
            out += sos(scan, ss, se, ah, al)
            out += run_scan(scan, ss, se, ah, al)
    out += b"\xff\xd9"
    return bytes(out)
