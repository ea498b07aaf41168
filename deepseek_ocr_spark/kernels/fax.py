"""CCITT fax decode (ITU-T T.4 / T.6) — stdlib only.

Scanned-document TIFFs — the core input class of an OCR pipeline like
the reference's PDF/image route (vllm/run_dpsk_ocr_pdf.py) — ship as
bilevel CCITT-compressed rasters far more often than as raw bits.  This
module makes TIFF Compression 2 (Modified Huffman), 3 (Group 3, 1-D and
2-D) and 4 (Group 4 / T.6 MMR) native, completing the scanned-document
half of the O-3 matrix the way kernels/tiff.py did the container.

Implemented from the PUBLIC ITU-T Recommendations T.4 (§4.1/§4.2 code
tables, EOL) and T.6 (§2.2 2-D coding: pass / horizontal / vertical
modes over reference-line changing elements):

- the white/black terminating (0-63) and make-up (64-1728) run-length
  codes plus the shared extended make-up set (1792-2560)
- 2-D modes V(0), VR(1-3), VL(1-3), H, P against an imaginary all-white
  reference line above the first row (T.6) / the previous row (T.4 2-D)
- Group 3: EOL resynchronisation (000000000001) with fill bits, the
  1-D/2-D tag bit under T4Options bit 0, RTC tolerance
- Modified Huffman (Compression 2): EOL-less rows, each byte-aligned

Rows are reconstructed as CHANGING-ELEMENT lists (positions where the
color flips) — the standard fax decoder structure: per-row work is
O(transitions), not O(pixels), and the bitmap materialises once at the
end via a cumulative-parity expansion.

SPEC DISCIPLINE: the in-sandbox spec is the independent encoder
transcription in tests/test_fax.py (its own copy of the T.4 tables, its
own bit packer); both transcriptions of the published tables must agree
for any round-trip to pass, and the tables are additionally pinned by
prefix-freeness checks and hand-assembled bitstreams.  There is no
native fax codec in this sandbox (PIL defers to libtiff, absent), so —
like SOF3/SOF9/VP8L — this EXCEEDS the reference pipeline's in-sandbox
codec surface.

Hostile-input contract: ValueError only (shared drop-rule), enforced by
the TIFF integration wrapper's mutation fuzz.
"""

from __future__ import annotations

import numpy as np

from .pixels import MAX_PIXELS

# --- T.4 §4.1 run-length code tables (terminating + make-up) -----------------
# {run: bitstring}; transcribed from the published tables.  The encoder
# twin in tests/test_fax.py carries an independent transcription — any
# single-sided typo breaks the round-trip suite.

WHITE_CODES = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011", 14: "110100",
    15: "110101", 16: "101010", 17: "101011", 18: "0100111",
    19: "0001100", 20: "0001000", 21: "0010111", 22: "0000011",
    23: "0000100", 24: "0101000", 25: "0101011", 26: "0010011",
    27: "0100100", 28: "0011000", 29: "00000010", 30: "00000011",
    31: "00011010", 32: "00011011", 33: "00010010", 34: "00010011",
    35: "00010100", 36: "00010101", 37: "00010110", 38: "00010111",
    39: "00101000", 40: "00101001", 41: "00101010", 42: "00101011",
    43: "00101100", 44: "00101101", 45: "00000100", 46: "00000101",
    47: "00001010", 48: "00001011", 49: "01010010", 50: "01010011",
    51: "01010100", 52: "01010101", 53: "00100100", 54: "00100101",
    55: "01011000", 56: "01011001", 57: "01011010", 58: "01011011",
    59: "01001010", 60: "01001011", 61: "00110010", 62: "00110011",
    63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100", 512: "01100101",
    576: "01101000", 640: "01100111", 704: "011001100",
    768: "011001101", 832: "011010010", 896: "011010011",
    960: "011010100", 1024: "011010101", 1088: "011010110",
    1152: "011010111", 1216: "011011000", 1280: "011011001",
    1344: "011011010", 1408: "011011011", 1472: "010011000",
    1536: "010011001", 1600: "010011010", 1664: "011000",
    1728: "010011011",
}

BLACK_CODES = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# shared extended make-up codes (T.4 Table 3), same for both colors
EXT_CODES = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}

# 2-D mode codes (T.4 Table 4 / T.6 Table 1)
_MODE_CODES = {
    "1": ("v", 0), "011": ("v", 1), "000011": ("v", 2),
    "0000011": ("v", 3), "010": ("v", -1), "000010": ("v", -2),
    "0000010": ("v", -3), "001": ("h", 0), "0001": ("p", 0),
}


def _decode_map(codes: dict[int, str]) -> dict[tuple[int, int], int]:
    out: dict[tuple[int, int], int] = {}
    for run, bits in codes.items():
        key = (len(bits), int(bits, 2))
        if key in out:
            raise ValueError("duplicate fax code")
        out[key] = run
    return out


_WHITE_MAP = _decode_map({**WHITE_CODES, **EXT_CODES})
_BLACK_MAP = _decode_map({**BLACK_CODES, **EXT_CODES})
_MODE_MAP = {(len(b), int(b, 2)): m for b, m in _MODE_CODES.items()}


class _Bits:
    """MSB-first bit reader (fax bits are already FillOrder-normalised
    by the TIFF layer)."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # in bits

    def eof(self) -> bool:
        return self.pos >= 8 * len(self.data)

    def read1(self) -> int:
        if self.eof():
            raise ValueError("truncated fax stream")
        b = (self.data[self.pos >> 3] >> (7 - (self.pos & 7))) & 1
        self.pos += 1
        return b

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def code(self, table: dict[tuple[int, int], int], max_len: int):
        acc = 0
        for l in range(1, max_len + 1):
            acc = (acc << 1) | self.read1()
            v = table.get((l, acc))
            if v is not None:
                return v
        raise ValueError("bad fax code")


def _run_length(bits: _Bits, white: bool) -> int:
    """One complete run: make-up codes accumulate until a terminating
    code (< 64) arrives (T.4 §4.1.2/§4.2.1.2)."""
    table = _WHITE_MAP if white else _BLACK_MAP
    total = 0
    for _ in range(64):  # bound: no legal run needs this many make-ups
        r = bits.code(table, 13)
        total += r
        if r < 64:
            return total
    raise ValueError("runaway fax make-up sequence")


def _expand(rows: list[list[int]], width: int) -> np.ndarray:
    """Changing-element lists → (h, w) uint8 ink bitmap (1 = black)."""
    out = np.zeros((len(rows), width), np.uint8)
    for y, trans in enumerate(rows):
        flags = np.zeros(width + 1, np.uint8)
        for t in trans:
            if 0 <= t <= width:
                flags[t] ^= 1
        out[y] = np.cumsum(flags[:width]) & 1
    return out


def _decode_1d_row(bits: _Bits, width: int) -> list[int]:
    trans = []
    pos = 0
    white = True
    while pos < width:
        r = _run_length(bits, white)
        pos += r
        if pos > width:
            raise ValueError("fax run overruns row")
        trans.append(pos)
        white = not white
    return trans[:-1] if trans and trans[-1] == width else trans


def _decode_2d_row(bits: _Bits, ref: list[int], width: int) -> list[int]:
    """One 2-D coded row against the reference row's changing elements
    (T.6 §2.2.4; a0 starts on the imaginary white pixel before the row)."""
    trans: list[int] = []
    a0 = -1
    white = True
    n = len(ref)
    while a0 < width:
        # b1: first changing element of ref right of a0 whose color is
        # opposite a0's.  Ref transitions alternate white→black at even
        # indices, so a white current run needs an even index.
        i = 0
        while i < n and ref[i] <= a0:
            i += 1
        if (i & 1) != (0 if white else 1):
            i += 1
        b1 = ref[i] if i < n else width
        b2 = ref[i + 1] if i + 1 < n else width
        kind, d = bits.code(_MODE_MAP, 7)
        if kind == "p":
            a0 = b2  # color unchanged, no transition recorded
            continue
        if kind == "v":
            a1 = b1 + d
            if a1 < 0 or a1 > width or a1 <= a0:
                raise ValueError("fax vertical mode out of range")
            trans.append(a1)
            a0 = a1
            white = not white
            continue
        # horizontal: two explicit runs from max(a0, 0)
        start = a0 if a0 > 0 else 0
        r1 = _run_length(bits, white)
        r2 = _run_length(bits, not white)
        a1 = start + r1
        a2 = a1 + r2
        if a1 > width or a2 > width or a2 <= a0:
            raise ValueError("fax horizontal runs overrun row")
        trans.append(a1)
        trans.append(a2)
        a0 = a2
    return [t for t in trans if t < width]


def decode_g4(data: bytes, width: int, height: int) -> np.ndarray:
    """T.6 (Group 4 MMR): every row 2-D against the previous, imaginary
    all-white first reference, no EOLs (EOFB tolerated by stopping at
    ``height`` rows).  Returns (h, w) uint8 ink (1 = black)."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError("implausible fax dims")
    bits = _Bits(data)
    ref: list[int] = []
    rows = []
    for _ in range(height):
        cur = _decode_2d_row(bits, ref, width)
        rows.append(cur)
        ref = cur
    return _expand(rows, width)


def decode_mh(data: bytes, width: int, height: int) -> np.ndarray:
    """TIFF Compression 2: T.4 1-D Modified Huffman, no EOLs, every row
    starting on a byte boundary."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError("implausible fax dims")
    bits = _Bits(data)
    rows = []
    for _ in range(height):
        rows.append(_decode_1d_row(bits, width))
        bits.align()
    return _expand(rows, width)


def _consume_eol(bits: _Bits) -> None:
    """Fill bits (zeros) then the 000000000001 EOL (T.4 §4.1.2)."""
    zeros = 0
    while True:
        b = bits.read1()
        if b == 1:
            if zeros < 11:
                raise ValueError("bad fax EOL")
            return
        zeros += 1
        if zeros > 64 + 11:
            raise ValueError("fax fill run too long")


def decode_g3(
    data: bytes, width: int, height: int, two_dim: bool = False
) -> np.ndarray:
    """TIFF Compression 3 (T.4): EOL before every row; under
    ``two_dim`` (T4Options bit 0) each EOL carries a tag bit selecting
    1-D (1) or 2-D (0) coding for the following row."""
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError("implausible fax dims")
    bits = _Bits(data)
    rows = []
    ref: list[int] = []
    for _ in range(height):
        _consume_eol(bits)
        if two_dim:
            if bits.read1():
                cur = _decode_1d_row(bits, width)
            else:
                cur = _decode_2d_row(bits, ref, width)
        else:
            cur = _decode_1d_row(bits, width)
        rows.append(cur)
        ref = cur
    return _expand(rows, width)
