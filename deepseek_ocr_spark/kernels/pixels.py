"""Pixel kernel: PNG codec + the reference's pixel geometry ops.

Retires the round-1/2 pixel-stub substitution: PNG decode/encode is real
(zlib is stdlib), so Gundam tile crops, the padded global view, EXIF
transposes, and region crops all run on actual pixel grids — no PIL/cv2.

Reference parity targets (cited per function):
- dynamic_preprocess crop loop — image_process.py:44-83
- resize interpolation         — image_process.py:60-63 (PIL bicubic)
- ImageOps.pad global view      — image_process.py:386-388
- ImageOps.exif_transpose       — run_dpsk_ocr_image.py:33
- region crop + save            — run_dpsk_ocr_image.py:107-108

Resize is PIL-parity BICUBIC (round 4): the separable two-pass fixed-point
resample Pillow's 8-bit path performs — Keys kernel a=-0.5, support 2,
coefficient windows rounded at (int)(center ± support + 0.5), coefficients
normalized then quantized to 22-bit fixed point with round-half-away,
horizontal pass quantized to uint8 BEFORE the vertical pass, accumulator
seeded with the rounding constant and clamped after an arithmetic shift.
All of that is public Pillow behavior (src/libImaging/Resample.c semantics)
re-derived here in numpy; no PIL import. GEOMETRY (contain/round sizing,
centering offsets, tile grids, crop boxes, fill color) reproduces PIL's
arithmetic exactly as before (builtin ``round`` = banker's, same as PIL).
``resize_nearest`` (deterministic center-sample) remains available as a
cheap explicit alternative but is no longer on the reference-parity path.

THROUGHPUT (round 4): the hot loops are numpy-vectorized — PNG unfilter
(filters 0/1/2 whole-row; 3/4 keep the spec's sequential left-dependency),
encode filters (all five), nearest/bicubic resize, paste, crop, EXIF
transpose, tensor normalize, palette expansion. The original pure-Python
implementations are retained as the ``_py_*`` oracle lane and pinned
byte-equal in tests/test_pixels.py — the numpy lane is the engine, the
pure-Python lane is the spec.

An image in this module is the tuple (w, h, c, buf) with ``buf`` a
bytes-like of length w*h*c, rows top-down, channels interleaved, 8 bits
per sample.
"""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type → channel count (8-bit depth only)
_CT_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

Image = tuple[int, int, int, bytes]

# declared-dims sanity bound shared by every image kernel: a hostile
# header must not size any allocation downstream
MAX_PIXELS = 1 << 28


def _arr(img: Image) -> np.ndarray:
    """(h, w, ch) uint8 view of an Image's buffer (no copy)."""
    w, h, ch, buf = img
    return np.frombuffer(buf, np.uint8).reshape(h, w, ch)


# --- PNG decode -----------------------------------------------------------------


def decode_png(data: bytes) -> Image:
    """Decode an 8-bit non-interlaced PNG (gray/RGB/palette/gray+A/RGBA).

    Palette images are expanded to RGB. Raises ValueError on ANY malformed
    or unsupported input (zlib/struct errors are normalized to ValueError)
    — callers on hostile corpora catch one exception type and the bad
    payload drops a row instead of failing the task."""
    try:
        return _decode_png(data)
    except ValueError:
        raise
    except (zlib.error, struct.error, IndexError, OverflowError, MemoryError) as e:
        raise ValueError(f"malformed PNG: {e}") from e


def _png_parse(data: bytes):
    """Chunk walk shared by the decoder and the PDF verbatim-embed probe:
    (w, h, bit_depth, color_type, interlace, plte, idat_zlib_bytes)."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    w = h = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    plte: bytes | None = None
    i = 8
    n = len(data)
    while i + 8 <= n:
        (length,) = struct.unpack(">I", data[i : i + 4])
        ctype = data[i + 4 : i + 8]
        chunk = data[i + 8 : i + 8 + length]
        if len(chunk) < length:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", chunk
            )
            if w * h > MAX_PIXELS:
                raise ValueError(f"PNG dims too large: {w}x{h}")
        elif ctype == b"PLTE":
            plte = bytes(chunk)
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
        i += 12 + length  # length + type + data + crc
    if w is None or not w or not h:
        raise ValueError("PNG missing/empty IHDR")
    return w, h, bit_depth, color_type, interlace, plte, bytes(idat)


def png_pdf_stream(data: bytes):
    """(w, h, channels, idat_zlib) when this PNG's compressed stream can
    embed VERBATIM as a PDF image XObject (/FlateDecode with /Predictor 15
    — PDF's PNG-prediction mode accepts raw filtered scanlines): 8-bit,
    non-interlaced, gray (color type 0) or RGB (2).  Returns None for any
    other flavor (palette/alpha/16-bit/interlace) — callers fall back to
    decode + re-deflate.  The stream IS inflated once to length-check it
    (cheap; the deflate being skipped is the expensive side), so a corrupt
    payload still raises ValueError and drops the page rather than
    emitting a broken PDF."""
    try:
        w, h, bit_depth, color_type, interlace, _plte, idat = _png_parse(data)
        if bit_depth != 8 or interlace != 0 or color_type not in (0, 2):
            return None
        ch = 3 if color_type == 2 else 1
        # bounded inflate: cap the allocation at the declared filtered-row
        # size so a hostile high-ratio deflate stream (~1000:1) cannot
        # transiently allocate gigabytes before the length check
        want = (w * ch + 1) * h
        dec = zlib.decompressobj()
        out = dec.decompress(idat, want + 1)
        if dec.unconsumed_tail:
            raise ValueError("PNG pixel data length mismatch")
        out += dec.flush()
        if len(out) != want:
            raise ValueError("PNG pixel data length mismatch")
        return w, h, ch, idat
    except ValueError:
        raise
    except (zlib.error, struct.error, IndexError, OverflowError, MemoryError) as e:
        raise ValueError(f"malformed PNG: {e}") from e


def _decode_png(data: bytes) -> Image:
    w, h, bit_depth, color_type, interlace, plte, idat = _png_parse(data)
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth}")
    if color_type not in _CT_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    ch = _CT_CHANNELS[color_type]
    stride = w * ch
    dec = zlib.decompressobj()
    raw = dec.decompress(bytes(idat), (stride + 1) * h + 1)
    if dec.unconsumed_tail:
        raise ValueError("PNG pixel data length mismatch")
    raw += dec.flush()
    if len(raw) != (stride + 1) * h:
        raise ValueError("PNG pixel data length mismatch")
    buf = _unfilter(raw, w, h, ch)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        if len(plte) < 3 * (int(np.frombuffer(bytes(buf), np.uint8).max()) + 1):
            raise ValueError("palette index out of range")
        pal = np.frombuffer(plte, np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        rgb = pal[np.frombuffer(bytes(buf), np.uint8)]
        return (w, h, 3, rgb.tobytes())
    return (w, h, ch, bytes(buf))


def _unfilter(raw: bytes, w: int, h: int, ch: int) -> bytearray:
    """Reverse PNG scanline filters 0-4 (spec §6); bpp = ch at depth 8.

    numpy lane: filters 0/1/2 are whole-row vector ops (Sub is a per-lane
    cumulative sum mod 256; Up is native uint8 wraparound addition); 3/4
    carry the spec's sequential left-pixel dependency and stay per-byte —
    our own encoder emits filter 0, so the engine's own outputs always
    take the vector path."""
    stride = w * ch
    rows = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), np.uint8)
    zero = np.zeros(stride, np.uint8)
    for y in range(h):
        f = int(rows[y, 0])
        line = rows[y, 1:]
        prev = out[y - 1] if y else zero
        if f == 0:
            out[y] = line
        elif f == 1:  # Sub: recon = per-lane prefix sum of raw, mod 256
            out[y] = (
                np.cumsum(line.reshape(w, ch), axis=0, dtype=np.int64) & 0xFF
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: uint8 addition wraps mod 256 natively
            out[y] = line + prev
        elif f in (3, 4):
            out[y] = np.frombuffer(
                _unfilter_row_py(f, line.tobytes(), prev.tobytes(), ch), np.uint8
            )
        else:
            raise ValueError(f"unknown PNG filter {f}")
    return bytearray(out.tobytes())


def _unfilter_row_py(f: int, line_b: bytes, prev_b: bytes, ch: int) -> bytes:
    """Sequential filters (Average/Paeth) for one row — byte loop, exact."""
    line = bytearray(line_b)
    stride = len(line)
    if f == 3:  # Average
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            line[x] = (line[x] + ((a + prev_b[x]) >> 1)) & 0xFF
    else:  # 4: Paeth
        for x in range(stride):
            a = line[x - ch] if x >= ch else 0
            b = prev_b[x]
            c = prev_b[x - ch] if x >= ch else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                pr = a
            elif pb <= pc:
                pr = b
            else:
                pr = c
            line[x] = (line[x] + pr) & 0xFF
    return bytes(line)


def _py_unfilter(raw: bytes, w: int, h: int, ch: int) -> bytearray:
    """Pure-Python oracle for _unfilter (the original round-3 lane) —
    retained so tests pin the numpy lane byte-equal to the spec."""
    stride = w * ch
    out = bytearray(stride * h)
    prev_row_start = -1
    for y in range(h):
        f = raw[y * (stride + 1)]
        rs = y * (stride + 1) + 1
        os = y * stride
        line = bytearray(raw[rs : rs + stride])
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(ch, stride):
                line[x] = (line[x] + line[x - ch]) & 0xFF
        elif f == 2:  # Up
            if prev_row_start >= 0:
                for x in range(stride):
                    line[x] = (line[x] + out[prev_row_start + x]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = out[prev_row_start + x] if prev_row_start >= 0 else 0
                line[x] = (line[x] + ((a + b) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - ch] if x >= ch else 0
                b = out[prev_row_start + x] if prev_row_start >= 0 else 0
                c = (
                    out[prev_row_start + x - ch]
                    if (prev_row_start >= 0 and x >= ch)
                    else 0
                )
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                line[x] = (line[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[os : os + stride] = line
        prev_row_start = os
    return out


# --- sniff-and-decode over the native format matrix -----------------------------


def decode_image(data: bytes) -> Image:
    """Decode one image payload by its signature through the native
    kernels: PNG, JPEG, GIF, BMP, TIFF and WebP. A corrupt payload raises
    ValueError. A variant no native kernel decodes (lossy WebP, residual
    JPEG processes, exotic BMP/TIFF layouts) and an unknown signature
    raise NotImplementedError. The vision stages drop the row on either;
    multimodal._real_decode hands NotImplementedError to the PIL gate."""
    from . import bmp, gif, jpeg, tiff, webp

    data = bytes(data)
    if data[:8] == PNG_SIG:
        return decode_png(data)
    if data[:2] == b"\xff\xd8":
        return jpeg.decode_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return gif.decode_gif(data)
    if data[:2] == b"BM":
        return bmp.decode_bmp(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return tiff.decode_tiff(data)
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return webp.decode_webp(data)
    raise NotImplementedError("no native decoder for this image signature")


# --- PNG encode -----------------------------------------------------------------

_CHANNELS_CT = {1: 0, 2: 4, 3: 2, 4: 6}


def _filter_rows(img: Image, filter_type: int) -> bytes:
    """Filtered scanlines (filter byte + filtered row, every row) — fully
    vectorized: every encode filter references only ORIGINAL bytes (left /
    up / up-left of the source), no sequential dependency."""
    w, h, ch, buf = img
    stride = w * ch
    arr = np.frombuffer(buf, np.uint8).reshape(h, stride)
    if filter_type == 0:
        enc = arr
    else:
        prev = np.zeros_like(arr)
        prev[1:] = arr[:-1]
        left = np.zeros_like(arr)
        left[:, ch:] = arr[:, :-ch]
        if filter_type == 1:
            enc = arr - left  # uint8 wraparound = mod 256
        elif filter_type == 2:
            enc = arr - prev
        elif filter_type == 3:
            avg = ((left.astype(np.int16) + prev.astype(np.int16)) >> 1).astype(
                np.uint8
            )
            enc = arr - avg
        elif filter_type == 4:
            upleft = np.zeros_like(arr)
            upleft[:, ch:] = prev[:, :-ch]
            a = left.astype(np.int16)
            b = prev.astype(np.int16)
            c = upleft.astype(np.int16)
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pr = np.where(
                (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c)
            ).astype(np.uint8)
            enc = arr - pr
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
    rows = np.empty((h, stride + 1), np.uint8)
    rows[:, 0] = filter_type
    rows[:, 1:] = enc
    return rows.tobytes()


def _py_filter_rows(img: Image, filter_type: int) -> bytes:
    """Pure-Python oracle for _filter_rows (original round-3 lane)."""
    w, h, ch, buf = img
    stride = w * ch
    raw = bytearray()
    for y in range(h):
        row = buf[y * stride : (y + 1) * stride]
        prev = buf[(y - 1) * stride : y * stride] if y else bytes(stride)
        raw.append(filter_type)
        if filter_type == 0:
            raw += row
        elif filter_type == 1:
            raw += bytes(
                (row[x] - (row[x - ch] if x >= ch else 0)) & 0xFF
                for x in range(stride)
            )
        elif filter_type == 2:
            raw += bytes((row[x] - prev[x]) & 0xFF for x in range(stride))
        elif filter_type == 3:
            raw += bytes(
                (row[x] - (((row[x - ch] if x >= ch else 0) + prev[x]) >> 1)) & 0xFF
                for x in range(stride)
            )
        elif filter_type == 4:
            line = bytearray()
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line.append((row[x] - pr) & 0xFF)
            raw += line
        else:
            raise ValueError(f"unknown PNG filter {filter_type}")
    return bytes(raw)


PNG_ZLIB_LEVEL = 6  # sink default: level 9 cost ~0.17s/image (~half the
# whole 640-tile path) for a few % size — sink bytes are not oracle-compared
# (only decoded pixels are pinned), so the deflate level is a free knob;
# pass level=9 for archival density


def encode_png(
    img: Image, filter_type: int = 0, level: int = PNG_ZLIB_LEVEL
) -> bytes:
    """Encode to PNG with a single scanline filter type (0-4) on every row.

    Filter 0 is the deterministic default; the other filters exist so tests
    exercise every _unfilter branch against a reference pattern. ``level``
    is the zlib deflate level — output bytes change with it, decoded pixels
    never do (lossless at every level)."""
    w, h, ch, buf = img
    if ch not in _CHANNELS_CT:
        raise ValueError(f"unsupported channel count {ch}")
    if len(buf) != w * h * ch:
        raise ValueError("buffer length != w*h*c")
    raw = _filter_rows(img, filter_type)

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, _CHANNELS_CT[ch], 0, 0, 0)
    return (
        PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, level))
        + chunk(b"IEND", b"")
    )


# --- geometry ops ---------------------------------------------------------------


def crop(img: Image, box: tuple[int, int, int, int]) -> Image:
    """PIL Image.crop parity (run_dpsk_ocr_image.py:107): box = (x1, y1,
    x2, y2), out-of-bounds regions are zero-filled."""
    w, h, ch, buf = img
    x1, y1, x2, y2 = box
    cw, chh = x2 - x1, y2 - y1
    if cw <= 0 or chh <= 0:
        raise ValueError(f"empty crop box {box}")
    src = _arr(img)
    out = np.zeros((chh, cw, ch), np.uint8)
    sy1, sy2 = max(y1, 0), min(y2, h)
    sx1, sx2 = max(x1, 0), min(x2, w)
    if sy1 < sy2 and sx1 < sx2:
        out[sy1 - y1 : sy2 - y1, sx1 - x1 : sx2 - x1] = src[sy1:sy2, sx1:sx2]
    return (cw, chh, ch, out.tobytes())


def resize_nearest(img: Image, dw: int, dh: int) -> Image:
    """Deterministic center-sample nearest resize — exact integer
    arithmetic, identical on every platform. Kept as an explicit cheap
    alternative; the reference-parity path is resize_bicubic."""
    w, h, ch, buf = img
    if dw <= 0 or dh <= 0:
        raise ValueError(f"bad target size {dw}x{dh}")
    if (dw, dh) == (w, h):
        return img
    src = _arr(img)
    xmap = np.minimum((2 * np.arange(dw) + 1) * w // (2 * dw), w - 1)
    ymap = np.minimum((2 * np.arange(dh) + 1) * h // (2 * dh), h - 1)
    out = src[np.ix_(ymap, xmap)]
    return (dw, dh, ch, out.tobytes())


def _py_resize_nearest(img: Image, dw: int, dh: int) -> Image:
    """Pure-Python oracle for resize_nearest (original round-3 lane)."""
    w, h, ch, buf = img
    if dw <= 0 or dh <= 0:
        raise ValueError(f"bad target size {dw}x{dh}")
    if (dw, dh) == (w, h):
        return img
    out = bytearray(dw * dh * ch)
    xmap = [min(w - 1, (2 * x + 1) * w // (2 * dw)) for x in range(dw)]
    for y in range(dh):
        sy = min(h - 1, (2 * y + 1) * h // (2 * dh))
        row = sy * w
        dst = y * dw * ch
        for x in range(dw):
            src = (row + xmap[x]) * ch
            out[dst : dst + ch] = buf[src : src + ch]
            dst += ch
    return (dw, dh, ch, bytes(out))


# --- PIL-parity bicubic resize ----------------------------------------------------

# Pillow's 8-bit fixed-point coefficient precision (Resample.c semantics):
# 32-bit accumulator, 8-bit samples, 2 guard bits.
_PRECISION_BITS = 32 - 8 - 2
_BICUBIC_SUPPORT = 2.0
_BICUBIC_A = -0.5  # Keys kernel


def _bicubic_weight(x: float) -> float:
    """Keys cubic convolution kernel, a = -0.5 (the PIL BICUBIC filter)."""
    a = _BICUBIC_A
    if x < 0.0:
        x = -x
    if x < 1.0:
        return ((a + 2.0) * x - (a + 3.0)) * x * x + 1.0
    if x < 2.0:
        return (((x - 5.0) * x + 8.0) * x - 4.0) * a
    return 0.0


def _precompute_coeffs(in_size: int, out_size: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-output-pixel source window starts + fixed-point weights.

    Bit-for-bit the PIL 8-bit algorithm: window [int(center-support+0.5),
    int(center+support+0.5)) clamped to the image, float weights from the
    Keys kernel at (x + xmin - center + 0.5)/filterscale, normalized to
    sum 1, then quantized round-half-away-from-zero to 22-bit fixed point.
    Returns (xmin[out_size] int64, kk[out_size, ksize] int64, zero-padded
    past each window's tap count)."""
    scale = in_size / out_size
    filterscale = max(scale, 1.0)
    # Pillow's Resample.c precomputes the reciprocal (`ss = 1.0 / scale`)
    # and MULTIPLIES — `x / filterscale` can differ by 1 ulp, which after
    # the 22-bit quantization could flip a coefficient vs real PIL
    ss = 1.0 / filterscale
    support = _BICUBIC_SUPPORT * filterscale
    ksize = int(math.ceil(support)) * 2 + 1
    xmins = np.empty(out_size, np.int64)
    kk = np.zeros((out_size, ksize), np.int64)
    one = 1 << _PRECISION_BITS
    for xx in range(out_size):
        center = (xx + 0.5) * scale
        xmin = int(center - support + 0.5)
        if xmin < 0:
            xmin = 0
        xmax = int(center + support + 0.5)
        if xmax > in_size:
            xmax = in_size
        xmax -= xmin
        ws = [
            _bicubic_weight((x + xmin - center + 0.5) * ss)
            for x in range(xmax)
        ]
        total = sum(ws)
        for x in range(xmax):
            wgt = ws[x] / total if total != 0.0 else 0.0
            # C-cast truncation after ±0.5 = round half away from zero
            kk[xx, x] = int(wgt * one - 0.5) if wgt < 0 else int(wgt * one + 0.5)
        xmins[xx] = xmin
    return xmins, kk


def _resample_axis(arr: np.ndarray, out_size: int, axis: int) -> np.ndarray:
    """One separable resample pass along ``axis`` of an (h, w, ch) uint8
    array; output is quantized to uint8 (PIL quantizes BETWEEN passes).

    int32 accumulators are safe by the same argument as PIL's C path:
    normalized bicubic weights have |sum| ≤ ~1.4, so the accumulator stays
    under 255·1.4·2^22 + 2^21 < 2^31. The horizontal pass transposes to
    row-major gathers (column fancy-indexing is ~3× slower)."""
    transposed = axis == 1
    if transposed:
        arr = np.ascontiguousarray(arr.transpose(1, 0, 2))
    in_size = arr.shape[0]
    xmins, kk = _precompute_coeffs(in_size, out_size)
    kk = kk.astype(np.int32)
    src = arr.astype(np.int32)
    acc = np.full((out_size,) + arr.shape[1:], 1 << (_PRECISION_BITS - 1), np.int32)
    for t in range(kk.shape[1]):
        idx = np.minimum(xmins + t, in_size - 1)  # kk is 0 past each window
        acc += src[idx] * kk[:, t][:, None, None]
    # clip8: arithmetic shift then clamp — negative accumulators floor to 0,
    # >= 1<<(PRECISION+8) saturates to 255
    out = np.clip(acc >> _PRECISION_BITS, 0, 255).astype(np.uint8)
    if transposed:
        out = np.ascontiguousarray(out.transpose(1, 0, 2))
    return out


def resize_bicubic(img: Image, dw: int, dh: int) -> Image:
    """PIL-parity bicubic resize (image_process.py:60-63; also the filter
    inside ImageOps.pad, proc.py:386-388): separable two-pass fixed-point
    resample, horizontal first, intermediate quantized to uint8 — the exact
    value pipeline of PIL's 8-bit path. A pass whose size is unchanged is
    skipped (PIL's need_horizontal/need_vertical)."""
    w, h, ch, _buf = img
    if dw <= 0 or dh <= 0:
        raise ValueError(f"bad target size {dw}x{dh}")
    if (dw, dh) == (w, h):
        return img
    arr = _arr(img)
    if dw != w:
        arr = _resample_axis(arr, dw, axis=1)
    if dh != h:
        arr = _resample_axis(arr, dh, axis=0)
    return (dw, dh, ch, arr.tobytes())


def new_image(w: int, h: int, ch: int, color: tuple[int, ...]) -> Image:
    if len(color) != ch:
        raise ValueError(f"color arity {len(color)} != channels {ch}")
    return (w, h, ch, bytes(color) * (w * h))


def paste(dst: Image, src: Image, x: int, y: int) -> Image:
    """PIL Image.paste at (x, y); source must fit."""
    dw, dh, dch, dbuf = dst
    sw, sh, sch, sbuf = src
    if dch != sch:
        raise ValueError("channel mismatch in paste")
    if x < 0 or y < 0 or x + sw > dw or y + sh > dh:
        raise ValueError("paste outside canvas")
    out = _arr(dst).copy()
    out[y : y + sh, x : x + sw] = _arr(src)
    return (dw, dh, dch, out.tobytes())


def _py_paste(dst: Image, src: Image, x: int, y: int) -> Image:
    """Pure-Python oracle for paste (original round-3 lane)."""
    dw, dh, dch, dbuf = dst
    sw, sh, sch, sbuf = src
    if dch != sch:
        raise ValueError("channel mismatch in paste")
    if x < 0 or y < 0 or x + sw > dw or y + sh > dh:
        raise ValueError("paste outside canvas")
    out = bytearray(dbuf)
    for row in range(sh):
        d = ((y + row) * dw + x) * dch
        s = row * sw * sch
        out[d : d + sw * sch] = sbuf[s : s + sw * sch]
    return (dw, dh, dch, bytes(out))


def contain_size(w: int, h: int, tw: int, th: int) -> tuple[int, int]:
    """PIL ImageOps.contain sizing arithmetic, bit for bit (builtin round =
    banker's rounding, exactly what PIL calls)."""
    im_ratio = w / h
    dest_ratio = tw / th
    if im_ratio != dest_ratio:
        if im_ratio > dest_ratio:
            new_h = round(h / w * tw)
            if new_h != th:
                return (tw, new_h)
        else:
            new_w = round(w / h * th)
            if new_w != tw:
                return (new_w, th)
    return (tw, th)


def pad(
    img: Image,
    size: tuple[int, int],
    color: tuple[int, ...],
    centering: tuple[float, float] = (0.5, 0.5),
) -> Image:
    """ImageOps.pad parity (image_process.py:386-388 global view): contain
    within ``size`` preserving aspect (BICUBIC, like PIL's default inside
    pad), paste centered on a ``color`` canvas. Offset rounding matches
    PIL (builtin round)."""
    w, h, ch, _ = img
    tw, th = size
    cw, chh = contain_size(w, h, tw, th)
    resized = resize_bicubic(img, cw, chh)
    if (cw, chh) == (tw, th):
        return resized
    canvas = new_image(tw, th, ch, color)
    if cw != tw:
        x = round((tw - cw) * max(0.0, min(centering[0], 1.0)))
        return paste(canvas, resized, x, 0)
    y = round((th - chh) * max(0.0, min(centering[1], 1.0)))
    return paste(canvas, resized, 0, y)


# EXIF orientation → pixel op (ImageOps.exif_transpose semantics,
# run_dpsk_ocr_image.py:33): value 1 is identity; 2-8 mirror/rotate.
def exif_transpose(img: Image, orientation: int) -> Image:
    w, h, ch, buf = img
    if orientation in (1, 0):
        return img
    if orientation not in range(2, 9):
        raise ValueError(f"bad EXIF orientation {orientation}")
    a = _arr(img)
    if orientation == 2:   # mirror horizontal
        out = a[:, ::-1]
    elif orientation == 3:  # rotate 180
        out = a[::-1, ::-1]
    elif orientation == 4:  # mirror vertical
        out = a[::-1]
    elif orientation == 5:  # transpose (mirror + rot270)
        out = a.transpose(1, 0, 2)
    elif orientation == 6:  # rotate 90 CW
        out = a.transpose(1, 0, 2)[:, ::-1]
    elif orientation == 7:  # transverse (mirror + rot90)
        out = a.transpose(1, 0, 2)[::-1, ::-1]
    else:                   # 8: rotate 270 CW
        out = a.transpose(1, 0, 2)[::-1]
    swap = orientation in (5, 6, 7, 8)
    ow, oh = (h, w) if swap else (w, h)
    return (ow, oh, ch, np.ascontiguousarray(out).tobytes())


def _py_exif_transpose(img: Image, orientation: int) -> Image:
    """Pure-Python oracle for exif_transpose (original round-3 lane)."""
    w, h, ch, buf = img
    if orientation in (1, 0):
        return img
    if orientation not in range(2, 9):
        raise ValueError(f"bad EXIF orientation {orientation}")
    swap = orientation in (5, 6, 7, 8)
    ow, oh = (h, w) if swap else (w, h)
    out = bytearray(ow * oh * ch)
    for y in range(h):
        for x in range(w):
            if orientation == 2:
                dx, dy = w - 1 - x, y
            elif orientation == 3:
                dx, dy = w - 1 - x, h - 1 - y
            elif orientation == 4:
                dx, dy = x, h - 1 - y
            elif orientation == 5:
                dx, dy = y, x
            elif orientation == 6:
                dx, dy = h - 1 - y, x
            elif orientation == 7:
                dx, dy = h - 1 - y, w - 1 - x
            else:
                dx, dy = y, w - 1 - x
            s = (y * w + x) * ch
            d = (dy * ow + dx) * ch
            out[d : d + ch] = buf[s : s + ch]
    return (ow, oh, ch, bytes(out))


# --- the reference's composite pixel flows --------------------------------------


def dynamic_tiles(img: Image, nw: int, nh: int, image_size: int) -> list[Image]:
    """dynamic_preprocess crop loop (image_process.py:44-83): resize to
    (nw*image_size, nh*image_size) with PIL-parity BICUBIC (the reference's
    interpolation, image_process.py:60-63), then crop row-major image_size
    tiles. The (nw, nh) plan comes from kernels.tiling.tile_plan — the same
    argmin the relational tile_boxes query proves against the oracle."""
    from deepseek_ocr_spark.kernels.tiling import tile_boxes

    resized = resize_bicubic(img, nw * image_size, nh * image_size)
    # grid arithmetic lives ONCE, in tiling.tile_boxes (the same boxes the
    # oracle-checked relational tile_boxes query derives)
    return [crop(resized, box) for box in tile_boxes(nw, nh, image_size)]


def to_tensor_normalized(
    img: Image,
    mean: tuple[float, ...] = (0.5, 0.5, 0.5),
    std: tuple[float, ...] = (0.5, 0.5, 0.5),
) -> list[list[list[float]]]:
    """ImageTransform analog (image_process.py:93-107, O-15): ToTensor
    (uint8 → float in [0,1], CHW layout) + Normalize((x - mean) / std).
    Exact arithmetic: x/255 is correctly-rounded IEEE division and the
    mean/std ops are single IEEE ops (identical elementwise in numpy), so
    values are bit-reproducible — the deterministic contract a distributed
    engine needs from its preprocessing."""
    w, h, ch, buf = img
    if len(mean) != ch or len(std) != ch:
        raise ValueError(f"mean/std arity != channels {ch}")
    a = _arr(img).astype(np.float64) / 255.0
    m = np.asarray(mean, np.float64)
    sd = np.asarray(std, np.float64)
    chw = np.transpose((a - m) / sd, (2, 0, 1))
    return chw.tolist()


def _py_to_tensor_normalized(
    img: Image,
    mean: tuple[float, ...] = (0.5, 0.5, 0.5),
    std: tuple[float, ...] = (0.5, 0.5, 0.5),
) -> list[list[list[float]]]:
    """Pure-Python oracle for to_tensor_normalized (original round-3 lane)."""
    w, h, ch, buf = img
    if len(mean) != ch or len(std) != ch:
        raise ValueError(f"mean/std arity != channels {ch}")
    out = []
    for c in range(ch):
        m, sd = mean[c], std[c]
        plane = [
            [(buf[(y * w + x) * ch + c] / 255.0 - m) / sd for x in range(w)]
            for y in range(h)
        ]
        out.append(plane)
    return out


# global-view fill = tuple(int(mean*255)) with mean 0.5 (image_process.py:387)
PAD_FILL = 127


def global_view(img: Image, base_size: int) -> Image:
    """The padded global view (image_process.py:386-388): ImageOps.pad to
    (base_size, base_size) with the normalization-mean gray fill."""
    ch = img[2]
    return pad(img, (base_size, base_size), (PAD_FILL,) * ch)
