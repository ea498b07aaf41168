"""BMP decoder — stdlib + numpy, BI_RGB 1/4/8/24/32-bit + RLE8/RLE4.

The last raster format in the O-3 image-load matrix (PNG r3; JPEG
baseline+progressive, GIF r5): BITMAPFILEHEADER + BITMAPINFOHEADER (or
larger V4/V5 headers — only the core fields are read), bottom-up or
top-down row order, 4-byte row padding, 1/4/8-bit palette (BGRX
entries), 24-bit BGR and 32-bit BGRX pixels, plus RLE8 and RLE4 runs
(encoded/absolute modes, end-of-line, delta skips — RLE4 is the
nibble-wide variant: encoded runs alternate the byte's two nibbles,
absolute runs pack two pixels per byte high-nibble-first), all expanded
to RGB.  This closes the PIL coverage matrix for BMP; corrupt input
raises ValueError only (the drop-rule contract shared with the
JPEG/GIF/MP4 kernels)."""

from __future__ import annotations

import struct

import numpy as np

from .pixels import MAX_PIXELS, Image


def decode_bmp(data: bytes) -> Image:
    try:
        return _decode_checked(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"corrupt BMP stream ({type(e).__name__})") from e


def _decode_rle8(stream: bytes, width: int, height: int) -> np.ndarray:
    """BI_RLE8: (count, value) runs; escape 0 → 0=end-of-line, 1=end of
    bitmap, 2=delta (dx, dy — skipped cells stay 0), n≥3 = absolute run
    padded to a word boundary.  Rows are stored bottom-up like BI_RGB
    (the caller flips)."""
    out = np.zeros((height, width), np.uint8)
    x = y = pos = 0
    n = len(stream)
    while pos + 1 < n:
        cnt, val = stream[pos], stream[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run
            if y >= height or x + cnt > width:
                raise ValueError("RLE8 run outside bitmap")
            out[y, x : x + cnt] = val
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if pos + 2 > n:
                raise ValueError("truncated RLE8 delta")
            x += stream[pos]
            y += stream[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError("RLE8 delta outside bitmap")
        else:  # absolute mode: val literal pixels, word-aligned
            if y >= height or x + val > width or pos + val > n:
                raise ValueError("RLE8 absolute run outside bitmap")
            out[y, x : x + val] = np.frombuffer(stream, np.uint8, val, pos)
            x += val
            pos += val + (val & 1)
    raise ValueError("RLE8 stream missing end-of-bitmap")


def _nibbles(packed: np.ndarray) -> np.ndarray:
    """uint8 bytes → interleaved (hi, lo) 4-bit values, length 2·len."""
    out = np.empty(packed.size * 2, np.uint8)
    out[0::2] = packed >> 4
    out[1::2] = packed & 0x0F
    return out


def _decode_rle4(stream: bytes, width: int, height: int) -> np.ndarray:
    """BI_RLE4: same escape grammar as RLE8 (0=EOL, 1=EOB, 2=delta,
    n≥3=absolute), but pixels are nibbles: an encoded run of `cnt`
    alternates the value byte's high and low nibbles; absolute mode
    packs two pixels per byte high-nibble-first, consumed bytes padded
    to a word boundary."""
    out = np.zeros((height, width), np.uint8)
    x = y = pos = 0
    n = len(stream)
    while pos + 1 < n:
        cnt, val = stream[pos], stream[pos + 1]
        pos += 2
        if cnt > 0:  # encoded run: alternate hi/lo nibble
            if y >= height or x + cnt > width:
                raise ValueError("RLE4 run outside bitmap")
            run = np.empty(cnt, np.uint8)
            run[0::2] = val >> 4
            run[1::2] = val & 0x0F
            out[y, x : x + cnt] = run
            x += cnt
        elif val == 0:  # end of line
            x, y = 0, y + 1
        elif val == 1:  # end of bitmap
            return out
        elif val == 2:  # delta
            if pos + 2 > n:
                raise ValueError("truncated RLE4 delta")
            x += stream[pos]
            y += stream[pos + 1]
            pos += 2
            if x > width or y > height:
                raise ValueError("RLE4 delta outside bitmap")
        else:  # absolute mode: val literal nibbles, word-aligned byte count
            nb = (val + 1) // 2
            if y >= height or x + val > width or pos + nb > n:
                raise ValueError("RLE4 absolute run outside bitmap")
            packed = np.frombuffer(stream, np.uint8, nb, pos)
            out[y, x : x + val] = _nibbles(packed)[:val]
            x += val
            pos += nb + (nb & 1)
    raise ValueError("RLE4 stream missing end-of-bitmap")


def _decode_checked(data: bytes) -> Image:
    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pix_off,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise NotImplementedError(f"BMP core-header size {hdr_size}")
    width, height = struct.unpack("<ii", data[18:26])
    planes, bpp = struct.unpack("<HH", data[26:30])
    (compression,) = struct.unpack("<I", data[30:34])
    (colors_used,) = struct.unpack("<I", data[46:50])
    if width <= 0 or height == 0:
        raise ValueError(f"bad BMP dims {width}x{height}")
    top_down = height < 0
    height = abs(height)
    if width * height > MAX_PIXELS:
        raise ValueError("BMP dims exceed sanity bound")

    def load_palette(default_n: int) -> np.ndarray:
        n_pal = colors_used or default_n
        pal = np.frombuffer(data, np.uint8, count=n_pal * 4, offset=14 + hdr_size)
        return pal.reshape(n_pal, 4)[:, :3][:, ::-1]  # BGRX → RGB

    def apply_palette(idx: np.ndarray, pal: np.ndarray) -> Image:
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise ValueError("palette index out of range")
        rgb = pal[idx]
        if not top_down:
            rgb = rgb[::-1]
        return (width, height, 3, np.ascontiguousarray(rgb).tobytes())

    if compression == 1:  # BI_RLE8
        if bpp != 8:
            raise ValueError("RLE8 with non-8-bit depth")
        idx = _decode_rle8(data[pix_off:], width, height)
        return apply_palette(idx, load_palette(256))
    if compression == 2:  # BI_RLE4
        if bpp != 4:
            raise ValueError("RLE4 with non-4-bit depth")
        idx = _decode_rle4(data[pix_off:], width, height)
        return apply_palette(idx, load_palette(16))
    if compression not in (0, 3):  # BI_RGB / BI_BITFIELDS (default masks)
        raise NotImplementedError(f"BMP compression {compression}")
    if bpp not in (1, 4, 8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP")

    row_bytes = ((width * bpp + 7) // 8 + 3) & ~3
    need = pix_off + row_bytes * height
    if need > len(data):
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(data, np.uint8, count=row_bytes * height, offset=pix_off)
    rows = raw.reshape(height, row_bytes)
    if not top_down:
        rows = rows[::-1]

    if bpp == 1:
        idx = np.unpackbits(rows, axis=1)[:, :width]
        # apply_palette flips bottom-up itself; rows were pre-flipped above,
        # so flip back to stored order first
        return apply_palette(idx if top_down else idx[::-1], load_palette(2))
    if bpp == 4:
        idx = _nibbles(rows.ravel()).reshape(height, row_bytes * 2)[:, :width]
        return apply_palette(idx if top_down else idx[::-1], load_palette(16))
    if bpp == 8:
        idx = rows[:, :width]
        return apply_palette(idx if top_down else idx[::-1], load_palette(256))
    if bpp == 24:
        px = rows[:, : width * 3].reshape(height, width, 3)
        rgb = px[:, :, ::-1]  # BGR → RGB
    else:  # 32
        px = rows[:, : width * 4].reshape(height, width, 4)
        rgb = px[:, :, :3][:, :, ::-1]  # BGRX → RGB
    return (width, height, 3, np.ascontiguousarray(rgb).tobytes())
