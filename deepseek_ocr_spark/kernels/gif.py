"""GIF decoder — stdlib-only, first frame, GIF87a/GIF89a.

Completes the O-3 image-load matrix natively (PNG r3, baseline JPEG r5,
GIF here): logical-screen + image descriptors, global/local color tables,
the GIF variant of LZW (variable 3–12-bit codes, CLEAR/END, deferred
clear), interlaced row order, palette → RGB expansion.  Transparency is
palette-mapped like PIL's ``convert("RGB")`` of a P-mode frame (the
transparent index renders as its palette color) — the reference opens
images via PIL and feeds RGB downstream (image.py:28-42).

Only the FIRST image block is decoded (the reference pipeline treats a
GIF as one page); animation frames after it are ignored.  ValueError on
corrupt data — callers apply the hostile-payload drop rule."""

from __future__ import annotations

import struct

from .pixels import MAX_PIXELS, Image


def _color_table(data: bytes, pos: int, flags: int) -> tuple[list, int]:
    if not flags & 0x80:
        return [], pos
    n = 2 << (flags & 0x07)
    tbl = [tuple(data[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
    if len(tbl[-1]) != 3:
        raise ValueError("truncated color table")
    return tbl, pos + 3 * n


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-blocks")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        out += data[pos : pos + n]
        if len(out) < n:
            raise ValueError("truncated sub-block")
        pos += n


def _lzw_decode(min_code_size: int, data: bytes, n_pixels: int) -> bytes:
    """GIF-flavor LZW: codes start at min_code_size+1 bits, dictionary
    grows to 4095 then freezes until CLEAR (deferred-clear tolerated)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1

    def reset():
        return {i: bytes([i]) for i in range(clear)}, min_code_size + 1

    table, width = reset()
    out = bytearray()
    acc = 0
    nbits = 0
    pos = 0
    prev: bytes | None = None
    next_code = end + 1
    while len(out) < n_pixels:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream exhausted")
            acc |= data[pos] << nbits  # GIF is LSB-first
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table, width = reset()
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError("bad first LZW code")
        elif code in table:
            entry = table[code]
        elif code == next_code:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("bad LZW code")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << width) and width < 12:
                width += 1
        prev = entry
    return bytes(out[:n_pixels])


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: bytes, w: int, h: int) -> bytes:
    out = bytearray(len(idx))
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y * w : (y + 1) * w] = idx[src : src + w]
            src += w
    return bytes(out)


def decode_gif(data: bytes) -> Image:
    """Hostile-input contract: any corrupt stream raises ValueError, never
    a deep parse exception (see decode_jpeg's twin wrapper)."""
    try:
        return _decode_gif_checked(data)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError) as e:
        raise ValueError(f"corrupt GIF stream ({type(e).__name__})") from e


def _decode_gif_checked(data: bytes) -> Image:
    """First frame → (width, height, 3, RGB bytes) at the LOGICAL SCREEN
    size; the frame is composited at its (left, top) offset over the
    background color (index from the logical screen descriptor)."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise ValueError("zero-size GIF screen")
    # the shared pixels.MAX_PIXELS sanity bound: a ~40-byte header must
    # not be able to demand a multi-GB allocation (MemoryError escapes the
    # ValueError-only hostile-input contract)
    if sw * sh > MAX_PIXELS:
        raise ValueError("GIF logical screen exceeds sanity bound")
    gct, pos = _color_table(data, 13, flags)
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            _blob, pos = _subblocks(data, pos + 2)
            continue
        if b != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{b:02x}")
        if pos + 11 > len(data):
            raise ValueError("truncated image descriptor")
        left, top, w, h, iflags = struct.unpack("<HHHHB", data[pos + 1 : pos + 10])
        lct, pos = _color_table(data, pos + 10, iflags)
        palette = lct or gct
        if not palette:
            raise ValueError("GIF image with no color table")
        min_code = data[pos]
        lzw, pos = _subblocks(data, pos + 1)
        idx = _lzw_decode(min_code, lzw, w * h)
        if iflags & 0x40:
            idx = _deinterlace(idx, w, h)
        if left + w > sw or top + h > sh:
            raise ValueError("GIF frame outside logical screen")
        bg_rgb = palette[bg] if bg < len(palette) else (0, 0, 0)
        buf = bytearray(bytes(bg_rgb) * (sw * sh))
        pmax = len(palette)
        for y in range(h):
            row = idx[y * w : (y + 1) * w]
            o = ((top + y) * sw + left) * 3
            for x, p in enumerate(row):
                if p >= pmax:
                    raise ValueError("palette index out of range")
                buf[o + 3 * x : o + 3 * x + 3] = bytes(palette[p])
        return (sw, sh, 3, bytes(buf))
    raise ValueError("GIF contains no image block")
