"""TIFF decoder — stdlib + numpy, baseline TIFF 6.0 strips and tiles.

Extends the O-3 image-load matrix (PNG r3; JPEG baseline / progressive /
arithmetic; GIF; BMP) with the last common container the reference's
PIL-based corpus loader (`vllm/run_dpsk_ocr_eval_batch.py:101-107`)
accepts that we did not decode natively.  Supported:

- both byte orders (``II`` little / ``MM`` big), classic 32-bit IFDs
- strip AND tile layouts (RowsPerStrip / TileWidth+TileLength grids,
  edge tiles cropped), PlanarConfiguration 1 (chunky)
- Compression 1 (none), 5 (LZW, MSB-first codes with the TIFF
  early-change width bump at table sizes 511/1023/2047), 8/32946
  (Deflate/zlib), 32773 (PackBits), and 7 (new-style JPEG: strips are
  JPEG streams, abbreviated streams re-joined with the shared
  ``JPEGTables`` segment body and routed through kernels/jpeg.py)
- Predictor 2 (horizontal differencing, 8- and 16-bit samples)
- PhotometricInterpretation 0/1 (bilevel + gray at 1/4/8/16 bits,
  WhiteIsZero inverted), 2 (RGB / RGB+alpha at 8 or 16 bits, 16-bit
  displayed via the top-8-bits rule), 3 (palette, 16-bit ColorMap
  entries scaled ``>> 8``), 6 (YCbCr — only under Compression 7, where
  the JPEG kernel already emits RGB)
- PlanarConfiguration 2 (per-plane strip sets, RGB strips), and
  FillOrder 2 (LSB-first file bytes, reversed before any parsing)
- Compression 2/3/4 (CCITT Modified Huffman / Group 3 / Group 4 fax via
  kernels/fax.py — the scanned-document workhorse; strips, both
  photometrics, FillOrder 2)
- SampleFormat 3 (32-bit float rasters, strip layouts; [0,1] clamped
  and scaled to bytes round-half-up), and old-style JPEG 6 when a
  complete stream sits at JPEGInterchangeFormat

Out-of-matrix variants (strip-table old-JPEG, float predictor 3,
planar or fax tiles, fax uncompressed mode) raise NotImplementedError —
the callers' PIL codec gate covers those; corrupt input raises
ValueError only (the drop-rule contract shared with the
JPEG/GIF/BMP/MP4 kernels).  Dims are sanity-bounded at pixels.MAX_PIXELS
like the sibling kernels.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .pixels import MAX_PIXELS, Image

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8, 11: 4, 12: 8}


def decode_tiff(data: bytes) -> Image:
    try:
        return _decode_checked(data)
    except (ValueError, NotImplementedError):
        raise
    except (struct.error, IndexError, KeyError, OverflowError, MemoryError,
            zlib.error) as e:
        raise ValueError(f"corrupt TIFF stream ({type(e).__name__})") from e


def _read_ifd(data: bytes, bo: str) -> dict[int, list[int]]:
    """First IFD as {tag: [values...]}; SHORT/LONG/BYTE values only
    (RATIONAL and ASCII tags are skipped — nothing we need is either)."""
    off = int.from_bytes(data[4:8], "little" if bo == "<" else "big")
    if off + 2 > len(data):
        raise ValueError("truncated TIFF: IFD offset past EOF")
    (count,) = struct.unpack_from(bo + "H", data, off)
    tags: dict[int, list[int]] = {}
    for i in range(count):
        base = off + 2 + 12 * i
        if base + 12 > len(data):
            raise ValueError("truncated TIFF IFD")
        tag, typ, n = struct.unpack_from(bo + "HHI", data, base)
        size = _TYPE_SIZE.get(typ)
        if size is None or n > (1 << 24):
            continue
        total = size * n
        if total <= 4:
            raw = data[base + 8 : base + 8 + total]
        else:
            (voff,) = struct.unpack_from(bo + "I", data, base + 8)
            if voff + total > len(data):
                raise ValueError("TIFF tag value past EOF")
            raw = data[voff : voff + total]
        if typ in (1, 6, 7):
            tags[tag] = list(raw)
        elif typ in (3, 8):
            tags[tag] = list(struct.unpack(bo + "H" * n, raw))
        elif typ in (4, 9, 11):
            tags[tag] = list(struct.unpack(bo + "I" * n, raw))
        # RATIONAL / DOUBLE / ASCII: not needed, skip
    return tags


def _lzw_decode(src: bytes, max_out: int) -> bytes:
    """TIFF-variant LZW: 9→12-bit MSB-first codes, ClearCode 256, EOI 257,
    width bumps one code EARLY (table length 511/1023/2047 — TIFF 6.0
    §13, the historic off-by-one every TIFF writer shares)."""
    out = bytearray()
    table: list[bytes] = []
    width = 9
    acc = bits = 0
    pos = 0
    n = len(src)
    prev: bytes | None = None

    def reset() -> None:
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    while len(out) < max_out:
        while bits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | src[pos]
            bits += 8
            pos += 1
        code = (acc >> (bits - width)) & ((1 << width) - 1)
        bits -= width
        if code == 257:  # EOI
            break
        if code == 256:  # Clear
            reset()
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW: first code after clear not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out += entry
        prev = entry
        if len(table) in (511, 1023, 2047) and width < 12:
            width += 1
    return bytes(out)


def _packbits_decode(src: bytes, max_out: int) -> bytes:
    out = bytearray()
    pos = 0
    n = len(src)
    while pos < n and len(out) < max_out:
        b = src[pos]
        pos += 1
        if b < 128:  # literal run of b+1 bytes
            if pos + b + 1 > n:
                raise ValueError("PackBits literal past EOF")
            out += src[pos : pos + b + 1]
            pos += b + 1
        elif b > 128:  # repeat next byte 257-b times
            if pos >= n:
                raise ValueError("PackBits repeat past EOF")
            out += bytes([src[pos]]) * (257 - b)
            pos += 1
        # b == 128: no-op
    return bytes(out)


def _decompress(comp: int, src: bytes, max_out: int, jpeg_tables: bytes | None) -> bytes:
    if comp == 1:
        return src
    if comp == 5:
        return _lzw_decode(src, max_out)
    if comp in (8, 32946):
        dec = zlib.decompressobj()
        out = dec.decompress(src, max_out)
        if dec.unconsumed_tail:
            raise ValueError("Deflate strip larger than declared")
        return out
    if comp == 32773:
        return _packbits_decode(src, max_out)
    raise NotImplementedError(f"TIFF compression {comp} not supported")


def _jpeg_segment(strip: bytes, jpeg_tables: bytes | None) -> bytes:
    """Re-join an abbreviated JPEG strip with the shared JPEGTables body:
    tables stream is SOI..EOI holding DQT/DHT — splice its body before
    the strip's post-SOI content (TIFF/EP §5; same trick libtiff uses)."""
    if strip[:2] != b"\xff\xd8":
        raise ValueError("JPEG strip missing SOI")
    if jpeg_tables and len(jpeg_tables) >= 4:
        if jpeg_tables[:2] != b"\xff\xd8" or jpeg_tables[-2:] != b"\xff\xd9":
            raise ValueError("malformed JPEGTables")
        return jpeg_tables[:-2] + strip[2:]
    return strip


# FillOrder 2: bits within each byte are stored LSB-first — reverse every
# byte before any further parsing (libtiff's TIFFReverseBits, applied to
# the raw chunk so LZW/packed codes read MSB-first afterwards).  LUT
# generated, not memorized.
_REV = np.array(
    [int(f"{b:08b}"[::-1], 2) for b in range(256)], np.uint8
)


def _expand_bits(
    raw: bytes, width: int, height: int, bits: int, bo: str = "<"
) -> np.ndarray:
    """(h, w) sample plane from a row-padded packed buffer — uint8 for
    bits ≤ 8, uint16 (file byte order) for bits == 16."""
    row_bytes = (width * bits + 7) // 8
    need = row_bytes * height
    if len(raw) < need:
        raise ValueError("TIFF strip shorter than raster")
    if bits == 16:
        return np.frombuffer(raw[:need], np.dtype(bo + "u2")).reshape(
            height, row_bytes // 2
        )[:, :width].astype(np.uint16)
    arr = np.frombuffer(raw[:need], np.uint8).reshape(height, row_bytes)
    if bits == 8:
        return arr[:, :width]
    if bits == 4:
        hi = arr >> 4
        lo = arr & 0x0F
        inter = np.empty((height, row_bytes * 2), np.uint8)
        inter[:, 0::2] = hi
        inter[:, 1::2] = lo
        return inter[:, :width]
    if bits == 1:
        bitsarr = np.unpackbits(arr, axis=1)
        return bitsarr[:, :width]
    raise NotImplementedError(f"{bits}-bit TIFF samples not supported")


def _undo_predictor(plane: np.ndarray, spp: int) -> np.ndarray:
    """Predictor 2 (horizontal differencing) over (h, w*spp) rows —
    modular accumulate in the plane's own width (uint8 or uint16)."""
    h, total = plane.shape
    arr = plane.reshape(h, total // spp, spp)
    return np.add.accumulate(arr, axis=1, dtype=plane.dtype).reshape(h, total)


def _decode_checked(data: bytes) -> Image:
    if data[:4] == b"II*\x00":
        bo = "<"
    elif data[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF stream")
    tags = _read_ifd(data, bo)

    def one(tag: int, default: int | None = None) -> int:
        vals = tags.get(tag)
        if not vals:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return vals[0]

    width = one(256)
    height = one(257)
    if width <= 0 or height <= 0 or width * height > MAX_PIXELS:
        raise ValueError(f"implausible TIFF dims {width}x{height}")
    spp = one(277, 1)
    bits_list = tags.get(258, [1])
    if len(set(bits_list)) != 1:
        raise NotImplementedError("mixed BitsPerSample")
    bits = bits_list[0]
    if bits not in (1, 4, 8, 16, 32):
        raise NotImplementedError(f"{bits}-bit TIFF samples not supported")
    comp = one(259, 1)
    photo = one(262, 1)
    planar = one(284, 1)
    if planar not in (1, 2):
        raise ValueError(f"bad PlanarConfiguration {planar}")
    fillorder = one(266, 1)
    if fillorder not in (1, 2):
        raise ValueError(f"bad FillOrder {fillorder}")
    sample_fmt = one(339, 1)
    if sample_fmt not in (1, 3):
        raise NotImplementedError("signed/void TIFF samples not supported")
    if sample_fmt == 3 and bits != 32:
        raise NotImplementedError("float TIFF outside 32-bit samples")
    if sample_fmt == 1 and bits == 32:
        raise NotImplementedError("32-bit uint TIFF samples not supported")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor} not supported")
    if predictor == 2 and bits not in (8, 16):
        raise NotImplementedError("predictor 2 on sub-byte samples")
    if comp == 6:
        # old-style JPEG (TIFF 6.0 §22, deprecated by TTN2): the one form
        # that appears in practice embeds a COMPLETE JFIF stream at
        # JPEGInterchangeFormat (513/514) — decode it directly; the
        # never-finished strip-table variant stays gated
        off = one(513, 0)
        ln = one(514, 0)
        if off and ln and off + ln <= len(data):
            from . import jpeg as jpeg_kernel

            jw, jh, jc, buf = jpeg_kernel.decode_jpeg(data[off : off + ln])
            if jw < width or jh < height:
                raise ValueError("old-JPEG stream smaller than TIFF dims")
            arr = np.frombuffer(buf, np.uint8).reshape(jh, jw, jc)
            return width, height, jc, arr[:height, :width].tobytes()
        raise NotImplementedError(
            "old-style JPEG-in-TIFF without JPEGInterchangeFormat"
        )
    if comp == 32771:
        raise NotImplementedError("word-aligned CCITT RLE not supported")
    if comp in (2, 3, 4):
        if bits != 1 or spp != 1 or photo not in (0, 1) or planar == 2:
            raise NotImplementedError("CCITT TIFF outside bilevel chunky")
        if comp == 3 and one(292, 0) & 2:
            raise NotImplementedError("G3 uncompressed mode not supported")
        if comp == 4 and one(293, 0) & 2:
            raise NotImplementedError("G4 uncompressed mode not supported")
    if bits == 16 and photo not in (0, 1, 2):
        raise NotImplementedError("16-bit TIFF outside gray/RGB")
    jpeg_tables = bytes(tags[347]) if 347 in tags else None

    tiled = 322 in tags or 324 in tags
    if tiled:
        tw, th = one(322), one(323)
        offsets, counts = tags.get(324, []), tags.get(325, [])
        if tw <= 0 or th <= 0 or tw * th > (1 << 26):
            raise ValueError("implausible TIFF tile dims")
        tiles_x = (width + tw - 1) // tw
        tiles_y = (height + th - 1) // th
        n_chunks = tiles_x * tiles_y
    else:
        rps = one(278, height if height else 1)
        rps = min(max(rps, 1), height)
        offsets, counts = tags.get(273, []), tags.get(279, [])
        n_chunks = (height + rps - 1) // rps
    if planar == 2:
        if tiled or comp == 7:
            raise NotImplementedError("planar tiled/JPEG TIFF not supported")
        if photo != 2 or spp not in (3, 4):
            raise NotImplementedError("planar TIFF outside RGB")
        if len(offsets) < n_chunks * spp or len(counts) < n_chunks * spp:
            raise ValueError("TIFF strip tables shorter than planar layout")
    elif len(offsets) < n_chunks or len(counts) < n_chunks:
        raise ValueError("TIFF strip/tile tables shorter than layout")

    def chunk_bytes(i: int) -> bytes:
        o, c = offsets[i], counts[i]
        if o + c > len(data) or c > (1 << 30):
            raise ValueError("TIFF strip/tile past EOF")
        raw = data[o : o + c]
        if fillorder == 2:
            raw = _REV[np.frombuffer(raw, np.uint8)].tobytes()
        return raw

    if sample_fmt == 3:
        # 32-bit float rasters (HDR/depth/scientific): strip layouts over
        # the byte-stream compressions; display mapping clamps [0,1] and
        # scales to bytes with round-half-up (floor(v*255 + 0.5))
        if tiled or planar == 2 or predictor != 1 or comp in (2, 3, 4, 6, 7):
            raise NotImplementedError("float TIFF variant not supported")
        if photo not in (0, 1, 2) or (photo == 2 and spp not in (3, 4)):
            raise NotImplementedError("float TIFF photometric not supported")
        nsamp = spp if photo == 2 else 1
        rps = one(278, height)
        rps = min(max(rps, 1), height)
        row_bytes = width * nsamp * 4
        fplane = np.zeros((height, width * nsamp), np.float64)
        y0 = 0
        for i in range(n_chunks):
            rows = min(rps, height - y0)
            raw = _decompress(comp, chunk_bytes(i), row_bytes * rows, None)
            if len(raw) < row_bytes * rows:
                raise ValueError("TIFF float strip shorter than raster")
            fplane[y0 : y0 + rows] = np.frombuffer(
                raw[: row_bytes * rows], np.dtype(bo + "f4")
            ).reshape(rows, width * nsamp)
            y0 += rows
        # NaNs clamp to 0 (np.clip propagates NaN; nan_to_num first)
        v = np.clip(np.nan_to_num(fplane, nan=0.0), 0.0, 1.0)
        out8 = np.floor(v * 255.0 + 0.5).astype(np.uint8)
        if photo == 0:
            out8 = np.uint8(255) - out8
        return width, height, nsamp, out8.tobytes()

    if comp in (2, 3, 4):
        if tiled:
            raise NotImplementedError("tiled CCITT TIFF not supported")
        from . import fax

        rps = one(278, height)
        rps = min(max(rps, 1), height)
        plane = np.zeros((height, width), np.uint8)
        g3_2d = bool(one(292, 0) & 1)
        y0 = 0
        for i in range(n_chunks):
            rows = min(rps, height - y0)
            chunk = chunk_bytes(i)
            if comp == 2:
                ink = fax.decode_mh(chunk, width, rows)
            elif comp == 3:
                ink = fax.decode_g3(chunk, width, rows, two_dim=g3_2d)
            else:
                ink = fax.decode_g4(chunk, width, rows)
            # ink 1 = black; photometric 0 (white-is-zero, the fax
            # default) inverts below like the raw-bilevel path
            plane[y0 : y0 + rows] = ink if photo == 0 else 1 - ink
            y0 += rows
        plane = plane * np.uint8(255)
        if photo == 0:
            plane = np.uint8(255) - plane
        return width, height, 1, plane.tobytes()

    if comp == 7:
        # JPEG chunks decode straight to interleaved 8-bit samples
        from . import jpeg as jpeg_kernel

        out = np.zeros((height, width, 3), np.uint8)
        idx = 0
        if tiled:
            for ty in range(tiles_y):
                for tx in range(tiles_x):
                    jw, jh, jc, buf = jpeg_kernel.decode_jpeg(
                        _jpeg_segment(chunk_bytes(idx), jpeg_tables)
                    )
                    idx += 1
                    if jc != 3 or jw < min(tw, width - tx * tw) or jh < min(th, height - ty * th):
                        raise ValueError("JPEG tile does not cover its cell")
                    t = np.frombuffer(buf, np.uint8).reshape(jh, jw, 3)
                    y0, x0 = ty * th, tx * tw
                    hh = min(th, height - y0)
                    ww = min(tw, width - x0)
                    out[y0 : y0 + hh, x0 : x0 + ww] = t[:hh, :ww]
        else:
            rps = one(278, height)
            rps = min(max(rps, 1), height)
            y0 = 0
            for i in range(n_chunks):
                jw, jh, jc, buf = jpeg_kernel.decode_jpeg(
                    _jpeg_segment(chunk_bytes(i), jpeg_tables)
                )
                rows = min(rps, height - y0)
                if jc != 3 or jw < width or jh < rows:
                    raise ValueError("JPEG strip does not cover its rows")
                s = np.frombuffer(buf, np.uint8).reshape(jh, jw, 3)
                out[y0 : y0 + rows] = s[:rows, :width]
                y0 += rows
        return width, height, 3, out.tobytes()

    dtype = np.uint16 if bits == 16 else np.uint8
    if photo in (0, 1, 3):
        if spp != 1:
            raise NotImplementedError("multi-sample gray/palette TIFF")
        plane = np.zeros((height, width), dtype)
    elif photo == 2:
        if bits not in (8, 16) or spp not in (3, 4):
            raise NotImplementedError(f"RGB TIFF with bits={bits} spp={spp}")
        plane = np.zeros((height, width * spp), dtype)
    else:
        raise NotImplementedError(f"TIFF photometric {photo} not supported")

    row_samples = width * spp if photo == 2 else width
    if planar == 2:
        # one full strip set per sample plane, recombined chunky
        rps = one(278, height)
        rps = min(max(rps, 1), height)
        row_bytes = (width * bits + 7) // 8
        for p in range(spp):
            y0 = 0
            for i in range(n_chunks):
                rows = min(rps, height - y0)
                raw = _decompress(
                    comp, chunk_bytes(p * n_chunks + i), row_bytes * rows,
                    jpeg_tables,
                )
                splane = _expand_bits(raw, width, rows, bits, bo)
                if predictor == 2:
                    splane = _undo_predictor(splane, 1)
                plane[y0 : y0 + rows, p::spp] = splane
                y0 += rows
    elif tiled:
        tile_row_bytes = (tw * bits * (spp if photo == 2 else 1) + 7) // 8
        for idx in range(n_chunks):
            ty, tx = divmod(idx, tiles_x)
            raw = _decompress(comp, chunk_bytes(idx), tile_row_bytes * th, jpeg_tables)
            tplane = _expand_bits(raw, tw * (spp if photo == 2 else 1), th, bits, bo)
            if predictor == 2:
                tplane = _undo_predictor(tplane, spp)
            y0, x0 = ty * th, tx * tw
            hh = min(th, height - y0)
            ww = min(tw, width - x0) * (spp if photo == 2 else 1)
            x0s = x0 * (spp if photo == 2 else 1)
            plane[y0 : y0 + hh, x0s : x0s + ww] = tplane[:hh, :ww]
    else:
        rps = one(278, height)
        rps = min(max(rps, 1), height)
        row_bytes = (row_samples * bits + 7) // 8
        y0 = 0
        for i in range(n_chunks):
            rows = min(rps, height - y0)
            raw = _decompress(comp, chunk_bytes(i), row_bytes * rows, jpeg_tables)
            splane = _expand_bits(raw, row_samples, rows, bits, bo)
            if predictor == 2:
                splane = _undo_predictor(splane, spp)
            plane[y0 : y0 + rows] = splane
            y0 += rows

    if bits == 16:
        # display mapping: top 8 bits (the lossless-JPEG/palette rule)
        plane = (plane >> 8).astype(np.uint8)
    if photo == 2:
        return width, height, spp, plane.tobytes()
    if photo == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * (1 << bits):
            raise ValueError("palette TIFF missing/short ColorMap")
        n = 1 << bits
        lut = np.zeros((n, 3), np.uint8)
        for ch in range(3):
            lut[:, ch] = [v >> 8 for v in cmap[ch * n : (ch + 1) * n]]
        rgb = lut[plane]
        return width, height, 3, rgb.tobytes()
    # gray: expand sub-byte sample range to 8-bit, invert WhiteIsZero
    if bits == 1:
        plane = plane * np.uint8(255)
    elif bits == 4:
        plane = plane * np.uint8(17)
    if photo == 0:
        plane = np.uint8(255) - plane
    return width, height, 1, plane.tobytes()
