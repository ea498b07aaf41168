"""MP4/ISO-BMFF container metadata — stdlib box walker, the video leg of
the multimodal binary-column matrix (image: pixels/jpeg/gif; audio: wav;
video: here).

Real parsing of the box tree (size/type headers, 64-bit largesize, nested
containers) for the metadata a 100 TB pipeline triages video columns by:
brand, movie duration/timescale (moov/mvhd v0+v1) and per-track
dimensions (trak/tkhd 16.16 fixed point).  Frame DECODE stays out of
scope (a real deployment injects ffmpeg into the frame_sample contract);
this parser is what runs BEFORE spending decode cycles, exactly like
sniff_image_meta for images.

A matching minimal WRITER builds spec-valid streams so the parser has a
real round-trip in-sandbox (the WAV-kernel pattern); ValueError on
corrupt input — callers apply the hostile-payload drop rule."""

from __future__ import annotations

import struct


def _boxes(data: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", data[pos : pos + 8])
        body_off = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            body_off = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < body_off - pos or pos + size > end:
            raise ValueError(f"bad box size {size} for {btype!r}")
        yield btype, body_off, pos + size
        pos += size


def parse_mp4_meta(data: bytes) -> dict:
    """{brand, timescale, duration_ms, n_tracks, width, height} from the
    box tree; width/height are the FIRST video-sized track's (tkhd dims
    are 16.16 fixed point; audio tracks carry 0x0).  ValueError when the
    stream is not ISO-BMFF or moov/mvhd is missing/corrupt."""
    try:
        return _parse_checked(data)
    except ValueError:
        raise
    except (struct.error, IndexError, KeyError, OverflowError) as e:
        raise ValueError(f"corrupt MP4 stream ({type(e).__name__})") from e


def _parse_checked(data: bytes) -> dict:
    if len(data) < 12:
        raise ValueError("too short for an MP4")
    top = list(_boxes(data, 0, len(data)))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("no ftyp box — not ISO-BMFF")
    brand = data[top[0][1] : top[0][1] + 4].decode("latin-1")
    out = {
        "brand": brand, "timescale": None, "duration_ms": None,
        "n_tracks": 0, "width": 0, "height": 0,
    }
    moov = next(((b, e) for t, b, e in top if t == b"moov"), None)
    if moov is None:
        raise ValueError("no moov box")
    for btype, body, end in _boxes(data, moov[0], moov[1]):
        if btype == b"mvhd":
            ver = data[body]
            if ver == 1:
                ts, dur = struct.unpack(">IQ", data[body + 20 : body + 32])
            else:
                ts, dur = struct.unpack(">II", data[body + 12 : body + 20])
            if ts == 0:
                raise ValueError("zero mvhd timescale")
            out["timescale"] = ts
            out["duration_ms"] = dur * 1000 // ts
        elif btype == b"trak":
            out["n_tracks"] += 1
            for t2, b2, _e2 in _boxes(data, body, end):
                if t2 != b"tkhd":
                    continue
                ver = data[b2]
                off = b2 + (96 if ver == 1 else 84) - 8
                w16, h16 = struct.unpack(">II", data[off : off + 8])
                if out["width"] == 0 and w16:
                    out["width"] = w16 >> 16
                    out["height"] = h16 >> 16
    if out["timescale"] is None:
        raise ValueError("no mvhd box")
    return out


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I4s", len(body) + 8, btype) + body


def build_mp4(
    width: int, height: int, duration: int, timescale: int = 1000,
    brand: bytes = b"isom", n_audio_tracks: int = 0,
) -> bytes:
    """Minimal spec-valid MP4: ftyp + moov(mvhd + one video trak [+ audio
    traks]) — metadata-only (no mdat; the parser never needs samples)."""
    mvhd = bytes([0, 0, 0, 0]) + struct.pack(
        ">IIII", 0, 0, timescale, duration
    ) + bytes(80)
    def tkhd(track_id, w, h):
        body = bytes([0, 0, 0, 0]) + struct.pack(">III", 0, 0, track_id)
        body += bytes(4) + struct.pack(">I", duration) + bytes(8)
        body += bytes(8)  # layer, alt group, volume, reserved
        body += bytes(36)  # matrix
        body += struct.pack(">II", w << 16, h << 16)
        return _box(b"tkhd", body)

    traks = [_box(b"trak", tkhd(1, width, height))]
    for i in range(n_audio_tracks):
        traks.append(_box(b"trak", tkhd(2 + i, 0, 0)))
    moov = _box(b"moov", _box(b"mvhd", mvhd) + b"".join(traks))
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0x200) + b"isomiso2")
    return ftyp + moov
