"""Pixel kernel: PNG codec round-trips (every filter type), PIL-parity
geometry (crop / contain / pad / exif transpose), and the reference's
composite flows (dynamic_preprocess tiles, padded global view) byte-checked
against independently-computed expected pixels on synthetic gradients."""

import struct
import zlib

import pytest

from deepseek_ocr_spark.kernels import pixels
from deepseek_ocr_spark.kernels.tiling import tile_boxes, tile_plan


def gradient(w, h, ch=3):
    """Deterministic per-pixel pattern — expected values computable at any
    coordinate without the codec."""
    buf = bytearray()
    for y in range(h):
        for x in range(w):
            px = [(x * 7 + y * 13) % 256, (x * 3 + y * 5) % 256, (x + y) % 256,
                  (x * 11 + y) % 256][:ch]
            buf += bytes(px)
    return (w, h, ch, bytes(buf))


def px(img, x, y):
    w, _h, ch, buf = img
    o = (y * w + x) * ch
    return tuple(buf[o : o + ch])


# --- independent reference bicubic (the spec, scalar transcription) --------------
# Computed from the interpolation formula + PIL's published fixed-point
# pipeline (Keys kernel a=-0.5, windows rounded at int(center±support+0.5),
# normalized weights quantized round-half-away to 22-bit fixed point,
# horizontal pass quantized to uint8 before vertical, accumulator seeded
# with 2^21, arithmetic shift, clamp). NEVER calls into the module under
# test — this is the yardstick the numpy lane is measured against.

_PREC = 22


def _ref_weight(x):
    a = -0.5
    x = abs(x)
    if x < 1.0:
        return ((a + 2.0) * x - (a + 3.0)) * x * x + 1.0
    if x < 2.0:
        return (((x - 5.0) * x + 8.0) * x - 4.0) * a
    return 0.0


def _ref_coeffs(in_size, out_size):
    scale = in_size / out_size
    fs = max(scale, 1.0)
    ss = 1.0 / fs  # Pillow Resample.c precomputes the reciprocal and MULTIPLIES
    support = 2.0 * fs
    out = []
    for xx in range(out_size):
        center = (xx + 0.5) * scale
        xmin = max(int(center - support + 0.5), 0)
        xmax = min(int(center + support + 0.5), in_size)
        ws = [_ref_weight((x - center + 0.5) * ss) for x in range(xmin, xmax)]
        t = sum(ws)
        kk = []
        for w in ws:
            v = (w / t if t != 0.0 else 0.0) * (1 << _PREC)
            kk.append(int(v + 0.5) if v >= 0 else int(v - 0.5))
        out.append((xmin, kk))
    return out


def _ref_clip8(acc):
    v = acc >> _PREC
    return 0 if v < 0 else (255 if v > 255 else v)


def ref_resize_bicubic(img, dw, dh):
    w, h, ch, buf = img
    grid = [[px(img, x, y) for x in range(w)] for y in range(h)]
    if dw != w:  # horizontal pass
        cs = _ref_coeffs(w, dw)
        grid = [
            [
                tuple(
                    _ref_clip8(
                        (1 << (_PREC - 1))
                        + sum(k * row[xmin + t][c] for t, k in enumerate(kk))
                    )
                    for c in range(ch)
                )
                for xmin, kk in cs
            ]
            for row in grid
        ]
        w = dw
    if dh != h:  # vertical pass
        cs = _ref_coeffs(h, dh)
        grid = [
            [
                tuple(
                    _ref_clip8(
                        (1 << (_PREC - 1))
                        + sum(k * grid[ymin + t][x][c] for t, k in enumerate(kk))
                    )
                    for c in range(ch)
                )
                for x in range(w)
            ]
            for ymin, kk in cs
        ]
        h = dh
    flat = bytearray()
    for row in grid:
        for p in row:
            flat += bytes(p)
    return (dw, dh, ch, bytes(flat))


# --- codec ----------------------------------------------------------------------


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_every_filter(filter_type, ch):
    img = gradient(13, 7, ch)
    out = pixels.decode_png(pixels.encode_png(img, filter_type=filter_type))
    assert out == img


def test_png_palette_expands_to_rgb():
    w, h = 4, 2
    plte = bytes(range(30))  # 10 palette entries
    idx = bytes([0, 1, 2, 3, 9, 8, 7, 6])
    raw = b"".join(b"\x00" + idx[y * w : (y + 1) * w] for y in range(h))

    def chunk(t, p):
        return struct.pack(">I", len(p)) + t + p + struct.pack(
            ">I", zlib.crc32(t + p) & 0xFFFFFFFF
        )

    data = (
        pixels.PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = pixels.decode_png(data)
    assert out[:3] == (w, h, 3)
    assert px(out, 0, 0) == (0, 1, 2)
    assert px(out, 0, 1) == tuple(plte[27:30])


@pytest.mark.parametrize(
    "bad",
    [
        b"",
        b"\x89PNG\r\n\x1a\n",
        b"not a png at all",
        pixels.PNG_SIG + struct.pack(">I", 13) + b"IHDR" + b"\x00" * 5,
        # valid header, corrupt zlib stream
        pixels.PNG_SIG
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0) + b"\x00" * 4
        + struct.pack(">I", 4) + b"IDAT" + b"\xde\xad\xbe\xef" + b"\x00" * 4,
    ],
)
def test_png_hostile_raises_valueerror_only(bad):
    with pytest.raises(ValueError):
        pixels.decode_png(bad)


def test_png_interlaced_rejected():
    hdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    data = (
        pixels.PNG_SIG
        + struct.pack(">I", 13) + b"IHDR" + hdr + b"\x00" * 4
    )
    with pytest.raises(ValueError, match="interlaced"):
        pixels.decode_png(data)


def test_decode_image_hostile_tails_raise_contract_errors_only():
    """Random bytes after each native signature (PNG, JPEG, GIF, BMP,
    both TIFF byte orders, RIFF/WEBP) either decode to a well-formed Image
    or raise ValueError / NotImplementedError — the only exceptions the
    vision stages' drop rule catches. Anything else fails the task."""
    from hypothesis import given, settings, strategies as st

    prefixes = st.sampled_from(
        [pixels.PNG_SIG, b"\xff\xd8", b"GIF89a", b"BM", b"II*\x00", b"MM\x00*"]
    ) | st.binary(min_size=4, max_size=4).map(lambda n: b"RIFF" + n + b"WEBP")

    @settings(max_examples=1000, deadline=None)
    @given(prefix=prefixes, tail=st.binary(max_size=512))
    def prop(prefix, tail):
        try:
            w, h, ch, buf = pixels.decode_image(prefix + tail)
        except (ValueError, NotImplementedError):
            return
        assert len(buf) == w * h * ch

    prop()
    with pytest.raises(NotImplementedError):
        pixels.decode_image(b"unknown signature")


# --- geometry -------------------------------------------------------------------


def test_crop_exact_and_out_of_bounds_zero_fill():
    img = gradient(10, 6)
    c = pixels.crop(img, (2, 1, 7, 4))
    assert c[:3] == (5, 3, 3)
    for y in range(3):
        for x in range(5):
            assert px(c, x, y) == px(img, x + 2, y + 1)
    o = pixels.crop(img, (8, 4, 12, 8))  # hangs over right/bottom
    assert o[:3] == (4, 4, 3)
    assert px(o, 0, 0) == px(img, 8, 4)
    assert px(o, 3, 3) == (0, 0, 0)  # outside source → zero-filled (PIL parity)


def test_resize_nearest_center_sample():
    img = gradient(4, 4)
    up = pixels.resize_nearest(img, 8, 8)
    for y in range(8):
        for x in range(8):
            sx = min(3, (2 * x + 1) * 4 // 16)
            sy = min(3, (2 * y + 1) * 4 // 16)
            assert px(up, x, y) == px(img, sx, sy)
    assert pixels.resize_nearest(img, 4, 4) is img


@pytest.mark.parametrize(
    "w,h,tw,th,expected",
    [
        (1000, 333, 100, 100, (100, 33)),   # round(33.3) = 33
        (333, 1000, 100, 100, (33, 100)),
        (500, 500, 100, 100, (100, 100)),   # same ratio → target
        (1024, 640, 1024, 1024, (1024, 640)),
        (640, 1024, 1024, 1024, (640, 1024)),
        (250, 100, 100, 100, (100, 40)),
        (1000, 375, 100, 100, (100, 38)),   # round(37.5) = 38 (banker's: even)
        (1000, 625, 100, 100, (100, 62)),   # round(62.5) = 62 (banker's: even)
    ],
)
def test_contain_size_pil_arithmetic(w, h, tw, th, expected):
    assert pixels.contain_size(w, h, tw, th) == expected


def test_pad_global_view_geometry_and_fill():
    img = gradient(100, 40)  # wide → contain to (64, 26), centered vertically
    out = pixels.global_view(img, 64)
    assert out[:3] == (64, 64, 3)
    cw, ch = pixels.contain_size(100, 40, 64, 64)
    assert (cw, ch) == (64, 26)
    y0 = round((64 - 26) * 0.5)  # PIL centering offset = 19
    assert y0 == 19
    fill = (pixels.PAD_FILL,) * 3
    assert px(out, 0, 0) == fill and px(out, 63, y0 - 1) == fill
    assert px(out, 0, y0 + 26) == fill and px(out, 63, 63) == fill
    resized = ref_resize_bicubic(img, cw, ch)
    for x, y in [(0, 0), (31, 13), (63, 25)]:
        assert px(out, x, y0 + y) == px(resized, x, y)


def test_pad_exact_fit_no_canvas():
    img = gradient(50, 50)
    out = pixels.pad(img, (64, 64), (127, 127, 127))
    assert out == ref_resize_bicubic(img, 64, 64)


@pytest.mark.parametrize("orientation", range(1, 9))
def test_exif_transpose_coordinates(orientation):
    img = gradient(3, 2)
    out = pixels.exif_transpose(img, orientation)
    w, h = 3, 2
    swap = orientation in (5, 6, 7, 8)
    assert out[:2] == ((h, w) if swap else (w, h))
    mapping = {
        1: lambda x, y: (x, y),
        2: lambda x, y: (w - 1 - x, y),
        3: lambda x, y: (w - 1 - x, h - 1 - y),
        4: lambda x, y: (x, h - 1 - y),
        5: lambda x, y: (y, x),
        6: lambda x, y: (h - 1 - y, x),
        7: lambda x, y: (h - 1 - y, w - 1 - x),
        8: lambda x, y: (y, w - 1 - x),
    }[orientation]
    for y in range(h):
        for x in range(w):
            assert px(out, *mapping(x, y)) == px(img, x, y)


def test_exif_transpose_involutions():
    img = gradient(5, 3)
    for o in (2, 3, 4):
        assert pixels.exif_transpose(pixels.exif_transpose(img, o), o) == img
    # rot90 then rot270 = identity
    assert pixels.exif_transpose(pixels.exif_transpose(img, 6), 8) == img


# --- reference composite flows ----------------------------------------------------


def test_dynamic_tiles_match_grid_and_pixels():
    """Tile pixels must equal the bicubic-resized image sampled through the
    row-major tile grid — expected values computed by the independent
    reference transcription, never by the module's own resize/crop."""
    sz = 32
    img = gradient(130, 60)
    nw, nh = tile_plan(130, 60, True, image_size=sz)
    assert (nw, nh) > (1, 1) or nw * nh > 1
    tiles = pixels.dynamic_tiles(img, nw, nh, sz)
    assert len(tiles) == nw * nh
    boxes = tile_boxes(nw, nh, sz)
    resized = ref_resize_bicubic(img, nw * sz, nh * sz)
    for (x1, y1, _x2, _y2), tile in zip(boxes, tiles):
        assert tile[:3] == (sz, sz, 3)
        for tx, ty in [(0, 0), (sz // 2, sz // 3), (sz - 1, sz - 1)]:
            assert px(tile, tx, ty) == px(resized, x1 + tx, y1 + ty)


@pytest.mark.parametrize(
    "w,h,dw,dh",
    [
        (4, 4, 8, 8),      # pure upscale (filterscale pinned at 1)
        (13, 7, 5, 9),     # downscale x / upscale y in one call
        (130, 60, 96, 32), # both downscale, non-integer ratios
        (1, 1, 3, 3),      # degenerate source
        (9, 5, 1, 1),      # collapse to a point
        (10, 10, 10, 4),   # vertical-only pass (horizontal skipped)
        (10, 10, 4, 10),   # horizontal-only pass
    ],
)
def test_resize_bicubic_matches_reference_formula(w, h, dw, dh):
    """The numpy bicubic lane must be byte-identical to the scalar
    transcription of the interpolation formula (ref_resize_bicubic above)."""
    img = gradient(w, h)
    assert pixels.resize_bicubic(img, dw, dh) == ref_resize_bicubic(img, dw, dh)


def test_resize_bicubic_fuzz_matches_reference():
    """Property: RANDOM images and arbitrary scale pairs agree with the
    scalar reference transcription byte-for-byte (the gradient cases
    above can't hit every window-clamp and negative-lobe path)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        dw=st.integers(1, 14),
        dh=st.integers(1, 14),
        data=st.data(),
    )
    def prop(w, h, dw, dh, data):
        buf = bytes(
            data.draw(st.lists(st.integers(0, 255), min_size=w * h * 3,
                               max_size=w * h * 3))
        )
        img = (w, h, 3, buf)
        assert pixels.resize_bicubic(img, dw, dh) == ref_resize_bicubic(img, dw, dh)

    prop()


def test_resize_bicubic_preserves_constant_and_identity():
    const = pixels.new_image(9, 6, 3, (77, 12, 200))
    for dw, dh in [(3, 2), (20, 15), (9, 11)]:
        out = pixels.resize_bicubic(const, dw, dh)
        assert out[:3] == (dw, dh, 3)
        assert set(out[3][0::3]) == {77}
        assert set(out[3][1::3]) == {12}
        assert set(out[3][2::3]) == {200}
    img = gradient(7, 5)
    assert pixels.resize_bicubic(img, 7, 5) is img


def test_resize_bicubic_matches_real_pil_when_present():
    """Codec-present lane (tests/test_jpeg_codec.py style): when real
    Pillow is importable, the module's bicubic must byte-match
    `Image.resize(..., Resampling.BICUBIC)` — the ground truth the scalar
    transcription approximates. Self-skips in this sandbox (no PIL)."""
    PIL_Image = pytest.importorskip("PIL.Image")

    for (w, h, dw, dh) in [(13, 7, 5, 9), (130, 60, 96, 32), (4, 4, 8, 8),
                           (10, 10, 10, 4), (9, 5, 1, 1)]:
        img = gradient(w, h)
        pil = PIL_Image.frombytes("RGB", (w, h), img[3])
        expected = pil.resize((dw, dh), PIL_Image.Resampling.BICUBIC).tobytes()
        assert pixels.resize_bicubic(img, dw, dh)[3] == expected, (w, h, dw, dh)


def test_resize_bicubic_overshoot_is_clamped():
    """Keys a=-0.5 overshoots at step edges; the fixed-point clip8 must
    clamp to [0, 255] — a hard black/white edge upscaled stays in range
    and the overshoot saturates instead of wrapping."""
    w = 8
    buf = bytes([0] * (w // 2) * 3 + [255] * (w // 2) * 3)
    img = (w, 1, 3, buf)
    out = pixels.resize_bicubic(img, 24, 1)
    vals = list(out[3][0::3])
    assert min(vals) == 0 and max(vals) == 255  # clamped, not wrapped
    assert vals == list(ref_resize_bicubic(img, 24, 1)[3][0::3])


# --- numpy lane == pure-Python oracle lane ---------------------------------------


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 3, 4])
def test_filter_lanes_byte_equal(filter_type, ch):
    img = gradient(17, 9, ch)
    assert pixels._filter_rows(img, filter_type) == pixels._py_filter_rows(
        img, filter_type
    )
    raw = pixels._py_filter_rows(img, filter_type)
    assert bytes(pixels._unfilter(raw, 17, 9, ch)) == bytes(
        pixels._py_unfilter(raw, 17, 9, ch)
    )


def test_geometry_lanes_byte_equal():
    img = gradient(19, 11, 3)
    assert pixels.resize_nearest(img, 7, 23) == pixels._py_resize_nearest(img, 7, 23)
    for o in range(2, 9):
        assert pixels.exif_transpose(img, o) == pixels._py_exif_transpose(img, o)
    canvas = pixels.new_image(40, 30, 3, (5, 6, 7))
    assert pixels.paste(canvas, img, 11, 13) == pixels._py_paste(canvas, img, 11, 13)
    assert pixels.to_tensor_normalized(img) == pixels._py_to_tensor_normalized(img)


def test_lanes_byte_equal_hypothesis():
    """Property: numpy and pure-Python lanes agree on random images for
    every filter type (both directions) and nearest resize."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 10),
        h=st.integers(1, 10),
        ch=st.sampled_from([1, 2, 3, 4]),
        ft=st.integers(0, 4),
        dw=st.integers(1, 12),
        dh=st.integers(1, 12),
        data=st.data(),
    )
    def prop(w, h, ch, ft, dw, dh, data):
        buf = bytes(
            data.draw(
                st.lists(st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch)
            )
        )
        img = (w, h, ch, buf)
        assert pixels._filter_rows(img, ft) == pixels._py_filter_rows(img, ft)
        raw = pixels._py_filter_rows(img, ft)
        assert bytes(pixels._unfilter(raw, w, h, ch)) == bytes(
            pixels._py_unfilter(raw, w, h, ch)
        )
        assert pixels.resize_nearest(img, dw, dh) == pixels._py_resize_nearest(
            img, dw, dh
        )

    prop()


def test_to_tensor_normalized():
    """O-15: ToTensor+Normalize analog — CHW layout, exact (x/255 - m)/s."""
    img = gradient(3, 2)
    t = pixels.to_tensor_normalized(img)
    assert len(t) == 3 and len(t[0]) == 2 and len(t[0][0]) == 3
    for y in range(2):
        for x in range(3):
            r, g, b = px(img, x, y)
            assert t[0][y][x] == (r / 255.0 - 0.5) / 0.5
            assert t[1][y][x] == (g / 255.0 - 0.5) / 0.5
            assert t[2][y][x] == (b / 255.0 - 0.5) / 0.5
    # value range check: uint8 0 → -1.0, 255 → 1.0 exactly
    solid = pixels.new_image(1, 1, 3, (0, 255, 128))
    ts = pixels.to_tensor_normalized(solid)
    assert ts[0][0][0] == -1.0 and ts[1][0][0] == 1.0


def test_png_roundtrip_hypothesis():
    """Property: any small random image round-trips through every filter."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=30, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        ch=st.sampled_from([1, 2, 3, 4]),
        ft=st.integers(0, 4),
        data=st.data(),
    )
    def prop(w, h, ch, ft, data):
        buf = bytes(
            data.draw(
                st.lists(
                    st.integers(0, 255), min_size=w * h * ch, max_size=w * h * ch
                )
            )
        )
        img = (w, h, ch, buf)
        assert pixels.decode_png(pixels.encode_png(img, filter_type=ft)) == img

    prop()
