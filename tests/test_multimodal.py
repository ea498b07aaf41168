"""Multimodal metadata decode: real header parsing (PNG/GIF/BMP/JPEG + EXIF
orientation) over hand-built byte fixtures, the hostile-payload rule, and
the injectable-codec interface of the stubbed pixel decoder."""

import struct

from deepseek_ocr_spark.operators.multimodal import (
    decode_image_meta,
    image_meta,
    sniff_image_meta,
)


def make_png(w, h):
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def make_gif(w, h):
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 20


def make_bmp(w, h):
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 20


def make_jpeg(w, h, orientation=None):
    """Minimal JPEG: SOI + optional EXIF APP1 + SOF0 + SOS."""
    out = b"\xff\xd8"
    if orientation is not None:
        tiff = (
            b"II" + struct.pack("<H", 42) + struct.pack("<I", 8)
            + struct.pack("<H", 1)                       # 1 IFD entry
            + struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<HH", orientation, 0)
            + struct.pack("<I", 0)
        )
        body = b"Exif\x00\x00" + tiff
        out += b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    sof = b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x01\x11\x00\x02\x11\x01\x03\x11\x01"
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += b"\xff\xda" + struct.pack(">H", 2)
    return out


def test_sniff_formats():
    assert sniff_image_meta(make_png(800, 600)) == ("png", 800, 600, 1)
    assert sniff_image_meta(make_gif(64, 48)) == ("gif", 64, 48, 1)
    assert sniff_image_meta(make_bmp(320, 200)) == ("bmp", 320, 200, 1)
    assert sniff_image_meta(make_bmp(320, -200)) == ("bmp", 320, 200, 1)  # top-down BMP
    assert sniff_image_meta(make_jpeg(1024, 768)) == ("jpeg", 1024, 768, 1)
    assert sniff_image_meta(make_jpeg(1024, 768, orientation=6)) == ("jpeg", 1024, 768, 6)


def test_sniff_hostile_never_raises():
    for payload in [b"", b"\x00", b"GIF8", b"\xff\xd8\xff", b"BM", b"\x89PNG\r\n\x1a\n" + b"\x00" * 3,
                    b"\xff\xd8" + b"\xff\xc0\x00\x01", b"not an image at all" * 10]:
        assert sniff_image_meta(payload) is None or isinstance(sniff_image_meta(payload), tuple)


def test_image_meta_spark(spark):
    rows = [
        (1, make_png(800, 600)),
        (2, make_jpeg(1024, 768, orientation=6)),  # 90° rotation → display swap
        (3, make_jpeg(100, 50, orientation=3)),    # 180° → no swap
        (4, b"hostile not-an-image"),
        (5, None),
        (6, make_gif(64, 48)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in image_meta(df).collect()}
    assert got[1]["format"] == "png" and got[1]["display_width"] == 800
    assert got[2]["orientation"] == 6
    assert (got[2]["display_width"], got[2]["display_height"]) == (768, 1024)
    assert (got[3]["display_width"], got[3]["display_height"]) == (100, 50)
    assert got[4]["format"] is None and got[4]["img_width"] is None
    assert got[5]["format"] is None
    assert got[6]["format"] == "gif"


def test_decode_injectable_codec_interface(spark):
    """The codec-present path (decoder=_real_decode on a cluster image) is
    the same row-shell plumbing with a different decoder — exercised here
    by injecting one, so the interface can't rot while gated."""
    docs = spark.createDataFrame(
        [(1, "abc"), (2, "defgh")], "doc_id long, text string"
    )
    fake_real = lambda data: (len(data) * 10, len(data) * 5, 3)
    got = {r["doc_id"]: r for r in decode_image_meta(docs, decoder=fake_real).collect()}
    assert (got[1]["img_width"], got[1]["img_height"], got[1]["channels"]) == (30, 15, 3)
    assert got[2]["n_bytes"] == 5 and got[2]["img_width"] == 50


from hypothesis import given, settings, strategies as st


@given(st.binary(min_size=0, max_size=64))
@settings(max_examples=300, deadline=None)
def test_sniff_fuzz_never_raises(payload):
    r = sniff_image_meta(payload)
    assert r is None or (isinstance(r, tuple) and len(r) == 4)


@given(st.binary(min_size=0, max_size=40))
@settings(max_examples=200, deadline=None)
def test_sniff_fuzz_jpeg_prefixed(payload):
    # adversarial: valid JPEG SOI then garbage — must parse or reject, never raise
    r = sniff_image_meta(b"\xff\xd8" + payload)
    assert r is None or r[0] == "jpeg"


def test_sniff_jpeg_fill_byte_padding():
    """0xFF fill bytes between segments are legal (JPEG B.1.1.2) and must
    not abort the walk."""
    j = make_jpeg(640, 480)
    assert j[2:4] == b"\xff\xc0"
    padded = j[:2] + b"\xff\xff\xff" + j[2:]
    assert sniff_image_meta(padded) == ("jpeg", 640, 480, 1)
    j2 = make_jpeg(100, 50, orientation=6)
    sof_at = j2.index(b"\xff\xc0")
    padded2 = j2[:sof_at] + b"\xff" * 5 + j2[sof_at:]
    assert sniff_image_meta(padded2) == ("jpeg", 100, 50, 6)


def test_real_decode_png_native(spark):
    """O-3 pixel decode is real for PNG: the injectable-decoder default
    path decodes an actual PNG via the stdlib kernel."""
    from deepseek_ocr_spark.kernels import pixels
    from deepseek_ocr_spark.operators.multimodal import _real_decode
    from tests.test_pixels import gradient

    assert _real_decode(pixels.encode_png(gradient(30, 20))) == (30, 20, 3)
    # the non-PNG side of the gate is covered both ways in
    # tests/test_jpeg_codec.py (codec-present lane + sandbox raise)
