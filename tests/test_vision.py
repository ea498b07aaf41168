"""Spark vision operators: real pixel bytes flowing through Arrow-batched
mapInArrow stages — Gundam tile fan-out (with small-page bypass), padded
global views, region crops — plus the hostile-payload drop rule."""

import pytest

from deepseek_ocr_spark.kernels import pixels
from deepseek_ocr_spark.kernels.tiling import tile_plan
from deepseek_ocr_spark.operators.vision import (
    global_views,
    gundam_tiles,
    region_crops,
)
from tests.test_pixels import gradient, px

SZ = 64  # small tile size → tiny fixtures, same code paths as 640


@pytest.fixture(scope="module")
def images_df(spark):
    from tests.test_bmp import build_bmp

    # structurally VALID but unsupported variant (BI_JPEG compression):
    # decode raises NotImplementedError — the lanes must drop it like a
    # hostile payload, not kill the task (one exotic file in a crawl)
    unsupported = bytearray(build_bmp(2, 2, 8, [b"\x00\x00"] * 2,
                                      palette=[(0, 0, 0)] * 256))
    unsupported[30] = 4
    rows = [
        (1, pixels.encode_png(gradient(130, 70))),   # > SZ → crop path
        (2, pixels.encode_png(gradient(60, 60))),    # ≤ SZ → bypass (O-18)
        (3, b"\x89PNG but hostile garbage"),         # undecodable → dropped
        (4, pixels.encode_png(gradient(70, 140))),   # tall crop path
        (5, bytes(unsupported)),                     # NotImplemented → dropped
    ]
    return spark.createDataFrame(rows, "doc_id LONG, png BINARY")


def test_gundam_tiles_spark(spark, images_df):
    out = gundam_tiles(images_df, image_size=SZ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # bypass and hostile rows contribute zero tiles
    assert set(by_doc) == {1, 4}
    nw, nh = tile_plan(130, 70, True, image_size=SZ)
    assert len(by_doc[1]) == nw * nh
    r0 = sorted(by_doc[1], key=lambda r: r["tile_ix"])[0]
    assert (r0["nw"], r0["nh"]) == (nw, nh)
    assert (r0["img_width"], r0["img_height"]) == (130, 70)
    # tile bytes are a real PNG of the expected crop
    tile = pixels.decode_png(bytes(r0["tile_png"]))
    expected = pixels.dynamic_tiles(
        pixels.decode_png(bytes(images_df.filter("doc_id=1").head()["png"])),
        nw, nh, SZ,
    )[0]
    assert tile == expected


def test_global_views_spark(spark, images_df):
    out = {r["doc_id"]: r for r in global_views(images_df, base_size=SZ).collect()}
    assert set(out) == {1, 2, 4}  # hostile row dropped
    v = pixels.decode_png(bytes(out[1]["view_png"]))
    assert v[:2] == (SZ, SZ)
    assert v == pixels.global_view(gradient(130, 70), SZ)
    assert px(v, 0, 0) == (pixels.PAD_FILL,) * 3


def test_region_crops_spark(spark):
    img = gradient(50, 40)
    df = spark.createDataFrame(
        [
            (7, pixels.encode_png(img), 0, 5, 5, 25, 30),
            (7, pixels.encode_png(img), 1, 0, 0, 10, 10),
            (8, b"junk", 0, 0, 0, 5, 5),  # hostile → dropped
        ],
        "doc_id LONG, png BINARY, region_ix INT, x1 INT, y1 INT, x2 INT, y2 INT",
    )
    out = {(r["doc_id"], r["region_ix"]): r for r in region_crops(df).collect()}
    assert set(out) == {(7, 0), (7, 1)}
    c = pixels.decode_png(bytes(out[(7, 0)]["crop_png"]))
    assert c == pixels.crop(img, (5, 5, 25, 30))
    assert px(c, 0, 0) == px(img, 5, 5)


def test_vision_plans_are_arrow_batched(spark, images_df):
    plan = gundam_tiles(images_df, image_size=SZ)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInArrow") == 1, plan


def test_gundam_tiles_real_config_size(spark):
    """The real Gundam config (IMAGE_SIZE=640): a 1300x700 page plans to a
    multi-tile grid and every tile decodes to 640x640 with the expected
    corner pixels."""
    img = gradient(1300, 700)
    df = spark.createDataFrame(
        [(1, pixels.encode_png(img))], "doc_id LONG, png BINARY"
    )
    rows = sorted(gundam_tiles(df).collect(), key=lambda r: r["tile_ix"])
    nw, nh = tile_plan(1300, 700, True)
    assert len(rows) == nw * nh and nw * nh >= 2
    expected = pixels.dynamic_tiles(img, nw, nh, 640)
    first = pixels.decode_png(bytes(rows[0]["tile_png"]))
    last = pixels.decode_png(bytes(rows[-1]["tile_png"]))
    assert first[:3] == (640, 640, 3) and first == expected[0]
    assert last == expected[-1]


def test_null_image_drop_is_opt_in(spark):
    """Reference semantics (model.py:341-342, 391): sum(pixel_values)==0
    fires only on zero-filled PADDING tensors — a real black page
    normalizes to -1/channel — so by DEFAULT an all-black image is
    processed like any other. drop_null_images=True opts in to the
    corpus-hygiene skip."""
    black = pixels.new_image(130, 70, 3, (0, 0, 0))
    almost = (130, 70, 3, b"\x01" + black[3][1:])
    df = spark.createDataFrame(
        [(1, pixels.encode_png(black)), (2, pixels.encode_png(almost))],
        "doc_id LONG, png BINARY",
    )
    # default: black pages flow through both stages
    assert {r["doc_id"] for r in gundam_tiles(df, image_size=SZ).collect()} == {1, 2}
    assert {r["doc_id"] for r in global_views(df, base_size=SZ).collect()} == {1, 2}
    # opt-in: all-zero buffers skipped, near-black kept
    assert {
        r["doc_id"]
        for r in gundam_tiles(df, image_size=SZ, drop_null_images=True).collect()
    } == {2}
    assert {
        r["doc_id"]
        for r in global_views(df, base_size=SZ, drop_null_images=True).collect()
    } == {2}


def test_vision_null_payloads_dropped_not_crashed(spark):
    """NULL payloads (join misses) must drop rows, not kill the task."""
    df = spark.createDataFrame(
        [(1, None), (2, pixels.encode_png(gradient(130, 70)))],
        "doc_id LONG, png BINARY",
    )
    assert {r["doc_id"] for r in gundam_tiles(df, image_size=SZ).collect()} == {2}
    assert {r["doc_id"] for r in global_views(df, base_size=SZ).collect()} == {2}
    regions = spark.createDataFrame(
        [(1, None, 0, 0, 0, 5, 5),
         (2, pixels.encode_png(gradient(20, 20)), None, 0, 0, 5, 5),
         (3, pixels.encode_png(gradient(20, 20)), 0, 0, 0, 5, 5)],
        "doc_id LONG, png BINARY, region_ix INT, x1 INT, y1 INT, x2 INT, y2 INT",
    )
    assert {r["doc_id"] for r in region_crops(regions).collect()} == {3}


def test_gundam_tiles_accept_jpeg_input(spark):
    """r5: the reference's eval corpus is JPEG — the Gundam path decodes it
    natively. Tile pixels must equal running the kernel pipeline directly
    on the same decoded image (pins the plumbing; codec parity is pinned in
    tests/test_jpeg_kernel.py)."""
    from deepseek_ocr_spark.kernels import jpeg as jpeg_kernel

    data = jpeg_kernel.encode_jpeg_baseline(gradient(130, 70), quality=95)
    df = spark.createDataFrame([(9, data)], "doc_id LONG, png BINARY")
    out = sorted(gundam_tiles(df, image_size=SZ).collect(), key=lambda r: r["tile_ix"])
    img = jpeg_kernel.decode_jpeg(data)
    nw, nh = tile_plan(130, 70, True, image_size=SZ)
    expected = pixels.dynamic_tiles(img, nw, nh, SZ)
    assert len(out) == len(expected)
    for row, exp in zip(out, expected):
        assert pixels.decode_png(bytes(row["tile_png"])) == exp


def test_global_view_and_region_crop_accept_jpeg(spark):
    from deepseek_ocr_spark.kernels import jpeg as jpeg_kernel

    data = jpeg_kernel.encode_jpeg_baseline(gradient(50, 40), quality=95)
    img = jpeg_kernel.decode_jpeg(data)
    vdf = spark.createDataFrame([(5, data)], "doc_id LONG, png BINARY")
    v = global_views(vdf, base_size=SZ).collect()
    assert len(v) == 1 and (v[0]["img_width"], v[0]["img_height"]) == (50, 40)
    assert pixels.decode_png(bytes(v[0]["view_png"])) == pixels.global_view(img, SZ)
    rdf = spark.createDataFrame(
        [(5, data, 0, 5, 5, 25, 30)],
        "doc_id LONG, png BINARY, region_ix INT, x1 INT, y1 INT, x2 INT, y2 INT",
    )
    r = region_crops(rdf).collect()
    assert len(r) == 1
    assert pixels.decode_png(bytes(r[0]["crop_png"])) == pixels.crop(img, (5, 5, 25, 30))


def test_tiles_accept_gif_and_bmp_input(spark):
    """The full native format matrix flows through the Gundam path."""
    from tests.test_gif_kernel import PAL4, build_gif
    from tests.test_bmp import build_bmp
    from deepseek_ocr_spark.kernels import bmp as bmp_kernel, gif as gif_kernel

    gif_bytes = build_gif(130, 70, PAL4, [(x // 16) % 4 for _ in range(70) for x in range(130)])
    bmp_rows = [bytes(range(130 * 3 % 256)) * 0 + bytes([(x * 2) % 256 for x in range(130 * 3)])
                for _ in range(70)]
    bmp_bytes = build_bmp(130, 70, 24, bmp_rows)
    df = spark.createDataFrame(
        [(1, gif_bytes), (2, bmp_bytes)], "doc_id LONG, png BINARY"
    )
    out = gundam_tiles(df, image_size=SZ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    nw, nh = tile_plan(130, 70, True, image_size=SZ)
    assert len(by_doc[1]) == nw * nh and len(by_doc[2]) == nw * nh
    # pixels must equal the direct kernel pipeline on the decoded image
    for doc_id, img in ((1, gif_kernel.decode_gif(gif_bytes)),
                        (2, bmp_kernel.decode_bmp(bmp_bytes))):
        rows = sorted(by_doc[doc_id], key=lambda r: r["tile_ix"])
        expected = pixels.dynamic_tiles(img, nw, nh, SZ)
        for row, exp in zip(rows, expected):
            assert pixels.decode_png(bytes(row["tile_png"])) == exp


def test_tiff_and_webp_payloads_match_png(spark):
    """TIFF and lossless WebP decode through the same table as PNG, so the
    same pixels give the same tile and view rows in every container."""
    import numpy as np

    from tests.test_tiff import build_tiff, gray_tags
    from tests.test_webp_kernel import ref_encode_vp8l

    img = gradient(130, 70)
    w, h, _ch, buf = img
    tiff = build_tiff(
        gray_tags(w, h, h, over={258: (3, [8, 8, 8]), 262: (3, [2]), 277: (3, [3])}),
        [buf],
    )
    rgba = np.full((h, w, 4), 255, np.uint8)
    rgba[:, :, :3] = np.frombuffer(buf, np.uint8).reshape(h, w, 3)
    webp = ref_encode_vp8l(rgba)
    df = spark.createDataFrame(
        [(1, pixels.encode_png(img)), (2, tiff), (3, webp)], "doc_id LONG, png BINARY"
    )
    for out in (gundam_tiles(df, image_size=SZ), global_views(df, base_size=SZ)):
        by_doc = {}
        for r in out.collect():
            by_doc.setdefault(r["doc_id"], []).append(tuple(r)[1:])
        rows = {doc_id: sorted(v) for doc_id, v in by_doc.items()}
        assert set(rows) == {1, 2, 3}
        assert rows[2] == rows[1] and rows[3] == rows[1]
