"""Vision pixel operators — real pixel dataflow over binary image columns.

These are the Spark-side composites of kernels/pixels.py (stdlib codecs
+ PIL-parity geometry): row functions under the one Python row stage
(``rowmap.map_rows``), one output row per tile/view/region. Payloads
decode through ``pixels.decode_image`` (PNG, JPEG, GIF, BMP, TIFF, WebP)
with the hostile-payload rule throughout (an undecodable payload
contributes zero rows — never a task failure; pair with image_meta to
quarantine).

Reference parity (cited in kernels/pixels.py): the Gundam tile fan-out is
dynamic_preprocess (image_process.py:44-83) on the tile plan the relational
``tile_boxes`` query proves against the oracle; the global view is
ImageOps.pad (image_process.py:386-388); region crops are
run_dpsk_ocr_image.py:107-108 emitting PNG instead of JPEG (DCT encode is
the one codec this container cannot check byte-exactly; PNG is lossless so
the cropped PIXELS are the contract, not an encoder's entropy coding).

Scale notes: each stage is map-only (no shuffle); memory per task is one
Arrow batch of decoded pages (cap spark.sql.execution.arrow.maxRecordsPerBatch
when pages are large). The tile fan-out multiplies rows ≤ MAX_CROPS× inside
the batch — the same 1→many shape as multimodal.frame_sample.

Throughput note: the stdlib codec (kernels/pixels.py) is the
zero-dependency sandbox path; per-image decode cost is pure CPU and
embarrassingly parallel, and a production image swaps a native codec
(PIL/libjpeg-turbo) into the SAME row-function contract — the plan shape,
schemas, and tests are codec-agnostic (the injectable-decoder pattern
multimodal.decode_image_meta already demonstrates).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.config import BASE_SIZE, IMAGE_SIZE, MAX_CROPS, MIN_CROPS
from deepseek_ocr_spark.kernels import pixels
from deepseek_ocr_spark.kernels.tiling import tile_plan
from deepseek_ocr_spark.rowmap import map_rows


def _decoded(data, drop_null_images: bool = False):
    """The shared drop rule of the three stages: a NULL payload (join
    miss), an undecodable payload (ValueError) and a variant with no native
    decoder (NotImplementedError — one exotic file in a crawl must not kill
    the task) all give None; the opt-in all-black skip too."""
    if data is None:
        return None
    try:
        img = pixels.decode_image(data)
    except (ValueError, NotImplementedError):
        return None
    if drop_null_images and _is_null_image(img):
        return None
    return img


def _is_null_image(img) -> bool:
    """All-zero pixel buffer test (O-20 context, reference model.py:341-342,
    391): the reference's `sum(pixel_values)==0 → skip vision tower` guards
    zero-FILLED PADDING tensors — a real black page normalizes to -1 per
    channel and never sums to zero, so the check never fires on content.
    This Spark pipeline builds no padding tensors (rows either carry an
    image or don't), so the faithful default is NO pixel-sum drop; stages
    expose ``drop_null_images=True`` as an opt-in corpus-hygiene filter
    for pipelines that want all-black scans (dead fax pages) skipped."""
    return not np.frombuffer(img[3], np.uint8).any()


GUNDAM_TILES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("img_width", T.IntegerType()),
        T.StructField("img_height", T.IntegerType()),
        T.StructField("nw", T.IntegerType()),
        T.StructField("nh", T.IntegerType()),
        T.StructField("tile_ix", T.IntegerType()),
        T.StructField("tile_png", T.BinaryType()),
    ]
)


def _tile_rows(
    image_size: int, min_crops: int, max_crops: int, drop_null_images: bool = False
):
    def rows(doc_id, data):
        img = _decoded(data, drop_null_images)
        if img is None:
            return
        w, h = img[0], img[1]
        nw, nh = tile_plan(w, h, True, image_size, min_crops, max_crops)
        if nw == 1 and nh == 1:
            return  # small-page bypass: global view only (O-18)
        for ix, tile in enumerate(pixels.dynamic_tiles(img, nw, nh, image_size)):
            yield int(doc_id), w, h, nw, nh, ix, pixels.encode_png(tile)

    return rows


def gundam_tiles(
    images: DataFrame,
    id_col: str = "doc_id",
    png_col: str = "png",
    image_size: int = IMAGE_SIZE,
    min_crops: int = MIN_CROPS,
    max_crops: int = MAX_CROPS,
    drop_null_images: bool = False,
) -> DataFrame:
    """(doc_id, png) → one row per Gundam tile with REAL cropped pixel
    bytes (dynamic_preprocess, image_process.py:44-83). Pages at or under
    image_size bypass cropping entirely (image_process.py:363-364).
    ``drop_null_images=True`` opts in to skipping all-black pixmaps
    (corpus hygiene; see _is_null_image for the reference semantics)."""
    src = images.select(F.col(id_col).alias("doc_id"), F.col(png_col).alias("png"))
    return map_rows(
        src,
        _tile_rows(image_size, min_crops, max_crops, drop_null_images),
        GUNDAM_TILES_SCHEMA,
    )


GLOBAL_VIEW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("img_width", T.IntegerType()),
        T.StructField("img_height", T.IntegerType()),
        T.StructField("view_png", T.BinaryType()),
    ]
)


def _view_rows(base_size: int, drop_null_images: bool = False):
    def rows(doc_id, data):
        img = _decoded(data, drop_null_images)
        if img is not None:
            view = pixels.global_view(img, base_size)
            yield int(doc_id), img[0], img[1], pixels.encode_png(view)

    return rows


def global_views(
    images: DataFrame,
    id_col: str = "doc_id",
    png_col: str = "png",
    base_size: int = BASE_SIZE,
    drop_null_images: bool = False,
) -> DataFrame:
    """(doc_id, png) → the padded square global view per page
    (ImageOps.pad, image_process.py:386-388): aspect-preserving contain +
    centered paste on the normalization-mean gray canvas.
    ``drop_null_images`` as in gundam_tiles."""
    src = images.select(F.col(id_col).alias("doc_id"), F.col(png_col).alias("png"))
    return map_rows(src, _view_rows(base_size, drop_null_images), GLOBAL_VIEW_SCHEMA)


def encode_jpeg(img, quality: int = 95) -> bytes:
    """JPEG-encode an Image tuple — the reference writes region crops as
    JPEG (pdf.py:183-190).  r5: REAL in-sandbox via the stdlib baseline
    encoder (kernels/jpeg.py, 4:4:4 + optimal Huffman tables); no codec
    gate any more.  Alpha channels are dropped first (JPEG carries 1 or 3
    components), matching PIL's RGBA→RGB convert in the old gated path."""
    from deepseek_ocr_spark.kernels import jpeg as jpeg_kernel

    w, h, ch, buf = img
    if ch in (2, 4):  # LA / RGBA → drop alpha
        arr = np.frombuffer(bytes(buf), np.uint8).reshape(h, w, ch)
        img = (w, h, ch - 1, arr[..., : ch - 1].tobytes())
    elif ch not in (1, 3):
        raise ValueError(f"unsupported channel count {ch} for JPEG")
    return jpeg_kernel.encode_jpeg_baseline(img, quality=quality)


def _region_rows(fmt: str = "png"):
    encode = pixels.encode_png if fmt == "png" else encode_jpeg

    def rows(doc_id, data, rix, x1, y1, x2, y2):
        # a NULL box (join miss) drops the row, never crashes the task
        if any(v is None for v in (rix, x1, y1, x2, y2)):
            return
        img = _decoded(data)
        if img is None:
            return
        try:
            c = pixels.crop(img, (int(x1), int(y1), int(x2), int(y2)))
            # encode INSIDE the guard: encode_jpeg rejects channel counts
            # JPEG can't carry (a gray+alpha PNG is a valid decode) — that
            # drops the row, not the task. An encode-side
            # NotImplementedError still fails loudly.
            encoded = encode(c)
        except ValueError:
            return
        yield int(doc_id), int(rix), encoded

    return rows


def region_crops(regions: DataFrame, fmt: str = "png") -> DataFrame:
    """(doc_id, png, region_ix, x1, y1, x2, y2) → real cropped region bytes
    (O-6, run_dpsk_ocr_image.py:107-108). Default PNG (lossless, native
    here — the cropped PIXELS are the contract); ``fmt="jpeg"`` emits the
    reference's actual sink format through the native baseline encoder
    (column ``crop_jpeg``). Input shape = the pixel boxes pipeline/metrics.py
    derives joined back onto the page image column."""
    if fmt not in ("png", "jpeg"):
        raise ValueError(f"fmt must be 'png' or 'jpeg', got {fmt!r}")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("region_ix", T.IntegerType()),
            T.StructField(f"crop_{fmt}", T.BinaryType()),
        ]
    )
    src = regions.select("doc_id", "png", "region_ix", "x1", "y1", "x2", "y2")
    return map_rows(src, _region_rows(fmt), schema)
