"""Multimodal binary-column plumbing (training-data-pipeline op family).

Images/audio/video are opaque ``binary`` columns with typed metadata.

Three tiers:

1. ``image_meta`` — REAL header-only metadata decode (format sniff +
   dimensions for PNG/GIF/BMP/JPEG + JPEG EXIF orientation, the
   ``exif_transpose`` analog of reference image.py:28-42 at the metadata
   level). Pure-Python byte parsing, no codec libraries needed — this is
   exactly how a 100 TB pipeline triages image columns before spending
   decode cycles.
2. ``decode_image_meta`` — the oracle-checkable plumbing exerciser: fake
   dims from the payload md5 (pure hash arithmetic ⇒ exact DuckDB oracle),
   proving schema/batching/partitioning end-to-end.
3. ``_real_decode`` — PIXEL decode through ``pixels.decode_image``, the
   one sniff-and-decode table the vision stages share (PNG, JPEG, GIF,
   BMP, TIFF, lossless WebP native); variants outside it go behind the
   PIL codec gate (``codecs_available``), raising a clear
   NotImplementedError in this codec-less container; the decoder is
   injectable so the codec-present path is testable as an interface
   (tests/test_jpeg_codec.py, same gate style as the Iceberg jar gate).

Every stage here is a row function under the one Python row stage,
``rowmap.map_rows``: it sees one row's values and yields zero, one or
many output tuples.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepseek_ocr_spark.kernels import mp4, pixels, wav
from deepseek_ocr_spark.rowmap import map_rows

# Format matrix (r7): PNG / JPEG (baseline + progressive + arithmetic
# + lossless + 12-bit + DHP-hierarchical, SOF0/1/2/3/5/9/10) / GIF /
# BMP (all depths + RLE) / TIFF (strips + tiles,
# none/LZW/Deflate/PackBits/JPEG-in-TIFF/CCITT-fax G3+G4+MH, predictor
# 2, 16-bit, planar, FillOrder 2) / WebP lossless (VP8L: all
# transforms, color cache, LZ77, meta codes) = NATIVE pixels (stdlib
# kernels); residual JPEG processes (differential progressive/lossless
# frames, 12-bit arithmetic), float/exotic TIFF and lossy WebP (VP8) =
# header metadata where sniffable, pixels via the PIL gate; audio =
# native WAV build/parse/features (kernels/wav.py); video = native MP4
# box-tree metadata (kernels/mp4.py), frame decode via ffmpeg gate.


def codecs_available() -> bool:
    """True when a native image codec (PIL) is importable — gates the
    non-PNG PIXEL lane only (PNG and header-level metadata never need it)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _real_decode(data: bytes) -> tuple[int, int, int]:
    """Real pixel decode → (width, height, channels): the native matrix of
    ``pixels.decode_image`` (PNG; JPEG baseline, progressive,
    arithmetic-coded, lossless; GIF; BMP incl. RLE; TIFF; VP8L WebP).
    What it has no native decoder for (residual JPEG processes, lossy
    WebP, exotic headers, unknown signatures) goes through PIL when
    present, else a clear NotImplementedError (metadata for those still
    comes from sniff_image_meta). A corrupt payload raises ValueError."""
    try:
        w, h, c, _buf = pixels.decode_image(data)
        return w, h, c
    except NotImplementedError:
        pass
    try:
        from PIL import Image as _PILImage
    except ImportError as e:
        raise NotImplementedError(
            "pixel decode for this format requires a native codec "
            "(PIL/cv2) — not available in this sandbox; the codec-present "
            "lane (tests/test_jpeg_codec.py) exercises this path"
        ) from e
    import io

    with _PILImage.open(io.BytesIO(bytes(data))) as im:
        return im.width, im.height, len(im.getbands())


def _fake_decode(data: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in: dims from the md5 of the payload."""
    h = hashlib.md5(data).hexdigest()
    width = 64 + ord(h[0]) % 64
    height = 64 + ord(h[1]) % 64
    channels = 1 + ord(h[2]) % 4
    return width, height, channels


DECODE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("img_width", T.IntegerType()),
        T.StructField("img_height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)


# --- tier 1: real header-only metadata decode ---------------------------------


def sniff_image_meta(data: bytes) -> tuple[str, int, int, int] | None:
    """(format, width, height, orientation) from container headers only.

    Orientation is the EXIF tag 0x0112 value for JPEG (1 when absent), 1 for
    formats without orientation metadata. Returns None for unrecognized
    payloads. Pure byte arithmetic — safe on hostile input (any parse error
    means "not this format", never an exception)."""
    try:
        if data[:8] == pixels.PNG_SIG and data[12:16] == b"IHDR":
            return (
                "png",
                int.from_bytes(data[16:20], "big"),
                int.from_bytes(data[20:24], "big"),
                1,
            )
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return (
                "gif",
                int.from_bytes(data[6:8], "little"),
                int.from_bytes(data[8:10], "little"),
                1,
            )
        if data[:2] == b"BM" and len(data) >= 26:
            return (
                "bmp",
                int.from_bytes(data[18:22], "little", signed=True),
                abs(int.from_bytes(data[22:26], "little", signed=True)),
                1,
            )
        if data[:2] == b"\xff\xd8":
            return _jpeg_meta(data)
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            return _tiff_meta(data)
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            from deepseek_ocr_spark.kernels.webp import webp_meta

            meta = webp_meta(data)
            if meta is not None:
                return ("webp", meta[0], meta[1], 1)
    except Exception:
        return None
    return None


def _tiff_meta(data: bytes) -> tuple[str, int, int, int] | None:
    """Dims from IFD0 tags 256/257 (SHORT or LONG), orientation from tag
    0x0112 via the shared EXIF walker (a TIFF header IS an EXIF body)."""
    bo = "little" if data[:2] == b"II" else "big"
    ifd0 = int.from_bytes(data[4:8], bo)
    count = int.from_bytes(data[ifd0 : ifd0 + 2], bo)
    width = height = None
    for k in range(count):
        off = ifd0 + 2 + 12 * k
        tag = int.from_bytes(data[off : off + 2], bo)
        if tag in (256, 257):
            typ = int.from_bytes(data[off + 2 : off + 4], bo)
            size = 2 if typ == 3 else 4
            val = int.from_bytes(data[off + 8 : off + 8 + size], bo)
            if tag == 256:
                width = val
            else:
                height = val
    if not width or not height:
        return None
    return "tiff", width, height, _exif_orientation(data) or 1


def _jpeg_meta(data: bytes) -> tuple[str, int, int, int] | None:
    """Walk JPEG segments: dims from the first SOF marker, orientation from
    the EXIF APP1 TIFF IFD (tag 0x0112) if present."""
    orientation = 1
    width = height = None
    i = 2
    n = len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            return None
        # legal 0xFF fill-byte padding between segments (JPEG B.1.1.2):
        # any number of 0xFF bytes may precede a marker code
        while i + 4 <= n and data[i + 1] == 0xFF:
            i += 1
        if i + 4 > n:
            break
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:  # no-length markers
            i += 2
            continue
        if marker == 0xD9 or marker == 0xDA:  # EOI / start-of-scan: dims must be known
            break
        seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
        if seg_len < 2 or i + 2 + seg_len > n:
            return None
        seg = data[i + 4 : i + 2 + seg_len]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            orientation = _exif_orientation(seg[6:]) or orientation
        # SOF0..SOF15 excluding DHT(C4)/JPG(C8)/DAC(CC)
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
        i += 2 + seg_len
    if width is None or height is None:
        return None
    return ("jpeg", width, height, orientation)


def _exif_orientation(tiff: bytes) -> int | None:
    """Orientation tag (0x0112) from a TIFF blob (EXIF body after the
    'Exif\\0\\0' prefix) — reference applies ImageOps.exif_transpose
    (image.py:33); at the metadata level the tag value is the observable."""
    if tiff[:2] == b"II":
        bo = "little"
    elif tiff[:2] == b"MM":
        bo = "big"
    else:
        return None
    ifd0 = int.from_bytes(tiff[4:8], bo)
    if ifd0 + 2 > len(tiff):
        return None
    count = int.from_bytes(tiff[ifd0 : ifd0 + 2], bo)
    for e in range(count):
        off = ifd0 + 2 + 12 * e
        if off + 12 > len(tiff):
            return None
        tag = int.from_bytes(tiff[off : off + 2], bo)
        if tag == 0x0112:
            return int.from_bytes(tiff[off + 8 : off + 10], bo)
    return None


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("img_width", T.IntegerType()),
        T.StructField("img_height", T.IntegerType()),
        T.StructField("orientation", T.IntegerType()),
        T.StructField("display_width", T.IntegerType()),
        T.StructField("display_height", T.IntegerType()),
    ]
)


def _meta_rows(doc_id, data):
    meta = sniff_image_meta(bytes(data)) if data is not None else None
    fmt, w, h, o = meta if meta else (None, None, None, None)
    # EXIF orientations 5-8 transpose the displayed image — the
    # metadata-level effect of exif_transpose (reference image.py:33)
    swap = o in (5, 6, 7, 8)
    yield int(doc_id), fmt, w, h, o, h if swap else w, w if swap else h


def image_meta(images: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """(id, binary payload) → typed image metadata, one row each under
    ``map_rows`` — real header parsing, no codec libs. Unrecognized payloads
    yield NULL metadata instead of failing the task (hostile-corpus rule)."""
    src = images.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return map_rows(src, _meta_rows, IMAGE_META_SCHEMA)


# --- tier 2: oracle-checkable plumbing exerciser -------------------------------


def _decode_rows(decoder):
    def rows(doc_id, data):
        data = bytes(data)
        w, h, c = decoder(data)
        yield int(doc_id), len(data), w, h, c

    return rows


def decode_image_meta(docs: DataFrame, decoder=None) -> DataFrame:
    """documents → per-doc fake-image metadata, a row function under
    ``map_rows`` over a binary payload column (the text bytes stand in for
    image bytes).

    ``decoder`` injects the codec (tests exercise the codec-present
    interface with it). The DEFAULT is always ``_fake_decode``: this
    query's oracle is the md5-dims SQL, and the payloads here are text
    bytes standing in for images — switching to ``_real_decode`` on a
    codec-present image would silently break oracle parity. Real decode is
    an explicit opt-in (``decoder=_real_decode``)."""
    if decoder is None:
        decoder = _fake_decode
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return map_rows(payloads, _decode_rows(decoder), DECODE_SCHEMA)


DECODE_IMAGE_META_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       64 + ascii(substr(md5(text), 1, 1)) % 64 AS img_width,
       64 + ascii(substr(md5(text), 2, 1)) % 64 AS img_height,
       1 + ascii(substr(md5(text), 3, 1)) % 4 AS channels
FROM documents
"""


# --- resize / feature-extract / frame-sample plumbing --------------------------
#
# The remaining multimodal op family (task brief: "decode / feature-extract /
# resize / frame-sample as Pandas UDFs over mapInPandas ... STUB the decode
# step ... make the Spark-side plumbing — schema, partitioning, UDF
# signature, batch shape — real and tested"). Each op's pixel work is a
# deterministic hash/arithmetic stand-in (so every op has an EXACT DuckDB
# oracle); the row-function fan-out shapes are the real contract:
#   resize        : N rows → N rows (per-image metadata transform)
#   features      : N rows → N rows with an array<double> column (encoder shape)
#   frame_sample  : N rows → ~N*k rows (1→many fan-out inside one batch)

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("src_w", T.IntegerType()),
        T.StructField("src_h", T.IntegerType()),
        T.StructField("dst_w", T.IntegerType()),
        T.StructField("dst_h", T.IntegerType()),
    ]
)


def _resize_rows(target: int):
    def rows(doc_id, data):
        w, h, _c = _fake_decode(bytes(data))
        scale = min(1.0, target / max(w, h))
        # floor(x+0.5): identical rounding in Spark SQL and DuckDB
        yield int(doc_id), w, h, int(w * scale + 0.5), int(h * scale + 0.5)

    return rows


def resize_meta(docs: DataFrame, target: int = 96) -> DataFrame:
    """Aspect-preserving resize plan per image (downscale-only)."""
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return map_rows(payloads, _resize_rows(target), RESIZE_SCHEMA)


def resize_meta_sql(target: int = 96) -> str:
    w = "64 + ascii(substr(md5(text), 1, 1)) % 64"
    h = "64 + ascii(substr(md5(text), 2, 1)) % 64"
    return f"""
WITH dims AS (SELECT doc_id, {w} AS w, {h} AS h FROM documents),
s AS (SELECT doc_id, w, h, least(1.0, {target} / greatest(w, h)) AS sc FROM dims)
SELECT doc_id, w AS src_w, h AS src_h,
       CAST(floor(w * sc + 0.5) AS INT) AS dst_w,
       CAST(floor(h * sc + 0.5) AS INT) AS dst_h
FROM s
"""


FEATURES_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def _feature_rows(dim: int):
    def rows(doc_id, data):
        h = hashlib.md5(bytes(data)).hexdigest()
        yield int(doc_id), [int(h[2 * j : 2 * j + 2], 16) / 255.0 for j in range(dim)]

    return rows


def extract_features(docs: DataFrame, dim: int = FEATURES_DIM) -> DataFrame:
    """Per-image feature vector — the encoder-UDF shape (binary in,
    array<double> out, Arrow-batched; a GPU encoder replaces the hash)."""
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return map_rows(payloads, _feature_rows(dim), FEATURES_SCHEMA)


def extract_features_exploded(docs: DataFrame, dim: int = FEATURES_DIM) -> DataFrame:
    """(doc_id, dim_ix, feature) — `extract_features` posexploded to one
    scalar row per vector component. This is the registry/driver contract
    shape: the driver's pandas canonicalizer cannot hash `array<double>`
    cells (r4 red row), and exploding keeps `feature` a plain double that
    the repo's single-rounded-expression rule (`round(x, 4)`, the ONLY
    rounding applied) makes bit-stable against the DuckDB oracle — no
    float→string formatting divergence to worry about."""
    feats = extract_features(docs, dim=dim)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim_ix", "feature")
    ).select(
        "doc_id",
        F.col("dim_ix").cast("int").alias("dim_ix"),
        F.round("feature", 4).alias("feature"),
    )


def extract_features_exploded_sql(dim: int = FEATURES_DIM) -> str:
    return f"""
SELECT doc_id, CAST(j AS INT) AS dim_ix,
       round(CAST(('0x' || substr(md5(text), 2 * j + 1, 2)) AS INT) / 255.0, 4)
         AS feature
FROM documents, (SELECT unnest(range({dim})) AS j)
"""


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_ix", T.IntegerType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)

FRAME_STRIDE = 200  # fake "bytes per frame"


def _frame_rows(stride: int):
    def rows(doc_id, data):
        data = bytes(data)
        for ix in range(max(1, len(data) // stride)):
            yield int(doc_id), ix, hashlib.md5(data + b":" + str(ix).encode()).hexdigest()

    return rows


def frame_sample(docs: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame sampling plumbing: one 'video' row fans out to its sampled
    frames INSIDE the Arrow batch (the 1→many row-function shape a real
    ffmpeg-backed sampler uses); frame count is a deterministic function of
    payload length so the fan-out is oracle-checkable."""
    payloads = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return map_rows(payloads, _frame_rows(stride), FRAMES_SCHEMA)


def frame_sample_sql(stride: int = FRAME_STRIDE) -> str:
    return f"""
SELECT doc_id, CAST(ix AS INT) AS frame_ix,
       md5(text || ':' || CAST(ix AS VARCHAR)) AS frame_hash
FROM (
  SELECT doc_id, text,
         unnest(range(greatest(1, octet_length(encode(text)) // {stride}))) AS ix
  FROM documents
)
"""


# --- audio lane (real WAV build → parse → feature extraction) -----------------

AUDIO_RATE = 8000
AUDIO_FRAME = 64  # sample-frames per energy window

AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

AUDIO_ENERGY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_ix", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)


def _synth_samples(text: str):
    """Deterministic int16 PCM from a doc's text: the md5 hex repeated
    ``2 + len(text) % 7`` times, each hex char mapped to ascii*256-32768.
    Pure hash arithmetic ⇒ the closed form is SQL-expressible, so the
    REAL encode→parse→extract plumbing gets an exact DuckDB oracle (the
    decode_image_meta pattern, applied to audio)."""
    import numpy as np

    h = hashlib.md5(text.encode("utf-8")).hexdigest()
    reps = 2 + len(text) % 7
    vals = [ord(c) * 256 - 32768 for c in h] * reps
    return np.array(vals, dtype="<i2")


def _audio_meta_rows(doc_id, text):
    if text is None:
        return
    data = wav.encode_wav_pcm16(_synth_samples(text), AUDIO_RATE)
    nch, rate, bits, n_frames, _pcm = wav.parse_wav(data)
    yield int(doc_id), nch, rate, bits, n_frames, n_frames * 1000 // rate


def audio_meta(docs: DataFrame) -> DataFrame:
    """(doc_id, n_channels, sample_rate, bits, n_samples, duration_ms) —
    REAL WAV bytes are built per doc and REALLY re-parsed (RIFF walk); the
    oracle re-derives the closed form from length(text).  NULL text has no
    payload to synthesize and is excluded, like the SQL side."""
    return map_rows(docs.select("doc_id", "text"), _audio_meta_rows, AUDIO_META_SCHEMA)


def audio_meta_sql(table: str = "documents", rate: int = AUDIO_RATE) -> str:
    return f"""
SELECT doc_id,
       1 AS n_channels,
       {rate} AS sample_rate,
       16 AS bits,
       CAST(32 * (2 + length(text) % 7) AS BIGINT) AS n_samples,
       CAST(32 * (2 + length(text) % 7) * 1000 // {rate} AS BIGINT) AS duration_ms
FROM {table} WHERE text IS NOT NULL
"""


def _audio_energy_rows(frame: int):
    def rows(doc_id, text):
        if text is None:
            return
        data = wav.encode_wav_pcm16(_synth_samples(text), AUDIO_RATE)
        nch, _rate, bits, _n, pcm = wav.parse_wav(data)
        for ix, e in enumerate(wav.frame_energies(pcm, bits, nch, frame)):
            yield int(doc_id), ix, e

    return rows


def audio_frame_energy(docs: DataFrame, frame: int = AUDIO_FRAME) -> DataFrame:
    """(doc_id, frame_ix, energy) — integer |sample| sums per window of
    ``frame`` sample-frames over the synthesized-then-parsed PCM; the
    1→many fan-out shape of a real audio featurizer with an exact
    content-sensitive oracle (energy depends on the md5 of the text)."""
    return map_rows(
        docs.select("doc_id", "text"), _audio_energy_rows(frame), AUDIO_ENERGY_SCHEMA
    )


def audio_frame_energy_sql(table: str = "documents", frame: int = AUDIO_FRAME) -> str:
    # samples repeat the 32-hex-char pattern; a full 64-window holds the
    # pattern exactly twice, an odd trailing half-window holds it once
    return f"""
WITH base AS (
  SELECT doc_id,
         2 + length(text) % 7 AS reps,
         list_sum(list_transform(range(32),
             i -> abs(ascii(substr(md5(text), CAST(i + 1 AS INT), 1)) * 256 - 32768)))
           AS e32
  FROM {table} WHERE text IS NOT NULL
)
SELECT doc_id, CAST(j AS INT) AS frame_ix,
       CAST(CASE WHEN j < reps // 2 THEN 2 * e32 ELSE e32 END AS BIGINT) AS energy
FROM base, LATERAL unnest(range((reps + 1) // 2)) AS t(j)
"""


# --- video lane (real MP4 container build → parse) ----------------------------

VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("brand", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def _video_meta_rows(doc_id, text):
    if text is None:
        return
    n = len(text)
    data = mp4.build_mp4(
        width=160 + (n % 7) * 16,
        height=90 + (n % 5) * 18,
        duration=1000 + 40 * (n % 50),
        n_audio_tracks=n % 3,
    )
    m = mp4.parse_mp4_meta(data)
    yield (int(doc_id), m["brand"], m["duration_ms"], m["n_tracks"],
           m["width"], m["height"])


def video_meta(docs: DataFrame) -> DataFrame:
    """(doc_id, brand, duration_ms, n_tracks, width, height) — REAL MP4
    container bytes built per doc (kernels/mp4.py writer) and REALLY
    re-parsed through the box walker; closed-form oracle from
    length(text) (the audio_meta pattern, applied to video)."""
    return map_rows(docs.select("doc_id", "text"), _video_meta_rows, VIDEO_META_SCHEMA)


def video_meta_sql(table: str = "documents") -> str:
    return f"""
SELECT doc_id,
       'isom' AS brand,
       CAST(1000 + 40 * (length(text) % 50) AS BIGINT) AS duration_ms,
       CAST(1 + length(text) % 3 AS INT) AS n_tracks,
       CAST(160 + (length(text) % 7) * 16 AS INT) AS width,
       CAST(90 + (length(text) % 5) * 18 AS INT) AS height
FROM {table} WHERE text IS NOT NULL
"""
