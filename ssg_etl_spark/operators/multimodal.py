"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched mapInPandas stages
(BASELINE.json north-star extension).

The container has no image/audio codec LIBRARIES, so library-bound
compressed formats (MP3/H.264) stay stubbed: ``decode_media`` raises
NotImplementedError for them unless ``fake=True``, in which case a
deterministic fake decoder (seeded by the payload digest) produces feature
vectors with the real schema, partitioning, and batch shape. Everything
numpy + the stdlib can genuinely cover runs FOR REAL end-to-end: binary
PPM (P6) images (header parse + pixel stats + numpy nearest-neighbor
resample), 8-bit truecolor PNG (r11 — zlib IS the PNG compressor: real
chunk CRCs, DEFLATE, and all five scanline filters, :func:`decode_png`),
baseline JPEG (r12 — a genuine T.81 SOF0 codec: canonical Huffman entropy
coding both directions, numpy-vectorized DCT/IDCT, JFIF color transform,
:func:`decode_jpeg`), RIFF/WAVE audio through the stdlib ``wave`` module,
and YUV4MPEG2 video — real bytes in, real pixels out, including two
genuinely COMPRESSED formats (one lossless, one lossy).

Scale design: payloads stay opaque binary through the plan (never parsed by
Catalyst, never a join key); metadata columns are the pruned/filtered
surface. mapInPandas streams Arrow record batches, so executor memory is
bounded by batch size × payload size, not partition size.

Python-batch boundary: every encode, decode and triage stage goes through
:func:`_map_rows`, the module's one ``fan_out`` + ``mapInPandas`` site, and
passes only a plain per-row function. The boundary owns:

* the fan decision: the selected input is round-robin fanned out first
  (:func:`~ssg_etl_spark.partitioning.fan_out`), because mapInPandas
  parallelism equals the input partition count and a single-file scan
  would otherwise run every Python batch on one core;
* the batch loop: per row, the row function receives the selected input
  values in order, except ``asset_id``, and returns a dict of output
  columns (or a list of dicts, one output row each);
* bytes coercion: ``payload`` reaches the row function as ``bytes``;
* the NULL rule: a NULL ``payload`` never reaches the row function (a
  crashed codec call would fail the whole job; a NULL row is inspectable
  output). It yields one row carrying the pass-through columns (the
  selected inputs named in the output schema, other than ``payload``:
  ``asset_id``, plus ``media_type`` or the target dims where the stage
  selects them) and NULL in every derived column;
* the output frame, built with the schema's field names, so an empty or
  NULL-only batch still has every column.

Encode stages (:func:`_encode_assets`) add one rule on their side: a
document whose encoded input (``text``) is NULL yields its asset row
with a NULL ``payload`` — the encoder never sees the NULL, so no stage
encodes the string "None" or fails the job on it, and the decode
stages' NULL-payload rule carries the row on. An encoder that reads
``doc_id`` alone (``wav_assets_from_documents``) has no such input and
encodes every row.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ssg_etl_spark.partitioning import fan_out

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)

# Output of every encode stage: one synthesized asset per document.
ASSETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _map_rows(df: DataFrame, in_cols, fn, schema: T.StructType) -> DataFrame:
    """The module's one Python-batch boundary: ``fn`` applied per row of
    ``df.select(*in_cols)`` under the contract in the module docstring."""
    src = df.select(*in_cols)
    cols = src.columns
    names = schema.fieldNames()
    keep = [c for c in cols if c in names and c != "payload"]
    args = [c for c in cols if c != "asset_id"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for values in zip(*(pdf[c] for c in cols)):
                row = dict(zip(cols, values))
                if "payload" in row and row["payload"] is None:
                    outs = {}
                else:
                    if "payload" in row:
                        row["payload"] = bytes(row["payload"])
                    outs = fn(*(row[c] for c in args))
                for out in outs if isinstance(outs, list) else [outs]:
                    out = {**{c: row[c] for c in keep}, **out}
                    rows.append([out.get(c) for c in names])
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return fan_out(src).mapInPandas(run, schema)


def _encode_assets(documents: DataFrame, in_cols, media_type: str, encode) -> DataFrame:
    """Encode stage: one ``media_type`` asset per document, its payload
    ``encode(doc_id, ...)`` over the remaining ``in_cols`` — or NULL when
    one of those is NULL (the encode rule in the module docstring)."""
    return _map_rows(
        documents,
        in_cols,
        lambda d, *a: {
            "asset_id": d,
            "media_type": media_type,
            "payload": None if any(x is None for x in a) else encode(d, *a),
        },
        ASSETS_SCHEMA,
    )


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Build a media-asset table (schemas.MEDIA_ASSETS shape) using document
    text bytes as stand-in payloads: doc_id → asset, round-robin media type,
    metadata derived from the payload."""
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    payload = F.col("text").cast("binary")
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        F.concat(F.lit("application/x-fake-"), mt).alias("mime"),
        F.when(mt == "image", (F.col("doc_id") % 640 + 1).cast("int")).alias("width"),
        F.when(mt == "image", (F.col("doc_id") % 480 + 1).cast("int")).alias("height"),
        F.when(mt != "image", (F.col("n_chars") * 100).cast("long")).alias("duration_ms"),
        F.create_map(F.lit("source"), F.col("source"), F.lit("lang"), F.col("lang")).alias(
            "meta"
        ),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic fake feature vector from the payload digest."""
    digest = hashlib.md5(payload).digest()
    return [digest[i] / 255.0 for i in range(FEATURE_DIM)]


def encode_ppm(width: int, height: int, pixels: bytes) -> bytes:
    """Minimal binary PPM (P6, maxval 255) encoder: the one raster format
    a pure-stdlib pipeline can write AND read back losslessly. ``pixels``
    is raw interleaved RGB, exactly ``3*width*height`` bytes."""
    if width <= 0 or height <= 0:
        raise ValueError("PPM dimensions must be positive")
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"PPM pixel buffer must be 3*{width}*{height}="
            f"{3 * width * height} bytes, got {len(pixels)}"
        )
    return b"P6\n%d %d\n255\n" % (width, height) + pixels


def decode_ppm(payload: bytes) -> tuple[int, int, int, bytes]:
    """Parse a binary PPM (P6): returns (width, height, maxval, pixels).

    Real header grammar: 'P6', then three whitespace-separated decimal
    tokens (width, height, maxval) with '#' comments allowed between
    tokens, then ONE whitespace byte, then raw interleaved RGB. Raises
    ValueError on anything malformed or truncated — a codec error is a
    NULL-row-per-asset decision made by the caller, never a silent one.
    """
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (missing P6 magic)")
    pos = 2
    tokens: list[int] = []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < len(payload) and payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and payload[pos : pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("malformed PPM header (expected decimal token)")
        tokens.append(int(payload[start:pos]))
    if pos >= len(payload) or not payload[pos : pos + 1].isspace():
        raise ValueError("malformed PPM header (missing raster separator)")
    pos += 1
    width, height, maxval = tokens
    if width <= 0 or height <= 0 or not (0 < maxval < 256):
        raise ValueError(f"unsupported PPM geometry {width}x{height}/{maxval}")
    pixels = payload[pos:]
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"truncated PPM raster: expected {3 * width * height} bytes, "
            f"got {len(pixels)}"
        )
    return width, height, maxval, pixels


def _ppm_features(payload: bytes) -> list[float]:
    """REAL decode: header dims + whole-raster pixel statistics, shaped to
    the same FEATURE_DIM vector the stub emits. Layout:
    [width, height, n_pixels, mean_byte, min_byte, max_byte, maxval, 1.0]
    (the trailing 1.0 is the codec id — P6 — so mixed-codec corpora stay
    distinguishable in the one feature column)."""
    width, height, maxval, pixels = decode_ppm(payload)
    return [
        float(width),
        float(height),
        float(width * height),
        sum(pixels) / len(pixels),
        float(min(pixels)),
        float(max(pixels)),
        float(maxval),
        1.0,
    ]


# ---------------------------------------------------------------------------
# PNG (r11): REAL compressed image codec on the stdlib alone — zlib
# (DEFLATE) + struct cover the whole format for 8-bit truecolor, so the
# "uncompressed-only" qualifier on the multimodal story falls: encode
# writes genuine IHDR/IDAT/IEND chunks with CRCs, decode verifies CRCs,
# inflates, and reverses all five scanline filters (None/Sub/Up/Average/
# Paeth — the decoder handles any conforming writer, not just ours).
# ---------------------------------------------------------------------------

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(width: int, height: int, pixels: bytes) -> bytes:
    """REAL PNG encode (8-bit truecolor RGB, filter 0 scanlines, one
    zlib-DEFLATE IDAT): stdlib ``zlib`` + ``struct`` only. ``pixels`` is
    raw interleaved RGB, exactly ``3*width*height`` bytes."""
    import struct
    import zlib

    if width <= 0 or height <= 0:
        raise ValueError("PNG dimensions must be positive")
    if len(pixels) != 3 * width * height:
        raise ValueError(
            f"PNG pixel buffer must be 3*{width}*{height}="
            f"{3 * width * height} bytes, got {len(pixels)}"
        )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    stride = 3 * width
    raw = b"".join(
        b"\x00" + pixels[r * stride : (r + 1) * stride] for r in range(height)
    )
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """REAL PNG decode for 8-bit truecolor RGB: chunk walk with CRC
    verification, IDAT concatenation + inflate, and full five-filter
    scanline reconstruction (None/Sub/Up/Average/Paeth per the PNG spec
    §9 reference pseudocode). Returns (width, height, pixels). Raises
    ValueError on anything malformed, truncated, CRC-corrupt, or outside
    the supported subset (bit depth 8, color type 2, no interlace) — a
    poison payload must be inspectable, never mis-parsed."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG (missing signature)")
    pos = 8
    ihdr = None
    idat = []
    seen_iend = False
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk body")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + length
    if ihdr is None or not seen_iend or not idat:
        raise ValueError("PNG missing IHDR/IDAT/IEND")
    if len(ihdr) != 13:
        raise ValueError(f"PNG IHDR must be 13 bytes, got {len(ihdr)}")
    width, height, depth, ctype_i, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if (depth, ctype_i, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "unsupported PNG subset: need 8-bit truecolor non-interlaced, "
            f"got depth={depth} color={ctype_i} interlace={interlace}"
        )
    if width <= 0 or height <= 0 or width * height > 1 << 28:
        raise ValueError(f"PNG dimensions out of range: {width}x{height}")
    stride = 3 * width
    expected = height * (stride + 1)
    # Bounded inflate: the exact raster size is known from IHDR, so a
    # decompression bomb (tiny IDAT inflating to gigabytes) is rejected
    # after at most expected+1 bytes of output, never materialized.
    try:
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected + 1)
    except zlib.error as exc:
        raise ValueError(f"PNG IDAT inflate failed: {exc}") from exc
    if len(raw) > expected or dec.unconsumed_tail:
        raise ValueError(
            f"PNG raster overflow: IDAT inflates past the {expected}-byte"
            " raster declared by IHDR (decompression bomb?)"
        )
    if len(raw) != expected:
        raise ValueError(
            f"PNG raster size mismatch: expected {expected}"
            f" bytes, got {len(raw)}"
        )
    if not dec.eof:
        raise ValueError("PNG IDAT deflate stream is truncated")
    # Unfilter: None/Sub/Up reconstruct as whole-row numpy ops (Sub is a
    # per-lane prefix sum mod 256 — cumsum over the (w, 3) view); the
    # Average/Paeth recurrences genuinely depend on the just-written
    # left neighbor, so those rows run as tight list loops. Mixed-filter
    # foreign files therefore pay the Python loop only on the rows that
    # need it.
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    out = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    bpp = 3
    for r in range(height):
        ft = int(arr[r, 0])
        line = arr[r, 1:]
        if ft == 0:  # None
            cur = line.astype(np.int64)
        elif ft == 1:  # Sub: per-lane cumsum
            cur = (
                np.cumsum(
                    line.reshape(-1, bpp).astype(np.int64), axis=0
                ).reshape(-1)
                & 0xFF
            )
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft == 3:  # Average
            ln = line.tolist()
            pv = prev.tolist()
            o = [0] * stride
            for i in range(bpp):
                o[i] = (ln[i] + (pv[i] >> 1)) & 0xFF
            for i in range(bpp, stride):
                o[i] = (ln[i] + ((o[i - bpp] + pv[i]) >> 1)) & 0xFF
            cur = np.asarray(o, dtype=np.int64)
        elif ft == 4:  # Paeth
            ln = line.tolist()
            pv = prev.tolist()
            o = [0] * stride
            for i in range(bpp):
                # a = c = 0: predictor reduces to b (the up byte).
                o[i] = (ln[i] + pv[i]) & 0xFF
            for i in range(bpp, stride):
                a = o[i - bpp]
                b = pv[i]
                c = pv[i - bpp]
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                o[i] = (ln[i] + pr) & 0xFF
            cur = np.asarray(o, dtype=np.int64)
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[r] = cur
        prev = cur
    return width, height, out.tobytes()


def _png_features(payload: bytes) -> list[float]:
    """REAL decode: IHDR dims + whole-raster pixel statistics after
    inflate+unfilter, shaped to the same FEATURE_DIM vector as PPM.
    Layout mirrors :func:`_ppm_features` with codec id 2.0 (PNG)."""
    width, height, pixels = decode_png(payload)
    return [
        float(width),
        float(height),
        float(width * height),
        sum(pixels) / len(pixels),
        float(min(pixels)),
        float(max(pixels)),
        255.0,
        2.0,
    ]


# ---------------------------------------------------------------------------
# JPEG (r12): REAL baseline lossy codec on numpy + the stdlib — the last
# realistically-reachable modality gap (r11 verdict #5). Everything here
# is public knowledge: ITU-T T.81 baseline sequential DCT (SOF0), the
# Annex K example quantization + Huffman tables, canonical Huffman code
# construction (T.81 C.2), and the JFIF 1.02 YCbCr color space. The
# encoder exists to synthesize genuine streams for the decoder to prove
# itself on; the decoder handles the general baseline subset: 8-bit, 1 or
# 3 components, 4:4:4 (no subsampling), no restart markers, no
# progressive — raising ValueError (never mis-parsing) outside it.
# Per-symbol Huffman decoding is a Python loop (bounded by block count);
# the IDCT, dequantization, and color transform are numpy-vectorized over
# ALL blocks at once — the per-asset work mapInPandas batches across
# executors, the same scale story as the PNG codec (substitute
# libjpeg-turbo via Pillow at deployment for raw throughput; the Spark
# plumbing — schema, batching, partitioning — is what this proves).
# ---------------------------------------------------------------------------

JPEG_QUANT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
JPEG_QUANT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)
# DC-exact variants for oracle fixtures: q[0]=8 makes the DC coefficient
# of a CONSTANT 8x8 block quantize losslessly (DC = 8*(v-128), AC all
# zero), so a raster built from constant blocks round-trips bit-exactly
# through the full lossy pipeline and a SQL oracle can replay the decoded
# bytes. The rest of the table stays Annex K — the stream is an ordinary
# conforming JPEG.
JPEG_QUANT_LUMA_DCEXACT = (8,) + JPEG_QUANT_LUMA[1:]
JPEG_QUANT_CHROMA_DCEXACT = (8,) + JPEG_QUANT_CHROMA[1:]

JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K.3-K.6 example Huffman specs: (bits per code length 1..16, then
# the symbol values in code order).
_JPEG_DC_LUMA = ((0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
                 tuple(range(12)))
_JPEG_DC_CHROMA = ((0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
                   tuple(range(12)))
_JPEG_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)
_JPEG_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ),
)


def _jpeg_dct_matrix():
    """Orthonormal 8-point DCT-II basis (T.81 A.3.3 scaling): row 0 is
    1/(2*sqrt(2)), rows 1-7 are cos((2j+1)*i*pi/16)/2; forward DCT of a
    block B is T @ B @ T.T, inverse is T.T @ F @ T."""
    import math

    import numpy as np

    t = np.empty((8, 8))
    for i in range(8):
        scale = math.sqrt(1 / 8) if i == 0 else math.sqrt(2 / 8)
        for j in range(8):
            t[i, j] = scale * math.cos((2 * j + 1) * i * math.pi / 16)
    return t


def _jpeg_huff_codes(bits, vals):
    """Canonical code assignment (T.81 C.2): {symbol: (code, length)}."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_JPEG_LUT_CACHE: dict = {}


def _jpeg_huff_lut(bits, vals):
    """Flat 2^16-entry decode table: entry[peek16] = (symbol << 8) |
    code_length, 0 for invalid prefixes — one array index replaces the
    bit-serial walk (canonical codes are ≤16 bits, so the next 16 bits
    of the stream determine the symbol uniquely). Built with vectorized
    slice fills (≤162 slices) and cached per table spec: the Annex K
    tables recur across every asset in a corpus."""
    import numpy as np

    key = (tuple(bits), tuple(vals))
    lut = _JPEG_LUT_CACHE.get(key)
    if lut is None:
        arr = np.zeros(65536, dtype=np.uint32)
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                start = code << (16 - length)
                arr[start : start + (1 << (16 - length))] = (
                    (vals[k] << 8) | length
                )
                code += 1
                k += 1
            code <<= 1
        # Plain list: CPython list indexing beats numpy scalar indexing
        # in the per-symbol hot loop.
        lut = arr.tolist()
        _JPEG_LUT_CACHE[key] = lut
    return lut


class _JpegBitWriter:
    """MSB-first bit accumulator with 0xFF00 byte stuffing (T.81 B.1.1.5)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per spec
        return bytes(self.out)


def _jpeg_category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


def _jpeg_entropy_encode(comp_coefs, table_ids) -> bytes:
    """Huffman-encode zigzagged quantized blocks (interleaved MCU order;
    4:4:4 => one block per component per MCU). ``table_ids[ci]`` selects
    luma (0) or chroma (1) Huffman tables for component ci."""
    import numpy as np

    dc_tabs = [_jpeg_huff_codes(*_JPEG_DC_LUMA), _jpeg_huff_codes(*_JPEG_DC_CHROMA)]
    ac_tabs = [_jpeg_huff_codes(*_JPEG_AC_LUMA), _jpeg_huff_codes(*_JPEG_AC_CHROMA)]
    bw = _JpegBitWriter()
    pred = [0] * len(comp_coefs)
    for bi in range(comp_coefs[0].shape[0]):
        for ci, blk_all in enumerate(comp_coefs):
            ti = table_ids[ci]
            blk = blk_all[bi]
            diff = int(blk[0]) - pred[ci]
            pred[ci] = int(blk[0])
            cat = _jpeg_category(diff) if diff else 0
            code, ln = dc_tabs[ti][cat]
            bw.write(code, ln)
            if cat:
                bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
            nz = np.nonzero(blk[1:])[0]
            last_nz = (int(nz[-1]) + 1) if len(nz) else 0
            run = 0
            for k in range(1, last_nz + 1):
                v = int(blk[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    code, ln = ac_tabs[ti][0xF0]  # ZRL
                    bw.write(code, ln)
                    run -= 16
                cat = _jpeg_category(v)
                code, ln = ac_tabs[ti][(run << 4) | cat]
                bw.write(code, ln)
                bw.write(v if v >= 0 else v + (1 << cat) - 1, cat)
                run = 0
            if last_nz < 63:
                code, ln = ac_tabs[ti][0x00]  # EOB
                bw.write(code, ln)
    return bw.flush()


def encode_jpeg(
    width: int,
    height: int,
    pixels: bytes,
    quant_luma=JPEG_QUANT_LUMA,
    quant_chroma=JPEG_QUANT_CHROMA,
    gray: bool = False,
) -> bytes:
    """REAL baseline JPEG encode (T.81 SOF0): JFIF color transform (RGB
    in, unless ``gray``), edge-replicated padding to 8x8 blocks,
    numpy-vectorized forward DCT over all blocks at once, quantization,
    zigzag, and canonical Huffman entropy coding with the Annex K
    tables. ``pixels`` is interleaved RGB (3*w*h bytes) or, with
    ``gray=True``, a single luminance plane (w*h bytes) written as a
    1-component stream."""
    import struct

    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("JPEG dimensions must be positive")
    ncomp = 1 if gray else 3
    if len(pixels) != ncomp * width * height:
        raise ValueError(
            f"JPEG pixel buffer must be {ncomp}*{width}*{height}="
            f"{ncomp * width * height} bytes, got {len(pixels)}"
        )
    if gray:
        planes = [
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width)
            .astype(np.float64)
        ]
    else:
        rgb = (
            np.frombuffer(pixels, dtype=np.uint8)
            .reshape(height, width, 3)
            .astype(np.float64)
        )
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        planes = [np.rint(p).clip(0, 255) for p in (y, cb, cr)]

    t = _jpeg_dct_matrix()
    qts = [
        np.asarray(quant_luma, dtype=np.float64).reshape(8, 8),
        np.asarray(quant_chroma, dtype=np.float64).reshape(8, 8),
    ]
    zz = np.asarray(JPEG_ZIGZAG)
    table_ids = [0] if gray else [0, 1, 1]
    comp_coefs = []
    for ci, plane in enumerate(planes):
        h0, w0 = plane.shape
        ph, pw = -(-h0 // 8) * 8, -(-w0 // 8) * 8
        if (ph, pw) != (h0, w0):
            plane = np.pad(plane, ((0, ph - h0), (0, pw - w0)), mode="edge")
        blocks = (
            plane.reshape(ph // 8, 8, pw // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        ) - 128.0
        coefs = np.einsum("ij,njk,lk->nil", t, blocks, t)
        q = np.rint(coefs / qts[table_ids[ci]]).astype(np.int64)
        comp_coefs.append(q.reshape(-1, 64)[:, zz])
    entropy = _jpeg_entropy_encode(comp_coefs, table_ids)

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def dqt(tid: int, table) -> bytes:
        ordered = np.asarray(table, dtype=np.int64).reshape(64)[zz]
        return seg(0xFFDB, bytes([tid]) + bytes(int(v) for v in ordered))

    def dht(cls: int, tid: int, spec) -> bytes:
        bits, vals = spec
        return seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))

    comp_spec = (
        bytes([1, 0x11, 0])
        if gray
        else bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, ncomp) + comp_spec)
    scan_spec = (
        bytes([1, 1, 0x00])
        if gray
        else bytes([3, 1, 0x00, 2, 0x11, 3, 0x11])
    )
    sos = seg(0xFFDA, scan_spec + bytes([0, 63, 0]))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out = b"\xff\xd8" + app0 + dqt(0, quant_luma)
    if not gray:
        out += dqt(1, quant_chroma)
    out += sof + dht(0, 0, _JPEG_DC_LUMA) + dht(1, 0, _JPEG_AC_LUMA)
    if not gray:
        out += dht(0, 1, _JPEG_DC_CHROMA) + dht(1, 1, _JPEG_AC_CHROMA)
    return out + sos + entropy + b"\xff\xd9"


# JPEG decode pixel cap: unlike PNG's byte raster (~1 B/px/channel), the
# vectorized IDCT keeps float64 coefficient + dequantized + plane arrays
# alive at once — roughly 100-200 bytes/pixel peak for a 3-component
# 4:4:4 stream — so a crafted few-MB EOB-heavy stream at PNG's 2^28-px
# cap could drive ~50 GB per-task allocations. 2^25 px (an 8192x4096
# frame) bounds the peak working set to a few GB; callers decoding
# known-larger assets pass max_pixels explicitly and size their executor
# memory to match.
JPEG_MAX_PIXELS = 1 << 25


def decode_jpeg(
    payload: bytes, max_pixels: int = JPEG_MAX_PIXELS
) -> tuple[int, int, int, bytes]:
    """REAL baseline JPEG decode: marker walk, canonical Huffman entropy
    decode (DC prediction, AC run-length with ZRL/EOB), dequantization,
    numpy-vectorized IDCT over all blocks at once, JFIF YCbCr->RGB.

    Supported subset (raises ValueError outside it — a poison payload
    must be inspectable, never mis-parsed): baseline sequential DCT
    (SOF0), 8-bit precision, 1 or 3 components, any 1/2/4 sampling
    factors (4:4:4, 4:2:2, 4:2:0 — chroma replicate-upsampled), one
    interleaved scan, restart intervals (RSTn cycle validated, DC
    predictors reset per interval), no progressive/arithmetic coding —
    i.e. the stream family real libjpeg writers emit by default.
    Streams whose SOF dims exceed ``max_pixels`` raise ValueError (see
    JPEG_MAX_PIXELS for the float64 working-set rationale).
    Returns ``(width, height, n_components, pixels)`` with pixels
    interleaved (RGB for 3 components, luminance bytes for 1)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables = {}
    htables = {}
    sof = None
    scan = None
    dri = 0
    while pos < len(payload):
        if payload[pos] != 0xFF or pos + 1 >= len(payload):
            raise ValueError("truncated or malformed JPEG marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before any scan
            raise ValueError("JPEG has no scan data before EOI")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers carry no segment
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment length")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        if seglen < 2 or pos + seglen > len(payload):
            raise ValueError("truncated JPEG segment body")
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0xF
                bp += 1
                if pq != 0:
                    raise ValueError("unsupported 16-bit quantization table")
                if bp + 64 > len(body):
                    raise ValueError("truncated JPEG DQT")
                zzvals = np.frombuffer(body[bp : bp + 64], dtype=np.uint8)
                tab = np.empty(64, dtype=np.float64)
                tab[np.asarray(JPEG_ZIGZAG)] = zzvals
                qtables[tq] = tab.reshape(8, 8)
                bp += 64
        elif marker == 0xC4:  # DHT
            bp = 0
            while bp < len(body):
                tc, th = body[bp] >> 4, body[bp] & 0xF
                bp += 1
                if bp + 16 > len(body):
                    raise ValueError("truncated JPEG DHT")
                bits = list(body[bp : bp + 16])
                bp += 16
                n = sum(bits)
                if bp + n > len(body):
                    raise ValueError("truncated JPEG DHT values")
                htables[(tc, th)] = _jpeg_huff_lut(
                    bits, list(body[bp : bp + n])
                )
                bp += n
        elif marker == 0xC0:  # SOF0: baseline sequential
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("unsupported JPEG precision (8-bit only)")
            if nc not in (1, 3):
                raise ValueError("unsupported JPEG component count")
            if w <= 0 or h <= 0 or w * h > max_pixels:
                raise ValueError(f"JPEG dimensions out of range: {w}x{h}")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF components")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2, 4) or vi not in (1, 2, 4):
                    raise ValueError(
                        f"unsupported JPEG sampling factors {hi}x{vi}"
                    )
                comps.append((cid, tq, hi, vi))
            if nc == 1:
                # Non-interleaved single-component scan: the data-unit
                # grid ignores sampling factors (T.81 A.2.2).
                comps = [(comps[0][0], comps[0][1], 1, 1)]
            sof = (w, h, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG process (baseline SOF0 only)")
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI")
            (dri,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if sof is None:
                raise ValueError("JPEG SOS before SOF")
            if not body:
                raise ValueError("truncated JPEG SOS")
            ns = body[0]
            if ns != len(sof[2]) or len(body) < 1 + 2 * ns:
                raise ValueError("JPEG scan must cover all components")
            sel = {}
            for si in range(ns):
                sel[body[1 + 2 * si]] = (
                    body[2 + 2 * si] >> 4,
                    body[2 + 2 * si] & 0xF,
                )
            scan = (sel, pos)
            break
        # remaining markers (APPn, COM): skipped

    if sof is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    w, h, comps = sof
    sel, data_start = scan

    # Entropy data runs to the next real marker; 0xFF00 is stuffing and
    # RSTn markers (when DRI > 0) split it into restart intervals, each
    # an independently byte-aligned bitstream with fresh DC predictors.
    segments = []
    rst_seen = []
    seg_start = data_start
    end = data_start
    while True:
        nxt = payload.find(b"\xff", end)
        if nxt < 0 or nxt + 1 >= len(payload):
            raise ValueError("JPEG entropy stream missing EOI")
        m = payload[nxt + 1]
        if m == 0x00:
            end = nxt + 2
            continue
        if 0xD0 <= m <= 0xD7:
            if dri == 0:
                raise ValueError("unexpected JPEG restart marker (DRI is 0)")
            segments.append(
                payload[seg_start:nxt].replace(b"\xff\x00", b"\xff")
            )
            rst_seen.append(m - 0xD0)
            seg_start = end = nxt + 2
            continue
        if m != 0xD9:
            raise ValueError("unexpected marker inside JPEG scan")
        segments.append(payload[seg_start:nxt].replace(b"\xff\x00", b"\xff"))
        break
    # RST markers must cycle D0..D7 in order (T.81 B.2.1.2).
    for i, mval in enumerate(rst_seen):
        if mval != i % 8:
            raise ValueError("JPEG restart markers out of sequence")

    # MCU geometry (T.81 A.2.3): interleaved scans tile ceil-divided
    # 8*Hmax x 8*Vmax regions; each component contributes hi x vi data
    # units per MCU into its own (subsampled) block grid.
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_mcus = mcux * mcuy
    if dri:
        expect_segments = -(-n_mcus // dri)
        if len(segments) != expect_segments:
            raise ValueError(
                f"JPEG restart-interval count mismatch: {len(segments)}"
                f" segments for {n_mcus} MCUs at DRI={dri}"
            )
    elif len(segments) != 1:
        raise ValueError("unexpected JPEG restart marker (DRI is 0)")

    zz = np.asarray(JPEG_ZIGZAG)
    tabs = []
    for cid, tq, hi, vi in comps:
        if cid not in sel:
            raise ValueError("JPEG scan references unknown component")
        tdc, tac = sel[cid]
        dct = htables.get((0, tdc))
        act = htables.get((1, tac))
        if dct is None or act is None:
            raise ValueError("JPEG scan references missing Huffman table")
        tabs.append((dct, act))
    # Decode into flat (position, value) lists per component and scatter
    # once — per-coefficient numpy stores would dominate the hot loop.
    # The bit reads are INLINED: one 40-bit window per symbol covers the
    # worst case (7-bit byte offset + 16-bit code + 11-bit magnitude =
    # 34 bits), so each (code, value) pair costs a single slice +
    # int.from_bytes — the function-call form measured 2x slower.
    idxs = [[] for _ in comps]
    vals = [[] for _ in comps]
    pred = [0] * len(comps)
    data = segments[0] + b"\x00\x00\x00\x00"
    nbits = 8 * len(segments[0])
    pos = 0
    seg_idx = 0
    for mi in range(n_mcus):
        if dri and mi and mi % dri == 0:
            seg_idx += 1
            data = segments[seg_idx] + b"\x00\x00\x00\x00"
            nbits = 8 * len(segments[seg_idx])
            pos = 0
            pred = [0] * len(comps)
        my, mx = divmod(mi, mcux)
        for ci, (_cid, _tq, hi, vi) in enumerate(comps):
            dct, act = tabs[ci]
            cidx, cval = idxs[ci], vals[ci]
            for by in range(vi):
                for bx in range(hi):
                    off = pos & 7
                    bp = pos >> 3
                    chunk = int.from_bytes(data[bp : bp + 5], "big")
                    entry = dct[(chunk >> (24 - off)) & 0xFFFF]
                    ln = entry & 0xFF
                    cat = entry >> 8
                    if ln == 0:
                        raise ValueError("invalid JPEG Huffman code")
                    if cat > 11:
                        raise ValueError("invalid JPEG DC category")
                    if pos + ln + cat > nbits:
                        raise ValueError(
                            "JPEG entropy stream is truncated"
                        )
                    if cat:
                        v = (chunk >> (40 - off - ln - cat)) & (
                            (1 << cat) - 1
                        )
                        pred[ci] += (
                            v
                            if v >= (1 << (cat - 1))
                            else v - (1 << cat) + 1
                        )
                    pos += ln + cat
                    base = 64 * (
                        (my * vi + by) * (mcux * hi) + (mx * hi + bx)
                    )
                    cidx.append(base)
                    cval.append(pred[ci])
                    k = 1
                    while k <= 63:
                        off = pos & 7
                        bp = pos >> 3
                        chunk = int.from_bytes(data[bp : bp + 5], "big")
                        entry = act[(chunk >> (24 - off)) & 0xFFFF]
                        ln = entry & 0xFF
                        if ln == 0:
                            raise ValueError("invalid JPEG Huffman code")
                        sym = entry >> 8
                        cat = sym & 0xF
                        if pos + ln + cat > nbits:
                            raise ValueError(
                                "JPEG entropy stream is truncated"
                            )
                        if cat == 0:
                            pos += ln
                            if sym == 0x00:  # EOB
                                break
                            if sym != 0xF0:
                                raise ValueError("invalid JPEG AC symbol")
                            k += 16  # ZRL
                            continue
                        k += sym >> 4
                        if k > 63:
                            raise ValueError(
                                "JPEG AC run overflows the block"
                            )
                        v = (chunk >> (40 - off - ln - cat)) & (
                            (1 << cat) - 1
                        )
                        pos += ln + cat
                        cidx.append(base + k)
                        cval.append(
                            v
                            if v >= (1 << (cat - 1))
                            else v - (1 << cat) + 1
                        )
                        k += 1
    coef = []
    for ci, (_cid, _tq, hi, vi) in enumerate(comps):
        flat = np.zeros(mcuy * vi * mcux * hi * 64, dtype=np.float64)
        if idxs[ci]:
            flat[np.asarray(idxs[ci])] = np.asarray(vals[ci], dtype=np.float64)
        coef.append(flat.reshape(-1, 64))

    t = _jpeg_dct_matrix()
    planes = []
    for ci, (_cid, tq, hi, vi) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("JPEG component references missing quant table")
        dez = np.empty_like(coef[ci])
        dez[:, zz] = coef[ci]  # undo zigzag
        dq = dez.reshape(-1, 8, 8) * qtables[tq][None, :, :]
        blocks = np.einsum("ji,njk,kl->nil", t, dq, t) + 128.0
        nby, nbx = mcuy * vi, mcux * hi
        plane = (
            blocks.reshape(nby, nbx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(nby * 8, nbx * 8)
        )
        # Crop to the component's own dims, then replicate-upsample to
        # full resolution (box upsampling — libjpeg's default "fancy"
        # triangular filter differs by <=1-2 levels on smooth chroma).
        ch, cw = -(-h * vi // vmax), -(-w * hi // hmax)
        plane = plane[:ch, :cw]
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        planes.append(plane[:h, :w])

    if len(comps) == 1:
        return w, h, 1, np.rint(planes[0]).clip(0, 255).astype(np.uint8).tobytes()
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([np.rint(c).clip(0, 255) for c in (r, g, b)], axis=-1)
    return w, h, 3, rgb.astype(np.uint8).tobytes()


def jpeg_quality_tables(quality: int) -> tuple[tuple, tuple]:
    """Annex K tables scaled by the classic IJG quality factor (public
    libjpeg convention): scale = 5000/q for q<50 else 200-2q;
    Q[i] = clamp(round(T[i]*scale/100), 1, 255). quality=50 IS Annex K."""
    if not 1 <= quality <= 100:
        raise ValueError("JPEG quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality

    def scaled(base):
        return tuple(
            min(255, max(1, (t * scale + 50) // 100)) for t in base
        )

    return scaled(JPEG_QUANT_LUMA), scaled(JPEG_QUANT_CHROMA)


def jpeg_header_scan(payload: bytes) -> dict:
    """HEADER-ONLY JPEG triage: marker walk up to SOS — dimensions,
    component count, and an IJG quality estimate inverted from the DQT
    tables (median per-coefficient 100*Q[i]/T[i] against Annex K, the
    approach quality probes like ImageMagick use) — with NO entropy
    decode. This is the 100 TB curation shape: deciding whether an
    asset is worth decoding costs a few hundred header bytes, not the
    raster; filter on quality/dims first, decode the survivors. Raises
    ValueError on malformed or non-baseline streams, like decode_jpeg."""
    import struct

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, list] = {}
    sof = None
    saw_sos = False
    while pos < len(payload):
        if payload[pos] != 0xFF or pos + 1 >= len(payload):
            raise ValueError("truncated or malformed JPEG marker")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            raise ValueError("JPEG has no scan data before EOI")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment length")
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        if seglen < 2 or pos + seglen > len(payload):
            raise ValueError("truncated JPEG segment body")
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:
            bp = 0
            while bp < len(body):
                pq, tq = body[bp] >> 4, body[bp] & 0xF
                bp += 1
                if pq != 0:
                    raise ValueError("unsupported 16-bit quantization table")
                if bp + 64 > len(body):
                    raise ValueError("truncated JPEG DQT")
                zz = list(body[bp : bp + 64])
                nat = [0] * 64
                for i, z in enumerate(JPEG_ZIGZAG):
                    nat[z] = zz[i]
                qtables[tq] = nat
                bp += 64
        elif marker == 0xC0:
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF")
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("unsupported JPEG precision (8-bit only)")
            sof = (w, h, nc)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG process (baseline SOF0 only)")
        elif marker == 0xDA:
            saw_sos = True
            break
    # A headers-only payload that simply ENDS after SOF/DQT is malformed
    # (decode_jpeg rejects it too): without an SOS there is no image, and
    # triage must not greenlight an asset the decode stage will reject.
    if not saw_sos:
        raise ValueError("JPEG missing SOS (headers only, no scan)")
    if sof is None or not qtables:
        raise ValueError("JPEG missing SOF/DQT before scan")
    # Invert the IJG scaling per coefficient against the Annex K bases.
    # Entries clamped to 1 or 255 carry no scale information (at low
    # quality most coefficients saturate at 255 and drag a naive median
    # toward overestimating quality), so use UNclamped entries when any
    # exist; the median over those is robust to a few off-table values.
    scales = []
    clamped = []
    for tq, nat in sorted(qtables.items()):
        base = JPEG_QUANT_LUMA if tq == 0 else JPEG_QUANT_CHROMA
        for q, t in zip(nat, base):
            (clamped if q in (1, 255) else scales).append(100.0 * q / t)
    if not scales:
        scales = clamped
    scales.sort()
    n = len(scales)
    mid = (
        scales[n // 2]
        if n % 2
        else (scales[n // 2 - 1] + scales[n // 2]) / 2.0
    )
    quality = (200.0 - mid) / 2.0 if mid <= 100.0 else 5000.0 / mid
    w, h, nc = sof
    return {
        "width": w,
        "height": h,
        "n_components": nc,
        "quality_est": max(1.0, min(100.0, quality)),
    }


JPEG_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("quality_est", T.DoubleType()),
    ]
)


def jpeg_header_triage(assets: DataFrame) -> DataFrame:
    """Arrow-batched header-only triage over JPEG payloads: dims,
    component count, and the inverted IJG quality estimate — the
    pre-decode filter column set (:func:`jpeg_header_scan` per asset,
    no entropy decode, no raster)."""

    def row(payload: bytes) -> dict:
        meta = jpeg_header_scan(payload)
        return {**meta, "quality_est": round(meta["quality_est"], 4)}

    return _map_rows(assets, ("asset_id", "payload"), row, JPEG_HEADER_SCHEMA)


def _jpeg_features(payload: bytes) -> list[float]:
    """REAL decode: SOF dims + whole-raster pixel statistics after the
    full entropy-decode + IDCT + color-transform path, shaped to the same
    FEATURE_DIM vector as PPM/PNG with codec id 3.0 (JPEG)."""
    width, height, _nc, pixels = decode_jpeg(payload)
    return [
        float(width),
        float(height),
        float(width * height),
        sum(pixels) / len(pixels),
        float(min(pixels)),
        float(max(pixels)),
        255.0,
        3.0,
    ]


def decode_media(payload: bytes, media_type: str, fake: bool = False) -> list[float]:
    """Decode one payload into a feature vector.

    The REAL branches handle binary PPM, 8-bit truecolor PNG, and
    baseline JPEG images (pure numpy/stdlib codecs — zlib IS the PNG
    compressor, and the JPEG path is a genuine Huffman + IDCT decoder);
    the remaining compressed formats (MP3, H.264) need librosa/ffmpeg,
    unavailable in this environment, and stay intentionally
    unimplemented — substitute the library call at deployment time.
    """
    if fake:
        return _fake_decode(payload)
    if media_type == "image" and payload[:2] == b"P6":
        return _ppm_features(payload)
    if media_type == "image" and payload[:8] == PNG_SIG:
        return _png_features(payload)
    if media_type == "image" and payload[:2] == b"\xff\xd8":
        return _jpeg_features(payload)
    raise NotImplementedError(
        "no codec for this payload in this environment (real decode "
        "supports binary PPM, 8-bit RGB PNG, and baseline JPEG images); "
        "use fake=True for the stub"
    )


def _digest_image(encode, text: str, width: int, doc_id: int) -> bytes:
    """Fixture image ``width``×(doc_id%4+1) through ``encode`` (PPM or
    PNG); the raster is md5(text) cycled and cut to 3·width·height bytes."""
    h = doc_id % 4 + 1
    n = 3 * width * h
    digest = hashlib.md5(str(text).encode("utf-8")).digest()
    return encode(width, h, (digest * -(-n // len(digest)))[:n])


def ppm_assets_from_documents(documents: DataFrame, width: int = 16) -> DataFrame:
    """Synthesize REAL decodable image assets: one binary PPM per document,
    16×(doc_id%4+1) pixels whose raster is the document text's md5 digest
    cycled — an Arrow-batched ENCODE stage, the write-side twin of the
    decode stage, and deterministic from (doc_id, text) alone so an
    engine-independent oracle can replay every derived pixel statistic
    (the raster is WHOLE digest repeats: 3·16·h bytes = 3h·16, so each
    digest byte appears equally often and raster stats equal digest
    stats; width 8 would give 24h bytes — a half digest per odd row)."""
    return _encode_assets(
        documents,
        ("doc_id", "text"),
        "image",
        lambda d, t: _digest_image(encode_ppm, t, width, d),
    )


def png_assets_from_documents(documents: DataFrame, width: int = 16) -> DataFrame:
    """Synthesize REAL compressed image assets: one 8-bit RGB PNG per
    document, same digest-cycled raster as the PPM twin (16×(doc_id%4+1),
    whole md5 repeats) but DEFLATE-compressed through the stdlib encoder
    — so the decode side must genuinely inflate and unfilter to get the
    pixels back, and an engine-independent oracle can still replay every
    pixel statistic from the text digest alone."""
    return _encode_assets(
        documents,
        ("doc_id", "text"),
        "image",
        lambda d, t: _digest_image(encode_png, t, width, d),
    )


PNG_ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_pixels", T.IntegerType()),
        T.StructField("sum_byte", T.LongType()),
        T.StructField("min_byte", T.IntegerType()),
        T.StructField("max_byte", T.IntegerType()),
        T.StructField("raster_digest", T.StringType()),
    ]
)


def _raster_row(decoded: tuple) -> dict:
    """The roundtrip stats row from a decoder's ``(width, height, ...,
    pixels)`` tuple."""
    w, h, px = decoded[0], decoded[1], decoded[-1]
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "sum_byte": sum(px),
        "min_byte": min(px),
        "max_byte": max(px),
        "raster_digest": hashlib.md5(px.hex().encode()).hexdigest(),
    }


def png_roundtrip(assets: DataFrame) -> DataFrame:
    """Arrow-batched PNG decode proof: per asset, IHDR dims, exact
    integer pixel statistics, and md5 over the lowercase-hex DECODED
    raster — the same digest convention as the PPM resize / Y4M frame
    oracles, so a hash match proves compress→decompress→unfilter
    returned every original byte."""
    return _map_rows(
        assets,
        ("asset_id", "payload"),
        lambda p: _raster_row(decode_png(p)),
        PNG_ROUNDTRIP_SCHEMA,
    )


JPEG_FIXTURE_WIDTH = 125  # 15 full blocks + a 5px partial (crop coverage)


def jpeg_fixture_dims(doc_id: int) -> tuple[int, int]:
    """Fixture geometry: width 125 (16 blocks with the last cropped to 5
    columns), height 8*(doc_id%2+1)-3 (5 or 13 — cropped vertically too,
    so the encoder's edge padding and the decoder's crop both run)."""
    return JPEG_FIXTURE_WIDTH, 8 * (doc_id % 2 + 1) - 3


def jpeg_fixture_raster(text: str, height: int) -> bytes:
    """Gray RGB raster of CONSTANT 8x8-aligned columns: md5 byte i fills
    pixel columns [8i, 8i+8) (the 16th byte only 5 columns), every row
    identical. Constant blocks + gray pixels make the lossy pipeline
    exact: R=G=B => Y=v, Cb=Cr=128 under JFIF, and with the DC-exact
    quant tables the DC quantizes losslessly while every AC is zero —
    so a SQL oracle replays the DECODED raster from the text digest."""
    digest = hashlib.md5(str(text).encode("utf-8")).digest()
    row = b"".join(
        bytes([digest[i]]) * (3 * (5 if i == 15 else 8)) for i in range(16)
    )
    return row * height


def _jpeg_fixture(doc_id: int, text: str) -> bytes:
    """The bit-exact DC-exact baseline JPEG of one document."""
    w, h = jpeg_fixture_dims(doc_id)
    return encode_jpeg(
        w,
        h,
        jpeg_fixture_raster(text, h),
        quant_luma=JPEG_QUANT_LUMA_DCEXACT,
        quant_chroma=JPEG_QUANT_CHROMA_DCEXACT,
    )


def jpeg_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize REAL lossy-codec image assets: one baseline JPEG per
    document through the full encoder (color transform, DCT,
    quantization, Huffman), shaped so decoding is bit-exact and therefore
    engine-independently oracle-checkable (see
    :func:`jpeg_fixture_raster`)."""
    return _encode_assets(documents, ("doc_id", "text"), "image", _jpeg_fixture)


def jpeg_roundtrip(assets: DataFrame) -> DataFrame:
    """Arrow-batched JPEG decode proof: per asset, SOF dims, exact
    integer pixel statistics, and md5 over the lowercase-hex DECODED
    raster — the same digest convention as the PNG/PPM/Y4M oracles, so a
    hash match proves Huffman decode + dequant + IDCT + color transform
    returned every expected byte."""
    return _map_rows(
        assets,
        ("asset_id", "payload"),
        lambda p: _raster_row(decode_jpeg(p)),
        PNG_ROUNDTRIP_SCHEMA,
    )


def extract_features(assets: DataFrame, fake: bool = True) -> DataFrame:
    """Arrow-batched feature extraction over media payloads: the
    returned frame carries a fixed-dim ``array<double>`` feature column
    ready for the similarity operators.
    """
    return _map_rows(
        assets,
        ("asset_id", "media_type", "payload"),
        lambda m, p: {"payload_bytes": len(p), "feature": decode_media(p, m, fake=fake)},
        FEATURES_SCHEMA,
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_bytes", T.LongType()),
    ]
)


def _ppm_resize(payload: bytes, width: int, height: int) -> bytes:
    """REAL resample: nearest-neighbor resize of a binary PPM through the
    pure-stdlib codec (decode → numpy index-gather → encode).

    Standard pixel-center mapping: target index i reads source index
    ``floor((i + 0.5) * src / dst)`` — the OpenCV/PIL NEAREST convention,
    exact in integer arithmetic as ``((2i + 1) * src) // (2 * dst)`` (no
    float rounding anywhere, so the output is engine-replayable
    byte-for-byte). Vectorized as one numpy fancy-index over the
    (h, w, 3) raster view — no Python per-pixel loop."""
    import numpy as np

    w0, h0, maxval, pixels = decode_ppm(payload)
    if maxval != 255:
        raise ValueError(f"resample requires maxval 255, got {maxval}")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h0, w0, 3)
    rows = (2 * np.arange(height, dtype=np.int64) + 1) * h0 // (2 * height)
    cols = (2 * np.arange(width, dtype=np.int64) + 1) * w0 // (2 * width)
    return encode_ppm(width, height, arr[rows][:, cols].tobytes())


def _png_resize(payload: bytes, width: int, height: int) -> bytes:
    """REAL resample of a compressed image: PNG decode (inflate +
    unfilter) → the same exact-integer nearest-neighbor gather as
    :func:`_ppm_resize` → PNG re-encode (DEFLATE). The decoded OUTPUT
    raster is engine-replayable byte-for-byte (the payload bytes are
    not — they depend on the zlib encoder — which is why the registered
    query digests the decoded raster, not the container)."""
    import numpy as np

    w0, h0, pixels = decode_png(payload)
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(h0, w0, 3)
    rows = (2 * np.arange(height, dtype=np.int64) + 1) * h0 // (2 * height)
    cols = (2 * np.arange(width, dtype=np.int64) + 1) * w0 // (2 * width)
    return encode_png(width, height, arr[rows][:, cols].tobytes())


def _real_resize(payload: bytes, width: int, height: int) -> bytes:
    """Codec-dispatching real resample: PPM and PNG payloads route to
    their stdlib codecs; anything else raises the documented
    NotImplementedError (substitute Pillow at deployment)."""
    if payload[:2] == b"P6":
        return _ppm_resize(payload, width, height)
    if payload[:8] == PNG_SIG:
        return _png_resize(payload, width, height)
    raise NotImplementedError(
        "no resample codec for this payload (real path supports binary "
        "PPM and 8-bit RGB PNG); use fake=True for the stub"
    )


def _fake_resize(payload: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in for an image resample: a digest-seeded byte
    stream sized ~3 bytes/pixel (RGB), so downstream size accounting and
    batch-memory behavior match a real resize."""
    out_len = max(1, width * height * 3)
    seed = hashlib.md5(payload).digest()
    reps = -(-out_len // len(seed))
    return (seed * reps)[:out_len]


def resize_images(
    assets: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """Arrow-batched image resize stage (image assets only), binary in →
    binary out. ``fake=False`` runs the REAL pure-stdlib path — binary
    PPM or 8-bit RGB PNG in, nearest-neighbor-resampled same-format out
    (:func:`_real_resize`
    dispatches by magic bytes); other raster codecs substitute
    PIL/Pillow-SIMD at deployment behind the same batch signature.
    ``fake=True`` keeps the digest-seeded stand-in for corpora whose
    formats this environment cannot decode. A NULL payload keeps the
    target ``width``/``height`` in its NULL row either way.
    """
    if width <= 0 or height <= 0:
        raise ValueError("target dimensions must be positive")
    resample = _fake_resize if fake else _real_resize
    return _resize_stage(assets, width, height, resample)


def _resize_stage(assets: DataFrame, width: int, height: int, resample) -> DataFrame:
    """The image assets of ``assets`` through ``resample(payload, w, h)``;
    the target dims ride along as literal pass-through columns."""
    return _map_rows(
        assets.filter(F.col("media_type") == "image"),
        ("asset_id", F.lit(width).alias("width"), F.lit(height).alias("height"), "payload"),
        lambda w, h, p: {"payload": (out := resample(p, w, h)), "payload_bytes": len(out)},
        RESIZED_SCHEMA,
    )


def _decode_image_rgb(payload: bytes):
    """Decode ANY real image codec (PPM/PNG/JPEG, dispatched by magic
    bytes) to an (h, w, 3) uint8 array; 1-component JPEG replicates the
    luminance plane. Raises ValueError for unknown containers."""
    import numpy as np

    if payload[:2] == b"P6":
        w, h, _maxval, px = decode_ppm(payload)
        return np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    if payload[:8] == PNG_SIG:
        w, h, px = decode_png(payload)
        return np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
    if payload[:2] == b"\xff\xd8":
        w, h, nc, px = decode_jpeg(payload)
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, nc)
        return arr if nc == 3 else np.repeat(arr, 3, axis=2)
    raise ValueError("unknown image container (PPM/PNG/JPEG supported)")


def transcode_resize_images(
    assets: DataFrame, width: int, height: int
) -> DataFrame:
    """Cross-codec normalize-and-resize (r12): decode ANY real image
    codec — including lossy baseline JPEG — through :func:`_decode_image_rgb`,
    apply the exact-integer nearest-neighbor gather shared with
    :func:`_ppm_resize`, and re-encode LOSSLESS PNG. This is the
    format-normalization shape a training-data pipeline actually runs
    (mixed crawl formats in, one archival format out): the lossy step
    happened upstream at capture time; the pipeline itself must not add
    generation loss, which the PNG container guarantees and the
    registered oracle proves byte-for-byte. Same stage shape and NULL
    rows as :func:`resize_images`."""
    import numpy as np

    if width <= 0 or height <= 0:
        raise ValueError("target dimensions must be positive")

    def one(p: bytes, width: int, height: int) -> bytes:
        arr = _decode_image_rgb(p)
        h0, w0 = arr.shape[:2]
        rows = (2 * np.arange(height, dtype=np.int64) + 1) * h0 // (2 * height)
        cols = (2 * np.arange(width, dtype=np.int64) + 1) * w0 // (2 * width)
        return encode_png(width, height, arr[rows][:, cols].tobytes())

    return _resize_stage(assets, width, height, one)


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video assets: one row per planned sample
    timestamp (the decode itself happens in extract_features). Pure
    DataFrame: sequence+explode, no Python."""
    video = assets.filter(F.col("media_type") == "video")
    # explode_outer: an asset with NULL duration keeps one row (sample_ms
    # NULL) instead of silently vanishing from the plan.
    return video.select(
        "asset_id",
        F.explode_outer(
            F.sequence(F.lit(0).cast("long"), F.col("duration_ms"), F.lit(every_ms).cast("long"))
        ).alias("sample_ms"),
    )


# ---------------------------------------------------------------------------
# Audio (r10): REAL WAV codec end-to-end via the stdlib ``wave`` module —
# the audio leg of the multimodal story, un-faked like the PPM image leg.
# Waveforms are synthesized from a pure-integer formula of (asset_id, i),
# so every derived feature is engine-independent and an ANSI-SQL oracle
# replays the whole pipeline: formula → int16 PCM encode → wave-module
# decode → integer feature aggregation.
# ---------------------------------------------------------------------------

WAV_SAMPLE_RATE = 8000
WAV_BASE_SAMPLES = 2000

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("sample_rate", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sum_sq", T.LongType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ]
)


def wav_sample_count(asset_id: int) -> int:
    """Variable clip length, SQL-replayable: base + (id % 5)·32 frames."""
    return WAV_BASE_SAMPLES + (int(asset_id) % 5) * 32


def wav_samples(asset_id: int, n: int) -> "list[int]":
    """Deterministic int16 waveform: s_i = ((id·31 + i·7919) mod 65536)
    − 32768 — pure non-negative integer arithmetic, identical in Python
    and SQL (7919 is prime to 65536, so the samples sweep the full int16
    range with sign changes for the zero-crossing feature)."""
    a = int(asset_id)
    return [((a * 31 + i * 7919) % 65536) - 32768 for i in range(n)]


def encode_wav(samples: "list[int]", sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """REAL RIFF/WAVE encode (mono, 16-bit PCM) through the stdlib
    ``wave`` writer — genuine container bytes, not a stand-in."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def decode_wav(payload: bytes) -> "tuple[int, 'object']":
    """REAL WAV decode via the stdlib reader: returns (sample_rate,
    int16 numpy array). Raises ValueError on anything but mono 16-bit
    PCM — a poison payload must be inspectable, not mis-parsed."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError(
                f"expected mono 16-bit PCM, got channels={w.getnchannels()} "
                f"sampwidth={w.getsampwidth()}"
            )
        frames = w.readframes(w.getnframes())
        return w.getframerate(), np.frombuffer(frames, dtype="<i2")


def wav_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize REAL decodable audio assets: one mono 16-bit PCM WAV
    per document, samples from :func:`wav_samples` — the audio twin of
    :func:`ppm_assets_from_documents` (encode stage, Arrow-batched)."""
    return _encode_assets(
        documents,
        ("doc_id",),
        "audio",
        lambda d: encode_wav(wav_samples(d, wav_sample_count(d))),
    )


def audio_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction over WAV payloads through
    the REAL decoder: per asset, the integer sufficient statistics a
    curation pipeline filters on — energy (Σ s²), peak amplitude,
    zero-crossing count (the classic cheap voicing/noise discriminant),
    duration. All features are exact integers, so the SQL oracle matches
    hash-for-hash with no float discipline needed."""

    def row(payload: bytes) -> dict:
        import numpy as np

        sr, s = decode_wav(payload)
        s64 = s.astype(np.int64)
        n = int(s64.shape[0])
        return {
            "sample_rate": sr,
            "n_samples": n,
            "duration_ms": n * 1000 // sr,
            "sum_sq": int((s64 * s64).sum()),
            "peak": int(np.abs(s64).max()) if n else 0,
            "zero_crossings": int(((s64[:-1] < 0) != (s64[1:] < 0)).sum()) if n > 1 else 0,
        }

    return _map_rows(assets, ("asset_id", "payload"), row, AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# Video (r10): REAL Y4M (YUV4MPEG2) codec end-to-end — the uncompressed
# video container of mjpegtools/ffmpeg, pure header + raw frames, so the
# whole decode/frame-sample path runs un-faked like PPM and WAV. Frame
# rasters are whole-md5-digest repeats of (text, frame_index), making
# every sampled frame digest SQL-replayable.
# ---------------------------------------------------------------------------

Y4M_W, Y4M_H = 16, 8  # 3·16·8 = 384 = 24 whole md5 digests per frame
Y4M_HEADER = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C444\n" % (Y4M_W, Y4M_H)
Y4M_FRAME_BYTES = 3 * Y4M_W * Y4M_H

FRAME_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("frame_index", T.LongType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("frame_digest", T.StringType()),
    ]
)


def encode_y4m(frames: "list[bytes]") -> bytes:
    """REAL YUV4MPEG2 encode: stream header + ``FRAME\\n`` + raw C444
    planes per frame. Refuses wrong-sized rasters."""
    out = [Y4M_HEADER]
    for f in frames:
        if len(f) != Y4M_FRAME_BYTES:
            raise ValueError(
                f"frame must be {Y4M_FRAME_BYTES} bytes, got {len(f)}"
            )
        out.append(b"FRAME\n")
        out.append(f)
    return b"".join(out)


def decode_y4m(payload: bytes) -> "tuple[int, int, list[bytes]]":
    """REAL Y4M decode: parse the stream header (W/H tokens), then split
    fixed-size frames at their FRAME markers. Raises ValueError on a
    foreign signature, unsupported geometry, or a truncated frame — a
    poison payload must be inspectable, never mis-sliced."""
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    header = payload[:nl].decode("ascii", "replace").split(" ")
    dims = {t[0]: t[1:] for t in header[1:] if t}
    if int(dims.get("W", -1)) != Y4M_W or int(dims.get("H", -1)) != Y4M_H:
        raise ValueError(f"unsupported geometry {dims.get('W')}x{dims.get('H')}")
    frames = []
    pos = nl + 1
    while pos < len(payload):
        if payload[pos : pos + 6] != b"FRAME\n":
            raise ValueError(f"bad FRAME marker at offset {pos}")
        pos += 6
        frame = payload[pos : pos + Y4M_FRAME_BYTES]
        if len(frame) != Y4M_FRAME_BYTES:
            raise ValueError("truncated frame")
        frames.append(frame)
        pos += Y4M_FRAME_BYTES
    return Y4M_W, Y4M_H, frames


def y4m_frame_raster(text: str, frame_index: int) -> bytes:
    """Deterministic frame raster: whole repeats of
    md5(text ⊕ '-f' ⊕ index) — 24 digests fill one C444 frame exactly,
    so frame digests are replayable from the document text alone."""
    digest = hashlib.md5(f"{text}-f{frame_index}".encode("utf-8")).digest()
    return digest * (Y4M_FRAME_BYTES // len(digest))


def y4m_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize REAL decodable video assets: one Y4M clip per document
    with 2 + doc_id % 4 frames — the video twin of the PPM/WAV encode
    stages (Arrow-batched)."""
    return _encode_assets(
        documents,
        ("doc_id", "text"),
        "video",
        lambda d, t: encode_y4m([y4m_frame_raster(str(t), fi) for fi in range(2 + d % 4)]),
    )


def sample_frames(assets: DataFrame, every_n: int = 2) -> DataFrame:
    """Arrow-batched frame sampling through the REAL decoder: every
    ``every_n``-th frame of each clip (always including frame 0) becomes
    one output row with its md5 digest — the decode-side realization of
    ``frame_sample_plan``'s plumbing; a NULL payload keeps one NULL row,
    like the plan's ``explode_outer``. Bounded memory: one clip's frames
    at a time, rows carry digests, never rasters."""
    if every_n < 1:
        raise ValueError("every_n must be >= 1")

    def rows(payload: bytes) -> list:
        _w, _h, frames = decode_y4m(payload)
        return [
            {
                "n_frames": len(frames),
                "frame_index": fi,
                "payload_bytes": len(payload),
                "frame_digest": hashlib.md5(frames[fi].hex().encode("ascii")).hexdigest(),
            }
            for fi in range(0, len(frames), every_n)
        ]

    return _map_rows(assets, ("asset_id", "payload"), rows, FRAME_FEATURES_SCHEMA)


# --------------------------------------------------------------- MP3 triage
# Header-only MPEG audio triage (r13): the audio twin of
# :func:`jpeg_header_scan`. Full MP3 DECODE stays library-bound (the
# polyphase filterbank + Huffman spectral data need a real audio stack —
# see :func:`decode_media`), but the FRAME HEADERS are 4 plain bytes each
# (ISO/IEC 11172-3 / 13818-3 section 2.4.1.3): version, layer, bitrate,
# sample rate, and — by walking the frame chain — an exact frame count
# and a duration estimate at marker-walk cost. That completes the
# triage-before-decode story for every modality: a 100 TB curation pass
# filters audio on duration/bitrate/sample-rate BEFORE paying for (or
# shipping to) a real decoder.

# Bitrate tables in kbps, indexed 1..14 (0 = "free format", 15 = bad —
# both rejected); public constants from the MPEG audio specs.
_MP3_BITRATES = {
    # (version_group, layer): version_group is 1 for MPEG1, 2 for MPEG2/2.5
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_SAMPLE_RATES = {
    # version bits (19-20): 3=MPEG1, 2=MPEG2, 0=MPEG2.5 (1 reserved)
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}
_MP3_VERSION_NAME = {3: "MPEG1", 2: "MPEG2", 0: "MPEG2.5"}


def mp3_header_scan(payload: bytes) -> dict:
    """HEADER-ONLY MPEG audio triage: walk the frame chain (optionally
    behind an ID3v2 tag), validating sync/version/layer/bitrate/sample
    rate per frame, and return stream-level metadata with NO audio
    decode: version, layer, sample rate, frame count, mean bitrate
    (kbps — exact for CBR, the frame mean for VBR), total payload bytes
    spanned, and ``duration_ms = n_frames * samples_per_frame * 1000 //
    sample_rate`` (integer math, so oracle-replayable). Raises
    ValueError on malformed streams: bad sync, reserved version/layer,
    free-format or bad bitrate index, bad sample-rate index, truncated
    frames, sample-rate/version/layer changes mid-stream.

    Xing/Info VBR tags (the LAME/ffmpeg convention): a real encoder's
    FIRST frame is often a metadata frame carrying ``Xing`` (VBR) or
    ``Info`` (CBR) at the Layer III side-info offset. That frame holds
    no audio, so it is EXCLUDED from ``n_frames``/``bitrate_kbps``/
    ``duration_ms`` (counting it would overstate duration by one frame
    and skew the mean toward the tag frame's arbitrary bitrate); the
    returned ``vbr_tag`` is ``'xing'``/``'info'``/``None``, and when
    the tag declares a frame count that disagrees with the walked chain
    the stream is malformed and raises (a truncated download whose tag
    promises more audio than is present must not triage as healthy)."""
    pos = 0
    if payload[:3] == b"ID3":
        if len(payload) < 10:
            raise ValueError("truncated ID3v2 tag")
        sz = payload[6:10]
        if any(b & 0x80 for b in sz):
            raise ValueError("malformed ID3v2 syncsafe size")
        pos = 10 + ((sz[0] << 21) | (sz[1] << 14) | (sz[2] << 7) | sz[3])
    if pos + 4 > len(payload):
        raise ValueError("no MPEG audio frame after ID3 tag")
    stream = None  # (version_bits, layer, sample_rate, samples_per_frame)
    n_frames = 0
    bitrate_sum = 0
    first_frame = True
    vbr_tag = None
    tag_frames = None
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated MPEG audio frame header")
        h = int.from_bytes(payload[pos : pos + 4], "big")
        if (h >> 21) & 0x7FF != 0x7FF:
            raise ValueError("bad MPEG audio frame sync")
        vbits = (h >> 19) & 0x3
        if vbits == 1:
            raise ValueError("reserved MPEG version")
        lbits = (h >> 17) & 0x3
        if lbits == 0:
            raise ValueError("reserved MPEG layer")
        layer = 4 - lbits  # bits: 3=Layer I, 2=Layer II, 1=Layer III
        bidx = (h >> 12) & 0xF
        if bidx == 0:
            raise ValueError("free-format MPEG bitrate is unsupported")
        if bidx == 15:
            raise ValueError("bad MPEG bitrate index")
        sidx = (h >> 10) & 0x3
        if sidx == 3:
            raise ValueError("bad MPEG sample-rate index")
        padding = (h >> 9) & 0x1
        vgroup = 1 if vbits == 3 else 2
        bitrate = _MP3_BITRATES[(vgroup, layer)][bidx - 1] * 1000
        sample_rate = _MP3_SAMPLE_RATES[vbits][sidx]
        if layer == 1:
            spf = 384
            frame_len = (12 * bitrate // sample_rate + padding) * 4
        elif layer == 2:
            spf = 1152
            frame_len = 144 * bitrate // sample_rate + padding
        else:
            spf = 1152 if vgroup == 1 else 576
            frame_len = (144 if vgroup == 1 else 72) * bitrate // sample_rate + padding
        key = (vbits, layer, sample_rate, spf)
        if stream is None:
            stream = key
        elif stream != key:
            raise ValueError("MPEG stream parameters change mid-stream")
        if pos + frame_len > len(payload):
            raise ValueError("truncated MPEG audio frame body")
        if first_frame and layer == 3:
            # Xing/Info sits after the header + side info: Layer III
            # side-info length is 17 (MPEG1 mono) / 32 (MPEG1 other
            # channel modes) / 9 (MPEG2/2.5 mono) / 17 (MPEG2/2.5
            # other). Channel mode 3 (bits 6-7) is mono.
            mono = (h >> 6) & 0x3 == 3
            if vgroup == 1:
                off = pos + 4 + (17 if mono else 32)
            else:
                off = pos + 4 + (9 if mono else 17)
            tag = payload[off : off + 4]
            if tag in (b"Xing", b"Info") and off + 8 <= pos + frame_len:
                vbr_tag = "xing" if tag == b"Xing" else "info"
                flags = int.from_bytes(payload[off + 4 : off + 8], "big")
                if flags & 0x1 and off + 12 <= pos + frame_len:
                    tag_frames = int.from_bytes(
                        payload[off + 8 : off + 12], "big"
                    )
                pos += frame_len
                first_frame = False
                continue  # metadata frame: no audio, excluded from stats
        first_frame = False
        n_frames += 1
        bitrate_sum += bitrate
        pos += frame_len
    if stream is None or n_frames == 0:
        raise ValueError("no MPEG audio frames")
    if tag_frames is not None and tag_frames != n_frames:
        raise ValueError(
            f"MPEG VBR tag declares {tag_frames} frames but the stream"
            f" carries {n_frames} (truncated or corrupt download)"
        )
    vbits, layer, sample_rate, spf = stream
    return {
        "version": _MP3_VERSION_NAME[vbits],
        "layer": layer,
        "sample_rate": sample_rate,
        "n_frames": n_frames,
        "bitrate_kbps": bitrate_sum // (1000 * n_frames),
        "payload_bytes": len(payload),
        "duration_ms": n_frames * spf * 1000 // sample_rate,
        "vbr_tag": vbr_tag,
    }


MP3_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("version", T.StringType()),
        T.StructField("layer", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("bitrate_kbps", T.IntegerType()),
        T.StructField("payload_bytes", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def mp3_frame_bytes(bitrate_index: int, sample_rate_index: int) -> bytes:
    """One synthetic MPEG1 Layer III CBR frame: a valid 4-byte header
    (sync, version=MPEG1, layer=III, no CRC, no padding, mono) followed
    by zeroed side-info/main data to the exact frame length — the
    header fields are REAL and the walk arithmetic is exercised for
    real; only the spectral payload is silence."""
    if not 1 <= bitrate_index <= 14:
        raise ValueError("bitrate_index must be in 1..14")
    if not 0 <= sample_rate_index <= 2:
        raise ValueError("sample_rate_index must be in 0..2")
    h = (
        (0x7FF << 21)
        | (3 << 19)  # MPEG1
        | (1 << 17)  # Layer III
        | (1 << 16)  # no CRC
        | (bitrate_index << 12)
        | (sample_rate_index << 10)
        | (3 << 6)  # mono
    )
    bitrate = _MP3_BITRATES[(1, 3)][bitrate_index - 1] * 1000
    sample_rate = _MP3_SAMPLE_RATES[3][sample_rate_index]
    frame_len = 144 * bitrate // sample_rate
    return h.to_bytes(4, "big") + bytes(frame_len - 4)


def mp3_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize MPEG1 Layer III audio assets, one per document, with
    document-determined header fields (bitrate index ``1 + doc_id % 14``,
    sample-rate index ``doc_id % 3``, ``2 + length(text) % 7`` frames) —
    deterministic integer arithmetic a SQL oracle can replay exactly.
    The Arrow-batched encode twin of :func:`wav_assets_from_documents`
    for the format that stays undecoded."""
    return _encode_assets(
        documents,
        ("doc_id", "text"),
        "audio",
        lambda d, t: mp3_frame_bytes(1 + d % 14, d % 3) * (2 + len(t) % 7),
    )


def mp3_header_triage(assets: DataFrame) -> DataFrame:
    """Arrow-batched header-only triage over MPEG audio payloads: the
    pre-decode filter column set (:func:`mp3_header_scan` per asset —
    version/layer/rate/frames/bitrate/duration, no audio decode)."""
    return _map_rows(assets, ("asset_id", "payload"), mp3_header_scan, MP3_HEADER_SCHEMA)


# --------------------------------------------------------------- MP4 triage
# Container-level video triage (r13): the video twin of
# :func:`mp3_header_scan`. H.264 BITSTREAM decode stays library-bound
# (see :func:`decode_media`), but the ISO base-media container around it
# (ISO/IEC 14496-12) is a plain length-prefixed box tree: brand, movie
# timescale/duration, per-track handler + sample-entry fourcc, and the
# video track's presentation dims all sit in the first few hundred bytes
# of `moov`. A 100 TB curation pass filters video on
# duration/dims/codec BEFORE paying for (or shipping to) a real decoder.


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Iterate (type, body_start, body_end) over sibling boxes in
    buf[start:end], validating sizes (14496-12 4.2: 32-bit size, size==1
    -> 64-bit largesize follows, size==0 -> box extends to `end`)."""
    pos = start
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated MP4 box header")
        size = int.from_bytes(buf[pos : pos + 4], "big")
        btype = buf[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 largesize box")
            size = int.from_bytes(buf[pos + 8 : pos + 16], "big")
            body = pos + 16
            if size < 16:
                raise ValueError("bad MP4 largesize")
        elif size == 0:
            size = end - pos
        elif size < 8:
            raise ValueError("bad MP4 box size")
        if pos + size > end:
            raise ValueError("MP4 box overruns its container")
        yield btype, body, pos + size
        pos += size


def _mp4_child(buf: bytes, start: int, end: int, btype: bytes):
    for t, b, e in _mp4_boxes(buf, start, end):
        if t == btype:
            return b, e
    return None


def mp4_header_scan(payload: bytes) -> dict:
    """HEADER-ONLY MP4/ISO-BMFF triage: walk the box tree (ftyp brand,
    moov/mvhd movie timescale + duration, per-trak hdlr handler and stsd
    sample-entry fourcc, video tkhd presentation dims) and return
    container metadata with NO bitstream decode:
    ``major_brand, timescale, duration_ms (integer math), n_tracks,
    video_codec/width/height (None when no video track),
    audio_codec (None when no audio track)``. Raises ValueError on
    malformed trees: truncated/overrunning boxes, missing ftyp/moov/
    mvhd, trak without mdia/hdlr, unsupported mvhd versions."""
    if len(payload) < 8:
        raise ValueError("not an MP4 (too short)")
    ftyp = None
    moov = None
    for t, b, e in _mp4_boxes(payload, 0, len(payload)):
        if t == b"ftyp" and ftyp is None:
            ftyp = (b, e)
        elif t == b"moov" and moov is None:
            moov = (b, e)
    if ftyp is None:
        raise ValueError("MP4 missing ftyp box")
    if moov is None:
        raise ValueError("MP4 missing moov box")
    if ftyp[1] - ftyp[0] < 8:
        raise ValueError("truncated MP4 ftyp body")
    major_brand = payload[ftyp[0] : ftyp[0] + 4].decode("ascii", "replace")

    mvhd = _mp4_child(payload, moov[0], moov[1], b"mvhd")
    if mvhd is None:
        raise ValueError("MP4 moov missing mvhd")
    mb, me = mvhd
    ver = payload[mb]
    if ver == 0:
        if me - mb < 20:
            raise ValueError("truncated MP4 mvhd")
        timescale = int.from_bytes(payload[mb + 12 : mb + 16], "big")
        duration = int.from_bytes(payload[mb + 16 : mb + 20], "big")
    elif ver == 1:
        if me - mb < 32:
            raise ValueError("truncated MP4 mvhd v1")
        timescale = int.from_bytes(payload[mb + 20 : mb + 24], "big")
        duration = int.from_bytes(payload[mb + 24 : mb + 32], "big")
    else:
        raise ValueError("unsupported MP4 mvhd version")
    if timescale == 0:
        raise ValueError("MP4 mvhd timescale is zero")

    n_tracks = 0
    video = None  # (fourcc, width, height)
    audio = None  # fourcc
    for t, tb, te in _mp4_boxes(payload, moov[0], moov[1]):
        if t != b"trak":
            continue
        n_tracks += 1
        mdia = _mp4_child(payload, tb, te, b"mdia")
        if mdia is None:
            raise ValueError("MP4 trak missing mdia")
        hdlr = _mp4_child(payload, mdia[0], mdia[1], b"hdlr")
        if hdlr is None or hdlr[1] - hdlr[0] < 12:
            raise ValueError("MP4 mdia missing hdlr")
        handler = payload[hdlr[0] + 8 : hdlr[0] + 12]
        fourcc = None
        minf = _mp4_child(payload, mdia[0], mdia[1], b"minf")
        if minf is not None:
            stbl = _mp4_child(payload, minf[0], minf[1], b"stbl")
            if stbl is not None:
                stsd = _mp4_child(payload, stbl[0], stbl[1], b"stsd")
                if stsd is not None and stsd[1] - stsd[0] >= 16:
                    # ver+flags(4) + entry_count(4) + first entry box.
                    fourcc = payload[stsd[0] + 12 : stsd[0] + 16].decode(
                        "ascii", "replace"
                    )
        if handler == b"vide" and video is None:
            tkhd = _mp4_child(payload, tb, te, b"tkhd")
            if tkhd is None:
                raise ValueError("MP4 video trak missing tkhd")
            kb, ke = tkhd
            tver = payload[kb]
            # width/height are the LAST 8 bytes of tkhd (16.16 fixed
            # point) in both versions.
            if (tver == 0 and ke - kb < 84) or (tver == 1 and ke - kb < 96):
                raise ValueError("truncated MP4 tkhd")
            width = int.from_bytes(payload[ke - 8 : ke - 4], "big") >> 16
            height = int.from_bytes(payload[ke - 4 : ke], "big") >> 16
            video = (fourcc, width, height)
        elif handler == b"soun" and audio is None:
            audio = fourcc
    return {
        "major_brand": major_brand,
        "timescale": timescale,
        "duration_ms": duration * 1000 // timescale,
        "n_tracks": n_tracks,
        "video_codec": video[0] if video else None,
        "width": video[1] if video else None,
        "height": video[2] if video else None,
        "audio_codec": audio,
    }


MP4_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("major_brand", T.StringType()),
        T.StructField("timescale", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.IntegerType()),
        T.StructField("video_codec", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("audio_codec", T.StringType()),
    ]
)


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def mp4_container_bytes(
    width: int,
    height: int,
    duration_units: int,
    timescale: int = 600,
    with_audio: bool = False,
) -> bytes:
    """A minimal REAL ISO-BMFF tree (ftyp + moov with mvhd and one avc1
    video trak, optionally one mp4a audio trak, + an empty mdat): every
    box length, version field, fixed-point dim, and handler code is laid
    out per 14496-12, so the triage walk is exercised for real; only the
    media samples are absent (an empty mdat — the part triage never
    reads)."""
    if width <= 0 or height <= 0 or duration_units < 0 or timescale <= 0:
        raise ValueError("bad MP4 fixture parameters")
    ftyp = _mp4_box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isomavc1")
    mvhd = _mp4_box(
        b"mvhd",
        bytes(4)  # version 0 + flags
        + bytes(8)  # ctime, mtime
        + timescale.to_bytes(4, "big")
        + duration_units.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + bytes(10)
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )
        + bytes(24)
        + (3).to_bytes(4, "big"),  # next track id
    )

    def trak(track_id: int, handler: bytes, fourcc: bytes, w: int, h: int):
        tkhd = _mp4_box(
            b"tkhd",
            bytes([0, 0, 0, 7])  # version 0, flags: enabled+in-movie
            + bytes(8)
            + track_id.to_bytes(4, "big")
            + bytes(4)
            + duration_units.to_bytes(4, "big")
            + bytes(8)
            + bytes(2)  # layer
            + bytes(2)  # alternate group
            + (0x0100 if handler == b"soun" else 0).to_bytes(2, "big")
            + bytes(2)
            + b"".join(
                v.to_bytes(4, "big")
                for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
            )
            + (w << 16).to_bytes(4, "big")
            + (h << 16).to_bytes(4, "big"),
        )
        mdhd = _mp4_box(
            b"mdhd",
            bytes(4)
            + bytes(8)
            + timescale.to_bytes(4, "big")
            + duration_units.to_bytes(4, "big")
            + (0x55C4).to_bytes(2, "big")  # language 'und'
            + bytes(2),
        )
        hdlr = _mp4_box(
            b"hdlr", bytes(4) + bytes(4) + handler + bytes(12) + b"\x00"
        )
        entry = _mp4_box(fourcc, bytes(6) + (1).to_bytes(2, "big"))
        stsd = _mp4_box(
            b"stsd", bytes(4) + (1).to_bytes(4, "big") + entry
        )
        stbl = _mp4_box(b"stbl", stsd)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        return _mp4_box(b"trak", tkhd + mdia)

    traks = trak(1, b"vide", b"avc1", width, height)
    if with_audio:
        traks += trak(2, b"soun", b"mp4a", 0, 0)
    moov = _mp4_box(b"moov", mvhd + traks)
    return ftyp + moov + _mp4_box(b"mdat", b"")


def mp4_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize ISO-BMFF video assets, one per document, with
    document-determined container fields (width ``16*(1+doc_id%4)``,
    height ``16*(1+doc_id%3)``, duration ``600*(1+length(text)%10)``
    units at timescale 600 = exact whole seconds, audio track iff
    ``doc_id%2=0``) — deterministic arithmetic a SQL oracle replays
    exactly. The container twin of :func:`mp3_assets_from_documents`
    for the bitstream that stays undecoded."""
    return _encode_assets(
        documents,
        ("doc_id", "text"),
        "video",
        lambda d, t: mp4_container_bytes(
            16 * (1 + d % 4), 16 * (1 + d % 3), 600 * (1 + len(t) % 10), with_audio=d % 2 == 0
        ),
    )


def mp4_header_triage(assets: DataFrame) -> DataFrame:
    """Arrow-batched container-only triage over MP4 payloads: the
    pre-decode filter column set (:func:`mp4_header_scan` per asset —
    brand/duration/tracks/codec/dims, no bitstream decode)."""
    return _map_rows(assets, ("asset_id", "payload"), mp4_header_scan, MP4_HEADER_SCHEMA)


# ------------------------------------------------------ image header triage
# Dispatching image triage (r13): real corpora mix formats in one
# column, and the pre-decode filter must read dims at header cost for
# whichever codec each payload happens to be. One magic-byte dispatch
# over the three real image codecs: PPM (header tokens), PNG (IHDR +
# CRC), JPEG (marker walk + DQT quality inversion). Each per-format
# scanner enforces the SAME subset its decoder accepts, so triage never
# greenlights a payload the decode stage would reject.


def png_header_scan(payload: bytes) -> dict:
    """HEADER-ONLY PNG triage: signature + the mandatory-first IHDR
    chunk (CRC-verified), returning dims/bit depth/color type with no
    inflate and no filter reconstruction. Same supported subset and
    dimension cap as :func:`decode_png` (8-bit truecolor,
    non-interlaced); raises ValueError outside it."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG (missing signature)")
    if len(payload) < 8 + 12 + 13:
        raise ValueError("truncated PNG chunk header")
    (length,) = struct.unpack(">I", payload[8:12])
    ctype = payload[12:16]
    if ctype != b"IHDR" or length != 13:
        raise ValueError("PNG IHDR must be the first chunk (13 bytes)")
    data = payload[16:29]
    (crc,) = struct.unpack(">I", payload[29:33])
    if crc != (zlib.crc32(ctype + data) & 0xFFFFFFFF):
        raise ValueError("PNG chunk b'IHDR' CRC mismatch")
    width, height, depth, ctype_i, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", data
    )
    if (depth, ctype_i, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            "unsupported PNG subset: need 8-bit truecolor non-interlaced, "
            f"got depth={depth} color={ctype_i} interlace={interlace}"
        )
    if width <= 0 or height <= 0 or width * height > 1 << 28:
        raise ValueError(f"PNG dimensions out of range: {width}x{height}")
    return {
        "format": "png",
        "width": width,
        "height": height,
        "n_components": 3,
        "quality_est": None,
    }


def ppm_header_scan(payload: bytes) -> dict:
    """HEADER-ONLY PPM triage: the P6 header grammar + raster length
    check (arithmetic on len(payload), no raster read) — same rejects
    as :func:`decode_ppm`."""
    width, height, _maxval, _pixels = decode_ppm(payload)
    return {
        "format": "ppm",
        "width": width,
        "height": height,
        "n_components": 3,
        "quality_est": None,
    }


def image_header_scan(payload: bytes) -> dict:
    """Magic-byte dispatch over the three real image codecs: returns
    ``format/width/height/n_components/quality_est`` (quality only for
    JPEG — the DQT inversion; None elsewhere) at header cost. Raises
    ValueError on unknown magic or any per-format malformation."""
    if payload[:2] == b"P6":
        return ppm_header_scan(payload)
    if payload[:8] == PNG_SIG:
        return png_header_scan(payload)
    if payload[:2] == b"\xff\xd8":
        meta = jpeg_header_scan(payload)
        return {
            "format": "jpeg",
            "width": meta["width"],
            "height": meta["height"],
            "n_components": meta["n_components"],
            "quality_est": meta["quality_est"],
        }
    raise ValueError("unknown image magic (supported: PPM/PNG/JPEG)")


IMAGE_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_components", T.IntegerType()),
        T.StructField("quality_est", T.DoubleType()),
    ]
)


def mixed_image_assets_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a HETEROGENEOUS image corpus — the realistic crawl
    shape: one asset per document whose codec rotates by ``doc_id % 3``
    (0 → PPM, 1 → PNG, 2 → JPEG), each with its standard fixture
    geometry (PPM/PNG 16×(doc_id%4+1) digest rasters; JPEG 125×
    (8*(doc_id%2+1)-3) DC-exact columns), so a SQL oracle replays every
    triage field from (doc_id, text) alone."""

    def encode(d: int, text: str) -> bytes:
        if d % 3 == 2:
            return _jpeg_fixture(d, text)
        return _digest_image(encode_ppm if d % 3 == 0 else encode_png, text, 16, d)

    return _encode_assets(documents, ("doc_id", "text"), "image", encode)


def image_header_triage(assets: DataFrame) -> DataFrame:
    """Arrow-batched dispatching triage over a mixed-format image
    column: the pre-decode filter row (:func:`image_header_scan` per
    asset — format/dims/components/quality, no decode)."""
    return _map_rows(assets, ("asset_id", "payload"), image_header_scan, IMAGE_HEADER_SCHEMA)
