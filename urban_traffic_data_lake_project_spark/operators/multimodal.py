"""Multimodal column plumbing (BASELINE.json north star): image/audio/video
as opaque ``binary`` payloads + typed metadata, processed by Arrow-batched
``mapInPandas`` stages.

Decode depth, no imaging libraries needed:
- header metadata (``parse_media_header``): REAL byte-level parsing for
  PNG / JPEG / GIF / BMP / WAV;
- PNG PIXELS (``png_decode_gray`` / ``decode_png_pixels``): REAL zlib
  inflate + scanline unfilter (all five filter types), plus an encoder
  (``png_encode_gray``) producing spec-valid CRC'd PNGs — so the round
  trip is oracle-checkable down to the pixel checksum and 8x8 aHash;
- everything else (mp4, payloads no header parser recognises): a
  deterministic fake header decode (``_decode_stub``) standing in for
  PIL/ffmpeg, keeping batch shapes and schema contracts production-real.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),     # image | audio | video
        StructField("format", StringType()),          # png | wav | mp4 | ...
        StructField("byte_len", LongType()),
        StructField("width", IntegerType()),          # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),    # audio/video
    ]
)


def ingest_binary(df: DataFrame, id_col: str, payload_col: str, media_type: str, fmt: str) -> DataFrame:
    """Wrap raw binary payloads in the typed media schema (metadata that
    needs decoding stays NULL until the decode stage fills it)."""
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.col(payload_col).cast("binary").alias("payload"),
        F.lit(media_type).alias("media_type"),
        F.lit(fmt).alias("format"),
        F.length(F.col(payload_col).cast("binary")).cast("long").alias("byte_len"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )


def parse_media_header(payload: bytes) -> dict | None:
    """REAL byte-level header decode for PNG / GIF / BMP / WAV — pure
    Python, no imaging libraries. Returns width/height (images) or
    duration_ms (audio), or None when the payload matches no known magic.

    Formats are sniffed from the bytes, not trusted from the ``format``
    column — a mislabeled payload decodes by what it actually is.
    """
    b = payload or b""
    # PNG: 8-byte signature, IHDR chunk fixed at offset 8 (length + type),
    # width/height big-endian at 16/20
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        return {
            "width": int.from_bytes(b[16:20], "big"),
            "height": int.from_bytes(b[20:24], "big"),
            "duration_ms": None,
        }
    # GIF87a / GIF89a: logical screen size little-endian at 6/8
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return {
            "width": int.from_bytes(b[6:8], "little"),
            "height": int.from_bytes(b[8:10], "little"),
            "duration_ms": None,
        }
    # BMP: BITMAPINFOHEADER width/height little-endian signed at 18/22
    # (negative height = top-down rows)
    if len(b) >= 26 and b[:2] == b"BM":
        return {
            "width": int.from_bytes(b[18:22], "little", signed=True),
            "height": abs(int.from_bytes(b[22:26], "little", signed=True)),
            "duration_ms": None,
        }
    # JPEG: SOI then marker segments; dimensions live in the first SOF
    # frame header (C0-CF except C4/C8/CC): precision(1), height(2 BE),
    # width(2 BE) after the segment length
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        off = 2
        while off + 4 <= len(b) and b[off] == 0xFF:
            marker = b[off + 1]
            if marker == 0xD8 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
                off += 2  # standalone markers carry no segment
                continue
            seg_len = int.from_bytes(b[off + 2 : off + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if off + 9 <= len(b):
                    return {
                        "width": int.from_bytes(b[off + 7 : off + 9], "big"),
                        "height": int.from_bytes(b[off + 5 : off + 7], "big"),
                        "duration_ms": None,
                    }
                break
            off += 2 + seg_len
    # WAV: RIFF container — walk chunks for fmt (byte rate) and data (size)
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        byte_rate = data_size = None
        off = 12
        while off + 8 <= len(b):
            cid = b[off : off + 4]
            csize = int.from_bytes(b[off + 4 : off + 8], "little")
            if cid == b"fmt " and off + 20 <= len(b):
                byte_rate = int.from_bytes(b[off + 16 : off + 20], "little")
            elif cid == b"data":
                data_size = csize
            off += 8 + csize + (csize & 1)  # chunks are word-aligned
        if byte_rate and data_size is not None:
            return {
                "width": None,
                "height": None,
                "duration_ms": round(data_size * 1000 / byte_rate),
            }
    return None


def _decode_stub(payload: bytes, media_type: str) -> dict:
    """Deterministic fake decode for formats without a real parser here
    (jpeg, mp4, ...): metadata derived from the payload hash. A production
    build swaps this for PIL/ffmpeg inside the same batch loop."""
    h = hashlib.md5(payload or b"").digest()
    return {
        "width": 16 + h[0] % 64,
        "height": 16 + h[1] % 64,
        "duration_ms": int.from_bytes(h[2:4], "big") if media_type != "image" else None,
    }


def decode_metadata(df: DataFrame) -> DataFrame:
    """Fill width/height/duration in one Arrow-batched pass, schema
    unchanged: REAL header parsing for PNG/GIF/BMP/WAV payloads
    (``parse_media_header``), deterministic stub for everything else."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                parse_media_header(p) or _decode_stub(p, t)
                for p, t in zip(pdf["payload"], pdf["media_type"])
            ]
            pdf = pdf.copy()
            pdf["width"] = pd.array([m["width"] for m in metas], dtype="Int32")
            pdf["height"] = pd.array([m["height"] for m in metas], dtype="Int32")
            pdf["duration_ms"] = pd.array(
                [m["duration_ms"] for m in metas], dtype="Int32"
            )
            yield pdf

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


BLOCK_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("block", IntegerType()),
        StructField("feat", DoubleType()),
    ]
)


def pixel_block_features(df: DataFrame, grid_h: int = 4, grid_w: int = 4) -> DataFrame:
    """REAL content-derived feature extraction (the r11 stub retired): each
    PNG payload is decoded (inflate + unfilter via ``png_decode_gray``) and
    reduced to a ``grid_h x grid_w`` grid of mean block intensities in
    [0, 1] — the classic tiny-thumbnail visual descriptor, emitted
    LONG-form (media_id, block, feat) so an engine-agnostic oracle can
    replay it arithmetically from the pixel formula. Blocks partition the
    image by integer boundaries (``r*h//grid_h``), so any image size maps
    onto the fixed-dim grid. Undecodable payloads are dropped (quarantine
    sink in production). One Arrow pass, embarrassingly parallel — at
    100 TB this is a decode-bound map stage, no shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height", "block", "feat")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = png_decode_gray(payload)
                if dec is None:
                    continue
                w, h, gray = dec
                for br in range(grid_h):
                    r0, r1 = br * h // grid_h, (br + 1) * h // grid_h
                    for bc in range(grid_w):
                        c0, c1 = bc * w // grid_w, (bc + 1) * w // grid_w
                        block = gray[r0:r1, c0:c1]
                        if block.size == 0:
                            continue
                        out["media_id"].append(mid)
                        out["width"].append(w)
                        out["height"].append(h)
                        out["block"].append(br * grid_w + bc)
                        # sum/size in float64 then /255 — the same op order
                        # an avg-based SQL replay computes
                        out["feat"].append(
                            float(block.astype(np.float64).sum() / block.size / 255.0)
                        )
            if out["media_id"]:
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=BLOCK_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# REAL PNG pixel codec — no imaging libraries: zlib + byte arithmetic.
# Supports 8-bit grayscale (color type 0) and truecolor (2), scanline
# filters 0-4 (None/Sub/Up/Average/Paeth) per the PNG spec.
# ---------------------------------------------------------------------------
import zlib


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        len(payload).to_bytes(4, "big")
        + ctype
        + payload
        + zlib.crc32(ctype + payload).to_bytes(4, "big")
    )


def png_encode_gray(pix: "np.ndarray") -> bytes:
    """Encode an (h, w) uint8 grayscale array as a real, spec-valid PNG.
    Each scanline uses filter type ``row % 5`` so a round trip exercises
    every unfilter path (None/Sub/Up/Average/Paeth), and CRCs are real."""
    pix = np.asarray(pix, dtype=np.uint8)
    h, w = pix.shape
    raw = bytearray()
    prev = np.zeros(w, dtype=np.int32)
    for r in range(h):
        row = pix[r].astype(np.int32)
        ftype = r % 5
        raw.append(ftype)
        if ftype == 0:  # None
            out = row
        elif ftype == 1:  # Sub: x - left
            out = np.empty(w, dtype=np.int32)
            out[0] = row[0]
            out[1:] = row[1:] - row[:-1]
        elif ftype == 2:  # Up: x - up
            out = row - prev
        elif ftype == 3:  # Average: x - (left + up) // 2
            out = np.empty(w, dtype=np.int32)
            out[0] = row[0] - prev[0] // 2
            out[1:] = row[1:] - (row[:-1] + prev[1:]) // 2
        else:  # Paeth
            out = np.empty(w, dtype=np.int32)
            out[0] = row[0] - _paeth(0, int(prev[0]), 0)
            for c in range(1, w):
                out[c] = row[c] - _paeth(int(row[c - 1]), int(prev[c]), int(prev[c - 1]))
        raw.extend((out % 256).astype(np.uint8).tobytes())
        prev = row
    ihdr = (
        w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + bytes([8, 0, 0, 0, 0])  # bit depth 8, gray, deflate, adaptive, no interlace
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def png_decode_gray(payload: bytes) -> tuple[int, int, "np.ndarray"] | None:
    """REAL PNG decode: chunk walk -> zlib inflate -> per-scanline
    unfilter (all five filter types) -> (width, height, uint8 gray array).
    Truecolor (type 2) collapses to integer luma (r+g+b)//3; unsupported
    layouts (palette, alpha, 16-bit, interlaced) return None."""
    b = payload or b""
    if len(b) < 33 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    off, w = 8, None
    idat = bytearray()
    while off + 8 <= len(b):
        clen = int.from_bytes(b[off : off + 4], "big")
        ctype = b[off + 4 : off + 8]
        data = b[off + 8 : off + 8 + clen]
        if ctype == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, color, interlace = data[8], data[9], data[12]
            if depth != 8 or color not in (0, 2) or interlace != 0:
                return None
            nch = 1 if color == 0 else 3
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
        off += 12 + clen
    if w is None or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * nch
    if len(raw) < h * (stride + 1):
        return None
    img = np.zeros((h, stride), dtype=np.int32)
    pos = 0
    for r in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1).astype(np.int32)
        pos += 1 + stride
        prev = img[r - 1] if r > 0 else np.zeros(stride, dtype=np.int32)
        if ftype == 0:
            img[r] = line
        elif ftype == 1:
            for c in range(stride):
                left = img[r, c - nch] if c >= nch else 0
                img[r, c] = (line[c] + left) % 256
        elif ftype == 2:
            img[r] = (line + prev) % 256
        elif ftype == 3:
            for c in range(stride):
                left = img[r, c - nch] if c >= nch else 0
                img[r, c] = (line[c] + (left + prev[c]) // 2) % 256
        elif ftype == 4:
            for c in range(stride):
                left = img[r, c - nch] if c >= nch else 0
                ul = img[r - 1, c - nch] if (c >= nch and r > 0) else 0
                img[r, c] = (line[c] + _paeth(int(left), int(prev[c]), int(ul))) % 256
        else:
            return None
    if nch == 3:
        img = (img[:, 0::3] + img[:, 1::3] + img[:, 2::3]) // 3
    return w, h, img.astype(np.uint8)


def ahash64(gray: "np.ndarray") -> int:
    """8x8 average hash of a gray image already at (or resampled to) 8x8:
    bit i (row-major) is set when pixel i > mean; packed into a SIGNED
    64-bit int (bit 63 contributes -2^63, i.e. the two's-complement view —
    the form both Spark BIGINT and the oracle's HUGEINT-then-cast use).
    Images larger than 8x8 are block-mean downsampled first (sizes must be
    multiples of 8 — the deterministic stand-in for area resampling)."""
    h, w = gray.shape
    if (h, w) != (8, 8):
        if h % 8 or w % 8:
            raise ValueError(f"ahash64 requires 8-divisible dims, got {h}x{w}")
        gray = gray.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    flat = gray.astype(np.float64).ravel()
    mean = flat.sum() / flat.size
    raw = 0
    for i, v in enumerate(flat):
        if v > mean:
            raw |= 1 << i
    return raw - (1 << 64) if raw >= (1 << 63) else raw


PIXEL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixels", ArrayType(IntegerType())),
        StructField("pix_sum", LongType()),
        StructField("ahash", LongType()),
    ]
)


def encode_png_images(df: DataFrame, id_col: str, pixels_col: str, width_col: str, height_col: str) -> DataFrame:
    """Arrow-batched REAL PNG encode: (id, flat pixel array, w, h) ->
    media rows with genuine zlib-compressed, CRC-valid PNG payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                png_encode_gray(np.asarray(px, dtype=np.uint8).reshape(h, w))
                for px, w, h in zip(pdf[pixels_col], pdf[width_col], pdf[height_col])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "media_type": "image",
                    "format": "png",
                    "byte_len": [len(p) for p in payloads],
                    "width": pd.array(pdf[width_col], dtype="Int32"),
                    "height": pd.array(pdf[height_col], dtype="Int32"),
                    "duration_ms": pd.array([None] * len(pdf), dtype="Int32"),
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_png_pixels(df: DataFrame) -> DataFrame:
    """REAL pixel decode stage (the round-2 stub retired): inflate +
    unfilter every PNG payload in Arrow batches and emit (media_id, width,
    height, pixels row-major, pix_sum, ahash). Non-PNG / unsupported
    payloads are dropped (a production pipeline would route them to a
    quarantine sink). Embarrassingly parallel; CPU cost is per-byte
    decode, so feed it through ``spread_to_parallelism``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height", "pixels", "pix_sum", "ahash")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = png_decode_gray(payload)
                if dec is None:
                    continue
                w, h, gray = dec
                flat = gray.ravel()
                out["media_id"].append(mid)
                out["width"].append(w)
                out["height"].append(h)
                out["pixels"].append(flat.astype("int32"))
                out["pix_sum"].append(int(flat.astype(np.int64).sum()))
                out["ahash"].append(ahash64(gray))
            if out["media_id"]:  # empty pd.DataFrame columns are untyped -> Arrow errors
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=PIXEL_SCHEMA)


def _dct_matrix(size: int) -> "np.ndarray":
    """Orthonormal DCT-II matrix (the JPEG basis at size 8): D[k,n] =
    a_k · cos(π(2n+1)k/(2·size)). Precomputed once per process; float64,
    so the coefficient arithmetic is deterministic across hosts."""
    n = np.arange(size)
    D = np.cos(np.pi * (2 * n[None, :] + 1) * n[:, None] / (2.0 * size))
    D[0] *= np.sqrt(1.0 / size)
    D[1:] *= np.sqrt(2.0 / size)
    return D


_DCT8 = _dct_matrix(8)
def phash_weight_table() -> list[list[tuple[int, float]]]:
    """Flattened DCT weight table: entry c (row-major coefficient index,
    0..63) lists (pixel_index, weight) with weight = D[k,m]·D[l,n]
    multiplied in PYTHON float64 — the single source of truth both the
    Spark expression form and the DuckDB oracle SQL are generated from,
    so the two engines evaluate bit-identical left-associated arithmetic
    (same literals, same order) and even the > / median comparisons at
    tie boundaries resolve identically."""
    out = []
    for k in range(8):
        for ll in range(8):
            terms = []
            for m in range(8):
                for n_ in range(8):
                    terms.append((m * 8 + n_, float(_DCT8[k, m] * _DCT8[ll, n_])))
            out.append(terms)
    return out


def with_phash_expr(df: DataFrame, px_col: str, out_col: str = "phash") -> DataFrame:
    """pHash as PURE CATALYST expressions over an already-decoded pixel
    array (row-major 8×8) — the strict-oracle path, bit-for-bit
    replayable in ANSI SQL.

    The 63×64 DCT weight matrix rides a broadcast 1-row spec table (the
    ADC-LUT-as-broadcast-column idiom), NOT generated code: a first cut
    unrolled the 4,032 literal multiply-adds into one Project and
    janino's processNext() blew the 64 KB method limit under
    ``codegen.fallback=false``. As higher-order-function loops over data
    the generated code is constant-size whatever the matrix, and the
    fold order (``aggregate``: ((0+t1)+t2)+…) matches DuckDB's
    sequential ``list_sum`` exactly, so both engines compute
    bit-identical doubles and every >-vs-median tie resolves the same
    way. The bit PACK (exact integer math on already-agreed bits) needs
    no cross-engine order pinning: Spark uses a Horner fold per 32-bit
    half (shiftleft takes only literal counts; a single Σbit·2^c Horner
    chain would overflow ANSI long arithmetic at bit 63), the oracle
    sums HUGEINT shifts."""
    spark = df.sparkSession
    wmat = [[w for _, w in terms] for terms in phash_weight_table()[1:]]
    spec = spark.createDataFrame([(wmat,)], "__pw array<array<double>>")
    px = F.col(px_col)
    coeffs = F.transform(
        F.sequence(F.lit(1), F.lit(63)),
        lambda c: F.aggregate(
            F.zip_with(px, F.element_at(F.col("__pw"), c), lambda p, w: p * w),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    out = (
        df.crossJoin(F.broadcast(spec))
        .withColumn("__pc", coeffs)
        .withColumn("__pmed", F.element_at(F.array_sort("__pc"), 32))
    )

    def bit(c):
        return (
            F.when(F.element_at(F.col("__pc"), c) > F.col("__pmed"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )

    def horner(hi, lo):
        # Σ_{c=lo..hi} bit_c·2^(c-lo) without per-c shift literals: fold
        # descending, acc*2 + bit — max < 2^32, safe under ANSI longs
        return F.aggregate(
            F.sequence(F.lit(hi), F.lit(lo), F.lit(-1)),
            F.lit(0).cast("long"),
            lambda a, c: a * F.lit(2).cast("long") + bit(c),
        )

    raw = F.shiftleft(horner(63, 32), 32).bitwiseOR(F.shiftleft(horner(31, 1), 1))
    return out.withColumn(out_col, raw).drop("__pw", "__pc", "__pmed")


# ---------------------------------------------------------------------------
# REAL WAV PCM16 codec — the audio analogue of the PNG pixel codec: a
# spec-valid RIFF/WAVE writer (fmt + an odd-sized LIST chunk, so the
# decoder's word-aligned chunk walk is actually exercised + data) and a
# chunk-walking reader that validates the fmt contract (PCM, mono,
# 16-bit LE) before lifting samples. Whole-clip features (RMS energy,
# peak amplitude, zero-crossing count) come out of the same Arrow pass;
# frame-level analytics stay Catalyst-side over the samples array.
# Stands in for the librosa/ffmpeg stage of a production audio pipeline
# (reference ships no audio path; net-new per the LLM-pipeline brief).
# ---------------------------------------------------------------------------
_WAV_LIST_INFO = b"INFOx"  # deliberately odd-sized LIST payload (pad byte)


def wav_encode_pcm16(samples: "np.ndarray", sample_rate: int) -> bytes:
    """Encode an int16 sample vector as a real RIFF/WAVE file: PCM
    (format 1), mono, 16-bit little-endian, with an odd-length LIST
    chunk between fmt and data so round trips cover chunk padding."""
    s = np.asarray(samples, dtype="<i2")
    data = s.tobytes()
    byte_rate = sample_rate * 2
    fmt = (
        (1).to_bytes(2, "little")           # PCM
        + (1).to_bytes(2, "little")         # mono
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little")         # block align
        + (16).to_bytes(2, "little")        # bits/sample
    )
    lst = _WAV_LIST_INFO
    body = (
        b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"LIST" + len(lst).to_bytes(4, "little") + lst + (b"\x00" if len(lst) & 1 else b"")
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def wav_decode_pcm16(payload: bytes) -> tuple[int, "np.ndarray"] | None:
    """REAL WAV decode: RIFF chunk walk (word-aligned) -> validate the
    fmt contract (PCM / mono / 16-bit) -> int16 sample vector. Returns
    (sample_rate, samples) or None for anything that isn't a conforming
    PCM16 mono WAV."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    rate = None
    data = None
    off = 12
    while off + 8 <= len(b):
        cid = b[off : off + 4]
        csize = int.from_bytes(b[off + 4 : off + 8], "little")
        chunk = b[off + 8 : off + 8 + csize]
        if cid == b"fmt " and csize >= 16:
            audio_format = int.from_bytes(chunk[0:2], "little")
            channels = int.from_bytes(chunk[2:4], "little")
            rate = int.from_bytes(chunk[4:8], "little")
            bits = int.from_bytes(chunk[14:16], "little")
            if audio_format != 1 or channels != 1 or bits != 16:
                return None
        elif cid == b"data":
            data = chunk
        off += 8 + csize + (csize & 1)  # chunks are word-aligned
    if rate is None or data is None or len(data) % 2:
        return None
    return rate, np.frombuffer(data, dtype="<i2")


AUDIO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("samples", ArrayType(IntegerType())),
        StructField("rms", StructType().add("num", LongType()).add("den", LongType())),
        StructField("peak", IntegerType()),
        StructField("zero_cross", IntegerType()),
    ]
)


def encode_wav_audio(df: DataFrame, id_col: str, samples_col: str, rate_col: str) -> DataFrame:
    """Arrow-batched REAL WAV encode: (id, int16 sample array, rate) ->
    media rows with genuine RIFF/WAVE payloads (MEDIA_SCHEMA)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                wav_encode_pcm16(np.asarray(s, dtype=np.int16), int(r))
                for s, r in zip(pdf[samples_col], pdf[rate_col])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "media_type": "audio",
                    "format": "wav",
                    "byte_len": [len(p) for p in payloads],
                    "width": pd.array([None] * len(pdf), dtype="Int32"),
                    "height": pd.array([None] * len(pdf), dtype="Int32"),
                    "duration_ms": pd.array(
                        [len(np.asarray(s)) * 1000 // int(r) for s, r in zip(pdf[samples_col], pdf[rate_col])],
                        dtype="Int32",
                    ),
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_wav_audio(df: DataFrame) -> DataFrame:
    """REAL audio decode stage: chunk-walk every WAV payload in Arrow
    batches and emit (media_id, sample_rate, n_samples, duration_ms,
    samples, rms{num,den}, peak, zero_cross). RMS is carried as the EXACT
    integer pair (sum of squares, n) so downstream projections — not
    float ops inside the UDF — decide rounding; that keeps the oracle
    comparison bit-deterministic. Non-conforming payloads are dropped
    (quarantine-sink routing in production). Embarrassingly parallel:
    feed through ``spread_to_parallelism``."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                k: []
                for k in (
                    "media_id", "sample_rate", "n_samples", "duration_ms",
                    "samples", "rms", "peak", "zero_cross",
                )
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                dec = wav_decode_pcm16(payload)
                if dec is None:
                    continue
                rate, s = dec
                s64 = s.astype(np.int64)
                n = len(s)
                out["media_id"].append(mid)
                out["sample_rate"].append(rate)
                out["n_samples"].append(n)
                out["duration_ms"].append(n * 1000 // rate if rate else None)
                out["samples"].append(s.astype("int32"))
                out["rms"].append({"num": int(np.sum(s64 * s64)), "den": n})
                out["peak"].append(int(np.max(np.abs(s64))) if n else 0)
                out["zero_cross"].append(int(np.sum(s64[1:] * s64[:-1] < 0)) if n > 1 else 0)
            if out["media_id"]:  # empty pd.DataFrame columns are untyped -> Arrow errors
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=AUDIO_SCHEMA)


# ---------------------------------------------------------------------------
# REAL GIF frame walk — the animation/video analogue of the PNG/WAV
# codecs: a structurally valid GIF89a writer (logical screen descriptor,
# per-frame Graphic Control Extension carrying the REAL delay, image
# descriptor, LZW sub-blocks) and a block-walking reader that recovers
# frame count and per-frame delays from the bytes. Pixel LZW payloads are
# opaque here (the frame index needs timing, not pixels) — the walk itself
# (extension labels, sub-block chains, trailer) is the real thing.
# ---------------------------------------------------------------------------
def gif_encode_frames(delays_cs: list, width: int = 8, height: int = 8) -> bytes:
    """Encode a structurally valid animated GIF89a with one frame per
    entry of ``delays_cs`` (delay in 1/100 s, as the wire format stores
    it). No global/local color tables; minimal opaque LZW sub-blocks."""
    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out += bytes([0x00, 0x00, 0x00])  # packed (no GCT), bg index, aspect
    for d in delays_cs:
        # Graphic Control Extension: introducer, label, block size 4,
        # packed flags, delay LE16, transparent index, terminator
        out += bytes([0x21, 0xF9, 0x04, 0x00]) + int(d).to_bytes(2, "little") + bytes([0x00, 0x00])
        # Image descriptor at (0,0) full size, no local color table
        out += bytes([0x2C]) + b"\x00\x00\x00\x00"
        out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
        out += bytes([0x00])
        out += bytes([0x02])            # LZW minimum code size
        out += bytes([0x01, 0x44])      # one 1-byte data sub-block
        out += bytes([0x00])            # sub-block terminator
    out += bytes([0x3B])                # trailer
    return bytes(out)


def gif_parse_frames(payload: bytes) -> list | None:
    """REAL GIF block walk: skip the logical screen descriptor (+ global
    color table if flagged), then traverse extensions and image
    descriptors, pairing each frame with the delay from the preceding
    Graphic Control Extension (0 when absent — the GIF87a case). Returns
    the per-frame delay list in centiseconds, or None for non-GIFs /
    truncated structures."""
    b = payload or b""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    packed = b[10]
    off = 13
    if packed & 0x80:  # global color table: 3 * 2^(N+1) bytes
        off += 3 * (2 << (packed & 0x07))
    delays: list[int] = []
    pending = 0
    while off < len(b):
        intro = b[off]
        if intro == 0x3B:  # trailer
            return delays
        if intro == 0x21:  # extension: label + sub-block chain
            if off + 2 > len(b):
                return None
            label = b[off + 1]
            off += 2
            if label == 0xF9 and off + 5 <= len(b) and b[off] == 0x04:
                pending = int.from_bytes(b[off + 2 : off + 4], "little")
            while off < len(b) and b[off] != 0:
                off += 1 + b[off]
            off += 1
        elif intro == 0x2C:  # image descriptor
            if off + 10 > len(b):
                return None
            ipacked = b[off + 9]
            off += 10
            if ipacked & 0x80:  # local color table
                off += 3 * (2 << (ipacked & 0x07))
            off += 1  # LZW minimum code size
            while off < len(b) and b[off] != 0:
                off += 1 + b[off]
            off += 1
            delays.append(pending)
            pending = 0
        else:
            return None  # unknown introducer: corrupt structure
    return None  # ran off the end without a trailer


GIF_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("delay_cs", IntegerType()),
        StructField("offset_ms", IntegerType()),
    ]
)


def encode_gif_animations(df: DataFrame, id_col: str, delays_col: str) -> DataFrame:
    """Arrow-batched GIF89a encode: (id, delay_cs array) -> media rows
    with real animated-GIF payloads; duration_ms = total delay."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [gif_encode_frames([int(d) for d in ds]) for ds in pdf[delays_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "media_type": "video",
                    "format": "gif",
                    "byte_len": [len(p) for p in payloads],
                    "width": pd.array([8] * len(pdf), dtype="Int32"),
                    "height": pd.array([8] * len(pdf), dtype="Int32"),
                    "duration_ms": pd.array(
                        [sum(int(d) for d in ds) * 10 for ds in pdf[delays_col]], dtype="Int32"
                    ),
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_gif_frames(df: DataFrame) -> DataFrame:
    """REAL frame-index decode: walk every GIF payload's block structure
    and emit one row per frame with its wire delay and cumulative start
    offset. Non-GIF payloads are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "delay_cs", "offset_ms")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                delays = gif_parse_frames(payload)
                if delays is None:
                    continue
                t = 0
                for i, d in enumerate(delays):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["delay_cs"].append(d)
                    out["offset_ms"].append(t)
                    t += d * 10
            if out["media_id"]:
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=GIF_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# REAL AVI container walk — the true VIDEO-container member of the codec
# family (PNG=image, WAV=audio, GIF=animation, AVI=video). A structurally
# valid RIFF/AVI writer (hdrl with avih + vids strl, movi chunk stream,
# idx1 index) and a nested-LIST chunk walker that recovers the timing
# contract (us_per_frame), dimensions, and the per-frame byte sizes from
# the movi stream itself — cross-checked against idx1. Codec payloads
# inside '00dc' chunks are opaque (decoding compressed frames needs
# ffmpeg, out of scope by the environment contract); the CONTAINER walk —
# word-aligned chunks, nested LISTs, index validation — is the real
# thing, which is what frame-sampling a 100 TB video corpus needs first.
# ---------------------------------------------------------------------------
def _riff_chunk(cid: bytes, payload: bytes) -> bytes:
    return cid + len(payload).to_bytes(4, "little") + payload + (b"\x00" if len(payload) & 1 else b"")


def avi_encode(frame_sizes: list, width: int = 16, height: int = 12, us_per_frame: int = 40000) -> bytes:
    """Encode a structurally valid AVI: one '00dc' video chunk per entry
    of ``frame_sizes`` (deterministic filler bytes), fixed frame timing.
    rate/scale are reduced from us_per_frame (rate=1e6, scale=us)."""
    n = len(frame_sizes)
    avih = (
        int(us_per_frame).to_bytes(4, "little")
        + (0).to_bytes(4, "little")  # max bytes/sec (unused)
        + (0).to_bytes(4, "little")  # padding granularity
        + (0x10).to_bytes(4, "little")  # AVIF_HASINDEX
        + n.to_bytes(4, "little")
        + (0).to_bytes(4, "little")  # initial frames
        + (1).to_bytes(4, "little")  # streams
        + (0).to_bytes(4, "little")  # suggested buffer
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + b"\x00" * 16
    )
    strh = (
        b"vids" + b"RAW " + (0).to_bytes(4, "little")
        + (0).to_bytes(2, "little") + (0).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + int(us_per_frame).to_bytes(4, "little")   # scale
        + (1_000_000).to_bytes(4, "little")          # rate (frames/s = rate/scale)
        + (0).to_bytes(4, "little")
        + n.to_bytes(4, "little")                    # length in frames
        + (0).to_bytes(4, "little") + (0).to_bytes(4, "little")
        + (0).to_bytes(4, "little") + (0).to_bytes(8, "little")
    )
    strf = (
        (40).to_bytes(4, "little") + width.to_bytes(4, "little") + height.to_bytes(4, "little")
        + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + b"RAW " + (width * height).to_bytes(4, "little") + b"\x00" * 16
    )
    strl = b"strl" + _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)
    hdrl = b"hdrl" + _riff_chunk(b"avih", avih) + _riff_chunk(b"LIST", strl)
    movi = bytearray(b"movi")
    idx1 = bytearray()
    for i, sz in enumerate(frame_sizes):
        sz = int(sz)
        frame = bytes(((i * 7 + j) % 251) for j in range(sz))
        # idx1 offsets are relative to the 'movi' fourcc position
        idx1 += b"00dc" + (0x10).to_bytes(4, "little") + len(movi).to_bytes(4, "little") + sz.to_bytes(4, "little")
        movi += _riff_chunk(b"00dc", frame)
    body = (
        b"AVI "
        + _riff_chunk(b"LIST", hdrl)
        + _riff_chunk(b"LIST", bytes(movi))
        + _riff_chunk(b"idx1", bytes(idx1))
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def avi_parse(payload: bytes) -> dict | None:
    """REAL AVI container walk: nested word-aligned RIFF LISTs -> avih
    timing/dimensions, vids strh, per-frame sizes from the movi chunk
    stream, idx1 cross-check. Returns {'us_per_frame', 'width',
    'height', 'n_frames', 'frame_sizes'} or None for anything that is
    not a structurally conforming AVI (truncated chunks, frame-count or
    index mismatches included)."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    meta: dict = {}
    frame_sizes: list[int] = []
    idx_sizes: list[int] = []

    def walk(lo: int, hi: int) -> bool:
        off = lo
        while off + 8 <= hi:
            cid = b[off : off + 4]
            csize = int.from_bytes(b[off + 4 : off + 8], "little")
            start, end = off + 8, off + 8 + csize
            if end > hi:
                return False
            if cid == b"LIST":
                if csize < 4:
                    return False
                ltype = b[start : start + 4]
                if ltype in (b"hdrl", b"strl", b"movi"):
                    if not walk(start + 4, end):
                        return False
            elif cid == b"avih" and csize >= 40:
                meta["us_per_frame"] = int.from_bytes(b[start : start + 4], "little")
                meta["n_frames"] = int.from_bytes(b[start + 16 : start + 20], "little")
                meta["width"] = int.from_bytes(b[start + 32 : start + 36], "little")
                meta["height"] = int.from_bytes(b[start + 36 : start + 40], "little")
            elif cid[2:4] in (b"dc", b"db") and cid[:2].isdigit():
                frame_sizes.append(csize)
            elif cid == b"idx1":
                for e in range(start, end - 15, 16):
                    idx_sizes.append(int.from_bytes(b[e + 12 : e + 16], "little"))
            off = end + (csize & 1)
        return off == hi or off >= hi

    if not walk(12, len(b)):
        return None
    if "us_per_frame" not in meta or meta.get("n_frames") != len(frame_sizes):
        return None
    if idx_sizes and idx_sizes != frame_sizes:
        return None  # index disagrees with the stream: corrupt
    meta["frame_sizes"] = frame_sizes
    return meta


AVI_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", IntegerType()),
        StructField("offset_ms", IntegerType()),
    ]
)


def encode_avi_videos(df: DataFrame, id_col: str, sizes_col: str, us_per_frame_col: str) -> DataFrame:
    """Arrow-batched REAL AVI encode: (id, frame-size array, per-frame
    microseconds) -> media rows with genuine RIFF/AVI payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                avi_encode([int(s) for s in sizes], us_per_frame=int(us))
                for sizes, us in zip(pdf[sizes_col], pdf[us_per_frame_col])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "payload": payloads,
                    "media_type": "video",
                    "format": "avi",
                    "byte_len": [len(p) for p in payloads],
                    "width": pd.array([16] * len(pdf), dtype="Int32"),
                    "height": pd.array([12] * len(pdf), dtype="Int32"),
                    "duration_ms": pd.array(
                        [len(s) * int(us) // 1000 for s, us in zip(pdf[sizes_col], pdf[us_per_frame_col])],
                        dtype="Int32",
                    ),
                }
            )

    return df.mapInPandas(run, schema=MEDIA_SCHEMA)


def decode_avi_frames(df: DataFrame) -> DataFrame:
    """REAL frame-index decode: walk every AVI payload's chunk structure
    and emit one row per video frame with its byte size and start offset
    (frame_idx * us_per_frame, integer ms). Non-AVI payloads drop."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("media_id", "frame_idx", "frame_bytes", "offset_ms")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                meta = avi_parse(payload)
                if meta is None:
                    continue
                us = meta["us_per_frame"]
                for i, sz in enumerate(meta["frame_sizes"]):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(sz)
                    out["offset_ms"].append(i * us // 1000)
            if out["media_id"]:
                yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=AVI_FRAME_SCHEMA)
