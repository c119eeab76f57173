"""Multimodal plumbing + scalar function queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_traffic_data_lake_project_spark.operators import multimodal as MM
from urban_traffic_data_lake_project_spark.queries import scalars as qs
from urban_traffic_data_lake_project_spark.sources import load_table


@pytest.mark.parametrize(
    "name", [n for n, spec in sorted(qs.REGISTRY.items()) if spec.oracle]
)
def test_scalar_query_matches_oracle(oracle, name):
    oracle(name)


@pytest.fixture(scope="module")
def media(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return MM.ingest_binary(docs, "doc_id", "payload", "video", "mp4")


def _names_types(schema):
    return [(f.name, f.dataType) for f in schema.fields]


def test_ingest_schema_contract(media):
    assert _names_types(media.schema) == _names_types(MM.MEDIA_SCHEMA)
    row = media.first()
    assert row["byte_len"] == len(row["payload"])
    assert row["media_type"] == "video" and row["format"] == "mp4"


def test_decode_fills_metadata_deterministically(media):
    decoded = MM.decode_metadata(media)
    rows = decoded.orderBy("media_id").limit(5).collect()
    assert all(r["width"] is not None and 16 <= r["width"] < 80 for r in rows)
    rows2 = MM.decode_metadata(media).orderBy("media_id").limit(5).collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in rows2]


def test_random_moments_distribution(spark, sf_dir):
    row = qs.REGISTRY["scalar_random_moments"].fn(spark, sf_dir).first()
    assert abs(row["mean_u"] - 0.5) <= 0.02
    assert abs(row["std_u"] - 0.29) <= 0.02  # 1/sqrt(12) ~ 0.289
    assert abs(row["mean_z"]) <= 0.1 and abs(row["std_z"] - 1.0) <= 0.1
    assert row["n_choices"] == 4


def _real_png(w: int, h: int) -> bytes:
    import struct
    import zlib

    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk))
    )


def _real_wav(byte_rate: int, data_size: int) -> bytes:
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, byte_rate, byte_rate, 1, 8)
    data = b"\x00" * data_size
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", data_size) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_parse_media_header_real_formats():
    import struct

    assert MM.parse_media_header(_real_png(640, 480)) == {
        "width": 640, "height": 480, "duration_ms": None,
    }
    # GIF: little-endian screen size
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert MM.parse_media_header(gif) == {"width": 320, "height": 200, "duration_ms": None}
    # BMP: negative height means top-down — reported as positive
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 1024, -768) + b"\x00" * 10
    assert MM.parse_media_header(bmp) == {"width": 1024, "height": 768, "duration_ms": None}
    # WAV: 2 seconds at 8000 B/s
    assert MM.parse_media_header(_real_wav(8000, 16000)) == {
        "width": None, "height": None, "duration_ms": 2000,
    }
    # unknown magic -> None (decode falls back to the documented stub)
    assert MM.parse_media_header(b"plain text bytes") is None
    assert MM.parse_media_header(b"") is None


def test_decode_metadata_parses_real_payloads(spark):
    rows = [
        (1, _real_png(12, 34), "image", "png"),
        (2, _real_wav(1000, 1500), "audio", "wav"),
        (3, b"not a known format", "image", "jpeg"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, payload binary, media_type string, format string"
    )
    media = df.select(
        "media_id", "payload", "media_type", "format",
        F.length("payload").cast("long").alias("byte_len"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    out = {r["media_id"]: r for r in MM.decode_metadata(media).collect()}
    assert (out[1]["width"], out[1]["height"], out[1]["duration_ms"]) == (12, 34, None)
    assert (out[2]["width"], out[2]["height"], out[2]["duration_ms"]) == (None, None, 1500)
    # unknown format falls back to the deterministic stub (16..79 range)
    assert 16 <= out[3]["width"] < 80 and 16 <= out[3]["height"] < 80


def _real_jpeg(width: int, height: int, with_app0: bool = True) -> bytes:
    import struct

    app0 = b""
    if with_app0:
        body = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        app0 = b"\xff\xe0" + struct.pack(">H", 2 + len(body)) + body
    sof0 = b"\xff\xc0" + struct.pack(">HBHH", 17, 8, height, width) + b"\x00" * 10
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_parse_media_header_jpeg_marker_walk():
    # dimensions come from SOF0 even with an APP0/JFIF segment in front
    # (the real camera-file layout) — the parser must walk markers, not
    # assume SOF at a fixed offset
    assert MM.parse_media_header(_real_jpeg(1920, 1080)) == {
        "width": 1920, "height": 1080, "duration_ms": None,
    }
    assert MM.parse_media_header(_real_jpeg(64, 48, with_app0=False)) == {
        "width": 64, "height": 48, "duration_ms": None,
    }
    # truncated after SOI -> no dimensions -> stub fallback path (None)
    assert MM.parse_media_header(b"\xff\xd8\xff\xe0") is None


def test_png_pixel_codec_roundtrip_all_filters():
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    for h, w in ((8, 8), (16, 8), (24, 16), (1, 5), (6, 1)):
        pix = rng.integers(0, 256, (h, w)).astype(np.uint8)
        out = MM.png_decode_gray(MM.png_encode_gray(pix))
        assert out is not None
        ww, hh, back = out
        assert (ww, hh) == (w, h)
        assert (back == pix).all()


def test_png_decode_handbuilt_filter0_png():
    """Independent of the encoder: a PNG assembled byte-by-byte from the
    spec (filter 0 rows, raw zlib) must decode to exactly its pixels —
    guards against encode/decode bugs that cancel in a round trip."""
    import zlib

    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM

    w, h = 3, 2
    rows = [[10, 20, 30], [200, 150, 100]]
    raw = b"".join(bytes([0]) + bytes(r) for r in rows)
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, 0, 0, 0, 0])

    def chunk(t, p):
        return len(p).to_bytes(4, "big") + t + p + zlib.crc32(t + p).to_bytes(4, "big")

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = MM.png_decode_gray(png)
    assert out is not None and out[:2] == (w, h)
    assert (out[2] == np.array(rows, dtype=np.uint8)).all()
    # unsupported layouts refuse rather than mis-decode
    bad_ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([16, 0, 0, 0, 0])
    bad = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", bad_ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    assert MM.png_decode_gray(bad) is None


def test_ahash_and_hamming_near_dup_pairs(spark):
    import numpy as np

    from urban_traffic_data_lake_project_spark.operators import multimodal as MM
    from urban_traffic_data_lake_project_spark.operators.dedup import (
        hamming_near_dup_pairs,
    )

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (8, 8)).astype(np.uint8)
    near = base.copy()
    near[0, 0], near[0, 1] = near[0, 1], near[0, 0]  # mean-preserving swap
    far = rng.integers(0, 256, (8, 8)).astype(np.uint8)
    h_base, h_near, h_far = MM.ahash64(base), MM.ahash64(near), MM.ahash64(far)
    assert bin((h_base ^ h_near) & ((1 << 64) - 1)).count("1") <= 2

    df = spark.createDataFrame(
        [(1, h_base), (2, h_near), (3, h_far)], "media_id long, ahash long"
    )
    pairs = hamming_near_dup_pairs(df, "media_id", "ahash", max_hamming=3, bands=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # 16x16 block-mean downsample path
    big = np.kron(base, np.ones((2, 2), dtype=np.uint8))
    assert MM.ahash64(big) == h_base


# ---------------------------------------------------------------------------
# WAV PCM16 codec
# ---------------------------------------------------------------------------
def test_wav_codec_roundtrip():
    import numpy as np

    s = np.array([0, 1, -1, 32767, -32768, 12345, -12345], dtype=np.int16)
    payload = MM.wav_encode_pcm16(s, 8000)
    dec = MM.wav_decode_pcm16(payload)
    assert dec is not None
    rate, out = dec
    assert rate == 8000
    assert np.array_equal(out, s)
    # the encoder embeds an odd-sized LIST chunk: a decoder that forgets
    # word alignment would mis-walk and fail here
    assert b"LIST" in payload
    # header metadata parser agrees on the duration (data bytes / byte rate)
    meta = MM.parse_media_header(payload)
    assert meta is not None and meta["duration_ms"] == round(len(s) * 2 * 1000 / 16000)


def test_wav_decode_rejects_nonconforming():
    import numpy as np

    assert MM.wav_decode_pcm16(b"") is None
    assert MM.wav_decode_pcm16(b"RIFF\x00\x00\x00\x00JUNK") is None
    # stereo / non-PCM / 8-bit payloads are rejected by the fmt contract
    good = bytearray(MM.wav_encode_pcm16(np.array([1, 2], dtype=np.int16), 8000))
    fmt_off = good.find(b"fmt ") + 8
    bad = bytearray(good)
    bad[fmt_off + 2] = 2  # channels = 2
    assert MM.wav_decode_pcm16(bytes(bad)) is None
    bad = bytearray(good)
    bad[fmt_off] = 3  # audio format = IEEE float
    assert MM.wav_decode_pcm16(bytes(bad)) is None
    bad = bytearray(good)
    bad[fmt_off + 14] = 8  # bits = 8
    assert MM.wav_decode_pcm16(bytes(bad)) is None


def test_wav_spark_roundtrip_features(spark):
    import math

    import numpy as np

    clips = spark.createDataFrame(
        [
            (1, [100, -100, 100, -100], 8000),   # alternating: 3 zero crossings
            (2, [0, 0, 0, 0, 0, 0, 0, 0], 4000), # silence: rms 0, zc 0
            (3, list(range(-5, 6)), 16000),      # ramp THROUGH zero: no s_i*s_{i-1}<0 pair
        ],
        "media_id long, s array<int>, rate int",
    )
    dec = MM.decode_wav_audio(
        MM.encode_wav_audio(clips, "media_id", "s", "rate")
    ).orderBy("media_id")
    rows = dec.collect()
    assert [r.media_id for r in rows] == [1, 2, 3]
    r1, r2, r3 = rows
    assert r1.zero_cross == 3 and r1.peak == 100
    assert math.isclose(r1.rms.num / r1.rms.den, 10000.0)
    assert r2.rms.num == 0 and r2.zero_cross == 0 and r2.duration_ms == 2
    # the strict product convention (s_i * s_{i-1} < 0) does NOT count a
    # crossing that lands exactly on a zero sample — same as the oracle
    assert r3.zero_cross == 0 and r3.n_samples == 11 and r3.sample_rate == 16000
    assert list(r1.samples) == [100, -100, 100, -100]
    # non-decodable payloads are dropped, not crashed
    junk = spark.createDataFrame(
        [(9, bytearray(b"not a wav"))], "media_id long, payload binary"
    ).withColumns(
        {
            "media_type": F.lit("audio"), "format": F.lit("wav"),
            "byte_len": F.lit(9).cast("long"),
            "width": F.lit(None).cast("int"), "height": F.lit(None).cast("int"),
            "duration_ms": F.lit(None).cast("int"),
        }
    )
    assert MM.decode_wav_audio(junk).count() == 0


def test_gif_codec_roundtrip_and_robustness():
    delays = [5, 0, 123, 65535]
    payload = MM.gif_encode_frames(delays)
    assert MM.gif_parse_frames(payload) == delays
    # the header parser still reads the logical screen size off the bytes
    meta = MM.parse_media_header(payload)
    assert meta is not None and (meta["width"], meta["height"]) == (8, 8)
    # a GIF with a global color table: the walk must skip 3 * 2^(N+1) bytes
    with_gct = bytearray(payload)
    with_gct[10] |= 0x80  # GCT flag, size bits 0 -> 6-byte table
    with_gct[13:13] = bytes(6)
    assert MM.gif_parse_frames(bytes(with_gct)) == delays
    # truncated structure (no trailer) and non-GIFs are rejected
    assert MM.gif_parse_frames(payload[:-1] + b"\x99") is None
    assert MM.gif_parse_frames(payload[:20]) is None
    assert MM.gif_parse_frames(b"not a gif") is None
    # frames without a preceding GCE (GIF87a style) get delay 0
    bare = (
        b"GIF87a" + (8).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + bytes([0, 0, 0])
        + bytes([0x2C]) + bytes(4) + (8).to_bytes(2, "little") + (8).to_bytes(2, "little")
        + bytes([0x00, 0x02, 0x01, 0x44, 0x00, 0x3B])
    )
    assert MM.gif_parse_frames(bare) == [0]


def test_avi_codec_roundtrip_and_robustness():
    """RIFF/AVI round trip: sizes, timing, and dimensions come back out
    of the bytes; truncated payloads, foreign RIFF types, and an idx1
    that disagrees with the movi stream are all rejected."""
    p = MM.avi_encode([20, 33, 7], width=32, height=24, us_per_frame=33333)
    m = MM.avi_parse(p)
    assert m is not None
    assert m["frame_sizes"] == [20, 33, 7]
    assert (m["us_per_frame"], m["n_frames"], m["width"], m["height"]) == (33333, 3, 32, 24)

    # odd-sized frames force word-alignment padding inside movi
    modd = MM.avi_parse(MM.avi_encode([1, 3, 5, 7]))
    assert modd is not None and modd["frame_sizes"] == [1, 3, 5, 7]

    assert MM.avi_parse(p[:40]) is None           # truncated header walk
    assert MM.avi_parse(b"") is None
    assert MM.avi_parse(b"RIFF" + (4).to_bytes(4, "little") + b"WAVE") is None
    assert MM.avi_parse(MM.avi_encode([])) == {
        "us_per_frame": 40000, "n_frames": 0, "width": 16, "height": 12,
        "frame_sizes": [],
    }

    # corrupt the idx1 size of frame 1: index/stream mismatch -> None
    bad = bytearray(p)
    i = bad.rfind(b"00dc")  # last idx1 entry (idx1 is after movi)
    bad[i + 12 : i + 16] = (999).to_bytes(4, "little")
    assert MM.avi_parse(bytes(bad)) is None


def test_avi_spark_roundtrip_frames(spark):
    """Executor-side encode -> decode: per-frame rows carry the real
    chunk sizes and integer-ms offsets (frame_idx * us // 1000)."""
    rows = [(1, [10, 20, 30], 40000), (2, [5], 20000), (3, [], 30000)]
    df = spark.createDataFrame(
        rows, "media_id long, sizes array<int>, us int"
    )
    media = MM.encode_avi_videos(df, "media_id", "sizes", "us")
    out = MM.decode_avi_frames(media).collect()
    got = {(r["media_id"], r["frame_idx"]): (r["frame_bytes"], r["offset_ms"]) for r in out}
    assert got == {
        (1, 0): (10, 0), (1, 1): (20, 40), (1, 2): (30, 80),
        (2, 0): (5, 0),
    }
    # media row metadata: video/avi with computed duration
    meta = {r["media_id"]: r for r in media.collect()}
    assert meta[1]["media_type"] == "video" and meta[1]["format"] == "avi"
    assert meta[1]["duration_ms"] == 120 and meta[3]["duration_ms"] == 0


def test_pixel_block_features_hand_computed(spark):
    """Block-mean features from REAL decoded pixels match hand arithmetic:
    an 8x8 ramp image through encode->decode->4x4 grid must produce
    mean(block)/255 per 2x2 block; a width smaller than the grid drops the
    empty column blocks instead of emitting NaN."""
    import numpy as np

    px8 = list(range(64))  # ramp: pixel i = i
    rows = [(1, px8, 8, 8), (2, [10, 20, 30, 40, 50, 60], 3, 2)]
    df = spark.createDataFrame(rows, "media_id long, px array<int>, w int, h int")
    media = MM.encode_png_images(df, "media_id", "px", "w", "h")
    out = MM.pixel_block_features(media, 4, 4).collect()

    got = {(r["media_id"], r["block"]): r["feat"] for r in out}
    pix = np.arange(64, dtype=np.float64).reshape(8, 8)
    for br in range(4):
        for bc in range(4):
            blk = pix[br * 2 : br * 2 + 2, bc * 2 : bc * 2 + 2]
            assert got[(1, br * 4 + bc)] == blk.mean() / 255.0
    # image 2: w=3 < grid 4 -> column boundaries (0,0,1,2,3): the first
    # column block is empty for every band and must be absent
    img2_blocks = sorted(b for (m, b) in got if m == 2)
    assert all(b % 4 != 0 for b in img2_blocks)
    # h=2 with grid 4 -> row boundaries (0,0,0,1,1,2): bands 1 and 3 are
    # the non-empty ones (rows 0 and 1 respectively)
    assert img2_blocks == [5, 6, 7, 13, 14, 15]
    # spot value: block 5 = row band 1 (row 0) x col band 1 (col 0) -> px 10
    assert got[(2, 5)] == 10 / 255.0
