"""Multimodal operators against REAL binary fixtures (round-2 item:
the operator family had only seen F.encode(text) payloads).

Builds a valid PNG (zlib + struct, stdlib only) and a valid WAV
in-memory, runs the real header decoder and the byte-histogram
feature extractor through the actual mapInPandas plumbing, and
asserts exact known values.
"""

from __future__ import annotations

import struct
import zlib

from syllabus_sense_spark.queries.ext_multimodal import (
    FEATURE_SCHEMA,
    MEDIA_HEADER_SCHEMA,
    byte_histogram_features,
    decode_media_headers,
    parse_media_header,
)


def make_png(width: int, height: int, gray: int = 128) -> bytes:
    """Minimal valid 8-bit grayscale PNG."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes([gray]) * width for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_wav(n_samples: int, rate: int = 8000, n_ch: int = 1) -> bytes:
    """Minimal valid 16-bit PCM WAV with a deterministic ramp."""
    data = b"".join(
        struct.pack("<h", (i * 37) % 32768) for i in range(n_samples * n_ch)
    )
    block_align = n_ch * 2
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * block_align, block_align, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def test_parse_media_header_pure():
    png = parse_media_header(make_png(33, 17))
    assert (png["codec"], png["width"], png["height"], png["bit_depth"],
            png["n_channels"]) == ("png", 33, 17, 8, 1)

    wav = parse_media_header(make_wav(1234, rate=44100, n_ch=2))
    assert (wav["codec"], wav["sample_rate"], wav["n_channels"],
            wav["bit_depth"], wav["n_samples"]) == ("wav", 44100, 2, 16, 1234)

    junk = parse_media_header(b"\x00\x01\x02 definitely not media")
    assert junk["codec"] == "unknown" and junk["width"] is None
    assert parse_media_header(b"")["codec"] == "unknown"


def test_truncated_media_header_stays_unknown():
    """A container cut inside its header (PNG IHDR, WAV fmt chunk)
    raises ``struct.error`` inside the parser, the one error its catch
    takes: the record stays 'unknown' instead of failing the task."""
    for cut in (make_png(8, 8)[:20], make_wav(10)[:30]):
        rec = parse_media_header(cut)
        assert (rec["codec"], rec["width"], rec["sample_rate"]) == ("unknown", None, None)


def test_media_header_decode_distributed(spark):
    rows = [
        (1, bytearray(make_png(64, 48))),
        (2, bytearray(make_wav(500, rate=16000))),
        (3, bytearray(b"not a container")),
    ]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {
        r.media_id: r
        for r in media.mapInPandas(decode_media_headers, MEDIA_HEADER_SCHEMA).collect()
    }
    assert (out[1].codec, out[1].width, out[1].height) == ("png", 64, 48)
    assert (out[2].codec, out[2].sample_rate, out[2].n_samples) == (
        "wav", 16000, 500,
    )
    assert out[3].codec == "unknown" and out[3].width is None


def test_byte_histogram_known_values(spark):
    """bytes(range(256)) → every 16-value bin holds exactly 16 bytes
    (weight 1/16 after L1 norm) and the mean byte is 127.5."""
    media = spark.createDataFrame(
        [(7, bytearray(bytes(range(256))))], "doc_id long, payload binary"
    )
    out = media.mapInPandas(byte_histogram_features, FEATURE_SCHEMA).collect()
    assert len(out) == 1
    row = out[0]
    assert row.mean_byte == 127.5
    assert len(row.features) == 16
    assert all(abs(v - 1 / 16) < 1e-12 for v in row.features)


def test_byte_histogram_on_real_png(spark):
    """The feature extractor runs over an actual PNG blob and the
    histogram is a valid L1-normalized 16-dim vector."""
    payload = make_png(32, 32, gray=200)
    media = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    row = media.mapInPandas(byte_histogram_features, FEATURE_SCHEMA).collect()[0]
    assert abs(sum(row.features) - 1.0) < 1e-12
    assert row.mean_byte > 0
