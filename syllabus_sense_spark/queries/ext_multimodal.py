"""[EXT] Multimodal columns: opaque binary payloads + typed metadata.

The container has no image/audio codecs, so decode is a
deterministic fake behind the real Spark plumbing (BASELINE.json
mandate): binary column → Arrow-batched ``mapInPandas`` → typed
metadata rows. The fake metadata is pure integer math on doc_id and
byte length, so even the UDF path is oracle-checkable — the DuckDB
twin recomputes it relationally.

At scale the binary column rides in parquet alongside the text; the
UDF signature/batching here is exactly what a real decoder (PIL,
ffmpeg) would use via the same iterator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load
from . import register

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("frame_w", T.LongType(), False),
        T.StructField("frame_h", T.LongType(), False),
        T.StructField("n_frames", T.LongType(), False),
    ]
)

_MM_ORACLE = """
SELECT
  doc_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS codec,
  CAST(16 + doc_id % 64 AS BIGINT) AS frame_w,
  CAST(16 + (doc_id * 7) % 64 AS BIGINT) AS frame_h,
  CAST(1 + doc_id % 4 AS BIGINT) AS n_frames
FROM documents
"""


def fake_decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Stand-in decoder: a real implementation would parse
    ``payload`` bytes here (PIL/ffmpeg). Raises on non-bytes input to
    keep the contract honest."""
    for pdf in batches:
        doc_ids = pdf["doc_id"].astype("int64")
        payloads = pdf["payload"]
        if len(payloads) and not isinstance(payloads.iloc[0], (bytes, bytearray)):
            raise NotImplementedError("payload must be a binary column")
        codecs = doc_ids % 3
        yield pd.DataFrame(
            {
                "doc_id": doc_ids,
                "n_bytes": payloads.map(len).astype("int64"),
                "codec": codecs.map({0: "png", 1: "jpeg", 2: "webp"}),
                "frame_w": (16 + doc_ids % 64).astype("int64"),
                "frame_h": (16 + (doc_ids * 7) % 64).astype("int64"),
                "n_frames": (1 + doc_ids % 4).astype("int64"),
            }
        )


@register("multimodal_decode_metadata", _MM_ORACLE)
def multimodal_decode_metadata(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    media = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    return media.mapInPandas(fake_decode, MEDIA_META_SCHEMA)


# --- feature extraction: binary payload → fixed-dim vector ----------------
# A real byte-level feature (16-bin byte histogram, L1-normalized +
# mean byte): genuine computation over the binary column via numpy in
# the Arrow batch — the exact shape a CLIP/mel-spectrogram extractor
# plugs into. Rows-only: DuckDB has no per-byte BLOB access.

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.DoubleType()), False),
        T.StructField("mean_byte", T.DoubleType(), False),
    ]
)


def byte_histogram_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        feats, means = [], []
        for payload in pdf["payload"]:
            arr = np.frombuffer(bytes(payload), dtype=np.uint8)
            if arr.size == 0:
                feats.append([0.0] * 16)
                means.append(0.0)
                continue
            hist = np.bincount(arr >> 4, minlength=16).astype("float64")
            feats.append((hist / hist.sum()).tolist())
            means.append(float(arr.mean()))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "features": feats,
             "mean_byte": means}
        )


BYTE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sum_bytes", T.LongType(), False),
        T.StructField("hist6", T.LongType(), False),
    ]
)


def byte_stats_exact(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Exact-integer sibling of ``byte_histogram_features``: byte
    count, byte-value sum, and the bin-6 (high nibble 0x6_: ASCII
    'a'..'o') histogram count — the same numpy-over-Arrow byte path,
    reduced to integers so the query is oracle-checkable."""
    import numpy as np

    for pdf in batches:
        recs = []
        for did, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(bytes(payload), dtype=np.uint8)
            recs.append(
                (
                    int(did),
                    int(arr.size),
                    int(arr.astype(np.int64).sum()),
                    int((arr >> 4 == 6).sum()),
                )
            )
        yield pd.DataFrame(
            recs, columns=[f.name for f in BYTE_STATS_SCHEMA.fields]
        ).astype({"doc_id": "int64"})


# DuckDB has no per-byte BLOB subscript, but hex(encode(text)) exposes
# every byte as a hex-digit pair — the oracle replays the numpy byte
# math from that string. ppm columns are integer-exact (floor DIV of
# nonnegative ints in both engines).
_FEATURE_ORACLE = """
WITH hx AS (
  SELECT doc_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents WHERE octet_length(encode(text)) > 0
),
b AS (
  SELECT doc_id, n, i.i,
         CAST(('0x' || substr(h, CAST(2 * i.i + 1 AS INT), 2)) AS BIGINT) AS byte
  FROM hx, UNNEST(range(n)) AS i(i)
)
SELECT doc_id,
  CAST(MAX(n) AS BIGINT) AS n_bytes,
  CAST(SUM(byte) AS BIGINT) AS sum_bytes,
  CAST(SUM(byte) * 1000000 // MAX(n) AS BIGINT) AS mean_byte_e6,
  CAST(SUM(CASE WHEN byte // 16 = 6 THEN 1 ELSE 0 END) AS BIGINT) AS hist6,
  CAST(SUM(CASE WHEN byte // 16 = 6 THEN 1 ELSE 0 END) * 1000000 // MAX(n)
       AS BIGINT) AS bin6_ppm
FROM b GROUP BY doc_id
"""


@register("multimodal_feature_extract", _FEATURE_ORACLE)
def multimodal_feature_extract(spark, sf_dir):
    """Byte-level feature extraction over the binary payload — REAL
    numpy math in the Arrow batch (the seam a CLIP/mel extractor plugs
    into; the float-vector tier is ``byte_histogram_features``, law-
    tested), reduced to exact integers so the driver hash-checks the
    byte path end to end. Empty payloads are dropped on both sides."""
    d = load(spark, sf_dir, "documents")
    media = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    ).filter(F.length("payload") > 0)
    out = media.mapInPandas(byte_stats_exact, BYTE_STATS_SCHEMA)
    return out.select(
        "doc_id",
        "n_bytes",
        "sum_bytes",
        F.expr("sum_bytes * 1000000 DIV n_bytes").alias("mean_byte_e6"),
        "hist6",
        F.expr("hist6 * 1000000 DIV n_bytes").alias("bin6_ppm"),
    )


# --- resize planning: fit-within-box preserving aspect ratio --------------
# The geometry stage of an image-resize operator as exact integer math
# (floor division), oracle-checked; the pixel transform itself would
# ride the same mapInPandas seam as fake_decode.

_RESIZE_ORACLE = f"""
WITH meta AS ({_MM_ORACLE})
SELECT doc_id, frame_w, frame_h,
  CASE WHEN frame_w <= frame_h THEN CAST(FLOOR(frame_w * 224 / frame_h) AS BIGINT) ELSE 224 END AS out_w,
  CASE WHEN frame_w <= frame_h THEN 224 ELSE CAST(FLOOR(frame_h * 224 / frame_w) AS BIGINT) END AS out_h
FROM meta
WHERE frame_w >= frame_h
"""


@register("multimodal_resize_plan", _RESIZE_ORACLE)
def multimodal_resize_plan(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    media = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    meta = media.mapInPandas(fake_decode, MEDIA_META_SCHEMA)
    landscape = meta.filter(F.col("frame_w") >= F.col("frame_h"))
    fit_h = F.col("frame_w") <= F.col("frame_h")
    return landscape.select(
        "doc_id",
        "frame_w",
        "frame_h",
        F.when(fit_h, F.floor(F.col("frame_w") * 224 / F.col("frame_h")).cast("long"))
        .otherwise(F.lit(224).cast("long"))
        .alias("out_w"),
        F.when(fit_h, F.lit(224).cast("long"))
        .otherwise(F.floor(F.col("frame_h") * 224 / F.col("frame_w")).cast("long"))
        .alias("out_h"),
    )


# --- REAL container-header decode (no codec libraries needed) -------------
# PNG IHDR and WAV RIFF/fmt metadata are pure byte math, so this stage
# is a genuine decoder over real blobs — only pixel/sample decode
# remains behind the deterministic-fake seam above. Unknown or
# truncated containers degrade to codec='unknown' with null metadata
# (failure→empty, never a task crash).

MEDIA_HEADER_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("bit_depth", T.LongType(), True),
        T.StructField("n_channels", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_samples", T.LongType(), True),
    ]
)


def parse_media_header(payload: bytes) -> dict:
    """Parse PNG (IHDR) or WAV (RIFF fmt/data) header metadata from
    raw bytes. Returns a dict matching MEDIA_HEADER_SCHEMA minus
    media_id; unknown/corrupt input → codec='unknown', nulls."""
    import struct

    out = {
        "codec": "unknown", "width": None, "height": None,
        "bit_depth": None, "n_channels": None,
        "sample_rate": None, "n_samples": None,
    }
    b = bytes(payload)
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
            w, h, depth, color_type = struct.unpack(">IIBB", b[16:26])
            out.update(
                codec="png", width=w, height=h, bit_depth=depth,
                n_channels={0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type),
            )
        elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
            # Walk RIFF chunks: fmt_ carries rate/channels/width,
            # data carries payload size → sample count.
            pos, fmt, data_size = 12, None, None
            while pos + 8 <= len(b):
                cid, size = b[pos : pos + 4], struct.unpack("<I", b[pos + 4 : pos + 8])[0]
                if cid == b"fmt ":
                    fmt = struct.unpack("<HHIIHH", b[pos + 8 : pos + 24])
                elif cid == b"data":
                    data_size = size
                pos += 8 + size + (size & 1)
            if fmt is not None:
                _, n_ch, rate, _, block_align, bits = fmt
                out.update(
                    codec="wav", n_channels=n_ch, sample_rate=rate,
                    bit_depth=bits,
                    n_samples=(
                        data_size // block_align
                        if data_size is not None and block_align
                        else None
                    ),
                )
    except struct.error:
        pass  # truncated header → stays 'unknown'
    return out


def decode_media_headers(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in MEDIA_HEADER_SCHEMA.fields]
    for pdf in batches:
        recs = []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            rec = parse_media_header(payload)
            rec["media_id"] = int(mid)
            recs.append(rec)
        yield pd.DataFrame(recs, columns=cols)

