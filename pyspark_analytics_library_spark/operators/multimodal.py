"""Multimodal columns (SURVEY.md §2.14 + LLM-pipeline multimodal ops).

No real image/audio fixtures exist (and no decode libs in this
container), so the *payload* is opaque ``BinaryType`` built from text —
but the Spark-side plumbing is the real thing: binary columns carried
through joins/filters, typed metadata structs, frame-sampling fan-out,
and a mapInPandas decode stage with the library call stubbed behind a
deterministic fake (clearly marked).  At 100 TB, binary payloads ride
the same columnar scan as everything else; decode stages are
mapInPandas over Arrow batches with payload bytes never touching the
driver.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables

#: The repo's "image" format, a REAL binary codec: 4-byte magic ``IMG1`` +
#: big-endian uint16 width + big-endian uint16 height + width×height
#: single-channel pixel bytes.  Pixel values here are ASCII md5-hex
#: chars (0x30–0x39 / 0x61–0x66) because the fixture has no real
#: images — but the DECODER below does not know that: it parses the
#: header and slices the pixel grid from raw bytes exactly as a
#: PIL/libjpeg swap-in would, so the mapInPandas plumbing carries a
#: genuine binary parse, not a digest trick.  Swapping in a real
#: library decode is a one-function change (replace decode_image_grid).
IMG_MAGIC = b"IMG1"
IMG_HEADER_LEN = 8


def decode_image_grid(payload: bytes) -> tuple[int, int, int, str, int]:
    """Decode one IMG1 payload → (width, height, n_px, px_md5, px_sum).

    Real decode work over the raw bytes: magic check, big-endian
    header parse, numpy pixel-grid slice, then two whole-array
    statistics (md5 of the pixel bytes, exact integer sum of pixel
    values).  Raises ValueError on a corrupt payload — a decode stage
    at 100 TB must fail loudly on malformed assets, not emit NaNs."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    if arr[:4].tobytes() != IMG_MAGIC:
        raise ValueError(f"bad magic: {arr[:4].tobytes()!r}")
    if arr.size < IMG_HEADER_LEN:
        # Valid magic truncated INSIDE the 8-byte header
        # (4-7 bytes) must be the same loud ValueError as every other
        # corruption, not an IndexError from the width read below.
        raise ValueError(f"truncated header: {arr.size} bytes")
    width = int(arr[4]) << 8 | int(arr[5])
    height = int(arr[6]) << 8 | int(arr[7])
    px = arr[IMG_HEADER_LEN : IMG_HEADER_LEN + width * height]
    if px.size != width * height:
        raise ValueError(f"truncated pixel grid: {px.size} != {width * height}")
    return (
        width,
        height,
        px.size,
        hashlib.md5(px.tobytes()).hexdigest(),
        int(px.astype(np.int64).sum()),
    )


@query(
    "mm_binary_passthrough",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(CAST(text AS BLOB)) AS INT) AS byte_len,
           md5(text) AS payload_md5,
           lang
    FROM documents
    WHERE octet_length(CAST(text AS BLOB)) > 150
    """,
)
def q_mm_binary_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BinaryType payload attached, filtered on byte length, integrity
    verified via md5 over the *bytes* (hex-identical across engines)."""
    t = load_tables(spark, sf_dir)
    payload = F.encode(F.col("text"), "utf-8")
    return (
        t["documents"]
        .select("doc_id", payload.alias("payload"), "lang")
        .filter(F.octet_length(F.col("payload")) > 150)
        .select(
            "doc_id",
            F.octet_length(F.col("payload")).alias("byte_len"),
            F.md5(F.col("payload")).alias("payload_md5"),
            "lang",
        )
    )


@query(
    "mm_struct_bundle",
    oracle="""
    SELECT d.doc_id,
           (struct_pack(lang := d.lang, n_chars := d.n_chars,
                        dim := array_length(e.embedding))).lang AS lang,
           CAST((struct_pack(lang := d.lang, n_chars := d.n_chars,
                        dim := array_length(e.embedding))).dim AS INT) AS emb_dim,
           d.n_chars AS n_chars
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def q_mm_struct_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + embedding + metadata bundled into one struct column and
    selected back out (flattened before compare — §2.14)."""
    t = load_tables(spark, sf_dir)
    joined = t["documents"].join(
        t["embeddings"], F.col("doc_id") == F.col("vec_id")
    )
    bundle = F.struct(
        F.col("lang").alias("lang"),
        F.col("n_chars").alias("n_chars"),
        F.size(F.col("embedding")).alias("dim"),
    )
    return joined.select(
        "doc_id",
        bundle.getField("lang").alias("lang"),
        bundle.getField("dim").alias("emb_dim"),
        bundle.getField("n_chars").alias("n_chars"),
    )


@query(
    "mm_decode_batch",
    oracle="""
    WITH h AS (
        SELECT doc_id, md5(text) AS hx,
               8 + strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1 AS width,
               8 + strpos('0123456789abcdef', substring(md5(text), 4, 1)) - 1 AS height
        FROM documents
    ), p AS (
        SELECT doc_id, width, height,
               substring(repeat(hx, 17), 1, width * height) AS px_str
        FROM h
    )
    SELECT doc_id,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           CAST(width * height AS INT) AS n_px,
           md5(px_str) AS px_md5,
           CAST(list_sum(list_transform(split(px_str, ''), x -> ascii(x)))
                AS BIGINT) AS px_sum
    FROM p
    """,
)
def q_mm_decode_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decode/feature-extract stage: IMG1 binary payloads → typed
    (width, height, n_px, px_md5, px_sum) via a REAL mapInPandas
    decode — np.frombuffer, magic check, big-endian header parse,
    pixel-grid slice, whole-array stats.

    The encode side builds the payload scan-side in pure JVM
    expressions: dims from two md5 hex chars (8..23, so the oracle's
    pixel reconstruction stays cheap), pixel bytes = the doc's md5-hex
    cycled to width×height.  Pixels are deliberately ASCII so DuckDB —
    which has no BLOB slicing or md5(BLOB) in 1.0.0 — can rebuild the
    identical byte string with VARCHAR ops and verify the decoder's
    px_md5/px_sum at FULL hash strength: the oracle recomputes what
    the Python decoder must extract from raw bytes, end to end.
    A real-image swap-in replaces decode_image_grid and returns this
    query to rows-only (dims/stats then depend on the codec library).
    """
    t = load_tables(spark, sf_dir)
    hx = F.md5(F.encode(F.col("text"), "utf-8"))
    width = (F.lit(8) + F.conv(F.substring(hx, 2, 1), 16, 10).cast("int")).alias("w")
    height = (F.lit(8) + F.conv(F.substring(hx, 4, 1), 16, 10).cast("int")).alias("h")
    # 17 repeats × 32 hex chars = 544 ≥ the 529-byte max grid (23×23).
    px_str = F.substring(
        F.repeat(F.col("hx"), 17), F.lit(1), F.col("w") * F.col("h")
    )
    src = (
        t["documents"]
        .select("doc_id", hx.alias("hx"), width, height)
        .select(
            "doc_id",
            F.concat(
                F.encode(F.lit("IMG1"), "utf-8"),
                F.unhex(F.lpad(F.hex(F.col("w")), 4, "0")),
                F.unhex(F.lpad(F.hex(F.col("h")), 4, "0")),
                F.encode(px_str, "utf-8"),
            ).alias("payload"),
        )
    )

    def decode(batches):
        for pdf in batches:
            rows = [decode_image_grid(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "width": [r[0] for r in rows],
                    "height": [r[1] for r in rows],
                    "n_px": [r[2] for r in rows],
                    "px_md5": [r[3] for r in rows],
                    "px_sum": [r[4] for r in rows],
                }
            )

    return src.mapInPandas(
        decode, "doc_id long, width int, height int, n_px int, px_md5 string, px_sum long"
    )


@query(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(unnest(range(0, 3)) AS INT) AS frame_idx,
           md5(text || ':' || CAST(unnest(range(0, 3)) AS INT)) AS frame_fingerprint
    FROM documents
    WHERE doc_id < 100
    """,
)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: fan each 'video' row out to N frame
    rows (sequence + posexplode) with a deterministic per-frame
    fingerprint — the shape a real frame extractor plugs into."""
    t = load_tables(spark, sf_dir)
    frames = F.sequence(F.lit(0), F.lit(2))
    return (
        t["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text", F.explode(frames).alias("frame_idx"))
        .select(
            "doc_id",
            "frame_idx",
            F.md5(F.concat(F.col("text"), F.lit(":"), F.col("frame_idx").cast("string"))).alias(
                "frame_fingerprint"
            ),
        )
    )


@query(
    "mm_payload_digest",
    oracle="""
    SELECT doc_id,
           md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_mm_payload_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity digests over a binary payload column — the manifest
    step of a multimodal ingest (dedupe/verify assets before the
    expensive decode).  The payload is the utf-8 encoding of the text
    (the fixture's stand-in for image bytes); md5 and byte length are
    computed ON THE BINARY, scan-side, no Python.  DuckDB's md5(VARCHAR)
    hashes the same utf-8 bytes, so this multimodal row is fully
    oracled — unlike the decode path, which is stubbed by necessity."""
    t = load_tables(spark, sf_dir)
    payload = F.encode(F.col("text"), "utf-8")
    return t["documents"].select(
        "doc_id",
        F.md5(payload).alias("payload_md5"),
        F.length(payload).cast("bigint").alias("n_bytes"),
    )
