"""Multimodal column operators (X5, X6) — typed opaque-binary handling plus
corpus profiling.

The multimodal design (SURVEY.md §1.3): media lives as an opaque ``binary``
column with typed metadata alongside; decode/resize/frame-sample are
Pandas-UDF stages over ``mapInPandas`` so each Arrow batch is processed
vectorized. The image/audio codecs are not in this container, so the decode
kernel is a deterministic stub (clearly marked), while the Spark-side
plumbing — schema, batch iteration, partitioning — is real and tested.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_weather_spark.operators._util import (
    SQL_RAW_TOKENS,
    grand_total_if_empty,
    raw_tokens,
    spread,
)
from presto_weather_spark.registry import register
from presto_weather_spark.session import load_table, local_rows, stage_dir


@register(
    "x05_multimodal_assembly",
    oracle="""
SELECT d.doc_id,
       d.lang,
       d.n_chars,
       e.label,
       CAST(len(e.embedding) AS INT) AS dim,
       round(CAST(list_aggregate(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum') AS DOUBLE), 6) AS emb_sq_norm
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
    doc="X5: multimodal record assembly — text docs zipped with their "
    "embedding vectors (documents.doc_id = embeddings.vec_id); at scale "
    "both sides bucket on the id so the zip is shuffle-free.",
)
def x05_multimodal_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.size("embedding").alias("dim"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda s, v: s + v * v), 6
        ).alias("emb_sq_norm"),
    )


@register(
    "x06_corpus_profile",
    oracle="""
SELECT lang,
       source,
       COUNT(*) AS n_docs,
       ROUND(AVG(n_chars), 4) AS avg_chars,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM documents
GROUP BY CUBE (lang, source)
""",
    doc="X6: corpus profiling by language x source with CUBE subtotals — "
    "the dataset-card summary query.",
)
def x06_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = d.cube("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    # standard-SQL () grouping set on empty input (see grand_total_if_empty)
    return grand_total_if_empty(d, out, (None, None, 0, None, None, None, None))


# ---------------------------------------------------------------------------
# Binary-column plumbing (decode stubbed — codecs not in this container)
# ---------------------------------------------------------------------------

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes int, "
    "feat_mean double, feat_dim int, decoder string"
)


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table: each document's text bytes stand in
    for an encoded image/audio payload (opaque binary + typed metadata)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("int").alias("n_bytes"),
        F.xxhash64(payload).alias("payload_hash"),
    )


def _decode_stub(payload: bytes, media_type: str) -> list[float]:
    """STUB decoder — real codecs (PIL/librosa/ffmpeg) are not installed.

    Produces a deterministic 8-dim "feature" from the payload bytes so the
    pipeline shape (binary in -> fixed-dim float vector out) is exercised
    end-to-end. Swap this body for the real decode when codecs exist;
    raise NotImplementedError for formats a real deployment can't handle.
    """
    if not payload:
        raise NotImplementedError(f"no decoder for empty {media_type} payload")
    step = max(len(payload) // 8, 1)
    return [payload[min(i * step, len(payload) - 1)] / 255.0 for i in range(8)]


def extract_media_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction — Arrow-batched, partition-local (no
    shuffle); this is the hot-path shape for 100 TB media processing."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                _decode_stub(bytes(p), mt)
                for p, mt in zip(pdf["payload"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feat_mean": [round(sum(f) / len(f), 6) for f in feats],
                    "feat_dim": [len(f) for f in feats],
                    "decoder": ["stub-v1"] * len(feats),
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


@register(
    "x05b_media_feature_extract",
    oracle="""
WITH media AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         encode(text) AS payload
  FROM documents
)
SELECT doc_id, media_type,
       CAST(octet_length(payload) AS INT) AS n_bytes,
       8 AS feat_dim,
       'stub-v1' AS decoder
FROM media
""",
    doc="X5: binary media column -> mapInPandas feature extraction (decode "
    "stubbed, plumbing real). Oracle checks the metadata columns; the "
    "stub feature values are pytest-verified for determinism.",
)
def x05b_media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(spark, sf_dir)
    feats = extract_media_features(media)
    return feats.select("doc_id", "media_type", "n_bytes", "feat_dim", "decoder")


FRAME_SCHEMA = "doc_id bigint, frame_idx int, frame_offset int, frame_hash bigint"
FRAME_STRIDE = 64  # bytes per synthetic "frame" in the stub decoder


def sample_frames(media: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """mapInPandas frame sampler — one input row fans out to one row per
    sampled frame (the 1->N UDTF shape video decoding needs). The frame
    decode is the same deterministic stub as x05b (codecs absent here):
    a 'frame' is a stride-sized byte slice; real deployments swap the
    slicing for ffmpeg keyframe extraction with the same schema."""
    import pyspark.sql.functions as _F  # noqa: F401  (schema-side parity)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k: [] for k in ("doc_id", "frame_idx", "frame_offset")}
            hashes: list[int] = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                n_frames = max(len(data) // stride, 1)
                for i in range(n_frames):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_offset"].append(i * stride)
                    # stub frame fingerprint: sum of the slice's bytes
                    hashes.append(sum(data[i * stride : (i + 1) * stride]))
            frame = pd.DataFrame(out)
            frame["frame_hash"] = pd.Series(hashes, dtype="int64")
            yield frame

    return media.mapInPandas(batches, FRAME_SCHEMA)


@register(
    "x05c_video_frame_sample",
    oracle=f"""
WITH media AS (
  SELECT doc_id, encode(text) AS payload FROM documents
  WHERE doc_id % 3 = 2
)
SELECT doc_id,
       CAST(unnest(range(0, greatest(octet_length(payload) // {FRAME_STRIDE}, 1))) AS INT) AS frame_idx,
       CAST(unnest(range(0, greatest(octet_length(payload) // {FRAME_STRIDE}, 1))) AS INT) * {FRAME_STRIDE} AS frame_offset
FROM media
""",
    doc="X5: video frame sampling — the 1->N mapInPandas fan-out (one row "
    "per sampled frame with typed offsets and a per-frame fingerprint); "
    "decode stubbed as stride slicing, plumbing and schema real. At "
    "100 TB frames inherit the media partitioning, so sampling is "
    "shuffle-free and downstream per-frame featurization starts "
    "partition-local.",
)
def x05c_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synthesize_media(spark, sf_dir).filter(F.col("media_type") == "video/mp4")
    # The oracle checks the fan-out metadata (DuckDB cannot index BLOB
    # bytes for the stub frame_hash — same metadata-oracle precedent as
    # x05b); the hash column itself is exercised by the mapInPandas run.
    return sample_frames(media.select("doc_id", "payload")).select(
        "doc_id", "frame_idx", "frame_offset"
    )


PNG_WIDTH = 32  # fixed encode width; height grows with payload length
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def encode_png(text: str | None) -> bytes:
    """Render text bytes as a REAL 8-bit grayscale PNG (pixels = utf-8
    bytes, row width PNG_WIDTH, zero-padded final row): signature + IHDR +
    zlib-deflated filter-0 scanlines in IDAT + IEND, all CRC-correct —
    parseable by any standards-compliant PNG reader."""
    import struct
    import zlib

    raw = (text or "").encode("utf-8")
    w = PNG_WIDTH
    h = max((len(raw) + w - 1) // w, 1)
    padded = raw + b"\x00" * (w * h - len(raw))
    scan = b"".join(b"\x00" + padded[r * w : (r + 1) * w] for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan))
        + _png_chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a grayscale-8 PNG with the stdlib only: signature check,
    chunk walk with CRC verification, IHDR header, zlib inflate of the
    IDAT stream, and FULL scanline unfiltering (filter types 0-4: none/
    sub/up/average/paeth). Returns (width, height, pixel bytes).

    Failure modes (each pinned in tests/test_multimodal_png.py):
    bad signature / truncated chunk / CRC mismatch / missing IDAT ->
    ValueError; unsupported bit depth, color type or interlace ->
    NotImplementedError (the honest boundary: this decoder handles the
    grayscale-8 class for real, like x05e handles PCM16 WAV)."""
    import struct
    import zlib

    data = bytes(payload)
    if data[:8] != _PNG_SIG:
        raise ValueError("bad PNG signature")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError("truncated chunk header")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ValueError("truncated chunk body")
        (crc,) = struct.unpack(">I", data[pos + 8 + length : pos + 12 + length])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or color != 0:
                raise NotImplementedError(
                    f"only grayscale-8 supported (depth={depth}, color={color})"
                )
            if interlace != 0:
                raise NotImplementedError("interlaced PNG not supported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None:
        raise ValueError("missing IHDR")
    if not idat:
        raise ValueError("missing IDAT")
    scan = zlib.decompress(idat)
    if len(scan) != (w + 1) * h:
        raise ValueError("scanline size mismatch")
    out = bytearray()
    prev = bytearray(w)
    for r in range(h):
        ftype = scan[r * (w + 1)]
        row = bytearray(scan[r * (w + 1) + 1 : (r + 1) * (w + 1)])
        if ftype == 0:
            pass
        elif ftype == 1:  # sub (bpp=1)
            for x in range(1, w):
                row[x] = (row[x] + row[x - 1]) & 0xFF
        elif ftype == 2:  # up
            for x in range(w):
                row[x] = (row[x] + prev[x]) & 0xFF
        elif ftype == 3:  # average
            for x in range(w):
                left = row[x - 1] if x else 0
                row[x] = (row[x] + (left + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # paeth
            for x in range(w):
                left = row[x - 1] if x else 0
                c = prev[x - 1] if x else 0
                row[x] = (row[x] + _paeth(left, prev[x], c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype}")
        out += row
        prev = row
    return w, h, bytes(out)



RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, orig_w int, orig_h int, "
    "out_w int, out_h int, out_bytes int"
)
RESIZE_TARGET = 64  # longest-edge pixels after resize


def resize_media(media: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """mapInPandas resize stage — batch-local, shuffle-free.

    REAL geometry decode: ``decode_png`` (the x05g stdlib codec —
    signature + CRC-verified chunk walk) reads each payload's IHDR for
    the true dimensions; a PIL deployment would swap one line
    (``Image.open(...).size``) with the identical schema and batch
    shape. The aspect-preserving longest-edge-to-``target`` arithmetic
    is the production logic; out_bytes is the grayscale-8 raster size.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            dims = [decode_png(p)[:2] for p in pdf["payload"]]
            w = pd.Series([d[0] for d in dims], dtype="int64")
            h = pd.Series([d[1] for d in dims], dtype="int64")
            # exact integer aspect math: (target*edge) // long_edge.
            # The float form (edge * (target/long)) can land one pixel
            # short when the reciprocal rounds down — integer division
            # is the engine-exact convention (round-7 risk burn-down).
            long_edge = pd.concat([w, h], axis=1).max(axis=1)
            out_w = (target * w // long_edge).clip(lower=1)
            out_h = (target * h // long_edge).clip(lower=1)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "orig_w": w,
                    "orig_h": h,
                    "out_w": out_w,
                    "out_h": out_h,
                    "out_bytes": out_w * out_h,
                }
            )

    return media.mapInPandas(batches, RESIZE_SCHEMA)


@register(
    "x05d_media_resize",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, 'image/png' AS media_type,
         {PNG_WIDTH} AS w,
         greatest((octet_length(encode(coalesce(text, ''))) + {PNG_WIDTH - 1})
                  // {PNG_WIDTH}, 1) AS h
  FROM documents WHERE doc_id % 3 = 0
)
SELECT doc_id, media_type,
       CAST(w AS INT) AS orig_w, CAST(h AS INT) AS orig_h,
       CAST(greatest(({RESIZE_TARGET} * w) // greatest(w, h), 1) AS INT) AS out_w,
       CAST(greatest(({RESIZE_TARGET} * h) // greatest(w, h), 1) AS INT) AS out_h,
       CAST(greatest(({RESIZE_TARGET} * w) // greatest(w, h), 1)
            * greatest(({RESIZE_TARGET} * h) // greatest(w, h), 1) AS INT) AS out_bytes
FROM dims
""",
    doc="X5: image resize stage — aspect-preserving longest-edge-to-64 "
    "thumbnailing over the binary media column via mapInPandas. The "
    "geometry now comes from a REAL decode: the image/png slice "
    "carries x05g's standards-compliant grayscale-8 payloads and "
    "resize_media reads the true dimensions through decode_png's "
    "CRC-verified IHDR parse (no payload-length arithmetic). The "
    "oracle replays the raster rule (width 32, height ceil(bytes/32)) "
    "plus the same integer-division resize algebra, so the real-decode "
    "path is hash-verified end to end. Resize is the canonical "
    "pre-training image normalization: batch-local and shuffle-free, "
    "so 100 TB of media streams through at scan parallelism with no "
    "exchange.",
)
def x05d_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)  # the image/png class (x05b rule)
        .select("doc_id", "text")
        .transform(spread, "doc_id")
    )

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": ["image/png"] * len(pdf),
                    "payload": [
                        encode_png(t if isinstance(t, str) else None)
                        for t in pdf["text"]
                    ],
                }
            )

    media = d.mapInPandas(enc, "doc_id bigint, media_type string, payload binary")
    return resize_media(media)


# ---------------------------------------------------------------------------
# X58 — cross-modal pair-alignment gate (LAION/CLIP-style pair filtering)
# ---------------------------------------------------------------------------

HASH_DIM = 64  # feature-hashing buckets == embedding dimensionality
ALIGN_THRESHOLD = 0  # keep pairs with non-negative alignment (sign test)


@register(
    "x58_pair_alignment_gate",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest({SQL_RAW_TOKENS}) AS term
  FROM documents WHERE doc_id < 200
),
tb AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {HASH_DIM} AS dim,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM tok WHERE term <> ''
  GROUP BY doc_id, CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) % {HASH_DIM}
),
tnorm AS (
  SELECT doc_id, sqrt(SUM(w * w)) AS tn FROM tb GROUP BY doc_id
),
ev AS (
  SELECT vec_id, CAST(e AS DOUBLE) AS v, gs - 1 AS dim
  FROM (
    SELECT vec_id, unnest(embedding) AS e,
           generate_subscripts(embedding, 1) AS gs
    FROM embeddings WHERE vec_id < 200
  )
),
enorm AS (
  SELECT vec_id, sqrt(SUM(v * v)) AS en FROM ev GROUP BY vec_id
),
dots AS (
  SELECT tb.doc_id, SUM(tb.w * ev.v) AS dot
  FROM tb JOIN ev ON tb.doc_id = ev.vec_id AND tb.dim = ev.dim
  GROUP BY tb.doc_id
)
SELECT d.doc_id,
       round(COALESCE(d.dot, 0) / (t.tn * e.en), 6) AS alignment,
       COALESCE(d.dot, 0) / (t.tn * e.en) >= {ALIGN_THRESHOLD} AS keep
FROM dots d
JOIN tnorm t ON t.doc_id = d.doc_id
JOIN enorm e ON e.vec_id = d.doc_id
""",
    doc="X58: CROSS-MODAL pair-alignment gate — the LAION/CLIP-filtering "
    "shape: every (caption, image) pair is scored by the cosine between "
    "a text-side feature vector and the image-side embedding, and "
    "low-alignment pairs are dropped before training. The text side is "
    "FEATURE-HASHED bag-of-words (term -> md5 % 64 bucket, the "
    "Weinberger hashing trick — vocabulary-free, so the featurizer "
    "needs no fitted state and parallelizes scan-side); the 'image' "
    "side reuses the embeddings table. The sparse-dense dot product is "
    "relational: explode the embedding to (dim, value) rows and join "
    "on (pair_id, dim) — no UDF, full codegen, one shuffle on the "
    "pair id. At 100 TB the alignment model is a real dual encoder, "
    "but the gating plan is exactly this.",
)
def x58_pair_alignment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .repartition(8, "doc_id")
    )
    tok = docs.select(
        "doc_id", F.explode(raw_tokens()).alias("term")
    ).filter(F.col("term") != "")
    tb = tok.groupBy(
        "doc_id",
        (F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("bigint") % HASH_DIM)
        .alias("dim"),
    ).agg(F.count(F.lit(1)).cast("double").alias("w"))
    tnorm = tb.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("tn"))
    ev = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select("vec_id", F.posexplode("embedding").alias("dim", "e"))
        .select("vec_id", "dim", F.col("e").cast("double").alias("v"))
    )
    enorm = ev.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("en"))
    dots = (
        tb.join(ev, (tb.doc_id == ev.vec_id) & (tb.dim == ev.dim))
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("v")).alias("dot"))
    )
    sim = F.coalesce(F.col("dot"), F.lit(0.0)) / (F.col("tn") * F.col("en"))
    return (
        dots.join(tnorm, "doc_id")
        .join(enorm, dots.doc_id == enorm.vec_id)
        .select(
            "doc_id",
            F.round(sim, 6).alias("alignment"),
            (sim >= ALIGN_THRESHOLD).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# X5e — REAL audio decode: RIFF/WAVE via the stdlib `wave` codec
# ---------------------------------------------------------------------------
#
# The other media paths stub the decode because PIL/librosa/ffmpeg are not
# in this container — but WAV needs no external codec: the stdlib `wave`
# module parses RIFF/fmt/data chunks for real. This path therefore
# exercises TRUE decode failure modes (truncated header, wrong magic,
# unsupported compression raise wave.Error) instead of a deterministic
# fake: encode kernel builds a bit-exact PCM16-mono WAV per document,
# decode kernel parses it back WITHOUT looking at the source text.

WAV_SAMPLE_RATE = 8000
WAV_DECODE_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples int, n_bytes int, "
    "duration_ms double, mean_abs double"
)


def encode_wav(text: str | None) -> bytes:
    """PCM16-mono WAV whose samples are the utf-8 bytes of ``text`` mapped
    to int16 via (b - 128) * 256 — a real, `wave`-parseable payload."""
    import io
    import wave

    import numpy as np

    raw = (text or "").encode("utf-8")
    samples = (
        (np.frombuffer(raw, dtype=np.uint8).astype(np.int16) - 128) * 256
    ).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes, read_frames: bool = True) -> tuple[int, int, float]:
    """Parse a WAV payload with the stdlib codec; returns (sample_rate,
    n_samples, mean_abs_amplitude). Malformed payloads raise wave.Error —
    the genuine decode-failure path a production media pipeline must
    handle (absorb-or-fail policy belongs to the caller, mirroring the
    s44/r13 malformed-input contract).

    ``read_frames=False`` parses the RIFF/fmt/data headers only (every
    failure mode still fires) and skips the PCM read — for callers that
    consume header fields alone, so per-byte work matches the columns
    actually emitted; mean_abs is returned as 0.0 in that mode."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
        rate = w.getframerate()
        n = w.getnframes()
        frames = w.readframes(n) if read_frames else b""
    if n == 0 or not read_frames:
        return rate, n, 0.0
    pcm = np.frombuffer(frames, dtype="<i2")
    return rate, n, float(np.abs(pcm.astype(np.int64)).mean())


def _encoded_docs(
    spark: SparkSession, sf_dir: str, encode: Callable[[str | None], bytes]
) -> DataFrame:
    """(doc_id, payload): every document rendered to bytes by ``encode``
    (``encode_wav`` or ``encode_png``) in one partition-local Arrow pass."""
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(spread, "doc_id")
    )

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        # pandas may surface string NULLs as NaN floats
                        encode(t if isinstance(t, str) else None)
                        for t in pdf["text"]
                    ],
                }
            )

    return d.mapInPandas(enc, "doc_id bigint, payload binary")


@register(
    "x05e_wav_decode",
    oracle=f"""
SELECT doc_id,
       {WAV_SAMPLE_RATE} AS sample_rate,
       CAST(octet_length(encode(coalesce(text, ''))) AS INT) AS n_samples,
       CAST(44 + 2 * octet_length(encode(coalesce(text, ''))) AS INT) AS n_bytes,
       round(octet_length(encode(coalesce(text, ''))) * 1000.0
             / {WAV_SAMPLE_RATE}, 3) AS duration_ms
FROM documents
""",
    doc="X5e: REAL audio decode — every document is rendered to a "
    "bit-exact PCM16-mono RIFF/WAVE payload (44-byte canonical header + "
    "2 bytes/sample) in one mapInPandas pass, then a SECOND kernel "
    "parses the binary back with the stdlib `wave` codec (no source-"
    "text peeking): sample rate, frame count, byte size, duration. "
    "The query kernel decodes HEADERS only (every RIFF failure mode "
    "still fires) because only header fields are emitted — per-byte "
    "work matches the output; the full PCM decode with amplitude "
    "stats and the wave.Error failure modes is pinned in "
    "tests/test_multimodal_wav.py. The oracle replays the size "
    "algebra (n_samples = payload bytes of the text, n_bytes = 44 + "
    "2n, NULL text as empty) so the decode round-trip is "
    "hash-verified. Both kernels are partition-local "
    "Arrow passes — the exact shape a real ffmpeg/soundfile deployment "
    "uses at 100 TB, with this one media_type needing no stub.",
)
def x05e_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    wav = _encoded_docs(spark, sf_dir, encode_wav)

    def dec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "doc_id", "sample_rate", "n_samples", "n_bytes",
                "duration_ms", "mean_abs",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                # header-only decode: the query emits header fields, so it
                # does not pay the PCM read; amplitude is pinned by the
                # full-decode unit tests in tests/test_multimodal_wav.py
                rate, n, mean_abs = decode_wav(payload, read_frames=False)
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(n)
                rows["n_bytes"].append(len(payload))
                rows["duration_ms"].append(round(n * 1000.0 / rate, 3))
                rows["mean_abs"].append(mean_abs)
            yield pd.DataFrame(rows)

    return wav.mapInPandas(dec, WAV_DECODE_SCHEMA).select(
        "doc_id", "sample_rate", "n_samples", "n_bytes", "duration_ms"
    )



# Byte-exact oracle stream (round-8 risk burn-down): the utf-8 BYTES of
# text, one row per byte, extracted from hex(encode(text)) with pure
# string arithmetic — so the oracle matches the kernels' byte streams for
# ANY input, ASCII or not (the old per-character ascii(substr(...)) walk
# diverged on multi-byte codepoints). pos is the 1-based byte index.
_SQL_BYTE_STREAM = """
  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         (strpos('0123456789ABCDEF',
                 substr(hx, CAST(2 * u.i - 1 AS INT), 1)) - 1) * 16
         + strpos('0123456789ABCDEF', substr(hx, CAST(2 * u.i AS INT), 1)) - 1
             AS b
  FROM (SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text)) AS nb FROM documents) h,
       unnest(generate_series(1, h.nb)) AS u(i)
"""


# ---------------------------------------------------------------------------
# X5f — audio loudness screen over the real WAV decode path
# ---------------------------------------------------------------------------

LOUDNESS_RMS_GATE = 8000  # int16 RMS below this -> 'quiet'


@register(
    "x05f_audio_loudness_screen",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, (b - 128) * 256 AS s FROM ({_SQL_BYTE_STREAM})
),
st AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_samples,
         CAST(max(abs(s)) AS INT) AS peak,
         CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         CAST(sum(s * s) AS BIGINT) AS sum_sq
  FROM chars GROUP BY doc_id
)
SELECT doc_id, n_samples, peak,
       round(CAST(sum_abs AS DOUBLE) / n_samples, 6) AS mean_abs,
       round(sqrt(CAST(sum_sq AS DOUBLE) / n_samples), 6) AS rms,
       round(20 * log10(32767.0 / peak), 6) AS norm_gain_db,
       CASE WHEN sum_sq < n_samples * {LOUDNESS_RMS_GATE * LOUDNESS_RMS_GATE}
            THEN 'quiet' ELSE 'ok' END AS loudness_gate
FROM st
""",
    doc="X5f: audio LOUDNESS screen — the curation rule the x05e decode "
    "path exists to feed: per clip, peak amplitude, mean |amplitude|, "
    "RMS, the gain (dB) that would normalize peak to full scale, and a "
    "quiet/ok gate — the standard silence/low-energy filter before "
    "audio enters a training mix. The kernel REALLY decodes: x05e's "
    "PCM16 WAV payloads are parsed back with the stdlib wave codec and "
    "the stats computed from the int16 frames (no source-text "
    "peeking); the oracle replays the sample algebra ((byte-128)*256 "
    "per utf-8 byte) so the full decode->stats round-trip is "
    "hash-verified. Determinism: peak/sum|s|/sum s^2 are exact "
    "integers (s^2 <= 2^30, summed in int64), the gate compares "
    "sum_sq < n*gate^2 in INTEGER space, and only the final "
    "mean/rms/dB divisions are floats (6dp-rounded). Scale: both "
    "kernels are partition-local Arrow passes — encode and decode "
    "fuse into one stage, zero shuffles.",
)
def x05f_audio_loudness_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import math
    import wave

    import numpy as np

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(spread, "doc_id")
    )

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "doc_id", "n_samples", "peak", "mean_abs", "rms",
                "norm_gain_db", "loudness_gate",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = encode_wav(text if isinstance(text, str) else None)
                with wave.open(io.BytesIO(payload), "rb") as w:
                    n = w.getnframes()
                    frames = w.readframes(n)
                if n == 0:
                    continue  # empty clip: no stats row (oracle drops it too)
                pcm = np.frombuffer(frames, dtype="<i2").astype(np.int64)
                a = np.abs(pcm)
                peak = int(a.max())
                sum_abs = int(a.sum())
                sum_sq = int((pcm * pcm).sum())
                rows["doc_id"].append(int(doc_id))
                rows["n_samples"].append(n)
                rows["peak"].append(peak)
                rows["mean_abs"].append(round(sum_abs / n, 6))
                rows["rms"].append(round(math.sqrt(sum_sq / n), 6))
                rows["norm_gain_db"].append(
                    round(20 * math.log10(32767.0 / peak), 6)
                )
                rows["loudness_gate"].append(
                    "quiet"
                    if sum_sq < n * LOUDNESS_RMS_GATE * LOUDNESS_RMS_GATE
                    else "ok"
                )
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        stats,
        "doc_id bigint, n_samples bigint, peak int, mean_abs double, "
        "rms double, norm_gain_db double, loudness_gate string",
    )

# ---------------------------------------------------------------------------
# X5g — real PNG decode (stdlib zlib inflate + scanline unfilter)
# ---------------------------------------------------------------------------

@register(
    "x05g_png_decode",
    # Oracle is BYTE-exact (round-8): the sample stream comes from
    # hex(encode(text)) octets (_SQL_BYTE_STREAM), so hash parity holds
    # for non-ASCII text too — proven on a planted multi-byte corpus in
    # tests/test_multimodal_bytes.py.
    oracle=f"""
WITH chars AS (
  SELECT doc_id, b FROM ({_SQL_BYTE_STREAM})
),
agg AS (
  SELECT doc_id, CAST(sum(b) AS BIGINT) AS sum_b, CAST(max(b) AS INT) AS max_b
  FROM chars GROUP BY doc_id
),
dims AS (
  SELECT doc_id,
         CAST(greatest((octet_length(encode(coalesce(text, ''))) + {PNG_WIDTH - 1})
                       // {PNG_WIDTH}, 1) AS INT) AS height
  FROM documents
)
SELECT d.doc_id,
       {PNG_WIDTH} AS width,
       dims.height AS height,
       CAST({PNG_WIDTH} * dims.height AS INT) AS n_pixels,
       CAST(coalesce(a.sum_b, 0) * 1000000 // ({PNG_WIDTH} * dims.height)
            AS BIGINT) AS mean_pixel_e6,
       CAST(coalesce(a.max_b, 0) AS INT) AS max_pixel
FROM documents d
JOIN dims USING (doc_id)
LEFT JOIN agg a USING (doc_id)
""",
    doc="X5g: REAL image decode — the x05e pattern for the image class: "
    "every document renders to a standards-compliant 8-bit grayscale "
    "PNG (CRC-correct IHDR/IDAT/IEND, zlib-deflated filter-0 "
    "scanlines; pixels = utf-8 text bytes on a 32-wide raster, "
    "zero-padded), then a SECOND kernel decodes the BINARY back with "
    "a stdlib-only decoder — signature check, chunk walk with CRC "
    "verification, zlib inflate, and full scanline UNFILTERING "
    "(all five PNG filter types, pinned against a reference forward-"
    "filter in tests/test_multimodal_png.py) — no source-text "
    "peeking. Emits header dims + pixel stats; the oracle replays "
    "the raster algebra (width 32, height ceil(bytes/32), scaled-integer mean over "
    "zero-padded pixels, max byte) so the encode->decode round-trip "
    "is hash-verified. Decode failures (bad signature, truncated "
    "chunk, CRC mismatch, unsupported color type, unknown filter) "
    "raise — each mode unit-tested. Scale: both kernels are "
    "partition-local Arrow passes, zero shuffles; at 100 TB the "
    "decode inherits scan parallelism exactly like a PIL/ffmpeg "
    "deployment with this schema.",
)
def x05g_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    png = _encoded_docs(spark, sf_dir, encode_png)

    def dec(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "doc_id", "width", "height", "n_pixels", "mean_pixel_e6",
                "max_pixel",
            )}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h, pixels = decode_png(payload)
                n = w * h
                rows["doc_id"].append(int(doc_id))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_pixels"].append(n)
                # scaled-integer mean (micro-units): bit-exact in both
                # engines — a 6dp float round sits ON the half boundary for
                # dyadic quotients (sum/32h) and the engines disagree there
                rows["mean_pixel_e6"].append(sum(pixels) * 1_000_000 // n)
                rows["max_pixel"].append(max(pixels) if pixels else 0)
            yield pd.DataFrame(rows)

    return png.mapInPandas(
        dec,
        "doc_id bigint, width int, height int, n_pixels int, "
        "mean_pixel_e6 bigint, max_pixel int",
    )

# ---------------------------------------------------------------------------
# X146 — voiced-span segmentation over the real WAV decode (silence trim)
# ---------------------------------------------------------------------------

VAD_FRAME = 160  # samples per frame (10 ms at 16 kHz)
VAD_GATE_MS = 132_000_000  # voiced when frame mean-square >= this (int space)


@register(
    "x146_audio_voiced_spans",
    oracle=f"""
WITH chars AS (
  SELECT doc_id, pos, (b - 128) * 256 AS s FROM ({_SQL_BYTE_STREAM})
),
fr AS (
  SELECT doc_id, (pos - 1) // {VAD_FRAME} AS frame,
         CAST(count(*) AS BIGINT) AS n, CAST(SUM(s * s) AS BIGINT) AS ss
  FROM chars GROUP BY doc_id, (pos - 1) // {VAD_FRAME}
),
v AS (SELECT doc_id, frame FROM fr WHERE ss >= n * {VAD_GATE_MS}),
isl AS (
  SELECT doc_id, frame,
         frame - row_number() OVER (PARTITION BY doc_id ORDER BY frame) AS grp
  FROM v
),
sp AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS len,
         CAST(min(frame) AS BIGINT) AS start
  FROM isl GROUP BY doc_id, grp
),
best AS (
  SELECT doc_id, len, start,
         row_number() OVER (PARTITION BY doc_id ORDER BY len DESC, start) AS rn
  FROM sp
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
         CAST(coalesce(SUM(CASE WHEN ss >= n * {VAD_GATE_MS}
                                THEN 1 END), 0) AS BIGINT) AS n_voiced
  FROM fr GROUP BY doc_id
),
spc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans FROM sp GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(agg.n_frames, 0) AS n_frames,
       coalesce(agg.n_voiced, 0) AS n_voiced,
       coalesce(spc.n_spans, 0) AS n_spans,
       coalesce(b.len, 0) AS longest_span_frames,
       coalesce(b.start, -1) AS longest_span_start
FROM documents d
LEFT JOIN agg USING (doc_id)
LEFT JOIN spc USING (doc_id)
LEFT JOIN (SELECT doc_id, len, start FROM best WHERE rn = 1) b USING (doc_id)
""",
    doc="X146: VOICED-SPAN SEGMENTATION — the silence-trim/VAD stage an "
    "audio curation pipeline runs between x05e's decode and x05f's "
    "loudness gate: the PCM stream is framed (160 samples = 10 ms at "
    "16 kHz), each frame classified voiced/quiet by an INTEGER energy "
    "compare (sum s^2 >= n * gate, no float RMS), and voiced runs "
    "become spans — per clip: frame count, voiced count, span count, "
    "and the longest span's length + start (tie-break earliest, -1 "
    "when silent). The kernel REALLY decodes: x05e's PCM16 WAV "
    "payloads parse back through the stdlib wave codec and the frame "
    "energies come from the int16 samples (numpy run-length over the "
    "voiced mask — no per-frame Python loop); the oracle replays the "
    "(byte-128)*256 sample algebra with gaps-and-islands SQL, so "
    "decode -> frame -> segment is hash-verified end to end. Scale: "
    "one partition-local Arrow pass, zero shuffles — segmentation "
    "state never leaves the clip.",
)
def x146_audio_voiced_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import io
    import wave

    import numpy as np

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .transform(spread, "doc_id")
    )

    def spans(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in (
                "doc_id", "n_frames", "n_voiced", "n_spans",
                "longest_span_frames", "longest_span_start",
            )}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = encode_wav(text if isinstance(text, str) else None)
                with wave.open(io.BytesIO(payload), "rb") as w:
                    n = w.getnframes()
                    frames = w.readframes(n)
                pcm = np.frombuffer(frames, dtype="<i2").astype(np.int64)
                n_frames = -(-len(pcm) // VAD_FRAME) if len(pcm) else 0
                if n_frames:
                    sq = pcm * pcm
                    # per-frame (sum s^2, length) incl. the partial tail
                    idx = np.arange(len(pcm)) // VAD_FRAME
                    ss = np.bincount(idx, weights=sq).astype(np.int64)
                    ln = np.bincount(idx).astype(np.int64)
                    voiced = ss >= ln * VAD_GATE_MS
                    # run-length over the voiced mask
                    dif = np.diff(voiced.astype(np.int8))
                    starts = np.flatnonzero(dif == 1) + 1
                    ends = np.flatnonzero(dif == -1) + 1
                    if voiced.size and voiced[0]:
                        starts = np.insert(starts, 0, 0)
                    if voiced.size and voiced[-1]:
                        ends = np.append(ends, voiced.size)
                    lens = ends - starts
                    n_spans = len(lens)
                    if n_spans:
                        top = int(np.argmax(lens))  # first max = earliest
                        longest, start = int(lens[top]), int(starts[top])
                    else:
                        longest, start = 0, -1
                    n_voiced = int(voiced.sum())
                else:
                    n_spans, longest, start, n_voiced = 0, 0, -1, 0
                rows["doc_id"].append(int(doc_id))
                rows["n_frames"].append(n_frames)
                rows["n_voiced"].append(n_voiced)
                rows["n_spans"].append(n_spans)
                rows["longest_span_frames"].append(longest)
                rows["longest_span_start"].append(start)
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        spans,
        "doc_id bigint, n_frames bigint, n_voiced bigint, n_spans bigint, "
        "longest_span_frames bigint, longest_span_start bigint",
    )


BINFILE_DOC_CAP = 64  # staged-object fixture size: lowest doc_ids, bounded


@register(
    "x156_binary_file_ingest",
    oracle=f"""
WITH staged AS (
  SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {BINFILE_DOC_CAP}
)
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS content_md5
FROM staged
""",
    doc="X5 ingestion: the `binaryFile` source — the standard media-lake "
    "entry path where images/audio live as OBJECTS (one file each), not "
    "rows. A bounded fixture (the lowest-doc_id documents' UTF-8 bytes, "
    "standing in for encoded media exactly like synthesize_media) is "
    "staged as individual .bin objects; the key then ingests the prefix "
    "with spark.read.format('binaryFile') and projects (id parsed from "
    "the object name, byte length, content md5) — the manifest a decode "
    "pipeline (x05b+) joins on. Oracle recomputes all three from the "
    "source rows, so the file round-trip is hash-verified byte-exact. "
    "Scale: listing and reads parallelize across executors with files "
    "packed into partitions by size (maxPartitionBytes); filters on "
    "path/length push down via pathGlobFilter/modifiedAfter before any "
    "content IO; per-file content is the unsplittable unit (the 2 GB "
    "column cap), which fits media objects; no shuffle anywhere "
    "(partition-local projection).",
)
def x156_binary_file_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    d = load_table(spark, sf_dir, "documents")
    docs = (
        d.orderBy("doc_id")
        .limit(BINFILE_DOC_CAP)
        .select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    )
    stage = stage_dir("binfiles", os.path.abspath(sf_dir))
    # bounded driver materialization: <= BINFILE_DOC_CAP rows by
    # construction (fixture staging, the streaming symlink-dir precedent)
    rows = docs.collect()
    for r in rows:
        with open(os.path.join(stage, f"doc_{r['doc_id']}.bin"), "wb") as fh:
            fh.write(bytes(r["payload"]))
    if not rows:
        # nothing staged: binaryFile needs >= 1 object; typed empty frame
        return local_rows(spark, [], "doc_id bigint, n_bytes int, content_md5 string")
    ingested = spark.read.format("binaryFile").load(stage)
    return ingested.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").cast("int").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )
