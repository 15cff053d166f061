"""Multimodal column plumbing: opaque binary payloads.

Images/audio/video are carried as ``binary`` columns; decode/feature
extraction runs as Arrow-batched ``mapInPandas`` (the pattern a
training-data pipeline needs at 100 TB: binary stays off the driver,
batches stream through Python workers).  Both operators read the
``documents`` columns their oracle SQL reads (``doc_id``, ``text``).

Two registry operators:

* ``media_features`` — real byte-level decodes in pure numpy + struct,
  no external codec: binary P6 PPM images (``encode_ppm`` /
  ``decode_ppm``, block-mean resize, per-channel statistics),
  RIFF/PCM16 WAV audio (``encode_wav`` / ``decode_wav``) and
  multi-frame PPM video streams (frame walk + sampling), all in one
  ``mapInPandas`` pass.  Every feature is checked against a
  closed-form SQL derivation from the synthetic pixel / sample
  formulas, never from the bytes.
* ``multimodal_features`` — the binary-column plumbing: each text
  payload as bytes through one ``mapInPandas`` pass, one sha256 per
  payload, giving its length, digest and a digest-derived feature
  ``f0`` — checkable in SQL without model weights.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMG_W = 16
IMG_H = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.IntegerType()),
        T.StructField("content_sha256", T.StringType()),
        T.StructField("f0", T.DoubleType()),
    ]
)


# ---------------------------------------------------------------------------
# Real codec: binary P6 PPM (pure numpy — no external library)
# ---------------------------------------------------------------------------

def encode_ppm(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) → binary P6 PPM bytes."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _decode_ppm_at(blob: bytes, offset: int) -> tuple[np.ndarray, int]:
    """Decode one P6 frame starting at `offset`; returns (raster,
    offset past the frame) so multi-frame streams can be walked."""
    if blob[offset : offset + 2] != b"P6":
        raise ValueError("not a binary P6 PPM")
    fields: list[int] = []
    i = offset + 2
    while len(fields) < 3:
        while i < len(blob) and blob[i : i + 1].isspace():
            i += 1
        if blob[i : i + 1] == b"#":  # comment to end-of-line
            while i < len(blob) and blob[i : i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(blob) and not blob[j : j + 1].isspace():
            j += 1
        fields.append(int(blob[i:j]))
        i = j
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit PPM supported")
    i += 1  # single whitespace byte after maxval
    raster = np.frombuffer(blob, dtype=np.uint8, count=w * h * 3, offset=i)
    return raster.reshape(h, w, 3), i + w * h * 3


def decode_ppm(blob: bytes) -> np.ndarray:
    """Binary P6 PPM bytes → uint8 (h, w, 3).  A real byte-level
    decoder: parses the magic + whitespace-separated header fields
    (comments included), then reinterprets the raster."""
    arr, _ = _decode_ppm_at(blob, 0)
    return arr


def block_mean_resize(arr: np.ndarray) -> np.ndarray:
    """Downsample 2× via exact 2×2 block means (float64)."""
    h, w, c = arr.shape
    return arr.astype(np.float64).reshape(h // 2, 2, w // 2, 2, c).mean(axis=(1, 3))


def synth_image(doc_id: int) -> np.ndarray:
    """Deterministic IMG_W × IMG_H test image: pixel value at (x, y, c) =
    (doc_id·31 + x·7 + y·13 + c·101) mod 256 — closed-form, so the SQL
    oracle can derive every feature from integer arithmetic alone."""
    x = np.arange(IMG_W)[None, :, None]
    y = np.arange(IMG_H)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((doc_id * 31 + x * 7 + y * 13 + c * 101) % 256).astype(np.uint8)


# ---------------------------------------------------------------------------
# Video analog: multi-frame PPM stream + frame sampling
# ---------------------------------------------------------------------------

VIDEO_FRAMES = 8
FRAME_STEP = 3  # sample frames 0, 3, 6


def encode_video(frames: list[np.ndarray]) -> bytes:
    return b"".join(encode_ppm(f) for f in frames)


def iter_video_frames(blob: bytes):
    """Walk a concatenated-PPM stream frame by frame (real parsing —
    each frame's length comes from its own header, not assumed)."""
    off = 0
    while off < len(blob):
        frame, off = _decode_ppm_at(blob, off)
        yield frame


def synth_video(doc_id: int) -> list[np.ndarray]:
    return [synth_image(doc_id * VIDEO_FRAMES + f) for f in range(VIDEO_FRAMES)]


def _video_feature_row(doc_id: int) -> tuple:
    """(n_frames, sampled_mean_r) — the video features: walk ALL
    frame headers (to count), decode every FRAME_STEP-th raster and
    mean the R channel across the sampled frames, the
    decode-what-you-sample shape of video training-data prep."""
    frames = list(iter_video_frames(encode_video(synth_video(doc_id))))
    sampled = frames[::FRAME_STEP]
    mean_r = float(np.mean([f[:, :, 0].astype(np.float64).mean() for f in sampled]))
    return (len(frames), round(mean_r, 6))


def sql_video_features(table: str) -> str:
    """Closed-form oracle: mean of per-frame means over sampled frames
    f ∈ {0, 3, 6}; all sums integral until the final divisions."""
    sampled = list(range(0, VIDEO_FRAMES, FRAME_STEP))
    px = f"((doc_id * {VIDEO_FRAMES} + f) * 31 + x * 7 + y * 13) % 256"
    frames = ", ".join(str(f) for f in sampled)
    return f"""
    WITH px AS (
      SELECT doc_id, {px} AS v
      FROM {table}
      CROSS JOIN (SELECT unnest([{frames}]) AS f)
      CROSS JOIN (SELECT unnest(range(0, {IMG_W})) AS x)
      CROSS JOIN (SELECT unnest(range(0, {IMG_H})) AS y)
    )
    SELECT doc_id, {VIDEO_FRAMES} AS n_frames,
           round(CAST(sum(v) AS BIGINT) / {len(sampled) * IMG_W * IMG_H}.0, 6) AS sampled_mean_r
    FROM px GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Real codec: RIFF/PCM16 WAV (pure numpy + struct — no external library)
# ---------------------------------------------------------------------------

AUDIO_N = 256
AUDIO_RATE = 8000


def encode_wav(samples: np.ndarray) -> bytes:
    """int16 mono samples → RIFF/WAVE PCM bytes at AUDIO_RATE."""
    import struct

    assert samples.dtype == np.int16
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, AUDIO_RATE, AUDIO_RATE * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM bytes → (int16 samples, sample_rate).  A real
    chunk-walking decoder: verifies the RIFF/WAVE magic, iterates
    chunks (skipping unknown ones), reads fmt, then reinterprets the
    data payload."""
    import struct

    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    i, rate, samples = 12, None, None
    while i + 8 <= len(blob):
        cid = blob[i : i + 4]
        (size,) = struct.unpack("<I", blob[i + 4 : i + 8])
        body = blob[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack("<HHIIHH", body[:16])
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only 16-bit mono PCM supported")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype=np.int16)
        i += 8 + size + (size % 2)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return samples, rate


def synth_audio(doc_id: int) -> np.ndarray:
    """Deterministic AUDIO_N-sample test signal: s[i] = (doc_id·7919 +
    i·2654435761) mod 65536 − 32768 — closed-form for the SQL oracle."""
    i = np.arange(AUDIO_N, dtype=np.int64)
    return ((doc_id * 7919 + i * 2654435761) % 65536 - 32768).astype(np.int16)


def _audio_feature_row(doc_id: int) -> tuple:
    """(n_samples, duration_ms, rms, zero_crossings) — the audio
    features after a real RIFF chunk-walk decode.  RMS is derived from
    the exact INTEGER sum of squares (order-independent, so both
    engines agree bit-for-bit before the one double sqrt/divide)."""
    s, rate = decode_wav(encode_wav(synth_audio(doc_id)))
    v = s.astype(np.int64)
    sum_sq = int((v * v).sum())
    zc = int(((v[:-1] * v[1:]) < 0).sum())
    return (
        len(s),
        len(s) * 1000 // rate,
        round(float(np.sqrt(sum_sq / float(len(s)))), 6),
        zc,
    )


def sql_audio_features(table: str) -> str:
    """Closed-form oracle over the signal formula — integer sums only,
    then one double sqrt, so no float-order divergence is possible."""
    v = "((doc_id * 7919 + i * 2654435761) % 65536 - 32768)"
    return f"""
    WITH s AS (
      SELECT doc_id, i, {v} AS v
      FROM {table}
      CROSS JOIN (SELECT unnest(range(0, {AUDIO_N})) AS i)
    ),
    lagged AS (
      SELECT doc_id, v, lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv FROM s
    )
    SELECT doc_id,
           {AUDIO_N} AS n_samples,
           {AUDIO_N * 1000 // AUDIO_RATE} AS duration_ms,
           round(sqrt(CAST(sum(v * v) AS BIGINT) / {AUDIO_N}.0), 6) AS rms,
           CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END) AS INT) AS zero_crossings
    FROM lagged GROUP BY doc_id
    """


def _image_feature_row(doc_id: int) -> tuple:
    """(width, height, mean_r, mean_g, mean_b, small_px0_r) — the
    image features after a real PPM decode: dimensions, per-channel
    means of the raster, and the top-left pixel (channel R) of the
    2× block-mean resize."""
    img = decode_ppm(encode_ppm(synth_image(doc_id)))
    h, w, _ = img.shape
    means = img.astype(np.float64).mean(axis=(0, 1))
    small = block_mean_resize(img)
    return (
        w, h,
        round(float(means[0]), 6),
        round(float(means[1]), 6),
        round(float(means[2]), 6),
        round(float(small[0, 0, 0]), 6),
    )


def sql_image_features(table: str) -> str:
    """Closed-form oracle: re-derives every feature from the pixel
    formula with integer arithmetic over unnested coordinate ranges —
    no image bytes involved, so a decoder bug cannot self-confirm."""
    px = "((doc_id * 31 + x * 7 + y * 13 + c * 101) % 256)"
    return f"""
    WITH px AS (
      SELECT doc_id, x, y, c, {px} AS v
      FROM {table}
      CROSS JOIN (SELECT unnest(range(0, {IMG_W})) AS x)
      CROSS JOIN (SELECT unnest(range(0, {IMG_H})) AS y)
      CROSS JOIN (SELECT unnest(range(0, 3)) AS c)
    ),
    means AS (
      SELECT doc_id,
             round(sum(CASE WHEN c = 0 THEN v ELSE 0 END) / {IMG_W * IMG_H}.0, 6) AS mean_r,
             round(sum(CASE WHEN c = 1 THEN v ELSE 0 END) / {IMG_W * IMG_H}.0, 6) AS mean_g,
             round(sum(CASE WHEN c = 2 THEN v ELSE 0 END) / {IMG_W * IMG_H}.0, 6) AS mean_b,
             round(sum(CASE WHEN c = 0 AND x < 2 AND y < 2 THEN v ELSE 0 END) / 4.0, 6) AS small_px0_r
      FROM px GROUP BY doc_id
    )
    SELECT doc_id, {IMG_W} AS width, {IMG_H} AS height,
           mean_r, mean_g, mean_b, small_px0_r
    FROM means
    """


MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("small_px0_r", T.DoubleType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("sampled_mean_r", T.DoubleType()),
    ]
)


def media_features(df: DataFrame) -> DataFrame:
    """All three real-codec decode paths (P6 PPM image, RIFF/PCM16 WAV
    audio, multi-frame PPM video stream) in ONE mapInPandas pass — one
    Python worker round-trip per batch, one wide row per document;
    binary never touches the driver.  Each modality's features come
    from its `_*_feature_row` helper and are checked against its
    closed-form `sql_*_features` oracle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (int(doc_id),)
                + _image_feature_row(int(doc_id))
                + _audio_feature_row(int(doc_id))
                + _video_feature_row(int(doc_id))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])

    return df.select("doc_id").mapInPandas(run, MEDIA_FEATURES_SCHEMA)


def sql_media_features(table: str) -> str:
    """Joined closed-form oracle: each modality's features re-derived
    independently from the synthetic formulas (never from the bytes),
    joined on doc_id — a decoder bug in ANY path cannot self-confirm."""
    return f"""
    WITH img AS ({sql_image_features(table)}),
         aud AS ({sql_audio_features(table)}),
         vid AS ({sql_video_features(table)})
    SELECT img.doc_id, img.width, img.height, img.mean_r, img.mean_g, img.mean_b,
           img.small_px0_r, aud.n_samples, aud.duration_ms, aud.rms,
           aud.zero_crossings, vid.n_frames, vid.sampled_mean_r
    FROM img JOIN aud USING (doc_id) JOIN vid USING (doc_id)
    """


def multimodal_features(df: DataFrame) -> DataFrame:
    """(doc_id, byte_len, content_sha256, f0) per document: the UTF-8
    bytes of `text` cross the Arrow boundary as a binary column, and
    each payload is hashed once in ``mapInPandas``.  f0 is the digest's
    first 4 bytes as a fraction of 2^32 (full double precision in the
    worker, rounded to 6 places in Spark)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            digests = [hashlib.sha256(b).digest() for b in pdf["blob"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["blob"].map(len).astype("int32"),
                    "content_sha256": [d.hex() for d in digests],
                    "f0": [int.from_bytes(d[:4], "big") / 2**32 for d in digests],
                }
            )

    blobs = df.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("blob"))
    return blobs.mapInPandas(run, FEATURES_SCHEMA).withColumn("f0", F.round("f0", 6))


def sql_multimodal_features(table: str, id_col: str, text_col: str) -> str:
    """Oracle: byte length, sha256 of the payload, and f0 from the
    digest's first 8 hex digits."""
    return f"""
    SELECT {id_col} AS doc_id,
           CAST(octet_length(encode({text_col})) AS INT) AS byte_len,
           sha256({text_col}) AS content_sha256,
           round(CAST(('0x' || substr(sha256({text_col}), 1, 8)) AS BIGINT) / 4294967296.0, 6) AS f0
    FROM {table}
    """
