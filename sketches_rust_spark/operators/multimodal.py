"""Multimodal (image/audio/video) column handling.

Media travel as opaque ``binary`` columns with typed metadata; all heavy
per-item work (decode, resize, feature extraction, frame sampling) runs as
Arrow-batched ``mapInPandas`` stages so the Spark-side plumbing — schema,
partitioning, batch shape — is identical to a production pipeline.

AUDIO IS REAL: ``decode_audio_features(fake=False)`` parses a genuine
RIFF/WAVE container with the stdlib ``wave`` module (PCM 8/16-bit, any
channel count) — real bytes in, real demux, ValueError on corrupt input —
and ``encode_wav_pcm8`` writes real WAV containers, so the driver pipeline
runs encode -> decode -> features end-to-end on actual media bytes.

The image/video codecs (PIL/ffmpeg) are not dependencies, so those steps
are deterministic byte-level stubs: ``decode_image_features(fake=True)``
derives pseudo-features from the bytes, and ``sample_video_frames`` /
``resize_images`` slice and downsample the payload — keeping every
downstream stage real and testable. Swap ``_fake_decode`` (or the two stub
item functions) for a PIL/ffmpeg call on a real cluster; nothing else
changes.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def _media_stage(df: DataFrame, kind: str | None, schema: StructType,
                 item: Callable[[int, bytes], Iterable[tuple]]) -> DataFrame:
    """The one Arrow-batched stage every media operator runs: for each
    (media_id, payload) row of ``kind`` (every row when None),
    ``item(media_id, payload_bytes)`` returns that item's output rows as
    tuples in ``schema``'s column order (any number, so 1->N fan-out works
    too)."""
    names = schema.fieldNames()

    def stage(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [out for mid, payload in zip(pdf["media_id"], pdf["payload"])
                    for out in item(int(mid), bytes(payload))]
            if rows:
                yield pd.DataFrame(rows, columns=names)

    if kind is not None:
        df = df.where(F.col("kind") == kind)
    return df.select("media_id", "payload").mapInPandas(stage, schema=schema)


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decoder: derives a plausible
    (width, height, mean_luma) from the byte content."""
    h = np.frombuffer(payload[:256].ljust(256, b"\0"), dtype=np.uint8)
    width = 64 + int(h[:8].sum()) % 1984
    height = 64 + int(h[8:16].sum()) % 1984
    mean_luma = float(h.mean()) / 255.0
    return width, height, mean_luma


IMAGE_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("width", IntegerType(), False),
    StructField("height", IntegerType(), False),
    StructField("mean_luma", DoubleType(), False),
    StructField("n_bytes", LongType(), False),
])

_PPM_WIDTH = 64  # fixed raster width encode_ppm_rgb uses
_PPM_MAGIC = b"P6"

# output of the encoders: the same media rows with a re-encoded payload
_ENCODED_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),
    StructField("payload", BinaryType(), False),
])


def encode_ppm_rgb(df: DataFrame, width: int = _PPM_WIDTH) -> DataFrame:
    """Wrap each payload's bytes as a REAL binary-PPM (P6) image: raw RGB
    raster of fixed ``width``, height = ceil(n / (3 * width)), zero-padded
    to a full raster. Netpbm P6 is the standards-compliant uncompressed
    image container every tool chain reads — so the driver pipeline runs a
    genuine image encode -> parse -> features path with no native deps.

    Output: (media_id, kind='image', payload=ppm bytes)."""
    row_bytes = 3 * width

    def item(mid: int, data: bytes) -> list[tuple]:
        height = max(1, -(-len(data) // row_bytes))
        raster = data.ljust(width * height * 3, b"\0")
        header = f"P6\n{width} {height}\n255\n".encode("ascii")
        return [(mid, "image", header + raster)]

    return _media_stage(df, None, _ENCODED_SCHEMA, item)


def _decode_ppm(data: bytes) -> tuple[int, int, float]:
    """REAL P6 parse: header (magic, dims, maxval) + raw RGB raster.
    Returns (width, height, mean_brightness in [0,1] — the unweighted mean
    over all RGB bytes). ValueError on malformed input; the raster-length
    check is pure int arithmetic, so hostile declared dims cannot force an
    allocation."""
    import re

    m = re.match(rb"^P6\s+(\d+)\s+(\d+)\s+(\d+)\s", data)
    if not m:
        raise ValueError("not a binary PPM (P6) image")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError(f"unsupported PPM maxval {maxval} (need 8-bit)")
    raster = data[m.end():]
    if w <= 0 or h <= 0 or len(raster) != w * h * 3:
        raise ValueError(
            f"corrupt PPM: {len(raster)} raster bytes for {w}x{h}")
    arr = np.frombuffer(raster, dtype=np.uint8)
    return w, h, float(arr.mean()) / 255.0


def decode_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Per-image decode + feature extraction as an Arrow-batched stage.

    fake=False (default): REAL decode — the payload must be a binary-PPM
    (P6) image (e.g. from ``encode_ppm_rgb``); width/height come from the
    parsed header, mean_luma is the true mean raster brightness. Corrupt
    images raise ValueError. For JPEG/PNG on a real cluster swap in PIL:
        img = PIL.Image.open(io.BytesIO(payload)); arr = np.asarray(img)
    — the Spark plumbing (schema, batch iteration, partitioning) is
    unchanged.

    fake=True: the deterministic stub that derives pseudo-features from
    raw bytes (kept for parity with the stubbed video path)."""

    def item(mid: int, data: bytes) -> list[tuple]:
        w, h, luma = _fake_decode(data) if fake else _decode_ppm(data)
        return [(mid, w, h, luma, len(data))]

    return _media_stage(df, "image", IMAGE_FEATURES_SCHEMA, item)


def sample_video_frames(df: DataFrame, every_nth: int = 30) -> DataFrame:
    """Frame-sampling plumbing: emits (media_id, frame_idx, frame binary).
    A stub: it slices the payload into 64-byte frames deterministically; a
    real decoder would demux with ffmpeg. One input row fans out to ceil(n_frames/every_nth)
    rows — mapInPandas handles the 1->N shape natively."""
    out_schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("frame", BinaryType(), False),
    ])

    def item(mid: int, data: bytes) -> list[tuple]:
        n_frames = max(1, len(data) // 64)
        return [(mid, fi, data[fi * 64:(fi + 1) * 64])
                for fi in range(0, n_frames, every_nth)]

    return _media_stage(df, "video", out_schema, item)


AUDIO_FEATURES_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("duration_s", DoubleType(), False),
    StructField("mean_amp", DoubleType(), False),
    StructField("n_bytes", LongType(), False),
])

_FAKE_SAMPLE_RATE = 16000  # bytes/sec of the fake PCM stream
_WAV_PCM8_HEADER_BYTES = 44  # canonical RIFF+fmt+data header stdlib wave writes


def encode_wav_pcm8(df: DataFrame, rate: int = _FAKE_SAMPLE_RATE) -> DataFrame:
    """Wrap each payload's bytes as a REAL mono 8-bit-PCM RIFF/WAVE
    container (stdlib ``wave`` writer; one sample per input byte). This is
    the media-ingest shape — raw samples in, a standards-compliant
    container out — and it feeds ``decode_audio_features(fake=False)`` for
    a genuine encode->demux round trip on real bytes.

    Output: (media_id, kind='audio', payload=wav bytes)."""
    import io
    import wave

    def item(mid: int, data: bytes) -> list[tuple]:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(rate)
            w.writeframes(data)
        return [(mid, "audio", buf.getvalue())]

    return _media_stage(df, None, _ENCODED_SCHEMA, item)


def _decode_wav(data: bytes) -> tuple[float, float]:
    """REAL WAV demux via stdlib ``wave``: (duration_s, mean_amp) for PCM
    8-bit unsigned or 16-bit signed, any channel count. Raises ValueError
    on anything that is not a parsable PCM WAV container."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data), "rb") as w:
            nch, sw, rate = w.getnchannels(), w.getsampwidth(), w.getframerate()
            n_frames = w.getnframes()
            frames = w.readframes(n_frames)
    except (wave.Error, EOFError) as e:
        raise ValueError(f"not a decodable WAV container: {e}") from e
    if rate <= 0:
        raise ValueError("corrupt WAV: non-positive frame rate")
    duration = n_frames / rate
    if sw == 1:
        b = np.frombuffer(frames, dtype=np.uint8)
        amp = float(np.abs(b.astype(np.float64) - 128.0).mean()) / 128.0 \
            if b.size else 0.0
    elif sw == 2:
        s = np.frombuffer(frames, dtype="<i2")
        amp = float(np.abs(s.astype(np.float64)).mean()) / 32768.0 \
            if s.size else 0.0
    else:
        raise ValueError(f"unsupported WAV sample width: {sw}")
    return duration, amp


def decode_audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Per-clip audio decode + features as an Arrow-batched stage.

    fake=False (default): REAL decode — the payload must be a RIFF/WAVE
    container (e.g. from ``encode_wav_pcm8``); stdlib ``wave`` demuxes it,
    duration = n_frames / frame_rate, mean amplitude normalized per sample
    width. Corrupt containers raise ValueError (a 100-TB job wants the
    loud failure, not a silent zero).

    fake=True: the headerless stub — payload treated as raw unsigned 8-bit
    PCM at 16 kB/s (kept for parity with the other stubbed codecs)."""

    def item(mid: int, data: bytes) -> list[tuple]:
        if fake:
            b = np.frombuffer(data, dtype=np.uint8)
            duration = len(data) / _FAKE_SAMPLE_RATE
            amp = float(np.abs(b.astype(np.float64) - 128.0).mean()) / 128.0 \
                if len(b) else 0.0
        else:
            duration, amp = _decode_wav(data)
        return [(mid, duration, amp, len(data))]

    return _media_stage(df, "audio", AUDIO_FEATURES_SCHEMA, item)


def resize_images(df: DataFrame, factor: int = 2) -> DataFrame:
    """Image resize plumbing: binary in -> binary out, one row per image.
    A stub: it downsamples by keeping every ``factor``-th byte
    (deterministic); a real implementation decodes, resizes, re-encodes.
    Output: (media_id, out_bytes, resized binary)."""
    out_schema = StructType([
        StructField("media_id", LongType(), False),
        StructField("out_bytes", LongType(), False),
        StructField("resized", BinaryType(), False),
    ])

    def item(mid: int, data: bytes) -> list[tuple]:
        out = data[::factor]
        return [(mid, len(out), out)]

    return _media_stage(df, "image", out_schema, item)


def media_from_documents(docs: DataFrame, kind: str = "image",
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Deterministic media table derived from the documents fixture: the
    payload is the utf-8 bytes of the text (pure-ASCII in the driver
    tables), so every downstream byte computation is reproducible in the
    DuckDB oracle via ascii()/substr arithmetic."""
    return docs.select(F.col(id_col).alias("media_id"),
                       F.lit(kind).alias("kind"),
                       F.encode(F.col(text_col), "utf-8").alias("payload"))


# -- DuckDB oracles (exact replicas of the fake decoders' byte arithmetic) --------

def ppm_image_features_oracle_sql(table: str, id_col: str = "doc_id",
                                  text_col: str = "text",
                                  width: int = _PPM_WIDTH,
                                  luma_digits: int = 9) -> str:
    """Oracle for the REAL image path encode_ppm_rgb ->
    decode_image_features(fake=False): height is the padded raster height
    ceil(n / 3w), mean_luma the mean over ALL w*h*3 raster bytes (padding
    zeros included — they are image content), and n_bytes the container
    size including the exact 'P6\\n{w} {h}\\n255\\n' header — so a decode
    that did not really parse the container cannot hash-match."""
    rb = 3 * width
    return f"""
WITH m AS (SELECT {id_col} AS media_id, {text_col} AS text,
                  length({text_col}) AS n FROM {table}),
dims AS (
  SELECT media_id, text, n,
         greatest(1, (n + {rb} - 1) // {rb}) AS h
  FROM m
)
SELECT media_id,
       CAST({width} AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       round((coalesce(list_aggregate(list_transform(range(1, n + 1),
                i -> CAST(ascii(text[i]) AS DOUBLE)), 'sum'), 0.0)
              / (h * {rb})) / 255, {luma_digits}) AS mean_luma,
       CAST(9 + length(CAST({width} AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + h * {rb} AS BIGINT) AS n_bytes
FROM dims
"""


def frame_sample_oracle_sql(table: str, id_col: str = "doc_id",
                            text_col: str = "text",
                            every_nth: int = 2) -> str:
    """Oracle for sample_video_frames(media_from_documents(..., 'video')):
    64-byte frame slices at every_nth frame indexes; frames are
    compared by md5 (portable across Spark binary and DuckDB VARCHAR for
    ASCII payloads)."""
    return f"""
WITH m AS (SELECT {id_col} AS media_id, {text_col} AS text,
                  length({text_col}) AS n FROM {table})
SELECT media_id, CAST(t.fi AS BIGINT) AS frame_idx,
       md5(substr(text, CAST(t.fi AS INT) * 64 + 1, 64)) AS frame_md5,
       CAST(length(substr(text, CAST(t.fi AS INT) * 64 + 1, 64)) AS BIGINT) AS frame_bytes
FROM m, unnest(range(0, greatest(n // 64, 1), {every_nth})) AS t(fi)
"""


def audio_features_oracle_sql(table: str, id_col: str = "doc_id",
                              text_col: str = "text",
                              digits: int = 9,
                              container_overhead: int = 0) -> str:
    """Oracle for audio features over the ASCII payload's 8-bit-PCM byte
    arithmetic. Covers BOTH paths with one formula: the fake decoder
    (container_overhead=0, payload = raw bytes) and the REAL wave-module
    round trip encode_wav_pcm8 -> decode_audio_features(fake=False)
    (container_overhead=_WAV_PCM8_HEADER_BYTES: one sample per text byte,
    frame rate 16 kHz, plus the canonical 44-byte RIFF/fmt/data header in
    n_bytes — a mismatch means the container was not really written or not
    really parsed)."""
    return f"""
WITH m AS (SELECT {id_col} AS media_id, {text_col} AS text,
                  length({text_col}) AS n FROM {table})
SELECT media_id,
       round(CAST(n AS DOUBLE) / {_FAKE_SAMPLE_RATE}, {digits}) AS duration_s,
       round((coalesce(list_aggregate(list_transform(range(1, n + 1),
                i -> CAST(abs(ascii(text[i]) - 128) AS DOUBLE)), 'sum'), 0.0)
              / greatest(n, 1))
             / 128, {digits}) AS mean_amp,
       CAST(n + {container_overhead} AS BIGINT) AS n_bytes
FROM m
"""


def resize_images_oracle_sql(table: str, factor: int = 2,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> str:
    """Oracle for resize_images: every factor-th byte of the
    ASCII payload, compared by md5."""
    return f"""
WITH m AS (SELECT {id_col} AS media_id, {text_col} AS text,
                  length({text_col}) AS n FROM {table})
SELECT media_id,
       CAST((n + {factor} - 1) // {factor} AS BIGINT) AS out_bytes,
       md5(array_to_string(list_transform(range(1, n + 1, {factor}),
                                          i -> text[i]), '')) AS resized_md5
FROM m
"""
