"""Deterministic synthetic audio/video tables (multimodal fixtures).

Same design as :mod:`imagegen`: content is a pure function of
``(n_rows, seed)``, generation runs executor-side via ``mapInPandas``
(the only shape that materializes a 10^12-row fixture), and the
planted structure is SQL-derivable so a DuckDB oracle can pin it
without reading the binary payloads:

* rows come in PAIRS — row ``2j`` and ``2j+1`` carry byte-identical
  payloads (planted exact duplicates), so every row's fingerprint must
  equal its partner's;
* audio clip ``j`` has exactly ``4096 + (j % 7) * 1024`` frames
  (mono-equivalent samples) at ``1 + (j % 2)`` channels of pcm16;
* video clip ``j`` has exactly ``6 + (j % 5) * 2`` rawrgb frames of
  16x16.

The payloads themselves are seeded noise (+ a sine for audio realism):
what matters for the oracle is the planted dup structure and the
length formulas, both checked from real decoded samples Spark-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .imagegen import even_slice

AUDIO_SAMPLE_RATE = 16_000
VIDEO_W = VIDEO_H = 16


def audio_frames_for_pair(j: int) -> int:
    """Planted per-pair frame count (the oracle's length formula)."""
    return 4096 + (j % 7) * 1024


def video_frames_for_pair(j: int) -> int:
    """Planted per-pair frame count (the oracle's length formula)."""
    return 6 + (j % 5) * 2


def _audio_pair_payload(j: int, seed: int) -> tuple[bytes, int]:
    """(pcm16 bytes, n_channels) for pair ``j`` — pure function."""
    rng = np.random.default_rng(seed + 7_900_003 * j)
    frames = audio_frames_for_pair(j)
    nch = 1 + (j % 2)
    t = np.arange(frames * nch, dtype=np.float64)
    tone = 8000.0 * np.sin(2 * np.pi * (220.0 + 13.0 * (j % 11)) * t / AUDIO_SAMPLE_RATE)
    noise = rng.integers(-4000, 4001, size=frames * nch)
    pcm = np.clip(tone + noise, -32768, 32767).astype("<i2")
    return pcm.tobytes(), nch


def _video_pair_payload(j: int, seed: int) -> tuple[bytes, int]:
    """(rawrgb bytes, n_frames) for pair ``j`` — pure function."""
    rng = np.random.default_rng(seed + 9_700_009 * j)
    nf = video_frames_for_pair(j)
    base = rng.integers(0, 256, size=(1, VIDEO_H, VIDEO_W, 3), dtype=np.int32)
    drift = rng.integers(-2, 3, size=(nf, VIDEO_H, VIDEO_W, 3), dtype=np.int32)
    frames = (base + drift).clip(0, 255).astype(np.uint8)
    return frames.tobytes(), nf


def _pair_rows(
    spark: SparkSession, n_pairs: int, partitions: int, pair_rows, schema: str
) -> DataFrame:
    """The rows ``pair_rows(j)`` for every pair ``j``, generated
    executor-side: partition ``p`` of a JVM-generated frame holds the
    row ``id = p`` and emits one contiguous slice of the pairs."""
    partitions = max(1, min(partitions, n_pairs))

    def gen(batches):
        for pdf in batches:
            for p in map(int, pdf["id"]):
                start, cnt = even_slice(n_pairs, partitions, p)
                rows = [r for j in range(start, start + cnt) for r in pair_rows(j)]
                if rows:
                    yield pd.DataFrame.from_records(rows)

    return spark.range(partitions, numPartitions=partitions).mapInPandas(gen, schema)


def generate_audio_df(
    spark: SparkSession, n_rows: int, seed: int = 42, partitions: int = 4
) -> DataFrame:
    """(audio_id, bytes, sample_rate, n_channels, fmt) — ``n_rows``
    must be even (rows pair up as planted exact duplicates)."""
    assert n_rows % 2 == 0, "n_rows must be even (planted dup pairs)"

    def pair_rows(j):
        data, nch = _audio_pair_payload(j, seed)
        return [
            {
                "audio_id": f"aud_{i:08d}",
                "bytes": data,
                "sample_rate": AUDIO_SAMPLE_RATE,
                "n_channels": nch,
                "fmt": "pcm16",
            }
            for i in (2 * j, 2 * j + 1)
        ]

    return _pair_rows(
        spark, n_rows // 2, partitions, pair_rows,
        "audio_id string, bytes binary, sample_rate int, n_channels int, fmt string",
    )


def generate_video_df(
    spark: SparkSession, n_rows: int, seed: int = 42, partitions: int = 4
) -> DataFrame:
    """(video_id, bytes, w, h, n_frames, fmt) — ``n_rows`` must be even
    (rows pair up as planted exact duplicates)."""
    assert n_rows % 2 == 0, "n_rows must be even (planted dup pairs)"

    def pair_rows(j):
        data, nf = _video_pair_payload(j, seed)
        return [
            {
                "video_id": f"vid_{i:08d}",
                "bytes": data,
                "w": VIDEO_W,
                "h": VIDEO_H,
                "n_frames": nf,
                "fmt": "rawrgb",
            }
            for i in (2 * j, 2 * j + 1)
        ]

    return _pair_rows(
        spark, n_rows // 2, partitions, pair_rows,
        "video_id string, bytes binary, w int, h int, n_frames int, fmt string",
    )
