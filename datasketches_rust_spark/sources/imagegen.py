"""Deterministic synthetic image+caption table (FIXTURES.md F1).

Schema = BASELINE input_hint exactly:
  (image_id string, bytes binary, w int, h int, fmt string,
   caption string, phash long)

Planted ground truth: rows partition into clusters of sizes
{1, 1, 1, 2, 3, 5, 8} repeating. Within a cluster:

* images share a seeded low-frequency base pattern; variants add
  bounded uniform noise (±3) keeping PSNR >= 40 dB vs the base;
* captions share a base template sentence; variants apply
  k-shingle-preserving edits (swap/drop single tokens at fixed
  positions) so MinHash Jaccard stays high;
* lossy ("jpeg") rows round-trip through the deterministic lossy
  codec (sources/png.py) before phash so stored bytes and phash agree.

Everything derives from a single integer seed → the generator is a
pure function; the emitted ``truth`` frame (image_id → true_cluster)
is the recall oracle. No external data (driver instruction).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from ..functions.phash import phash64_i64
from .png import decode_image, encode_image

CLUSTER_PATTERN = [1, 1, 1, 2, 3, 5, 8]

_VOCAB = [
    "sunset", "mountain", "river", "forest", "beach", "city", "skyline",
    "portrait", "dog", "cat", "bicycle", "vintage", "car", "street",
    "market", "festival", "snow", "rain", "autumn", "spring", "garden",
    "bridge", "harbor", "island", "desert", "canyon", "valley", "meadow",
    "lighthouse", "castle", "village", "train", "station", "airport",
    "museum", "library", "cafe", "restaurant", "plaza", "fountain",
]

_SIZES = [32, 64, 128]
_NOISE = 3  # ±3 on uint8 → PSNR ≈ 20·log10(255/rms(≈1.8)) ≈ 43 dB


@dataclass
class GeneratedTable:
    rows: pd.DataFrame  # the image+caption table
    truth: pd.DataFrame  # (image_id, true_cluster)


def _base_image(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    # low-frequency pattern: 8x8 random field upsampled + mild texture
    coarse = rng.integers(30, 226, size=(8, 8, 3), dtype=np.int32)
    img = np.repeat(np.repeat(coarse, h // 8, axis=0), w // 8, axis=1)
    texture = rng.integers(-10, 11, size=(h, w, 3), dtype=np.int32)
    return (img + texture).clip(0, 255).astype(np.uint8)


def _variant_image(rng: np.random.Generator, base: np.ndarray) -> np.ndarray:
    noise = rng.integers(-_NOISE, _NOISE + 1, size=base.shape, dtype=np.int32)
    return (base.astype(np.int32) + noise).clip(0, 255).astype(np.uint8)


def _base_caption(rng: np.random.Generator) -> list[str]:
    # 14-24 tokens: realistic caption length; a single-token edit then
    # keeps word-3-shingle Jaccard ≥ ~0.7, inside the pipeline's
    # (bands=32, r=4, threshold=0.5) high-recall region
    n = int(rng.integers(14, 25))
    return [str(w) for w in rng.choice(_VOCAB, size=n)]


def _variant_caption(rng: np.random.Generator, base: list[str], variant_idx: int) -> str:
    toks = list(base)
    # fixed-position, k-shingle-preserving single-token edit per variant
    pos = (variant_idx * 3) % len(toks)
    if variant_idx % 2 == 1:
        toks[pos] = str(rng.choice(_VOCAB))
    else:
        del toks[pos]
    return " ".join(toks)


def generate_image_caption_table(n_rows: int, seed: int = 42) -> GeneratedTable:
    rng = np.random.default_rng(seed)
    records = []
    truth = []
    cluster_id = 0
    i = 0
    pat = 0
    while i < n_rows:
        size = min(CLUSTER_PATTERN[pat % len(CLUSTER_PATTERN)], n_rows - i)
        pat += 1
        dim_h = _SIZES[int(rng.integers(0, len(_SIZES)))]
        dim_w = _SIZES[int(rng.integers(0, len(_SIZES)))]
        base_img = _base_image(rng, dim_h, dim_w)
        base_cap = _base_caption(rng)
        for v in range(size):
            image_id = f"img_{i:08d}"
            img = base_img if v == 0 else _variant_image(rng, base_img)
            caption = " ".join(base_cap) if v == 0 else _variant_caption(rng, base_cap, v)
            fmt = "jpeg" if int(rng.integers(0, 5)) == 0 else "png"
            data = encode_image(img, fmt)
            stored = decode_image(data, fmt)  # phash over *stored* pixels
            records.append(
                {
                    "image_id": image_id,
                    "bytes": data,
                    "w": dim_w,
                    "h": dim_h,
                    "fmt": fmt,
                    "caption": caption,
                    "phash": phash64_i64(stored),
                }
            )
            truth.append({"image_id": image_id, "true_cluster": cluster_id})
            i += 1
        cluster_id += 1
    rows = pd.DataFrame.from_records(records)
    return GeneratedTable(rows, pd.DataFrame.from_records(truth))


def even_slice(total: int, parts: int, p: int) -> tuple[int, int]:
    """``(start, count)`` of slice ``p`` when ``total`` items split into
    ``parts`` contiguous slices whose sizes differ by at most one."""
    base, extra = divmod(total, parts)
    return p * base + min(p, extra), base + (1 if p < extra else 0)


def generate_image_caption_df(
    spark,
    n_rows: int,
    seed: int = 42,
    partitions: int | None = None,
    with_truth: bool = False,
):
    """Distributed deterministic image+caption table (input_hint schema).

    Generation runs executor-side via ``mapInPandas`` — partition ``p``
    derives its own sub-seed, so the table is a pure function of
    ``(n_rows, seed, partitions)`` regardless of cluster size, and
    synthesis scales out with the cluster (the only way to materialize
    a 10^12-row fixture: never generate on the driver). Planted
    clusters never span partitions, keeping the ground truth exact.
    ``with_truth`` appends a ``true_cluster`` string column (drop it to
    get the exact input_hint schema).
    """
    partitions = partitions or spark.sparkContext.defaultParallelism
    partitions = min(partitions, n_rows) or 1

    def gen(batches):
        for pdf in batches:
            for p in map(int, pdf["id"]):
                off, cnt = even_slice(n_rows, partitions, p)
                if cnt == 0:
                    continue
                tbl = generate_image_caption_table(cnt, seed=seed + 1_000_003 * p)
                rows = tbl.rows.copy()
                rows["image_id"] = [f"img_{off + i:012d}" for i in range(cnt)]
                if with_truth:
                    cl = tbl.truth["true_cluster"].to_numpy()
                    rows["true_cluster"] = [f"c_{p}_{int(c)}" for c in cl]
                yield rows

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    )
    if with_truth:
        schema += ", true_cluster string"
    # exactly one slice per partition (hash-repartition would collide
    # slices into some partitions and leave others empty → skewed
    # files), on a JVM-generated frame: partition p holds the row id = p
    return spark.range(partitions, numPartitions=partitions).mapInPandas(gen, schema)


def true_dup_pairs(truth: pd.DataFrame) -> set[tuple[str, str]]:
    """Unordered ground-truth duplicate pairs from the truth frame."""
    pairs: set[tuple[str, str]] = set()
    for _, grp in truth.groupby("true_cluster"):
        ids = sorted(grp["image_id"])
        for a_i in range(len(ids) - 1):
            for b_i in range(a_i + 1, len(ids)):
                pairs.add((ids[a_i], ids[b_i]))
    return pairs


def pair_recall(predicted: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Dup-pair recall of a (id, cluster_id) assignment vs truth
    (BASELINE.json metric: unordered pairs)."""
    want = true_dup_pairs(truth)
    if not want:
        return 1.0
    pred_pairs: set[tuple[str, str]] = set()
    for _, grp in predicted.groupby("cluster_id"):
        ids = sorted(str(x) for x in grp.iloc[:, 0])
        for a_i in range(len(ids) - 1):
            for b_i in range(a_i + 1, len(ids)):
                pred_pairs.add((ids[a_i], ids[b_i]))
    return len(want & pred_pairs) / len(want)
