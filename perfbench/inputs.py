"""Seeded inputs for the benchmark workloads and the checks on outputs.

Every generator is a pure function of its seed. The engine only ever
sees the parquet files written here; the planted truth stays with the
harness.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

INPUT_COLS = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def write_parquet(rows: pd.DataFrame, out_dir: str, files: int, row_group: int = 512) -> None:
    """Split ``rows`` into ``files`` contiguous parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    tbl = pa.Table.from_pandas(rows, preserve_index=False)
    bounds = np.linspace(0, len(rows), files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        pq.write_table(
            tbl.slice(lo, hi - lo), os.path.join(out_dir, f"part-{i:05d}.parquet"),
            row_group_size=row_group,
        )


def table_digest(rows: pd.DataFrame, cols) -> str:
    """sha256 over the given columns, rows sorted by their first column."""
    h = hashlib.sha256()
    for row in rows.sort_values(cols[0])[cols].itertuples(index=False):
        for v in row:
            h.update(v if isinstance(v, bytes) else repr(v).encode())
            h.update(b"\x1f")
    return h.hexdigest()


def imagegen_input(spark, n: int, seed: int, out_dir: str, files: int) -> pd.DataFrame:
    """The engine's planted-cluster image+caption generator (cluster
    sizes {1,1,1,2,3,5,8}), run executor-side, written to ``out_dir``
    without the truth column. Returns the truth frame
    ``(image_id, true_cluster)``."""
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    df = generate_image_caption_df(
        spark, n, seed=seed, partitions=files, with_truth=True
    ).localCheckpoint(eager=True)
    df.select(*INPUT_COLS).write.mode("overwrite").parquet(out_dir)
    truth = df.select("image_id", "true_cluster").toPandas()
    df.unpersist()
    return truth


def imagegen_slice(n: int, seed: int, out_dir: str) -> None:
    """A small driver-side slice of the same generator (warm-up input)."""
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_table

    write_parquet(generate_image_caption_table(n, seed=seed).rows[INPUT_COLS], out_dir, 1)


_VOCAB = np.array([f"w{i:04d}" for i in range(4000)])
CAPTION_LEN = 28  # tokens
# above the engine's max_bucket_size (256), so LSH salts these buckets
BOILERPLATE_ROWS = 300
# rows per near-duplicate caption chain. Longer chains need more
# distributed CC rounds, and the engine's loop stalls beyond about 10
# rounds (Catalyst size estimates grow with every checkpointed round)
CHAIN_LEN = 8
SKETCH_KEYS = 64


def caption_skew_table(
    n: int, seed: int, boilerplates: int = 3, chain_share: float = 0.4
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Caption-skewed image+caption rows with planted truth.

    * ``boilerplates`` captions each repeated on ``BOILERPLATE_ROWS``
      rows: every text band bucket of such a caption holds that many
      rows, so LSH takes the salted-chain path;
    * near-duplicate caption chains of ``CHAIN_LEN`` rows, each caption
      one token replacement away from the previous one, so a chain is
      one true cluster of large diameter (adjacent 3-shingle Jaccard
      about 0.8, far ends unrelated);
    * the remaining rows carry unrelated random captions.

    Images are small random 16x16 PNGs, distinct per row, so every true
    duplicate link is a caption link and signatures are cheap. Row order
    and ids are shuffled so clusters interleave.
    """
    from datasketches_rust_spark.functions.phash import phash64_i64
    from datasketches_rust_spark.sources.png import decode_image, encode_image

    rng = np.random.default_rng(seed)
    captions: list[str] = []
    truth: list[int] = []
    cluster = 0
    for _ in range(boilerplates):
        text = " ".join(rng.choice(_VOCAB, size=CAPTION_LEN))
        captions += [text] * BOILERPLATE_ROWS
        truth += [cluster] * BOILERPLATE_ROWS
        cluster += 1
    n_chained = int((n - len(captions)) * chain_share) // CHAIN_LEN * CHAIN_LEN
    for _ in range(n_chained // CHAIN_LEN):
        toks = list(rng.choice(_VOCAB, size=CAPTION_LEN))
        for _ in range(CHAIN_LEN):
            captions.append(" ".join(toks))
            truth.append(cluster)
            toks[int(rng.integers(CAPTION_LEN))] = str(rng.choice(_VOCAB))
        cluster += 1
    while len(captions) < n:
        captions.append(" ".join(rng.choice(_VOCAB, size=CAPTION_LEN)))
        truth.append(cluster)
        cluster += 1
    captions, truth = captions[:n], truth[:n]
    order = rng.permutation(n)
    images = rng.integers(0, 256, size=(n, 16, 16, 3), dtype=np.uint8)
    data = [encode_image(images[i], "png") for i in range(n)]
    rows = pd.DataFrame(
        {
            "image_id": [f"cap_{i:08d}" for i in range(n)],
            "bytes": data,
            "w": np.full(n, 16, dtype=np.int32),
            "h": np.full(n, 16, dtype=np.int32),
            "fmt": "png",
            "caption": [captions[j] for j in order],
            "phash": [phash64_i64(decode_image(d, "png")) for d in data],
        }
    )
    truth_df = pd.DataFrame(
        {"image_id": rows["image_id"], "true_cluster": [f"t{truth[j]}" for j in order]}
    )
    return rows, truth_df


def sketch_table(n: int, seed: int) -> pd.DataFrame:
    """Zipf-skewed ``(k, item, w, v)`` rows for the sketch aggregations:
    the hottest key holds about a third of the rows, so some keys run
    the sketches in estimation mode and most in exact mode."""
    rng = np.random.default_rng(seed)
    k = (rng.zipf(1.3, n) - 1) % SKETCH_KEYS
    item = rng.integers(0, 60_000, n)
    return pd.DataFrame(
        {
            "k": k.astype(np.int64),
            "item": item.astype(np.int64),
            "w": (item % 7 + 1).astype(np.int64),
            "v": rng.lognormal(3.0, 1.0, n),
        }
    )


def read_captions(input_dir: str) -> pd.DataFrame:
    """``(image_id, caption)`` of an input, in id order."""
    rows = pq.read_table(input_dir, columns=["image_id", "caption"]).to_pandas()
    return rows.sort_values("image_id", ignore_index=True)


def read_clusters(out_dir: str) -> pd.DataFrame:
    return pq.read_table(out_dir, columns=["image_id", "cluster_id"]).to_pandas()


def cluster_digest(clusters: pd.DataFrame) -> str:
    """Order-free digest of an ``(image_id, cluster_id)`` assignment."""
    h = hashlib.sha256()
    for a, c in sorted(zip(clusters["image_id"], clusters["cluster_id"])):
        h.update(f"{a}\x1f{c}\n".encode())
    return h.hexdigest()


def pair_recall(clusters: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of planted duplicate pairs that land in one output cluster.
    Counted per (true cluster, output cluster) cell, so a planted
    cluster of m rows costs O(m), not O(m^2). Rows missing from the
    output count as singletons."""
    m = truth.merge(clusters, on="image_id", how="left")
    m["cluster_id"] = m["cluster_id"].fillna(m["image_id"])

    def pairs(sizes: pd.Series) -> int:
        s = sizes.to_numpy(np.int64)
        return int((s * (s - 1) // 2).sum())

    want = pairs(m.groupby("true_cluster").size())
    got = pairs(m.groupby(["true_cluster", "cluster_id"]).size())
    return got / want if want else 1.0
