"""Spark signature operators: MinHash signatures + LSH band keys as
vectorized pandas UDFs (Arrow-batched; no per-row Python — BASELINE
input_hint requirement).

The UDF computes the signature AND its band keys in one pass so the
shingle hashing (the expensive part) runs once; the result is a struct
column, a pure projection with no shuffle (SURVEY.md §2 Part B,
"shingle hashing → bottom-k signature").
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..config import MinHashConfig, SimHashConfig
from ..functions.minhash import band_hashes, minhash_signatures
from ..functions.simhash import simhash_tokens
from ..session import conf_bytes

# int64 view of the all-ones empty-signature sentinel (uint64 max)
EMPTY_SLOT_I64 = -1


def minhash_signature_col(text_col: str, cfg: MinHashConfig) -> Column:
    """Column expression: struct(signature array<long>, bands array<long>)."""

    @pandas_udf("struct<signature: array<long>, bands: array<long>>")
    def _sig(texts: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for batch in texts:
            sigs = minhash_signatures(batch.tolist(), cfg)
            bands = band_hashes(sigs, cfg)
            sig_i64 = sigs.view(np.int64)
            band_i64 = bands.view(np.int64)
            yield pd.DataFrame(
                {
                    "signature": list(sig_i64),
                    "bands": list(band_i64),
                }
            )

    return _sig(F.col(text_col))


def simhash_col(text_col: str, cfg: SimHashConfig) -> Column:
    """64-bit token SimHash of a text column as LongType."""

    @pandas_udf("long")
    def _sim(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in texts:
            h = simhash_tokens(batch.tolist(), cfg)
            yield pd.Series(h.view(np.int64))

    return _sim(F.col(text_col))


def jaccard_from_signatures(sig_a: str, sig_b: str) -> Column:
    """Rowwise MinHash Jaccard estimate between two signature columns.

    Expressed with built-in higher-order functions (zip_with +
    aggregate) so it stays JVM-side inside whole-stage codegen — the
    verification filter never leaves the JVM.
    """
    matches = F.aggregate(
        F.zip_with(F.col(sig_a), F.col(sig_b), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return matches / F.size(F.col(sig_a))


def _resolve_direct_files(parquet_path: str):
    """Resolve (filesystem, [(file, size in bytes)]) for the direct read.

    Plain local paths keep the zero-dependency glob fast path (workers
    open plain paths; no filesystem object is shipped). Paths with a
    URI scheme (``file://``, ``s3://``, ``hdfs://``, ``gs://``, ...)
    resolve through ``pyarrow.fs.FileSystem.from_uri``; the resulting
    filesystem handle is returned and pickled into the worker closure
    (pyarrow filesystems pickle by construction), so driver listing
    and worker opens go through the same storage backend — no shared
    POSIX view required. Sizes come from the listing (a ``stat`` or
    the object store's file info); the driver opens no file, so it
    reads no parquet footer.
    """
    import glob as _glob
    import os as _os

    if "://" not in parquet_path:
        files = sorted(
            _glob.glob(_os.path.join(parquet_path, "*.parquet"))
            or _glob.glob(_os.path.join(parquet_path, "part-*"))
        )
        return None, [(f, _os.path.getsize(f)) for f in files]

    from pyarrow import fs as pafs

    filesystem, base = pafs.FileSystem.from_uri(parquet_path)
    infos = filesystem.get_file_info(pafs.FileSelector(base, recursive=False))
    sized = [
        (i.path, i.size)
        for i in infos
        if i.is_file
        and (i.base_name.endswith(".parquet") or i.base_name.startswith("part-"))
        and not i.base_name.startswith(("_", "."))
    ]
    return filesystem, sorted(sized)


def _file_scan_bins(spark, sized_files) -> list[list[tuple[str, int, int]]]:
    """Spark's file-scan split plan for ``[(file, size)]``: one list of
    ``(file, start, length)`` byte ranges per task.

    The rule of ``FilePartition`` in Spark SQL, from Spark's existing
    settings: the split size is ``min(maxPartitionBytes, max(
    openCostInBytes, total / minPartitionNum))``, where ``total`` sums
    every file's size plus the open cost and ``minPartitionNum``
    defaults to the leaf-node (default) parallelism. Files cut into
    split-size ranges; the ranges, largest first, fill tasks in order
    and a task closes when the next range would take it past the split
    size (each range also counts the open cost). So the task count
    equals ``spark.read.parquet(path).rdd.getNumPartitions()`` on the
    same files, and zero-byte files get no range.
    """
    conf = spark.conf
    max_bytes = conf_bytes(spark, "spark.sql.files.maxPartitionBytes")
    open_cost = conf_bytes(spark, "spark.sql.files.openCostInBytes")
    min_parts = int(
        conf.get("spark.sql.files.minPartitionNum", None)
        or conf.get("spark.sql.leafNodeDefaultParallelism", None)
        or spark.sparkContext.defaultParallelism
    )
    total = sum(size + open_cost for _, size in sized_files)
    split = min(max_bytes, max(open_cost, total // min_parts))
    ranges = [
        (f, start, min(split, size - start))
        for f, size in sized_files
        for start in range(0, size, split)
    ]
    ranges.sort(key=lambda r: -r[2])  # stable: listing order breaks ties
    bins: list[list[tuple[str, int, int]]] = []
    current: list[tuple[str, int, int]] = []
    used = 0
    for r in ranges:
        if current and used + r[2] > split:
            bins.append(current)
            current, used = [], 0
        current.append(r)
        used += r[2] + open_cost
    if current:
        bins.append(current)
    return bins


def _row_groups_in_range(metadata, start: int, length: int) -> list[int]:
    """Row groups of a parquet file that the byte range ``[start, start
    + length)`` reads: those whose midpoint falls inside it, parquet-mr's
    rule. A row group starts at its first column chunk's first page
    (dictionary or data) and spans its chunks' compressed sizes, so the
    ranges that tile a file read each row group exactly once."""
    picked = []
    for i in range(metadata.num_row_groups):
        rg = metadata.row_group(i)
        first = rg.column(0)
        offset = first.data_page_offset
        if first.has_dictionary_page:
            offset = min(offset, first.dictionary_page_offset)
        size = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
        if start <= offset + size // 2 < start + length:
            picked.append(i)
    return picked


def signatures_direct(
    spark,
    parquet_path: str,
    minhash_cfg: MinHashConfig | None = None,
    simhash_cfg: SimHashConfig | None = None,
    rows_per_batch: int = 2048,
) -> "DataFrame":
    """One-pass signature stage reading parquet file splits DIRECTLY in
    the Python workers (pyarrow), bypassing the JVM for the pixel
    payload.

    Motivation (measured, local[32], 200k rows / 3.1 GB ``bytes``):
    routing binary columns scan→UnsafeRow→Arrow→worker moves every
    image through two serialization hops; even with the tuned reader
    batch size the JVM path did ~460-4600 img/s and *degraded* with
    concurrency, while workers reading their own file splits sustain
    ~15k img/s and scale linearly. At 100 TB this is the difference
    between a day and an hour per pass — the standard production
    pattern for tensor/binary payloads (Petastorm/DALI-style): Spark
    schedules the files, Python reads them column-pruned.

    Output per row: (image_id, phash long, phash_computed long,
    pixel_simhash long, decode_ok boolean, signature array<long>,
    bands array<long>) — everything downstream (LSH, verification,
    CC) needs; the pixels never leave the worker.

    Filesystem contract: a plain local path lists with a driver-side
    glob and workers open plain paths (the sandbox fast path); a URI
    path (``file://``, ``s3://``, ``hdfs://``, ``gs://``) resolves via
    ``pyarrow.fs.FileSystem.from_uri`` and the filesystem handle rides
    the worker closure, so the same code runs against an object store
    with no shared POSIX view (`_resolve_direct_files`).

    Worker memory contract: files are streamed with
    ``ParquetFile.iter_batches`` (``rows_per_batch`` rows per kernel
    batch, one row group resident at a time) instead of a whole-file
    ``read_table`` — peak worker memory is bounded by the writer's row
    group size, not the file size, so 1 GB-file × 32-concurrent-task
    layouts cannot OOM the Python workers. Per-row outputs are
    unchanged by the chunking (every kernel is per-row deterministic;
    equivalence-tested against the JVM-read pipeline).

    Task plan: the splits and their count are the ones Spark's own
    parquet scan plans for the same files (`_file_scan_bins`, driven by
    ``spark.sql.files.maxPartitionBytes``, ``openCostInBytes`` and
    ``minPartitionNum``): small files pack into tasks of about
    ``total bytes / minPartitionNum`` (one wave, one task per core by
    default), and a file larger than the split size is cut into byte
    ranges, each task reading the row groups whose midpoint falls in its
    ranges (`_row_groups_in_range`, evaluated on the worker). The driver
    lists file sizes and reads no footers. The task frame is generated on
    the JVM (``spark.range``, one row ``id = task`` per partition; each
    task looks its ranges up in the closure), so each task launches
    exactly one Python worker (session.py's module notes give the
    measured per-task cost).
    """
    mh = minhash_cfg or MinHashConfig()
    sh = simhash_cfg or SimHashConfig()
    filesystem, sized_files = _resolve_direct_files(parquet_path)
    if not sized_files:
        raise ValueError(f"no parquet files under {parquet_path}")
    bins = _file_scan_bins(spark, sized_files)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow.parquet as pq

        from ..functions.phash import (
            downscale_batch,
            phash64_i64_batch_from_grays,
            to_gray,
        )
        from ..functions.simhash import simhash_vectors
        from ..sources.png import decode_image

        cols = ["image_id", "bytes", "fmt", "caption", "phash"]
        for pdf in batches:
            for path, start, length in (r for t in pdf["id"] for r in bins[t]):
                source = filesystem.open_input_file(path) if filesystem else path
                reader = pq.ParquetFile(source)
                row_groups = _row_groups_in_range(reader.metadata, start, length)
                if not row_groups:
                    continue
                for tbl in reader.iter_batches(
                    batch_size=rows_per_batch, columns=cols, row_groups=row_groups
                ):
                    if tbl.num_rows == 0:
                        continue
                    ids = tbl["image_id"].to_pylist()
                    fmts = tbl["fmt"].to_pylist()
                    raws = tbl["bytes"].to_pylist()
                    phs = tbl["phash"].to_pylist()
                    captions = tbl["caption"].to_pylist()
                    # decode per image (zlib is inherently per-buffer);
                    # feature downscale + phash run BATCHED over
                    # same-size luma groups (bit-identical to the
                    # per-image path, ~1.4x on the phash step)
                    grays, oks = [], []
                    for data, fmt in zip(raws, fmts):
                        try:
                            grays.append(to_gray(decode_image(data, fmt)))
                            oks.append(True)
                        except Exception:
                            grays.append(None)
                            oks.append(False)
                    n_rows = len(grays)
                    ok_idx = [i for i, g in enumerate(grays) if g is not None]
                    feats = np.zeros((n_rows, 64), dtype=np.float64)
                    phc = np.zeros(n_rows, dtype=np.int64)
                    if ok_idx:
                        ok_grays = [grays[i] for i in ok_idx]
                        feats[ok_idx] = downscale_batch(ok_grays, 8)
                        phc[ok_idx] = phash64_i64_batch_from_grays(ok_grays)
                    sim = (
                        simhash_vectors(feats, sh).view(np.int64)
                        if n_rows
                        else np.zeros(0, dtype=np.int64)
                    )
                    sigs = minhash_signatures(captions, mh)
                    bands = band_hashes(sigs, mh)
                    yield pd.DataFrame(
                        {
                            "image_id": ids,
                            "phash": pd.array(phs, dtype="int64"),
                            "phash_computed": pd.array(phc, dtype="int64"),
                            "pixel_simhash": pd.array(list(sim), dtype="int64"),
                            "decode_ok": oks,
                            "signature": list(sigs.view(np.int64)),
                            "bands": list(bands.view(np.int64)),
                        }
                    )

    schema = (
        "image_id string, phash long, phash_computed long, pixel_simhash long, "
        "decode_ok boolean, signature array<long>, bands array<long>"
    )
    return spark.range(len(bins), numPartitions=len(bins)).mapInPandas(compute, schema)
