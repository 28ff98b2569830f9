"""Trace-only probes: Spark-free kernel timings, the sketch-aggregation
suite and the incremental stream. Each returns its metrics and the
number of its output checks that failed."""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


KERNEL_REPEATS = 3  # a kernel timing is the best of this many calls
KERNEL_ROWS = 256  # input rows the signature kernels are timed on


def _best_s(fn) -> float:
    best = float("inf")
    for _ in range(KERNEL_REPEATS):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def pipeline_kernels(input_dir: str) -> dict[str, float]:
    """Single-thread microseconds per row of the signature kernels on
    the first ``KERNEL_ROWS`` rows of the workload's input."""
    from datasketches_rust_spark.config import MinHashConfig, SimHashConfig
    from datasketches_rust_spark.functions.minhash import band_hashes, minhash_signatures
    from datasketches_rust_spark.functions.phash import (
        downscale_batch,
        phash64_i64_batch_from_grays,
        to_gray,
    )
    from datasketches_rust_spark.functions.simhash import simhash_vectors
    from datasketches_rust_spark.sources.png import decode_image

    first = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))[0]
    tbl = pq.read_table(os.path.join(input_dir, first), columns=["bytes", "fmt", "caption"])
    tbl = tbl.slice(0, KERNEL_ROWS)
    raws, fmts = tbl["bytes"].to_pylist(), tbl["fmt"].to_pylist()
    captions = tbl["caption"].to_pylist()
    n = len(raws)
    mh, sh = MinHashConfig(), SimHashConfig()
    imgs = [decode_image(d, f) for d, f in zip(raws, fmts)]
    grays = [to_gray(i) for i in imgs]
    feats = downscale_batch(grays, 8)

    def phash():
        gs = [to_gray(i) for i in imgs]
        downscale_batch(gs, 8)
        phash64_i64_batch_from_grays(gs)

    us = 1e6 / n
    return {
        "sources.png.decode_us_per_row": us
        * _best_s(lambda: [decode_image(d, f) for d, f in zip(raws, fmts)]),
        "functions.phash.us_per_row": us * _best_s(phash),
        "functions.simhash.us_per_row": us * _best_s(lambda: simhash_vectors(feats, sh)),
        "functions.minhash.us_per_row": us
        * _best_s(lambda: band_hashes(minhash_signatures(captions, mh), mh)),
    }


def sketch_kernels(table: pd.DataFrame) -> dict[str, float]:
    """Single-thread million items per second of each sketch family's
    batch update on the suite's item column."""
    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.functions.bloom import BloomFilter
    from datasketches_rust_spark.functions.countmin import CountMinSketch
    from datasketches_rust_spark.functions.cpc import CpcSketch
    from datasketches_rust_spark.functions.frequencies import FrequentItemsSketch
    from datasketches_rust_spark.functions.hll import HllSketch
    from datasketches_rust_spark.functions.tdigest import TDigest
    from datasketches_rust_spark.functions.theta import ThetaSketch, hash_series

    items = table["item"].to_numpy(np.int64)
    series = pd.Series(items)
    as_str = series.astype(str)
    weights = table["w"].to_numpy(np.int64)
    values = table["v"].to_numpy(np.float64)
    tcfg = ThetaConfig()
    runs = {
        "theta": lambda: ThetaSketch.from_hashes(hash_series(series, tcfg, integral=True), tcfg),
        "hll": lambda: HllSketch.from_coupons(HllSketch.coupons_from_u64s(items), 12),
        "cpc": lambda: CpcSketch.from_coupons(CpcSketch.coupons_from_u64s(items), 11),
        "frequencies": lambda: FrequentItemsSketch(64).update_batch(as_str),
        "tdigest": lambda: TDigest(200).update_batch(values),
        "countmin": lambda: CountMinSketch(3, 16384).update_batch(items, weights),
        "bloom": lambda: BloomFilter.with_accuracy(len(items), 0.01).insert_batch(items),
    }
    return {
        f"functions.{name}.update_mitems_per_s": len(items) / _best_s(fn) / 1e6
        for name, fn in runs.items()
    }


# relative standard error of each distinct-count family at the suite's
# sizes: theta 1/sqrt(k-1) (lg_k 12) once out of exact mode, HLL
# 1.04/sqrt(k) (lg_k 12), CPC 0.7/sqrt(k) (lg_k 11, ICON after merge,
# rounded up from the asymptotic 0.59/sqrt(k)). sigma is floored at one
# count: a tiny count is discrete, and one register collision among a
# dozen items costs one (HLL reads 12.0 for 13 items)
_RSE = {"theta": 1 / np.sqrt(4095), "hll": 1.04 / 64, "cpc": 0.7 / np.sqrt(2048)}


def sketch_suite(spark, table_dir: str, table: pd.DataFrame) -> tuple[dict, int, int]:
    """Run every sketch aggregation once over the table, each under its
    own job description, and check each output against exact pandas
    answers. Returns (metrics, number of checks, names of failed ones)."""
    from datasketches_rust_spark.operators import sketch_aggs as sa

    sc = spark.sparkContext
    df = spark.read.parquet(table_dir)
    exact_distinct = table.groupby("k")["item"].nunique()
    failed: list[str] = []
    times: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(f"operators.sketch_aggs.{name}")
        t0 = time.perf_counter()
        out = fn()
        times[name] = time.perf_counter() - t0
        return out

    def within_3sigma(pdf, col, family) -> bool:
        est = pdf.set_index("k")[col].reindex(exact_distinct.index)
        tol = 3 * np.maximum(_RSE[family] * exact_distinct, 1.0)
        return bool(((est - exact_distinct).abs() <= tol).all())

    def check(name, ok):
        if not ok:
            failed.append(name)

    theta = timed("theta", lambda: sa.theta_distinct_by_key(df, "k", "item").toPandas())
    check("theta", within_3sigma(theta, "distinct_estimate", "theta"))
    hll = timed("hll", lambda: sa.hll_distinct_by_key(df, "k", "item").toPandas())
    check("hll", within_3sigma(hll, "hll_estimate", "hll"))
    cpc = timed("cpc", lambda: sa.cpc_distinct_by_key(df, "k", "item").toPandas())
    check("cpc", within_3sigma(cpc, "cpc_estimate", "cpc"))

    fi = timed("frequent_items", lambda: sa.frequent_items_by_key(df, "k", "item").toPandas())
    exact_counts = table.groupby(["k", "item"]).size()
    true = exact_counts.reindex(
        pd.MultiIndex.from_arrays([fi["k"], fi["item"].astype(np.int64)])
    ).fillna(0).to_numpy()
    check("frequent_items", bool(
        ((fi["lower_bound"].to_numpy() <= true) & (true <= fi["upper_bound"].to_numpy())).all()
    ))

    td = timed("tdigest", lambda: sa.tdigest_stats(df, "v").toPandas())
    check("tdigest", bool(
        td["min_value"].iloc[0] == table["v"].min()
        and td["max_value"].iloc[0] == table["v"].max()
        and td["total_weight"].iloc[0] == len(table)
    ))

    cm = timed("countmin", lambda: sa.countmin_weights_by_key(df, "k", "w").toPandas())
    exact_w = table.groupby("k")["w"].sum()
    est = cm.set_index("k").reindex(exact_w.index)
    # Count-Min never undercounts and overcounts by at most
    # relative_error x total weight, the gap it reports as upper_bound
    err = est["est_weight"] - exact_w
    check("countmin", bool(
        len(cm) == len(exact_w)
        and ((err >= 0) & (err <= est["upper_bound"] - est["est_weight"])).all()
    ))

    from datasketches_rust_spark.functions.bloom import BloomFilter

    blob = timed("bloom", lambda: sa.bloom_build(df, "item", 60_000, 0.01))
    present = BloomFilter.deserialize(blob).contains_batch(
        np.unique(table["item"].to_numpy(np.int64))
    )
    check("bloom", bool(present.all()))

    from datasketches_rust_spark.config import ThetaConfig

    sc.setJobDescription("trace.count")
    partials = sa.theta_partial_sketches(df, "k", "item", ThetaConfig()).collect()
    partial_kb = sum(len(r.sketch) for r in partials) / 1024
    sc.setJobDescription(None)

    metrics = {f"operators.sketch_aggs.{k}_s": v for k, v in times.items()}
    metrics["operators.sketch_aggs.partial_blob_kb"] = partial_kb
    metrics["operators.sketch_aggs.rows_per_s"] = len(table) / sum(times.values())
    return metrics, 7, failed


def incremental_stream(spark, rows: pd.DataFrame, batch_rows: int, state_dir: str):
    """Drain ``rows`` through ``IncrementalNearDup.process_batch`` in a
    closed loop (one caller; the next micro-batch is sent when the
    previous call returns), then check the drained clusters against
    ``near_dup_text_clusters`` on the same rows. Returns (metrics,
    latencies, attempted, failed, cc_stats)."""
    from datasketches_rust_spark.operators.dedup import near_dup_text_clusters
    from datasketches_rust_spark.streaming.incremental import IncrementalNearDup

    from .inputs import cluster_digest
    from .trace import cc_stats_capture

    sc = spark.sparkContext
    rows = rows[["image_id", "caption"]].reset_index(drop=True)
    inc = IncrementalNearDup(state_dir)
    lat: list[float] = []
    stats: list[dict] = []
    with cc_stats_capture(stats):
        for i, lo in enumerate(range(0, len(rows), batch_rows)):
            batch = spark.createDataFrame(rows.iloc[lo : lo + batch_rows])
            sc.setJobDescription(f"streaming.incremental.batch-{i}")
            t0 = time.perf_counter()
            inc.process_batch(batch, i)
            lat.append(time.perf_counter() - t0)
    sc.setJobDescription("trace.check")
    drained = inc.clusters(spark).toPandas().rename(columns={"id": "image_id"})
    batch = (
        near_dup_text_clusters(spark.createDataFrame(rows), "image_id", "caption")
        .toPandas()
        .rename(columns={"id": "image_id"})
    )
    sc.setJobDescription(None)
    failed = int(cluster_digest(drained) != cluster_digest(batch))
    state_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(state_dir) for f in fs
    )
    metrics = {
        "streaming.incremental.rows_per_s": len(rows) / sum(lat),
        "streaming.incremental.microbatch_p50_s": statistics.median(lat),
        "streaming.incremental.batch_growth": lat[-1] / lat[1] if len(lat) > 1 else 1.0,
        "streaming.incremental.state_mb": state_bytes / 2**20,
    }
    return metrics, lat, len(lat), failed, stats
