"""Measure the DISTRIBUTED connected-components loop on the real
multimodal edge set — the number VERDICT r4 flagged as extrapolated.

At sandbox scale the edge-count gate (driver_max_edges) routes every
query to the driver NumPy path, so the distributed path was
equivalence-tested but never *measured* on production edges. This
tool runs the full from_path pipeline's verified-edge stage over the
deterministic bench image table (bench._gen_image_input), then drives
``connected_components`` twice on those edges — forced-distributed
(driver_max_edges=0) and driver path — recording for each: wall
seconds; for the distributed path its contraction rounds and the
active-edge count after each (``active_edges``: the raw canonical
count first; rounds 0 means the one-task finish solved it);
undirected edge / vertex / cluster counts, and the shuffle read+write
bytes of the distributed window (from the Spark UI REST API, enabled
just for this tool). Both label sets are asserted identical before
anything is printed.

Weather: absolute seconds carry the standard probe stamps; the
distributed/driver RATIO and the per-round decomposition are the
scale-relevant outputs and are weather-fair within one window.

Usage: python tools/cc_distributed_bench.py [--rows 200000] [--cpus 32]
Prints one JSON line; callers record it in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = 4057


def _shuffle_bytes(app_base: str) -> tuple[int, int]:
    """Sum (read, write) shuffle bytes over all completed stages."""
    with urllib.request.urlopen(app_base + "/stages", timeout=10) as r:
        stages = json.load(r)
    rd = sum(s.get("shuffleReadBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return rd, wr


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()

    import bench
    from pyspark.sql import SparkSession
    from datasketches_rust_spark.operators.connected_components import (
        connected_components,
    )
    from datasketches_rust_spark.operators.dedup import (
        multimodal_verified_edges_from_path,
    )
    from datasketches_rust_spark.session import apply_engine_conf, default_driver_memory

    path = bench._gen_image_input(args.rows)
    fault0, cpu0 = bench._host_fault_probe(), bench._host_cpu_probe()

    builder = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("cc-distributed-bench")
        .config("spark.sql.shuffle.partitions", str(args.cpus * 2))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.driver.memory", default_driver_memory())
    )
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        os.makedirs("/dev/shm/spark-local", exist_ok=True)
        builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
    spark = apply_engine_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId
    # uiWebUrl, not the requested UI_PORT: on a port collision Spark
    # binds port+1..+16 (spark.port.maxRetries) and every REST call to
    # the constant would 404 minutes into the run
    ui = spark.sparkContext.uiWebUrl or f"http://localhost:{UI_PORT}"
    app_base = f"{ui}/api/v1/applications/{app_id}"

    try:
        bench.warmup(spark)
        _, verified, cfg = multimodal_verified_edges_from_path(spark, path)
        # materialize the edge set ONCE so both CC runs time only CC
        edges = verified.localCheckpoint(eager=True)
        n_edges_raw = edges.count()

        # forced-distributed loop (the 10^12 path)
        rd0, wr0 = _shuffle_bytes(app_base)
        dstats: dict = {}
        t0 = time.perf_counter()
        dist = connected_components(
            edges, "a", "b", cfg.max_cc_iterations, driver_max_edges=0, stats=dstats
        )
        dist_rows = dist.collect()
        dist_sec = time.perf_counter() - t0
        rd1, wr1 = _shuffle_bytes(app_base)

        # driver NumPy path on the same edges — FORCED past the gate
        # (driver_max_edges=raw count) so a --rows large enough to
        # exceed the default 2M-edge gate can't silently measure
        # distributed-vs-distributed and report a meaningless ~1.0 ratio
        sstats: dict = {}
        t0 = time.perf_counter()
        drv = connected_components(
            edges, "a", "b", cfg.max_cc_iterations,
            driver_max_edges=max(n_edges_raw, 1), stats=sstats,
        )
        drv_rows = drv.collect()
        drv_sec = time.perf_counter() - t0
        assert sstats.get("path") == "driver", sstats

        assert sorted(map(tuple, dist_rows)) == sorted(map(tuple, drv_rows)), (
            "distributed and driver CC labelings differ"
        )
        n_vertices = len(drv_rows)
        n_clusters = len({r[1] for r in drv_rows})
    finally:
        spark.stop()

    rounds = dstats.get("rounds", -1)
    out = {
        "metric": "cc_distributed_vs_driver",
        "rows": args.rows,
        "cpus": args.cpus,
        "edges_raw": n_edges_raw,
        "canonical_edges_raw": sstats.get("canonical_edges_raw"),
        "vertices": n_vertices,
        "clusters": n_clusters,
        "distributed": {
            "sec": round(dist_sec, 2),
            "rounds": rounds,
            "active_edges": dstats.get("active_edges"),
            "sec_per_round": round(dist_sec / max(1, rounds), 2),
            "shuffle_read_mb": round((rd1 - rd0) / 1e6, 1),
            "shuffle_write_mb": round((wr1 - wr0) / 1e6, 1),
        },
        "driver": {"sec": round(drv_sec, 2)},
        "labels_identical": True,
        "host_fault_s": [fault0, bench._host_fault_probe()],
        "host_cpu_s": [cpu0, bench._host_cpu_probe()],
    }
    print(json.dumps(out, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
