"""Recommended SparkSession configuration for this engine.

These settings are part of the engine's scale contract — they were
measured, not guessed (numbers from local[32] on the 200k-row / 3.1 GB
generated image+caption table, see BASELINE.md bench protocol):

* ``spark.sql.parquet.columnarReaderBatchSize = 256`` — the vectorized
  parquet reader allocates ``batchSize × avg_value_size`` per binary
  column batch; at the default 4096 a ~16 KB-avg image ``bytes`` column
  makes ~64 MB column vectors that grow by re-allocation, collapsing
  scan throughput ~30×: 181 s vs 5.7 s for one 3.1 GB scan. 256 keeps
  vectorization for numeric tables while bounding binary batches.
  (At 10^12 rows the same math applies per executor core — this is a
  production setting, not a sandbox workaround.)
* ``spark.sql.execution.arrow.maxRecordsPerBatch = 2048`` — bounds the
  pandas-UDF Arrow batch for wide binary rows (default 10k rows ×
  16 KB ≈ 160 MB per batch per worker).
* AQE on (coalescing + skew-join splitting are the north rule's
  "AQE-driven skew mitigation").

Cost of a Python task. Every Spark task that runs Python (a pandas UDF,
``mapInPandas``, or a Python RDD feeding either) sets up its worker with
``importlib.invalidate_caches()``. Under CPython 3.11 that re-reads the
central directory of every zip on the worker's ``sys.path``; with a
Spark distribution's ``pyspark.zip`` and ``spark-core`` jar there, that
is 16 zipimporters and about 26,700 entries. Measured on a 4-core host
(CPython 3.11.7, Spark 4.1.2): 0.25–0.39 s per task, about 250 ms for a
no-op task on an idle ``local[1]``. A plan pays this once per Python
task, so the engine's own Python task plans (the direct-read signature
stage, the generators) run on task frames generated on the JVM
(``spark.range(n, numPartitions=n)``, one row per task; a Python RDD
would add a second Python worker per task), and the signature stage launches no more tasks than Spark's own
file scan would plan for the same input.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
}


def apply_engine_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder


def conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size Spark setting (``"128MB"``, ``"4194304b"``, ...) in
    bytes, parsed the way Spark parses it."""
    return spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get(key)
    )


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set the Spark SQL ``settings`` (key → value) for the block, then
    restore each key's previous value; a key that was unset is unset
    again."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def default_driver_memory() -> str:
    """Half of the host's available memory (``MemAvailable``), at least
    1 GB. In local mode the driver JVM also runs the executors; the
    other half is left to the Python workers and the OS."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemAvailable:"))
    except (OSError, StopIteration):
        return "4g"
    return f"{max(kb // 2 // 1024, 1024)}m"


def ensure_min_partitions(df, target: int | None = None):
    """Repartition a DataFrame up to ``target`` (default: cluster
    parallelism) ONLY if it has fewer partitions.

    Heavy vectorized-UDF stages are CPU-bound, and a small parquet file
    with one row group is unsplittable — without this, a fingerprint or
    signature pass runs on ONE core no matter how many the cluster has
    (measured 8 s vs ~1 s for the substring fingerprint stage at
    sf0.1). Big inputs (>= cores partitions, the 100 TB case) pass
    through untouched, so there is no added shuffle at scale.
    """
    df, _ = ensure_min_partitions_counted(df, target)
    return df


def ensure_min_partitions_counted(df, target: int | None = None):
    """Like :func:`ensure_min_partitions`, but also returns the
    resulting partition count. The count is knowable HERE for free (the
    input is a scan/select whose partitioning is static); computing it
    later on the mapInPandas output via ``.rdd.getNumPartitions()``
    makes AQE materialize the upstream exchange — a full extra
    scan+shuffle before the real job (measured ~2× on
    theta_distinct_prices at sf0.1, round 3)."""
    target = target or df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target), target
    return df, n


def make_local_session(
    cpus: int,
    shuffle_partitions: int | None = None,
    app_name: str = "datasketches-rust-spark",
    driver_memory: str | None = None,
    default_parallelism: int | None = None,
) -> SparkSession:
    """``default_parallelism`` is AQE's coalescing target: post-shuffle
    partitions are packed into ~``totalBytes / defaultParallelism``
    bins, so one skewed bin per core leaves cores idle behind the
    straggler. Passing ``cpus * 4`` gives skewed reduce stages 4 bins
    per core to balance over — measured on the 300k-image pipeline at
    8 cores: 48.0 s → 39.1 s, every reduce stage ≥ 7.0/8 utilization
    (round-5 stage audit, BASELINE.md). It is a *workload-size* knob,
    not a universal win: the same setting measured 22% SLOWER on a
    10-query sf0.1 headline subset at 32 cores (small inputs, task
    overhead dominates), so the default stays Spark's cores=bins and
    only large-input callers (bench.py scaling runs) opt in.

    ``driver_memory`` defaults to :func:`default_driver_memory`."""
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus * 2))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory or default_driver_memory())
    )
    if default_parallelism:
        builder = builder.config("spark.default.parallelism", str(default_parallelism))
    # Route shuffle/spill files to tmpfs when available: this host's
    # disk writeback degrades in phases (measured <8 MB/s for a
    # fsync'd 1 GB write while reads ran at 1.7 GB/s), which inflated
    # shuffle-heavy stages up to 2× while CPU-bound stages were
    # unaffected. Shuffle data at sandbox scale is MBs–GBs vs 126 GB
    # of tmpfs; on a real cluster local dirs are NVMe-backed and this
    # env-dependent default simply doesn't fire. ``SPARK_LOCAL_DIRS``
    # opts out: Spark uses those dirs and nothing is created here.
    if "SPARK_LOCAL_DIRS" not in os.environ and os.path.isdir("/dev/shm"):
        shm_dir = "/dev/shm/spark-local"
        os.makedirs(shm_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", shm_dir)
    return apply_engine_conf(builder).getOrCreate()
