"""Benchmark harness for the near-duplicate pipeline.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Runs one workload (see ``WORKLOADS`` and perfbench/README.md) from the
root of a source checkout, checks every output, and prints as its last
stdout line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the traced variant and reports the per-layer metrics. The line
before it is a ``perfbench-detail`` JSON record of the run (pass times,
digests, host-weather stamp). ``--smoke`` uses tiny inputs.

Everything the run writes goes under ``.perfbench_work/`` in the
current directory and is deleted before exit.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SHM_LOCAL = "/dev/shm/spark-local"  # created by session.make_local_session


@dataclass(frozen=True)
class Workload:
    input: str  # "imagegen" or "caption-skew"
    at_scale: bool  # cc_driver_max_edges = broadcast_verify_max_rows = 0
    rows: int
    smoke_rows: int


WORKLOADS = {
    "multimodal-direct": Workload("imagegen", False, rows=4000, smoke_rows=160),
    "caption-skew-at-scale": Workload("caption-skew", True, rows=3000, smoke_rows=700),
}
INPUT_FILES = 8


def _cfg(at_scale: bool):
    from datasketches_rust_spark.config import DedupConfig

    cfg = DedupConfig()
    return replace(cfg, cc_driver_max_edges=0, broadcast_verify_max_rows=0) if at_scale else cfg


class Spark:
    """The harness's SparkSessions. The first ``start`` launches the JVM;
    later ones restart the SparkContext inside it. ``event_log`` turns
    Spark's event log on for the next context, through JVM system
    properties, since ``make_local_session`` takes no extra settings."""

    def __init__(self, cores: int, memory: str):
        self.cores, self.memory = cores, memory
        self.session = None
        self.proc = None

    def start(self, event_log: str | None = None):
        from pyspark import SparkContext

        from datasketches_rust_spark.session import make_local_session

        if SparkContext._jvm is not None:
            props = SparkContext._jvm.java.lang.System
            if event_log:
                props.setProperty("spark.eventLog.enabled", "true")
                props.setProperty("spark.eventLog.dir", "file://" + event_log)
                props.setProperty("spark.eventLog.compress", "false")
                props.setProperty("spark.eventLog.rolling.enabled", "false")
            else:
                props.clearProperty("spark.eventLog.enabled")
        self.session = make_local_session(
            self.cores, app_name="perfbench", driver_memory=self.memory
        )
        self.session.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        return self.session

    def stop(self) -> None:
        if self.session is not None:
            self.session.stop()
            self.session = None

    def shutdown(self) -> None:
        """Stop the context, then end the JVM by closing its stdin (the
        gateway server exits on EOF) and wait for it."""
        self.stop()
        if self.proc is not None:
            from pyspark import SparkContext

            SparkContext._gateway.shutdown()
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=30)
            SparkContext._gateway = SparkContext._jvm = None


def flagship_pass(spark, input_dir: str, cfg, out_dir: str) -> float:
    """One pass of the run_dedup.py ``--read-path direct`` job: the
    direct-read multimodal pipeline, ``(image_id, cluster_id)`` written
    to parquet. Returns its wall time."""
    from datasketches_rust_spark.operators.dedup import near_dup_multimodal_clusters_from_path

    t0 = time.perf_counter()
    out = near_dup_multimodal_clusters_from_path(spark, input_dir, cfg)
    out.withColumnRenamed("id", "image_id").write.mode("overwrite").parquet(out_dir)
    return time.perf_counter() - t0


def check_pass(out_dir: str, truth, ref_digest: str | None) -> dict:
    from perfbench.inputs import cluster_digest, pair_recall, read_clusters

    clusters = read_clusters(out_dir)
    digest = cluster_digest(clusters)
    recall = pair_recall(clusters, truth)
    problems = []
    if len(clusters) != len(truth) or clusters["image_id"].duplicated().any():
        problems.append("rows")
    if recall < 0.99:
        problems.append("recall")
    if ref_digest is not None and digest != ref_digest:
        problems.append("digest")
    return {"digest": digest, "recall": recall, "problems": problems}


class Run:
    def __init__(self, args, work: str, cores: int, memory: str):
        self.args, self.work = args, work
        self.wl = WORKLOADS[args.workload]
        self.rows = self.wl.smoke_rows if args.smoke else self.wl.rows
        self.cfg = _cfg(self.wl.at_scale)
        self.spark = Spark(cores, memory)
        self.cores = cores
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "cores": cores,
                             "driver_memory": memory, "rows": self.rows}
        self.attempted = self.failed = 0
        self.input_dir = os.path.join(work, "input")
        self.slice_dir = os.path.join(work, "slice")
        self.out_dir = os.path.join(work, "out")

    # -- inputs ---------------------------------------------------------
    def make_slice(self) -> None:
        from perfbench import inputs

        seed = self.args.seed + 7919
        if self.wl.input == "imagegen":
            inputs.imagegen_slice(48, seed, self.slice_dir)
        else:
            # unrelated captions only: one CC round keeps the setup
            # cheap; the reference pass covers the hot-bucket path
            rows, _ = inputs.caption_skew_table(64, seed, boilerplates=0, chain_share=0.0)
            inputs.write_parquet(rows, self.slice_dir, 1)

    def make_input(self, spark) -> None:
        from perfbench import inputs

        seed = self.args.seed
        if self.wl.input == "imagegen":
            self.truth = inputs.imagegen_input(spark, self.rows, seed, self.input_dir, INPUT_FILES)
            rows = inputs.pq.read_table(self.input_dir).to_pandas()
        else:
            small = {"boilerplates": 1}
            rows, self.truth = inputs.caption_skew_table(
                self.rows, seed, **(small if self.args.smoke else {})
            )
            inputs.write_parquet(rows, self.input_dir, INPUT_FILES)
        self.detail["input_digest"] = inputs.table_digest(
            rows, ["image_id", "caption", "phash", "bytes"]
        )

    # -- passes ---------------------------------------------------------
    def setup(self, event_log: str | None = None) -> float:
        """Session start plus a warm-up pass on the small slice."""
        t0 = time.perf_counter()
        spark = self.spark.start(event_log)
        spark.sparkContext.setJobDescription("setup.warmup")
        flagship_pass(spark, self.slice_dir, self.cfg, self.out_dir)
        spark.sparkContext.setJobDescription(None)
        return time.perf_counter() - t0

    def checked_pass(self, spark, cfg, ref: str | None) -> tuple[float, dict]:
        from perfbench.trace import cc_stats_capture

        with cc_stats_capture(self.detail.setdefault("cc", [])):
            dt = flagship_pass(spark, self.input_dir, cfg, self.out_dir)
        chk = check_pass(self.out_dir, self.truth, ref)
        self.attempted += 1
        self.failed += bool(chk["problems"])
        if chk["problems"]:
            self.detail.setdefault("failures", []).append(chk["problems"])
        return dt, chk

    def reference_pass(self, spark) -> str:
        """Untimed default-plan pass whose digest every later pass must
        match. On the at-scale workload this is the at-scale plan's
        equivalence claim; on the other it is run-to-run determinism.
        It also warms the full-size code paths before any timing."""
        dt, chk = self.checked_pass(spark, _cfg(False), None)
        self.detail["reference_pass_s"] = dt
        self.detail["reference_digest"] = chk["digest"]
        return chk["digest"]

    # -- modes ----------------------------------------------------------
    def untraced(self, rss) -> dict:
        setup_s = self.setup()
        spark = self.spark.session
        self.make_input(spark)
        ref = self.reference_pass(spark)
        rss.reset()
        times, recalls = [], []
        t_end = time.perf_counter() + self.args.seconds
        while not times or time.perf_counter() < t_end:
            dt, chk = self.checked_pass(spark, self.cfg, ref)
            times.append(dt)
            recalls.append(chk["recall"])
        peak = rss.peak_mb
        self.detail.update(pass_s=times)
        return {
            "images_per_s": self.rows / statistics.median(times),
            "dup_pair_recall": min(recalls),
            "setup_s": setup_s,
            "peak_rss_mb": peak,
        }

    def traced(self, rss) -> dict:
        from perfbench import eventlog, inputs, probes
        from perfbench.trace import CC, LSH, OUTPUT, PASS_LAYERS, SIGNATURES, VERIFY, LayerTracer

        self.setup()
        spark = self.spark.session
        self.make_input(spark)
        # the plan-equivalence reference is the untraced runs' job; here
        # the first untraced pass is the reference for the others, and
        # the second, warm one is the baseline of the tracing overhead
        dt, chk = self.checked_pass(spark, self.cfg, None)
        ref = chk["digest"]
        untraced = [dt, self.checked_pass(spark, self.cfg, ref)[0]]
        m: dict[str, float] = probes.pipeline_kernels(self.input_dir)

        ev_dir = os.path.join(self.work, "eventlog")
        os.makedirs(ev_dir)
        self.spark.stop()
        self.setup(event_log=ev_dir)
        spark = self.spark.session
        tracer = LayerTracer(spark)
        with tracer.installed():
            wall = flagship_pass(spark, self.input_dir, self.cfg, self.out_dir)
        chk = check_pass(self.out_dir, self.truth, ref)
        self.attempted += 1
        self.failed += bool(chk["problems"])

        from pyspark.sql import functions as F

        spark.sparkContext.setJobDescription("trace.count")
        cap = tracer.captured
        buckets = (
            cap["banded"].groupBy("family", "band_id", "band_key").count()
            .agg(F.max("count").alias("m"),
                 F.sum((F.col("count") > self.cfg.max_bucket_size).cast("long")).alias("hot"))
            .first()
        )
        banded_rows = cap["banded"].count()
        n_pairs = cap["pairs"].count()
        n_edges = cap["edges"].count()
        # the undirected edges CC solves: its distributed loop dedups
        # the canonical (least, greatest) pairs; the driver path absorbs
        # the same duplicates
        cc_edges = (
            cap["edges"].select(F.least("a", "b").alias("s"), F.greatest("a", "b").alias("d"))
            .distinct().count()
        )
        spark.sparkContext.setJobDescription(None)
        cc_stats = tracer.cc_stats[-1]

        batches = 0
        if self.wl.input == "imagegen":
            n = 2000 if self.args.smoke else 60_000
            table = inputs.sketch_table(n, self.args.seed)
            table_dir = os.path.join(self.work, "sketch_table")
            inputs.write_parquet(table, table_dir, INPUT_FILES, row_group=1 << 16)
            sm, att, fail = probes.sketch_suite(spark, table_dir, table)
            self.attempted += att
            self.failed += len(fail)
            if fail:
                self.detail.setdefault("failures", []).append(fail)
            m.update(sm)
            m.update(probes.sketch_kernels(table))
        else:
            n, batch = (300, 100) if self.args.smoke else (1200, 400)
            im, lat, att, fail, stats = probes.incremental_stream(
                spark, inputs.read_captions(self.input_dir).head(n), batch,
                os.path.join(self.work, "stream_state"),
            )
            self.attempted += att
            self.failed += fail
            m.update(im)
            self.detail["microbatch_s"] = lat
            self.detail["stream_cc"] = stats
            batches = len(lat)

        self.spark.stop()
        log = [p for p in glob.glob(os.path.join(ev_dir, "*")) if not p.endswith(".inprogress")]
        per = eventlog.parse(log[0])
        busy = tracer.busy_s()
        total = eventlog.combine(per, PASS_LAYERS)
        sig_task_s = per[SIGNATURES].task_s if SIGNATURES in per else 0.0
        kernel_us = sum(v for k, v in m.items() if k.endswith("us_per_row"))

        def shuffle_mb(desc):
            return per[desc].shuffle_write_bytes / 2**20 if desc in per else 0.0

        m.update({
            "operators.signatures.busy_s": busy.get(SIGNATURES, 0.0),
            "operators.signatures.task_cpu_s": per[SIGNATURES].cpu_s if SIGNATURES in per else 0.0,
            "operators.signatures.udf_overhead_share":
                1 - kernel_us * self.rows / 1e6 / sig_task_s if sig_task_s else 0.0,
            "operators.lsh.busy_s": busy.get(LSH, 0.0),
            "operators.lsh.banded_rows": banded_rows,
            "operators.lsh.candidate_pairs": n_pairs,
            "operators.lsh.max_bucket": buckets["m"] or 0,
            "operators.lsh.hot_buckets": buckets["hot"] or 0,
            "operators.lsh.shuffle_mb": shuffle_mb(LSH),
            "operators.dedup.verify_busy_s": busy.get(VERIFY, 0.0),
            "operators.dedup.verified_edges": n_edges,
            "operators.dedup.verify_yield": n_edges / n_pairs if n_pairs else 0.0,
            "operators.dedup.verify_shuffle_mb": shuffle_mb(VERIFY),
            "operators.connected_components.busy_s": busy.get(CC, 0.0),
            "operators.connected_components.rounds": cc_stats.get("rounds", 0),
            "operators.connected_components.edges": cc_edges,
            "operators.connected_components.shuffle_mb": shuffle_mb(CC),
            "output.write_busy_s": busy.get(OUTPUT, 0.0),
            "spark.jobs": total.jobs,
            "spark.tasks": total.tasks,
            "spark.task_cpu_s": total.cpu_s,
            "spark.gc_s": total.gc_s,
            "spark.shuffle_write_mb": total.shuffle_write_bytes / 2**20,
            "spark.spill_mb": total.spill_bytes / 2**20,
            "spark.core_utilization": total.task_s / (wall * self.cores),
            "spark.fixed_s": wall - total.task_s / self.cores,
            "trace.overhead_share": 1 - untraced[-1] / wall,
            # pass wall time in which no layer's Spark job ran: driver-side
            # work (the driver CC path, planning, untraced calls)
            "trace.unattributed_share": 1 - total.busy_s / wall,
        })
        if batches:
            m["streaming.incremental.jobs_per_batch"] = statistics.mean(
                per[d].jobs if d in per else 0
                for d in (f"streaming.incremental.batch-{i}" for i in range(batches))
            )
        self.detail.update(
            untraced_pass_s=untraced, traced_pass_s=wall, layer_busy_s=busy,
            cc_path=cc_stats.get("path"), peak_rss_mb=rss.peak_mb,
            layer_task_s={d: per[d].task_s for d in PASS_LAYERS if d in per},
            layer_job_busy_s={d: per[d].busy_s for d in PASS_LAYERS if d in per},
        )
        return m


def declared_metrics(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] level; default and maximum: the host's cores")
    args = ap.parse_args()
    t_start = time.perf_counter()
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    # fail fast, before any work, when the engine is not in this checkout
    import datasketches_rust_spark.session  # noqa: F401

    from perfbench import host

    cores = host.host_cores()
    if args.cores is not None and args.cores > cores:
        print(f"invalid level: local[{args.cores}] exceeds the host's {cores} cores; "
              "not measured", file=sys.stderr)
        return 2
    cores = args.cores or cores
    memory = host.driver_memory(host.mem_available_bytes())

    work = os.path.abspath(os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}"))
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    # workers import the engine from this checkout; all scratch (Spark
    # local dirs, JVM and Python temp files) stays under `work`
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    shm_existed = os.path.isdir(SHM_LOCAL)

    run = Run(args, work, cores, memory)
    rss = host.RssSampler().start()
    weather = host.weather_stamp()
    jiffies = host.cpu_jiffies()
    try:
        run.make_slice()
        metrics = run.traced(rss) if args.trace else run.untraced(rss)
    finally:
        run.spark.shutdown()
        rss.stop()
        rss.sample()  # descendants started since the last sample
        leftover = host.reap(rss.seen)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
        if not shm_existed and os.path.isdir(SHM_LOCAL) and not os.listdir(SHM_LOCAL):
            os.rmdir(SHM_LOCAL)

    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    # a layer the workload does not run reads 0 and is listed as such
    run.detail["not_measured"] = [n for n in declared if n not in metrics]
    weather["steal_share"] = host.steal_share(jiffies)
    run.detail.update(weather=weather, killed_leftovers=leftover,
                      run_s=time.perf_counter() - t_start)
    print("perfbench-detail " + json.dumps(run.detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in declared.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
