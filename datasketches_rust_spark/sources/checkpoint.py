"""Per-stage, per-bucket checkpointing with lineage + metrics — the
resume machinery of the north rule ("a killed job resumes mid-banding
without recomputing sketches").

Mirrors the reference's serialize→validate→deserialize persistence
ladder (SURVEY.md §3.3): stage outputs are tables of serialized state
(signature arrays / sketch blobs) written per deterministic *bucket*;
the manifest records which buckets completed; resume anti-joins the
bucket list against the manifest and recomputes only the missing ones.

Layout (one directory per pipeline run):

    <root>/<stage>/bucket=<i>/*.parquet      stage output, bucket-partitioned
    <root>/_manifest/<stage>.json            completed buckets + lineage
    <root>/_metrics/<stage>.json             rows, seconds, config hash

This container has no Iceberg runtime, so tables are plain
bucket-partitioned parquet directories + JSON manifests written
atomically (tmp + rename). On a real cluster the same design maps
1:1 onto Iceberg: stage table = Iceberg table, manifest = Iceberg
snapshot metadata, bucket = Iceberg bucket partition transform, and
the atomic-rename commit becomes an Iceberg transaction.

Buckets are ``pmod(xxhash64(id), num_buckets)`` — Spark-native,
deterministic across runs/partitionings/cluster sizes, so a resumed
run recomputes exactly the missing input slice.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scoped_conf


@dataclass
class CheckpointManager:
    root: str
    num_buckets: int = 32

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_manifest", f"{stage}.json")

    def _metrics_path(self, stage: str) -> str:
        return os.path.join(self.root, "_metrics", f"{stage}.json")

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    # -- manifest ------------------------------------------------------------

    def completed_buckets(self, stage: str) -> set[int]:
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return set()
        with open(path) as f:
            return set(json.load(f)["completed_buckets"])

    def _read_manifest(self, stage: str) -> dict | None:
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return json.load(f)

    def _write_json_atomic(self, path: str, payload: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def _mark_complete(
        self, stage: str, buckets: set[int], lineage: dict, schema_json: str
    ) -> None:
        done = self.completed_buckets(stage) | buckets
        self._write_json_atomic(
            self._manifest_path(stage),
            {
                "completed_buckets": sorted(done),
                "lineage": lineage,
                "num_buckets": self.num_buckets,
                # stage schema travels in the manifest: an all-empty
                # stage writes no parquet files (only _SUCCESS), and a
                # plain read would die with UNABLE_TO_INFER_SCHEMA —
                # e.g. the edges stage of a corpus with no duplicates
                "schema": schema_json,
            },
        )

    def write_metrics(self, stage: str, metrics: dict) -> None:
        self._write_json_atomic(self._metrics_path(stage), metrics)

    def read_metrics(self, stage: str) -> dict:
        path = self._metrics_path(stage)
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    # -- stage execution -------------------------------------------------------

    def bucket_col(self, id_col: str) -> F.Column:
        return F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(self.num_buckets))

    def run_stage(
        self,
        spark: SparkSession,
        stage: str,
        input_df: DataFrame,
        id_col: str,
        compute_fn,
        lineage: dict | None = None,
    ) -> DataFrame:
        """Compute `compute_fn(missing_slice)` only for buckets absent
        from the manifest, append results bucket-partitioned, return
        the full stage output (reading completed buckets from disk).

        ``compute_fn`` receives a DataFrame that still contains
        ``_bucket`` and must preserve it in its output.
        """
        # the reference ladder is serialize → VALIDATE → deserialize
        # (SURVEY.md §3.3): refuse to splice buckets computed under a
        # different config/input into this run's output — without this
        # check a resumed run with a changed shingle/signature config
        # silently mixes incompatible state
        manifest = self._read_manifest(stage)
        if manifest is not None:
            stored = manifest.get("lineage", {})
            stored_nb = manifest.get("num_buckets", self.num_buckets)
            if stored != (lineage or {}) or stored_nb != self.num_buckets:
                raise ValueError(
                    f"checkpoint lineage mismatch for stage '{stage}': "
                    f"manifest has lineage={stored!r} num_buckets={stored_nb}, "
                    f"this run has lineage={(lineage or {})!r} "
                    f"num_buckets={self.num_buckets}; call invalidate('{stage}') "
                    "to recompute under the new config"
                )
        done = self.completed_buckets(stage)
        missing = sorted(set(range(self.num_buckets)) - done)
        out_path = self.stage_path(stage)
        schema_json = (manifest or {}).get("schema")
        t0 = time.perf_counter()
        rows_written = 0
        if missing:
            bucketed = input_df.withColumn("_bucket", self.bucket_col(id_col))
            # resume anti-join: only the missing buckets are recomputed
            slice_df = bucketed.filter(F.col("_bucket").isin([int(b) for b in missing]))
            result = compute_fn(slice_df)
            if "_bucket" not in result.columns:
                raise ValueError("compute_fn must preserve the _bucket column")
            # dynamic partition overwrite: a run killed mid-write leaves
            # partial bucket dirs; re-running replaces exactly the
            # recomputed buckets → resume is idempotent
            with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
                result.write.mode("overwrite").partitionBy("_bucket").parquet(out_path)
            schema_json = result.schema.json()
            rows_written = (
                spark.read.schema(result.schema)
                .parquet(out_path)
                .filter(F.col("_bucket").isin([int(b) for b in missing]))
                .count()
            )
            self._mark_complete(stage, set(missing), lineage or {}, schema_json)
        self.write_metrics(
            stage,
            {
                **self.read_metrics(stage),
                "stage": stage,
                "last_run_seconds": round(time.perf_counter() - t0, 3),
                "buckets_recomputed": missing,
                "rows_written_this_run": rows_written,
                "num_buckets": self.num_buckets,
                "lineage": lineage or {},
                "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
            },
        )
        reader = spark.read
        if schema_json:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(json.loads(schema_json)))
        return reader.parquet(out_path).drop("_bucket")

    def invalidate(self, stage: str) -> None:
        """Drop a stage's manifest (next run recomputes everything)."""
        path = self._manifest_path(stage)
        if os.path.exists(path):
            os.remove(path)
