"""Structured Streaming layer: streaming signature computation and an
incremental near-duplicate pipeline.

The reference's sketches are *streaming by construction* — update is
one-pass, merge is commutative/associative (SURVEY.md §1.1) — so the
batch signature kernels run unchanged on a streaming DataFrame: the
MinHash/SimHash projection is stateless, and every sketch aggregation
is a valid streaming aggregation under watermarking.

The cross-row stages (LSH banding → pairs → connected components) are
not expressible as a single streaming aggregation (CC is iterative),
so the pipeline uses the standard Spark pattern for stateful-beyond-
state-store logic: ``foreachBatch`` with an explicit parquet/Iceberg
state table.  Each micro-batch:

  1. computes signatures for NEW rows only (the expensive stage —
     never recomputed for old rows; this is the streaming analog of
     the checkpoint/resume contract in sources/checkpoint.py),
  2. appends them to the signature state table,
  3. DELTA-BANDING: only band buckets that gained a member this batch
     re-pair (a semi-join of the banded state on the new rows' band
     keys); resulting verified edges append to an edge state table,
  4. recomputes cluster assignments from the (cheap, id-pair) edge
     state — CC must be global because one new edge can merge two old
     clusters, but it runs over ids+edges only, never signatures.

Why the edge accumulation is sound: a pair inside an untouched bucket
was discoverable in the batch that completed that bucket, so it is
already in the edge state; a pair whose bucket gained a member emerges
from the affected-bucket clique/chain this batch. Accumulated chain
edges across batches are a superset of the final batch chain but
connect exactly the same bucket members, so connected components are
identical to the batch pipeline (the equality asserted in
tests/test_streaming.py).

Batch-equivalence invariant (tested in tests/test_streaming.py): after
the stream drains, cluster assignments equal the batch pipeline run on
the full input — the merge-order-insensitivity of the underlying
sketches is exactly what makes this equality hold.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DedupConfig
from ..operators.dedup import assign_clusters, text_signatures, verified_text_pairs

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)


def streaming_signatures(stream_df: DataFrame, id_col: str, text_col: str,
                         cfg: DedupConfig | None = None) -> DataFrame:
    """Stateless streaming MinHash signatures — the batch kernel applied
    to a streaming DataFrame (valid because the projection is per-row)."""
    cfg = cfg or DedupConfig()
    from ..operators.signatures import minhash_signature_col

    return stream_df.select(
        F.col(id_col).alias("_id"), minhash_signature_col(text_col, cfg.minhash).alias("s")
    ).select("_id", F.col("s.signature").alias("signature"), F.col("s.bands").alias("bands"))


def streaming_event_window_counts(stream_df: DataFrame,
                                  watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation over the events stream —
    the streaming twin of the batch `events_hourly_window` query (same
    logical plan modulo the watermark)."""
    # watermarks require zoned TIMESTAMP; parquet NTZ timestamps cast
    if dict(stream_df.dtypes).get("ts") == "timestamp_ntz":
        stream_df = stream_df.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "approx_users")
    )


class IncrementalNearDup:
    """foreachBatch-driven incremental near-dup clustering with a
    parquet signature/edge state (maps 1:1 onto Iceberg tables on a
    real cluster, like sources/checkpoint.py)."""

    def __init__(self, state_dir: str, id_col: str = "image_id",
                 text_col: str = "caption", cfg: DedupConfig | None = None):
        self.state_dir = state_dir
        self.id_col = id_col
        self.text_col = text_col
        self.cfg = cfg or DedupConfig()

    @property
    def sig_path(self) -> str:
        return os.path.join(self.state_dir, "signatures")

    @property
    def edges_path(self) -> str:
        return os.path.join(self.state_dir, "edges")

    @property
    def clusters_path(self) -> str:
        return os.path.join(self.state_dir, "clusters")

    def _existing_signatures(self, spark: SparkSession) -> DataFrame | None:
        """The signature state, or None before the first micro-batch.
        Only a missing path means "no state": any other read failure
        raises, because reading it as empty would restart the state
        from nothing and re-emit every row."""
        try:
            return spark.read.parquet(self.sig_path)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return None
            raise

    def process_batch(self, batch_df: DataFrame, _batch_id: int = 0) -> None:
        """One micro-batch: new-row signatures → append to state →
        delta-banding over touched buckets only → append new edges →
        re-cluster from the id-pair edge state (module docstring for
        why the accumulated edges give batch-identical components)."""
        from ..operators.lsh import explode_bands

        spark = batch_df.sparkSession
        prev = self._existing_signatures(spark)
        new_rows = batch_df.select(self.id_col, self.text_col)
        if prev is not None:
            # idempotent re-delivery guard (at-least-once sources)
            new_rows = new_rows.join(
                prev.select(F.col("_id").alias(self.id_col)), on=self.id_col,
                how="left_anti",
            )
        new_sigs = text_signatures(
            new_rows, self.id_col, self.text_col, self.cfg
        ).localCheckpoint(eager=True)
        # full state = prior parquet scan + this batch's checkpointed
        # rows. No localCheckpoint of the union: pinning the WHOLE
        # signature state into executor storage every micro-batch is
        # O(total rows) memory — the exact blow-up the batch pipeline
        # removed (operators/dedup.py, resumable_near_dup_pipeline) —
        # and it defeats column pruning on the reuses below. The
        # post-append uses of `sigs` still see exactly the pre-append
        # state because `prev`'s parquet file listing froze when
        # _existing_signatures read it (Spark's InMemoryFileIndex
        # lists once at relation creation; appended files are
        # invisible without a refresh — the property the
        # stream-equals-batch test exercises across micro-batches).
        sigs = prev.unionByName(new_sigs) if prev is not None else new_sigs
        # delta-banding: only buckets that gained a member re-pair
        touched = (
            explode_bands(new_sigs, "_id").select("band_id", "band_key").distinct()
        )
        new_edges = verified_text_pairs(sigs, self.cfg, touched_keys=touched)
        # WRITE ORDER MATTERS for at-least-once retry: edges first,
        # signatures second. A crash between the two re-delivers the
        # batch, the anti-join still sees its rows as new (signatures
        # not yet appended), and the edges are recomputed — appended
        # twice at worst, which dropDuplicates absorbs. The reverse
        # order (signatures first) made a retry anti-join the rows
        # away so their buckets never paired: permanent edge loss.
        new_edges.write.mode("append").parquet(self.edges_path)
        new_sigs.write.mode("append").parquet(self.sig_path)

        edges = (
            spark.read.schema(new_edges.schema)
            .parquet(self.edges_path)
            .dropDuplicates(["a", "b"])
        )
        all_ids = sigs.select(F.col("_id").alias("id"))
        out = assign_clusters(all_ids, edges, self.cfg)
        out.write.mode("overwrite").parquet(self.clusters_path)

    def clusters(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.clusters_path)

    def run_stream(self, spark: SparkSession, source_dir: str,
                   checkpoint_dir: str, schema: str = IMAGE_SCHEMA):
        """Drain a parquet-file stream with availableNow (batch-bounded
        streaming: processes all files then stops — the idiomatic
        backfill/catch-up trigger)."""
        stream = spark.readStream.schema(schema).parquet(source_dir)
        return (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def streaming_theta_distinct(stream_df: DataFrame, key_col: str, item_col: str,
                             cfg=None) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-key approximate distinct counts whose state IS a serialized
    theta sketch (v3/v4 wire format) — the reference's mergeable-sketch
    contract mapped onto Spark's streaming state store. Each
    micro-batch unions the key's new items into the stored sketch and
    emits the updated estimate (output mode "update").

    This is the state-store twin of the batch
    ``theta_distinct_by_key``: bounded state per key (≤ 8·k bytes, the
    whole point of the sketch vs an exact distinct set that grows with
    the stream), exactly-once via the state checkpoint, and the
    estimate after the stream drains equals the batch sketch over the
    same rows (merge order-insensitivity; tested stream ≡ batch).
    """
    import pandas as pd

    from ..config import ThetaConfig
    from ..functions.theta import ThetaSketch, theta_union
    from ..operators.sketch_aggs import _is_integral, _sketch_values

    cfg = cfg or ThetaConfig()
    key_type = dict(stream_df.dtypes)[key_col]
    integral = _is_integral(stream_df, item_col)

    def update_fn(key, pdfs, state):
        sk = (
            ThetaSketch.deserialize(bytes(state.get[0]), cfg)
            if state.exists
            else ThetaSketch.empty(cfg)
        )
        for pdf in pdfs:
            if len(pdf):
                sk = theta_union([sk, _sketch_values(pdf[item_col], cfg, integral)])
        state.update((sk.serialize_compressed(),))
        yield pd.DataFrame(
            {key_col: [key[0]], "distinct_estimate": [sk.estimate()]}
        )

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BinaryType,
        StructField,
        StructType,
        _parse_datatype_string,
    )

    out_schema = _parse_datatype_string(f"{key_col} {key_type}, distinct_estimate double")
    state_schema = StructType([StructField("sketch", BinaryType())])
    return (
        stream_df.select(key_col, item_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_tdigest_quantiles(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
    k: int = 200,
) -> DataFrame:
    """Stateful streaming quantiles: per-key state is a family-20
    t-digest wire blob (`functions/tdigest.py`), so state size is
    bounded by the digest's centroid budget (~O(k)) no matter how many
    rows stream through — the mergeable-sketch contract
    (`tdigest/sketch.rs` merge) on the streaming state store. Each
    micro-batch merges the key's new values and emits the updated
    quantiles (output mode "update"); after the stream drains, the
    digest is identical to a batch build over the same rows in the
    same arrival order.
    """
    import numpy as np
    import pandas as pd

    from ..functions.tdigest import TDigest

    # name by the full decimal, not int(q*100): truncation mislabels
    # (0.29 -> q_28 via 28.999...) and collides (0.99 and 0.999 both
    # -> q_99, a duplicate column that kills the stream with a state
    # schema mismatch)
    from ..operators.sketch_aggs import _quantile_col_name

    qcols = [_quantile_col_name(q) for q in quantiles]
    if len(set(qcols)) != len(qcols):
        raise ValueError(f"duplicate quantiles: {quantiles}")
    key_type = dict(stream_df.dtypes)[key_col]

    def update_fn(key, pdfs, state):
        td = (
            TDigest.deserialize(bytes(state.get[0]))
            if state.exists
            else TDigest(k)
        )
        for pdf in pdfs:
            vals = pdf[value_col].dropna().to_numpy(np.float64)
            if len(vals):
                td.update_batch(vals)
        state.update((td.serialize(),))
        row = {key_col: [key[0]]}
        for q, c in zip(quantiles, qcols):
            row[c] = [td.quantile(q)]
        yield pd.DataFrame(row)

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BinaryType, StructField, StructType, _parse_datatype_string

    out_schema = _parse_datatype_string(
        f"{key_col} {key_type}, " + ", ".join(f"{c} double" for c in qcols)
    )
    state_schema = StructType([StructField("tdigest", BinaryType())])
    return (
        stream_df.select(key_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_frequent_items(
    stream_df: DataFrame,
    key_col: str,
    item_col: str,
    max_map_size: int = 1024,
) -> DataFrame:
    """Stateful streaming heavy hitters: per-key state is a family-10
    frequencies wire blob (`functions/frequencies.py`), bounded by the
    Misra–Gries map budget (`frequencies/sketch.rs` merge contract).
    Emits the current top item per key each micro-batch — ties broken
    deterministically by (estimate desc, item asc) — plus the stream
    weight and the sketch's maximum error, so a consumer can see
    whether the top item is exact (max_error == 0) or estimation-mode.
    """
    import pandas as pd

    from ..functions.frequencies import FrequentItemsSketch

    key_type = dict(stream_df.dtypes)[key_col]

    def update_fn(key, pdfs, state):
        sk = (
            FrequentItemsSketch.deserialize(bytes(state.get[0]))
            if state.exists
            else FrequentItemsSketch(max_map_size)
        )
        for pdf in pdfs:
            items = pdf[item_col].dropna().astype(str)
            if len(items):
                sk.update_batch(items)
        state.update((sk.serialize("str"),))
        top_item, top_est = None, 0
        for item, c in sk.counters.items():
            est = c + sk.offset
            if est > top_est or (
                est == top_est and (top_item is None or str(item) < str(top_item))
            ):
                top_item, top_est = item, est
        yield pd.DataFrame(
            {
                key_col: [key[0]],
                "top_item": [None if top_item is None else str(top_item)],
                "top_estimate": [int(top_est)],
                "stream_weight": [int(sk.stream_weight)],
                "max_error": [int(sk.maximum_error)],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import BinaryType, StructField, StructType, _parse_datatype_string

    out_schema = _parse_datatype_string(
        f"{key_col} {key_type}, top_item string, top_estimate long, "
        "stream_weight long, max_error long"
    )
    state_schema = StructType([StructField("frequencies", BinaryType())])
    return (
        stream_df.select(key_col, item_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
