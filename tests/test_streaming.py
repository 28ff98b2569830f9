"""Structured Streaming layer: incremental near-dup equals the batch
pipeline after the stream drains; watermarked window agg runs."""

import os

import pytest
from pyspark.sql import functions as F

from datasketches_rust_spark.sources.imagegen import generate_image_caption_df
from datasketches_rust_spark.streaming.incremental import (
    IncrementalNearDup,
    streaming_event_window_counts,
    streaming_signatures,
)


def test_incremental_stream_matches_batch(spark, tmp_path):
    from datasketches_rust_spark.operators.dedup import near_dup_text_clusters

    full = generate_image_caption_df(spark, 120, seed=7, partitions=4).localCheckpoint(
        eager=True
    )
    # two arrival chunks: ids interleaved so clusters SPAN chunks —
    # the incremental pipeline must link rows across micro-batches
    src = str(tmp_path / "src")
    chunk_a = full.filter(F.crc32(F.col("image_id")) % 2 == 0)
    chunk_b = full.filter(F.crc32(F.col("image_id")) % 2 == 1)
    chunk_a.write.mode("append").parquet(src)

    inc = IncrementalNearDup(str(tmp_path / "state"))
    q = inc.run_stream(spark, src, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    chunk_b.write.mode("append").parquet(src)
    q2 = inc.run_stream(spark, src, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)

    got = (
        inc.clusters(spark)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = (
        near_dup_text_clusters(full, "image_id", "caption")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert len(got) == 120
    assert (got["id"] == want["id"]).all()
    assert (got["cluster_id"] == want["cluster_id"]).all()



def test_incremental_unreadable_state_raises(spark, tmp_path):
    """A signature state that exists but cannot be read must fail the
    micro-batch, not read as "no state yet" (which would restart the
    state from nothing and re-emit every row)."""
    inc = IncrementalNearDup(str(tmp_path / "state"))
    os.makedirs(inc.sig_path)
    with open(os.path.join(inc.sig_path, "part-00000.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    batch = generate_image_caption_df(spark, 8, seed=5, partitions=1)
    with pytest.raises(Exception) as info:
        inc.process_batch(batch)
    assert "PATH_NOT_FOUND" not in str(info.value)
    assert not os.path.exists(inc.edges_path)

def test_streaming_signatures_stateless(spark, tmp_path):
    full = generate_image_caption_df(spark, 40, seed=3, partitions=2)
    src = str(tmp_path / "sig_src")
    full.write.parquet(src)
    stream = spark.readStream.schema(
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long"
    ).parquet(src)
    sigs = streaming_signatures(stream, "image_id", "caption")
    assert sigs.isStreaming
    out = str(tmp_path / "sig_out")
    q = (
        sigs.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "sig_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).toPandas().sort_values("_id").reset_index(drop=True)
    from datasketches_rust_spark.operators.dedup import text_signatures
    from datasketches_rust_spark.config import DedupConfig

    want = (
        text_signatures(full, "image_id", "caption", DedupConfig())
        .toPandas()
        .sort_values("_id")
        .reset_index(drop=True)
    )
    assert (got["_id"] == want["_id"]).all()
    assert all(list(a) == list(b) for a, b in zip(got["signature"], want["signature"]))


def test_streaming_window_counts(spark, tmp_path):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = str(tmp_path / "ev_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = streaming_event_window_counts(stream)
    assert agg.isStreaming
    out = str(tmp_path / "ev_out")
    q = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ev_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has closed; with a
    # single availableNow drain the final watermark leaves the last
    # 2h of windows open — compare against the batch plan minus those
    got = spark.read.parquet(out)
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    gp = got.select("window_start", "event_type", "n_events").toPandas()
    bp = batch.toPandas()
    merged = gp.merge(bp, on=["window_start", "event_type"], suffixes=("_s", "_b"))
    assert len(merged) == len(gp)  # every emitted window matches batch…
    assert (merged["n_events_s"] == merged["n_events_b"]).all()  # …exactly


def test_delta_banding_restricts_to_touched_buckets(spark):
    """verified_text_pairs(touched_keys=...) must (a) only emit pairs
    that share a touched bucket and (b) over the union of batches,
    reproduce the full batch edge set — the incremental pipeline's
    correctness argument."""
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import DedupConfig
    from datasketches_rust_spark.operators.dedup import text_signatures, verified_text_pairs
    from datasketches_rust_spark.operators.lsh import explode_bands

    cfg = DedupConfig()
    base = "the quick brown fox jumps over the lazy dog again and again in the yard"
    rows = [(i, base + f" tail{i % 3}") for i in range(30)] + [
        (100 + i, f"totally different text number {i} with unrelated words entirely") for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    batch1 = df.filter(F.col("doc_id") % 2 == 0)
    batch2 = df.filter(F.col("doc_id") % 2 == 1)

    sigs1 = text_signatures(batch1, "doc_id", "text", cfg).localCheckpoint(eager=True)
    sigs_all = text_signatures(df, "doc_id", "text", cfg).localCheckpoint(eager=True)
    sigs2_new = text_signatures(batch2, "doc_id", "text", cfg).localCheckpoint(eager=True)

    # batch 1 edges (full banding over batch1 state)
    e1 = verified_text_pairs(sigs1, cfg).select("a", "b")
    # batch 2: delta — only buckets touched by batch2's rows
    touched = explode_bands(sigs2_new, "_id").select("band_id", "band_key").distinct()
    e2 = verified_text_pairs(sigs_all, cfg, touched_keys=touched).select("a", "b")

    # (a) every delta pair shares a touched bucket
    banded_all = explode_bands(sigs_all, "_id")
    in_touched = banded_all.join(touched, ["band_id", "band_key"], "left_semi")
    touched_ids = {r._id for r in in_touched.select("_id").distinct().collect()}
    for r in e2.collect():
        assert r.a in touched_ids and r.b in touched_ids

    # (b) union of batch edges covers the full-batch clique components:
    # connected components over (e1 ∪ e2) == components of full edges
    from datasketches_rust_spark.operators.dedup import assign_clusters

    all_ids = df.select(F.col("doc_id").alias("id"))
    full_edges = verified_text_pairs(sigs_all, cfg)
    inc = assign_clusters(all_ids, e1.unionByName(e2).withColumn("jaccard_est", F.lit(1.0)), cfg)
    ful = assign_clusters(all_ids, full_edges, cfg)
    assert sorted((r.id, r.cluster_id) for r in inc.collect()) == sorted(
        (r.id, r.cluster_id) for r in ful.collect()
    )


def test_streaming_theta_distinct_stateful(spark, tmp_path):
    """applyInPandasWithState theta-distinct: state is a serialized
    (v4-compressed) sketch per key; after draining a 2-file stream the
    latest per-key estimate equals the batch COUNT DISTINCT (exact
    regime)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.streaming.incremental import streaming_theta_distinct

    src = str(tmp_path / "src")
    rows1 = [(i % 3, i) for i in range(300)]
    rows2 = [(i % 3, i) for i in range(200, 500)]  # overlap on purpose
    spark.createDataFrame(rows1, "k int, v long").write.parquet(src + "/f1.parquet")
    spark.createDataFrame(rows2, "k int, v long").write.parquet(src + "/f2.parquet")

    stream = (
        spark.readStream.schema("k int, v long")
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch → state reuse
        .parquet(src + "/*")
    )
    out = streaming_theta_distinct(stream, "k", "v", ThetaConfig(lg_k=12))
    q = (
        out.writeStream.format("memory")
        .queryName("theta_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # latest update per key (memory sink keeps every update row)
    upd = spark.sql("SELECT * FROM theta_state").toPandas()
    latest = upd.groupby("k")["distinct_estimate"].last()
    batch = dict(
        spark.createDataFrame(rows1 + rows2, "k int, v long")
        .groupBy("k")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    )
    for k, n in batch.items():
        assert latest[k] == float(n), (k, latest[k], n)


def test_streaming_tdigest_quantiles_stateful(spark, tmp_path):
    """applyInPandasWithState tdigest: state is a family-20 blob per
    key; after draining a 2-file stream the per-key digest equals a
    batch digest built over the same rows in arrival order (same
    centroids -> identical quantiles)."""
    import numpy as np

    from datasketches_rust_spark.functions.tdigest import TDigest
    from datasketches_rust_spark.streaming.incremental import (
        streaming_tdigest_quantiles,
    )

    src = str(tmp_path / "src_td")
    rows1 = [(i % 2, float(i)) for i in range(400)]
    rows2 = [(i % 2, float(i)) for i in range(400, 1000)]
    spark.createDataFrame(rows1, "k int, v double").coalesce(1).write.parquet(
        src + "/f1.parquet"
    )
    spark.createDataFrame(rows2, "k int, v double").coalesce(1).write.parquet(
        src + "/f2.parquet"
    )
    stream = (
        spark.readStream.schema("k int, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_tdigest_quantiles(stream, "k", "v", (0.5, 0.9))
    q = (
        out.writeStream.format("memory")
        .queryName("td_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    upd = spark.sql("SELECT * FROM td_state").toPandas()
    latest = upd.groupby("k").last()
    # exact median/percentile of each key's 500 values, within the
    # digest's accuracy gate (n < buffered regime is near-exact)
    for k in (0, 1):
        vals = np.array(
            [v for kk, v in rows1 + rows2 if kk == k], dtype=np.float64
        )
        assert abs(latest.loc[k, "q_0_5"] / np.quantile(vals, 0.5) - 1) < 0.03
        assert abs(latest.loc[k, "q_0_9"] / np.quantile(vals, 0.9) - 1) < 0.02


def test_streaming_frequent_items_stateful(spark, tmp_path):
    """applyInPandasWithState frequencies: state is a family-10 blob;
    the drained stream's top item per key matches the batch mode()
    (exact regime: distinct items < purge threshold -> max_error 0)."""
    from datasketches_rust_spark.streaming.incremental import (
        streaming_frequent_items,
    )

    src = str(tmp_path / "src_fi")
    # key 0: 'a' dominates; key 1: 'z' dominates, split across files
    rows1 = [(i % 2, "a" if i % 3 else "b") for i in range(300)]
    rows2 = [(1, "z")] * 400 + [(0, "a")] * 50
    spark.createDataFrame(rows1, "k int, item string").coalesce(1).write.parquet(
        src + "/f1.parquet"
    )
    spark.createDataFrame(rows2, "k int, item string").coalesce(1).write.parquet(
        src + "/f2.parquet"
    )
    stream = (
        spark.readStream.schema("k int, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    out = streaming_frequent_items(stream, "k", "item", max_map_size=64)
    q = (
        out.writeStream.format("memory")
        .queryName("fi_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    upd = spark.sql("SELECT * FROM fi_state").toPandas()
    latest = upd.groupby("k").last()
    batch = (
        spark.createDataFrame(rows1 + rows2, "k int, item string")
        .groupBy("k", "item")
        .count()
        .toPandas()
    )
    for k in (0, 1):
        sub = batch[batch["k"] == k].set_index("item")["count"]
        assert latest.loc[k, "top_item"] == sub.idxmax()
        assert latest.loc[k, "max_error"] == 0  # exact regime
        assert latest.loc[k, "top_estimate"] == sub.max()
        assert latest.loc[k, "stream_weight"] == sub.sum()
