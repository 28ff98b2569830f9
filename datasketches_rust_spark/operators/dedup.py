"""End-to-end near-duplicate detection pipelines (the north rule).

``near_dup_text_clusters``: caption/text MinHash + LSH → candidate
pairs → signature-Jaccard verification → connected components →
``(id, cluster_id)``. Every row of the input appears in the output;
non-duplicates form singleton clusters labeled by their own id.

``near_dup_multimodal_clusters``: union of the caption-MinHash and the
image phash / pixel-SimHash (Hamming-LSH) edge sets before a single
connected-components pass — an image pair OR a caption pair links two
rows (the reference-pipeline semantics from BASELINE.json north_star).
``near_dup_multimodal_clusters_from_path`` is the same pipeline over a
direct-read signature frame, with fused multi-family banding.

Plan shape (what ``.explain`` should show at every scale):

  scan → project(signature UDF, one pass)           [no shuffle]
  → posexplode bands                                [no shuffle]
  → hash agg by (band_id, band_key) + pair emit     [shuffle 1]
  → hash agg distinct pairs                         [shuffle 2]
  → join pairs×signatures ×2 (verification)         [shuffle 3, 4]
  → connected components: driver path, one-task
    finish, or contraction rounds                   [2 shuffles/round]

The signature frame is checkpointed before fan-out so banding and the
two verification joins share one computed lineage (signatures are the
expensive stage; recomputing them 3× would triple UDF time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupConfig
from .connected_components import connected_components
from .lsh import candidate_pairs, explode_bands
from .signatures import jaccard_from_signatures, minhash_signature_col


def text_signatures(df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig) -> DataFrame:
    """(id, signature, bands) — one vectorized-UDF pass.

    Small inputs (fewer partitions than cores — e.g. one parquet file)
    are repartitioned so the UDF saturates the cluster; big inputs
    (≥ cores partitions, the 100 TB case) pass through with no shuffle.
    """
    from ..session import ensure_min_partitions

    narrow = ensure_min_partitions(
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    )
    return narrow.select(
        "_id", minhash_signature_col("_text", cfg.minhash).alias("s")
    ).select("_id", F.col("s.signature").alias("signature"), F.col("s.bands").alias("bands"))


def verified_text_pairs(
    sigs: DataFrame, cfg: DedupConfig, touched_keys: DataFrame | None = None
) -> DataFrame:
    """Candidate pairs surviving the signature-Jaccard filter.

    Chained pairs (over-cap buckets: all ``rows_per_band`` slots
    already collide) skip verification by construction — see
    operators/lsh.py.

    ``touched_keys`` (a (band_id, band_key) frame) restricts pair
    generation to the given buckets — the delta-banding hook for the
    incremental streaming pipeline: only buckets that gained a member
    this micro-batch re-pair, everything else is untouched state.
    """
    banded = explode_bands(sigs, "_id")
    if touched_keys is not None:
        banded = banded.join(touched_keys, ["band_id", "band_key"], "left_semi")
    pairs = candidate_pairs(banded, cfg)
    sig_only = sigs.select("_id", "signature")
    verified = (
        pairs.join(sig_only.withColumnRenamed("_id", "a").withColumnRenamed("signature", "sig_a"), on="a")
        .join(sig_only.withColumnRenamed("_id", "b").withColumnRenamed("signature", "sig_b"), on="b")
        .withColumn("jaccard_est", jaccard_from_signatures("sig_a", "sig_b"))
        .filter(
            (F.col("chained") == 1)
            | (F.col("jaccard_est") >= F.lit(cfg.minhash.jaccard_threshold))
        )
        .select("a", "b", "jaccard_est")
    )
    return verified


def assign_clusters(all_ids: DataFrame, edges: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(id, cluster_id) for every input id; singletons label themselves."""
    comp = connected_components(
        edges, "a", "b", cfg.max_cc_iterations, cfg.cc_driver_max_edges
    )
    return (
        all_ids.join(comp, on="id", how="left")
        .select("id", F.coalesce(F.col("cluster_id"), F.col("id")).alias("cluster_id"))
    )


def near_dup_text_clusters(
    df: DataFrame, id_col: str, text_col: str, cfg: DedupConfig | None = None
) -> DataFrame:
    """Flagship pipeline: text near-dup clustering → (id, cluster_id)."""
    cfg = cfg or DedupConfig()
    sigs = text_signatures(df, id_col, text_col, cfg).localCheckpoint(eager=True)
    edges = verified_text_pairs(sigs, cfg)
    all_ids = df.select(F.col(id_col).alias("id"))
    return assign_clusters(all_ids, edges, cfg)


def resumable_near_dup_pipeline(
    spark,
    df: DataFrame,
    id_col: str,
    text_col: str,
    workdir: str,
    cfg: DedupConfig | None = None,
    num_buckets: int = 32,
) -> DataFrame:
    """Checkpointed flagship pipeline (north rule: "resumes mid-banding
    without recomputing sketches").

    Three checkpointed stages in ``workdir`` (signatures → edges →
    clusters), each bucket-partitioned with a manifest + metrics table
    (sources/checkpoint.py). A killed run re-executes only the buckets
    its manifest lacks; completed signature buckets are read back from
    parquet, never recomputed — the Spark analog of the reference's
    serialize/validate/deserialize resume ladder (SURVEY.md §3.3).
    """
    from ..sources.checkpoint import CheckpointManager

    cfg = cfg or DedupConfig()
    cp = CheckpointManager(workdir, num_buckets)

    def compute_signatures(slice_df: DataFrame) -> DataFrame:
        sigs = text_signatures(slice_df, id_col, text_col, cfg)
        # bucket is a pure function of the id — recompute, don't join
        return sigs.withColumn("_bucket", cp.bucket_col("_id"))

    # no localCheckpoint here: run_stage returns a scan of the stage's
    # own parquet checkpoint, so lineage is already truncated at disk;
    # re-materializing the full signature table into executor storage
    # would double its memory footprint at 10^12 rows and costs an
    # extra job per run at any scale. Downstream stages re-scan the
    # checkpoint — the Spark-native way to reuse persisted state.
    sigs = cp.run_stage(
        spark, "signatures", df, id_col, compute_signatures,
        lineage={"input": "source", "config": repr(cfg.minhash)},
    )

    def compute_edges(_slice: DataFrame) -> DataFrame:
        edges = verified_text_pairs(sigs, cfg)
        return edges.withColumn("_bucket", cp.bucket_col("a"))

    # edges depend on ALL signatures (banding is global); bucket-resume
    # applies to the write, recompute is all-or-nothing per run
    edge_input = sigs.select(F.col("_id").alias(id_col))
    edges = cp.run_stage(
        spark, "edges", edge_input, id_col, lambda s: compute_edges(s),
        lineage={"input": "signatures", "config": repr(cfg.minhash)},
    )

    def compute_clusters(_slice: DataFrame) -> DataFrame:
        all_ids = df.select(F.col(id_col).alias("id"))
        out = assign_clusters(all_ids, edges.select("a", "b"), cfg)
        return out.withColumn("_bucket", cp.bucket_col("id"))

    return cp.run_stage(
        spark, "clusters", df.select(F.col(id_col).alias("id")), "id",
        compute_clusters, lineage={"input": "edges"},
    )


def near_dup_image_pairs(df: DataFrame, id_col: str, phash_col: str, cfg: DedupConfig) -> DataFrame:
    """Hamming-LSH candidate pairs over a 64-bit perceptual-hash column.

    Chunk banding: 64 bits → ``num_chunks`` chunks; pigeonhole
    guarantees recall 1.0 for Hamming distance <= num_chunks − 1.
    Verification = exact popcount via the built-in ``bit_count``
    (JVM-side, codegen) — no UDF in the verify path.
    """
    c = cfg.simhash.num_chunks
    width = 64 // c
    mask = (1 << width) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_id"),
                F.shiftrightunsigned(F.col(phash_col), j * width).bitwiseAND(F.lit(mask)).alias("band_key"),
            )
            for j in range(c)
        ]
    )
    banded = (
        df.select(F.col(id_col).alias("_id"), F.col(phash_col).alias("_ph"), F.explode(chunks).alias("ch"))
        .select("_id", "_ph", F.col("ch.band_id").alias("band_id"), F.col("ch.band_key").alias("band_key"))
    )
    pairs = candidate_pairs(banded.select("_id", "band_id", "band_key"), cfg)
    ph = df.select(F.col(id_col).alias("_id"), F.col(phash_col).alias("_ph"))
    return (
        pairs.join(ph.withColumnRenamed("_id", "a").withColumnRenamed("_ph", "ph_a"), on="a")
        .join(ph.withColumnRenamed("_id", "b").withColumnRenamed("_ph", "ph_b"), on="b")
        .withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .filter(F.col("hamming") <= F.lit(cfg.simhash.hamming_threshold))
        .select("a", "b", "hamming")
    )


def near_dup_multimodal_clusters(
    df: DataFrame,
    id_col: str = "image_id",
    caption_col: str = "caption",
    phash_col: str = "phash",
    cfg: DedupConfig | None = None,
    use_pixel_simhash: bool = False,
) -> DataFrame:
    """North-rule pipeline over the image+caption table (input_hint
    schema): caption-MinHash edges ∪ phash-Hamming edges → one CC pass.

    ``use_pixel_simhash=True`` adds the decoded-pixel SimHash signature
    family (north_star: "phash + decoded-pixel SimHash for image
    near-dups"): decode ``bytes`` → 8×8 grayscale features → 64-bit
    hyperplane SimHash → the same Hamming chunk-LSH as phash. The
    decode runs in one ``mapInPandas`` stage — at production scale it
    is >99% of pipeline CPU, which is exactly why the scaling bench
    runs with it on.
    """
    cfg = cfg or DedupConfig()
    sigs = text_signatures(df, id_col, caption_col, cfg).localCheckpoint(eager=True)
    text_edges = verified_text_pairs(sigs, cfg).select("a", "b")
    image_edges = near_dup_image_pairs(df, id_col, phash_col, cfg).select("a", "b")
    edges = text_edges.union(image_edges)
    if use_pixel_simhash:
        from .images import image_features

        # checkpoint: candidate_pairs' size probe (operators/lsh.py)
        # re-evaluates its input once — without this the mapInPandas
        # decode stage would run twice. image_features keys on
        # "image_id", so alias the caller's id column explicitly — a
        # table keyed by another name (with or without an unrelated
        # image_id column) must not crash or silently mis-key edges
        feats = (
            image_features(
                df.select(F.col(id_col).alias("image_id"), "bytes", "fmt"),
                cfg.simhash,
            )
            .filter(F.col("decode_ok"))
            .select(F.col("image_id").alias(id_col), "pixel_simhash")
            .localCheckpoint(eager=True)
        )
        pixel_edges = near_dup_image_pairs(feats, id_col, "pixel_simhash", cfg).select(
            "a", "b"
        )
        edges = edges.union(pixel_edges)
    all_ids = df.select(F.col(id_col).alias("id"))
    return assign_clusters(all_ids, edges, cfg)


def near_dup_multimodal_clusters_from_path(
    spark, parquet_path: str, cfg: DedupConfig | None = None
) -> DataFrame:
    """The scale path of the north-rule pipeline: one direct-read
    signature pass (operators/signatures.py::signatures_direct — the
    pixels never transit the JVM), then the identical LSH / verify /
    CC topology over the compact signature frame.

    Semantics match ``near_dup_multimodal_clusters(df,
    use_pixel_simhash=True)`` row for row (tested in
    tests/test_entry_queries.py); only the read topology differs.
    """
    all_ids, verified, cfg = multimodal_verified_edges_from_path(
        spark, parquet_path, cfg
    )
    return assign_clusters(all_ids, verified, cfg)


def multimodal_verified_edges_from_path(
    spark, parquet_path: str, cfg: DedupConfig | None = None
):
    """Everything in the from_path pipeline up to (but not including)
    connected components: returns ``(all_ids, verified_edges, cfg)``.
    Split out so the CC stage can be driven/benched on the REAL edge
    set independently (tools/cc_distributed_bench.py forces the
    distributed loop on it; the production entry point immediately
    feeds it to assign_clusters)."""
    from .lsh import (
        FAMILY_PHASH,
        FAMILY_PIXEL,
        FAMILY_TEXT,
        multi_family_candidate_pairs,
    )
    from .signatures import jaccard_from_signatures, signatures_direct

    cfg = cfg or DedupConfig()
    sigs_all = signatures_direct(
        spark, parquet_path, cfg.minhash, cfg.simhash
    ).localCheckpoint(eager=True)

    # fused banding: text MinHash bands + phash chunks + pixel-simhash
    # chunks in ONE exploded frame → one bucket agg, one pair dedup,
    # one verification join (vs one LSH pipeline per family)
    c = cfg.simhash.num_chunks
    width = 64 // c
    mask = (1 << width) - 1

    def _chunks(col: str, family: int, base: int):
        return [
            F.struct(
                F.lit(family).alias("family"),
                F.lit(base + j).alias("band_id"),
                F.shiftrightunsigned(F.col(col), j * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_key"),
            )
            for j in range(c)
        ]

    text_bands = F.filter(
        F.transform(
            "bands",
            lambda bk, i: F.struct(
                F.lit(FAMILY_TEXT).alias("family"),
                i.alias("band_id"),
                bk.alias("band_key"),
            ),
        ),
        lambda s: s["band_key"] != F.lit(-1),  # empty-caption sentinel
    )
    image_bands = F.array(*_chunks("phash", FAMILY_PHASH, 1000))
    pixel_bands = F.when(
        F.col("decode_ok"), F.array(*_chunks("pixel_simhash", FAMILY_PIXEL, 2000))
    ).otherwise(F.array().cast("array<struct<family:int,band_id:int,band_key:bigint>>"))
    banded = sigs_all.select(
        F.col("image_id").alias("_id"),
        F.explode(F.concat(text_bands, image_bands, pixel_bands)).alias("bk"),
    ).select("_id", "bk.family", "bk.band_id", "bk.band_key")

    pairs = multi_family_candidate_pairs(banded, cfg)

    # Family-split verification (round 5). The old single join shipped
    # the WIDE side (128-slot MinHash signature ≈ 1 KB/row) through two
    # shuffle joins for every candidate pair, although the bulk of the
    # pairs (image-family 8-bit-chunk collisions) need only the 8-byte
    # phash/pixel hashes. Now: (1) the image gates evaluate against a
    # NARROW (id, phash, pixel, decode_ok ≈ 26 B/row) side — explicitly
    # broadcast when the signature frame is provably small (row count
    # known from the checkpointed frame; same size-guarded pattern as
    # operators/ann.py), shuffle-join fallback otherwise; (2) only the
    # image-unverified text candidates reach the wide signature join,
    # typically a small fraction of the pair set. The verified edge SET
    # is identical: a pair survived iff ANY family gate passed, and the
    # branches below partition the pair set by exactly those gates
    # (equivalence-tested against the DataFrame-API pipeline in
    # tests/test_entry_queries.py).
    narrow = sigs_all.select("image_id", "phash", "pixel_simhash", "decode_ok")
    # the count is a Spark job of its own: pay it only when the gate
    # can fire (≈50 MB narrow hash table at 2M)
    if cfg.broadcast_verify_max_rows and sigs_all.count() <= cfg.broadcast_verify_max_rows:
        narrow = F.broadcast(narrow)
    na = narrow.select(
        F.col("image_id").alias("a"),
        F.col("phash").alias("ph_a"),
        F.col("pixel_simhash").alias("px_a"),
        F.col("decode_ok").alias("ok_a"),
    )
    nb = narrow.select(
        F.col("image_id").alias("b"),
        F.col("phash").alias("ph_b"),
        F.col("pixel_simhash").alias("px_b"),
        F.col("decode_ok").alias("ok_b"),
    )
    ht = F.lit(cfg.simhash.hamming_threshold)
    gated = (
        pairs.join(na, on="a")
        .join(nb, on="b")
        .withColumn(
            "img_ok",
            # coalesce: a NULL gate (e.g. null pixel hash) must behave
            # exactly like the old OR-chain — "not admitted here", but
            # still eligible for the text branch below
            F.coalesce(
                (
                    (F.col("phash_hit") == 1)
                    & (F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))) <= ht)
                )
                | (
                    (F.col("pixel_hit") == 1)
                    & F.col("ok_a")
                    & F.col("ok_b")
                    & (F.bit_count(F.col("px_a").bitwiseXOR(F.col("px_b"))) <= ht)
                ),
                F.lit(False),
            ),
        )
        .select("a", "b", "text_chained", "img_ok")
    )
    img_or_chain_edges = gated.filter(
        F.col("img_ok") | (F.col("text_chained") == 1)
    ).select("a", "b")
    jac_pairs = gated.filter(~F.col("img_ok") & (F.col("text_chained") == 0)).select(
        "a", "b"
    )
    sig_side = sigs_all.select("image_id", "signature")
    sa = sig_side.select(F.col("image_id").alias("a"), F.col("signature").alias("sig_a"))
    sb = sig_side.select(F.col("image_id").alias("b"), F.col("signature").alias("sig_b"))
    txt_edges = (
        jac_pairs.join(sa, on="a")
        .join(sb, on="b")
        .filter(
            jaccard_from_signatures("sig_a", "sig_b")
            >= F.lit(cfg.minhash.jaccard_threshold)
        )
        .select("a", "b")
    )
    # branches are disjoint by construction (pairs are unique and the
    # filters partition on img_ok/text_chained) — plain union, no dedup
    verified = img_or_chain_edges.unionByName(txt_edges)
    all_ids = sigs_all.select(F.col("image_id").alias("id"))
    return all_ids, verified, cfg
