"""THE recall gate (BASELINE.json metric): Spark cluster assignments
vs the single-threaded reference pipeline at the same shingle/num-perm/
seed config — dup-pair recall ≥ 0.99 (determinism makes it 1.0), plus
planted-truth quality checks.
"""

import pandas as pd
import pytest

from datasketches_rust_spark.sources.imagegen import generate_image_caption_table, pair_recall
from tests.reference_pipeline import (
    cluster_pairs,
    reference_multimodal_clusters,
    reference_text_clusters,
)


@pytest.fixture(scope="module")
def table():
    return generate_image_caption_table(300, seed=42)


@pytest.fixture(scope="module")
def spark_table(spark, table, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("recall") / "images.parquet")
    spark.createDataFrame(table.rows).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_recall_vs_reference_multimodal(spark_table, table):
    from datasketches_rust_spark.operators.dedup import near_dup_multimodal_clusters

    got = near_dup_multimodal_clusters(spark_table).toPandas()
    want = reference_multimodal_clusters(table.rows)

    got_pairs = cluster_pairs(got[["id", "cluster_id"]])
    want_pairs = cluster_pairs(want)
    assert want_pairs, "reference produced no dup pairs — fixture broken"
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.99, f"recall vs reference = {recall}"
    # and precision: Spark must not invent pairs the reference lacks
    precision = len(got_pairs & want_pairs) / max(len(got_pairs), 1)
    assert precision >= 0.99, f"precision vs reference = {precision}"
    # exact assignment equality (labels are min-id in both)
    merged = got.sort_values("id").reset_index(drop=True)
    ref = want.sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(merged, ref)


def test_recall_vs_reference_text_only(spark_table, table):
    from datasketches_rust_spark.operators.dedup import near_dup_text_clusters

    got = near_dup_text_clusters(spark_table, "image_id", "caption").toPandas()
    want = reference_text_clusters(
        table.rows["image_id"].tolist(), table.rows["caption"].tolist()
    )
    got_pairs = cluster_pairs(got[["id", "cluster_id"]])
    want_pairs = cluster_pairs(want)
    recall = len(got_pairs & want_pairs) / max(len(want_pairs), 1)
    assert recall >= 0.99, f"text recall vs reference = {recall}"


def test_planted_truth_quality(spark_table, table):
    from datasketches_rust_spark.operators.dedup import near_dup_multimodal_clusters

    out = near_dup_multimodal_clusters(spark_table).toPandas()
    recall = pair_recall(out[["id", "cluster_id"]], table.truth)
    assert recall >= 0.99, f"planted-truth recall {recall}"


def test_cc_driver_path_equals_distributed(spark):
    """The selectivity-gated driver NumPy path must produce exactly the
    distributed path's labeling (min id per component) — on chains,
    triangles, isolated pairs, a self-loop, duplicate and mirrored
    edges, for long AND string vertex ids — both when the edges fit the
    one-task finish and when a 32-byte advisory partition size forces
    contraction rounds."""
    from contextlib import nullcontext

    import pandas as pd

    from datasketches_rust_spark.operators.connected_components import (
        ADVISORY_SIZE,
        connected_components,
    )
    from datasketches_rust_spark.session import scoped_conf

    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21),
             (21, 20), (20, 21), (30, 30)]
    for typ, conv in (("long", int), ("string", lambda v: f"v{v:03d}")):
        df = spark.createDataFrame(
            [(conv(a), conv(b)) for a, b in edges], f"a {typ}, b {typ}"
        )
        via_driver = (
            connected_components(df).toPandas().sort_values("id").reset_index(drop=True)
        )
        for size, min_rounds in ((None, 0), ("32b", 1)):
            stats: dict = {}
            with scoped_conf(spark, {ADVISORY_SIZE: size}) if size else nullcontext():
                via_loop = (
                    connected_components(df, driver_max_edges=0, stats=stats)
                    .toPandas()
                    .sort_values("id")
                    .reset_index(drop=True)
                )
            assert stats["rounds"] >= min_rounds, stats
            pd.testing.assert_frame_equal(via_driver, via_loop)
        want_clusters = {
            conv(0): [0, 1, 2, 3], conv(10): [10, 11, 12], conv(20): [20, 21], conv(30): [30]
        }
        got = dict(zip(via_driver["id"], via_driver["cluster_id"]))
        assert len(got) == 10
        for root, members in want_clusters.items():
            for m in members:
                assert got[conv(m)] == root
