"""New driver-contract queries: events windows/sessions (DuckDB oracle
parity at sf0.001) and the image+caption queries over the distributed
deterministic generator (sources/imagegen.py)."""

import os

import duckdb
import pytest

import __spark_entry__ as entrymod
from datasketches_rust_spark.session import scoped_conf

SF_DIR = "/root/testdata/sf0.001"
EVENT_QUERIES = [
    "events_hourly_window",
    "events_sessionize",
    "events_top_users",
    "events_distinct_users_by_type",
]


def _oracle_rows(sql: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'"
    )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.mark.parametrize("name", EVENT_QUERIES)
def test_events_query_matches_oracle(spark, name):
    got_df = entrymod.queries()[name](spark, SF_DIR)
    got = _normalize(got_df.columns, [tuple(r) for r in got_df.collect()])
    cols, rows = _oracle_rows(entrymod.oracle_sql()[name])
    assert sorted(cols) == sorted(got_df.columns)
    want = _normalize(cols, rows)
    assert got == want, f"{name}: {len(got)} spark rows vs {len(want)} oracle"


def test_imagegen_distributed_deterministic(spark):
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    a = generate_image_caption_df(spark, 60, seed=42, partitions=4).toPandas()
    b = generate_image_caption_df(spark, 60, seed=42, partitions=4).toPandas()
    a = a.sort_values("image_id").reset_index(drop=True)
    b = b.sort_values("image_id").reset_index(drop=True)
    assert list(a.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    assert a["image_id"].is_unique and len(a) == 60
    assert (a["image_id"] == b["image_id"]).all()
    assert (a["phash"] == b["phash"]).all()
    assert (a["caption"] == b["caption"]).all()
    assert all(bytes(x) == bytes(y) for x, y in zip(a["bytes"], b["bytes"]))


def test_multimodal_query_recall_on_generated_truth(spark):
    """The north-rule pipeline on the generated table recovers the
    planted clusters (recall vs truth; the strict reference-parity gate
    lives in test_recall_gate.py)."""
    from datasketches_rust_spark.operators.dedup import near_dup_multimodal_clusters
    from datasketches_rust_spark.sources.imagegen import (
        generate_image_caption_df,
        pair_recall,
    )

    df = generate_image_caption_df(spark, 120, seed=42, partitions=4, with_truth=True)
    pdf = df.toPandas()
    got = (
        near_dup_multimodal_clusters(df.drop("true_cluster"))
        .toPandas()
        .rename(columns={"id": "image_id"})
    )
    truth = pdf[["image_id", "true_cluster"]].rename(
        columns={"true_cluster": "true_cluster"}
    )
    r = pair_recall(got[["image_id", "cluster_id"]], truth)
    assert r >= 0.99, f"recall vs planted truth = {r}"


def test_image_feature_queries_run(spark):
    feats = entrymod.queries()["image_features"](spark, SF_DIR).toPandas()
    assert len(feats) == 400 and feats["decode_ok"].all()
    ps = entrymod.queries()["image_roundtrip_psnr"](spark, SF_DIR).toPandas()
    assert ps["psnr_ok"].all() and ps["decode_ok"].all()


def test_cpc_query_tolerance(spark):
    """The driver query self-reports exact counts + a 5% rel-err gate;
    both must agree with an independent DuckDB COUNT DISTINCT."""
    got = entrymod.queries()["cpc_distinct_users"](spark, SF_DIR).toPandas()
    _cols, rows = _oracle_rows(
        "SELECT event_type, COUNT(DISTINCT user_id) AS n FROM events GROUP BY 1"
    )
    exact = dict(rows)
    assert len(got) == len(exact)
    for _, r in got.iterrows():
        assert r["exact_distinct"] == exact[r["event_type"]]
        assert bool(r["rel_err_ok"]), r["event_type"]


def test_from_path_pipeline_matches_dataframe_pipeline(spark, tmp_path):
    """The direct-read scale path (signatures_direct → LSH → CC) yields
    identical cluster assignments to the JVM-read DataFrame pipeline."""
    from datasketches_rust_spark.operators.dedup import (
        near_dup_multimodal_clusters,
        near_dup_multimodal_clusters_from_path,
    )
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    path = str(tmp_path / "imgs")
    generate_image_caption_df(spark, 150, seed=11, partitions=5).write.parquet(path)
    df = spark.read.parquet(path)
    a = (
        near_dup_multimodal_clusters(df, use_pixel_simhash=True)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    b = (
        near_dup_multimodal_clusters_from_path(spark, path)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert (a["id"] == b["id"]).all()
    assert (a["cluster_id"] == b["cluster_id"]).all()


def test_at_scale_plan_matches_default_plan(spark, tmp_path):
    """cc_driver_max_edges=0 + broadcast_verify_max_rows=0 (the
    run_dedup.py --at-scale-plan config: shuffle-join verification +
    distributed contraction CC — the plan a large cluster runs) must
    yield identical cluster assignments to the default sandbox-scale
    shortcuts (broadcast verify side + driver-side CC)."""
    from dataclasses import replace

    from datasketches_rust_spark.config import DedupConfig
    from datasketches_rust_spark.operators.dedup import (
        near_dup_multimodal_clusters_from_path,
    )
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    path = str(tmp_path / "imgs_atscale")
    generate_image_caption_df(spark, 150, seed=13, partitions=5).write.parquet(path)
    default = (
        near_dup_multimodal_clusters_from_path(spark, path)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    at_scale_cfg = replace(
        DedupConfig(), cc_driver_max_edges=0, broadcast_verify_max_rows=0
    )
    at_scale = (
        near_dup_multimodal_clusters_from_path(spark, path, at_scale_cfg)
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    assert (default["id"] == at_scale["id"]).all()
    assert (default["cluster_id"] == at_scale["cluster_id"]).all()


def test_signatures_direct_uri_and_chunked_read(spark, tmp_path):
    """The direct-read path yields identical rows through (a) a
    file:// URI resolved via pyarrow.fs (the object-store code path —
    no POSIX-glob listing) and (b) a forced tiny rows_per_batch (the
    bounded-memory streamed read), vs the plain-path whole-file
    default."""
    from datasketches_rust_spark.operators.signatures import signatures_direct
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    path = str(tmp_path / "imgs_uri")
    generate_image_caption_df(spark, 60, seed=7, partitions=3).write.parquet(path)

    def rows(df):
        return sorted(
            (r["image_id"], r["phash_computed"], r["pixel_simhash"],
             tuple(r["signature"]), tuple(r["bands"]), r["decode_ok"])
            for r in df.collect()
        )

    base = rows(signatures_direct(spark, path))
    via_uri = rows(signatures_direct(spark, "file://" + path))
    chunked = rows(signatures_direct(spark, path, rows_per_batch=7))
    assert len(base) == 60
    assert via_uri == base
    assert chunked == base

    # few-huge-files layout: ONE file with many row groups must split
    # into row-group-range tasks (not serialize onto one core) and
    # reproduce the same rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = spark.read.parquet(path).toPandas()
    one = str(tmp_path / "imgs_onefile")
    os.makedirs(one)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(one, "part-0.parquet"),
        row_group_size=6,
    )
    # at the default split size the file is one task; a split size of a
    # quarter of the file cuts it into byte ranges
    size = os.path.getsize(os.path.join(one, "part-0.parquet"))
    with scoped_conf(spark, _file_split(f"{size // 4}b", "0b")):
        single = signatures_direct(spark, one)
    assert single.rdd.getNumPartitions() > 1
    assert rows(single) == base


def _file_split(max_partition_bytes: str, open_cost: str) -> dict[str, str]:
    """Spark's file-scan split settings, for ``scoped_conf``."""
    return {
        "spark.sql.files.maxPartitionBytes": max_partition_bytes,
        "spark.sql.files.openCostInBytes": open_cost,
    }


def _write_row_groups(path: str, n_groups: int) -> None:
    """A parquet file with exactly ``n_groups`` row groups of 4 rows of
    incompressible payload (about 1 KB each)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(n_groups)
    schema = pa.schema([("image_id", pa.string()), ("bytes", pa.binary())])
    with pq.ParquetWriter(path, schema) as w:
        for g in range(n_groups):
            w.write_table(pa.table(
                {"image_id": [f"{g}_{i}" for i in range(4)],
                 "bytes": [rng.bytes(256) for _ in range(4)]},
                schema=schema,
            ))


def test_row_group_splits_planner(spark, tmp_path):
    """Split planner: Spark's file-scan rule over the listed file sizes,
    then each task picks the row groups whose midpoint lies in its byte
    ranges. On every layout and split size: the task count equals
    Spark's own scan of the same files, each file's ranges tile it with
    no overlap, every row group is read by exactly one task, an empty
    (0-row-group) file is harmless, and the driver reads no footer."""
    from unittest import mock

    import pyarrow.parquet as pq

    from datasketches_rust_spark.operators.signatures import (
        _file_scan_bins,
        _resolve_direct_files,
        _row_groups_in_range,
    )

    layouts = {"many": [1] * 64, "mixed": [5, 12, 1, 0], "one": [12]}
    split_confs = [("128MB", "4MB"), ("3k", "1k"), ("1k", "0b")]
    for name, groups in layouts.items():
        d = tmp_path / name
        d.mkdir()
        for i, n in enumerate(groups):
            _write_row_groups(str(d / f"part-{i:05d}.parquet"), n)
        for max_bytes, open_cost in split_confs:
            with scoped_conf(spark, _file_split(max_bytes, open_cost)):
                with mock.patch(
                    "pyarrow.parquet.ParquetFile",
                    side_effect=AssertionError("footer read on the driver"),
                ):
                    _, sized = _resolve_direct_files(str(d))
                    bins = _file_scan_bins(spark, sized)
                assert len(bins) == spark.read.parquet(str(d)).rdd.getNumPartitions()
            ranges, readers = {}, {}
            for task, ranges_of_task in enumerate(bins):
                for f, start, length in ranges_of_task:
                    ranges.setdefault(f, []).append((start, length))
                    meta = pq.ParquetFile(f).metadata
                    for g in _row_groups_in_range(meta, start, length):
                        readers.setdefault((f, g), []).append(task)
            for f, size in sized:
                rs = sorted(ranges[f])
                assert rs[0][0] == 0 and sum(n for _, n in rs) == size
                assert all(a + n == b for (a, n), (b, _) in zip(rs, rs[1:]))
            want = {(f, g) for f, _ in sized for g in range(pq.ParquetFile(f).metadata.num_row_groups)}
            assert set(readers) == want, (name, max_bytes)
            assert all(len(tasks) == 1 for tasks in readers.values()), (name, max_bytes)
            if name == "one" and max_bytes == "1k":
                # a multi-row-group file is cut across several tasks
                assert len({t[0] for t in readers.values()}) > 1


def test_signatures_direct_launch_plan(spark, tmp_path):
    """The signature stage launches one Python worker per task: its task
    frame is generated on the JVM, so its lineage holds no PythonRDD
    feeding the mapInPandas. And an 8-file input runs as many tasks as
    Spark's own scan of those files plans (4 on the 4-core test session,
    not one per file)."""
    from datasketches_rust_spark.operators.signatures import signatures_direct
    from datasketches_rust_spark.sources.imagegen import generate_image_caption_df

    path = str(tmp_path / "imgs8")
    generate_image_caption_df(spark, 80, seed=5, partitions=8).write.parquet(path)
    df = signatures_direct(spark, path)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()

    sc = spark.sparkContext
    sc.setJobGroup("signatures-launch-plan", "signature stage task count")
    try:
        assert len(df.collect()) == 80
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    tracker = sc.statusTracker()
    tasks = sum(
        tracker.getStageInfo(stage).numTasks
        for job in tracker.getJobIdsForGroup("signatures-launch-plan")
        for stage in tracker.getJobInfo(job).stageIds
    )
    assert tasks == spark.read.parquet(path).rdd.getNumPartitions() < 8


def test_sql_registry_theta(spark):
    """Pure-SQL sketch usage: build → estimate == COUNT DISTINCT in the
    exact regime; union re-aggregation of pre-sketched rollups."""
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions

    # lg_k=14 keeps even the global union in the exact regime (5000 < k)
    register_sql_functions(spark, ThetaConfig(lg_k=14))
    df = spark.range(0, 5000).selectExpr("id % 4 AS k", "id AS v")
    df.createOrReplaceTempView("t_sql_reg")
    got = {
        r.k: (r.est, r.lb, r.ub)
        for r in spark.sql(
            """SELECT k,
                      theta_estimate(theta_sketch_agg(v)) AS est,
                      theta_lb(theta_sketch_agg(v)) AS lb,
                      theta_ub(theta_sketch_agg(v)) AS ub
               FROM t_sql_reg GROUP BY k"""
        ).collect()
    }
    for k in range(4):
        assert got[k][0] == 1250.0 and got[k][1] <= 1250.0 <= got[k][2]

    # two-level rollup: per-k sketches unioned to a global sketch
    spark.sql(
        "SELECT k, theta_sketch_agg(v) AS sk FROM t_sql_reg GROUP BY k"
    ).createOrReplaceTempView("t_rollup")
    (total,) = spark.sql(
        "SELECT theta_estimate(theta_union_agg(sk)) AS n FROM t_rollup"
    ).first()
    assert total == 5000.0


def test_sql_dataframe_float_hash_parity(spark):
    """ADVICE r2 (medium): the SQL surface must hash float columns via
    canonical_double → u64 exactly like the DataFrame surface, so
    sketches built by either over the same data are byte-identical and
    union correctly (not silently double-count)."""
    import numpy as np

    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions
    from datasketches_rust_spark.functions.theta import ThetaSketch, theta_union

    cfg = ThetaConfig(lg_k=14)
    register_sql_functions(spark, cfg)
    # NaN rides the Arrow float path as pandas NA → dropped like NULL
    # on BOTH surfaces (engine semantics); -0.0 canonicalizes to +0.0
    vals = [float(x) / 7.0 for x in range(2000)] + [float("nan"), -0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    df.createOrReplaceTempView("t_float_parity")
    (blob,) = spark.sql(
        "SELECT theta_sketch_agg(v) AS sk FROM t_float_parity"
    ).first()
    sql_sk = ThetaSketch.deserialize(bytes(blob), cfg)
    kept = np.array([v for v in vals if v == v], np.float64)
    ref_sk = ThetaSketch.from_f64s(kept, cfg)
    assert np.array_equal(sql_sk.entries, ref_sk.entries)
    # union of the two surfaces' sketches must NOT double-count
    assert theta_union([sql_sk, ref_sk]).estimate() == ref_sk.estimate()
    # 2000 distinct values; -0.0 collapsed into +0.0 (x=0 item)
    assert ref_sk.estimate() == 2000.0


def test_sql_scalar_udfs_null_safe(spark):
    """NULL sketch blobs (outer joins) yield SQL NULL, not a task-
    killing TypeError (ADVICE r2)."""
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions

    register_sql_functions(spark)
    rows = spark.sql(
        """WITH t AS (SELECT theta_sketch_agg(id) AS sk FROM range(100))
           SELECT theta_estimate(sk) e, theta_lb(sk) lb, theta_ub(sk) ub
           FROM (SELECT sk FROM t UNION ALL SELECT CAST(NULL AS BINARY))"""
    ).collect()
    assert len(rows) == 2
    by_null = {r.e is None: r for r in rows}
    assert by_null[False].e == 100.0
    assert by_null[True].lb is None and by_null[True].ub is None


def test_sql_registry_hll_cpc_tdigest(spark):
    """The non-theta SQL families: grouped builders, rollup re-union,
    scalar queries over the blobs. Exact/linear-counting regimes so the
    answers are deterministic; tdigest with n < buffer is exact."""
    import numpy as np

    from datasketches_rust_spark.functions.sql_registry import register_sql_functions

    register_sql_functions(spark)
    spark.range(0, 4000).selectExpr("id % 4 AS k", "id AS v").createOrReplaceTempView(
        "t_sql_fam"
    )
    # HLL lg_k=12 linear-counting regime at n=1000/key → within the
    # reference's LC relative-error envelope (well under 2% here)
    got = {
        r.k: r.est
        for r in spark.sql(
            """SELECT k, hll_estimate(hll_sketch_agg(v)) AS est
               FROM t_sql_fam GROUP BY k"""
        ).collect()
    }
    assert all(abs(got[k] / 1000.0 - 1.0) < 0.02 for k in range(4))
    # rollup: per-key HLL blobs re-unioned to the global sketch
    (tot,) = spark.sql(
        """SELECT hll_estimate(hll_union_agg(sk)) AS n FROM
           (SELECT k, hll_sketch_agg(v) AS sk FROM t_sql_fam GROUP BY k)"""
    ).first()
    assert abs(tot / 4000.0 - 1.0) < 0.02
    # CPC: ICON estimate within the reference's own 2% gate
    (cpc_tot,) = spark.sql(
        """SELECT cpc_estimate(cpc_union_agg(sk)) AS n FROM
           (SELECT k, cpc_sketch_agg(v) AS sk FROM t_sql_fam GROUP BY k)"""
    ).first()
    assert abs(cpc_tot / 4000.0 - 1.0) < 0.02
    # tdigest: n=4000 < k=200 buffer regime still compresses, but the
    # median of 0..3999 must land within the K_2 accuracy gate
    (q50, r2000) = spark.sql(
        """SELECT tdigest_quantile(td, 0.5) AS q50, tdigest_rank(td, 2000.0) AS r
           FROM (SELECT tdigest_agg(CAST(v AS DOUBLE)) AS td FROM t_sql_fam)"""
    ).first()
    assert abs(q50 / 1999.5 - 1.0) < 0.03  # same rel gate as test_sketches
    assert abs(r2000 - 0.5) < 0.01
    # two-level tdigest rollup merges partials
    (q50m,) = spark.sql(
        """SELECT tdigest_quantile(tdigest_merge_agg(td), 0.5) AS q
           FROM (SELECT k, tdigest_agg(CAST(v AS DOUBLE)) AS td
                 FROM t_sql_fam GROUP BY k)"""
    ).first()
    assert abs(q50m / 1999.5 - 1.0) < 0.03


def test_sql_hll_cpc_float_hash_parity(spark):
    """Float columns through the HLL/CPC SQL aggregates must follow
    canonical_double → u64 (the reference's update_f64), not str(v):
    coupons must match the engine's own float path bit-for-bit."""
    import numpy as np

    from datasketches_rust_spark.functions.hll import HllSketch
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions
    from datasketches_rust_spark.hashes import canonical_double

    register_sql_functions(spark)
    vals = [float(x) / 3.0 for x in range(500)] + [-0.0]
    spark.createDataFrame([(v,) for v in vals], "v double").createOrReplaceTempView(
        "t_float_fam"
    )
    (blob,) = spark.sql("SELECT hll_sketch_agg(v) AS sk FROM t_float_fam").first()
    sql_sk = HllSketch.deserialize(bytes(blob))
    ref = HllSketch(12)
    ref.update_u64s(canonical_double(np.array(vals, np.float64)))
    assert np.array_equal(sql_sk.registers, ref.registers)
    # −0.0 collapses into +0.0 → 500 distinct values, linear regime
    assert abs(sql_sk.estimate() / 500.0 - 1.0) < 0.02


def test_theta_distinct_global_empty_input(spark):
    """Zero-row / all-null input returns estimate 0.0 instead of
    raising 'theta_union of nothing' at the driver (ADVICE r2)."""
    from datasketches_rust_spark.operators.sketch_aggs import theta_distinct_global

    empty = spark.createDataFrame([], "v long")
    assert theta_distinct_global(empty, "v").first().distinct_estimate == 0.0
    allnull = spark.createDataFrame([(None,), (None,)], "v long")
    assert theta_distinct_global(allnull, "v").first().distinct_estimate == 0.0


def test_tree_merge_size_gate_paths_agree(spark):
    """The tree merge's shard level is size-gated (≤ 4×fanout
    partitions → direct collect). Both paths must produce the same
    estimates; the many-partition input forces the tree path."""
    from datasketches_rust_spark.config import ThetaConfig
    from datasketches_rust_spark.operators.sketch_aggs import (
        theta_distinct_global,
        theta_intersect_groups,
    )

    cfg = ThetaConfig(lg_k=14)
    few = spark.range(0, 5000).selectExpr("id AS v")  # small partition count
    many = few.repartition(40)  # > 4 * fanout(8) → tree path
    assert many.rdd.getNumPartitions() == 40
    e_few = theta_distinct_global(few, "v", cfg).first().distinct_estimate
    e_many = theta_distinct_global(many, "v", cfg).first().distinct_estimate
    assert e_few == e_many == 5000.0

    split = spark.range(0, 4000).selectExpr("id % 3000 AS v", "id % 2 = 0 AS even")
    i_few = theta_intersect_groups(split, "v", "even", cfg).first()
    i_many = theta_intersect_groups(
        split.repartition(40), "v", "even", cfg
    ).first()
    assert i_few.intersection_estimate == i_many.intersection_estimate


def test_hll_cpc_partial_stage_one_row_per_key_per_partition(spark):
    """VERDICT r2 #1 done-criterion: the HLL/CPC partial stage emits
    ≈ keys × partitions rows (one accumulated sketch per key per
    partition), NOT keys × Arrow batches — the shuffle-shape fix that
    makes per-key sketching viable at scale. Estimates must be
    unchanged and exact in the linear-counting regime."""
    from datasketches_rust_spark.operators.sketch_aggs import (
        cpc_distinct_by_key,
        cpc_partial_sketches,
        hll_distinct_by_key,
        hll_partial_sketches,
    )

    # 40k rows / 4 partitions → ~5 Arrow batches per partition; the old
    # per-batch code emitted keys × partitions × batches rows
    df = spark.range(0, 40000).selectExpr("id % 8 AS k", "id % 997 AS v").repartition(4)
    nparts = 4
    nkeys = 8
    hp = hll_partial_sketches(df, "k", "v", lg_k=14)
    assert hp.count() <= nkeys * nparts
    cp = cpc_partial_sketches(df, "k", "v", lg_k=11)
    assert cp.count() <= nkeys * nparts
    # low-cardinality per-key partials ship sparse blobs, not 2^lg_k B
    max_blob = max(len(bytes(r.sketch)) for r in hp.collect())
    assert max_blob < 4 * 997 + 64, f"HLL partial blob {max_blob} B — dense leak?"

    # estimates unchanged / exact-regime correct
    hll = {r.k: r.hll_estimate for r in hll_distinct_by_key(df, "k", "v", lg_k=14).collect()}
    cpc = {r.k: r.cpc_estimate for r in cpc_distinct_by_key(df, "k", "v", lg_k=11).collect()}
    # every key sees all 997 distinct v values (40000 ≫ 8 × 997)
    for k in range(nkeys):
        assert abs(hll[k] - 997) / 997 < 0.03
        assert abs(cpc[k] - 997) / 997 < 0.03


def test_sql_registry_bloom_countmin_frequencies(spark):
    """The remaining SQL families (round 3): bloom membership,
    count-min weighted counts, Misra-Gries heavy hitters — grouped
    builders, rollup re-union, scalar queries over blobs. All in exact
    regimes so the answers are deterministic."""
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions

    register_sql_functions(spark)
    spark.range(0, 3000).selectExpr(
        "id % 3 AS k", "CAST(id % 500 AS STRING) AS item", "CAST(1 + id % 7 AS BIGINT) AS w"
    ).createOrReplaceTempView("t_sql_fam2")

    # bloom: rollup union of per-key filters contains every inserted
    # item and (at fpp 1e-6 over 500 items) no probed absent item
    rows = spark.sql(
        """WITH per_k AS (SELECT k, bloom_agg(item) AS bf FROM t_sql_fam2 GROUP BY k),
             g AS (SELECT bloom_union_agg(bf) AS bf FROM per_k)
           SELECT bloom_contains(bf, '123') AS hit,
                  bloom_contains(bf, 'absent-item') AS miss FROM g"""
    ).collect()
    assert rows[0].hit is True and rows[0].miss is False

    # countmin: exact in a collision-free regime — weighted count of
    # item '7' equals the SQL SUM over the same predicate
    (est,) = spark.sql(
        """WITH per_k AS (SELECT k, countmin_agg(item, w) AS cm
                          FROM t_sql_fam2 GROUP BY k)
           SELECT countmin_estimate(countmin_union_agg(cm), '7') AS e FROM per_k"""
    ).first()
    (want,) = spark.sql(
        "SELECT CAST(SUM(w) AS BIGINT) FROM t_sql_fam2 WHERE item = '7'"
    ).first()
    assert est == want

    # frequencies: distinct items (500) > map budget triggers purges,
    # but a planted dominant item's estimate bounds still bracket its
    # true count (Misra-Gries guarantee)
    spark.sql(
        """SELECT CAST(id AS STRING) AS item FROM range(2000)
           UNION ALL SELECT 'dominant' FROM range(800)"""
    ).createOrReplaceTempView("t_heavy")
    (est_d,) = spark.sql(
        """SELECT frequencies_estimate(frequent_items_agg(item), 'dominant')
           FROM t_heavy"""
    ).first()
    assert est_d >= 800  # upper-biased estimate can't undercount

    # NULL blob / NULL item safety on the scalar surface
    row = spark.sql(
        """SELECT bloom_contains(CAST(NULL AS BINARY), 'x') AS a,
                  countmin_estimate(CAST(NULL AS BINARY), 'x') AS b,
                  frequencies_estimate(CAST(NULL AS BINARY), 'x') AS c"""
    ).first()
    assert row.a is None and row.b is None and row.c is None


def test_crossset_jaccard_pairs_edges(spark):
    """Cross-set dedup edge cases the parquet oracle can't reach:
    short docs (< 3 tokens) fall back to one whole-text shingle and
    only match exact-normalized twins; pairs are strictly new x index
    (never within-side); empty new batch yields zero rows."""
    from datasketches_rust_spark.operators.textstats import crossset_jaccard_pairs

    index = spark.createDataFrame(
        [(1, "big data"), (2, "the quick brown fox jumps"), (3, "BIG   DATA")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "big data"), (11, "the quick brown fox leaps"), (12, "unrelated words here")],
        "doc_id long, text string",
    )
    got = {
        (r.new_id, r.index_id): r.jaccard
        for r in crossset_jaccard_pairs(new, index, "doc_id", "text", 0.4).collect()
    }
    # whole-text shingle: 'big data' matches both 1 and (normalized) 3
    assert got[(10, 1)] == 1.0 and got[(10, 3)] == 1.0
    # 3 shared trigrams of 'the quick brown fox *': J = 2/4
    assert abs(got[(11, 2)] - 0.5) < 1e-12
    assert (12, 1) not in got and all(k[0] >= 10 for k in got)
    empty = crossset_jaccard_pairs(
        new.filter("doc_id < 0"), index, "doc_id", "text", 0.1
    )
    assert empty.count() == 0


def test_sql_registry_null_and_type_hardening(spark):
    """Round-3 review fixes: (a) frequent_items SQL family is
    stringly-typed end-to-end, so an INTEGER item column round-trips
    agg → union → estimate; (b) a NULL weight row must not corrupt the
    count-min sketch (NaN → INT64_MIN); (c) tdigest_quantile/rank
    return NULL for NULL q/x instead of killing the task."""
    from datasketches_rust_spark.functions.sql_registry import register_sql_functions

    register_sql_functions(spark)
    # (a) int items through the frequencies SQL surface
    (est,) = spark.sql(
        """SELECT frequencies_estimate(frequent_items_union_agg(sk), '7')
           FROM (SELECT id % 4 AS k, frequent_items_agg(id % 10) AS sk
                 FROM range(1000) GROUP BY 1)"""
    ).first()
    assert est == 100
    # (b) NULL weight rows are dropped, not cast to INT64_MIN
    (cm_est,) = spark.sql(
        """SELECT countmin_estimate(countmin_agg(item, w), 'x') FROM (
             SELECT 'x' AS item, 5 AS w
             UNION ALL SELECT 'x', NULL
             UNION ALL SELECT 'x', 3)"""
    ).first()
    assert cm_est == 8
    # (c) NULL quantile/rank arguments yield SQL NULL
    row = spark.sql(
        """SELECT tdigest_quantile(td, CAST(NULL AS DOUBLE)) AS q,
                  tdigest_rank(td, CAST(NULL AS DOUBLE)) AS r
           FROM (SELECT tdigest_agg(CAST(id AS DOUBLE)) AS td FROM range(100))"""
    ).first()
    assert row.q is None and row.r is None


def test_float_hash_parity_hll_dataframe_vs_sql(spark):
    """Review fix: the DataFrame HLL/CPC coupon path hashes floats via
    canonical_double → u64 exactly like the SQL surface — per-key
    sketches over a double column must agree with COUNT(DISTINCT) and
    with the SQL aggregate's estimate."""
    from datasketches_rust_spark.operators.sketch_aggs import hll_distinct_by_key

    df = spark.range(0, 3000).selectExpr(
        "id % 3 AS k", "CAST((id % 500) / 4.0 AS DOUBLE) AS v"
    )
    got = {
        r.k: r.hll_estimate
        for r in hll_distinct_by_key(df, "k", "v", lg_k=14).collect()
    }
    # every key holds the same 500 float values -> identical registers
    # -> the DataFrame estimate must EQUAL one built directly through
    # canonical_double (the reference's update_f64 path); str(v)
    # hashing would diverge
    import numpy as np

    from datasketches_rust_spark.functions.hll import HllSketch
    from datasketches_rust_spark.hashes import canonical_double

    ref = HllSketch(14, out_of_order=True)
    vals = np.array([(i % 500) / 4.0 for i in range(500)], np.float64)
    ref.update_u64s(canonical_double(vals))
    for k in range(3):
        assert got[k] == ref.estimate(), (got, ref.estimate())
        assert abs(got[k] / 500.0 - 1.0) < 0.02


def test_resume_equivalence_gates_all_true(spark):
    """The round-5 driver-visible resume row: every folded boolean must
    hold (a False here means the sweep row hash-mismatches too)."""
    import __spark_entry__ as entrymod

    row = entrymod.queries()["resume_equivalence"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert row["n_docs"] == 200
    for gate in (
        "resume_matches_fresh",
        "resume_only_missing_buckets",
        "resume_kept_buckets_untouched",
        "lineage_guard_ok",
    ):
        assert row[gate] is True, gate
