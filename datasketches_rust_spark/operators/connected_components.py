"""Connected components over an edge DataFrame.

``connected_components`` returns ``(id, cluster_id)`` for every vertex
of the edge frame, with ``cluster_id`` = the minimum id of the vertex's
component. The labeling is a pure function of the edge *set*,
independent of partitioning or executor count (the two-cluster-size
reproducibility requirement), for long and string ids alike.

One NumPy kernel, ``min_labels``, solves a component problem that fits
one process. It runs in three places:

* **driver path** — an edge set at or below ``driver_max_edges``
  (counted exactly on the materialized frame) is collected and solved
  on the driver, then parallelized back out. The choice is logged, and
  the collect is bounded by the threshold the caller sees.
* **one-task finish** — an edge set that fits one partition, sized by
  Spark's own ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, is
  solved by a single ``mapInPandas`` task. A contracted graph of that
  size converges in round 0: one count job, then the task runs inside
  whichever job consumes the labels.
* **contraction rounds** — above that size, every partition of each
  round is contracted to a forest of ``(local min, member)`` stars.

A contraction round is two shuffles in one Spark job, after Kiveris et
al., *Connected Components in MapReduce and Beyond* (SoCC 2014). Both
shuffles co-locate every vertex's full neighbourhood (each edge is sent
to both endpoints), with the partition count sized so that a partition
holds about one advisory partition of edges:

1. **Large-Star** — each edge ``(u, w)``, ``u < w``, becomes
   ``(m(u), w)`` with ``m(u)`` the minimum of ``u`` and its
   neighbours; the partition's emitted edges are then contracted to
   their local-min stars.
2. **Prune + Small-Star** — a vertex whose only neighbour is smaller
   is a settled leaf: it is retired with that neighbour as its parent
   and drops out of the active set, so converged stars leave the loop.
   Every other vertex links its smaller neighbours and itself to the
   least of them, and the partition's edges are contracted again.

Co-location is what makes the contraction work: contracting in the
input's own partitions left 47,600 of 47,600 edges on a random path.
Each round's output is materialized without the replaced plan's size
estimate (``_materialize``), so the estimate cannot compound from round
to round. Once the active edges fit one partition, the one-task finish
labels them, and the retired vertices take their labels in reverse
round order, one join per round: a vertex retired in round ``r`` points
at a vertex still active after ``r``. A parent that was neither labeled
later nor retired is a component minimum whose last edge was pruned.

Measured rounds before the finish on random-order paths of 256, 1,024
and 4,096 vertices: 1, 3 and 4 with a 4 KB advisory size (about 170
long edges per partition; ``tests/test_cc_contraction.py``), 3, 4 and 6
with 1 KB. The min-label loop with one pointer jump per round that this
replaces needed rounds linear in the path length: 27–32 at 64 vertices
and 60–168 at 256, past its 50-round cap within a few hundred.
"""

from __future__ import annotations

import logging
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import conf_bytes, scoped_conf

_log = logging.getLogger(__name__)

ADVISORY_SIZE = "spark.sql.adaptive.advisoryPartitionSizeInBytes"

# kind of a contraction round's output row: an active edge (s < d), or
# a retired vertex d whose parent is s (s == d: a vertex that only had
# self-loops)
_EDGE, _PARENT = 0, 1


def min_labels(s: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, labels)``: every vertex of the undirected edges
    ``s[i]—d[i]`` and the minimum id of its component. Duplicate and
    self-loop edges are allowed (``np.minimum.at`` is idempotent).

    The min-propagation runs over hash-order dense codes
    (``pd.factorize`` is O(n); ``np.unique``'s comparison sort of the
    full edge list was >90% of the driver path's time on string ids —
    1.4 s vs 0.06 s at 400k edges), then one argsort of the UNIQUE ids
    restores the min-id-per-component labeling exactly."""
    m = len(s)
    codes, uniq = pd.factorize(np.concatenate([s, d]))
    uniq = np.asarray(uniq)
    s_i, d_i = codes[:m], codes[m:]
    lab = np.arange(len(uniq))
    while True:
        nxt = lab.copy()
        np.minimum.at(nxt, s_i, lab[d_i])
        np.minimum.at(nxt, d_i, lab[s_i])
        while True:  # pointer-jump to per-round fixpoint
            jumped = nxt[nxt]
            if np.array_equal(jumped, nxt):
                break
            nxt = jumped
        if np.array_equal(nxt, lab):
            break
        lab = nxt
    # appearance-order codes make `lab` an arbitrary (but consistent)
    # per-component representative; map each component to its true min
    # id via ranks over the sorted unique ids — sorting n_vertices,
    # not 2×n_edges
    order = np.argsort(uniq, kind="stable")
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[order] = np.arange(len(uniq))
    min_rank = np.full(len(uniq), len(uniq), dtype=np.int64)
    np.minimum.at(min_rank, lab, rank)
    return uniq, uniq[order[min_rank[lab]]]


def _driver_components(und: DataFrame) -> DataFrame:
    """``min_labels`` over a small canonical edge frame, on the driver."""
    pdf = und.toPandas()
    ids, labels = min_labels(pdf["s"].to_numpy(), pdf["d"].to_numpy())
    out = pd.DataFrame({"id": ids, "cluster_id": labels})
    id_type = und.schema["s"].dataType
    return und.sparkSession.createDataFrame(
        out, schema=f"id {id_type.simpleString()}, cluster_id {id_type.simpleString()}"
    )


def _one_task_finish(batches):
    """mapInPandas body of the one-task finish: (s, d) → (id, cluster_id)."""
    frames = list(batches)
    if frames:
        pdf = pd.concat(frames, ignore_index=True)
        ids, labels = min_labels(pdf["s"].to_numpy(), pdf["d"].to_numpy())
        yield pd.DataFrame({"id": ids, "cluster_id": labels})


def _ranked_half_edges(batches):
    """A partition's (u, w) half-edges as order-preserving int ranks
    (``ids[rank]`` is the id), or None for an empty partition."""
    frames = list(batches)
    if not frames:
        return None
    pdf = pd.concat(frames, ignore_index=True)
    if pdf.empty:
        return None
    n = len(pdf)
    ids, inv = np.unique(
        np.concatenate([pdf["u"].to_numpy(), pdf["w"].to_numpy()]), return_inverse=True
    )
    return inv[:n], inv[n:], ids


def _stars(s: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Contract rank edges to (local min, member) stars."""
    verts, labels = min_labels(s, d)
    member = labels != verts
    return labels[member], verts[member]


def _large_star(batches):
    """Stage 1 of a round: every edge (u, w), u < w, becomes
    (m(u), w), m(u) = min of u and its neighbours; then the partition
    contracts to stars. Emits both half-edges of every star edge, ready
    for stage 2's co-location. A vertex with only self-loops keeps one,
    so stage 2 can retire it as its own parent."""
    ranked = _ranked_half_edges(batches)
    if ranked is None:
        return
    u, w, ids = ranked
    loop = u == w
    has_nbr = np.zeros(len(ids), dtype=bool)
    has_nbr[u[~loop]] = True
    lone = np.unique(u[loop & ~has_nbr[u]])
    u, w = u[~loop], w[~loop]
    m = np.arange(len(ids))
    np.minimum.at(m, u, w)
    up = w > u
    s, d = _stars(m[u[up]], w[up])
    yield pd.DataFrame({
        "u": ids[np.concatenate([s, d, lone])],
        "w": ids[np.concatenate([d, s, lone])],
    })


def _prune_small_star(batches):
    """Stage 2 of a round: retire every vertex whose only neighbour is
    smaller (parent = that neighbour); every other vertex links its
    smaller neighbours and itself to the least of them; then the
    partition contracts to stars. Each edge is kept only at its larger
    endpoint, so an edge to a retired vertex disappears everywhere."""
    ranked = _ranked_half_edges(batches)
    if ranked is None:
        return
    u, w, ids = ranked
    uniq = np.unique(u.astype(np.int64) * len(ids) + w)
    u, w = uniq // len(ids), uniq % len(ids)
    loop = u == w
    deg = np.bincount(u[~loop], minlength=len(ids))
    lone = np.unique(u[loop & (deg[u] == 0)])
    leaf = (deg[u] == 1) & (w < u)
    keep = (w < u) & ~leaf
    ku, kw = u[keep], w[keep]
    m = np.arange(len(ids))
    np.minimum.at(m, ku, kw)
    s = np.concatenate([m[ku], m[ku]])
    d = np.concatenate([kw, ku])
    link = s != d
    s, d = _stars(s[link], d[link])
    parent, child = np.concatenate([w[leaf], lone]), np.concatenate([u[leaf], lone])
    yield pd.DataFrame({
        "kind": np.repeat(np.array([_EDGE, _PARENT], dtype=np.int8), [len(s), len(parent)]),
        "s": ids[np.concatenate([s, parent])],
        "d": ids[np.concatenate([d, child])],
    })


def _materialize(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` whose frame does not inherit the replaced
    plan's size estimate. A checkpoint keeps its source plan's
    statistics; in a loop that joins checkpointed frames, every round
    multiplies the estimate (a join's estimate is the product of its
    children's), and Catalyst ends up spending whole seconds on
    ``BigInteger`` arithmetic. Rebuilding the frame on the checkpointed
    rows gives it Spark's default estimate instead, the same every
    round."""
    df = df.localCheckpoint(eager=True)
    spark = df.sparkSession
    fresh = spark._jsparkSession.internalCreateDataFrame(
        df._jdf.queryExecution().toRdd(), df._jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def _partition_plan(edges: DataFrame) -> tuple[int, int]:
    """(advisory partition bytes, estimated bytes per edge row): the
    size Spark's AQE packs post-shuffle partitions to, and Spark's own
    per-row size estimate for the edge schema."""
    return conf_bytes(edges.sparkSession, ADVISORY_SIZE), 8 + edges._jdf.schema().defaultSize()


def _contraction_round(active: DataFrame, n_parts: int, id_type: str) -> DataFrame:
    """One round: both stages, each over every vertex's co-located
    neighbourhood (half-edges hash-partitioned by vertex)."""
    half = active.select(F.col("s").alias("u"), F.col("d").alias("w")).unionByName(
        active.select(F.col("d").alias("u"), F.col("s").alias("w"))
    )
    stars = half.repartition(n_parts, "u").mapInPandas(
        _large_star, f"u {id_type}, w {id_type}"
    )
    return _materialize(
        stars.repartition(n_parts, "u").mapInPandas(
            _prune_small_star, f"kind tinyint, s {id_type}, d {id_type}"
        )
    )


def _resolve(labels: DataFrame, parents: DataFrame) -> DataFrame:
    """Labels of the vertices retired in one round, added to the labels
    of every vertex still active after it. A parent found in neither is
    a component minimum whose edges were all pruned: its own label."""
    known = labels.select(F.col("id").alias("s"), F.col("cluster_id").alias("label"))
    lab = parents.join(known, on="s", how="left")
    retired = lab.select(
        F.col("d").alias("id"), F.coalesce("label", "s").alias("cluster_id")
    )
    roots = (
        lab.filter(F.col("label").isNull() & (F.col("s") != F.col("d")))
        .select(F.col("s").alias("id"), F.col("s").alias("cluster_id"))
        .distinct()
    )
    return _materialize(labels.unionByName(retired).unionByName(roots))


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iterations: int = 60,
    driver_max_edges: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Return (id, cluster_id) for every vertex appearing in `edges`.

    cluster_id = min vertex id in the component. Edge sets at or below
    ``driver_max_edges`` (counted exactly on the materialized frame)
    solve driver-side (module docstring); pass 0 to force the
    distributed path. ``max_iterations`` caps the contraction rounds;
    exceeding it raises rather than returning a partial labeling.

    The gate counts the CANONICAL frame (least, greatest) BEFORE any
    dedup: a narrow no-shuffle checkpoint + count. Every kernel absorbs
    duplicate edges, so no distinct shuffle is paid to decide. A
    mirrored-heavy RAW edge set (raw ≫ distinct) can flip a size
    decision one size early — a plan heuristic, not a correctness edge.

    ``stats`` (optional dict) receives ``path`` ("driver" or
    "distributed"), ``canonical_edges_raw`` (that raw count),
    ``rounds`` (contraction rounds before the one-task finish; 0 when
    the edges fit one partition from the start) and ``active_edges``
    (the raw count, then the active edges after each round).
    """
    cand = edges.select(
        F.least(F.col(src), F.col(dst)).alias("s"),
        F.greatest(F.col(src), F.col(dst)).alias("d"),
    ).localCheckpoint(eager=True)
    stats = {} if stats is None else stats

    n = cand.count()
    # raw canonical (min,max) count, BEFORE any dedup — for duplicate-
    # or mirror-heavy inputs it exceeds the true undirected edge count
    stats["canonical_edges_raw"] = n
    if driver_max_edges and n <= driver_max_edges:
        _log.info(
            "connected_components: %d canonical edges <= %d — driver NumPy path",
            n,
            driver_max_edges,
        )
        stats["path"] = "driver"
        return _driver_components(cand)
    stats["path"] = "distributed"

    id_type = cand.schema["s"].dataType.simpleString()
    advisory, row_bytes = _partition_plan(cand)
    active, parents = cand, []
    stats["active_edges"] = [n]
    while (n_parts := math.ceil(n * row_bytes / advisory)) > 1:
        if len(parents) == max_iterations:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} rounds"
            )
        out = _contraction_round(active, n_parts, id_type)
        active = out.filter(F.col("kind") == _EDGE).select("s", "d")
        parents.append(out.filter(F.col("kind") == _PARENT).select("s", "d"))
        n = active.count()
        stats["active_edges"].append(n)
        _log.info(
            "connected_components: round %d over %d partitions — %d active edges",
            len(parents), n_parts, n,
        )
    stats["rounds"] = len(parents)

    labels = active.coalesce(1).mapInPandas(
        _one_task_finish, f"id {id_type}, cluster_id {id_type}"
    )
    if parents:
        labels = _materialize(labels)
        for retired in reversed(parents):
            labels = _resolve(labels, retired)
    return labels


def distributed_loop_selfcheck(spark) -> bool:
    """Deterministic boolean gate for the DISTRIBUTED contraction
    rounds, designed to ride a green sweep row (the round-4/5 folding
    pattern): sandbox-scale queries all take the driver path or the
    one-task finish, so without this the rounds are only
    pytest/tool-visible. A 192-byte advisory partition size (8 long
    edges) forces the rounds, and the graph makes them do real work:

    - a 48-vertex path in scrambled id order (ids 100 + 7i mod 48):
      it needs 3 contraction rounds before it fits one partition — a
      broken star step or a premature finish under-merges it;
    - an 8-clique (dense buckets, the LSH hot-bucket shape);
    - a mirrored duplicate pair ((x,y) AND (y,x)) — duplicates must
      not change the labels;
    - two disjoint 2-components with interleaved ids (label-collision
      bait for the min propagation);
    - a self-loop, whose vertex must keep a row of its own.

    Passes iff the forced-distributed labeling (driver_max_edges=0)
    equals the closed-form expected components and the loop actually
    ran >= 3 rounds. The driver NumPy path needs no run of its own
    here — every sandbox-scale CC sweep row already exercises it
    against DuckDB cluster oracles; cross-path equality on PRODUCTION
    edges is tools/cc_distributed_bench.py.
    """
    path_ids = [100 + (7 * i) % 48 for i in range(48)]
    path_edges = list(zip(path_ids[:-1], path_ids[1:]))
    clique_edges = [(200 + i, 200 + j) for i in range(8) for j in range(i + 1, 8)]
    mirrored = [(300, 301), (301, 300)]
    twos = [(401, 403), (402, 404)]
    loop = [(500, 500)]
    edges = spark.createDataFrame(
        path_edges + clique_edges + mirrored + twos + loop, "a long, b long"
    )
    expected = (
        [(100 + i, 100) for i in range(48)]
        + [(200 + i, 200) for i in range(8)]
        + [(300, 300), (301, 300)]
        + [(401, 401), (403, 401), (402, 402), (404, 402), (500, 500)]
    )
    dstats: dict = {}
    with scoped_conf(spark, {ADVISORY_SIZE: "192b"}):
        dist = connected_components(edges, "a", "b", driver_max_edges=0, stats=dstats)
        dist_rows = sorted((r["id"], r["cluster_id"]) for r in dist.collect())
    return dist_rows == sorted(expected) and dstats.get("rounds", 0) >= 3
