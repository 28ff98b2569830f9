"""Pipeline configuration — the "reference config" of the dedup engine.

The reference crate pins determinism via (hash function, seed):
murmur3 x64-128 with seed 9001 (`datasketches/src/hash/mod.rs:37`),
theta convention ``h1 >> 1`` (`datasketches/src/theta/hash_table.rs:123-128`).
Our MinHash/SimHash/LSH configs extend the same contract: every derived
constant below is a pure function of the seed, so two runs (or two
cluster sizes) produce bit-identical signatures and therefore identical
cluster assignments — the dup-pair recall ≥ 0.99 gate reduces to
determinism (recall == 1.0 vs the single-threaded NumPy oracle at the
same config).

Configs are plain frozen dataclasses broadcast to executors by closure
capture inside pandas UDFs (small, picklable — the Spark analog of the
reference's seed/lg_k compatibility checks on merge,
`datasketches/src/theta/intersection.rs:81-87`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .hashes import DEFAULT_UPDATE_SEED, compute_seed_hash

MERSENNE61 = (1 << 61) - 1


@dataclass(frozen=True)
class MinHashConfig:
    """k-shingle + num-perm MinHash over caption/text columns.

    Shingles are word k-shingles of the lowercased, whitespace-split
    text, joined by a single space, hashed with murmur3 x64-128
    (seed) → ``h1 >> 1`` (theta convention). Permutation i is the
    64-bit bijection ``a_i * x + b_i (mod 2^64)`` with odd ``a_i``
    drawn from a PRNG seeded by ``seed`` — deterministic across
    partitionings and cluster sizes.
    """

    num_perm: int = 128
    shingle_k: int = 3
    seed: int = DEFAULT_UPDATE_SEED
    bands: int = 32
    rows_per_band: int = 4
    jaccard_threshold: float = 0.5

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError("bands * rows_per_band must equal num_perm")

    def permutations(self) -> tuple[np.ndarray, np.ndarray]:
        """(a, b) uint64 arrays; a forced odd → bijection mod 2^64."""
        rng = np.random.default_rng(self.seed)
        a = rng.integers(1, 1 << 63, size=self.num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
        b = rng.integers(0, 1 << 63, size=self.num_perm, dtype=np.uint64)
        return a, b

    @property
    def seed_hash(self) -> int:
        return compute_seed_hash(self.seed)


@dataclass(frozen=True)
class SimHashConfig:
    """64-bit SimHash over token streams (captions) or pixel features.

    Token simhash: each token's murmur h1 votes ±1 per bit.
    Pixel simhash: 64 seeded random hyperplanes over the 64-dim
    8x8-downscaled grayscale vector; bit = sign of projection.
    """

    bits: int = 64
    seed: int = DEFAULT_UPDATE_SEED
    hamming_threshold: int = 3
    # banding for hamming-<=3 candidate generation: 4 x 16-bit chunks
    num_chunks: int = 4

    def hyperplanes(self, dim: int = 64) -> np.ndarray:
        rng = np.random.default_rng(self.seed + 1)
        return rng.standard_normal((self.bits, dim))


@dataclass(frozen=True)
class ThetaConfig:
    """Bottom-k (KMV/theta) sketch config, mirroring the reference
    builder (`datasketches/src/theta/sketch.rs:943-1051`):
    lg_k in [5, 26], default 12; seed default 9001."""

    lg_k: int = 12
    seed: int = DEFAULT_UPDATE_SEED
    # uniform pre-sampling probability p, (0, 1]; p < 1 starts the
    # sketch at theta = p*MAX_THETA (`theta/hash_table.rs:400-406`,
    # builder `theta/sketch.rs:983-1006`)
    sampling_p: float = 1.0

    def __post_init__(self) -> None:
        if not 5 <= self.lg_k <= 26:
            raise ValueError("lg_k must be in [5, 26]")
        if not 0.0 < self.sampling_p <= 1.0:
            raise ValueError("sampling_p must be in (0, 1]")

    @property
    def k(self) -> int:
        return 1 << self.lg_k

    @property
    def starting_theta(self) -> int:
        from .config import MAX_THETA as _MT  # self-import safe at runtime
        return _MT if self.sampling_p >= 1.0 else int(self.sampling_p * _MT)

    @property
    def seed_hash(self) -> int:
        return compute_seed_hash(self.seed)


@dataclass(frozen=True)
class DedupConfig:
    """Full near-duplicate pipeline config (north_rule)."""

    minhash: MinHashConfig = field(default_factory=MinHashConfig)
    simhash: SimHashConfig = field(default_factory=SimHashConfig)
    # LSH shuffle topology
    band_partitions: int = 32
    # buckets larger than this emit O(m) chain pairs instead of the
    # O(m²) clique (operators/lsh.py); 256 caps the per-bucket pair
    # array at ~32k structs
    max_bucket_size: int = 256
    # connected components: cap on the contraction rounds before the
    # one-task finish (operators/connected_components.py); exceeding it
    # raises instead of returning a partial labeling
    max_cc_iterations: int = 50
    # Sandbox-scale shortcuts that trade PARALLEL work for LEVEL-
    # INDEPENDENT serial driver time: edge sets at or below
    # cc_driver_max_edges are collected and solved on the driver, and
    # the multimodal verification broadcasts its narrow (id, phash,
    # pixel) side when the row count is at or below
    # broadcast_verify_max_rows (a count job runs only when the gate is
    # non-zero). Both pay at small scale (driver CC measured 2.2x faster
    # at 200k images) and neither engages at 10^12 rows — but near the
    # thresholds (~1M rows / ~2M edges on 2-8 cores) their serial cost
    # is the dominant fixed term in a two-cluster-size scaling
    # measurement (BASELINE.md round-5 ship-vehicle section: f grew
    # 8 s -> ~91 s from 300k to 1M rows). Set both to 0 for the
    # at-scale plan (shuffle-join verify + distributed CC), e.g. via
    # run_dedup.py --at-scale-plan. Distributed CC solves an edge set
    # that fits one advisory partition in a single task, and contracts
    # a larger one round by round until it does.
    cc_driver_max_edges: int = 2_000_000
    broadcast_verify_max_rows: int = 2_000_000


# theta constants (`datasketches/src/theta/mod.rs:54-55`)
MAX_THETA = (1 << 63) - 1  # i64::MAX; hashes are h1 >> 1 ∈ [0, 2^63)
