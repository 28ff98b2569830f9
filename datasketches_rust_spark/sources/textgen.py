"""Deterministic planted-substring corpus (substring-matcher fixture).

Docs come in PAIRS: doc ``2j`` is seeded random token text; doc
``2j+1`` is *different* seeded random text with a contiguous character
slice of doc ``2j`` (length ``planted_len_for_pair(j)``) spliced in at
a token boundary — so every pair shares a common substring of at least
that length, and (with a 500-word vocabulary and ≥150-token docs) no
other pair shares ≥30 consecutive characters except by a ~10^-13
birthday event. The planted lengths are SQL-derivable, which makes the
winnowing + LCS substring matcher oracle-checkable end to end.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

_VOCAB = [f"w{i:03d}" for i in range(500)]
_SPLICE_AT = 50  # token index where the shared slice is inserted
_SLICE_FROM = 100  # char offset of the shared slice in the source doc


def planted_len_for_pair(j: int) -> int:
    """Planted common-substring length for pair ``j`` (oracle formula)."""
    return 48 + (j % 40)


def _pair_docs(j: int, seed: int) -> tuple[str, str]:
    rng = np.random.default_rng(seed + 5_700_011 * j)
    toks_a = rng.choice(_VOCAB, size=int(rng.integers(150, 251)))
    toks_b = rng.choice(_VOCAB, size=int(rng.integers(150, 251)))
    text_a = " ".join(toks_a)
    shared = text_a[_SLICE_FROM : _SLICE_FROM + planted_len_for_pair(j)]
    text_b = (
        " ".join(toks_b[:_SPLICE_AT]) + " " + shared + " " + " ".join(toks_b[_SPLICE_AT:])
    )
    return text_a, text_b


def generate_planted_substring_df(
    spark: SparkSession, n_rows: int, seed: int = 42, partitions: int = 4
) -> DataFrame:
    """(doc_id long, text string) — ``n_rows`` must be even."""
    assert n_rows % 2 == 0, "n_rows must be even (planted pairs)"
    from .mediagen import _pair_rows

    def pair_rows(j):
        a, b = _pair_docs(j, seed)
        return [{"doc_id": 2 * j, "text": a}, {"doc_id": 2 * j + 1, "text": b}]

    return _pair_rows(spark, n_rows // 2, partitions, pair_rows, "doc_id long, text string")
