"""Generators are pure functions of the seed; the output checks count
what they claim to."""

import pandas as pd

from perfbench.inputs import (
    BOILERPLATE_ROWS,
    CHAIN_LEN,
    caption_skew_table,
    cluster_digest,
    pair_recall,
    table_digest,
)

COLS = ["image_id", "caption", "phash", "bytes"]


def test_caption_skew_table_is_a_function_of_the_seed():
    a, ta = caption_skew_table(400, 5, boilerplates=1)
    b, tb = caption_skew_table(400, 5, boilerplates=1)
    c, _ = caption_skew_table(400, 6, boilerplates=1)
    assert table_digest(a, COLS) == table_digest(b, COLS)
    assert ta.equals(tb)
    assert table_digest(a, COLS) != table_digest(c, COLS)


def test_caption_skew_table_plants_a_hot_bucket_and_chains():
    rows, truth = caption_skew_table(600, 1, boilerplates=1)
    assert len(rows) == len(truth) == 600
    assert rows["caption"].value_counts().iloc[0] == BOILERPLATE_ROWS > 256  # the bucket cap
    sizes = truth["true_cluster"].value_counts()
    assert (sizes == CHAIN_LEN).sum() == int((600 - BOILERPLATE_ROWS) * 0.4) // CHAIN_LEN


def test_pair_recall_counts_pairs_per_cluster():
    truth = pd.DataFrame({"image_id": list("abcde"), "true_cluster": ["x", "x", "x", "y", "y"]})
    whole = pd.DataFrame({"image_id": list("abcde"), "cluster_id": list("aaadd")})
    split = pd.DataFrame({"image_id": list("abcde"), "cluster_id": list("aacdd")})
    assert pair_recall(whole, truth) == 1.0
    assert pair_recall(split, truth) == 2 / 4  # (a,b) and (d,e) of 4 planted pairs
    assert pair_recall(whole.iloc[:4], truth) == 3 / 4  # a missing row is a singleton
    assert cluster_digest(whole) == cluster_digest(whole.iloc[::-1])
    assert cluster_digest(whole) != cluster_digest(split)
