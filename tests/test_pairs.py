"""Pair enumerators: the salted path of salted_self_pairs against its fast
path, and NULL / bigint-above-2^53 ids through the cosine pair scorer."""

from __future__ import annotations

import pytest

from dataval_spark.operators import dedup as D
from dataval_spark.operators.semdedup import within_cluster_pairs
from dataval_spark.operators.similarity import cosine_near_dup_pairs


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _salted(df) -> bool:
    # the salt blocks' (_lo, _hi) columns exist only on the salted path
    return "_lo" in df._jdf.queryExecution().analyzed().toString()


def test_salted_path_drops_null_ids(spark):
    """least/greatest skip NULL, so an off-diagonal block pairing NULL
    with x used to emit (x, x) on the salted path only."""
    keyed = spark.createDataFrame(
        [(i, 0) for i in range(6)] + [(None, 0)], "doc long, k int"
    )
    fast = D.salted_self_pairs(keyed, ["k"])
    salted = D.salted_self_pairs(keyed, ["k"], target_bucket_rows=2)
    assert not _salted(fast) and _salted(salted)
    assert _rows(fast) == [(a, b, 0) for a in range(6) for b in range(a + 1, 6)]
    assert _rows(salted) == _rows(fast)


@pytest.mark.parametrize("key_cols", [["k"], ["g", "k"]])
def test_salted_path_matches_fast_path(spark, key_cols):
    """Forced salt blocks give the fast path's rows: doc_a < doc_b, the
    key columns, and each payload beside its own doc after the swap."""
    rows = [(d, d % 2, d % 3 if d < 45 else 9, f"p{d}", 10 * d) for d in range(60)]
    rows.append((None, 0, 0, "p-null", -1))
    keyed = spark.createDataFrame(rows, "doc long, g int, k int, p string, q long")
    fast = D.salted_self_pairs(keyed, key_cols, payload_cols=("p", "q"))
    salted = D.salted_self_pairs(
        keyed, key_cols, payload_cols=("p", "q"), target_bucket_rows=4
    )
    assert not _salted(fast) and _salted(salted)
    assert salted.columns == fast.columns == [
        "doc_a", "doc_b", *key_cols, "p_a", "q_a", "p_b", "q_b"
    ]
    got = _rows(salted)
    assert got == _rows(fast)
    by_doc = {r[0]: r for r in rows if r[0] is not None}
    key_at = {"g": 1, "k": 2}
    want = sorted(
        (a, b, *[by_doc[a][key_at[c]] for c in key_cols], f"p{a}", 10 * a, f"p{b}", 10 * b)
        for a in by_doc
        for b in by_doc
        if a < b and all(by_doc[a][key_at[c]] == by_doc[b][key_at[c]] for c in key_cols)
    )
    assert got == want


U, W = [1.0, 2.0, 3.0, 4.0], [4.0, -3.0, 2.0, -1.0]


@pytest.mark.parametrize("id_type", ["string", "bigint"])
@pytest.mark.parametrize("op", ["cosine_near_dup_pairs", "within_cluster_pairs"])
def test_cosine_pairs_null_and_big_ids(spark, op, id_type):
    """A NULL id pairs with nothing and crashes nothing: a group holding
    one cannot be sorted (string ids) and comes into pandas as float64
    (bigint ids, where 2^60 + 1 and 2^60 + 2 collapse)."""
    if id_type == "string":
        ids = ["a", "b", "c", "d", "e"]
    else:
        ids = [2**60 + k for k in range(1, 6)]
    vecs = [U, U, U, W, W]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in zip(ids, vecs)] + [(None, U, 0), (None, W, 0)],
        f"doc_id {id_type}, embedding array<double>, _cluster int",
    )
    if op == "cosine_near_dup_pairs":
        pairs = cosine_near_dup_pairs(df, 4, 0.99, id_col="doc_id")
    else:
        pairs = within_cluster_pairs(df, 4, 0.99)
    a, b, c, d, e = ids
    assert _rows(pairs) == sorted([(a, b, 1.0), (a, c, 1.0), (b, c, 1.0), (d, e, 1.0)])
