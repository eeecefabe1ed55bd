"""Focused tests for the round-6 kernel rewrites: the per-block gemm pair
scan, the Arrow term-tf kernel, and the Arrow quantize kernel must keep the
exact semantics of the Catalyst/pandas formulations they replaced."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from splade_easy_spark.ops.quant import quantize_embeddings
from splade_easy_spark.ops.similarity import cosine_expr, embedding_near_dup_pairs


def test_near_dup_pairs_ragged_null_zero_semantics(spark):
    """Mixed-dimension rows never pair (the HOF zip_with padded with null →
    null cosine → excluded), zero-norm and null vectors never pair, null
    blocks are dropped, and ids order each pair (id_a < id_b)."""
    rows = [
        (1, [1.0, 0.0], "a"),
        (2, [1.0, 0.01], "a"),
        (3, [1.0, 0.0, 0.0], "a"),  # ragged: pairs with nobody
        (4, [0.0, 0.0], "a"),  # zero norm: cosine undefined
        (5, [1.0, 0.02], "a"),
        (6, [-1.0, 0.0], "a"),  # below threshold
        (7, [1.0, 0.0], None),  # null block
        (8, None, "a"),  # null vector
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    got = sorted(
        (r["id_a"], r["id_b"]) for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    )
    assert got == [(1, 2), (1, 5), (2, 5)]


def test_near_dup_pairs_matches_hof_join(spark):
    """The gemm kernel reproduces the blocked self-join + HOF cosine pair
    set (rounded comparison — summation order may differ in the last ulp)."""
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)], f"b{i % 3}") for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>, label STRING")
    a = df.select(F.col("label").alias("_blk"), F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
    b = df.select(F.col("label").alias("_blk"), F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
    ref = (
        a.join(b, "_blk")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine_expr(F.col("_va"), F.col("_vb")).alias("cosine"))
        .where(F.col("cosine") >= 0.5)
    )
    want = sorted((r["id_a"], r["id_b"], round(r["cosine"], 9)) for r in ref.collect())
    got = sorted(
        (r["id_a"], r["id_b"], round(r["cosine"], 9))
        for r in embedding_near_dup_pairs(df, threshold=0.5).collect()
    )
    assert got == want


def test_quantize_null_and_empty_rows(spark):
    """Null vector → all-null derived columns; empty vector → empty codes,
    NULL scale/max_abs_err, NaN mse (the Catalyst form raised under ANSI);
    a null element → null code, left out of scale and max_abs_err, NULL
    mse; all-null elements → NULL scale."""
    df = spark.createDataFrame(
        [(1, [0.5, -1.0]), (2, None), (3, []), (4, [0.5, None, -1.0]), (5, [None])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert got[1]["q_emb"] == [64, -127] and got[1]["scale"] == pytest.approx(1.0 / 127)
    assert got[2]["q_emb"] is None and got[2]["scale"] is None
    assert got[2]["max_abs_err"] is None and got[2]["mse"] is None
    assert got[3]["q_emb"] == [] and got[3]["scale"] is None
    assert got[3]["max_abs_err"] is None and math.isnan(got[3]["mse"])
    assert got[4]["q_emb"] == [64, None, -127]
    assert got[4]["scale"] == got[1]["scale"]
    assert got[4]["max_abs_err"] == got[1]["max_abs_err"] and got[4]["mse"] is None
    assert got[5]["q_emb"] == [None] and got[5]["scale"] is None
    assert got[5]["max_abs_err"] is None and got[5]["mse"] is None


def test_term_tf_rows_doc_contiguous(spark):
    """The Arrow term-tf kernel keeps each doc's rows contiguous (the
    contract attach_doc_norm-style streaming consumers rely on)."""
    from splade_easy_spark.functions.text import term_tf_frame

    df = spark.createDataFrame(
        [(i, "a b a c " * (i % 5 + 1)) for i in range(200)], "id LONG, text STRING"
    ).repartition(2)
    rows = term_tf_frame(df, ["id"], "text").collect()
    seen, prev = set(), None
    for r in rows[: len(rows)]:
        if r["id"] != prev:
            assert r["id"] not in seen, f"doc {r['id']} rows interleaved"
            seen.add(r["id"])
            prev = r["id"]
