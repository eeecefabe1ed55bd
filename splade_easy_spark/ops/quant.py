"""Embedding quantization: symmetric per-vector int8 scalar quantization —
the standard 4× shrink applied to embedding columns before they are stored
or served at corpus scale (a 100 TB float32 embedding table becomes 25 TB
of int8 plus one float scale per vector, with ~0.4% typical cosine error).

Scheme (per vector ``v``):

    m     = max(|v_i|)                       (the clip-free symmetric range)
    q_i   = floor(v_i * 127 / m + 0.5)       in [-127, 127]
    v̂_i  = q_i * m / 127                    (dequantized reconstruction)

``floor(x + 0.5)`` — NOT engine ``round()`` — so ties break identically in
every engine (Java HALF_UP vs C half-away-from-zero never disagree on the
reconstruction path this way); all arithmetic is widened to float64 first,
which makes the computation bit-deterministic across Spark and the DuckDB
oracle (float32→float64 widening is exact, float64 ops are IEEE-fixed).

Scale design: pure Catalyst higher-order functions (``transform`` /
``array_max`` / ``aggregate``) — one scan, zero shuffle, zero Python.  The
all-zero vector quantizes to all-zero (scale 0) rather than dividing by
zero.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _absmax(col: Column) -> Column:
    return F.array_max(F.transform(col, lambda x: F.abs(x.cast("double"))))


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_error: bool = True,
) -> DataFrame:
    """(id, scale, q_emb, [max_abs_err, mse]): int8-range codes plus the
    per-vector dequantization scale ``m / 127``.  ``max_abs_err`` / ``mse``
    (optional) measure reconstruction against the float input — the audit
    columns a pipeline materializes to alarm on outlier vectors.

    One columnar ``mapInArrow`` pass: the previous all-Catalyst form walked
    the vector with SIX interpreted higher-order-function passes (absmax,
    quantize transform, err zip_with evaluated twice after projection
    collapse, array_max, sse fold), measured 2.6s on 200k×64 vectors vs
    0.9s for this kernel.  Bit-identical for non-empty vectors: every step
    is the same IEEE-754 float64 op sequence (widen → mul/div →
    floor-half-up; the column-wise running sum is the same left-to-right
    sse fold), pinned by the DuckDB oracle gate.

    Edge rows: a null vector gives all-null derived columns.  An empty
    vector gives empty codes, NULL scale / max_abs_err and NaN mse — the
    Catalyst form raised DIVIDE_BY_ZERO there under ANSI mode.  A null
    ELEMENT gets a null code and is left out of the scale and of
    max_abs_err (as ``array_max`` skips nulls), and its vector's mse is
    NULL (a fold over a null error is null); a vector of only null
    elements has a NULL scale."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    id_t = df.schema[id_col].dataType.simpleString()
    out_cols = f"{id_col} {id_t}, scale DOUBLE, q_emb ARRAY<INT>"
    if with_error:
        out_cols += ", max_abs_err DOUBLE, mse DOUBLE"

    def kernel(batches):
        for rb in batches:
            col = rb.column(1)
            n = len(col)
            if n == 0:
                continue
            valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
            lens = (
                pc.list_value_length(col)
                .fill_null(0)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = pc.list_flatten(col)
            # null elements read as 0: they never raise |v|'s max and are
            # masked out of codes and errors below
            elem_ok = pc.is_valid(flat).to_numpy(zero_copy_only=False)
            v = np.where(
                elem_ok, flat.to_numpy(zero_copy_only=False).astype(np.float64), 0.0
            )
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nonempty = lens > 0
            m = np.zeros(n, dtype=np.float64)
            n_ok = np.zeros(n, dtype=np.int64)
            if nonempty.any():
                m[nonempty] = np.maximum.reduceat(np.abs(v), starts[nonempty])
                n_ok[nonempty] = np.add.reduceat(elem_ok.astype(np.int64), starts[nonempty])
            has_val = n_ok > 0
            m_row = np.repeat(m, lens)
            with np.errstate(divide="ignore", invalid="ignore"):
                q = np.floor(v * 127.0 / m_row + 0.5)
            q = np.where(m_row == 0.0, 0.0, q).astype(np.int32)
            # null input rows stay null (null offset ⇒ null list entry);
            # empty-but-present rows stay empty lists — as in the HOF form
            off = np.concatenate((starts, [len(v)])).astype(np.int32)
            off_pa = pa.array(off, mask=np.concatenate((~valid, [False])))
            q_arr = pa.ListArray.from_arrays(off_pa, pa.array(q, mask=~elem_ok))
            # array_max(transform(…)) of a null/empty/all-null vector is
            # NULL, so scale is NULL exactly when no element is non-null
            scale = pa.array(m / 127.0, mask=~has_val)
            cols = [rb.column(0), scale, q_arr]
            names = [rb.schema.names[0], "scale", "q_emb"]
            if with_error:
                err = np.abs(q.astype(np.float64) * (m_row / 127.0) - v)
                mx = np.zeros(n, dtype=np.float64)
                sse = np.zeros(n, dtype=np.float64)
                if nonempty.any():
                    mx[nonempty] = np.maximum.reduceat(err, starts[nonempty])
                    e2 = err * err
                    dims = np.unique(lens[nonempty])
                    if len(dims) == 1:
                        # fixed-dim fast path: a column-by-column running
                        # sum IS the left-to-right sse fold, vectorized
                        d = int(dims[0])
                        mat = e2.reshape(-1, d)
                        acc = np.zeros(mat.shape[0], dtype=np.float64)
                        for k in range(d):
                            acc += mat[:, k]
                        sse[nonempty] = acc
                    else:  # ragged vectors: exact per-row fold
                        ends = starts + lens
                        idx = np.flatnonzero(nonempty)
                        for i in idx:
                            a = 0.0
                            for x in e2[starts[i] : ends[i]]:
                                a += x
                            sse[i] = a
                with np.errstate(divide="ignore", invalid="ignore"):
                    mse = sse / lens  # 0.0/0 → NaN, matching double div
                cols += [
                    pa.array(mx, mask=~has_val),
                    pa.array(mse, mask=~valid | (n_ok < lens)),
                ]
                names += ["max_abs_err", "mse"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(kernel, schema=out_cols)


def dequantize(q_col: Column, scale_col: Column) -> Column:
    """array<double> reconstruction of a quantized vector."""
    return F.transform(q_col, lambda x: x.cast("double") * scale_col)


def quantized_cosine_topk(
    quantized: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k cosine neighbours per probe computed ON THE CODES (dequantize
    inline, no float column needed): the recall-vs-bytes audit for a
    quantized serving table.  ``probes`` carries (probe_id, embedding);
    broadcast-joined against the quantized corpus like
    ``ops.similarity.cosine_topk``."""
    from pyspark.sql.window import Window

    deq = dequantize(F.col("q_emb"), F.col("scale"))
    corpus = quantized.select(F.col(id_col), deq.alias("emb"))
    dot = F.aggregate(
        F.zip_with("emb", "p_emb", lambda a, b: a * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    scored = (
        corpus.crossJoin(
            F.broadcast(probes.select(F.col("probe_id"), F.col("embedding").alias("p_emb")))
        )
        .select(
            "probe_id",
            F.col(id_col),
            (dot / (norm(F.col("emb")) * norm(F.col("p_emb")))).alias("cos"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("probe_id", "rank", id_col, F.round("cos", 6).alias("cos"))
    )
