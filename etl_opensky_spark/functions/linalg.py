"""Distributed exact linear algebra over embedding columns: quantized
second-moment (Gram) matrices — the building block for PCA / whitening /
covariance over a corpus of vectors.

PCA on 100 TB of embeddings is two very different problems glued
together: a DISTRIBUTED reduction (the d x d second-moment matrix — the
only part that touches all rows) and a DRIVER-SIDE eigensolve of a tiny
d x d matrix.  This module does the distributed half exactly:

- every component is quantized ONCE to integer micros with ``floor``
  (floor, not round — floor on an IEEE double is bit-identical across
  engines, so the oracle replay is exact);
- each Arrow batch computes ONE numpy ``X^T X`` integer matmul and
  emits d*(d+1)/2 upper-triangle PARTIAL sums (int64 — exact);
- one map-side-combined groupBy on (i, j) sums the partials.

Shuffle volume is d^2 x n_partitions rows — independent of corpus row
count.  That is the scale shape: the data never shuffles, only the tiny
partial matrices do (the classic tree-aggregate, expressed relationally
so AQE/codegen still apply).  First moments (component sums) and the
row count ride in the same pass.

Overflow bound: |q| <= scale * |x|; with unit-ish embeddings and
scale=1e6, per-row products are <= 1e12, so int64 partials hold ~9e6
rows per batch and the final sum is accumulated as DECIMAL(38,0) —
exact far past 100 TB row counts.

The reference has no vector surface; this is an embedding-table
extension per SURVEY §2-extension.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000.0


def quantize_micros(col, scale: float = QUANT_SCALE):
    """``floor(double(x) * scale)`` per component — the engine-portable
    quantization (float->double widening and floor are exact IEEE ops,
    identical in Spark, DuckDB, and numpy)."""
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * F.lit(scale)).cast("bigint")
    )


def gram_upper_triangle(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = QUANT_SCALE,
) -> DataFrame:
    """Exact integer upper-triangle second-moment matrix of the
    quantized vectors: ``(i, j, s_ij)`` for 0 <= i <= j < d with
    ``s_ij = sum_rows q_i * q_j`` (DECIMAL(38,0) — exact).

    Mean-centering to a covariance and the eigensolve are driver-side
    arithmetic on this d x d result plus ``moment_sums``; the
    distributed pass is this one narrow map + one tiny shuffle.
    """
    import numpy as np

    out_schema = "i int, j int, s_part long"

    def partial_gram(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            q = np.floor(mat * scale).astype(np.int64)
            gram = q.T @ q  # d x d int64, exact
            d = gram.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {"i": iu.astype(np.int32), "j": ju.astype(np.int32),
                 "s_part": gram[iu, ju]}
            )

    partials = embeddings.select(vec_col).mapInPandas(
        partial_gram, schema=out_schema
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("s_part").cast("decimal(38,0)")).alias("s_ij")
    )


def moment_sums(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = QUANT_SCALE,
) -> DataFrame:
    """First moments of the quantized vectors: ``(i, s_i, n)`` — the
    per-component sums and the row count, one posexplode + one
    map-side-combined aggregate.  Combined with ``gram_upper_triangle``
    this gives the exact covariance:
    ``cov_ij = (s_ij - s_i*s_j/n) / (n-1) / scale^2``.
    """
    comps = embeddings.select(
        F.posexplode(quantize_micros(F.col(vec_col), scale)).alias("i", "q")
    )
    n = embeddings.count()
    return comps.groupBy("i").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s_i"),
        F.lit(n).cast("bigint").alias("n"),
    )


def correlation_matrix(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = QUANT_SCALE,
    decimals: int = 6,
) -> DataFrame:
    """Pearson correlation of every component pair from the exact
    integer moments: ``corr_ij = (n*s_ij - s_i*s_j) /
    sqrt((n*s_ii - s_i^2) * (n*s_jj - s_j^2))`` — the d x d feature-
    redundancy matrix behind whitening / feature pruning.

    All inputs are the EXACT integer sums from ``gram_upper_triangle``
    / ``moment_sums`` (quantization cancels in the ratio); the final
    expression is evaluated once in double with a fixed operand order
    and rounded to ``decimals``, so both engines land on the same
    value.  Joins are d^2-sized table-to-table — driver-free, corpus-
    size independent after the two moment passes.
    """
    # checkpoint both moment tables (d²- and d-sized): gram feeds the
    # pair rows AND the diagonal, mom feeds both marginals — without
    # this each consumer re-runs its corpus pass (plan-sweep finding;
    # Catalyst does not reuse the exchange)
    gram = gram_upper_triangle(embeddings, vec_col, scale).localCheckpoint()
    mom = moment_sums(embeddings, vec_col, scale).localCheckpoint()

    diag = gram.filter(F.col("i") == F.col("j")).select(
        F.col("i").alias("d_idx"), F.col("s_ij").alias("s_diag")
    )
    mi = mom.select(
        F.col("i").alias("mi_idx"),
        F.col("s_i").alias("si"),
        F.col("n").alias("n"),
    )
    mj = mom.select(
        F.col("i").alias("mj_idx"), F.col("s_i").alias("sj")
    )
    di = diag.select(
        F.col("d_idx").alias("di_idx"), F.col("s_diag").alias("sii")
    )
    dj = diag.select(
        F.col("d_idx").alias("dj_idx"), F.col("s_diag").alias("sjj")
    )
    out = (
        gram.join(mi, gram["i"] == mi["mi_idx"])
        .join(mj, gram["j"] == mj["mj_idx"])
        .join(di, gram["i"] == di["di_idx"])
        .join(dj, gram["j"] == dj["dj_idx"])
    )
    n = F.col("n").cast("double")
    sij = F.col("s_ij").cast("double")
    si = F.col("si").cast("double")
    sj = F.col("sj").cast("double")
    sii = F.col("sii").cast("double")
    sjj = F.col("sjj").cast("double")
    corr = (n * sij - si * sj) / F.sqrt(
        (n * sii - si * si) * (n * sjj - sj * sj)
    )
    return out.select(
        "i", "j", F.round(corr, decimals).alias("corr")
    )


def top_eigenvalue(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    scale: float = QUANT_SCALE,
    iters: int = 200,
):
    """Largest eigenvalue of the corpus SAMPLE-COVARIANCE matrix — the
    PCA-readiness number (top principal variance; the whitening /
    dimensionality budget starts here).

    Split exactly like ``correlation_matrix``: the DISTRIBUTED work is
    the exact-integer moment passes (``gram_upper_triangle`` +
    ``moment_sums`` — one Arrow pass, d²-sized shuffles, corpus-size
    independent state); the eigensolve is driver-side power iteration
    on the d×d integer numerator matrix ``A_ij = n·s_ij − s_i·s_j``
    (covariance = A / (n(n−1)·scale²)) — O(d²·iters) driver
    arithmetic, no corpus data on the driver.

    Returns a dict with exact python-int invariants for gating:
    ``n``, ``trace_num`` (= Σ A_ii), ``maxdiag_num`` (= max A_ii), and
    the float ``eig_cov`` (top eigenvalue of the covariance) plus
    ``eig_num`` (same, in A-numerator units).  For any PSD matrix
    ``max_i A_ii ≤ λ_max(A) ≤ trace(A)`` — the oracle-checkable
    sandwich."""
    import numpy as np

    gram = {
        (r["i"], r["j"]): int(r["s_ij"])
        for r in gram_upper_triangle(embeddings, vec_col, scale).collect()
    }
    mom = moment_sums(embeddings, vec_col, scale).collect()
    s = {r["i"]: int(r["s_i"]) for r in mom}
    n = int(mom[0]["n"])
    d = max(s) + 1
    a = [
        [
            n * gram[(min(i, j), max(i, j))] - s[i] * s[j]
            for j in range(d)
        ]
        for i in range(d)
    ]
    trace_num = sum(a[i][i] for i in range(d))
    maxdiag_num = max(a[i][i] for i in range(d))
    mat = np.array(a, dtype=np.float64)
    nrm = np.linalg.norm(mat) or 1.0
    mat /= nrm  # scale into float range; eigenvalue scales back
    v = np.ones(d) / np.sqrt(d)
    for _ in range(iters):
        w = mat @ v
        norm = np.linalg.norm(w)
        if norm == 0:
            break
        v = w / norm
    eig_num = float(v @ (mat @ v)) * nrm
    den = n * (n - 1) * scale * scale
    return {
        "n": n,
        "dim": d,
        "trace_num": trace_num,
        "maxdiag_num": maxdiag_num,
        "eig_num": eig_num,
        "eig_cov": eig_num / den,
    }
