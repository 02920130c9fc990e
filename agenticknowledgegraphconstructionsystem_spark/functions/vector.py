"""Vectorized (Arrow/numpy) embedding kernels with FOLD-ORDER FIDELITY.

Spark's lambda higher-order functions (``aggregate``/``zip_with``/
``transform``) are evaluated interpreted, not whole-stage-codegen'd — for
dense linear algebra (RHP signatures: num_planes × dim multiply-adds per
row) that is the slow path.  These Arrow-batched kernels do the same math
in numpy, BUT preserve the exact IEEE evaluation order of the Column
fold — ``((0 + v0·p0) + v1·p1) + …`` — by accumulating **sequentially over
dimensions, vectorized over rows** (never ``np.dot``, whose pairwise/SIMD
summation reassociates).  Result: bit-identical doubles to both the Column
implementation and DuckDB's ``list_reduce`` fold, so the correctness-gate
hash compares are unaffected by which path computes them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


def _seq_dot(m: np.ndarray, p: np.ndarray) -> np.ndarray:
    """Left-fold dot product: sequential over dims, vectorized over rows."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc = acc + m[:, d] * p[d]
    return acc


def _seq_sq_norm(m: np.ndarray) -> np.ndarray:
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for d in range(m.shape[1]):
        acc = acc + m[:, d] * m[:, d]
    return acc


def _to_matrix(s: pd.Series) -> np.ndarray:
    return np.array(s.tolist(), dtype=np.float64)


def rhp_signature_udf(planes: list[list[float]]):
    """→ pandas UDF: array<double|float> embedding → packed long signature
    (bit i = sign(v · plane_i))."""
    p_mat = [np.asarray(p, dtype=np.float64) for p in planes]

    @pandas_udf(T.LongType())
    def sig(emb: pd.Series) -> pd.Series:
        m = _to_matrix(emb)
        out = np.zeros(m.shape[0], dtype=np.int64)
        for i, p in enumerate(p_mat):
            out |= (_seq_dot(m, p) >= 0).astype(np.int64) << i
        return pd.Series(out)

    return sig


@pandas_udf(T.DoubleType())
def pairwise_cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """cosine(a, b) per row — identical doubles to the Column fold
    (sequential dot and sum-of-squares, IEEE sqrt/division)."""
    ma, mb = _to_matrix(a), _to_matrix(b)
    dot = np.zeros(ma.shape[0], dtype=np.float64)
    for d in range(ma.shape[1]):
        dot = dot + ma[:, d] * mb[:, d]
    return pd.Series(dot / (np.sqrt(_seq_sq_norm(ma)) * np.sqrt(_seq_sq_norm(mb))))
