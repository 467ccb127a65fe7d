"""Sequential float64 vector folds over an ``(n, d)`` matrix.

Every scorer that must agree bit for bit with the column-expression
chain (functions/vector.py) and with the DuckDB oracle's
left-associated SQL accumulates its sums one dimension at a time, in
float64: ``acc += x[:, j] * q[j]`` for j = 0..d-1. Same operation
order => identical doubles => identical 6-dp scores and sign bits.
This module is that fold, once; the Arrow pandas UDFs
(operators/similarity.py) and the driver-resident tier
(operators/driver_tier.py) both call it, so the two tiers cannot drift.

``x`` may be float32 (the driver tier keeps ``array<float>`` tables in
float32): each column is widened to float64 before it is multiplied,
which is exact, so the folds equal the ones over the widened matrix.
"""
from __future__ import annotations

from collections.abc import Sequence

import numpy as np

# Rows per sign_buckets pass: bounds its (rows, planes) float64 dot buffer.
_BLOCK = 4096


def _col(x: np.ndarray, j: int) -> np.ndarray:
    return x[:, j].astype(np.float64, copy=False)


def sq_norms(x: np.ndarray) -> np.ndarray:
    """Per-row sum of squares (the squared norms a cosine divides by)."""
    acc = np.zeros(x.shape[0])
    for j in range(x.shape[1]):
        c = _col(x, j)
        acc += c * c
    return acc


def cosine(
    x: np.ndarray, q: Sequence[float], sq: np.ndarray | None = None
) -> np.ndarray:
    """RAW float64 cosine of every row of ``x`` against ``q``: the dot
    and the row norm fold over x's ``d`` dimensions, the query norm over
    all of ``q``. A zero-norm row gives 0/0 = NaN and a row holding a
    non-finite element gives a non-finite score; what a caller hands
    back for those is its own contract. ``sq`` is ``sq_norms(x)`` when
    the caller has it cached."""
    qv = np.asarray(q, dtype=np.float64)
    dot = np.zeros(x.shape[0])
    with np.errstate(invalid="ignore", divide="ignore"):
        for j in range(x.shape[1]):
            dot += _col(x, j) * qv[j]
        if sq is None:
            sq = sq_norms(x)
        return dot / (np.sqrt(sq) * np.sqrt(sq_norms(qv[None, :])[0]))


def sign_buckets(x: np.ndarray, planes: np.ndarray, n_planes: int) -> np.ndarray:
    """Sign-bit bucket ids, ``(n, n_tables)`` int64: table t of a row is
    sum_i [dot(row, planes[t*n_planes + i]) >= 0] << i, dots folded over
    the first ``planes.shape[1]`` dimensions. A NaN dot (NULL element)
    sets no bit. Rows go in blocks so the dot buffer stays bounded."""
    n_tables = planes.shape[0] // n_planes
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    out = np.zeros((x.shape[0], n_tables), dtype=np.int64)
    for lo in range(0, x.shape[0], _BLOCK):
        xb = x[lo:lo + _BLOCK]
        dots = np.zeros((xb.shape[0], planes.shape[0]))
        with np.errstate(invalid="ignore"):
            for j in range(planes.shape[1]):
                dots += np.outer(_col(xb, j), planes[:, j])
        bits = (dots >= 0).astype(np.int64)
        out[lo:lo + _BLOCK] = (
            bits.reshape(xb.shape[0], n_tables, n_planes) @ weights
        )
    return out
