"""The vector kernel: sequential float64 folds over an ``(n, d)`` matrix,
the Arrow boundary they read from, SQ8 coding and centroid ranking.

Every scorer that must agree bit for bit with the column-expression
chain (functions/vector.py) and with the DuckDB oracle's
left-associated SQL accumulates its sums one dimension at a time, in
float64: ``acc += x[:, j] * q[j]`` for j = 0..d-1. Same operation
order => identical doubles => identical 6-dp scores and sign bits.
This module is that fold, once; the Arrow UDFs
(operators/similarity.py) and the driver-resident tier
(operators/driver_tier.py) both call it, so the two tiers cannot drift.
It is also the one place a vector column or an SQ8 code column leaves
Arrow (``rows``, ``codes``) and a score or code column goes back
(``scores``, ``code_array``), and the one centroid ranking
(``nearest_cells``). The UDFs' closures call nothing else of the
package: vecfold is shipped to the executors by value, so their Python
workers need not import it.

``x`` may be float32 (``rows`` keeps an ``array<float>`` column's
dtype): each column is widened to float64 before it is multiplied,
which is exact, so the folds equal the ones over the widened matrix.
"""
from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Rows per sign_buckets pass: bounds its (rows, planes) float64 dot buffer.
_BLOCK = 4096


def rows(arr: pa.Array, dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """A ``list<float|double>`` array as ``(valid, x)``: ``valid`` marks
    its non-NULL rows, ``x`` holds those rows as a ``(valid.sum(), d)``
    matrix in the values' own dtype, a NULL element as NaN. ``d`` is
    ``dim`` when given, else the rows' length (0 when there are none);
    rows of any other length raise ValueError."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    lens = np.diff(arr.offsets.to_numpy())[valid]
    d = dim if dim is not None else int(lens[0]) if len(lens) else 0
    if (lens != d).any():
        raise ValueError(f"vector lengths {sorted(set(lens))}, expected {d}")
    flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    return valid, flat.reshape(len(lens), d)


def codes(arr: pa.Array, dim: int) -> np.ndarray:
    """A ``binary`` array of ``dim``-byte SQ8 codes as an ``(n, dim)``
    uint8 view of its data buffer; a code of any other length raises
    ValueError."""
    if not len(arr):
        return np.zeros((0, dim), dtype=np.uint8)
    off = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(arr.buffers()[1], dtype=off)[
        arr.offset:arr.offset + len(arr) + 1
    ]
    if (np.diff(offs) != dim).any():
        raise ValueError(f"SQ8 codes not all {dim} bytes long")
    data = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    return data[offs[0]:offs[-1]].reshape(len(arr), dim)


def code_array(q: np.ndarray) -> pa.Array:
    """``(n, d)`` SQ8 codes as a ``binary`` array of d-byte values."""
    n, d = q.shape
    offs = np.arange(n + 1, dtype=np.int32) * d
    data = np.ascontiguousarray(q, dtype=np.uint8)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs), pa.py_buffer(data)]
    )


def scores(out: np.ndarray, valid: np.ndarray, *xs: np.ndarray) -> pa.Array:
    """RAW scores ``out`` as a double array, NULL where a row is not
    ``valid``, where one of ``xs`` (the valid rows' matrices, as ``rows``
    returns them) holds a NULL or non-finite element, or where the fold
    gave NaN."""
    null = ~valid | np.isnan(out)
    for x in xs:
        null[valid] |= ~np.isfinite(x).all(axis=1)
    return pa.array(out, mask=null)


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


def pair_cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """RAW float64 cosine of row i of ``a`` against row i of ``b``: the
    dot and both norms fold together over the dimensions. A zero-norm
    side gives 0/0 = NaN, a NULL (NaN) or infinite element NaN."""
    dot, na, nb = (np.zeros(a.shape[0]) for _ in range(3))
    with np.errstate(invalid="ignore", divide="ignore"):
        for j in range(a.shape[1]):
            ca, cb = _col(a, j), _col(b, j)
            dot += ca * cb
            na += ca * ca
            nb += cb * cb
        return dot / (np.sqrt(na) * np.sqrt(nb))


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


def sq8(x: np.ndarray, mns: Sequence[float], mxs: Sequence[float]) -> np.ndarray:
    """SQ8 codes, ``(n, d)`` int64: ``floor((x - mn) * 255.0 / (mx - mn)
    + 0.5)`` per element, the same left-associated double ops as
    similarity.sq_quantize's expression and the oracle's SQL, with
    HALF_UP as floor(v + 0.5) (v >= 0 inside [mn, mx], where Spark's
    and DuckDB's round() agree with it); a constant dimension codes 0."""
    mn = np.asarray(mns, dtype=np.float64)
    rng = np.asarray(mxs, dtype=np.float64) - mn
    with np.errstate(invalid="ignore", divide="ignore"):
        q = np.floor((x.astype(np.float64, copy=False) - mn) * 255.0 / rng + 0.5)
        q[:, rng == 0] = 0.0
        return q.astype(np.int64)


def nearest_cells(centroids: Sequence, q: Sequence[float], n: int) -> list:
    """The ``cid``s of the ``n`` centroid rows (``cid``, ``cvec``)
    nearest ``q`` by cosine, descending, ties to the smaller cid. Cosine
    is undefined at a zero norm: a zero-norm centroid is never ranked
    and a zero-norm query ranks none (nor does a NaN score)."""
    qv = np.asarray(q, dtype=np.float64)
    if not len(centroids) or sq_norms(qv[None, :])[0] == 0:
        return []
    c = np.asarray([list(r["cvec"]) for r in centroids], dtype=np.float64)
    sq = sq_norms(c)
    s = cosine(c, qv, sq)
    live = [i for i in range(len(c)) if sq[i] > 0 and not np.isnan(s[i])]
    live.sort(key=lambda i: (-s[i], centroids[i]["cid"]))
    return [centroids[i]["cid"] for i in live[:n]]
