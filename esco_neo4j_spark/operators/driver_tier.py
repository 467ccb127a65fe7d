"""Driver-resident serving tier for small-table vector top-k.

A top-k request over a table of a few thousand vectors costs a whole
Spark job on the Spark tier: an Arrow UDF pass over every row
plus TakeOrderedAndProject, ~0.3-0.5 s of scheduling and Python/Arrow
round trips for well under a millisecond of arithmetic. Below
``MAX_BYTES`` the three search entry points (similarity.brute_force_topk,
similarity.lsh_topk, vector.ivf_index_probe) serve from a matrix held on
the driver instead, and run no Spark job at all:

- **when**: the input is a bare parquet scan (optimized plan node
  ``LogicalRelation`` over parquet files with no partition columns, or
  the IVF ``assignments`` directory) whose footer row count times the
  query dimension fits ``MAX_BYTES``; every other plan keeps the Spark
  tier;
- **load**: the id and vector columns are read once with pyarrow from
  exactly the scan's files and leave Arrow through ``vecfold.rows``, the
  boundary the Spark tier's UDFs read through — kept in float32 when the
  column is ``array<float>``, column-major;
- **cache**: one entry per table (its root paths and columns), valid
  while every file's ``catalog._path_stamp`` is unchanged — a rewritten
  table replaces its entry — holding the matrix, the row norms and, per
  ``(n_planes, n_tables, seed)``, the LSH bucket ids; all entries
  together never exceed ``CACHE_BYTES``, least recently used evicted
  first;
- **score**: operators/vecfold.py, the same sequential float64 fold the
  Spark tier's UDFs call, then ``spark_round6`` (Spark's ``round(x, 6)``)
  — so both tiers return bit-identical rows;
- **result**: the k rows as a ``LocalRelation``
  (``spark.createDataFrame(pyarrow.Table)``), whose collect runs no job.

Semantics kept from the Spark tier: NULL embeddings are dropped; a row
with a NULL or non-finite element, or a zero-norm row (0/0 — the UDF
masks a NaN score to NULL), scores NULL; ``score >
threshold`` drops NULL; order is score descending (NULLs last), then id
ascending.
"""
from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Sequence
from decimal import ROUND_HALF_UP, Context, Decimal
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from esco_neo4j_spark.catalog import _ROWCOUNT_CACHE, _path_stamp
from esco_neo4j_spark.operators import vecfold

# Largest table (rows x dim x element bytes, from parquet footers) the
# tier serves. Set just under the measured crossover of a COLD request
# (SCALE.md "Vector search serving tiers"; 4 vCPUs, local[4], 384-dim
# float32, exact top-10 — the only shape the crossover was measured at):
# a request that must load the table costs 421 ms at 25.8 MiB and
# 1188 ms at 64.5 MiB against 799 ms and 983 ms on the Spark tier —
# equal near 51 MiB — while a warm request stays ~16x cheaper (38-80 ms)
# at every size measured up to 129 MiB.
MAX_BYTES = 48 << 20

# Most the cache holds in total. A search mix alternates between two
# tables — the vectors exact and LSH requests scan, and the IVF
# assignments holding the same vectors again — and an entry weighs more
# than its vectors (ids, norms, LSH bucket ids: at 64 dims and 16 LSH
# tables, 1.6x). Four limit-sized tables' worth keeps both of two tables
# at the limit resident, so requests alternating between them never
# reload either.
CACHE_BYTES = 4 * MAX_BYTES

_ID_TYPES = {
    pa.int64(): T.LongType(),
    pa.int32(): T.IntegerType(),
    pa.string(): T.StringType(),
    pa.large_string(): T.StringType(),
}
_VEC_TYPES = {pa.float32(): T.FloatType(), pa.float64(): T.DoubleType()}
_BYTES = {T.FloatType(): 4, T.DoubleType(): 8}

_LOCK = threading.Lock()
_CACHE: OrderedDict[tuple, _Matrix] = OrderedDict()


class _Matrix:
    """One table's vectors on the driver: ids, the (n, d) matrix with
    NaN for NULL elements, the rows whose score is NULL by construction,
    cached row norms and LSH bucket ids, and any extra columns."""

    def __init__(self, stamp, ids, id_type, x, extra):
        self.stamp = stamp
        self.ids = ids
        self.id_type = id_type
        self.x = x
        self.bad = ~np.isfinite(x).all(axis=1)
        self.sq = vecfold.sq_norms(x)
        self.extra = extra
        self.buckets: dict[tuple, np.ndarray] = {}

    @property
    def nbytes(self) -> int:
        arrays = [self.ids, self.x, self.bad, self.sq]
        arrays += [*self.extra.values(), *self.buckets.values()]
        return sum(a.nbytes for a in arrays)


def _fits(nbytes: int, keep: _Matrix | None) -> bool:
    """Evict least recently used entries other than ``keep`` until
    ``nbytes`` more fit under CACHE_BYTES; False when they cannot."""
    while sum(e.nbytes for e in _CACHE.values()) + nbytes > CACHE_BYTES:
        victim = next((k for k, e in _CACHE.items() if e is not keep), None)
        if victim is None:
            return False
        del _CACHE[victim]
    return True


def _local_files(uris: Sequence[str]) -> list[str] | None:
    out = []
    for u in uris:
        p = urlparse(u)
        if p.scheme not in ("", "file"):
            return None
        out.append(unquote(p.path))
    return sorted(out)


def _matrix(key, files, id_col, vec_col, dim, elem, extra=()):
    """The cached matrix of ``files`` (or a fresh load), or None when
    the table is empty of files, too large, or not a shape the tier
    serves (the caller then keeps the Spark tier)."""
    if not files:
        return None
    try:  # a file listed but gone: the Spark tier reports it
        stamp = tuple(_path_stamp(f) for f in files)
        for st in stamp:
            if st not in _ROWCOUNT_CACHE:
                _ROWCOUNT_CACHE[st] = pq.read_metadata(st[0]).num_rows
    except OSError:
        return None
    rows = sum(_ROWCOUNT_CACHE[st] for st in stamp)
    if rows * dim * _BYTES[elem] > MAX_BYTES:
        return None
    with _LOCK:
        m = _CACHE.get(key)
        if m is not None and m.stamp == stamp:
            _CACHE.move_to_end(key)
            return m if m.x.shape[1] == dim else None
        _CACHE.pop(key, None)
    try:
        t = pa.concat_tables(
            [pq.read_table(f, columns=[id_col, vec_col, *extra]) for f in files]
        )
    except (OSError, KeyError, pa.ArrowException):
        return None
    vecs = t.column(vec_col)
    ids = t.column(id_col)
    if (
        not pa.types.is_list(vecs.type)
        or _VEC_TYPES.get(vecs.type.value_type) != elem
        or ids.type not in _ID_TYPES
        or ids.null_count
    ):
        return None
    try:
        keep, x = vecfold.rows(vecs, dim)
    except ValueError:
        return None
    t = t.filter(keep)
    x = np.asfortranarray(x)
    id_np = t.column(id_col).to_numpy()
    if pa.types.is_string(ids.type) or pa.types.is_large_string(ids.type):
        id_np = id_np.astype(str)
    m = _Matrix(
        stamp,
        id_np,
        _ID_TYPES[ids.type],
        x,
        {c: t.column(c).to_numpy(zero_copy_only=False) for c in extra},
    )
    with _LOCK:
        if _fits(m.nbytes, None):
            _CACHE[key] = m
    return m


def scan_matrix(
    df: DataFrame, id_col: str, vec_col: str, dim: int
) -> _Matrix | None:
    """The driver matrix behind ``df`` when ``df`` is a bare parquet scan
    of at most MAX_BYTES of ``dim``-wide vectors; None otherwise. The
    check reads the optimized plan and the file list: no Spark job."""
    if df.isStreaming:
        return None
    fields = {f.name: f.dataType for f in df.schema.fields}
    vec_t, id_t = fields.get(vec_col), fields.get(id_col)
    if (
        not isinstance(vec_t, T.ArrayType)
        or vec_t.elementType not in _BYTES
        or id_t not in _ID_TYPES.values()
    ):
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.nodeName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().toString() != "Parquet"
        or rel.partitionSchema().nonEmpty()
    ):
        return None
    files = _local_files(df.inputFiles())
    if files is None:
        return None
    key = (rel.location().rootPaths().mkString("\n"), id_col, vec_col)
    m = _matrix(key, files, id_col, vec_col, dim, vec_t.elementType)
    return m if m is not None and m.id_type == id_t else None


def dir_matrix(
    path: str, id_col: str, vec_col: str, dim: int, extra: tuple[str, ...]
) -> _Matrix | None:
    """The driver matrix of an unpartitioned parquet directory (the IVF
    assignments table) with ``extra`` columns, or None."""
    if not os.path.isdir(path):
        return None
    names = [n for n in sorted(os.listdir(path)) if n[0] not in "._"]
    files = [os.path.join(path, n) for n in names]
    if not files or not all(
        n.endswith(".parquet") and os.path.isfile(f)
        for n, f in zip(names, files)
    ):
        return None
    try:
        vec_t = pq.read_schema(files[0]).field(vec_col).type
    except (OSError, KeyError, pa.ArrowException):
        return None
    elem = _VEC_TYPES.get(getattr(vec_t, "value_type", None))
    if elem is None:
        return None
    key = (os.path.abspath(path), id_col, vec_col, *extra)
    return _matrix(key, files, id_col, vec_col, dim, elem, extra)


def lsh_candidates(
    m: _Matrix, planes: np.ndarray, n_planes: int, seed: int,
    qbuckets: np.ndarray,
) -> np.ndarray:
    """Rows sharing the query's bucket in at least one table; the row
    buckets are computed once per (n_planes, n_tables, seed) and kept
    with the matrix while it is cached and the cache has room for them."""
    key = (n_planes, planes.shape[0] // n_planes, seed)
    b = m.buckets.get(key)
    if b is None:
        b = vecfold.sign_buckets(m.x, planes, n_planes)
        with _LOCK:
            if any(e is m for e in _CACHE.values()) and _fits(b.nbytes, m):
                m.buckets[key] = b
    return np.flatnonzero((b == qbuckets).any(axis=1))


_Q6 = Decimal("1e-6")
_WIDE = Context(prec=400)


def _round6_exact(x: float) -> float:
    d = Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP, context=_WIDE)
    return float(d) + 0.0


def spark_round6(v: np.ndarray) -> np.ndarray:
    """Spark's ``round(x, 6)`` on doubles: HALF_UP on the double's decimal
    string, NaN and infinities passed through, -0.0 never produced.
    Vectorized through x * 1e6, whose error is far below the 1e-6
    tie window while |x| < 1000; values in the window or larger go
    through the exact decimal string."""
    v = np.asarray(v, dtype=np.float64)
    a, fin = np.abs(v), np.isfinite(v)
    with np.errstate(invalid="ignore"):
        y = a * 1e6
        out = np.where(fin, np.copysign(np.floor(y + 0.5) / 1e6, v) + 0.0, v)
        exact = fin & ((a >= 1e3) | (np.abs(y - np.floor(y) - 0.5) < 1e-6))
    out[exact] = [_round6_exact(float(x)) for x in v[exact]]
    return out


def topk(
    spark: SparkSession,
    m: _Matrix,
    id_col: str,
    query_vec: Sequence[float],
    k: int,
    threshold: float | None = None,
    rows: np.ndarray | None = None,
) -> DataFrame:
    """Exact top-k of ``rows`` (default: all) as a ``(id_col, score)``
    LocalRelation, row for row what the Spark tier returns."""
    x, sq, bad = m.x, m.sq, m.bad
    if rows is None:
        rows = np.arange(x.shape[0])
    else:
        x, sq, bad = x[rows], sq[rows], bad[rows]
    raw = vecfold.cosine(x, [float(v) for v in query_vec], sq)
    null = bad | np.isnan(raw)
    score = spark_round6(raw)
    live = ~null
    if threshold is not None:
        with np.errstate(invalid="ignore"):
            live &= score > threshold
    top, s = rows[live], score[live]
    if len(s) > k > 0:
        kth = np.partition(s, len(s) - k)[len(s) - k]
        top, s = top[s >= kth], s[s >= kth]
    order = np.lexsort((m.ids[top], -s))[:k]
    top, s = top[order], s[order]
    mask = np.zeros(len(top), dtype=bool)
    if len(top) < k and threshold is None:
        rest = rows[null]
        rest = rest[np.argsort(m.ids[rest], kind="stable")][: k - len(top)]
        top = np.concatenate([top, rest])
        s = np.concatenate([s, np.zeros(len(rest))])
        mask = np.concatenate([mask, np.ones(len(rest), dtype=bool)])
    schema = T.StructType([
        T.StructField(id_col, m.id_type, True),
        T.StructField("score", T.DoubleType(), True),
    ])
    table = pa.table({
        id_col: pa.array(m.ids[top]),
        "score": pa.array(s, type=pa.float64(), mask=mask),
    })
    return spark.createDataFrame(table, schema=schema)
