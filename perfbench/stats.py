"""Pure helpers: percentiles, the tail rule, span self time, result
canonicalisation and the numpy top-k oracle. No Spark here, so the
self-tests run without a JVM."""

from __future__ import annotations

import math
import statistics
from collections.abc import Sequence

import numpy as np

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: Sequence[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=float), pct))


def tail(values: Sequence[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile
    of TAIL_LADDER with at least MIN_BEYOND samples above it. With fewer
    than 2 * MIN_BEYOND samples no percentile qualifies; the maximum is
    returned as percentile 100 with 0 samples beyond, so a reader of the
    detail line sees the rule was not met."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n * (100.0 - pct) / 100.0 >= MIN_BEYOND - 1e-9:
            v = percentile(values, pct)
            return v, pct, sum(1 for x in values if x > v)
    return float(max(values)), 100.0, 0


def median(values: Sequence[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: its duration minus the part of its interval
    that its direct children cover (overlapping children are merged, so
    parallel children are not subtracted twice)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


def cosine_scores(vectors: np.ndarray, query: Sequence[float]) -> np.ndarray:
    """float64 cosine of every row against ``query`` with sequential
    per-dimension folds, the same summation order the engine's Arrow
    scorer uses, so 6-dp rounding agrees bit for bit."""
    x = np.asarray(vectors, dtype=np.float64)
    q = np.asarray([float(v) for v in query], dtype=np.float64)
    qn = 0.0
    for j in range(q.shape[0]):
        qn += q[j] * q[j]
    dot = np.zeros(x.shape[0])
    nx = np.zeros(x.shape[0])
    for j in range(x.shape[1]):
        dot += x[:, j] * q[j]
        nx += x[:, j] * x[:, j]
    return dot / (np.sqrt(nx) * math.sqrt(qn))


def round6(x: float) -> float:
    """Correctly rounded 6-dp value (Spark's round() on a double)."""
    return round(float(x), 6)


def topk_oracle(
    ids: Sequence[int], vectors: np.ndarray, query: Sequence[float], k: int = 10
) -> list[tuple[int, float]]:
    """Exact top-k as (id, score): score = cosine rounded to 6 dp,
    ordered by score descending then id ascending."""
    scores = cosine_scores(vectors, query)
    rows = [(int(i), round6(s)) for i, s in zip(ids, scores)]
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def canonical_rows(rows: Sequence[Sequence], columns: Sequence[str]) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, floats rounded to 6 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def cell(v):
        if isinstance(v, float):
            return float(f"{v:.6g}") if math.isfinite(v) else repr(v)
        if v is None:
            return "\0null"
        return v

    out = [tuple(cell(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Canonical rows equal, floats within 1e-5 relative (so a value that
    sits on a rounding edge of the 6-significant-digit form still
    matches)."""
    if len(got) != len(want):
        return False
    for a, b in zip(got, want):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-5, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True
