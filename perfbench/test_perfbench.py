"""Self-tests of the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import math
import os

import numpy as np

from perfbench import gen
from perfbench.stats import (
    canonical_rows,
    rows_match,
    self_times,
    tail,
    topk_oracle,
)


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def test_tables_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(7, a)
    gen.write_tables(7, b)
    gen.write_tables(8, c)
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert sorted(fa) == sorted(f"{t}.parquet" for t in gen.TABLE_NAMES)
    # region/nation are fixed dimension tables; every generated one moves
    assert {n for n in fa if fa[n] != fc[n]} == {
        f"{t}.parquet" for t in gen.TABLE_NAMES if t not in ("region", "nation")
    }


def test_query_pool_deterministic_with_repeats():
    p1, k1, r1 = gen.query_pool(3, 200)
    p2, k2, r2 = gen.query_pool(3, 200)
    p3, k3, _ = gen.query_pool(4, 200)
    assert p1.tobytes() == p2.tobytes() and list(k1) == list(k2) and r1 == r2
    assert p1.tobytes() != p3.tobytes()
    assert 0.0 < r1 < 1.0
    # the repeat share is exactly the share of picks seen before
    assert r1 == (200 - len(set(k1.tolist()))) / 200
    assert np.allclose(np.linalg.norm(p1, axis=1), 1.0, atol=1e-6)


def _corpus(seed=5, n=400):
    t = gen.documents_table(seed, n)
    return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def test_ingest_batches_deterministic_and_labelled():
    corpus = _corpus()

    def take(seed, n):
        g = gen.ingest_batches(seed, corpus, first_id=10_000, n_fresh=20, n_exact=5, n_near=5)
        return [next(g) for _ in range(n)]

    a, b, c = take(1, 3), take(1, 3), take(2, 3)
    assert a == b
    assert a != c
    texts = dict(corpus)
    seen = dict(corpus)
    ids = []
    for batch in a:
        kinds = [k for _, _, k in batch]
        assert kinds.count("fresh") == 20 and kinds.count("exact") == 5 and kinds.count("near") == 5
        for i, t, k in batch:
            ids.append(i)
            if k == "exact":
                assert t in seen.values()
            elif k == "near":
                assert t not in seen.values() and len(t.split()) >= 38
        seen.update((i, t) for i, t, k in batch if k == "fresh")
    assert len(set(ids)) == len(ids) and min(ids) >= 10_000
    assert all(i not in texts for i in ids)


def test_tail_rule_needs_ten_beyond():
    assert tail(list(range(19))) == (18.0, 100.0, 0)
    v, pct, beyond = tail(list(range(20)))
    assert pct == 50.0 and beyond == 10
    v, pct, beyond = tail(list(range(100)))
    assert pct == 90.0 and beyond == 10
    v, pct, beyond = tail(list(range(1000)))
    assert pct == 99.0 and beyond == 10
    v, pct, beyond = tail(list(range(10_000)))
    assert pct == 99.9 and beyond == 10


def test_topk_oracle_matches_naive_cosine():
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((300, 16)).astype(np.float32)
    q = rng.standard_normal(16).astype(np.float32).tolist()
    ids = list(range(1000, 1300))
    got = topk_oracle(ids, vecs, q, k=10)

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b))

    naive = sorted(((i, round(cos([float(x) for x in v], q), 6)) for i, v in zip(ids, vecs)),
                   key=lambda r: (-r[1], r[0]))[:10]
    assert [i for i, _ in got] == [i for i, _ in naive]
    assert all(abs(a - b) <= 1e-6 for (_, a), (_, b) in zip(got, naive))
    # ties on the rounded score break on the smaller id
    dup = np.vstack([vecs[:1], vecs[:1]])
    assert [i for i, _ in topk_oracle([9, 3], dup, q, k=2)] == [3, 9]


def test_self_time_subtracts_merged_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 5.0},  # grandchild
        {"id": 4, "parent": 0, "start": 8.0, "end": 12.0},  # clipped at 10
    ]
    st = self_times(spans)
    assert math.isclose(st[0], 10.0 - 5.0 - 2.0)
    assert math.isclose(st[1], 3.0)
    assert math.isclose(st[2], 3.0 - 1.5)
    assert math.isclose(st[3], 1.5)
    assert math.isclose(st[4], 4.0)


def test_canonical_rows_ignore_order_and_float_noise():
    a = canonical_rows([(2, "b", 0.1 + 0.2), (1, "a", 1.5)], ["k", "s", "x"])
    b = canonical_rows([(1.5, "a", 1), (0.3, "b", 2)], ["x", "s", "k"])
    assert rows_match(a, b)
    c = canonical_rows([(1.5, "a", 1), (0.31, "b", 2)], ["x", "s", "k"])
    assert not rows_match(a, c)


def test_steal_share_is_steal_over_busy_ticks():
    from perfbench.sparkprobe import steal_share_between

    # user nice system idle iowait irq softirq steal
    a = [100, 0, 10, 500, 5, 0, 2, 8]
    b = [190, 0, 20, 900, 5, 0, 2, 38]  # busy 90+10+30 ticks, 30 of them steal
    assert math.isclose(steal_share_between(a, b), 30 / 130)
    assert steal_share_between(a, a) == 0.0


def test_upsert_share_is_of_the_batch_not_of_every_action():
    from types import SimpleNamespace

    from perfbench.run import layer_metrics

    def span(i, name, start, end, parent, request=0):
        return {"id": i, "request": request, "name": name, "parent": parent,
                "start": start, "end": end}

    spans = [
        span(0, "request", 0.0, 10.0, None),
        span(1, "streaming.dedup.process_neardup_batch", 1.0, 9.0, 0),
        span(2, "sources.merge.upsert_parquet", 2.0, 3.0, 1),
        span(3, "sources.merge.upsert_parquet", 5.0, 6.0, 1),
        span(4, "request", 10.0, 40.0, None, request=1),
        span(5, "spark.collect", 11.0, 39.0, 4, request=1),  # a long query
        span(6, "sources.merge.upsert_parquet", 0.0, 5.0, None, request=None),  # set-up
    ]
    ops = [{"name": "ingest_batch", "start": 0.0, "end": 10.0, "rows": 250},
           {"name": "q", "start": 10.0, "end": 40.0, "rows": 3}]
    ctx = SimpleNamespace(tracer=SimpleNamespace(spans=spans, overhead_s=0.0), cores=4)
    starts = {"session_start_s": 1.0, "workload_setup_s": 2.0, "gc_s": 0.1, "rss_mb": 9.0}
    m, detail = layer_metrics(ctx, ops, {}, starts)
    assert math.isclose(m["merge.upsert_share"][0], 2.0 / 8.0)
    assert math.isclose(detail["merge.upsert_s"], 2.0)
    assert math.isclose(detail["dedup.gate_self_s"], 6.0)
    assert math.isclose(m["plans.collect_s"][0], 28.0)
    assert m["similarity.rows_scored_per_result"][0] == 0.0  # no search request
