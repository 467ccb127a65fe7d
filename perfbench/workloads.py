"""The two workloads. Each drives the engine only through its public
functions and checks every output against an oracle computed outside
the engine: DuckDB for registered queries, the generator's labels for
the ingest gate, numpy for vector search."""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.stats import canonical_rows, rows_match, topk_oracle

# analytics mix: scans, shuffles and iterative joins over the sf0.1
# tables, about 10 s a pass on 4 cores, plus one ingest micro-batch
# (~7 s). Left out to keep every run of the benchmark within its time
# budget: dedup_minhash_lsh (its DuckDB oracle alone takes ~48 s here;
# the ingest batch drives the same MinHash banding through the
# streaming gate), vec_lsh_similarity_join (~7 s; the search workload
# drives operators.similarity), graph_pagerank (~6.5 s; the transitive
# closure keeps an iterative graph join), text_tfidf_top_terms (~6 s;
# text_token_stats keeps the tokenizer) and aq_part_cooccurrence
# (~3.5 s; aq_multihop_count_distinct keeps a fact-fact shuffle join).
# Queries that write into the repository (.bucketed/, .ann_index/) are
# left out too.
ANALYTICS_QUERIES = (
    "aq_top_parts_by_lines",
    "aq_multihop_count_distinct",
    "tpch_q1_pricing_summary",
    "events_tumbling_window",
    "graph_transitive_closure",
    "text_token_stats",
)
INGEST_OP = "ingest_batch"
# Not taken from any measured ingest stream (the repository holds none);
# see README. 75 near-dups a batch make the catch rate one batch reports
# steady from run to run.
INGEST_MIX = {"fresh": 150, "exact": 25, "near": 75}

SEARCH_RATE_PER_S = 1.0  # about half the single-client capacity
SEARCH_LIMIT_MS = 1000.0
SEARCH_PATHS = ("exact", "lsh", "ivf")
SEARCH_K = 10
IVF_CELLS = 8
# Operating point of the approximate paths. On these unstructured vectors
# (true top-10 cosine ~0.35) the engine's defaults, 8 LSH tables and 2 of
# 8 IVF cells probed, keep ~70% and ~45% of the true top-10, with a
# per-request spread that made the mean recall of a run vary by ~30%
# between seeds. 16 tables and 4 cells keep ~90% and ~70%.
LSH_TABLES = 16
IVF_NPROBE = 4


def _op(name: str, **kw) -> dict:
    return {"name": name, "ok": False, "error": None, **kw}


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _timed(op: dict, tracer, fn):
    """Run ``fn`` as one operation: request span, start/end stamps, and
    any engine error recorded as the op's failure."""
    op["start"] = time.perf_counter()
    try:
        with tracer.span("request", op=op["name"]):
            return fn()
    except Exception as e:  # an engine error is a failed operation
        op["error"] = f"{type(e).__name__}: {e}"[:500]
        return None
    finally:
        op["end"] = time.perf_counter()


class Gate:
    """The streaming near-dup gate: pre-loaded with the documents table,
    then fed labelled micro-batches whose outcome is checked per batch."""

    def __init__(self, run_dir: str):
        gate = os.path.join(run_dir, "gate")
        self.index_dir, self.out_dir = os.path.join(gate, "index"), os.path.join(gate, "out")
        self.tables = [self.out_dir, os.path.join(self.index_dir, "docs"),
                       os.path.join(self.index_dir, "bands")]
        self.batch_ops: list[dict] = []

    def preload(self, ctx) -> None:
        from esco_neo4j_spark.catalog import load_tables
        from esco_neo4j_spark.streaming.dedup import process_neardup_batch

        docs = load_tables(ctx.spark, ctx.sf_dir, ("documents",))["documents"]
        process_neardup_batch(docs.select("doc_id", "text"), self.index_dir, self.out_dir)

    def prepare(self, ctx) -> None:
        t = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"), columns=["doc_id", "text"])
        corpus = list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))
        self.batches = gen.ingest_batches(
            ctx.seed, corpus, first_id=10 * len(corpus),
            **{f"n_{k}": v for k, v in INGEST_MIX.items()})
        self.accepted = self._accepted()
        self.accepted_bytes = sum(len(t.encode()) for t in self.accepted.values())

    def _accepted(self) -> dict[int, str]:
        t = pq.read_table(self.out_dir, columns=["doc_id", "text"])
        return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def run_batch(self, ctx, op: dict) -> None:
        """Send the next batch and check its outcome into ``op``."""
        from esco_neo4j_spark.streaming.dedup import process_neardup_batch

        rows = next(self.batches)
        op["docs"] = op["rows"] = len(rows)
        size_before = sum(_du(p) for p in self.tables)

        def call():
            with ctx.tracer.span("plans.build"):
                df = ctx.spark.createDataFrame([(i, t) for i, t, _ in rows], "doc_id long, text string")
            with ctx.tracer.span("streaming.dedup.process_neardup_batch"):
                return process_neardup_batch(df, self.index_dir, self.out_dir)

        n = _timed(op, ctx.tracer, call)
        if op["error"]:
            return
        after = self._accepted()
        kept = {i for i, _, _ in rows if i in after}
        op["fate"] = {k: [sum(1 for _, _, kk in rows if kk == k),
                          sum(1 for i, _, kk in rows if kk == k and i in kept)]
                      for k in INGEST_MIX}
        size_after = sum(_du(p) for p in self.tables)
        op["bytes_written"], op["bytes_grown"] = size_after, size_after - size_before
        errs = []
        if n != len(kept):
            errs.append(f"gate returned {n} survivors, {len(kept)} landed")
        if op["fate"]["exact"][1]:
            errs.append(f"{op['fate']['exact'][1]} exact re-sends survived")
        if op["fate"]["fresh"][1] != op["fate"]["fresh"][0]:
            errs.append("a fresh document was dropped")
        if set(after) - set(self.accepted) != kept or set(self.accepted) - set(after):
            errs.append("accepted set changed outside the batch")
        op["error"] = "; ".join(errs) or None
        op["ok"] = not errs
        self.accepted_bytes += sum(len(t.encode()) for i, t, _ in rows if i in kept)
        self.accepted = after
        self.batch_ops.append(op)

    def summary(self) -> dict:
        fate = {k: [0, 0] for k in INGEST_MIX}
        for o in self.batch_ops:
            for k, (n, kept) in o["fate"].items():
                fate[k][0] += n
                fate[k][1] += kept
        total = sum(n for n, _ in fate.values())
        grown = sum(o["bytes_grown"] for o in self.batch_ops)
        written = [o["bytes_written"] for o in self.batch_ops]
        return {
            "batch_mix": dict(INGEST_MIX),
            "fate": {k: {"sent": n, "kept": kept} for k, (n, kept) in fate.items()},
            "space_amp": sum(_du(p) for p in self.tables) / self.accepted_bytes,
            "exact_catch_ratio": 1 - fate["exact"][1] / max(1, fate["exact"][0]),
            "near_catch_ratio": 1 - fate["near"][1] / max(1, fate["near"][0]),
            "survivor_ratio": sum(kept for _, kept in fate.values()) / max(1, total),
            "mb_written_per_batch": float(np.mean(written)) / 2**20 if written else 0.0,
            "write_amp": sum(written) / grown if grown > 0 else 0.0,
        }


class Analytics:
    """Closed loop of whole passes, until ``seconds`` have passed: the
    registered queries in a seeded order, then one ingest micro-batch."""

    name = "analytics"
    tables = ("nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents")

    def setup(self, ctx) -> None:
        from esco_neo4j_spark.catalog import load_tables
        from esco_neo4j_spark.plans import REGISTRY

        self.registry = REGISTRY
        load_tables(ctx.spark, ctx.sf_dir)
        self.gate = Gate(ctx.run_dir)
        self.gate.preload(ctx)

    def warm(self, ctx) -> None:
        """The cheapest query and one ingest batch, untimed and checked
        like timed ones. In the first pass after set-up the first query
        paid a one-off ~0.5 s whichever query it was, and the batch took
        7.6 s against 6.1-6.4 s in the next passes."""
        for name in ("text_token_stats", INGEST_OP):
            op = _op(name)
            self._run_op(ctx, name, op)
            if not op["ok"]:
                raise RuntimeError(f"warm-up {op['error']}")
        self.gate.batch_ops.clear()

    def _run_op(self, ctx, name: str, op: dict) -> None:
        if name == INGEST_OP:
            self.gate.run_batch(ctx, op)
        else:
            self._query(ctx, name, op)

    def oracle(self, ctx) -> None:
        import duckdb

        from esco_neo4j_spark.plans.registry import resolve_sql

        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {ctx.cores}")
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(ctx.sf_dir, t + '.parquet')}'")
            self.expected = {}
            for q in ANALYTICS_QUERIES:
                cur = con.execute(resolve_sql(self.registry[q], ctx.sf_dir))
                cols = [d[0] for d in cur.description]
                self.expected[q] = canonical_rows(cur.fetchall(), cols)
        finally:
            con.close()
        self.gate.prepare(ctx)

    def _query(self, ctx, q: str, op: dict) -> None:
        def call():
            with ctx.tracer.span("plans.build"):
                df = self.registry[q].fn(ctx.spark, ctx.sf_dir)
            with ctx.tracer.span("spark.collect"):
                return df, df.collect()

        out = _timed(op, ctx.tracer, call)
        if op["error"]:
            return
        df, rows = out
        op["rows"] = len(rows)
        op["ok"] = rows_match(canonical_rows([tuple(r) for r in rows], df.columns), self.expected[q])
        if not op["ok"]:
            op["error"] = f"{q}: result differs from the DuckDB oracle"

    def run(self, ctx, seconds: float) -> list[dict]:
        rng = random.Random(f"{ctx.seed}:analytics")
        ops: list[dict] = []
        t_end = time.perf_counter() + seconds
        while not ops or time.perf_counter() < t_end:
            order = list(ANALYTICS_QUERIES)
            rng.shuffle(order)
            # the batch closes each pass: at a fixed position its first
            # upsert always follows the same amount of warm-up
            for name in (*order, INGEST_OP):
                op = _op(name)
                ctx.tracer.request = len(ops)
                gid = ctx.begin_op(name)
                self._run_op(ctx, name, op)
                ctx.end_op(op, gid)
                ops.append(op)
        return ops

    def summary(self, ops: list[dict]) -> dict:
        per_op: dict[str, list[float]] = {}
        for o in ops:
            per_op.setdefault(o["name"], []).append(o["end"] - o["start"])
        return {
            "queries": list(ANALYTICS_QUERIES),
            "op_median_s": {q: float(np.median(v)) for q, v in per_op.items()},
            **self.gate.summary(),
        }


class Search:
    """Open loop of top-10 requests at a fixed rate from one generator."""

    name = "search"
    tables = ("embeddings",)

    def setup(self, ctx) -> None:
        from esco_neo4j_spark.catalog import load_tables
        from esco_neo4j_spark.operators.similarity import kmeans_train
        from esco_neo4j_spark.streaming.vector import process_vector_batch

        emb = load_tables(ctx.spark, ctx.sf_dir, ("embeddings",))["embeddings"]
        trained = kmeans_train(emb, k=IVF_CELLS, max_iter=1)
        self.centroids = [{"cid": j, "cvec": v} for j, v in trained]
        self.index_dir = os.path.join(ctx.run_dir, "ivf")
        process_vector_batch(emb, self.index_dir, self.centroids)

    def warm(self, ctx) -> None:
        """One request per path with a query outside the pool: starts the
        Arrow Python worker and generates each path's code before timing."""
        q = gen.query_pool(ctx.seed, 1, pool_size=1, stream="warm")[0][0]
        for path in SEARCH_PATHS:
            self._request(ctx, path, [float(x) for x in q])

    def oracle(self, ctx) -> None:
        t = pq.read_table(os.path.join(ctx.sf_dir, "embeddings.parquet"))
        self.ids = t.column("vec_id").to_pylist()
        self.vectors = np.array(t.column("embedding").to_pylist(), dtype=np.float32)
        n = max(1, int(SEARCH_RATE_PER_S * ctx.seconds))
        self.pool, self.picks, self.repeat_share = gen.query_pool(ctx.seed, n)

    def _request(self, ctx, path: str, q: list[float]):
        from esco_neo4j_spark.catalog import load_tables
        from esco_neo4j_spark.operators.similarity import brute_force_topk, lsh_topk
        from esco_neo4j_spark.streaming.vector import ivf_index_probe

        emb = load_tables(ctx.spark, ctx.sf_dir, ("embeddings",))["embeddings"]
        with ctx.tracer.span("plans.build", path=path):
            if path == "exact":
                df = brute_force_topk(emb, q, k=SEARCH_K)
            elif path == "lsh":
                df = lsh_topk(emb, q, k=SEARCH_K, n_tables=LSH_TABLES)
            else:
                df = ivf_index_probe(ctx.spark, self.index_dir, self.centroids, q,
                                     k=SEARCH_K, nprobe=IVF_NPROBE)
        with ctx.tracer.span("spark.collect"):
            return [(int(r["vec_id"]), float(r["score"])) for r in df.collect()]

    def _check(self, path: str, got, q) -> tuple[float, str | None]:
        """(recall@10, error) of one response against numpy."""
        scored = topk_oracle(self.ids, self.vectors, q, len(self.ids))
        want, scores = scored[:SEARCH_K], dict(scored)
        recall = len({g[0] for g in got} & {w[0] for w in want}) / SEARCH_K
        if path == "exact":
            return recall, None if got == want else "exact top-10 differs from numpy"
        if got != sorted(got, key=lambda r: (-r[1], r[0])):
            return recall, f"{path} result not sorted by score"
        bad = [i for i, s in got if scores.get(i) != s]
        return recall, f"{path} score of id {bad[0]} differs from numpy" if bad else None

    def run(self, ctx, seconds: float) -> list[dict]:
        ops = []
        period = 1.0 / SEARCH_RATE_PER_S
        t0 = time.perf_counter()
        for i, pick in enumerate(self.picks):
            due = t0 + i * period
            now = time.perf_counter()
            if due > now:
                time.sleep(due - now)
            path = SEARCH_PATHS[i % len(SEARCH_PATHS)]
            q = [float(x) for x in self.pool[pick]]
            op = _op(path, due=due, query=int(pick), recall=0.0)
            ctx.tracer.request = i
            gid = ctx.begin_op(path)
            got = _timed(op, ctx.tracer, lambda: self._request(ctx, path, q))
            if not op["error"]:
                op["rows"] = len(got)
                op["recall"], op["error"] = self._check(path, got, q)
                op["ok"] = op["error"] is None
            ctx.end_op(op, gid)
            ops.append(op)
        return ops

    def summary(self, ops: list[dict]) -> dict:
        lat = {p: [1000 * (o["end"] - o["due"]) for o in ops if o["name"] == p] for p in SEARCH_PATHS}
        approx = [o["recall"] for o in ops if o["name"] != "exact"]
        return {
            "rate_per_s": SEARCH_RATE_PER_S,
            "limit_ms": SEARCH_LIMIT_MS,
            "repeat_share": self.repeat_share,
            "pool_size": len(self.pool),
            "within_limit_ratio": sum(
                o["ok"] and 1000 * (o["end"] - o["due"]) <= SEARCH_LIMIT_MS for o in ops
            ) / len(ops),
            "max_late_ms": max(1000 * (o["start"] - o["due"]) for o in ops),
            "path_median_ms": {p: float(np.median(v)) for p, v in lat.items() if v},
            "approx_recall_at_10": float(np.mean(approx)) if approx else 0.0,
        }


WORKLOADS = {w.name: w for w in (Analytics, Search)}
