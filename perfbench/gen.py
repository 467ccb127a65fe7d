"""Seeded input generators. Everything the program sees comes from here.

Same seed -> byte-identical inputs; a different seed -> different inputs.
Tables follow the sf0.1 shape of the engine's synthetic star schema
(600k lineitem, 150k orders, 100k events, 5k documents, 2k x 64
embeddings) so the registered queries run on realistic sizes.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
DIM = 64
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent stream per input kind, so adding one kind of input never
    shifts another's values."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def _ts(days_from_epoch: np.ndarray) -> pa.Array:
    us = days_from_epoch.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def random_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


# sf0.1 row counts
SIZES = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
_D1995 = 9131  # days from 1970-01-01 to 1995-01-01
_BUILDERS = {}


def _table(name):
    def deco(fn):
        _BUILDERS[name] = fn
        return fn
    return deco


@_table("region")
def _region(seed):
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })


@_table("nation")
def _nation(seed):
    return pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })


@_table("customer")
def _customer(seed):
    r, n = _rng(seed, "customer"), SIZES["customer"]
    segs = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": segs[r.integers(0, 5, n)],
    })


@_table("supplier")
def _supplier(seed):
    r, n = _rng(seed, "supplier"), SIZES["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })


@_table("part")
def _part(seed):
    r, n = _rng(seed, "part"), SIZES["part"]
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    ptypes = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    names = np.char.add(np.char.add(adj[r.integers(0, 8, n)], " "), noun[r.integers(0, 8, n)])
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": ptypes[r.integers(0, 6, n)],
        "p_size": pa.array(r.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
    })


@_table("orders")
def _orders(seed):
    r, n = _rng(seed, "orders"), SIZES["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, SIZES["customer"], n, dtype=np.int64)),
        "o_orderstatus": np.array(["O", "P", "F"])[r.integers(0, 3, n)],
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_D1995 + r.integers(0, 2404, n)),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n)],
    })


@_table("lineitem")
def _lineitem(seed):
    r, n = _rng(seed, "lineitem"), SIZES["lineitem"]
    flags = r.integers(0, 6, n)
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, SIZES["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, SIZES["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, SIZES["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": _ts(_D1995 + r.integers(0, 2499, n)),
    })


@_table("events")
def _events(seed):
    r, n = _rng(seed, "events"), SIZES["events"]
    # January 2024, sorted by time; 1,500 users
    ts_us = np.sort(r.integers(0, 30 * 86_400_000_000, n)) + 19_723 * 86_400_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, n, dtype=np.int64)),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


@_table("documents")
def _documents(seed):
    return documents_table(seed, SIZES["documents"])


@_table("embeddings")
def _embeddings(seed):
    r, n = _rng(seed, "embeddings"), SIZES["embeddings"]
    vecs = r.standard_normal((n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n, dtype=np.int32)),
    })


def documents_table(seed: int, n_doc: int) -> pa.Table:
    """Random word sequences over a 30-word vocabulary; 5% are near-dups
    of an earlier document (one extra 'dup' token)."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(random_text(r, int(r.integers(10, 101))))
    return pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def write_tables(seed: int, out_dir: str, names=TABLE_NAMES) -> dict[str, int]:
    """Write each named table as ``<out_dir>/<name>.parquet`` (every
    table has its own random stream, so the choice of names changes no
    table's content); returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name in names:
        t = _BUILDERS[name](seed)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts


def query_pool(seed: int, n_requests: int, pool_size: int = 64, zipf_s: float = 1.1,
               stream: str = "queries"):
    """Search requests: (query_vector, pool_index) per request, drawn from
    a pool of ``pool_size`` random unit vectors with Zipf(``zipf_s``)
    popularity, so some requests repeat an earlier query exactly.

    Returns (vectors, picks, repeat_share): the pool, the pool index of
    each request, and the share of requests whose vector was already sent.
    """
    r = _rng(seed, stream)
    pool = r.standard_normal((pool_size, DIM))
    pool = (pool / np.linalg.norm(pool, axis=1, keepdims=True)).astype(np.float32)
    weights = 1.0 / np.arange(1, pool_size + 1) ** zipf_s
    picks = r.choice(pool_size, n_requests, p=weights / weights.sum())
    seen: set[int] = set()
    repeats = 0
    for p in picks:
        repeats += int(p) in seen
        seen.add(int(p))
    return pool, picks, repeats / max(1, n_requests)


def ingest_batches(
    seed: int,
    corpus: list[tuple[int, str]],
    first_id: int,
    n_fresh: int = 200,
    n_exact: int = 25,
    n_near: int = 25,
):
    """Endless stream of labelled micro-batches of (doc_id, text, kind).

    - ``fresh``: a new random word sequence of 40-100 words (must survive
      the gate; two such documents share few word 3-shingles);
    - ``exact``: an earlier document re-sent under a new id (must drop);
    - ``near``: an earlier document with one word in twenty removed.
    Earlier documents are the corpus documents of at least 40 words that
    are not themselves near-dups, plus every fresh document of earlier
    batches. The stream depends only on ``seed`` and ``corpus``, never on
    what the gate accepted, so every commit receives the same inputs.
    """
    sources = [(i, t) for i, t in corpus if len(t.split()) >= 40 and not t.endswith(" dup")]
    next_id = first_id
    batch_no = 0
    while True:
        r = _rng(seed, f"ingest-{batch_no}")
        rows = []
        for _ in range(n_fresh):
            rows.append((next_id, random_text(r, int(r.integers(40, 101))), "fresh"))
            next_id += 1
        for kind, n in (("exact", n_exact), ("near", n_near)):
            for j in r.choice(len(sources), n, replace=False):
                words = sources[int(j)][1].split()
                if kind == "near":
                    drop = r.choice(np.arange(1, len(words)), max(1, len(words) // 20), replace=False)
                    words = [w for k, w in enumerate(words) if k not in set(drop.tolist())]
                rows.append((next_id, " ".join(words), kind))
                next_id += 1
        sources.extend((i, t) for i, t, k in rows if k == "fresh")
        yield [rows[i] for i in r.permutation(len(rows))]
        batch_no += 1
