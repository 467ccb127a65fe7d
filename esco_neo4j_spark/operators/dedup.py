"""Deduplication operators (north-star LLM-pipeline extensions).

The reference's only dedup is key-dedup before constraint writes
(reference: src/esco_ingest.py:145 ``drop_duplicates(subset=['code'])``).
A 100 TB training-data pipeline needs the full family:

- exact dedup           hash of normalized text, groupBy
- MinHash + LSH         shingle -> minhash signature -> banded bucket join
- SimHash               60-bit sign-fingerprint, hamming-distance pairs
- n-gram Jaccard        exact set similarity on character shingles
- embedding near-dup    cosine over the embedding column (see similarity.py)

All hash arithmetic is built ONLY from md5 + integer ops so a DuckDB oracle
can reproduce results bit-for-bit (``conv(substr(md5(x),1,15),16,10)`` ==
DuckDB ``('0x'||substr(md5(x),1,15))::BIGINT`` — verified).

Scale design:
- Exact dedup: one shuffle on a 128-bit hash — the cheapest possible.
- MinHash LSH: candidate generation is an equi-join on (band_id, band_key) —
  shuffle keyed on the band hash, no cross join anywhere; the exact-Jaccard
  verify runs only on candidates. This is the linear-ish path at 100 TB.
- SimHash: banded equi-join on 15-bit sub-fingerprints for candidate pairs
  (any pair within hamming distance 3 shares at least one of 4 bands).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via
# module globals under `from __future__ import annotations`

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from esco_neo4j_spark.functions.text import normalize_ws, word_tokens

# (a*h + b) mod P per permutation; P = 2^31-1 (Mersenne), h < 2^28 so the
# product stays far below 2^63 in 64-bit integer arithmetic.
MINHASH_PRIME = 2147483647


def shingled(
    df: DataFrame, text_col: str, id_col: str, shingle_n: int = 3
) -> DataFrame:
    """(id, sh array<string>) — word-n shingles via STAGED projections.

    The naive single-expression form re-evaluates the tokenizer (a regexp
    split over the whole text) once per array element inside the shingle
    lambda, and higher-order functions run interpreted (no codegen CSE),
    making it O(len^2) per row. Staging tokens -> shingles as separate
    projections pins each to one evaluation per row: CollapseProject
    declines to inline a non-cheap alias referenced more than once.
    """
    toks = df.select(
        F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("ws")
    )
    ws = F.col("ws")
    sh = F.when(
        F.size(ws) < shingle_n, F.array(F.concat_ws(" ", ws))
    ).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - F.lit(shingle_n - 1)),
                lambda i: F.concat_ws(" ", F.slice(ws, i, shingle_n)),
            )
        )
    )
    return toks.select("id", sh.alias("sh"))


def norm_text(c: Column) -> Column:
    """Normalization applied before hashing: lowercase + whitespace collapse."""
    return normalize_ws(F.lower(c))


def md5_long(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (oracle-reproducible)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def md5_int28(c: Column) -> Column:
    """First 28 bits of md5 as int (minhash base hash)."""
    return F.conv(F.substring(F.md5(c), 1, 7), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per normalized-text hash. One shuffle.

    Generalizes reference src/esco_ingest.py:145 from key-columns to
    content hash. Returns (id, text_hash, dup_count).
    """
    h = F.md5(norm_text(F.col(text_col))).alias("text_hash")
    return (
        df.select(F.col(id_col).alias("id"), h)
        .groupBy("text_hash")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def _minhash_sig_from_hashed(hashed: DataFrame, num_hashes: int) -> DataFrame:
    """(id, hs array<bigint>) -> (id, sig array<bigint>)."""

    # NB: the lambda must be single-arg — F.transform passes the element
    # INDEX as a second argument, which would shadow a default-bound i.
    def perm(i: int):
        return lambda h: (
            (F.lit(2 * i + 1) * h + F.lit(7919 * i + 1)) % F.lit(MINHASH_PRIME)
        )

    sig = F.array(
        *[F.array_min(F.transform("hs", perm(i))) for i in range(num_hashes)]
    ).alias("sig")
    return hashed.select("id", sig)


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Banded LSH: docs sharing any band of the signature become candidates.

    Explode to (band_id, band_key, id); equi-join per bucket (shuffle on the
    band key — no cross join). Returns distinct (id_a, id_b), id_a < id_b.

    ``max_bucket`` is the 100-TB safeguard: a degenerate band key shared by
    k docs emits k^2/2 pairs, so one hot bucket (boilerplate header, empty
    string, template text) can dominate the whole job. Buckets above the
    cap are dropped deterministically (windowed count over the same shuffle
    key the self-join uses, so AQE reuses the exchange) — standard practice
    for LSH dedup at scale; recall loss is confined to pathological keys.
    """
    banded = _banded_keys(sigs, bands, rows_per_band, max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _banded_keys(
    sigs: DataFrame,
    bands: int,
    rows_per_band: int,
    max_bucket: int | None,
) -> DataFrame:
    """(id, sig) -> (id, band_id, band_key) with the hot-bucket cap applied
    (shared by the self-join and incremental candidate paths)."""
    from pyspark.sql import Window

    banded = sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_key")
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_key")
        banded = (
            banded.withColumn("_bucket_n", F.count("*").over(w))
            .filter(F.col("_bucket_n") <= max_bucket)
            .drop("_bucket_n")
        )
    return banded


def minhash_incremental_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    new_pred,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Incremental near-dup detection: candidates for the NEW batch only.

    A living 100 TB corpus never re-deduplicates the world on ingest —
    it checks the incoming batch against everything. The probe side of
    the banded equi-join is restricted to batch documents
    (``new_pred(id_col) == true``), so join work scales with
    |batch| x bucket width, not |corpus|^2; batch-batch pairs are kept
    once (id_a < id_b), batch-base pairs always, base-base pairs never
    computed. Same signatures, banding, and hot-bucket cap as
    minhash_dedup_pairs — at steady state the corpus side's banded keys
    are precomputed once and stored, making ingest dedup a pure probe.

    ``new_pred``: Column -> Column boolean predicate identifying batch
    docs from the id (deterministic, so the oracle replays it).
    Returns (batch_id, other_id, jaccard, other_is_base).
    """
    rows_per_band = num_hashes // bands
    sh = shingled(df, text_col, id_col, shingle_n)
    hashed = sh.select("id", F.transform("sh", md5_int28).alias("hs"))
    sigs = _minhash_sig_from_hashed(hashed, num_hashes)
    banded = _banded_keys(sigs, bands, rows_per_band, max_bucket)
    a = banded.filter(new_pred(F.col("id"))).alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") != F.col("b.id"))
            & (~new_pred(F.col("b.id")) | (F.col("a.id") < F.col("b.id"))),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = F.size(F.array_union(F.col("sa"), F.col("sb"))).cast("double")
    return (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), "id_a"
        )
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("batch_id"),
            F.col("id_b").alias("other_id"),
            "jaccard",
            (~new_pred(F.col("id_b"))).alias("other_is_base"),
        )
    )


def minhash_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: C(A in B) = |A∩B| / |A|.

    Jaccard misses subset duplication — a short document quoted whole
    inside a long one scores low symmetrically but ~1.0 directionally.
    Same banded LSH candidates as minhash_dedup_pairs (recall bounded by
    the banding, as there); the verify step scores BOTH directions and
    keeps pairs where either containment >= threshold. Each score is one
    division of two exact integers. Returns (id_a, id_b, containment_a,
    containment_b) with id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sh = shingled(df, text_col, id_col, shingle_n)
    hashed = sh.select("id", F.transform("sh", md5_int28).alias("hs"))
    sigs = _minhash_sig_from_hashed(hashed, num_hashes)
    cands = lsh_candidate_pairs(sigs, bands, rows_per_band, max_bucket)
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    c_a = F.round(inter / F.size("sa").cast("double"), 6)
    c_b = F.round(inter / F.size("sb").cast("double"), 6)
    return (
        cands.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), "id_a"
        )
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
        .withColumn("containment_a", c_a)
        .withColumn("containment_b", c_b)
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
        .select("id_a", "id_b", "containment_a", "containment_b")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signature -> banded candidates
    (bucket-capped) -> exact-Jaccard verify on candidates only. Returns
    (id_a, id_b, jaccard) for pairs >= threshold. Word-shingle based.
    """
    rows_per_band = num_hashes // bands
    # r6: the shingle/md5/perm chain is interpreted HOFs (no codegen) and
    # appears in THREE plan branches (signature + both verify joins) —
    # Spark has no common-subexpression materialization, so the r5-era
    # plan re-evaluated it per branch (measured: recompute 3.0s, .cache()
    # worse at 8.1s, semi-join re-shingle worse at 3.6-4.0s, all sf0.1).
    # The winning shape: ONE Arrow pass computes (id, sig, sh) —
    # tokenize/shingle/hash/permute in C-speed Python, bit-identical to
    # the expression chain (same md5-28 ints, same affine perms, shingle
    # SET equality — order never matters downstream: sig mins and
    # array_intersect/union sizes are set functions) — then ONE
    # localCheckpoint pins it so banding and both verify joins read the
    # materialized rows instead of re-deriving them (measured 3.0s ->
    # ~1.4s, and the checkpoint is the documented two-job move for a
    # real cluster anyway).
    # NULL-text docs carry a NULL sig/sh (see _sig_sh_pudf) and are dropped
    # before banding: concat_ws skips NULLs, so a NULL sig would
    # otherwise band on "" and pair every NULL-text doc — the expression
    # chain this replaced (shingled(NULL) -> NULL array -> explode drops
    # the row) and the DuckDB oracle never emit such pairs. The filter
    # sits AFTER the checkpoint: a filter on the UDF-derived column
    # makes Catalyst evaluate the Arrow pass twice (once for the
    # predicate, once for the projection — measured +50% on the whole
    # query); on the materialized rows it is a free narrow scan.
    base = df.select(
        F.col(id_col).alias("id"),
        _sig_sh_pudf(num_hashes, shingle_n)(F.col(text_col)).alias("ss"),
    ).select(
        "id", F.col("ss.sig").alias("sig"), F.col("ss.sh").alias("sh")
    ).localCheckpoint(eager=True).filter(F.col("sig").isNotNull())
    cands = lsh_candidate_pairs(
        base.select("id", "sig"), bands, rows_per_band, max_bucket
    )
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
    union = F.size(F.array_union(F.col("sa"), F.col("sb"))).cast("double")
    return (
        cands.join(base.select(F.col("id").alias("id_a"), F.col("sh").alias("sa")), "id_a")
        .join(base.select(F.col("id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _sig_sh_pudf(num_hashes: int, shingle_n: int):
    """Arrow twin of shingled() + md5_int28 + the affine minhash perms,
    one text column in, struct(sig, sh) out. Exactness contract vs the
    column-expression chain (and therefore vs the unchanged oracle):
    identical tokens (same regex class, ASCII lower), identical shingle
    SET (order-free downstream), identical 28-bit md5 ints, identical
    ((2i+1)h + 7919i + 1) mod (2^31-1) minima in exact int64."""
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(r"[^a-z0-9']+")
    coefs = np.array(
        [(2 * i + 1, 7919 * i + 1) for i in range(num_hashes)],
        dtype=np.int64,
    )

    @pandas_udf("struct<sig: array<bigint>, sh: array<string>>")
    def sig_sh(texts: pd.Series) -> pd.DataFrame:
        sigs, shs = [], []
        for t in texts:
            if t is None:
                # NULL text -> NULL sig/sh; the caller filters these rows
                # out, matching the old shingled(NULL)->NULL-array chain
                # (empty string keeps its real [""] shingle below).
                sigs.append(None)
                shs.append(None)
                continue
            toks = [w for w in tok_re.split(t.lower()) if w != ""]
            if len(toks) < shingle_n:
                sh = [" ".join(toks)]
            else:
                sh = list(
                    dict.fromkeys(
                        " ".join(toks[i : i + shingle_n])
                        for i in range(len(toks) - shingle_n + 1)
                    )
                )
            hs = np.array(
                [
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:7], 16)
                    for s in sh
                ],
                dtype=np.int64,
            )
            sig = (
                (coefs[:, :1] * hs[None, :] + coefs[:, 1:]) % MINHASH_PRIME
            ).min(axis=1)
            sigs.append([int(x) for x in sig])
            shs.append(sh)
        return pd.DataFrame({"sig": sigs, "sh": shs})

    return sig_sh


SIMHASH_BITS = 60  # md5-prefix hash gives 60 reproducible bits


def simhash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """60-bit SimHash over distinct word tokens. Returns (id, simhash).

    bit b of the fingerprint = 1 iff sum over tokens of
    (+1 if bit b of md5_60(token) else -1) > 0.

    r6: computed per document in ONE Arrow pass — a narrow map that
    rides the corpus scan with NO shuffle. The prior formulation
    (explode distinct tokens -> 60 conditional sums -> groupBy id)
    shuffled the whole exploded token stream (sf1: 6.5M rows x 60
    aggregates, the bulk of dedup_simhash_banded's 23s); every quantity
    here is integer arithmetic over the distinct-token SET, so the UDF
    is bit-identical to that chain and to the DuckDB oracle that still
    replays the explode/group formulation.
    """
    # token-less docs had NO row under the explode formulation (explode
    # of an empty array drops the id). The UDF returns NULL for them,
    # but filtering on the UDF OUTPUT makes Catalyst evaluate the Arrow
    # pass TWICE (once for the predicate, once for the projection —
    # measured r7, the same trap fixed in minhash_dedup_pairs), so the
    # gate is the equivalent JVM-side INPUT predicate: the token set is
    # empty iff lower(text) holds no [a-zA-Z0-9'] character. The gate
    # MUST test the case-folded text, not the raw text — lower() maps
    # some characters INTO the token class (U+212A KELVIN SIGN -> 'k',
    # U+0130 -> 'i'), so a raw-text gate would drop docs the tokenizer
    # (and the DuckDB lower-then-split oracle) emits a row for.
    return df.filter(
        F.col(text_col).isNotNull()
        & F.lower(F.col(text_col)).rlike("[a-zA-Z0-9']")
    ).select(
        F.col(id_col).alias("id"),
        _simhash_pudf()(F.col(text_col)).alias("simhash"),
    )


def _simhash_pudf():
    """Arrow twin of the explode/group SimHash chain: same tokens (the
    word_tokens regex class, ASCII lower), same distinct-token set, same
    60-bit md5 prefix ints, same ±1 bit sums — exact int64 everywhere."""
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(r"[^a-z0-9']+")
    bits = np.arange(SIMHASH_BITS, dtype=np.int64)
    weights = (np.int64(1) << bits).astype(np.int64)

    @pandas_udf("bigint")
    def sh(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=object)
        for j, t in enumerate(texts):
            toks = {w for w in tok_re.split((t or "").lower()) if w != ""}
            if not toks:
                out[j] = None  # explode-of-empty dropped the row
                continue
            hs = np.array(
                [
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    for w in toks
                ],
                dtype=np.int64,
            )
            # (n_tokens x 60) sign matrix: +1 where bit set, else -1
            signs = (((hs[:, None] >> bits[None, :]) & 1) * 2 - 1).astype(
                np.int64
            )
            out[j] = int(weights[signs.sum(axis=0) > 0].sum())
        return pd.Series(out)

    return sh


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 8
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance (brute-force pair scan;
    the banded variant for scale is simhash_pairs_banded)."""
    fps = simhash(df, text_col, id_col)
    a = fps.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    b = fps.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_banded(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Scale path: split the 60-bit fingerprint into 4 15-bit bands; any
    pair within hamming distance 3 collides on >= 1 band (pigeonhole), so an
    equi-join on (band_id, band_bits) generates candidates without a cross
    join, then exact hamming verifies."""
    # pin the fingerprints: both self-join sides reference this subtree,
    # and re-running the Arrow fingerprint pass per side doubles the
    # decode cost (same rationale as minhash_dedup_pairs)
    fps = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    banded = fps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), 15 * i)
                        .bitwiseAND(F.lit((1 << 15) - 1))
                        .alias("band_bits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("id", "simhash", "band.band_id", "band.band_bits")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_leader_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    rounds: int = 4,
) -> DataFrame:
    """SimHash near-dup CLUSTER ASSIGNMENTS — O(N) output rows — by
    iterative min-id leader election over the 4x15-bit band buckets
    (r9, r8 verdict item 2).

    The pair-emitting twins (dedup_simhash / dedup_simhash_banded) are
    Ω(true pairs) by spec: on the near-all-duplicate sf10 scale corpus
    that is 542.6M rows — correct as a calibration capability, useless
    as the production dedup path, which wants ONE (doc, canonical) row
    per document. Transitive-closure CC over the verified pair list
    (dedup_canonical_docs' shape) would have to materialize those pairs
    first; this operator never does. Per round, over the docs not yet
    assigned:

    1. each band bucket elects its MIN id as candidate leader — a doc
       meets <= 4 candidate leaders, never its whole clique;
    2. each doc exact-verifies hamming(fp, leader_fp) <= ``max_hamming``
       against those <= 4 leaders only (the star pattern: verify against
       the cluster representative, not all clique members) and picks the
       smallest qualifying leader;
    3. an assignment doc -> L sticks only when L picked ITSELF (L has no
       smaller qualifying leader), so every emitted canonical is a KEPT
       doc, never a chained duplicate; everyone else re-enters the next
       round, where the buckets re-elect among the survivors.

    The global min of the remaining set always self-elects, so every
    round retires >= 1 cluster; after ``rounds`` rounds the stragglers
    are emitted self-canonical (kept). Per round the work is O(N_rem):
    one bucket min-agg, <= 4 candidate rows per doc, <= 4 hamming
    verifies per doc — ids and one int64 fingerprint on every exchange,
    no pair list ever materialized. ``rounds`` is a FIXED constant so
    the DuckDB oracle replays the identical unrolled recursion.

    Semantics note (deliberate, documented): clusters are GREEDY STARS —
    every duplicate is within ``max_hamming`` of its canonical — not the
    transitive closure of the pair graph (a hamming-5 chain a-b-c may
    keep both a and c). That is the guarantee production dedup actually
    wants ("every removed doc has a kept doc this similar to it");
    closure semantics remain available via dedup_canonical_docs.

    Returns (id, canonical_id, is_duplicate) for every input doc with a
    fingerprint; token-less docs are the caller's to pass through
    (dedup_simhash_canonical left-joins them back self-canonical)."""
    fps = simhash(df, text_col, id_col).localCheckpoint(eager=True)
    assigned_parts: list[DataFrame] = []
    remaining = fps
    for _ in range(rounds):
        banded = remaining.select(
            "id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            F.shiftright(F.col("simhash"), 15 * i)
                            .bitwiseAND(F.lit((1 << 15) - 1))
                            .alias("band_bits"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("band"),
        ).select("id", "simhash", "band.band_id", "band.band_bits")
        leads = banded.groupBy("band_id", "band_bits").agg(
            F.min("id").alias("lead_id")
        )
        lead_fps = remaining.select(
            F.col("id").alias("lead_id"), F.col("simhash").alias("lead_fp")
        )
        best = (
            banded.join(leads, ["band_id", "band_bits"])
            .select("id", "simhash", "lead_id")
            .distinct()
            .join(lead_fps, "lead_id")
            .filter(
                F.bit_count(F.col("simhash").bitwiseXOR(F.col("lead_fp")))
                <= max_hamming
            )
            .groupBy("id")
            .agg(F.min("lead_id").alias("best_lead"))
        )
        self_leads = (
            best.filter(F.col("id") == F.col("best_lead"))
            .select(F.col("id").alias("best_lead"))
        )
        newly = best.join(self_leads, "best_lead").select(
            "id", F.col("best_lead").alias("canonical_id")
        ).localCheckpoint(eager=True)
        assigned_parts.append(newly)
        remaining = remaining.join(
            newly.select("id"), "id", "left_anti"
        ).localCheckpoint(eager=True)
    assigned_parts.append(
        remaining.select("id", F.col("id").alias("canonical_id"))
    )
    out = assigned_parts[0]
    for part in assigned_parts[1:]:
        out = out.unionByName(part)
    return out.withColumn(
        "is_duplicate", F.col("canonical_id") != F.col("id")
    )


# Verify-side broadcast budget (bytes, DATA estimate per side — see the
# r9 advisory note inside ngram_jaccard_pairs). Beyond it the verify runs
# witness-grouped (r10) instead of as an array-carrying sort-merge join.
NGRAM_VERIFY_BROADCAST_BYTES = 1_000_000_000


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    verify_broadcast_bytes: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs with LOSSLESS prefix
    filtering (the SSJoin/PPJoin principle; Chaudhuri et al. 2006, Xiao
    et al. 2008).

    The naive inverted-index join (all postings x all postings per
    shingle) is output-sensitive: work ~ sum over shingles of
    |posting|^2, which the r3 sf1 audit measured going 19x on a 10x
    corpus with realistic near-dup density. Prefix filtering bounds it
    exactly: order shingles globally by (document frequency asc,
    shingle), and index only each doc's first |S| - ceil(t*|S|) + 1
    shingles in that order. Two sets with Jaccard >= t MUST share a
    prefix element (prefix-filtering lemma: overlap >= ceil(t*max(|A|,
    |B|)) forces the (|X| - overlap + 1)-prefixes to intersect; our
    per-set prefixes are at least that long), so the prefix-prefix
    equi-join yields every qualifying pair — and because prefixes are
    RAREST-FIRST, hot shingles fall outside most prefixes and posting
    lists stay short. Candidates are then verified exactly with one
    array_intersect over the full shingle sets. Same output, bounded
    join: measured 489s -> seconds at sf1.

    Two further LOSSLESS PPJoin filters (r5) cut the candidate set
    BEFORE the expensive full-set verify join:

    - length filter at the prefix join: Jaccard >= t forces
      min(|A|,|B|) >= t * max(|A|,|B|) (overlap <= min, required
      overlap >= t*max) — prunes short-vs-long collisions for free.
    - positional filter per pair: both docs rank their shingles by the
      SAME global (df, g) order, so among common shingles that order is
      consistent in both — the pair's FIRST common shingle has min rank
      on both sides simultaneously, and it lies inside both prefixes
      whenever any common prefix element does. With 1-based first-match
      positions (i, j), every common shingle is that one or a later one
      in BOTH docs, so overlap <= 1 + min(|A| - i, |B| - j); Jaccard
      >= t needs overlap >= t/(1+t) * (|A| + |B|) — pairs whose bound
      can't reach it are dropped without touching their shingle sets.
      (Xiao et al. 2008's filter, restated set-at-a-time: the streaming
      formulation applies it per probe with accumulated overlap; the
      first-match form is the part that survives a shuffle-join
      restatement, and it's the dominant prune.)

    Both prune candidates only below the qualifying threshold, so the
    output — and the brute-force oracle — is unchanged. Epsilon guards
    keep every float comparison on the KEEP side of integer boundaries.

    Shuffle budget at 100 TB: shingle-df agg (content-keyed), per-doc
    rank window (id-keyed), prefix equi-join (content-keyed, pruned),
    pair groupBy (pair-keyed, replaces the old distinct — same shuffle
    count), verify join (pair-keyed) — all bounded by data or output
    size, no posting-list cross products.

    r8: every pair-keyed exchange carries shingles as xxhash64 INT64,
    not strings — on a near-dup-clique corpus (every doc in ~100-copy
    families) the sf10 probe's verify join spilled ~25-byte string
    arrays per candidate pair until the HOST DISK filled; 8-byte longs
    cut that ~3x. Lossless by construction: the mapping is used only
    through set intersection/size, which an INJECTIVE map preserves
    exactly, and injectivity on the corpus's actual shingle set is
    VERIFIED inside the existing df aggregate (per-hash distinct-string
    count; any collision raises rather than silently perturbing
    Jaccard). The prefix order becomes (df, hash) instead of (df,
    string) — prefix filtering is lossless under ANY consistent global
    total order, and the brute-force oracle never sees the encoding.
    """
    from esco_neo4j_spark.operators.graph import _checkpoint

    sh0 = shingled(df, text_col, id_col, shingle_n)
    sh0 = sh0.withColumn("n", F.size("sh"))
    # materialize ONCE: the shingle frame feeds four consumers (posting
    # explode -> dfreq, the rank window, and both verify sides) — left
    # as lineage, the tokenize+shingle subtree re-executes per consumer,
    # which the r5 sf1 audit measured as ~9x the sum of the stages
    # themselves (214s vs ~23s with the frame materialized)
    sh0 = _checkpoint(sh0)
    # int64 shingle view: a cheap per-element hash over the checkpointed
    # strings (re-evaluated per consumer; hashing is trivial next to the
    # tokenizer the checkpoint already paid for)
    sh = sh0.select(
        "id", "n",
        F.transform("sh", lambda x: F.xxhash64(x)).alias("sh"),
    )
    inv_g = sh0.select("id", "n", F.explode("sh").alias("gs")).withColumn(
        "g", F.xxhash64("gs")
    )
    # global rarity order: document frequency per (hashed) shingle, with
    # the injectivity guard folded into the same aggregate
    dfreq_full = _checkpoint(
        inv_g.groupBy("g").agg(
            F.count("*").alias("df"),
            F.countDistinct("gs").alias("ng"),
        )
    )
    if dfreq_full.filter(F.col("ng") > 1).limit(1).count() > 0:
        raise RuntimeError(
            "ngram_jaccard_pairs: xxhash64 collision on the shingle set — "
            "the int64 encoding is not injective on this corpus"
        )
    dfreq = dfreq_full.select("g", "df")
    inv = inv_g.select("id", "n", "g")
    # per-doc prefix length: |S| - ceil(t*|S|) + 1. The epsilon guards
    # float error at exact integer boundaries (0.7*10 evaluating to
    # 7.000...001 would shorten the prefix and break losslessness; a
    # LONGER prefix is always safe).
    plen = (
        F.col("n")
        - F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9))
        + 1
    )
    ranked = inv.join(dfreq, "g").withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.asc("df"), F.asc("g"))
        ),
    )
    prefix = ranked.filter(F.col("rk") <= plen).select("id", "g", "rk", "n")
    # both sides of the self-join read this frame: materialize the
    # df-agg + rank window once instead of twice
    prefix = _checkpoint(prefix)
    t = F.lit(float(threshold))
    eps = F.lit(1e-9)
    matches = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "g")
        .filter(F.col("pa.id") < F.col("pb.id"))
        # length filter: min size must reach t * max size
        .filter(
            F.least(F.col("pa.n"), F.col("pb.n"))
            >= t * F.greatest(F.col("pa.n"), F.col("pb.n")) - eps
        )
        # na/nb deliberately NOT carried (r10): `matches` is the
        # biggest frame in the whole plan — one row per common prefix
        # shingle per candidate pair (sf30: ~10^9-10^10 rows feeding
        # the pair agg's shuffle, measured as the dominant spill once
        # the verify stopped being). The doc lengths re-attach AFTER
        # the agg from the million-row (id, n) map instead of riding
        # every matches row — 2 fewer 8-byte slots per exchanged row.
        .select(
            F.col("g"),
            F.col("pa.id").alias("id_a"),
            F.col("pb.id").alias("id_b"),
            F.col("pa.rk").alias("rka"),
            F.col("pb.rk").alias("rkb"),
        )
    )
    # corpus stats once, off the checkpointed shingle frame — sizes both
    # the post-agg length-map strategy here and the verify strategy below
    vstats = sh.agg(
        F.count("*").alias("nd"),
        F.coalesce(F.sum("n"), F.lit(0)).alias("tot"),
    ).first()
    nmap = sh.select("id", "n")
    if int(vstats["nd"]) <= 8_000_000:
        # ~100MB of (int64, int) rows — broadcast the length map so the
        # post-agg re-attach is two hash probes per candidate, not two
        # extra sorts of the candidate stream; beyond that, a plain
        # shuffle join on the slim candidates is the scale path
        nmap = F.broadcast(nmap)
    cand = (
        matches.groupBy("id_a", "id_b")
        # first common shingle in the shared global order => min rank on
        # BOTH sides (common-shingle order is consistent across the pair)
        .agg(
            F.min("rka").alias("i"),
            F.min("rkb").alias("j"),
            # witness (r10): the pair's MOST-SHARED common prefix
            # shingle — rka is id_a's rank in the GLOBAL (df, g) order,
            # so max_by picks the highest-df shingle the two prefixes
            # share. Max, not min: family-wide shingles (df ~ family
            # size) are shared by every pair of a near-dup family, so
            # all its pairs funnel to the same few witnesses and each
            # doc's array ships O(1) times; the rarest common shingle
            # is the opposite — pair-IDIOSYNCRATIC (df ~ 2) on mutated-
            # copy corpora, which disperses witnesses back to
            # once-per-pair shipping (measured: the min_by first cut
            # OOMed at sf10 where max_by completes). Corpus-hot
            # shingles stay out of every prefix, so max_by cannot
            # elect them — group size is bounded by a family's own
            # pair count. Used only as a CO-LOCATION key by the
            # witness-grouped verify; the broadcast branch ignores it.
            F.max_by("g", "rka").alias("gw"),
        )
        .join(nmap.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(nmap.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        # positional filter: best-case overlap from the first match
        .filter(
            F.lit(1)
            + F.least(F.col("na") - F.col("i"), F.col("nb") - F.col("j"))
            >= (t / (F.lit(1.0) + t)) * (F.col("na") + F.col("nb")) - eps
        )
        .select("id_a", "id_b", "na", "nb", "gw")
    )
    # exact verify on the candidate pairs only.
    # r8: the verify-side JOIN STRATEGY is size-adaptive. As sort-merge
    # joins, the two id-keyed array fetches SORT ~(shingles x 8B) per
    # candidate pair — on the sf10 near-dup-clique corpus (5.4M true
    # pairs x ~3.6KB arrays) that spilled ~60GB and filled the host
    # disk. When the whole (id -> shingle array) side fits a broadcast
    # budget (here: 200k docs x ~450 longs ~= 720MB), broadcasting it
    # turns both fetches into hash lookups — the pair stream never
    # sorts and peak spill drops to ~0. Beyond the budget the verify is
    # WITNESS-GROUPED (r10 — _ngram_witness_verify below): the r8 SMJ
    # fallback still carried O(pairs x doc_bytes) through a sort, which
    # the sf30 probe measured filling 73GB of free disk before dying.
    # Strategy only; output identical either way.
    verify_bytes = int(vstats["tot"]) * 8 + int(vstats["nd"]) * 48
    budget = (
        NGRAM_VERIFY_BROADCAST_BYTES
        if verify_broadcast_bytes is None
        else verify_broadcast_bytes
    )
    # broadcast budget (r9, advisory): verify_bytes is a DATA estimate
    # (8B/long + 48B/row); a materialized broadcast relation costs a
    # small multiple of that in JVM heap (UnsafeRow framing + object
    # headers — for these wide array rows ~1.5-2x, not 1x), it is fully
    # built on the driver, and BOTH sides are hinted. 1GB estimated per
    # side keeps the worst case ~2x2GB heap across driver+executors —
    # safe under default memory configs and well clear of Spark's 8GB
    # deserialized hard limit — while still covering the sf10 design
    # point (200k docs x ~450 longs ~= 720MB) that motivated the
    # broadcast in the first place. (The old 2GB constant could mean
    # ~10GB+ heap at 2 sides x expansion.)
    if verify_bytes <= budget:
        ea = F.broadcast(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sha"))
        )
        eb = F.broadcast(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("shb"))
        )
        verified = (
            cand.join(ea, "id_a")
            .join(eb, "id_b")
            .withColumn("common", F.size(F.array_intersect("sha", "shb")))
            .select("id_a", "id_b", "na", "nb", "common")
        )
    else:
        verified = _ngram_witness_verify(cand, sh)
    out = (
        verified.withColumn(
            "jaccard",
            F.round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    if verify_bytes > budget:
        # the caller's global sort (and any other multi-pass consumer)
        # would re-execute the cogrouped Python verify during range-
        # partition SAMPLING — checkpoint the slim qualifying pairs so
        # the expensive pass runs exactly once (the broadcast branch's
        # verify is cheap hash probes; leave its plan untouched)
        from esco_neo4j_spark.operators.graph import _checkpoint as _ck

        out = _ck(out)
    return out


def _ngram_witness_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact candidate verification co-located at each pair's WITNESS
    shingle (r10, the sf30 triage).

    Beyond the broadcast budget the old fallback was a sort-merge join
    that attached both full shingle arrays to every candidate pair —
    O(pairs x doc_bytes) shuffle+sort traffic. On output-heavy corpora
    that is the dominant cost by orders of magnitude: the sf30 probe
    (1.5M docs in 300-copy near-dup families, ~10^8 qualifying pairs,
    ~3.6KB of shingles per doc) spilled past the host's 73GB of free
    disk and died; sf10 survived at 833s, nearly all of it verify
    spill.

    This branch restates the verify as a COGROUP at a witness: every
    candidate pair shares >= 1 prefix shingle by the prefix-filtering
    lemma, and the pair agg assigns the MOST-SHARED one (max (df,g)
    order == max rka) as the pair's witness `gw`. Grouping pairs by gw
    and shipping each referenced doc's int64 shingle array once per
    witness group turns verify traffic into O(docs_touched x doc_bytes
    + pairs x 24B): a near-dup family's pairs all share its family-wide
    shingles (df ~ family size), so they funnel to the same few
    witnesses and arrays ship ~once instead of once-per-pair. Electing
    the RAREST common shingle instead is a trap (the first cut did, and
    OOMed where this completes): on mutated-copy corpora the rarest
    shared shingle is pair-IDIOSYNCRATIC — a shingle surviving in just
    the two paired copies (df ~ 2) — so witnesses disperse and every
    pair ships its own doc arrays again. The pandas side computes ONLY
    the exact intersection count over int64 sets (injectivity of the
    hash encoding is verified upstream); jaccard, rounding, and the
    threshold filter stay in the SAME JVM expressions as the broadcast
    branch, so both branches are bit-identical (pinned in
    tests/test_corpus.py).

    Skew note: corpus-hot shingles (the classic skew risk) cannot be
    elected — prefixes hold only each doc's rarest ~(1-t) fraction, so
    a shingle hot across the corpus is outside every prefix; the
    highest df a witness can have is ~the electing family's size.
    Group size is therefore bounded by a family's own pair count: a
    10^5-pair family group is ~2s of set-intersections in one task;
    families beyond that are already pathological for EXACT pair
    enumeration itself (the output is the bottleneck), which is why
    the production dedup path is the O(N) cluster contraction, not
    this pair list.
    """
    from esco_neo4j_spark.operators.graph import _checkpoint

    # two consumers (pair stream + doc-shipment derivation): pay the
    # prefix-join/agg subtree once
    cand = _checkpoint(cand)
    idt = dict(cand.dtypes)["id_a"]
    pairs_in = cand.select(
        F.col("gw").alias("g"), "id_a", "id_b", "na", "nb"
    )
    # exactly the (witness, doc) combos the groups need — derived from
    # the pair rows themselves, so no doc ships to a group that has no
    # pair referencing it
    need = (
        cand.select(F.col("gw").alias("g"), F.col("id_a").alias("id"))
        .union(cand.select("gw", "id_b"))
        .distinct()
    )
    docs = need.join(sh.select("id", "sh"), "id").select("g", "id", "sh")

    def verify(pairs_pdf: pd.DataFrame, docs_pdf: pd.DataFrame) -> pd.DataFrame:
        sets = {i: set(a) for i, a in zip(docs_pdf["id"], docs_pdf["sh"])}
        common = [
            len(sets[a] & sets[b])
            for a, b in zip(pairs_pdf["id_a"], pairs_pdf["id_b"])
        ]
        return pairs_pdf[["id_a", "id_b", "na", "nb"]].assign(common=common)

    return (
        pairs_in.groupBy("g")
        .cogroup(docs.groupBy("g"))
        .applyInPandas(verify, f"id_a {idt}, id_b {idt}, na int, nb int, common int")
    )


def embedding_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    dim: int = 128,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= thr).

    The embedding comes from the model UDF pipeline (operators/textmodel
    .embed_column — real sentence-transformer when available, deterministic
    hash embedding here). Cosine is computed SPARSELY via an inverted index
    on the non-zero buckets: pairs that share no bucket have dot = 0 and
    never meet in the join — the same no-cross-join trick as
    ngram_jaccard_pairs: explode (one narrow map), shuffle on bucket,
    partial-agg dot products, join per-doc norms.

    SCALE CAVEAT (measured, sf1 audit r3): the pruning only helps while
    vectors are SPARSE. Text hash-embeddings are dense — nearly every doc
    posts to most of the ``dim`` buckets, so the index join degenerates
    to all-pairs x dim (cliff observed at ~50k docs x 128 dims). Callers
    wanting exact pairs bound the input (the calibration-window pattern);
    the production semantic near-dup paths are the LSH family and
    semantic_neardup_bucketed (SemDeDup cells), whose candidate sets stay
    bucket-local.
    """
    from esco_neo4j_spark.operators.textmodel import embed_column

    emb = embed_column(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")),
        "_t",
        dim=dim,
    )
    # sparse (id, bucket, val) rows; buckets are 0-indexed positions
    sparse = (
        emb.select("id", F.posexplode("embedding").alias("bucket", "val"))
        .filter(F.col("val") != 0)
        .select("id", "bucket", F.col("val").cast("double").alias("val"))
    )
    norms = sparse.groupBy("id").agg(
        F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm")
    )
    a = sparse.select(
        F.col("id").alias("id_a"), "bucket", F.col("val").alias("va")
    )
    b = sparse.select(
        F.col("id").alias("id_b"), "bucket", F.col("val").alias("vb")
    )
    dots = (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("va") * F.col("vb")).alias("dot"))
    )
    na = norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "score", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6)
        )
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def symdel_pairs(
    df: DataFrame,
    key_col: str,
    max_len: int = 32,
    max_edit: int = 1,
) -> DataFrame:
    """Edit-distance (<= ``max_edit``, 1 or 2) near-duplicate pairs on a
    short key via the SYMMETRIC-DELETION neighborhood join (the SymSpell
    principle, Garbe 2012) — the edit-distance member of the banded-dedup
    family, for the short-identifier fields (titles, URLs, entity names,
    SKU codes) where set-similarity banding is the wrong tool.

    Candidate rule (LOSSLESS for ED <= k): every key emits its deletion
    neighborhood of depth k (self, single deletions, and for k = 2 every
    ordered-position pair deletion); two keys within k edits MUST share
    a variant — align an optimal edit script and delete, on each side,
    the positions that script touches on that side (<= k positions
    each): the leftovers are the aligned matches, the same string. For
    k = 1 the cases are: equal keys share self; a deletion of a is b's
    self and in D1(a); an insertion is the symmetric case; a
    substitution at i collides on both keys' delete-at-i. The
    variant-key equi-join therefore finds every qualifying pair — no
    recall parameter to tune — and the exact ``levenshtein`` verify
    (same unit-cost definition in Spark and DuckDB, so the oracle
    replays the whole plan) discards the false candidates.

    Output is KEY-level — (key_a, key_b, ed, n_a, n_b) with occurrence
    counts — not id-level. This is the load-bearing scale decision: the
    whole neighborhood machinery runs on DISTINCT keys, so a key
    duplicated a million times costs ONE variant fan-out and one count,
    not a million (the r5 sf1 audit caught the id-level formulation at
    269s: verbatim-replicated names made pre-distinct candidates ~20x
    the quadratic id-pair output; key-level is 17.3s on the same data).
    Expanding a key pair to id pairs is a deliberate downstream join —
    Ω(output) belongs to the caller that wants it; equal-key (ED = 0)
    duplication is already the exact-dedup operator's job.

    Scale shape at 100 TB: each DISTINCT key emits <= max_len + 1
    variant rows at k = 1, ~C(max_len, 2) at k = 2 (bounded fan-out,
    unlike shingling), the only shuffles are the key-count agg and the
    variant equi-join on short strings. Variant buckets are
    intrinsically small (a bucket is the set of distinct keys <= k
    deletions away from the same string — bounded by alphabet size and
    key length, not corpus size); keys are truncated to ``max_len`` so
    fan-out and string width are capped ingest-side. k = 1 covers the
    typo/near-identifier regime this targets; k = 2 is the fuzzy-match
    setting at ~C(L, 2)/L times the fan-out.
    """
    if max_edit not in (1, 2):
        raise ValueError("symdel_pairs supports max_edit in {1, 2}")
    keys = (
        df.select(F.substring(F.col(key_col), 1, max_len).alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count("*").alias("n"))
    )
    one_del = (
        "transform(sequence(1, length(key)),"
        " i -> concat(substr(key, 1, i - 1),"
        " substr(key, i + 1, length(key))))"
    )
    neighborhood = F.array_union(F.array(F.col("key")), F.expr(one_del))
    if max_edit == 2:
        # ordered position pairs i < j deleted from the ORIGINAL key:
        # s[1..i-1] + s[i+1..j-1] + s[j+1..] — flatten the nested
        # transform, then dedup (deleting adjacent equal chars in
        # different orders collides)
        two_del = (
            "flatten(transform(sequence(1, length(key)),"
            " i -> transform(sequence(least(i + 1, length(key)), length(key)),"
            "  j -> CASE WHEN j > i THEN"
            "   concat(substr(key, 1, i - 1), substr(key, i + 1, j - i - 1),"
            "          substr(key, j + 1, length(key)))"
            "  ELSE NULL END)))"
        )
        neighborhood = F.array_union(
            neighborhood,
            F.filter(F.expr(two_del), lambda x: x.isNotNull()),
        )
    variants = keys.select(
        "key",
        "n",
        F.explode(neighborhood).alias("v"),
    )
    a = variants.select(
        F.col("key").alias("key_a"), F.col("n").alias("n_a"), "v"
    )
    b = variants.select(
        F.col("key").alias("key_b"), F.col("n").alias("n_b"), "v"
    )
    return (
        a.join(b, "v")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "n_a", "n_b")
        .distinct()
        .withColumn("ed", F.levenshtein("key_a", "key_b").cast("int"))
        .filter(F.col("ed") <= max_edit)
        .select(
            "key_a", "key_b", "ed",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    window: int = 8,
    divisor: int = 32,
) -> DataFrame:
    """Content-defined-chunking dedup stats — the STORAGE-side dedup
    family member (FastCDC/LBFS lineage): cut every document into
    variable-size chunks at content-determined boundaries, then measure
    how many chunk instances are duplicates. Unlike fixed-size blocks,
    content-defined boundaries survive insertions/deletions (a one-word
    edit shifts every fixed block but only the chunk it lands in), which
    is why 100 TB snapshot stores and training-corpus delta pipelines
    chunk this way before hashing.

    Boundary rule (engine-neutral by construction): cut after character
    position i (1-based, i >= window) when the Karp-Rabin polynomial
    hash of the window ending at i —
    ``sum_j ord(t[i-1-j]) * 53^j  (j = 0..window-1)`` —
    is divisible by ``divisor``; expected chunk length ~= divisor
    chars. r7 (r6 verdict item 3): this replaced an md5-per-position
    rule — the KR hash is exact int64 arithmetic (geometric-sum bound:
    max hash = 0x10FFFF * (53^window - 1)/52 ~= 1.33e18 < 2^63 at
    window=8; the guard below rejects window >= 9, where numpy would
    silently wrap int64 while DuckDB raises on BIGINT overflow and the
    two engines diverge), so the DuckDB oracle replays it as a
    plain arithmetic expression, the Arrow chunker evaluates it as
    ``window`` vectorized shift-multiply-adds per batch (no per-position
    digest), and a production stream consumer gets the textbook O(1)
    rolling update ``h' = (h - c_old*53^(w-1))*53 + c_new``. Chunk
    IDENTITY stays md5 of the chunk text (the dedup key needs collision
    resistance; the boundary rule doesn't).

    Spark shape: one Arrow-batched pandas UDF maps each doc to its
    [(chunk_md5, chunk_len)] list (narrow, rides the corpus scan), one
    explode, then two partial-aggregable groupBys whose outputs are
    bounded by (groups) and (groups x distinct chunks). Returns per-group
    rows: n_chunks, distinct_chunks, total_chars, distinct_chars,
    dedup_ratio (= distinct/total chars — the storage win).
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # int64-exactness guard: the windowed KR hash is bounded by the
    # geometric sum 0x10FFFF * (53^window - 1)/52, which fits int64 only
    # for window <= 8 (base 53). Beyond that numpy wraps silently while
    # DuckDB raises — fail loudly instead of diverging.
    if 0x10FFFF * (53**window - 1) // 52 >= 2**63:
        raise ValueError(
            f"cdc_chunk_stats: window={window} overflows the exact-int64 "
            "Karp-Rabin bound (base 53 requires window <= 8)"
        )
    powb = [53**j for j in range(window)]

    @pandas_udf("array<struct<h: string, l: int>>")
    def chunks_of(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None or len(t) == 0:
                out.append([])
                continue
            n = len(t)
            if n >= window:
                codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                h = np.zeros(n - window + 1, dtype=np.int64)
                for j in range(window):
                    h += codes[window - 1 - j : n - j] * powb[j]
                cuts = (np.nonzero(h % divisor == 0)[0] + window).tolist()
            else:
                cuts = []
            bounds = sorted(set([0] + cuts + [n]))
            out.append(
                [
                    (
                        hashlib.md5(t[a:b].encode("utf-8")).hexdigest(),
                        b - a,
                    )
                    for a, b in zip(bounds, bounds[1:])
                ]
            )
        return pd.Series(out)

    per = (
        df.filter(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .select(group_col, F.explode(chunks_of(F.col(text_col))).alias("c"))
        .select(group_col, F.col("c.h").alias("h"), F.col("c.l").alias("l"))
    )
    totals = per.groupBy(group_col).agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("l").cast("bigint").alias("total_chars"),
    )
    distinct = (
        per.groupBy(group_col, "h")
        .agg(F.max("l").alias("l"))
        .groupBy(group_col)
        .agg(
            F.count("*").cast("bigint").alias("distinct_chunks"),
            F.sum("l").cast("bigint").alias("distinct_chars"),
        )
    )
    return (
        totals.join(distinct, group_col)
        .select(
            group_col,
            "n_chunks",
            "distinct_chunks",
            "total_chars",
            "distinct_chars",
            F.round(
                F.col("distinct_chars").cast("double")
                / F.col("total_chars"),
                6,
            ).alias("dedup_ratio"),
        )
        .orderBy(group_col)
    )
