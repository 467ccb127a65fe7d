"""Physical-plan quality audits (the 100 TB checklist, not just results):

- predicate pushdown reaches the parquet scan (PushedFilters),
- column pruning reaches the scan (ReadSchema),
- small-dimension joins broadcast (no shuffle of the big side),
- ORDER BY ... LIMIT plans as TakeOrderedAndProject (no full sort),
- the hot aggregation path stays inside whole-stage codegen.

These assert on plan STRUCTURE so a regression that silently de-optimizes
a query (e.g. a cast that blocks pushdown, a join that stops
broadcasting) fails CI even while results stay correct.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

from esco_neo4j_spark.plans import REGISTRY

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_point_lookup_pushes_equality_to_scan(spark):
    plan = _plan(spark, "aq_point_lookup")
    assert "EqualTo(c_custkey,42)" in plan, "point predicate must reach parquet"


def test_date_rollup_prunes_columns(spark):
    plan = _plan(spark, "ext_orders_monthly")
    sched = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_totalprice" in sched and "o_orderdate" in sched
    assert "o_orderpriority" not in sched and "o_custkey" not in sched, (
        "scan must read only the 2 referenced columns"
    )


def test_dim_join_broadcasts(spark):
    plan = _plan(spark, "aq_top_parts_by_lines")
    assert "BroadcastHashJoin" in plan, "part-dim join must broadcast"
    assert "SortMergeJoin" not in plan


def test_topk_avoids_full_sort(spark, monkeypatch):
    # the sf0.001 table is below the driver tier's limit; a limit of 0
    # pins the plan every larger table gets
    from esco_neo4j_spark.operators import driver_tier

    monkeypatch.setattr(driver_tier, "MAX_BYTES", 0)
    plan = _plan(spark, "vec_cosine_topk")
    assert "TakeOrderedAndProject" in plan, (
        "ORDER BY+LIMIT must plan as top-k, not global sort"
    )


def test_small_topk_is_served_without_a_job(spark, count_jobs):
    # below the limit the same query is a LocalRelation computed on the
    # driver: past the query's one-row anchor lookup, building and
    # collecting it starts no Spark job
    from esco_neo4j_spark.plans.vector_queries import _anchor_vec

    q = REGISTRY["vec_cosine_topk"]
    df, build_jobs = count_jobs(lambda: q.fn(spark, SF_DIR))
    _, anchor_jobs = count_jobs(lambda: _anchor_vec(spark))
    rows, collect_jobs = count_jobs(df.collect)
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == (
        "LocalRelation"
    )
    assert rows and build_jobs == anchor_jobs and collect_jobs == 0


def test_agg_partial_and_codegen(spark):
    df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    assert "partial_sum" in buf.getvalue(), (
        "agg must combine map-side before the shuffle"
    )
    # codegen spans only appear on the AQE-final plan — execute, then check
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' operator prefixes are the whole-stage-codegen spans in the
    # AQE-final plan string
    assert "*(" in executed and "HashAggregate" in executed, (
        "hot agg path must run inside whole-stage codegen"
    )


def test_cooccurrence_has_fanout_cap(spark):
    # the skew guard (operators/skew.py cap_key_fanout) must appear in the
    # plan: a windowed count over the join key followed by the cap filter,
    # BEFORE the self-join — one hot key must not go quadratic at 100x
    plan = _plan(spark, "aq_part_cooccurrence")
    assert "Window" in plan, "fan-out cap window missing from plan"
    assert "_fanout" in plan, "cap filter column missing from plan"


def test_ann_paths_are_shuffle_free(spark):
    # IVF assignment + PQ encode embed their centroids/codebooks as
    # literals in pure column expressions: the whole ANN probe must plan
    # as scan -> project -> filter -> TakeOrderedAndProject with ZERO
    # exchanges and no window (the round-1 IVF used a Window argmax,
    # which shuffled)
    for name in ("vec_ivf_topk", "vec_pq_topk"):
        plan = _plan(spark, name)
        assert "Exchange" not in plan, f"{name}: ANN probe must not shuffle"
        assert "Window" not in plan, f"{name}: argmax must be a column expr"
        assert "TakeOrderedAndProject" in plan, f"{name}: top-k must be partial"


def test_bucketed_join_has_zero_exchanges(spark):
    # the bucketed layout (sources/bucketed.py) exists to eliminate the
    # fact-fact join shuffle: with both tables bucketed+sorted on the
    # order key, the JOIN subplan must contain ZERO Exchange nodes even
    # with broadcast disabled (the full query's only shuffle is the final
    # group-by). Bucket scans self-identify via 'Bucketed: true'.
    from esco_neo4j_spark.sources.bucketed import ensure_bucketed

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        names = ensure_bucketed(spark, SF_DIR)
        o = spark.table(names["orders"])
        li = spark.table(names["lineitem"])
        joined = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
            "o_orderkey", "o_orderpriority", "l_extendedprice"
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert plan.count("Bucketed: true") == 2, (
            "both scans must report the bucketed layout"
        )
        assert "Exchange" not in plan, (
            "bucket-key join must not shuffle either side"
        )
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_scan_prunes_directories(spark):
    # the date-partitioned layout (sources/partitioned.py) must turn the
    # week filter into directory-level pruning: PartitionFilters on the
    # scan, and only the 7 matching date partitions' files actually read
    # (one file per partition by construction)
    df = REGISTRY["events_partition_pruned_week"].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pf = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "event_date" in pf and "2024-01-08" in pf, (
        "date predicate must reach PartitionFilters"
    )
    from esco_neo4j_spark.sources.partitioned import events_by_date

    week = events_by_date(spark, SF_DIR).filter(
        "event_date >= '2024-01-08' AND event_date < '2024-01-15'"
    )
    # inputFiles() lists the whole relation pre-pruning; count the files
    # the executed scan actually touches instead
    from pyspark.sql import functions as F

    n_read = week.select(F.input_file_name()).distinct().count()
    assert n_read == 7, f"must read exactly the 7 pruned days, read {n_read}"


def test_salted_join_matches_plain_join(spark):
    # salting is a pure physical rewrite: a 5000-row hot key joined
    # through salted_join must produce exactly the plain join's rows,
    # and the join must actually key on the salt (hot key spread over
    # n_salts partitions instead of one)
    from pyspark.sql import functions as F

    from esco_neo4j_spark.operators.skew import salted_join

    big = spark.range(6000).select(
        F.when(F.col("id") < 5000, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    got = sorted(map(tuple, salted_join(big, small, ["k"]).collect()))
    want = sorted(map(tuple, big.join(small, "k").collect()))
    assert got == want and len(got) > 0

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        salted_join(big, small, ["k"]).explain("formatted")
    assert "_salt" in buf.getvalue(), "join must key on the salt column"


def test_profile_reads_table_once(spark):
    """ext_profile_columns computes every per-column stat in ONE scan —
    the wide-aggregate-then-unpivot shape. A per-column loop (what the
    DuckDB oracle deliberately does) would show one FileScan per column."""
    import re

    plan = _plan(spark, "ext_profile_columns")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan


def test_bloom_prune_probe_side_has_no_shuffle_before_join(spark):
    """The bloom bit table is broadcast to the probe: every semi-join in
    the prune phase is a BroadcastHashJoin / BroadcastNestedLoopJoin, so
    the fact table is never exchanged until the final exact join."""
    plan = _plan(spark, "ext_bloom_semijoin")
    # the probe chain is 4 semi-joins; every one must be a broadcast join
    # (a SortMergeJoin LeftSemi would mean the fact side was exchanged)
    semi = [
        ln for ln in plan.splitlines()
        if "LeftSemi" in ln and ("HashJoin" in ln or "MergeJoin" in ln
                                 or "NestedLoop" in ln)
    ]
    assert len(semi) >= 4 and all("Broadcast" in ln for ln in semi), semi


def test_contamination_broadcasts_eval_shingles(spark):
    plan = _plan(spark, "text_contamination_overlap")
    assert "BroadcastHashJoin" in plan, (
        "benchmark shingle set must broadcast — the train side never "
        "shuffles on shingle"
    )
    assert "SortMergeJoin" not in plan


def test_chunking_is_shuffle_free_before_the_presentation_sort(spark):
    plan = _plan(spark, "text_chunk_windows")
    assert "Generate" in plan
    # the ONLY exchange is the final ORDER BY's range partitioning; the
    # scan -> tokenize -> explode -> hash pipeline itself never shuffles
    exchanges = [
        l for l in plan.splitlines() if l.strip().startswith("Arguments: ")
        and "partitioning" in l
    ]
    assert len(exchanges) == 1 and "rangepartitioning" in exchanges[0], (
        f"chunking must shuffle only for the presentation sort: {exchanges}"
    )


def test_global_shuffle_windows_are_bucket_partitioned(spark):
    plan = _plan(spark, "text_global_shuffle")
    # the data-sized window must hash-partition on the bucket column; the
    # only acceptable unpartitioned window is the 256-row offset fixup
    assert "hashpartitioning(bkt" in plan, (
        "row_number over documents must partition by the hash bucket"
    )


def test_gapfill_shares_one_series_key_exchange(spark):
    plan = _plan(spark, "events_gapfill_daily_locf")
    assert "hashpartitioning(user_id" in plan, (
        "spine join + LOCF window must key on the series id"
    )


def test_fuzzy_match_joins_the_distinct_dictionary(spark):
    plan = _plan(spark, "ext_fuzzy_match_parts")
    # dictionary reduction: both join inputs aggregate to distinct names
    # BEFORE the fuzzy join, so the join never sees the row table
    join_at = plan.find("Join")
    assert join_at != -1
    assert plan.count("HashAggregate") >= 2, (
        "fuzzy join inputs must be the distinct-name dictionary"
    )


def test_pii_scrub_is_a_pure_scan_map(spark):
    plan = _plan(spark, "text_pii_scrub")
    # redaction is a per-row projection: nothing between the scan and the
    # presentation sort may shuffle
    head = plan.split("Sort")[0]
    assert "Exchange" not in head, "PII scrub must not shuffle before the sort"


def test_unigram_logprob_broadcasts_vocabulary(spark):
    plan = _plan(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan, (
        "token->vocab join must broadcast the vocabulary"
    )
    assert "SortMergeJoin" not in plan


def _simple_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_token_budget_has_single_source_exchange(spark):
    plan = _simple_plan(spark, "pipeline_token_budget")
    # one hash exchange on source for the cumulative window; the final
    # ORDER BY is a rangepartitioning exchange — nothing else
    hash_exchanges = [
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l
    ]
    assert len(hash_exchanges) == 1, (
        f"budget fill needs exactly one hash exchange, saw {hash_exchanges}"
    )


def test_transition_matrix_single_user_exchange(spark):
    plan = _simple_plan(spark, "events_transition_matrix")
    # the corpus-sized exchange is the per-user lag window; the (prev,
    # next) group-by and the normalizing window run on partial-aggregated
    # / type-cardinality-bounded data
    user_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning" in l and "user_id" in l
    ]
    assert len(user_exchanges) == 1, (
        "lag window must hash-partition on user_id exactly once"
    )


def test_matryoshka_both_stages_are_topk(spark):
    plan = _plan(spark, "vec_matryoshka_rerank")
    assert plan.count("TakeOrderedAndProject") >= 2, (
        "both the candidate cut and the rerank must plan as top-k"
    )
    assert "CartesianProduct" not in plan


def test_incremental_dedup_has_no_cartesian_join(spark):
    plan = _plan(spark, "dedup_minhash_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, (
        "candidate generation must stay a banded equi-join"
    )


def test_mad_broadcasts_group_medians(spark):
    plan = _plan(spark, "events_mad_dispersion")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_attribution_left_is_equi_plus_anti(spark):
    plan = _simple_plan(spark, "events_attribution_left")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan, "unmatched purchases must come from an anti-join"


def test_association_rules_broadcasts_supports(spark):
    plan = _plan(spark, "aq_association_rules")
    assert "BroadcastHashJoin" in plan, "item supports must broadcast"
    assert "CartesianProduct" not in plan


def test_histogram_broadcasts_bounds(spark):
    plan = _plan(spark, "ext_histogram_equiwidth")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        "1-row bounds must broadcast"
    )
    assert "SortMergeJoin" not in plan


def test_zipf_rank_window_runs_on_vocabulary(spark):
    # the total-order window must consume the term-count AGGREGATE (the
    # vocabulary), never raw tokens: a Window directly over the exploded
    # corpus would be the scale bug
    plan = _simple_plan(spark, "text_zipf_fit")
    gen = plan.index("Generate")  # the explode
    win = plan.index("Window")
    agg_between = plan[win:gen].count("HashAggregate")
    assert agg_between >= 1, (
        "rank window must sit above the vocab aggregate, not raw tokens"
    )


def test_tpch_q3_q5_broadcast_dims_single_fact_shuffle(spark):
    """Q3: the filtered customer+orders side broadcasts into lineitem.
    Q5: all four dimensions broadcast; orders x lineitem is the only
    SortMergeJoin-eligible pair."""
    p3 = _plan(spark, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in p3
    assert "SortMergeJoin" not in p3, "Q3 must not shuffle-join the facts"
    assert "PushedFilters" in p3 and "l_shipdate" in p3
    p5 = _plan(spark, "tpch_q5_local_supplier")
    assert p5.count("BroadcastHashJoin") >= 3, "Q5 dims must broadcast"
    assert "CartesianProduct" not in p5


def test_skyline_single_priority_exchange(spark):
    """Both skyline windows share the (priority) partitioning: exactly
    one hashpartitioning exchange on priority, no single-partition
    global window."""
    plan = _plan(spark, "ext_skyline_orders")
    assert "SinglePartition" not in plan.split("TakeOrdered")[0], (
        "skyline windows must stay per-priority, not global"
    )


def test_cusum_windows_share_one_sort(spark):
    """The prefix-sum and running-extreme windows all ride the same
    (event_type ORDER BY day) sort after the daily rollup."""
    plan = _plan(spark, "events_cusum_changepoint")
    assert "SinglePartition" not in plan, "CUSUM state must be per-series"


def test_nb_classifier_broadcasts_model(spark):
    """The vocab x classes likelihood table must broadcast back against
    per-doc term frequencies (model is vocabulary-sized at any corpus
    scale)."""
    plan = _plan(spark, "text_nb_source_classifier")
    assert "BroadcastHashJoin" in plan


def test_tpch_q4_plans_semi_join_with_residual(spark):
    """The EXISTS decorrelates to one LEFT SEMI join on l_orderkey; the
    30-day lateness comparison rides as a join residual, so no distinct
    pass and no second aggregation appear."""
    plan = _plan(spark, "tpch_q4_priority_lateness")
    assert "LeftSemi" in plan, "EXISTS must plan as a semi join"
    assert "o_orderdate" in plan and "PushedFilters" in plan


def test_tpch_q19_pushes_disjunct_brackets_to_both_scans(spark):
    """Catalyst extracts the per-side simplifications of the OR-of-ANDs:
    the (brand AND size) disjunction prunes the part scan and the
    quantity OR-bounds prune the lineitem scan — both at the parquet
    reader, before the broadcast join evaluates the full bracket."""
    plan = _plan(spark, "tpch_q19_disjunctive_revenue")
    assert "EqualTo(p_brand,Brand#12)" in plan, (
        "brand disjunction must reach the part scan"
    )
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan, (
        "quantity OR-bounds must reach the lineitem scan"
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_tpch_q10_topk_and_pruned_scans(spark):
    """Returned-items: returnflag and the quarter both push to their
    scans; the top-20 plans as TakeOrderedAndProject."""
    plan = _plan(spark, "tpch_q10_returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, (
        "pruned orders side must broadcast into lineitem"
    )


def test_tpch_q17_broadcasts_correlated_average(spark):
    """The decorrelated per-part average is dimension-sized (one row per
    part) and must broadcast back into lineitem — the only exchange is
    the partial agg that builds it."""
    plan = _plan(spark, "tpch_q17_small_quantity_revenue")
    assert plan.count("BroadcastHashJoin") >= 2, (
        "both part and avg-qty sides must broadcast"
    )
    assert "SortMergeJoin" not in plan


def test_tpch_q22_anti_join_and_scalar_cutoff(spark):
    """Dormant customers: the no-recent-orders test plans as LEFT ANTI
    against the date-pruned orders scan; the scalar average enters as a
    broadcast, never a shuffle."""
    plan = _plan(spark, "tpch_q22_dormant_customers")
    assert "LeftAnti" in plan, "NOT EXISTS must plan as an anti join"
    assert "GreaterThanOrEqual(o_orderdate," in plan, (
        "date filter must prune the orders scan feeding the anti join"
    )


def test_sq_topk_stats_broadcast_and_topk(spark):
    """SQ8: the per-dimension stats row and the quantized anchor enter
    as broadcasts (BroadcastNestedLoopJoin on the 1-row sides); both the
    integer candidate cutoff and the re-rank plan as
    TakeOrderedAndProject — the vectors themselves are never
    shuffle-exchanged."""
    plan = _plan(spark, "vec_sq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan, "no vector shuffle allowed"


def test_crossdoc_share_is_inverted_index_not_all_pairs(spark):
    """Cross-doc n-gram share must stay on the inverted-index path:
    gram-key aggregation + join back, never a doc x doc product."""
    plan = _plan(spark, "text_crossdoc_ngram_share")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q21_semi_then_anti_on_shared_key(spark):
    """Q21: EXISTS and NOT EXISTS against the same fact both plan as
    LeftSemi/LeftAnti joins keyed on l_orderkey — no aggregation-based
    rewrite, no cartesian residual."""
    plan = _plan(spark, "tpch_q21_waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q6_is_pure_pushdown_scan(spark):
    """Q6: all three predicates reach the parquet reader; the plan has
    no join and no exchange before the single-row aggregate."""
    plan = _plan(spark, "tpch_q6_forecast_revenue")
    assert "GreaterThanOrEqual(l_shipdate," in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "Join" not in plan


def test_keyword_tagging_broadcasts_dictionary(spark):
    plan = _plan(spark, "text_keyword_tagging")
    assert "BroadcastHashJoin" in plan, "gazetteer join must broadcast"
    assert "SortMergeJoin" not in plan


def test_batch_topk_broadcasts_query_batch(spark):
    # one corpus scan + broadcast of the 10-row query batch; the top-k
    # window partitions by query_id (no global single-partition window)
    plan = _plan(spark, "vec_batch_topk")
    assert "BroadcastNestedLoopJoin" in plan
    # corpus + query-batch scans only (formatted plans print each scan
    # twice: tree node + detail block)
    assert plan.count("Location: InMemoryFileIndex") <= 2
    # rank-limit pushdown trims per-query rows BEFORE the window shuffle
    assert "WindowGroupLimit" in plan


def test_fk_audit_broadcasts_dimension_parents(spark):
    plan = _plan(spark, "ext_fk_integrity_audit")
    # 5 dim-parent joins broadcast; only the 2 fact-fact relations
    # (lineitem->orders) may sort-merge
    assert plan.count("BroadcastHashJoin") >= 5


def test_grouping_sets_single_exchange_before_agg(spark):
    plan = _plan(spark, "ext_grouping_sets_mixed")
    assert "Expand" in plan, "grouping sets must expand, not re-scan"
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_bm25_single_scan_per_agg_branch(spark):
    # doc-length and tf branches each scan once; df broadcasts (3 rows)
    plan = _plan(spark, "text_bm25_search")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_contamination_broadcasts_benchmark_set(spark):
    # the eval-shingle set broadcasts; the corpus side never shuffles on
    # the shingle string
    plan = _plan(spark, "text_contamination_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_lateral_top1_decorrelates_to_window(spark):
    # Catalyst must rewrite the correlated LATERAL into a window/rank
    # plan, not a per-row nested loop
    plan = _plan(spark, "ext_lateral_top1_per_nation")
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert "CartesianProduct" not in plan


def test_lsh_join_exchanges_ids_not_vectors(spark):
    """r3 scale guard: the LSH bucket join must carry IDS ONLY — the
    embedding column may not flow through the (t, bucket) exchange
    (width x candidate fanout filled 50 GB of shuffle at sf1). Vectors
    enter via id-keyed joins at verify time, after pair dedup."""
    plan = _plan(spark, "vec_lsh_similarity_join")
    import re

    # every exchange that partitions on the bucket key must not ship an
    # embedding/vector column
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        if "bucket" in args:
            assert "embedding" not in args and "va" not in args, args
    assert "CartesianProduct" not in plan


def test_ngram_jaccard_prefix_filter_shape(spark):
    """r3: prefix-filtered exact Jaccard — no cartesian anywhere, and the
    verify stage computes the intersection from the two shingle ARRAYS
    (array_intersect), not by re-joining full posting lists per pair."""
    plan = _plan(spark, "dedup_ngram_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan


def test_hard_negatives_broadcasts_anchor_batch(spark):
    """The contrastive-mining pass must broadcast the 8-row anchor batch
    (BroadcastNestedLoopJoin over one corpus scan) — never shuffle the
    corpus against it."""
    plan = _plan(spark, "pipeline_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exact_quantiles_scan_prunes_to_price(spark):
    """Both passes of the histogram-refine quantile read ONLY
    l_extendedprice from the lineitem scan."""
    plan = _plan(spark, "ext_exact_quantiles_twopass")
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "l_extendedprice" in line
            assert "l_orderkey" not in line and "l_comment" not in line


def test_ivfpq_candidate_scan_stays_narrow(spark):
    """IVF-PQ assignment/encode are narrow maps: no shuffle exchange may
    appear below the rerank's top-k (the only exchanges allowed are the
    TakeOrdered singletons)."""
    plan = _plan(spark, "vec_ivfpq_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_bpe_pair_count_is_partial_aggregated(spark):
    """The BPE trainer's per-round pair count must map-side combine
    (partial_sum before the exchange)."""
    from esco_neo4j_spark.plans.text_queries import _bpe_merge_loop
    import contextlib, io

    spark.read.parquet(f"{SF_DIR}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    try:
        from pyspark.sql import functions as F
        from esco_neo4j_spark.functions.text import word_tokens

        d = spark.table("documents")
        state = (
            d.select(F.explode(word_tokens(F.col("text"))).alias("w"))
            .groupBy("w").agg(F.count("*").alias("freq"))
            .select("w", "freq", F.concat(
                F.regexp_replace(F.col("w"), "(.)", "($1)"), F.lit("($)")
            ).alias("rep"))
        )
        ts = F.split(F.expr("substring(rep, 2, length(rep) - 2)"), r"\)\(")
        pairs = (
            state.select("freq", ts.alias("ts"))
            .filter(F.size("ts") >= 2)
            .select("freq", F.explode(F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> concat(ts[i], ' ', ts[i + 1]))")).alias("pair"))
            .groupBy("pair").agg(F.sum("freq").alias("n"))
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            pairs.explain("formatted")
        plan = buf.getvalue()
        assert "partial_sum" in plan
    finally:
        spark.catalog.dropTempView("documents")


def test_right_to_forget_broadcasts_anti_join(spark):
    """The deletion-request list must broadcast into the anti-join — the
    fact table may never shuffle to honor a forget list (bounded by
    requests, not events)."""
    plan = _plan(spark, "pipeline_right_to_forget")
    assert "BroadcastHashJoin LeftAnti" in plan
    # the anti-join itself must never be shuffle-based (the remaining
    # user_id exchanges in the plan are COUNT(DISTINCT)'s partial-agg
    # shuffles, which are the aggregation's own and unavoidable)
    assert "SortMergeJoin LeftAnti" not in plan
    assert "ShuffledHashJoin LeftAnti" not in plan


def test_cdc_chunks_is_one_narrow_pass(spark):
    """The chunker must ride the corpus scan: exactly one Python eval
    node (the Arrow chunk UDF) feeding a partial-aggregable groupBy; the
    only exchanges are the two bounded aggregations' — never a shuffle
    of raw text or chunk strings keyed by doc."""
    plan = _plan(spark, "dedup_cdc_chunks")
    assert plan.count("ArrowEvalPython") + plan.count("MapInPandas") >= 1
    # partial aggregation before each exchange (map-side combine)
    assert "partial_count" in plan or "partial_sum" in plan
    # text reaches only the UDF: the scan reads just the 2 needed cols
    sched = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "text" in sched and "source" in sched
    assert "lang" not in sched and "n_chars" not in sched


def test_dsir_score_join_broadcasts(spark):
    """The 1024-row bucket-score table must broadcast onto the token
    stream — a shuffle join here would move the whole corpus's exploded
    features by bucket id."""
    plan = _plan(spark, "pipeline_dsir_select")
    assert "BroadcastHashJoin" in plan
    # top-100 must be a top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_phash_is_single_map_no_shuffle(spark):
    """pHash must be one mapInPandas over the payload projection with no
    exchange before the final orderBy — decode+DCT rides the scan."""
    plan = _plan(spark, "mm_phash_dct")
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    pre = plan.split("Sort")[0] if "Sort" in plan else plan
    assert "Exchange" not in pre.split("MapInPandas")[0], (
        "no shuffle may precede the decode map"
    )


def test_lsh_cross_join_exchanges_ids_not_vectors(spark):
    """The two-table banding join inherits the self-join's r3 scale
    guard: bucket-keyed exchanges carry ids only, vectors enter via
    id-keyed joins after candidate dedup, and no cartesian forms."""
    import re

    plan = _plan(spark, "vec_lsh_contamination")
    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        if "bucket" in args:
            assert "embedding" not in args and "vl" not in args, args
    assert "CartesianProduct" not in plan


def test_knn_graph_exchanges_ids_not_vectors(spark):
    """r7: the kNN-graph bucket join and the per-src candidate-cap
    window must both run on IDS ONLY — embeddings enter via id-keyed
    joins only after the capped pool is fixed."""
    plan = _plan(spark, "vec_knn_graph_lsh")
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        args = m.group(1)
        if "bucket" in args or "src" in args:
            assert "embedding" not in args and "vs" not in args, args
    assert "CartesianProduct" not in plan


def test_catalog_front_door_plan_equivalence(spark):
    """r7 (r6 verdict item 8): the catalog-table variant must compile to
    the SAME physical operator sequence as the temp-view variant — the
    metastore front door changes naming, not the plan — and the
    partitioned edges table must prune rel_type at the catalog level."""
    import re

    def shape(plan: str) -> list[str]:
        # physical node names in order, stripped of ids/codegen markers
        return [
            m.group(1)
            for m in re.finditer(r"^\s*\(\d+\)\s+([A-Za-z]+)", plan, re.M)
        ]

    view_plan = _plan(spark, "esco_label_counts")
    cat_plan = _plan(spark, "esco_label_counts_catalog")
    assert shape(view_plan) == shape(cat_plan), (
        shape(view_plan), shape(cat_plan),
    )

    # catalog-level partition pruning on the hive-partitioned edges table
    from esco_neo4j_spark.sources.esco import register_catalog_tables

    register_catalog_tables(spark)
    pruned = spark.sql(
        "SELECT count(*) FROM esco.edges WHERE rel_type = 'ESSENTIAL_FOR'"
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    p = buf.getvalue()
    assert "ESSENTIAL_FOR" in p  # the predicate reaches partition pruning
    assert "PartitionFilters" in p or "CatalogFileIndex" in p or (
        "rel_type" in p
    )


def test_temperature_mix_broadcasts_rates(spark):
    """r7: the (languages)-sized rate table must broadcast back onto the
    corpus — the sampling filter never shuffles the documents scan."""
    plan = _plan(spark, "pipeline_temperature_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Arguments: hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in m.group(1), (
            "documents shuffled on the sampling path: " + m.group(1)
        )


def test_graph_search_no_cartesian_and_bounded_joins(spark):
    """r7: every stage of the beam walk is an equi-join or a bounded
    top-k — no cartesian/nested-loop anywhere despite the iterative
    construction."""
    plan = _plan(spark, "vec_graph_search")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_layered_graph_search_no_cartesian(spark):
    """r8: the layer pyramid (per-layer graph builds + descend steps)
    and the seeded base walk stay equi-join/bounded-top-k shaped — no
    cartesian or nested-loop join appears anywhere in the final plan,
    and the level-coin membership filter reaches the scan side as a
    plain deterministic predicate (no UDF in the filter)."""
    plan = _plan(spark, "vec_graph_search_layered")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
