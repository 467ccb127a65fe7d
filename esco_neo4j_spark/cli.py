"""Command-line surface mirroring the reference CLI (src/esco_cli.py:181-381).

Subcommand parity:

  ingest      reference: src/esco_cli.py:273-289  -> CSV -> Parquet warehouse
  search      reference: src/esco_cli.py:291-360  -> embedding cosine top-k
  translate   reference: src/esco_cli.py:362-374  -> property translate + write-back
  query       (ours) run any named analysis query (the analysis_queries.md
              corpus, reference-side documented not executable)
  list        (ours) enumerate the query registry with SURVEY.md §2 tags

Output sinks per SURVEY.md §2.A9/A10: human-readable terminal formatting
(score, label, truncated description — reference src/esco_cli.py:48-91)
or ``--json`` (json.dumps, ensure_ascii=False — src/esco_cli.py:92-94).

Usage:  python -m esco_neo4j_spark.cli <subcommand> [options]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark(args) -> SparkSession:
    if getattr(args, "cpus", None):
        os.environ["SPARK_GRAFT_CPUS"] = args.cpus
    from esco_neo4j_spark.session import get_spark

    return get_spark("esco_neo4j_spark_cli", config=getattr(args, "_cfg", None))


def _print_df(df: DataFrame, as_json: bool, limit: int = 50) -> None:
    rows = df.limit(limit).collect()
    if as_json:
        print(
            json.dumps(
                [r.asDict(recursive=True) for r in rows],
                indent=2,
                ensure_ascii=False,
                default=str,
            )
        )
    else:
        df.limit(limit).show(limit, truncate=97)


def cmd_ingest(args) -> int:
    from esco_neo4j_spark.sources import ensure_warehouse
    from esco_neo4j_spark.sources.esco import DEFAULT_WAREHOUSE, validate

    spark = _spark(args)
    wh = args.warehouse or DEFAULT_WAREHOUSE
    if args.force and os.path.exists(wh):
        shutil.rmtree(wh)  # A5 delete-all (reference src/esco_ingest.py:48-65)
        from esco_neo4j_spark.sources.esco import invalidate_graph_views

        invalidate_graph_views(spark)  # cached views point at dead files
    ensure_warehouse(spark, wh)
    counts = validate(spark, wh)  # A6 constraints as validation job
    print(json.dumps({"warehouse": wh, "counts": counts}, indent=2))
    return 0


def get_related_graph(spark: SparkSession, uri: str, node_type: str) -> dict:
    """Related-entities star for ONE node (reference
    src/semantic_search.py:111-169): per relationship type, the list of
    neighbor labels — skills get essential/optional occupations, related
    (undirected) / broader / narrower skills; occupations get
    essential/optional skills, ISCO groups, broader/narrower
    occupations. One point lookup; every collect is bounded by the
    node's degree."""
    edges = spark.table("esco_edges")
    sk = spark.table("esco_skill").select(
        F.col("conceptUri").alias("_uri"), F.col("preferredLabel").alias("_l")
    )
    oc = spark.table("esco_occupation").select(
        F.col("conceptUri").alias("_uri"), F.col("preferredLabel").alias("_l")
    )
    ig = spark.table("esco_isco_group").select(
        F.col("conceptUri").alias("_uri"), F.col("preferredLabel").alias("_l")
    )

    def labels(rel: str, end: str, other: DataFrame) -> list[dict]:
        this, that = ("src_uri", "dst_uri") if end == "src" else (
            "dst_uri", "src_uri")
        rows = (
            edges.filter(
                (F.col("rel_type") == rel) & (F.col(this) == uri)
            )
            .join(other, F.col(that) == F.col("_uri"))
            .select("_l")
            .distinct()
            .orderBy("_l")
            .collect()
        )
        return [{"label": r["_l"]} for r in rows]

    node_tbl = sk if node_type == "Skill" else oc
    node_row = node_tbl.filter(F.col("_uri") == uri).first()
    if node_row is None:
        return None
    if node_type == "Skill":
        rel = edges.filter(F.col("rel_type") == "RELATED_SKILL")
        und = (
            rel.filter(F.col("src_uri") == uri).select(
                F.col("dst_uri").alias("_o"))
            .unionByName(
                rel.filter(F.col("dst_uri") == uri).select(
                    F.col("src_uri").alias("_o"))
            )
            .join(sk, F.col("_o") == F.col("_uri"))
            .select("_l").distinct().orderBy("_l").collect()
        )
        related = {
            "essential_occupations": labels("ESSENTIAL_FOR", "src", oc),
            "optional_occupations": labels("OPTIONAL_FOR", "src", oc),
            "related_skills": [{"label": r["_l"]} for r in und],
            "broader_skills": labels("BROADER_THAN", "src", sk),
            "narrower_skills": labels("BROADER_THAN", "dst", sk),
        }
    else:
        related = {
            "essential_skills": labels("ESSENTIAL_FOR", "dst", sk),
            "optional_skills": labels("OPTIONAL_FOR", "dst", sk),
            "isco_groups": labels("PART_OF_ISCOGROUP", "src", ig),
            "broader_occupations": labels("BROADER_THAN", "src", oc),
            "narrower_occupations": labels("BROADER_THAN", "dst", oc),
        }
    return {"node": {"label": node_row["_l"], "uri": uri}, "related": related}


def cmd_search(args) -> int:
    """Semantic search (reference: src/semantic_search.py:39-109): embed the
    query text with the same model UDF pipeline used at ingest, cosine
    against every embedded node of the requested type(s), threshold,
    top-k. One scan; top-k via TakeOrderedAndProject. Terminal output is
    the reference's color-coded header/section/result format (A9,
    src/esco_cli.py:36-91) with the 'first 5 ... and N more' related
    block under --related. --json emits the reference's JSON envelope
    FIELDS (query/results/related_graph, src/esco_cli.py:349-360) but
    DELIBERATELY diverges in framing: the reference prints the color
    header + human results and then APPENDS the envelope (and prints
    'No results found.' with no JSON at all on empty hits); this CLI
    emits the envelope alone so stdout is clean machine-readable JSON
    (json.loads over the full stream — pinned by tests/test_cli.py),
    and emits it even for empty results (empty list, null
    related_graph) so consumers never have to branch on absence."""
    import pandas as pd

    from esco_neo4j_spark import terminal as term
    from esco_neo4j_spark.operators.similarity import brute_force_topk
    from esco_neo4j_spark.operators.textmodel import _hash_embed_rows
    from esco_neo4j_spark.sources import ensure_warehouse, load_graph

    spark = _spark(args)
    views = load_graph(spark, ensure_warehouse(spark))
    # query-text embedding, client-side like the reference (
    # src/semantic_search.py:54-58); same hash-embed fallback as ingest
    qvec = [float(x) for x in _hash_embed_rows(pd.Series([args.text]), 32)[0]]

    # B2 label-disjunction scan: skill / occupation / both
    if args.node_type == "skill":
        nodes = views["esco_skill"]
    elif args.node_type == "occupation":
        nodes = views["esco_occupation"]
    else:
        nodes = views["esco_skill"].select(
            "conceptUri", "preferredLabel", "description", "labels", "embedding"
        ).unionByName(
            views["esco_occupation"].select(
                "conceptUri", "preferredLabel", "description", "labels", "embedding"
            )
        )
    from esco_neo4j_spark.functions.vector import l2_norm

    nodes = nodes.select(
        F.col("conceptUri").alias("uri"),
        F.col("preferredLabel").alias("label"),
        F.element_at("labels", 1).alias("type"),  # H2 labels(n)[0]
        "description",
        "embedding",
    ).filter(
        # zero-norm embeddings (empty text) would divide-by-zero under
        # ANSI; the reference's IS NOT NULL guard (B3) maps to norm > 0
        F.col("embedding").isNotNull() & (l2_norm(F.col("embedding")) > 0)
    )
    hits = (
        brute_force_topk(
            nodes,
            qvec,
            k=args.limit,
            threshold=args.threshold,
            id_col="uri",
            vec_col="embedding",
        )
        .join(nodes.select("uri", "label", "type", "description"), "uri")
        .select("uri", "label", "type", "description", "score")
        .orderBy(F.desc("score"), "uri")
        .collect()
    )
    results = [
        {
            "uri": r["uri"],
            "label": r["label"],
            "type": r["type"],
            "description": r["description"],
            "score": float(r["score"]),
        }
        for r in hits
    ]
    related_graph = None
    if args.related and results:
        related_graph = get_related_graph(
            spark, results[0]["uri"], results[0]["type"]
        )
    if args.json:
        # reference JSON envelope (src/esco_cli.py:349-360)
        print(
            term.format_json_output(
                {
                    "query": args.text,
                    "results": results,
                    "related_graph": related_graph,
                }
            )
        )
        return 0
    term.print_header("ESCO Semantic Search")
    print(f"Query: {term.colorize(args.text, term.Colors.BOLD)}")
    print(f"Type: {term.colorize(args.node_type, term.Colors.BOLD)}")
    print(
        f"Threshold: {term.colorize(str(args.threshold), term.Colors.BOLD)}"
    )
    term.print_section("Searching...")
    if not results:
        print(term.colorize("\nNo results found.", term.Colors.YELLOW))
        return 0
    term.print_section("Search Results")
    for i, r in enumerate(results, 1):
        term.print_result(r, i)
    if args.related:
        term.print_related_nodes(related_graph)
    return 0


def cmd_translate(args) -> int:
    """Translate a node property and write it back (reference:
    src/esco_translate.py:385-419): distinct-before-compute, pandas-UDF
    translate, key-join write-back — then a crash-safe ``swap_in`` of the
    node table (the set-oriented form of the reference's per-node SET
    n.prop_he): a crash at any point leaves a complete table copy that
    the next ``ensure_warehouse`` restores."""
    from esco_neo4j_spark.operators.textmodel import translate_column
    from esco_neo4j_spark.sources import ensure_warehouse
    from esco_neo4j_spark.sources.merge import swap_in

    if getattr(args, "model_dir", None):
        # Pre-flight asset check before any model load, as the reference
        # does post-download (src/download_model.py:15-62): a
        # half-populated cache fails fast here, not deep in an executor.
        from esco_neo4j_spark.model_cache import verify_model_cache

        report = verify_model_cache(args.model_dir)
        if not report.ok:
            print(
                json.dumps(
                    {
                        "error": "model cache verification failed",
                        "missing": report.missing,
                        "detail": report.error,
                    }
                ),
                file=sys.stderr,
            )
            return 2

    spark = _spark(args)
    wh = ensure_warehouse(spark)
    table = {"skill": "nodes_skill", "occupation": "nodes_occupation",
             "isco": "nodes_isco_group"}[args.node_type]
    path = os.path.join(wh, table)
    df = spark.read.parquet(path)
    out_col = f"{args.property}_{args.lang}"
    translated = translate_column(
        df.drop(out_col) if out_col in df.columns else df,
        args.property,
        out_col=out_col,
        lang=args.lang,
    )
    if args.dry_run:
        _print_df(
            translated.select("conceptUri", args.property, out_col), args.json,
            limit=args.limit,
        )
        return 0
    swap_in(path, translated.write.mode("overwrite").parquet)
    n = spark.read.parquet(path).filter(F.col(out_col).isNotNull()).count()
    print(json.dumps({"table": table, "column": out_col, "translated": n}))
    return 0


def cmd_query(args) -> int:
    from esco_neo4j_spark.plans import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query '{args.name}' — see `list`", file=sys.stderr)
        return 2
    spark = _spark(args)
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    if args.explain:
        # the plan IS the product at 100 TB — surface it next to results
        df.explain("formatted")
        return 0
    _print_df(df, args.json, limit=args.limit)
    return 0


def cmd_list(args) -> int:
    from esco_neo4j_spark.plans import REGISTRY

    rows = [
        {
            "name": q.name,
            "survey_ops": q.survey_ops,
            "oracle": q.sql is not None,
            "bench": q.bench,
            "corpus": "esco" if q.esco else "synthetic",
        }
        for q in REGISTRY.values()
    ]
    if args.json:
        print(json.dumps(rows, indent=2))
    else:
        w = max(len(r["name"]) for r in rows)
        for r in sorted(rows, key=lambda r: r["name"]):
            tags = ("oracle" if r["oracle"] else "rows-only") + (
                ",bench" if r["bench"] else ""
            )
            print(f"{r['name']:<{w}}  [{r['corpus']}] [{tags}]  {r['survey_ops']}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="esco-spark", description=__doc__,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--cpus", help="local[N] parallelism (default: all cores)")
    p.add_argument(
        "--config",
        help="engine YAML config file (profiles + env override, A8; "
        "default: config/engine_config.yaml if present)",
    )
    p.add_argument(
        "--profile",
        help="config profile name (default: $SPARK_GRAFT_PROFILE or 'default')",
    )
    p.add_argument("--log-dir", help="log directory (A11; default: ./logs)")
    p.add_argument(
        "--log-level",
        help="log level (default: config log_level or INFO)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    i = sub.add_parser("ingest", help="ESCO CSVs -> Parquet warehouse")
    i.add_argument("--warehouse", help="warehouse directory")
    i.add_argument("--force", action="store_true", help="rebuild from scratch")
    i.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("search", help="semantic cosine search")
    s.add_argument("text")
    s.add_argument("--node-type", choices=["skill", "occupation", "both"],
                   default="both")
    s.add_argument("--limit", type=int, default=10)
    s.add_argument("--threshold", type=float, default=0.0)
    s.add_argument("--json", action="store_true")
    s.add_argument(
        "--related",
        action="store_true",
        help="show the top hit's related entities (first 5 per "
        "relationship, '... and N more')",
    )
    s.set_defaults(fn=cmd_search)

    t = sub.add_parser("translate", help="translate a node property")
    t.add_argument("--node-type", choices=["skill", "occupation", "isco"],
                   default="occupation")
    t.add_argument("--property", default="preferredLabel")
    t.add_argument("--lang", default="he")
    t.add_argument("--dry-run", action="store_true")
    t.add_argument("--limit", type=int, default=20)
    t.add_argument("--json", action="store_true")
    t.add_argument(
        "--model-dir",
        help="local model cache to verify before translating "
        "(HuggingFace hub layout; see esco_neo4j_spark/model_cache.py)",
    )
    t.set_defaults(fn=cmd_translate)

    q = sub.add_parser("query", help="run a named analysis query")
    q.add_argument("name")
    q.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    q.add_argument("--limit", type=int, default=50)
    q.add_argument("--json", action="store_true")
    q.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of results",
    )
    q.set_defaults(fn=cmd_query)

    ls = sub.add_parser("list", help="list registered queries")
    ls.add_argument("--json", action="store_true")
    ls.set_defaults(fn=cmd_list)
    return p


def main(argv: list[str] | None = None) -> int:
    from esco_neo4j_spark.config import load_config
    from esco_neo4j_spark.logging_config import setup_logging

    args = build_parser().parse_args(argv)
    args._cfg = load_config(args.config, args.profile)
    logger = setup_logging(
        args.log_level or str(args._cfg.get("log_level") or "INFO"),
        args.log_dir,
    )
    logger.info(
        "command=%s profile=%s", args.cmd, args._cfg.get("profile")
    )
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
