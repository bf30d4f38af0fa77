#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north-rule invocation):

    cd repo && zip -r /tmp/kg.zip project_discord_knowledge_graph_spark
    spark-submit --py-files /tmp/kg.zip scripts/run_pipeline.py \\
        --pages s3://bucket/pages --out s3://bucket/kg \\
        --lineage s3://bucket/kg_lineage --buckets 256 \\
        [--after-ts 2024-01-01T00:00:00] [--link-entities]

Local smoke:

    PYTHONPATH=. python scripts/run_pipeline.py \\
        --synth 5000 --pages /tmp/pages --out /tmp/kg --lineage /tmp/lin
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", default=None,
                    help="input pages table path (url, warc_ts, html, "
                         "text, lang)")
    ap.add_argument("--warc-dir", default=None,
                    help="WARC directory (Common-Crawl-native front "
                         "door; records become pages, then the same "
                         "pipeline)")
    ap.add_argument("--export-json", default=None,
                    help="Discord channel-export JSON path/glob: run "
                         "the export front door (flatten -> classify "
                         "-> extract -> link -> dedup) instead of the "
                         "resumable pages pipeline")
    ap.add_argument("--out", required=True, help="output base path")
    ap.add_argument("--lineage", default=None,
                    help="lineage/metrics table path (required with "
                         "--pages)")
    ap.add_argument("--buckets", type=int, default=64,
                    help="url-hash resume buckets")
    ap.add_argument("--after-ts", default=None,
                    help="incremental watermark (prunes the scan)")
    ap.add_argument("--repair", action="store_true",
                    help="route --export-json through the malformed-"
                         "export repair pass (bare-string roles/"
                         "mentions etc.)")
    ap.add_argument("--link-entities", action="store_true",
                    help="also run entity linking + graph materialize")
    ap.add_argument("--synth", type=int, default=0,
                    help="generate a synthetic corpus of N pages at "
                         "--pages first (local testing)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    if not args.pages and not args.export_json and not args.warc_dir:
        ap.error("one of --pages / --export-json / --warc-dir is "
                 "required")
    if args.pages and not args.lineage:
        ap.error("--lineage is required with --pages")

    from project_discord_knowledge_graph_spark.session import get_spark
    spark = get_spark("kg-pipeline", master=args.master)

    if args.warc_dir or args.export_json:
        from project_discord_knowledge_graph_spark.plans.pipeline import (
            build_triples, build_triples_from_export, release_handoff,
        )
        from project_discord_knowledge_graph_spark.sources.warc import (
            read_warc,
        )
        triples = (build_triples(read_warc(spark, args.warc_dir))
                   if args.warc_dir else
                   build_triples_from_export(spark, args.export_json,
                                             repair=args.repair))
        triples.write.mode("overwrite").parquet(f"{args.out}/triples")
        release_handoff(spark)
        print(json.dumps({
            "triples_out":
                spark.read.parquet(f"{args.out}/triples").count()}))
    else:
        if args.synth:
            from project_discord_knowledge_graph_spark.sources.synth_dist \
                import write_pages_dist
            write_pages_dist(spark, args.pages, n=args.synth)

        from project_discord_knowledge_graph_spark.plans.lineage import (
            run_resumable,
        )
        summary = run_resumable(spark, args.pages, args.out,
                                args.lineage, n_buckets=args.buckets)
        print(json.dumps(summary))

        if summary.get("pending_buckets"):
            sys.exit(3)  # crashed/partial: re-invoke to resume

    if args.link_entities:
        from project_discord_knowledge_graph_spark.operators.entity import (
            link_entities,
        )
        from project_discord_knowledge_graph_spark.operators.graph import (
            build_edges, build_nodes, write_graph,
        )
        triples = spark.read.parquet(f"{args.out}/triples")
        cmap = link_entities(triples)
        write_graph(build_nodes(cmap), build_edges(triples, cmap),
                    f"{args.out}/graph")
        print(json.dumps({
            "nodes": spark.read.parquet(f"{args.out}/graph/nodes").count(),
            "edges": spark.read.parquet(f"{args.out}/graph/edges").count(),
        }))


if __name__ == "__main__":
    main()
