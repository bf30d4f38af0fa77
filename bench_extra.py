#!/usr/bin/env python
"""Round-7 optimization side-bench (bench.py itself is FROZEN for
measurement — this file exists so optimization work can isolate
queries without touching the driver's timing contract).

Modes:
  --queries [names...]  time each named registry query with the noop
                        sink (guide 1.4: computes every column, no
                        .count() subtree pruning), best-of-N reps.
  --pipeline            time the kg_pipeline phases (stage write /
                        extract+link+dedup) separately at
                        $SPARK_GRAFT_SF_DIR's derived pages corpus.

Prints one JSON line; stamps loadavg like bench.py so drifted-host
sessions are visible in the record.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _prov() -> dict:
    try:
        la = os.getloadavg()
    except OSError:
        la = (None, None, None)
    return {"loadavg": [round(x, 2) if x is not None else None
                        for x in la],
            "wallclock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime())}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def queries_run(names: list[str], reps: int) -> dict:
    from project_discord_knowledge_graph_spark import entry_queries as EQ
    from project_discord_knowledge_graph_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench-extra", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        timings = {}
        for name in names:
            fn, _sql = EQ.QUERIES[name]
            spark.sparkContext.setJobDescription(f"noop:{name}")
            best = None
            for _ in range(reps):
                t0 = time.perf_counter()
                noop(fn(spark, sf_dir))
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
            spark.sparkContext.setJobDescription(None)
        return {"metric": "noop_queries", "unit": "sec", "sf": sf_dir,
                "cores": cores, "reps": reps,
                "value": round(sum(timings.values()), 3),
                "queries": timings, **_prov()}
    finally:
        spark.stop()


def pipeline_run(reps: int) -> dict:
    import shutil

    from bench import ensure_pages
    from project_discord_knowledge_graph_spark.operators.extract import (
        extract_triples,
    )
    from project_discord_knowledge_graph_spark.operators.link import (
        link_qa,
    )
    from project_discord_knowledge_graph_spark.plans.pipeline import (
        classify_pages, triples_from_messages,
    )
    from project_discord_knowledge_graph_spark.session import get_spark
    from project_discord_knowledge_graph_spark.sources.pages import (
        read_pages,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark("bench-extra-pipe", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    stage = f"{shm}/kg_extra_stage_{os.getpid()}"
    try:
        pages_path, n_pages = ensure_pages(spark, sf_dir)
        spark.range(1000).selectExpr("sum(id)").collect()
        timings: dict[str, float] = {}

        def timed(name, fn):
            best, out = None, None
            for _ in range(reps):
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
                best = dt if best is None or dt < best else best
            timings[name] = round(best, 3)
            return out

        spark.sparkContext.setJobDescription("noop: classify stage")
        timed("classify_noop",
              lambda: noop(classify_pages(read_pages(spark, pages_path))))
        spark.sparkContext.setJobDescription("stage write")
        timed("stage_write",
              lambda: classify_pages(read_pages(spark, pages_path))
              .write.mode("overwrite").parquet(stage))
        msgs = spark.read.parquet(stage)
        spark.sparkContext.setJobDescription("extract only")
        timed("extract_noop", lambda: noop(extract_triples(msgs)))
        spark.sparkContext.setJobDescription("link only")
        timed("link_noop", lambda: noop(link_qa(msgs)))
        spark.sparkContext.setJobDescription("extract+link+dedup")
        timed("extract_link_dedup",
              lambda: triples_from_messages(msgs).count())
        spark.sparkContext.setJobDescription(None)
        return {"metric": "pipeline_phases", "unit": "sec",
                "sf": sf_dir, "cores": cores, "n_pages": n_pages,
                "reps": reps, "queries": timings, **_prov()}
    finally:
        shutil.rmtree(stage, ignore_errors=True)
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", nargs="*", default=None)
    ap.add_argument("--pipeline", action="store_true")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    if args.pipeline:
        print(json.dumps(pipeline_run(args.reps)))
    else:
        names = args.queries or [
            "kg_triples_dedup", "kg_classify_counts",
            "cmp_extract_variants", "ann_cosine_topk",
            "discord_flatten", "discord_repair_flatten",
            "kg_link_semantic", "tpch_q3_topk", "ann_lsh_topk",
            "kg_extractions_per_day"]
        print(json.dumps(queries_run(names, args.reps)))


if __name__ == "__main__":
    main()
