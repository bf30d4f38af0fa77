#!/usr/bin/env python
"""Benchmark harness.

Default mode: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line: {"metric", "value" (total sec), "unit": "sec",
"queries": {name: sec}, "sf", plus triples/sec and corpus sizes}.

--scaling mode: run the identical job at two parallelism levels
(local[8] and local[32], shuffle partitions scaled with cores) on the
same input and report throughput at both plus scaling efficiency
(T_8 / T_32) / 4 — the sandbox stand-in for the north rule's N vs 4N
executor criterion (no real cluster here).  Writes BENCH.md.

The headline job is the full KG rule path (html text extraction ->
classify -> extract -> link -> dedup -> validate) over a deterministic
synthetic pages corpus sized at 40x the documents table (sf0.1 ->
200k pages), cached as parquet under /tmp/kg_bench.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR_DEFAULT = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAGES_CACHE = "/tmp/kg_bench"


def _prov() -> dict:
    """Machine-recorded run provenance: this host shows phantom-load
    windows (loadavg 20+ with idle vmstat) that invalidate timings;
    stamping loadavg + wall-clock into every artifact makes the noise
    attribution part of the record instead of a hand-carried note."""
    try:
        la = os.getloadavg()
    except OSError:
        la = (None, None, None)
    return {"loadavg": [round(x, 2) if x is not None else None
                        for x in la],
            "wallclock_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                           time.gmtime())}


def _pages_count(sf_dir: str) -> int:
    # 40x the documents table: sf0.1 -> 200_000 pages (enough real
    # work that per-task overhead amortizes and throughput reflects
    # steady state, still ~15s at 32 cores)
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'").fetchone()[0]
    return max(int(n) * 40, 2000)


def ensure_pages(spark, sf_dir: str, n: int | None = None) -> tuple[str, int]:
    n = n or int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "0")) \
        or _pages_count(sf_dir)
    path = f"{PAGES_CACHE}/pages_{n}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        from project_discord_knowledge_graph_spark.sources.synth_dist import (
            write_pages_dist,
        )
        write_pages_dist(spark, path, n=n, seed=42, partitions=128)
    return path, n


def ensure_exports(n: int, seed: int = 42, per_file: int = 2000) -> str:
    """Deterministic Discord-channel-export JSON corpus (the
    reference's actual front-door input): n messages from the same
    generator as the pages corpus, chunked into export documents of
    per_file messages each.  Driver-side generation is fine here —
    this is cached bench scaffolding, not an engine path."""
    path = f"{PAGES_CACHE}/exports_{n}_s{seed}_f{per_file}"
    marker = f"{path}/_DONE"
    if os.path.exists(marker):
        return path
    from project_discord_knowledge_graph_spark.sources.synth import (
        gen_messages,
    )
    os.makedirs(path, exist_ok=True)
    msgs = gen_messages(n, seed=seed)

    def export_msg(m):
        em = {"id": m["message_id"],
              "timestamp": m["timestamp"].isoformat(),
              "content": m["content"],
              "author": {"id": m["author"], "name": m["author"]}}
        if m["mentions"]:
            em["mentions"] = [{"id": None, "name": x}
                              for x in m["mentions"]]
        if m["reply_to"]:
            em["reference"] = {"messageId": m["reply_to"]}
        if m["thread"]:
            em["thread"] = {"name": m["thread"]}
        return em

    for fi, start in enumerate(range(0, len(msgs), per_file)):
        chunk = msgs[start:start + per_file]
        doc = {"guild": {"id": "g1", "name": "bench"},
               "channel": {"id": f"c{fi}", "name": chunk[0]["channel"]},
               "messages": [export_msg(m) for m in chunk]}
        with open(f"{path}/export_{fi:05d}.json", "w") as f:
            json.dump(doc, f)
    with open(marker, "w") as f:
        f.write(str(len(msgs)))
    return path


def run_queries(spark, sf_dir: str, pages_path: str) -> dict:
    from project_discord_knowledge_graph_spark import entry_queries as EQ
    from project_discord_knowledge_graph_spark.plans.pipeline import (
        build_triples_from_path,
    )

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    def timed(name, fn, reps: int = 2):
        # best-of-N: report steady-state (the 100 TB-relevant number);
        # cold JVM/worker effects are absorbed by the warmup + rep 1
        best, out = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        timings[name] = round(best, 3)
        return out

    # warmup: absorb JVM/codegen startup and Python UDF worker spawn
    # (steady-state throughput is the metric that projects to a real
    # cluster; worker spawn is a per-executor one-time cost there)
    spark.range(1000).selectExpr("sum(id)").collect()
    from project_discord_knowledge_graph_spark.sources.synth import (
        write_pages,
    )
    warm_path = f"{PAGES_CACHE}/pages_warmup_2000"
    if not os.path.exists(f"{warm_path}/_SUCCESS"):
        write_pages(spark, warm_path, n=2000, seed=7, partitions=64)
    build_triples_from_path(spark, warm_path).count()
    build_triples_from_path(spark, warm_path).count()

    import shutil

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"

    def pipeline_once():
        # /dev/shm staging: locally the disk is the one resource that
        # does NOT scale with cores; tmpfs emulates the per-executor
        # fast storage a real cluster brings
        stage = f"{shm}/kg_bench_stage_{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        n = build_triples_from_path(spark, pages_path,
                                    stage_dir=stage).count()
        shutil.rmtree(stage, ignore_errors=True)
        return n

    if os.environ.get("SPARK_GRAFT_BENCH_PIPELINE_ONLY"):
        # scaling mode: time the pipeline's two phases separately
        # (classified-messages materialization; extract+link+dedup) —
        # same job, but per-phase best-of-N timing is robust against
        # this host's noisy-neighbor variance.
        from project_discord_knowledge_graph_spark.plans.pipeline import (
            classify_pages, triples_from_messages,
        )
        from project_discord_knowledge_graph_spark.sources.pages import (
            read_pages,
        )
        stage = f"{shm}/kg_stage_{os.getpid()}"
        timed("kg_stage_write",
              lambda: classify_pages(read_pages(spark, pages_path))
              .write.mode("overwrite").parquet(stage))
        msgs = spark.read.parquet(stage)
        extras["triples"] = timed(
            "kg_extract_link_dedup",
            lambda: triples_from_messages(msgs).count())
        timings["kg_pipeline"] = round(
            timings["kg_stage_write"] + timings["kg_extract_link_dedup"], 3)
        shutil.rmtree(stage, ignore_errors=True)
        return {"queries": timings, **extras}

    extras["triples"] = timed("kg_pipeline", pipeline_once)

    # the reference's actual entry path: channel-export JSON -> flatten
    # -> classify -> extract -> link -> dedup (same downstream DAG)
    from project_discord_knowledge_graph_spark.plans.pipeline import (
        build_triples_from_export,
    )
    n_export = int(os.environ.get("SPARK_GRAFT_BENCH_EXPORT_MSGS",
                                  "50000"))
    export_path = ensure_exports(n_export)
    extras["export_triples"] = timed(
        "kg_pipeline_export",
        lambda: build_triples_from_export(
            spark, f"{export_path}/*.json").count())
    extras["export_msgs"] = n_export

    for name in ("kg_triples_dedup", "kg_link_replies", "kg_link_mentions",
                 "kg_link_semantic", "kg_classify_counts",
                 "kg_classify_zero_shot", "tpch_q1_pricing",
                 "tpch_q3_topk", "win_session_counts",
                 "agg_hourly_events", "dedup_exact",
                 "dedup_minhash_signatures", "ann_cosine_topk",
                 "text_metrics", "graph_components",
                 "cmp_extract_variants", "kg_prune_candidates",
                 "discord_flatten", "discord_repair_flatten",
                 "ann_lsh_topk", "scalar_ts_normalize",
                 "llm_daily_cost", "kg_extractions_per_day"):
        fn, _sql = EQ.QUERIES[name]
        timed(name, lambda fn=fn: fn(spark, sf_dir).count())

    return {"queries": timings, **extras}


def single_run(cores: int, sf_dir: str) -> dict:
    from project_discord_knowledge_graph_spark.session import get_spark
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(f"bench-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pages_path, n_pages = ensure_pages(spark, sf_dir)
        res = run_queries(spark, sf_dir, pages_path)
        total = round(sum(res["queries"].values()), 3)
        # north-star graph stage on the per-round record as separate
        # top-level fields — NOT inside `queries`, so the summed e2e
        # `value` stays comparable across rounds
        graph = {}
        if not os.environ.get("SPARK_GRAFT_BENCH_PIPELINE_ONLY"):
            g = _graph_stage(spark, pages_path)
            graph = {"graph_wall_sec": g["graph_wall_sec"],
                     "graph_cc_rounds": g["cc_rounds"],
                     "graph_cc_converged": g["cc_converged"],
                     "graph_nodes": g["n_nodes"],
                     "graph_edges": g["n_edges"]}
        return {
            "metric": "kg_pipeline_e2e",
            "value": total,
            "unit": "sec",
            **_prov(),
            "sf": sf_dir,
            "cores": cores,
            "n_pages": n_pages,
            "triples": res["triples"],
            "triples_per_sec": round(
                res["triples"] / res["queries"]["kg_pipeline"], 1),
            "export_msgs": res.get("export_msgs"),
            "export_triples": res.get("export_triples"),
            "export_msgs_per_sec": round(
                res["export_msgs"] / res["queries"]["kg_pipeline_export"],
                1) if res.get("export_msgs") else None,
            **graph,
            "queries": res["queries"],
        }
    finally:
        spark.stop()


def cc_deep_run() -> dict:
    """O(log^2 n) evidence at scale: connected components over a
    pathological DEEP graph — a single chain of n nodes (diameter
    n-1, the worst case that makes plain min-label propagation take
    n rounds) — recording rounds-to-converge and wall time."""
    from pyspark.sql import functions as F

    from project_discord_knowledge_graph_spark.operators.components \
        import connected_components
    from project_discord_knowledge_graph_spark.session import get_spark

    n = int(os.environ.get("SPARK_GRAFT_CC_NODES", "1000000"))
    spark = get_spark("bench-cc", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        edges = spark.range(n - 1).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        # leg 1 — PURE alternating algorithm (threshold=0): the
        # rounds-vs-log2(n) trend this bench exists to track
        t0 = time.perf_counter()
        labels, stats = connected_components(edges, return_stats=True,
                                             local_finish_threshold=0)
        n_comp = labels.select("component").distinct().count()
        wall = round(time.perf_counter() - t0, 3)
        assert n_comp == 1 and stats["converged"], (n_comp, stats)
        # leg 2 — production default (hybrid local-finish): same
        # labels, fewer floor-bound rounds when the residual edge
        # list fits the finisher (a single chain's fixpoint is n-1
        # edges, so above the threshold the legs coincide)
        t0 = time.perf_counter()
        labels2, stats2 = connected_components(edges, return_stats=True)
        n_comp2 = labels2.select("component").distinct().count()
        wall2 = round(time.perf_counter() - t0, 3)
        assert n_comp2 == 1 and stats2["converged"], (n_comp2, stats2)
        return {"metric": "cc_deep_chain", "nodes": n,
                "rounds": stats["rounds"], "value": wall,
                "unit": "sec", "components": n_comp,
                "hybrid_wall_sec": wall2,
                "hybrid_rounds": stats2["rounds"],
                "hybrid_local_finish": stats2["local_finish"],
                "hybrid_residual_edges": stats2["residual_edges"],
                **_prov()}
    finally:
        spark.stop()


def wet_run() -> dict:
    """WET -> curation pipeline as a named bench mode: synthesize a
    Common-Crawl-style WET dump (deterministic pseudo-docs, 50 tokens
    each, with a planted 20% near-dup rate: every 5th doc is a
    one-token variant of its predecessor), write it with write_wet,
    and run the curation family over the FILES — read_wet (all-JVM
    framing + header parse) -> near_dedup (banded MinHash-LSH ->
    exact verify -> CC -> keep-min) -> text metrics + language-ID
    rollup.  Reports wall and docs/sec per stage, LSH candidate and
    verified pair counts, and the measured dup rate vs the planted
    0.20 (an end-to-end value check, not just a timing)."""
    import shutil

    from pyspark.sql import functions as F

    from project_discord_knowledge_graph_spark.functions.textmetrics \
        import (lang_guess_expr, quality_score_expr,
                word_token_count_expr)
    from project_discord_knowledge_graph_spark.operators.dataset import (
        near_dedup,
    )
    from project_discord_knowledge_graph_spark.session import get_spark
    from project_discord_knowledge_graph_spark.sources.warc import (
        read_wet, write_wet,
    )

    n = int(os.environ.get("SPARK_GRAFT_WET_DOCS", "200000"))
    cpus = int(os.environ.get("SPARK_GRAFT_WET_CPUS", "32"))
    # SPARK_GRAFT_WET_GZIP=1: write the dump gzip-compressed and
    # read through the codec (real CC dumps are gzipped; read-side
    # parallelism drops to per-file, which the 32-file layout keeps)
    gz = os.environ.get("SPARK_GRAFT_WET_GZIP", "0") == "1"
    spark = get_spark("bench-wet", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    base = f"{shm}/kg_wet_{os.getpid()}"
    try:
        # --- synthesize + write the WET dump (not timed as pipeline)
        t0 = time.perf_counter()
        is_var = (F.col("id") % 5) == 4
        base_id = F.col("id") - F.when(is_var, 1).otherwise(0)
        words = F.transform(
            F.sequence(F.lit(0), F.lit(49)),
            lambda k: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(base_id, k), F.lit(500))
                 .cast("string")))
        text = F.concat_ws(" ", words)
        text = (F.when(is_var, F.concat(text, F.lit(" xtra")))
                .otherwise(text))
        docs = (spark.range(n).select(
            F.concat(F.lit("http://wet.test/"),
                     F.col("id").cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1709251200) + F.col("id") % 86400)
             .alias("warc_ts"),
            text.alias("text"))
            .repartition(cpus))
        write_wet(docs, f"{base}/wet",
                  compression="gzip" if gz else None)
        t_gen = round(time.perf_counter() - t0, 3)

        # --- stage 1: read + frame + parse the WET files
        t0 = time.perf_counter()
        wet = read_wet(spark, f"{base}/wet").persist()
        n_read = wet.count()
        t_read = round(time.perf_counter() - t0, 3)
        assert n_read == n, (n_read, n)

        # --- stage 2: near-dup dedup
        t0 = time.perf_counter()
        dd, dstats = near_dedup(wet, text_col="text", id_col="url",
                                return_stats=True)
        n_dup = dd.where("is_dup").count()
        t_dedup = round(time.perf_counter() - t0, 3)

        # --- stage 3: text metrics + language rollup
        t0 = time.perf_counter()
        m = wet.select(
            lang_guess_expr(F.col("text")).alias("lang"),
            quality_score_expr(F.col("text")).alias("q"),
            word_token_count_expr(F.col("text")).alias("toks"))
        rollup = (m.groupBy("lang")
                  .agg(F.count("*").alias("n"),
                       F.avg("q").alias("avg_q"),
                       F.sum("toks").alias("toks")).collect())
        t_metrics = round(time.perf_counter() - t0, 3)

        wet.unpersist()
        wall = round(t_read + t_dedup + t_metrics, 3)
        return {"metric": "wet_curation_pipeline", "value": wall,
                "unit": "sec", "n_docs": n, "cores": cpus,
                "gzip": gz,
                "gen_write_sec": t_gen,
                "read_parse_sec": t_read,
                "dedup_sec": t_dedup,
                "metrics_sec": t_metrics,
                "docs_per_sec": round(n / wall, 1),
                "lsh_candidate_pairs": dstats["candidate_pairs"],
                "verified_pairs": dstats["verified_pairs"],
                "dup_rate": round(n_dup / n, 4),
                "planted_dup_rate": 0.2,
                "lang_rollup_rows": len(rollup),
                **_prov()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def streaming_run(sf_dir: str, semantic: bool = False) -> dict:
    """Streaming-surface throughput: drain the events-derived message
    corpus through the stateful cross-batch Q->A linker
    (applyInPandasWithState) with an availableNow trigger, reporting
    messages/sec and links emitted.

    semantic=True additionally carries a deterministic 16-dim vector
    per message (native hash expression — the precomputed-embedding
    production shape) and enables the J3-in-state path, measuring the
    cost of the per-answer cosine scan over open questions."""
    import shutil
    import tempfile

    from project_discord_knowledge_graph_spark.entry_queries import (
        events_messages,
    )
    from project_discord_knowledge_graph_spark.session import get_spark
    from project_discord_knowledge_graph_spark.streaming.stream import (
        run_available_now, stateful_link_qa,
    )

    # recentProgress retains only numRecentProgressUpdates entries
    # (default ~100); a drain of more micro-batches would silently
    # undercount drain time and overstate msgs/sec — raise the cap
    # well past any plausible batch count and ASSERT it wasn't hit.
    progress_cap = 10_000
    spark = get_spark("bench-stream", master="local[32]",
                      shuffle_partitions=32)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   str(progress_cap))
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="kg_stream_bench_")
    try:
        from pyspark.sql import functions as F
        msgs = events_messages(spark, sf_dir).select(
            "segment_id", "message_id", "type", "author", "mentions",
            "reply_to", "timestamp")
        if semantic:
            msgs = msgs.withColumn("vec", F.array(*[
                ((F.pmod(F.xxhash64("message_id", F.lit(j)),
                         F.lit(1000)) / F.lit(500.0)) - F.lit(1.0))
                for j in range(16)]))
        n_msgs = msgs.count()
        src = f"{d}/msgs"
        msgs.write.parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        t0 = time.perf_counter()
        q = run_available_now(
            stateful_link_qa(stream, semantic=semantic),
            f"{d}/out", f"{d}/ckpt")
        terminated = q.awaitTermination(600)
        wall = round(time.perf_counter() - t0, 3)
        # steady-state drain = sum of per-batch triggerExecution time;
        # wall minus that is checkpoint/stream setup overhead.  A
        # timed-out drain is stopped and flagged rather than reported
        # as a throughput number over a partial count.
        progress = list(q.recentProgress or [])
        assert len(progress) < progress_cap, (
            f"{len(progress)} progress entries hit the retention cap "
            f"{progress_cap}: drain_sec would undercount — raise it")
        drain = round(sum(p["durationMs"].get("triggerExecution", 0)
                          for p in progress) / 1000.0, 3)
        if not terminated:
            q.stop()
            q.awaitTermination(60)
        # a timed-out run may have committed NO micro-batch at all, in
        # which case the sink dir doesn't exist — report links=None on
        # the flagged record instead of crashing on the read
        links = (spark.read.parquet(f"{d}/out").count()
                 if os.path.isdir(f"{d}/out") else None)
        out = {"metric": "stateful_link_stream_semantic" if semantic
               else "stateful_link_stream", "value": wall,
               "unit": "sec", "sf": sf_dir, "n_msgs": n_msgs,
               "links": links, "drain_sec": drain,
               "n_batches": len(progress),
               "setup_sec": round(wall - drain, 3),
               # a timed-out drain processed only part of n_msgs —
               # n_msgs/drain would overstate throughput, so no rate
               "msgs_per_sec": round(n_msgs / drain, 1)
               if drain and terminated else None,
               **_prov()}
        if not terminated:
            out["timed_out"] = True
        return out
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


def suite_run(sf_dir: str) -> dict:
    """Run EVERY registered query once at `sf_dir` (cliff-hunting
    mode: meant for a 10x-upsampled corpus built by
    scripts/make_sf.py), recording wall, result rows, and JVM heap
    after each query — the goal is spotting a query whose cost
    explodes superlinearly when the data grows a decade, not precise
    throughput (single rep, no warm best-of-N)."""
    from project_discord_knowledge_graph_spark import entry_queries as EQ
    from project_discord_knowledge_graph_spark.session import get_spark

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    spark = get_spark("bench-suite", master="local[32]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    rt = spark._jvm.java.lang.Runtime.getRuntime()
    try:
        spark.range(1000).selectExpr("sum(id)").collect()
        results: dict[str, dict] = {}
        peak_heap = 0.0
        for name, (fn, _sql) in EQ.QUERIES.items():
            t0 = time.perf_counter()
            try:
                n_rows = fn(spark, sf_dir).count()
                err = None
            except Exception as e:  # record the cliff, keep hunting
                n_rows = None
                err = f"{type(e).__name__}: {e}"[:300]
            dt = round(time.perf_counter() - t0, 3)
            heap_mb = round((rt.totalMemory() - rt.freeMemory())
                            / (1 << 20))
            peak_heap = max(peak_heap, heap_mb)
            results[name] = {"sec": dt, "rows": n_rows,
                             "jvm_heap_mb": heap_mb,
                             **({"err": err} if err else {})}
        total = round(sum(r["sec"] for r in results.values()), 3)
        return {"metric": "query_suite", "value": total,
                "unit": "sec", "sf": sf_dir,
                "n_queries": len(results),
                "n_failed": sum(1 for r in results.values()
                                if r.get("err")),
                "peak_jvm_heap_mb": peak_heap,
                "queries": results, **_prov()}
    finally:
        spark.stop()


def merge_sink_run(n_batches: int = 50, msgs_per_file: int = 200) -> dict:
    """Growth curve of the MERGE-style cross-batch dedup sink
    (streaming_export_triples cross_batch_dedup=True): every batch
    anti-joins against the sink's accumulated _key column, so
    per-batch cost contains an O(total sink keys) read.  This mode
    drains `n_batches` single-file micro-batches and records each
    batch's triggerExecution time so the growth (or flatness) of that
    term is a measured number, not a docstring claim."""
    import shutil
    import tempfile

    from project_discord_knowledge_graph_spark.session import get_spark
    from project_discord_knowledge_graph_spark.sources.synth import (
        gen_messages,
    )
    from project_discord_knowledge_graph_spark.streaming.stream import (
        stream_discord_exports, streaming_export_triples,
    )

    spark = get_spark("bench-merge-sink", master="local[32]",
                      shuffle_partitions=32)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   str(max(1000, n_batches * 2)))
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="kg_merge_sink_")
    try:
        # n_batches export files; ~half of each file re-uses message
        # content from the previous file so the anti-join filters a
        # realistic duplicate fraction every batch
        msgs = gen_messages(n_batches * msgs_per_file, seed=11)
        for fi in range(n_batches):
            chunk = msgs[fi * msgs_per_file:(fi + 1) * msgs_per_file]
            if fi > 0:
                prev = msgs[(fi - 1) * msgs_per_file:
                            fi * msgs_per_file]
                chunk = chunk[: msgs_per_file // 2] \
                    + prev[: msgs_per_file // 2]
            doc = {"guild": {"id": "g1", "name": "bench"},
                   "channel": {"id": f"c{fi}",
                               "name": chunk[0]["channel"]},
                   "messages": [
                       {"id": f"{m['message_id']}_f{fi}",
                        "timestamp": m["timestamp"].isoformat(),
                        "content": m["content"],
                        "author": {"id": m["author"],
                                   "name": m["author"]}}
                       for m in chunk]}
            p = f"{d}/land/export_{fi:05d}.json"
            os.makedirs(f"{d}/land", exist_ok=True)
            with open(p, "w") as f:
                json.dump(doc, f)
            os.utime(p, (1_700_000_000 + fi, 1_700_000_000 + fi))

        stream = stream_discord_exports(spark, f"{d}/land",
                                        max_files_per_trigger=1)
        t0 = time.perf_counter()
        q = streaming_export_triples(stream, f"{d}/out", f"{d}/ckpt",
                                     cross_batch_dedup=True)
        terminated = q.awaitTermination(1200)
        wall = round(time.perf_counter() - t0, 3)
        progress = list(q.recentProgress or [])
        per_batch = [round(p["durationMs"].get("triggerExecution", 0)
                           / 1000.0, 3) for p in progress]
        if not terminated:
            q.stop()
            q.awaitTermination(60)
        sink = spark.read.parquet(f"{d}/out")
        n_keys = sink.select("_key").distinct().count()
        n_rows = sink.count()

        def _mean(xs):
            return round(sum(xs) / max(len(xs), 1), 3)

        head = per_batch[2:12]   # skip the first two (stream warmup)
        tail = per_batch[-10:]

        # phase 2: the O(total sink keys) term is unmeasurable at a
        # few thousand keys — inflate the sink to multi-month
        # deployment size (5M synthetic keys, full sink schema, own
        # batch_id partition) and drain 10 MORE batches off the same
        # checkpoint; the per-batch mean delta vs phase 1 IS the
        # marginal cost of anti-joining a big sink.
        n_big = int(os.environ.get("SPARK_GRAFT_MERGE_SINK_KEYS",
                                   "5000000"))
        from pyspark.sql import functions as F
        pad = spark.range(n_big).select(
            *[F.md5(F.concat(F.lit(f"{c}:"), F.col("id").cast(
                "string"))).alias(c)
              if str(sink.schema[c].dataType) == "StringType()"
              else F.lit(0.5).cast(sink.schema[c].dataType).alias(c)
              for c in sink.columns if c != "batch_id"])
        (pad.withColumn("batch_id", F.lit(999999))
         .write.mode("append").partitionBy("batch_id")
         .parquet(f"{d}/out"))
        for fi in range(n_batches, n_batches + 10):
            chunk = msgs[(fi - n_batches) * msgs_per_file // 2:]
            chunk = chunk[:msgs_per_file]
            doc = {"guild": {"id": "g1", "name": "bench"},
                   "channel": {"id": f"c{fi}",
                               "name": chunk[0]["channel"]},
                   "messages": [
                       {"id": f"{m['message_id']}_f{fi}",
                        "timestamp": m["timestamp"].isoformat(),
                        "content": m["content"],
                        "author": {"id": m["author"],
                                   "name": m["author"]}}
                       for m in chunk]}
            p = f"{d}/land/export_{fi:05d}.json"
            with open(p, "w") as f:
                json.dump(doc, f)
            os.utime(p, (1_700_000_100 + fi, 1_700_000_100 + fi))
        stream2 = stream_discord_exports(spark, f"{d}/land",
                                         max_files_per_trigger=1)
        q2 = streaming_export_triples(stream2, f"{d}/out", f"{d}/ckpt",
                                      cross_batch_dedup=True)
        terminated2 = q2.awaitTermination(1200)
        big_batches = [round(p["durationMs"].get("triggerExecution", 0)
                             / 1000.0, 3)
                       for p in (q2.recentProgress or [])]
        if not terminated2:
            q2.stop()
            q2.awaitTermination(60)

        return {"metric": "merge_sink_growth", "value": wall,
                "unit": "sec", "n_batches": len(per_batch),
                "sink_rows": n_rows, "sink_distinct_keys": n_keys,
                "per_batch_sec": per_batch,
                "mean_batch_3_12": _mean(head),
                "mean_batch_last10": _mean(tail),
                "growth_ratio": round(
                    _mean(tail) / max(_mean(head), 1e-9), 3),
                "big_sink_keys": n_big + n_keys,
                "big_sink_per_batch_sec": big_batches,
                "mean_big_sink_batch": _mean(big_batches[1:]),
                "big_sink_marginal_sec": round(
                    _mean(big_batches[1:]) - _mean(tail), 3),
                "timed_out": not (terminated and terminated2),
                **_prov()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
        spark.stop()


def _graph_stage(spark, pages_path: str) -> dict:
    """North-star graph stage over a freshly built triple set:
    entity linking (mention universe -> MinHash-LSH blocking -> exact
    trigram re-score -> connected components) -> canonical nodes/edges
    materialized to parquet.  Returns wall time of the graph stage
    alone (triple construction reported separately), the CC rounds
    (the scale signal: ~log2 of component diameter), and sizes."""
    import shutil

    from project_discord_knowledge_graph_spark.operators.entity import (
        link_entities,
    )
    from project_discord_knowledge_graph_spark.operators.graph import (
        build_edges, build_nodes, write_graph,
    )
    from project_discord_knowledge_graph_spark.plans.pipeline import (
        build_triples_from_path,
    )

    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    base = f"{shm}/kg_bench_graph_{os.getpid()}"
    try:
        # materialize triples once (the two graph consumers — mention
        # extraction and edge rekeying — each scan them; staged
        # parquet is the production hand-off shape)
        t0 = time.perf_counter()
        build_triples_from_path(
            spark, pages_path,
            stage_dir=f"{base}/stage").write.mode(
            "overwrite").parquet(f"{base}/triples")
        triples = spark.read.parquet(f"{base}/triples")
        n_triples = triples.count()
        t_triples = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        cmap, stats = link_entities(triples, return_stats=True)
        cmap = cmap.persist()
        nodes = build_nodes(cmap)
        edges = build_edges(triples, cmap)
        write_graph(nodes, edges, f"{base}/graph")
        n_nodes = spark.read.parquet(f"{base}/graph/nodes").count()
        n_edges = spark.read.parquet(f"{base}/graph/edges").count()
        wall = round(time.perf_counter() - t0, 3)
        cmap.unpersist()
        return {"n_triples": n_triples, "triples_build_sec": t_triples,
                "graph_wall_sec": wall, "cc_rounds": stats["rounds"],
                "cc_converged": stats["converged"],
                "n_nodes": n_nodes, "n_edges": n_edges,
                "triples_per_sec": round(n_triples / wall, 1)}
    finally:
        shutil.rmtree(base, ignore_errors=True)


def graph_zipf_run() -> dict:
    """Entity linking at ADVERSARIAL entity cardinality: the default
    graph bench's mention universe collapses to ~43 canonical nodes,
    so LSH fit, candidate-pair volume, the salted head-mention
    aggregation, and CC are never stressed.  This mode builds a
    Zipf-distributed mention universe (>= 1M distinct surface
    mentions: heavy head, near-singleton tail, near-dup variant
    clusters) and drives link_entities -> build_nodes/build_edges
    over it, recording the four scale signals: LSH candidate-pair
    count, CC rounds, salted-vs-unsalted reducer balance, and wall
    per stage."""
    import shutil

    from pyspark.sql import functions as F

    from project_discord_knowledge_graph_spark.operators.entity import (
        canonicalize, extract_mentions, lsh_candidate_pairs_banded,
        salt_balance, score_pairs,
    )
    from project_discord_knowledge_graph_spark.operators.graph import (
        build_edges, build_nodes, write_graph,
    )
    from project_discord_knowledge_graph_spark.session import get_spark
    from project_discord_knowledge_graph_spark.sources.synth_dist import (
        zipf_triples_df,
    )

    n_triples = int(os.environ.get("SPARK_GRAFT_ZIPF_TRIPLES",
                                   "6000000"))
    n_entities = int(os.environ.get("SPARK_GRAFT_ZIPF_ENTITIES",
                                    "2000000"))
    # SPARK_GRAFT_ZIPF_CPUS lets the N-vs-4N scaling evidence cover
    # the graph stage too (run the same corpus at local[2] and
    # local[8], same pair as the pipeline scaling legs)
    cpus = int(os.environ.get("SPARK_GRAFT_ZIPF_CPUS", "32"))
    spark = get_spark("bench-zipf", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    base = f"{shm}/kg_zipf_{os.getpid()}"
    try:
        t0 = time.perf_counter()
        zipf_triples_df(spark, n_triples, n_entities=n_entities,
                        n_authors=n_entities // 10).write.mode(
            "overwrite").parquet(f"{base}/triples")
        triples = spark.read.parquet(f"{base}/triples")
        t_gen = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        mentions = extract_mentions(triples).persist()
        n_mentions = mentions.count()
        head = mentions.agg(F.max("n_occurrences")).first()[0]
        t_mentions = round(time.perf_counter() - t0, 3)

        balance = salt_balance(triples)

        # band/row knobs exposed so the candidates-vs-density curve
        # can be re-measured under AND-amplification bumps (e.g.
        # 50x4) without code edits; defaults match production
        n_bands = int(os.environ.get("SPARK_GRAFT_ZIPF_BANDS", "20"))
        rows_pb = int(os.environ.get("SPARK_GRAFT_ZIPF_ROWS", "3"))
        t0 = time.perf_counter()
        cands, lsh_stats = lsh_candidate_pairs_banded(
            mentions, n_bands=n_bands, rows_per_band=rows_pb,
            return_stats=True)
        cands = cands.persist()
        n_cands = cands.count()
        # release the signature/bucket cache the stats pass pinned
        # (the pairs are materialized above; nothing reads it again)
        lsh_stats.pop("bucket_frame").unpersist()
        t_lsh = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        scored = score_pairs(cands, min_jaccard=0.5).persist()
        n_scored = scored.count()
        t_score = round(time.perf_counter() - t0, 3)

        # at-scale recall against GENERATOR ground truth: surfaces of
        # one entity differ only by the known decorations, so the
        # true near-dup families are recoverable by stripping them;
        # the exact-Jaccard verify on those family pairs is the truth
        # set (exact all-pairs is infeasible at 1e12 pairs, this is
        # exact-by-construction instead of sampled)
        # candidate-bases, not a single strip: a canonical base-36
        # name can itself end in 's', so "strip one trailing s" would
        # split that family and undercount truth (same ambiguity the
        # pytest bases() helper handles) — map each surface to EVERY
        # plausible base and join on any shared one
        stripped = F.regexp_replace(F.col("mention"), "^the ", "")
        fam = mentions.select(
            "mention",
            F.explode(F.array_distinct(F.array(
                stripped,
                F.regexp_replace(stripped, "-inc$", ""),
                F.regexp_replace(stripped, "s$", ""))))
            .alias("_base"))
        fpairs = (fam.alias("a").join(fam.alias("b"), "_base")
                  .where(F.col("a.mention") < F.col("b.mention"))
                  .select(F.col("a.mention").alias("mention_a"),
                          F.col("b.mention").alias("mention_b"))
                  .distinct())
        truth = score_pairs(fpairs, min_jaccard=0.5).persist()
        n_truth = truth.count()
        n_found = truth.join(scored, ["mention_a", "mention_b"],
                             "left_semi").count()
        truth.unpersist()
        recall = round(n_found / max(n_truth, 1), 4)

        t0 = time.perf_counter()
        cmap, stats = canonicalize(mentions, scored,
                                   return_stats=True)
        cmap = cmap.persist()
        n_canon = cmap.select("canonical_id").distinct().count()
        t_cc = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        nodes = build_nodes(cmap)
        edges = build_edges(triples, cmap)
        write_graph(nodes, edges, f"{base}/graph")
        n_nodes = spark.read.parquet(f"{base}/graph/nodes").count()
        n_edges = spark.read.parquet(f"{base}/graph/edges").count()
        t_mat = round(time.perf_counter() - t0, 3)

        wall = round(t_mentions + t_lsh + t_score + t_cc + t_mat, 3)
        for df in (mentions, cands, scored, cmap):
            df.unpersist()
        return {"metric": "kg_graph_zipf", "value": wall,
                "unit": "sec", "cores": cpus,
                "n_triples": n_triples,
                "n_entities_universe": n_entities,
                "n_distinct_mentions": n_mentions,
                "head_mention_occurrences": head,
                "lsh_candidate_pairs": n_cands,
                "lsh_bands": n_bands, "lsh_rows_per_band": rows_pb,
                "lsh_bucket_stats": lsh_stats,
                "scored_pairs": n_scored,
                "truth_pairs": n_truth,
                "recall_vs_generator_truth": recall,
                "cc_rounds": stats["rounds"],
                "cc_converged": stats["converged"],
                "n_canonical_entities": n_canon,
                "n_nodes": n_nodes, "n_edges": n_edges,
                "salt_balance": balance,
                "gen_sec": t_gen, "mentions_sec": t_mentions,
                "lsh_sec": t_lsh, "score_sec": t_score,
                "cc_sec": t_cc, "materialize_sec": t_mat,
                "triples_per_sec": round(n_triples / wall, 1),
                **_prov()}
    finally:
        shutil.rmtree(base, ignore_errors=True)
        spark.stop()


def graph_run(sf_dir: str) -> dict:
    from project_discord_knowledge_graph_spark.session import get_spark

    spark = get_spark("bench-graph", master="local[32]",
                      shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pages_path, n_pages = ensure_pages(spark, sf_dir)
        g = _graph_stage(spark, pages_path)
        return {"metric": "kg_graph_materialize",
                "value": g["graph_wall_sec"], "unit": "sec",
                "sf": sf_dir, "n_pages": n_pages, **g, **_prov()}
    finally:
        spark.stop()


def scaling_run(sf_dir: str, reps: int = 1) -> dict:
    """Run bench at N and 4N cores in fresh subprocesses (fresh JVMs);
    N defaults to SPARK_GRAFT_SCALING_N=2.

    The scaling corpus is larger (SPARK_GRAFT_SCALING_PAGES, default
    2,000,000 pages) so the job saturates the small-N run — efficiency
    on an overhead-bound toy job would measure the constant, not the
    scaling.

    With reps > 1 the legs run INTERLEAVED (N, 4N, N, 4N, ...) and the
    report adds the two noise-robust estimators this host demands
    (documented ±31% per-leg phantom-load variance): the median of the
    per-rep ratios and the best-leg pairing (fastest N leg over
    fastest 4N leg — each leg's least noise-contaminated sample).
    `value` is then the MEDIAN of the per-rep ratios (best-leg is
    reported alongside but can exceed 1.0 when noise lands in an N
    leg, which would make a dishonest headline); every raw leg is
    reported so nothing is cherry-picked silently."""
    n_pages = int(os.environ.get("SPARK_GRAFT_SCALING_PAGES", "2000000"))
    # pre-generate the corpus at full parallelism so the small-N run
    # doesn't pay generation cost
    from project_discord_knowledge_graph_spark.session import get_spark
    prep = get_spark("bench-prep", master="local[32]",
                     shuffle_partitions=32)
    prep.sparkContext.setLogLevel("ERROR")
    try:
        ensure_pages(prep, sf_dir, n=n_pages)
    finally:
        prep.stop()

    n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "2"))
    n_big = 4 * n_small
    legs: dict[int, list[dict]] = {n_small: [], n_big: []}
    for _rep in range(max(reps, 1)):
        for cores in (n_small, n_big):
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores),
                       SPARK_GRAFT_SF_DIR=sf_dir,
                       SPARK_GRAFT_BENCH_PAGES=str(n_pages),
                       SPARK_GRAFT_BENCH_PIPELINE_ONLY="1")
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--json-only"],
                env=env, capture_output=True, text=True, check=True)
            legs[cores].append(
                json.loads(proc.stdout.strip().splitlines()[-1]))

    t_ns = [r["queries"]["kg_pipeline"] for r in legs[n_small]]
    t_4ns = [r["queries"]["kg_pipeline"] for r in legs[n_big]]
    per_rep = [round((a / b) / 4, 3) for a, b in zip(t_ns, t_4ns)]
    med = sorted(per_rep)[len(per_rep) // 2] if len(per_rep) % 2 \
        else round(sum(sorted(per_rep)[len(per_rep) // 2 - 1:
                                       len(per_rep) // 2 + 1]) / 2, 3)
    best_leg = round((min(t_ns) / min(t_4ns)) / 4, 3)
    # `runs` (and hence the generated per-phase table), t_n/4n_sec,
    # and throughput all come from the SAME best leg per side, so
    # every number in the report is mutually consistent; the raw
    # legs are all in t_n_all/t_4n_all
    out = {n_small: legs[n_small][t_ns.index(min(t_ns))],
           n_big: legs[n_big][t_4ns.index(min(t_4ns))]}
    n_triples = out[n_small]["triples"]
    report = {
        "metric": f"scaling_efficiency_{n_small}_to_{n_big}",
        "value": med if reps > 1 else per_rep[0],
        "unit": "ratio",
        "sf": sf_dir,
        "n_small": n_small,
        "n_big": n_big,
        "throughput_n": round(n_triples / min(t_ns), 1),
        "throughput_4n": round(n_triples / min(t_4ns), 1),
        "t_n_sec": min(t_ns),
        "t_4n_sec": min(t_4ns),
        "reps": max(reps, 1),
        "t_n_all": t_ns,
        "t_4n_all": t_4ns,
        "per_rep_efficiency": per_rep,
        "median_efficiency": med,
        "best_leg_efficiency": best_leg,
        "runs": out,
        **_prov(),
    }
    _write_bench_md(report)
    return report


def _write_bench_md(r: dict) -> None:
    ns, nb = r["n_small"], r["n_big"]
    lines = [
        "# BENCH — measured numbers (this engine)",
        "",
        "The north rule's N -> 4N executor scaling criterion is evidenced",
        "by running the identical KG pipeline job at two local parallelism",
        "levels on the same input (no real cluster in this sandbox).",
        f"N = local[{ns}] vs 4N = local[{nb}], shuffle partitions scaled",
        "with cores, per-phase best-of-2 timing (this host shows heavy",
        "noisy-neighbor variance; single-shot timings are unreliable).",
        "",
        "| parallelism | kg_pipeline sec | triples/sec |",
        "|---|---|---|",
        f"| local[{ns}] | {r['t_n_sec']} | {r['throughput_n']} |",
        f"| local[{nb}] | {r['t_4n_sec']} | {r['throughput_4n']} |",
        "",
        f"**Scaling efficiency (T_N / T_4N) / 4 = {r['value']}**"
        f" (target >= 0.8 per BASELINE.json; 1.0 = perfect linear).",
        "",
        (f"Interleaved reps: {r['reps']};"
         f" per-rep {r['per_rep_efficiency']};"
         f" median {r['median_efficiency']};"
         f" best-leg pairing {r['best_leg_efficiency']}"
         f" (raw legs: N {r['t_n_all']}, 4N {r['t_4n_all']})."
         if r.get("reps", 1) > 1 else ""),
        "",
        f"Corpus: deterministic synthetic pages table at {r['sf']}"
        f" ({r['runs'][ns]['n_pages']} pages),"
        f" {r['runs'][ns]['triples']} triples emitted.",
        "",
        "Caveat measured and documented: beyond ~8-16 JVM threads this",
        "single VM saturates memory bandwidth on codegen'd string work",
        "(a raw 32-process CPU test scales 25x while the same string",
        "workload in one JVM plateaus), so the 8->32 local ratio",
        "understates multi-node scaling, where each executor brings its",
        "own memory bus.  The N->4N pair is chosen inside the",
        "bandwidth-linear region.",
        "",
        "Reference baseline (BASELINE.md): ~100 msg/s, ~104 triples/s,",
        f"single process.  Per-phase timings at local[{nb}] (best leg,",
        "the same leg the headline table reports):",
        "",
        "| phase | sec |",
        "|---|---|",
    ]
    for q, s in r["runs"][nb]["queries"].items():
        lines.append(f"| {q} | {s} |")
    # raw last-run report goes to its own file; BENCH.md is the
    # curated document (full run history, CC rounds, export numbers)
    # and must not be clobbered by a single re-run
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_scaling_last.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--reps", type=int, default=1,
                    help="interleaved N/4N repetitions for --scaling")
    ap.add_argument("--cc", action="store_true",
                    help="deep-graph connected-components rounds bench")
    ap.add_argument("--streaming", action="store_true",
                    help="stateful cross-batch linker throughput")
    ap.add_argument("--semantic", action="store_true",
                    help="with --streaming: enable the J3-in-state "
                         "semantic path over precomputed vectors")
    ap.add_argument("--graph", action="store_true",
                    help="entity-link + nodes/edges materialize bench")
    ap.add_argument("--graph-zipf", action="store_true",
                    help="entity linking at Zipf mention cardinality "
                         "(>=1M distinct mentions)")
    ap.add_argument("--merge-sink", action="store_true",
                    help="per-batch growth curve of the cross-batch "
                         "dedup MERGE sink")
    ap.add_argument("--wet", action="store_true",
                    help="WET dump -> read_wet -> near_dedup -> "
                         "text-metrics curation pipeline bench")
    ap.add_argument("--suite", action="store_true",
                    help="run ALL registered queries once at "
                         "$SPARK_GRAFT_SF_DIR (cliff hunt)")
    ap.add_argument("--json-only", action="store_true",
                    help="suppress everything except the final JSON line")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR_DEFAULT)
    if args.cc:
        print(json.dumps(cc_deep_run()))
    elif args.wet:
        print(json.dumps(wet_run()))
    elif args.graph_zipf:
        print(json.dumps(graph_zipf_run()))
    elif args.merge_sink:
        print(json.dumps(merge_sink_run()))
    elif args.suite:
        print(json.dumps(suite_run(sf_dir)))
    elif args.graph:
        print(json.dumps(graph_run(sf_dir)))
    elif args.streaming:
        print(json.dumps(streaming_run(sf_dir,
                                       semantic=args.semantic)))
    elif args.scaling:
        print(json.dumps(scaling_run(sf_dir, reps=args.reps)))
    else:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(single_run(cores, sf_dir)))


if __name__ == "__main__":
    main()
