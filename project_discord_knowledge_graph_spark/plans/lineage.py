"""Per-partition lineage + checkpoint-resumable runs.

BASELINE.json: "support checkpoint-resumable runs writing
per-partition lineage rows (url-range, warc_ts watermark, triple
counts, stage timings) to a metrics table".  The schema is modeled on
the reference's SQLite `llm_calls` recorder
(llm_powered/llm_call_recorder.py:180-228) reduced to the
partition-progress fields.

Unit of work: a url-hash bucket (deterministic `pmod(xxhash64(url),
n_buckets)`), the engine's "url-range".  All pending buckets of one
pass land in ONE wide write (`partitionBy(bucket)` + dynamic partition
overwrite -> idempotent re-runs), then one lineage row per bucket is
appended.  Resume = anti-join completed buckets from the lineage
table — a crashed run re-processes only unfinished buckets, and
re-running a finished bucket replaces its output in place
(MERGE-equivalent under the bucket key).  Job count is O(1) in
n_buckets (see run_resumable).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

LINEAGE_SCHEMA = StructType([
    StructField("run_id", StringType(), False),
    StructField("stage", StringType(), False),
    StructField("bucket", LongType(), False),
    StructField("url_range_start", StringType(), True),
    StructField("url_range_end", StringType(), True),
    StructField("warc_ts_watermark", TimestampType(), True),
    StructField("rows_in", LongType(), True),
    StructField("triples_out", LongType(), True),
    StructField("duration_ms", LongType(), True),
    StructField("status", StringType(), False),
    StructField("created_at", TimestampType(), False),
])


def bucket_expr(url_col: str = "url", n_buckets: int = 16):
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets))


def completed_buckets(spark: SparkSession, lineage_path: str,
                      stage: str) -> set[int]:
    try:
        lin = spark.read.parquet(lineage_path)
    except Exception:
        return set()
    rows = (lin.where((F.col("stage") == stage)
                      & (F.col("status") == "completed"))
            .select("bucket").distinct().collect())
    return {r.bucket for r in rows}


def _append_lineage(spark: SparkSession, lineage_path: str,
                    rows: dict | list[dict]) -> None:
    import datetime as dt
    if isinstance(rows, dict):
        rows = [rows]
    now = dt.datetime.now(dt.timezone.utc)
    tuples = []
    for row in rows:
        full = {f.name: row.get(f.name) for f in LINEAGE_SCHEMA.fields}
        full["created_at"] = now
        tuples.append(tuple(full[f.name] for f in LINEAGE_SCHEMA.fields))
    spark.createDataFrame(tuples, LINEAGE_SCHEMA) \
        .write.mode("append").parquet(lineage_path)


def run_resumable(spark: SparkSession, pages_path: str, out_path: str,
                  lineage_path: str, n_buckets: int = 8,
                  run_id: str | None = None,
                  max_buckets: int | None = None) -> dict:
    """Checkpoint-resumable extraction run.

    Two lineage stages:
    1. `messages` — ALL pending url-hash buckets land in ONE Spark
       write job (`partitionBy(bucket)` + dynamic partition overwrite,
       so finished buckets from earlier runs are untouched and re-runs
       replace in place).  Per-bucket lineage rows (url range,
       watermark, row counts) come from two small aggregation jobs:
       a column-pruned groupBy over the input pages (url + warc_ts
       only — no html decode) and a count groupBy over the staged
       output.  Job count is O(1) in the number of buckets — at 100 TB
       with thousands of url-ranges a per-bucket driver loop would
       serialize the cluster; one wide write keeps every executor
       busy.  All rows of one pass share the pass's wall-clock in
       `duration_ms` (documented: the unit of timing is the pass, the
       unit of *resume* is the bucket).  NOTE the bucket key is the
       url hash, which splits Q/A threads across buckets — that is
       exactly why linking is NOT per-bucket:
    2. `aggregate` — once all buckets are complete, one global stage
       reads the staged messages and runs extraction + Q&A link joins
       + dedup/validation (segment-locality preserved), overwriting
       `<out>/triples`.  Cheap relative to stage 1; recomputed on
       resume, idempotent (full overwrite).

    `max_buckets` caps stage-1 buckets this invocation — the knob for
    finer failure granularity (a crashed pass redoes only its own
    buckets; tests use it to simulate a crash).  Returns a summary
    dict incl. the run_id (stage-1 jobs run in job group
    `kg_stage1_<run_id>` so callers/tests can audit the job count).
    """
    from .pipeline import classify_pages, release_handoff, \
        triples_from_messages

    release_handoff(spark)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    run_id = run_id or uuid.uuid4().hex[:12]
    msg_path = f"{out_path}/messages"
    triples_path = f"{out_path}/triples"

    done = completed_buckets(spark, lineage_path, "messages")
    todo = [b for b in range(n_buckets) if b not in done]
    if max_buckets is not None:
        todo = todo[:max_buckets]

    if todo:
        sc = spark.sparkContext
        sc.setJobGroup(f"kg_stage1_{run_id}",
                       f"messages stage, buckets {todo}")
        try:
            t0 = time.perf_counter()
            pages = spark.read.parquet(pages_path) \
                .withColumn("_bucket", bucket_expr("url", n_buckets))
            part = pages.where(F.col("_bucket").isin(todo))

            # job 1: per-bucket input stats — url + warc_ts pruned scan
            in_stats = {
                r.b: r for r in
                part.groupBy(F.col("_bucket").alias("b")).agg(
                    F.count("*").alias("rows_in"),
                    F.min("url").alias("url_min"),
                    F.max("url").alias("url_max"),
                    F.max("warc_ts").alias("wm")).collect()}

            # job 2: the expensive narrow stage for every pending
            # bucket at once (html decode + clean + classify)
            msgs = classify_pages(part.drop("_bucket")) \
                .withColumn("bucket", bucket_expr("url", n_buckets))
            msgs.write.mode("overwrite").partitionBy("bucket") \
                .parquet(msg_path)

            # job 3: per-bucket output counts from the staged parquet
            out_counts = {
                r.bucket: r.n for r in
                spark.read.parquet(msg_path)
                     .where(F.col("bucket").isin(todo))
                     .groupBy("bucket").agg(F.count("*").alias("n"))
                     .collect()}
            dur = int((time.perf_counter() - t0) * 1000)
        finally:
            sc.setJobGroup("", "")

        _append_lineage(spark, lineage_path, [{
            "run_id": run_id, "stage": "messages", "bucket": b,
            "url_range_start": in_stats[b].url_min if b in in_stats
            else None,
            "url_range_end": in_stats[b].url_max if b in in_stats
            else None,
            "warc_ts_watermark": in_stats[b].wm if b in in_stats
            else None,
            "rows_in": in_stats[b].rows_in if b in in_stats else 0,
            "triples_out": out_counts.get(b, 0),
            "duration_ms": dur,
            "status": "completed",
        } for b in todo])

    remaining = n_buckets - len(completed_buckets(spark, lineage_path,
                                                  "messages"))
    if remaining > 0:
        return {"run_id": run_id, "processed": len(todo),
                "skipped": len(done), "triples_out": 0,
                "pending_buckets": remaining}

    t0 = time.perf_counter()
    lin = spark.read.parquet(lineage_path)
    # latest row per bucket (max_by created_at), not max(triples_out):
    # a re-run bucket that legitimately shrank must report the fresh
    # count, not the stale larger one.
    rows_in = (lin.where((F.col("stage") == "messages")
                         & (F.col("status") == "completed"))
               .groupBy("bucket")
               .agg(F.max_by("triples_out", "created_at").alias("n"))
               .agg(F.sum("n")).first()[0])
    triples = triples_from_messages(spark.read.parquet(msg_path))
    # count via observe on the write itself — no post-write re-read job
    triples, obs = observe_counts(triples, f"agg_rows_{run_id}")
    triples.write.mode("overwrite").parquet(triples_path)
    n_triples = int(obs.get["rows"])
    _append_lineage(spark, lineage_path, {
        "run_id": run_id, "stage": "aggregate", "bucket": -1,
        "rows_in": int(rows_in or 0), "triples_out": n_triples,
        "duration_ms": int((time.perf_counter() - t0) * 1000),
        "status": "completed",
    })
    return {"run_id": run_id, "processed": len(todo),
            "skipped": len(done), "triples_out": n_triples,
            "pending_buckets": 0}


def observe_counts(df: DataFrame, name: str):
    """Attach an Observation measuring row counts for a stage — the
    P6-style error side-count (nodes.py:71-77) without a second scan.
    Returns (df, observation); read observation.get after an action.
    """
    from pyspark.sql import Observation
    obs = Observation(name)
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
