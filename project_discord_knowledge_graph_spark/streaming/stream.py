"""Structured Streaming surface.

The reference is batch with scheduled incremental ingest (daily cron
dispatch, AFTER_TS cursor, landing folders with completion markers —
entrypoint.sh:8-83, export.yml:3-30).  The Spark-native equivalent:

- `stream_pages` — file-source readStream over the pages directory;
  new parquet files are the arriving crawl slices.  The AFTER_TS
  cursor becomes the stream's own exactly-once file tracking.
- `streaming_triples` — the full rule path per micro-batch via
  foreachBatch (the Q&A link joins are segment-local self-joins, so
  running them inside each micro-batch reproduces the reference's
  per-export-file behavior; triples land partitioned by batch with
  idempotent overwrite).
- `hourly_type_counts` — the W4 tumbling hour window as a real
  streaming windowed aggregate with a watermark for late data.
- `session_counts` — session_window(ts, '5 minutes'): the 5-minute
  gap heuristic the reference documents but never implemented
  (README.md:41-45; preprocessor.py:188's unused
  max_time_gap_minutes) — here it exists for real.

Trigger.AvailableNow covers the reference's cron-batch cadence:
process everything that has landed, checkpoint, stop.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.classify import with_type
from ..plans.pipeline import (
    build_triples, classify_pages, hand_off, release_handoff,
    triples_from_messages,
)
from ..sources.pages import pages_to_messages
from ..sources.synth import PAGES_SCHEMA


def stream_pages(spark: SparkSession, path: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return reader.parquet(path)


def streaming_triples(pages_stream: DataFrame, out_path: str,
                      checkpoint: str, available_now: bool = True):
    """pages stream -> triples table, exactly-once per micro-batch.
    Each batch's messages handoff is released right after its write."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        (build_triples(batch_df)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite").partitionBy("batch_id")
         .parquet(out_path))
        release_handoff(spark)

    writer = (pages_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_discord_exports(spark: SparkSession, path: str,
                           max_files_per_trigger: int | None = None
                           ) -> DataFrame:
    """S1 as a stream: channel-export JSON files landing in a folder
    (the reference's daily export drop, entrypoint.sh:8-83) become a
    file-source stream with the explicit export schema — each arriving
    file is one channel export, flattened to preprocessed messages."""
    from ..sources.discord_export import EXPORT_SCHEMA, export_to_messages
    reader = spark.readStream.schema(EXPORT_SCHEMA) \
        .option("multiLine", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    return export_to_messages(reader.json(path))


def streaming_export_triples(messages_stream: DataFrame, out_path: str,
                             checkpoint: str,
                             available_now: bool = True,
                             cross_batch_dedup: bool = False):
    """Flattened export-message stream -> triples, exactly-once per
    micro-batch (classify + extract + link + dedup inside
    foreachBatch, same composition and handoff as the pages path; the
    handoff is released right after the batch's write).

    Dedup scope contract:

    - default (cross_batch_dedup=False): the reference's A8 keep-first
      dedup applies WITHIN each micro-batch — one export file = one
      batch = one dedup scope, the reference's own per-export-run
      behavior.  A triple re-extracted in a later batch lands again.
    - cross_batch_dedup=True: A8 extended across the stream as a
      MERGE-style sink — each batch's triples anti-join on the
      normalized (s,p,o) dedup key (nodes.py:660) against the keys
      already in the sink, then APPEND.  Keep-first becomes
      arrival-order-first across batches (the A8 priority order still
      breaks ties within a batch).  The same anti-join makes a
      REPLAYED batch idempotent: rows a failed attempt already landed
      are filtered on retry, so at-least-once foreachBatch delivery
      still yields exactly-once sink contents.

      Scale shape: only the key column is read back from the sink
      (parquet column pruning), distinct'd, and hash-joined; on a
      100 TB deployment this sink is an Iceberg table keyed/bucketed
      by _key and the anti-join+append pair collapses into
      MERGE INTO ... WHEN NOT MATCHED THEN INSERT with bucket
      pruning (sources/catalog.py carries the table DDL shape).

      MEASURED growth (bench.py --merge-sink, BENCH.md round 5): the
      per-batch anti-join term is linear in sink keys at ~0.15 us per
      key — +0.76 s/batch at a 5M-key sink vs a ~1.9 s fixed batch
      cost; flat (ratio 0.90) over 50 batches at export cadence.  To
      ~10M keys the parquet fallback is fine; beyond that use the
      Iceberg MERGE shape (probe cost O(batch keys) via bucket
      pruning) or streaming_extraction_dedup's bounded state when
      duplicate lag is bounded.
    """
    from ..operators.dedup import dedup_key

    def _sink_files(spark: SparkSession) -> int:
        """Committed data files in the sink, via the Hadoop FS API —
        an explicit existence probe instead of a broad
        except-AnalysisException around the read, which would equally
        swallow a REAL analysis error (e.g. a sink previously written
        by the per-batch mode, whose rows carry no _key) and silently
        disable dedup for the rest of the stream."""
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(out_path)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(path):
            return 0
        glob = jvm.org.apache.hadoop.fs.Path(
            out_path + "/batch_id=*/*.parquet")
        return len(fs.globStatus(glob) or [])

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        triples = triples_from_messages(hand_off(with_type(batch_df)))
        mode = "overwrite"
        if cross_batch_dedup:
            mode = "append"
            key = dedup_key(F.col("subject"), F.col("predicate"),
                            F.col("object"))
            triples = triples.withColumn("_key", key)
            if _sink_files(spark) > 0:
                sink = spark.read.parquet(out_path)
                if "_key" not in sink.columns:
                    raise ValueError(
                        f"cross-batch dedup sink {out_path!r} exists "
                        "but has no _key column — it was written by a "
                        "different mode (per-batch dedup?); refusing "
                        "to append silently-undeduped batches")
                triples = triples.join(sink.select("_key").distinct(),
                                       "_key", "left_anti")
        (triples.withColumn("batch_id", F.lit(batch_id))
         .write.mode(mode).partitionBy("batch_id")
         .parquet(out_path))
        release_handoff(spark)

    writer = (messages_stream.writeStream
              .foreachBatch(process)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_extraction_dedup(messages_stream: DataFrame,
                               watermark: str = "24 hours"
                               ) -> DataFrame:
    """Cross-batch dedup with BOUNDED state, fully Spark-native: the
    narrow extraction path (classify + E1-E8 — no joins) runs
    directly on the stream, then `dropDuplicatesWithinWatermark` on
    the normalized (s,p,o) dedup key keeps the FIRST arrival of each
    key and drops re-extractions landing within the watermark window.

    The third point on the streaming-dedup trade-off line:
    - per-batch (`streaming_export_triples` default): no cross-batch
      state at all — the reference's per-export-run scope;
    - MERGE sink (`cross_batch_dedup=True`): exact unbounded dedup,
      cost = an anti-join against the sink's key column per batch;
    - this operator: native state store bounded by EVENT TIME — a
      duplicate later than the watermark can land again, but state
      never grows beyond the window (the right contract when
      re-exports arrive within a bounded lag, e.g. daily re-drops
      of the trailing day's channel export).

    Contract fine print (inherent to watermark semantics — pick the
    MERGE sink when any of these bites):
    - The deduped KEY SET is exact within the watermark, but when one
      micro-batch holds several rows of the same key, WHICH row
      survives is engine-arbitrary (dropDuplicatesWithinWatermark has
      no ordering) — so the survivor's provenance fields
      (message_id, timestamp, confidence) are not run-deterministic,
      unlike the MERGE sink whose per-batch aggregate_triples pins
      ties by (stage_priority, message_id, ...).
    - A whole FILE arriving with event times older than the advanced
      watermark is dropped entirely (new triples included), exactly
      like late rows against any watermarked aggregate.
    - Triples whose message timestamp does not parse carry no event
      time; they cannot enter the watermarked dedup (no event time to
      bound state with) and are quarantined rather than silently
      discarded.  The quarantined branch gets its own keyed dedup via
      plain `dropDuplicates` — duplicates of an unparseable-stamp
      triple collapse to one row, within AND across batches — whose
      state is UNBOUNDED by construction (no event time to expire
      on); that is safe because it holds one entry per distinct
      malformed-stamp key, a malformed-input surface, not the corpus.
      Survivor choice within a batch is engine-arbitrary, same as the
      main branch.

    Link joins (J1/J2) are excluded by construction: they need the
    cross-batch question state that `stateful_link_qa` carries.
    Output rows keep an `event_ts` column (the parsed message
    timestamp; NULL on the quarantined branch).
    """
    from ..operators.dedup import dedup_key
    from ..operators.extract import extract_triples

    msgs = with_type(messages_stream)
    triples = extract_triples(msgs)
    key = dedup_key(F.col("subject"), F.col("predicate"),
                    F.col("object"))
    stamped = (triples
               .withColumn("_key", key)
               .withColumn("event_ts",
                           F.try_to_timestamp(F.regexp_replace(
                               "timestamp", "Z$", "+00:00"))))
    deduped = (stamped
               .where(F.col("event_ts").isNotNull())
               .withWatermark("event_ts", watermark)
               .dropDuplicatesWithinWatermark(["_key"]))
    quarantined = (stamped
                   .where(F.col("event_ts").isNull())
                   .dropDuplicates(["_key"]))
    return deduped.unionByName(quarantined).drop("_key")


def hourly_type_counts(pages_stream: DataFrame,
                       watermark: str = "2 hours") -> DataFrame:
    """W4 hour buckets as a streaming windowed aggregate: counts of
    classified message types per tumbling hour of warc_ts."""
    return (classify_pages(pages_stream)
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", "1 hour").alias("hour"), "type")
            .agg(F.count("*").alias("n"))
            .select(F.col("hour.start").alias("hour_start"), "type", "n"))


def session_counts(pages_stream: DataFrame, gap: str = "5 minutes",
                   watermark: str = "2 hours") -> DataFrame:
    """The reference's documented-but-unimplemented 5-minute-gap
    segmentation, as a real session_window aggregate per author."""
    msgs = pages_to_messages(pages_stream)
    return (msgs
            .withWatermark("warc_ts", watermark)
            .groupBy(F.session_window("warc_ts", gap).alias("sess"),
                     "author")
            .agg(F.count("*").alias("n_messages"))
            .select("author", F.col("sess.start").alias("session_start"),
                    F.col("sess.end").alias("session_end"), "n_messages"))


STATEFUL_LINK_SCHEMA = ("subject string, predicate string, "
                        "object string, message_id string, "
                        "segment_id string, confidence double")
# ONE state schema for both semantic modes: q_vecs is always carried
# (empty arrays when semantic=False).  A mode-dependent schema would
# make flipping `semantic` against an existing checkpoint fail with
# an opaque state-deserialization error; with the stable schema the
# flip restarts cleanly — questions registered while semantic=False
# simply have no vector and never link semantically.
_LINK_STATE_SCHEMA = ("q_ids array<string>, q_authors array<string>, "
                      "q_ts array<string>, q_vecs array<array<double>>")


def _round6_half_up(x: float) -> float:
    """Match Spark's F.round(col, 6) on DOUBLE bit-for-bit: Spark
    rounds BigDecimal.valueOf(d) (Double.toString — the shortest
    round-tripping decimal, same as Python repr) HALF_UP; Python's
    builtin round() is banker's and can differ on exact .5 digits."""
    import decimal
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP))


def _cosine_seqfold(a, b) -> float:
    """Cosine with SEQUENTIAL left-fold accumulation — the exact
    arithmetic of operators/ann.py cosine_expr (F.aggregate is a left
    fold), so a streaming-emitted sim is bit-identical to the batch
    join's.  numpy dot uses pairwise/SIMD summation whose last-ulp
    difference could flip a round-to-6 at the threshold boundary."""
    import math
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        x = float(x)
        y = float(y)
        dot = dot + x * y
        na = na + x * x
        nb = nb + y * y
    denom = math.sqrt(na) * math.sqrt(nb)
    if denom == 0.0:
        return float("nan")
    return dot / denom


def stateful_link_qa(messages: DataFrame,
                     time_window_minutes: int = 10,
                     max_open_hours: float = 24.0,
                     semantic: bool = False,
                     sim_threshold: float | None = None) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): CROSS-batch
    Q->A linking — J1 reply links (confidence 0.95,
    extractor.py:441-463) AND J2 mention links (confidence 0.80,
    10-minute window with no lower bound, extractor.py:465-492).

    The foreachBatch path links only within one micro-batch (the
    reference's per-export-file behavior); this operator carries the
    set of OPEN QUESTIONS per segment — (id, author, timestamp) — as
    stream state, so a question landing in one export file links to
    replies/mentions landing in later files — the incremental
    semantics a continuously-ingesting deployment needs.  Within a
    batch all questions register before answers scan (both reference
    joins are order-independent set semantics); across batches the
    inherent streaming asymmetry remains: an answer arriving BEFORE
    its question's file cannot link (the batch path's
    no-lower-bound quirk needs both rows present at once).

    State is bounded by EVENT time, pruned in user code: a question
    older than max_open_hours behind the segment's max seen timestamp
    is dropped.  (GroupStateTimeout.ProcessingTimeTimeout is NOT
    used: in this PySpark build the timeout protocol crashes the
    Python worker — reproduced with the doc example — and event-time
    pruning is the semantically right bound anyway: replies arrive
    within the conversation's own clock, not the cluster's.)

    Input: flattened messages with (segment_id, message_id, type,
    author, mentions, reply_to, timestamp — normalized ISO string,
    lexicographically time-ordered).

    semantic=True additionally carries each open question's
    PRECOMPUTED embedding (`vec` column, array<double> — embed once
    upstream, the same production shape link_by_similarity requires)
    in state and emits J3 semantic links: an answer links to an open
    question when 0 <= (a_ts - q_ts) <= window AND
    round(cosine, 6) > sim_threshold — the IDENTICAL admission
    predicate as the batch `_semantic_window_sim` (sequential-fold
    cosine, HALF_UP round BEFORE the threshold test), so within one
    batch the streaming and batch J3 link sets are equal.  Confidence
    is the rounded cosine.  Questions with a NULL/empty vec register
    for J1/J2 but never link semantically (stored as empty vectors).
    State cost: one dim-length double array per open question —
    bounded by the same event-time prune as the id/author arrays.

    The state schema is the SAME for both modes (q_vecs always
    present, empty when semantic=False), so the `semantic` flag can
    be flipped against an existing checkpoint: the stream restarts
    cleanly, and questions registered while semantic was off carry
    no vector (they keep linking by reply/mention only) — tested in
    tests/test_streaming.py::test_semantic_flag_flip_keeps_checkpoint.
    """
    from collections.abc import Iterator

    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    from .. import config as C

    if sim_threshold is None:
        sim_threshold = C.QA_SIMILARITY_THRESHOLD
    if semantic and "vec" not in messages.columns:
        raise ValueError(
            "stateful_link_qa(semantic=True) requires a precomputed "
            "'vec' column (array<double>): embed each message once "
            "upstream, don't re-embed inside the linker")

    def _parse(ts: str):
        """Parse to an ALWAYS-offset-aware datetime: naive stamps are
        taken as UTC, exactly what the batch join's cast-to-
        timestamp_ltz does under the pinned-UTC session — so a corpus
        mixing naive and offset-bearing stamps compares identically
        here and in batch (previously a mixed compare raised
        TypeError and silently dropped the link)."""
        import datetime as dt
        try:
            d = dt.datetime.fromisoformat(ts)
        except (ValueError, TypeError):
            return None
        if d.tzinfo is None:
            d = d.replace(tzinfo=dt.timezone.utc)
        return d

    def link(key, pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
        import datetime as dt
        cols = ["subject", "predicate", "object", "message_id",
                "segment_id", "confidence"]
        if state.exists:
            st = state.get
        else:
            st = ([], [], [], [])
        q_ids, q_authors, q_ts = st[0], st[1], st[2]
        # always 4 fields: Spark's state-schema compatibility check
        # rejects a pre-q_vecs checkpoint at restart before user code
        # runs, so no in-code migration path exists (or is needed)
        q_vecs = st[3] if st[3] is not None else [[]] * len(q_ids)
        open_qs = {i: (a, t, v) for i, a, t, v
                   in zip(q_ids, q_authors, q_ts, q_vecs)}
        out = []

        def _mx(cur, t):
            d = _parse(t)
            if d is None:
                return cur
            # _parse always returns offset-aware -> max() cannot raise
            return d if cur is None else max(cur, d)

        mx_dt = None
        for t in q_ts:
            mx_dt = _mx(mx_dt, t)
        # the group's batch slice arrives as MULTIPLE Arrow chunks in
        # arbitrary order — concat before scanning, or an answer chunk
        # preceding its question's chunk would miss the link
        chunks = [c for c in pdfs if len(c)]
        empty_cols = ["segment_id", "message_id", "type", "author",
                      "mentions", "reply_to", "timestamp"]
        if semantic:
            empty_cols.append("vec")
        batch = (pd.concat(chunks) if chunks
                 else pd.DataFrame(columns=empty_cols))
        batch = batch.sort_values(["timestamp", "message_id"])

        def _vec_of(r):
            if not semantic:
                return []
            v = r.vec
            return [] if v is None or len(v) == 0 else [float(x)
                                                        for x in v]

        # phase 1: register every question of the batch (reference
        # joins are set-semantic — an answer may precede its question
        # inside one export file)
        for r in batch[batch["type"] == "question"].itertuples():
            ts = r.timestamp or ""
            open_qs[r.message_id] = ((r.author or "").lower(), ts,
                                     _vec_of(r))
        # phase 2: scan answers against the full open-question set
        by_author: dict[str, list] = {}
        for qid, (qa, qt, _qv) in open_qs.items():
            by_author.setdefault(qa, []).append((qid, qt))
        for r in batch.itertuples():
            ts = r.timestamp or ""
            mx_dt = _mx(mx_dt, ts)
            if r.type != "answer":
                continue
            if r.reply_to and r.reply_to in open_qs:
                out.append((r.reply_to, "answered_by", r.message_id,
                            f"{r.reply_to}_reply_{r.message_id}",
                            key[0], 0.95))
            a_dt = _parse(ts)
            for m in (r.mentions if r.mentions is not None else []):
                for qid, qt in by_author.get((m or "").lower(), []):
                    q_dt = _parse(qt)
                    # J2 window: only the upper bound, faithfully
                    # (extractor.py:480).  Pure timedelta compare —
                    # exact to the microsecond, no float rounding at
                    # the window boundary (the batch join uses exact
                    # integer unix_micros).
                    if a_dt is None or q_dt is None:
                        continue
                    if (a_dt - q_dt) <= dt.timedelta(
                            minutes=time_window_minutes):
                        out.append((qid, "answered_by", r.message_id,
                                    f"{qid}_mention_{r.message_id}",
                                    key[0], 0.80))
            if not semantic or a_dt is None:
                continue
            av = _vec_of(r)
            if not av:
                continue
            for qid, (_qa, qt, qv) in open_qs.items():
                # J3's window has BOTH bounds (answer strictly not
                # before the question), unlike J2's missing lower
                # bound — mirror _semantic_window_sim exactly
                if not qv or len(qv) != len(av):
                    continue
                q_dt = _parse(qt)
                if q_dt is None:
                    continue
                delta = a_dt - q_dt
                if delta < dt.timedelta(0) or delta > dt.timedelta(
                        minutes=time_window_minutes):
                    continue
                raw = _cosine_seqfold(qv, av)
                if raw != raw:  # NaN (zero-norm vector): no link,
                    continue    # same as the batch join's NULL sim
                sim = _round6_half_up(raw)
                if sim > sim_threshold:
                    out.append((qid, "answered_by", r.message_id,
                                f"{qid}_semantic_{r.message_id}",
                                key[0], sim))
        # event-time prune on PARSED datetimes — string compare would
        # misorder 'T'-separated cutoffs against space-separated input
        # stamps ('2024-01-09 18:00' < '2024-01-09T12:00' at char 10).
        # Unparseable stamps are kept: they carry no event time to
        # judge, and quarantined-timestamp questions must stay
        # linkable by reply id.
        cut_dt = None
        if mx_dt is not None:
            cut_dt = mx_dt - dt.timedelta(hours=max_open_hours)

        def _keep(t: str) -> bool:
            if cut_dt is None:
                return True
            d = _parse(t)
            return True if d is None else d >= cut_dt

        open_qs = {i: v for i, v in open_qs.items() if _keep(v[1])}
        state.update((list(open_qs.keys()),
                      [a for a, _, _ in open_qs.values()],
                      [t for _, t, _ in open_qs.values()],
                      [v if v else [] for _, _, v in open_qs.values()]))
        yield pd.DataFrame(out, columns=cols)

    in_cols = ["segment_id", "message_id", "type", "author",
               "mentions", "reply_to", "timestamp"]
    if semantic:
        in_cols.append("vec")
    return (messages
            .select(*in_cols)
            .groupBy("segment_id")
            .applyInPandasWithState(
                link, STATEFUL_LINK_SCHEMA, _LINK_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def run_available_now(stream_df: DataFrame, out_path: str,
                      checkpoint: str, output_mode: str = "append"):
    """Drain everything currently landed into a parquet sink."""
    return (stream_df.writeStream
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out_path)
            .start())
