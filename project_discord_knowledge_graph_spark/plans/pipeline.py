"""End-to-end KG-construction plan: pages -> triples (-> graph).

Query lifecycle, mirroring the reference's Step3 path (SURVEY.md
section 3.1) as one lazy DAG:

    scan pages (column-pruned, watermark-pruned)
      -> extract text from html        [Arrow pandas UDF]
      -> parse message fields           [native regexp]
      -> clean_text P3                  [Arrow pandas UDF]
      -> classify C1                    [native, codegen]
      -> messages handoff               [staged parquet | persist]
      -> E1-E8 triple extraction        [native, one pass, no shuffle]
      -> J1/J2 Q&A link joins           [2 hash joins on segment keys]
      -> A8 dedup + P7 validation       [1 shuffle on dedup key]
      -> triples

Shuffle budget: exactly three exchanges (two link joins + dedup).
Every front door ends in `triples_from_messages`, fed by `hand_off`
(or, in run_resumable, by a staged scan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import aggregate_triples
from ..operators.extract import extract_triples
from ..operators.link import link_qa
from ..sources.pages import pages_to_messages, read_pages

HANDOFF_VIEW = "kg_messages_handoff"  # the session's persisted handoff
# The staged handoff contract: classified messages minus the columns no
# extract/link branch reads (~20% fewer bytes, 80 -> 64 MB at 2M pages).
UNREAD_COLUMNS = ("url", "lang", "thread", "channel")


def classify_pages(pages: DataFrame) -> DataFrame:
    """pages -> classified messages (narrow stages only).

    C1 classification is fused into the parse UDF's Python pass
    (pages_to_messages(classify=True)): the merged-alternation
    classifier runs at ~11 us/row against ~26 us/row-core for the
    JVM regex cascade over this corpus — measured ~0.9 s off the
    2M-page classify stage.  Output is byte-identical to
    with_type(pages_to_messages(pages)) (pinned in test_parity)."""
    return pages_to_messages(pages, classify=True)


def release_handoff(spark: SparkSession) -> None:
    """Drop the session's persisted handoff, if any (dropping a cached
    temp view uncaches it)."""
    spark.catalog.dropTempView(HANDOFF_VIEW)


def hand_off(messages: DataFrame, stage_dir: str | None = None
             ) -> DataFrame:
    """Materialize classified messages once for the three branches of
    `triples_from_messages`: with `stage_dir`, as parquet minus
    UNREAD_COLUMNS (the production shape; at scale the Iceberg handoff
    between stages); otherwise persisted on the first action, as the
    temp view HANDOFF_VIEW (lost blocks recompute from lineage).

    The session's previous handoff is released first, so a persisted
    entry never outlives the next front-door invocation (a live one
    would serve a later invocation over the same path from cache, even
    after its files were replaced).  Callers that own the action
    release it right after with `release_handoff`."""
    spark = messages.sparkSession
    release_handoff(spark)
    if stage_dir is not None:
        messages.drop(*UNREAD_COLUMNS) \
            .write.mode("overwrite").parquet(stage_dir)
        return spark.read.parquet(stage_dir)
    messages.createTempView(HANDOFF_VIEW)
    spark.catalog.cacheTable(HANDOFF_VIEW)
    return messages


def triples_from_messages(messages: DataFrame,
                          include_semantic: bool = False,
                          embed_udf=None) -> DataFrame:
    """Classified messages -> extract (E1-E8) + Q&A link (J1/J2, J3
    with `include_semantic`) -> dedup + validate (A8/P7).  Three
    branches read `messages`: pass a handoff or a scan."""
    return aggregate_triples(extract_triples(messages),
                             link_qa(messages, include_semantic, embed_udf))


def build_triples(pages: DataFrame, include_semantic: bool = False,
                  embed_udf=None, stage_dir: str | None = None
                  ) -> DataFrame:
    """Full rule path: pages -> validated triple set.  The classified
    messages reach the extract and link branches through `hand_off`
    (staged under `stage_dir`, else persisted until the next front-door
    invocation or the caller's `release_handoff`), so the parse UDF
    runs once per page, not once per branch (five times)."""
    return triples_from_messages(
        hand_off(classify_pages(pages), stage_dir),
        include_semantic, embed_udf)


def build_triples_from_path(spark: SparkSession, path: str,
                            after_ts: str | None = None,
                            **kw) -> DataFrame:
    return build_triples(read_pages(spark, path, after_ts), **kw)


def build_triples_from_export(spark: SparkSession, path: str,
                              include_semantic: bool = False,
                              embed_udf=None,
                              repair: bool = False) -> DataFrame:
    """The reference's actual front door: Discord channel-export JSON
    -> flatten (S1/P1/P2) -> classify (C1) -> extract (E1-E8) -> Q&A
    link (J1/J2) -> dedup + validate (A8/P7).  Same downstream DAG and
    handoff as the pages path; only the source stage differs.

    `repair=True` routes through the malformed-export repair door
    (bare-string roles/mentions etc., preprocessor.py:54-65) — one
    extra Python pass; leave off for well-formed exports."""
    from ..operators.classify import with_type
    from ..sources.discord_export import (
        export_to_messages, read_discord_export,
        read_discord_export_repaired,
    )
    reader = (read_discord_export_repaired if repair
              else read_discord_export)
    messages = with_type(export_to_messages(reader(spark, path)))
    return triples_from_messages(hand_off(messages), include_semantic,
                                 embed_udf)
