"""Driver-contract query registry: Spark callables + DuckDB oracles.

Each entry implements one operator family from SURVEY.md section 2 as
an idiomatic Spark DataFrame plan, paired with an ANSI-SQL oracle that
DuckDB executes over the same parquet tables.  The driver compares
row-count + schema + order-insensitive value-hash at sf=0.01.

Determinism rules used throughout:
- every computed column aliased identically on both sides;
- doubles that aggregate floating sums are rounded (or summed as
  DECIMAL then cast) so double-addition order cannot flip the hash;
- top-k queries always carry an explicit total-order tie-break.

The KG-domain queries derive a message-shaped corpus from the
`documents` table by appending a deterministic finance marker keyed
by doc_id % 12 (covering every C1 class and extraction branch), and a
message-shaped corpus from `events` (reply_to / mentions) for the
Q&A-link joins.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import config as C
from .operators.classify import classify_expr
from .operators.dedup import dedup_key
from .operators.extract import extract_triples
from .operators.link import link_by_mentions, link_by_replies, split_qa

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str,
            key: str) -> DataFrame:
    """Scan + hash-repartition to the session's core count.

    The sf tables are single-row-group parquet files, so a bare scan
    yields ONE task and every CPU-dense narrow chain (regex classify,
    per-row JSON build, vector scoring) runs single-core until its
    first exchange (guide 2.5: unsplittable input -> repartition
    right after the read).  Hash on the table's unique key (cheap,
    deterministic, no sort-before-repartition) spreads the rows over
    defaultParallelism (core-derived, so the knob scales with the
    cluster instead of encoding local[32]).  Only per-row-heavy
    consumers use this: for shuffle-bound joins and cheap partial
    aggregations the extra exchange measures as a net loss."""
    n = spark.sparkContext.defaultParallelism
    return _t(spark, sf_dir, name).repartition(n, F.col(key))


def _barrier(cond):
    """Fuse an always-true nondeterministic guard into a filter
    predicate so the optimizer cannot push it below a _t_wide
    repartition.

    Catalyst substitutes aliases when pushing a filter through a
    projection, so a filter over an expensive derived column (e.g.
    trim() of a from_json(to_json(...)) field) gets re-planted below
    the exchange — the whole derivation then runs inside the
    single-task scan stage AND again above (guide 4.4's duplicated-
    evaluation trap, for a JVM expression).  Python UDFs dodge this
    via asNondeterministic() (functions/cleaning.py); this is the
    same barrier for native expressions.  The guard must be FUSED
    into one CASE expression: an AND-ed conjunct would be split by
    PushDownPredicates and the deterministic half pushed anyway.
    spark_partition_id() >= 0 is true for every row on every retry
    (and, unlike rand() variants, is not constant-folded away), so
    the CASE evaluates to exactly `cond` for every row."""
    return F.when(F.spark_partition_id() >= 0, cond).otherwise(F.lit(False))


# config.PY_WHITESPACE as an RE2 class (str.strip / str.isspace)
_WS_CLASS = "[" + "".join(f"\\x{{{ord(c):x}}}" for c in C.PY_WHITESPACE) + "]"


def _strip_sql(col: str) -> str:
    return f"regexp_replace({col}, '^{_WS_CLASS}+|{_WS_CLASS}+$', '', 'g')"


def _trunc_sql(col: str, n: int) -> str:
    return (f"CASE WHEN length({col}) > {n} "
            f"THEN substr({col}, 1, {n}) || '...' ELSE {col} END")


def _any_sql(col: str, patterns) -> str:
    return "(" + " OR ".join(
        f"regexp_matches({col}, '{p}')" for p in patterns) + ")"


# ---------------------------------------------------------------------------
# docs -> message corpus (deterministic markers exercise every branch)
# ---------------------------------------------------------------------------

MARKERS = [
    " what should i buy, btc or eth?",                        # question
    " alert: fomc meeting starts soon",                       # alert
    " made +15.5% profit this month",                         # performance
    " my plan is the wheel strategy on spy",                  # strategy
    " technical analysis: tqqq trend outlook",                # analysis
    " lost -3% on tsla, rough loss",                          # performance(-)
    " lol robinhood ui, btc memes?",                          # discussion
    " buying btc and eth, selling sol, bullish long today",   # strategy/signal
    " anyone know robinhood or fidelity?",                    # question
    " caution: volatility expected, watch qqq",               # alert
    "",                                                       # answer (len>50)
    " thanks for the tip yesterday, it worked",               # answer
]


def classify_case_sql(col: str = "clean_text") -> str:
    """C1 precedence as a DuckDB CASE (patterns from config — text is
    pre-lowercased so the (?i) flag is unnecessary on both engines)."""
    return f"""CASE
      WHEN regexp_matches({col}, '{C.PERFORMANCE_PATTERN}')
           AND regexp_matches({col}, '{C.RETURN_KEYWORDS}') THEN 'performance'
      WHEN {_any_sql(col, C.CLASSIFIER_ALERT_PATTERNS)} THEN 'alert'
      WHEN {_any_sql(col, C.CLASSIFIER_QUESTION_PATTERNS)} THEN 'question'
      WHEN {_any_sql(col, C.CLASSIFIER_STRATEGY_PATTERNS)} THEN 'strategy'
      WHEN {_any_sql(col, C.CLASSIFIER_ANALYSIS_PATTERNS)} THEN 'analysis'
      WHEN length({col}) > 50 AND NOT ({col} LIKE '%?') THEN 'answer'
      ELSE 'discussion' END"""


def docs_msgs_sql() -> str:
    whens = "\n".join(f"WHEN {i} THEN '{m}'" for i, m in enumerate(MARKERS))
    return f"""
    dbase AS (
      SELECT doc_id,
             CAST(doc_id AS VARCHAR) AS message_id,
             source AS author,
             source AS segment_id,
             lower(text || CASE CAST(doc_id % 12 AS INTEGER) {whens}
                           ELSE '' END) AS clean_text
      FROM documents),
    dmsgs AS (
      SELECT *, {classify_case_sql()} AS type FROM dbase)"""


def docs_messages(spark: SparkSession, sf_dir: str,
                  wide: bool = True) -> DataFrame:
    # repartitioned scan: the classify regex cascade downstream is the
    # expensive part of every consumer of this corpus — single-task it
    # measured 3.0 s at sf1.0 vs 0.6 s spread over the cores.
    # wide=False keeps the plain scan for consumers that overwrite
    # `type` (no classify in their plan) and do only cheap work per
    # row, where the exchange is a net loss.
    docs = (_t_wide(spark, sf_dir, "documents", "doc_id") if wide
            else _t(spark, sf_dir, "documents"))
    marker = F.element_at(
        F.array(*[F.lit(m) for m in MARKERS]),
        ((F.col("doc_id") % 12) + 1).cast("int"))
    df = docs.select(
        "doc_id",
        F.col("doc_id").cast("string").alias("message_id"),
        F.col("source").alias("author"),
        F.col("source").alias("segment_id"),
        F.lower(F.concat(F.col("text"), marker)).alias("clean_text"),
    )
    return df.withColumn("type", classify_expr(F.col("clean_text"))) \
             .withColumn("timestamp", F.lit(""))


def _extract_subset(spark, sf_dir, predicates: tuple[str, ...],
                    preset_type: str | None = None,
                    doc_filter=None) -> DataFrame:
    msgs = docs_messages(spark, sf_dir)
    if doc_filter is not None:
        msgs = msgs.where(doc_filter)
    if preset_type:
        msgs = msgs.withColumn("type", F.lit(preset_type))
    out = extract_triples(msgs).where(F.col("predicate").isin(*predicates))
    return out.select("subject", "predicate", "object", "message_id",
                      "confidence")


# ---------------------------------------------------------------------------
# events -> message corpus for the link joins
# ---------------------------------------------------------------------------

EVENTS_MSGS_SQL = """
    emsgs AS (
      SELECT CAST(event_id AS VARCHAR) AS message_id,
             CAST(event_id // 50 AS VARCHAR) AS segment_id,
             'u' || CAST(user_id % 7 AS VARCHAR) AS author,
             CASE event_type WHEN 'signup' THEN 'question'
                             WHEN 'click' THEN 'answer'
                             ELSE 'discussion' END AS type,
             ts,
             CASE WHEN event_type = 'click' AND event_id % 2 = 0
                  THEN CAST(event_id - 3 AS VARCHAR) END AS reply_to,
             CASE WHEN event_type = 'click'
                  THEN 'u' || CAST((user_id + 1) % 7 AS VARCHAR)
                  END AS mention
      FROM events)"""


def events_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").cast("string").alias("message_id"),
        F.expr("event_id div 50").cast("string").alias("segment_id"),
        F.concat(F.lit("u"), (F.col("user_id") % 7).cast("string"))
         .alias("author"),
        F.when(F.col("event_type") == "signup", F.lit("question"))
         .when(F.col("event_type") == "click", F.lit("answer"))
         .otherwise(F.lit("discussion")).alias("type"),
        F.col("ts").alias("warc_ts"),
        F.col("ts").cast("string").alias("timestamp"),
        F.when((F.col("event_type") == "click") & (F.col("event_id") % 2 == 0),
               (F.col("event_id") - 3).cast("string")).alias("reply_to"),
        F.when(F.col("event_type") == "click",
               F.array(F.concat(F.lit("u"),
                                ((F.col("user_id") + 1) % 7).cast("string"))))
         .otherwise(F.array().cast("array<string>")).alias("mentions"),
        F.lit("").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# KG-domain queries
# ---------------------------------------------------------------------------

def q_classify_counts(spark, sf_dir):
    return (docs_messages(spark, sf_dir)
            .groupBy("type").agg(F.count("*").alias("n")))


SQL_CLASSIFY_COUNTS = f"""
WITH {docs_msgs_sql()}
SELECT type, count(*) AS n FROM dmsgs GROUP BY type"""


def q_extract_question(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("asks_about",))


SQL_EXTRACT_QUESTION = f"""
WITH {docs_msgs_sql()},
q0 AS (
  SELECT *, {_strip_sql(f"regexp_replace(clean_text, '{C.QUESTION_TOPIC_STRIP}', '', 'g')")} AS t1
  FROM dmsgs WHERE type = 'question'),
q1 AS (SELECT *, {_trunc_sql('t1', 80)} AS t2 FROM q0)
SELECT author AS subject, 'asks_about' AS predicate,
       CASE WHEN t2 = '' THEN {_trunc_sql('clean_text', 60)} ELSE t2 END AS object,
       message_id, CAST(0.85 AS DOUBLE) AS confidence
FROM q1"""


def q_extract_alert(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("alerts",))


SQL_EXTRACT_ALERT = f"""
WITH {docs_msgs_sql()}
SELECT author AS subject, 'alerts' AS predicate,
       'all_members about ' || {_trunc_sql('clean_text', 60)} AS object,
       message_id, CAST(0.80 AS DOUBLE) AS confidence
FROM dmsgs WHERE type = 'alert'"""


def q_extract_strategy(spark, sf_dir):
    return _extract_subset(spark, sf_dir,
                           ("recommends", "discusses_strategy"))


SQL_EXTRACT_STRATEGY = f"""
WITH {docs_msgs_sql()},
s AS (SELECT * FROM dmsgs WHERE type = 'strategy')
SELECT author AS subject, 'recommends' AS predicate,
       u.h || ' strategy' AS object, message_id,
       CAST(0.85 AS DOUBLE) AS confidence
FROM s, LATERAL unnest(regexp_extract_all(clean_text,
     '{C.STRATEGY_PATTERN}', 1)) AS u(h)
UNION ALL
SELECT author AS subject, 'discusses_strategy' AS predicate,
       {_trunc_sql('clean_text', 50)} AS object, message_id,
       CAST(0.70 AS DOUBLE) AS confidence
FROM s WHERE NOT regexp_matches(clean_text, '{C.STRATEGY_PATTERN}')"""


_ASSETS_SQL = (
    "list_sort(list_distinct(list_transform("
    "list_concat(list_concat("
    f"regexp_extract_all(clean_text, '{C.ASSET_PATTERNS['crypto']}', 1), "
    f"regexp_extract_all(clean_text, '{C.ASSET_PATTERNS['etf']}', 1)), "
    f"regexp_extract_all(clean_text, '{C.ASSET_PATTERNS['stock']}', 1)), "
    "x -> upper(x))))"
)

def _action_case(a: str) -> str:
    return (f"CASE WHEN regexp_matches(clean_text, "
            f"'{C.ACTION_PATTERNS[a]}') THEN ['{a}'] ELSE [] END")


# nested list_concat of the three action cases, buy/sell/hold order
_ACTIONS_SQL = (
    f"list_concat(list_concat({_action_case('buy')}, "
    f"{_action_case('sell')}), {_action_case('hold')})"
)


def q_extract_signal(spark, sf_dir):
    return _extract_subset(
        spark, sf_dir,
        ("recommends_buy", "recommends_sell", "recommends_hold",
         "mentions_asset"),
        preset_type="signal",
        doc_filter=(F.col("doc_id") % 12) == 7)


SQL_EXTRACT_SIGNAL = f"""
WITH {docs_msgs_sql()},
sig AS (
  SELECT author, message_id, {_ASSETS_SQL} AS assets, {_ACTIONS_SQL} AS actions
  FROM dmsgs WHERE CAST(doc_id % 12 AS INTEGER) = 7)
SELECT author AS subject, 'recommends_' || v.act AS predicate,
       u.a AS object, message_id, CAST(0.80 AS DOUBLE) AS confidence
FROM sig, LATERAL unnest(assets) AS u(a), LATERAL unnest(actions) AS v(act)
WHERE length(actions) > 0
UNION ALL
SELECT author AS subject, 'mentions_asset' AS predicate,
       u.a AS object, message_id, CAST(0.60 AS DOUBLE) AS confidence
FROM sig, LATERAL unnest(assets) AS u(a)
WHERE length(actions) = 0"""


def q_extract_performance(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("reports_return",))


SQL_EXTRACT_PERFORMANCE = f"""
WITH {docs_msgs_sql()},
p AS (SELECT * FROM dmsgs
      WHERE type = 'performance'
        AND regexp_matches(clean_text, '{C.RETURN_KEYWORDS}'))
SELECT author AS subject, 'reports_return' AS predicate,
       CASE WHEN u.pct LIKE '-%' THEN u.pct || '% loss on strategy'
            ELSE '+' || u.pct || '% on strategy' END AS object,
       message_id, CAST(0.85 AS DOUBLE) AS confidence
FROM p, LATERAL unnest(regexp_extract_all(clean_text,
     '{C.PERFORMANCE_PATTERN}', 1)) AS u(pct)"""


def q_extract_analysis(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("analyzes", "provides_analysis"))


SQL_EXTRACT_ANALYSIS = f"""
WITH {docs_msgs_sql()},
an AS (SELECT *, {_ASSETS_SQL} AS assets FROM dmsgs WHERE type = 'analysis')
SELECT author AS subject, 'analyzes' AS predicate,
       u.a || ' outlook' AS object, message_id,
       CAST(0.75 AS DOUBLE) AS confidence
FROM an, LATERAL unnest(assets) AS u(a)
WHERE length(assets) > 0
UNION ALL
SELECT author AS subject, 'provides_analysis' AS predicate,
       {_trunc_sql('clean_text', 60)} AS object, message_id,
       CAST(0.70 AS DOUBLE) AS confidence
FROM an WHERE length(assets) = 0"""


def q_extract_discussion(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("discusses", "shares_opinion"))


SQL_EXTRACT_DISCUSSION = f"""
WITH {docs_msgs_sql()},
d AS (SELECT *, {_ASSETS_SQL} AS assets FROM dmsgs WHERE type = 'discussion')
SELECT author AS subject, 'discusses' AS predicate,
       lower(u.p) AS object, message_id, CAST(0.65 AS DOUBLE) AS confidence
FROM d, LATERAL unnest(regexp_extract_all(clean_text,
     '{C.PLATFORM_PATTERN}', 1)) AS u(p)
UNION ALL
SELECT author AS subject, 'shares_opinion' AS predicate,
       'on ' || u.a AS object, message_id, CAST(0.60 AS DOUBLE) AS confidence
FROM d, LATERAL unnest(assets) AS u(a)"""


def q_extract_answer(spark, sf_dir):
    return _extract_subset(spark, sf_dir, ("provides_info",))


SQL_EXTRACT_ANSWER = f"""
WITH {docs_msgs_sql()}
SELECT author AS subject, 'provides_info' AS predicate,
       {_trunc_sql('clean_text', 60)} AS object, message_id,
       CAST(0.75 AS DOUBLE) AS confidence
FROM dmsgs WHERE type = 'answer'"""


def q_triples_dedup(spark, sf_dir):
    """Full E1-E8 union + A8 keep-first dedup + P7 validation."""
    msgs = docs_messages(spark, sf_dir)
    triples = extract_triples(msgs)
    w = Window.partitionBy("_key").orderBy("message_id", "predicate",
                                           "object")
    out = (triples
           .withColumn("_key", dedup_key(F.col("subject"),
                                         F.col("predicate"),
                                         F.col("object")))
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .where(F.length("object") >= 2))
    return out.select("subject", "predicate", "object", "message_id",
                      "confidence")


# shared CTE block: the full E1-E8 UNION ALL as `allt`
SQL_EXTRACT_ALL_CTES = f"""
WITH {docs_msgs_sql()},
q0 AS (
  SELECT *, {_strip_sql(f"regexp_replace(clean_text, '{C.QUESTION_TOPIC_STRIP}', '', 'g')")} AS t1
  FROM dmsgs WHERE type = 'question'),
q1 AS (SELECT *, {_trunc_sql('t1', 80)} AS t2 FROM q0),
s AS (SELECT * FROM dmsgs WHERE type = 'strategy'),
p AS (SELECT * FROM dmsgs WHERE type = 'performance'
      AND regexp_matches(clean_text, '{C.RETURN_KEYWORDS}')),
an AS (SELECT *, {_ASSETS_SQL} AS assets FROM dmsgs WHERE type = 'analysis'),
d AS (SELECT *, {_ASSETS_SQL} AS assets FROM dmsgs WHERE type = 'discussion'),
allt AS (
  SELECT author AS subject, 'asks_about' AS predicate,
         CASE WHEN t2 = '' THEN {_trunc_sql('clean_text', 60)} ELSE t2 END AS object,
         message_id, CAST(0.85 AS DOUBLE) AS confidence FROM q1
  UNION ALL
  SELECT author, 'provides_info', {_trunc_sql('clean_text', 60)},
         message_id, CAST(0.75 AS DOUBLE) FROM dmsgs WHERE type = 'answer'
  UNION ALL
  SELECT author, 'alerts', 'all_members about ' || {_trunc_sql('clean_text', 60)},
         message_id, CAST(0.80 AS DOUBLE) FROM dmsgs WHERE type = 'alert'
  UNION ALL
  SELECT author, 'recommends', u.h || ' strategy', message_id,
         CAST(0.85 AS DOUBLE)
  FROM s, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.STRATEGY_PATTERN}', 1)) AS u(h)
  UNION ALL
  SELECT author, 'discusses_strategy', {_trunc_sql('clean_text', 50)},
         message_id, CAST(0.70 AS DOUBLE)
  FROM s WHERE NOT regexp_matches(clean_text, '{C.STRATEGY_PATTERN}')
  UNION ALL
  SELECT author, 'reports_return',
         CASE WHEN u.pct LIKE '-%' THEN u.pct || '% loss on strategy'
              ELSE '+' || u.pct || '% on strategy' END,
         message_id, CAST(0.85 AS DOUBLE)
  FROM p, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.PERFORMANCE_PATTERN}', 1)) AS u(pct)
  UNION ALL
  SELECT author, 'analyzes', u.a || ' outlook', message_id,
         CAST(0.75 AS DOUBLE)
  FROM an, LATERAL unnest(assets) AS u(a) WHERE length(assets) > 0
  UNION ALL
  SELECT author, 'provides_analysis', {_trunc_sql('clean_text', 60)},
         message_id, CAST(0.70 AS DOUBLE)
  FROM an WHERE length(assets) = 0
  UNION ALL
  SELECT author, 'discusses', lower(u.p), message_id, CAST(0.65 AS DOUBLE)
  FROM d, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.PLATFORM_PATTERN}', 1)) AS u(p)
  UNION ALL
  SELECT author, 'shares_opinion', 'on ' || u.a, message_id,
         CAST(0.60 AS DOUBLE)
  FROM d, LATERAL unnest(assets) AS u(a))"""


SQL_TRIPLES_DEDUP = SQL_EXTRACT_ALL_CTES + f"""
SELECT subject, predicate, object, message_id, confidence FROM (
  SELECT *, row_number() OVER (
    PARTITION BY {_strip_sql("lower(subject || '|' || predicate || '|' || object)")}
    ORDER BY message_id, predicate, object) AS rn
  FROM allt)
WHERE rn = 1 AND length(object) >= 2"""


def q_link_replies(spark, sf_dir):
    questions, answers = split_qa(events_messages(spark, sf_dir))
    return link_by_replies(questions, answers).select(
        "subject", "predicate", "object", "message_id", "confidence")


SQL_LINK_REPLIES = f"""
WITH {EVENTS_MSGS_SQL}
SELECT q.message_id AS subject, 'answered_by' AS predicate,
       a.message_id AS object,
       q.message_id || '_reply_' || a.message_id AS message_id,
       CAST(0.95 AS DOUBLE) AS confidence
FROM emsgs a JOIN emsgs q
  ON a.reply_to = q.message_id AND a.segment_id = q.segment_id
WHERE a.type = 'answer' AND q.type = 'question'"""


def q_link_mentions(spark, sf_dir):
    questions, answers = split_qa(events_messages(spark, sf_dir))
    return link_by_mentions(questions, answers).select(
        "subject", "predicate", "object", "message_id", "confidence")


SQL_LINK_MENTIONS = f"""
WITH {EVENTS_MSGS_SQL}
SELECT q.message_id AS subject, 'answered_by' AS predicate,
       a.message_id AS object,
       q.message_id || '_mention_' || a.message_id AS message_id,
       CAST(0.80 AS DOUBLE) AS confidence
FROM emsgs a JOIN emsgs q
  ON lower(a.mention) = q.author AND a.segment_id = q.segment_id
  AND epoch_us(a.ts) - epoch_us(q.ts) <= 600 * 1000000
WHERE a.type = 'answer' AND q.type = 'question'
  AND a.mention IS NOT NULL"""


_ZS_LABELS = ("question", "answer", "alert", "strategy", "signal",
              "performance", "analysis", "discussion")  # classifier.py:51


def q_classify_zero_shot(spark, sf_dir):
    """C2 zero-shot classifier plumbing (classifier.py:137-173),
    oracle-gated end to end with a deterministic hash 'model': the
    injected infer_fn maps text -> (label, score) from md5 hex chars
    (label set = the reference's 8 candidate labels), so DuckDB can
    reproduce the exact predictions — gating the Spark-side iterator
    UDF plumbing, the empty-text ('alert', 0.5) default
    (classifier.py:126), and the struct unpack into type/confidence.
    Scores are dyadic rationals (k * 0.25), exact in both engines."""
    import hashlib

    import pandas as pd

    from .operators.classify import classify_zero_shot

    def infer(texts: pd.Series) -> pd.DataFrame:
        h = texts.map(lambda t: hashlib.md5(t.encode()).hexdigest())
        return pd.DataFrame({
            "label": h.map(lambda x: _ZS_LABELS[ord(x[0]) % 8]),
            "score": h.map(lambda x: (ord(x[1]) % 4) * 0.25)})

    msgs = docs_messages(spark, sf_dir, wide=False).withColumn(
        "clean_text",
        F.when(F.col("doc_id") % 37 == 0, F.lit(""))
         .otherwise(F.col("clean_text")))
    out = classify_zero_shot(msgs, infer_fn=infer)
    return out.select("message_id", "type", "confidence")


_ZS_LABEL_CASE = " ".join(
    f"WHEN {i} THEN '{lbl}'" for i, lbl in enumerate(_ZS_LABELS))

# The empty-default predicate mirrors the UDF (classify.py:_predict):
# NULL text is fillna('')-defaulted and whitespace-only text is
# .str.strip()-defaulted, matching the reference's text.strip() check
# (classifier.py:126) — so the oracle defaults on NULL and
# whitespace-only too, not just t = ''.
_ZS_EMPTY = f"(t IS NULL OR regexp_replace(t, '{_WS_CLASS}', '', 'g') = '')"

SQL_CLASSIFY_ZERO_SHOT = f"""
WITH {docs_msgs_sql()},
z AS (SELECT message_id,
             CASE WHEN doc_id % 37 = 0 THEN '' ELSE clean_text END AS t
      FROM dmsgs)
SELECT message_id,
       CASE WHEN {_ZS_EMPTY} THEN 'alert'
            ELSE CASE CAST(ascii(substr(md5(t), 1, 1)) % 8 AS INTEGER)
                 {_ZS_LABEL_CASE} END
       END AS type,
       CASE WHEN {_ZS_EMPTY} THEN CAST(0.5 AS DOUBLE)
            ELSE CAST(ascii(substr(md5(t), 2, 1)) % 4 AS DOUBLE) * 0.25
       END AS confidence
FROM z"""


def q_link_semantic(spark, sf_dir):
    """J3 (extractor.py:494-543): drives link_by_similarity ITSELF
    (operators/link.py) over precomputed embeddings — each message
    joins its vector from the embeddings table (vec key = message id
    mod 500, the production 'embed once, store, join' shape), then the
    segment-blocked cosine join with the reference threshold 0.3.
    time_window_minutes=120 (the operator's knob; the reference
    default is 10) because the synthetic events corpus spans 30 days —
    at 10 min only 4 pairs survive the joint filter, too thin to gate
    the cosine semantics."""
    from .operators.link import link_by_similarity
    questions, answers = split_qa(events_messages(spark, sf_dir))
    emb = _t(spark, sf_dir, "embeddings")
    q = questions.join(
        emb.select(F.col("vec_id").alias("_vid"),
                   F.col("embedding").alias("q_vec")),
        questions.q_id.cast("long") % 500 == F.col("_vid")).drop("_vid")
    a = answers.join(
        emb.select(F.col("vec_id").alias("_vid"),
                   F.col("embedding").alias("a_vec")),
        answers.a_id.cast("long") % 500 == F.col("_vid")).drop("_vid")
    return link_by_similarity(q, a, time_window_minutes=120).select(
        "subject", "predicate", "object", "message_id", "confidence")


SQL_LINK_SEMANTIC = f"""
WITH {EVENTS_MSGS_SQL},
qv AS (SELECT m.*, CAST(e.embedding AS DOUBLE[]) AS vec FROM emsgs m
       JOIN embeddings e ON CAST(m.message_id AS BIGINT) % 500 = e.vec_id
       WHERE m.type = 'question'),
av AS (SELECT m.*, CAST(e.embedding AS DOUBLE[]) AS vec FROM emsgs m
       JOIN embeddings e ON CAST(m.message_id AS BIGINT) % 500 = e.vec_id
       WHERE m.type = 'answer'),
pairs AS (
  SELECT q.message_id AS q_id, a.message_id AS a_id,
         round(list_cosine_similarity(q.vec, a.vec), 6) AS sim
  FROM av a JOIN qv q ON a.segment_id = q.segment_id
  WHERE epoch_us(a.ts) - epoch_us(q.ts)
        BETWEEN 0 AND CAST(7200000000 AS BIGINT))
SELECT q_id AS subject, 'answered_by' AS predicate, a_id AS object,
       q_id || '_semantic_' || a_id AS message_id, sim AS confidence
FROM pairs WHERE sim > 0.3"""


# ---------------------------------------------------------------------------
# Aggregation / window / analytics queries (A/W/SO families)
# ---------------------------------------------------------------------------

def q_pred_histogram(spark, sf_dir):
    msgs = docs_messages(spark, sf_dir)
    return (extract_triples(msgs)
            .groupBy("predicate").agg(F.count("*").alias("n")))


SQL_PRED_HISTOGRAM = (
    SQL_EXTRACT_ALL_CTES
    + "\nSELECT predicate, count(*) AS n FROM allt GROUP BY predicate"
)


def _stddev_exprs(col):
    """Deterministic sample stddev from explicit sums: float summation
    order cannot perturb the result when the inputs' bit-width is
    bounded (see q_confidence_varied), and the near-zero cancellation
    case is clamped before sqrt so constant groups give exactly 0.0
    on both engines (Spark's stddev_samp / DuckDB's stddev use
    order-dependent streaming merges — unusable under a value-hash)."""
    n = F.count("*")
    sx = F.sum(col)
    sx2 = F.sum(col * col)
    var = (sx2 - sx * sx / n) / (n - 1)
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))) \
            .otherwise(F.lit(None).cast("double"))


def _sql_stddev(col: str) -> str:
    return (f"CASE WHEN count(*) > 1 THEN sqrt(greatest((sum({col} * {col})"
            f" - sum({col}) * sum({col}) / count(*)) / (count(*) - 1),"
            f" 0.0)) END")


def q_confidence_stats(spark, sf_dir):
    """A5 full stats (classifier.py:267-276 + SURVEY A5): mean,
    share>0.8, median, sample stddev per predicate."""
    msgs = docs_messages(spark, sf_dir)
    t = extract_triples(msgs)
    return t.groupBy("predicate").agg(
        F.count("*").alias("n"),
        F.round(F.avg("confidence"), 4).alias("avg_conf"),
        F.round(F.avg((F.col("confidence") > 0.8).cast("int")), 4)
         .alias("share_high"),
        F.round(F.median("confidence"), 4).alias("median_conf"),
        F.round(_stddev_exprs(F.col("confidence")), 4).alias("std_conf"))


SQL_CONFIDENCE_STATS = SQL_EXTRACT_ALL_CTES + f"""
SELECT predicate, count(*) AS n,
       round(avg(confidence), 4) AS avg_conf,
       round(avg(CASE WHEN confidence > 0.8 THEN 1 ELSE 0 END), 4)
         AS share_high,
       round(median(confidence), 4) AS median_conf,
       round({_sql_stddev('confidence')}, 4) AS std_conf
FROM allt GROUP BY predicate"""


def q_confidence_varied(spark, sf_dir):
    """A5 on a non-constant score column: score = 0.5 + (doc_id % 7)
    / 16 — every value, square, and bounded sum is exactly
    representable in binary, so mean/median/stddev are deterministic
    bit-identical doubles on both engines regardless of aggregation
    order (no rounding crutch needed for correctness; round(6) is
    belt-and-braces)."""
    msgs = docs_messages(spark, sf_dir)
    score = 0.5 + (F.col("doc_id") % 7).cast("double") * 0.0625
    t = msgs.select("type", score.alias("score"))
    return t.groupBy("type").agg(
        F.count("*").alias("n"),
        F.round(F.avg("score"), 6).alias("avg_score"),
        F.round(F.median("score"), 6).alias("median_score"),
        F.round(_stddev_exprs(F.col("score")), 6).alias("std_score"),
        F.round(F.avg((F.col("score") > 0.8).cast("int")), 6)
         .alias("share_high"))


SQL_CONFIDENCE_VARIED = f"""
WITH {docs_msgs_sql()},
scored AS (
  SELECT type, 0.5 + CAST(doc_id % 7 AS DOUBLE) * 0.0625 AS score
  FROM dmsgs)
SELECT type, count(*) AS n,
       round(avg(score), 6) AS avg_score,
       round(median(score), 6) AS median_score,
       round({_sql_stddev('score')}, 6) AS std_score,
       round(avg(CASE WHEN score > 0.8 THEN 1 ELSE 0 END), 6)
         AS share_high
FROM scored GROUP BY type"""


def q_hourly_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(
                F.date_format("ts", "yyyy-MM-dd HH:00").alias("hour"),
                "event_type")
              .agg(F.count("*").alias("n"),
                   F.round(F.sum("value"), 2).alias("total_value")))


SQL_HOURLY_EVENTS = """
SELECT strftime(ts, '%Y-%m-%d %H:00') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2"""


def q_top_users(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id").agg(F.count("*").alias("n"))
              .orderBy(F.desc("n"), "user_id").limit(10))


SQL_TOP_USERS = """
SELECT user_id, count(*) AS n FROM events
GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10"""


def q_distinct_counts(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("users"),
        F.countDistinct("event_type").alias("types"),
        F.count("*").alias("n"))


SQL_DISTINCT_COUNTS = """
SELECT count(DISTINCT user_id) AS users,
       count(DISTINCT event_type) AS types, count(*) AS n FROM events"""


def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                   F.sum(dec("l_extendedprice")).cast("double")
                    .alias("sum_base_price"),
                   F.count("*").alias("count_order"),
                   F.round(F.avg("l_discount"), 6).alias("avg_disc")))


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       count(*) AS count_order,
       round(avg(l_discount), 6) AS avg_disc
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust),
                    F.col("o_custkey") == F.col("c_custkey"))
              .where(F.col("o_orderdate") < F.lit("2000-01-01"))
              .groupBy("l_orderkey")
              .agg(F.sum(rev).cast("double").alias("revenue"))
              .orderBy(F.desc("revenue"), "l_orderkey").limit(10))


SQL_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate < TIMESTAMP '2000-01-01'
GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT 10"""


def q_top5_per_type(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    return (ev.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= 5)
              .select("event_type", "event_id", "rn"))


SQL_TOP5_PER_TYPE = """
SELECT event_type, event_id, rn FROM (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rn
  FROM events) WHERE rn <= 5"""


def q_session_counts(spark, sf_dir):
    """Session windows via gaps-and-islands (5-minute gap —
    the documented-but-unimplemented reference heuristic,
    README.md:41-45)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    um = lambda c: F.unix_micros(c.cast("timestamp_ltz"))  # noqa: E731
    gap = um(F.col("ts")) - um(F.lag("ts").over(w))
    return (ev.withColumn("new_sess",
                          (gap > 300 * 1_000_000).cast("int"))
              .groupBy("user_id")
              .agg((F.coalesce(F.sum("new_sess"), F.lit(0)) + 1)
                   .cast("long").alias("sessions"),
                   F.count("*").alias("n")))


SQL_SESSION_COUNTS = """
SELECT user_id,
       CAST(coalesce(sum(new_sess), 0) + 1 AS BIGINT) AS sessions,
       count(*) AS n
FROM (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - epoch_us(
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              > 300 * 1000000 THEN 1 ELSE 0 END AS new_sess
  FROM events)
GROUP BY user_id"""


def q_json_props(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
              .agg(F.sum(F.get_json_object("props", "$.k").cast("long"))
                   .alias("sum_k"),
                   F.count("*").alias("n")))


SQL_JSON_PROPS = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type"""


# ---------------------------------------------------------------------------
# Corpus-curation queries: dedup family / ANN / text analytics
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from .operators.dataset import exact_dedup
    # plain scan: the md5-fingerprint agg is cheap enough that the
    # extra exchange measured as a small net loss at sf1.0
    return exact_dedup(_t(spark, sf_dir, "documents"))


SQL_DEDUP_EXACT = r"""
SELECT substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16)
         AS fingerprint,
       min(doc_id) AS keep_id,
       CAST(count(*) - 1 AS BIGINT) AS n_dups
FROM documents GROUP BY 1"""


def q_dedup_minhash(spark, sf_dir):
    from .operators.dataset import minhash_signatures
    docs = _t_wide(spark, sf_dir, "documents",
                   "doc_id").where(F.col("doc_id") < 500)
    return minhash_signatures(docs)


SQL_DEDUP_MINHASH = """
SELECT doc_id,
       min(md5('a' || sub)) AS mh_a, min(md5('b' || sub)) AS mh_b,
       min(md5('c' || sub)) AS mh_c, min(md5('d' || sub)) AS mh_d
FROM (
  SELECT doc_id, substr(text, t.i, 8) AS sub
  FROM documents,
       LATERAL unnest(generate_series(1, greatest(length(text) - 7, 1)))
         AS t(i)
  WHERE doc_id < 500)
GROUP BY doc_id"""


def q_dedup_simhash(spark, sf_dir):
    from .operators.dataset import simhash
    docs = _t_wide(spark, sf_dir, "documents",
                   "doc_id").where(F.col("doc_id") < 500)
    return simhash(docs)


def _sql_simhash(bits: int = 16) -> str:
    sums = ", ".join(
        f"CASE WHEN sum(2 * (ascii(substr(md5(w), {j + 1}, 1)) % 2) - 1)"
        f" > 0 THEN '1' ELSE '0' END AS b{j}" for j in range(bits))
    cat = " || ".join(f"b{j}" for j in range(bits))
    return rf"""
SELECT doc_id, {cat} AS simhash FROM (
  SELECT doc_id, {sums}
  FROM (SELECT doc_id, u.w
        FROM documents,
             LATERAL unnest(string_split_regex(trim(text), '\s+')) AS u(w)
        WHERE doc_id < 500)
  GROUP BY doc_id)"""


SQL_DEDUP_SIMHASH = _sql_simhash()


def q_dedup_ngram_jaccard(spark, sf_dir):
    # unigram (word-set) Jaccard: the synthetic docs are word salad
    # over a shared vocabulary, so 1-grams give informative overlap
    # values; the operator itself supports any n.
    from .operators.dataset import ngram_jaccard_pairs
    docs = _t(spark, sf_dir, "documents")
    left = docs.where(F.col("doc_id") < 10)
    right = docs.where(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(left, right, n_words=1, min_jaccard=0.3)


SQL_DEDUP_NGRAM_JACCARD = r"""
WITH ng AS (
  SELECT doc_id,
         list_distinct(string_split_regex(trim(text), '\s+')) AS g
  FROM documents WHERE doc_id < 200)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
             / len(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
FROM ng a, ng b
WHERE a.doc_id < 10 AND a.doc_id <> b.doc_id
  AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      / len(list_distinct(list_concat(a.g, b.g))) >= 0.3"""


def q_ann_cosine_topk(spark, sf_dir):
    from .operators.ann import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _t_wide(spark, sf_dir, "embeddings", "vec_id")
    return cosine_topk(emb.where(F.col("vec_id") < 10), corpus, k=3)


SQL_ANN_COSINE_TOPK = """
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(
             CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])),
             6) DESC, c.vec_id) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id)
WHERE rank <= 3"""


def _sql_bucket_expr(n_planes: int = 8, dim: int = 64,
                     vec: str = "embedding") -> str:
    """DuckDB replica of operators.ann.with_lsh_bucket: the plane
    components are plan-build-time constants shared by both engines;
    the per-plane dot is a sequential-order inner product on both
    sides, so the sign (and hence the bucket bitstring) matches."""
    from .operators.ann import plane_components
    parts = []
    for row in plane_components(n_planes, dim):
        lit = "[" + ", ".join(f"{x:.1f}" for x in row) + "]"
        parts.append(
            f"CASE WHEN list_inner_product(CAST({vec} AS DOUBLE[]),"
            f" {lit}) > 0 THEN '1' ELSE '0' END")
    return " || ".join(parts)


def q_embed_flatten(spark, sf_dir):
    """P10 embed flatten (ingestion/streamlit_app.py:28-78): one row
    per embed, dynamic embed fields as a map column — projected here
    to a sorted key=value CSV so the value-hash is map-order-proof.
    Embeds are synthesized deterministically per document (2 / 1 / 0
    embeds by doc_id % 3, covering null fields and empty arrays)."""
    from .functions.embeds import flatten_embeds
    docs = _t(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    null_s = F.lit(None).cast("string")
    embed_a = F.struct(
        F.concat(F.lit("T"), sid).alias("title"),
        F.concat(F.lit("http://e/"), sid).alias("url"),
        F.lit("d").alias("description"),
        F.lit("#ff0000").alias("color"),
        F.array(F.struct(F.lit("sym").alias("name"),
                         F.lit("BTC").alias("value")),
                F.struct(F.lit("px").alias("name"),
                         sid.alias("value"))).alias("fields"),
        F.lit("f").alias("footer"))
    embed_b = F.struct(
        F.concat(F.lit("T2"), sid).alias("title"),
        null_s.alias("url"), null_s.alias("description"),
        null_s.alias("color"),
        F.lit(None).cast(
            "array<struct<name:string,value:string>>").alias("fields"),
        null_s.alias("footer"))
    embed_c = F.struct(
        F.concat(F.lit("solo"), sid).alias("title"),
        null_s.alias("url"), null_s.alias("description"),
        null_s.alias("color"),
        F.array().cast(
            "array<struct<name:string,value:string>>").alias("fields"),
        null_s.alias("footer"))
    m3 = (F.col("doc_id") % 3).cast("int")
    msgs = docs.select(
        sid.alias("message_id"),
        F.when(m3 == 0, F.array(embed_a, embed_b))
         .when(m3 == 1, F.array(embed_c))
         .otherwise(F.expr(
             "CAST(array() AS array<struct<title:string,url:string,"
             "description:string,color:string,fields:array<struct<"
             "name:string,value:string>>,footer:string>>)"))
         .alias("embeds"))
    flat = flatten_embeds(msgs)
    fields_csv = F.concat_ws(";", F.transform(
        F.sort_array(F.map_entries(F.col("fields"))),
        lambda e: F.concat(e["key"], F.lit("="), e["value"])))
    return flat.select("message_id", "title", "url", "description",
                       "color", "footer", fields_csv.alias("fields_csv"))


SQL_EMBED_FLATTEN = """
SELECT CAST(doc_id AS VARCHAR) AS message_id,
       'T' || CAST(doc_id AS VARCHAR) AS title,
       'http://e/' || CAST(doc_id AS VARCHAR) AS url,
       'd' AS description, '#ff0000' AS color, 'f' AS footer,
       'px=' || CAST(doc_id AS VARCHAR) || ';sym=BTC' AS fields_csv
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'T2' || CAST(doc_id AS VARCHAR),
       NULL, NULL, NULL, NULL, ''
FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 'solo' || CAST(doc_id AS VARCHAR),
       NULL, NULL, NULL, NULL, ''
FROM documents WHERE doc_id % 3 = 1"""


def q_lsh_buckets(spark, sf_dir):
    """Hyperplane-LSH bucket assignment — the blocking key of the
    scale ANN path, oracle-checked bit for bit."""
    from .operators.ann import with_lsh_bucket
    emb = _t_wide(spark, sf_dir, "embeddings", "vec_id")
    return (with_lsh_bucket(emb, n_planes=8, dim=64)
            .select("vec_id", "bucket"))


SQL_LSH_BUCKETS = f"""
SELECT vec_id, {_sql_bucket_expr(8, 64)} AS bucket FROM embeddings"""


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (coarse-quantize to centroid cells,
    probe nprobe cells, exact re-rank) — assignment, probing, and
    re-rank are all SQL-expressible, so the oracle checks every
    stage.  Deterministic centroids = corpus vectors with id <
    n_cells (production plugs trained k-means centroids)."""
    from .operators.ann import ivf_topk
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _t_wide(spark, sf_dir, "embeddings", "vec_id")
    return ivf_topk(emb.where(F.col("vec_id") < 10), corpus, k=3,
                    n_cells=16, nprobe=4)


SQL_IVF_TOPK = """
WITH corp AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv FROM corp WHERE vec_id < 16),
asg AS (
  SELECT vec_id AS neighbor_id, cell, v FROM (
    SELECT c.vec_id, ce.cell, c.v,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.v, ce.cv), 6)
                      DESC, ce.cell) AS rn
    FROM corp c, cent ce) WHERE rn = 1),
probes AS (
  SELECT query_id, cell, v FROM (
    SELECT q.vec_id AS query_id, ce.cell, q.v,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.v, ce.cv), 6)
                      DESC, ce.cell) AS rn
    FROM corp q, cent ce WHERE q.vec_id < 10) WHERE rn <= 4)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT p.query_id, a.neighbor_id,
         round(list_cosine_similarity(p.v, a.v), 6) AS sim,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY round(list_cosine_similarity(p.v, a.v), 6) DESC,
                    a.neighbor_id) AS rank
  FROM probes p JOIN asg a ON p.cell = a.cell
  WHERE p.query_id <> a.neighbor_id)
WHERE rank <= 3"""


def q_lsh_topk(spark, sf_dir):
    """Bucketed approximate top-k (equi-join on the LSH signature +
    exact cosine re-rank) — the whole scale path is SQL-expressible,
    so the oracle checks candidates, scores, and ranks."""
    from .operators.ann import lsh_topk
    emb = _t(spark, sf_dir, "embeddings")
    corpus = _t_wide(spark, sf_dir, "embeddings", "vec_id")
    return lsh_topk(emb.where(F.col("vec_id") < 10), corpus, k=3,
                    n_planes=6, dim=64)


SQL_LSH_TOPK = f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_sql_bucket_expr(6, 64)} AS bucket
  FROM embeddings)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, sim FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(q.v, c.v), 6) AS sim,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                    c.vec_id) AS rank
  FROM b q JOIN b c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < 10)
WHERE rank <= 3"""


def q_text_metrics(spark, sf_dir):
    from .functions.textmetrics import (
        fingerprint_expr, lang_guess_expr, quality_score_expr,
        token_count_expr, word_token_count_expr,
    )
    docs = _t_wide(spark, sf_dir, "documents", "doc_id")
    return docs.select(
        "doc_id",
        lang_guess_expr(F.col("text")).alias("lang_guess"),
        token_count_expr(F.col("text")).alias("n_tokens"),
        word_token_count_expr(F.col("text")).alias("n_word_tokens"),
        quality_score_expr(F.col("text")).alias("quality"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def _sql_text_metrics() -> str:
    from .functions.textmetrics import LANG_ORDER, STOPWORDS
    hits = {lang: f"len(regexp_extract_all(text, '{pat}', 1))"
            for lang, pat in STOPWORDS.items()}
    best = f"greatest({', '.join(hits[lg] for lg in LANG_ORDER)})"
    guess = "'und'"
    for lang in reversed(LANG_ORDER):
        guess = (f"CASE WHEN {hits[lang]} = {best} AND {best} > 0 "
                 f"THEN '{lang}' ELSE {guess} END")
    toks = (r"CASE WHEN length(trim(text)) = 0 THEN 0 "
            r"ELSE len(string_split_regex(trim(text), '\s+')) END")
    wtoks = r"len(regexp_extract_all(text, '([a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9])', 1))"
    punct = (r"CASE WHEN length(text) = 0 THEN 0.0 ELSE "
             r"CAST(length(text) - length(regexp_replace(text, '[^\w\s]',"
             r" '', 'g')) AS DOUBLE) / length(text) END")
    len_score = (f"CASE WHEN {toks} < 5 THEN 0.0 WHEN {toks} < 20 THEN 0.5 "
                 f"WHEN {toks} <= 2000 THEN 1.0 ELSE 0.7 END")
    stop_score = f"CASE WHEN {hits['en']} > 0 THEN 1.0 ELSE 0.5 END"
    punct_score = (f"CASE WHEN {punct} > 0.3 THEN 0.0 "
                   f"WHEN {punct} > 0.1 THEN 0.5 ELSE 1.0 END")
    return rf"""
SELECT doc_id,
       {guess} AS lang_guess,
       CAST({toks} AS INTEGER) AS n_tokens,
       CAST({wtoks} AS INTEGER) AS n_word_tokens,
       round(CAST(0.5 * {len_score} + 0.25 * {stop_score}
             + 0.25 * {punct_score} AS DOUBLE), 4) AS quality,
       substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
              1, 16) AS fingerprint
FROM documents"""


SQL_TEXT_METRICS = _sql_text_metrics()


def q_graph_components(spark, sf_dir):
    """Connected-components canonicalization over a deterministic
    user graph derived from events (iterative large-star/small-star
    loop on the Spark side, recursive CTE in the oracle)."""
    from .operators.components import connected_components
    ev = _t(spark, sf_dir, "events")
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") * 7 + 3) % 25).alias("dst")).distinct()
    # one scan + distinct is cheaper to recompute than to cache
    return connected_components(edges, checkpoint_input=False)


SQL_GRAPH_COMPONENTS = """
WITH RECURSIVE e AS (
  SELECT DISTINCT user_id AS u, (user_id * 7 + 3) % 25 AS v FROM events),
sym AS (SELECT u, v FROM e UNION SELECT v, u FROM e),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m)
SELECT n AS node, min(m) AS component FROM reach GROUP BY n"""


def q_entity_canonical(spark, sf_dir):
    """Entity-linking pipeline oracle: the engine's own triples ->
    extract_mentions (salted head-key agg) -> candidate pairs ->
    score_pairs (exact trigram Jaccard >= 0.5) -> canonicalize
    (connected components, min-member id).  Candidates here are the
    exact all-pairs baseline (broadcast-bounded: the sf mention
    universe is tiny) so every stage is DuckDB-provable; the
    production path swaps in lsh_candidate_pairs_banded, whose recall
    is gated separately (tests/test_entity_graph.py)."""
    from .operators.entity import (
        canonicalize, extract_mentions, score_pairs,
    )
    triples = extract_triples(docs_messages(spark, sf_dir))
    mentions = extract_mentions(triples)
    a = mentions.select(F.col("mention").alias("mention_a"))
    b = mentions.select(F.col("mention").alias("mention_b"))
    cands = (F.broadcast(a).crossJoin(b)
             .where(F.col("mention_a") < F.col("mention_b")))
    return canonicalize(mentions, score_pairs(cands, 0.5))


_NGRAM_SQL = (
    "list_distinct(list_transform(generate_series(1, "
    "greatest(length('^' || {m} || '$') - 2, 1)), "
    "i -> substr('^' || {m} || '$', i, 3)))")

_SQL_ENTITY_CTES = SQL_EXTRACT_ALL_CTES.replace(
    "WITH ", "WITH RECURSIVE ", 1) + f""",
raw_mentions AS (
  SELECT subject AS mention FROM allt
  WHERE predicate <> 'answered_by'
  UNION ALL
  SELECT object FROM allt
  WHERE predicate IN ('mentions_asset', 'recommends_buy',
                      'recommends_sell', 'recommends_hold', 'analyzes',
                      'shares_opinion', 'discusses', 'recommends')),
mentions AS (
  SELECT lower(trim(mention)) AS mention,
         count(*) AS n_occurrences
  FROM raw_mentions
  WHERE length(mention) > 0 AND length(mention) <= 64
  GROUP BY 1),
grams AS (SELECT mention, {_NGRAM_SQL.format(m='mention')} AS g
          FROM mentions),
pairs AS (
  SELECT a.mention AS ma, b.mention AS mb
  FROM grams a JOIN grams b ON a.mention < b.mention
  WHERE CAST(length(list_intersect(a.g, b.g)) AS DOUBLE)
        / length(list_distinct(list_concat(a.g, b.g))) >= 0.5),
sym AS (SELECT ma AS u, mb AS v FROM pairs
        UNION SELECT mb, ma FROM pairs),
nodes AS (SELECT DISTINCT u AS n FROM sym),
reach(n, m) AS (
  SELECT n, n FROM nodes
  UNION
  SELECT r.n, s.v FROM reach r JOIN sym s ON s.u = r.m),
comp AS (SELECT n AS node, min(m) AS component FROM reach GROUP BY n),
canon AS (
  SELECT m.mention, m.n_occurrences,
         coalesce(c.component, m.mention) AS canonical_id
  FROM mentions m LEFT JOIN comp c ON m.mention = c.node)"""

SQL_ENTITY_CANONICAL = _SQL_ENTITY_CTES + """
SELECT mention, n_occurrences, canonical_id FROM canon"""


def q_graph_nodes(spark, sf_dir):
    """Graph materialize, node side (operators/graph.py build_nodes):
    one row per canonical entity with its sorted member-mention list
    (projected to csv for cross-engine hashing), total occurrences,
    and variant count."""
    from .operators.graph import build_nodes
    nodes = build_nodes(q_entity_canonical(spark, sf_dir))
    return nodes.select(
        "canonical_id",
        F.concat_ws(",", "mentions").alias("mentions_csv"),
        "n_mentions", "n_variants")


SQL_GRAPH_NODES = _SQL_ENTITY_CTES + """
SELECT canonical_id,
       string_agg(mention, ',' ORDER BY mention) AS mentions_csv,
       CAST(sum(n_occurrences) AS BIGINT) AS n_mentions,
       count(*) AS n_variants
FROM canon GROUP BY canonical_id"""


def q_graph_edges(spark, sf_dir):
    """Graph materialize, edge side (operators/graph.py build_edges):
    triples rekeyed to canonical entity ids via two broadcast joins,
    raw values falling through for mentions outside the entity
    universe (long topics, free text)."""
    from .operators.graph import build_edges
    triples = extract_triples(docs_messages(spark, sf_dir))
    edges = build_edges(triples, q_entity_canonical(spark, sf_dir))
    return edges.select("src", "predicate", "dst", "message_id",
                        "confidence")


SQL_GRAPH_EDGES = _SQL_ENTITY_CTES + """
SELECT coalesce(cs.canonical_id, t.subject) AS src,
       t.predicate,
       coalesce(co.canonical_id, t.object) AS dst,
       t.message_id,
       CAST(t.confidence AS DOUBLE) AS confidence
FROM allt t
LEFT JOIN canon cs ON lower(trim(t.subject)) = cs.mention
LEFT JOIN canon co ON lower(trim(t.object)) = co.mention"""


# ---------------------------------------------------------------------------
# J5/A10 comparison join, S9 sampler, W1 lag, scalar families
# ---------------------------------------------------------------------------

_VARIANT_TYPES = ("question", "alert", "performance", "strategy",
                  "analysis", "performance", "discussion", "signal",
                  "question", "alert", "answer", "answer")


_CMP_CACHE: list = []


def q_cmp_extract_variants(spark, sf_dir):
    """J5/A10: rule-path extraction vs a second 'variant' extraction
    (preset types), compared with the named compare_extraction_runs
    operator (extraction/app.py:918-940).  The classified base is
    persisted so BOTH arms read it once — at production scale the
    same shape stages to parquet via build_triples(stage_dir=...).
    At most one cached copy lives at a time: each invocation
    unpersists the previous one (can't unpersist our own before the
    caller collects)."""
    from .plans.analytics import compare_extraction_runs
    while _CMP_CACHE:
        try:  # prior entry may belong to a stopped SparkSession
            _CMP_CACHE.pop().unpersist()
        except Exception:
            pass
    msgs = docs_messages(spark, sf_dir).persist()
    _CMP_CACHE.append(msgs)
    rule = extract_triples(msgs)
    variant_type = F.element_at(
        F.array(*[F.lit(t) for t in _VARIANT_TYPES]),
        ((F.col("doc_id") % 12) + 1).cast("int"))
    variant = extract_triples(msgs.withColumn("type", variant_type))
    return compare_extraction_runs(rule, variant)


def _sql_variant_extract_ctes() -> str:
    """The variant extraction as SQL: same branch logic, type preset
    by doc_id % 12 (mirrors _VARIANT_TYPES)."""
    whens = "\n".join(f"WHEN {i} THEN '{t}'"
                      for i, t in enumerate(_VARIANT_TYPES))
    return f"""
vmsgs AS (
  SELECT dbase.*, CASE CAST(doc_id % 12 AS INTEGER) {whens}
                  ELSE 'discussion' END AS type
  FROM dbase),
vq0 AS (
  SELECT *, {_strip_sql(f"regexp_replace(clean_text, '{C.QUESTION_TOPIC_STRIP}', '', 'g')")} AS t1
  FROM vmsgs WHERE type = 'question'),
vq1 AS (SELECT *, {_trunc_sql('t1', 80)} AS t2 FROM vq0),
vs AS (SELECT * FROM vmsgs WHERE type = 'strategy'),
vsig AS (SELECT *, {_ASSETS_SQL} AS assets, {_ACTIONS_SQL} AS actions
         FROM vmsgs WHERE type = 'signal'),
vp AS (SELECT * FROM vmsgs WHERE type = 'performance'
       AND regexp_matches(clean_text, '{C.RETURN_KEYWORDS}')),
van AS (SELECT *, {_ASSETS_SQL} AS assets FROM vmsgs
        WHERE type = 'analysis'),
vd AS (SELECT *, {_ASSETS_SQL} AS assets FROM vmsgs
       WHERE type = 'discussion'),
vallt AS (
  SELECT 'asks_about' AS predicate, message_id FROM vq1
  UNION ALL
  SELECT 'provides_info', message_id FROM vmsgs WHERE type = 'answer'
  UNION ALL
  SELECT 'alerts', message_id FROM vmsgs WHERE type = 'alert'
  UNION ALL
  SELECT 'recommends', message_id
  FROM vs, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.STRATEGY_PATTERN}', 1)) AS u(h)
  UNION ALL
  SELECT 'discusses_strategy', message_id
  FROM vs WHERE NOT regexp_matches(clean_text, '{C.STRATEGY_PATTERN}')
  UNION ALL
  SELECT 'recommends_' || v.act, message_id
  FROM vsig, LATERAL unnest(assets) AS u(a),
       LATERAL unnest(actions) AS v(act)
  WHERE length(actions) > 0
  UNION ALL
  SELECT 'mentions_asset', message_id
  FROM vsig, LATERAL unnest(assets) AS u(a) WHERE length(actions) = 0
  UNION ALL
  SELECT 'reports_return', message_id
  FROM vp, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.PERFORMANCE_PATTERN}', 1)) AS u(pct)
  UNION ALL
  SELECT 'analyzes', message_id
  FROM van, LATERAL unnest(assets) AS u(a) WHERE length(assets) > 0
  UNION ALL
  SELECT 'provides_analysis', message_id FROM van WHERE length(assets) = 0
  UNION ALL
  SELECT 'discusses', message_id
  FROM vd, LATERAL unnest(regexp_extract_all(clean_text,
       '{C.PLATFORM_PATTERN}', 1)) AS u(p)
  UNION ALL
  SELECT 'shares_opinion', message_id
  FROM vd, LATERAL unnest(assets) AS u(a))"""


SQL_CMP_EXTRACT_VARIANTS = (SQL_EXTRACT_ALL_CTES + ","
                            + _sql_variant_extract_ctes() + """
, rule_agg AS (
  SELECT message_id, count(*) AS n_rule,
         list_distinct(list(predicate)) AS preds
  FROM allt GROUP BY message_id),
llm_agg AS (
  SELECT message_id, count(*) AS n_llm,
         list_distinct(list(predicate)) AS preds
  FROM vallt GROUP BY message_id)
SELECT coalesce(r.message_id, l.message_id) AS message_id,
       coalesce(r.n_rule, 0) AS n_rule,
       coalesce(l.n_llm, 0) AS n_llm,
       len(list_intersect(coalesce(r.preds, []), coalesce(l.preds, [])))
         AS n_common_preds,
       len(list_distinct(list_concat(coalesce(r.preds, []),
                                     coalesce(l.preds, []))))
         AS n_all_preds,
       abs(coalesce(r.n_rule, 0) - coalesce(l.n_llm, 0)) >= 2
         AS disagreement
FROM rule_agg r FULL OUTER JOIN llm_agg l ON r.message_id = l.message_id""")


def q_sample_first_last(spark, sf_dir):
    """S9 sampler: first-N / last-N by timestamp with deterministic
    tie-breaks (create_sample.py:12-46)."""
    ev = _t(spark, sf_dir, "events")
    first = (ev.orderBy("ts", "event_id").limit(5)
             .select("event_id", F.lit("first").alias("which")))
    last = (ev.orderBy(F.desc("ts"), F.desc("event_id")).limit(5)
            .select("event_id", F.lit("last").alias("which")))
    return first.unionByName(last)


SQL_SAMPLE_FIRST_LAST = """
SELECT event_id, 'first' AS which FROM
  (SELECT event_id FROM events ORDER BY ts, event_id LIMIT 5)
UNION ALL
SELECT event_id, 'last' AS which FROM
  (SELECT event_id FROM events ORDER BY ts DESC, event_id DESC LIMIT 5)"""


def q_sample_hash(spark, sf_dir):
    """S9 random-N sampling, scale-correct form: a deterministic
    hash-based Bernoulli sample (md5 first hex char in a fixed set ->
    exact 1/8 expected rate, reproducible across engines and runs,
    no driver-side RNG state — unlike df.sample, which is seed- and
    partitioning-dependent)."""
    ev = _t(spark, sf_dir, "events")
    key = F.substring(F.md5(F.col("event_id").cast("string")), 1, 1)
    return (ev.where(key.isin("0", "1"))
            .select("event_id", "event_type"))


SQL_SAMPLE_HASH = """
SELECT event_id, event_type FROM events
WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0', '1')"""


def q_win_lag_delta(spark, sf_dir):
    """W1/W3: per-user ordering with lag — value delta vs previous
    event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 4)
         .alias("value_delta"))


SQL_WIN_LAG_DELTA = """
SELECT event_id, user_id,
       round(value - lag(value) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id), 4)
         AS value_delta
FROM events"""


def q_url_domains(spark, sf_dir):
    """Scalar/url family: domain = split(url,'/')[2]
    (streamlit_app.py:362-364) over urls derived from documents."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://"), F.col("source"),
                   F.lit(".example.com/d/"),
                   F.col("doc_id").cast("string"))
    return (docs.select(F.split(url, "/").getItem(2).alias("domain"))
            .groupBy("domain").agg(F.count("*").alias("n")))


SQL_URL_DOMAINS = """
SELECT string_split('https://' || source || '.example.com/d/'
                    || CAST(doc_id AS VARCHAR), '/')[3] AS domain,
       count(*) AS n
FROM documents GROUP BY 1"""


def q_embed_stats(spark, sf_dir):
    """A12-family array aggregates over the embedding column: size,
    L2 norm, mean component (native aggregate/transform)."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    sumsq = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    total = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.round(F.sqrt(sumsq), 6).alias("l2_norm"),
        F.round(total / F.size(v), 6).alias("mean_component"))


SQL_EMBED_STATS = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
             x -> x * x))), 6) AS l2_norm,
       round(list_sum(CAST(embedding AS DOUBLE[])) / len(embedding), 6)
         AS mean_component
FROM embeddings"""


def q_tpch_q5(spark, sf_dir):
    """Six-table join chain (region->nation->customer->orders->
    lineitem->supplier with colocated nation keys) — the join-
    reordering / broadcast-selection workout."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)")
              - F.col("l_discount").cast("decimal(18,2)")))
    return (lineitem
            .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(supplier, (F.col("l_suppkey") == F.col("s_suppkey"))
                  & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(region),
                  F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("r_name", "n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"),
                 F.count("*").alias("n")))


SQL_TPCH_Q5 = """
SELECT r_name, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
            * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name"""


def q_setop_lapsed_users(spark, sf_dir):
    """SO-family set op: users who signed up but never purchased
    (EXCEPT / anti-join shape)."""
    ev = _t(spark, sf_dir, "events")
    signup = ev.where(F.col("event_type") == "signup") \
        .select("user_id").distinct()
    purchase = ev.where(F.col("event_type") == "purchase") \
        .select("user_id").distinct()
    return signup.exceptAll(purchase).orderBy("user_id")


SQL_SETOP_LAPSED = """
SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
EXCEPT
SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'"""


def q_user_type_profile(spark, sf_dir):
    """collect_set-family: per-user distinct event types as a sorted
    array plus their count (SO4 distinct-set shape)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.concat_ws(",", F.array_sort(F.collect_set("event_type")))
                 .alias("types_csv"),
                 F.countDistinct("event_type").alias("n_types")))


SQL_USER_TYPE_PROFILE = """
SELECT user_id,
       array_to_string(list_sort(list_distinct(list(event_type))), ',')
         AS types_csv,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id"""


def q_part_supplier_rollup(spark, sf_dir):
    """part x lineitem bridge: revenue per part brand-ish key."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (li.join(F.broadcast(part),
                    F.col("l_partkey") == F.col("p_partkey"))
            .groupBy("p_type")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                 .cast("double").alias("total_qty"),
                 F.count("*").alias("n")))


SQL_PART_SUPPLIER_ROLLUP = """
SELECT p_type,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
         AS total_qty,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type"""


def q_discord_flatten(spark, sf_dir):
    """S1/P1: the Discord-export flatten, oracle-checked end to end.

    A deterministic export-shaped JSON document is synthesized per
    event row (to_json omits null fields, exercising every .get
    default), parsed back with the export schema, and flattened with
    the production flatten_message_cols expressions; DuckDB computes
    the expected 20-field outputs directly from the event columns."""
    from .sources.discord_export import (
        EXPORT_MESSAGE_SCHEMA, flatten_message_cols,
    )
    # per-row JSON round-trip + 20-field flatten is CPU-dense: spread
    # the single-row-group scan before it (guide 2.5)
    ev = _t_wide(spark, sf_dir, "events", "event_id")
    tsl = F.col("ts").cast("timestamp_ltz")
    micros = F.pmod(F.unix_micros(tsl), F.lit(1_000_000))
    raw_ts = F.concat(F.date_format(tsl, "yyyy-MM-dd'T'HH:mm:ss"),
                      F.lit("."), F.lpad(micros.cast("string"), 6, "0"),
                      F.lit("Z"))
    eid, uid = F.col("event_id"), F.col("user_id")
    s = lambda c: c.cast("string")  # noqa: E731
    null_s = F.lit(None).cast("string")

    msg_struct = F.struct(
        s(eid).alias("id"),
        raw_ts.alias("timestamp"),
        F.when(eid % 11 == 0, F.lit(""))
         .otherwise(F.concat(F.lit("msg "), s(eid))).alias("content"),
        F.when(eid % 10 == 0, F.lit(True)).alias("isPinned"),
        F.struct(
            F.concat(F.lit("a"), s(uid % 7)).alias("id"),
            F.concat(F.lit("u"), s(uid % 7)).alias("name"),
            F.when(uid % 5 == 0, F.lit(True)).alias("isBot"),
            F.when(uid % 3 == 0, F.array(
                F.struct(null_s.alias("id"), F.lit("mod").alias("name")),
                F.struct(null_s.alias("id"),
                         F.lit("member").alias("name")))).alias("roles"),
        ).alias("author"),
        F.when(eid % 4 == 0, F.array(F.struct(
            null_s.alias("id"),
            F.concat(F.lit("u"), s((uid + 1) % 7)).alias("name"))))
         .alias("mentions"),
        F.when(eid % 6 == 0, F.array(F.struct(
            F.concat(F.lit("f"), s(eid), F.lit(".png")).alias("fileName"),
            F.concat(F.lit("http://x/"), s(eid)).alias("url"),
            (eid % 1000).alias("fileSizeBytes")))).alias("attachments"),
        F.when(eid % 3 == 0, F.array(F.struct(
            F.struct(F.lit("+1").alias("name")).alias("emoji"),
            (eid % 5).alias("count")))).alias("reactions"),
        F.when(eid % 2 == 0, F.struct(
            s(eid - 3).alias("messageId"),
            null_s.alias("channelId"))).alias("reference"),
        F.when(eid % 7 == 0, F.struct(
            F.concat(F.lit("T "), s(F.expr("event_id div 50")))
             .alias("name"))).alias("thread"),
    )
    parsed = ev.select(
        F.from_json(F.to_json(msg_struct), EXPORT_MESSAGE_SCHEMA)
         .alias("m"))
    c = flatten_message_cols(F.col("m"), F.lit("chan"))
    return (parsed.select(
        c["message_id"].alias("message_id"),
        c["author"].alias("author"),
        c["author_id"].alias("author_id"),
        c["is_bot"].alias("is_bot"),
        c["is_pinned"].alias("is_pinned"),
        c["reply_to"].alias("reply_to"),
        c["thread"].alias("thread"),
        c["segment_id"].alias("segment_id"),
        c["timestamp"].alias("norm_ts"),
        F.concat_ws(",", c["author_roles"]).alias("roles_csv"),
        F.concat_ws(",", c["mentions"]).alias("mentions_csv"),
        F.size(c["attachments"]).alias("n_attachments"),
        F.aggregate(c["attachments"], F.lit(0).cast("bigint"),
                    lambda a, x: a + x["size"]).alias("attach_bytes"),
        F.aggregate(c["reactions"], F.lit(0).cast("bigint"),
                    lambda a, x: a + x["count"]).alias("total_reactions"),
        c["content"].alias("content"),
        c["clean_text"].alias("clean_text"))
        # _barrier: without it this filter (which embeds the whole
        # from_json(to_json) evaluation) is pushed below the _t_wide
        # exchange and the JSON round-trip runs single-task, twice
        .where(_barrier(F.trim(F.col("content")) != ""))
        .drop("content"))


SQL_DISCORD_FLATTEN = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, ts,
         'u' || CAST(user_id % 7 AS VARCHAR) AS author,
         CASE WHEN event_id % 7 = 0
              THEN 'T ' || CAST(event_id // 50 AS VARCHAR) END AS thread
  FROM events WHERE event_id % 11 <> 0)
SELECT CAST(eid AS VARCHAR) AS message_id,
       author,
       'a' || CAST(uid % 7 AS VARCHAR) AS author_id,
       uid % 5 = 0 AS is_bot,
       eid % 10 = 0 AS is_pinned,
       CASE WHEN eid % 2 = 0 THEN CAST(eid - 3 AS VARCHAR) END
         AS reply_to,
       thread,
       CASE WHEN thread IS NOT NULL
            THEN 'thread-' || regexp_replace(lower(thread),
                                             '[^a-zA-Z0-9]', '-', 'g')
            ELSE 'segment-' || substr(md5('unknown-' || author || '-'
                 || strftime(ts, '%Y%m%d-%H')), 1, 8) END AS segment_id,
       CASE WHEN epoch_us(ts) % 1000000 = 0
            THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+00:00'
            ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || '+00:00'
       END AS norm_ts,
       CASE WHEN uid % 3 = 0 THEN 'mod,member' ELSE '' END AS roles_csv,
       CASE WHEN eid % 4 = 0
            THEN 'u' || CAST((uid + 1) % 7 AS VARCHAR)
            ELSE '' END AS mentions_csv,
       CAST(CASE WHEN eid % 6 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_attachments,
       CAST(CASE WHEN eid % 6 = 0 THEN eid % 1000 ELSE 0 END AS BIGINT)
         AS attach_bytes,
       CAST(CASE WHEN eid % 3 = 0 THEN eid % 5 ELSE 0 END AS BIGINT)
         AS total_reactions,
       'msg ' || CAST(eid AS VARCHAR) AS clean_text
FROM base"""


def q_repair_flatten(spark, sf_dir):
    """S1 repair door: malformed export documents (bare-string /
    number / bool roles+mentions, junk attachments/reactions —
    preprocessor.py:54-65 tolerant branches) synthesized per event
    row as raw JSON text, pushed through the PRODUCTION repair path
    (repair_exports: mapInPandas json repair -> strict-schema
    from_json) and the production flatten; DuckDB computes the
    expected post-repair fields directly from the event columns."""
    from .sources.discord_export import export_to_messages, repair_exports
    # the msg_json format_string projection feeds the groupBy's map
    # side — repartition first so it runs on every core
    ev = _t_wide(spark, sf_dir, "events", "event_id")
    tsl = F.col("ts").cast("timestamp_ltz")
    micros = F.pmod(F.unix_micros(tsl), F.lit(1_000_000))
    raw_ts = F.concat(F.date_format(tsl, "yyyy-MM-dd'T'HH:mm:ss"),
                      F.lit("."), F.lpad(micros.cast("string"), 6, "0"),
                      F.lit("Z"))
    eid, uid = F.col("event_id"), F.col("user_id")
    s = lambda c: c.cast("string")  # noqa: E731

    roles = (F.when(uid % 3 == 0,
                    F.lit('["admin",{"id":"r1","name":"mod"}]'))
              .when(uid % 3 == 1, F.lit('[7,true]'))
              .otherwise(F.lit("[]")))
    mentions = F.when(eid % 4 == 0, F.lit('["bob",{"id":"u9"}]')) \
                .otherwise(F.lit("[]"))
    attachments = F.when(eid % 6 == 0, F.format_string(
        '["junk",{"fileName":"f%s.png","url":"http://x/%s",'
        '"fileSizeBytes":%s}]', s(eid), s(eid), s(eid % 1000))) \
        .otherwise(F.lit("[]"))
    reactions = F.when(eid % 3 == 0, F.format_string(
        '[{"emoji":{"name":"+1"},"count":%s},"bad"]', s(eid % 5))) \
        .otherwise(F.lit("[]"))
    msg_json = F.format_string(
        '{"id":"%s","timestamp":"%s","content":"msg %s","author":'
        '{"id":"a%s","name":"u%s","roles":%s},"mentions":%s,'
        '"attachments":%s,"reactions":%s}',
        s(eid), raw_ts, s(eid), s(uid % 7), s(uid % 7),
        roles, mentions, attachments, reactions)
    # ~100 messages per export document — the real export shape (one
    # doc holds a channel's messages), and 100x fewer json.loads round
    # trips in the repair pass than one-doc-per-message would cost
    docs = (ev.select((eid % 100).alias("_doc"), msg_json.alias("_m"))
            .groupBy("_doc")
            .agg(F.concat(F.lit('{"channel":{"id":"c1","name":"chan"},'
                                '"messages":['),
                          F.concat_ws(",", F.collect_list("_m")),
                          F.lit("]}")).alias("value"))
            # AQE coalesces the tiny 100-row shuffle to ~4 partitions;
            # spread the (heavy) per-doc parse work back out —
            # core-derived, not a local[32] constant
            .repartition(2 * spark.sparkContext.defaultParallelism))
    msgs = export_to_messages(repair_exports(docs))
    return msgs.select(
        "message_id", "author", "segment_id",
        F.col("timestamp").alias("norm_ts"),
        F.concat_ws(",", "author_roles").alias("roles_csv"),
        F.concat_ws(",", "mentions").alias("mentions_csv"),
        F.size("attachments").alias("n_attachments"),
        F.aggregate("attachments", F.lit(0).cast("bigint"),
                    lambda a, x: a + x["size"]).alias("attach_bytes"),
        F.aggregate("reactions", F.lit(0).cast("bigint"),
                    lambda a, x: a + x["count"]).alias("total_reactions"))


SQL_REPAIR_FLATTEN = """
WITH base AS (
  SELECT event_id AS eid, user_id AS uid, ts,
         'u' || CAST(user_id % 7 AS VARCHAR) AS author
  FROM events)
SELECT CAST(eid AS VARCHAR) AS message_id,
       author,
       'segment-' || substr(md5('unknown-' || author || '-'
            || strftime(ts, '%Y%m%d-%H')), 1, 8) AS segment_id,
       CASE WHEN epoch_us(ts) % 1000000 = 0
            THEN strftime(ts, '%Y-%m-%dT%H:%M:%S') || '+00:00'
            ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || '+00:00'
       END AS norm_ts,
       CASE CAST(uid % 3 AS INTEGER) WHEN 0 THEN 'admin,mod'
            WHEN 1 THEN '7,True' ELSE '' END AS roles_csv,
       CASE WHEN eid % 4 = 0 THEN 'bob,u9' ELSE '' END AS mentions_csv,
       CAST(CASE WHEN eid % 6 = 0 THEN 1 ELSE 0 END AS INTEGER)
         AS n_attachments,
       CAST(CASE WHEN eid % 6 = 0 THEN eid % 1000 ELSE 0 END AS BIGINT)
         AS attach_bytes,
       CAST(CASE WHEN eid % 3 = 0 THEN eid % 5 ELSE 0 END AS BIGINT)
         AS total_reactions
FROM base"""


def q_msg_flag_stats(spark, sf_dir):
    """A4 extension (preprocessor.py:298-312): bot/pinned/attachment/
    reaction rollups over the flattened export corpus — the counts the
    reference prints in print_stats, as one aggregation pass."""
    from .sources.discord_export import message_flag_stats
    flat = q_discord_flatten(spark, sf_dir)
    msgs = flat.select(
        "segment_id", "author", "thread", "is_bot", "is_pinned",
        F.when(F.col("n_attachments") > 0,
               F.expr("array(named_struct('filename', 'f', 'url', 'u',"
                      " 'size', CAST(attach_bytes AS BIGINT)))"))
         .otherwise(F.expr(
             "CAST(array() AS array<struct<filename:string,url:string,"
             "size:bigint>>)")).alias("attachments"),
        F.when(F.col("total_reactions") > 0,
               F.expr("array(named_struct('emoji', '+1', 'count', "
                      "CAST(total_reactions AS BIGINT)))"))
         .otherwise(F.expr(
             "CAST(array() AS array<struct<emoji:string,count:bigint>>)"))
         .alias("reactions"))
    return message_flag_stats(msgs)


SQL_MSG_FLAG_STATS = f"""
WITH flat AS ({SQL_DISCORD_FLATTEN})
SELECT count(*) AS total_messages,
       count(DISTINCT segment_id) AS unique_segments,
       count(DISTINCT author) AS unique_authors,
       count(CASE WHEN thread IS NOT NULL THEN 1 END) AS with_threads,
       count(CASE WHEN is_bot THEN 1 END) AS bot_messages,
       count(CASE WHEN is_pinned THEN 1 END) AS pinned_messages,
       count(CASE WHEN n_attachments > 0 THEN 1 END) AS with_attachments,
       CAST(sum(total_reactions) AS BIGINT) AS total_reactions
FROM flat"""


def q_prune_candidates(spark, sf_dir):
    """J4 answer-candidate pruning (nodes.py:431-496): per segment,
    direct replies ∪ first-20-after-latest-question, deduped and
    capped at 20 in (replies-first, ts, id) order."""
    from .operators.link import prune_answer_candidates
    questions, answers = split_qa(events_messages(spark, sf_dir))
    return prune_answer_candidates(questions, answers, max_answers=20)


SQL_PRUNE_CANDIDATES = f"""
WITH {EVENTS_MSGS_SQL},
q AS (SELECT message_id AS q_id, segment_id AS seg, ts
      FROM emsgs WHERE type = 'question'),
a AS (SELECT message_id AS a_id, segment_id AS seg, ts, reply_to
      FROM emsgs WHERE type = 'answer'),
rep AS (SELECT DISTINCT a.a_id, a.seg, a.ts
        FROM a JOIN q ON a.reply_to = q.q_id AND a.seg = q.seg),
lq AS (SELECT seg, max(ts) AS mt FROM q GROUP BY seg),
chr20 AS (
  SELECT a_id, seg, ts FROM (
    SELECT a.a_id, a.seg, a.ts,
           row_number() OVER (PARTITION BY a.seg
                              ORDER BY a.ts, a.a_id) AS rn
    FROM a JOIN lq ON a.seg = lq.seg AND a.ts > lq.mt)
  WHERE rn <= 20),
uni AS (
  SELECT a_id, seg, ts, 0 AS prio FROM rep
  UNION ALL
  SELECT c.a_id, c.seg, c.ts, 1 FROM chr20 c
  WHERE NOT EXISTS (SELECT 1 FROM rep r
                    WHERE r.a_id = c.a_id AND r.seg = c.seg))
SELECT seg AS segment_id, a_id AS message_id,
       prio = 0 AS is_reply, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY seg
                                   ORDER BY prio, ts, a_id) AS rank
      FROM uni)
WHERE rank <= 20"""


def q_ts_normalize(spark, sf_dir):
    """P2 dirty-timestamp normalizer (preprocessor.py:98-117) over a
    deterministic dirty-string corpus derived from events.ts: trailing
    'Z', explicit +02:00 offset, tz-naive, garbage, and empty inputs.
    Unparseable/empty -> null + valid=false (quarantine) instead of
    the reference's nondeterministic now() fallback (SURVEY section 7
    documented deviation)."""
    from .functions.timestamps import normalize_timestamps
    ev = _t(spark, sf_dir, "events")
    tsl = F.col("ts").cast("timestamp_ltz")  # NTZ parquet -> UTC instant
    micros = F.pmod(F.unix_micros(tsl), F.lit(1_000_000))
    frac = F.concat(F.lit("."), F.lpad(micros.cast("string"), 6, "0"))
    base_t = F.date_format(tsl, "yyyy-MM-dd'T'HH:mm:ss")
    plus2 = F.date_format(tsl + F.expr("INTERVAL 2 HOURS"),
                          "yyyy-MM-dd'T'HH:mm:ss")
    v = (F.col("event_id") % 5).cast("int")
    raw = (F.when(v == 0, F.concat(base_t, frac, F.lit("Z")))
            .when(v == 1, F.concat(plus2, frac, F.lit("+02:00")))
            .when(v == 2, F.date_format(tsl, "yyyy-MM-dd HH:mm:ss"))
            .when(v == 3, F.lit("not a timestamp"))
            .otherwise(F.lit("")))
    out = normalize_timestamps(ev.select("event_id", raw.alias("raw_ts")),
                               "raw_ts", ts_col="ts_utc",
                               iso_col="norm_iso")
    return out.select("event_id", "norm_iso",
                      F.unix_micros("ts_utc").alias("epoch_us"),
                      F.col("raw_ts_valid").alias("valid"))


SQL_TS_NORMALIZE = """
WITH raws AS (
  SELECT event_id,
         CASE CAST(event_id % 5 AS INTEGER)
           WHEN 0 THEN strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') || 'Z'
           WHEN 1 THEN strftime(ts + INTERVAL 2 HOUR,
                                '%Y-%m-%dT%H:%M:%S.%f') || '+02:00'
           WHEN 2 THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
           WHEN 3 THEN 'not a timestamp'
           ELSE '' END AS raw_ts
  FROM events),
parsed AS (
  SELECT event_id,
         CASE WHEN CAST(event_id % 5 AS INTEGER) IN (0, 1)
              THEN epoch_us(TRY_CAST(raw_ts AS TIMESTAMPTZ))
              WHEN CAST(event_id % 5 AS INTEGER) = 2
              THEN epoch_us(TRY_CAST(raw_ts AS TIMESTAMP))
              ELSE NULL END AS epoch_us
  FROM raws)
SELECT event_id,
       CASE WHEN epoch_us IS NULL THEN NULL
            WHEN epoch_us % 1000000 = 0
            THEN strftime(make_timestamp(epoch_us),
                          '%Y-%m-%dT%H:%M:%S') || '+00:00'
            ELSE strftime(make_timestamp(epoch_us),
                          '%Y-%m-%dT%H:%M:%S.%f') || '+00:00'
       END AS norm_iso,
       epoch_us,
       epoch_us IS NOT NULL AS valid
FROM parsed"""


def q_attribute_outputs(spark, sf_dir):
    """J6 attribution (extractor_llm.py:330-345): synthesized LLM
    outputs (subject = an author name) joined back to the first
    message by that author in the same segment."""
    from .operators.llm_extract import attribute_triples
    # typed timestamps: string formatting of fractional seconds is
    # engine-specific (trailing-zero trimming), epoch micros are not
    msgs = events_messages(spark, sf_dir).select(
        "message_id", "segment_id", "author",
        F.col("warc_ts").alias("timestamp"))
    ev = _t(spark, sf_dir, "events")
    outputs = (ev.where(F.col("event_id") % 5 == 0)
               .select(F.expr("event_id div 50").cast("string")
                       .alias("segment_id"),
                       F.concat(F.lit("u"),
                                (F.col("user_id") % 7).cast("string"))
                       .alias("subject"),
                       F.lit("states").alias("predicate"),
                       F.concat(F.lit("o"),
                                F.col("event_id").cast("string"))
                       .alias("object")))
    return attribute_triples(outputs, msgs).select(
        "segment_id", "subject", "predicate", "object", "message_id",
        F.unix_micros(F.col("timestamp").cast("timestamp_ltz"))
         .alias("ts_us"))


SQL_ATTRIBUTE_OUTPUTS = f"""
WITH {EVENTS_MSGS_SQL},
firsts AS (
  SELECT segment_id, author AS subject, message_id,
         epoch_us(ts) AS ts_us
  FROM (SELECT *, row_number() OVER (
          PARTITION BY segment_id, author
          ORDER BY ts, message_id) AS rn
        FROM emsgs)
  WHERE rn = 1),
outs AS (
  SELECT CAST(event_id // 50 AS VARCHAR) AS segment_id,
         'u' || CAST(user_id % 7 AS VARCHAR) AS subject,
         'states' AS predicate,
         'o' || CAST(event_id AS VARCHAR) AS object
  FROM events WHERE event_id % 5 = 0)
SELECT o.segment_id, o.subject, o.predicate, o.object,
       f.message_id, f.ts_us
FROM outs o JOIN firsts f
  ON o.segment_id = f.segment_id AND o.subject = f.subject"""


# ---------------------------------------------------------------------------
# llm_calls analytic views (llm_call_recorder + evaluation dashboard)
# ---------------------------------------------------------------------------

_PROVIDERS = ("claude", "openai", "groq")
_TEMPLATES = ("qa", "summary", "extract", "classify")
# dyadic-rational synthetic values (quarters, 1/128 dollars, power-of-2
# triple counts): every per-row ratio and every bounded sum is exactly
# representable, so the rollups hash identically on both engines
_TRIPLE_COUNTS = (0, 1, 2, 4, 8)


def llm_calls_df(spark, sf_dir) -> DataFrame:
    """Deterministic llm_calls-shaped corpus derived from events
    (the analytic columns of llm_call_recorder.py:180-228)."""
    ev = _t(spark, sf_dir, "events")
    eid, uid = F.col("event_id"), F.col("user_id")
    pick = lambda vals, k: F.element_at(  # noqa: E731
        F.array(*[F.lit(v) for v in vals]), (k + 1).cast("int"))
    return ev.select(
        eid.cast("string").alias("call_id"),
        F.col("ts").cast("timestamp_ltz").alias("timestamp"),
        pick(_PROVIDERS, uid % 3).alias("provider"),
        pick(_TEMPLATES, eid % 4).alias("template_type"),
        (eid % 13 != 0).alias("success"),
        ((eid % 13 != 0) & (eid % 11 != 0)).alias("parsing_success"),
        (1.0 + (eid % 10).cast("double") * 0.25)
        .alias("duration_seconds"),
        (100 + eid % 400).alias("total_tokens"),
        ((eid % 20).cast("double") * 0.0078125).alias("cost_usd"),
        pick(_TRIPLE_COUNTS, eid % 5).cast("long")
        .alias("triples_count"),
        (1 + eid % 5).alias("batch_size"),
        (1 + eid % 9).alias("messages_in_batch"),
    )


SQL_LLM_CALLS_CTE = """
lcalls AS (
  SELECT CAST(event_id AS VARCHAR) AS call_id,
         ts AS timestamp,
         CASE CAST(user_id % 3 AS INTEGER)
           WHEN 0 THEN 'claude' WHEN 1 THEN 'openai'
           ELSE 'groq' END AS provider,
         CASE CAST(event_id % 4 AS INTEGER)
           WHEN 0 THEN 'qa' WHEN 1 THEN 'summary'
           WHEN 2 THEN 'extract' ELSE 'classify' END AS template_type,
         event_id % 13 <> 0 AS success,
         (event_id % 13 <> 0) AND (event_id % 11 <> 0)
           AS parsing_success,
         1.0 + CAST(event_id % 10 AS DOUBLE) * 0.25
           AS duration_seconds,
         100 + event_id % 400 AS total_tokens,
         CAST(event_id % 20 AS DOUBLE) * 0.0078125 AS cost_usd,
         CAST(CASE CAST(event_id % 5 AS INTEGER)
           WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 2
           WHEN 3 THEN 4 ELSE 8 END AS BIGINT) AS triples_count,
         1 + event_id % 5 AS batch_size,
         1 + event_id % 9 AS messages_in_batch
  FROM events)"""


def q_llm_call_ratios(spark, sf_dir):
    """Per-call derived ratios with div-by-zero -> null
    (llm_evaluation_app.py:95-98, 604)."""
    from .plans.llm_metrics import with_derived_ratios
    return with_derived_ratios(llm_calls_df(spark, sf_dir)).select(
        "call_id", "cost_per_token", "tokens_per_second",
        "cost_per_triple")


SQL_LLM_CALL_RATIOS = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT call_id,
       CASE WHEN total_tokens <> 0
            THEN cost_usd / total_tokens END AS cost_per_token,
       CASE WHEN duration_seconds <> 0
            THEN total_tokens / duration_seconds END AS tokens_per_second,
       CASE WHEN triples_count <> 0
            THEN cost_usd / triples_count END AS cost_per_triple
FROM lcalls"""


def q_llm_template_stats(spark, sf_dir):
    from .plans.llm_metrics import template_stats
    return template_stats(llm_calls_df(spark, sf_dir))


SQL_LLM_TEMPLATE_STATS = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT template_type,
       count(*) AS total_calls,
       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
         AS api_successful,
       CAST(sum(CASE WHEN parsing_success THEN 1 ELSE 0 END) AS BIGINT)
         AS parsing_successful,
       round(avg(duration_seconds), 4) AS avg_duration,
       round(avg(cost_usd), 4) AS avg_cost,
       round(sum(cost_usd), 4) AS total_cost,
       round(avg(total_tokens), 4) AS avg_tokens,
       round(avg(triples_count), 4) AS avg_triples,
       round(avg(batch_size), 4) AS avg_batch_size,
       round(avg(messages_in_batch), 4) AS avg_messages_in_batch,
       round(CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / count(*), 2) AS api_success_rate,
       round(CAST(sum(CASE WHEN parsing_success THEN 1 ELSE 0 END)
             AS DOUBLE) * 100.0 / count(*), 2) AS parsing_success_rate
FROM lcalls GROUP BY template_type"""


def q_llm_provider_stats(spark, sf_dir):
    from .plans.llm_metrics import provider_stats
    return provider_stats(llm_calls_df(spark, sf_dir))


SQL_LLM_PROVIDER_STATS = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT provider,
       count(*) AS total_calls,
       CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT)
         AS api_successful,
       CAST(sum(CASE WHEN parsing_success THEN 1 ELSE 0 END) AS BIGINT)
         AS parsing_successful,
       round(avg(duration_seconds), 4) AS avg_duration,
       round(avg(cost_usd), 4) AS avg_cost_per_call,
       round(sum(cost_usd), 4) AS total_cost,
       round(avg(total_tokens), 4) AS avg_tokens,
       CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
       round(avg(triples_count), 4) AS avg_triples,
       round(CAST(sum(CASE WHEN success THEN 1 ELSE 0 END) AS DOUBLE)
             * 100.0 / count(*), 2) AS api_success_rate
FROM lcalls GROUP BY provider"""


def q_llm_hourly_activity(spark, sf_dir):
    from .plans.llm_metrics import hourly_activity
    return hourly_activity(llm_calls_df(spark, sf_dir))


SQL_LLM_HOURLY_ACTIVITY = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT CAST(hour(timestamp) AS INTEGER) AS hour,
       count(*) AS calls,
       round(sum(cost_usd), 4) AS cost_usd
FROM lcalls GROUP BY 1"""


def q_llm_daily_cost(spark, sf_dir):
    """Daily cost trend (llm_evaluation_app.py:524)."""
    from .plans.llm_metrics import daily_cost
    return daily_cost(llm_calls_df(spark, sf_dir))


SQL_LLM_DAILY_COST = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT CAST(timestamp AS DATE) AS date,
       count(*) AS calls,
       round(sum(cost_usd), 4) AS cost_usd
FROM lcalls GROUP BY 1"""


def q_extractions_per_day(spark, sf_dir):
    """Extractions-over-time daily rollup (extraction/app.py:836-855)
    over the engine's own link triples; the timestamp column is
    rewritten to exercise all three reference branches — the ISO+Z
    shape (app.py's .replace('Z', '+00:00')), the plain form, and an
    unparseable string the rollup must skip."""
    from .operators.link import link_by_mentions, link_by_replies
    from .plans.analytics import extractions_per_day
    questions, answers = split_qa(events_messages(spark, sf_dir))
    links = link_by_replies(questions, answers).unionByName(
        link_by_mentions(questions, answers))
    oid = F.col("object").cast("long")
    ts = (F.when(oid % 13 == 0, F.lit("garbage"))
           .when(oid % 7 == 0, F.concat(
               F.date_format(F.to_timestamp("timestamp"),
                             "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")))
           .otherwise(F.col("timestamp")))
    return extractions_per_day(links.withColumn("timestamp", ts))


SQL_EXTRACTIONS_PER_DAY = f"""
WITH {EVENTS_MSGS_SQL},
links AS (
  SELECT a.message_id AS object, a.ts AS ats
  FROM emsgs a JOIN emsgs q
    ON a.reply_to = q.message_id AND a.segment_id = q.segment_id
  WHERE a.type = 'answer' AND q.type = 'question'
  UNION ALL
  SELECT a.message_id, a.ts
  FROM emsgs a JOIN emsgs q
    ON lower(a.mention) = q.author AND a.segment_id = q.segment_id
    AND epoch_us(a.ts) - epoch_us(q.ts) <= 600 * 1000000
  WHERE a.type = 'answer' AND q.type = 'question'
    AND a.mention IS NOT NULL)
SELECT CAST(ats AS DATE) AS date, count(*) AS extractions
FROM links WHERE CAST(object AS BIGINT) % 13 <> 0 GROUP BY 1"""


def _sql_probe_list(col: str, n: int) -> str:
    """DuckDB replica of ann.probe_buckets_expr (Hamming-1): the
    bucket itself plus each single-bit flip."""
    flips = ", ".join(
        f"substr({col}, 1, {i - 1}) || "
        f"(CASE WHEN substr({col}, {i}, 1) = '1' THEN '0' ELSE '1' "
        f"END) || substr({col}, {i + 1}, {n})"
        for i in range(1, n + 1))
    return f"[{col}, {flips}]"


def q_link_semantic_lsh(spark, sf_dir):
    """J3's scale path (link_by_similarity_lsh): the same precomputed-
    vector semantic join as kg_link_semantic, additionally blocked on
    a 4-plane hyperplane-LSH signature with Hamming-1 probing — the
    oracle replays blocking, probing, window, and threshold, so the
    approximation itself is pinned (both engines miss exactly the
    same cross-bucket pairs)."""
    from .operators.link import link_by_similarity_lsh
    questions, answers = split_qa(events_messages(spark, sf_dir))
    emb = _t(spark, sf_dir, "embeddings")
    q = questions.join(
        emb.select(F.col("vec_id").alias("_vid"),
                   F.col("embedding").alias("q_vec")),
        questions.q_id.cast("long") % 500 == F.col("_vid")).drop("_vid")
    a = answers.join(
        emb.select(F.col("vec_id").alias("_vid"),
                   F.col("embedding").alias("a_vec")),
        answers.a_id.cast("long") % 500 == F.col("_vid")).drop("_vid")
    return link_by_similarity_lsh(
        q, a, n_planes=4, dim=64, probe_hamming=1,
        time_window_minutes=120).select(
        "subject", "predicate", "object", "message_id", "confidence")


SQL_LINK_SEMANTIC_LSH = f"""
WITH {EVENTS_MSGS_SQL},
qv AS (SELECT m.message_id, m.segment_id, m.ts,
              CAST(e.embedding AS DOUBLE[]) AS vec,
              {_sql_bucket_expr(4, 64, vec="e.embedding")} AS qb
       FROM emsgs m
       JOIN embeddings e ON CAST(m.message_id AS BIGINT) % 500 = e.vec_id
       WHERE m.type = 'question'),
qp AS (SELECT message_id, segment_id, ts, vec,
              unnest({_sql_probe_list("qb", 4)}) AS bucket
       FROM qv),
av AS (SELECT m.message_id, m.segment_id, m.ts,
              CAST(e.embedding AS DOUBLE[]) AS vec,
              {_sql_bucket_expr(4, 64, vec="e.embedding")} AS bucket
       FROM emsgs m
       JOIN embeddings e ON CAST(m.message_id AS BIGINT) % 500 = e.vec_id
       WHERE m.type = 'answer'),
pairs AS (
  SELECT q.message_id AS q_id, a.message_id AS a_id,
         round(list_cosine_similarity(q.vec, a.vec), 6) AS sim
  FROM av a JOIN qp q
    ON a.bucket = q.bucket AND a.segment_id = q.segment_id
  WHERE epoch_us(a.ts) - epoch_us(q.ts)
        BETWEEN 0 AND CAST(7200000000 AS BIGINT))
SELECT q_id AS subject, 'answered_by' AS predicate, a_id AS object,
       q_id || '_semantic_' || a_id AS message_id, sim AS confidence
FROM pairs WHERE sim > 0.3"""


def q_llm_cost_estimate(spark, sf_dir):
    """Dry-run cost estimation grid (test_llm_extraction.py:18-114:
    the no-API-key estimate per provider x batch size) over the
    documents-derived message corpus."""
    from .plans.llm_metrics import estimate_llm_cost
    return estimate_llm_cost(docs_messages(spark, sf_dir))


SQL_LLM_COST_ESTIMATE = f"""
WITH {docs_msgs_sql()},
stats AS (SELECT count(*) AS n_messages,
                 count(DISTINCT segment_id) AS n_segments,
                 CAST(sum(length(clean_text)) // 4 AS BIGINT)
                   AS est_tokens
          FROM dmsgs),
grp AS (SELECT segment_id, type, count(*) AS n
        FROM dmsgs GROUP BY 1, 2),
bs AS (SELECT * FROM (VALUES (CAST(10 AS BIGINT)), (20), (50))
       AS t(batch_size)),
reqs AS (SELECT batch_size,
                CAST(sum((n + batch_size - 1) // batch_size) AS BIGINT)
                  AS est_requests
         FROM grp CROSS JOIN bs GROUP BY 1),
pr AS (SELECT * FROM (VALUES ('openai', 0.0035), ('claude', 0.0015))
       AS t(provider, rate_per_1k))
SELECT provider, batch_size, n_messages, n_segments, est_tokens,
       est_requests,
       round((est_tokens * rate_per_1k / 1000) * 1.5, 6)
         AS est_cost_usd
FROM reqs CROSS JOIN pr CROSS JOIN stats"""


def q_llm_efficiency_stats(spark, sf_dir):
    from .plans.llm_metrics import efficiency_stats
    return efficiency_stats(llm_calls_df(spark, sf_dir))


SQL_LLM_EFFICIENCY_STATS = f"""
WITH {SQL_LLM_CALLS_CTE}
SELECT provider, template_type,
       round(avg(CASE WHEN triples_count <> 0
                 THEN cost_usd / triples_count END), 6)
         AS avg_cost_per_triple,
       round(avg(cost_usd), 6) AS avg_cost,
       round(avg(triples_count), 6) AS avg_triples,
       count(*) AS n_calls
FROM lcalls GROUP BY provider, template_type"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Ordering contract: the correctness driver snapshots only the FIRST
# 50 entries, so position is coverage.  Round 4 rotated the 12 entries
# the driver had never gated into the top 50; round 5 rotates the two
# remaining never-driver-gated names (llm_cost_estimate,
# kg_link_semantic_lsh) into the top 50, demoting agg_pred_histogram
# and win_top5_per_type (driver-green rounds 2-4).
# scripts/check_oracles.py runs ALL entries regardless of position and
# commits the full artifact each round.
def _fixture_dir(sf_dir: str, kind: str) -> str:
    """Scratch dir for source-format fixtures: deterministic within
    a process (mode=overwrite keeps repeated runs idempotent), but
    pid-scoped so concurrent drivers/benches against the same sf
    basename never overwrite each other's directory mid-scan.

    The pid-scoped parent is removed at interpreter exit (round-6
    advice: the WARC/WET fixtures are full document-table copies, so
    orphaned per-pid dirs accumulate gigabytes under /tmp across
    sweeps) — cleanup after the process is done with every scan, so
    no query can observe a half-removed directory."""
    import atexit
    import os
    import shutil
    import tempfile
    base = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    parent = os.path.join(tempfile.gettempdir(),
                          f"kg_spark_fixtures_{os.getpid()}")
    if not getattr(_fixture_dir, "_cleanup_registered", False):
        atexit.register(shutil.rmtree, parent, ignore_errors=True)
        _fixture_dir._cleanup_registered = True
    return os.path.join(parent, f"{kind}_{base}")


def q_warc_pages(spark, sf_dir):
    """WARC front door (sources/warc.py::read_warc), oracle-checked
    end to end: a Common-Crawl-shaped WARC fixture is synthesized
    deterministically from the documents table — application/http-
    wrapped payloads with a REAL Content-Length over the HTTP block,
    exactly how CC frames response records — written with the native
    lineSep text writer, scanned back with read_warc (all-JVM
    framing + HTTP-header strip + length guard), and fingerprinted.
    DuckDB computes the expected (url, ts_epoch, n_bytes, html_md5)
    directly from documents, so the whole write->frame->parse->strip
    path is value-verified, not just round-tripped."""
    from .sources.warc import read_warc

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    url = F.concat(F.lit("http://cc.test/"),
                   F.col("doc_id").cast("string"))
    ts = F.timestamp_seconds(F.lit(1709251200) + F.col("doc_id") % 86400)
    html = F.concat(F.lit("<html><body>"), F.col("text"),
                    F.lit("</body></html>"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
        html)
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        url,
        F.lit("\r\nWARC-Date: "),
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit("\r\nContent-Type: application/http; msgtype=response"
              "\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"), http)
    out = _fixture_dir(sf_dir, "warc")
    (docs.select(rec.alias("value"))
     .write.mode("overwrite").option("lineSep", "\r\n\r\n").text(out))
    back = read_warc(spark, out)
    return back.select(
        F.col("url"),
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("html_md5"))


SQL_WARC_PAGES = """
SELECT 'http://cc.test/' || CAST(doc_id AS VARCHAR) AS url,
       1709251200 + doc_id % 86400 AS ts_epoch,
       CAST(strlen('<html><body>' || text || '</body></html>')
            AS BIGINT) AS n_bytes,
       md5('<html><body>' || text || '</body></html>') AS html_md5
FROM documents WHERE text IS NOT NULL"""


def q_wet_docs(spark, sf_dir):
    """WET text-extract door (sources/warc.py::read_wet/write_wet),
    oracle-checked: documents -> WET conversion records (with
    Content-Length) -> read_wet -> (url, ts_epoch, n_chars,
    text_md5); DuckDB computes the same from documents directly, so
    the conversion-record writer AND parser are value-verified."""
    from .sources.warc import read_wet, write_wet

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    wet_in = docs.select(
        F.concat(F.lit("http://cc.test/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(1709251200) + F.col("doc_id") % 86400)
         .alias("warc_ts"),
        F.col("text"))
    out = _fixture_dir(sf_dir, "wet")
    write_wet(wet_in, out)
    back = read_wet(spark, out)
    return back.select(
        "url",
        F.col("warc_ts").cast("long").alias("ts_epoch"),
        F.col("n_chars"),
        F.md5(F.encode("text", "utf-8")).alias("text_md5"))


SQL_WET_DOCS = """
SELECT 'http://cc.test/' || CAST(doc_id AS VARCHAR) AS url,
       1709251200 + doc_id % 86400 AS ts_epoch,
       CAST(length(text) AS BIGINT) AS n_chars,
       md5(text) AS text_md5
FROM documents WHERE text IS NOT NULL"""


# Ordering contract: the driver snapshots the FIRST 50 names into
# CORRECTNESS_r{N}.json; everything is additionally value-checked by
# the full sweep (scripts/check_oracles.py).  Rotation ledger (per-
# query most recent driver round) lives in COVERAGE.md — names whose
# last driver row is oldest rotate INTO the window; names green in
# many consecutive driver rounds rotate out.
QUERIES: dict[str, tuple[Callable, str | None]] = {
    # --- new this round: need a first driver row ---
    "warc_pages": (q_warc_pages, SQL_WARC_PAGES),
    "wet_docs": (q_wet_docs, SQL_WET_DOCS),
    # --- rotated back in: last driver row r3/r4 ---
    "agg_pred_histogram": (q_pred_histogram, SQL_PRED_HISTOGRAM),
    "win_top5_per_type": (q_top5_per_type, SQL_TOP5_PER_TYPE),
    "agg_hourly_events": (q_hourly_events, SQL_HOURLY_EVENTS),
    "agg_top_users": (q_top_users, SQL_TOP_USERS),
    "tpch_q1_pricing": (q_tpch_q1, SQL_TPCH_Q1),
    "tpch_q3_topk": (q_tpch_q3, SQL_TPCH_Q3),
    "tpch_q5_region_revenue": (q_tpch_q5, SQL_TPCH_Q5),
    "setop_lapsed_users": (q_setop_lapsed_users, SQL_SETOP_LAPSED),
    "agg_user_type_profile": (q_user_type_profile, SQL_USER_TYPE_PROFILE),
    "join_part_rollup": (q_part_supplier_rollup, SQL_PART_SUPPLIER_ROLLUP),
    "sample_first_last": (q_sample_first_last, SQL_SAMPLE_FIRST_LAST),
    "sample_hash": (q_sample_hash, SQL_SAMPLE_HASH),
    "win_lag_delta": (q_win_lag_delta, SQL_WIN_LAG_DELTA),
    "scalar_url_domains": (q_url_domains, SQL_URL_DOMAINS),
    # --- driver-green <= 3 consecutive rounds: stay in the window ---
    "kg_classify_zero_shot": (q_classify_zero_shot,
                              SQL_CLASSIFY_ZERO_SHOT),
    "kg_link_semantic": (q_link_semantic, SQL_LINK_SEMANTIC),
    "kg_link_semantic_lsh": (q_link_semantic_lsh,
                             SQL_LINK_SEMANTIC_LSH),
    "llm_cost_estimate": (q_llm_cost_estimate, SQL_LLM_COST_ESTIMATE),
    "win_session_counts": (q_session_counts, SQL_SESSION_COUNTS),
    "agg_json_props": (q_json_props, SQL_JSON_PROPS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_COSINE_TOPK),
    "text_metrics": (q_text_metrics, SQL_TEXT_METRICS),
    "graph_components": (q_graph_components, SQL_GRAPH_COMPONENTS),
    "kg_entity_canonical": (q_entity_canonical, SQL_ENTITY_CANONICAL),
    "kg_graph_nodes": (q_graph_nodes, SQL_GRAPH_NODES),
    "kg_graph_edges": (q_graph_edges, SQL_GRAPH_EDGES),
    "cmp_extract_variants": (q_cmp_extract_variants,
                             SQL_CMP_EXTRACT_VARIANTS),
    "agg_embed_stats": (q_embed_stats, SQL_EMBED_STATS),
    "scalar_ts_normalize": (q_ts_normalize, SQL_TS_NORMALIZE),
    "kg_prune_candidates": (q_prune_candidates, SQL_PRUNE_CANDIDATES),
    "discord_flatten": (q_discord_flatten, SQL_DISCORD_FLATTEN),
    "discord_repair_flatten": (q_repair_flatten, SQL_REPAIR_FLATTEN),
    "agg_msg_flag_stats": (q_msg_flag_stats, SQL_MSG_FLAG_STATS),
    "agg_confidence_varied": (q_confidence_varied, SQL_CONFIDENCE_VARIED),
    "ann_lsh_buckets": (q_lsh_buckets, SQL_LSH_BUCKETS),
    "ann_lsh_topk": (q_lsh_topk, SQL_LSH_TOPK),
    "ann_ivf_topk": (q_ivf_topk, SQL_IVF_TOPK),
    "embed_flatten": (q_embed_flatten, SQL_EMBED_FLATTEN),
    "llm_call_ratios": (q_llm_call_ratios, SQL_LLM_CALL_RATIOS),
    "llm_template_stats": (q_llm_template_stats, SQL_LLM_TEMPLATE_STATS),
    "llm_provider_stats": (q_llm_provider_stats, SQL_LLM_PROVIDER_STATS),
    "llm_efficiency_stats": (q_llm_efficiency_stats,
                             SQL_LLM_EFFICIENCY_STATS),
    "llm_hourly_activity": (q_llm_hourly_activity,
                            SQL_LLM_HOURLY_ACTIVITY),
    "llm_daily_cost": (q_llm_daily_cost, SQL_LLM_DAILY_COST),
    "kg_extractions_per_day": (q_extractions_per_day,
                               SQL_EXTRACTIONS_PER_DAY),
    "kg_attribute_outputs": (q_attribute_outputs, SQL_ATTRIBUTE_OUTPUTS),
    # --- position > 50: driver-green rounds 1-5 consecutively,
    # rotated out so the names above get an on-record driver row ---
    "kg_classify_counts": (q_classify_counts, SQL_CLASSIFY_COUNTS),
    "kg_extract_question": (q_extract_question, SQL_EXTRACT_QUESTION),
    "kg_extract_answer": (q_extract_answer, SQL_EXTRACT_ANSWER),
    "kg_extract_alert": (q_extract_alert, SQL_EXTRACT_ALERT),
    "kg_extract_strategy": (q_extract_strategy, SQL_EXTRACT_STRATEGY),
    "kg_extract_signal": (q_extract_signal, SQL_EXTRACT_SIGNAL),
    "kg_extract_performance": (q_extract_performance,
                               SQL_EXTRACT_PERFORMANCE),
    "kg_extract_analysis": (q_extract_analysis, SQL_EXTRACT_ANALYSIS),
    "kg_extract_discussion": (q_extract_discussion, SQL_EXTRACT_DISCUSSION),
    "kg_triples_dedup": (q_triples_dedup, SQL_TRIPLES_DEDUP),
    "kg_link_replies": (q_link_replies, SQL_LINK_REPLIES),
    "kg_link_mentions": (q_link_mentions, SQL_LINK_MENTIONS),
    "agg_confidence_stats": (q_confidence_stats, SQL_CONFIDENCE_STATS),
    "agg_distinct_counts": (q_distinct_counts, SQL_DISTINCT_COUNTS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_minhash_signatures": (q_dedup_minhash, SQL_DEDUP_MINHASH),
}
