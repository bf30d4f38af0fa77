"""Fuzz parity: adversarial random text through the Spark operators
vs the pure-Python oracle port, byte-for-byte.

Stronger than the corpus parity test: the generator emits hostile
inputs (unicode, Discord markup, runs of whitespace/newlines, regex
metacharacters, percentages, mixed case, empty-ish strings) and every
cleaned string / classification / extracted triple list must agree
exactly.  One Spark job for all examples (per-example round-trips
would be prohibitively slow).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from project_discord_knowledge_graph_spark.functions.cleaning import (
    clean_text_classifier_udf, clean_text_udf,
)
from project_discord_knowledge_graph_spark.operators.classify import (
    classify_expr,
)
from project_discord_knowledge_graph_spark.operators.extract import (
    extract_triples,
)
from project_discord_knowledge_graph_spark.oracle import reference_port as ref

_WORDS = ["buy", "SELL", "hodl", "TQQQ", "btc", "wheel", "covered call",
          "alert", "fomc", "what", "how", "anyone", "thoughts", "?",
          "+15%", "-3.5%", "profit", "lost", "made", "analysis",
          "outlook", "robinhood", "composer", "über", "naïve", "日本語",
          "<@123>", "<@!456>", "<#789>", "<@&321>", "<:fire:999>",
          "a" * 120, "\n", "\n\n\n\n", "\t\t", "   ", ".*", "(x|y)",
          "[z]", "\\b", "100%", "%", "strategy", "it's", '"quoted"',
          "emoji 🚀", ""]


def _fuzz_texts(n: int, seed: int = 99) -> list[str]:
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        k = rng.randrange(1, 25)
        sep = rng.choice([" ", "  ", " \t ", "\n", " "])
        out.append(sep.join(rng.choice(_WORDS) for _ in range(k)))
    out += ["", " ", "\n\n\n", "?", "what is", "x" * 500]
    return out


@pytest.fixture(scope="module")
def fuzz_df(spark):
    texts = _fuzz_texts(2000)
    return texts, spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["id", "content"])


def test_cleaners_byte_identical(fuzz_df):
    texts, df = fuzz_df
    rows = df.select(
        "id",
        clean_text_udf(F.col("content")).alias("p3"),
        clean_text_classifier_udf(F.col("content")).alias("p4"),
    ).collect()
    for r in rows:
        t = texts[int(r.id)]
        assert r.p3 == ref.clean_text_preprocessor(t), repr(t)
        assert r.p4 == ref.clean_text_classifier(t), repr(t)


def test_classifier_parity_on_fuzz(fuzz_df):
    texts, df = fuzz_df
    cleaned = df.select(
        "id", clean_text_udf(F.col("content")).alias("clean_text"))
    rows = cleaned.select(
        "id", "clean_text",
        classify_expr(F.col("clean_text")).alias("type")).collect()
    for r in rows:
        want = ref.classify(r.clean_text)
        assert r.type == want, repr(r.clean_text)


def test_fused_classifier_parity_on_fuzz(fuzz_df):
    """The parse-UDF-fused classifier (functions.cleaning
    ._classify_lowered, r07) must agree with the oracle port and the
    JVM classify_expr on every P3-cleaned fuzz string.  P3 output is
    always lowercase, which is the fused path's precondition."""
    from project_discord_knowledge_graph_spark.functions.cleaning import (
        _classify_lowered,
    )
    texts, _ = fuzz_df
    for t in texts:
        cleaned = ref.clean_text_preprocessor(t)
        assert cleaned == cleaned.lower(), repr(t)  # precondition
        assert _classify_lowered(cleaned) == ref.classify(cleaned), repr(t)


def test_timestamp_normalize_parity_on_fuzz(spark):
    """P2 fuzz: dirty-but-well-formed ISO strings (plus invalid
    calendar values and garbage) through the Spark normalizer vs the
    port, exact string equality.  The generated dialect sticks to
    2-digit fields (Python's fromisoformat and Spark's parser agree
    there); known divergence classes are excluded by construction:
    single-digit components (Spark accepts, Python rejects) and
    date-only strings (the reference's '-' -in-tail branch makes them
    machine-local-timezone-dependent)."""
    from project_discord_knowledge_graph_spark.functions.timestamps import (
        normalize_timestamps,
    )
    rng = random.Random(7)
    parts = dict(
        y=["2023", "2024"], m=["01", "02", "06", "12", "13"],
        d=["00", "01", "15", "28", "29", "30", "31", "32"],
        sep=["T", " "], H=["00", "12", "23", "24"],
        M=["00", "30", "59", "60"], S=["00", "59"],
        frac=["", ".123", ".500000", ".999999"],
        tz=["", "Z", "+00:00", "+05:30", "-04:00", "+14:00", "junk"],
    )
    texts = []
    for _ in range(600):
        p = {k: rng.choice(v) for k, v in parts.items()}
        texts.append(f"{p['y']}-{p['m']}-{p['d']}{p['sep']}"
                     f"{p['H']}:{p['M']}:{p['S']}{p['frac']}{p['tz']}")
    texts += ["", "   ", "not a date", "2024-02-29T23:59:59.999999Z"]

    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["id", "raw"])
    rows = normalize_timestamps(df, "raw").collect()
    for r in rows:
        t = texts[int(r.id)]
        want = ref.normalize_timestamp(t)
        assert r.timestamp_iso == want, repr(t)
        assert r.raw_valid == (want is not None), repr(t)


def test_segment_id_parity_on_fuzz(spark):
    """A1 fuzz: the export source's segment-id expression (thread
    slug / md5 hour-bucket from the RAW timestamp's wall clock) vs
    the port, over hostile thread names, unicode authors, and dirty
    timestamps."""
    from pyspark.sql import functions as F2

    from project_discord_knowledge_graph_spark.sources.discord_export \
        import segment_id_expr

    rng = random.Random(31)
    threads = [None, None, None, "BTC Talk!", "über-Thread",
               "a  b\tc", "日本語スレ", "x" * 80, "(regex)[chars].*",
               "", "UPPER lower 123"]
    channels = ["unknown", "general", "trading-floor", "ü-chan"]
    authors = ["alice", "BOB", "user über", "日本", "a|b-c"]
    stamps = ["2024-01-02T03:04:05Z", "2024-01-02T23:30:00+02:00",
              "2024-01-02 03:04:05.123456", "garbage", "",
              "2024-12-31T23:59:59Z",
              " 2024-01-02T03:04:05Z",   # leading space: unknown (both)
              "2024-1-5 3:04:05",        # unpadded: unknown (both)
              "2024-01-02",              # date-only: hour 00 (both)
              "2024-13-02T03:04:05Z"]    # bad month: unknown (both)
    rows = []
    for i in range(400):
        rows.append((str(i), rng.choice(threads), rng.choice(channels),
                     rng.choice(authors), rng.choice(stamps)))
    df = spark.createDataFrame(
        rows, ["id", "thread", "channel", "author", "raw_ts"])
    got = {r.id: r.seg for r in df.select(
        "id", segment_id_expr(F2.col("thread"), F2.col("channel"),
                              F2.col("author"), F2.col("raw_ts"))
        .alias("seg")).collect()}
    for rid, thread, channel, author, raw in rows:
        # reference semantics: empty thread string is falsy -> hash
        want = ref.segment_id(thread or None, channel, author, raw)
        assert got[rid] == want, (thread, channel, author, raw)


def test_extraction_parity_on_fuzz(spark, fuzz_df):
    texts, df = fuzz_df
    msgs = (df.select(
        F.col("id").alias("message_id"),
        F.lit("seg").alias("segment_id"),
        F.lit("2024-01-01T00:00:00+00:00").alias("timestamp"),
        F.lit("author").alias("author"),
        clean_text_udf(F.col("content")).alias("clean_text"))
        .withColumn("type", classify_expr(F.col("clean_text"))))

    got: dict[str, set] = {}
    for r in extract_triples(msgs).collect():
        got.setdefault(r.message_id, set()).add(
            (r.predicate, r.object, round(r.confidence, 6)))

    oracle_msgs = [dict(message_id=r.message_id, segment_id="seg",
                        timestamp="2024-01-01T00:00:00+00:00",
                        author="author", clean_text=r.clean_text,
                        type=ref.classify(r.clean_text))
                   for r in msgs.select("message_id", "clean_text")
                   .collect()]
    want: dict[str, set] = {}
    for m in oracle_msgs:
        fn = ref._STRATEGIES.get(m["type"])
        for t in (fn(m) if fn else []):
            want.setdefault(m["message_id"], set()).add(
                (t["predicate"], t["object"], round(t["confidence"], 6)))

    assert got == want, {
        k: (got.get(k), want.get(k))
        for k in set(got) ^ set(want) | {
            k for k in set(got) & set(want) if got[k] != want[k]}
    }


def test_strip_parity_on_all_whitespace(spark):
    """A8/P7 strip semantics over every character Python's str.strip()
    removes: aggregate_triples (dedup key, field strip, min object
    length) vs the port's dedup_and_validate, and the oracle SQL's
    strip (DuckDB) vs str.strip()."""
    import duckdb

    from project_discord_knowledge_graph_spark.config import PY_WHITESPACE
    from project_discord_knowledge_graph_spark.entry_queries import (
        _strip_sql,
    )
    from project_discord_knowledge_graph_spark.operators.dedup import (
        aggregate_triples,
    )

    assert PY_WHITESPACE == "".join(
        c for c in map(chr, range(0x110000)) if c.isspace())
    rng = random.Random(29)

    def pad():
        return "".join(rng.choice(PY_WHITESPACE)
                       for _ in range(rng.randrange(1, 3)))

    triples = []
    for ch in PY_WHITESPACE:
        for subj, obj in ((f"{ch}alice", f"btc{pad()}"),   # dup of next
                          ("alice", "btc"),
                          (f"{pad()}bob{ch}", f"{ch}eth{ch}"),
                          ("carol", f"{ch}x{pad()}"),       # too short
                          ("dave", ch * 3),                 # blank
                          (f"e{ch}ve", f"s{ch}ol")):        # inner kept
            triples.append(dict(
                subject=subj, predicate="mentions", object=obj,
                message_id=f"m{len(triples):05d}", segment_id="seg",
                timestamp="2024-01-01T00:00:00+00:00", confidence=0.6))
    want = {(t["message_id"], t["subject"], t["predicate"], t["object"])
            for t in ref.dedup_and_validate(triples)}
    df = spark.createDataFrame(triples).withColumn(
        "stage_priority", F.lit(0))
    got = {(r.message_id, r.subject, r.predicate, r.object)
           for r in aggregate_triples(df).collect()}
    assert got == want, sorted(got ^ want)[:10]

    con = duckdb.connect()
    for t in triples:
        s = t["subject"] + "|" + t["object"]
        assert con.execute(f"SELECT {_strip_sql('?')}",
                           [s]).fetchone()[0] == s.strip(), repr(s)
