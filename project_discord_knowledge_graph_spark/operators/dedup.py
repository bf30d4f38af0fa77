"""A8 keep-first dedup + P7 validation for triples.

The reference dedups with a Python insertion-ordered hash set
(llm_powered/nodes.py:650-664) — an order that does not exist under
parallelism.  We replace it with an explicit, documented total order:
(stage_priority, message_id, predicate, object), where stage_priority
encodes the reference's encounter order (per-type extraction first,
then reply links, then mention links, then semantic links —
extractor.py:569-592).  message_id is zero-padded in the synthetic
corpus so lexicographic order == arrival order.

Validation (nodes.py:667-691): non-empty s/p/o, confidence clamped to
[0,1] else 0.5, fields stripped, objects shorter than 2 chars dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import config as C


def pystrip(col: Column) -> Column:
    """Python str.strip(): btrim over the 29 characters it removes
    (config.PY_WHITESPACE — Java's regex \\s covers only 6 of them).
    Parity with the oracle port is pinned in
    tests/test_fuzz_parity.py::test_strip_parity_on_all_whitespace."""
    return F.btrim(col, F.lit(C.PY_WHITESPACE))


def dedup_key(subject, predicate, obj):
    """lower(f"{s}|{p}|{o}").strip() — nodes.py:660."""
    return pystrip(F.lower(F.concat_ws("|", subject, predicate, obj)))


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Keep-first by normalized (s,p,o) key under the explicit order.

    Implemented as min_by over a hash aggregate rather than a
    row_number window: the aggregate gets a map-side partial combine,
    so duplicate-heavy keys (the reference corpus is 49% alerts)
    collapse *before* the shuffle instead of being sorted after it —
    the shuffle moves one row per (key, mapper) instead of every
    duplicate.  Same result as the window formulation (tie order
    identical: min over (stage_priority, message_id, predicate,
    object)).
    """
    cols = [c for c in triples.columns]
    order = F.struct("stage_priority", "message_id", "predicate", "object")
    row = F.struct(*cols)
    return (
        triples
        .withColumn("_key", dedup_key(F.col("subject"), F.col("predicate"),
                                      F.col("object")))
        .groupBy("_key")
        .agg(F.min_by(row, order).alias("_r"))
        .select(*[F.col(f"_r.{c}").alias(c) for c in cols])
    )


def validate_triples(triples: DataFrame, min_object_len: int = 2
                     ) -> DataFrame:
    """P7 (nodes.py:667-691), applied after dedup as in the reference."""
    return (
        triples
        .where((F.col("subject") != "") & (F.col("predicate") != "")
               & (F.col("object") != ""))
        .withColumn("subject", pystrip(F.col("subject")))
        .withColumn("predicate", pystrip(F.col("predicate")))
        .withColumn("object", pystrip(F.col("object")))
        .withColumn(
            "confidence",
            F.when((F.col("confidence") >= 0.0)
                   & (F.col("confidence") <= 1.0), F.col("confidence"))
             .otherwise(F.lit(0.5)))
        .where(F.length("object") >= min_object_len)
    )


def aggregate_triples(*triple_dfs: DataFrame) -> DataFrame:
    """E11: union -> dedup -> validate (nodes.py:636-739)."""
    out = triple_dfs[0]
    for df in triple_dfs[1:]:
        out = out.unionByName(df)
    return validate_triples(dedup_triples(out)).drop("stage_priority")
