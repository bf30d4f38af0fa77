from __future__ import annotations

import pytest

from project_discord_knowledge_graph_spark.plans.analytics import (
    ALL_VIEWS, register_views, run_stage_metrics,
)
from project_discord_knowledge_graph_spark.plans.pipeline import (
    build_triples,
)
from project_discord_knowledge_graph_spark.sources.synth import pages_df


@pytest.fixture(scope="module")
def triples(spark):
    # keep the timestamp string column the views parse
    return build_triples(pages_df(spark, 200, seed=21)).select(
        "subject", "predicate", "object", "message_id", "segment_id",
        "timestamp", "confidence")


def test_all_views_answer(spark, triples):
    register_views(spark, triples)
    total = triples.count()
    hist = spark.sql("SELECT sum(n) FROM predicate_histogram").first()[0]
    assert hist == total
    conf = spark.sql(
        "SELECT * FROM confidence_by_predicate WHERE predicate = 'alerts'"
    ).first()
    assert conf.avg_conf == 0.8 and conf.share_high == 0.0
    top = spark.sql("SELECT * FROM top_subjects").collect()
    assert 0 < len(top) <= 10
    assert spark.sql(
        "SELECT sum(n) FROM hourly_timeline").first()[0] == total
    spread = spark.sql(
        "SELECT sum(n_triples) FROM segment_spread").first()[0]
    assert spread == total
    assert set(ALL_VIEWS) <= {
        t.name for t in spark.catalog.listTables()}


def test_run_stage_metrics(spark, tmp_path):
    from project_discord_knowledge_graph_spark.plans.lineage import (
        run_resumable,
    )
    pages = str(tmp_path / "pages")
    pages_df(spark, 100, seed=22).write.parquet(pages)
    run_resumable(spark, pages, str(tmp_path / "out"),
                  str(tmp_path / "lin"), n_buckets=2)
    lineage = spark.read.parquet(str(tmp_path / "lin"))
    m = {r.stage: r for r in run_stage_metrics(lineage).collect()}
    assert m["messages"].n_partitions == 2
    assert m["messages"].success_rate == 1.0
    assert m["aggregate"].rows_out > 0
    assert m["messages"].high_watermark is not None


def test_pystrip_btrim_equivalent(spark):
    """operators.dedup.pystrip (btrim over config.PY_WHITESPACE) must
    equal Python's str.strip() — the reference's strip — on every
    boundary combination of the six ASCII \\s chars, and strip the
    non-ASCII whitespace str.strip() strips too (NBSP, em space)."""
    import itertools

    from pyspark.sql import functions as F

    ws = [" ", "\t", "\n", "\x0b", "\x0c", "\r", "x", ""]
    cases = ["".join(p) + "mid dle" + "".join(q)
             for p in itertools.product(ws, repeat=2)
             for q in itertools.product(ws, repeat=2)]
    cases += ["", " ", "\xa0pad\xa0", "\u2003x\u2003"]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    from project_discord_knowledge_graph_spark.operators.dedup import pystrip
    bad = [(r.s, r.b) for r in df.select(
        "s", pystrip(F.col("s")).alias("b")).collect()
        if r.b != r.s.strip()]
    assert bad == []
