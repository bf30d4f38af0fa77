"""One messages handoff per front door: the source's Python stage runs
once per input row, and a persisted handoff never outlives its
invocation."""

from __future__ import annotations

import json

import pytest

from project_discord_knowledge_graph_spark.plans.pipeline import (
    HANDOFF_VIEW, build_triples, build_triples_from_export, classify_pages,
    release_handoff, triples_from_messages,
)
from project_discord_knowledge_graph_spark.sources.pages import read_pages
from project_discord_knowledge_graph_spark.sources.synth import pages_df
from project_discord_knowledge_graph_spark.sources.warc import (
    read_warc, write_warc,
)

N_PAGES = 120
N_DOCS, MSGS_PER_DOC = 3, 20
# Python-boundary plan nodes, plus the RDD scan a foreachBatch
# micro-batch arrives as: its rows are computed upstream of the scan
# (the export stream's clean-text UDF runs there), once per scan.
PY_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow",
            "BatchEvalPython", "Scan ExistingRDD")


def _python_rows(spark, action) -> dict[str, int]:
    """Run `action`; -> output rows per PY_NODES node type over the SQL
    executions it started.  A physical node is counted once per
    execution, also where several scans read one persisted plan."""
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        execs = store.executionsList()
        return {execs.apply(i).executionId() for i in range(execs.size())}

    before = ids()
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    rows: dict[str, int] = {}
    for eid in ids() - before:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        seen = set()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if node.name() not in PY_NODES:
                continue
            metrics = node.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                acc = m.accumulatorId()
                if m.name() != "number of output rows" or acc in seen:
                    continue
                seen.add(acc)
                v = values.get(acc)
                if v.isDefined():
                    rows[node.name()] = (rows.get(node.name(), 0)
                                         + int(v.get().replace(",", "")))
    return rows


def _export_doc(d: int, bare_mentions: bool = False) -> dict:
    msgs = []
    for i in range(MSGS_PER_DOC):
        m = {"id": f"d{d}m{i:03d}",
             "timestamp": f"2024-01-02T03:{i:02d}:00Z",
             "content": ("what should i buy, btc or eth?" if i % 2 == 0
                         else "i would buy btc, the trend looks strong "
                              "and the outlook is bullish"),
             "author": {"id": f"a{i % 4}", "name": f"user{i % 4}"}}
        if i % 2:
            m["reference"] = {"messageId": f"d{d}m{i - 1:03d}"}
        if bare_mentions:
            m["mentions"] = [f"user{(i + 1) % 4}"]
        msgs.append(m)
    return {"channel": {"id": f"c{d}", "name": f"chan{d}"},
            "messages": msgs}


def _write_exports(base, bare_mentions=False) -> str:
    base.mkdir()
    for d in range(N_DOCS):
        (base / f"chan{d}.json").write_text(
            json.dumps(_export_doc(d, bare_mentions)))
    return str(base)


def _write(df, path):
    df.write.mode("overwrite").parquet(path)
    release_handoff(df.sparkSession)


# Each door writes its inputs under `tmp` and returns the front-door
# call (input preparation stays outside the counted executions).
def _door_pages(spark, tmp, stage_dir=None):
    path, out = str(tmp / "pages"), str(tmp / "out")
    pages_df(spark, N_PAGES, seed=31).write.parquet(path)
    return lambda: _write(build_triples(read_pages(spark, path),
                                        stage_dir=stage_dir), out)


def _door_warc(spark, tmp):
    path, out = str(tmp / "warc"), str(tmp / "out")
    write_warc(pages_df(spark, N_PAGES, seed=32), path)
    return lambda: _write(build_triples(read_warc(spark, path)), out)


def _door_export(spark, tmp, repair=False):
    path = _write_exports(tmp / "exports", bare_mentions=repair)
    return lambda: _write(build_triples_from_export(spark, path,
                                                    repair=repair),
                          str(tmp / "out"))


def _door_stream_pages(spark, tmp):
    from project_discord_knowledge_graph_spark.streaming.stream import (
        stream_pages, streaming_triples,
    )
    pages_df(spark, N_PAGES, seed=33).coalesce(1).write.parquet(
        str(tmp / "landing"))
    return lambda: streaming_triples(
        stream_pages(spark, str(tmp / "landing")), str(tmp / "out"),
        str(tmp / "ckpt")).awaitTermination(120)


def _door_stream_export(spark, tmp):
    from project_discord_knowledge_graph_spark.streaming.stream import (
        stream_discord_exports, streaming_export_triples,
    )
    path = _write_exports(tmp / "exports")
    return lambda: streaming_export_triples(
        stream_discord_exports(spark, path, max_files_per_trigger=N_DOCS),
        str(tmp / "out"), str(tmp / "ckpt")).awaitTermination(120)


# front door -> (door, {node: input rows it should see once})
DOORS = {
    "staged_pages": (lambda s, t: _door_pages(s, t, str(t / "stage")),
                     {"ArrowEvalPython": N_PAGES}),
    "unstaged_pages": (_door_pages, {"ArrowEvalPython": N_PAGES}),
    "warc": (_door_warc, {"ArrowEvalPython": N_PAGES}),
    "export": (_door_export, {"ArrowEvalPython": N_DOCS * MSGS_PER_DOC}),
    "export_repair": (lambda s, t: _door_export(s, t, repair=True),
                      {"MapInPandas": N_DOCS,
                       "ArrowEvalPython": N_DOCS * MSGS_PER_DOC}),
    "stream_pages": (_door_stream_pages, {"ArrowEvalPython": N_PAGES,
                                          "Scan ExistingRDD": N_PAGES}),
    "stream_export": (_door_stream_export,
                      {"Scan ExistingRDD": N_DOCS * MSGS_PER_DOC}),
}


@pytest.mark.parametrize("door", sorted(DOORS))
def test_python_stage_runs_once_per_input_row(spark, tmp_path, door):
    door_fn, inputs = DOORS[door]
    rows = _python_rows(spark, door_fn(spark, tmp_path))
    assert rows == inputs, (door, rows)
    assert not spark.catalog.tableExists(HANDOFF_VIEW)


def _spo(df):
    return {(r.subject, r.predicate, r.object) for r in df.collect()}


def test_rewritten_input_gets_fresh_triples(spark, tmp_path):
    """Two invocations over one path whose files are replaced between
    them outside the session (as a crawler lands a new slice; a Spark
    overwrite would refresh the cache itself): the second parses the
    new files instead of serving the first's persisted messages, and
    after the caller's release no handoff entry is left."""
    import shutil

    path = tmp_path / "pages"
    want = {}
    for seed, n in ((41, 150), (42, 90)):
        pages_df(spark, n, seed=seed).write.parquet(
            str(tmp_path / f"src{seed}"))
        want[seed] = _spo(triples_from_messages(
            classify_pages(pages_df(spark, n, seed=seed))))
    assert want[41] != want[42]

    got = {}
    for seed, n in ((41, 150), (42, 90)):
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(tmp_path / f"src{seed}", path)
        triples = build_triples(read_pages(spark, str(path)))
        rows = _python_rows(spark, lambda: got.update(
            {seed: _spo(triples)}))
        assert rows == {"ArrowEvalPython": n}, (seed, rows)
    assert got == want

    messages = classify_pages(read_pages(spark, str(path)))
    assert messages.storageLevel.useMemory  # the live handoff
    release_handoff(spark)
    level = messages.storageLevel
    assert not (level.useMemory or level.useDisk)
    assert not spark.catalog.tableExists(HANDOFF_VIEW)
