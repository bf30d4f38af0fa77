"""Self-tests of the benchmark: metric names, the event-log parser,
layer-time coverage of a traced pass, and the output check."""

import json
import os
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import eventlog
import gen
import oracle
import workloads
from spans import Tracer, layer_wall

from conftest import ROOT

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
E2E = {"wall_s": "s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB",
       "ok_frac": "ratio"}
LAYER_NAMES = ("classify", "stage_write", "repair", "flatten", "warc",
                "extract", "link", "dedup", "mentions", "lsh", "score", "cc",
                "graph_write")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_contract_and_code():
    bench = _bench()
    names = [m["name"] for k in ("end_to_end", "per_layer")
             for m in bench[k]] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E
    assert ({m["name"]: m["unit"] for m in bench["per_layer"]}
            == workloads.per_layer_units())
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert tuple(workloads.LAYERS) == LAYER_NAMES
    for layer in LAYER_NAMES:
        for m in workloads.GENERIC:
            assert f"{layer}.{m}" in workloads.per_layer_units()


def _task_end(stage, cpu_ns, shuffle_b, fetch_ms, spill_b, ok=True,
              accs=()):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else
                                "ExceptionFailure"},
            "Task Info": {"Launch Time": 1000, "Finish Time": 3000,
                          "Accumulables": [{"ID": i, "Update": str(u)}
                                           for i, u in accs]},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "Disk Bytes Spilled": spill_b,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_b},
                "Shuffle Read Metrics": {"Fetch Wait Time": fetch_ms},
                "Output Metrics": {"Bytes Written": 0}}}


def test_collect_exact_numbers_on_synthetic_log():
    sql = "org.apache.spark.sql.execution.ui."
    plan = {"nodeName": "Project", "metrics": [], "children": [
        {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": 7},
            {"name": "time to run Python workers", "accumulatorId": 8}]},
        {"nodeName": "ShuffledHashJoin", "children": [], "metrics": []}]}
    spans = [{"id": 0, "name": "a", "parent": None, "start": 0, "end": 5},
             {"id": 1, "name": "b", "parent": None, "start": 5, "end": 9}]
    events = [
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 0,
         "physicalPlanDescription": "initial", "sparkPlanInfo": plan},
        {"Event": sql + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 0, "physicalPlanDescription": "final",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000,
         "Properties": {"spark.jobGroup.id": "a",
                        "spark.sql.execution.id": "0"}},
        # no group: attributed by submission time to span b
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 6000, "Properties": {}},
        _task_end(0, 2_000_000_000, 2**20, 1500, 0, accs=[(7, 10), (8, 250)]),
        _task_end(1, 1_000_000_000, 2**20, 500, 3 * 2**20,
                  accs=[(7, 5), (8, 750)]),
        _task_end(2, 500_000_000, 0, 0, 0, ok=False),
    ]
    col = eventlog.collect(events, spans)
    a, b = col["layers"]["a"], col["layers"]["b"]
    assert a["jobs"] == 1 and b["jobs"] == 1
    assert a["cpu_s"] == pytest.approx(3.0)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["fetch_wait_s"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(3.0)
    assert a["py_rows"] == 15 and a["rows_by_node"] == {"ArrowEvalPython": 15}
    assert a["py_time_s"] == pytest.approx(1.0)
    assert a["failed_tasks"] == 0 and b["failed_tasks"] == 1
    assert b["cpu_s"] == pytest.approx(0.5)
    ex = col["executions"][0]
    assert ex["layer"] == "a" and ex["plan"] == "final"
    assert ex["joins"] == {"ShuffledHashJoin": 1}


def test_collect_on_tiny_two_layer_spark_job(spark_logged, tmp_path):
    """Two spans, each running known work; the parsed counters must
    land on the right layer with the right row counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    spark, log_dir = spark_logged

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    tracer = Tracer(spark.sparkContext, "t")
    with tracer.span("pass"):
        with tracer.span("shuffle"):
            n_groups = (spark.range(1000).groupBy(F.col("id") % 7)
                        .count().count())
        with tracer.span("python"):
            spark.range(500).select(plus_one("id").alias("x")) \
                .write.parquet(str(tmp_path / "out"))
    spark.stop()
    col = eventlog.collect(eventlog.read_events(log_dir), tracer.spans)
    shuffle, python = col["layers"]["shuffle"], col["layers"]["python"]
    assert n_groups == 7
    assert shuffle["shuffle_write_mb"] > 0 and shuffle["py_rows"] == 0
    assert python["rows_by_node"] == {"ArrowEvalPython": 500}
    assert python["py_sent_mb"] > 0 and python["bytes_written_mb"] > 0
    assert shuffle["failed_tasks"] == python["failed_tasks"] == 0
    assert set(col["layers"]) <= {"shuffle", "python", "pass"}
    walls = layer_wall(tracer.spans, ("shuffle", "python"))
    root = next(s for s in tracer.spans if s["name"] == "pass")
    assert sum(walls.values()) <= root["end"] - root["start"]


def test_resumable_span_splits_at_last_stage1_job():
    """The traced pages_to_graph pass calls run_resumable whole; its
    span splits at the end of the last job in run_resumable's stage-1
    job group, and the two halves cover it exactly."""
    group = f"kg_stage1_{workloads.TRACE_RUN_ID}"

    def job(i, grp, submit, end):
        return [{"Event": "SparkListenerJobStart", "Job ID": i,
                 "Submission Time": submit, "Stage IDs": [i],
                 "Properties": {"spark.jobGroup.id": grp}},
                {"Event": "SparkListenerJobEnd", "Job ID": i,
                 "Completion Time": end}]

    events = (job(0, group, 1100, 2000) + job(1, group, 2100, 4000)
              + job(2, "", 4200, 6500) + job(3, "mentions", 7100, 7900))
    spans = [{"id": i, "name": name, "parent": parent, "run_id": "t",
              "start": start, "end": end} for i, name, parent, start, end in (
                  (0, "pass", None, 0, 9), (1, "resumable", 0, 1, 7),
                  (2, "mentions", 0, 7, 8))]
    jobs = eventlog.jobs(events)
    assert [j["end_ms"] for j in jobs] == [2000, 4000, 6500, 7900]
    spans += workloads.PagesToGraph().derived_spans(spans, jobs)
    walls = layer_wall(spans, workloads.LAYERS)
    assert walls["stage_write"] == pytest.approx(3.0)
    assert walls["dedup"] == pytest.approx(3.0)
    assert walls["mentions"] == pytest.approx(1.0)
    layers = eventlog.collect(events, spans)["layers"]
    assert layers["stage_write"]["jobs"] == 2
    assert layers["dedup"]["jobs"] == 1 and layers["mentions"]["jobs"] == 1


@pytest.fixture()
def fresh_spark(tmp_path):
    from project_discord_knowledge_graph_spark.session import get_spark
    spark = get_spark("perfbench-traced", master="local[2]",
                      shuffle_partitions=2,
                      extra={"spark.driver.memory": "1g",
                             "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


def test_traced_layers_cover_traced_wall(fresh_spark, tmp_path):
    """Per-layer self times of a traced pass sum to within 10% of the
    traced end-to-end wall, and the traced output passes its check."""
    wl = workloads.ExportWarc()
    wl.n = 400
    inp, want = wl.inputs(str(tmp_path), 5), wl.oracle(5)
    tracer = Tracer(fresh_spark.sparkContext, "t")
    counts = dict.fromkeys(("extract.rows_out", "link.rows_out",
                            "dedup.rows_in", "dedup.rows_out"), 0)
    out = str(tmp_path / "out")
    with tracer.span("pass") as root:
        result, _ = wl.traced(fresh_spark, tracer, inp, out, counts)
    assert wl.check(out, want, result) == []
    wall = root["end"] - root["start"]
    layers = layer_wall(tracer.spans, workloads.LAYERS)
    assert 0.9 * wall <= sum(layers.values()) <= wall


def _write_triples(path, rows):
    cols = list(zip(*rows))
    pq.write_table(pa.table({c: list(v) for c, v in
                             zip(oracle.FP_COLUMNS, cols)}),
                   os.path.join(path, "part-0.parquet"))


def test_output_check_fails_on_corrupted_triples(tmp_path):
    rows = [("alice", "asks_about", "btc", "m1", 0.7),
            ("bob", "provides_info", "buy the dip", "m2", 0.8),
            ("m1", "answered_by", "m2", "m2", 0.9)]
    want = oracle.fingerprint(rows)
    for name, bad in {
            "good": rows,
            "object": [rows[0], rows[1][:2] + ("sell",) + rows[1][3:], rows[2]],
            "confidence": rows[:2] + [rows[2][:4] + (0.91,)],
            "dropped": rows[:2],
            "duplicated": rows + [rows[0]]}.items():
        d = tmp_path / name
        d.mkdir()
        _write_triples(str(d), bad)
        errs = oracle.check_triples(str(d), want)
        assert (errs == []) == (name == "good"), (name, errs)


def test_graph_check_flags_broken_invariants(tmp_path):
    def write(nodes, edges):
        base = tmp_path / f"g{len(list(tmp_path.iterdir()))}"
        (base / "nodes").mkdir(parents=True)
        (base / "edges" / "predicate=mentions_asset").mkdir(parents=True)
        pq.write_table(pa.table({"canonical_id": [n[0] for n in nodes],
                                 "mentions": [n[1] for n in nodes]}),
                       str(base / "nodes" / "p.parquet"))
        pq.write_table(pa.table(
            {k: [e[i] for e in edges]
             for i, k in enumerate(("src", "dst", "subject", "object"))}),
            str(base / "edges" / "predicate=mentions_asset" / "p.parquet"))
        return str(base)

    args = (("answered_by",), ("mentions_asset",))
    good = write([("a", ["a", "b"]), ("u", ["u"])],
                 [("u", "a", "u", "b")])
    assert oracle.check_graph(good, 1, *args) == []
    not_min = write([("b", ["a", "b"]), ("u", ["u"])],
                    [("u", "b", "u", "a")])
    assert oracle.check_graph(not_min, 1, *args)
    dangling = write([("a", ["a", "b"]), ("u", ["u"])],
                     [("u", "zzz", "u", "zzz")])
    assert oracle.check_graph(dangling, 1, *args)
    assert oracle.check_graph(good, 2, *args)  # an edge went missing


def test_probe_digests_match_manifest():
    with open(os.path.join(os.path.dirname(gen.__file__),
                           "manifest.json")) as f:
        assert gen.probe_digests() == json.load(f)["probe_digests"]
