"""The benchmark's workloads: inputs, oracle, untraced and traced passes.

An untraced pass makes the calls `scripts/run_pipeline.py` makes for
its front door and ends when the durable output is written and read
back.  A traced pass calls each layer's public function inside a span
and materialises the layer's output at its boundary
(`localCheckpoint`), so each layer's jobs run inside its own span.
The exception is `plans.lineage.run_resumable`, which the traced
`pages_to_graph` pass calls whole: its stage 1 (classify fused into
the staged write) and stage 2 (extract, link and dedup fused into one
write) are split from the event log (`derived_spans`).
"""

from __future__ import annotations

import json
import os
from contextlib import nullcontext

from project_discord_knowledge_graph_spark.operators.classify import with_type
from project_discord_knowledge_graph_spark.operators.dedup import aggregate_triples
from project_discord_knowledge_graph_spark.operators.entity import (
    ENTITY_OBJECT_PREDICATES, STRUCTURAL_PREDICATES, canonicalize,
    extract_mentions, link_entities, lsh_candidate_pairs_banded, score_pairs,
)
from project_discord_knowledge_graph_spark.operators.extract import extract_triples
from project_discord_knowledge_graph_spark.operators.graph import (
    build_edges, build_nodes, write_graph,
)
from project_discord_knowledge_graph_spark.operators.link import link_qa
from project_discord_knowledge_graph_spark.plans.lineage import run_resumable
from project_discord_knowledge_graph_spark.plans.pipeline import (
    build_triples, build_triples_from_export, classify_pages,
)
from project_discord_knowledge_graph_spark.sources.discord_export import (
    export_to_messages, read_discord_export_repaired,
)
from project_discord_knowledge_graph_spark.sources.warc import read_warc

import gen
import oracle

# Layer -> counters beyond the generic ones.  Layer names are package
# modules (see README.md for the module each wraps).
GENERIC = ("wall_s", "cpu_s", "shuffle_write_mb", "fetch_wait_s",
           "spill_mb", "failed_tasks", "rows_out")
PY = ("py_time_s", "py_sent_mb", "py_recv_mb", "py_rows")
LAYERS = {
    "classify": PY + ("evals_per_page",),
    "stage_write": ("bytes_written_mb", "jobs"),
    "repair": PY + ("docs_in", "docs_out"),
    "flatten": (),
    "warc": ("records_out",),
    "extract": (),
    "link": (),
    "dedup": ("rows_in",),
    "mentions": ("task_skew",),
    "lsh": ("candidate_pairs", "dropped_buckets", "task_skew",
            "repeat_identical"),
    "score": ("verified_pairs", "yield"),
    "cc": ("rounds", "jobs", "residual_edges"),
    "graph_write": ("bytes_written_mb", "nodes", "edges"),
}
TRACE = ("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
         "trace.layer_sum_frac")
UNITS = {"wall_s": "s", "cpu_s": "s", "fetch_wait_s": "s", "py_time_s": "s",
         "shuffle_write_mb": "MB", "spill_mb": "MB", "py_sent_mb": "MB",
         "py_recv_mb": "MB", "bytes_written_mb": "MB",
         "evals_per_page": "ratio", "task_skew": "ratio", "yield": "ratio",
         "repeat_identical": "bool", "untraced_wall_s": "s",
         "overhead_s": "s", "layer_sum_frac": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out = {}
    for layer, extra in LAYERS.items():
        for m in GENERIC + extra:
            out[f"{layer}.{m}"] = UNITS.get(m, "count")
    for name in TRACE:
        out[name] = UNITS[name.split(".", 1)[1]]
    return out


BUCKETS = 8  # run_resumable url-hash buckets
TRACE_RUN_ID = "perfbench_traced"  # run_resumable run id of a traced pass
WARM_N = 400  # set-up pass input size (pages or messages)


def _materialize(df):
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _written(spark, df, path):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def _span(tracer, name):
    return tracer.span(name) if tracer else nullcontext()


def _extract_link_dedup(spark, tracer, msgs, out_path, counts):
    with tracer.span("extract"):
        ex, n_ex = _materialize(extract_triples(msgs))
        counts["extract.rows_out"] += n_ex
    with tracer.span("link"):
        ln, n_ln = _materialize(link_qa(msgs))
        counts["link.rows_out"] += n_ln
    with tracer.span("dedup"):
        counts["dedup.rows_in"] += n_ex + n_ln
        n = _written(spark, aggregate_triples(ex, ln), out_path)
        counts["dedup.rows_out"] += n
    return n


class PagesToGraph:
    """pages parquet -> plans.lineage.run_resumable -> link_entities ->
    write_graph: the `run_pipeline.py --pages --link-entities` path."""

    name = "pages_to_graph"
    n = 8000
    classify_group = "untraced"   # span holding the untraced parse
    classify_layers = ("stage_write",)  # where the traced pass parses

    def inputs(self, cache: str, seed: int) -> dict:
        return {"pages": gen.ensure(cache, "pages", seed, self.n)}

    def warm_inputs(self, cache: str, seed: int) -> dict:
        return {"pages": gen.ensure(cache, "pages", seed, WARM_N)}

    def oracle(self, seed: int) -> dict:
        return {"pages": oracle.pages_oracle(gen.messages(seed, self.n))}

    def untraced(self, spark, inp, out, tracer=None) -> dict:
        with _span(tracer, "untraced"):
            summary = run_resumable(spark, inp["pages"], out,
                                    f"{out}/lineage", n_buckets=BUCKETS)
            if summary["pending_buckets"]:
                raise RuntimeError(f"run_resumable left {summary}")
            triples = spark.read.parquet(f"{out}/triples")
            cmap = link_entities(triples)
            write_graph(build_nodes(cmap), build_edges(triples, cmap),
                        f"{out}/graph")
            return {"triples": summary["triples_out"],
                    "nodes": spark.read.parquet(f"{out}/graph/nodes").count(),
                    "edges": spark.read.parquet(f"{out}/graph/edges").count()}

    def check(self, out, want, counts) -> list[str]:
        return (oracle.check_triples(f"{out}/triples", want["pages"])
                + oracle.check_graph(f"{out}/graph", counts["triples"],
                                     STRUCTURAL_PREDICATES,
                                     ENTITY_OBJECT_PREDICATES))

    def traced(self, spark, tracer, inp, out, counts):
        with tracer.span("resumable"):
            summary = run_resumable(spark, inp["pages"], out,
                                    f"{out}/lineage", n_buckets=BUCKETS,
                                    run_id=TRACE_RUN_ID)
            if summary["pending_buckets"]:
                raise RuntimeError(f"run_resumable left {summary}")
            counts["dedup.rows_out"] = summary["triples_out"]
        triples = spark.read.parquet(f"{out}/triples")
        nodes, edges, state = _graph_stage(spark, tracer, triples,
                                           f"{out}/graph", counts)
        return ({"triples": summary["triples_out"], "nodes": nodes,
                 "edges": edges}, dict(state, out=out))

    def after_trace(self, spark, tracer, state, counts) -> None:
        """Counters the fused run_resumable stages do not expose, read
        from the traced pass's staged messages, and the LSH repeat."""
        with tracer.span("counters"):
            msgs = spark.read.parquet(f"{state['out']}/messages")
            counts["classify.rows_out"] = msgs.count()
            counts["stage_write.rows_out"] = counts["classify.rows_out"]
            counts["extract.rows_out"] = extract_triples(msgs).count()
            counts["link.rows_out"] = link_qa(msgs).count()
            counts["dedup.rows_in"] = (counts["extract.rows_out"]
                                       + counts["link.rows_out"])
        with tracer.span("lsh_repeat"):
            counts["lsh.repeat_identical"] = _repeat_identical(
                state["mentions"], state["cands"])

    def derived_spans(self, spans, jobs) -> list[dict]:
        """Split the `resumable` span at the end of run_resumable's last
        stage-1 job (job group kg_stage1_<run_id>): stage_write before
        (input stats, classify + staged write, output counts), dedup
        after (lineage appends and stage 2's fused extract + link +
        dedup write)."""
        outer = next(s for s in spans if s["name"] == "resumable")
        ends = [j["end_ms"] / 1000 for j in jobs
                if j["group"] == f"kg_stage1_{TRACE_RUN_ID}"
                and j["end_ms"] is not None]
        cut = max(ends) if ends else outer["end"]
        base = max(s["id"] for s in spans) + 1
        return [{"id": base, "name": "stage_write", "parent": outer["id"],
                 "run_id": outer["run_id"], "start": outer["start"],
                 "end": cut},
                {"id": base + 1, "name": "dedup", "parent": outer["id"],
                 "run_id": outer["run_id"], "start": cut,
                 "end": outer["end"]}]


def _graph_stage(spark, tracer, triples, path, counts):
    """link_entities' steps, one span each, then write_graph.
    -> (nodes, edges, state for _repeat_identical)"""
    with tracer.span("mentions"):
        mentions, n = _materialize(extract_mentions(triples))
        counts["mentions.rows_out"] = n
    with tracer.span("lsh"):
        cands, stats = lsh_candidate_pairs_banded(mentions, 3,
                                                  return_stats=True)
        cands, n_cands = _materialize(cands)
        stats.pop("bucket_frame").unpersist()
        counts["lsh.rows_out"] = counts["lsh.candidate_pairs"] = n_cands
        counts["lsh.dropped_buckets"] = stats["n_dropped_buckets"]
    with tracer.span("score"):
        scored, n = _materialize(score_pairs(cands, min_jaccard=0.5))
        counts["score.rows_out"] = counts["score.verified_pairs"] = n
        counts["score.yield"] = n / n_cands if n_cands else 0.0
    with tracer.span("cc"):
        cmap, st = canonicalize(mentions, scored, return_stats=True)
        cmap, n = _materialize(cmap)
        counts["cc.rows_out"] = n
        counts["cc.rounds"] = st["rounds"]
        counts["cc.residual_edges"] = st["residual_edges"]
    with tracer.span("graph_write"):
        write_graph(build_nodes(cmap), build_edges(triples, cmap), path)
        nodes = spark.read.parquet(f"{path}/nodes").count()
        edges = spark.read.parquet(f"{path}/edges").count()
        counts["graph_write.rows_out"] = nodes + edges
        counts["graph_write.nodes"] = nodes
        counts["graph_write.edges"] = edges
    return nodes, edges, {"mentions": mentions, "cands": cands}


def _repeat_identical(mentions, first=None) -> int:
    """Build the candidate set from the same mentions again (twice when
    `first` is not given) in the same process; 1 when the builds are
    equal."""
    if first is None:
        first, _ = _materialize(lsh_candidate_pairs_banded(mentions, 3))
    again, _ = _materialize(lsh_candidate_pairs_banded(mentions, 3))
    same = (again.exceptAll(first).isEmpty()
            and first.exceptAll(again).isEmpty())
    return int(same)


class ExportWarc:
    """Two front doors per pass: the repaired Discord export
    (`--export-json --repair`) and the unstaged WARC path
    (`--warc-dir`), over the same generated messages."""

    name = "export_warc"
    n = 6000
    classify_group = "untraced.warc"
    classify_layers = ("classify",)

    def inputs(self, cache: str, seed: int) -> dict:
        return {"export": gen.ensure(cache, "export", seed, self.n),
                "warc": gen.ensure(cache, "warc", seed, self.n)}

    def warm_inputs(self, cache: str, seed: int) -> dict:
        return {"export": gen.ensure(cache, "export", seed, WARM_N),
                "warc": gen.ensure(cache, "warc", seed, WARM_N)}

    def oracle(self, seed: int) -> dict:
        return {"export": oracle.export_oracle(gen.export_docs(seed, self.n)),
                "warc": oracle.pages_oracle(gen.messages(seed, self.n))}

    def untraced(self, spark, inp, out, tracer=None) -> dict:
        with _span(tracer, "untraced"):
            with _span(tracer, "untraced.export"):
                n_exp = _written(spark, build_triples_from_export(
                    spark, inp["export"], repair=True),
                    f"{out}/export_triples")
            with _span(tracer, "untraced.warc"):
                n_warc = _written(spark, build_triples(
                    read_warc(spark, inp["warc"])), f"{out}/warc_triples")
        return {"export_triples": n_exp, "warc_triples": n_warc}

    def check(self, out, want, counts) -> list[str]:
        return (oracle.check_triples(f"{out}/export_triples", want["export"])
                + oracle.check_triples(f"{out}/warc_triples", want["warc"]))

    def traced(self, spark, tracer, inp, out, counts):
        with tracer.span("repair"):
            docs, n = _materialize(
                read_discord_export_repaired(spark, inp["export"]))
            counts["repair.docs_in"] = len(
                [f for f in os.listdir(inp["export"]) if f.endswith(".json")])
            counts["repair.rows_out"] = counts["repair.docs_out"] = n
        with tracer.span("flatten"):
            msgs, n = _materialize(with_type(export_to_messages(docs)))
            counts["flatten.rows_out"] = n
        n_exp = _extract_link_dedup(spark, tracer, msgs,
                                    f"{out}/export_triples", counts)
        with tracer.span("warc"):
            pages, n = _materialize(read_warc(spark, inp["warc"]))
            counts["warc.rows_out"] = counts["warc.records_out"] = n
        with tracer.span("classify"):
            msgs, n = _materialize(classify_pages(pages))
            counts["classify.rows_out"] = n
        n_warc = _extract_link_dedup(spark, tracer, msgs,
                                     f"{out}/warc_triples", counts)
        return ({"export_triples": n_exp, "warc_triples": n_warc},
                {"out": out})

    def after_trace(self, spark, tracer, state, counts) -> None:
        """The LSH repeat on the mentions of the WARC triples: this
        workload never runs the graph stage, but the repeat probes the
        process, not the pass."""
        with tracer.span("lsh_repeat"):
            mentions, _ = _materialize(extract_mentions(
                spark.read.parquet(f"{state['out']}/warc_triples")))
            counts["lsh.repeat_identical"] = _repeat_identical(mentions)

    def derived_spans(self, spans, jobs) -> list[dict]:
        return []


WORKLOADS = {w.name: w for w in (PagesToGraph(), ExportWarc())}


def load_oracle(cache: str, wl, seed: int) -> dict:
    """Oracle fingerprints for (workload, seed), computed once."""
    path = os.path.join(cache, f"oracle_{wl.name}_s{seed}_n{wl.n}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    want = wl.oracle(seed)
    with open(path + ".tmp", "w") as f:
        json.dump(want, f)
    os.replace(path + ".tmp", path)
    return want

