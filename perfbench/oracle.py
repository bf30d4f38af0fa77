"""Output checks: oracle fingerprints and graph invariants.

The triple oracle is `oracle/reference_port`, the package's
independent pure-Python port of the reference pipeline.  A triple set
is summarised by its row count and an order-independent fingerprint
(sum of per-row 64-bit digests of subject, predicate, object,
message_id and confidence rounded to 6 places), so the engine's output
is compared with the oracle's without sorting or shipping rows.
"""

from __future__ import annotations

import hashlib
import json

import pyarrow.dataset as ds

from project_discord_knowledge_graph_spark.oracle import reference_port as RP

FP_COLUMNS = ["subject", "predicate", "object", "message_id", "confidence"]


def fingerprint(rows) -> dict:
    """rows: iterable of (subject, predicate, object, message_id,
    confidence) -> {"count", "fp"}; equal multisets give equal values."""
    total, count = 0, 0
    for s, p, o, mid, conf in rows:
        key = f"{s}\x1f{p}\x1f{o}\x1f{mid}\x1f{round(float(conf), 6):.6f}"
        total += int.from_bytes(
            hashlib.blake2b(key.encode(), digest_size=8).digest(), "little")
        count += 1
    return {"count": count, "fp": f"{total % (1 << 64):016x}"}


def _triple_rows(triples: list[dict]):
    return ((t["subject"], t["predicate"], t["object"], t["message_id"],
             t["confidence"]) for t in triples)


def pages_oracle(msgs: list[dict]) -> dict:
    """Raw generator messages -> oracle fingerprint of the pages (and
    WARC) front doors."""
    raw = [dict(m, timestamp=m["timestamp"].isoformat()) for m in msgs]
    return fingerprint(_triple_rows(RP.run_from_raw(raw)))


def export_oracle(docs: list[str]) -> dict:
    """Export documents -> oracle fingerprint of the repaired export
    front door.  Documents that do not parse are skipped, as the
    repair door drops them."""
    msgs = []
    for d in docs:
        try:
            doc = json.loads(d)
        except ValueError:
            continue
        for m in RP.process_export(doc):
            m["type"] = RP.classify(m["clean_text"])
            msgs.append(m)
    return fingerprint(_triple_rows(RP.run_pipeline(msgs)))


def read_fingerprint(path: str) -> dict:
    """Fingerprint of a triples parquet directory written by Spark."""
    t = ds.dataset(path, format="parquet").to_table(columns=FP_COLUMNS)
    return fingerprint(zip(*(t.column(c).to_pylist() for c in FP_COLUMNS)))


def check_triples(path: str, want: dict) -> list[str]:
    got = read_fingerprint(path)
    if got != want:
        return [f"{path}: got {got}, oracle {want}"]
    return []


def graph_fingerprint(nodes_path: str) -> str:
    t = ds.dataset(nodes_path, format="parquet").to_table(
        columns=["canonical_id", "mentions"])
    h = 0
    for cid, ms in zip(t.column("canonical_id").to_pylist(),
                       t.column("mentions").to_pylist()):
        h += int.from_bytes(hashlib.blake2b(
            "\x1f".join([cid, *ms]).encode(), digest_size=8).digest(),
            "little")
    return f"{h % (1 << 64):016x}"


def check_graph(graph_path: str, n_triples: int,
                structural: tuple[str, ...],
                entity_objects: tuple[str, ...]) -> list[str]:
    """Invariants of a written nodes/edges graph:
    - each canonical_id is the smallest member of its component;
    - node count equals the number of distinct canonical ids;
    - every triple becomes one edge;
    - every edge endpoint that is an entity mention maps to a node
      (subjects of non-structural predicates, objects of
      entity-valued predicates, 1..64 characters)."""
    errs = []
    nodes = ds.dataset(f"{graph_path}/nodes", format="parquet").to_table(
        columns=["canonical_id", "mentions"])
    ids = nodes.column("canonical_id").to_pylist()
    for cid, ms in zip(ids, nodes.column("mentions").to_pylist()):
        if not ms or min(ms) != cid:
            errs.append(f"canonical_id {cid!r} is not the smallest of {ms[:5]}")
            break
    node_ids = set(ids)
    if len(node_ids) != len(ids):
        errs.append(f"{len(ids)} nodes for {len(node_ids)} canonical ids")
    edges = ds.dataset(f"{graph_path}/edges", format="parquet",
                       partitioning="hive").to_table(
        columns=["src", "dst", "subject", "object", "predicate"])
    if edges.num_rows != n_triples:
        errs.append(f"{edges.num_rows} edges for {n_triples} triples")
    cols = [edges.column(c).to_pylist()
            for c in ("src", "dst", "subject", "object", "predicate")]
    for src, dst, s, o, p in zip(*cols):
        if p not in structural and 0 < len(s) <= 64 and src not in node_ids:
            errs.append(f"edge source {src!r} ({p}) is not a node")
            break
        if p in entity_objects and 0 < len(o) <= 64 and dst not in node_ids:
            errs.append(f"edge target {dst!r} ({p}) is not a node")
            break
    return errs
