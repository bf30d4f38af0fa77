"""Benchmark-owned input generation, cached by seed and size.

Every input is a pure function of (kind, seed, n).  Message content
comes from the package's index-deterministic generator
(`sources.synth_dist.build_msg`) and page html from
`functions.html.render_page`; the benchmark owns the file formats, the
malformed-export share and the unparseable documents.  Because the
package generator can change under a later commit, `probe_digests()`
hashes a small fixed probe of every kind and `run.py` compares it with
`manifest.json` before each run: a commit that edits the generator
cannot silently change a workload.

Each cached input directory carries a `_SHA256` digest over its files,
re-verified every time the cache is reused.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from project_discord_knowledge_graph_spark.functions.html import render_page
from project_discord_knowledge_graph_spark.sources.synth_dist import build_msg

N_FILES = 4
EXPORT_PER_DOC = 2000
MALFORMED_SHARE = 0.1     # messages with bare-string / non-dict fields
UNPARSEABLE_DOCS = 2      # truncated JSON documents, dropped by repair
PROBE_SEED, PROBE_N = 0, 40


def messages(seed: int, n: int) -> list[dict]:
    return [build_msg(i, seed) for i in range(n)]


def _page(m: dict) -> tuple:
    html = render_page(
        message_id=m["message_id"], author=m["author"],
        channel=m["channel"], thread=m["thread"], reply_to=m["reply_to"],
        mentions=m["mentions"], lang=m["lang"], text=m["content"])
    url = f"https://forum.example.com/{m['channel']}/{m['message_id']}"
    return url, m["timestamp"], html.encode("utf-8"), m["content"], m["lang"]


def page_rows(seed: int, n: int) -> list[tuple]:
    return [_page(m) for m in messages(seed, n)]


def write_pages(path: str, rows: list[tuple]) -> None:
    url, ts, html, text, lang = (list(c) for c in zip(*rows))
    table = pa.table({
        "url": pa.array(url, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string())})
    step = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step),
                       f"{path}/part-{k:05d}.parquet")


def warc_bytes(rows: list[tuple]) -> bytes:
    """ISO 28500 framing, one `response` record per page; a
    `warcinfo` record leads each file and is filtered by the reader."""
    out = [b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 0"
           b"\r\n\r\n\r\n\r\n"]
    for url, ts, html, _, _ in rows:
        date = ts.astimezone(dt.timezone.utc).strftime(
            "%Y-%m-%dT%H:%M:%S.%fZ")
        out.append(
            (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}"
             f"\r\nWARC-Date: {date}\r\nContent-Type: text/html\r\n"
             f"Content-Length: {len(html)}\r\n\r\n").encode()
            + html + b"\r\n\r\n")
    return b"".join(out)


def write_warc(path: str, rows: list[tuple]) -> None:
    step = -(-len(rows) // N_FILES)
    for k in range(N_FILES):
        with open(f"{path}/part-{k:05d}.warc", "wb") as f:
            f.write(warc_bytes(rows[k * step:(k + 1) * step]))


def _export_msg(m: dict, rng: random.Random) -> dict:
    em = {"id": m["message_id"], "timestamp": m["timestamp"].isoformat(),
          "content": m["content"],
          "author": {"id": m["author"], "name": m["author"],
                     "roles": [{"id": "r1", "name": "member"}]}}
    if m["mentions"]:
        em["mentions"] = [{"id": None, "name": x} for x in m["mentions"]]
    if m["reply_to"]:
        em["reference"] = {"messageId": m["reply_to"]}
    if m["thread"]:
        em["thread"] = {"name": m["thread"]}
    if rng.random() < MALFORMED_SHARE:
        # the shapes the repair door exists for: bare-string roles and
        # mentions, non-dict attachments and reactions
        em["author"]["roles"] = ["member", 7, {"name": "vip"}]
        em["mentions"] = [x for x in m["mentions"]] + ["42"]
        em["attachments"] = ["junk.png", {"fileName": "f.png",
                                          "url": "http://x/f", "fileSizeBytes": 5}]
        em["reactions"] = [3, {"emoji": {"name": "+1"}, "count": 2}]
    return em


def export_docs(seed: int, n: int) -> list[str]:
    """Channel-export JSON documents of EXPORT_PER_DOC messages each,
    plus UNPARSEABLE_DOCS truncated documents."""
    rng = random.Random(f"{seed}:export")
    msgs = messages(seed, n)
    docs = []
    for fi, start in enumerate(range(0, n, EXPORT_PER_DOC)):
        chunk = msgs[start:start + EXPORT_PER_DOC]
        docs.append(json.dumps({
            "guild": {"id": "g1", "name": "bench"},
            "channel": {"id": f"c{fi}", "name": chunk[0]["channel"]},
            "messages": [_export_msg(m, rng) for m in chunk]}))
    for k in range(UNPARSEABLE_DOCS):
        docs.append(docs[k % len(docs)][: 1000 + 37 * k])
    return docs


def write_export(path: str, docs: list[str]) -> None:
    for k, d in enumerate(docs):
        with open(f"{path}/export_{k:05d}.json", "w") as f:
            f.write(d)


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.startswith("_"):
            continue
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _rows_digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for url, ts, html, text, lang in rows:
        h.update(repr((url, ts.isoformat(), text, lang)).encode())
        h.update(html)
    return h.hexdigest()


def probe_digests() -> dict[str, str]:
    """Content digests of a fixed small probe of every input kind."""
    rows = page_rows(PROBE_SEED, PROBE_N)
    return {
        "pages": _rows_digest(rows),
        "warc": hashlib.sha256(warc_bytes(rows)).hexdigest(),
        "export": hashlib.sha256(
            "\n".join(export_docs(PROBE_SEED, PROBE_N)).encode()).hexdigest(),
    }


WRITERS = {
    "pages": lambda path, seed, n: write_pages(path, page_rows(seed, n)),
    "warc": lambda path, seed, n: write_warc(path, page_rows(seed, n)),
    "export": lambda path, seed, n: write_export(path, export_docs(seed, n)),
}


def ensure(cache: str, kind: str, seed: int, n: int) -> str:
    """Path of the cached input (kind, seed, n), generated on first
    use; a reused input whose digest changed raises."""
    path = os.path.join(cache, f"{kind}_s{seed}_n{n}")
    marker = os.path.join(path, "_SHA256")
    if os.path.exists(marker):
        with open(marker) as f:
            want = f.read().strip()
        if dir_digest(path) != want:
            raise RuntimeError(f"cached input {path} changed on disk")
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    WRITERS[kind](path, seed, n)
    with open(marker, "w") as f:
        f.write(dir_digest(path))
    return path
