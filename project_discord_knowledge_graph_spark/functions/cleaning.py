"""Text cleaners P3/P4 — byte-parity with Python `re` semantics.

Two deliberately *different* cleaners exist in the reference and must
never be unified (SURVEY.md section 7):

- P3 `clean_text_preprocessor` (preprocessor.py:119-138): lowercase,
  collapse >=3 newlines to 2, collapse spaces/tabs, strip, rewrite
  Discord markup to readable tokens (@user1, #channel1, @role1, :emoji:).
- P4 `clean_text_classifier` (classifier.py:65-104): lowercase,
  collapse ALL whitespace to single spaces, strip, rewrite markup to
  [mention]/[channel]/[emoji] placeholders.

BASELINE requires byte-identical cleaned text per row vs the
reference, so both are Arrow-batched pandas UDFs running the exact
Python-`re` substitutions, vectorized over `pd.Series` (the reference
itself vectorizes this way in classifier.clean_texts_batch).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType


import re as _re

# Compiled once; the per-row fast paths below are r07 optimization
# work (guide "per-task work"): the original 8-pass pandas .str chain
# reallocated every row on every pass (r"[ \t]+" matches every single
# space, so even identity rewrites copied the string).  Each rewrite
# here is provably identical output:
#   [ \t]+ -> " "  ==  [ \t]{2,} -> " " then lone "\t" -> " "
#     (runs >= 2 collapse first; surviving tabs are singletons);
#   \s+ -> " "     ==  \s{2,} -> " " then single [^\S ] -> " ";
#   the markup rewrites cannot match without a "<";
#   \n\s*\n\s*\n+ cannot match without a "\n".
# Byte-equality is pinned by the parity fuzz suite and the oracle rows.
_P3_NL3 = _re.compile(r"\n\s*\n\s*\n+")
_P3_SP2 = _re.compile(r"[ \t]{2,}")
_P3_USER = _re.compile(r"<@!?(\d+)>")
_P3_CHAN = _re.compile(r"<#(\d+)>")
_P3_ROLE = _re.compile(r"<@&(\d+)>")
_P3_EMOJI = _re.compile(r"<:(\w+):\d+>")
_P4_WS2 = _re.compile(r"\s{2,}")
_P4_WS1 = _re.compile(r"[^\S ]")
_P4_MENT = _re.compile(r"<@!?\d+>")
_P4_CHAN = _re.compile(r"<#\d+>")
_P4_EMOJI = _re.compile(r"<:\w+:\d+>")


def _clean_preprocessor_one(t: str) -> str:
    t = t.lower()
    if "\n" in t:
        t = _P3_NL3.sub("\n\n", t)
    t = _P3_SP2.sub(" ", t)
    if "\t" in t:
        t = t.replace("\t", " ")
    t = t.strip()
    if "<" in t:
        t = _P3_USER.sub(r"@user\1", t)
        t = _P3_CHAN.sub(r"#channel\1", t)
        t = _P3_ROLE.sub(r"@role\1", t)
        t = _P3_EMOJI.sub(r":\1:", t)
    return t


def _clean_classifier_one(t: str) -> str:
    t = t.lower()
    t = _P4_WS2.sub(" ", t)
    if _P4_WS1.search(t):
        t = _P4_WS1.sub(" ", t)
    t = t.strip()
    if "<" in t:
        t = _P4_MENT.sub("[mention]", t)
        t = _P4_CHAN.sub("[channel]", t)
        t = _P4_EMOJI.sub("[emoji]", t)
    return t


def clean_preprocessor_series(s: pd.Series) -> pd.Series:
    return s.fillna("").map(_clean_preprocessor_one)


def clean_classifier_series(s: pd.Series) -> pd.Series:
    return s.fillna("").map(_clean_classifier_one)


@F.pandas_udf(StringType())
def clean_text_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """P3 preprocessor cleaner (the pipeline's clean_text)."""
    for s in batches:
        yield clean_preprocessor_series(s)


@F.pandas_udf(StringType())
def clean_text_classifier_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """P4 classifier cleaner (kept separate on purpose)."""
    for s in batches:
        yield clean_classifier_series(s)


_META_RE = None
_SLUG_RE = None

# C1 classifier, fused into the parse pass (r07): the per-class
# alternations are the same provably-equivalent merge as the JVM
# classify_expr (search(p1|p2) == search(p1) or search(p2)), compiled
# once per worker.  Input is this module's own P3 output, which is
# always lowercase (P3 lowers first; every later rewrite inserts only
# lowercase/symbol text), so the reference's text.lower() is the
# identity here and is skipped.  Equality with operators.classify
# .classify_expr / the oracle port is pinned by tests
# (test_parity.py::test_fused_classify_matches_with_type + fuzz).
_C1 = None


def _c1_patterns():
    import re
    from .. import config as C
    merged = lambda ps: re.compile(  # noqa: E731
        "|".join(f"(?:{p})" for p in ps))
    return (re.compile(C.PERFORMANCE_PATTERN),
            re.compile(C.RETURN_KEYWORDS),
            merged(C.CLASSIFIER_ALERT_PATTERNS),
            merged(C.CLASSIFIER_QUESTION_PATTERNS),
            merged(C.CLASSIFIER_STRATEGY_PATTERNS),
            merged(C.CLASSIFIER_ANALYSIS_PATTERNS))


def _classify_lowered(text: str) -> str:
    """nodes.py:200-226 precedence over already-lowercase text.

    Lazy init lives HERE (not in the UDF wrapper): the decorated UDF
    is pickled by value with a *copy* of the module globals, so a
    `global` assignment from inside it would not reach this
    by-reference function."""
    global _C1
    if _C1 is None:
        _C1 = _c1_patterns()
    perf, ret, alert, ques, strat, anal = _C1
    if perf.search(text) and ret.search(text):
        return "performance"
    if alert.search(text):
        return "alert"
    if ques.search(text):
        return "question"
    if strat.search(text):
        return "strategy"
    if anal.search(text):
        return "analysis"
    if len(text) > 50 and not text.endswith("?"):
        return "answer"
    return "discussion"


_PARSE_PAGE_SCHEMA = StructType([
    StructField(n, StringType())
    for n in ("clean_text", "message_id", "author", "channel", "thread",
              "thread_slug", "reply_to", "mentions_csv", "type")
])


@F.pandas_udf(_PARSE_PAGE_SCHEMA)
def parse_page_udf(html: pd.Series) -> pd.DataFrame:
    """html(binary) -> clean main text + page metadata, ONE Arrow pass.

    Fuses boilerplate extraction, P3 cleaning and the <meta> field
    parse into a single Python traversal of each page — measured 1.6x
    faster than extracting text in Python and parsing metadata with
    six JVM regexp_extract passes over the decoded html (each JVM
    regex re-scans the full 1-2 KB page; here one compiled findall
    collects all fields).
    """
    global _META_RE, _SLUG_RE
    import re
    if _META_RE is None:
        _META_RE = re.compile(r'<meta name="([a-z-]+)" content="([^"]*)">')
        # thread slug computed here rather than as a JVM
        # regexp_replace: this is the reference's own Python re.sub
        # (preprocessor.py:144-147, mirrored at reference_port.py:93),
        # and Spark's per-row RegExpReplace measured ~0.9 s over the
        # 40%-threaded 2M-page corpus vs negligible in this pass.
        _SLUG_RE = re.compile(r"[^a-zA-Z0-9]")
    from .html import extract_text
    texts, metas = [], []
    for b in html:
        h = (b.decode("utf-8", errors="replace")
             if isinstance(b, (bytes, bytearray)) else (b or ""))
        metas.append(dict(_META_RE.findall(h)))
        texts.append(extract_text(h))
    cleaned = clean_preprocessor_series(pd.Series(texts, dtype="object"))
    threads = [m.get("thread", "") for m in metas]
    return pd.DataFrame({
        "clean_text": cleaned.values,
        "message_id": [m.get("message-id", "") for m in metas],
        "author": [m.get("author", "") for m in metas],
        "channel": [m.get("channel", "") for m in metas],
        "thread": threads,
        "thread_slug": ["thread-" + _SLUG_RE.sub("-", t.lower()) if t
                        else "" for t in threads],
        "reply_to": [m.get("reply-to", "") for m in metas],
        "mentions_csv": [m.get("mentions", "") for m in metas],
        "type": [_classify_lowered(t) for t in cleaned],
    })


# pure functions, but nondeterministic marking prevents Catalyst from
# duplicating the UDF when filters are pushed through projections
# (see functions/html.py for the measurement)
clean_text_udf = clean_text_udf.asNondeterministic()
clean_text_classifier_udf = clean_text_classifier_udf.asNondeterministic()
parse_page_udf = parse_page_udf.asNondeterministic()
