"""Deterministic html→text extraction and tokenization.

These are the engine's two text UDFs (SURVEY.md §2.7 "[ours]"). The pure
functions here are shared verbatim by the pure-python oracle
(``osu_elastic_indexer_spark.oracle``) and by the Spark pandas UDFs below —
that sharing is what makes the per-url byte-identical-text invariant
(BASELINE.json input_hint) and rank-identity hold by construction.

Determinism rules (SURVEY.md §7.4 #2): no locale-dependent behavior —
``str.casefold`` for case normalization, explicit entity tables, compiled
regexes only.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

# ---------------------------------------------------------------------------
# pure functions (oracle + UDF shared)
# ---------------------------------------------------------------------------

_BODY_RE = re.compile(rb"<body[^>]*>(.*)</body>", re.DOTALL | re.IGNORECASE)
_SCRIPT_STYLE_RE = re.compile(
    rb"<(script|style)[^>]*>.*?</\1>", re.DOTALL | re.IGNORECASE
)
_TAG_RE = re.compile(rb"<[^>]*>")
# token = maximal run of unicode word chars excluding underscore
_TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

# inverse of html_escape() below; strip tags FIRST, then unescape, so a tag
# inserted mid-entity by the fixture generator still round-trips exactly
_UNESCAPE = ((b"&lt;", b"<"), (b"&gt;", b">"), (b"&amp;", b"&"))
_ESCAPE = (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"))


def html_escape(text: str) -> str:
    """Escape text for embedding in html (fixture generator uses this)."""
    for raw, esc in _ESCAPE:
        text = text.replace(raw, esc)
    return text


def extract_text(html: bytes | None) -> str | None:
    """Extract body text from raw html bytes — byte-identical per url.

    Semantics: body content → drop <script>/<style> blocks → strip all tags
    → unescape entities. Whitespace is preserved verbatim (no collapsing),
    which is what makes the extraction an exact inverse of the deterministic
    fixture generator (FIXTURES.md §1) and byte-stable on re-runs.
    """
    if html is None:
        return None
    m = _BODY_RE.search(html)
    body = m.group(1) if m else html
    body = _SCRIPT_STYLE_RE.sub(b"", body)
    body = _TAG_RE.sub(b"", body)
    for esc, raw in _UNESCAPE:
        body = body.replace(esc, raw)
    return body.decode("utf-8")


def tokenize(text: str | None) -> list[str]:
    """Lowercase (casefold) unicode word tokenizer.

    The single tokenizer for index build, query parsing, and the oracle —
    the analog of Lucene's analyzer that the reference delegates to
    Elasticsearch (schemas/scores.json mapping implies ES-side analysis).
    """
    if not text:
        return []
    return _TOKEN_RE.findall(text.casefold())


# ---------------------------------------------------------------------------
# Spark pandas UDFs (Arrow-vectorized; no per-row Python at the Spark API
# boundary — rows are processed in Arrow batches)
# ---------------------------------------------------------------------------


def extract_text_series(html: pd.Series) -> pd.Series:
    """pandas-UDF body for html(binary)→text. Register with:
    F.pandas_udf(extract_text_series, 'string')."""
    return html.map(extract_text)


def make_extract_text_udf():
    from pyspark.sql.functions import pandas_udf

    return pandas_udf(extract_text_series, "string")


def tokens_map_in_pandas(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body: (doc_id:int64, text:string) -> exploded
    (doc_id:int64, term:string, tf:int64, dl:int64) with per-doc term counts
    pre-aggregated *inside* the Arrow batch.

    This is the map-side combine for posting construction: emitting (term,
    doc, tf) instead of one row per token shrinks the shuffle by ~avg tf and
    keeps everything vectorized. Equivalent declarative form:
    explode(tokenize(text)) >> groupBy(doc_id, term).count() — but that
    shuffles one row per *token*; this shuffles one row per *(doc, term)*.
    """
    for pdf in batches:
        if len(pdf) == 0:
            continue
        out_doc: list[int] = []
        out_term: list[str] = []
        out_tf: list[int] = []
        out_dl: list[int] = []
        for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
            toks = tokenize(text)
            dl = len(toks)
            if dl == 0:
                continue
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            out_doc.extend([doc_id] * len(counts))
            out_term.extend(counts.keys())
            out_tf.extend(counts.values())
            out_dl.extend([dl] * len(counts))
        yield pd.DataFrame(
            {"doc_id": out_doc, "term": out_term, "tf": out_tf, "dl": out_dl}
        )
