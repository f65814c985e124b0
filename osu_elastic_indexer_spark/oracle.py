"""Pure-python reference engine (no Spark): tokenize → BM25 → top-k.

This is the truth every Spark path must match rank-identically
(SURVEY.md §7.2 M0). It plays the role Elasticsearch/Lucene plays for the
reference repo — the scoring semantics the indexer feeds
(osu.ElasticIndexer/schemas/scores.json configures the index; BM25 constants
k1=1.2, b=0.75 from BASELINE.json north_star).

Formula (float64 throughout, SURVEY.md §4 #5):
  idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
  tfnorm    = tf / (tf + k1 * (1 - b + b * dl / avgdl))
  score(d)  = sum over query terms of idf * tfnorm
  ties broken by doc_id ascending.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from .functions.textprep import extract_text, tokenize

K1 = 1.2
B = 0.75


@dataclass
class OracleIndex:
    n_docs: int
    avgdl: float
    dl: dict[int, int]  # doc_id -> doc length in tokens
    postings: dict[str, dict[int, int]]  # term -> {doc_id: tf}


def build_index(docs: list[tuple[int, str]]) -> OracleIndex:
    """docs: [(doc_id, text)] — only indexable docs (caller applies the
    ShouldIndex-analog predicate, Score.cs:33)."""
    dl: dict[int, int] = {}
    postings: dict[str, dict[int, int]] = {}
    for doc_id, text in docs:
        toks = tokenize(text)
        if not toks:
            continue
        dl[doc_id] = len(toks)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        for t, tf in counts.items():
            postings.setdefault(t, {})[doc_id] = tf
    n = len(dl)
    avgdl = (sum(dl.values()) / n) if n else 0.0
    return OracleIndex(n_docs=n, avgdl=avgdl, dl=dl, postings=postings)


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def tf_norm(tf: int, dl: int, avgdl: float) -> float:
    return tf / (tf + K1 * (1.0 - B + B * dl / avgdl))


def search(index: OracleIndex, query_text: str, k: int = 10) -> list[tuple[int, float]]:
    """-> [(doc_id, score)] top-k, score desc, doc_id asc on ties.

    Duplicate query terms contribute once (bag-of-words dedup — matches the
    Spark engine, which joins on distinct query terms)."""
    terms = sorted(set(tokenize(query_text)))
    scores: dict[int, float] = {}
    for t in terms:
        plist = index.postings.get(t)
        if not plist:
            continue
        w = idf(index.n_docs, len(plist))
        for doc_id, tf in plist.items():
            scores[doc_id] = scores.get(doc_id, 0.0) + w * tf_norm(
                tf, index.dl[doc_id], index.avgdl
            )
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


def search_corpus(
    corpus: list[tuple[int, bytes]], query_text: str, k: int = 10
) -> list[tuple[int, float]]:
    """End-to-end oracle over raw html: extract → index → search."""
    docs = [(i, extract_text(h) or "") for i, h in corpus]
    return search(build_index(docs), query_text, k)


def _clause_items(v) -> list[tuple[str, float]]:
    """One clause -> [(text, boost)]: a text, or a list of texts,
    (text, boost) pairs and {"query"/"term": text, "boost": b} dicts."""
    if v is None:
        return []
    if isinstance(v, (str, dict, tuple)):
        v = [v]
    out = []
    for item in v:
        if isinstance(item, dict):
            out.append((item.get("query", item.get("term")),
                        float(item.get("boost", 1.0))))
        elif isinstance(item, tuple):
            out.append((item[0], float(item[1])))
        else:
            out.append((item, 1.0))
    return out


def _clause_terms(v) -> list[str]:
    out: set[str] = set()
    for text, _b in _clause_items(v):
        out.update(tokenize(text))
    return sorted(out)


def search_bool(
    index: OracleIndex,
    spec: dict,
    k: int = 10,
    allowed_docs: set[int] | None = None,
) -> list[tuple[int, float]]:
    """ES-style bool query truth: must (AND, scored), should (OR, scored),
    must_not (excluded), filter (required, UNSCORED — ES filter context).
    Same sorted-term fold as ``search``; a required term absent from the
    index empties the result; with no required clauses a doc qualifies by
    matching >=1 scored term. ``allowed_docs`` is the structured
    filter_range/filter_term truth (the engine evaluates it against
    docmap fields; the oracle takes the resolved doc set). Docs matching
    every required clause but no scored term rank with score 0.0 after
    all positive docs, doc_id ascending — ES filter-context scoring; a
    structured filter counts as a required clause for that tail, so a
    should+filter spec (msm 0) also returns filter-matching INDEXED docs
    carrying none of the query's terms at score 0.0. A boosted must/should
    item multiplies its terms' weight by the boost; a term in several
    boosted items takes the product (must items first, then should)."""
    boost: dict[str, float] = {}
    for clause in ("must", "should"):
        for text, b in _clause_items(spec.get(clause)):
            for t in set(tokenize(text)):
                boost[t] = boost.get(t, 1.0) * b
    must = _clause_terms(spec.get("must"))
    should = _clause_terms(spec.get("should"))
    mnot = _clause_terms(spec.get("must_not"))
    filt = _clause_terms(spec.get("filter"))
    msm = int(spec.get("minimum_should_match") or 0)
    should_set = set(should)
    required = sorted(set(must) | set(filt))
    if any(t not in index.postings for t in required):
        return []
    scores: dict[int, float] = {}
    for t in sorted(set(must) | set(should)):
        plist = index.postings.get(t)
        if not plist:
            continue
        w = idf(index.n_docs, len(plist)) * boost.get(t, 1.0)
        for doc_id, tf in plist.items():
            scores[doc_id] = scores.get(doc_id, 0.0) + w * tf_norm(
                tf, index.dl[doc_id], index.avgdl
            )

    def eligible(d: int) -> bool:
        if any(d not in index.postings[t] for t in required):
            return False
        if any(d in index.postings.get(t, {}) for t in mnot):
            return False
        if msm and sum(
            d in index.postings.get(t, {}) for t in should_set
        ) < msm:
            return False
        return allowed_docs is None or d in allowed_docs

    ranked = sorted(
        ((d, s) for d, s in scores.items() if eligible(d)),
        key=lambda kv: (-kv[1], kv[0]),
    )
    out = ranked[:k]
    if (required or allowed_docs is not None) and not msm and len(out) < k:
        # filter-context zero-score tail
        if required:
            base = set(index.postings[required[0]])
            for t in required[1:]:
                base &= set(index.postings[t])
        else:
            # structured-filter-only required clauses: every INDEXED
            # (dl > 0) allowed doc is a candidate, scored terms or not
            base = {d for d in allowed_docs if index.dl.get(d, 0) > 0}
        zeros = sorted(
            d for d in base if d not in scores and eligible(d)
        )
        out += [(d, 0.0) for d in zeros[: k - len(out)]]
    return out


def search_prefix(
    index: OracleIndex, prefix: str, k: int = 10, max_expansions: int = 50
) -> list[tuple[int, float]]:
    """ES prefix-query truth (scoring_boolean rewrite): BM25 over the
    live terms starting with ``prefix``, term-asc, capped at
    ``max_expansions`` — identical scores to ``search`` on those terms."""
    terms = sorted(
        t for t, pl in index.postings.items() if t.startswith(prefix) and pl
    )[:max_expansions]
    if not terms:
        return []
    return search(index, " ".join(terms), k)


def _slop_match_bruteforce(toks: list[str], ph: list[str], slop: int) -> bool:
    """Exhaustive ground truth for sloppy matching (test-only): search
    EVERY per-slot occurrence choice and accept when some choice uses
    pairwise-distinct positions whose slot-adjusted values span <= slop.
    A partial choice is pruned once its adjusted values span more than
    slop (extending a choice never narrows the span), so head-term
    phrases stay cheap. Deliberately a different algorithm from the
    engine's windowed matching (operators/boolquery._matches_phrase) so
    the two cross-check."""
    import bisect

    occ = [[i for i, t in enumerate(toks) if t == p] for p in ph]
    if any(not o for o in occ):
        return False

    def extend(s: int, lo: int, hi: int, used: set[int]) -> bool:
        if s == len(occ):
            return True
        # the positions of slot s whose adjusted value keeps span <= slop
        a = bisect.bisect_left(occ[s], hi - slop + s)
        b = bisect.bisect_right(occ[s], lo + slop + s)
        return any(
            p not in used
            and extend(s + 1, min(lo, p - s), max(hi, p - s), used | {p})
            for p in occ[s][a:b]
        )

    return any(extend(1, p, p, {p}) for p in occ[0])


def search_phrase(
    index: OracleIndex,
    texts: dict[int, str],
    query_text: str,
    k: int = 10,
    slop: int = 0,
) -> list[tuple[int, float]]:
    """match_phrase truth: docs whose token stream contains the query's
    tokens consecutively (or within ``slop`` per the Lucene adjusted-
    position-span criterion, transposition costs 2), scored by BM25 over
    the phrase's unique terms (same values ``search`` would give)."""
    ph = tokenize(query_text)
    if not ph:
        return []
    base = search_bool(index, {"must": query_text}, k=len(index.dl) + 1)
    m = len(ph)
    out = []
    for d, s in base:
        toks = tokenize(texts.get(d, ""))
        if slop > 0:
            hit = _slop_match_bruteforce(toks, ph, slop)
        else:
            hit = any(
                toks[i : i + m] == ph for i in range(len(toks) - m + 1)
            )
        if hit:
            out.append((d, s))
            if len(out) == k:
                break
    return out


def search_match_phrase_prefix(
    index: OracleIndex,
    texts: dict[int, str],
    query_text: str,
    k: int = 10,
    max_expansions: int = 50,
) -> list[tuple[int, float]]:
    """match_phrase_prefix truth: the last token is a prefix expanded to
    the live terms starting with it (term-asc, capped at
    ``max_expansions``); candidates and scores are ``search_bool`` over
    must: the full tokens, should: the expansions, minimum_should_match 1,
    and a candidate matches when its token stream holds the full tokens
    consecutively followed by any expansion (a prefix-only query matches
    any occurrence, which the should clause already demands)."""
    toks = tokenize(query_text)
    if not toks:
        return []
    full, prefix = toks[:-1], toks[-1]
    exps = sorted(
        t for t, pl in index.postings.items() if t.startswith(prefix) and pl
    )[:max_expansions]
    if not exps:
        return []
    base = search_bool(
        index, {"must": full, "should": exps, "minimum_should_match": 1},
        k=len(index.dl) + 1,
    )
    m, pooled = len(full), set(exps)
    out = []
    for d, s in base:
        dt = tokenize(texts.get(d, ""))
        if not full or any(
            dt[i : i + m] == full and dt[i + m] in pooled
            for i in range(len(dt) - m)
        ):
            out.append((d, s))
            if len(out) == k:
                break
    return out
