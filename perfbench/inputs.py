"""Benchmark inputs, generated from the seed and cached on disk.

Every input is a pure function of (seed, corpus size, GEN_VERSION), and
each cache file is keyed by exactly the parts it depends on:

* the corpus parquet: the fixture corpus of ``docs`` documents (the
  fixture generator's own fixed seed), keyed by size and version;
* the serve query pool with its expected answers, keyed by size and
  version (the seed orders the loop over it; see ``serve_pool``);
* the CDC deltas (each a full evolved copy of the source table, as a
  re-crawl would leave it) with their expected answers, keyed the same.

Expected answers come from ``osu_elastic_indexer_spark.oracle``. They are
stored by url, not doc id, because the engine assigns ids: an expected
list holds the top-k (url, score) pairs plus every further doc tied with
the k-th score, so the engine's (score desc, doc_id asc) order can be
rebuilt exactly once its url -> doc_id map is known.

Bump GEN_VERSION whenever anything here changes what is generated.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

GEN_VERSION = 5
K = 10
SERVE_POOL = 1000  # distinct queries in the serve mix
SWEEP_QUERIES = 100  # cold-sweep queries after each CDC commit (and the
# match queries of that commit's wand_topk / wand_topk_docpart batches)
BOOL_BATCH = 50  # specs in each CDC commit's bool_topk batch
PHRASE_HEAD = 1000  # a phrase carries at least one term rarer than these
MAX_DELTAS = 6  # CDC batches a run may apply
# Serve mix weights: match, bool, phrase, prefix
SERVE_MIX = (("match", 0.70), ("bool", 0.15), ("phrase", 0.10), ("prefix", 0.05))
ZIPF_S = 1.3  # the fixture corpus draws its words from Zipf(1.3)


def _atomic_write(path: str, write) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    write(tmp)
    os.replace(tmp, path)


def _json_cached(path: str, make):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    obj = make()

    def write(tmp):
        with open(tmp, "w") as f:
            json.dump(obj, f)

    _atomic_write(path, write)
    return obj


def corpus_path(cache: str, docs: int) -> str:
    from osu_elastic_indexer_spark.sources.fixtures import write_corpus

    path = os.path.join(cache, f"corpus_n{docs}_v{GEN_VERSION}.parquet")
    if not os.path.exists(path):
        _atomic_write(path, lambda tmp: write_corpus(tmp, docs))
    return path


class OracleState:
    """The oracle over one state of the source table, with url <-> id maps."""

    def __init__(self, tbl):
        from osu_elastic_indexer_spark import oracle
        from osu_elastic_indexer_spark.functions.textprep import extract_text

        self.oracle = oracle
        # the build's predicate: lang 'en' and a non-empty text column;
        # the engine re-extracts text from html, so the oracle does too
        rows = [
            (u, extract_text(h))
            for u, h, lang, txt in zip(
                tbl["url"].to_pylist(), tbl["html"].to_pylist(),
                tbl["lang"].to_pylist(), tbl["text"].to_pylist(),
            )
            if lang == "en" and txt
        ]
        self.urls = [u for u, _ in rows]
        self.texts = {i: t for i, (_u, t) in enumerate(rows)}
        self.index = oracle.build_index(list(self.texts.items()))
        # vocabulary by df desc (term asc on ties): the corpus's own Zipf ranks
        self.vocab = sorted(
            self.index.postings, key=lambda t: (-len(self.index.postings[t]), t)
        )

    def counts(self) -> dict:
        return {
            "docs": self.index.n_docs,
            "postings": sum(len(p) for p in self.index.postings.values()),
            "terms": len(self.index.postings),
        }

    def expect(self, kind: str, q) -> list:
        """Top-K plus ties at the K-th score, as [[url, score], ...]."""
        o, idx = self.oracle, self.index
        run = {
            "match": lambda kk: o.search(idx, q, kk),
            "prefix": lambda kk: o.search_prefix(idx, q, kk, max_expansions=50),
            "phrase": lambda kk: o.search_phrase(idx, self.texts, q, kk),
            "bool": lambda kk: o.search_bool(
                idx, q, kk,
                allowed_docs=set(idx.dl) if q.get("filter_term") else None,
            ),
        }[kind]
        kk = K + 1
        while True:
            res = run(kk)
            if len(res) < kk or res[-1][1] != res[K - 1][1]:
                break
            kk *= 2
        if len(res) > K:
            res = res[:K] + [r for r in res[K:] if r[1] == res[K - 1][1]]
        return [[self.urls[d], s] for d, s in res]

    def zipf_term(self, rng) -> str:
        r = int(rng.zipf(ZIPF_S))
        while r > len(self.vocab):
            r = int(rng.zipf(ZIPF_S))
        return self.vocab[r - 1]

    def match_text(self, rng) -> str:
        """1-3 Zipf-drawn terms; about one query in twenty carries a term
        absent from the index."""
        terms = [self.zipf_term(rng) for _ in range(int(rng.integers(1, 4)))]
        if rng.random() < 0.05:
            terms[-1] = f"absent{int(rng.integers(1_000_000))}"
        return " ".join(terms)

    def bool_spec(self, rng) -> dict:
        # a must clause is always present: it keeps every hit scored, so no
        # zero-score filter-context tail (a tie over the whole corpus) forms
        spec = {
            "must": self.zipf_term(rng),
            "should": " ".join(
                self.zipf_term(rng) for _ in range(int(rng.integers(1, 3)))
            ),
        }
        if rng.random() < 0.5:
            spec["must_not"] = self.zipf_term(rng)
        if rng.random() < 0.3:
            spec["filter"] = self.zipf_term(rng)
        if rng.random() < 0.3:
            spec["filter_term"] = {"lang": "en"}
        return spec

    def phrase_text(self, rng) -> str:
        """A 2-3 token window of a random document, redrawn until it holds
        a term outside the PHRASE_HEAD most frequent ones: a phrase of
        common words has most of the corpus as candidates, which turns the
        phrase share of the mix into corpus scans."""
        from osu_elastic_indexer_spark.functions.textprep import tokenize

        head = set(self.vocab[:PHRASE_HEAD])
        while True:
            toks = tokenize(self.texts[int(rng.integers(len(self.texts)))])
            n = int(rng.integers(2, 4))
            if len(toks) < n:
                continue
            i = int(rng.integers(len(toks) - n + 1))
            win = toks[i : i + n]
            if not set(win) <= head:
                return " ".join(win)

    def prefix_text(self, rng) -> str:
        return self.zipf_term(rng)[:4]

    def sweep_texts(self, rng, n: int) -> list[str]:
        """``n`` queries of 1-3 terms drawn WITHOUT replacement (Zipf
        weights), so most terms are first touches for a fresh searcher."""
        sizes = rng.integers(1, 4, n)
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** ZIPF_S
        picks = rng.choice(
            len(self.vocab), size=int(sizes.sum()), replace=False, p=w / w.sum()
        )
        out, pos = [], 0
        for s in sizes:
            out.append(" ".join(self.vocab[j] for j in picks[pos : pos + s]))
            pos += s
        return out


def _corpus_oracle(corpus: str) -> OracleState:
    return OracleState(pq.read_table(corpus))


def counts_path(cache: str, docs: int) -> str:
    return os.path.join(cache, f"counts_n{docs}_v{GEN_VERSION}.json")


def base_counts(cache: str, docs: int, corpus: str) -> dict:
    """Expected build counters of the corpus (docs, postings, terms)."""
    return _json_cached(
        counts_path(cache, docs), lambda: _corpus_oracle(corpus).counts()
    )


def serve_pool_path(cache: str, docs: int) -> str:
    return os.path.join(cache, f"serve_n{docs}_v{GEN_VERSION}.json")


def serve_pool(cache: str, docs: int, corpus: str) -> list[dict]:
    """The serve mix: [{kind, q, expect}]. It is fixed per corpus, not
    drawn per seed: its mean cost sets serve throughput, and a pool drawn
    per seed moved throughput by a fifth from seed to seed. The seed
    orders the closed loop over it instead."""

    def make():
        st = _corpus_oracle(corpus)
        rng = np.random.default_rng([docs, 1])
        # exact shares, shuffled
        kinds = [k for k, w in SERVE_MIX for _ in range(round(w * SERVE_POOL))]
        rng.shuffle(kinds)
        gen = {
            "match": st.match_text, "bool": st.bool_spec,
            "phrase": st.phrase_text, "prefix": st.prefix_text,
        }
        pool = []
        for kind in kinds:
            q = gen[kind](rng)
            pool.append({"kind": kind, "q": q, "expect": st.expect(kind, q)})
        return pool

    return _json_cached(serve_pool_path(cache, docs), make)


def cdc_stem(cache: str, docs: int, seed: int, j: int) -> str:
    return os.path.join(cache, f"cdc_s{seed}_n{docs}_v{GEN_VERSION}_d{j}")


def cdc_delta(cache: str, docs: int, seed: int, j: int, corpus: str) -> tuple[str, dict]:
    """Delta ``j`` (1-based) of the seeded CDC chain: the parquet path of
    the evolved source table and the expected answers on it. Delta j
    evolves delta j-1 (the corpus for j=1)."""
    from osu_elastic_indexer_spark.sources.fixtures import evolve_corpus

    stem = cdc_stem(cache, docs, seed, j)
    path = f"{stem}.parquet"
    prev = corpus if j == 1 else cdc_delta(cache, docs, seed, j - 1, corpus)[0]
    if not os.path.exists(path):
        n_new = max(1, docs // 40)
        tbl = evolve_corpus(
            pq.read_table(prev), n_new=n_new, n_update=max(1, n_new // 5),
            n_flip=max(1, n_new // 10), seed=seed * 1000 + j,
        )
        _atomic_write(path, lambda tmp: pq.write_table(tbl, tmp, row_group_size=8192))

    def make():
        st = OracleState(pq.read_table(path))
        rng = np.random.default_rng([seed, 2, j])
        sweep = st.sweep_texts(rng, SWEEP_QUERIES)
        bools = [st.bool_spec(rng) for _ in range(BOOL_BATCH)]
        return {
            "counts": st.counts(),
            "sweep": [{"q": q, "expect": st.expect("match", q)} for q in sweep],
            "bool": [{"q": q, "expect": st.expect("bool", q)} for q in bools],
        }

    return path, _json_cached(f"{stem}.json", make)


def expected_ids(expect: list, doc_id_of: dict) -> list | None:
    """An expected url list in the engine's id space: (doc_id, score)
    sorted score desc, doc_id asc, cut to K. None if an expected url is
    not a live doc of the engine's index."""
    try:
        pairs = [(doc_id_of[u], s) for u, s in expect]
    except KeyError:
        return None
    pairs.sort(key=lambda p: (-p[1], p[0]))
    return pairs[:K]
