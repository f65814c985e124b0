"""The benchmark's trace contract: ``perfbench/spans.searcher_layers``
replaces engine functions BY NAME, so renaming a patched engine attribute,
or calling one through a name bound at import, silently breaks the
per-layer figures of a ``--trace 1`` run. These checks pin the names, the
spans a searcher's queries record through them, and the restore on exit."""

import importlib.util
import os

import pyarrow.parquet as pq

from osu_elastic_indexer_spark.functions import codec
from osu_elastic_indexer_spark.functions.textprep import tokenize
from osu_elastic_indexer_spark.operators import dictionary, serve, state, wand

from test_positional import pos_index, pos_truth  # noqa: F401  (fixtures)

_SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench", "spans.py",
)


def _load_spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _attrs() -> dict:
    """Every attribute of the namespaces the benchmark patches."""
    spaces = (codec, wand, serve, dictionary, state, pq.ParquetFile,
              serve.LocalSearcher)
    return {
        (ns.__name__, name): value
        for ns in spaces for name, value in list(vars(ns).items())
    }


def test_searcher_layers_trace_every_query_kind_and_restore(
    pos_index, pos_truth  # noqa: F811
):
    spans = _load_spans()
    _truth, texts = pos_truth
    toks = tokenize(texts[min(texts)])
    queries = {
        "match": lambda s: s.search(" ".join(toks[:2]), 10),
        "bool": lambda s: s.search_bool(
            {"must": toks[0], "should": toks[1]}, 10),
        "phrase": lambda s: s.search_phrase(" ".join(toks[2:4]), None, 10),
        "prefix": lambda s: s.search_prefix(toks[0][:2], 10),
    }
    before = _attrs()
    tr = spans.Tracer()
    with spans.searcher_layers(tr):
        patched = {
            key for key, value in _attrs().items()
            if before.get(key) is not value
        }
        s = serve.LocalSearcher(pos_index.index_dir("v1"))
        answers = {}
        for kind, ask in queries.items():
            with tr.span(f"serve.{kind}"):
                answers[kind] = ask(s)
    assert _attrs() == before, "an attribute was left patched"
    assert all(
        _attrs()[key] is before[key] for key in before
    ), "an attribute was restored to a different object"
    assert {name for _mod, name in patched} >= {
        "read_row_groups", "decode_postings", "decode_positions",
        "decode_positions_block", "taat_topk", "bmw_topk", "topk_from_dense",
        "_topk_pairs", "_resolve_terms", "lookup_terms_by_prefix",
        "load_norms", "load_tombstones",
    }
    assert all(answers.values()), answers  # every query kind found docs

    children: dict = {}
    for sid, name, _s, _e, parent, _q in tr.spans:
        children.setdefault(parent, []).append((sid, name))

    def below(sid) -> set:
        out = set()
        for child, name in children.get(sid, []):
            out |= {name} | below(child)
        return out

    roots = {name: sid for sid, name, *_r, parent, _q in tr.spans
             if parent is None}
    assert "state.load" in {name for _sid, name in children[None]}
    want = {
        "match": {"dictionary.resolve", "wand.taat", "wand.finalize"},
        "bool": {"dictionary.resolve", "wand.finalize"},
        "phrase": {"dictionary.resolve", "serve.segment_read",
                   "codec.decode", "wand.finalize"},
        "prefix": {"dictionary.prefix_expand", "wand.taat", "wand.finalize"},
    }
    for kind, names in want.items():
        got = below(roots[f"serve.{kind}"])
        assert names <= got, (kind, sorted(got))
