"""Self-tests of the benchmark's own arithmetic and of its process
clean-up (no Spark needed):

    python3 -m pytest perfbench -q
"""

import json
import os
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from inputs import expected_ids
from spans import Tracer, self_ms_by_name, self_times
from stats import Tally, percentile, summarize, tail_percentile
from workloads import same_answer


# ---- percentile with >= 10 samples beyond it ------------------------------


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (39, None), (40, 75.0), (100, 90.0), (199, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        xs = list(range(1, n + 1))
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_percentile_is_nearest_rank():
    xs = list(range(100, 0, -1))  # order must not matter
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_median_and_tail():
    s = summarize(range(1, 201))
    assert s == {"n": 200, "p50": 100.5, "tail_p": 95.0, "tail": 190}
    # too few samples for any tail: median and count only
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}


# ---- span self time ------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return (sid, name, start, end, parent, None)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0, 100),
        _span(1, 10, 30, 0),
        _span(2, 20, 50, 0),  # overlaps child 1: covered once
        _span(3, 90, 120, 0),  # runs past the parent: clipped to it
        _span(4, 25, 28, 1),  # grandchild: only its own parent loses it
    ]
    st = self_times(spans)
    assert st[0] == 100 - (50 - 10) - (100 - 90)
    assert st[1] == 20 - 3
    assert st[2] == 30
    assert st[3] == 30
    assert st[4] == 3
    # self times of a tree add up to the root's duration when children
    # stay inside their parents and do not overlap
    flat = [_span(0, 0, 10), _span(1, 2, 4, 0), _span(2, 5, 9, 0)]
    assert sum(self_times(flat).values()) == 10


def test_tracer_nests_spans_and_adopts_pool_threads():
    tr = Tracer()

    def work():
        with tr.span("leaf"):
            time.sleep(0.01)
        return threading.get_ident()

    with tr.span("root", qid=7):
        with tr.span("child"):
            pass
        with ThreadPoolExecutor(max_workers=2) as ex:
            list(ex.map(lambda _: work(), range(2)))
    by_name = {}
    for sid, name, s, e, parent, qid in tr.spans:
        by_name.setdefault(name, []).append((sid, parent, qid))
    (root_id, root_parent, root_qid), = by_name["root"]
    assert root_parent is None and root_qid == 7
    assert by_name["child"][0][1:] == (root_id, 7)
    # spans opened on pool threads hang off the query's root span
    assert [p for _s, p, _q in by_name["leaf"]] == [root_id, root_id]
    assert all(q == 7 for _s, _p, q in by_name["leaf"])
    ms = self_ms_by_name(tr.spans)
    assert ms["leaf"] >= 20.0 * 0.9  # two sleeps of 10 ms, summed busy time


def test_wrapped_function_records_a_span_and_counts():
    tr = Tracer()
    f = tr.wrap(lambda x: [x] * x, "layer", lambda t, a, k, r: t.count("items", len(r)))
    assert f(3) == [3, 3, 3]
    assert [s[1] for s in tr.spans] == ["layer"]
    assert tr.counts["items"] == 3


# ---- failure counting ----------------------------------------------------


def test_tally_counts_wrong_answers_and_raises():
    t = Tally()
    assert t.failed_frac == 0.0
    t.record(same_answer([(1, 2.0)], [[1, 2.0]]))
    t.record(same_answer([(1, 2.0)], [[1, 2.5]]), "score differs")
    t.record(same_answer(RuntimeError("boom"), [(1, 2.0)]), "raised")
    t.record(same_answer([], None), "expected doc not live")
    assert (t.attempted, t.failed) == (4, 3)
    assert t.failed_frac == 0.75
    assert t.first_failures == ["score differs", "raised", "expected doc not live"]


def test_same_answer_is_exact():
    assert same_answer([(4, 1.5), (2, 1.25)], [[4, 1.5], [2, 1.25]])
    assert not same_answer([(4, 1.5)], [[4, 1.5000000000000002]])
    assert not same_answer([(2, 1.25), (4, 1.5)], [[4, 1.5], [2, 1.25]])


# ---- no process outlives a run -------------------------------------------


def test_reap_descendants_ends_orphaned_grandchildren(tmp_path):
    # the shell exits at once and orphans its sleep, as the JVM orphans
    # Spark's Python daemon; a subreaper adopts it and must end it
    script = tmp_path / "child.py"
    script.write_text(
        "import json, subprocess, procs\n"
        "assert procs.become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True)\n"
        "before = procs.descendants()\n"
        "killed = procs.reap_descendants(grace_s=0.5)\n"
        "print(json.dumps([before, killed, procs.descendants()]))\n"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, timeout=60,
        env={**os.environ, "PYTHONPATH": here},
    )
    before, killed, after = json.loads(out.stdout)
    assert len(before) == 1 and killed == before and after == []


def test_expected_ids_rebuilds_engine_tie_order():
    ids = {"a": 9, "b": 3, "c": 5, "d": 1}
    # b, c, d tie at the K-th score; the engine breaks ties by doc_id
    expect = [["a", 2.0]] + [[f"x{i}", 1.5] for i in range(8)] + [
        ["b", 1.0], ["c", 1.0], ["d", 1.0]]
    ids.update({f"x{i}": 100 + i for i in range(8)})
    got = expected_ids(expect, ids)
    assert got[0] == (9, 2.0)
    assert got[-1] == (1, 1.0)  # d has the lowest id among the ties
    assert len(got) == 10
    assert expected_ids([["gone", 1.0]], ids) is None
