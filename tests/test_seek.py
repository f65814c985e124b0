"""The footer-pruned row-group seek (``state.RowGroupSeek``): whatever the
files' row-group sizes, statistics and values, a seek returns exactly the
rows an unpruned read plus the same filter returns, and reads only row
groups whose footer [min, max] can hold a probe (stats-less groups always
can). Pure pyarrow, no JVM."""

import tempfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osu_elastic_indexer_spark.operators.dictionary import _successor
from osu_elastic_indexer_spark.operators.state import RowGroupSeek

_INTS = st.integers(min_value=-50, max_value=50)
_STRS = st.text(alphabet="abcé\U0001f600", max_size=4)

def _file(values):
    """One file: its values (sorted or not), statistics on/off and
    row-group size."""
    return st.tuples(
        st.lists(values, max_size=20), st.booleans(), st.booleans(),
        st.integers(1, 6),
    )


def _write(typ, specs, d) -> list[str]:
    out = []
    for i, (vals, is_sorted, stats, rg) in enumerate(specs):
        vals = sorted(vals) if is_sorted else vals
        out.append(f"{d}/f{i}.parquet")
        pq.write_table(
            pa.table({"k": pa.array(vals, typ), "pos": range(len(vals))}),
            out[-1], row_group_size=rg, write_statistics=stats,
        )
    return out


def _spy_reads(monkeypatch):
    reads, real = [], pq.ParquetFile.read_row_groups

    def read(self, groups, columns=None, **kw):
        reads.append((self, list(groups)))
        return real(self, groups, columns=columns, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", read)
    return reads


def _rows(tbl) -> list:
    return sorted(zip(tbl["k"].to_pylist(), tbl["pos"].to_pylist()))


def _check(files, reads, got, holds):
    """``got`` equals the unpruned read filtered by ``holds``; every group
    read has no statistics or a [min, max] that ``holds`` can meet."""
    want = [
        (k, p) for f in files for k, p in _rows(pq.read_table(f)) if holds(k, k)
    ]
    assert _rows(got) == sorted(want)
    for pf, groups in reads:
        for g in groups:
            st_ = pf.metadata.row_group(g).column(0).statistics
            if st_ is not None and st_.has_min_max:
                assert holds(st_.min, st_.max), (g, st_.min, st_.max)


@pytest.fixture(scope="module")
def seek_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("seek"))


@st.composite
def _case(draw, values, typ):
    files = draw(st.lists(_file(values), max_size=4))
    probes = draw(st.lists(values, max_size=5))
    lo, hi = draw(st.one_of(st.none(), values)), draw(st.one_of(st.none(), values))
    return typ, files, probes, lo, hi


@given(case=_case(_INTS, pa.int64()) | _case(_STRS, pa.string()))
@settings(max_examples=150, deadline=None)
def test_seek_equals_filtered_full_read(seek_dir, case):
    typ, specs, probes, lo, hi = case
    files = _write(typ, specs, tempfile.mkdtemp(dir=seek_dir))
    mp = pytest.MonkeyPatch()
    try:
        reads = _spy_reads(mp)
        seek = RowGroupSeek(files, "k")
        assert not reads, "building the index reads footers only"
        # set probe
        got = seek.read(["k", "pos"], values=probes)
        _check(files, reads, got, lambda a, b: any(a <= p <= b for p in probes))
        # range probe [lo, hi)
        reads.clear()
        got = seek.read(["k", "pos"], lo=lo, hi=hi)
        _check(
            files, reads, got,
            lambda a, b: (lo is None or b >= lo) and (hi is None or a < hi),
        )
        # prefix probe: the range [prefix, successor(prefix))
        if probes and isinstance(probes[0], str) and probes[0]:
            pre = probes[0]
            reads.clear()
            got = seek.read(["k", "pos"], lo=pre, hi=_successor(pre))
            assert _rows(got) == sorted(
                (k, p) for f in files for k, p in _rows(pq.read_table(f))
                if k.startswith(pre)
            )
    finally:
        mp.undo()


def test_seek_tags_rows_with_their_row_group(tmp_path):
    """``tag=True`` names the file and row group of every row kept, and a
    seek over no file (or only empty ones) returns an empty table."""
    t = pa.table({"k": list(range(20)), "pos": list(range(20))})
    pq.write_table(t, tmp_path / "a.parquet", row_group_size=5)
    pq.write_table(t.slice(0, 0), tmp_path / "empty.parquet")
    seek = RowGroupSeek(
        [str(tmp_path / "empty.parquet"), str(tmp_path / "a.parquet")], "k"
    )
    got = seek.read(["k"], values=[3, 12, 99], tag=True)
    assert got.to_pydict() == {"k": [3, 12], "file": [0, 0], "row_group": [0, 2]}
    assert seek.files == [str(tmp_path / "a.parquet")]
    assert seek.read(["k"], values=[99], tag=True).num_rows == 0
    assert RowGroupSeek([], "k").read(["k"], values=[1]).num_rows == 0
    none = RowGroupSeek([str(tmp_path / "empty.parquet")], "k").read(["k"], values=[1])
    assert none.num_rows == 0 and none.schema.field("k").type == pa.int64()
    assert pc.sum(got["k"]).as_py() == 15


def test_successor_bounds_every_prefix():
    assert _successor("ab") == "ac"
    assert _successor("a\U0010ffff") == "b"
    assert _successor("\U0010ffff") is None
    assert _successor("a\ud7ff") == "a\ue000"
    for s in ("ab", "abz", "ab\U0010ffff"):
        assert "ab" <= s < _successor("ab")
    for s in ("aa", "ac", "b"):
        assert not "ab" <= s < _successor("ab")
