"""Tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import os
import random

from perfbench import gen
from perfbench.engine import Span, id_checksum, row_checksum, self_times


def _span(i, parent, start, end, name="x"):
    return Span(i, name, parent, start, end)


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 9.0)]
    st = self_times(spans)
    assert st[0] == 10.0 - 2.0 - 4.0
    assert st[1] == 2.0
    assert st[2] == 4.0


def test_self_time_merges_overlapping_and_clips_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),    # overlaps span 1: covered 2..8 once
        _span(3, 0, 9.0, 12.0),   # runs past the parent: only 9..10 counts
    ]
    assert self_times(spans)[0] == 10.0 - 6.0 - 1.0


def test_self_time_counts_only_direct_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 0.0, 4.0), _span(2, 1, 1.0, 3.0)]
    st = self_times(spans)
    assert st[0] == 6.0
    assert st[1] == 2.0
    assert st[2] == 2.0


def test_checksum_ignores_order():
    ids = [random.Random(7).getrandbits(63) for _ in range(500)] + [-5, 0, 3]
    shuffled = ids[:]
    random.Random(1).shuffle(shuffled)
    assert id_checksum(ids) == id_checksum(shuffled)
    assert id_checksum(iter(ids)) == id_checksum(reversed(ids))


def test_checksum_detects_changed_membership():
    base = list(range(100))
    assert id_checksum(base) != id_checksum(base[:-1] + [1000])
    assert id_checksum(base) != id_checksum(base + [5])      # a repeated id
    assert id_checksum([1, 2]) != id_checksum([3])           # count differs


def test_row_checksum_ignores_row_and_column_order():
    rows = [(1, "a", 0.5, [1.0, 2.0]), (2, "b", None, []), (3, "c", 1e-9, [3.0])]
    cols = ["id", "s", "x", "v"]
    swapped = [(r[2], r[0], r[3], r[1]) for r in reversed(rows)]
    assert row_checksum(cols, rows) == row_checksum(["x", "id", "v", "s"], swapped)


def test_row_checksum_detects_changed_values():
    cols = ["id", "x"]
    rows = [(1, 0.5), (2, 0.25)]
    assert row_checksum(cols, rows) != row_checksum(cols, [(1, 0.5), (2, 0.2500001)])
    assert row_checksum(cols, rows) != row_checksum(cols, rows + [(2, 0.25)])
    assert row_checksum(cols, rows) != row_checksum(["x", "id"], rows)


def _tables_equal(a, b):
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b))
    return all(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)
               for n in names)


def test_same_seed_gives_byte_identical_tables(tmp_path):
    makers = {
        "pages": lambda s: gen.pages_table(200, 50, 50, s),
    }
    for name, make in makers.items():
        a = gen.materialize(lambda: make(5), str(tmp_path / f"{name}-a"))
        b = gen.materialize(lambda: make(5), str(tmp_path / f"{name}-b"))
        c = gen.materialize(lambda: make(6), str(tmp_path / f"{name}-c"))
        assert _tables_equal(a, b), name
        assert not _tables_equal(a, c), name
    reg = {s: gen.materialize(lambda: gen.registry_tables(200, 100, s),
                              str(tmp_path / f"registry-{s}-{d}"), write=gen.write_named)
           for s, d in ((5, "a"), (6, "c"))}
    again = gen.materialize(lambda: gen.registry_tables(200, 100, 5),
                            str(tmp_path / "registry-5-b"), write=gen.write_named)
    assert _tables_equal(reg[5], again)
    assert not _tables_equal(reg[5], reg[6])


def test_materialize_reuses_an_existing_entry(tmp_path):
    dest = str(tmp_path / "docs")
    gen.materialize(lambda: gen.pages_table(50, 5, 5, 1), dest)
    calls = []
    gen.materialize(lambda: calls.append(1) or gen.pages_table(50, 5, 5, 1), dest)
    assert calls == []


def test_pages_shape():
    t = gen.pages_table(300, 80, 120, 3)
    assert t.num_rows == 500
    urls = t.column("url").to_pylist()
    assert len(set(urls)) == len(urls)
    texts = t.column("text").to_pylist()
    hot = max(set(texts), key=texts.count)
    assert texts.count(hot) == 120


def test_registry_shape():
    t = gen.registry_tables(120, 40, 2)
    docs, emb = t["documents"], t["embeddings"]
    assert docs.column_names == ["doc_id", "text", "lang", "source", "n_chars"]
    assert docs.num_rows == 120 and emb.num_rows == 40
    v = emb.column("embedding").to_pylist()
    assert {len(x) for x in v} == {gen.EMB_DIM}
    assert all(abs(sum(x * x for x in e) - 1.0) < 1e-5 for e in v)


def test_html_escapes_markup():
    assert gen.html_of("a<b & c>d") == (
        b"<html><head><title>page</title></head><body>a&lt;b &amp; c&gt;d</body></html>"
    )
