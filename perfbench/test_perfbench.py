"""Self-tests for the benchmark's own code (no Spark needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import zipfile

import corpus
import spans
import tables
from results import digest


def _corpus(root, seed):
    return corpus.cached_corpus(str(root), seed, body_bytes=200_000, jumbo_members=50)


def _zip_rows(archive_glob: str, jumbo: str):
    """(source, name, size, sha256) per member, read the way a converter would."""
    import glob

    rows = []
    for path in sorted(glob.glob(archive_glob)) + [jumbo]:
        with zipfile.ZipFile(path) as zf:
            for info in zf.infolist():
                body = zf.read(info)
                rows.append((path, info.filename, len(body), hashlib.sha256(body).hexdigest()))
    return rows


def test_corpus_is_deterministic_per_seed(tmp_path):
    g1, j1, m1 = _corpus(tmp_path / "a", 7)
    g2, j2, m2 = _corpus(tmp_path / "b", 7)
    _, _, m3 = _corpus(tmp_path / "c", 8)
    assert m1 == m2
    assert m1 != m3
    for name in sorted(os.listdir(os.path.dirname(g1))):
        with open(os.path.join(os.path.dirname(g1), name), "rb") as f1, \
                open(os.path.join(os.path.dirname(g2), name), "rb") as f2:
            assert f1.read() == f2.read(), name
    with open(j1, "rb") as f1, open(j2, "rb") as f2:
        assert f1.read() == f2.read()


def test_corpus_mix_and_cache(tmp_path):
    glob_, jumbo, manifest = _corpus(tmp_path, 3)
    regular = [m for m in manifest if m[0] != corpus.JUMBO]
    assert {m[3] for m in regular} == {"deflate", "stored"}
    assert all(corpus.MIN_SIZE <= m[2] <= corpus.MAX_SIZE for m in regular)
    assert sum(m[0] == corpus.JUMBO for m in manifest) == 50
    assert sum(m[2] for m in regular) >= 200_000
    # A second call reads the cached manifest instead of regenerating.
    assert _corpus(tmp_path, 3)[2] == manifest


def test_manifest_check_catches_one_corrupted_member(tmp_path):
    glob_, jumbo, manifest = _corpus(tmp_path, 5)
    expected = corpus.member_multiset(manifest)
    rows = _zip_rows(glob_, jumbo)
    assert corpus.check_members(expected, rows) == []

    src, name, size, sha = rows[3]
    corrupt = hashlib.sha256(b"x" * size).hexdigest()
    problems = corpus.check_members(expected, rows[:3] + [(src, name, size, corrupt)] + rows[4:])
    assert len(problems) == 1 and "1 manifest members missing or altered" in problems[0]

    problems = corpus.check_members(expected, rows[1:])
    assert any("member count" in p for p in problems)


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "parent": parent, "pass": 0, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 8.0, 12.0, 0),
            _span(4, 2.5, 3.5, 2)]  # a grandchild does not count twice
    all_spans = [parent] + kids
    # children cover [1, 4] and [8, 10]: 5 s of the parent's 10 s
    assert spans.self_time(all_spans, parent) == 5.0
    assert spans.self_time(all_spans, kids[1]) == 1.0
    assert spans.self_time(all_spans, kids[0]) == 2.0


def test_tracer_nests_spans_without_a_job_counter():
    tr = spans.Tracer()
    with tr.span("op", 1, kind="op"):
        with tr.span("layer.a", 1):
            pass
        with tr.span("layer.b", 1):
            pass
    op, a, b = tr.spans
    assert (op["parent"], a["parent"], b["parent"]) == (None, 0, 0)
    assert op["start"] <= a["start"] <= a["end"] <= b["start"] <= b["end"] <= op["end"]
    assert spans.self_time(tr.spans, op) >= 0.0
    assert op["jobs"] == 0 and op["kind"] == "op"


def test_dump_writes_self_times(tmp_path):
    tr = spans.Tracer()
    tr.spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0)]
    tr.dump(str(tmp_path / "spans.json"))
    dumped = json.loads((tmp_path / "spans.json").read_text())
    assert [s["self_s"] for s in dumped] == [8.0, 2.0]


def test_digest_ignores_row_and_column_order_and_last_ulp():
    cols = ["b", "a"]
    rows = [(1.0000000001, "x"), (2.5, None)]
    swapped = [("x", 1.0), (None, 2.5)]
    assert digest(cols, rows) == digest(["a", "b"], [tuple(reversed(r)) for r in reversed(rows)])
    assert digest(cols, rows) == digest(["a", "b"], swapped)
    assert digest(cols, rows) != digest(cols, [(1.1, "x"), (2.5, None)])


def test_tables_are_deterministic():
    t1, t2 = tables.build(sf=0.0005), tables.build(sf=0.0005)
    assert sorted(t1) == sorted(tables.TABLES)
    assert all(t1[k].equals(t2[k]) for k in t1)
    assert t1["lineitem"].num_rows == 3000
