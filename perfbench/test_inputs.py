"""Tests of the benchmark itself: generators are pure functions of the
seed, and the checkers catch a corrupted output. No Spark needed.

    python3 -m pytest perfbench/test_inputs.py
"""

from __future__ import annotations

import copy
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402


def test_same_seed_same_inputs():
    a, b = gen.catalog_pair(7, n_tables=200), gen.catalog_pair(7, n_tables=200)
    assert a.base == b.base and a.target == b.target and a.findings == b.findings
    assert gen.catalog_pair(8, n_tables=200).base != a.base

    la, lb = gen.lineitem_pair(7, n_rows=4000, removed=40, added=40, changed=80), \
        gen.lineitem_pair(7, n_rows=4000, removed=40, added=40, changed=80)
    assert la.base.equals(lb.base) and la.target.equals(lb.target) and la.truth == lb.truth

    for make in (gen.documents, gen.vectors):
        x, y = make(7, n_seed=300, n_batches=3), make(7, n_seed=300, n_batches=3)
        assert x.seed_rows.equals(y.seed_rows)
        assert all(p.equals(q) for p, q in zip(x.batches, y.batches))
        assert x.admitted == y.admitted and x.clones == y.clones
        assert not make(8, n_seed=300, n_batches=3).seed_rows.equals(x.seed_rows)


def test_planted_counts():
    c = gen.catalog_pair(3, n_tables=400)
    assert len(c.findings) == sum(c.planted.values())
    assert len({f[:4] for f in c.findings}) == len(c.findings)  # one finding per object

    li = gen.lineitem_pair(3, n_rows=4000, removed=40, added=30, changed=80)
    status = [t[2] for t in li.truth]
    assert (status.count("removed"), status.count("added"), status.count("changed")) == (40, 30, 80)
    assert li.target.num_rows == 4000 - 40 + 30

    d = gen.documents(3, n_seed=300, n_batches=4, batch_size=100)
    n_clones = sum(v for k, v in d.planted.items() if k.startswith("clones_"))
    for b, adm, cl in zip(d.batches, d.admitted, d.clones):
        ids = b.column("doc_id").to_pylist()
        assert sorted(adm + cl) == sorted(ids) and len(cl) == n_clones


def _shingles(text: str) -> set:
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def test_doc_clones_are_the_only_near_pairs():
    d = gen.documents(5, n_seed=300, n_batches=2, batch_size=100)
    rows = [r for t in [d.seed_rows] + d.batches for r in t.to_pylist()]
    clones = {x for c in d.clones for x in c}
    orig = [_shingles(r["text"]) for r in rows if r["doc_id"] not in clones]
    best = max(len(a & b) / len(a | b)
               for i, a in enumerate(orig) for b in orig[i + 1:])
    assert best < 0.3  # admission threshold 0.7
    texts = {r["doc_id"]: r["text"] for r in rows}
    for c in clones:  # exact, or the source plus one word
        near = [t for k, t in texts.items() if k != c and
                texts[c] in (t, t + " dup")]
        assert near, c


def test_vector_clones_are_the_only_near_pairs():
    v = gen.vectors(5, n_seed=600, n_batches=4)
    assert gen.max_unplanned_cosine(v) < 0.9


def test_checker_flags_corrupted_report():
    c = gen.catalog_pair(4, n_tables=200)
    doc = check.expected_report(c.findings)
    assert check.check_report(doc, doc) == []
    bad = copy.deepcopy(doc)
    bad["report_table_list"][0]["report_list"].pop()
    assert check.check_report(bad, doc)
    bad = copy.deepcopy(doc)
    bad["report_table_list"].reverse()
    assert check.check_report(bad, doc)


def test_checker_flags_corrupted_datadiff_and_admission():
    li = gen.lineitem_pair(4, n_rows=2000, removed=10, added=10, changed=20)
    assert check.check_datadiff(list(li.truth), li.truth) == []
    bad = list(li.truth)
    k = [i for i, t in enumerate(bad) if t[2] == "changed"][0]
    bad[k] = bad[k][:3] + ("l_tax",) if bad[k][3] != "l_tax" else bad[k][:3] + ("l_quantity",)
    assert check.check_datadiff(bad, li.truth)
    assert check.check_datadiff(li.truth[1:], li.truth)

    d = gen.documents(4, n_seed=200, n_batches=2, batch_size=100)
    staged = d.batches[1].column("doc_id").to_pylist()
    adm, cl = d.admitted[1], d.clones[1]
    assert check.check_admission(adm, staged, adm, cl) == []
    assert check.check_admission(adm + cl[:1], staged, adm, cl)  # a clone let through
    assert check.check_admission(adm[1:], staged, adm, cl)       # an original rejected
    assert check.check_admission(adm + [10**9], staged, adm, cl)  # never staged
