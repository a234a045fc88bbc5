"""Tests of the benchmark's generators and harness helpers (no Spark).

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path[:0] = [str(Path(__file__).resolve().parent), str(Path(__file__).resolve().parent.parent)]

import gen  # noqa: E402
from probe import Tracer  # noqa: E402
from run import tail  # noqa: E402


def _inputs(seed) -> list[bytes]:
    """Every generated input of every workload for ``seed``, as CSV bytes."""
    people = gen.roster(seed, 500, 30, 30)
    docs, planted = gen.documents(seed, 300, 30)
    return [
        gen.to_csv(("EMP_ID", "First_Name", "Last_Name"), people),
        gen.to_csv(("username",), gen.usernames(seed, people, 200)),
        gen.to_csv(("id", "username", "employee_name", "label"), gen.labelled_pairs(seed, 400, people)),
        gen.to_csv(("doc_id", "text"), docs),
        gen.to_csv(("doc_a", "doc_b", "jaccard"), planted),
    ]


def test_same_seed_gives_byte_identical_inputs():
    assert _inputs(7) == _inputs(7)
    assert _inputs("7.3") == _inputs("7.3")


def test_other_seed_gives_other_inputs():
    for a, b in zip(_inputs(7), _inputs(8)):
        assert a != b


def test_roster_names_repeat():
    people = gen.roster(1, 2000, 30, 30)
    names = [(f, l) for _, f, l in people]
    assert [e for e, _, _ in people] == [str(i) for i in range(1, 2001)]
    assert len(set(names)) < len(names) / 2


def test_usernames_carry_edge_rows_patterns_and_noise():
    people = gen.roster(1, 200, 30, 30)
    names = gen.usernames(1, people, 500)
    assert len(names) == 500
    assert "" in names and "john." in names
    lowered = {(f.lower(), l.lower()) for _, f, l in people}
    assert any(f"{f}.{l}" in names for f, l in lowered)
    assert any(u and not any(f in u or l in u for f, l in lowered) for u in names)


def test_labelled_pairs_are_balanced():
    rows = gen.labelled_pairs(3, 1000, gen.roster(3, 153, 90, 70))
    assert [r[0] for r in rows] == list(range(1000))
    assert sum(r[3] for r in rows) == 500


def test_planted_pairs_carry_their_true_jaccard():
    docs, planted = gen.documents(5, 400, 40)
    text = dict(docs)
    assert sorted(text) == list(range(400))
    assert len(planted) == 40
    for a, b, j in planted:
        assert a < b
        assert j == gen.jaccard(text[a], text[b])
    assert any(j >= 0.7 for _, _, j in planted) and any(j < 0.7 for _, _, j in planted)


def test_shingles_follow_the_engine():
    assert gen.shingles("A b  A b") == {"a b", "b a"}
    assert gen.shingles("single") == {"single"}


def test_tail_keeps_ten_samples_beyond():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    value, pct = tail([float(i) for i in range(1, 101)])
    assert (value, pct) == (90.0, 90.0)
    assert sum(v > value for v in range(1, 101)) == 10


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("request"):
        with tr.span("child"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["child"]["parent"] == spans["request"]["id"]
    st = tr.self_times()
    whole = spans["request"]["end"] - spans["request"]["start"]
    child = spans["child"]["end"] - spans["child"]["start"]
    assert abs(st["request"][0] - (whole - child)) < 1e-9
