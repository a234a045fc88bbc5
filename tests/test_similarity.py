"""Differential + property tests for the pure-Python similarity primitives.

Vectors derived from the published algorithm semantics (thefuzz/rapidfuzz
indel ratios, jellyfish soundex/metaphone) and from the reference's golden
output (``assets/example.png``, rows tabulated in ``FIXTURES.md §E``).
"""

from __future__ import annotations

import csv
from pathlib import Path

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from name_match_ml_spark.functions.scoring import compute_match_score
from name_match_ml_spark.functions.similarity import (
    MAX_LANE_NEEDLE,
    _partial_ratio_float,
    full_process,
    metaphone,
    partial_ratio,
    partial_ratio_batch,
    ratio,
    ratio_batch,
    soundex,
    token_set_ratio,
    token_set_ratio_batch,
)

REF_EMPLOYEES = Path(__file__).parent / "fixtures" / "employee.csv"


# -- ratio -----------------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("", "", 100),
        ("abc", "", 0),
        ("", "abc", 0),
        ("abc", "abc", 100),
        # indel semantics: dist("kitten","sitting") with sub-cost 2 = 5
        # → (13-5)/13 = 0.6153... → 62
        ("kitten", "sitting", 62),
        # 2*LCS/(len1+len2): LCS("swati.patel","tanvi patel")=7 → 14/22 → 64
        ("swati.patel", "tanvi patel", 64),
        ("new york mets", "new york meats", 96),
        ("harshm37", "harsh sharma", 60),
    ],
)
def test_ratio(s1, s2, expected):
    assert ratio(s1, s2) == expected


@given(st.text(max_size=20), st.text(max_size=20))
@settings(max_examples=200, deadline=None)
def test_ratio_properties(s1, s2):
    r = ratio(s1, s2)
    assert 0 <= r <= 100
    assert r == ratio(s2, s1)  # symmetric
    assert ratio(s1, s1) == 100


# -- partial_ratio ---------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        ("abc", "abc", 100),
        ("abc", "xxabcxx", 100),  # exact substring
        # equal-length both-direction case (example.png: swati.patel vs
        # Tanvi Patel needs partial=74 via substring "ti.patel")
        ("swati.patel", "tanvi patel", 74),
        ("harshm37", "harsh sharma", 77),  # substring "harsh"
        ("harshm37", "harsh nadar", 77),
        ("n.tripathi25", "neha tripathi", 80),  # substring "tripathi"
        ("", "", 100),
        ("a", "", 0),
    ],
)
def test_partial_ratio(s1, s2, expected):
    assert partial_ratio(s1, s2) == expected


@given(st.text(max_size=16), st.text(max_size=16))
@settings(max_examples=200, deadline=None)
def test_partial_ratio_properties(s1, s2):
    p = partial_ratio(s1, s2)
    assert 0 <= p <= 100
    assert p >= ratio(s1, s2) or (len(s1) != len(s2))
    # containment ⇒ 100
    if s1 and s1 in s2:
        assert p == 100


# -- token_set_ratio -------------------------------------------------------


@pytest.mark.parametrize(
    "s1,s2,expected",
    [
        # full_process turns '.' into space → identical token sets
        ("swati.patel", "swati patel", 100),
        # subset token set ⇒ 100 (sect vs sect+diff, sect==one side)
        ("swati.patel", "patel", 100),
        ("swati.patel", "tanvi patel", 73),
        ("harshm37", "harsh", 77),
        ("harshm37", "sharma", 57),
        # underscore is \w → kept inside a single token
        ("john_smith", "john smith", 90),
        ("", "x", 0),
        ("x", "", 0),
    ],
)
def test_token_set_ratio(s1, s2, expected):
    assert token_set_ratio(s1, s2) == expected


def test_full_process():
    assert full_process("Swati.Patel!") == "swati patel"
    assert full_process("john_smith") == "john_smith"
    assert full_process("  A  B  ") == "a  b"


# -- soundex ---------------------------------------------------------------


@pytest.mark.parametrize(
    "s,expected",
    [
        ("Robert", "R163"),
        ("Rupert", "R163"),
        ("Ashcraft", "A261"),  # H transparent: s,c adjacent same code
        ("Ashcroft", "A261"),
        ("Tymczak", "T522"),
        ("Pfister", "P236"),  # first letter's own code suppresses repeats (pf)
        ("Honeyman", "H555"),
        ("harsh", "H620"),
        ("harshm37", "H625"),  # digits reset the last-code state
        ("", ""),
        ("a", "A000"),
    ],
)
def test_soundex(s, expected):
    assert soundex(s) == expected


# -- metaphone -------------------------------------------------------------


@pytest.mark.parametrize(
    "s,expected",
    [
        ("Thompson", "0MPSN"),  # th → 0 (theta)
        ("metaphone", "MTFN"),
        ("Knight", "NT"),  # kn- drops k; -gh- silent before t
        ("harsh", "HRX"),
        ("sharma", "XRM"),
        ("harshm37", "HRXM"),  # digits ignored
        ("swati.patel", "SWTPTL"),
        ("neha", "NH"),
        ("tripathi", "TRP0"),
        ("", ""),
        ("xavier", "SFR"),  # initial x → s
        ("wright", "RT"),  # wr- drops w
    ],
)
def test_metaphone(s, expected):
    assert metaphone(s) == expected


# -- composite score: golden rows from assets/example.png ------------------


def _employees():
    with open(REF_EMPLOYEES) as f:
        return {r["EMP_ID"]: (r["First_Name"], r["Last_Name"]) for r in csv.DictReader(f)}


GOLDEN = [
    ("swati.patel", "7", 100.00),
    ("swati.patel", "60", 79.80),
    ("harshm37", "103", 76.90),
    ("harshm37", "9", 76.90),
    ("harshm37", "14", 66.30),
    ("n.tripathi25", "25", 80.40),
]


@pytest.mark.parametrize("username,emp_id,expected", GOLDEN)
def test_golden_scores(username, emp_id, expected):
    emps = _employees()
    first, last = emps[emp_id]
    got = compute_match_score(username, f"{first} {last}", first, last, emp_id)
    assert got == pytest.approx(expected, abs=0.005)


def test_score_total_on_reference_crash_edges():
    """Reference raises IndexError on these (main.py:69,73); we don't."""
    emps = _employees()
    first, last = emps["7"]
    for u in ["", "john.", ".", "..", "   "]:
        s = compute_match_score(u, f"{first} {last}", first, last, "7")
        assert 0.0 <= s <= 100.0


@given(
    st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789._- ", max_size=24),
)
@settings(max_examples=100, deadline=None)
def test_score_bounds_property(u):
    s = compute_match_score(u, "swati patel", "swati", "patel", "7")
    assert 0.0 <= s <= 100.0


def test_exact_pattern_short_circuits_to_100():
    for u in [
        "swati.patel", "patel.swati", "swati_patel", "patel_swati",
        "swatipatel", "patelswati", "swati patel", "patel swati",
    ]:
        assert compute_match_score(u, "Swati Patel", "Swati", "Patel", "7") == 100.0


# -- batch kernels: bit-identical to their scalar twins --------------------

KERNELS = [
    (ratio, ratio_batch),
    (partial_ratio, partial_ratio_batch),
    (token_set_ratio, token_set_ratio_batch),
]
KERNEL_IDS = ["ratio", "partial_ratio", "token_set_ratio"]


def _assert_batch_matches(scalar, batch, pairs):
    got = batch([a for a, _ in pairs], [b for _, b in pairs])
    assert isinstance(got, np.ndarray) and len(got) == len(pairs)
    want = [scalar(a, b) for a, b in pairs]
    assert [int(x) for x in got] == want


_NAME_TEXT = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789 ._-é", max_size=24)


@pytest.mark.parametrize("scalar,batch", KERNELS, ids=KERNEL_IDS)
@given(st.lists(st.tuples(_NAME_TEXT, _NAME_TEXT), max_size=40))
@settings(max_examples=150, deadline=None)
def test_batch_kernel_matches_scalar(scalar, batch, pairs):
    _assert_batch_matches(scalar, batch, pairs + [("", ""), ("", "a"), ("john.", "")])


@pytest.mark.parametrize("scalar,batch", KERNELS, ids=KERNEL_IDS)
def test_batch_kernel_fallback_boundary(scalar, batch):
    """Needles of 63 characters run in a lane; 64 and 65 fall back to the
    scalar kernel.  Mixed in one batch, both paths must agree with it."""
    assert MAX_LANE_NEEDLE == 63
    pairs = []
    for n in (62, 63, 64, 65):
        needle = ("ab.cd efg_" * 7)[:n]
        pairs += [
            (needle, needle),
            (needle, "x" + needle + "yz"),
            (needle[::-1], needle + " tail"),
            (needle, needle[: n // 2]),
            ("harsh sharma", needle),
        ]
    _assert_batch_matches(scalar, batch, pairs)


def test_partial_ratio_batch_equal_length_both_directions():
    """Equal lengths: the scalar kernel also sweeps the second string as
    the needle; the batch gives such pairs lanes in both directions."""
    pairs = [
        ("swati.patel", "tanvi patel"),
        ("tanvi patel", "swati.patel"),
        ("abcx", "yabc"),
        ("xbca", "abcy"),
        ("ab", "ba"),
        ("aaab", "baaa"),
    ]
    # The second direction decides at least one of these.
    assert any(partial_ratio(a, b) != int(round(100 * _partial_ratio_float(a, b))) for a, b in pairs)
    _assert_batch_matches(partial_ratio, partial_ratio_batch, pairs)


@pytest.mark.parametrize("scalar,batch", KERNELS, ids=KERNEL_IDS)
def test_batch_kernel_golden_pairs(scalar, batch):
    """The example.png (FIXTURES.md §E) score components through the batch
    kernels: each golden username against its employee's full, first and
    last name."""
    emps = _employees()
    pairs = []
    for username, emp_id, _ in GOLDEN:
        first, last = emps[emp_id]
        u = username.lower()
        pairs += [(u, f"{first} {last}".lower()), (u, first.lower()), (u, last.lower())]
    _assert_batch_matches(scalar, batch, pairs)


@pytest.mark.parametrize(
    "batch,s1,s2,expected",
    [
        (ratio_batch, "swati.patel", "tanvi patel", 64),
        (partial_ratio_batch, "swati.patel", "tanvi patel", 74),
        (partial_ratio_batch, "n.tripathi25", "neha tripathi", 80),
        (token_set_ratio_batch, "swati.patel", "tanvi patel", 73),
        (token_set_ratio_batch, "harshm37", "sharma", 57),
    ],
)
def test_batch_kernel_golden_values(batch, s1, s2, expected):
    assert list(batch([s1], [s2])) == [expected]


@pytest.mark.parametrize("batch", [b for _, b in KERNELS], ids=KERNEL_IDS)
def test_batch_kernel_empty_batch(batch):
    assert len(batch([], [])) == 0
