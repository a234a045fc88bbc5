"""Pure-Python string-similarity primitives with reference parity.

The reference (midhunprahash-ui/Name_match_ml) scores name pairs with
``thefuzz`` (python-Levenshtein backend, ``requirements.txt:3,5``) and
``jellyfish`` (``main.py:56-66``, ``MODEL_TRAINING/train_model.py:19-23``).
Neither library is available in the build environment, so the algorithms are
re-implemented here from their published semantics:

* ``ratio``            — thefuzz ``fuzz.ratio``: indel-cost Levenshtein
                         similarity, integer in [0, 100].
* ``partial_ratio``    — thefuzz ``fuzz.partial_ratio``: best ratio of the
                         shorter string against same-length windows of the
                         longer one.
* ``token_set_ratio``  — thefuzz ``fuzz.token_set_ratio``: set-algebra over
                         sorted tokens, max of three pairwise ratios.
* ``soundex``          — jellyfish American Soundex (4-char code).
* ``metaphone``        — jellyfish Metaphone (Lawrence Philips' 1990 rules).

Each ratio comes twice.  The scalar kernels (``ratio``, ``partial_ratio``,
``token_set_ratio``) score one pair with Python big-int bit-parallel LCS;
they are the parity oracle (``compute_match_score``, the tests, the
benchmark's per-kernel timings) and are unit-tested against golden rows
from the reference's ``assets/example.png`` (``tests/test_similarity.py``).
The batch kernels (``ratio_batch``, ``partial_ratio_batch``,
``token_set_ratio_batch``) score a whole Arrow batch at once, one numpy
``uint64`` lane per (needle, haystack) pair, and are bit-identical to the
scalar ones; they are what the pandas UDFs run (``functions/scoring.py``,
``ml/pipeline.py``).  Needles over 63 characters fall back to the scalar
kernels.

All functions are total: they return defined values for empty strings and
strings with digits/punctuation, where the reference can crash
(``main.py:69,73`` IndexError on ``""`` / ``"john."``).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import numpy as np

__all__ = [
    "ratio",
    "partial_ratio",
    "token_set_ratio",
    "ratio_batch",
    "partial_ratio_batch",
    "token_set_ratio_batch",
    "soundex",
    "metaphone",
    "full_process",
]

# --------------------------------------------------------------------------
# Levenshtein-family ratios (thefuzz parity)
# --------------------------------------------------------------------------


def _match_masks(s: str) -> dict[str, int]:
    """Per-character position bitmasks of ``s`` (bit i set ⇔ s[i] == c)."""
    pm: dict[str, int] = {}
    for i, c in enumerate(s):
        pm[c] = pm.get(c, 0) | (1 << i)
    return pm


def _lcs_len(s1: str, s2: str) -> int:
    """Longest-common-subsequence length via the Allison–Dix (1986)
    bit-parallel row update — O(len2) big-int ops instead of an
    O(len1·len2) cell DP.  Python's arbitrary-precision ints act as the
    bit register, so no 64-char limit."""
    if not s1 or not s2:
        return 0
    m = len(s1)
    full = (1 << m) - 1
    pm = _match_masks(s1)
    v = full
    for c in s2:
        mask = pm.get(c, 0)
        u = v & mask
        v = ((v + u) | (v & ~mask)) & full
    return m - bin(v).count("1")


def _ratio_float(s1: str, s2: str) -> float:
    """python-Levenshtein ``ratio``: (lensum - indel_dist) / lensum.

    Substitutions cost 2 (i.e. pure insert/delete distance), hence
    equivalently ``2*LCS / lensum``.
    """
    lensum = len(s1) + len(s2)
    if lensum == 0:
        return 1.0
    return (2.0 * _lcs_len(s1, s2)) / lensum


def ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.ratio`` parity (``main.py:56``): int(round(100*r))."""
    s1, s2 = str(s1), str(s2)
    if not s1 and not s2:
        return 100
    return int(round(100 * _ratio_float(s1, s2)))


def partial_ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.partial_ratio`` parity (``main.py:57``).

    Optimal local alignment of the shorter string against the longer one:
    the maximum indel ratio of the shorter string vs *any substring* of the
    longer (deletions at both ends of the longer string are free).  Verified
    bit-exact against all scores in the reference's ``assets/example.png``
    (e.g. ``partial_ratio("swati.patel", "tanvi patel") == 74`` via the
    substring ``"ti patel"``).

    Complexity: O(m·n²) on short name-like strings (≤ a few dozen chars) —
    one incremental LCS sweep per substring start.
    """
    s1, s2 = str(s1), str(s2)
    if not s1 and not s2:
        return 100
    if not s1 or not s2:
        return 0
    shorter, longer = (s1, s2) if len(s1) <= len(s2) else (s2, s1)
    best = _partial_ratio_float(shorter, longer)
    # rapidfuzz equal-length special case: try both directions.
    if best < 1.0 and len(s1) == len(s2):
        best = max(best, _partial_ratio_float(longer, shorter))
    return int(round(100 * best))


def _partial_ratio_float(needle: str, haystack: str) -> float:
    """Max indel ratio of ``needle`` vs any substring of ``haystack``.

    One Allison–Dix bit-parallel sweep per substring start gives
    LCS(needle, haystack[start:j]) for every end j — O(n²) big-int ops
    total instead of an O(m·n²) cell DP.
    """
    m, n = len(needle), len(haystack)
    full = (1 << m) - 1
    pm = _match_masks(needle)
    best = 0.0
    for start in range(n):
        # Even a full-LCS match from here can't beat `best` once the
        # window is forced long (needle must embed entirely): bound is
        # 2m/(m+w_min) with w_min = m when remaining ≥ m, else worse.
        remaining = n - start
        bound_w = m if remaining >= m else remaining
        if (2.0 * min(m, remaining)) / (m + bound_w) <= best:
            break
        v = full
        for w in range(1, remaining + 1):
            mask = pm.get(haystack[start + w - 1], 0)
            u = v & mask
            v = ((v + u) | (v & ~mask)) & full
            lcs = m - bin(v).count("1")
            r = (2.0 * lcs) / (m + w)
            if r > best:
                best = r
        if best == 1.0:
            break
    return best


_NON_WORD_RE = re.compile(r"(?u)\W")


def full_process(s: str) -> str:
    """thefuzz ``utils.full_process``: non-alphanumeric (except ``_``) →
    space, lowercase, strip."""
    return _NON_WORD_RE.sub(" ", str(s)).lower().strip()


def token_set_ratio(s1: str, s2: str) -> int:
    """thefuzz ``fuzz.token_set_ratio`` parity (``main.py:58-61``).

    Tokenise both processed strings, then take the max plain ``ratio`` over
    {sorted-intersection vs intersection+diff1, intersection vs
    intersection+diff2, the two combined strings}.
    """
    p1, p2 = full_process(s1), full_process(s2)
    if not p1 or not p2:
        return 0

    tokens1, tokens2 = set(p1.split()), set(p2.split())
    intersection = tokens1 & tokens2

    sorted_sect = " ".join(sorted(intersection))
    sorted_1to2 = " ".join(sorted(tokens1 - tokens2))
    sorted_2to1 = " ".join(sorted(tokens2 - tokens1))
    combined_1to2 = (sorted_sect + " " + sorted_1to2).strip()
    combined_2to1 = (sorted_sect + " " + sorted_2to1).strip()

    return max(
        ratio(sorted_sect, combined_1to2),
        ratio(sorted_sect, combined_2to1),
        ratio(combined_1to2, combined_2to1),
    )


# --------------------------------------------------------------------------
# Batch kernels: the same ratios over a whole Arrow batch in numpy lanes
# --------------------------------------------------------------------------

# A lane's register holds the needle's bits plus the carry out of the top
# one, so needles of up to 63 characters fit a uint64; longer needles fall
# back to the scalar kernels above.
MAX_LANE_NEEDLE = 63
# Pairs × haystack positions per chunk: bounds the (pairs, haystack, needle)
# equality tensor at 64 bytes a cell, about 8 MB, whatever the batch size.
_CHUNK_CELLS = 1 << 17
# Padding code points, outside Unicode and different on the two sides, so a
# padded position never matches anything.
_NEEDLE_PAD = np.uint32(0xFFFFFFFF)
_HAYSTACK_PAD = np.uint32(0xFFFFFFFE)


def _objects(strs: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """``strs`` as an object array of str, and their lengths."""
    arr = np.empty(len(strs), dtype=object)
    arr[:] = list(map(str, strs))
    return arr, np.fromiter(map(len, arr), dtype=np.int64, count=len(arr))


def _codes(strs: np.ndarray, lens: np.ndarray, pad: np.uint32) -> np.ndarray:
    """``(len(strs), longest)`` uint32 code points, right-padded with ``pad``."""
    width = max(int(lens.max(initial=0)), 1)
    codes = np.array(strs, dtype=f"<U{width}").view(np.uint32).reshape(len(strs), width)
    return np.where(np.arange(width) < lens[:, None], codes, pad)


def _match_masks_batch(needles, needle_len, haystacks, hay_len) -> np.ndarray:
    """``(pairs, longest haystack)`` uint64: bit i of ``[p, j]`` is set ⇔
    ``needles[p][i] == haystacks[p][j]`` — the per-character masks of
    :func:`_match_masks`, packed once for the whole chunk."""
    nc = _codes(needles, needle_len, _NEEDLE_PAD)
    hc = _codes(haystacks, hay_len, _HAYSTACK_PAD)
    packed = np.packbits(hc[:, :, None] == nc[:, None, :], axis=2, bitorder="little")
    lanes = np.zeros(packed.shape[:2] + (8,), np.uint8)
    lanes[:, :, : packed.shape[2]] = packed
    return lanes.view("<u8")[:, :, 0]


def _lcs_steps(masks: np.ndarray, starts: np.ndarray, m: np.ndarray, steps: int):
    """The Allison–Dix update of :func:`_lcs_len`, one uint64 lane per
    (needle, haystack) pair: lane k reads ``masks[starts[k] + j]`` at step j
    and has needle length ``m[k]`` (1..63).  Yields the lanes' LCS after
    every step.

    ``v + (v & mask)`` is below ``2**(m+1)``, and it carries out of bit m
    exactly when the LCS grows, so ``(v + u) >> m`` is the increment and no
    popcount is needed.  A zero mask (padding) leaves a lane unchanged."""
    full = (np.uint64(1) << m) - np.uint64(1)
    v = full.copy()
    lcs = np.zeros(len(m), np.uint64)
    for j in range(steps):
        mask = masks.take(starts + j)
        u = v & mask
        s = v + u
        lcs += s >> m
        v = (s | (v ^ u)) & full
        yield lcs


def _chunks(hay_len: np.ndarray):
    """Index arrays over the pairs, shortest haystack first, each chunk
    holding at most ``_CHUNK_CELLS`` pairs × longest haystack (or one
    pair)."""
    order = np.argsort(hay_len, kind="stable")
    sorted_len = np.maximum(hay_len[order], 1)
    i, n = 0, len(order)
    while i < n:
        cost = np.arange(1, n - i + 1) * sorted_len[i:]
        end = i + max(1, int(np.searchsorted(cost, _CHUNK_CELLS, side="right")))
        yield order[i:end]
        i = end


def _lcs_batch(needles, needle_len, haystacks, hay_len) -> np.ndarray:
    """LCS length of every pair; each needle has 1..``MAX_LANE_NEEDLE``
    characters."""
    out = np.zeros(len(needles), np.int64)
    for idx in _chunks(hay_len):
        masks = _match_masks_batch(needles[idx], needle_len[idx], haystacks[idx], hay_len[idx])
        width = masks.shape[1]
        m = needle_len[idx].astype(np.uint64)
        for lcs in _lcs_steps(masks.ravel(), np.arange(len(idx)) * width, m, width):
            pass
        out[idx] = lcs
    return out


def _oriented(s1: Sequence[str], s2: Sequence[str]):
    """Both sides as object arrays, then each pair as (needle = the shorter
    side, haystack) with their lengths, and the pairs whose needle fits a
    lane (1..``MAX_LANE_NEEDLE`` characters)."""
    a, la = _objects(s1)
    b, lb = _objects(s2)
    swap = la > lb
    needle, haystack = np.where(swap, b, a), np.where(swap, a, b)
    m, n = np.minimum(la, lb), np.maximum(la, lb)
    lanes = np.flatnonzero((m > 0) & (m <= MAX_LANE_NEEDLE))
    return a, b, needle, m, haystack, n, lanes


def ratio_batch(s1: Sequence[str], s2: Sequence[str]) -> np.ndarray:
    """:func:`ratio` of every pair ``(s1[k], s2[k])``, bit-identical to it."""
    a, b, needle, m, haystack, n, k = _oriented(s1, s2)
    lensum = m + n
    out = np.where(lensum == 0, 100, 0)
    lcs = _lcs_batch(needle[k], m[k], haystack[k], n[k])
    out[k] = np.rint(100 * ((2.0 * lcs) / lensum[k]))
    for j in np.flatnonzero(m > MAX_LANE_NEEDLE):
        out[j] = ratio(a[j], b[j])
    return out


def _partial_ratio_lanes(needles, needle_len, haystacks, hay_len) -> np.ndarray:
    """:func:`_partial_ratio_float` of every pair, one lane per (pair, start
    offset).  Only starts whose character occurs in the needle get a lane:
    a window that begins on an unmatched character has the LCS of the window
    one shorter, so it never wins."""
    best = np.zeros(len(needles))
    for idx in _chunks(hay_len):
        masks = _match_masks_batch(needles[idx], needle_len[idx], haystacks[idx], hay_len[idx])
        pair, start = np.nonzero(masks)
        width = masks.shape[1]
        # Zero columns after each haystack: a lane that has read its whole
        # window reads only zero masks from then on.
        padded = np.concatenate([masks, np.zeros_like(masks)], axis=1).ravel()
        m = needle_len[idx].astype(np.uint64)[pair]
        m_f = m.astype(np.float64)
        lane_best = np.zeros(len(pair))
        lanes = _lcs_steps(padded, pair * (2 * width) + start, m, width)
        for w, lcs in enumerate(lanes, start=1):
            np.maximum(lane_best, (2.0 * lcs) / (m_f + w), out=lane_best)
        pair_best = np.zeros(len(idx))
        np.maximum.at(pair_best, pair, lane_best)
        best[idx] = pair_best
    return best


def partial_ratio_batch(s1: Sequence[str], s2: Sequence[str]) -> np.ndarray:
    """:func:`partial_ratio` of every pair ``(s1[k], s2[k])``, bit-identical
    to it.  Equal-length pairs get lanes in both directions, which is the
    scalar kernel's second pass (it only ever raises the best)."""
    a, b, needle, m, haystack, n, k = _oriented(s1, s2)
    out = np.where(m + n == 0, 100, 0)
    both = k[m[k] == n[k]]
    owner = np.concatenate([k, both])
    best = np.zeros(len(a))
    np.maximum.at(
        best,
        owner,
        _partial_ratio_lanes(
            np.concatenate([needle[k], haystack[both]]),
            m[owner],
            np.concatenate([haystack[k], needle[both]]),
            n[owner],
        ),
    )
    out[k] = np.rint(100 * best[k])
    for j in np.flatnonzero(m > MAX_LANE_NEEDLE):
        out[j] = partial_ratio(a[j], b[j])
    return out


def token_set_ratio_batch(s1: Sequence[str], s2: Sequence[str]) -> np.ndarray:
    """:func:`token_set_ratio` of every pair ``(s1[k], s2[k])``,
    bit-identical to it.  Each distinct string is tokenised once.  Per
    distinct pair: either side without tokens scores 0, and one token set
    inside the other 100 (its intersection string equals one combined
    string); disjoint sets leave only the ratio of the two sorted token
    strings; otherwise the three operand pairs of :func:`token_set_ratio`
    go through one :func:`ratio_batch` pass with all the others."""
    tokens: dict[str, frozenset[str]] = {}
    for s in (*s1, *s2):
        if s not in tokens:
            tokens[s] = frozenset(full_process(s).split())
    joined = {s: " ".join(sorted(t)) for s, t in tokens.items()}
    index: dict[tuple[str, str], int] = {}
    keys = np.fromiter(
        (index.setdefault(pair, len(index)) for pair in zip(s1, s2)), dtype=np.int64, count=len(s1)
    )
    score = np.zeros(len(index), np.int64)
    left, right, owner = [], [], []
    for k, (a, b) in enumerate(index):
        t1, t2 = tokens[a], tokens[b]
        if not t1 or not t2:
            continue
        if t1 <= t2 or t2 <= t1:
            score[k] = 100
        elif t1.isdisjoint(t2):
            left.append(joined[a])
            right.append(joined[b])
            owner.append(k)
        else:
            sect = " ".join(sorted(t1 & t2))
            c12 = sect + " " + " ".join(sorted(t1 - t2))
            c21 = sect + " " + " ".join(sorted(t2 - t1))
            left += (sect, sect, c12)
            right += (c12, c21, c21)
            owner += (k, k, k)
    if owner:
        np.maximum.at(score, np.array(owner), ratio_batch(left, right))
    return score[keys]


# --------------------------------------------------------------------------
# Phonetic codes (jellyfish parity)
# --------------------------------------------------------------------------

_SOUNDEX_GROUPS = (
    ("BFPV", "1"),
    ("CGJKQSXZ", "2"),
    ("DT", "3"),
    ("L", "4"),
    ("MN", "5"),
    ("R", "6"),
)


def _soundex_code(ch: str) -> str | None:
    for letters, digit in _SOUNDEX_GROUPS:
        if ch in letters:
            return digit
    return None


def soundex(s: str) -> str:
    """jellyfish-compatible American Soundex (``main.py:63,65``).

    The first character is kept verbatim (even a digit — jellyfish does not
    require alphabetic input); H and W are transparent (do not reset the
    previous code); vowels and other characters reset it.
    """
    s = str(s).upper()
    if not s:
        return ""
    result = [s[0]]
    last = _soundex_code(s[0])
    count = 1
    for ch in s[1:]:
        if count == 4:
            break
        code = _soundex_code(ch)
        if code is not None:
            if code != last:
                result.append(code)
                count += 1
            last = code
        elif ch not in ("H", "W"):
            last = None
    result.append("0" * (4 - count))
    return "".join(result)


_VOWELS = "aeiou"


def metaphone(s: str) -> str:
    """jellyfish-compatible Metaphone (``main.py:64,66``).

    Lawrence Philips' original 1990 rule set; non-letters (digits, dots,
    underscores) produce no output.  Word-initial transformations: kn/gn/pn/
    wr/ae drop the first letter, x→s, wh→w.
    """
    s = str(s).lower().strip()
    result: list[str] = []

    # Word-initial transformations.
    if s.startswith(("kn", "gn", "pn", "wr", "ae")):
        s = s[1:]
    elif s.startswith("x"):
        s = "s" + s[1:]
    elif s.startswith("wh"):
        s = "w" + s[1:]

    i = 0
    n = len(s)
    while i < n:
        c = s[i]
        nxt = s[i + 1] if i + 1 < n else "*"
        nxtnxt = s[i + 2] if i + 2 < n else "*"

        # Skip doubled letters except 'c'.
        if c == nxt and c != "c":
            i += 1
            continue

        if c in _VOWELS:
            if i == 0 or s[i - 1] == " ":
                result.append(c)
        elif c == "b":
            # Silent terminal b after m ("dumb", "thumb").
            if not (i == n - 1 and i > 0 and s[i - 1] == "m"):
                result.append("b")
        elif c == "c":
            if nxt == "i" and nxtnxt == "a":  # -cia-
                result.append("x")
            elif nxt == "h":  # -ch-
                result.append("x")
                i += 1
            elif nxt in "iey":  # -ci-, -ce-, -cy-
                result.append("s")
            else:
                result.append("k")
        elif c == "d":
            if nxt == "g" and nxtnxt in "iey":  # -dge-, -dgy-, -dgi-
                result.append("j")
                i += 2
            else:
                result.append("t")
        elif c in "flmnr":
            result.append(c)
        elif c == "g":
            if nxt == "h":
                if nxtnxt not in _VOWELS and nxtnxt != "*":
                    pass  # silent gh before consonant
                elif nxtnxt == "*":
                    pass  # terminal -gh silent
                else:
                    result.append("k")
                    i += 1
            elif nxt == "n":
                pass  # silent g before n
            elif nxt in "iey":
                result.append("j")
            else:
                result.append("k")
        elif c == "h":
            if i == 0 or nxt in _VOWELS or (i > 0 and s[i - 1] in _VOWELS):
                if nxt in _VOWELS or i == 0:
                    result.append("h")
        elif c == "j":
            result.append("j")
        elif c == "k":
            if i == 0 or s[i - 1] != "c":
                result.append("k")
        elif c == "p":
            if nxt == "h":
                result.append("f")
                i += 1
            else:
                result.append("p")
        elif c == "q":
            result.append("k")
        elif c == "s":
            if nxt == "h":
                result.append("x")
                i += 1
            elif nxt == "i" and nxtnxt in "oa":  # -sio-, -sia-
                result.append("x")
            else:
                result.append("s")
        elif c == "t":
            if nxt == "i" and nxtnxt in "oa":  # -tio-, -tia-
                result.append("x")
            elif nxt == "h":  # -th-
                result.append("0")
                i += 1
            elif not (nxt == "c" and nxtnxt == "h"):  # t silent in -tch-
                result.append("t")
        elif c == "v":
            result.append("f")
        elif c == "w":
            if nxt in _VOWELS:
                result.append("w")
        elif c == "x":
            result.append("ks")
        elif c == "y":
            if nxt in _VOWELS:
                result.append("y")
        elif c == "z":
            result.append("s")
        # Everything else (digits, punctuation, space) → no output.
        i += 1

    return "".join(result).upper()
