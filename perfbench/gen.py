"""Seeded input generators for the benchmark workloads.

Pure Python and standard library only: every input is a function of the
seed alone (``random.Random(seed)``), so the same seed gives byte-identical
CSVs on every host.  Nothing here imports the engine.

* :func:`roster` — employee rows whose first and last names are built from
  syllables and drawn with Zipf weights, so real names repeat.
* :func:`usernames` — FIXTURES.md §B username patterns drawn from a roster,
  with one-character typos, noise that matches nobody, and the ``""`` and
  ``"john."`` edge rows.
* :func:`labelled_pairs` — FIXTURES.md §C ``(id, username, employee_name,
  label)`` rows, balanced between positives and negatives.
* :func:`documents` — a word corpus with planted near-duplicate pairs and
  their true word-bigram shingle Jaccard.
"""

from __future__ import annotations

import csv
import io
import random
import re

SYLLABLES = (
    "ra", "vi", "sha", "an", "ku", "ma", "ne", "ha", "pri", "ya", "ti", "su",
    "de", "ka", "ni", "ja", "mi", "lo", "ve", "ar", "in", "go", "pa", "tri",
    "da", "si", "ro", "la", "mo", "esh", "dev", "ul", "ak", "nan", "bha", "ch",
)
NOISE_WORDS = ("testme", "admin1", "qwerty", "guest", "root42", "xyz_user", "tmp")
EDGE_USERNAMES = ("", "john.")
ZIPF_S = 1.1
TYPO_SHARE = 0.25  # of the usernames drawn from a roster person
NOISE_SHARE = 0.15  # of all usernames: strings that belong to nobody
DOC_VOCAB = 3000
DOC_WORDS = (30, 60)


def _zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    return [1.0 / (rank ** s) for rank in range(1, n + 1)]


def _word(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(lo, hi)))


def _vocab(rng: random.Random, n: int, lo: int = 2, hi: int = 3) -> list[str]:
    """``n`` distinct syllable words, most frequent first.  The word of Zipf
    rank ``r`` has ``lo + r % (hi - lo + 1)`` syllables, so word lengths by
    rank, which set the cost of matching, do not change with the seed."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        k = lo + len(seen) % (hi - lo + 1)
        seen.setdefault("".join(rng.choice(SYLLABLES) for _ in range(k)), None)
    return list(seen)


def roster(
    seed: int | str, n_rows: int, n_first: int, n_last: int, *, distinct: int | None = None
) -> list[tuple[str, str, str]]:
    """``(emp_id, First, Last)`` rows; ids are ``"1"..str(n_rows)``.

    First and last names come from vocabularies of ``n_first`` / ``n_last``
    syllable words drawn with Zipf weights, so common names repeat the way
    they do in a real roster.  With ``distinct``, the roster holds exactly
    that many distinct full names (the rest of the rows repeat them, common
    names most), so the matching work per request does not vary with the
    seed."""
    rng = random.Random(f"roster:{seed}")
    firsts = [w.capitalize() for w in _vocab(rng, n_first)]
    lasts = [w.capitalize() for w in _vocab(rng, n_last)]
    f_w, l_w = _zipf_weights(n_first), _zipf_weights(n_last)
    if distinct is None:
        names = list(zip(rng.choices(firsts, f_w, k=n_rows), rng.choices(lasts, l_w, k=n_rows)))
    else:
        uniq: dict[tuple[str, str], None] = {}
        while len(uniq) < distinct:
            uniq.setdefault((rng.choices(firsts, f_w)[0], rng.choices(lasts, l_w)[0]), None)
        names = list(uniq) + rng.choices(list(uniq), _zipf_weights(distinct), k=n_rows - distinct)
        rng.shuffle(names)
    return [(str(i + 1), f, l) for i, (f, l) in enumerate(names)]


def _pattern(rng: random.Random, first: str, last: str) -> str:
    """One FIXTURES.md §B username pattern for the person ``first last``."""
    f, l = first.lower(), last.lower()
    kind = rng.randrange(11)
    if kind == 0:
        return f"{f}.{l}"
    if kind == 1:
        return f"{l}_{f}"
    if kind == 2:
        return f"{f}_{l}"
    if kind == 3:
        return f"{f[0]}_{l}"
    if kind == 4:
        return f"{f[0]}{l}"
    if kind == 5:
        return f"{f}{rng.randint(1, 999)}"
    if kind == 6:
        return f"{rng.choice(('iam_', 'the_real_', 'ghost_'))}{f}"
    if kind == 7:
        return f"{f[:4]}_{l[:4]}"
    if kind == 8:
        return f"{l[:3]}_{f}"
    if kind == 9:
        return f"{f[0]}.{l}{rng.randint(10, 99)}"
    return f"{f}{l}"


def _typo(rng: random.Random, s: str) -> str:
    """One random single-character edit: substitute, delete, insert or swap."""
    i = rng.randrange(len(s))
    op = rng.randrange(4)
    letter = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == 0:
        return s[:i] + letter + s[i + 1:]
    if op == 1 and len(s) > 1:
        return s[:i] + s[i + 1:]
    if op == 2 or i + 1 >= len(s):
        return s[:i] + letter + s[i:]
    return s[:i] + s[i + 1] + s[i] + s[i + 2:]


def usernames(seed: int | str, people: list[tuple[str, str, str]], n: int) -> list[str]:
    """``n`` usernames for the roster ``people``: the two edge rows, a
    ``NOISE_SHARE`` of strings that belong to nobody, and otherwise a §B
    pattern of a random roster person, a ``TYPO_SHARE`` of them with one
    mistyped character."""
    rng = random.Random(f"usernames:{seed}")
    out = list(EDGE_USERNAMES[: min(n, len(EDGE_USERNAMES))])
    while len(out) < n:
        if rng.random() < NOISE_SHARE:
            if rng.random() < 0.3:
                out.append(rng.choice(NOISE_WORDS))
            else:
                out.append("".join(rng.choice("bcdfgxzqw0123456789") for _ in range(rng.randint(5, 9))))
            continue
        _, first, last = rng.choice(people)
        name = _pattern(rng, first, last)
        out.append(_typo(rng, name) if rng.random() < TYPO_SHARE else name)
    rng.shuffle(out)
    return out


def labelled_pairs(seed: int | str, n_pairs: int, people: list[tuple[str, str, str]]) -> list[tuple[int, str, str, int]]:
    """FIXTURES.md §C rows ``(id, username, employee_name, label)``: half
    positives (a §B pattern of the employee, sometimes mistyped, against
    their Title Case name) and half negatives (another employee's pattern,
    or a random string, against the name)."""
    rng = random.Random(f"pairs:{seed}")
    rows = []
    for i in range(n_pairs):
        _, first, last = rng.choice(people)
        name = f"{first} {last}"
        if i % 2 == 0:
            u = _pattern(rng, first, last)
            if rng.random() < 0.1:
                u = _typo(rng, u)
            rows.append((i, u, name, 1))
        elif rng.random() < 0.7:
            _, of, ol = rng.choice(people)
            while (of, ol) == (first, last):
                _, of, ol = rng.choice(people)
            rows.append((i, _pattern(rng, of, ol), name, 0))
        else:
            rows.append((i, _word(rng, 2, 4) + str(rng.randint(0, 99)), name, 0))
    return rows


_WS = re.compile(r"\s+")


def shingles(text: str, n: int = 2) -> set[str]:
    """The engine's shingle set (``operators.dedup._staged_shingle_hashes``
    before hashing): lowercase whitespace words, distinct word ``n``-grams,
    or the words themselves when a document is shorter than ``n``."""
    words = [w for w in _WS.split(text.lower()) if w]
    if len(words) < n:
        return set(words)
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 1.0


def documents(
    seed: int | str, n_docs: int, n_planted: int
) -> tuple[list[tuple[int, str]], list[tuple[int, int, float]]]:
    """``(docs, planted)``: ``n_docs`` documents of Zipf-drawn syllable
    words, ``n_planted`` of which are edited copies of another document
    (1-8 words replaced, dropped or inserted).  ``planted`` holds
    ``(doc_a, doc_b, true_jaccard)`` with ``doc_a < doc_b``."""
    rng = random.Random(f"docs:{seed}")
    vocab = _vocab(rng, DOC_VOCAB, 2, 4)
    weights = _zipf_weights(DOC_VOCAB, 1.0)
    base = [
        rng.choices(vocab, weights, k=rng.randint(*DOC_WORDS))
        for _ in range(n_docs - n_planted)
    ]
    texts = [" ".join(w) for w in base]
    sources = []
    for _ in range(n_planted):
        src = rng.randrange(len(base))
        words = list(base[src])
        for _ in range(rng.randint(1, 8)):
            op, i = rng.randrange(3), rng.randrange(len(words))
            if op == 0:
                words[i] = rng.choice(vocab)
            elif op == 1 and len(words) > DOC_WORDS[0]:
                del words[i]
            else:
                words.insert(i, rng.choice(vocab))
        sources.append(src)
        texts.append(" ".join(words))
    order = list(range(n_docs))
    rng.shuffle(order)  # order[k] = doc id of the k-th generated text
    docs = sorted((order[k], t) for k, t in enumerate(texts))
    planted = []
    for j, src in enumerate(sources):
        a, b = sorted((order[src], order[n_docs - n_planted + j]))
        planted.append((a, b, jaccard(texts[src], texts[n_docs - n_planted + j])))
    return docs, sorted(planted)


def to_csv(header: tuple[str, ...], rows) -> bytes:
    """CRLF CSV bytes, the line ending of the reference's own uploads."""
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\r\n")
    w.writerow(header)
    for r in rows:
        w.writerow(r if isinstance(r, (tuple, list)) else (r,))
    return buf.getvalue().encode()
