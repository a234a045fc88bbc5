"""The match-score expression, decomposed Spark-first.

Reference semantics: ``compute_match_score`` at ``main.py:25-90`` — a
weighted composite of Levenshtein-family ratios, token-set ratios, phonetic
(Soundex/Metaphone) equality on first/last name, plus pattern/split/initial
bonuses, capped at 100.

Spark decomposition (see ``operators/matching.py`` for assembly):

* Pattern short-circuit (``main.py:36-47``), split bonus (``:49-52``),
  initial bonus (``:68-74``), the weighted sum and the ``min(·,100)`` cap
  (``:76-90``) are **native column expressions** — whole-stage codegen,
  no Python.
* Phonetic codes (soundex/metaphone) are computed **per side before the
  join** via :func:`phonetic_codes_udf` — O(U+E) Python work instead of
  O(U×E); equality happens natively post-join.
* Only the five per-pair ratio components require per-pair work:
  :func:`pair_ratios_udf`, one Arrow-vectorised pandas UDF returning a
  struct, which scores each Arrow batch with the numpy batch kernels of
  ``functions/similarity.py`` (one uint64 LCS lane per pair).

The pure-Python :func:`compute_match_score` mirrors the reference
row-function exactly (including the dead ``number_match_bonus`` at
``main.py:54``) with the scalar kernels, and is the test oracle for the
distributed pipeline; the only intentional divergences are the guarded
edges where the reference raises IndexError (``main.py:69`` empty
username, ``main.py:73`` trailing dot) — this engine scores them instead
of crashing.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .similarity import (
    metaphone,
    partial_ratio,
    partial_ratio_batch,
    ratio,
    ratio_batch,
    soundex,
    token_set_ratio,
    token_set_ratio_batch,
)

__all__ = [
    "SCORE_THRESHOLD",
    "TOTAL_MATCHES_TO_DISPLAY",
    "compute_match_score",
    "pair_ratios_udf",
    "phonetic_codes_udf",
]

# Constants from ``main.py:19-22``.
NUM_TOP_GROUP_MATCHES = 2
NUM_ADDITIONAL_POSSIBLE_MATCHES = 2
TOTAL_MATCHES_TO_DISPLAY = NUM_TOP_GROUP_MATCHES + NUM_ADDITIONAL_POSSIBLE_MATCHES
SCORE_THRESHOLD = 50

_USERNAME_SPLIT_RE = re.compile(r"[\._\-\s]")


def compute_match_score(
    username: str,
    employee_name: str,
    first_name: str,
    last_name: str,
    emp_id: str,
) -> float:
    """Pure-Python mirror of ``main.py:25-90`` (the test oracle).

    Total where the reference crashes: the initial-bonus lookups at
    ``main.py:69,73`` are guarded for empty strings.
    """
    u = str(username).lower().strip()
    ename = str(employee_name).lower().strip()
    first = str(first_name).lower().strip()
    last = str(last_name).lower().strip()
    emp_id_str = str(emp_id).lower().strip()

    parts = _USERNAME_SPLIT_RE.split(u)
    part1 = parts[0] if len(parts) > 0 else ""
    part2 = parts[1] if len(parts) > 1 else ""

    patterns = [
        f"{first}.{last}",
        f"{last}.{first}",
        f"{first}_{last}",
        f"{last}_{first}",
        f"{first}{last}",
        f"{last}{first}",
        f"{first} {last}",
        f"{last} {first}",
    ]
    if u in patterns:
        return 100.0

    split_bonus = 0
    if (part1 == first and part2 == last) or (part2 == first and part1 == last):
        split_bonus += 10

    # Dead code replicated verbatim from ``main.py:54`` — always 0.
    number_match_bonus = 0 if emp_id_str in u else 0

    lev_full = ratio(u, ename)
    partial_full = partial_ratio(u, ename)
    token_set_full = token_set_ratio(u, ename)
    token_set_first = token_set_ratio(u, first)
    token_set_last = token_set_ratio(u, last)

    soundex_last = int(soundex(u) == soundex(last))
    metaphone_last = int(metaphone(u) == metaphone(last))
    soundex_first = int(soundex(u) == soundex(first))
    metaphone_first = int(metaphone(u) == metaphone(first))

    initial_bonus = 0
    # Guarded vs ``main.py:69`` (IndexError on empty username/first name).
    if u and first and u[0] == first[0]:
        initial_bonus += 5
    if "." in u:
        dot_parts = u.split(".")
        # Guarded vs ``main.py:73`` (IndexError on "john.").
        if len(dot_parts) > 1 and dot_parts[1] and first and dot_parts[1][0] == first[0]:
            initial_bonus += 5

    composite = (
        lev_full * 0.2
        + partial_full * 0.2
        + token_set_full * 0.2
        + token_set_last * 0.3
        + token_set_first * 0.2
        + soundex_last * 6
        + metaphone_last * 7
        + soundex_first * 3
        + metaphone_first * 3
        + split_bonus
        + initial_bonus
        + number_match_bonus
    )
    return float(min(composite, 100))


# --------------------------------------------------------------------------
# Arrow-vectorised UDFs
# --------------------------------------------------------------------------

PAIR_RATIOS_SCHEMA = StructType(
    [
        StructField("lev_full", IntegerType()),
        StructField("partial_full", IntegerType()),
        StructField("token_set_full", IntegerType()),
        StructField("token_set_first", IntegerType()),
        StructField("token_set_last", IntegerType()),
    ]
)


@pandas_udf(PAIR_RATIOS_SCHEMA)
def pair_ratios_udf(
    username: pd.Series,
    employee_name: pd.Series,
    first_name: pd.Series,
    last_name: pd.Series,
) -> pd.DataFrame:
    """Per-pair ratio components (``main.py:56-61``), one Arrow batch at a
    time through the batch kernels.  Inputs are pre-lowercased/trimmed
    columns; this is the only per-pair Python stage in the flagship plan.
    The three token-set ratios share one kernel call, so each distinct
    string is tokenised once per batch."""
    u, e, f, l = (s.fillna("").tolist() for s in (username, employee_name, first_name, last_name))
    n = len(u)
    token_set = token_set_ratio_batch(u * 3, e + f + l)
    return pd.DataFrame(
        {
            "lev_full": ratio_batch(u, e),
            "partial_full": partial_ratio_batch(u, e),
            "token_set_full": token_set[:n],
            "token_set_first": token_set[n : 2 * n],
            "token_set_last": token_set[2 * n :],
        }
    )


PHONETIC_SCHEMA = StructType(
    [
        StructField("sdx", StringType()),
        StructField("mp", StringType()),
    ]
)


@pandas_udf(PHONETIC_SCHEMA)
def phonetic_codes_udf(s: pd.Series) -> pd.DataFrame:
    """Soundex + Metaphone codes for one column — applied per *side* before
    the similarity join (O(U+E), not O(U×E)); post-join the phonetic
    equalities of ``main.py:63-66`` become native string comparisons."""
    vals = s.fillna("")
    return pd.DataFrame(
        {
            "sdx": [soundex(v) for v in vals],
            "mp": [metaphone(v) for v in vals],
        }
    )
