"""Pure-Python reference results the engine's outputs are checked against."""

from __future__ import annotations

import multiprocessing
import os
from functools import partial

from name_match_ml_spark.functions.scoring import (
    SCORE_THRESHOLD,
    TOTAL_MATCHES_TO_DISPLAY,
    compute_match_score,
)

LABELS = {1: "HIGH CONFIDENCE", 2: "2nd HIGH CONFIDENCE", 3: "3rd HIGH CONFIDENCE", 4: "NOT SURE"}
NOT_FOUND = ("N/A", "USER NOT FOUND", "0.00%", "USER NOT FOUND")


def _score_all(names: list[tuple[str, str]], username: str) -> dict[tuple[str, str], float]:
    return {(f, l): compute_match_score(username, f"{f} {l}", f, l, "") for f, l in names}


class MatchOracle:
    """Top-4, threshold and dense-rank result of ``compute_match_score`` over
    the full (username × roster) cross product, with the engine's
    ``(score desc, emp_id asc)`` tiebreak.

    The score depends only on the texts (``emp_id`` feeds only the
    reference's dead bonus), so each distinct (username, name) text pair
    is scored once."""

    def __init__(self, people: list[tuple[str, str, str]]) -> None:
        self.people = people
        self._names = sorted({(f, l) for _, f, l in people})
        self._scores: dict[str, dict[tuple[str, str], float]] = {}

    def prefetch(self, usernames: list[str]) -> None:
        """Score ``usernames`` in one worker process per CPU; the pool is
        gone when this returns."""
        todo = sorted({u for u in usernames if u not in self._scores})
        if not todo:
            return
        with multiprocessing.get_context("fork").Pool(len(os.sched_getaffinity(0))) as pool:
            got = pool.map(partial(_score_all, self._names), todo)
            pool.close()
            pool.join()
        self._scores.update(zip(todo, got))

    def scores(self, username: str) -> dict[tuple[str, str], float]:
        got = self._scores.get(username)
        if got is None:
            got = self._scores[username] = _score_all(self._names, username)
        return got

    def top(self, username: str) -> list[tuple[str, str, float, str]]:
        """``(emp_id, emp_name, score, label)`` rows, best first."""
        s = self.scores(username)
        ranked = sorted(
            ((emp_id, f"{f} {l}", s[(f, l)]) for emp_id, f, l in self.people),
            key=lambda t: (-t[2], t[0]),
        )
        rows, rank, prev = [], 0, None
        for emp_id, name, score in ranked[:TOTAL_MATCHES_TO_DISPLAY]:
            if score < SCORE_THRESHOLD:
                break
            if score != prev:
                rank, prev = rank + 1, score
            rows.append((emp_id, name, score, LABELS[rank]))
        return rows

    def output_rows(self, username: str) -> list[tuple[str, str, str, str, str]]:
        """The rows ``format_output`` writes for ``username``."""
        top = self.top(username)
        if not top:
            return [(username, *NOT_FOUND)]
        return [(username, e, n, f"{s:.2f}%", label) for e, n, s, label in top]

