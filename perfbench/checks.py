"""Output checks against numpy recomputes, run outside the timed region.

Scores are compared rounded to 6 digits and ranked by (score desc,
row_id asc), the engine's own ranking contract. A result that differs
from the recompute only by rows tied with the k-th score at 6 digits
is still correct: the tie-break there depends on float summation order.
"""

from __future__ import annotations

import numpy as np

SCORE_DIGITS = 6
_TIE_TOL = 2e-6


def ranked(row_ids: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    """Top-k (row_id, rounded score) by score desc, row_id asc."""
    r = np.round(scores, SCORE_DIGITS)
    order = np.lexsort((row_ids, -r))[:k]
    return [(int(row_ids[i]), float(r[i])) for i in order]


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Equal ids and scores, up to reordering among rows tied at the
    k-th score."""
    if len(got) != len(want):
        return False
    if [g[0] for g in got] == [w[0] for w in want]:
        return all(abs(g[1] - w[1]) <= _TIE_TOL for g, w in zip(got, want))
    if any(abs(g[1] - w[1]) > _TIE_TOL for g, w in zip(got, want)):
        return False
    kth = want[-1][1]
    diff = {g[0] for g in got} ^ {w[0] for w in want}
    scores = {i: s for i, s in got + want}
    return all(abs(scores[i] - kth) <= _TIE_TOL for i in diff)


def recall(found: list[int], truth: list[int]) -> float | None:
    """|found ∩ truth| / |truth|; None when the truth set is empty."""
    if not truth:
        return None
    return len(set(found) & set(truth)) / len(truth)
