"""Set-overlap eval metrics A8 (reference
`src/eval/evaluate.py:92-110`), computed in Python over the
collected id lists."""

from __future__ import annotations


def recall(truth: list, retrieved: list) -> float:
    """recall of ``retrieved`` w.r.t. ``truth`` (evaluate.py:92-101)."""
    if len(truth) == 0:
        return 0.0
    tp = len(set(truth) & set(retrieved))
    fn = len(set(truth) - set(retrieved))
    return tp / (tp + fn) if (tp + fn) > 0 else 0.0


def r_precision(truth: list, retrieved: list) -> float:
    """r-precision (evaluate.py:104-110): precision at R=|truth|."""
    if len(truth) == 0:
        return 0.0
    k = len(truth)
    return len(set(truth) & set(retrieved[:k])) / k
