"""Reference comparison for the benchmark's outputs (no Spark needed)."""

from __future__ import annotations


def precision_recall(got: set, want: set) -> tuple[float, float]:
    """Set precision and recall of ``got`` against reference ``want``.
    An empty side scores 1.0 only when the other side is empty too."""
    hit = len(got & want)
    precision = hit / len(got) if got else float(not want)
    recall = hit / len(want) if want else float(not got)
    return precision, recall
