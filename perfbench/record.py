"""Record math of the benchmark: sample summaries, the error rate, the
job-interval union behind ``driver_ms`` and the ranked-result comparator.

Pure Python (no Spark, no NumPy) so ``test_record.py`` checks every number
the benchmark reports without starting a JVM.
"""

from __future__ import annotations

import math
import statistics

#: higher percentiles considered, highest first; one is reported only when
#: at least MIN_BEYOND samples lie above it
PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND = 10


def nearest_rank(sorted_vals: list[float], q: float) -> tuple[float, int]:
    """The q-th percentile by the nearest-rank rule, and how many samples
    lie strictly above its rank."""
    n = len(sorted_vals)
    if n == 0:
        raise ValueError("no samples")
    rank = min(n, max(1, math.ceil(q / 100.0 * n)))
    return sorted_vals[rank - 1], n - rank


def summarize(samples: list[float]) -> dict:
    """Median and sample count, plus the highest percentile of PERCENTILES
    with at least MIN_BEYOND samples beyond it (none below 100 samples)."""
    if not samples:
        raise ValueError("no samples")
    vals = sorted(samples)
    out = {"p50": statistics.median(vals), "n": len(vals)}
    for q in PERCENTILES:
        value, beyond = nearest_rank(vals, q)
        if beyond >= MIN_BEYOND:
            out[f"p{q:g}"] = value
            break
    return out


def error_rate(attempted: int, failed: int) -> float:
    """failed ÷ attempted over every timed operation of a run; a run that
    attempted nothing has no rate."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def union_length(intervals: list[tuple[float, float]], lo: float,
                 hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_time(lo: float, hi: float,
                job_intervals: list[tuple[float, float]]) -> float:
    """Batch wall time not covered by any of its Spark jobs: the driver-side
    planning, routing and result handling of the batch."""
    return (hi - lo) - union_length(job_intervals, lo, hi)


#: score tolerance of the oracle checks, as in the repository's own tests
RTOL = 1e-4


def compare_ranked(got: list[tuple[int, int, float]],
                   expected: list[tuple[int, int, float]]) -> list[str]:
    """Rank-identical comparison of one query's top-k, (rank, doc, score)
    rows: same length, same doc at every rank, scores within ``RTOL``.
    Returns the mismatches (empty when the result is correct)."""
    if len(got) != len(expected):
        return [f"{len(got)} results, expected {len(expected)}"]
    errs = []
    for (g_rank, g_doc, g_score), (e_rank, e_doc, e_score) in zip(
        sorted(got), sorted(expected)
    ):
        if g_rank != e_rank or g_doc != e_doc:
            errs.append(f"rank {e_rank}: doc {g_doc} at rank {g_rank}, "
                        f"expected doc {e_doc}")
        elif abs(g_score - e_score) > RTOL * abs(e_score):
            errs.append(f"rank {e_rank} doc {e_doc}: score {g_score!r}, "
                        f"expected {e_score!r}")
    return errs
