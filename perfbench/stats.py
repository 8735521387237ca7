"""Sample statistics and the result line of the benchmark.

Pure functions, kept apart from run.py so they can be tested without
building or starting anything.
"""

import json
import math
import statistics


def median(samples):
    """Median of `samples`; the mean of the two middle values when their
    number is even. None when there are no samples."""
    return statistics.median(samples) if samples else None


def tail(samples):
    """The highest percentile that has at least ten samples beyond it.

    Percentiles are nearest-rank: the k-th smallest of n samples (k from 1)
    is the 100*k/n-th percentile and has n-k samples beyond it. The tail is
    therefore the (n-10)-th smallest sample. Returns (percentile, value),
    or None when there are ten samples or fewer.
    """
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 10:
        return None
    k = n - 10
    return 100.0 * k / n, ordered[k - 1]


def number(value):
    """A finite float for the result line; missing or non-finite values
    become 0.0."""
    if value is None:
        return 0.0
    value = float(value)
    return value if math.isfinite(value) else 0.0


def result_line(correct, attempted, failed, metrics):
    """The one-line JSON result. `metrics` maps a name to (value, unit).

    A run that attempted nothing did not measure anything: it reports one
    failed attempt, so the line stays valid and reads as incorrect.
    """
    attempted, failed = int(attempted), int(failed)
    if attempted < 1:
        attempted, failed, correct = 1, 1, False
    failed = min(max(failed, 0), attempted)
    return json.dumps({
        "correct": bool(correct) and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": number(value), "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }, allow_nan=False)
