"""The benchmark's statistics, in one place.

Median: `statistics.median`, the mean of the two middle samples when their
number is even. (The engine's older harnesses disagree: `Bench.median`
takes the lower middle and `StreamScaleBench.median` the upper one; the
benchmark uses neither.)

Tail: the highest percentile, up to the one asked for, that has at least
`MIN_BEYOND` units of work beyond it. A unit is whatever produced the
samples together (a micro-batch for stream latencies, a job for batch
jobs): the events of one micro-batch share one fate, so counting them
one by one would overstate what the sample supports.

Spread: the distance between the first and third quartile
(`statistics.quantiles(values, n=4)`) as a share of the median, used to
judge whether repeated runs are steady.
"""

import math
import statistics

MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values, groups, q=0.9, min_beyond=MIN_BEYOND):
    """Highest supported percentile of `values`, at most `q`, at least the median.

    `groups[i]` names the unit of work that produced `values[i]`. Returns
    (value, percentile, units beyond it, supported), where `supported` is
    False when no percentile above the median has `min_beyond` units beyond
    it; the value is then the median.
    """
    if len(values) != len(groups) or not values:
        raise ValueError("need one group per sample and at least one sample")
    order = sorted(range(len(values)), key=lambda i: values[i])
    n = len(order)
    # Distinct units among the samples strictly above each rank, from the top.
    beyond_at = [0] * n
    seen = set()
    j = n - 1
    for rank in range(n - 1, -1, -1):
        while j > rank and values[order[j]] > values[order[rank]]:
            seen.add(groups[order[j]])
            j -= 1
        # j only moves down; samples tied with this rank stay unseen.
        beyond_at[rank] = len(seen)
    top = max(0, math.ceil(q * n) - 1)
    mid = max(0, math.ceil(0.5 * n) - 1)
    for rank in range(top, mid, -1):
        if beyond_at[rank] >= min_beyond:
            return values[order[rank]], (rank + 1) / n, beyond_at[rank], True
    return median(values), 0.5, beyond_at[mid], False


def spread(values):
    """Interquartile distance over the median; 0 for fewer than two samples."""
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = median(values)
    return (q3 - q1) / abs(m) if m else math.inf
