"""Order statistics the benchmark reports."""

import statistics

TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile, samples_beyond). With n samples sorted
    ascending that is the sample at index n - 1 - TAIL_BEYOND, reported
    as percentile 100 * (index + 1) / n. A run with too few samples for
    that falls back to the median, and says so through the percentile
    and the count of samples beyond it.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n > TAIL_BEYOND:
        i = n - 1 - TAIL_BEYOND
        return xs[i], 100.0 * (i + 1) / n, TAIL_BEYOND
    i = (n - 1) // 2
    return median(xs), 50.0, n - 1 - i


def matched_ratio(num, den):
    """sum_k median(num[k]) / sum_k median(den[k]) over the keys both
    sides have, with `num` and `den` lists of (key, value). So the
    ratio compares like with like: an action of the dashboard's cycle
    traced against the same action untraced. None when no key is on
    both sides."""
    def by_key(pairs):
        out = {}
        for k, v in pairs:
            out.setdefault(k, []).append(v)
        return out
    a, b = by_key(num), by_key(den)
    keys = sorted(set(a) & set(b), key=repr)
    if not keys:
        return None
    return (sum(median(a[k]) for k in keys)
            / sum(median(b[k]) for k in keys))
