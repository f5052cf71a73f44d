"""Statistics the benchmark and the paired A/B runner report."""
import math
import statistics


def median(xs):
    if not xs:
        raise ValueError("median of no samples")
    return statistics.median(xs)


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    if len(xs) < 2:
        x = median(xs)
        return x, x, x
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else math.inf


def rank(n, p):
    """1-based nearest rank of the p-th quantile (0 < p <= 1) among n
    sorted samples."""
    return max(1, math.ceil(p * n))


def tail(xs, keep=10):
    """(p, value) of the highest nearest-rank percentile with `keep`
    samples beyond it, or None with too few samples."""
    n = len(xs)
    if n <= keep:
        return None
    r = n - keep
    return r / n, sorted(xs)[r - 1]


def percentile(xs, p):
    """Nearest-rank p-th quantile of xs."""
    s = sorted(xs)
    return s[rank(len(s), p) - 1]


def win_rate(a, b, better="lower"):
    """Pairs (a[i], b[i]) of parent and change. Returns (wins, losses,
    ties, rate) for the change: a pair is a win when the change's value is
    better, and a tie counts for neither side; rate = wins / pairs."""
    if len(a) != len(b):
        raise ValueError("unpaired samples")
    wins = losses = ties = 0
    for x, y in zip(a, b):
        if x == y:
            ties += 1
        elif (y < x) == (better == "lower"):
            wins += 1
        else:
            losses += 1
    return wins, losses, ties, (wins / len(a) if a else 0.0)
