"""Pure statistics of the benchmark: percentiles and pass aggregation."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, p=0.90, beyond=10):
    """The p-th percentile (nearest rank), or, when fewer than `beyond`
    samples would lie above it, the highest percentile that still has
    `beyond` samples above it. With `beyond` or fewer samples there is no
    such percentile and the median stands in.

    Returns (value, percentile used, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    rank = math.ceil(p * n)  # 1-based nearest rank
    if n - rank < beyond:
        rank = n - beyond
    if rank < 1:
        return median(xs), 0.5, n
    return xs[rank - 1], rank / n, n


def passes(walls):
    """Cold pass against the median of the warm passes that follow it."""
    if not walls:
        raise ValueError("no passes")
    return {"cold": walls[0], "warm": median(walls[1:]) if len(walls) > 1
            else walls[0], "warm_n": len(walls) - 1}


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def warm_passes(seconds, pass_s, trace):
    """Warm passes that fill about `seconds` at the workload's nominal
    warm pass time `pass_s`. The count comes from the arguments, not the
    clock: passes keep getting faster for several rounds, so a count that
    shrank on a slow host would also report a slower pass. A traced run
    needs one uncounted pass, then at least two traced and two plain."""
    n = max(3, round(seconds / pass_s))
    return max(n, 5) if trace else n
