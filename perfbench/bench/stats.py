"""Order statistics and the per-run summary of request records."""
import math


def median(xs):
    """Median; an even count averages the two middle values (as graft.Bench does)."""
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def percentile(xs, q):
    """Nearest-rank percentile: the ceil(q/100 * n)-th smallest sample."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def tail_percentile(n):
    """Highest whole percentile that leaves at least ten samples beyond it.

    With nearest rank, percentile q of n samples is the ceil(q*n/100)-th
    smallest; q = floor(100*(n-10)/n) puts that rank at most at n-10.
    Below 20 samples that rule falls under the median, so the tail is
    the maximum (100) instead.
    """
    if n < 20:
        return 100
    return math.floor(100.0 * (n - 10) / n)


def summarize(requests):
    """Latency summary of one run's timed requests.

    A request that failed (raised, or returned a wrong result) counts in
    `failed` and contributes no latency sample.
    """
    samples = [r["seconds"] for r in requests if r["ok"]]
    failed = sum(1 for r in requests if not r["ok"])
    out = {"attempted": len(requests), "failed": failed, "samples": len(samples)}
    if samples:
        q = tail_percentile(len(samples))
        out["latency_p50_s"] = median(samples)
        out["tail_percentile"] = q
        out["latency_tail_s"] = percentile(samples, q)
    return out
