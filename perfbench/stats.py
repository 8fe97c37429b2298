"""Arithmetic of the benchmark: percentiles, latency from due time, backlog,
failure counts and closed-loop throughput.

Kept apart from run.py so that tests/test_stats.py can check it without a
JVM. Every time here is in milliseconds unless a name says otherwise.
"""
import math
import statistics

# A tail percentile is reported only where at least this many samples lie
# beyond it; with fewer samples the highest percentile that has them is used.
MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def supported_percentile(n, wanted, min_beyond=MIN_BEYOND):
    """Highest percentile <= `wanted` with at least `min_beyond` of `n`
    samples beyond it, or None when that would fall below the median (a
    sample of fewer than 2 * `min_beyond` has no tail to report)."""
    p = min(wanted, 1.0 - min_beyond / n) if n else 0.0
    return p if p >= 0.5 else None


def tail(values, wanted=0.95, min_beyond=MIN_BEYOND):
    """(value, percentile used, n) for the tail of `values`.

    Nearest-rank percentile at the supported percentile; when the sample is
    too small for any tail, the median with percentile 0.5."""
    xs = sorted(values)
    n = len(xs)
    p = supported_percentile(n, wanted, min_beyond)
    if p is None:
        return median(xs), 0.5, n
    rank = max(1, math.ceil(p * n - 1e-9))
    return xs[rank - 1], p, n


def due_latencies(requests):
    """Open-loop latency of each request, timed from when it was due.

    `requests` holds dicts with `due_ms`, `sent_ms` and `done_ms` on one
    clock. Returns (latencies, lateness): the latency includes any wait
    caused by the generator falling behind; lateness is sent - due."""
    lat = [r["done_ms"] - r["due_ms"] for r in requests]
    late = [max(0.0, r["sent_ms"] - r["due_ms"]) for r in requests]
    return lat, late


def outcomes(requests):
    """(attempted, failed) over scheduled requests. Every scheduled request
    counts as attempted; one that was never sent, or not answered correctly
    (`ok` false), counts as failed."""
    failed = sum(1 for r in requests if r["sent_ms"] is None or not r["ok"])
    return len(requests), failed


def closed_throughput(requests, connections):
    """Correct answers per second of a closed loop on `connections`
    connections, in 1/s: their number over the connection-busy time (the
    sum of response times) per connection. By Little's law this is the
    rate the server sustains with every connection busy; unlike answers
    over the loop's wall, it leaves out connections that sit idle once
    the last requests are out."""
    busy_ms = sum(r["done_ms"] - r["sent_ms"] for r in requests if r["done_ms"] is not None)
    ok = sum(1 for r in requests if r["ok"])
    return 1e3 * ok * connections / busy_ms if busy_ms else 0.0


def backlog_series(dues, dones, start_ms, end_ms, points=12):
    """Requests due but not yet completed, sampled at `points` instants
    evenly spread over [start_ms, end_ms]. A request that never completed
    has done = None and stays in the backlog."""
    dones = [math.inf if d is None else d for d in dones]
    out = []
    for i in range(points):
        t = start_ms + (end_ms - start_ms) * (i + 1) / points
        due = sum(1 for d in dues if d <= t)
        done = sum(1 for d in dones if d <= t)
        out.append(due - done)
    return out


def backlog_growing(dues, dones, start_ms, end_ms, slack):
    """True when the backlog in the last third of a phase exceeds the one in
    the first third by more than `slack` requests (the number that may be in
    flight at once), or when requests were left unfinished at the end."""
    s = backlog_series(dues, dones, start_ms, end_ms)
    k = len(s) // 3
    first = sum(s[:k]) / k
    last = sum(s[-k:]) / k
    unfinished = any(d is None for d in dones)
    return unfinished or last - first > slack


def max_rate(phases, limit_ms, wanted=0.95):
    """The highest fixed rate whose phase met the latency limit on its tail
    percentile with no growing backlog, or None when none did.

    Each phase: dict with `rate`, `latencies` (ms, a failed, refused or
    unsent request as inf) and `growing` (bool)."""
    best = None
    for ph in sorted(phases, key=lambda p: p["rate"]):
        if ph["latencies"] and not ph["growing"] and tail(ph["latencies"], wanted)[0] <= limit_ms:
            best = ph["rate"]
    return best
