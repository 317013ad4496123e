"""The benchmark's metric arithmetic, kept free of I/O so it can be tested.

Times are integer microseconds since the Unix epoch unless a name says
otherwise.
"""
import bisect
import math
import statistics

# a tail percentile is only reported when at least this many samples
# lie beyond it
MIN_BEYOND = 10
LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def supported_percentile(samples, p):
    """The p-th percentile if at least MIN_BEYOND samples lie beyond it,
    else the highest percentile of LADDER (below p) that has them, else
    the median. Returns (value, percentile used, samples beyond it)."""
    n = len(samples)
    for q in (p,) + tuple(x for x in LADDER if x < p):
        if beyond(n, q) >= MIN_BEYOND:
            return percentile(samples, q), q, beyond(n, q)
    return percentile(samples, 50.0), 50.0, beyond(n, 50.0)


def ack_index(ack_log):
    """Per mountpoint, the acknowledgement steps as two parallel sorted
    lists (times, cumulative counts), from log entries
    (time, mount, cumulative packages acked for that mount)."""
    per = {}
    for t, mount, cum in sorted(ack_log, key=lambda e: (e[1], e[2], e[0])):
        times, cums = per.setdefault(mount, ([], []))
        if cums and cum <= cums[-1]:
            raise ValueError(f"cumulative count went backwards for {mount}")
        times.append(t)
        cums.append(cum)
    return per


def ack_time(index, mount, k):
    """When the sink acknowledged frame k (0-based) of `mount`: the first
    step whose cumulative count reaches k + 1; None if never."""
    if mount not in index:
        return None
    times, cums = index[mount]
    i = bisect.bisect_left(cums, k + 1)
    return times[i] if i < len(cums) else None


def live_schedule(base, period, mounts):
    """Scheduled send time of frame k on mount slot s: base + k·period +
    s·period/len(mounts) (the caster staggers mounts within a tick)."""
    n = len(mounts)
    return {m: (lambda k, s=s: base + k * period + s * period / n)
            for s, m in enumerate(mounts)}


def freshness(index, schedule, frames, window):
    """Per-frame freshness (ms) for every frame scheduled inside
    [w0, w1): acknowledgement time minus scheduled send time. Frames
    never acknowledged are returned separately, as (mount, k)."""
    w0, w1 = window
    out, missing = [], []
    for mount, due_of in schedule.items():
        for k in range(frames[mount]):
            due = due_of(k)
            if due < w0 or due >= w1:
                continue
            t = ack_time(index, mount, k)
            if t is None:
                missing.append((mount, k))
            else:
                out.append((t - due) / 1000.0)
    return out, missing


def rate_between(events, window):
    """Units per second between the first and the last event inside the
    window, from (time, cumulative units) events. Measuring between
    acknowledgements, not between the window's edges, keeps the
    micro-batch phase out of the rate."""
    w0, w1 = window
    inside = sorted(e for e in events if w0 <= e[0] < w1)
    if len(inside) < 2 or inside[-1][0] == inside[0][0]:
        return 0.0
    (t0, c0), (t1, c1) = inside[0], inside[-1]
    return (c1 - c0) / ((t1 - t0) / 1e6)


def total_events(ack_log):
    """(time, total packages acked over all mounts) after each entry."""
    last, total, out = {}, 0, []
    for t, mount, cum in sorted(ack_log):
        total += cum - last.get(mount, 0)
        last[mount] = cum
        out.append((t, total))
    return out


def median(values):
    return statistics.median(values) if values else 0.0
