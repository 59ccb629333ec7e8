"""Arithmetic of the benchmark: order statistics, interval unions, span
self time, the driver gap, and the host CPU sampler.  Kept free of I/O
except the sampler's own ``/proc/stat`` read, so every function is unit
tested in ``test_stats.py``.
"""
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile (``statistics.quantiles``,
    default exclusive method -- the same figures the acceptance rule
    uses)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def iqr_share(values):
    """Quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's duration minus the union of its children's intervals
    (clipped to the span)."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def driver_gap(pass_interval, stage_intervals):
    """Wall time of a pass during which no stage was running."""
    return self_time(pass_interval, stage_intervals)


# /proc/stat "cpu" line fields: user nice system idle iowait irq softirq
# steal guest guest_nice.  guest and guest_nice are already counted in
# user and nice, so only the first eight fields are summed.
_IDLE = (3, 4)  # idle, iowait
_COUNTED = 8


def parse_proc_stat(text):
    """(busy, total) jiffies of the machine from /proc/stat text."""
    for line in text.splitlines():
        parts = line.split()
        if parts and parts[0] == "cpu":
            fields = [int(x) for x in parts[1:1 + _COUNTED]]
            idle = sum(fields[i] for i in _IDLE if i < len(fields))
            total = sum(fields)
            return total - idle, total
    raise ValueError("no aggregate cpu line in /proc/stat")


def ext_cpu_frac(before, after, own_jiffies):
    """Share of machine CPU capacity used by other processes between two
    (busy, total) samples, given the jiffies this run's processes used."""
    busy = after[0] - before[0]
    total = after[1] - before[1]
    if total <= 0:
        return 0.0
    return max(0.0, (busy - own_jiffies) / total)


def read_proc_stat(path="/proc/stat"):
    with open(path) as f:
        return parse_proc_stat(f.read())
