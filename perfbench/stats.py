"""Reductions from a run's raw samples and spans to its metrics.

Spark reports jobs, stages, tasks and planning phases with epoch
millisecond stamps; the harness stamps spans in epoch microseconds. Each
piece of Spark work is attributed to the innermost span open when it
started.
"""
import bisect
import hashlib
import math
import statistics

TAIL_BEYOND = 10


def tail(values):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). With ten samples or fewer, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def geomean(values):
    xs = [v for v in values if v > 0]
    if not xs:
        return 0.0
    return math.exp(sum(math.log(v) for v in xs) / len(xs))


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def self_times(spans):
    """span id -> its duration minus the part its child spans cover.
    A span is [id, parent, request, name, start_us, end_us]."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - covered(children.get(s[0], []), s[4], s[5]) for s in spans}


class Attribution:
    """Spark work per span: jobs, stages, tasks, executor run time,
    shuffle and spill bytes, planning time and driver-only time."""

    FIELDS = ("jobs", "stages", "tasks", "exec_ms", "shuffle_b", "spill_b", "plan_ms")

    def __init__(self, trace):
        self.spans = trace["spans"]
        order = sorted(self.spans, key=lambda s: s[4])
        self._starts = [s[4] / 1000.0 for s in order]
        self._order = order
        self.work = {s[0]: dict.fromkeys(self.FIELDS, 0.0) for s in self.spans}
        for _job, t, _end in trace["jobs"]:
            self._add(t, "jobs", 1)
        for _sid, _job, t, _end, _n in trace["stages"]:
            self._add(t, "stages", 1)
        self.task_intervals = []
        for launch, finish, run_ms, shuffle, spill, _stage in trace["tasks"]:
            self._add(launch, "tasks", 1)
            self._add(launch, "exec_ms", run_ms)
            self._add(launch, "shuffle_b", shuffle)
            self._add(launch, "spill_b", spill)
            self.task_intervals.append((launch, finish))
        for t, ms in trace["plans"]:
            self._add(t, "plan_ms", ms)
        self.self_us = self_times(self.spans)

    def owner(self, t_ms):
        """Innermost span open at t_ms: the latest-starting one that
        contains it."""
        i = bisect.bisect_right(self._starts, t_ms)
        for s in reversed(self._order[:i]):
            if s[5] / 1000.0 >= t_ms:
                return s[0]
        return None

    def _add(self, t_ms, field, v):
        sid = self.owner(t_ms)
        if sid is not None:
            self.work[sid][field] += v

    def driver_ms(self, span):
        lo, hi = span[4] / 1000.0, span[5] / 1000.0
        return (hi - lo) - covered(self.task_intervals, lo, hi)

    def totals(self, match):
        """Sums over the spans whose name satisfies `match`."""
        out = dict.fromkeys(self.FIELDS + ("wall_ms", "driver_ms", "count"), 0.0)
        for s in self.spans:
            if match(s[3]):
                for f in self.FIELDS:
                    out[f] += self.work[s[0]][f]
                out["wall_ms"] += self.self_us[s[0]] / 1000.0
                out["driver_ms"] += self.driver_ms(s)
                out["count"] += 1
        return out


def canonical_hash(rows, columns):
    """Order-free hash of a result: columns sorted by name, rows sorted,
    values rendered by check_oracle's canonical form."""
    import check_oracle  # imported lazily: it needs duckdb and pandas
    names, canon_rows = check_oracle.canon(rows, columns)
    h = hashlib.sha256("\x1f".join(names).encode())
    for r in canon_rows:
        h.update(("\x1e" + "\x1f".join(r)).encode())
    return h.hexdigest()
