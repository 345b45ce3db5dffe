"""Arithmetic of the benchmark: turns a raw run record written by the
benchmark JVM into the reported metrics. Pure functions, tested by
test_metrics.py."""
import datetime
import statistics

TAIL_BEYOND = 10


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples beyond it.

    Returns (value, percentile, n). The value is the sample that has
    exactly `beyond` samples above it in sorted order; its percentile is
    the share of samples at or below it. With `beyond` or fewer samples
    no such percentile exists and the maximum is returned at 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= beyond:
        return xs[-1], 100.0, n
    i = n - 1 - beyond
    return xs[i], 100.0 * (i + 1) / n, n


def parse_ts_ms(s):
    """Epoch ms of a StreamingQueryProgress timestamp ('…T…Z')."""
    d = datetime.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0


def trigger_end_ms(p):
    return parse_ts_ms(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0)


def attribute_files(rows_per_trigger, first_row, rows_per_file, n_files):
    """Index of the trigger that finished each file, from the rows each
    trigger consumed, in trigger order. File i holds rows
    [first_row + i*rows_per_file, first_row + (i+1)*rows_per_file); it
    is finished by the first trigger whose cumulative row count reaches
    its last row. None for a file no trigger finished."""
    out = []
    cum = 0
    t = -1
    for i in range(n_files):
        need = first_row + (i + 1) * rows_per_file
        while cum < need and t + 1 < len(rows_per_trigger):
            t += 1
            cum += rows_per_trigger[t]
        out.append(t if cum >= need else None)
    return out


def backlog(due_ms, done_ms):
    """Files published but unfinished at each file's due time, counting
    the file itself: len{j <= i : done_j > due_i}. A missing finish
    time (None) never finishes."""
    out = []
    for i, d in enumerate(due_ms):
        out.append(sum(1 for j in range(i + 1) if done_ms[j] is None or done_ms[j] > d))
    return out


def union_length(intervals):
    total = 0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """{span id: self time}: the span's duration minus the part of its
    interval covered by its children (overlapping children count once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def steal_pct(stat0, stat1):
    """Host CPU steal over an interval, in percent of all CPU time, from
    two aggregate `cpu` lines of /proc/stat."""
    a = [int(x) for x in stat0.split()[1:9]]
    b = [int(x) for x in stat1.split()[1:9]]
    total = sum(b) - sum(a)
    return 100.0 * (b[7] - a[7]) / total if total > 0 else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def in_window(t, w):
    return w["start_ms"] <= t <= w["end_ms"]


def mem_peak_mb(gc, windows):
    """Median over measurement windows of each window's peak post-GC
    heap; windows without a collection are skipped."""
    peaks = []
    for w in windows:
        used = [g["used_after"] for g in gc if in_window(g["t_ms"], w)]
        if used:
            peaks.append(max(used) / 2**20)
    return median(peaks)
