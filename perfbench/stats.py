"""Statistics helpers of the benchmark: percentiles, the honest tail
percentile of a sample, freshness from a file source's checkpoint log,
and detection of a growing backlog. Pure functions, tested by
test_stats.py.
"""
import json
import os

# the percentiles a tail figure may be reported at, highest last
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(xs, p):
    """Linear-interpolated percentile `p` (0-100) of `xs`."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of an empty sample")
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50.0)


def tail_percentile(n, beyond=10):
    """Highest percentile of TAIL_LADDER with at least `beyond` of `n`
    samples above it; None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 + 1e-9 >= beyond:
            best = p
    return best


def tail(xs, beyond=10):
    """(percentile, value) of the honest tail of `xs`: the highest
    ladder percentile with `beyond` samples past it, else the maximum
    reported as percentile 100."""
    p = tail_percentile(len(xs), beyond)
    if p is None:
        return 100.0, max(xs)
    return p, percentile(xs, p)


def read_source_log(source_dir):
    """Map file name -> batch id from a file source's checkpoint log
    (`<checkpoint>/sources/0`). Each log file holds a version line and
    one JSON entry per file; compacted files carry every earlier entry,
    each with its own batch id."""
    files = {}
    if not os.path.isdir(source_dir):
        return files
    for name in os.listdir(source_dir):
        if name.startswith(".") or name.endswith(".crc") or name.endswith(".tmp"):
            continue
        with open(os.path.join(source_dir, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                files[os.path.basename(entry["path"])] = int(entry["batchId"])
    return files


def freshness(due_ms, file_batch, batch_commit_ms):
    """Seconds from each file's due time to the commit of the batch
    that read it. `due_ms`: file name -> due time; `file_batch`: file
    name -> batch id; `batch_commit_ms`: batch id -> commit time. Files
    not yet committed are left out and counted: (values, missing)."""
    values, missing = [], 0
    for name, due in sorted(due_ms.items()):
        b = file_batch.get(name)
        if b is None or b not in batch_commit_ms:
            missing += 1
            continue
        values.append((batch_commit_ms[b] - due) / 1000.0)
    return values, missing


def backlog_growing(points, min_growth=2.0):
    """Whether a backlog keeps growing over `points` = [(t, backlog)]:
    the least-squares slope is positive and the mean of the last third
    exceeds the mean of the first third by at least `min_growth`."""
    if len(points) < 3:
        return False
    n = len(points)
    mt = sum(t for t, _ in points) / n
    mb = sum(b for _, b in points) / n
    var = sum((t - mt) ** 2 for t, _ in points)
    if var == 0:
        return False
    slope = sum((t - mt) * (b - mb) for t, b in points) / var
    third = max(1, n // 3)
    first = sum(b for _, b in points[:third]) / third
    last = sum(b for _, b in points[-third:]) / third
    return slope > 0 and last - first >= min_growth
