"""Statistics and stream-log analysis for the benchmark (pure Python, so
they are unit-tested without a JVM)."""

import glob
import json
import os


def quantile(xs, q):
    """Linear-interpolation quantile (numpy's default) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return quantile(xs, 0.5)


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value, sample count). With `beyond` or fewer samples
    no such percentile exists and the maximum is returned as p100."""
    n = len(xs)
    if n <= beyond:
        return 100.0, max(xs), n
    p = 1.0 - beyond / n
    return 100.0 * p, quantile(xs, p), n


def source_log(checkpoint):
    """file name -> micro-batch id, from a file source's offset log
    (`<checkpoint>/sources/0/<batch>` and its `.compact` files)."""
    out = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(f) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def steady_analysis(published, batches, file_batch):
    """Per published file: latency from its scheduled publish time to
    the end of the micro-batch that committed it, and the trigger wait
    from its actual publish to that batch's start. Per batch: backlog
    (files published by its start and not yet committed).

    published: [{"file", "due_ms", "at_ms"}]; batches: [{"id",
    "start_ms", "end_ms"}]; file_batch: file -> batch id.
    """
    by_id = {b["id"]: b for b in batches}
    latencies, waits, missing = [], [], []
    for p in published:
        b = by_id.get(file_batch.get(p["file"]))
        if b is None:
            missing.append(p["file"])
            continue
        latencies.append(b["end_ms"] - p["due_ms"])
        waits.append(b["start_ms"] - p["at_ms"])
    backlog = []
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        out = sum(1 for p in published if p["at_ms"] <= b["start_ms"])
        done = sum(1 for p in published
                   if p["file"] in file_batch and file_batch[p["file"]] in by_id
                   and by_id[file_batch[p["file"]]]["end_ms"] <= b["start_ms"])
        backlog.append(out - done)
    return {"latency_ms": latencies, "trigger_wait_ms": waits, "backlog": backlog,
            "missing": missing}


def backlog_grows(backlog, tolerance=1.0):
    """True when the mean backlog of the last quarter of batches exceeds
    that of the first quarter by `tolerance` files or more."""
    if len(backlog) < 4:
        return False
    k = len(backlog) // 4
    first, last = backlog[:k], backlog[-k:]
    return sum(last) / k - sum(first) / k >= tolerance
