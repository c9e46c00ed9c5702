"""Pure helpers that turn raw measurements into metrics."""
import json
import math
import os
import statistics


def percentile(xs, q):
    """Linear-interpolated percentile `q` (0..100) of `xs`."""
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail(xs, beyond=10):
    """The highest percentile of TAIL_LEVELS that has at least `beyond`
    samples above it, as (level, value); None when even p75 lacks them."""
    n = len(xs)
    for level in TAIL_LEVELS:
        if n * (100.0 - level) / 100.0 >= beyond - 1e-9:
            return level, percentile(xs, level)
    return None


def file_batches(checkpoint_dir, source=0):
    """Maps each file name the stream read to the micro-batch that read it,
    from the file source's offset log (`sources/<n>/<batch>` entries and
    their `.compact` roll-ups)."""
    log = os.path.join(checkpoint_dir, "sources", str(source))
    out = {}
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue  # the "v1" version header
                e = json.loads(line)
                out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def batch_commits(merges):
    """batch id -> commit time (ms) of the last table version that batch
    committed; batches that committed nothing are absent."""
    out = {}
    for m in merges:
        if m["commit_ms"] > 0:
            out[m["batch"]] = max(out.get(m["batch"], 0), m["commit_ms"])
    return out


def freshness(landed, file_batch, commits):
    """Per landed file (name, due ms, landed ms): seconds from its due time
    to the commit of the version holding its records. Files whose batch
    committed nothing are skipped."""
    out = []
    for name, due, _ in landed:
        b = file_batch.get(name)
        if b is not None and b in commits:
            out.append((commits[b] - due) / 1000.0)
    return out


def idle_seconds(task_spans, start, end):
    """Wall seconds inside [start, end] (ms) with no task running."""
    ivs = sorted((max(a, start), min(b, end)) for a, b in task_spans
                 if b > start and a < end)
    busy, cur_a, cur_b = 0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return max(0, (end - start) - busy) / 1000.0


def backlog_max(landed, file_done_ms):
    """Most files landed but not yet committed, at any landing instant."""
    best = 0
    for _, _, at in landed:
        pending = sum(1 for n, _, a in landed
                      if a <= at and file_done_ms.get(n, float("inf")) > at)
        best = max(best, pending)
    return best
