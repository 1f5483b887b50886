"""Turns a run's raw records (JSON lines written by the bench JVM) into
end-to-end and per-layer metrics.

Everything here is a pure function of the records, so it is unit-tested
without Spark (tests/test_metrics.py).
"""
import math
import re
import statistics
from collections import defaultdict

# graft's module packages, named after src/main/scala/graft/<module>/
MODULES = ("dedup", "ann", "functions", "operators", "streaming", "graph",
           "sources", "multimodal", "queries")

# the `durationMs` parts of a micro-batch, in the order the engine runs them
TRIGGER_PARTS = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                 "addBatch", "commitOffsets")


# ---- statistics ------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    s = sorted(xs)
    if not s:
        return 0.0
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return s[k - 1]


def beyond(xs, value):
    """Number of samples strictly greater than `value`."""
    return sum(1 for x in xs if x > value)


def tail_percentile(xs, q, min_beyond=10):
    """The nearest-rank q-th percentile when at least `min_beyond` samples lie
    beyond it; else the largest sample that still has `min_beyond` samples
    beyond it, so a tail figure never rests on fewer than `min_beyond`
    samples. With `min_beyond` samples or fewer there is no such sample:
    the plain percentile is returned."""
    s = sorted(xs)
    if len(s) <= min_beyond:
        return percentile(s, q)
    p = percentile(s, q)
    if beyond(s, p) >= min_beyond:
        return p
    return s[max(0, len(s) - min_beyond - 1)]


# ---- spans -------------------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
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
    """Self time of every span: its duration minus the part covered by its
    children (clipped to the parent; overlapping children count once).

    `spans` is a list of dicts with `id`, `parent` (an id or None), `start`
    and `end`. Returns {id: self_ms}.
    """
    children = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = union_length([(max(lo, c["start"]), min(hi, c["end"]))
                                for c in children[s["id"]]])
        out[s["id"]] = max(0.0, (hi - lo) - covered)
    return out


# ---- call-site attribution -------------------------------------------------

_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([^:)]*)(?::\d+)?\)")


def module_of(callsite):
    """The graft layer that started a job, from the long call site of its
    result stage: the innermost `graft.*` frame decides. `graft.<m>.X`
    frames map to module m; frames of the top-level package map to
    `graft` for Graft.scala (session and table loaders) and to `queries`
    for the entry registry. Jobs with no graft frame are the caller's own
    action (`bench`)."""
    for line in callsite.splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        cls, fname = m.group(1), m.group(2)
        if not cls.startswith("graft."):
            continue
        parts = cls.split(".")
        if len(parts) > 2 and parts[1] in MODULES:
            return parts[1]
        if len(parts) > 2 and parts[1] == "plans":
            return "queries"
        return "graft" if fname in ("Graft.scala", "GraftExtensions.scala") else "queries"
    return "bench"


# ---- open-loop latency -------------------------------------------------------

def file_commits(file_log, progress):
    """Commit time of the micro-batch that first included each file.

    file_log: {(query, file): source-log offset the file source gave it}
    progress: {query: [(source_end, commit_ms), ...]} in batch order, where
              source_end is the last source-log offset the batch covered.
    Returns {(query, file): commit_ms} for the files some batch committed."""
    out = {}
    for (q, f), off in file_log.items():
        for end, commit in progress.get(q, ()):
            if end is not None and end >= off:
                out[(q, f)] = commit
                break
    return out


def file_latencies(due, commits):
    """Due-to-result latency of every (topology, file) pair.

    due:     {file: due_ms}
    commits: {(query, file): commit_ms of the batch that first included it}

    Latency is measured from the file's due time, not from when it was
    actually published, so a stalled generator charges the files queued
    behind the stall instead of hiding them."""
    return [c - due[f] for (q, f), c in commits.items() if f in due]


def source_lag_files(published, commits, triggers):
    """Mean number of files already published but not yet committed, seen at
    the start of each trigger.

    published: {file: actual publish ms}
    commits:   {(query, file): commit ms}
    triggers:  [(query, start_ms), ...]"""
    lags = [sum(1 for f, t in published.items()
                if t <= start and commits.get((q, f), math.inf) > start)
            for q, start in triggers]
    return sum(lags) / len(lags) if lags else 0.0
