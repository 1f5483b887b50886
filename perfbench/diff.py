#!/usr/bin/env python3
"""Layer-by-layer diff of two sets of benchmark runs.

    python3 perfbench/diff.py A.jsonl [B.jsonl]

Each file holds run results as `run.py` appends them to
.bench_build/results/<label>.jsonl. For every workload it prints, per
end-to-end metric, the median and quartiles of each set, the quartile
spread as a share of the median (against the metric's bound), and the
B/A ratio of medians. Per-layer metrics follow, with the exact work
counters (jobs, stages, exchanges, table-read jobs, shuffle bytes) listed
apart from times, which drift with the machine. With one file it reports
that set alone.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def is_counter(name):
    return (name.endswith(".jobs") or name.endswith("_bytes") or name.startswith("plan.")
            or name in ("exec.stages", "exec.tasks", "exec.input_rows", "exec.failed_tasks",
                        "streaming.batches", "streaming.state_rows"))


def load(path):
    runs = defaultdict(list)
    with open(path) as fh:
        for line in fh:
            if line.strip():
                r = json.loads(line)
                runs[(r["workload"], r["trace"])].append(r)
    return runs


def summary(values):
    """(median, q1, q3, spread = (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def fmt(x):
    return f"{x:.4g}" if isinstance(x, float) else str(x)


def table(name_rows, sets, bounds):
    out = []
    for name in name_rows:
        cells = [f"  {name:34s}"]
        meds = []
        for runs in sets:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            if not vals:
                cells.append(f"{'-':>40s}")
                meds.append(None)
                continue
            med, q1, q3, spread = summary(vals)
            meds.append(med)
            flag = ""
            if name in bounds and spread > bounds[name]:
                flag = " !"
            cells.append(f"{fmt(med):>10s} [{fmt(q1)}..{fmt(q3)}] iqr {spread:6.1%}{flag}")
        if len(meds) == 2 and meds[0] and meds[1] is not None:
            cells.append(f"  B/A {meds[1] / meds[0]:.3f}")
        out.append(" ".join(cells))
    return out


def main():
    paths = sys.argv[1:]
    if not 1 <= len(paths) <= 2:
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    order = [m["name"] for m in declared["end_to_end"] + declared["per_layer"]]
    sets = [load(p) for p in paths]
    keys = sorted(set().union(*sets))
    for workload, trace in keys:
        groups = [s.get((workload, trace), []) for s in sets]
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}; runs: "
              f"{', '.join(str(len(g)) for g in groups)}; correct: "
              f"{', '.join(str(sum(r['correct'] for r in g)) for g in groups)})")
        present = {n for g in groups for r in g for n in r["metrics"]}
        names = [n for n in order if n in present] + sorted(present - set(order))
        if not trace:
            print("\n".join(table(names, groups, bounds)))
            continue
        print(" work counters (exact):")
        print("\n".join(table([n for n in names if is_counter(n)], groups, {})))
        print(" times and shares:")
        print("\n".join(table([n for n in names if not is_counter(n)], groups, {})))


if __name__ == "__main__":
    main()
