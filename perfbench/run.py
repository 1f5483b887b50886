#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <query_suite|stream_open_loop>
        --seed N --seconds S --trace 0|1 [--label NAME]

Run from the repository root. Builds graft from source on first use
(build.py), derives the workload's inputs from the seed, runs the bench JVM,
checks the outputs, and prints one JSON object as the last line of stdout:
the end-to-end metrics untraced (--trace 0), the per-layer metrics traced
(--trace 1). Exits 1 when a correctness check fails. Each result is also
appended to .bench_build/results/<label>.jsonl for diff.py; a traced run
writes its spans next to it.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
from benchlib import entries, inputs, oracle, report  # noqa: E402
from benchlib.report import Run  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("query_suite", "stream_open_loop")
CORES = 4                    # Spark local[4]: one bench process on a 4-core machine
SETUP_ROUNDS = 3
STREAM_RATE = 20             # open-loop files per second
STREAM_WARM_FILES = 3
STREAM_BACKLOGS = 5          # catch-up rounds
STREAM_BACKLOG_FILES = 60    # files per catch-up round
JVM_TIMEOUT_S = 160
JVM_OPTS = [
    "-Xss32m", "-Xmx4g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    # long call sites deep enough to reach graft's frames
    "-Dspark.callstack.depth=60",
] + [a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                 "java.net", "java.nio", "java.util", "java.util.concurrent",
                 "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                 "sun.security.action", "sun.util.calendar")
     for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def source_dir():
    """The sf0.1 tables the batch inputs derive from."""
    return os.environ.get("GRAFT_BENCH_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def prepare_inputs(args, work):
    """Derives the run's inputs from the seed; returns (spec entries, checks)."""
    checks = []
    if args.workload == "stream_open_loop":
        staging = os.path.join(work, "staging")
        plan = (args.seed, STREAM_WARM_FILES, STREAM_RATE * args.seconds,
                1000.0 / STREAM_RATE, STREAM_BACKLOGS, STREAM_BACKLOG_FILES)
        inputs.stream_files(staging, *plan)
        again = os.path.join(work, "staging-again")
        inputs.stream_files(again, *plan)
        same = inputs.tree_digest(staging) == inputs.tree_digest(again)
        shutil.rmtree(again)
        checks.append(("generator files byte-identical for one seed", same, ""))
        return {"staging": staging, "work": os.path.join(work, "stream")}, checks

    src = source_dir()
    if not os.path.isdir(src):
        raise SystemExit(f"bench: source tables not found at {src} (set GRAFT_BENCH_SF_DIR)")
    data = os.path.join(work, "data")
    inputs.relayout(src, data, args.seed)
    want = inputs.source_digests(src, os.path.join(build.BUILD_DIR, "source-digests.json"))
    bad = [t for t in inputs.TABLES
           if list(inputs.content_digest(inputs.read_table(data, t))) != want[t]]
    checks.append(("re-layout keeps every table's rows and content", not bad,
                   f"differs: {bad}" if bad else ""))
    return {"data": data, "entries": ",".join(entries.SUITE),
            "outputs": os.path.join(work, "outputs")}, checks


def run_jvm(classes, spec_path, work, timeout):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", f"{classes}{os.pathsep}{jars}", "graftbench.Main", spec_path])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--label", default="latest")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    classes = build.ensure()
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)

    work = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        extra, checks = prepare_inputs(args, work)
        inputs_s = time.time() - t0
        spec = {"workload": args.workload, "cores": str(CORES), "seconds": str(args.seconds),
                "trace": str(args.trace), "setup_rounds": str(SETUP_ROUNDS),
                # a traced run needs an untraced pass on each side of a traced one
                "min_passes": "3" if args.trace else "2",
                "records": os.path.join(work, "records.jsonl"), **extra}
        spec_path = os.path.join(work, "spec.properties")
        with open(spec_path, "w") as fh:
            fh.writelines(f"{k}={v}\n" for k, v in spec.items())
        rc = run_jvm(classes, spec_path, work, JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(spec["records"]):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"bench: JVM failed ({rc})")
        with open(spec["records"]) as fh:
            run = Run(json.loads(line) for line in fh if line.strip())
        result = evaluate(args, run, work, checks, t0, inputs_s, declared, results)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(results, f"{args.label}.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                             **result}) + "\n")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def evaluate(args, run, work, checks, t0, inputs_s, declared, results):
    """Correctness checks plus the declared metrics of this run."""
    for c in run.by["check"]:
        checks.append((c["name"], c["ok"], c.get("detail", "")))
    if args.workload == "stream_open_loop":
        a = report.stream_analysis(run)
        e2e = report.stream_end_to_end(run, a)
        attempted, failed = a["attempted"], a["failed"]
        if args.trace:
            layers, spans = report.stream_per_layer(run, a, CORES)
    else:
        for q in run.by["query"]:
            if q["pass"] < 0 and not q["ok"]:
                checks.append((f"warm:{q['entry']}", False, q.get("error", "")))
        for name, err in oracle.check(ROOT, os.path.join(work, "data"),
                                      os.path.join(work, "outputs"),
                                      os.path.join(work, "outputs", "oracle_sql.json")):
            checks.append((f"oracle:{name}", err is None, err or ""))
        e2e = report.batch_end_to_end(run)
        timed = report.timed_queries(run)
        attempted = len(timed)
        failed = sum(1 for q in timed if not q["ok"])
        if args.trace:
            layers, spans = report.batch_per_layer(run, CORES)
    bad = [c for c in checks if not c[1]]
    for name, _, detail in bad:
        log(f"check failed: {name}: {detail}")
    log(f"{len(checks) - len(bad)}/{len(checks)} checks passed")

    if args.trace:
        layers["load.inputs_s"] = inputs_s
        layers["setup.cold_start_s"] = report.cold_start_s(run, t0 * 1000.0)
        layers["error_rate"] = failed / attempted if attempted else 0.0
        layers["peak_rss_mb"] = run.one("rss")["peak_mb"]
        layers.update({k: e2e[k] for k in ("query_p50_ms", "stream_latency_p50_ms")})
        name = f"{args.label}.{args.workload}.{args.seed}.spans.jsonl"
        with open(os.path.join(results, name), "w") as fh:
            for s in spans:
                fh.write(json.dumps({k: v for k, v in s.items()
                                     if k not in ("stage", "qe")}) + "\n")
        values, wanted = layers, declared["per_layer"]
    else:
        values, wanted = e2e, declared["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    return {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


if __name__ == "__main__":
    main()
