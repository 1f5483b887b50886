"""Metrics of one run, from the bench JVM's raw records."""
from collections import defaultdict

from .metrics import (TRIGGER_PARTS, file_commits, file_latencies, median, module_of,
                      percentile, self_times, source_lag_files, tail_percentile, union_length)

JOB_MODULES = ("dedup", "ann", "functions", "operators", "streaming", "graph",
               "sources", "multimodal")
SELF_LAYERS = ("query", "queries", "catalyst", "exec.driver", "exec.sched", "exec",
               "graft") + JOB_MODULES
# stage record field -> per-layer metric (summed over stages)
STAGE_SUMS = {"tasks": "exec.tasks", "run_ms": "exec.task_run_ms", "cpu_ms": "exec.task_cpu_ms",
              "gc_ms": "exec.gc_ms", "shuffle_write_bytes": "exec.shuffle_write_bytes",
              "shuffle_read_bytes": "exec.shuffle_read_bytes", "input_rows": "exec.input_rows",
              "spill_bytes": "exec.spill_bytes", "failed_tasks": "exec.failed_tasks"}
STREAM_PARTS = {"add_batch_ms": "addBatch", "query_planning_ms": "queryPlanning",
                "get_batch_ms": "getBatch", "wal_commit_ms": "walCommit",
                "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset"}

PER_LAYER = (
    ["graft.session_ms", "graft.read_jobs", "graft.read_ms",
     "queries.construct_ms", "queries.construct_jobs", "queries.construct_share",
     "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
     "exec.ms", "exec.driver_ms", "exec.jobs", "exec.stages", "exec.tasks",
     "exec.task_run_ms", "exec.task_cpu_ms", "exec.shuffle_write_bytes",
     "exec.shuffle_read_bytes", "exec.input_rows", "exec.failed_tasks",
     "exec.core_idle_share", "exec.gc_ms", "exec.spill_bytes",
     "plan.scans", "plan.exchanges", "plan.broadcasts"]
    + [f"{m}.{k}" for m in JOB_MODULES for k in ("jobs", "job_ms")]
    + ["streaming.trigger_ms"] + [f"streaming.{k}" for k in STREAM_PARTS]
    + ["streaming.state_commit_ms", "streaming.state_rows", "streaming.state_bytes",
       "streaming.watermark_dropped_rows", "streaming.batches", "streaming.rows_per_batch",
       "load.source_lag_files", "load.generator_lag_ms", "load.inputs_s", "setup.cold_start_s",
       "query_p50_ms", "query_p90_ms", "stream_latency_p50_ms", "error_rate", "peak_rss_mb",
       "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_ms",
       "trace.accounted_share", "trace.latency_p50_ms", "trace.trigger_share_of_latency"]
    + [f"self.{layer.replace('.', '_')}_ms" for layer in SELF_LAYERS])

END_TO_END = ("setup_s", "pass_s", "stream_latency_p99_ms", "stream_drain_eps")


def unit_of(name):
    """The unit a metric's name implies; BENCHMARK.json must declare it."""
    last = name.rsplit(".", 1)[-1]
    for suffix, unit in (("ms", "ms"), ("_s", "s"), ("bytes", "bytes"), ("_mb", "MB"),
                         ("_eps", "1/s"), ("_files", "files")):
        if last.endswith(suffix):
            return unit
    if "share" in last or last.endswith("rate"):
        return "ratio"
    return "rows" if "rows" in last else "count"


class Run:
    """Raw records of one run, indexed by kind."""

    def __init__(self, records):
        self.by = defaultdict(list)
        for r in records:
            self.by[r["kind"]].append(r)

    def one(self, kind):
        return self.by[kind][0] if self.by[kind] else None


def setup_seconds(run):
    """Median over the set-up rounds of session build plus workload prep."""
    prep = {r["round"]: r for r in run.by["setup_prep"]}
    rounds = [(s["end"] - s["start"]) + (prep[s["round"]]["end"] - prep[s["round"]]["start"])
              for s in run.by["session"] if s["round"] in prep]
    return median(rounds) / 1000.0


def cold_start_s(run, process_start_ms):
    """From the bench process's start (after the build) to its first timed
    operation: input generation, JVM start, the set-up rounds and the warm
    passes or warm files, cold JIT and class loading included."""
    first = run.by["pass"][0]["start"] if run.by["pass"] else run.one("open_loop")["start"]
    return (first - process_start_ms) / 1000.0


def session_ms(run):
    return median([s["end"] - s["start"] for s in run.by["session"]])


# ---- query_suite --------------------------------------------------------------

def timed_queries(run):
    """Queries of the timed passes (the warm passes are -2 and -1)."""
    return [q for q in run.by["query"] if q["pass"] >= 0]


def batch_end_to_end(run):
    """A pass is summarised entry by entry: each entry's median wall time
    over the run's timed passes, so one slow execution of one entry moves
    the pass only as far as it moves that entry's median."""
    qs = [q for q in timed_queries(run) if q["ok"]]
    walls = defaultdict(list)
    for q in qs:
        walls[q["entry"]].append(q["end"] - q["start"])
    entries = list(dict.fromkeys(q["entry"] for q in qs))
    typical = [median(walls[e]) for e in entries]
    # closed loop: every entry of a pass is due when the pass starts
    due_to_result = [sum(typical[:i + 1]) for i in range(len(typical))]
    pass_ms = sum(typical)
    return {
        "setup_s": setup_seconds(run),
        "pass_s": pass_ms / 1000.0,
        "query_p50_ms": median([q["end"] - q["start"] for q in qs]),
        "stream_latency_p50_ms": percentile(due_to_result, 50),
        "stream_latency_p99_ms": percentile(due_to_result, 99),
        "stream_drain_eps": len(typical) / (pass_ms / 1000.0) if pass_ms else 0.0,
    }


def _jobs(run):
    """Finished jobs, each with the graft module that started it: from its
    own call site, else from the call site of its SQL execution."""
    sql = {e["id"]: e["callsite"] for e in run.by["sql_exec"]}
    starts = {}
    for j in run.by["job_start"]:
        module = module_of(j["callsite"])
        if module == "bench":
            module = module_of(sql.get(j.get("sql"), ""))
        starts[j["job"]] = dict(j, module=module)
    for e in run.by["job_end"]:
        if e["job"] in starts:
            starts[e["job"]]["end"] = e["t"]
    return [j for j in starts.values() if "end" in j]


def batch_spans(run):
    """Span tree of every traced query: query > construct | action >
    catalyst phases | job > stage."""
    traced_passes = {p["pass"] for p in run.by["pass"] if p["traced"]}
    traced = [q for q in run.by["query"] if q["pass"] in traced_passes and q["ok"]]
    by_qid = {q["qid"]: q for q in traced}
    jobs = [j for j in _jobs(run) if j["qid"] in by_qid]
    stage_of = {s["stage"]: s for s in run.by["stage"]}
    spans = []
    for q in traced:
        qid = q["qid"]
        spans.append(dict(id=qid, parent=None, name="query", layer="query",
                          start=q["start"], end=q["end"], qid=qid))
        spans.append(dict(id=qid + "/construct", parent=qid, name="construct", layer="queries",
                          start=q["start"], end=q["construct_end"], qid=qid))
        spans.append(dict(id=qid + "/action", parent=qid, name="action", layer="exec.driver",
                          start=q["construct_end"], end=q["end"], qid=qid))
    # query executions belong to the query part whose interval holds them
    parts = sorted(((s["start"], s["end"], s) for s in spans if s["name"] != "query"),
                   key=lambda t: t[0])
    for i, e in enumerate(run.by["qe"]):
        ph = e["phases"]
        if not ph:
            continue
        lo = min(v[0] for v in ph.values())
        hi = max(v[1] for v in ph.values())
        host = next((s for a, b, s in parts if a - 1 <= lo and hi <= b + 1), None)
        if host is None:
            continue
        for name, (a, b) in ph.items():
            spans.append(dict(id=f"{host['id']}/qe{i}/{name}", parent=host["id"],
                              name="catalyst." + name, layer="catalyst",
                              start=max(a, host["start"]), end=min(b, host["end"]),
                              qid=host["qid"], qe=e))
    for j in jobs:
        parent = j["qid"] + ("/construct" if j["phase"] == "construct" else "/action")
        module = j["module"]
        jid = f"{j['qid']}/job{j['job']}"
        spans.append(dict(id=jid, parent=parent, name="job", layer="exec.sched",
                          start=j["t"], end=j["end"], qid=j["qid"], module=module,
                          phase=j["phase"]))
        for sid in j["stages"]:
            s = stage_of.get(sid)
            if s and s.get("start") is not None and s.get("end") is not None:
                layer = "exec" if module in ("bench", "queries") else module
                spans.append(dict(id=f"{jid}/stage{sid}", parent=jid, name="stage", layer=layer,
                                  start=s["start"], end=s["end"], qid=j["qid"], stage=s,
                                  phase=j["phase"]))
                stage_of.pop(sid)  # a stage counts once, under its first job
    return spans


def batch_per_layer(run, cores):
    """Per-layer metrics per traced pass, and the spans they come from."""
    spans = batch_spans(run)
    traced_passes = [p for p in run.by["pass"] if p["traced"]]
    n = max(1, len(traced_passes))
    selfs = self_times(spans)
    m = {k: 0.0 for k in PER_LAYER}

    def total(name, key=lambda s: s["end"] - s["start"], where=lambda s: True):
        return sum(key(s) for s in spans if s["name"] == name and where(s)) / n

    wall = total("query")
    m["graft.session_ms"] = session_ms(run)
    jobs = [s for s in spans if s["name"] == "job"]
    graft_jobs = [j for j in jobs if j["module"] == "graft"]
    m["graft.read_jobs"] = len(graft_jobs) / n
    m["graft.read_ms"] = sum(j["end"] - j["start"] for j in graft_jobs) / n
    m["queries.construct_ms"] = total("construct")
    m["queries.construct_jobs"] = sum(1 for j in jobs if j["phase"] == "construct") / n
    m["queries.construct_share"] = m["queries.construct_ms"] / wall if wall else 0.0
    in_action = lambda s: s["id"].split("/")[1] == "action"
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = total("catalyst." + ph, where=in_action)
    # execution: the action's time outside the Catalyst phases; its driver
    # part is the time no job of the action was running
    catalyst_action = sum(m[f"catalyst.{ph}_ms"] for ph in ("analysis", "optimization", "planning"))
    m["exec.ms"] = max(0.0, total("action") - catalyst_action)
    action_jobs = [j for j in jobs if j["phase"] == "action"]
    by_qid = defaultdict(list)
    for j in action_jobs:
        by_qid[j["qid"]].append((j["start"], j["end"]))
    m["exec.driver_ms"] = max(0.0, m["exec.ms"] - sum(union_length(v) for v in by_qid.values()) / n)
    m["exec.jobs"] = len(action_jobs) / n
    stages = [s for s in spans if s["name"] == "stage"]
    m["exec.stages"] = len(stages) / n
    for field, name in STAGE_SUMS.items():
        m[name] = sum(s["stage"][field] for s in stages) / n
    action_run = sum(s["stage"]["run_ms"] for s in stages if s["phase"] == "action") / n
    m["exec.core_idle_share"] = (1 - action_run / (m["exec.ms"] * cores)) if m["exec.ms"] else 0.0
    action_qes = [s["qe"] for s in spans if s["name"] == "catalyst.planning" and in_action(s)]
    for k in ("scans", "exchanges", "broadcasts"):
        m[f"plan.{k}"] = sum(e[k] for e in action_qes) / n
    for mod in JOB_MODULES:
        mine = [j for j in jobs if j["module"] == mod]
        m[f"{mod}.jobs"] = len(mine) / n
        m[f"{mod}.job_ms"] = sum(j["end"] - j["start"] for j in mine) / n
    for layer in SELF_LAYERS:
        m[f"self.{layer.replace('.', '_')}_ms"] = sum(
            selfs[s["id"]] for s in spans if s["layer"] == layer) / n
    accounted = (m["queries.construct_ms"] + catalyst_action + m["exec.ms"])
    m["trace.accounted_share"] = accounted / wall if wall else 0.0
    m.update(_stream_layers(run.by["progress"]))
    qs = [q["end"] - q["start"] for q in timed_queries(run) if q["ok"]]
    m["query_p90_ms"] = tail_percentile(qs, 90)
    untraced = [p["end"] - p["start"] for p in run.by["pass"] if not p["traced"]]
    traced = [p["end"] - p["start"] for p in traced_passes]
    m["trace.pass_s"] = median(traced) / 1000.0
    m["trace.untraced_pass_s"] = median(untraced) / 1000.0
    m["trace.overhead_ms"] = median(traced) - median(untraced) if untraced else 0.0
    return m, spans


# ---- stream workload -----------------------------------------------------------

def _commit(p):
    return p["start"] + p["duration"].get("triggerExecution", 0)


def _stream_layers(progress):
    """streaming.* per trigger (medians), from the progress records."""
    m = {}
    data = [p for p in progress if p["input_rows"] > 0]
    m["streaming.trigger_ms"] = median([p["duration"].get("triggerExecution", 0) for p in data])
    for k, part in STREAM_PARTS.items():
        m[f"streaming.{k}"] = median([p["duration"].get(part, 0) for p in data])
    m["streaming.state_commit_ms"] = median([p["state_commit_ms"] for p in data])
    last = {}
    for p in progress:
        last[p["query"]] = p
    m["streaming.state_rows"] = sum(p["state_rows"] for p in last.values())
    m["streaming.state_bytes"] = sum(p["state_bytes"] for p in last.values())
    m["streaming.watermark_dropped_rows"] = sum(p["dropped_rows"] for p in progress)
    m["streaming.batches"] = len(data)
    m["streaming.rows_per_batch"] = (sum(p["input_rows"] for p in data) / len(data)) if data else 0.0
    return m


def stream_analysis(run):
    """Latency samples, drain rounds and attempt counts of a stream run."""
    open_loop = run.one("open_loop")
    progress = sorted(run.by["progress"], key=lambda p: (p["query"], p["batch"]))
    by_query = defaultdict(list)
    for p in progress:
        by_query[p["query"]].append((p.get("source_end"), _commit(p)))
    file_log = {(r["query"], r["file"]): r["log"] for r in run.by["file_batch"]}
    commits = file_commits(file_log, by_query)
    pubs = run.by["publish"]
    open_pubs = [p for p in pubs if p["phase"] == "open"]
    queries = sorted({q for q, _ in file_log})
    due = {p["file"]: p["due"] for p in open_pubs}
    latencies = file_latencies(due, {k: v for k, v in commits.items() if k[1] in due})
    drains = []
    for c in run.by["catch_up"]:
        files = [p["file"] for p in pubs if p["phase"] == c["phase"]]
        done = [commits.get((q, f)) for q in queries for f in files]
        if files and all(d is not None for d in done):
            drains.append((max(done) - c["start"], c["events"]))
    published = [p for p in pubs if p["phase"] != "warm"]
    attempted = len(published) * max(1, len(queries))
    failed = sum(1 for q in queries for p in published if (q, p["file"]) not in commits)
    open_triggers = [p for p in progress
                     if open_loop and open_loop["start"] <= p["start"] <= open_loop["end"]]
    return dict(latencies=latencies, drains=drains, attempted=attempted, failed=failed,
                open_triggers=open_triggers, commits=commits, open_pubs=open_pubs)


def stream_end_to_end(run, a):
    drain_ms = [d for d, _ in a["drains"]]
    trig = [p["duration"].get("triggerExecution", 0) for p in a["open_triggers"]
            if p["input_rows"] > 0]
    return {
        "setup_s": setup_seconds(run),
        "pass_s": median(drain_ms) / 1000.0,
        "query_p50_ms": median(trig),
        "stream_latency_p50_ms": percentile(a["latencies"], 50),
        "stream_latency_p99_ms": tail_percentile(a["latencies"], 99),
        "stream_drain_eps": median([e / (d / 1000.0) for d, e in a["drains"] if d > 0]),
    }


def stream_spans(a):
    """One `trigger` span per micro-batch, its `durationMs` parts as
    children laid end to end in engine order."""
    spans = []
    for p in a["open_triggers"]:
        tid = f"{p['query']}:{p['batch']}"
        start = p["start"]
        spans.append(dict(id=tid, parent=None, name="trigger", layer="streaming", start=start,
                          end=start + p["duration"].get("triggerExecution", 0), qid=tid))
        t = start
        for part in TRIGGER_PARTS:
            d = p["duration"].get(part, 0)
            spans.append(dict(id=f"{tid}/{part}", parent=tid, name=part, layer="streaming",
                              start=t, end=t + d, qid=tid))
            t += d
    return spans


def stream_per_layer(run, a, cores):
    """streaming.* per open-loop micro-batch; exec.* and <m>.* totals over
    the traced window (open loop plus catch-up)."""
    m = {k: 0.0 for k in PER_LAYER}
    m["graft.session_ms"] = session_ms(run)
    m.update(_stream_layers(a["open_triggers"]))
    stages = run.by["stage"]
    jobs = _jobs(run)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    for field, name in STAGE_SUMS.items():
        m[name] = sum(s[field] for s in stages)
    for j in jobs:
        mod = j["module"]
        if mod in JOB_MODULES:
            m[f"{mod}.jobs"] += 1
            m[f"{mod}.job_ms"] += j["end"] - j["t"]
    busy = sum(p["duration"].get("triggerExecution", 0) for p in run.by["progress"])
    m["exec.ms"] = busy
    m["exec.core_idle_share"] = (1 - m["exec.task_run_ms"] / (busy * cores)) if busy else 0.0
    actual = {p["file"]: p["actual"] for p in a["open_pubs"]}
    triggers = [(p["query"], p["start"]) for p in a["open_triggers"]]
    m["load.source_lag_files"] = source_lag_files(actual, a["commits"], triggers)
    m["load.generator_lag_ms"] = percentile([p["actual"] - p["due"] for p in a["open_pubs"]], 99)
    m["query_p90_ms"] = tail_percentile(
        [p["duration"].get("triggerExecution", 0) for p in a["open_triggers"]
         if p["input_rows"] > 0], 90)
    lat50 = percentile(a["latencies"], 50)
    m["trace.latency_p50_ms"] = lat50
    m["trace.trigger_share_of_latency"] = m["streaming.trigger_ms"] / lat50 if lat50 else 0.0
    spans = stream_spans(a)
    selfs = self_times(spans)
    # a trigger plays the part of a query: its own time is engine glue
    m["self.query_ms"] = sum(selfs[s["id"]] for s in spans if s["name"] == "trigger")
    m["self.streaming_ms"] = sum(selfs[s["id"]] for s in spans if s["name"] != "trigger")
    return m, spans
