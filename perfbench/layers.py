"""Per-layer metrics of a traced run, computed from the harness's spans.

Span tree: workload → operation (a query, or one ingest pass) → phase
(construct, plan, force, release; scan, run, release for the ingest) →
Spark job → stage. Jobs find their operation through the job group and
their phase through the `perfbench.phase` local property; plan-phase
records of eager actions are placed in the phase whose interval holds
their start. Every value is per pass over the workload's operations.
"""
import glob
import json
import os
import statistics

MB = 1024.0 * 1024.0
# phase of the timed region → layer whose self time it is
PHASE_LAYER = {"construct": "entry", "plan": "planner", "force": "exec",
               "release": "caches", "scan": "jira_source", "run": "jira"}


def _load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(kind, ops, result, out, history, pass_s, cores, issues,
              failures, projects):
    """(self-time report, {metric: (value, unit)})."""
    spans = _load(os.path.join(out, "spans.jsonl"))
    timed = {o["name"] for o in ops}
    passes = max(1, len({o["pass"] for o in ops}))
    timed_ops = [o for o in ops if "error" not in o]

    phases = [s for s in spans if s["kind"] == "phase"
              and s["phase"] in PHASE_LAYER and s["op"] in timed]
    jobs, ends = {}, {}
    for s in spans:
        if s["kind"] == "job_start" and s["phase"] in PHASE_LAYER:
            jobs[s["job"]] = s
        elif s["kind"] == "job_end":
            ends[s["job"]] = s["end_ms"]
    for j, s in jobs.items():
        s["end_ms"] = ends.get(j, s["start_ms"])
    stages = [s for s in spans if s["kind"] == "stage" and s["job"] in jobs]
    qes = [s for s in spans if s["kind"] == "qe"]

    def in_phase(t, names):
        return any(p["start_ms"] <= t <= p["end_ms"] for p in phases
                   if p["phase"] in names)

    # self time: a phase's duration minus the part its jobs cover
    self_s = {layer: 0.0 for layer in set(PHASE_LAYER.values())}
    covered = 0.0
    for p in phases:
        dur = (p["end_ms"] - p["start_ms"]) / 1000.0
        inside = [(max(j["start_ms"], p["start_ms"]),
                   min(j["end_ms"], p["end_ms"])) for j in jobs.values()
                  if j["phase"] == p["phase"] and j["group"] == p["op"]
                  and j["end_ms"] > p["start_ms"]
                  and j["start_ms"] < p["end_ms"]]
        busy = _union(inside) / 1000.0
        layer = PHASE_LAYER[p["phase"]]
        self_s[layer] += dur - busy if layer != "exec" else dur
        if layer != "exec":
            self_s["exec"] += busy
        covered += dur
    # an operation's extent vs the phases recorded inside it; warm-up
    # ingests carry other operation names and output writes the phase
    # "output", so neither is in `phases`
    op_bounds = {}
    for p in phases:
        lo, hi = op_bounds.get(p["op"], (p["start_ms"], p["end_ms"]))
        op_bounds[p["op"]] = (min(lo, p["start_ms"]), max(hi, p["end_ms"]))
    if kind != "steady":
        extent = sum(hi - lo for lo, hi in op_bounds.values()) / 1000.0
    else:
        extent = covered  # repeated queries interleave; phases are contiguous
    untraced = max(0.0, extent - covered)

    def stage_sum(key, jobset=None):
        return sum(s[key] for s in stages
                   if jobset is None or s["job"] in jobset)

    task_s = stage_sum("run_ms") / 1000.0
    wall = sum(o.get("wall_s", 0.0) for o in timed_ops)
    construct_jobs = sum(1 for j in jobs.values() if j["phase"] == "construct")
    plan_qes = [q for q in qes if in_phase(q["start_ms"] + 0.5,
                                           {"construct", "scan", "run"})]
    writes = [q for q in qes if q["write"] and in_phase(q["start_ms"] + 0.5,
                                                         {"run"})]

    def osum(key):
        return sum(o.get(key, 0.0) for o in timed_ops)

    def planner(key):
        return (osum(key + "_s") +
                sum(q[key + "_ms"] for q in plan_qes) / 1000.0)

    jira = kind == "jira"
    scan_jobs = {j for j, s in jobs.items() if s["phase"] == "scan"}
    pages = stage_sum("tasks", scan_jobs) / passes if jira else 0.0
    bytes_written = 0.0
    if jira:
        for o in ops:
            for f in glob.glob(os.path.join(o["dir"], "corpus", "**", "part-*"),
                               recursive=True):
                bytes_written += os.path.getsize(f)
    examples = osum("examples_out")
    baseline = []
    if os.path.exists(history):
        with open(history) as fh:
            baseline = json.load(fh)
    storage = [o["storage_mb"] for o in timed_ops if "storage_mb" in o]

    m = {
        "entry.construct_s": (osum("construct_s") / passes, "s"),
        "entry.construct_jobs": (construct_jobs / passes, "count"),
        "entry.self_s": (self_s["entry"] / passes, "s"),
        "planner.analysis_s": (planner("analysis") / passes, "s"),
        "planner.optimization_s": (planner("optimization") / passes, "s"),
        "planner.planning_s": (planner("planning") / passes, "s"),
        "planner.plan_nodes": (osum("plan_nodes") / passes, "count"),
        "planner.self_s": (self_s["planner"] / passes, "s"),
        "exec.force_s": (osum("force_s") / passes, "s"),
        "exec.jobs": (len(jobs) / passes, "count"),
        "exec.stages": (len(stages) / passes, "count"),
        "exec.tasks": (stage_sum("tasks") / passes, "count"),
        "exec.task_s": (task_s / passes, "s"),
        "exec.cpu_s": (stage_sum("cpu_ns") / 1e9 / passes, "s"),
        "exec.gc_s": (stage_sum("gc_ms") / 1000.0 / passes, "s"),
        "exec.task_wait_s": (stage_sum("wait_ms") / 1000.0 / passes, "s"),
        "exec.busy_ratio": (task_s / (wall * cores) if wall else 0.0, "ratio"),
        "exec.shuffle_read_mb": (stage_sum("shuffle_read") / MB / passes, "MB"),
        "exec.shuffle_write_mb": (stage_sum("shuffle_write") / MB / passes, "MB"),
        "exec.spill_mb": (stage_sum("spill") / MB / passes, "MB"),
        "exec.input_mb": (stage_sum("input") / MB / passes, "MB"),
        "exec.self_s": (self_s["exec"] / passes, "s"),
        "caches.registered": (osum("registered") / passes, "count"),
        "caches.inmem_scans": (osum("inmem_scans") / passes, "count"),
        "caches.derive_s": (sum(o["wall_s"] - o["steady_s"] for o in timed_ops
                                if "steady_s" in o) / passes, "s"),
        "caches.release_s": (osum("release_s") / passes, "s"),
        "caches.storage_mb": (statistics.mean(storage) if storage else 0.0, "MB"),
        "jira_source.scan_s": (osum("scan_s") / passes, "s"),
        "jira_source.pages": (pages, "count"),
        "jira_source.rows": (stage_sum("records_written", scan_jobs) / passes
                             if jira else 0.0, "count"),
        "jira_source.retries": (failures * (pages + projects) if jira else 0.0,
                                "count"),
        "jira_source.self_s": (self_s["jira_source"] / passes, "s"),
        "jira.run_s": (osum("run_s") / passes, "s"),
        "jira.issues_in": (issues if jira else 0, "count"),
        "jira.examples_out": (examples / passes, "count"),
        "jira.examples_per_issue": (examples / passes / issues if jira else 0.0,
                                    "ratio"),
        "jira.self_s": (self_s["jira"] / passes, "s"),
        "sinks.write_s": (sum(q["duration_s"] for q in writes) / passes, "s"),
        "sinks.bytes_written": (bytes_written / passes, "bytes"),
        "sinks.bytes_per_example": (bytes_written / examples if examples else 0.0,
                                    "bytes"),
        "jvm.heap_peak_mb": (result["heap_peak_mb"], "MB"),
        "jvm.gc_s": (result["gc_s"], "s"),
        "trace.untraced_s": (untraced / passes, "s"),
        "trace.coverage": (covered / extent if extent else 1.0, "ratio"),
        "trace.listener_s": (result["listener_s"], "s"),
        "trace.overhead_s": (pass_s - statistics.median(baseline)
                             if baseline else 0.0, "s"),
        "trace.baseline_runs": (len(baseline), "count"),
    }
    report = {layer: round(v / passes, 6) for layer, v in self_s.items()}
    return report, m
