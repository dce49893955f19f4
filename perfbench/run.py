#!/usr/bin/env python3
"""Benchmark runner: build, generate inputs, run one workload, check, report.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run compiles the program from `src/main/scala` (cached by source
digest under `.bench_build/`), generates the seed's inputs outside the
timed region, starts one fresh JVM (`perfbench.Harness`) that runs the
workload through the program's public entry points, checks every
output (DuckDB oracle for queries, fixture goldens for the JIRA corpus)
and prints one JSON object as the last line of standard output. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics. Lines before the last
one give the run context and, for traced runs, the self time per layer.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402

BUILD = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"

SF = 0.001
JVM_TIMEOUT_S = 150
KEEP_INPUT_SEEDS = 3

# Fixed query sets (SparkEntry.queries keys). The seed varies the data
# and, for session_steady, the order of each round; a cold pass runs in
# the listed order, so the query that pays for first-use JIT work is the
# same in every run and per-query times stay comparable.
GRAPH = [
    "q72_dedup_clusters", "q403_copurchase", "q474_truss_classes",
    "q482_densest_subgraph", "q485_coreness_census",
]
# one query per operator family, each cheap to derive and to re-read.
# The JIRA family's queries (q54, qj04) read the program's fixture
# directory through an absolute path that exists only in the original
# source tree, not in a fresh checkout; the connector is measured by
# jira_ingest instead.
SESSION_PANEL = [
    "q04_top_orders", "q13_clean_text", "q17_fingerprint", "q20_dedup_exact",
    "q24_cosine_topk", "q27_tumbling_window", "q72_dedup_clusters",
    "q236_balanced_batches",
]
JIRA_ISSUES_PER_PROJECT = 200
JIRA_PAGE_SIZE = 50
JIRA_FAILURES = 1
JIRA_SLEEP_SCALE = 0.002

WORKLOADS = {
    "graph_cold": {"kind": "cold", "queries": GRAPH},
    "session_steady": {"kind": "steady", "queries": SESSION_PANEL,
                       "warm_rounds": 1, "min_execs": 100},
    "jira_ingest": {"kind": "jira", "warm_passes": 1, "min_passes": 2},
}

JVM_OPTS = [
    "-Xmx3g", "-Xss4m", "-XX:ReservedCodeCacheSize=1g",
    "-XX:+UseCodeCacheFlushing", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        fail("set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


# ---------------------------------------------------------------- build

def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, out, classpath, sources):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        fail(f"compilation into {out} failed")


def build():
    """Compile the program and the harness; returns the JVM classpath."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main_src:
        fail("no program sources under src/main/scala; run from the repo root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        fail(f"Spark jars not found at {jars}")
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(classes, "stamp")
    digest = _digest(main_src + [os.path.relpath(p) for p in bench_src])
    main_out = os.path.join(classes, "main")
    bench_out = os.path.join(classes, "bench")
    cp = [bench_out, main_out, "src/main/resources", f"{jars}/*"]
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return ":".join(cp)
    shutil.rmtree(classes, ignore_errors=True)
    t0 = time.time()
    _scalac(jars, main_out, f"{jars}/*", main_src)
    _scalac(jars, bench_out, f"{main_out}:{jars}/*", bench_src)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f}s")
    return ":".join(cp)


# --------------------------------------------------------------- inputs

def inputs(seed):
    """Generate (once per seed) and return the seed's input directory."""
    root = os.path.join(BUILD, "inputs")
    # keyed by the generator and its parameters as well as the seed
    key = _digest([datagen.__file__]) + repr(
        (SF, JIRA_ISSUES_PER_PROJECT, JIRA_PAGE_SIZE))
    key = hashlib.sha256(key.encode()).hexdigest()[:12]
    d = os.path.join(root, f"{seed}-{key}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.write_tables(os.path.join(d, "tables"), seed, SF)
        datagen.write_jira(os.path.join(d, "jira"), seed,
                           JIRA_ISSUES_PER_PROJECT, JIRA_PAGE_SIZE)
        open(os.path.join(d, "done"), "w").close()
    # bound the disk used by earlier seeds
    others = sorted((p for p in glob.glob(os.path.join(root, "*"))
                     if p != d), key=os.path.getmtime)
    for p in others[:max(0, len(others) - KEEP_INPUT_SEEDS + 1)]:
        shutil.rmtree(p, ignore_errors=True)
    os.utime(d)
    return d


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def nproc():
    return len(os.sched_getaffinity(0))


def plan_for(workload, seed, seconds, trace, data, out):
    spec = WORKLOADS[workload]
    rng = random.Random(seed)
    plan = {"kind": spec["kind"], "out": out, "cores": nproc(),
            "tables": os.path.join(data, "tables"), "seconds": seconds,
            "trace": trace, "local_dir": os.path.join(BUILD, "spark-local")}
    if spec["kind"] == "cold":
        plan["queries"] = ",".join(spec["queries"])
    elif spec["kind"] == "steady":
        rounds = []
        for _ in range(400):
            r = list(spec["queries"])
            rng.shuffle(r)
            rounds.append(",".join(r))
        plan["rounds"] = ";".join(rounds)
        plan["warm_rounds"] = spec["warm_rounds"]
        plan["min_execs"] = spec["min_execs"]
    else:
        plan.update({"jira_dir": os.path.join(data, "jira"),
                     "projects": ",".join(datagen.JIRA_PROJECTS),
                     "page_size": JIRA_PAGE_SIZE, "failures": JIRA_FAILURES,
                     "sleep_scale": JIRA_SLEEP_SCALE,
                     "warm_passes": spec["warm_passes"],
                     "min_passes": spec["min_passes"]})
    return plan


def run_jvm(cp, plan, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(plan["local_dir"], exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan_file = os.path.join(out, "plan.txt")
    with open(plan_file, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in plan.items())
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness", plan_file])
    spawned = time.time()
    ticks0 = cpu_ticks()
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        try:
            res = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                 timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {out}/jvm.log")
    if res.returncode != 0 or not os.path.exists(f"{out}/result.json"):
        with open(os.path.join(out, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"harness exited with {res.returncode}")
    with open(f"{out}/result.json") as fh:
        result = json.load(fh)
    ticks1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # machine-level source of run-to-run spread
    result["steal_pct"] = (
        100.0 * (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        if ticks0 and ticks1 else None)
    result["setup_s"] = result["ready_ms"] / 1000.0 - spawned
    result["setup_split_s"] = {
        "session": result["session_ms"] / 1000.0 - spawned,
        "warm_query": (result["ready_ms"] - result["session_ms"]) / 1000.0}
    result["discarded_warmup_s"] = (result["warm_ms"] - result["ready_ms"]) / 1000.0
    return result


# -------------------------------------------------------------- metrics

def p90(values):
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def end_to_end(kind, ops, result, issues_per_pass):
    """The BENCHMARK.json end-to-end metrics from the timed operations."""
    ok = [o for o in ops if "error" not in o]
    walls = [o["wall_s"] for o in ok]
    by_pass = {}
    for o in ok:
        by_pass.setdefault(o["pass"], []).append(o["wall_s"])
    pass_s = statistics.median(sum(v) for v in by_pass.values())
    if kind == "jira":
        items = issues_per_pass * len(ok) / sum(walls)
    else:
        items = len(ok) / sum(walls)
    return {
        "setup_s": (result["setup_s"], "s"),
        "pass_s": (pass_s, "s"),
        "items_per_s": (items, "1/s"),
        "cache_peak_mb": (max(o.get("storage_mb", 0.0) for o in ok), "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.exists(os.path.join(datagen.FIXTURE_DIR,
                                       datagen.FIXTURE_FILES[0][1])):
        fail("JIRA fixtures not found; run from the repo root")

    started = time.time()
    cp = build()
    data = inputs(args.seed)
    log(f"build+inputs {time.time() - started:.1f}s")
    kind = WORKLOADS[args.workload]["kind"]
    out = os.path.join(BUILD, "runs", args.workload)
    plan = plan_for(args.workload, args.seed, args.seconds, args.trace,
                    os.path.abspath(data), os.path.abspath(out))
    result = run_jvm(cp, plan, out)
    log(f"jvm done at {time.time() - started:.1f}s")
    ops = result["ops"]

    # correctness: every timed operation's output is checked
    issues = len(datagen.JIRA_PROJECTS) * JIRA_ISSUES_PER_PROJECT
    if kind == "jira":
        verdicts = checks.check_jira(ops, os.path.join(data, "jira"), issues)
        bad = {o["name"] for o in ops if verdicts.get(o["name"]) != "OK"}
    else:
        verdicts = checks.check_queries(out, os.path.join(data, "tables"))
        bad = {n for n, v in verdicts.items() if v != "OK"}
    for name, v in sorted(verdicts.items()):
        if v != "OK":
            log(f"mismatch {name}: {v}")
    failed = sum(1 for o in ops if "error" in o or o["name"] in bad)
    if failed:
        kept = os.path.join(BUILD, "failed", f"{args.workload}-{args.seed}")
        shutil.rmtree(kept, ignore_errors=True)
        shutil.copytree(out, kept)
        log(f"outputs of the failed run kept in {kept}")

    log(f"checked at {time.time() - started:.1f}s")
    metrics = end_to_end(kind, ops, result, issues)
    walls = [o["wall_s"] for o in ops if "error" not in o]
    # untraced pass times of this build and workload definition: the
    # traced run's overhead is measured against them
    key = hashlib.sha256((open(os.path.join(BUILD, "classes", "stamp")).read()
                          + json.dumps(WORKLOADS[args.workload])).encode())
    history = os.path.join(BUILD, "history",
                           f"{args.workload}-{key.hexdigest()[:12]}.json")
    if args.trace:
        report, metrics = layers.per_layer(
            kind, ops, result, out, history, metrics["pass_s"][0],
            int(plan["cores"]), issues, JIRA_FAILURES,
            len(datagen.JIRA_PROJECTS))
        print(json.dumps({"self_s": report}))
    else:
        passes = []
        if os.path.exists(history):
            with open(history) as fh:
                passes = json.load(fh)
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "w") as fh:
            json.dump((passes + [metrics["pass_s"][0]])[-20:], fh)

    print(json.dumps({"context": {
        "workload": args.workload, "seed": args.seed, "sf": SF,
        "nproc": nproc(), "loadavg_1m": os.getloadavg()[0],
        "commit": checks.commit(),
        "steal_pct": result["steal_pct"], "trace": args.trace,
        "setup_split_s": result["setup_split_s"],
        "discarded_warmup_s": result["discarded_warmup_s"],
        "op_s": {"p50": statistics.median(walls), "p90": p90(walls),
                 "samples": len(walls)},
        "verdicts": verdicts}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
