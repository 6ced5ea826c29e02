#!/usr/bin/env python3
"""Benchmark command. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), makes the workload's
inputs from the seed, runs the workload in its own JVM with a local[<nproc>]
master, checks its outputs, and prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see README.md).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402

ROOT = os.getcwd()
# the whole JVM run, set-up to checks; the command must end within 180 s
JVM_TIMEOUT_S = 165

FAIRNESS_FOLDS = 2
FAIRNESS_METHODS = ["biased", "demv"]
# query -> module its result is attributed to in a traced run
QUERIES = {
    "q07_ntile_orders": "etl",
    "q37_knn_ivf": "similarity",
    "q55_neardup_components": "dedup",
    "q59_minhash_portable": "functions",
    "q70_kmv_source_overlap": "sketch",
    "q105_domain_pagerank": "graph",
    "q111_image_dhash_neardup": "multimodal",
    "q125_5gram_xent_hashed": "text",
}
# oracle results that depend only on one input column are computed once per
# checkout and reused: q105 builds its link graph from doc_id alone
ORACLE_INPUTS = {"q105_domain_pagerank": ("documents", "doc_id")}

# per-layer metrics only one workload measures; the other reports them as 0
MEASURED = {
    "fairness-cv": ["cli.biased_s", "cli.demv_s"],
    "query-mix": ["queries.plan_s", "queries.exec_s", "queries.eager_jobs", "queries.p50_s"]
                 + [f"q.{q}_s" for q in QUERIES],
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def prepare_inputs(workload, seed, work):
    """Make the workload's inputs from the seed under <work>/input."""
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    if workload == "fairness-cv":
        datagen.compas(seed, os.path.join(ROOT, "data", "compas.csv"),
                       os.path.join(input_dir, "compas.csv"))
    else:
        datagen.query_tables(seed, input_dir)


def jvm_params(workload):
    if workload == "fairness-cv":
        return [f"folds={FAIRNESS_FOLDS}"]
    return ["queries=" + ",".join(f"{q}:{m}" for q, m in QUERIES.items())]


def run_jvm(classpath, args, work, trace, timeout):
    """Run a harness main to its end; return (exit code, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap keeps the resident set from following the collector's
    # heap-sizing decisions, which differ from run to run
    cmd = ["java", "-cp", classpath, "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}"]
    if trace:
        cmd += ["-Dspark.extraListeners=perfbench.Tracer", "-Dspark.callstack.depth=1000"]
    env = dict(os.environ, SPARK_MASTER=f"local[{cpus()}]")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd + args, stdout=log, stderr=subprocess.STDOUT, env=env,
                                cwd=work)
        deadline = time.monotonic() + timeout
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                pid, status, usage = os.wait4(proc.pid, 0)
                break
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def check_outputs(workload, work, res):
    """Every output check of a finished run, as (name, ok, detail)."""
    found = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    if workload == "fairness-cv":
        found += checks.fairness(os.path.join(work, "out"), len(res["rounds"]),
                                 FAIRNESS_METHODS, FAIRNESS_FOLDS)
    else:
        # a query that failed its warm-up pass is a failed operation, not a
        # wrong result
        skip = [q for q in res["info"].get("warmup_failed", "").split(",") if q]
        found += checks.queries(ROOT, os.path.join(work, "input"), os.path.join(work, "dump"),
                                list(QUERIES), skip=skip, threads=cpus(),
                                tmp_dir=os.path.join(work, "tmp"),
                                cache_dir=os.path.join(build.OUT, "oracle-cache"),
                                cached_inputs=ORACLE_INPUTS)
    return found


def fail(msg, work=None):
    sys.stderr.write(f"perfbench: {msg}\n")
    if work and os.path.exists(os.path.join(work, "jvm.log")):
        with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-3000:])
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(MEASURED))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build.build()

    work = os.path.join(build.OUT, "runs", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.monotonic()
    prepare_inputs(a.workload, a.seed, work)
    input_s = time.monotonic() - t0

    code, peak_rss_mb = run_jvm(
        classpath,
        ["perfbench.Main", a.workload, work, str(a.seconds), str(a.trace)]
        + jvm_params(a.workload),
        work, a.trace, JVM_TIMEOUT_S)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        fail(f"{a.workload} JVM exited with {code}", work)
    with open(result_path) as fh:
        res = json.load(fh)

    found = check_outputs(a.workload, work, res)
    for name, ok, detail in found:
        if not ok:
            sys.stderr.write(f"perfbench: check failed: {name}: {detail}\n")

    run_s = statistics.median(res["rounds"])
    if a.trace:
        layers = res["layers"]
        layers["traced.run_s"] = run_s
        layers["host.steal_pct"] = 100 * statistics.mean(res["rounds_steal"])
        q_times = [layers[f"q.{q}_s"] for q in QUERIES if f"q.{q}_s" in layers]
        if q_times:
            layers["queries.p50_s"] = statistics.median(q_times)
        missing = [m for m in MEASURED[a.workload] if m not in layers]
        if missing:
            fail(f"traced {a.workload} run did not measure {missing}", work)
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": input_s + res["setup_s"],
            "run_s": run_s,
            "peak_rss_mb": peak_rss_mb,
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": bool(found) and all(ok for _, ok, _ in found),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
