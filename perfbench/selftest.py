#!/usr/bin/env python3
"""Tests of the benchmark's output checks. Run from the repository root:

    python3 perfbench/selftest.py

Runs each workload once (seed 7, one round), then plants a fault in a copy
of its outputs and shows that the matching check fails while the untouched
copy passes:
  - fairness-cv: a metric pushed out of range, and one fold's row dropped;
  - query-mix: one changed cell in a query result.
Exits 0 when every planted fault is caught.
"""
import csv
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402


def run_workload(name):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                          "--seed", "7", "--seconds", "1", "--trace", "0"],
                         capture_output=True, text=True)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"selftest: {name} run failed")
    work = os.path.join(build.OUT, "runs", name)
    with open(os.path.join(work, "result.json")) as fh:
        return work, json.load(fh)


def copy_work(work, name):
    dst = os.path.join(build.OUT, "selftest", name)
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(work, dst)
    return dst


def failed(found, fragment):
    return [n for n, ok, _ in found if fragment in n and not ok]


def rewrite_csv(path, edit):
    with open(path, newline="") as fh:
        rows = list(csv.DictReader(fh))
    fields = list(rows[0])
    rows = edit(rows)
    with open(path, "w", newline="") as fh:
        w = csv.DictWriter(fh, fieldnames=fields, lineterminator="\n")
        w.writeheader()
        w.writerows(rows)


def main():
    results = []

    def expect(label, ok):
        results.append(ok)
        print(("ok    " if ok else "FAIL  ") + label)

    work, res = run_workload("fairness-cv")
    expect("fairness-cv: real outputs pass", all(ok for _, ok, _ in
                                                 run.check_outputs("fairness-cv", work, res)))
    part = lambda w: sorted(glob.glob(os.path.join(
        w, "out", "r0", "2features", "metrics_compas_demv_*.csv", "part-*.csv")))[0]

    bad = copy_work(work, "fairness-range")
    rewrite_csv(part(bad), lambda rows: [dict(rows[0], acc="1.5")] + rows[1:])
    expect("fairness-cv: acc pushed to 1.5 is caught",
           bool(failed(run.check_outputs("fairness-cv", bad, res), "in range")))

    bad = copy_work(work, "fairness-row")
    rewrite_csv(part(bad), lambda rows: rows[1:])
    expect("fairness-cv: a dropped fold row is caught",
           bool(failed(run.check_outputs("fairness-cv", bad, res), "one row per fold")))

    work, res = run_workload("query-mix")
    expect("query-mix: real outputs pass", all(ok for _, ok, _ in
                                               run.check_outputs("query-mix", work, res)))
    bad = copy_work(work, "query-cell")
    target = "q07_ntile_orders"
    path = glob.glob(os.path.join(bad, "dump", target, "*.parquet"))[0]
    table = pq.read_table(path)
    n = table.column("n").to_pylist()
    n[0] += 1
    i = table.schema.get_field_index("n")
    pq.write_table(table.set_column(i, "n", pa.array(n, type=table.schema.field(i).type)), path)
    expect(f"query-mix: one changed cell in {target} is caught",
           bool(failed(run.check_outputs("query-mix", bad, res), target)))

    shutil.rmtree(os.path.join(build.OUT, "selftest"), ignore_errors=True)
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
