#!/usr/bin/env python3
"""Consistency checks of the benchmark's own measurements, on small inputs.

    python3 perfbench/checks.py

For each workload it generates a small input, runs the traced session
twice on it (a cold pass and the minimum of warm passes) and checks:

1. in every pass, shuffle bytes written equal shuffle bytes read;
2. for every job group, the jobs the status tracker reported equal the
   jobs the event log holds;
3. every per-layer metric is >= 0;
4. job counts and shuffle bytes repeat exactly across the two runs.

It prints one line per check and exits 0 only when all hold.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

import run
from eventlog import load_events, pass_totals
from workloads import WORKLOADS

SMALL = {
    "mapreduce_text": {"n_docs": 200, "vocab": 3000, "mean_tokens": 60},
    "vector_knn": {"n_vec": 300, "dim": 64},
}
SEED = 7


def traced_run(wl: object, data: str, oracle: str, tag: str) -> tuple[dict, dict]:
    evdir = os.path.join(run.WORK, "checks", tag, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    args = ["--workload", wl.name, "--data", data, "--oracle", oracle,
            "--sink-dir", os.path.join(run.WORK, "checks", tag, "sinks"), "--seconds", "0",
            "--trace", "1", "--eventlog", evdir, "--spans", os.path.join(run.WORK, "checks", tag, "spans.json")]
    res = run.run_child(args, run.child_env(evdir), os.path.join(run.WORK, "logs", f"checks-{tag}.log"), float("inf"))
    return res, pass_totals(load_events(evdir))


def main() -> int:
    run.become_subreaper()
    os.makedirs(os.path.join(run.WORK, "logs"), exist_ok=True)
    failures = 0

    def check(ok: bool, what: str) -> None:
        nonlocal failures
        failures += not ok
        print(f"{'ok  ' if ok else 'FAIL'} {what}")

    for name, params in SMALL.items():
        wl = dataclasses.replace(WORKLOADS[name], params=params)
        data = run.prepare_inputs(wl, SEED)
        oracle = run.prepare_oracle(wl, data)
        (r1, t1), (r2, t2) = (traced_run(wl, data, oracle, f"{name}-{i}") for i in (1, 2))
        check(r1["failed"] == 0 and r2["failed"] == 0, f"{name}: every query matches its oracle")
        passes = [label for label in t1 if label == "cold" or label.startswith("w")]
        for label in passes:
            w, r = t1[label]["shuffle.write_bytes"], t1[label]["shuffle.read_bytes"]
            check(w == r and w > 0, f"{name} {label}: shuffle bytes written {w:.0f} == read {r:.0f}")
        for res in (r1, r2):
            log = res["group_jobs_in_log"]
            bad = [g for g, ids in res["groups"].items() if ids != log.get(g, [])]
            check(not bad, f"{name}: status-tracker jobs == event-log jobs in {len(res['groups'])} groups {bad[:3]}")
            neg = {k: v for k, v in res["layers"].items() if v < 0}
            check(not neg, f"{name}: all {len(res['layers'])} per-layer metrics >= 0 {neg}")
        for label in (p for p in passes if p in t2):
            for key in ("execution.jobs", "shuffle.write_bytes"):
                a, b = t1[label][key], t2[label][key]
                check(a == b, f"{name} {label}: {key} repeats across runs ({a:.0f}, {b:.0f})")
    print("all checks passed" if failures == 0 else f"{failures} checks failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
