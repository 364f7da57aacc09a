#!/usr/bin/env python3
"""Benchmark entry point: drives the engine from outside, one workload
per run, from the root of a checkout.

    python3 perfbench/run.py --workload mapreduce_text --seed 1 --seconds 5 --trace 0

Steps, all under ``.perfbench/`` in the checkout:

1. Generate the workload's inputs from ``--seed`` (cached per seed).
2. Run every query's DuckDB oracle on them (cached per seed). Neither
   step is part of any metric.
3. ``--trace 0``: time set-up in fresh processes, then run one measured
   session (``worker.py``) and print the end-to-end metrics.
   ``--trace 1``: run a traced session (event log on, spans kept) and
   print the per-layer metrics. The tracing overhead is traced
   ``warm_s`` minus the untraced ``warm_s`` of an earlier run of the
   workload (on the same input if there is one); without one, an
   untraced session runs first.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it carries detail (quartiles,
sample counts, errors). Exit code 2 means the engine package is not in
the checkout; 1 means a session did not finish.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

SETUP_PROBES = 1  # fresh set-up-only processes, besides the measured session
DEADLINE_S = 170.0  # every run, set-up and generation included, ends before this
PR_SET_CHILD_SUBREAPER = 36
# Task threads of the measured session (local[N], and N shuffle
# partitions through the package's own default). Half the CPUs leaves
# the rest to the JIT compiler, the collector and the Python workers.
SPARK_CPUS = max(1, len(os.sched_getaffinity(0)) // 2)


def become_subreaper() -> None:
    """Orphaned descendants (the JVM, Python daemons) re-parent to this
    process, so ``_reap_group`` can wait for them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def die(msg: str, code: int) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def prepare_inputs(workload: object, seed: int) -> str:
    out = os.path.join(WORK, "data", workload.input_key(seed))
    if not os.path.isfile(os.path.join(out, "DONE")):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        workload.make(tmp, seed)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def prepare_oracle(workload: object, data: str) -> str:
    """Pickle of {query: DuckDB result DataFrame}, keyed by the inputs
    and the package source, which holds the oracle SQL."""
    h = hashlib.md5(",".join(workload.queries).encode())
    pkg = os.path.join(ROOT, "mapreduce_lab_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    path = os.path.join(data, f"oracle-{h.hexdigest()[:12]}.pkl")
    if os.path.isfile(path):
        return path
    import duckdb

    sys.path.insert(0, ROOT)
    from mapreduce_lab_spark import registry

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'tmp')}'")
    for f in sorted(os.listdir(data)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
    results = {q: con.execute(registry.oracles()[q]).fetchdf() for q in workload.queries}
    con.close()
    with open(path + ".tmp", "wb") as f:
        pickle.dump(results, f)
    os.rename(path + ".tmp", path)
    return path


def child_env(eventlog: str | None) -> dict[str, str]:
    env = dict(os.environ)
    tmp = os.path.join(WORK, "tmp")
    env["SPARK_GRAFT_CPUS"] = str(SPARK_CPUS)
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if eventlog:
        env["PYSPARK_SUBMIT_ARGS"] = (
            f"--conf spark.eventLog.enabled=true --conf spark.eventLog.dir=file://{eventlog} "
            "--conf spark.eventLog.compress=false pyspark-shell"
        )
    return env


def _reap_group(pgid: int, grace_s: float) -> None:
    """Wait for every process of the group to end, killing what is left
    after ``grace_s``."""
    t_end = time.monotonic() + grace_s
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        if not killed and time.monotonic() > t_end:
            os.killpg(pgid, signal.SIGKILL)
            killed = True
        time.sleep(0.05)


def run_child(args: list[str], env: dict[str, str], log: str, deadline: float) -> dict:
    out = log[: -len(".log")] + ".json"
    if os.path.exists(out):
        os.remove(out)
    with open(log, "w") as lf:
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *args, "--out", out],
            cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
        finally:
            _reap_group(p.pid, grace_s=10.0)
    if code != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as f:
            tail = "".join(f.readlines()[-30:])
        die(f"session {'timed out' if code is None else f'exited {code}'}; log {log}:\n{tail}", 1)
    with open(out) as f:
        return json.load(f)


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    if not os.path.isfile(os.path.join(ROOT, "mapreduce_lab_spark", "__init__.py")):
        die(f"engine package mapreduce_lab_spark not found under {ROOT}", 2)
    become_subreaper()

    wl = WORKLOADS[args.workload]
    for d in ("tmp", "spark-local", "logs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    data = prepare_inputs(wl, args.seed)
    oracle = prepare_oracle(wl, data)
    tag = wl.input_key(args.seed)
    logs = os.path.join(WORK, "logs")
    sinks = os.path.join(WORK, "sinks", tag)
    common = ["--workload", wl.name, "--data", data, "--oracle", oracle, "--sink-dir", sinks,
              "--seconds", str(args.seconds)]
    untraced_log = os.path.join(logs, f"{tag}.log")

    if args.trace:
        # The untraced session of an earlier run of this workload with
        # the same run length is the baseline for the tracing overhead:
        # the one on this input if there is one, else the newest one on
        # an input of the same size from another seed. Without any, run
        # it now.
        base = None
        size = tag.rsplit("-", 1)[1]
        earlier = sorted(glob.glob(os.path.join(logs, f"{wl.name}-s*-{size}.json")),
                         key=lambda f: (f == untraced_log[:-4] + ".json", os.path.getmtime(f)))
        for path in reversed(earlier):
            with open(path) as f:
                r = json.load(f)
            if r["seconds"] == args.seconds and "warm_cpu_s" in r:
                base = r
                break
        runs = []
        if base is None:
            base = run_child(common + ["--trace", "0"], child_env(None), untraced_log, deadline)
            runs.append(base)
        evdir = os.path.join(WORK, "eventlog", tag)
        shutil.rmtree(evdir, ignore_errors=True)
        os.makedirs(evdir)
        spans = os.path.join(WORK, "trace", f"{tag}-spans.json")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        res = run_child(common + ["--trace", "1", "--eventlog", evdir, "--spans", spans],
                        child_env(evdir), os.path.join(logs, f"{tag}-traced.log"), deadline)
        runs.append(res)
        values = dict(res["layers"])
        values["passes.cold_s"] = base["cold_s"]
        values["passes.cold_cpu_s"] = base["cold_cpu_s"]
        values["trace.warm_s"] = res["warm_s"]
        values["trace.untraced_warm_s"] = base["warm_s"]
        values["trace.overhead_s"] = res["warm_s"] - base["warm_s"]
        from eventlog import PER_LAYER

        metrics = {n: {"value": values[n], "unit": PER_LAYER[n][0]} for n in PER_LAYER}
        detail = {"spans": os.path.relpath(spans, ROOT), "eventlog": os.path.relpath(evdir, ROOT)}
    else:
        setups = [
            run_child(["--setup-only"], child_env(None), os.path.join(logs, f"{tag}-setup{i}.log"), deadline)["setup"]
            for i in range(SETUP_PROBES)
        ]
        res = run_child(common + ["--trace", "0"], child_env(None), untraced_log, deadline)
        runs = [res]
        setups.append(res["setup"])
        setup_samples = [s["get_spark_s"] + s["queries_s"] for s in setups]
        metrics = {
            "setup_s": {"value": statistics.median(setup_samples), "unit": "s"},
            "warm_cpu_s": {"value": res["warm_cpu_s"], "unit": "s"},
            "retained_mb": {"value": res["retained_mb"], "unit": "MB"},
        }
        detail = {"setup_samples_s": setup_samples, "peak_rss_mb": res["peak_rss_mb"],
                  "cold_s": res["cold_s"], "cold_cpu_s": res["cold_cpu_s"]}

    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    measured = [p for p in res["passes"] if p["label"].startswith("w")]
    for key in ("wall_s", "cpu_s"):
        q1, med, q3 = statistics.quantiles([p[key] for p in measured], n=4, method="inclusive")
        detail[f"warm_{key}"] = {"q1": q1, "median": med, "q3": q3, "passes": len(measured)}
    detail.update({
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "failed_frac": failed / attempted,
        "errors": {k: v for r in runs for k, v in r["errors"].items()},
        "mismatches": {k: v for r in runs for k, v in r["mismatches"].items()},
    })
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
