"""Per-layer metrics from a Spark event log and the worker's timings.

Job groups are ``<pass>|<query>|<phase>`` with phase one of ``build``
(inside the query builder), ``plan``, ``run`` (the ``noop`` action, or
the collect that checks results in the last warm-up pass) and ``sink``
(``mr-out`` text writes). Stages and tasks are attributed to a group
through the properties of their ``SparkListenerStageSubmitted`` event.

Scope of each metric (documented in ``README.md``): the catalyst
metrics and the Python worker start/initialize times are those of the
cold pass, which pays for them; every other metric is the median over
measured warm passes (not warm-up passes) of its per-pass total.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

PACKAGE = "mapreduce_lab_spark"
COLD_SCOPED = (
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
    "catalyst.plan_s",
    "python.start_s",
    "python.init_s",
)
# SQL metrics of the Arrow Python operators, summed over stages.
PY_METRICS = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
}


def load_events(eventlog_dir: str) -> list[dict]:
    """Every event of the one application logged under ``eventlog_dir``,
    in order, across rolled files."""
    files = glob.glob(os.path.join(eventlog_dir, "eventlog_v2_*", "events_*"))
    files.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    if not files:
        raise RuntimeError(f"no event log under {eventlog_dir}")
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def jobs_by_group(events: list[dict]) -> dict[str, list[int]]:
    out: dict[str, list[int]] = defaultdict(list)
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            out[_group(e.get("Properties"))].append(e["Job ID"])
    return {g: sorted(ids) for g, ids in out.items()}


def pass_totals(events: list[dict]) -> dict[str, dict[str, float]]:
    """Event-log counters summed per pass label."""
    tot: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[tuple[int, int], str] = {}
    submitted_at: dict[int, list[int]] = defaultdict(list)
    jobs: dict[int, dict] = {}
    stage_tasks: dict[tuple[int, int], list[int]] = defaultdict(list)
    stage_span: dict[tuple[int, int], int] = {}

    for i, e in enumerate(events):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "group": _group(props),
                "start": i,
                "end": len(events),
                "stages": e["Stage IDs"],
                # No package call site and no SQL execution: the job was
                # started by Spark itself (file listing, schema reads),
                # not by a package action.
                "internal": PACKAGE not in props.get("callSite.short", "")
                and "spark.sql.execution.id" not in props,
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = i
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = _group(e.get("Properties"))
            submitted_at[info["Stage ID"]].append(i)
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info["Stage Attempt ID"])
            t = tot[stage_group.get(key, "").split("|")[0]]
            t["execution.stages"] += 1
            stage_span[key] = info["Completion Time"] - info["Submission Time"]
            for acc in info.get("Accumulables", []):
                if acc.get("Name") in PY_METRICS:
                    name, scale = PY_METRICS[acc["Name"]]
                    t[name] += int(acc["Value"]) * scale
        elif kind == "SparkListenerTaskEnd":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            group = stage_group.get(key, "")
            t = tot[group.split("|")[0]]
            m = e.get("Task Metrics") or {}
            info = e["Task Info"]
            rd = m.get("Shuffle Read Metrics", {})
            wr = m.get("Shuffle Write Metrics", {})
            t["execution.tasks"] += 1
            t["execution.task_failures"] += e["Task End Reason"]["Reason"] != "Success"
            t["execution.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            t["execution.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["execution.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["shuffle.write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            t["shuffle.records_written"] += wr.get("Shuffle Records Written", 0)
            t["shuffle.read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            t["shuffle.fetch_wait_s"] += rd.get("Fetch Wait Time", 0) / 1e3
            t["shuffle.spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            t["sources.bytes_read"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            t["sources.rows_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
            if group.endswith("|sink"):
                t["sinks.bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                t["sinks.records_written"] += m.get("Output Metrics", {}).get("Records Written", 0)
            stage_tasks[key].append(info["Finish Time"] - info["Launch Time"])

    for job in jobs.values():
        t = tot[job["group"].split("|")[0]]
        t["execution.jobs"] += 1
        if job["group"].endswith("|build"):
            t["operators.build_jobs"] += 1
            t["operators.build_jobs_internal"] += job["internal"]
        t["execution.stages_skipped"] += sum(
            not any(job["start"] < i <= job["end"] for i in submitted_at.get(s, ()))
            for s in job["stages"]
        )

    # Skew of the slowest stage of each pass: its longest task over its
    # median task (the max reducer load against the typical one).
    slowest: dict[str, tuple[int, tuple[int, int]]] = {}
    for key, span in stage_span.items():
        label = stage_group.get(key, "").split("|")[0]
        if key in stage_tasks and (label not in slowest or span > slowest[label][0]):
            slowest[label] = (span, key)
    for label, (_, key) in slowest.items():
        d = stage_tasks[key]
        tot[label]["execution.task_skew"] = max(d) / max(1.0, statistics.median(d))
    return tot


def layer_metrics(events: list[dict], passes: list[dict], setup: dict) -> dict[str, float]:
    totals = pass_totals(events)
    per_pass = []
    for p in passes:
        t = dict(totals.get(p["label"], {}))
        qs = [q for q in p["queries"].values() if "error" not in q]
        t["operators.build_s"] = sum(q["build_s"] for q in qs)
        t["operators.build_share"] = t["operators.build_s"] / p["wall_s"]
        t["catalyst.plan_s"] = sum(q["plan_s"] for q in qs)
        for ph in ("analysis", "optimization", "planning"):
            t[f"catalyst.{ph}_ms"] = float(sum(q["catalyst_ms"].get(ph, 0) for q in qs))
        t["execution.run_s"] = sum(q["run_s"] for q in qs)
        t["sinks.write_s"] = sum(q["sink_s"] for q in qs)
        run = t.get("execution.task_run_s", 0.0)
        t["execution.cpu_ratio"] = t.get("execution.task_cpu_s", 0.0) / run if run > 0 else 0.0
        per_pass.append(t)

    out = {
        "session.get_spark_s": setup["get_spark_s"],
        "registry.queries_s": setup["queries_s"],
    }
    warm = [t for t, p in zip(per_pass, passes) if p["label"].startswith("w")]
    for n in PER_LAYER:
        if n in out or n.startswith(("passes.", "trace.")):
            continue
        if n in COLD_SCOPED:
            out[n] = float(per_pass[0].get(n, 0.0))
        else:
            out[n] = float(statistics.median(t.get(n, 0.0) for t in warm))
    return out


# Every per-layer metric with its unit and direction, in the order
# BENCHMARK.json lists them. The passes.* and trace.* entries are filled
# by run.py.
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "registry.queries_s": ("s", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_jobs_internal": ("count", "lower"),
    "operators.build_share": ("ratio", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "execution.run_s": ("s", "lower"),
    "execution.jobs": ("count", "lower"),
    "execution.stages": ("count", "lower"),
    "execution.stages_skipped": ("count", "higher"),
    "execution.tasks": ("count", "lower"),
    "execution.task_run_s": ("s", "lower"),
    "execution.task_cpu_s": ("s", "lower"),
    "execution.cpu_ratio": ("ratio", "higher"),
    "execution.gc_s": ("s", "lower"),
    "execution.task_skew": ("ratio", "lower"),
    "execution.task_failures": ("count", "lower"),
    "shuffle.write_bytes": ("bytes", "lower"),
    "shuffle.read_bytes": ("bytes", "lower"),
    "shuffle.records_written": ("count", "lower"),
    "shuffle.fetch_wait_s": ("s", "lower"),
    "shuffle.spill_bytes": ("bytes", "lower"),
    "sources.bytes_read": ("bytes", "lower"),
    "sources.rows_read": ("count", "lower"),
    "python.run_s": ("s", "lower"),
    "python.start_s": ("s", "lower"),
    "python.init_s": ("s", "lower"),
    "python.bytes_sent": ("bytes", "lower"),
    "python.bytes_returned": ("bytes", "lower"),
    "sinks.write_s": ("s", "lower"),
    "sinks.bytes_written": ("bytes", "lower"),
    "sinks.records_written": ("count", "lower"),
    "passes.cold_s": ("s", "lower"),
    "passes.cold_cpu_s": ("s", "lower"),
    "trace.warm_s": ("s", "lower"),
    "trace.untraced_warm_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
