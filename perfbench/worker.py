"""One measured Spark session, run in a fresh process by ``run.py``.

It sets up the session through the package's own ``get_spark`` and
``registry.queries``, then one client runs the workload's queries one at
a time in a closed loop: a cold pass, the workload's fixed number of
warm-up passes (the JIT compiler is still at work in them), then
measured passes until ``--seconds`` have gone by (at least four). A
query's time is build + plan + materialize; materializing writes through
Spark's ``noop`` sink, and the ``mr-out`` text sink runs after it. The
last warm-up pass, which is not measured, materializes by collecting
each result instead and compares it with the cached DuckDB oracle; the
``mr-out`` files of the last measured pass are compared with it at the
end. Each pass records its wall time and the CPU time of the whole
engine process tree. The result goes to ``--out`` as JSON.

With ``--trace 1`` the session runs with the event log on (set by the
caller through ``PYSPARK_SUBMIT_ARGS``): every phase of every query gets
its own job group, a span is kept around each call into the package,
and per-layer metrics are read back from the event log after the
session stops.

``--setup-only`` times ``get_spark`` and ``registry.queries`` and exits.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

clock = time.perf_counter
MIN_MEASURED_PASSES = 4


def setup() -> tuple[object, dict, dict, tuple[float, float, float]]:
    """Time the package's set-up calls, imports included. Also returns
    the clock readings around them, for the spans."""
    t0 = clock()
    from mapreduce_lab_spark import session

    spark = session.get_spark()
    t1 = clock()
    from mapreduce_lab_spark import registry

    queries = registry.queries()
    t2 = clock()
    return spark, queries, {"get_spark_s": t1 - t0, "queries_s": t2 - t1}, (t0, t1, t2)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and every process below it
    (the driver JVM, the Python worker daemon and its workers), reaped
    children included. Time the hypervisor steals from the machine is
    not counted, so unlike wall time it does not depend on how busy the
    host is."""
    stats: dict[int, tuple[int, float]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # ended while we looked
            continue
        # fields[1] is ppid; [11:15] utime, stime, cutime, cstime.
        stats[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    below = {root}
    changed = True
    while changed:
        changed = False
        for pid, (ppid, _) in stats.items():
            if ppid in below and pid not in below:
                below.add(pid)
                changed = True
    return sum(stats[p][1] for p in below if p in stats)


def proc_status_mb(pid: int | str, field: str) -> float:
    """``VmHWM`` or ``VmRSS`` of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no {field} for pid {pid}")


class Tracer:
    """Job groups and spans around each call into the package. When
    tracing is off every method returns at once and nothing is kept."""

    def __init__(self, sc: object, on: bool) -> None:
        self.sc, self.on = sc, on
        self.spans: list[dict] = []
        self.groups: dict[str, list[int]] = {}
        self._group: str | None = None

    def phase(self, group: str) -> None:
        if self.on:
            self.end_phase()
            self._group = group
            self.sc.setJobGroup(group, group)

    def end_phase(self) -> None:
        """Record the status tracker's job ids for the phase just ended,
        for the check against the event log."""
        if self.on and self._group is not None:
            ids = self.sc.statusTracker().getJobIdsForGroup(self._group)
            self.groups[self._group] = sorted(ids)
            self._group = None

    def span(self, name: str, start: float, end: float, parent: int | None, query: str | None) -> int:
        if not self.on:
            return -1
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent, "query": query}
        )
        return len(self.spans) - 1


def catalyst_phases(qe: object) -> dict[str, int]:
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = int(kv._2().durationMs())
    return out


class Session:
    def __init__(self, args: argparse.Namespace) -> None:
        from workloads import WORKLOADS

        self.wl = WORKLOADS[args.workload]
        self.data = args.data
        self.sink_dir = args.sink_dir
        self.spark, self.queries, self.setup, (t0, t1, t2) = setup()
        self.tracer = Tracer(self.spark.sparkContext, args.trace)
        self.tracer.span("session.get_spark", t0, t1, None, None)
        self.tracer.span("registry.queries", t1, t2, None, None)
        self.errors: dict[str, str] = {}
        self.mismatches: dict[str, str] = {}

    def run_pass(self, label: str, oracle: dict | None = None) -> dict:
        """One pass over the workload's queries. With ``oracle``, each
        result is collected and compared with it instead of being
        written to the ``noop`` sink."""
        from pyspark.sql import functions as F

        from mapreduce_lab_spark.sources.sinks import write_text_kv

        tr = self.tracer
        cpu0 = tree_cpu_s(os.getpid())
        t_pass = clock()
        pass_span = tr.span("pass", t_pass, t_pass, None, None)
        per_query: dict[str, dict] = {}
        for name in self.wl.queries:
            qid = f"{label}|{name}"
            try:
                tr.phase(f"{qid}|build")
                t0 = clock()
                df = self.queries[name](self.spark, self.data)
                t1 = clock()
                tr.phase(f"{qid}|plan")
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                t2 = clock()
                tr.phase(f"{qid}|run")
                if oracle is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    self.check(name, df, oracle[name])
                t3 = clock()
                t4 = t3
                if name in self.wl.sinks:
                    key, values = self.wl.sinks[name]
                    tr.phase(f"{qid}|sink")
                    kv = df.select(
                        F.col(key).alias("key"),
                        F.concat_ws(" ", *(F.col(v).cast("string") for v in values)).alias("value"),
                    )
                    write_text_kv(kv, os.path.join(self.sink_dir, name), n_partitions=10)
                    t4 = clock()
                tr.end_phase()
                q = {"build_s": t1 - t0, "plan_s": t2 - t1, "run_s": t3 - t2, "sink_s": t4 - t3}
                if tr.on:
                    q["catalyst_ms"] = catalyst_phases(qe)
                    qs = tr.span("query", t0, t4, pass_span, qid)
                    tr.span("operators.build", t0, t1, qs, qid)
                    tr.span("catalyst.plan", t1, t2, qs, qid)
                    tr.span("execution.run", t2, t3, qs, qid)
                    if t4 > t3:
                        tr.span("sinks.write", t3, t4, qs, qid)
            except Exception as e:  # a failing query is counted, not fatal
                tr.end_phase()
                self.errors.setdefault(name, f"{type(e).__name__}: {str(e).splitlines()[0][:300]}")
                q = {"error": True}
            per_query[name] = q
        wall = clock() - t_pass
        cpu = tree_cpu_s(os.getpid()) - cpu0
        if tr.on:
            tr.spans[pass_span]["end"] = t_pass + wall
            tr.spans[pass_span]["query"] = label
        return {"label": label, "wall_s": wall, "cpu_s": cpu, "queries": per_query}

    def check(self, name: str, df: object, want: object) -> None:
        """Collect ``df`` and compare it with the oracle's result,
        order-insensitively."""
        from mapreduce_lab_spark import testing

        class Cached:  # stands in for a DuckDB connection in testing.compare
            def execute(self, sql: str) -> "Cached":
                return self

            def fetchdf(self) -> object:
                return want

        res = testing.compare(name, df, Cached(), "")
        if not res.ok:
            self.mismatches[name] = res.detail[:500]

    def check_sinks(self, oracle: dict) -> None:
        """Compare the ``mr-out`` lines with the oracle's rows."""
        for name, (key, values) in self.wl.sinks.items():
            if name in self.errors or name in self.mismatches:
                continue
            want = sorted(
                " ".join(str(v) for v in row)
                for row in oracle[name][[key, *values]].itertuples(index=False, name=None)
            )
            got = []
            for path in glob.glob(os.path.join(self.sink_dir, name, "part-*")):
                with open(path, encoding="utf-8") as f:
                    got.extend(f.read().splitlines())
            if sorted(got) != want:
                self.mismatches[name] = f"mr-out text: {len(got)} lines, oracle {len(want)}"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--setup-only", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--data")
    ap.add_argument("--oracle")
    ap.add_argument("--sink-dir")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--eventlog")
    ap.add_argument("--spans")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    if args.setup_only:
        _, _, times, _ = setup()
        with open(args.out, "w") as f:
            json.dump({"setup": times}, f)
        return 0

    with open(args.oracle, "rb") as f:
        oracle = pickle.load(f)
    s = Session(args)
    passes = [s.run_pass("cold")]
    for i in range(s.wl.warmup_passes):
        passes.append(s.run_pass(f"u{i}", oracle if i == s.wl.warmup_passes - 1 else None))
    measured: list[dict] = []
    t_warm = clock()
    while len(measured) < MIN_MEASURED_PASSES or clock() - t_warm < args.seconds:
        measured.append(s.run_pass(f"w{len(measured)}"))
    passes += measured
    jvm = s.spark._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = proc_status_mb("self", "VmHWM") + proc_status_mb(jvm_pid, "VmHWM")
    # Memory the work leaves behind: the driver JVM's heap in use after a
    # full collection, plus the driver Python process's resident set.
    # Unlike the JVM's peak RSS, it does not depend on when the collector
    # happened to run.
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    retained_mb = heap / 2**20 + proc_status_mb("self", "VmRSS")
    s.check_sinks(oracle)
    s.spark.stop()

    bad = set(s.errors) | set(s.mismatches)
    attempted = len(passes) * len(s.wl.queries)
    failed = len(passes) * len(bad)
    result = {
        "seconds": args.seconds,
        "setup": s.setup,
        "passes": passes,
        "cold_s": passes[0]["wall_s"],
        "cold_cpu_s": passes[0]["cpu_s"],
        "warm_s": statistics.median(p["wall_s"] for p in measured),
        "warm_cpu_s": statistics.median(p["cpu_s"] for p in measured),
        "peak_rss_mb": peak_rss_mb,
        "retained_mb": retained_mb,
        "attempted": attempted,
        "failed": failed,
        "errors": s.errors,
        "mismatches": s.mismatches,
    }
    if args.trace:
        import eventlog

        events = eventlog.load_events(args.eventlog)
        result["layers"] = eventlog.layer_metrics(events, passes, s.setup)
        result["groups"] = s.tracer.groups
        result["group_jobs_in_log"] = eventlog.jobs_by_group(events)
        with open(args.spans, "w") as f:
            json.dump(s.tracer.spans, f)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
