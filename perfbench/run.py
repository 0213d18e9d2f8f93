"""Closed-loop benchmark of the engine, measured from outside the package.

Usage (from the repository root):

    python3 perfbench/run.py --workload wordcount_corpus --seed 1 --seconds 10 --trace 0

One driver process runs ``local[nproc]`` and issues one query at a
time.  A run:

1. makes the workload's inputs from ``--seed`` and their exact answers;
2. runs ``SESSIONS`` measuring sessions one after another, each in a
   fresh JVM: set-up (``get_spark()`` plus a first job), one cold pass,
   the workload's warm-up passes (not reported), then a fixed number of
   measured passes: ``--seconds`` divided by the sessions and the
   workload's nominal pass time, so the count never depends on how fast
   the passes run and every run reports the same stretch of the JIT
   warm-up curve;
3. checks the outputs after each session's cold pass, and for some
   workloads after its last pass (outside the timed passes);
4. prints the metrics — ``setup_s`` and ``cold_s`` are medians over the
   sessions, ``warm_s`` the median over all their measured passes — as
   a readable summary, one detail JSON line, and as the last line the
   result JSON (``correct``, ``attempted``, ``failed``, ``metrics``).

A JVM's steady speed differs from the next one's by up to ±15 % on the
same inputs (how much it keeps JIT-compiling per pass), so each
end-to-end metric takes a sample from more than one JVM.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
measured passes traced and untraced in ABBA order across the sessions
and reports the per-layer metrics of the traced ones, plus
``trace.overhead`` (traced ÷ untraced pass wall).
The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

#: measuring sessions per run, each in a fresh JVM
SESSIONS = 2
#: the trace's phase walls must cover the pass wall up to this share
ACCOUNT_TOLERANCE = 0.02

#: end-to-end metrics in the result line (BENCHMARK.json ``end_to_end``)
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}
#: end-to-end metrics printed but not gated: too unsteady from run to run,
#: or always 0 (see README)
INFO_UNITS = {"query_tail_s": "s", "peak_rss_mb": "MB", "error_rate": "ratio"}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_conf(workdir: str) -> dict[str, str]:
    """Keep every file Spark writes inside the run's work directory."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    # no perf-data files: HotSpot writes them to /tmp whatever the tmpdir,
    # for spark-submit's launcher JVM and for the driver JVM alike
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def first_job(spark) -> None:
    spark.range(1 << 20).selectExpr("sum(id)").collect()


def start_session(conf: dict[str, str]):
    """``get_spark()`` plus the first job, timed."""
    from mapreduce_faultolerrant_localityaware_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench", extra_conf=conf)
    t1 = time.perf_counter()
    first_job(spark)
    t2 = time.perf_counter()
    return spark, {"get_spark_s": t1 - t0, "first_job_s": t2 - t1}


def _descendants(pid: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, frontier = [], [pid]
    while frontier:
        frontier = [c for p in frontier for c in children.get(p, ())]
        out += frontier
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its children have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while any(_alive(k) for k in kids):
        if time.time() > deadline:
            for k in kids:
                if _alive(k):
                    os.kill(k, 9)
            deadline = float("inf")
        time.sleep(0.05)


def cpu_jiffies() -> list[int]:
    """Host-wide CPU time from /proc/stat: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# -- passes -------------------------------------------------------------


def _set_group(sc, group: str | None) -> None:
    sc.setLocalProperty("spark.jobGroup.id", group)


def run_pass(spark, items, tracer=None, label=""):
    """Run one pass; return its record (query walls, phases, errors)."""
    from spans import read_jobs, stray_jobs

    sc = spark.sparkContext
    rec = {"label": label, "queries": [], "errors": []}
    pass_span = tracer.open("pass", label=label) if tracer else None
    for i, (name, build, execute) in enumerate(items):
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = build(spark)
                t1 = time.perf_counter()
                execute(df)
                t2 = time.perf_counter()
            else:
                group = f"perfbench-{label}-{i}"
                with tracer.span("query", query=name):
                    with tracer.span("construct") as cs:
                        _set_group(sc, group + "-construct")
                        df = build(spark)
                    with tracer.span("execute") as es:
                        _set_group(sc, group + "-execute")
                        execute(df)
                _set_group(sc, None)
                with tracer.span("read_store"):
                    for phase, g in ((cs, "-construct"), (es, "-execute")):
                        jobs = read_jobs(spark, group + g)
                        phase["stray_jobs"] = stray_jobs(phase, jobs)
                        for job in jobs:
                            tracer.add("job", phase, job.pop("start") or phase["start"],
                                       job.pop("end") or phase["end"], **job)
                t0, t1 = cs["start"], cs["end"]
                t2 = t1 + es["end"] - es["start"]
            rec["queries"].append({"query": name, "wall_s": t2 - t0,
                                   "construct_s": t1 - t0, "execute_s": t2 - t1})
        except Exception as exc:  # noqa: BLE001 — a failed query is counted, not fatal
            rec["errors"].append({"query": name, "error": f"{type(exc).__name__}: {str(exc)[:300]}"})
            if tracer:
                _set_group(sc, None)
    if tracer:
        tracer.close(pass_span)
        rec["span"] = pass_span["id"]
    rec["wall_s"] = sum(q["wall_s"] for q in rec["queries"])
    return rec


# -- statistics ---------------------------------------------------------


def summary(values: list[float]) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "n": len(values)}


def tail(values: list[float], beyond: int = 10) -> dict:
    """The value at the highest percentile with at least ``beyond``
    samples above it (nearest rank); the maximum when there are too few
    samples for any, flagged by ``beyond`` < the requested count."""
    xs = sorted(values)
    k = len(xs) - beyond - 1 if len(xs) > beyond else len(xs) - 1
    return {"value": xs[k], "percentile": 100.0 * (k + 1) / len(xs), "n": len(xs),
            "beyond": len(xs) - k - 1}


# -- per-layer metrics from the trace --------------------------------------

PER_LAYER = (
    ("session.get_spark_s", "s"), ("session.first_job_s", "s"),
    ("construct.wall_s", "s"), ("construct.driver_s", "s"), ("construct.jobs", "count"),
    ("construct.job_s", "s"), ("construct.tasks", "count"), ("construct.task_run_s", "s"),
    ("scan.calls", "count"), ("scan.driver_s", "s"), ("scan.input_bytes", "bytes"),
    ("scan.input_records", "count"),
    ("floor.calls", "count"), ("floor.s", "s"), ("floor.repartitions", "count"),
    ("materialize_once.calls", "count"), ("materialize_once.s", "s"),
    ("execute.wall_s", "s"), ("execute.jobs", "count"), ("execute.stages", "count"),
    ("execute.tasks", "count"), ("execute.task_run_s", "s"), ("execute.task_cpu_s", "s"),
    ("execute.gc_s", "s"), ("execute.slot_busy", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"), ("shuffle.records", "count"),
    ("shuffle.fetch_wait_s", "s"), ("shuffle.combine_ratio", "ratio"),
    ("spill.memory_bytes", "bytes"), ("spill.disk_bytes", "bytes"),
    ("sink.s", "s"), ("sink.files", "count"), ("sink.output_bytes", "bytes"),
    ("sink.output_records", "count"),
    ("tasks.failed", "count"), ("jobs.failed", "count"),
    ("trace.overhead", "ratio"),
)


def pass_layers(tracer, pass_span, cpus: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    from spans import self_time, union_s

    m: dict[str, float] = defaultdict(float)
    seen: set[int] = set()
    for q in tracer.children(pass_span, "query"):
        sink_spans = tracer.descendants(q, "sink")
        for phase in tracer.children(q):
            if phase["name"] not in ("construct", "execute"):
                continue
            p = phase["name"]
            jobs = tracer.children(phase, "job")
            m[f"{p}.wall_s"] += phase["end"] - phase["start"]
            m[f"{p}.jobs"] += len(jobs)
            m["jobs.failed"] += sum(j["status"] == "FAILED" for j in jobs)
            if p == "construct":
                m["construct.driver_s"] += self_time(phase, jobs)
                m["construct.job_s"] += union_s([(j["start"], j["end"]) for j in jobs],
                                                phase["start"], phase["end"])
            stages = [s for j in jobs for s in j["stages"] if s["id"] not in seen]
            seen.update(s["id"] for s in stages)
            m[f"{p}.stages"] += len(stages)
            m[f"{p}.tasks"] += sum(s["numTasks"] for s in stages)
            m[f"{p}.task_run_s"] += sum(s["executorRunTime"] for s in stages) / 1e3
            m[f"{p}.task_cpu_s"] += sum(s["executorCpuTime"] for s in stages) / 1e9
            m[f"{p}.gc_s"] += sum(s["jvmGcTime"] for s in stages) / 1e3
            if p == "execute":
                m["execute.active_s"] += union_s(
                    [(s["start"], s["end"]) for s in stages if s["start"] and s["end"]],
                    phase["start"], phase["end"])
                if sink_spans:
                    m["sink.output_bytes"] += sum(s["outputBytes"] for s in stages)
                    m["sink.output_records"] += sum(s["outputRecords"] for s in stages)
            for key, field, scale in (
                ("scan.input_bytes", "inputBytes", 1), ("scan.input_records", "inputRecords", 1),
                ("shuffle.write_bytes", "shuffleWriteBytes", 1),
                ("shuffle.read_bytes", "shuffleReadBytes", 1),
                ("shuffle.records", "shuffleWriteRecords", 1),
                ("shuffle.fetch_wait_s", "shuffleFetchWaitTime", 1e3),
                ("spill.memory_bytes", "memoryBytesSpilled", 1),
                ("spill.disk_bytes", "diskBytesSpilled", 1),
                ("tasks.failed", "numFailedTasks", 1),
            ):
                m[key] += sum(s[field] for s in stages) / scale
        for span_name, key in (("scan", "scan.driver_s"), ("floor", "floor.s"),
                               ("materialize_once", "materialize_once.s"), ("sink", "sink.s")):
            spans = tracer.descendants(q, span_name)
            m[key.rsplit(".", 1)[0] + ".calls"] += len(spans)
            m[key] += sum(s["end"] - s["start"] for s in spans)
        m["floor.repartitions"] += sum(bool(s.get("repartitioned"))
                                       for s in tracer.descendants(q, "floor"))
        m["sink.files"] += sum(s.get("files", 0) for s in sink_spans)
    active = m.pop("execute.active_s", 0.0)
    m["execute.slot_busy"] = m["execute.task_run_s"] / (cpus * active) if active else 0.0
    m["shuffle.combine_ratio"] = (m["shuffle.records"] / m["scan.input_records"]
                                  if m["scan.input_records"] else 0.0)
    # how much of the pass wall the phases account for (store reads excluded)
    reads = sum(s["end"] - s["start"] for s in tracer.children(pass_span, "read_store"))
    wall = pass_span["end"] - pass_span["start"] - reads
    m["pass.wall_s"] = wall
    m["pass.unaccounted_s"] = wall - m["construct.wall_s"] - m["execute.wall_s"]
    return dict(m)


def pass_stray_jobs(tracer, pass_span) -> list[int]:
    """Jobs of a traced pass that the store did not time, or timed
    outside the phase that ran them."""
    return [j for q in tracer.children(pass_span, "query") for phase in tracer.children(q)
            for j in phase.get("stray_jobs", ())]


def measured_passes(wl, seconds: float) -> int:
    """Measured warm passes of one session: its share of ``seconds`` at
    the workload's nominal pass time, at least 2."""
    return max(2, round(seconds / SESSIONS / wl.nominal_pass_s))


# -- the run ------------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload is None:
        ap.error("--workload is required")
    return args


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import mapreduce_faultolerrant_localityaware_spark.session  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    workdir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        return run(args, workloads, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, workloads, workdir: str) -> int:
    from spans import Tracer

    cpus = nproc()
    conf = spark_conf(workdir)
    steps: dict[str, float] = {}
    clock = [time.perf_counter()]

    def step(name: str) -> None:
        now = time.perf_counter()
        steps[name] = steps.get(name, 0.0) + now - clock[0]
        clock[0] = now

    jiffies = cpu_jiffies()
    wl = workloads.WORKLOADS[args.workload](workdir, args.seed, cpus)
    inputs = wl.prepare()
    step("prepare_s")
    rng = random.Random(args.seed)
    tracer = Tracer(workloads.PACKAGE) if args.trace else None
    n_passes = measured_passes(wl, args.seconds)
    if tracer:
        n_passes += n_passes % 2
    checks: list[dict] = []
    sessions: list[dict] = []

    def check(spark, label):
        step("passes_s")
        for name, ok, detail in wl.checks(spark):
            checks.append({"check": f"{label}:{name}", "ok": bool(ok), "detail": detail})
        step("checks_s")

    def measure(spark, s: int) -> dict:
        """One session's passes: cold, warm-up, then the measured ones."""
        rec = {"cold": run_pass(spark, wl.pass_items(rng), label=f"s{s}.cold")}
        check(spark, f"s{s}.cold")
        rec["warmup"] = [run_pass(spark, wl.pass_items(rng), label=f"s{s}.warmup{i}")
                         for i in range(wl.warmup_passes)]
        rec["warm"] = []
        for i in range(n_passes):
            # ABBA order across the sessions (traced first in even
            # sessions, untraced first in odd ones): traced and untraced
            # passes sit, on average, at the same point of the warm-up curve
            traced = bool(tracer) and (i + s) % 2 == 0
            if traced:
                tracer.install()
            try:
                p = run_pass(spark, wl.pass_items(rng), tracer if traced else None,
                             label=f"s{s}.warm{i}")
            finally:
                if traced:
                    tracer.uninstall()
            p["traced"] = traced
            rec["warm"].append(p)
        if wl.check_last_pass:
            check(spark, f"s{s}.last")
        rec["peak_rss_mb"] = jvm_peak_rss_mb(spark)
        return rec

    try:
        for s in range(SESSIONS):
            step("passes_s")
            spark, setup = start_session(conf)
            step("session_s")
            try:
                sessions.append({"setup": setup, **measure(spark, s)})
            finally:
                step("passes_s")
                stop_session(spark)
                step("stop_s")
    finally:
        wl.cleanup()

    steal = [b - a for a, b in zip(jiffies, cpu_jiffies())]
    warm = [r for ses in sessions for r in ses["warm"]]
    passes = [r for ses in sessions for r in [ses["cold"], *ses["warmup"], *ses["warm"]]]
    errors = [e for r in passes for e in r["errors"]]
    executions = sum(len(r["queries"]) + len(r["errors"]) for r in passes)
    failed = len(errors) + sum(not c["ok"] for c in checks)
    attempted = executions + len(checks)
    untraced = [r for r in warm if not r.get("traced") and not r["errors"]]
    setups = [ses["setup"] for ses in sessions]
    setup_s = [s["get_spark_s"] + s["first_job_s"] for s in setups]
    cold_s = [ses["cold"]["wall_s"] for ses in sessions]
    peak_rss = max(ses["peak_rss_mb"] for ses in sessions)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": cpus, "inputs": inputs, "steps": steps,
        # share of the host's CPU time the hypervisor gave to other guests
        "host_steal": steal[7] / sum(steal),
        "sessions": sessions,
        "checks": checks, "errors": errors, "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted,
    }
    metrics = {}
    if not args.trace:
        walls = [r["wall_s"] for r in untraced]
        detail["warm_s"] = summary(walls)
        detail["query_tail_s"] = tail([q["wall_s"] for r in untraced for q in r["queries"]])
        values = {
            "setup_s": statistics.median(setup_s),
            "cold_s": statistics.median(cold_s),
            "warm_s": detail["warm_s"]["median"],
            "query_tail_s": detail["query_tail_s"]["value"],
            "peak_rss_mb": peak_rss,
            "error_rate": detail["error_rate"],
        }
        detail["peak_rss_mb"] = peak_rss
        metrics = {k: {"value": values[k], "unit": u} for k, u in E2E_UNITS.items()}
        for k, unit in {**E2E_UNITS, **INFO_UNITS}.items():
            print(f"{k} {values[k]:.4f} {unit}")
        ws, qt = detail["warm_s"], detail["query_tail_s"]
        print(f"  setup_s and cold_s medians of {len(sessions)} sessions; warm_s quartiles"
              f" {ws['q1']:.4f}..{ws['q3']:.4f} over n={ws['n']} passes; query_tail_s at"
              f" p{qt['percentile']:.1f} of n={qt['n']} ({qt['beyond']} beyond);"
              f" error_rate {failed} of {attempted}; host CPU steal {detail['host_steal']:.1%}")
    else:
        traced_recs = [r for r in warm if r["traced"] and not r["errors"]]
        per_pass = [pass_layers(tracer, tracer.spans[r["span"]], cpus) for r in traced_recs]
        for r, layers in zip(traced_recs, per_pass):
            r["layers"] = layers
        overhead = (statistics.median([r["wall_s"] for r in traced_recs])
                    / statistics.median([r["wall_s"] for r in untraced]))
        for r in traced_recs:
            lay = r["layers"]
            accounted = abs(lay["pass.unaccounted_s"]) <= ACCOUNT_TOLERANCE * lay["pass.wall_s"]
            stray = pass_stray_jobs(tracer, tracer.spans[r["span"]])
            checks.append({"check": f"{r['label']}:phases_account_for_pass", "ok": accounted,
                           "detail": f"unaccounted {lay['pass.unaccounted_s']:.4f}s"})
            checks.append({"check": f"{r['label']}:jobs_within_phases", "ok": not stray,
                           "detail": f"untimed or outside their phase: jobs {stray}" if stray
                           else ""})
        failed = len(errors) + sum(not c["ok"] for c in checks)
        attempted = executions + len(checks)
        detail.update(attempted=attempted, failed=failed, error_rate=failed / attempted)
        for name, unit in PER_LAYER:
            if name.startswith("session."):
                v = statistics.median(s[name.split(".", 1)[1]] for s in setups)
            elif name == "trace.overhead":
                v = overhead
            else:
                v = statistics.median([p.get(name, 0.0) for p in per_pass])
            metrics[name] = {"value": v, "unit": unit}
            print(f"{name} {v:.6g} {unit}")
        print(f"error_rate {detail['error_rate']:.4f} ratio ({failed} of {attempted})")
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        spans_path = os.path.join(WORK, "spans", f"{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as fh:
            json.dump(tracer.spans, fh)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['check']}: {c['detail']}", file=sys.stderr)
    correct = failed == 0
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
