#!/usr/bin/env python3
"""sparkdoc benchmark: one closed-loop driver, one pass at a time, on
local[nproc].

    python3 perfbench/run.py --workload mixed_ingest --seed 1 --seconds 8 --trace 0

Run from the repository root. The run

1. pins the environment (cores, driver memory, worker PYTHONPATH, scratch
   dirs under ``.perfbench_work/`` in the checkout),
2. starts a Spark session and persists the seeded inputs (``synth_s``,
   never inside a timed metric),
3. sets up three times and reports the median as ``setup_s``: a set-up is
   a session start plus a warm-up pass over a tiny slice that reaches
   every Python worker. The first set-up launches the JVM; the other two
   start a new session (and new Python workers) in the running JVM,
4. runs the workload's discarded warm passes (``warm_pass_s`` in the
   details), then whole passes until ``--seconds`` have elapsed (at least
   the workload's ``min_passes``), and reports the median pass wall,
5. gates the last pass's output against an independent oracle and
   self-checks every gate on a corrupted copy.

With ``--trace 1`` half the window runs plain passes and half runs passes
with the ``sparkdoc`` layers wrapped (see perfbench/tracing.py); the Spark
event log is on for the whole session, and per-layer metrics replace the
end-to-end ones. ``trace.overhead_s`` is the traced minus the plain median
pass wall.

The last stdout line is the result object; the line before it carries the
details (pass count and walls, loadavg, nproc, CPU steal, synth time, setup
samples, peak RSS of the driver JVM plus its Python workers, doc mismatch
share, task failure share, gate report). With fewer than 20 passes no
percentile above the median has ten samples beyond it, so only the median
is reported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.tracing import INGEST_FORMATS  # noqa: E402

SETUPS = 3
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "docs_per_s": "1/s",
    "spans_per_s": "1/s",
}
PER_LAYER = {
    "ingest.wall_s": "s",
    **{f"ingest.parse_us.{f}": "us" for f in INGEST_FORMATS},
    **{f"ingest.docs.{f}": "count" for f in INGEST_FORMATS},
    "chunker.wall_s": "s",
    "chunker.us_per_doc": "us",
    "chunker.chunks": "count",
    "spans.wall_s": "s",
    "spans.shuffle_write_bytes": "B",
    "spans.task_skew": "ratio",
    "layout.xy_cut_us_per_page": "us",
    "checkpoint.group_wall_s": "s",
    "checkpoint.manifest_s": "s",
    "checkpoint.groups": "count",
    "io.bytes_written": "B",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.exec_busy_frac": "ratio",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
#: graph-path layers; only the graph_convert workload exercises them
GRAPH_LAYER = {
    "extractor.wall_s": "s",
    "extractor.self_s": "s",
    "extractor.spark_jobs": "count",
    "fill.wall_s": "s",
    "salvage.wall_s": "s",
    "salvage.valid_frac": "ratio",
    "rootid.wall_s": "s",
    "dedup.wall_s": "s",
    "dedup.spark_jobs": "count",
    "merge.wall_s": "s",
    "merge.spark_jobs": "count",
    "graph.wall_s": "s",
    "provenance.wall_s": "s",
    "provenance.verbatim_anchor_frac": "ratio",
}


def pin_environment(work: str, cpus: int) -> None:
    """Must run before the JVM starts: Spark reads these at launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver) keeps its temp files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # executors import sparkdoc from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)


class Session:
    """The one Spark session of the run; ``stop`` also ends its JVM."""

    def __init__(self, work: str):
        self.work = work
        self.spark = None

    def start(self, event_log: str | None = None):
        self.spark = start_session(self.work, event_log)
        return self.spark

    def restart(self, event_log: str | None = None):
        """New session (and Python workers) in the running JVM."""
        self.spark.stop()
        return self.start(event_log)

    def stop(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def start_session(work: str, event_log: str | None):
    from sparkdoc.session import get_spark

    conf = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_group(spark, group: str | None) -> None:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)


# --- peak RSS of the driver JVM and its Python workers -----------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes(root: int) -> int:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of a process tree in a background thread; ``take``
    returns the peak since the previous ``take``."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root = root_pid
        self.interval = interval
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self.interval):
                return

    def take(self) -> int:
        rss = tree_rss_bytes(self.root)
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --- the run -----------------------------------------------------------------


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def run_passes(spark, wl, seconds: float, group_of, rss, tracer=None) -> list[tuple[float, float, dict]]:
    """Closed loop: the next pass starts when the previous one returned.
    Returns (start_epoch, wall_s, result) per pass; result["rss"] is the
    pass's peak RSS in bytes."""
    passes = []
    t_end = time.monotonic() + seconds
    while len(passes) < wl.min_passes or time.monotonic() < t_end:
        k = len(passes)
        set_group(spark, group_of(k))
        root = tracer.open("pass", "pass", path=group_of(k)) if tracer else None
        rss.take()
        t0_epoch, t0 = time.time(), time.perf_counter()
        result = wl.run_pass(spark)
        wall = time.perf_counter() - t0
        result["rss"] = rss.take()
        if tracer:
            tracer.close(*root)
            tracer.release()
        set_group(spark, "bench.between")
        wl.after_pass(result)
        passes.append((t0_epoch, wall, result))
    return passes


def untraced_task_counts(spark, prior_ungrouped: set[int]) -> tuple[int, int]:
    """(tasks attempted, tasks failed) over the pass jobs: the pass group plus
    jobs started with no group (threads inside the program) during passes."""
    st = spark.sparkContext.statusTracker()
    jobs = set(st.getJobIdsForGroup("bench.pass")) | (set(st.getJobIdsForGroup(None)) - prior_ungrouped)
    attempted = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            si = st.getStageInfo(s)
            if si:
                attempted += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
    return attempted, failed


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to exit
    (its Python workers are its children and go with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkdoc")):
        print(f"perfbench: no sparkdoc package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    wl_cls = WORKLOADS[args.workload]

    def on_deadline(signum, frame):
        raise TimeoutError(f"run exceeded {wl_cls.deadline_s} s")

    signal.signal(signal.SIGALRM, on_deadline)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(wl_cls.deadline_s)

    cpus = os.cpu_count() or 1
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, cpus)
    load_start = os.getloadavg()
    session = Session(work)
    try:
        return _run(args, wl_cls(work, args.seed, cpus), session, cpus, load_start)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, session: Session, cpus: int, load_start) -> int:
    trace = bool(args.trace)
    work = session.work
    t0 = time.perf_counter()
    spark = session.start()
    session_s = time.perf_counter() - t0
    set_group(spark, "bench.synth")
    t0 = time.perf_counter()
    wl.generate(spark)
    synth_s = time.perf_counter() - t0
    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        if i:
            log = os.path.join(work, "eventlog") if trace and i == SETUPS - 1 else None
            spark = session.restart(log)
        set_group(spark, "bench.setup")
        wl.warm(spark)
        setups.append(time.perf_counter() - t0 + (0 if i else session_s))

    set_group(spark, "bench.warm")
    t0 = time.perf_counter()
    for _ in range(wl.warm_passes):
        wl.after_pass(wl.run_pass(spark))
    warm_pass_s = time.perf_counter() - t0

    sc = spark.sparkContext
    prior_ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    tracer = None
    cpu_before = cpu_times()
    with RssSampler(jvm_pid) as rss:
        if trace:
            from perfbench.tracing import Tracer

            plain = run_passes(spark, wl, args.seconds / 2, lambda k: f"plain{k}", rss)
            tracer = Tracer(sc)
            tracer.install()
            try:
                passes = run_passes(spark, wl, args.seconds / 2, lambda k: f"pass{k}", rss, tracer)
            finally:
                tracer.uninstall()
        else:
            passes = run_passes(spark, wl, args.seconds, lambda k: "bench.pass", rss)
    cpu_steal = steal_frac(cpu_before, cpu_times())
    tasks = untraced_task_counts(spark, prior_ungrouped) if not trace else None

    set_group(spark, "bench.gate")
    gate = wl.gate(spark)
    walls = [w for _, w, _ in passes]
    wall = median(walls)
    spans = median([r["spans"] for _, _, r in passes]) if "spans" in passes[0][2] else gate.details["spans"]
    docs = median([r["docs"] for _, _, r in passes])
    details = {
        "workload": wl.name, "seed": args.seed, "nproc": cpus, "trace": args.trace,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(), "cpu_steal_frac": cpu_steal,
        "passes": len(walls), "pass_walls_s": walls,
        "peak_rss_mb": median([r["rss"] for _, _, r in passes]) / 2**20,
        "pass_rss_mb": [r["rss"] / 2**20 for _, _, r in passes], "synth_s": synth_s,
        "warm_pass_s": warm_pass_s,
        "setup_samples_s": setups, "docs_per_pass": docs, "spans_per_pass": spans,
        "doc_mismatch_frac": gate.failed / gate.attempted,
        "gate_ok": gate.ok, "gate_errors": gate.errors, "gate": gate.details,
    }
    if tasks:
        details["task_failure_frac"] = tasks[1] / max(tasks[0], 1)
        details["tasks_attempted"] = tasks[0]

    if trace:
        from perfbench.tracing import kernel_timings

        session.stop()
        names = {**PER_LAYER, **(GRAPH_LAYER if wl.name == "graph_convert" else {})}
        values = layer_metrics(wl, tracer, plain, passes, gate, os.path.join(work, "eventlog"), cpus)
        values.update(kernel_timings(args.seed))
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
        details["plain_pass_walls_s"] = [w for _, w, _ in plain]
    else:
        values = {
            "setup_s": median(setups),
            "wall_s": wall,
            "docs_per_s": docs / wall,
            "spans_per_s": spans / wall,
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": gate.ok, "attempted": gate.attempted, "failed": gate.failed,
                      "metrics": metrics}))
    return 0


def layer_metrics(wl, tracer, plain, passes, gate, log_dir: str, cpus: int) -> dict[str, float]:
    """Per-layer values, each the median over passes: span-derived layer
    walls from the traced passes; Spark totals from the event log of the
    plain passes (the program's own job shape, without tracing actions)."""
    from perfbench.tracing import descendants_outside, measure, read_event_log, subtract, task_skew

    log = read_event_log(log_dir)

    def pass_stages(prefix: str, start: float, end: float):
        lo, hi = start * 1000, end * 1000
        return [s for s in log.stages.values()
                if (s.group or "").split("/")[0] == prefix
                or (s.group is None and lo <= s.submit_ms <= hi)]

    def pass_jobs(prefix: str, start: float, end: float):
        lo, hi = start * 1000, end * 1000
        return [j for j in log.jobs
                if (j[1] or "").split("/")[0] == prefix or (j[1] is None and lo <= j[2] <= hi)]

    per_pass: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per_pass.setdefault(name, []).append(v)

    for k, (start, wall, _) in enumerate(plain):
        stages = pass_stages(f"plain{k}", start, start + wall)
        run_ms = sum(sum(s.run_ms) for s in stages)
        add("spark.jobs", len(pass_jobs(f"plain{k}", start, start + wall)))
        add("spark.stages", len(stages))
        add("spark.tasks", sum(len(s.run_ms) for s in stages))
        add("spark.exec_busy_frac", run_ms / 1000 / (wall * cpus))
        add("spark.spill_bytes", sum(s.spill_bytes for s in stages))
        add("spark.gc_s", sum(s.gc_ms for s in stages) / 1000)
        add("spark.failed_tasks", sum(s.failed for s in stages))

    roots = [s for s in tracer.spans if s.layer == "pass"]
    for k, ((start, wall, result), root) in enumerate(zip(passes, roots)):
        group = f"pass{k}"
        in_pass = [s for s in tracer.spans if s.path.startswith(group + "/")]
        by_layer: dict[str, list] = {}
        for s in in_pass:
            by_layer.setdefault(s.layer, []).append(s)
        for layer, spans in by_layer.items():
            add(f"{layer}.wall_s", measure([(s.start, s.end) for s in spans]))
        stages = pass_stages(group, root.start, root.end)
        jobs = pass_jobs(group, root.start, root.end)

        def in_layer(g, layer):
            return layer in (g or "").split("/")[1:]

        for layer in ("extractor", "dedup", "merge"):
            add(f"{layer}.spark_jobs", sum(in_layer(j[1], layer) for j in jobs))
        ext = by_layer.get("extractor", [])
        if ext:
            kids = [c for s in ext for c in descendants_outside(s, "extractor")]
            add("extractor.self_s", subtract([(s.start, s.end) for s in ext], [(c.start, c.end) for c in kids]))
        sp_stages = [s for s in stages if in_layer(s.group, "spans")]
        add("spans.shuffle_write_bytes", sum(s.shuffle_write for s in sp_stages))
        add("spans.task_skew", task_skew(sp_stages))
        commits = sorted((s for s in in_pass if s.name == "checkpoint.commit_bucket_group"), key=lambda s: s.end)
        if commits:
            runs = [s for s in in_pass if s.name == "checkpoint.run_resumable"]
            ends = [runs[0].start] + [s.end for s in commits]
            add("checkpoint.group_wall_s", median([b - a for a, b in zip(ends, ends[1:])]))
            add("checkpoint.manifest_s", measure([(s.start, s.end) for s in commits]))
            add("checkpoint.groups", len(commits))
        if "chunks" in result:
            add("chunker.chunks", result["chunks"])

    out = {name: median(vs) for name, vs in per_pass.items()}
    out["trace.overhead_s"] = median([w for _, w, _ in passes]) - median([w for _, w, _ in plain])
    if getattr(wl, "bytes_written", None):
        out["io.bytes_written"] = median(wl.bytes_written)
    for fmt in INGEST_FORMATS:
        out[f"ingest.docs.{fmt}"] = gate.details.get("fmt_docs", {}).get(fmt, 0)
    for key in ("salvage.valid_frac", "provenance.verbatim_anchor_frac"):
        if key in gate.details:
            out[key] = gate.details[key]
    return out


if __name__ == "__main__":
    sys.exit(main())
