#!/usr/bin/env python3
"""The sidewalk-spark benchmark: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload pages_pip_tiles --seed 0 --seconds 10 --trace 0

Load model: a closed loop with one client.  The driver process runs
``local[C]`` with C the size of the CPU affinity mask and 2*C shuffle
partitions; driver memory is a quarter of MemTotal.  After the session
starts, the workload's fixed set-up runs several times, then one cold run
(``first_run_s``), then warm runs until ``--seconds`` have passed.  Every
run's output is checked; a wrong or raising run counts as failed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log, wraps each layer call in a span with its own job group,
adds one traced run and the workload's per-layer pass, and prints the
per-layer metrics; the full per-layer record goes to
``perfbench/_out/<workload>-seed<seed>-trace.json``.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it is a report with every metric, the host sizing, the CPU
time stolen by the hypervisor, the memory parts and the leak counters.
Metric names and units come from BENCHMARK.json.
"""
from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import spans  # noqa: E402
import workloads  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from tosidewalk_spark.session import get_spark  # noqa: E402

SETUP_REPS = 3


def host_sizing() -> tuple[int, int]:
    """(cores from the affinity mask, driver memory in MB = MemTotal / 4)."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return len(os.sched_getaffinity(0)), total_kb // 1024 // 4


def configure_env(workdir: Path, driver_mb: int, trace: bool) -> None:
    """Session settings go through the environment that ``get_spark`` and
    pyspark's launcher read; every file Spark writes stays under ``workdir``."""
    tmp = workdir / "tmp"
    for d in (tmp, workdir / "local", workdir / "events"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["TMPDIR"] = str(tmp)
    # python workers import the library too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # the JVM logs where its Java heap lies, so that the memory sampler can
    # count the heap by its live data rather than by the pages G1 has touched
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xlog:gc+heap+coops=debug:file={workdir / 'jvm-heap.log'}",
            "spark.sql.warehouse.dir": str(workdir / "warehouse")}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (workdir / "events").as_uri(),
                     # one plain JSON-lines file per application
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"


def live_rdds(spark) -> int:
    """Persisted RDDs still live once python has dropped unreachable frames
    (the library releases some caches from weakref finalizers)."""
    gc.collect()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait until the JVM and
    the python workers it started have exited."""
    children = spans.descendants(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(spans.alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)


def heap_used_mb(spark) -> float:
    """JVM heap in use after a full GC: the live data the run left behind.
    Taken after every run, outside its timed part."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / spans.MB


class Measurement:
    """One measured process: session, set-ups, cold run, warm runs."""

    def __init__(self, args, cores: int, workdir: Path, rss: spans.RssSampler):
        self.args, self.rss = args, rss
        self.tr = spans.Tracer() if args.trace else workloads.NULL
        self.runs: list[list[str]] = []
        self.rdds: list[int] = []
        self.heap_mb: list[float] = []
        self.outside_mb: list[float] = []
        t = time.perf_counter()
        with self.tr.span("session.get_spark"):
            self.spark = get_spark("perfbench", cpus=cores, shuffle_partitions=2 * cores)
        self.session_s = time.perf_counter() - t
        rss.exclude_heap(SparkContext._gateway.proc.pid,
                         *spans.java_heap_range((workdir / "jvm-heap.log").read_text()))
        if args.trace:
            self.tr.sc = self.spark.sparkContext
        self.wl = workloads.WORKLOADS[args.workload](self.spark, args.seed, str(workdir))

    def one_run(self, tr) -> float:
        """One checked run; returns its wall time."""
        self.rss.take_peak_mb()
        t = time.perf_counter()
        try:
            out = self.wl.run(tr)
            wall = time.perf_counter() - t
            problems = self.wl.check(out)
        except Exception:  # a failing run is counted, and the loop goes on
            wall = time.perf_counter() - t
            problems = ["raised: " + traceback.format_exc(limit=3)]
        self.outside_mb.append(self.rss.take_peak_mb())
        self.heap_mb.append(heap_used_mb(self.spark))
        for p in problems:
            print(f"perfbench: {self.wl.name} run {len(self.runs)}: {p}", file=sys.stderr)
        self.runs.append(problems)
        self.rdds.append(live_rdds(self.spark))
        return wall

    def measure(self) -> dict:
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            with self.tr.span("workload.setup"):
                self.wl.setup(self.tr)
            prep.append(time.perf_counter() - t)
        first = self.one_run(workloads.NULL)
        warm = []
        deadline = time.perf_counter() + self.args.seconds
        while not warm or time.perf_counter() < deadline:
            warm.append(self.one_run(workloads.NULL))
        out = {"wall_s": statistics.median(warm), "first_run_s": first,
               "setup_s": self.session_s + statistics.median(prep),
               "peak_rss_mb": statistics.median(self.memory_mb()[1:]),
               "warm_walls_s": warm, "setup_walls_s": prep}
        if self.args.trace:
            self.tr.run_id = len(self.runs)
            out["traced_wall_s"] = self.one_run(self.tr)
            self.tr.run_id = len(self.runs)
            problems = self.wl.layers(self.tr)
            for p in problems:
                print(f"perfbench: {self.wl.name} per-layer pass: {p}", file=sys.stderr)
            self.runs.append(problems)
        return out

    def memory_mb(self) -> list[float]:
        """Per run: the peak RSS of the process tree outside the Java heap,
        plus the heap's live data after the run."""
        return [o + h for o, h in zip(self.outside_mb, self.heap_mb)]


def layer_metrics(m: Measurement, stats: dict) -> dict:
    """Per-layer metrics from spans and event-log stats, named
    ``<module>.<function>.<metric>``.  The calls of one layer under one root
    span (a set-up, a run, a layer of the per-layer pass) are added up;
    times are the median over roots, Spark stats and counts are the last
    root's."""
    tr = m.tr
    out: dict[str, float] = {}
    groups = {}
    for i, s in enumerate(tr.spans):
        groups.setdefault(s.name, {}).setdefault(tr.root(i), []).append(i)
    groups = {n: list(g.values()) for n, g in groups.items()}
    gross = {n: statistics.median(sum(tr.self_s(i) for i in g) for g in gs)
             for n, gs in groups.items()}
    for name, gs in groups.items():
        g = spans.GroupStats()
        counts: dict[str, float] = {}
        for i in gs[-1]:
            g.add(spans.tree_stats(tr, i, stats))
            for k, v in tr.spans[i].counts.items():
                counts[k] = counts.get(k, 0) + v
        out.update({f"{name}.self_s": gross[name] - gross.get(m.wl.net_of.get(name), 0.0),
                    f"{name}.total_s": statistics.median(
                        sum(tr.spans[i].duration for i in grp) for grp in gs),
                    f"{name}.jobs": g.jobs, f"{name}.stages": g.stages,
                    f"{name}.task_s": g.task_s, f"{name}.job_s": g.job_s,
                    f"{name}.driver_s": sum(tr.self_s(i) for i in gs[-1]) - g.job_s,
                    f"{name}.shuffle_write_mb": g.shuffle_write_mb,
                    f"{name}.spill_mb": g.spill_mb})
        out.update({f"{name}.{k}": v for k, v in counts.items()})
    # the traced run with every layer inside it
    run = tr.find("workload.run")[-1]
    g = spans.tree_stats(tr, run, stats, deep=True)
    out.update({"workload.run.jobs": g.jobs, "workload.run.stages": g.stages,
                "workload.run.task_s": g.task_s, "workload.run.job_s": g.job_s,
                "workload.run.driver_s": tr.spans[run].duration - g.job_s,
                "workload.run.shuffle_write_mb": g.shuffle_write_mb,
                "workload.run.shuffle_read_mb": g.shuffle_read_mb})
    out.update({"spark.live_persisted_rdds_after": m.rdds[-1],
                "spark.live_persisted_rdds_growth": m.rdds[-1] - m.rdds[0],
                "spark.heap_used_mb_after": m.heap_mb[-1],
                "spark.heap_used_mb_growth": m.heap_mb[-1] - m.heap_mb[0]})
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    cores, driver_mb = host_sizing()
    workdir = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    configure_env(workdir, driver_mb, bool(args.trace))
    steal = spans.cpu_steal_s()
    try:
        with spans.RssSampler() as rss:
            m = Measurement(args, cores, workdir, rss)
            try:
                e2e = m.measure()
            finally:
                stop_spark(m.spark)
        attempted, failed = len(m.runs), sum(1 for p in m.runs if p)
        e2e.update({"pages_per_sec": m.wl.pages / e2e["wall_s"],
                    "fail_ratio": failed / attempted})
        report = {"workload": args.workload, "seed": args.seed, "cores": cores,
                  "driver_mem_mb": driver_mb, "pages": m.wl.pages,
                  # CPU time lost to other tenants of the host: the main
                  # source of spread between identical runs
                  "host_cpu_steal_s": spans.cpu_steal_s() - steal,
                  "attempted": attempted, "failed": failed, "end_to_end": e2e,
                  "memory_mb_each_run": m.memory_mb(),
                  "outside_heap_peak_mb_each_run": m.outside_mb,
                  "heap_used_mb_each_run": m.heap_mb, "live_rdds_after_each_run": m.rdds}
        wanted, values = spec["end_to_end"], e2e
        if args.trace:
            layers = layer_metrics(m, spans.read_event_logs(str(workdir / "events")))
            layers["trace.overhead_s"] = e2e["traced_wall_s"] - e2e["wall_s"]
            report["layers"] = layers
            out_dir = HERE / "_out"
            out_dir.mkdir(exist_ok=True)
            trace_file = out_dir / f"{args.workload}-seed{args.seed}-trace.json"
            trace_file.write_text(json.dumps({**report, "spans": m.tr.records()},
                                             indent=1, sort_keys=True))
            print(f"perfbench: per-layer record written to {trace_file}", file=sys.stderr)
            wanted, values = spec["per_layer"], layers
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    print(json.dumps(report))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {w["name"]: {"value": values[w["name"]], "unit": w["unit"]}
                                  for w in wanted}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
