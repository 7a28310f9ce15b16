#!/usr/bin/env python3
"""The headline benchmark, sized to the host that runs it: spatial-join +
tiling throughput (pages/sec), N->4N scaling efficiency, and per-query
timings.  It takes no flag:

    python3 bench.py

- **Headline and scaling.**  Each leg is one child process running
  perfbench's ``pages_pip_tiles`` workload (``LEG``), pinned to a set of
  cores before its JVM starts; perfbench sizes ``local[C]``, the shuffle
  partitions and its python workers from that affinity mask.  With M the
  sorted affinity mask of this process and N = len(M) // 4, the small leg
  pins the first N cores of M and the big leg the first 4N.  ``ROUNDS``
  interleaved rounds alternate which leg goes first; efficiency =
  min small wall / (4 * min big wall).  The headline is the big leg's best
  sample.  With fewer than 4 cores there is no pair: one leg on the whole
  mask gives the headline and ``scaling`` is null.
- **Queries.**  After the legs, one Spark session runs every
  ``plans.registry.QUERIES`` entry except the audit groups (which re-run
  member queries already timed alone) at ``SPARK_GRAFT_SF_DIR`` (default:
  the sf0.01 test data, where the oracle tests check every entry): one
  untimed run, then one timed run into a ``noop`` sink.  An entry that
  raises is listed in ``queries_failed``.

A leg that exits non-zero or whose check fails stops the benchmark with
the leg's stderr tail.  About 13 minutes on a 4-core host.  Prints one
JSON line:
  {"metric", "value": <sec>, "unit": "sec", "sf", "pages", "pages_per_sec",
   "scaling": {"cores_small", "cores_big", "small_sec", "big_sec",
               "speedup", "efficiency", "samples_small", "samples_big"},
   "queries": {name: sec}, "queries_failed": {name: error}}
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

from tosidewalk_spark.plans import registry
from tosidewalk_spark.session import get_spark

ROOT = Path(__file__).resolve().parent
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
LEG = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", "pages_pip_tiles",
       "--seed", "0", "--seconds", "10", "--trace", "0"]
ROUNDS = 3


def leg_cores(mask) -> tuple[list[int], list[int]] | None:
    """(small, big) core lists of the N->4N pair, or None below 4 cores."""
    m = sorted(mask)
    n = len(m) // 4
    return (m[:n], m[:4 * n]) if n else None


def parse_leg(cores: list[int], returncode: int, stdout: str, stderr: str) -> dict:
    """perfbench's report line of a leg that exited 0 on ``cores`` with
    every run correct; anything else exits the benchmark with the leg's
    stderr tail."""
    lines = stdout.strip().splitlines()
    try:
        report, last = json.loads(lines[-2]), json.loads(lines[-1])
        ok = (returncode == 0 and last["correct"] and last["failed"] == 0
              and report["cores"] == len(cores))
    except (IndexError, KeyError, ValueError):
        ok = False
    if not ok:
        raise SystemExit(f"bench: leg on cores {cores} failed (exit {returncode}):\n"
                         f"{stderr.strip()[-3000:]}")
    return report


def run_leg(cores: list[int]) -> tuple[int, float]:
    """One perfbench process pinned to ``cores``: (pages, warm wall)."""
    out = subprocess.run(LEG, cwd=ROOT, capture_output=True, text=True,
                         preexec_fn=lambda: os.sched_setaffinity(0, cores))
    report = parse_leg(cores, out.returncode, out.stdout, out.stderr)
    return report["pages"], report["end_to_end"]["wall_s"]


def scaling_record(small: list[int], big: list[int],
                   samples_small: list[float], samples_big: list[float]) -> dict:
    sec_s, sec_b = min(samples_small), min(samples_big)
    return {"cores_small": small, "cores_big": big, "small_sec": sec_s, "big_sec": sec_b,
            "speedup": round(sec_s / sec_b, 3), "efficiency": round(sec_s / (4 * sec_b), 3),
            "samples_small": samples_small, "samples_big": samples_big}


def run_legs(mask) -> tuple[int, float, dict | None]:
    """(pages, best big-leg wall, scaling record or None)."""
    pair = leg_cores(mask)
    if pair is None:
        return (*run_leg(sorted(mask)), None)
    samples = ([], [])
    for r in range(ROUNDS):
        for i in (0, 1) if r % 2 == 0 else (1, 0):
            pages, wall = run_leg(pair[i])
            samples[i].append(wall)
    return pages, min(samples[1]), scaling_record(*pair, *samples)


def run_queries(sf_dir: str) -> tuple[dict[str, float], dict[str, str]]:
    """Warm wall of every non-audit registry entry into a noop sink."""
    # python workers import the library too
    os.environ["PYTHONPATH"] = str(ROOT)
    spark = get_spark("bench")
    timings, failed = {}, {}
    try:
        for name, (query, _) in registry.QUERIES.items():
            if name in registry._AUDIT_GROUPS:
                continue
            try:
                query(spark, sf_dir).write.mode("overwrite").format("noop").save()
                t = time.perf_counter()
                query(spark, sf_dir).write.mode("overwrite").format("noop").save()
                timings[name] = round(time.perf_counter() - t, 3)
            except Exception as e:  # recorded, and the loop goes on
                failed[name] = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        spark.stop()
    return timings, failed


def main() -> None:
    pages, best, scaling = run_legs(os.sched_getaffinity(0))
    queries, queries_failed = run_queries(SF_DIR)
    print(json.dumps({
        "metric": "spatial_join_tiling_wall_sec", "value": best, "unit": "sec",
        "sf": SF_DIR.rstrip("/").split("sf")[-1], "pages": pages,
        "pages_per_sec": round(pages / best, 1), "scaling": scaling,
        "queries": queries, "queries_failed": queries_failed}))


if __name__ == "__main__":
    main()
