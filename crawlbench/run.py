#!/usr/bin/env python3
"""Crawl benchmark: one closed-loop client on local[<nproc>].

    python3 crawlbench/run.py --workload crawl_multiround --seed 1 --seconds 10 --trace 0

Workloads are in workloads.py. The run starts a Spark session sized from
the visible CPU count, prepares the workload's inputs from --seed and
warms the unit's paths up (workloads.py says which); that is `setup_s`.
It then runs a fixed number of units back to back, round(--seconds / the
workload's nominal unit time) and at least one, checks each unit's
committed output, and prints the metrics by name and unit followed, as
the last line, by one JSON object:

    {"correct": bool, "attempted": pages, "failed": pages, "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 wraps the engine's
public calls (tracing.py), enables Spark's event log and reports the
per-layer split of the round instead. Everything the run writes stays
under <checkout>/.crawlbench_work, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = ROOT / "ba_gepris_crawler_spark"
HEAP = "2g"


def parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def isolate(work: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    `work`, and give the Python workers the package path, so the run
    works from any directory and writes nothing outside the checkout."""
    for d in ("tmp", "local", "events"):
        (work / d).mkdir(parents=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # engine knobs would change what is measured
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the short-lived launcher too: temp files and perf data
    # stay out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData"]))
    tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [str(ROOT), str(BENCH)]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path[:0] = paths


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


def main() -> int:
    args = parse_args()
    if not (PACKAGE / "__init__.py").is_file():
        print(f"crawlbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = ROOT / ".crawlbench_work"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, work: Path) -> int:
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    trace = args.trace == 1
    cpus = len(os.sched_getaffinity(0))

    from workloads import Stopwatch

    watch = Stopwatch()
    from ba_gepris_crawler_spark.session import get_spark

    conf = {
        # a fixed heap: G1 would otherwise resize it on timing heuristics,
        # which moves both the round times and the peak RSS run to run
        "spark.driver.memory": HEAP,
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                      app_name=f"crawlbench-{args.workload}", extra_conf=conf)
    session_s = watch.read()[1]

    from tracing import Tracer

    wl = WORKLOADS[args.workload](spark, args.seed, work)
    prep = []
    for _ in range(wl.setup_repeats):
        watch = Stopwatch()
        wl.prepare()
        prep.append(watch.read()[1])
    watch = Stopwatch()
    wl.warm_up()
    warm_s = watch.read()[1]
    setup_s = session_s + statistics.median(prep) + warm_s

    # a fixed amount of work sized from --seconds, so every run times the
    # same units at the same point of the JVM's warm-up
    tracer = Tracer(spark) if trace else None
    if tracer is not None:
        tracer.install()
    units = []
    for i in range(max(1, round(args.seconds / wl.unit_s))):
        units.append(wl.unit(i, transport=tracer.transport() if tracer else None))
    if tracer is not None:
        tracer.uninstall()

    jvm = spark.sparkContext._gateway.proc
    rss = peak_rss_mb([os.getpid(), jvm.pid])
    spark.stop()
    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
    jvm.wait(timeout=60)

    pages = sum(u.pages for u in units)
    attempted = sum(u.expected for u in units)
    failed = sum(u.failed for u in units)
    checks = {k: all(u.checks[k] for u in units) for k in units[0].checks}
    rounds = [s for u in units for s in u.round_secs]
    cycles = [s for u in units for s in u.cycle_secs]
    timed = sum(u.secs for u in units)
    wall = sum(u.wall_secs for u in units)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (pages / timed, "1/s"),
        "round_p50_s": (statistics.median(rounds), "s"),
        "store_bytes_per_page": (sum(u.store_bytes for u in units) / sum(u.store_pages for u in units), "B"),
        "peak_rss_mb": (rss, "MB"),
    }
    summary = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "units": len(units),
        "rounds": len(rounds), "pages": pages, "timed_s": round(timed, 3),
        "timed_wall_s": round(wall, 3), "steal_share": round(1 - timed / wall, 4),
        "session_s": round(session_s, 3), "prepare_s": [round(p, 3) for p in prep],
        "warm_up_s": round(warm_s, 3), "checks": checks,
        "unit_s": [round(u.secs, 3) for u in units], "round_s": [round(r, 3) for r in rounds],
        "revalidate_cycle_s": [round(c, 3) for c in cycles],
    }
    if trace:
        from layers import per_layer

        metrics, spans = per_layer(tracer, work / "events", units, wall)
        metrics["trace.pages_per_s"] = e2e["pages_per_s"]
        metrics["trace.round_p50_s"] = e2e["round_p50_s"]
        checks["spans_add_up"] = spans.pop("_adds_up")
        print(json.dumps({"spans": spans}, sort_keys=True))
    else:
        metrics = e2e
    print(json.dumps({"summary": summary}, sort_keys=True))
    # printed by name, not BENCHMARK.json metrics: failed_ratio is 0 on a
    # correct engine, and only crawl_multiround runs a revalidate cycle
    shown = {**metrics, "failed_ratio": (failed / attempted, "ratio")}
    if cycles:
        shown["revalidate_cycle_s"] = (statistics.median(cycles), "s")
    for name, (value, unit) in sorted(shown.items()):
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and all(checks.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
