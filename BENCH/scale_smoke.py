#!/usr/bin/env python
"""One-command scale-evidence smoke (VERDICT r3 #8): regenerates every
axis of the scaling story in a single run and emits ONE JSON object.

Axes (full-size recorded runs + methodology live in BENCH/BASELINE.md):

1. steady    — steady-state engine round at N (1x2) vs 4N (4x2) real
               executor JVMs (local-cluster, taskset-pinned when
               available): END-TO-END scaling efficiency.
2. fetch     — the same pair with SPARK_GRAFT_FETCH_ONLY=1: the fetch
               stage isolated from the nested-parquet encode — the stage
               a real cluster gives dedicated memory bandwidth/NICs.
3. hot_host  — two-level (host, host_bucket) rank vs the naive bare-host
               window on a single-host frontier (the GEPRIS degenerate
               case): the hot-partition killer.
4. many_hosts— the size-aware offsets join at 10^5 distinct hosts
               (driver-collected rows must be zero).
5. rounds    — 24-round crawl with/without tiered compaction: per-round
               time flatness + read-path file counts.

Knobs: SPARK_SMOKE_PAGES (steady frontier size, default 250000),
SPARK_SMOKE_HOT_URLS (hot-host frontier size, default 8000000 — the
two-level rank's advantage grows with per-host frontier size),
SPARK_SMOKE_AXES (comma list to run a subset, default all).

Run: python BENCH/scale_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(REPO, "BENCH")
sys.path.insert(0, REPO)
sys.path.insert(0, BENCH_DIR)


def _last_json(stdout: str) -> dict:
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-1])


def _bench(env: dict, pin: str | None) -> dict:
    cmd = [sys.executable, "bench.py"]
    if pin and shutil.which("taskset"):
        cmd = ["taskset", "-c", pin] + cmd
    out = subprocess.run(
        cmd, env={**os.environ, **env}, capture_output=True, text=True,
        cwd=REPO, timeout=3600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"bench.py failed: {out.stderr[-2000:]}")
    return _last_json(out.stdout)


def _pair(pages: int, fetch_only: bool) -> dict:
    """One N (1x2) vs 4N (4x2) local-cluster pair, pinned like
    BENCH/BASELINE.md's methodology; efficiency = rate_4N / (4 * rate_N)."""
    base = {
        "SPARK_GRAFT_STEADY": "1",
        "SPARK_GRAFT_BENCH_PAGES": str(pages),
    }
    if fetch_only:
        base["SPARK_GRAFT_FETCH_ONLY"] = "1"
    rate_key = "fetch_pages_per_sec" if fetch_only else "steady_pages_per_sec"
    n = _bench({**base, "SPARK_GRAFT_EXECUTORS": "1"}, pin="0-3")
    n4 = _bench({**base, "SPARK_GRAFT_EXECUTORS": "4"}, pin="0-9")
    speedup = n4[rate_key] / n[rate_key]
    return {
        "pages": pages,
        "n_pages_per_sec": n[rate_key],
        "n4_pages_per_sec": n4[rate_key],
        "speedup": round(speedup, 2),
        "scaling_efficiency": round(speedup / 4.0, 2),
    }


_HOT_HOST = r"""
import json, os, time
from pyspark.sql import Window
from pyspark.sql import functions as F
from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig, schedule_round
from ba_gepris_crawler_spark.session import get_spark

# Default 8M: the two-level rank's advantage GROWS with per-host frontier
# size (at 4M one task still sorts the host comfortably and the result
# reads neutral; the recorded 8M runs show 1.9-3.1x)
N = int(os.environ.get("SPARK_SMOKE_HOT_URLS", "8000000"))
spark = get_spark(master="local[16]", shuffle_partitions=32, app_name="hot-host")
frontier = spark.range(N).select(
    F.concat(F.lit("https://hot.example.org/p/"), F.col("id").cast("string")).alias("url"),
    F.lit("hot.example.org").alias("host"),
    F.lit("project").alias("resource_type"),
    F.col("id").cast("string").alias("resource_id"),
    (F.col("id") % 3).cast("int").alias("crawl_depth"),
    (F.col("id") % 2).cast("int").alias("priority"),
    F.lit(0).cast("int").alias("discovered_round"),
).localCheckpoint(eager=True)
cfg = PolitenessConfig(per_host_rate=float(N // 2), round_seconds=1.0, max_in_flight=10)

t0 = time.time()
fetch_now, _ = schedule_round(frontier, cfg, n_buckets=32)
n_new = fetch_now.count()
new_sec = time.time() - t0

# the round-1 shape: ONE task sorts the whole host
t0 = time.time()
w = Window.partitionBy("host").orderBy("crawl_depth", "priority", "url")
old = frontier.withColumn("host_rank", F.row_number().over(w)).filter(
    F.col("host_rank") <= cfg.per_host_budget
)
n_old = old.count()
old_sec = time.time() - t0
assert n_old == n_new, (n_old, n_new)
print(json.dumps({"n_urls": N, "two_level_sec": round(new_sec, 2),
                  "bare_host_window_sec": round(old_sec, 2),
                  "speedup": round(old_sec / new_sec, 2)}))
"""


def main() -> None:
    pages = int(os.environ.get("SPARK_SMOKE_PAGES", "250000"))
    axes = set(
        os.environ.get(
            "SPARK_SMOKE_AXES", "steady,fetch,hot_host,many_hosts,rounds"
        ).split(",")
    )
    t_start = time.time()
    out: dict[str, object] = {"metric": "scale_smoke", "pages": pages}

    if "steady" in axes:
        out["steady"] = _pair(pages, fetch_only=False)
    if "fetch" in axes:
        out["fetch"] = _pair(pages, fetch_only=True)
    if "hot_host" in axes:
        r = subprocess.run([sys.executable, "-c", _HOT_HOST], capture_output=True,
                           text=True, cwd=REPO, timeout=1800)
        if r.returncode != 0:
            raise RuntimeError(f"hot_host failed: {r.stderr[-2000:]}")
        out["hot_host"] = _last_json(r.stdout)
    if "many_hosts" in axes:
        r = subprocess.run([sys.executable, os.path.join(BENCH_DIR, "many_hosts.py"),
                            "2000000", "100000"], capture_output=True, text=True,
                           cwd=REPO, timeout=1800)
        if r.returncode != 0:
            raise RuntimeError(f"many_hosts failed: {r.stderr[-2000:]}")
        out["many_hosts"] = _last_json(r.stdout)
    if "rounds" in axes:
        rounds = {}
        for k in (0, 8):
            r = subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "round_invariance.py"),
                 str(k), "4", "20", "24"],
                capture_output=True, text=True, cwd=REPO, timeout=3600,
            )
            if r.returncode != 0:
                raise RuntimeError(f"round_invariance failed: {r.stderr[-2000:]}")
            rounds[f"compact_every={k}"] = _last_json(r.stdout)
        out["rounds"] = rounds

    out["total_sec"] = round(time.time() - t_start, 1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
