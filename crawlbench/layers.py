"""Fold a traced run's spans, event log and manifest counters into the
per-layer metrics.

Times are means per committed round, so the layer times plus
`round_loop.residue_s` add up to `round_loop.round_s`. Layers that only
some workloads run (extraction, compaction, the recrawl enqueue, the
tombstone write) are reported as shares of the round or of the timed
window; their seconds are in the printed span breakdown.
"""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

from tracing import ENQUEUE, EXTRACTION, ROUND, Tracer, fold_event_log, round_split

# child spans present in every round that does work, on every workload
CORE = ("checkpoint.documents_write", "checkpoint.frontier_write",
        "checkpoint.url_seen_write", "checkpoint.commit", "url_seen.bloom")
# child spans with per-span Spark task metrics. GC time is reported for the
# whole round only: a single span of a small round often ends with no
# collection at all, and its GC time would read 0 s on every run
TASK_METRICS = (("executor_run_s", "s"), ("executor_cpu_s", "s"),
                ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"))
SPARK_SPANS = ("checkpoint.documents_write", "checkpoint.frontier_write",
               "checkpoint.url_seen_write", "url_seen.bloom")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(tracer: Tracer, events_dir: Path, units, timed_wall_s: float):
    groups = fold_event_log(events_dir)
    rounds = [s for s in tracer.spans if s.name == ROUND]
    n = len(rounds)
    secs: dict[str, float] = defaultdict(float)
    task: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    counts: dict[str, float] = defaultdict(float)
    by_sid = {s.sid: s for s in tracer.spans}
    residue = 0.0
    adds_up = True
    for r in rounds:
        try:
            split, res = round_split(tracer, r)
        except AssertionError:
            adds_up = False
            continue
        residue += res
        for name, s in split.items():
            secs[name] += s
        for span in [r] + tracer.descendants(r):
            g = groups.get(span.group, {})
            top = span
            while top.parent not in (r.sid, None):
                top = by_sid[top.parent]
            for k, v in g.items():
                task[ROUND][k] += v
                if span is not r:
                    task[top.name][k] += v
            counts["read_files"] += span.counts.get("read_files", 0)
            if span.name == EXTRACTION:
                counts["extraction_rows"] += span.counts.get("rows", 0)
    round_total = sum(r.secs for r in rounds)
    enqueue = [s for s in tracer.spans if s.name == ENQUEUE]
    flow = defaultdict(int)
    for u in units:
        for k, v in u.flow.items():
            flow[k] += v

    m: dict[str, tuple[float, str]] = {
        "round_loop.round_s": (round_total / n, "s"),
        "round_loop.residue_s": (residue / n, "s"),
        "round_loop.jobs": (task[ROUND]["jobs"] / n, "count"),
        "round_loop.tasks": (task[ROUND]["tasks"] / n, "count"),
        "round_loop.failed_tasks": (task[ROUND]["failed_tasks"] / n, "count"),
        "round_loop.executor_run_s": (task[ROUND]["executor_run_s"] / n, "s"),
        "round_loop.gc_s": (task[ROUND]["gc_s"] / n, "s"),
        "transport.busy_s": (tracer.busy.value / n, "s"),
        "transport.pages": (tracer.pages.value / n, "count"),
        "transport.share": (_ratio(tracer.busy.value,
                                   task["checkpoint.documents_write"]["executor_run_s"]), "ratio"),
        "frontier.dedup_ratio": (1 - _ratio(flow["frontier_out"],
                                            flow["discovered"] + flow["deferred"]), "ratio"),
        "url_seen.admit_ratio": (_ratio(flow["candidates"], flow["frontier_in"]), "ratio"),
        "politeness.fetch_ratio": (_ratio(flow["fetched"], flow["candidates"]), "ratio"),
        "extraction.share": (_ratio(secs[EXTRACTION], round_total), "ratio"),
        "extraction.rows": (counts["extraction_rows"] / n, "count"),
        "checkpoint.compact_share": (_ratio(secs["checkpoint.compact"], round_total), "ratio"),
        "checkpoint.other_write_share": (_ratio(sum(
            v for k, v in secs.items()
            if k.endswith("_write") and k not in CORE), round_total), "ratio"),
        "checkpoint.bytes_written": (task[ROUND]["bytes_written"] / n, "B"),
        "checkpoint.read_files": (counts["read_files"] / n, "count"),
        "recrawl.enqueue_share": (_ratio(sum(s.secs for s in enqueue), timed_wall_s), "ratio"),
        "revalidate.hit_ratio": (_ratio(flow["revalidated"],
                                        sum(s.counts.get("enqueued", 0) for s in enqueue)), "ratio"),
    }
    for name in CORE:
        m[f"{name}_s"] = (secs[name] / n, "s")
    for name in SPARK_SPANS:
        for k, unit in TASK_METRICS:
            m[f"{name}.{k}"] = (task[name][k] / n, unit)

    spans = {
        "_adds_up": adds_up,
        "per_round_s": {k: v / n for k, v in sorted(secs.items())},
        "residue_per_round_s": residue / n,
        "round_per_round_s": round_total / n,
        "enqueue_s": [s.secs for s in enqueue],
        "rounds": n,
    }
    return m, spans
