"""Traced-run instrumentation, installed from outside the engine.

The benchmark never edits the engine to trace it. `Tracer.install` wraps
public functions of the engine's modules, records one span per call and
tags every Spark job issued inside the call with a job group named after
the span. Spark is lazy: a lazily built layer (schedule, fetch, encode,
discovery, anti-join) runs inside the action that consumes it, so its
time lands in that action's span. The span names say which action that
is, e.g. `checkpoint.documents_write` runs politeness.schedule_round,
fetch.fetch_pages and the documents encode.

`fold_event_log` reads Spark's event log after the session stops and
folds task metrics per job group, so each span also gets executor run
time, CPU time, GC time, shuffle and spill bytes.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from ba_gepris_crawler_spark.operators.transport import SyntheticTransport

# the nine tables CrawlEngine.run_round writes from its extraction pool
EXTRACTION_TABLES = frozenset({
    "eav", "projects", "persons", "institutions",
    "project_ids_to_subject_areas", "project_ids_to_participating_subject_areas",
    "projects_international_connections", "project_person_relations",
    "project_institution_relations",
})

ROUND = "round_loop.round"
ENQUEUE = "recrawl.enqueue"
EXTRACTION = "extraction.write"


def write_span_name(table: str) -> str:
    return EXTRACTION if table in EXTRACTION_TABLES else f"checkpoint.{table}_write"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    rnd: int | None = None
    # counts recorded at this boundary (rows written, files read, ...)
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"crawlbench-span-{self.sid}"

    @property
    def secs(self) -> float:
        return self.end - self.start


class TimedTransport(SyntheticTransport):
    """SyntheticTransport that adds each fetch_batch call's seconds and
    page count to two Spark accumulators. It runs on the executors inside
    the fetch UDF, so it is pickled: it holds accumulators only."""

    def __init__(self, busy_acc, pages_acc):
        self.busy = busy_acc
        self.pages = pages_acc

    def fetch_batch(self, cfg, urls, token, epoch, as_json, etags=None):
        t0 = time.perf_counter()
        out = super().fetch_batch(cfg, urls, token, epoch, as_json, etags=etags)
        self.busy.add(time.perf_counter() - t0)
        self.pages.add(len(urls))
        return out


class Tracer:
    """Spans kept in memory; written out by the caller at the end."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._round: Span | None = None  # parent of calls from pool threads
        self._patches: list[tuple[object, str, object]] = []
        self.busy = self.sc.accumulator(0.0)
        self.pages = self.sc.accumulator(0)

    def transport(self) -> TimedTransport:
        return TimedTransport(self.busy, self.pages)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, args, kwargs, rnd: int | None = None, counter=None):
        stack = self._stack()
        parent = stack[-1] if stack else self._round
        with self._lock:
            span = Span(len(self.spans), name, parent.sid if parent else None, 0.0,
                        rnd=rnd if rnd is not None else (parent.rnd if parent else None))
            self.spans.append(span)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(span.group, name)
        stack.append(span)
        if name == ROUND:
            self._round = span
        span.start = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if name == ROUND:
                self._round = None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
        if counter is not None:
            span.counts.update(counter(args, out))
        return out

    def _wrap(self, owner, attr: str, name, rnd_arg: int | None = None, counter=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name(args) if callable(name) else name
            rnd = args[rnd_arg] if rnd_arg is not None and len(args) > rnd_arg else None
            return self.call(span_name, orig, args, kwargs, rnd=rnd, counter=counter)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _count_files(self, owner, attr: str) -> None:
        """Reads are not spans (they are lazy); count the files each read
        resolves to and charge them to the innermost open span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            df = orig(*args, **kwargs)
            stack = self._stack()
            span = stack[-1] if stack else self._round
            if df is not None and span is not None:
                n = len(df.inputFiles())
                with self._lock:
                    span.counts["read_files"] = span.counts.get("read_files", 0) + n
            return df

        setattr(owner, attr, counted)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from ba_gepris_crawler_spark.operators import url_seen
        from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
        from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine

        self._wrap(CrawlEngine, "run_round", ROUND, rnd_arg=1)
        self._wrap(CrawlEngine, "enqueue_recrawl", ENQUEUE,
                   counter=lambda a, n: {"enqueued": n})
        self._wrap(SnapshotStore, "write_table", lambda a: write_span_name(a[1]),
                   rnd_arg=2, counter=lambda a, n: {"rows": n})
        self._wrap(SnapshotStore, "commit", "checkpoint.commit", rnd_arg=1)
        self._wrap(SnapshotStore, "compact", "checkpoint.compact")
        self._wrap(SnapshotStore, "compact_tiered", "checkpoint.compact")
        self._wrap(url_seen, "build_bloom", "url_seen.bloom")
        self._wrap(url_seen, "update_bloom", "url_seen.bloom")
        self._count_files(SnapshotStore, "read_union")
        self._count_files(SnapshotStore, "read_state")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.sid]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span.sid]
        while todo:
            sid = todo.pop()
            kids = [s for s in self.spans if s.parent == sid]
            out += kids
            todo += [k.sid for k in kids]
        return out


def round_split(tracer: Tracer, rnd_span: Span, eps: float = 1e-3) -> tuple[dict[str, float], float]:
    """Per-layer seconds of one round and its residue (round minus child
    spans). The extraction writes run concurrently in a thread pool, so
    they count as the union of their intervals. Raises if child spans
    overlap or leave the round: then the split would not add up."""
    by_name: dict[str, float] = defaultdict(float)
    intervals: list[tuple[float, float]] = []
    ext = [s for s in tracer.children(rnd_span) if s.name == EXTRACTION]
    for s in tracer.children(rnd_span):
        if s.name != EXTRACTION:
            by_name[s.name] += s.secs
            intervals.append((s.start, s.end))
    if ext:
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in sorted((s.start, s.end) for s in ext):
            if cur_hi is not None and a <= cur_hi:
                cur_hi = max(cur_hi, b)
                continue
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        by_name[EXTRACTION] += covered + (cur_hi - cur_lo)
        intervals.append((min(s.start for s in ext), max(s.end for s in ext)))
    prev_end = rnd_span.start
    for a, b in sorted(intervals):
        if a < prev_end - eps or b > rnd_span.end + eps:
            raise AssertionError(f"spans overlap or leave round {rnd_span.rnd}")
        prev_end = b
    residue = rnd_span.secs - sum(by_name.values())
    if residue < -eps:
        raise AssertionError(f"child spans exceed round {rnd_span.rnd}")
    return dict(by_name), residue


def fold_event_log(events_dir: Path) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group, plus job/task/failed-task counts.
    Reads the (uncompressed) JSON-lines event log of the stopped session."""
    logs = [p for p in events_dir.iterdir() if p.is_file() and not p.name.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {events_dir}, found {len(logs)}")
    stage_job: dict[int, int] = {}
    job_group: dict[int, str | None] = {}
    agg: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with logs[0].open() as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[jid] = group
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
                if group is not None:
                    agg[group]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = job_group.get(stage_job.get(ev["Stage ID"], -1))
                if group is None:
                    continue
                a = agg[group]
                a["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                a["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                a["bytes_written"] += out.get("Bytes Written", 0)
    return {g: dict(v) for g, v in agg.items()}
