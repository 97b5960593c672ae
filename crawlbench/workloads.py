"""The benchmark's workloads: inputs made from the seed, one timed unit of
work, and the check of that unit's committed output.

Each workload runs in a closed loop from one driver thread: the next unit
starts only after the previous one is committed and checked. A unit's
untimed parts (store copy, output check, clean-up) sit outside its
`secs`.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field, replace
from pathlib import Path

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig
from ba_gepris_crawler_spark.testing.golden_crawl import simulate_crawl
from tracing import EXTRACTION_TABLES

HOSTS = tuple(f"h{i:02d}.gepris.example.org" for i in range(16))
N_BUCKETS = 8
OK = (200, 304)


@dataclass
class Unit:
    """One timed unit of work and what its check found."""

    secs: float  # timed time, net of steal (Stopwatch)
    wall_secs: float  # timed wall time
    round_secs: list[float]  # net time of each committed round
    pages: int  # pages committed with status 200 or 304
    expected: int  # pages the oracle expects
    failed: int  # expected pages missing, misplaced or not 200/304
    store_bytes: int  # bytes under the store root after the unit
    store_pages: int  # pages the store holds with status 200 or 304
    checks: dict[str, bool] = field(default_factory=dict)
    # summed manifest counters of the unit's rounds, for the ratios
    flow: dict[str, int] = field(default_factory=dict)
    # wall time of each revalidate cycle: enqueue_recrawl plus its round
    cycle_secs: list[float] = field(default_factory=list)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, wanted) CPU ticks of the whole machine so far, from
    /proc/stat. Wanted ticks are those some task ran or was ready to run;
    stolen ones are those the hypervisor gave to another guest instead."""
    user, nice, system, _idle, _iowait, irq, softirq, steal = (
        int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


class Stopwatch:
    """Wall time since it was made, and that time net of the host's steal.

    On a shared host the hypervisor takes the guest's CPUs away for spells
    that last minutes, which stretches every wall time by the stolen share
    of the CPU time the run wanted. The net time scales the wall time down
    by that share: what the run would have taken on CPUs of its own."""

    def __init__(self) -> None:
        self.t, self.ticks = time.perf_counter(), cpu_ticks()

    def read(self) -> tuple[float, float]:
        """(wall seconds, net seconds) since the stopwatch was made."""
        wall = time.perf_counter() - self.t
        steal, wanted = (b - a for a, b in zip(self.ticks, cpu_ticks()))
        share = steal / wanted if wanted else 0.0
        return wall, wall * (1 - share)


def dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


def politeness(per_host: float) -> PolitenessConfig:
    return PolitenessConfig(per_host_rate=float(per_host), round_seconds=1.0, max_in_flight=10)


def crawl_to_end(eng: CrawlEngine, rnd: int = 0) -> tuple[int, list[float]]:
    """Run rounds from `rnd` until the engine reports done; return the
    last round and each round's net time."""
    round_secs = []
    while True:
        watch = Stopwatch()
        done = eng.run_round(rnd)["counters"]["done"]
        round_secs.append(watch.read()[1])
        if done:
            return rnd, round_secs
        rnd += 1


def round_flow(store: SnapshotStore, rounds: list[int]) -> dict[str, int]:
    """Frontier in, candidates, fetched, discovered, deferred and frontier
    out of the given rounds, from their committed manifests."""
    flow = dict.fromkeys(("frontier_in", "candidates", "fetched", "discovered",
                          "deferred", "frontier_out", "revalidated"), 0)
    for r in rounds:
        c = store.manifest(r)["counters"]
        prev = store.manifest(r - 1)["tables"].get("frontier", 0) if r > 0 else c["candidates"]
        flow["frontier_in"] += prev + c.get("recrawl_enqueued", 0)
        flow["candidates"] += c["candidates"]
        flow["fetched"] += c["fetched"]
        flow["discovered"] += c.get("discovered_raw", 0)
        flow["deferred"] += c["candidates"] - c["fetched"]
        flow["frontier_out"] += c.get("frontier_next", 0)
        flow["revalidated"] += c.get("revalidated", 0)
    return flow


def typed_rows(store: SnapshotStore, upto: int) -> int:
    """Rows the extraction tables hold in rounds 0..upto, from manifests."""
    return sum(n for r in range(upto + 1)
               for t, n in store.manifest(r)["tables"].items() if t in EXTRACTION_TABLES)


class CrawlMultiround:
    """A crawl's life cycle on a 16-host, page_weight=8 site: crawl from
    the seeds with extraction on until the frontier is empty, compacting
    url_seen and documents on the way, then the revalidate cycle:
    enqueue_recrawl marks every page due and one revalidate=True round
    answers 304 for all of them. Small rounds, so per-round fixed cost
    decides.

    Round 0 runs untimed as warm-up: it carries the session's cold start.
    The unit times the rest of the crawl and the cycle. The compaction,
    the enqueue and the revalidating round are not warmed apart: each
    would add its own cold run to the set-up of every run, and a full
    series of benchmark runs must fit a fixed time. One unit per run: a
    second one would need a warm round of its own."""

    name = "crawl_multiround"
    unit_s = 60.0  # nominal unit time; round(--seconds / unit_s) units are timed
    setup_repeats = 3
    budget = 32  # pages per host per round: 3 fetch rounds + the empty one
    compact_every = 2  # so the timed rounds pass one url_seen/documents compaction
    warm_rounds = 1

    def __init__(self, spark, seed: int, work: Path):
        self.spark, self.work = spark, work
        self.site = SiteConfig(hosts=HOSTS, n_projects=600, n_persons=240, n_institutions=60,
                               hits_per_page=50, seed=seed, page_weight=8)
        self.settings = CrawlSettings(n_buckets=N_BUCKETS, compact_every=self.compact_every,
                                      extract=True, politeness=politeness(self.budget))
        self.oracle = None
        self._started = None

    def prepare(self) -> None:
        self.oracle = simulate_crawl(self.site, per_host_budget=self.budget, max_rounds=60,
                                     n_buckets=N_BUCKETS)
        if self.oracle.frontier_left:
            raise RuntimeError("oracle crawl did not finish")

    def _start(self, i: int) -> tuple[SnapshotStore, CrawlEngine]:
        """Seed a fresh crawl and run its warm rounds, untimed."""
        store = SnapshotStore(self.spark, self.work / f"crawl{i}")
        eng = CrawlEngine(self.spark, self.site, store, self.settings)
        for rnd in range(self.warm_rounds):
            eng.run_round(rnd)
        return store, eng

    def warm_up(self) -> None:
        self._started = self._start(0)

    def unit(self, i: int, transport=None) -> Unit:
        store, eng = self._started or self._start(i)
        self._started = None
        eng.transport = transport
        unit_watch = Stopwatch()
        last, round_secs = crawl_to_end(eng, self.warm_rounds)
        # one round refetches every due page: the budget covers them all
        reval = CrawlEngine(self.spark, self.site, store, replace(
            self.settings, revalidate=True, extract=False,
            politeness=politeness(len(self.oracle.seen))))
        reval.transport = transport
        watch = Stopwatch()
        n_due = reval.enqueue_recrawl(now_round=last + 100)
        t_enq = watch.read()[1]
        watch = Stopwatch()
        reval.run_round(last + 1)
        t_round = watch.read()[1]
        wall, secs = unit_watch.read()
        unit = self._check(store, last, n_due)
        unit.secs, unit.wall_secs, unit.round_secs = secs, wall, round_secs + [t_round]
        unit.cycle_secs = [t_enq + t_round]
        shutil.rmtree(store.root)
        return unit

    def _check(self, store: SnapshotStore, crawl_upto: int, n_due: int) -> Unit:
        """The committed (url, round, seq) trace and URL-seen set must equal
        the oracle crawl's; the revalidating round must answer 304 for
        exactly the due pages and leave the typed tables' row counts as
        they were."""
        latest = crawl_upto + 1
        rows = store.read_union("url_seen", latest).select("url", "round", "seq", "status").collect()
        crawl = [r for r in rows if r["round"] <= crawl_upto]
        # the site's dead links answer 404 in the oracle too: they are part
        # of the trace, not pages the crawl is expected to commit
        want_ok = set(self.oracle.docs)
        want = {t for t in self.oracle.trace if t[2] in want_ok}
        got = {(r["round"], r["seq"], r["url"]) for r in crawl if r["status"] in OK}
        timed_ok = sum(1 for r in crawl if r["round"] >= self.warm_rounds and r["status"] in OK)
        got_304 = {r["url"] for r in rows if r["round"] == latest and r["status"] == 304}
        checks = {
            "trace_equals_oracle":
                {(r["round"], r["seq"], r["url"]) for r in crawl} == set(self.oracle.trace),
            "seen_set_equals_oracle": {r["url"] for r in crawl} == set(self.oracle.seen),
            "compacted": crawl_upto >= self.compact_every,
            "all_due": n_due == len(want_ok),
            "revalidated_equals_due": got_304 == want_ok
            and store.manifest(latest)["counters"]["revalidated"] == n_due,
            "typed_rows_unchanged": typed_rows(store, latest) == typed_rows(store, crawl_upto) > 0,
        }
        return Unit(
            secs=0.0, wall_secs=0.0, round_secs=[], pages=timed_ok + len(got_304),
            expected=len(want) + len(want_ok),
            failed=len(want - got) + len(got - want) + len(want_ok - got_304),
            store_bytes=dir_bytes(store.root), store_pages=len(got) + len(got_304), checks=checks,
            flow=round_flow(store, list(range(self.warm_rounds, latest + 1))),
        )


class SteadyRound:
    """One engine round over a pre-seeded frontier of detail pages, 30% of
    them already seen, extraction off, a budget that fetches every
    candidate. Work proportional to the data decides: the seen
    anti-join, the fetch UDF, the documents encode and discovery."""

    name = "steady_round"
    unit_s = 10.0
    setup_repeats = 3
    n_urls = 10000
    seen_per_10 = 3

    def __init__(self, spark, seed: int, work: Path):
        self.spark, self.seed, self.work = spark, seed, work
        n_proj, n_pers = int(self.n_urls * 0.65), int(self.n_urls * 0.25)
        self.site = SiteConfig(hosts=HOSTS, n_projects=n_proj, n_persons=n_pers,
                               n_institutions=self.n_urls - n_proj - n_pers,
                               hits_per_page=50, seed=seed, page_weight=8)
        self.settings = CrawlSettings(n_buckets=N_BUCKETS, extract=False,
                                      politeness=politeness(self.n_urls))
        self.base = work / "steady_base"
        self.expected: set[str] = set()

    def _frontier(self):
        parts = []
        for rtype, urltype, n in (("project", "projekt", self.site.n_projects),
                                  ("person", "person", self.site.n_persons),
                                  ("institution", "institution", self.site.n_institutions)):
            base = self.site.id_base[rtype]
            parts.append(
                self.spark.range(n)
                .select((F.lit(base) + F.col("id")).cast("string").alias("resource_id"))
                .select(
                    F.format_string(
                        "https://h%02d.gepris.example.org/gepris/" + urltype + "/%s?language=en",
                        (F.col("resource_id").cast("long") % len(HOSTS)).cast("int"),
                        "resource_id",
                    ).alias("url"),
                    F.lit(rtype).alias("resource_type"),
                    "resource_id",
                )
            )
        df = parts[0].unionByName(parts[1]).unionByName(parts[2])
        return df.select(
            "url",
            F.regexp_extract("url", "^https://([^/]*)/", 1).alias("host"),
            "resource_type", "resource_id",
            F.lit(1).cast("int").alias("crawl_depth"),
            F.lit(1).cast("int").alias("priority"),
            F.lit(0).cast("int").alias("discovered_round"),
        )

    def prepare(self) -> None:
        """Write round 0 of the base store: the frontier, and the seen set
        with a seed-chosen 30% of it."""
        shutil.rmtree(self.base, ignore_errors=True)
        store = SnapshotStore(self.spark, self.base)
        frontier = self._frontier()
        pre_seen = F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(10)) < self.seen_per_10
        seen = frontier.filter(pre_seen).select(
            F.xxhash64("url").alias("url_hash"), "url",
            F.lit(0).cast("int").alias("round"),
            F.col("resource_id").cast("long").alias("seq"),
            F.lit(200).cast("int").alias("status"),
            "host",
        )
        n_seen = store.write_table("url_seen", 0, seen)
        n_frontier = store.write_table("frontier", 0, frontier)
        store.commit(0, {"url_seen": n_seen, "frontier": n_frontier},
                     {"round": 0, "seen_total": n_seen, "frontier_next": n_frontier, "done": False})
        self.expected = {r["url"] for r in frontier.filter(~pre_seen).select("url").collect()}

    def warm_up(self) -> None:
        """The unit's round on a throwaway copy of the base store. It carries
        the session's cold start; a warm-up round on less data left the
        timed round on a steeper part of the JVM's warm-up, which spread the
        timed rounds of different runs further apart."""
        root = self.work / "steady_warm"
        shutil.copytree(self.base, root)
        CrawlEngine(self.spark, self.site, SnapshotStore(self.spark, root), self.settings).run_round(1)
        shutil.rmtree(root)

    def unit(self, i: int, transport=None) -> Unit:
        root = self.work / f"steady{i}"
        shutil.copytree(self.base, root)
        store = SnapshotStore(self.spark, root)
        eng = CrawlEngine(self.spark, self.site, store, self.settings)
        eng.transport = transport
        watch = Stopwatch()
        eng.run_round(1)
        wall, secs = watch.read()
        rows = store.read_state("url_seen", 1).select("url", "status").collect()
        got = {r["url"] for r in rows if r["status"] in OK}
        unit = Unit(
            secs=secs, wall_secs=wall, round_secs=[secs], pages=len(got), expected=len(self.expected),
            failed=len(self.expected - got) + len(got - self.expected),
            store_bytes=dir_bytes(root), store_pages=len(got),
            checks={"fetched_equals_frontier_minus_seen": got == self.expected
                    and len(rows) == len(got)},
            flow=round_flow(store, [1]),
        )
        shutil.rmtree(root)
        return unit


WORKLOADS = {w.name: w for w in (CrawlMultiround, SteadyRound)}
