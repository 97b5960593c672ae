"""The crawl round loop: frontier Δ seen -> politeness schedule -> fetch ->
extract -> snapshot commit. Deterministic, resumable, idempotent per round.

Reference lifecycle mapping (SURVEY.md §3.1): the reference runs stage 0-3
sequentially in one process; here each crawl round is one batch DAG over
the snapshot store, and stages are expressed as DataFrame transformations
fused by Catalyst. Resume (§3.2) = continue from the latest committed
manifest; a crashed round re-runs deterministically because all of its
inputs live in round k-1 snapshots and the synthetic network is a pure
function of the URL.

Error semantics: the reference throws on non-200 and dies
(CrawledResourceDetailDataGraph.scala:43-46); here non-200 rows land in a
`fetch_errors` quarantine table AND are marked seen (no refetch storms),
so a failed page never blocks the crawl.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.functions import extraction as X
from ba_gepris_crawler_spark.operators import frontier as FR
from ba_gepris_crawler_spark.operators.cookies import CookieJar
from ba_gepris_crawler_spark.operators import url_seen as US
from ba_gepris_crawler_spark.operators.fetch import fetch_pages, to_documents
from ba_gepris_crawler_spark.operators.politeness import (
    MANY_HOSTS_THRESHOLD,
    PolitenessConfig,
    schedule_round,
)
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.schema import URL_SEEN_SCHEMA
from ba_gepris_crawler_spark.sources.synthetic_site import OFFICIAL_SUBJECT_AREAS, SiteConfig


@dataclass
class CrawlSettings:
    n_buckets: int = 32
    politeness: PolitenessConfig = field(default_factory=PolitenessConfig)
    bloom_fpp: float = 0.01
    bloom_expected_items: int = 1 << 17  # sizes m once; incremental OR after
    extract: bool = True
    # every K committed rounds, merge url_seen delta dirs into one
    # hash-clustered snapshot (SnapshotStore.compact) so the seen union and
    # the exact anti-join right side stop growing with round count. 0 = off.
    compact_every: int = 8
    # "html" (spans parsed on the fetch worker) or "json" (S7: raw
    # JSON-API bodies parsed in the plan via from_json — byte-equal output)
    fetch_format: str = "html"
    # open-web frontier hygiene: drop crawler-trap URLs (over-long, over-
    # deep, parameter-exploded, repeated-segment loops) from discovered
    # candidates before they enter the frontier. None = off (the synthetic
    # GEPRIS site cannot produce traps; real discovery feeds should pass
    # e.g. {} for the operators/frontier.py trap_heuristics defaults).
    trap_limits: dict | None = None
    # follow HTTP 3xx: redirect targets become frontier candidates for the
    # NEXT round (operators/redirects.round_redirect_frontier) — one hop per
    # round, loops defused by the seen anti-join, depth +1 per hop. Off by
    # default: the reference treats every non-200 as fatal, and with this
    # off a 3xx is just another quarantined status row.
    follow_redirects: bool = False
    # conditional revalidation for recrawl refetches (operators/
    # revalidate.py): enqueue_recrawl stages each due URL's content-
    # addressed validator; the refetch sends If-None-Match and an
    # unchanged page answers 304 — re-seen and budget-charged, no body,
    # no re-parse, no typed re-extraction. Servers that ignore the
    # validator still skip re-extraction via the plan-side unchanged-hash
    # cut. Off by default: the reference crawls once and never
    # revalidates, and passing validators requires a transport whose
    # fetch_batch accepts `etags` (both shipped transports do).
    revalidate: bool = False
    # per-host circuit breaker (operators/backpressure.py): after a round,
    # a host with >= min_fetches attempts whose transient-failure rate
    # (408/429/5xx/598/599) reaches error_rate is suspended for
    # suspend_rounds rounds — its candidates defer (non-lossy, like
    # budget-cut overflow) instead of burning politeness budget on fetches
    # that will quarantine anyway. None = off (reference behavior: one
    # host, fail-fast). Pass e.g. {} for the operator defaults or
    # {"min_fetches": 8, "error_rate": 0.5, "suspend_rounds": 4}.
    circuit_breaker: dict | None = None

    def __post_init__(self) -> None:
        # every round repartitions by host_bucket = crc32(url) % n_buckets:
        # reject a zero bucket count before a crawl writes its config
        if self.n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {self.n_buckets}")


class CrawlEngine:
    def __init__(self, spark: SparkSession, site: SiteConfig, store: SnapshotStore, settings: CrawlSettings | None = None):
        self.spark = spark
        self.site = site
        self.store = store
        self.s = settings or CrawlSettings()
        self._bloom = None  # incremental bloom state (rebuilt on resume)
        self._bloom_round: int = -10
        # Optional per-host budgets RELATION (host, budget int[, rate
        # double]) — robots Crawl-delay politeness, the only per-host rate
        # override (operators/politeness.crawl_delay_budgets over fetched
        # bodies). A DataFrame, so it lives outside the serialized
        # CrawlSettings (config replay stays pure literals); callers that
        # fetch robots as data set it once and every round's scheduler +
        # fetch-cost model honor it. The engine localCheckpoints it on
        # first use (else every round would re-parse every robots body
        # through the mapInPandas plan),
        # records its use in the manifest counters, and resume() refuses
        # to continue without it (the relation is data the manifest cannot
        # replay — silently dropping it would change politeness mid-crawl).
        self.budgets_df: DataFrame | None = None
        self._budgets_ckpt = False
        # Optional robots RULES relation (ROBOTS_RULES_SCHEMA rows —
        # politeness.parse_robots_rules_distributed over fetched bodies):
        # every round's schedulable candidates pass the longest-match
        # Allow/Disallow evaluation (politeness.apply_robots_rules) before
        # politeness budgeting. Disallowed URLs DROP (robots says never
        # fetch — unlike breaker suspensions they must not defer) and
        # never enter url_seen, so a rediscovered disallowed link is
        # re-filtered, not re-fetched. Same lifecycle as budgets_df: live
        # data, localCheckpointed on first use, recorded in manifests,
        # resume() refuses to continue without it.
        self.rules_df: DataFrame | None = None
        self._rules_ckpt = False
        # Pluggable network seam (operators/transport.py): None = the
        # in-process SyntheticTransport; set an HttpTransport to crawl
        # over real sockets. Like budgets_df it is a live object, not
        # serialized config — resume() keeps whatever the caller set on
        # the instance (the synthetic default replays identically).
        self.transport = None
        # Optional extra-seed RELATION (one `url` column — e.g. sitemap
        # <loc> entries via operators/sitemaps.parse_sitemap_entries):
        # round 0 merges site-representable rows
        # (frontier.frontier_rows_from_urls) into the catalog seeds. A
        # live DataFrame like budgets_df; only round 0 consumes it, so
        # resume needs no replay guard (round 0 is already committed).
        self.seed_urls_df: DataFrame | None = None
        # Staged recrawl set (enqueue_recrawl): frontier rows whose URLs
        # re-enter the crawl; consumed by the next run_round, which also
        # commits the matching seen-tombstones delta so the readmission
        # replays on resume.
        self._recrawl_df: DataFrame | None = None
        # Staged (url, etag) validators for the recrawl due set (settings.
        # revalidate): consumed by the same run_round that consumes
        # _recrawl_df; derived state, so resume simply re-stages it.
        self._recrawl_validators: DataFrame | None = None
        # session cookie cache (one Set-Cookie fetch+parse per epoch;
        # reference: CookieFlowGraph.scala:30-58)
        self._jar = CookieJar()

    # ---------------- state loading ----------------
    def _prev_state(self, rnd: int, frontier: DataFrame | None = None) -> tuple[DataFrame, DataFrame]:
        if rnd == 0:
            frontier = FR.seed_frontier(self.spark, self.site)
            if self.seed_urls_df is not None:
                # extra seeds (e.g. sitemap locs): site-representable URLs
                # become depth-0 frontier rows next to the catalog seeds
                frontier = FR.merge_frontier(
                    frontier,
                    FR.frontier_rows_from_urls(self.seed_urls_df, next_round=0),
                )
            seen = self.spark.createDataFrame([], URL_SEEN_SCHEMA)
        else:
            if frontier is None:
                frontier = self.store.read_state("frontier", rnd - 1)
            seen = self.store.read_union("url_seen", rnd - 1)
            if seen is None:
                seen = self.spark.createDataFrame([], URL_SEEN_SCHEMA)
            else:
                # recrawl tombstones: a (url, upto) row cancels that URL's
                # seen rows THROUGH round `upto` — the refetch row (round >
                # upto) re-seens it, so a tombstone is a one-shot
                # readmission, not a permanent hole. Bounded: tombstones
                # exist only for enqueued recrawl sets, and the join is
                # co-keyed on url like every other seen-side op.
                tomb = self.store.read_union("seen_tombstones", rnd - 1)
                if tomb is not None:
                    t = tomb.groupBy("url").agg(F.max("upto").alias("_upto"))
                    seen = (
                        seen.join(t, "url", "left")
                        .filter(F.col("_upto").isNull() | (F.col("round") > F.col("_upto")))
                        .drop("_upto")
                    )
        return frontier, seen

    # ---------------- one round ----------------
    def run_round(self, rnd: int, frontier: DataFrame | None = None) -> dict:
        """Run and commit round `rnd`. `frontier`, when given, stands in for
        the committed round rnd-1 frontier table (a stream micro-batch
        passes that table as the file source delivered it)."""
        s = self.s
        frontier_prev, seen = self._prev_state(rnd, frontier)
        recrawl = self._recrawl_df
        if recrawl is not None:
            # staged refetch set (enqueue_recrawl): rows join the frontier,
            # and their PAST seen rows drop for this round (the persisted
            # tombstone delta below replays the same exclusion for later
            # rounds + resume). The bloom gate may still flag them
            # maybe-seen (bloom bits are never cleared) — harmless, the
            # exact anti-join against this effective seen set admits them.
            frontier_prev = FR.merge_frontier(frontier_prev, recrawl)
            seen = seen.join(recrawl.select("url"), "url", "left_anti")
        seen = seen.cache()
        # ONE manifest read per round (resume-critical path): counters are
        # carried forward, so no per-round count jobs and no re-reads
        prev_counters = None if rnd == 0 else self.store.manifest(rnd - 1)["counters"]
        n_seen = 0 if prev_counters is None else prev_counters.get("seen_total", 0)

        bloom = None
        if n_seen > 0:
            if self._bloom is None:
                # resume path: load the persisted bitmap instead of
                # rebuilding from the full seen union (at 10^10 URLs the
                # rebuild is a full-scan job per resume). Tag r = usable at
                # round r, i.e. covers deltas through r-1; accept one round
                # behind — the incremental arm below ORs the gap delta.
                for upto in (rnd, rnd - 1):
                    loaded = self.store.load_bloom(upto)
                    if loaded is None:
                        continue
                    import numpy as np

                    bits, meta = loaded
                    self._bloom = US.BloomFilterModel(
                        bits=np.frombuffer(bits, dtype=np.uint8).copy(),
                        m=meta["m"], k=meta["k"],
                        # the EXACT persisted insertion count: seeding from
                        # the manifest's seen_total overcounted by one
                        # round's delta, inflating estimated_fpp toward
                        # spurious full rebuilds (review r5 final #3)
                        n_items=meta.get("n_items", n_seen),
                        version=meta["version"],
                    )
                    self._bloom_round = upto
                    break
            if (
                self._bloom is not None
                and self._bloom_round in (rnd, rnd - 1)
                # saturation gate: a filter outgrowing its sizing degrades
                # fpp silently (n_items grows each update, so this is now
                # detectable); past ~4x the design fpp the admission gate
                # stops earning its keep — rebuild resized (n_seen * 4
                # headroom) instead of updating in place
                and self._bloom.estimated_fpp() <= min(4 * s.bloom_fpp, 0.5)
            ):
                if self._bloom_round == rnd - 1:
                    # incremental: OR in only last round's delta
                    delta = self.store.read_state("url_seen", rnd - 1)
                    bloom = US.update_bloom(self._bloom, delta)
                else:
                    # already covers deltas through rnd-1 (round-0 bootstrap
                    # at round 1, or a resume that loaded the exact-tag
                    # snapshot): ORing the delta again is NOT harmless —
                    # bits are idempotent but n_items is not, and the
                    # double count walks estimated_fpp into the saturation
                    # gate early (review r5 final #3)
                    bloom = self._bloom
            else:
                bloom = US.build_bloom(
                    seen, expected_items=max(n_seen * 4, s.bloom_expected_items), fpp=s.bloom_fpp, version=rnd
                )

        # J1: the core frontier anti-join (exact; the bloom flag is a join
        # residual — every frontier row still enters the join)
        candidates = US.new_urls(frontier_prev, seen, bloom).cache()
        # The frontier written at round k-1 was already anti-joined against
        # the full seen set, and new_urls is exact (the bloom only flags), so
        # |candidates| == the frontier_next count carried in the manifest —
        # no count job needed except at round 0 / hand-seeded stores. The
        # shortcut is gated on the frontier_exact manifest flag: only
        # engine-written frontiers carry it (a hand-seeded frontier, e.g.
        # the bench steady harness with 30% pre-seen URLs, does not, and
        # gets an honest count).
        n_candidates = (
            prev_counters.get("frontier_next")
            if prev_counters is not None and prev_counters.get("frontier_exact")
            # a staged recrawl set changes the candidate count, and a
            # caller-passed frontier is not the table the count describes —
            # take the honest count
            and recrawl is None
            and frontier is None
            else None
        )
        if n_candidates is None:
            n_candidates = candidates.count()
        if n_candidates == 0:
            tables = {"frontier": self.store.write_table("frontier", rnd, candidates)}
            manifest = self.store.commit(rnd, tables, self._counters(rnd, n_seen, bloom, done=True))
            for df in (candidates, seen):  # the early return must not leak caches
                df.unpersist()
            if bloom is not None and bloom is not self._bloom:
                bloom.unpersist_broadcast()  # never became engine state
            return manifest

        # circuit breaker: candidates of currently-suspended hosts defer
        # (they rejoin the next frontier below, the same non-lossy path as
        # budget-cut overflow); the suspensions relation is committed
        # state, so resume replays the exact same skips
        sched_cand, suspended_cand = candidates, None
        if s.circuit_breaker is not None and rnd > 0:
            from ba_gepris_crawler_spark.operators import backpressure as BP

            susp = self.store.read_union("host_suspensions", rnd - 1)
            if susp is not None:
                # both splits reuse the cached candidates frame
                sched_cand, suspended_cand = BP.split_suspended(
                    candidates, BP.active_suspensions(susp, rnd)
                )

        # size-aware offsets-join strategy: broadcast for a small host
        # universe, co-keyed shuffle join when hosts x depths x priorities
        # x B would make the broadcast a driver-scale round-trip
        # (crossover rationale lives with the constant in politeness.py)
        many_hosts = len(self.site.hosts) > MANY_HOSTS_THRESHOLD
        if self.rules_df is not None and not self._rules_ckpt:
            # materialize ONCE — an unpersisted rules plan would re-parse
            # every robots body through mapInPandas every round
            self.rules_df = self.rules_df.localCheckpoint(eager=True)
            self._rules_ckpt = True
        if self.budgets_df is not None and not self._budgets_ckpt:
            # materialize the budgets relation ONCE — an unpersisted
            # crawl_delay_budgets plan would re-parse every robots body
            # every round through the mapInPandas stage
            self.budgets_df = self.budgets_df.localCheckpoint(eager=True)
            self._budgets_ckpt = True
        fetch_now, deferred = schedule_round(
            sched_cand, s.politeness, s.n_buckets, many_hosts=many_hosts,
            budgets_df=self.budgets_df, rules_df=self.rules_df,
        )
        # session cookie: refreshed once per epoch, broadcast into the fetch
        epoch = rnd // self.site.session_rounds if self.site.session_rounds else 0
        token = (
            self._jar.get(self.site, epoch, transport=self.transport)
            if self.site.session_rounds else None
        )
        staged_validators = self._recrawl_validators if recrawl is not None else None
        fetched = fetch_pages(
            fetch_now, self.site, s.n_buckets,
            session_token=token, epoch=epoch, fmt=s.fetch_format,
            transport=self.transport, validators=staged_validators,
        )

        # WRITE-ONCE layout: the fetch stage streams straight into the round's
        # documents table (all rows incl. quarantined errors + politeness
        # lineage columns). Every later pass — stats, crawl log, discovery,
        # extraction — re-reads the written parquet with column pruning
        # instead of holding a second in-memory columnar copy of every span
        # payload (cache build was the round's biggest non-fetch cost, and at
        # 100 TB a cache of the fetch output cannot exist anyway).
        docs_full = to_documents(fetched, rnd, keep_errors=True)
        tables = {"documents": self.store.write_table("documents", rnd, docs_full)}
        docs_stored = self.store.read_state("documents", rnd)
        docs = docs_stored.filter(F.col("status") == 200)

        # ONE stats aggregate (pruned parquet read — never touches spans)
        # feeds the per-partition lineage AND the trace offsets. Stays a
        # DataFrame: only the B-row per-bucket lineage (manifest-bound by
        # definition) is ever collected; the per-host offsets are computed
        # as window cumsums and broadcast-joined, so host cardinality never
        # flows through the driver (VERDICT r2 #2 — the old collect was
        # O(hosts x depths x priorities x B) rows per round).
        # metadata-sized (hosts x depths x priorities x B rows) — cached so
        # the lineage collect below ALSO materializes it and the url_seen
        # write's offset subtree reuses it instead of re-reading + re-
        # aggregating the documents parquet a second time
        stats = docs_stored.groupBy("crawl_depth", "priority", "host", "host_bucket").agg(
            F.count("*").alias("n"),
            F.min("host_rank").alias("min_rank"),
            F.max("virtual_cost_sec").alias("cost"),
            # 304 = revalidated-unchanged (settings.revalidate): a
            # successful conditional refetch, NOT an error and NOT a
            # followable redirect (redirects.REDIRECT_STATUSES excludes it)
            F.sum(F.when(~F.col("status").isin(200, 304), 1).otherwise(0)).alias("errs"),
            F.sum(F.when(F.col("status").between(300, 399) & (F.col("status") != 304), 1)
                  .otherwise(0)).alias("redirs"),
            F.sum(F.when(F.col("status") == 304, 1).otherwise(0)).alias("revals"),
        ).cache()
        bucket_rows = (
            stats.groupBy("host_bucket")
            .agg(
                F.sum("n").alias("fetched"),
                F.max("cost").alias("virtual_cost_sec"),
                F.sum("errs").alias("errs"),
                F.sum("redirs").alias("redirs"),
                F.sum("revals").alias("revals"),
            )
            .orderBy("host_bucket")
            .collect()
        )
        lineage_rows = [
            {"host_bucket": r["host_bucket"], "fetched": int(r["fetched"]),
             "virtual_cost_sec": float(r["virtual_cost_sec"])}
            for r in bucket_rows
        ]
        n_errors = int(sum(r["errs"] for r in bucket_rows))

        # deterministic crawl-order trace WITHOUT a global sort: seq =
        # group_offset(depth, priority, host) + position-in-group, where the
        # position is host_rank - min_rank (host_ranks are contiguous within
        # a group because they order by (depth, priority, url)). The offsets
        # are two-level window cumsums over metadata-sized frames — a global
        # Window.orderBy over the data would serialize the round through one
        # partition: level A orders hosts WITHIN each (depth, priority)
        # partition (≤ hosts rows per partition, metadata-sized); level B is
        # a global cumsum over the depths x priorities totals (constant-
        # sized). grp_off(d, p, h) = dp_off(d, p) + rows of earlier hosts
        # within (d, p) — identical to the old sorted(d, p, h) driver loop.
        host_grp = stats.groupBy("crawl_depth", "priority", "host").agg(
            F.sum("n").alias("n"), F.min("min_rank").alias("min_rank")
        )
        w_in_dp = (
            Window.partitionBy("crawl_depth", "priority")
            .orderBy("host")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_dp = (
            Window.orderBy("crawl_depth", "priority")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        dp_off = (
            host_grp.groupBy("crawl_depth", "priority")
            .agg(F.sum("n").alias("dp_n"))
            .withColumn("dp_off", F.coalesce(F.sum("dp_n").over(w_dp), F.lit(0)))
            .drop("dp_n")
        )
        off_df = (
            host_grp.withColumn("off_in_dp", F.coalesce(F.sum("n").over(w_in_dp), F.lit(0)))
            .join(F.broadcast(dp_off), ["crawl_depth", "priority"])
            .select(
                "crawl_depth", "priority", "host",
                (F.col("dp_off") + F.col("off_in_dp")).alias("grp_off"),
                "min_rank",
            )
        )
        # the consolidated crawl log: seen-set + deterministic trace +
        # fetch status (errors quarantined by status != 200) in ONE table.
        crawl_log = (
            # same size-aware strategy as the scheduler's offsets join
            docs_stored.join(off_df if many_hosts else F.broadcast(off_df),
                             ["crawl_depth", "priority", "host"])
            .select(
                F.xxhash64("url").alias("url_hash"),
                "url",
                F.lit(rnd).cast("int").alias("round"),
                (F.col("grp_off") + F.col("host_rank") - F.col("min_rank") + 1).cast("long").alias("seq"),
                "status",
                "host",
            )
        )
        seen_delta = crawl_log  # url column is what downstream joins use

        # link discovery -> next frontier (pruned re-read of the written
        # documents: only spans of 200-rows); the raw discovery count is
        # observed during the frontier write, not a separate job.
        disc_obs = Observation(f"disc-{rnd}")
        disc = FR.discovered_urls(docs, self.site, rnd + 1).observe(disc_obs, F.count(F.lit(1)).alias("n"))
        if s.follow_redirects:
            # 3xx targets -> next-round frontier candidates; same seen
            # anti-join, same trap hygiene, same politeness as any
            # discovered URL (operators/redirects.redirect_frontier)
            from ba_gepris_crawler_spark.operators.redirects import round_redirect_frontier

            disc = disc.unionByName(round_redirect_frontier(docs_stored, rnd + 1))
        if s.trap_limits is not None:
            # trap hygiene fuses into the discovery scan (no UDF, no shuffle)
            disc = FR.drop_traps(disc, **s.trap_limits)
        # left_anti is duplicate-tolerant on the right side, so the seen
        # union needs NO dropDuplicates — that was a second full shuffle of
        # the entire seen set every round (unbounded at 10^10 URLs).
        # this round's fetched urls == docs_stored's url column (crawl_log is
        # a 1:1 broadcast join over it) — using docs_stored directly keeps
        # the crawl-log offset subtree OUT of the frontier write's plan
        seen_after = seen.select("url").unionByName(docs_stored.select("url"))
        pending = FR.merge_frontier(deferred, disc)
        if suspended_cand is not None:
            # circuit-broken hosts' candidates re-enter the frontier; they
            # were never fetched, so the seen anti-join below keeps them
            pending = FR.merge_frontier(pending, suspended_cand)
        next_frontier = pending.join(seen_after, "url", "left_anti")

        # NB: these two writes are independent, but running them as
        # concurrent jobs measured NEUTRAL-to-WORSE on the steady bench
        # (8-core 4-executor harness: stage interleaving under the shared
        # memory bus) — kept sequential; a real cluster with idle slots
        # could parallelize them via a thread pool like the extract writes.
        tables["url_seen"] = self.store.write_table("url_seen", rnd, seen_delta)
        tables["frontier"] = self.store.write_table("frontier", rnd, next_frontier)
        if s.circuit_breaker is not None:
            # trip evaluation on THIS round's fetches only (fresh evidence;
            # old errors never re-trip a lapsed host). Committed as a delta
            # so resume replays identical skips. One pruned (host, status)
            # re-read of the round's documents; the output is
            # tripped-hosts-sized and empty most rounds.
            from ba_gepris_crawler_spark.operators import backpressure as BP

            tables["host_suspensions"] = self.store.write_table(
                "host_suspensions", rnd,
                BP.tripped_hosts(docs_stored, rnd + 1, **s.circuit_breaker),
            )
        if recrawl is not None:
            # persist the readmission: (url, upto=rnd-1) cancels every seen
            # row written BEFORE this round, while this round's refetch row
            # (round = rnd > upto) re-seens the URL — resume replays the
            # exact same effective seen set from the store alone
            tables["seen_tombstones"] = self.store.write_table(
                "seen_tombstones", rnd,
                recrawl.select("url", F.lit(rnd - 1).cast("int").alias("upto")),
            )

        # the frontier write above executed the discovery sub-plan; the
        # observed metric is available now without its own job
        n_discovered_raw = int(disc_obs.get["n"])

        if s.extract:
            from concurrent.futures import ThreadPoolExecutor

            # details (the parsed-fields struct) feeds 4 typed outputs —
            # cache it once rather than re-running the extraction kernel per
            # table; the independent writes run as concurrent Spark jobs so
            # idle task slots of one write serve another.
            # prepare_details drops the span payload from the cached frame
            # (title + institution links precomputed) — half the persisted
            # bytes, and no downstream pass re-scans span text
            extract_src = docs.filter(F.col("resource_id").isNotNull())
            if staged_validators is not None:
                # plan-side unchanged cut (servers without revalidation
                # support return a full 200 for unchanged content): a
                # refetch whose payload hashes to the staged validator is
                # already extracted in the store — re-extracting would
                # duplicate its typed rows at this round. With a
                # revalidating transport the 304 rows never reach `docs`,
                # so this join is a no-op over the residue.
                from ba_gepris_crawler_spark.operators.revalidate import unchanged_urls

                extract_src = extract_src.join(
                    unchanged_urls(docs, staged_validators), "url", "left_anti"
                )
            details = X.prepare_details(extract_src).cache()
            projects = X.projects(details).cache()
            to_write = {
                "eav": X.eav(details),
                "projects": projects,
                "persons": X.persons(details),
                "institutions": X.institutions(details),
                **X.relation_tables(projects),
            }
            with ThreadPoolExecutor(max_workers=4) as pool:
                futs = {n: pool.submit(self.store.write_table, n, rnd, df) for n, df in to_write.items()}
                for n, fut in futs.items():
                    tables[n] = fut.result()
            projects.unpersist()
            details.unpersist()

        counters = self._counters(
            rnd, n_seen, bloom,
            candidates=n_candidates,
            fetched=tables["url_seen"],  # write-time metadata count
            errors=n_errors,  # every non-200 incl. redirects (quarantine class; 304 excluded)
            redirects=int(sum(r["redirs"] for r in bucket_rows)),
            revalidated=int(sum(r["revals"] for r in bucket_rows)),
            hosts_suspended=tables.get("host_suspensions", 0),
            recrawl_enqueued=tables.get("seen_tombstones", 0),
            discovered_raw=n_discovered_raw,
            frontier_next=tables["frontier"],
            seen_total=n_seen + tables["url_seen"],  # carried forward, no count job
            virtual_cost_sec=max((r["virtual_cost_sec"] for r in lineage_rows), default=0.0),
        )
        manifest = self.store.commit(rnd, tables, counters, lineage_rows)
        self._recrawl_df = None  # consumed; the tombstone delta is committed
        self._recrawl_validators = None
        if s.compact_every and rnd > 0 and rnd % s.compact_every == 0:
            # post-commit so a compaction crash never loses a round; the
            # round's own manifest is already visible. url_seen gets the
            # full hash-clustered rewrite (the anti-join layout); the
            # span-heavy documents table gets TIERED compaction — only the
            # rounds closed since the last tier are rewritten, and same-size
            # tiers merge logarithmically, so each span payload is rewritten
            # O(log n) times and the tier list stays O(log rows) (flat
            # per-round cost at any round count; BENCH/BASELINE.md).
            self.store.compact("url_seen", rnd, key_col="url", n_buckets=s.n_buckets)
            self.store.compact_tiered("documents", rnd, key_col="doc_id", n_buckets=s.n_buckets)
        bloom_advanced = False
        if bloom is not None:
            # release the SUPERSEDED model's bitmap broadcast (this round's
            # jobs used `bloom`, never the old model) — without this every
            # round leaked one bitmap-sized broadcast on the executors
            bloom_advanced = bloom is not self._bloom
            if self._bloom is not None and bloom_advanced:
                self._bloom.unpersist_broadcast()
            # _bloom_round = rnd: usable at round rnd (covers deltas
            # through rnd-1); next round's incremental arm ORs delta rnd
            self._bloom, self._bloom_round = bloom, rnd
        elif rnd == 0:
            # bootstrap the incremental filter from round 0's delta — it
            # covers delta 0, so it is usable at round 1 (_bloom_round=0
            # made round 1's incremental arm re-OR delta 0, double-counting
            # n_items; review r5 final #3)
            self._bloom = US.build_bloom(
                seen_delta, expected_items=s.bloom_expected_items, fpp=s.bloom_fpp, version=0
            )
            self._bloom_round = 1
            bloom_advanced = True
        if self._bloom is not None and bloom_advanced:
            # persist the bitmap so a RESUMED engine skips the full seen-set
            # rebuild (load_bloom + one delta OR instead of a full scan);
            # skipped when this round reused the model unchanged — the
            # identical snapshot is already on disk under the same tag
            self.store.save_bloom(
                self._bloom_round, self._bloom.bits.tobytes(), self._bloom.m,
                self._bloom.k, self._bloom.version, self._bloom.n_items,
            )
        for df in (candidates, seen, stats):
            df.unpersist()
        return manifest

    def _counters(self, rnd: int, n_seen: int, bloom, **work) -> dict:
        """Round `rnd`'s manifest counters. A fetching round and the empty
        round that ends a crawl commit the same key set: `work` overrides
        the zeros of the work an empty round does not do."""
        counters = {
            "round": rnd,
            "candidates": 0,
            "fetched": 0,
            "errors": 0,
            "redirects": 0,
            "revalidated": 0,
            "hosts_suspended": 0,
            "recrawl_enqueued": 0,
            "discovered_raw": 0,
            "frontier_next": 0,
            "frontier_exact": True,  # engine-written: already seen-anti-joined
            "seen_total": n_seen,
            "bloom": {"m": bloom.m, "k": bloom.k, "version": bloom.version} if bloom else None,
            "virtual_cost_sec": 0.0,
            "budgets_df": self.budgets_df is not None,
            "rules_df": self.rules_df is not None,
            "done": False,
            **work,
        }
        if self.site.session_rounds:
            counters["session_epoch"] = rnd // self.site.session_rounds
            counters["cookie_fetches"] = self._jar.fetches
        return counters

    # ---------------- loops ----------------
    def run(self, max_rounds: int = 50, start_round: int = 0) -> list[dict]:
        manifests = []
        for rnd in range(start_round, start_round + max_rounds):
            m = self.run_round(rnd)
            manifests.append(m)
            if m["counters"].get("done"):
                break
        return manifests

    def resume(self, max_rounds: int = 50) -> list[dict]:
        """Continue from the latest committed snapshot (GeprisCrawler
        resume-crawl analog, but manifest-driven instead of directory
        heuristics). Refuses to resume a crawl whose manifests record a
        budgets relation (counters.budgets_df) unless the caller has set
        engine.budgets_df again — the relation is DATA, not serialized
        config, and silently dropping it would relax politeness mid-crawl
        and diverge the url_seen trace from an uninterrupted run."""
        latest = self.store.latest_round()
        if latest is not None and self.budgets_df is None:
            if self.store.manifest(latest)["counters"].get("budgets_df"):
                raise ValueError(
                    "this crawl ran with a per-host budgets relation "
                    "(manifest counters.budgets_df=true); set "
                    "engine.budgets_df (e.g. crawl_delay_budgets over the "
                    "same robots bodies) before resume()"
                )
        if latest is not None and self.rules_df is None:
            if self.store.manifest(latest)["counters"].get("rules_df"):
                # same contract as budgets_df: silently dropping the rules
                # relation would fetch robots-disallowed URLs mid-crawl
                raise ValueError(
                    "this crawl ran with a robots rules relation (manifest "
                    "counters.rules_df=true); set engine.rules_df (e.g. "
                    "parse_robots_rules_distributed over the same robots "
                    "bodies) before resume()"
                )
        start = 0 if latest is None else latest + 1
        return self.run(max_rounds=max_rounds, start_round=start)

    def enqueue_recrawl(
        self,
        now_round: int | None = None,
        min_interval: int = 1,
        max_interval: int = 64,
        bootstrap_interval: int = 4,
    ) -> int:
        """Stage the DUE set of the change-rate revisit policy
        (operators/recrawl.recrawl_schedule, Cho & Garcia-Molina TODS'03)
        for the next run_round: per-URL change history comes from the
        crawl's OWN documents table (content hash = xxhash64 over the span
        payload), due URLs rejoin the frontier with their last-known
        metadata, and the consuming round commits a seen-tombstones delta
        so the readmission — and the refetch that re-seens each URL —
        replays deterministically on resume. Returns the number staged
        (0 = nothing due, nothing staged).

        Scale: history aggregation is one shuffle on url (window + groupBy
        co-partitioned, recrawl.py); the staged set is localCheckpointed
        executor-resident rows, never driver-collected."""
        from ba_gepris_crawler_spark.operators.recrawl import due_frontier, recrawl_schedule

        latest = self.store.latest_round()
        if latest is None:
            return 0
        docs = self.store.read_union("documents", latest)
        if docs is None:
            return 0
        ok = docs.filter(F.col("status") == 200)
        # 304 rows are observations too — a conditional refetch that
        # revalidated means "content unchanged at this round"; their hash
        # is NULL and recrawl_schedule forward-fills it from the last 200
        # (operators/recrawl.py). Without them a revalidating crawl would
        # never accumulate no-change evidence and every due URL would stay
        # on the bootstrap interval forever.
        hist = docs.filter(F.col("status").isin(200, 304)).select(
            "url",
            "round",
            F.when(
                F.col("status") == 200, F.xxhash64(F.to_json(F.col("spans"))).cast("string")
            ).alias("content_hash"),
        )
        sched = recrawl_schedule(
            hist,
            now_round=latest + 1 if now_round is None else now_round,
            min_interval=min_interval,
            max_interval=max_interval,
            bootstrap_interval=bootstrap_interval,
        )
        rows = due_frontier(sched, _last_known_meta(ok, latest + 1)).localCheckpoint(eager=True)
        n = rows.count()
        if n:
            self._recrawl_df = _union_staged(self._recrawl_df, rows)
        if n and self.s.revalidate:
            # stage each due URL's content-addressed validator (operators/
            # revalidate.py): one md5 per observation fused into a scan of
            # the same documents union, cut to the |due| set — the refetch
            # sends it as If-None-Match and unchanged pages answer 304.
            # Consumed and cleared by the same run_round.
            from ba_gepris_crawler_spark.operators.revalidate import validators_df

            vals = (
                validators_df(ok)
                .join(rows.select("url"), "url")
                .localCheckpoint(eager=True)
            )
            self._recrawl_validators = _union_staged(self._recrawl_validators, vals)
        return n

    def bootstrap_from_robots(self) -> dict:
        """Self-describing bootstrap — the open-web startup sequence over
        the site's OWN metadata endpoints, nothing hand-configured:

        1. fetch https://<host>/robots.txt for every configured host
           (operators/fetch.fetch_raw_bodies — executor-side, |hosts|
           rows, unauthenticated, outside politeness per RFC 9309);
        2. Crawl-delay lines -> the per-host budgets RELATION
           (politeness.crawl_delay_budgets), set as engine.budgets_df so
           every round's scheduler honors the site's own politeness;
        3. Allow/Disallow groups -> the robots rules RELATION
           (politeness.parse_robots_rules_distributed), set as
           engine.rules_df so every round's candidates pass longest-match
           robots evaluation before budgeting;
        4. Sitemap: lines -> fetch each sitemap -> parse urlset ->
           engine.seed_urls_df, merged into the round-0 frontier next to
           the catalog seeds. Seeds matter only to round 0, so a store
           that already committed a round skips this step.

        Call once before run(); returns counts. Resume note: budgets_df
        and rules_df are data, not config — a resumed engine re-runs this
        (or re-sets them) exactly like the --robots-file flow."""
        from ba_gepris_crawler_spark.operators.fetch import fetch_raw_bodies
        from ba_gepris_crawler_spark.operators.politeness import robots_relations
        from ba_gepris_crawler_spark.operators.sitemaps import (
            parse_sitemap_entries,
            sitemap_urls_from_robots,
        )

        hosts_df = self.spark.createDataFrame(
            [(h,) for h in self.site.hosts], "host string"
        )
        robots_urls = hosts_df.select(
            F.concat(F.lit("https://"), F.col("host"), F.lit("/robots.txt")).alias("url"),
            "host",
        )
        robots = (
            fetch_raw_bodies(robots_urls, self.site, transport=self.transport,
                             n_buckets=self.s.n_buckets)
            .filter(F.col("status") == 200)
            .select("host", F.col("body").alias("robots_txt"))
            .localCheckpoint(eager=True)  # one fetch feeds budgets AND discovery
        )
        n_robots = robots.count()
        self.budgets_df, self.rules_df = robots_relations(robots, self.s.politeness)
        # run_round materializes each once
        self._budgets_ckpt = self._rules_ckpt = False
        counts = {"hosts": len(self.site.hosts), "robots_fetched": n_robots}
        if self.store.latest_round() is not None:
            return counts
        sm_urls = sitemap_urls_from_robots(robots).select(
            F.col("sitemap_url").alias("url"), "host"
        )
        sm_bodies = (
            fetch_raw_bodies(sm_urls, self.site, transport=self.transport,
                             n_buckets=self.s.n_buckets)
            .filter(F.col("status") == 200)
            .select(F.col("url").alias("sitemap_url"), "body")
        )
        entries = parse_sitemap_entries(sm_bodies)
        self.seed_urls_df = entries.select(F.col("loc").alias("url")).localCheckpoint(
            eager=True
        )
        return {**counts, "sitemap_seeds": self.seed_urls_df.count()}

    def enqueue_error_retries(
        self,
        now_round: int | None = None,
        max_attempts: int = 4,
        backoff_base: int = 2,
        max_backoff: int = 64,
    ) -> int:
        """Stage the DUE set of the transient-error retry policy
        (operators/retry.error_retry_schedule: exponential backoff over
        the quarantine — 408/429/5xx/598/599 whose NEWEST observation is
        still an error, under max_attempts) for the next run_round. The
        refetch rides the exact staged-recrawl machinery: seen-tombstone
        delta, politeness budgets, deterministic resume. A retry that
        fails again deepens the backoff; one that succeeds ends the
        lineage (its 200 becomes the newest observation). Returns the
        number staged; composes with a staged content recrawl (the sets
        union, first staging's validators kept — retry URLs have no 200
        history to validate against)."""
        from ba_gepris_crawler_spark.operators.recrawl import due_frontier
        from ba_gepris_crawler_spark.operators.retry import error_retry_schedule

        latest = self.store.latest_round()
        if latest is None:
            return 0
        docs = self.store.read_union("documents", latest)
        if docs is None:
            return 0
        sched = error_retry_schedule(
            docs.select("url", "round", "status"),
            now_round=latest + 1 if now_round is None else now_round,
            max_attempts=max_attempts,
            backoff_base=backoff_base,
            max_backoff=max_backoff,
        )
        # last-known frontier metadata: error rows carry it too (the
        # write-once layout keeps quarantined rows' type/id/depth/priority)
        rows = due_frontier(sched, _last_known_meta(docs, latest + 1)).localCheckpoint(eager=True)
        n = rows.count()
        if n:
            self._recrawl_df = _union_staged(self._recrawl_df, rows)
        return n


def _last_known_meta(obs: DataFrame, next_round: int) -> DataFrame:
    """Each url's last-known frontier metadata (deterministic: its newest
    observed round), as frontier rows discovered at `next_round` — the
    refetch rows the two stagers hand to due_frontier."""
    return obs.groupBy("url").agg(
        F.max_by(
            F.struct("host", "resource_type", "resource_id", "crawl_depth", "priority"),
            F.col("round"),
        ).alias("m")
    ).select(
        "url", "m.host", "m.resource_type", "m.resource_id",
        F.col("m.crawl_depth").cast("int").alias("crawl_depth"),
        F.col("m.priority").cast("int").alias("priority"),
        F.lit(next_round).cast("int").alias("discovered_round"),
    )


def _union_staged(staged: DataFrame | None, rows: DataFrame) -> DataFrame:
    """UNION with (never clobber) an already-staged per-url set —
    enqueue_error_retries and enqueue_recrawl compose in either call
    order, and the consuming round refetches both sets."""
    return rows if staged is None else staged.unionByName(rows).dropDuplicates(["url"])


def official_subject_areas(spark: SparkSession) -> DataFrame:
    """Stage-0 taxonomy dimension (broadcast-sized, 213 rows in the
    reference — README.md:134)."""
    return spark.createDataFrame(
        OFFICIAL_SUBJECT_AREAS, "subject_area string, review_board string, research_area string"
    )


def latest_version(df: DataFrame, keys: list[str], round_col: str = "_round") -> DataFrame:
    """Keep each entity's NEWEST version: rows whose round equals the max
    round observed for their key. One shuffle on the entity key (window
    max + filter — no join, no driver state); ties within the winning
    round all survive (an entity's extraction is a row SET per round,
    e.g. one eav row per field). The round column is dropped."""
    w = Window.partitionBy(*keys)
    return (
        df.withColumn("_max_r", F.max(round_col).over(w))
        .filter(F.col(round_col) == F.col("_max_r"))
        .drop("_max_r", round_col)
    )


# entity key per typed extraction table: re-extraction rewrites an
# entity's FULL row set in its round's delta, so newest-round-per-key is
# exactly "the current version". The 5 relation tables are NOT resolved
# independently — they are pure projections of the project row
# (extraction.relation_tables), and keying them by presence would keep
# stale child rows for a project whose NEW version has an empty relation
# set; deriving them from the resolved projects frame is exact.
_CURRENT_KEYS = {
    "eav": ["resource_type", "resource_id"],
    "projects": ["project_id"],
    "persons": ["person_id"],
    "institutions": ["institution_id"],
}


def current_tables(store: SnapshotStore) -> dict[str, DataFrame]:
    """Latest-version views: one current row set per entity.

    `published_tables` is the full append-only history — after a recrawl
    whose content changed, it holds BOTH the old and the new extraction of
    the same entity (correct for audit/history, wrong for 'give me the
    catalog as of now'). This view resolves each key to its newest round:
    documents by their own round column (newest 200 per doc_id), typed
    tables by delta-dir provenance (SnapshotStore.read_union_versioned —
    they store no round column; the store layout is the version history),
    relation tables by re-projecting the resolved projects frame.
    Each table costs one shuffle on its entity key. Unchanged crawls (no
    recrawl, or everything revalidated 304) pass through row-identical."""
    from ba_gepris_crawler_spark.functions.extraction import relation_tables

    upto = store.latest_round()
    if upto is None:
        return {}
    out: dict[str, DataFrame] = {}
    docs = store.read_union("documents", upto)
    if docs is not None:
        out["documents"] = latest_version(
            docs.filter(F.col("status") == 200).select(
                "doc_id", "url", "host", "resource_type", "resource_id",
                "crawl_depth", "round", "status", "spans",
                F.col("round").alias("_round"),
            ),
            ["doc_id"],
        )
    for name, keys in _CURRENT_KEYS.items():
        df = store.read_union_versioned(name, upto)
        if df is not None:
            out[name] = latest_version(df, keys)
    if "projects" in out:
        out.update(relation_tables(out["projects"]))
    return out


def published_tables(store: SnapshotStore) -> dict[str, DataFrame]:
    """Final artifacts (stage-3 analog): union-read of all committed deltas."""
    upto = store.latest_round()
    if upto is None:
        return {}
    names = [
        "documents", "url_seen", "eav",
        "projects", "persons", "institutions",
        "project_ids_to_subject_areas", "project_ids_to_participating_subject_areas",
        "projects_international_connections", "project_person_relations",
        "project_institution_relations",
    ]
    out = {}
    for n in names:
        df = store.read_union(n, upto)
        if df is not None:
            if n == "documents":
                # stored layout keeps quarantined rows + politeness lineage;
                # the published view is successful pages, original columns
                df = df.filter(F.col("status") == 200).select(
                    "doc_id", "url", "host", "resource_type", "resource_id",
                    "crawl_depth", "round", "status", "spans",
                )
            out[n] = df
    out["frontier"] = store.read_state("frontier", upto)
    if "url_seen" in out:
        # derived views of the consolidated crawl log
        out["trace"] = out["url_seen"].select("round", "seq", "url")
        # 304 = revalidated-unchanged, a SUCCESS class (settings.revalidate)
        out["fetch_errors"] = out["url_seen"].filter(~F.col("status").isin(200, 304)).select(
            "url", "host", "status", "round"
        )
    return out
