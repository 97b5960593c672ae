"""Crawl-as-stream: the frontier as an unbounded Structured Streaming
source, with discovery feeding back into it.

The batch engine (plans/round_loop.py) models the reference's stage loop as
discrete rounds; this module is the forward path the north rule's streaming
mandate points at: the frontier directory is a file-source STREAM, each
micro-batch runs the same operators (seen anti-join pre-gated by the
incremental bloom -> politeness schedule -> Arrow fetch ->
documents/url_seen append), and discovered URLs
are written BACK into the frontier directory, so the stream feeds itself
until the reachable site is exhausted.

- Micro-batch outputs are written to per-batch-id subdirectories with
  overwrite and become visible only once the batch's commit marker exists
  (written after ALL outputs): readers skip uncommitted dirs, and a
  replayed batch either short-circuits (marker present) or deterministically
  recomputes and overwrites every output — so a crash at ANY point inside a
  batch loses nothing (the parquet analog of a transactional sink; on
  Iceberg/Delta these would be atomic multi-table commits).
- Politeness: the per-host budget applies PER MICRO-BATCH (a token-bucket
  refill per trigger); deferred URLs are re-queued into the frontier
  directory and retried next batch.
- The micro-batch partitioning of work is nondeterministic (file batching),
  so the streaming crawl guarantees SET equality of the final seen set /
  documents with the batch engine, not trace equality — asserted in
  tests/test_streaming_crawl.py.

Reference mapping: the reference's Akka stages are a demand-driven bounded
stream (SURVEY.md §2.8); this is the same dataflow with real unbounded
semantics.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators import frontier as FR
from ba_gepris_crawler_spark.operators import url_seen as US
from ba_gepris_crawler_spark.operators.cookies import CookieJar
from ba_gepris_crawler_spark.operators.fetch import fetch_pages, to_documents
from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig, schedule_round
from ba_gepris_crawler_spark.schema import FRONTIER_SCHEMA
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig


@dataclass
class StreamingCrawl:
    spark: SparkSession
    site: SiteConfig
    root: str | os.PathLike
    politeness: PolitenessConfig = field(default_factory=PolitenessConfig)
    n_buckets: int = 16
    # "html" or "json" (S7) — same semantics as the batch engine's
    # CrawlSettings.fetch_format; json bodies parse in-plan to the same
    # spans, so both modes write byte-equal documents
    fetch_format: str = "html"
    # initial bloom sizing (m/k are fixed at first build; outgrowing it
    # only degrades the pre-gate's selectivity, never correctness)
    bloom_expected_items: int = 1_000_000
    # optional per-host budgets RELATION (host, budget int[, rate double])
    # — the web-scale Crawl-delay form (politeness.crawl_delay_budgets),
    # same semantics as CrawlEngine.budgets_df: joined into every batch's
    # schedule_round with cfg-outranks-external precedence, resolved rate
    # carried to the fetch cost model; localCheckpointed on first use so
    # the robots bodies parse once, not once per micro-batch
    budgets_df: DataFrame | None = None
    # optional robots rules RELATION (politeness.parse_robots_rules_
    # distributed) — same semantics as CrawlEngine.rules_df: every batch's
    # candidates pass longest-match Allow/Disallow evaluation before
    # budgeting; disallowed URLs drop and never enter the seen set
    rules_df: DataFrame | None = None
    # pluggable network seam (operators/transport.py), same semantics as
    # CrawlEngine.transport: None = in-process SyntheticTransport
    transport: object | None = None
    # session cookie cache (one Set-Cookie fetch per epoch), mirroring the
    # batch engine: the epoch analog is batch_id // session_rounds, so a
    # session-gated site rotates in the stream too instead of every
    # partition of every micro-batch paying the worker-side 401 refresh
    _jar: CookieJar = field(default_factory=CookieJar)
    _bloom: US.BloomFilterModel | None = field(default=None, init=False, repr=False)
    _bloom_dirs: set = field(default_factory=set, init=False, repr=False)
    _budgets_ckpt: bool = field(default=False, init=False, repr=False)
    _rules_ckpt: bool = field(default=False, init=False, repr=False)

    def __post_init__(self) -> None:
        self.root = Path(self.root)
        for d in ("frontier", "url_seen", "documents", "_checkpoint", "_commits"):
            (self.root / d).mkdir(parents=True, exist_ok=True)

    def _marker(self, batch_id: int) -> Path:
        return self.root / "_commits" / f"b{batch_id:05d}"

    def _committed(self, name: str) -> bool:
        return (self.root / "_commits" / name).exists()

    # -- paths ---------------------------------------------------------
    @property
    def frontier_dir(self) -> str:
        return str(self.root / "frontier")

    def _out(self, table: str, batch_id: int) -> str:
        # plain names (no key=value) so the streaming file source with
        # recursiveFileLookup reads them without partition inference
        return str(self.root / table / f"b{batch_id:05d}")

    # -- seeding -------------------------------------------------------
    def seed(self) -> None:
        FR.seed_frontier(self.spark, self.site).coalesce(1).write.mode("overwrite").parquet(
            str(self.root / "frontier" / "seed")
        )

    def needs_seed(self) -> bool:
        """True until a seed write COMMITTED. Gate on the _SUCCESS marker,
        not on any *.parquet glob: a crashed seed write leaves _temporary
        part files that would otherwise skip seeding and drain an empty
        stream (ADVICE r2). Re-seeding after such a crash is safe — the
        seed is deterministic and mode('overwrite') replaces the debris."""
        return not (self.root / "frontier" / "seed" / "_SUCCESS").exists()

    # -- the micro-batch body -----------------------------------------
    def _read_seen(self) -> DataFrame | None:
        base = self.root / "url_seen"
        # only COMMITTED batches are visible: a replayed half-written batch
        # must not poison the anti-join (it would empty `candidates` and
        # silently drop that batch's deferred + discovered URLs)
        dirs = [str(p) for p in base.glob("b*") if self._committed(p.name)]
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs)

    def _bloom_gate(self) -> US.BloomFilterModel | None:
        """Incrementally OR committed url_seen batch dirs into the bloom
        (the stream analog of round_loop's update_bloom-per-round).
        Bloom-negative URLs are provably unseen and bypass the seen
        anti-join; the exact anti-join stays the backstop for the rest, so
        results equal an ungated join. The bitmap is DERIVED state: only
        dirs whose commit marker exists are inserted (so no URL the gate
        is asked about can be a false negative), and the instance tracks
        which, so each delta is scanned exactly once per process lifetime;
        a restart rebuilds from all committed dirs."""
        committed = [p for p in sorted((self.root / "url_seen").glob("b*"))
                     if self._committed(p.name)]
        fresh = [p for p in committed if p.name not in self._bloom_dirs]
        if fresh:
            delta = self.spark.read.parquet(*[str(p) for p in fresh]).select("url")
            if self._bloom is None:
                self._bloom = US.build_bloom(delta, expected_items=self.bloom_expected_items)
            else:
                old = self._bloom
                self._bloom = US.update_bloom(old, delta)
                # the previous batch's jobs are complete (foreachBatch is
                # synchronous): release the superseded bitmap broadcast
                old.unpersist_broadcast()
            self._bloom_dirs |= {p.name for p in fresh}
        return self._bloom

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._marker(batch_id).exists():
            return  # committed replay: every output of this batch is final
        # deterministic min-by merge, NOT dropDuplicates: one micro-batch can
        # read the same URL from several feed files (deferred by batch k,
        # discovered by batch k+1) with different depth/priority, and an
        # arbitrary-row keep would make the budget cut and the written
        # crawl_depth run-dependent — the batch engine's merge_frontier
        # invariant, applied at the stream's merge point
        batch = FR.merge_frontier(batch)
        seen = self._read_seen()
        # cached: otherwise the seen anti-join over EVERY committed url_seen
        # dir (the largest scan in the system) recomputes 2-3x per trigger —
        # isEmpty probe, documents write, deferred/feed side (the stream
        # twin of round_loop's candidates cache)
        candidates = (batch if seen is None else US.new_urls(
            batch, seen, bloom=self._bloom_gate()
        )).cache()
        # try/finally, not an exit-path unpersist: a micro-batch that dies
        # mid-flight (transport failure, transient FS error in a write)
        # must not leak the cached frame — availableNow replays the batch
        # with a FRESH cache, and over a long stream with intermittent
        # failures the leaked copies accumulate in executor storage
        try:
            wrote = self._process_batch_body(batch_id, candidates)
        finally:
            candidates.unpersist()
        if wrote:
            self._marker(batch_id).touch()  # the batch's atomic commit point

    def _process_batch_body(self, batch_id: int, candidates: DataFrame) -> bool:
        if candidates.isEmpty():
            return False  # write nothing: lets drain() detect quiescence
        if self.budgets_df is not None and not self._budgets_ckpt:
            self.budgets_df = self.budgets_df.localCheckpoint(eager=True)
            self._budgets_ckpt = True
        if self.rules_df is not None and not self._rules_ckpt:
            self.rules_df = self.rules_df.localCheckpoint(eager=True)
            self._rules_ckpt = True
        fetch_now, deferred = schedule_round(
            candidates, self.politeness, self.n_buckets,
            budgets_df=self.budgets_df, rules_df=self.rules_df,
        )
        epoch = batch_id // self.site.session_rounds if self.site.session_rounds else 0
        token = (
            self._jar.get(self.site, epoch, transport=self.transport)
            if self.site.session_rounds else None
        )
        fetched = fetch_pages(
            fetch_now, self.site, self.politeness.per_host_rate, self.n_buckets,
            session_token=token, epoch=epoch, fmt=self.fetch_format,
            transport=self.transport,
        )
        docs = to_documents(fetched, batch_id, keep_errors=True)
        docs.write.mode("overwrite").parquet(self._out("documents", batch_id))
        stored = self.spark.read.parquet(self._out("documents", batch_id))
        log = stored.select(
            F.xxhash64("url").alias("url_hash"),
            "url",
            F.lit(batch_id).cast("int").alias("round"),
            F.col("host_rank").cast("long").alias("seq"),
            "status",
            "host",
        )
        log.write.mode("overwrite").parquet(self._out("url_seen", batch_id))
        # self-feeding: deferred + newly discovered URLs re-enter the stream
        # (skip empty feeds so the frontier dir quiesces when the crawl is done)
        disc = FR.discovered_urls(stored.filter(F.col("status") == 200), self.site, batch_id + 1)
        feed = FR.merge_frontier(deferred, disc)
        feed_dir = Path(self._out("frontier", batch_id))
        if not feed.isEmpty():
            feed.write.mode("overwrite").parquet(str(feed_dir))
        elif feed_dir.exists():
            # crash-replay that recomputes an EMPTY feed (e.g. a real
            # transport now returns 5xx for pages a crashed attempt saw as
            # 200): the stale non-empty feed dir from that attempt must not
            # survive the commit, or the next wave injects URLs whose
            # discovering fetch officially never happened. The feed is the
            # only conditional output, so it is the only one needing this.
            import shutil as _shutil

            _shutil.rmtree(feed_dir, ignore_errors=True)
        return True

    # -- driving -------------------------------------------------------
    def drain(self, max_waves: int = 50) -> int:
        """Run availableNow triggers until the stream stops producing new
        frontier files (each wave snapshots the files available at start,
        so self-fed discoveries need the next wave). Returns wave count."""
        waves = 0
        for _ in range(max_waves):
            before = {p.name for p in (self.root / "frontier").rglob("*.parquet")}
            q = (
                self.spark.readStream.schema(FRONTIER_SCHEMA)
                .option("recursiveFileLookup", "true")
                .parquet(self.frontier_dir)
                .writeStream.foreachBatch(self._process_batch)
                .option("checkpointLocation", str(self.root / "_checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            waves += 1
            after = {p.name for p in (self.root / "frontier").rglob("*.parquet")}
            if after == before:
                break
        return waves

    def seen(self) -> DataFrame | None:
        return self._read_seen()

    def documents(self) -> DataFrame | None:
        dirs = [str(p) for p in (self.root / "documents").glob("b*") if self._committed(p.name)]
        return self.spark.read.parquet(*dirs) if dirs else None
