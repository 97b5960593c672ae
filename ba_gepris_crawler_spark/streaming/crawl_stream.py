"""Crawl-as-stream: the frontier as an unbounded Structured Streaming
source, with every micro-batch running one batch crawl round.

The batch engine (plans/round_loop.py) models the reference's stage loop as
discrete rounds over a SnapshotStore; this module drives the same engine
from a file-source STREAM over the store's own frontier tables
(`<root>/rounds/round=*/frontier`). Each committed round writes its next
frontier there, so the table becomes the next micro-batch, and the stream
feeds itself until the reachable site is exhausted.

- One round body: micro-batch b runs `CrawlEngine.run_round(b + 1)` with
  the batch (round b's frontier table, already merged and seen-anti-joined)
  as its frontier. Circuit breaker, revalidation, redirects, trap limits,
  extraction, compaction, the bloom gate and the cookie jar all come from
  the engine and its CrawlSettings, and the store holds the same rounds,
  seqs and rows as a batch crawl of the same site.
- Crash safety is the round manifest: a replayed micro-batch whose round
  manifest exists is a no-op, and one whose manifest is missing re-runs the
  round, which rewrites every table of that round with overwrite. Frontier
  files of a round with no manifest are deleted before each wave, so no
  wave lists them.
- Politeness budgets, rules relations and transports are set on the engine,
  exactly as for a batch crawl.

Reference mapping: the reference's Akka stages are a demand-driven bounded
stream (SURVEY.md §2.8); this is the same dataflow with real unbounded
semantics.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame

from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine
from ba_gepris_crawler_spark.schema import FRONTIER_SCHEMA


class StreamingCrawl:
    def __init__(self, engine: CrawlEngine):
        self.engine = engine
        self.store = engine.store
        self.root = self.store.root

    def needs_seed(self) -> bool:
        """True until round 0 COMMITTED: round-0 data without a manifest is
        debris of a crashed seed, which the re-run overwrites."""
        return self.store.latest_round() is None

    def seed(self) -> None:
        self.engine.run_round(0)

    def _process_batch(self, batch: DataFrame, batch_id: int) -> None:
        rnd = batch_id + 1
        if self.store.manifest_path(rnd).exists():
            return  # committed replay: the round is final
        self.engine.run_round(rnd, frontier=batch)

    def _finished(self) -> bool:
        latest = self.store.latest_round()
        if latest is None:
            return True  # unseeded: no frontier table to stream yet
        counters = self.store.manifest(latest)["counters"]
        return counters.get("done") or counters.get("frontier_next") == 0

    def drain(self, max_waves: int = 50) -> int:
        """Run availableNow triggers until the latest round leaves nothing
        to crawl (each wave snapshots the frontier files available at its
        start, so each wave runs one round). Stopping on an empty frontier
        keeps the last round's empty frontier file from triggering one more
        empty round per wave. Returns the wave count."""
        waves = 0
        while waves < max_waves and not self._finished():
            before = self.store.latest_round()
            self._drop_uncommitted_frontiers(before)
            q = (
                self.engine.spark.readStream.schema(FRONTIER_SCHEMA)
                .parquet(str(self.root / "rounds" / "round=*" / "frontier"))
                .writeStream.foreachBatch(self._process_batch)
                .option("checkpointLocation", str(self.root / "_checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            waves += 1
            if self.store.latest_round() == before:
                break  # no new frontier files: nothing left to run
        return waves

    def _drop_uncommitted_frontiers(self, latest: int) -> None:
        """A crash inside run_round can leave the frontier table of a round
        with no manifest. The replay of that round's micro-batch rewrites
        it, but a wave lists its files at its start, so they would also
        enter the next micro-batch. Such files were never in a micro-batch:
        one is planned only after the round before it committed."""
        for d in self.root.glob("rounds/round=*/frontier"):
            if int(d.parent.name.split("=")[1]) > latest:
                shutil.rmtree(d)

    def seen(self) -> DataFrame | None:
        latest = self.store.latest_round()
        return None if latest is None else self.store.read_union("url_seen", latest)

    def documents(self) -> DataFrame | None:
        latest = self.store.latest_round()
        return None if latest is None else self.store.read_union("documents", latest)
