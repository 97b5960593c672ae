"""Streaming crawl (streaming/crawl_stream.py): the self-feeding frontier
stream must crawl the reachable site to exhaustion and land on the SAME
seen set / documents as the batch engine (micro-batch boundaries are
nondeterministic, so trace equality is out of scope by design)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig
from ba_gepris_crawler_spark.streaming.crawl_stream import StreamingCrawl


def test_streaming_batch_replay_is_crash_safe(spark, tmp_path):
    """A crash inside a micro-batch (outputs written, commit marker not yet)
    must not lose the batch's discoveries on replay: uncommitted url_seen
    dirs are invisible to the anti-join, so the replay fully recomputes and
    commits. A committed batch short-circuits on replay."""
    import shutil

    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=8, n_persons=4,
                     n_institutions=2, hits_per_page=5, seed=9)
    pol = PolitenessConfig(per_host_rate=50, round_seconds=1.0)
    sc = StreamingCrawl(spark, cfg, tmp_path / "s", politeness=pol, n_buckets=4)
    sc.seed()
    seed_df = spark.read.parquet(str(sc.root / "frontier" / "seed"))

    # manual batch id 100: far from the streaming engine's own 0..n ids,
    # so the later drain() is not shadowed by this batch's commit marker
    sc._process_batch(seed_df, 100)
    assert sc._marker(100).exists()
    feed_files = sorted(p.name for p in (sc.root / "frontier" / "b00100").glob("*.parquet"))
    assert feed_files  # the seeds discovered something

    # simulate the crash window: url_seen written, feed + marker lost
    sc._marker(100).unlink()
    shutil.rmtree(sc.root / "frontier" / "b00100")
    assert sc.seen() is None  # uncommitted batch is invisible

    sc._process_batch(seed_df, 100)  # the replay
    assert sc._marker(100).exists()
    assert (sc.root / "frontier" / "b00100").exists()  # discoveries restored
    assert sc.seen().count() == seed_df.count()

    # committed replay short-circuits: outputs untouched
    before = sorted(p.name for p in (sc.root / "url_seen" / "b00100").glob("*.parquet"))
    sc._process_batch(seed_df, 100)
    after = sorted(p.name for p in (sc.root / "url_seen" / "b00100").glob("*.parquet"))
    assert before == after

    # and the stream still drains to the full site afterwards
    waves = sc.drain(max_waves=20)
    assert waves >= 1
    n_urls = sc.seen().count()
    assert n_urls > seed_df.count()
    assert n_urls == sc.seen().select("url").distinct().count()


def test_seed_gate_ignores_uncommitted_seed_debris(spark, tmp_path):
    """A crashed seed write (parquet debris, no _SUCCESS marker) must NOT
    satisfy the seed gate — ADVICE r2: the old any-*.parquet glob matched
    leftover part files and drained an empty stream reporting seen_total 0."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=5, seed=1)
    sc = StreamingCrawl(spark, cfg, tmp_path / "s", n_buckets=2)
    assert sc.needs_seed()

    # simulate the crash window: a part file landed, the commit marker didn't
    debris = sc.root / "frontier" / "seed"
    debris.mkdir(parents=True, exist_ok=True)
    (debris / "part-00000-crashed.snappy.parquet").write_bytes(b"\x00")
    assert sc.needs_seed()  # glob would say False here — the bug

    sc.seed()  # overwrite replaces the debris and commits
    assert not sc.needs_seed()
    assert spark.read.parquet(str(debris)).count() > 0


def test_streaming_session_gated_site_matches_batch(spark, tmp_path):
    """Session-gated site (session_rounds > 0): the stream threads a driver
    CookieJar token + a batch-id-derived epoch into fetch_pages (ADVICE r2 —
    previously every partition of every micro-batch paid the worker-side 401
    refresh and the epoch was pinned to 0). The jar must be hit once per
    epoch, and the final seen set / documents must equal the batch engine's."""
    cfg = SiteConfig(
        hosts=("gepris.example.org",),
        n_projects=10, n_persons=5, n_institutions=2,
        hits_per_page=6, seed=7, session_rounds=2,
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0)

    sc = StreamingCrawl(spark, cfg, tmp_path / "stream", politeness=pol, n_buckets=4)
    sc.seed()
    waves = sc.drain(max_waves=20)
    assert waves > 1

    # the driver jar was actually consulted, exactly once per distinct epoch
    assert sc._jar.fetches >= 1
    assert sc._jar.fetches == len(sc._jar._cache)

    store = SnapshotStore(spark, tmp_path / "batch")
    CrawlEngine(
        spark, cfg, store,
        CrawlSettings(n_buckets=4, politeness=pol, extract=False),
    ).run(max_rounds=30)

    batch_seen = {
        (r.url, r.status)
        for r in store.read_union("url_seen", store.latest_round()).collect()
    }
    stream_seen = {(r.url, r.status) for r in sc.seen().collect()}
    assert stream_seen == batch_seen
    # no stale-session 401s leaked into the final state on either side
    assert all(st != 401 for _, st in stream_seen)


def test_streaming_crawl_matches_batch_seen_set(spark, tmp_path):
    """The stream runs the SAME crawl as the batch engine through the
    incremental bloom pre-gate + exact backstop (derived from committed
    batch dirs): identical final state, every url fetched exactly once — a
    bloom false NEGATIVE (impossible for inserted committed dirs) would
    show up here as a duplicate fetch."""
    cfg = SiteConfig(
        hosts=("gepris.example.org", "alt1.example.org"),
        n_projects=15, n_persons=8, n_institutions=3,
        hits_per_page=6, seed=5,
        error_mod=11,  # quarantine path must behave identically
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=5)

    sc = StreamingCrawl(spark, cfg, tmp_path / "stream", politeness=pol, n_buckets=8,
                        bloom_expected_items=10_000)
    sc.seed()
    waves = sc.drain(max_waves=20)
    assert 1 < waves <= 20  # discovery actually fed the stream back
    # the gate really ran: bitmap built and every committed url_seen
    # batch dir inserted exactly once
    assert sc._bloom is not None
    assert sc._bloom_dirs == {
        p.name for p in (sc.root / "url_seen").glob("b*")
        if (sc.root / "_commits" / p.name).exists()
    }

    store = SnapshotStore(spark, tmp_path / "batch")
    CrawlEngine(
        spark, cfg, store,
        CrawlSettings(n_buckets=8, politeness=pol, extract=False),
    ).run(max_rounds=30)

    batch_seen = {
        (r.url, r.status)
        for r in store.read_union("url_seen", store.latest_round()).collect()
    }
    stream_seen = {(r.url, r.status) for r in sc.seen().collect()}
    assert stream_seen == batch_seen
    # each url fetched exactly once in the stream too
    n = sc.seen().count()
    assert n == sc.seen().select("url").distinct().count()

    batch_docs = {
        r.doc_id
        for r in store.read_union("documents", store.latest_round())
        .filter(F.col("status") == 200).collect()
    }
    stream_docs = {r.doc_id for r in sc.documents().filter(F.col("status") == 200).collect()}
    assert stream_docs == batch_docs


def test_streaming_bloom_gate_rebuilds_across_restart(spark, tmp_path):
    """The stream's bloom pre-gate is DERIVED state: a process restart
    mid-crawl (new StreamingCrawl instance, empty in-memory bitmap) must
    rebuild it from the committed url_seen batch dirs and finish the crawl
    with the same final state — a rebuild false negative would refetch a
    seen URL and show up as a duplicate."""
    cfg = SiteConfig(
        hosts=("gepris.example.org",),
        n_projects=12, n_persons=6, n_institutions=2,
        hits_per_page=6, seed=11,
    )
    pol = PolitenessConfig(per_host_rate=30, round_seconds=1.0, max_in_flight=5)
    root = tmp_path / "stream"

    sc1 = StreamingCrawl(spark, cfg, root, politeness=pol, n_buckets=4,
                         bloom_expected_items=5_000)
    sc1.seed()
    assert sc1.drain(max_waves=2) == 2  # stop mid-crawl: frontier not drained
    done_dirs = {p.name for p in (root / "url_seen").glob("b*")
                 if (root / "_commits" / p.name).exists()}
    assert done_dirs  # some batches committed before the "crash"

    # restart: fresh instance, no in-memory bloom; finish the crawl
    sc2 = StreamingCrawl(spark, cfg, root, politeness=pol, n_buckets=4,
                         bloom_expected_items=5_000)
    assert not sc2.needs_seed()
    sc2.drain(max_waves=20)
    assert done_dirs <= sc2._bloom_dirs  # pre-crash dirs re-ORed on restart

    seen = sc2.seen()
    assert seen.count() == seen.select("url").distinct().count()  # no refetch

    # same final seen set as an uninterrupted batch crawl
    store = SnapshotStore(spark, tmp_path / "batch")
    CrawlEngine(
        spark, cfg, store,
        CrawlSettings(n_buckets=4, politeness=pol, extract=False),
    ).run(max_rounds=30)
    batch_seen = {r.url for r in store.read_union("url_seen", store.latest_round()).collect()}
    assert {r.url for r in seen.collect()} == batch_seen


def test_streaming_budgets_relation_matches_batch(spark, tmp_path):
    """The budgets RELATION (web-scale Crawl-delay) in the STREAM: a
    streamed crawl throttled by crawl_delay_budgets rows must land on the
    same final seen set / documents as the batch engine running the same
    relation, every url fetched exactly once, and the throttle must have
    actually bound in some micro-batch."""
    from ba_gepris_crawler_spark.operators.politeness import crawl_delay_budgets

    cfg = SiteConfig(
        hosts=("slow.example.org", "fast.example.org"),
        n_projects=12, n_persons=6, n_institutions=3,
        hits_per_page=6, seed=17,
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=5)
    robots = spark.createDataFrame(
        [("slow.example.org", "User-agent: *\nCrawl-delay: 0.2\n")],  # budget 5
        "host string, robots_txt string")

    sc = StreamingCrawl(spark, cfg, tmp_path / "stream", politeness=pol, n_buckets=8,
                        budgets_df=crawl_delay_budgets(robots, pol))
    sc.seed()
    waves = sc.drain(max_waves=40)
    assert 1 < waves <= 40

    store = SnapshotStore(spark, tmp_path / "batch")
    eng = CrawlEngine(spark, cfg, store,
                      CrawlSettings(n_buckets=8, politeness=pol, extract=False))
    eng.budgets_df = crawl_delay_budgets(robots, pol)
    eng.run(max_rounds=40)

    batch_seen = {(r.url, r.status)
                  for r in store.read_union("url_seen", store.latest_round()).collect()}
    stream_seen = {(r.url, r.status) for r in sc.seen().collect()}
    assert stream_seen == batch_seen
    assert sc.seen().count() == sc.seen().select("url").distinct().count()

    # the relation budget actually bound: no stream batch fetched more
    # than 5 slow-host pages, and at least one batch hit exactly 5
    per = sc.seen().filter(F.col("host") == "slow.example.org") \
        .groupBy("round").count().collect()
    assert per and all(r["count"] <= 5 for r in per)
    assert any(r["count"] == 5 for r in per)


def test_stream_merge_is_min_by_not_arbitrary(spark, tmp_path):
    """One micro-batch can read the SAME URL from several feed files
    (deferred by batch k, discovered by batch k+1) with different
    depth/priority. The stream must keep the deterministic min-by
    (crawl_depth, priority, discovered_round) row — the batch engine's
    merge_frontier invariant — not dropDuplicates' arbitrary row, which
    makes the budget cut and the persisted crawl_depth run-dependent
    (review r5 #4)."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=5, seed=5)
    sc = StreamingCrawl(spark, cfg, tmp_path / "s", n_buckets=2)
    sc.seed()
    seed_df = spark.read.parquet(str(sc.root / "frontier" / "seed"))
    one = seed_df.limit(1)
    # the same URL arriving twice: a stale high-depth copy and the fresh one
    batch = one.unionByName(
        one.withColumn("crawl_depth", F.lit(9))
        .withColumn("priority", F.lit(7))
        .withColumn("discovered_round", F.lit(9))
    )
    sc._process_batch(batch, 100)
    rows = spark.read.parquet(str(sc.root / "documents" / "b00100")).select(
        "url", "crawl_depth", "priority"
    ).collect()
    assert len(rows) == 1  # merged, not fetched twice
    want = one.select("crawl_depth", "priority").first()
    assert (rows[0].crawl_depth, rows[0].priority) == (want.crawl_depth, want.priority)


def test_stream_stale_feed_removed_on_empty_replay(spark, tmp_path):
    """The frontier feed is the stream's only conditionally-written output.
    A crash after feed.write but before the commit marker, followed by a
    replay that recomputes an EMPTY feed (a real transport can answer 5xx
    where the crashed attempt saw 200), must REMOVE the stale feed dir at
    commit — otherwise the next wave injects URLs whose discovering fetch
    officially never happened (review r5 #3)."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=5, seed=6)
    pol = PolitenessConfig(per_host_rate=50, round_seconds=1.0)
    sc = StreamingCrawl(spark, cfg, tmp_path / "s", politeness=pol, n_buckets=2)
    sc.seed()
    seed_df = spark.read.parquet(str(sc.root / "frontier" / "seed"))

    sc._process_batch(seed_df, 100)  # attempt 1: discoveries -> feed written
    feed_dir = sc.root / "frontier" / "b00100"
    assert feed_dir.exists()
    sc._marker(100).unlink()  # crash window: feed on disk, marker lost

    # the replay's "network" now 404s everything: same batch ids, but the
    # recomputed feed is empty (no 200s to discover from, budget >> rows)
    bogus = seed_df.withColumn(
        "url", F.concat(F.lit("https://gepris.example.org/nope/"), F.col("url"))
    )
    sc._process_batch(bogus, 100)
    assert sc._marker(100).exists()
    assert not feed_dir.exists()  # stale feed did not survive the commit
    stored = spark.read.parquet(str(sc.root / "documents" / "b00100"))
    assert stored.filter(F.col("status") == 200).count() == 0


def test_streaming_rules_relation_matches_batch(spark, tmp_path):
    """The robots RULES relation in the STREAM: a streamed crawl under a
    Disallow must land on the same final seen set as the batch engine
    running the same relation — and the disallowed path never appears."""
    from ba_gepris_crawler_spark.operators.politeness import (
        parse_robots_rules_distributed,
    )

    cfg = SiteConfig(
        hosts=("ruled.example.org", "free.example.org"),
        n_projects=12, n_persons=6, n_institutions=3,
        hits_per_page=6, seed=17,
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=5)
    robots = spark.createDataFrame(
        [("ruled.example.org", "User-agent: *\nDisallow: /gepris/person/\n")],
        "host string, robots_txt string")
    rules = parse_robots_rules_distributed(robots)

    sc = StreamingCrawl(spark, cfg, tmp_path / "stream-r", politeness=pol,
                        n_buckets=8, rules_df=rules)
    sc.seed()
    assert 1 < sc.drain(max_waves=40) <= 40

    store = SnapshotStore(spark, tmp_path / "batch-r")
    eng = CrawlEngine(spark, cfg, store,
                      CrawlSettings(n_buckets=8, politeness=pol, extract=False))
    eng.rules_df = rules
    eng.run(max_rounds=40)

    batch_seen = {(r.url, r.status)
                  for r in store.read_union("url_seen", store.latest_round()).collect()}
    stream_seen = {(r.url, r.status) for r in sc.seen().collect()}
    assert stream_seen == batch_seen
    assert not any("ruled.example.org/gepris/person/" in u for u, _ in stream_seen)
    assert any("free.example.org/gepris/person/" in u for u, _ in stream_seen)
