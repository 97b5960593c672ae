"""Streaming crawl (streaming/crawl_stream.py): every micro-batch of the
self-feeding frontier stream runs one CrawlEngine.run_round over the same
snapshot store layout, so the stream must crawl the reachable site to
exhaustion and land on exactly the batch engine's crawl log — the same
(url, round, seq, status) rows, not only the same seen set."""

from __future__ import annotations

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig
from ba_gepris_crawler_spark.streaming.crawl_stream import StreamingCrawl


def _settings(pol: PolitenessConfig, n_buckets: int) -> CrawlSettings:
    return CrawlSettings(n_buckets=n_buckets, politeness=pol, extract=False,
                         bloom_expected_items=10_000)


def _stream(spark, cfg, root, pol, n_buckets) -> StreamingCrawl:
    return StreamingCrawl(CrawlEngine(spark, cfg, SnapshotStore(spark, root),
                                      _settings(pol, n_buckets)))


def _batch(spark, cfg, root, pol, n_buckets) -> CrawlEngine:
    return CrawlEngine(spark, cfg, SnapshotStore(spark, root), _settings(pol, n_buckets))


def _log(seen) -> list[tuple]:
    return sorted((r.url, r.round, r.seq, r.status) for r in seen.collect())


def _batch_log(eng: CrawlEngine) -> list[tuple]:
    return _log(eng.store.read_union("url_seen", eng.store.latest_round()))


def _round_counts(store: SnapshotStore) -> list[tuple]:
    return [
        (c["candidates"], c["fetched"], c.get("frontier_next"))
        for c in (store.manifest(r)["counters"] for r in store.committed_rounds())
    ]


def test_streaming_batch_replay_is_crash_safe(spark, tmp_path):
    """Crash safety is the round manifest. A replayed micro-batch whose
    round lost its manifest re-runs the round and restores the same
    frontier and url_seen rows; a committed replay is a no-op; a round
    that crashed after writing its frontier (no manifest, files never in
    a micro-batch) must not leak those files into the next micro-batch.
    The stream still drains to the batch engine's crawl log."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=8, n_persons=4,
                     n_institutions=2, hits_per_page=5, seed=9)
    pol = PolitenessConfig(per_host_rate=6, round_seconds=1.0)
    sc = _stream(spark, cfg, tmp_path / "s", pol, 4)
    store = sc.store
    sc.seed()
    assert sc.drain(max_waves=1) == 1
    assert store.latest_round() == 1

    def rows(table, rnd):
        return sorted(tuple(r) for r in store.read_state(table, rnd).collect())

    frontier1, seen1 = rows("frontier", 1), rows("url_seen", 1)
    assert frontier1  # mid-crawl: round 1 left work behind

    # the crash window: round 1's data on disk, its manifest lost
    store.manifest_path(1).unlink()
    sc._process_batch(store.read_state("frontier", 0), 0)  # replay batch 0
    assert store.latest_round() == 1
    assert rows("frontier", 1) == frontier1
    assert rows("url_seen", 1) == seen1

    # committed replay: nothing rewritten
    before = sorted(p.name for p in store.table_path("url_seen", 1).glob("*.parquet"))
    sc._process_batch(store.read_state("frontier", 0), 0)
    assert sorted(p.name for p in store.table_path("url_seen", 1).glob("*.parquet")) == before

    # round 2 crashed after its writes: frontier files with no manifest
    sc.engine.run_round(2)
    assert store.read_state("frontier", 2).count() > 0
    store.manifest_path(2).unlink()

    sc.drain(max_waves=20)
    batch = _batch(spark, cfg, tmp_path / "b", pol, 4)
    batch.run(max_rounds=30)
    assert _log(sc.seen()) == _batch_log(batch)
    # same candidates every round: the stream stops one round before the
    # batch engine's empty done round
    assert _round_counts(store) == _round_counts(batch.store)[:-1]


def test_seed_gate_ignores_uncommitted_seed_debris(spark, tmp_path):
    """Round-0 data without a round-0 manifest is debris of a crashed
    seed: needs_seed() stays True until the seed round commits, and the
    re-run overwrites the debris."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=5, seed=1)
    sc = _stream(spark, cfg, tmp_path / "s", PolitenessConfig(), 2)
    assert sc.needs_seed()

    debris = sc.store.table_path("frontier", 0)
    debris.mkdir(parents=True)
    (debris / "part-00000-crashed.snappy.parquet").write_bytes(b"\x00")
    assert sc.needs_seed()

    sc.seed()
    assert not sc.needs_seed()
    assert sc.store.read_state("frontier", 0).count() > 0


def test_streaming_session_gated_site_matches_batch(spark, tmp_path):
    """Session-gated site (session_rounds > 0): the engine's CookieJar is
    hit once per epoch, and the stream's crawl log equals the batch
    engine's, with no stale-session 401 on either side."""
    cfg = SiteConfig(
        hosts=("gepris.example.org",),
        n_projects=10, n_persons=5, n_institutions=2,
        hits_per_page=6, seed=7, session_rounds=2,
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0)

    sc = _stream(spark, cfg, tmp_path / "stream", pol, 4)
    sc.seed()
    assert sc.drain(max_waves=20) > 1

    jar = sc.engine._jar
    assert jar.fetches >= 1
    assert jar.fetches == len(jar._cache)

    batch = _batch(spark, cfg, tmp_path / "batch", pol, 4)
    batch.run(max_rounds=30)
    stream_log = _log(sc.seen())
    assert stream_log == _batch_log(batch)
    assert all(st != 401 for *_, st in stream_log)


def test_streaming_crawl_matches_batch_seen_set(spark, tmp_path):
    """The stream and the batch engine run the same rounds over the same
    frontier tables, so their crawl logs are equal row for row on
    (url, round, seq, status), including quarantined errors, every url is
    fetched exactly once, and the documents are the same."""
    cfg = SiteConfig(
        hosts=("gepris.example.org", "alt1.example.org"),
        n_projects=15, n_persons=8, n_institutions=3,
        hits_per_page=6, seed=5,
        error_mod=11,  # quarantine path must behave identically
    )
    pol = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=5)

    sc = _stream(spark, cfg, tmp_path / "stream", pol, 8)
    sc.seed()
    waves = sc.drain(max_waves=20)
    assert 1 < waves <= 20  # discovery actually fed the stream back
    assert sc.engine._bloom is not None  # the bloom gate ran

    batch = _batch(spark, cfg, tmp_path / "batch", pol, 8)
    batch.run(max_rounds=30)
    stream_log = _log(sc.seen())
    assert stream_log == _batch_log(batch)
    assert len(stream_log) == len({u for u, *_ in stream_log})

    batch_docs = {
        r.doc_id
        for r in batch.store.read_union("documents", batch.store.latest_round())
        .filter(F.col("status") == 200).collect()
    }
    stream_docs = {r.doc_id for r in sc.documents().filter(F.col("status") == 200).collect()}
    assert stream_docs == batch_docs


def test_streaming_restart_resumes_from_committed_rounds(spark, tmp_path):
    """A process restart mid-crawl (a new engine with no in-memory bloom)
    continues from the committed rounds: the engine reloads the persisted
    bitmap, no URL is fetched twice, and the final crawl log equals an
    uninterrupted batch crawl's."""
    cfg = SiteConfig(
        hosts=("gepris.example.org",),
        n_projects=12, n_persons=6, n_institutions=2,
        hits_per_page=6, seed=11,
    )
    pol = PolitenessConfig(per_host_rate=30, round_seconds=1.0, max_in_flight=5)
    root = tmp_path / "stream"

    sc1 = _stream(spark, cfg, root, pol, 4)
    sc1.seed()
    assert sc1.drain(max_waves=1) == 1  # stop mid-crawl: frontier not drained
    assert not sc1._finished()

    sc2 = _stream(spark, cfg, root, pol, 4)
    assert not sc2.needs_seed()
    assert sc2.engine._bloom is None
    sc2.drain(max_waves=20)
    assert sc2.engine._bloom is not None
    assert sc2._finished()

    stream_log = _log(sc2.seen())
    assert len(stream_log) == len({u for u, *_ in stream_log})  # no refetch
    batch = _batch(spark, cfg, tmp_path / "batch", pol, 4)
    batch.run(max_rounds=30)
    assert stream_log == _batch_log(batch)


def test_streaming_budgets_relation_matches_batch(spark, tmp_path):
    """The budgets RELATION (web-scale Crawl-delay) set on the streamed
    engine: same crawl log as the batch engine running the same relation,
    and the throttle actually bound in some round."""
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

    sc = _stream(spark, cfg, tmp_path / "stream", pol, 8)
    sc.engine.budgets_df = crawl_delay_budgets(robots, pol)
    sc.seed()
    assert 1 < sc.drain(max_waves=40) <= 40

    batch = _batch(spark, cfg, tmp_path / "batch", pol, 8)
    batch.budgets_df = crawl_delay_budgets(robots, pol)
    batch.run(max_rounds=40)
    assert _log(sc.seen()) == _batch_log(batch)

    # no round fetched more than 5 slow-host pages, and one hit exactly 5
    per = sc.seen().filter(F.col("host") == "slow.example.org") \
        .groupBy("round").count().collect()
    assert per and all(r["count"] <= 5 for r in per)
    assert any(r["count"] == 5 for r in per)


def test_stream_stale_feed_removed_on_empty_replay(spark, tmp_path):
    """A round whose manifest was lost re-runs on replay and rewrites its
    frontier table with overwrite: a replay that discovers nothing (a real
    transport can answer 404 where the lost attempt saw 200) must leave an
    EMPTY round frontier, not the lost attempt's discoveries."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=8, n_persons=4,
                     n_institutions=2, hits_per_page=5, seed=6)
    pol = PolitenessConfig(per_host_rate=50, round_seconds=1.0)
    sc = _stream(spark, cfg, tmp_path / "s", pol, 2)
    store = sc.store
    sc.seed()
    assert sc.drain(max_waves=1) == 1
    assert store.read_state("frontier", 1).count() > 0  # attempt 1 discovered
    store.manifest_path(1).unlink()

    # the replay's "network" now 404s everything (budget >> rows)
    bogus = store.read_state("frontier", 0).withColumn(
        "url", F.concat(F.lit("https://gepris.example.org/nope/"), F.col("url"))
    )
    sc._process_batch(bogus, 0)
    assert store.latest_round() == 1
    assert store.read_state("frontier", 1).count() == 0
    assert store.read_state("documents", 1).filter(F.col("status") == 200).count() == 0
    assert sc._finished()


def test_streaming_rules_relation_matches_batch(spark, tmp_path):
    """The robots RULES relation set on the streamed engine: same crawl
    log as the batch engine running the same relation, and the disallowed
    path never appears."""
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

    sc = _stream(spark, cfg, tmp_path / "stream-r", pol, 8)
    sc.engine.rules_df = rules
    sc.seed()
    assert 1 < sc.drain(max_waves=40) <= 40

    batch = _batch(spark, cfg, tmp_path / "batch-r", pol, 8)
    batch.rules_df = rules
    batch.run(max_rounds=40)
    stream_log = _log(sc.seen())
    assert stream_log == _batch_log(batch)
    assert not any("ruled.example.org/gepris/person/" in u for u, *_ in stream_log)
    assert any("free.example.org/gepris/person/" in u for u, *_ in stream_log)


def test_stream_crawl_cli_honors_circuit_breaker(spark, tmp_path, capsys):
    """`stream-crawl --circuit-breaker` reaches the engine: half the
    detail pages answer 503, so the one host trips the breaker and a
    committed round records the suspension."""
    import json as _json

    from ba_gepris_crawler_spark.cli import main as cli_main

    root = tmp_path / "stream-cb"
    assert cli_main([
        "stream-crawl", str(root), "--hosts", "1", "--projects", "8",
        "--error-mod", "2", "--circuit-breaker", "--buckets", "4", "--max-rounds", "4",
    ]) == 0
    out = [_json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert out[-1]["waves"] >= 1
    store = SnapshotStore(None, root)
    suspended = [store.manifest(r)["counters"]["hosts_suspended"]
                 for r in store.committed_rounds()]
    assert any(n > 0 for n in suspended)


def test_stream_crawl_cli_refuses_old_layout_root(tmp_path, capsys):
    """A stream root of the old layout (`_commits/` markers) holds
    `_checkpoint` offsets that would map old batch ids onto new rounds:
    stream-crawl refuses it with a JSON error, exit 2, before Spark starts
    and without creating a snapshot store there. Pure Python: no Spark."""
    import json as _json

    from ba_gepris_crawler_spark.cli import main as cli_main

    root = tmp_path / "old-stream"
    (root / "_commits").mkdir(parents=True)
    assert cli_main(["stream-crawl", str(root)]) == 2
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["error"]
    assert "_commits" in err
    assert not (root / "manifests").exists()
