"""Cookie/session source (S9/F13): Set-Cookie parsing (python + native
expressions), the per-epoch jar cache, the executor-side refresh-on-401
retry, and an end-to-end crawl across a mid-crawl token rotation."""

from __future__ import annotations

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.cookies import (
    CookieJar,
    cookie_field_cols,
    parse_set_cookie,
)
from ba_gepris_crawler_spark.operators.fetch import fetch_pages
from ba_gepris_crawler_spark.operators.frontier import seed_frontier
from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig, schedule_round
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.synthetic_site import (
    SiteConfig,
    fetch_session_header,
    render_page,
    session_token,
)
from ba_gepris_crawler_spark.testing.golden_crawl import simulate_crawl


def test_parse_set_cookie_roundtrip():
    name, value, attrs = parse_set_cookie("JSESSIONID=ABC123; Path=/gepris; HttpOnly; Secure")
    assert (name, value) == ("JSESSIONID", "ABC123")
    assert attrs == {"path": "/gepris", "httponly": True, "secure": True}


def test_cookie_field_cols_matches_python_parse(spark):
    headers = [
        "JSESSIONID=tok1; Path=/gepris; HttpOnly",
        "sid=x-9; path=/; Secure",
        "a=b",
    ]
    df = spark.createDataFrame([(h,) for h in headers], "header string")
    cols = cookie_field_cols("header")
    rows = df.select([c.alias(n) for n, c in cols.items()]).collect()
    for h, r in zip(headers, rows):
        name, value, attrs = parse_set_cookie(h)
        assert r["cookie_name"] == name
        assert r["cookie_value"] == value
        assert r["cookie_path"] == (attrs.get("path") or "")
        assert r["http_only"] == bool(attrs.get("httponly"))
        assert r["secure"] == bool(attrs.get("secure"))


def test_jar_caches_per_epoch():
    cfg = SiteConfig(session_rounds=2)
    jar = CookieJar()
    t0 = jar.get(cfg, 0)
    assert jar.get(cfg, 0) == t0 and jar.fetches == 1  # cached within epoch
    t1 = jar.get(cfg, 1)
    assert t1 != t0 and jar.fetches == 2  # rotated at the epoch boundary
    assert t0 == session_token(cfg, 0)
    assert parse_set_cookie(fetch_session_header(cfg, 1))[1] == t1


def test_session_gate_and_worker_side_refresh(spark):
    """A stale broadcast token must NOT fail the fetch: the worker
    re-fetches the session header and retries (reference re-fetch-on-
    demand). Output equals the fresh-token fetch exactly."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=6, n_persons=3,
                     n_institutions=2, hits_per_page=5, seed=3, session_rounds=1)
    url = "https://gepris.example.org/gepris/projekt/100001?language=en"
    assert render_page(cfg, url, "STALE", 0)[0] == 401  # the gate is real
    assert render_page(cfg, url, session_token(cfg, 0), 0)[0] == 200

    frontier = seed_frontier(spark, cfg)
    fetch_now, _ = schedule_round(frontier, PolitenessConfig(per_host_rate=100), n_buckets=4)
    stale = fetch_pages(fetch_now, cfg, 100, 4, session_token="STALE", epoch=0)
    fresh = fetch_pages(fetch_now, cfg, 100, 4, session_token=session_token(cfg, 0), epoch=0)
    a = {(r.url, r.status, str(r.spans)) for r in stale.collect()}
    b = {(r.url, r.status, str(r.spans)) for r in fresh.collect()}
    assert a == b
    assert all(st == 200 for _, st, _ in a)


def test_crawl_with_mid_crawl_token_rotation(spark, tmp_path):
    """Full engine crawl with session_rounds=2 (token rotates mid-crawl):
    golden-trace equality must hold and the jar must fetch once per epoch."""
    cfg = SiteConfig(
        hosts=("gepris.example.org", "alt1.example.org"),
        n_projects=20, n_persons=10, n_institutions=4,
        hits_per_page=7, seed=11, session_rounds=2,
    )
    settings = CrawlSettings(
        n_buckets=8,
        politeness=PolitenessConfig(per_host_rate=15, round_seconds=1.0, max_in_flight=5),
        extract=False,
    )
    store = SnapshotStore(spark, tmp_path / "crawl")
    engine = CrawlEngine(spark, cfg, store, settings)
    manifests = engine.run(max_rounds=30)
    golden = simulate_crawl(cfg, per_host_budget=15, max_rounds=30, n_buckets=8)
    assert golden.rounds >= 3  # rotation actually happened mid-crawl
    seen = store.read_union("url_seen", store.latest_round())
    got = {(r.url, r.round) for r in seen.select("url", "round").collect()}
    assert got == set(golden.seen.items())
    fetch_rounds = [m for m in manifests if not m["counters"].get("done")]
    epochs = {m["counters"]["session_epoch"] for m in fetch_rounds}
    assert epochs == {r // 2 for r in range(len(fetch_rounds))}
    assert fetch_rounds[-1]["counters"]["cookie_fetches"] == len(epochs)
    # no 401 ever reached the documents table
    assert seen.filter(F.col("status") == 401).count() == 0
