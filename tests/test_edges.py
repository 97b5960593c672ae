"""Edge and property tests: canonicalizer idempotence over randomized messy
URLs, a crawl where EVERY detail page errors (quarantine must carry the
whole crawl), and fuzzed cookie/robots parsers (hypothesis)."""

from __future__ import annotations

import random

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.canonicalize import canonical_url
from ba_gepris_crawler_spark.operators.cookies import parse_set_cookie
from ba_gepris_crawler_spark.operators.politeness import (
    _MAX_RULE_LEN,
    PolitenessConfig,
    parse_robots_rules,
)
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig
from ba_gepris_crawler_spark.testing.golden_crawl import simulate_crawl


def test_canonical_url_is_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over 2000 randomized messy
    URLs (mixed case, default and non-default ports, fragments, empty
    queries, junk)."""
    rng = random.Random(99)
    schemes = ["http", "HTTPS", "ftp", "HtTp"]
    ports = ["", ":80", ":443", ":8080"]
    tails = ["", "#frag", "?", "?a=1", "/x/y?b=2#z", "/"]
    urls = []
    for i in range(2000):
        if i % 17 == 0:
            urls.append(f"not a url {i}")
            continue
        urls.append(
            f"{rng.choice(schemes)}://Host{i % 7}.Example.ORG{rng.choice(ports)}{rng.choice(tails)}"
        )
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.select(
        canonical_url("url").alias("c1"),
        canonical_url(canonical_url("url")).alias("c2"),
    )
    assert out.filter(F.col("c1") != F.col("c2")).count() == 0


def test_crawl_survives_total_detail_failure(spark, tmp_path):
    """error_mod=1: EVERY detail page answers 503. The crawl must still
    converge (catalogs drive discovery), quarantine every failure, refetch
    nothing, and match the golden simulator exactly."""
    cfg = SiteConfig(
        hosts=("gepris.example.org",),
        n_projects=12, n_persons=6, n_institutions=2,
        hits_per_page=5, seed=13, error_mod=1,
    )
    store = SnapshotStore(spark, tmp_path / "allfail")
    settings = CrawlSettings(
        n_buckets=4,
        politeness=PolitenessConfig(per_host_rate=30, round_seconds=1.0),
        extract=True,  # extraction over zero successful detail pages
    )
    manifests = CrawlEngine(spark, cfg, store, settings).run(max_rounds=20)
    assert manifests[-1]["counters"]["done"]
    golden = simulate_crawl(cfg, per_host_budget=30, max_rounds=20, n_buckets=4)
    log = store.read_union("url_seen", store.latest_round())
    assert {(r.url, r.round) for r in log.select("url", "round").collect()} == set(
        golden.seen.items()
    )
    detail = log.filter(~F.col("url").contains("OCTOPUS"))
    assert detail.count() > 0
    assert detail.filter(F.col("status") == 200).count() == 0  # all quarantined
    assert log.count() == log.select("url").distinct().count()  # no refetch storm


@settings(max_examples=200, deadline=None)
@given(
    name=st.from_regex(r"[A-Za-z][A-Za-z0-9_]{0,10}", fullmatch=True),
    value=st.from_regex(r"[A-Za-z0-9\-_.]{0,20}", fullmatch=True),
    path=st.from_regex(r"/[a-z0-9/]{0,10}", fullmatch=True),
    http_only=st.booleans(),
    secure=st.booleans(),
)
def test_parse_set_cookie_roundtrip_property(name, value, path, http_only, secure):
    header = f"{name}={value}; Path={path}"
    if http_only:
        header += "; HttpOnly"
    if secure:
        header += "; Secure"
    n, v, attrs = parse_set_cookie(header)
    assert (n, v) == (name, value)
    assert attrs.get("path") == path
    assert bool(attrs.get("httponly")) == http_only
    assert bool(attrs.get("secure")) == secure


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_parse_robots_never_crashes_and_anchors(txt):
    rules = parse_robots_rules("h.example.org", txt)
    for host, pattern, spec, allow in rules:
        assert host == "h.example.org"
        assert pattern.startswith("^")  # always anchored
        assert 0 < spec <= _MAX_RULE_LEN and isinstance(allow, bool)


def test_parse_robots_agent_specific_group():
    txt = "User-agent: gepris-crawler\nDisallow: /mine/\nUser-agent: *\nDisallow: /all/\n"
    mine = parse_robots_rules("h", txt, user_agent="gepris-crawler")
    other = parse_robots_rules("h", txt, user_agent="somebot")
    assert len(mine) == 2  # its own group AND the wildcard group
    assert len(other) == 1  # wildcard group only


@settings(max_examples=300, deadline=None)
@given(
    st.floats(allow_nan=False),
    st.floats(min_value=0.001, max_value=86_400.0),
)
def test_budget_from_rate_always_int32_safe(rate, round_seconds):
    """Property (review r4b): for ANY non-NaN rate — including inf,
    negative, zero, subnormal — the derived budget is an int in
    [1, INT32_MAX], so no budget column can ever overflow or go
    non-positive. NaN is the one rejected input."""
    from ba_gepris_crawler_spark.operators.politeness import (
        _INT32_MAX,
        _budget_from_rate,
    )

    b = _budget_from_rate(rate, round_seconds)
    assert isinstance(b, int) and 1 <= b <= _INT32_MAX


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=300))
def test_parse_crawl_delay_never_crashes_and_is_finite_positive(txt):
    """Property: arbitrary robots.txt text never crashes the delay
    parser, and any returned delay is finite and > 0 (nan/inf/negative
    directives are ignored like malformed)."""
    import math

    from ba_gepris_crawler_spark.operators.politeness import parse_crawl_delay

    d = parse_crawl_delay(txt)
    assert d is None or (math.isfinite(d) and d > 0)
