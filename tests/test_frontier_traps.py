"""Crawler-trap heuristics (operators/frontier.py trap_heuristics /
drop_traps): open-web frontier hygiene — new design beyond the single-site
reference, which never faces traps. Pinned here: each heuristic fires on
its own trap family and never on healthy URLs, the filter is UDF-free, and
enabling it on the (trap-free) synthetic site changes nothing. Also
pinned: merge_frontier keeps the min-by row per URL."""

from __future__ import annotations

from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.frontier import (
    drop_traps,
    merge_frontier,
    seed_frontier,
    trap_heuristics,
)
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

HEALTHY = [
    "https://h00.gepris.example.org/gepris/projekt/123?language=en",
    "https://h01.gepris.example.org/gepris/OCTOPUS?context=projekt&hitsPerPage=50&index=0&task=doSearchExtended&resourceTypeQuery=projekt&language=en",
    "https://x.org/a/b/c/d",
    "https://x.org/",
]
TRAPS = {
    "deep_calendar": "https://x.org/cal/" + "2024/01/" * 10 + "index.html",
    "segment_loop": "https://x.org/a/b/a/a",
    "param_explosion": "https://x.org/s?" + "&".join(f"p{i}={i}" for i in range(12)),
    "overlong": "https://x.org/" + "x" * 600,
}


def _scored(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r["url"]: r.asDict() for r in trap_heuristics(df).collect()}


def test_healthy_urls_pass(spark):
    rows = _scored(spark, HEALTHY)
    assert all(not r["is_trap"] for r in rows.values()), rows


def test_each_trap_family_fires(spark):
    rows = _scored(spark, list(TRAPS.values()))
    assert all(r["is_trap"] for r in rows.values()), rows
    assert rows[TRAPS["deep_calendar"]]["path_depth"] > 12
    assert rows[TRAPS["segment_loop"]]["seg_repeat"] >= 3
    assert rows[TRAPS["param_explosion"]]["n_params"] > 8
    assert rows[TRAPS["overlong"]]["url_len"] > 512


def test_drop_traps_preserves_schema_and_healthy_rows(spark):
    df = spark.createDataFrame(
        [(u, "x.org", 1) for u in HEALTHY + list(TRAPS.values())],
        "url string, host string, crawl_depth int",
    )
    out = drop_traps(df)
    assert out.columns == df.columns
    kept = {r["url"] for r in out.collect()}
    assert kept == set(HEALTHY)


def test_trap_filter_is_udf_free(spark):
    df = spark.createDataFrame([(u,) for u in HEALTHY], "url string")
    plan = trap_heuristics(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_engine_unchanged_on_trapfree_site(spark, tmp_path):
    """trap_limits={} (defaults on) over the synthetic site — which cannot
    emit trap URLs — must be a byte-identical crawl to trap_limits=None."""
    from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
    from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
    from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    site = SiteConfig(
        hosts=("h00.gepris.example.org", "h01.gepris.example.org"),
        n_projects=120, n_persons=40, n_institutions=10, hits_per_page=50, seed=42,
    )
    seen = {}
    for name, limits in (("off", None), ("on", {})):
        store = SnapshotStore(spark, tmp_path / name)
        settings = CrawlSettings(
            n_buckets=8,
            politeness=PolitenessConfig(per_host_rate=400, round_seconds=1.0, max_in_flight=10),
            extract=False, trap_limits=limits,
        )
        CrawlEngine(spark, site, store, settings).run(max_rounds=8)
        df = store.read_union("url_seen", store.latest_round())
        seen[name] = sorted((r["url"], r["seq"], r["round"]) for r in df.collect())
    assert seen["on"] == seen["off"]
    assert len(seen["on"]) > 100


def test_hostile_catalog_total_is_capped(spark):
    """The catalog pagination total is PAGE-SUPPLIED data: a hostile or
    misrendered 'out of 2,000,000,000 on' page must expand to at most
    MAX_CATALOG_PAGES page URLs, not a 40M-element struct array inside one
    row's projection (executor OOM) — the same hostile-input discipline as
    the robots caps (review r5 engine #2)."""
    from ba_gepris_crawler_spark.operators.frontier import (
        MAX_CATALOG_PAGES,
        discovered_catalog_urls,
        discovered_urls,
    )
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=50, seed=1)
    span = "array<struct<kind string, text string, media_ref string, offset int>>"
    docs = spark.createDataFrame(
        [("h.example.org", "project", None, 0,
          [("text", "Result 1 out of 2,000,000,000 on this server", None, 0)])],
        f"host string, resource_type string, resource_id string, crawl_depth int, spans {span}",
    )
    assert discovered_urls(docs, cfg, 1).count() == MAX_CATALOG_PAGES
    assert discovered_catalog_urls(docs, cfg, 1).count() == MAX_CATALOG_PAGES


def test_unparsable_catalog_total_emits_nothing(spark):
    """A catalog page whose total does NOT parse (garbled/truncated text,
    try_cast -> NULL) must emit ZERO page URLs — not the cap's worth.
    least() SKIPS nulls (least(NULL, cap) = cap), so capping the total
    before the null guard turned every unparsable page into a 100k-URL
    phantom fan-out (review r5 tail #1). Both discovery paths must agree."""
    from ba_gepris_crawler_spark.operators.frontier import (
        discovered_catalog_urls,
        discovered_urls,
    )
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=50, seed=1)
    span = "array<struct<kind string, text string, media_ref string, offset int>>"
    docs = spark.createDataFrame(
        [
            # no 'out of N on' match at all
            ("h.example.org", "project", None, 0,
             [("text", "Result 1 out of — truncated", None, 0)]),
            # matches the regex but the digits are empty -> try_cast NULL
            ("h.example.org", "person", None, 0,
             [("text", "Result 1 out of , on this server", None, 0)]),
        ],
        f"host string, resource_type string, resource_id string, crawl_depth int, spans {span}",
    )
    assert discovered_urls(docs, cfg, 1).count() == 0
    assert discovered_catalog_urls(docs, cfg, 1).count() == 0


def test_int32_overflow_total_is_capped_not_unparsable(spark):
    """'out of 3,000,000,000 on' is above int32: the old `AS int` cast made
    it try_cast-NULL — silently UNPARSABLE (zero pages), so the hostile-
    input cap never engaged despite its own comment advertising exactly
    this case (review r5 final #5). With bigint the cap binds; only a
    total above int64 range (20 digits) stays unparsable, by design."""
    from ba_gepris_crawler_spark.operators.frontier import (
        MAX_CATALOG_PAGES,
        discovered_catalog_urls,
        discovered_urls,
    )
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=50, seed=1)
    span = "array<struct<kind string, text string, media_ref string, offset int>>"
    above_i32 = spark.createDataFrame(
        [("h.example.org", "project", None, 0,
          [("text", "Result 1 out of 3,000,000,000 on this server", None, 0)])],
        f"host string, resource_type string, resource_id string, crawl_depth int, spans {span}",
    )
    above_i64 = spark.createDataFrame(
        [("h.example.org", "person", None, 0,
          [("text", "Result 1 out of 99,999,999,999,999,999,999 on this server", None, 0)])],
        f"host string, resource_type string, resource_id string, crawl_depth int, spans {span}",
    )
    assert discovered_urls(above_i32, cfg, 1).count() == MAX_CATALOG_PAGES
    assert discovered_catalog_urls(above_i32, cfg, 1).count() == MAX_CATALOG_PAGES
    assert discovered_urls(above_i64, cfg, 1).count() == 0
    assert discovered_catalog_urls(above_i64, cfg, 1).count() == 0


def test_overlong_link_id_dropped_not_ansi_crash(spark):
    """A page link whose resource id runs past 18 digits is PAGE-SUPPLIED
    hostile data: the id is cast to long for host assignment, and an
    unbounded \\d+ match let one such row ANSI-crash the task — and after
    stage retries the whole round (review r5 final #1). Both discovery
    kernels must drop the bogus link and keep well-formed siblings."""
    from ba_gepris_crawler_spark.operators.frontier import (
        discovered_detail_urls,
        discovered_urls,
    )
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h.example.org", "h2.example.org"), n_projects=4,
                     n_persons=2, n_institutions=1, hits_per_page=50, seed=1)
    span = "array<struct<kind string, text string, media_ref string, offset int>>"
    docs = spark.createDataFrame(
        [("h.example.org", "project", "7", 1,
          [("link", "x", "/gepris/projekt/99999999999999999999", 0),   # 20 digits
           ("link", "x", "/gepris/person/123", 1)])],
        f"host string, resource_type string, resource_id string, crawl_depth int, spans {span}",
    )
    for fn in (discovered_urls, discovered_detail_urls):
        rows = fn(docs, cfg, 2).collect()
        assert [r["resource_id"] for r in rows] == ["123"], fn.__name__
        assert rows[0]["resource_type"] == "person"


def test_merge_frontier_is_min_by_not_arbitrary(spark):
    """One frontier union can carry the SAME URL twice (deferred by round
    k, rediscovered at round k+1) with different depth/priority.
    merge_frontier must keep the deterministic min-by (crawl_depth,
    priority, discovered_round) row, whichever part it arrives in — not
    dropDuplicates' arbitrary row, which makes the budget cut and the
    persisted crawl_depth run-dependent."""
    cfg = SiteConfig(hosts=("gepris.example.org",), n_projects=4, n_persons=2,
                     n_institutions=1, hits_per_page=5, seed=5)
    one = seed_frontier(spark, cfg).limit(1)
    stale = (
        one.withColumn("crawl_depth", F.lit(9))
        .withColumn("priority", F.lit(7))
        .withColumn("discovered_round", F.lit(9))
    )
    want = one.first()
    for parts in ((one, stale), (stale, one)):
        assert merge_frontier(*parts).collect() == [want]
