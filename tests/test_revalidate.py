"""Conditional revalidation (operators/revalidate.py + the transport /
round-loop If-None-Match wiring).

Pins:
- the Spark etag expression, the worker-Python twin, and the synthetic
  servers all hash the same content to the same validator (including
  NULL/'' coalescing and non-ASCII text);
- SyntheticTransport and HttpTransport answer 304 exactly when the sent
  validator matches current content — in both fetch formats;
- recrawl_schedule treats NULL-hash (304) observations as no-change
  evidence and still detects a later real change;
- engine e2e: an unchanged site revalidates every due refetch (304 rows,
  revalidated counter, zero errors, no duplicate 200 documents, no typed
  re-extraction), while a changed site refetches 200 and re-extracts;
- the real-HTTP path produces the identical url_seen outcome.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.operators.recrawl import recrawl_schedule
from ba_gepris_crawler_spark.operators.revalidate import (
    span_etag,
    span_etag_py,
    unchanged_urls,
    validators_df,
)
from ba_gepris_crawler_spark.operators.transport import HttpTransport, SyntheticTransport
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.http_site import SyntheticSiteHTTPServer
from ba_gepris_crawler_spark.sources.synthetic_site import (
    SiteConfig,
    detail_url,
    page_etag,
    render_page,
)

SPANS = [
    ("name_label", "Projekt", "", 0),
    ("name_value", "Straßen-Ökologie <&> \"quotes\"", "", 1),
    ("media", "", "img://x/1", 2),
]


# ---------------------------------------------------------------------------
# etag parity across the three implementations
# ---------------------------------------------------------------------------

def test_span_etag_spark_equals_python(spark):
    rows = [(SPANS,), ([],), ([("a", None, None, 7)],)]
    df = spark.createDataFrame(
        rows, "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    got = [r[0] for r in df.select(span_etag()).collect()]
    # NULL text/media coalesce to '' on both sides (the wire formats
    # already conflate them)
    want = [
        span_etag_py(SPANS),
        span_etag_py([]),
        span_etag_py([("a", "", "", 7)]),
    ]
    assert got == want


def test_page_etag_is_content_addressed(cfg):
    url = detail_url(cfg, "project", cfg.ids("project")[0])
    st, spans = render_page(cfg, url)
    assert st == 200
    assert page_etag(cfg, url) == span_etag_py(spans)
    # non-200 pages publish no validator
    assert page_etag(cfg, f"https://{cfg.hosts[0]}/gepris/projekt/999999") is None


# ---------------------------------------------------------------------------
# transports: conditional GET -> 304
# ---------------------------------------------------------------------------

def test_synthetic_transport_304_on_match(cfg):
    t = SyntheticTransport()
    url = detail_url(cfg, "project", cfg.ids("project")[0])
    etag = page_etag(cfg, url)
    for as_json in (False, True):
        sts, pls = t.fetch_batch(cfg, [url, url], None, 0, as_json, etags=[etag, None])
        assert sts == [304, 200]
        empty = '{"spans":[]}' if as_json else []
        assert pls[0] == empty
        # a stale validator (content changed server-side) fetches in full
        sts2, pls2 = t.fetch_batch(cfg, [url], None, 0, as_json, etags=["0" * 32])
        assert sts2 == [200] and pls2 == [pls[1]]


def test_http_transport_304_on_match(cfg):
    with SyntheticSiteHTTPServer(cfg) as srv:
        t = HttpTransport(srv.base_url)
        url = detail_url(cfg, "person", cfg.ids("person")[0])
        etag = page_etag(cfg, url)
        sts, pls = t.fetch_batch(cfg, [url, url], None, 0, False, etags=[etag, "0" * 32])
        assert sts == [304, 200]
        assert pls[0] == [] and pls[1] == list(render_page(cfg, url)[1])
        # 404s are unaffected by a validator
        sts3, _ = t.fetch_batch(
            cfg, [f"https://{cfg.hosts[0]}/gepris/projekt/999999"], None, 0, False,
            etags=[etag],
        )
        assert sts3 == [404]


# ---------------------------------------------------------------------------
# recrawl policy: 304 observations are no-change evidence
# ---------------------------------------------------------------------------

def test_recrawl_schedule_null_hash_fill(spark):
    rows = [
        # u_reval: 200(a), 304, 304, 304 -> never changed, backs off
        ("u_reval", 0, "a"), ("u_reval", 1, None), ("u_reval", 2, None), ("u_reval", 3, None),
        # u_change_after_304: 200(a), 304, 200(b) -> ONE change at round 2
        # (the filled hash 'a' at round 1 is what 'b' compares against)
        ("u_late", 0, "a"), ("u_late", 1, None), ("u_late", 2, "b"),
    ]
    hist = spark.createDataFrame(rows, "url string, round int, content_hash string")
    got = {
        r["url"]: r
        for r in recrawl_schedule(hist, now_round=10, max_interval=16).collect()
    }
    assert got["u_reval"]["n_obs"] == 4 and got["u_reval"]["n_changes"] == 0
    assert got["u_reval"]["interval"] == 16  # no-change backoff, NOT bootstrap
    assert got["u_late"]["n_changes"] == 1
    assert got["u_late"]["interval"] == 2  # span 2 / 1 change


# ---------------------------------------------------------------------------
# engine e2e
# ---------------------------------------------------------------------------

def _site(**kw) -> SiteConfig:
    base = dict(
        hosts=("h0.example.org", "h1.example.org"),
        n_projects=12, n_persons=8, n_institutions=4,
        hits_per_page=5, seed=23,
    )
    base.update(kw)
    return SiteConfig(**base)


def _engine(spark, tmp, site, **skw) -> CrawlEngine:
    return CrawlEngine(
        spark, site, SnapshotStore(spark, str(tmp)),
        CrawlSettings(
            n_buckets=4, revalidate=True,
            politeness=PolitenessConfig(per_host_rate=40, round_seconds=1.0),
            **skw,
        ),
    )


def _recrawl_round(eng: CrawlEngine) -> dict:
    done = eng.store.latest_round()
    n = eng.enqueue_recrawl(now_round=done + 100)  # everything due
    assert n > 0
    return eng.run_round(done + 1)["counters"]


def test_engine_revalidates_unchanged_site(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("reval")
    eng = _engine(spark, tmp, _site(), extract=True)
    eng.run(max_rounds=20)
    eav_before = eng.store.read_union("eav", eng.store.latest_round()).count()
    c = _recrawl_round(eng)
    # every due refetch revalidated: all 304, zero errors, nothing extracted
    assert c["revalidated"] == c["fetched"] > 0
    assert c["errors"] == 0
    rnd = c["round"]
    docs_rnd = eng.store.read_state("documents", rnd)
    assert docs_rnd.filter(F.col("status") == 304).count() == c["fetched"]
    assert docs_rnd.filter(F.col("status") == 200).count() == 0
    # append-only store: the revalidated round added NO typed rows
    assert eng.store.read_union("eav", rnd).count() == eav_before
    # the published current content is still exactly one 200 row per url
    # (the pre-recrawl observation remains the current version)
    docs_all = eng.store.read_union("documents", rnd).filter(F.col("status") == 200)
    dup = docs_all.groupBy("url").count().filter(F.col("count") > 1).count()
    assert dup == 0
    # the revalidations re-seen their URLs (a second url_seen row)
    seen = eng.store.read_union("url_seen", rnd)
    assert seen.filter(F.col("round") == rnd).count() == c["fetched"]


def test_engine_refetches_changed_site(spark, tmp_path_factory):
    """Same store, but PROJECT pages changed between crawls (page_weight
    regenerates project bodies; person/institution/catalog pages are
    untouched): the mixed due set splits exactly — changed pages refetch
    as full 200s and re-extract, unchanged ones revalidate as 304."""
    tmp = tmp_path_factory.mktemp("reval-changed")
    site = _site()
    eng = _engine(spark, tmp, site, extract=True)
    eng.run(max_rounds=20)
    eav_before = eng.store.read_union("eav", eng.store.latest_round()).count()
    changed = _engine(spark, tmp, _site(page_weight=2), extract=True)
    c = _recrawl_round(changed)
    rnd = c["round"]
    n200 = changed.store.read_state("documents", rnd).filter(F.col("status") == 200).count()
    assert n200 == site.n_projects  # every project page changed...
    assert c["revalidated"] == c["fetched"] - n200 > 0  # ...everything else 304'd
    # changed content re-extracts (appended typed rows for the refetches)
    assert changed.store.read_union("eav", rnd).count() > eav_before


def test_unchanged_urls_cut_without_revalidating_transport(spark, tmp_path_factory):
    """A server that ignores If-None-Match returns full 200s for unchanged
    content; the plan-side hash cut still skips typed re-extraction."""
    tmp = tmp_path_factory.mktemp("reval-hashcut")
    site = _site()
    eng = _engine(spark, tmp, site, extract=True)

    class DeafTransport(SyntheticTransport):
        def fetch_batch(self, cfg, urls, token, epoch, as_json, etags=None):
            return super().fetch_batch(cfg, urls, token, epoch, as_json)  # drops etags

    eng.transport = DeafTransport()
    eng.run(max_rounds=20)
    eav_before = eng.store.read_union("eav", eng.store.latest_round()).count()
    c = _recrawl_round(eng)
    rnd = c["round"]
    assert c["revalidated"] == 0  # the transport never 304s
    assert eng.store.read_state("documents", rnd).filter(
        F.col("status") == 200
    ).count() == c["fetched"]  # full bodies were paid
    # ...but the unchanged-hash cut spared the typed rewrite entirely
    assert eng.store.read_union("eav", rnd).count() == eav_before


def test_engine_revalidates_over_real_http(spark, tmp_path_factory):
    """The full loop over real sockets: If-None-Match out, 304 back, same
    url_seen outcome as the in-process transport."""
    site = _site()
    tmp = tmp_path_factory.mktemp("reval-http")
    eng = _engine(spark, tmp, site, extract=False)
    with SyntheticSiteHTTPServer(site) as srv:
        eng.transport = HttpTransport(srv.base_url)
        eng.run(max_rounds=20)
        c = _recrawl_round(eng)
    assert c["revalidated"] == c["fetched"] > 0 and c["errors"] == 0

    ref = _engine(spark, tmp_path_factory.mktemp("reval-sync"), site, extract=False)
    ref.run(max_rounds=20)
    c2 = _recrawl_round(ref)
    assert c2["revalidated"] == c["revalidated"]
    http_seen = {
        (r["url"], r["round"], r["status"])
        for r in eng.store.read_union("url_seen", c["round"]).collect()
    }
    sync_seen = {
        (r["url"], r["round"], r["status"])
        for r in ref.store.read_union("url_seen", c2["round"]).collect()
    }
    assert http_seen == sync_seen


# ---------------------------------------------------------------------------
# operator-level: validators_df picks the newest observation
# ---------------------------------------------------------------------------

def test_validators_latest_wins_and_304_skipped(spark):
    mk = lambda k, t: [{"kind": k, "text": t, "media_ref": None, "offset": 0}]
    rows = [
        ("u", 0, 200, mk("a", "old")),
        ("u", 2, 200, mk("a", "new")),
        ("u", 3, 304, None),  # revalidation rows carry no payload
        ("v", 1, 200, mk("b", "only")),
    ]
    docs = spark.createDataFrame(
        rows,
        "url string, round int, status int, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r["url"]: r["etag"] for r in validators_df(docs).collect()}
    assert got["u"] == span_etag_py([("a", "new", "", 0)])
    assert got["v"] == span_etag_py([("b", "only", "", 0)])
    # unchanged_urls: only the matching refetch row survives the cut
    refetch = spark.createDataFrame(
        [("u", 5, 200, mk("a", "new")), ("v", 5, 200, mk("b", "CHANGED"))],
        docs.schema,
    )
    vals = validators_df(docs)
    assert [r["url"] for r in unchanged_urls(refetch, vals).collect()] == ["u"]


# ---------------------------------------------------------------------------
# current-version views over the append-only store
# ---------------------------------------------------------------------------

def test_current_tables_after_changed_recrawl(spark, tmp_path_factory):
    """THE pin for latest-version resolution: crawl site A, recrawl after
    its project pages changed to site B — current_tables over that store
    must equal a FRESH crawl of site B, table for table (unchanged
    entities keep their old rows, which are content-identical; changed
    entities resolve to the recrawl round's re-extraction; relation
    tables re-project from resolved projects). published_tables keeps the
    full history (both versions of every changed project)."""
    from ba_gepris_crawler_spark.plans.round_loop import current_tables, published_tables

    site_a, site_b = _site(), _site(page_weight=2)
    tmp = tmp_path_factory.mktemp("curview")
    eng = _engine(spark, tmp, site_a, extract=True)
    eng.run(max_rounds=20)
    changed = _engine(spark, tmp, site_b, extract=True)
    _recrawl_round(changed)

    cur = current_tables(changed.store)
    fresh = _engine(spark, tmp_path_factory.mktemp("curview-fresh"), site_b, extract=True)
    fresh.run(max_rounds=20)
    want = published_tables(fresh.store)

    for name in (
        "projects", "persons", "institutions", "eav",
        "project_ids_to_subject_areas", "project_person_relations",
        "project_institution_relations",
    ):
        got = sorted(cur[name].toJSON().collect())
        ref = sorted(want[name].toJSON().collect())
        assert got == ref, name

    # documents: exactly one current row per doc_id, and the changed
    # projects resolve to the recrawl round
    docs = cur["documents"]
    assert docs.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0
    rec_rnd = changed.store.latest_round()
    n_new = docs.filter(F.col("round") == rec_rnd).count()
    assert n_new == site_a.n_projects

    # history view keeps both versions of every changed project
    hist = published_tables(changed.store)["projects"]
    dup = hist.groupBy("project_id").count().filter(F.col("count") > 1).count()
    assert dup == site_a.n_projects


def test_current_tables_identity_without_recrawl(spark, tmp_path_factory):
    """With no recrawl the views are row-identical to published_tables."""
    from ba_gepris_crawler_spark.plans.round_loop import current_tables, published_tables

    eng = _engine(spark, tmp_path_factory.mktemp("curview-id"), _site(), extract=True)
    eng.run(max_rounds=20)
    cur, pub = current_tables(eng.store), published_tables(eng.store)
    for name in ("documents", "projects", "eav", "project_person_relations"):
        assert sorted(cur[name].toJSON().collect()) == sorted(pub[name].toJSON().collect()), name


def test_read_union_versioned_refuses_compacted(spark, tmp_path_factory):
    """Per-dir round provenance dies at compaction — the versioned read
    must refuse loudly, not return wrong rounds."""
    import pytest as _pytest

    eng = _engine(spark, tmp_path_factory.mktemp("curview-comp"), _site(),
                  extract=False, compact_every=2)
    eng.run(max_rounds=20)
    with _pytest.raises(ValueError, match="compaction"):
        eng.store.read_union_versioned("url_seen", eng.store.latest_round())
