"""Real-socket fetch path: HttpTransport against an in-process localhost
HTTP server serving the synthetic site (VERDICT r4 'What's missing' #2).

Pins: real status codes (200/401/404/503), the real Set-Cookie header
through parse_set_cookie, worker-side 401 refresh+retry over actual
sockets, transport picklability (it ships into the mapInPandas closure),
and a full engine crawl through HTTP byte-equal to the in-process
SyntheticTransport crawl.
"""

from __future__ import annotations

import pickle

import pytest
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.cookies import parse_set_cookie
from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.operators.transport import HttpTransport, SyntheticTransport
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
from ba_gepris_crawler_spark.sources.http_site import SyntheticSiteHTTPServer
from ba_gepris_crawler_spark.sources.synthetic_site import (
    SiteConfig,
    render_page,
    render_page_json,
    session_token,
)


@pytest.fixture(scope="module")
def site() -> SiteConfig:
    return SiteConfig(
        hosts=("h0.example.org", "h1.example.org"),
        n_projects=40, n_persons=18, n_institutions=6,
        hits_per_page=9, seed=11,
        error_mod=13,      # some detail pages 503 -> quarantine over HTTP too
        session_rounds=2,  # cookie-gated: exercises 401 + Set-Cookie flow
    )


@pytest.fixture(scope="module")
def server(site):
    with SyntheticSiteHTTPServer(site) as srv:
        yield srv


def _urls(site: SiteConfig) -> list[str]:
    h = site.hosts[0]
    return [
        f"https://{h}/gepris/projekt/100000",             # 200 detail
        f"https://{h}/gepris/projekt/100004",             # wrong host or 200
        f"https://{h}/gepris/OCTOPUS?context=projekt&resourceTypeQuery=projekt&index=0",
        f"https://{h}/gepris/projekt/999999",             # out of range -> 404
        f"https://unknown.example.org/gepris/projekt/100000",  # unknown host -> 404
    ]


def test_http_statuses_and_bodies_match_in_process(site, server):
    """Every URL fetched over real sockets returns the same status code and
    the same body bytes as the pure-function server."""
    t = HttpTransport(server.base_url)
    tok = session_token(site, epoch=0)
    urls = _urls(site)
    statuses, bodies = t.fetch_batch(site, urls, tok, epoch=0, as_json=True)
    for url, st, body in zip(urls, statuses, bodies):
        want_st, want_body = render_page_json(site, url, tok, 0)
        assert (st, body) == (want_st, want_body), url
    assert 404 in statuses  # the real error codes actually travelled


def test_http_html_mode_spans_equal_render_page(site, server):
    t = HttpTransport(server.base_url)
    tok = session_token(site, epoch=1)
    urls = _urls(site)[:3]
    statuses, spans = t.fetch_batch(site, urls, tok, epoch=1, as_json=False)
    for url, st, pl in zip(urls, statuses, spans):
        want_st, want_pl = render_page(site, url, tok, 1)
        assert st == want_st and pl == list(want_pl), url


def test_http_set_cookie_header_and_401_retry(site, server):
    """The session endpoint answers with a REAL Set-Cookie header that
    parse_set_cookie reads; a stale token gets 401 from the server and the
    transport refreshes + retries once, ending at 200."""
    t = HttpTransport(server.base_url)
    header = t.fetch_session_header(site, epoch=3)
    name, value, attrs = parse_set_cookie(header)
    assert name == "JSESSIONID" and value == session_token(site, 3)
    assert attrs.get("httponly") is True and attrs.get("path") == "/gepris"

    url = f"https://{site.hosts[0]}/gepris/projekt/100000"
    # stale epoch-0 token against epoch-3 pages: direct request is 401...
    st, _body, _sc, _loc = t._request(url, session_token(site, 0), 3)
    assert st == 401
    # ...but the batched fetch recovers through the Set-Cookie flow
    statuses, bodies = t.fetch_batch(
        site, [url], session_token(site, 0), epoch=3, as_json=True
    )
    assert statuses == [200]
    assert bodies[0] == render_page_json(site, url, session_token(site, 3), 3)[1]


def test_http_transport_pickles(server):
    """The transport rides the mapInPandas closure to executors."""
    t = HttpTransport(server.base_url, max_in_flight=7, timeout=3.5)
    t2 = pickle.loads(pickle.dumps(t))
    assert (t2.base_url, t2.max_in_flight, t2.timeout) == (t.base_url, 7, 3.5)


def test_synthetic_transport_batch_matches_render_page(site):
    """The default transport is the pre-seam fetch loop verbatim: statuses
    and payloads equal direct render_page calls with the epoch token."""
    t = SyntheticTransport()
    tok = session_token(site, 0)
    urls = _urls(site)
    statuses, payloads = t.fetch_batch(site, urls, tok, 0, as_json=False)
    for url, st, pl in zip(urls, statuses, payloads):
        assert (st, pl) == render_page(site, url, tok, 0), url


def test_engine_crawl_over_http_byte_equal_to_in_process(spark, site, server, tmp_path):
    """Full crawl through real HTTP == full crawl through the in-process
    transport: same manifests counters, same URL-seen set, same documents
    rows (spans included), same quarantine rows, same cookie fetch count."""
    settings = CrawlSettings(
        n_buckets=8,
        politeness=PolitenessConfig(per_host_rate=20, round_seconds=1.0, max_in_flight=5),
        extract=False,
    )

    def crawl(name: str, transport):
        store = SnapshotStore(spark, tmp_path / name)
        eng = CrawlEngine(spark, site, store, settings)
        eng.transport = transport
        manifests = eng.run(max_rounds=30)
        return store, manifests

    store_http, man_http = crawl("http", HttpTransport(server.base_url))
    store_syn, man_syn = crawl("syn", None)

    assert man_http[-1]["counters"]["done"] and man_syn[-1]["counters"]["done"]
    assert [m["counters"] for m in man_http] == [m["counters"] for m in man_syn]

    last_h, last_s = store_http.latest_round(), store_syn.latest_round()
    seen_h = {r.url for r in store_http.read_union("url_seen", last_h).collect()}
    seen_s = {r.url for r in store_syn.read_union("url_seen", last_s).collect()}
    assert seen_h == seen_s and seen_h

    def docs(store, last):
        return sorted(
            map(
                tuple,
                store.read_union("documents", last)
                .select("doc_id", "url", "status", F.to_json("spans").alias("sp"))
                .collect(),
            )
        )

    dh, ds = docs(store_http, last_h), docs(store_syn, last_s)
    assert dh == ds
    assert any(t[2] == 503 for t in dh)  # quarantine rows travelled over HTTP


def test_network_errors_quarantine_not_crash(site):
    """A connection refused / dead server must surface as a 599 status row
    (one quarantined URL), never an exception that kills the Spark task:
    urllib raises URLError (not HTTPError) for socket-level failures and
    the old handler let it escape (review r5 engine #1)."""
    # port 9 (discard) on localhost: nothing listens -> immediate refusal
    t = HttpTransport("http://127.0.0.1:9", timeout=0.5)
    sts, payloads = t.fetch_batch(site, _urls(site)[:2], session_token(site, 0), 0, as_json=False)
    assert sts == [599, 599]
    assert payloads == [[], []]


def test_malformed_200_body_quarantines_as_598(site, server, monkeypatch):
    """A 200 whose body is not the site's span serialization (truncated /
    hostile response) must quarantine as 598, not raise through the Arrow
    batch (review r5 engine hardening) — in json mode too, where a body
    passed through as a 200 would become, after the plan's from_json, a
    committed 200 document with NULL spans that is never retried."""
    t = HttpTransport(server.base_url)
    real = HttpTransport._request

    def corrupt(self, url, token, epoch, etag=None):
        st, body, sc, loc = real(self, url, token, epoch, etag)
        return st, "<html>not json</html>" if st == 200 else body, sc, loc

    monkeypatch.setattr(HttpTransport, "_request", corrupt)
    for as_json in (False, True):
        sts, payloads = t.fetch_batch(
            site, _urls(site)[:1], session_token(site, 0), 0, as_json=as_json
        )
        assert sts == [598] and payloads == ([""] if as_json else [[]]), as_json


def test_failed_session_refresh_leaves_401_quarantined(site, server, monkeypatch):
    """If the mid-batch session refresh itself fails (endpoint briefly
    down), the 401 rows must stay quarantined status rows — the task must
    not die on the refresh exception (review r5 engine #3)."""
    t = HttpTransport(server.base_url)

    def broken_refresh(self, cfg, epoch=0):
        raise RuntimeError("session endpoint returned 503")

    monkeypatch.setattr(HttpTransport, "fetch_session_header", broken_refresh)
    # stale token for epoch 1 -> 401s; refresh fails -> rows stay 401
    stale = session_token(site, 0)
    sts, payloads = t.fetch_batch(site, _urls(site)[:2], stale, 1, as_json=False)
    assert all(st in (401, 404, 200, 503) for st in sts)
    assert 401 in sts  # the stale rows stayed quarantined, nothing raised


def test_undecodable_body_quarantines_as_598(site):
    """A LIVE server answering 200 with non-UTF8 bytes must quarantine as
    598: UnicodeDecodeError is a ValueError, so it escaped the socket-error
    arm (URLError/OSError) and raised through the Arrow batch — one hostile
    response killing the task and, after stage retries, the whole round
    (review r5 final #2)."""
    import http.server
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", "4")
            self.end_headers()
            self.wfile.write(b"\xff\xfe\xfd\xfc")

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        t = HttpTransport(f"http://127.0.0.1:{srv.server_address[1]}")
        sts, payloads = t.fetch_batch(site, _urls(site)[:1], None, 0, as_json=False)
        assert sts == [598] and payloads == [[]]
        # json-API mode takes the same _request path below the split
        sts2, bodies = t.fetch_batch(site, _urls(site)[:1], None, 0, as_json=True)
        assert sts2 == [598] and bodies == [""]
    finally:
        srv.shutdown()
        srv.server_close()
