"""Pluggable fetch transports for the vectorized fetch stage.

`fetch_pages` (operators/fetch.py) is transport-agnostic: it hands each
Arrow batch's URL list to a Transport and gets back per-URL (status,
payload) pairs. Two transports ship:

- ``SyntheticTransport`` (default): the in-process deterministic site —
  ``render_page`` / ``render_page_json`` as a pure function of the URL.
  Zero sockets, identical semantics to the pre-seam fetch loop.
- ``HttpTransport``: real HTTP over real sockets, batched through a
  thread pool capped at ``max_in_flight`` concurrent requests — the
  PySpark analog of the reference's ``mapAsync(10)`` fetch stage
  (CrawledResourceDetailDataGraph.scala:24-46): per-batch bounded
  concurrency, non-200 surfaced as a status row (the reference throws
  and dies; our round loop quarantines instead), and the session cookie
  refreshed via a real ``Set-Cookie`` response header on 401
  (CookieFlowGraph.scala:30-58).

The transport contract (duck-typed; both methods run ON EXECUTORS inside
mapInPandas, so a transport must be picklable — hold addresses and
config, never sockets or pools):

- ``fetch_batch(cfg, urls, token, epoch, as_json) -> (statuses, payloads)``
  where payload is a span tuple list (``as_json=False``) or a raw JSON
  body string (``as_json=True``). The transport owns the 401 -> refresh
  session -> retry-once flow so it can batch it optimally.
- ``fetch_session_header(cfg, epoch) -> str`` — one Set-Cookie header
  value; consumed by ``parse_set_cookie`` on both the driver (CookieJar)
  and the workers (the 401 retry).

At cluster scale the HttpTransport shape is the real one: each executor
task opens its own connections for its partition's URLs (no shared state,
no driver round-trips), politeness budgets are enforced upstream by
schedule_round, and the per-batch thread pool bounds a task's in-flight
requests exactly like the reference's mapAsync window.
"""

from __future__ import annotations

import json
from urllib.parse import urlparse

from ba_gepris_crawler_spark.sources.synthetic_site import (
    SiteConfig,
    fetch_session_header,
    render_page,
)

SPAN_TUPLE_KEYS = ("kind", "text", "media_ref", "offset")


def _decode_spans(body: str | None) -> list | None:
    """The site's span serialization -> render_page's span tuples, or None
    when the body is not one (does not parse, or has no `spans` list)."""
    try:
        return [tuple(s[k] for k in SPAN_TUPLE_KEYS) for s in json.loads(body)["spans"]]
    except (ValueError, KeyError, TypeError):
        return None


class SyntheticTransport:
    """In-process deterministic 'network': page bytes are a pure function
    of (cfg, url, token, epoch), so every executor regenerates its
    partition's pages with no I/O at all."""

    def fetch_session_header(self, cfg: SiteConfig, epoch: int = 0) -> str:
        return fetch_session_header(cfg, epoch)

    def fetch_batch(
        self,
        cfg: SiteConfig,
        urls: list[str],
        token: str | None,
        epoch: int,
        as_json: bool,
        etags: list[str | None] | None = None,
    ) -> tuple[list[int], list]:
        from ba_gepris_crawler_spark.operators.cookies import parse_set_cookie
        from ba_gepris_crawler_spark.operators.revalidate import span_etag_py
        from ba_gepris_crawler_spark.sources.synthetic_site import spans_to_json_body

        statuses: list[int] = []
        payloads: list = []
        for i, url in enumerate(urls):
            st, spans = render_page(cfg, url, token, epoch)  # simulated round-trip
            if st == 401:  # stale session: refresh cookie on the worker, retry once
                _n, token, _a = parse_set_cookie(self.fetch_session_header(cfg, epoch))
                st, spans = render_page(cfg, url, token, epoch)
            # conditional GET (If-None-Match analog): the synthetic server's
            # published validator is the content-addressed etag, so a match
            # revalidates as 304 with no payload — same decision rule as the
            # HTTP twin (sources/http_site.py)
            etag = etags[i] if etags is not None else None
            if etag is not None and st == 200 and span_etag_py(spans) == etag:
                st, spans = 304, []
            statuses.append(st)
            payloads.append(spans_to_json_body(spans) if as_json else spans)
        return statuses, payloads


class HttpTransport:
    """Real-socket HTTP transport. Frontier URLs keep their logical hosts
    (``https://h0.example.org/gepris/...``); requests go to ``base_url``
    (scheme://addr:port) with the logical host riding the ``Host`` header —
    the same indirection a proxy/service-mesh deploy uses, and what lets
    one localhost test server impersonate every synthetic host.

    The epoch rides an ``X-Epoch`` request header: the in-process model's
    session clock is the round counter, which only the engine knows; a
    production server would use wall-clock session expiry instead. Bounded
    concurrency per Arrow batch via a thread pool of ``max_in_flight``
    (reference: mapAsync(10)). Instances hold only strings/numbers, so
    they pickle cleanly into the mapInPandas closure; the pool is created
    per batch on the executor."""

    SESSION_PATH = "/gepris/session"

    def __init__(self, base_url: str, max_in_flight: int = 10, timeout: float = 10.0):
        self.base_url = base_url.rstrip("/")
        self.max_in_flight = int(max_in_flight)
        self.timeout = float(timeout)

    # -- one physical request -------------------------------------------
    def _request(
        self, logical_url: str, token: str | None, epoch: int,
        etag: str | None = None,
    ) -> tuple[int, str, str | None, str | None]:
        """GET the logical URL through base_url. Returns (status, body,
        set_cookie_header, location_header). urllib raises on >=400; both
        arms funnel into the same (status, body) shape — a non-200 is DATA
        here, the round loop quarantines it (the reference throws and dies,
        CrawledResourceDetailDataGraph.scala:43-46). Redirects are NOT
        auto-followed (urllib's default handler would chase them silently,
        hiding the hop from politeness budgets and the seen set): a 3xx
        surfaces as a status row whose Location header the engine turns
        into a frontier candidate (operators/redirects.py)."""
        import http.client
        import urllib.error
        import urllib.request

        p = urlparse(logical_url)
        path = p.path + (f"?{p.query}" if p.query else "")
        headers = {"Host": p.netloc, "X-Epoch": str(epoch)}
        if token is not None:
            headers["Cookie"] = f"JSESSIONID={token}"
        if etag is not None:
            # conditional GET: quoted strong validator (RFC 9110 §8.8.3);
            # a 304 answer comes back through the HTTPError arm below as
            # a plain status row with no body — revalidated, not an error
            headers["If-None-Match"] = f'"{etag}"'
        req = urllib.request.Request(self.base_url + path, headers=headers)

        class _NoRedirect(urllib.request.HTTPRedirectHandler):
            def redirect_request(self, *a, **k):  # 3xx -> HTTPError arm below
                return None

        opener = urllib.request.build_opener(_NoRedirect)
        try:
            with opener.open(req, timeout=self.timeout) as r:
                status, raw = r.status, r.read()
                sc, loc = r.headers.get("Set-Cookie"), r.headers.get("Location")
        except urllib.error.HTTPError as e:
            try:
                raw = e.read() if e.fp is not None else b""
            except (OSError, http.client.HTTPException):
                raw = b""  # error body died mid-read: keep the status row
            sc = e.headers.get("Set-Cookie") if e.headers is not None else None
            loc = e.headers.get("Location") if e.headers is not None else None
            status = e.code
        except (urllib.error.URLError, OSError, TimeoutError, http.client.HTTPException):
            # No usable HTTP response at all (refused/reset connection, DNS
            # failure, socket timeout, garbled status line / truncated
            # chunked body — HTTPException is NOT an OSError): still DATA,
            # not an exception — one flaky socket among millions of URLs
            # must quarantine one row, not kill the task and (after 4 stage
            # retries) the whole round. 599 is the informal network-error
            # status; the DQ liveness classifier buckets it as server_error.
            return 599, "", None, None
        try:
            body = raw.decode("utf-8")
        except UnicodeDecodeError:
            # A live server answered with undecodable bytes: same quarantine
            # class as a malformed 200 body (598 in fetch_batch), NOT a
            # network failure. UnicodeDecodeError is a ValueError, so it
            # escaped the socket-error arm above and killed the task
            # (review r5 final #2). A non-200 keeps its own status — its
            # body is discarded downstream anyway.
            return (598 if status == 200 else status), "", sc, loc
        return status, body, sc, loc

    def fetch_session_header(self, cfg: SiteConfig, epoch: int = 0) -> str:
        """Hit the session endpoint and return its raw Set-Cookie header —
        the reference reads Set-Cookie off the landing page
        (CookieFlowGraph.scala:39-44)."""
        host = cfg.hosts[0]
        st, _body, sc, _loc = self._request(f"https://{host}{self.SESSION_PATH}", None, epoch)
        if st != 200 or not sc:
            raise RuntimeError(f"session endpoint returned {st} with Set-Cookie={sc!r}")
        return sc

    def fetch_batch(
        self,
        cfg: SiteConfig,
        urls: list[str],
        token: str | None,
        epoch: int,
        as_json: bool,
        etags: list[str | None] | None = None,
    ) -> tuple[list[int], list]:
        from concurrent.futures import ThreadPoolExecutor

        from ba_gepris_crawler_spark.operators.cookies import parse_set_cookie

        if not urls:
            return [], []
        row_etags = etags if etags is not None else [None] * len(urls)

        def one(url: str, tok: str | None, etag: str | None = None) -> tuple[int, str, str | None]:
            st, body, _sc, loc = self._request(url, tok, epoch, etag)
            return st, body, loc

        with ThreadPoolExecutor(max_workers=min(self.max_in_flight, len(urls))) as pool:
            results = list(pool.map(lambda ue: one(ue[0], token, ue[1]), zip(urls, row_etags)))
            # stale session: refresh the cookie ONCE per batch through the
            # real Set-Cookie flow, then retry exactly the 401'd URLs. A
            # refresh that itself fails (session endpoint briefly 503, or
            # a response without Set-Cookie) must NOT kill the task: the
            # 401 rows stay quarantined status rows and the next round
            # retries them with a fresh session.
            if any(st == 401 for st, _, _ in results):
                try:
                    _n, token, _a = parse_set_cookie(self.fetch_session_header(cfg, epoch))
                except (RuntimeError, ValueError):
                    token = None
                if token is not None:
                    retry_idx = [i for i, (st, _, _) in enumerate(results) if st == 401]
                    retried = list(pool.map(lambda i: one(urls[i], token, row_etags[i]), retry_idx))
                    for i, r in zip(retry_idx, retried):
                        results[i] = r

        statuses = [st for st, _, _ in results]
        # A 200 whose body is not the site's span serialization (truncated
        # response, hostile server) quarantines as 598 in both formats,
        # instead of raising through the task (html) or committing a 200
        # document with NULL spans that is never retried (json).
        if as_json:
            # a 3xx body is empty on the wire; re-encode the Location header
            # as the location-span body the in-process server emits, so the
            # plan-side from_json parse is transport-agnostic
            bodies = []
            for i, (st, body, loc) in enumerate(results):
                if 300 <= st < 400 and loc:
                    bodies.append(json.dumps(
                        {"spans": [{"kind": "location", "text": "",
                                    "media_ref": loc, "offset": 0}]},
                        separators=(",", ":"),
                    ))
                elif st == 200 and _decode_spans(body) is None:
                    statuses[i] = 598
                    bodies.append("")
                else:
                    bodies.append(body)
            return statuses, bodies
        # html-mode parse on the worker: the wire body is the site's span
        # serialization; decode it to the same tuple shape render_page emits.
        payloads: list = []
        for i, (st, body, loc) in enumerate(results):
            if 300 <= st < 400 and loc:
                # Location header -> the same 'location' span the in-process
                # render_page emits: the engine's redirect-following path is
                # transport-agnostic by construction
                payloads.append([("location", "", loc, 0)])
                continue
            if st != 200 or not body:
                payloads.append([])
                continue
            spans = _decode_spans(body)
            if spans is None:
                statuses[i] = 598
                spans = []
            payloads.append(spans)
        return statuses, payloads
