"""Golden crawl simulator: a straight-line, single-threaded BFS that mirrors
the engine's DOCUMENTED crawl discipline exactly (test-only oracle).

Semantics mirrored from the engine:
- round: candidates = frontier - seen (exact set semantics, J1)
- per-host queue order: (crawl_depth, priority, host_bucket, url) where
  host_bucket = crc32(url) % n_buckets (politeness.salt_bucket — Spark's
  crc32 == zlib.crc32 on utf-8 bytes)
- per-host token-bucket budget per round (PolitenessConfig.per_host_budget)
- non-200 pages are marked seen and quarantined (never refetched)
- discovered links: every /gepris/<type>/<id> link on a 200 page at
  depth+1; catalog pagination regenerates all page URLs at the same depth
- frontier merge keeps min (depth, priority, discovered_round) per url
- trace order within a round: (depth, priority, host, host_rank)
"""

from __future__ import annotations

import math
import re
import zlib
from dataclasses import dataclass, field

from ba_gepris_crawler_spark.sources.synthetic_site import (
    TYPE_FROM_URL,
    URL_TYPE,
    SiteConfig,
    render_page,
    seed_urls,
    session_token,
)

_PRIORITY = {"catalog": 0, "project": 1, "person": 2, "institution": 3}
# id run bounded at 18 digits, matching the engine's frontier._LINK_RE_SQL:
# a 19+-digit id is a trap/bogus link, not a detail page (the engine casts
# the id to long for host assignment; unbounded \d+ would ANSI-crash there)
_LINK_RE = re.compile(r"^/gepris/(projekt|person|institution)/(\d{1,18})$")
_COUNT_RE = re.compile(r".*out of ([\d,]*) on.*", re.DOTALL)


@dataclass(frozen=True)
class Entry:
    url: str
    host: str
    resource_type: str | None
    resource_id: str | None
    crawl_depth: int
    priority: int
    discovered_round: int

    def sort_key(self, n_buckets: int):
        return (
            self.crawl_depth,
            self.priority,
            zlib.crc32(self.url.encode("utf-8")) % n_buckets,
            self.url,
        )


@dataclass
class SimResult:
    seen: dict[str, int] = field(default_factory=dict)  # url -> round fetched
    trace: list[tuple[int, int, str]] = field(default_factory=list)  # (round, seq, url)
    errors: list[tuple[str, int, int]] = field(default_factory=list)  # (url, status, round)
    docs: dict[str, tuple] = field(default_factory=dict)  # url -> (rtype, rid, depth, round, spans)
    rounds: int = 0
    frontier_left: int = 0


def _seed_entries(cfg: SiteConfig) -> list[Entry]:
    out = []
    for url in seed_urls(cfg):
        host = url.split("/")[2]
        urltype = url.split("context=")[1].split("&")[0]
        out.append(Entry(url, host, TYPE_FROM_URL[urltype], None, 0, 0, 0))
    return out


def simulate_crawl(
    cfg: SiteConfig,
    per_host_budget: int,
    max_rounds: int = 50,
    n_buckets: int = 32,
    host_budgets: dict[str, int] | None = None,
) -> SimResult:
    """host_budgets: per-host round-budget overrides (the robots Crawl-delay
    budgets relation, politeness.crawl_delay_budgets -> schedule_round's
    budgets_df); hosts not listed use per_host_budget."""
    res = SimResult()
    frontier: dict[str, Entry] = {e.url: e for e in _seed_entries(cfg)}
    for rnd in range(max_rounds):
        candidates = [e for e in frontier.values() if e.url not in res.seen]
        if not candidates:
            res.rounds = rnd
            res.frontier_left = 0
            return res
        # per-host budget + deterministic order
        by_host: dict[str, list[Entry]] = {}
        for e in sorted(candidates, key=lambda e: e.sort_key(n_buckets)):
            by_host.setdefault(e.host, []).append(e)
        fetch_now: list[tuple[Entry, int]] = []  # (entry, host_rank)
        deferred: list[Entry] = []
        for host, entries in by_host.items():
            budget = (host_budgets or {}).get(host, per_host_budget)
            fetch_now += [(e, i + 1) for i, e in enumerate(entries[:budget])]
            deferred += entries[budget:]
        # trace order: (depth, priority, host, host_rank)
        fetch_now.sort(key=lambda t: (t[0].crawl_depth, t[0].priority, t[0].host, t[1]))
        discovered: list[Entry] = []
        epoch = rnd // cfg.session_rounds if cfg.session_rounds else 0
        token = session_token(cfg, epoch) if cfg.session_rounds else None
        for seq, (e, _rank) in enumerate(fetch_now, start=1):
            status, spans = render_page(cfg, e.url, token, epoch)
            res.seen[e.url] = rnd
            res.trace.append((rnd, seq, e.url))
            if status != 200:
                res.errors.append((e.url, status, rnd))
                continue
            res.docs[e.url] = (e.resource_type, e.resource_id, e.crawl_depth, rnd, spans)
            for kind, text, media_ref, _off in spans:
                if kind == "link":
                    m = _LINK_RE.match(media_ref)
                    if m:
                        rtype = TYPE_FROM_URL[m.group(1)]
                        rid = m.group(2)
                        host = cfg.hosts[int(rid) % len(cfg.hosts)]
                        url = f"https://{host}/gepris/{m.group(1)}/{rid}?language=en"
                        discovered.append(
                            Entry(url, host, rtype, rid, e.crawl_depth + 1, _PRIORITY[rtype], rnd + 1)
                        )
                elif kind == "text" and e.resource_id is None:
                    m = _COUNT_RE.match(text)
                    if m and m.group(1):
                        total = int(m.group(1).replace(",", ""))
                        if total > 0:
                            urltype = URL_TYPE[e.resource_type]
                            for page in range(math.ceil(total / cfg.hits_per_page)):
                                url = (
                                    f"https://{e.host}/gepris/OCTOPUS?context={urltype}"
                                    f"&hitsPerPage={cfg.hits_per_page}&index={page * cfg.hits_per_page}"
                                    f"&task=doSearchExtended&resourceTypeQuery={urltype}&language=en"
                                )
                                discovered.append(
                                    Entry(url, e.host, e.resource_type, None, e.crawl_depth, 0, rnd + 1)
                                )
        # next frontier: deferred + discovered, min-key merged, minus seen
        merged: dict[str, Entry] = {}
        for e in deferred + discovered:
            cur = merged.get(e.url)
            if cur is None or (e.crawl_depth, e.priority, e.discovered_round) < (
                cur.crawl_depth, cur.priority, cur.discovered_round
            ):
                merged[e.url] = e
        frontier = {u: e for u, e in merged.items() if u not in res.seen}
        res.rounds = rnd + 1
    res.frontier_left = len(frontier)
    return res
