"""Deterministic synthetic GEPRIS-like site.

The sandbox has no network, so "the web" is a pure function
``render_page(cfg, url) -> (status, spans)``: page content is derived
deterministically from the URL and a seed, which lets the vectorized fetch
UDF regenerate any page on any executor with no join, no driver state and
no shared storage — the property that makes the simulated crawl scale the
same way a real fetch layer would.

Structure mirrors the reference site model:
- paginated OCTOPUS catalog pages, 50 hits/page with a
  "Results X to Y out of N on" count line
  (reference: stage0/resourceidstocrawl/PaginatedResourceCatalogUrlsGraph.scala:12-28,
  NumberOfResourcesGraph.scala:36-45)
- project / person / institution detail pages rendered as interleaved
  text+media span sequences exercising every extraction quirk pinned in
  FIXTURES.md §1 (label/value adjacency, <br> + ", " multivalues with the
  comma-trap subject area, img-obfuscated e-mails, the five Term variants,
  all 12 person + 6 institution relation label sets, "Subproject of"
  parent links, address blocks).

URL type segments follow the reference registry
(DTOs.scala resourceTyppeForUrlQuery): project->projekt, person->person,
institution->institution.
"""

from __future__ import annotations

import hashlib
import math
import random
import re
from dataclasses import dataclass, field
from functools import lru_cache
from urllib.parse import parse_qs, urlparse

URL_TYPE = {"project": "projekt", "person": "person", "institution": "institution"}
TYPE_FROM_URL = {v: k for k, v in URL_TYPE.items()}

RESOURCE_TYPES = ("project", "person", "institution")

# Official-taxonomy analog (FIXTURES.md §5): includes the comma-containing
# subject area that the reference's ", "-split mangles
# (dataquality-checks.Rmd:258-272) — reproduced bug-for-bug downstream.
OFFICIAL_SUBJECT_AREAS = [
    ("Ancient Cultures", "Humanities 101", "Humanities"),
    ("Theology", "Humanities 101", "Humanities"),
    ("Linguistics", "Humanities 104", "Humanities"),
    ("Molecular Chemistry", "Chemistry 321", "Natural Sciences"),
    ("Analytical Chemistry", "Chemistry 321", "Natural Sciences"),
    ("Astrophysics", "Physics 311", "Natural Sciences"),
    ("Optics", "Physics 311", "Natural Sciences"),
    ("Mathematics", "Mathematics 312", "Natural Sciences"),
    (
        "Hydrogeology, Hydrology, Limnology, Urban Water Management,"
        " Water Chemistry, Integrated Water Resources Management",
        "Water Research 318",
        "Natural Sciences",
    ),
    ("Microbiology", "Biology 204", "Life Sciences"),
    ("Neurosciences", "Biology 206", "Life Sciences"),
    ("Production Technology", "Engineering 401", "Engineering Sciences"),
    ("Fluid Mechanics", "Engineering 404", "Engineering Sciences"),
    ("Computer Science", "Engineering 409", "Engineering Sciences"),
]
# Areas that appear on pages but NOT in the official taxonomy (Q4 trap).
UNOFFICIAL_SUBJECT_AREAS = [
    "Cryptozoology",
    "Alchemy Studies",
    "Phrenology",
]

DFG_PROGRAMMES = [
    "Research Grants",
    "Priority Programmes",
    "Collaborative Research Centres",
    "Research Training Groups",
    "Heisenberg Fellowships",
    "Clinical Trials",
]

COUNTRIES = ["USA", "France", "United Kingdom", "Japan", "Brazil", "India", "Norway"]

# (relation_type, label variants) — verbatim from the reference
# (ProjectPersonRelationsExtractors.scala:20-31). Singular/plural variants
# both appear on generated pages.
PERSON_RELATION_TYPES = [
    ("APPLICANT", ["Applicant"]),
    ("HEAD", ["Head", "Heads"]),
    ("PROJECT_LEADER", ["Project leader", "Project leaders"]),
    ("PARTICIPATING_SCIENTIST", ["Participating scientist", "Participating scientists"]),
    ("COAPPLICANT", ["Co-Applicant", "Co-Applicants", "Co-applicant", "Co-applicants"]),
    ("FORMER_APPLICANT", ["Former applicant", "Former applicants"]),
    ("PARTICIPATING_PERSON", ["Participating Person", "Participating Persons"]),
    ("SPOKESPERSON", ["Spokesperson", "Spokespersons"]),
    ("FOREIGN_SPOKESPERSON", ["Foreign spokesperson", "Foreign spokespeople"]),
    ("DEPUTY_SPOKESPERSON", ["Deputy spokesperson", "Deputy spokespeople"]),
    ("INTERNATIONAL_CO_APPLICANTS", ["International Co-Applicant", "International Co-Applicants"]),
    ("COOPERATION_PARTNER", ["Cooperation partner", "Cooperation partners"]),
]
# (ProjectInstitutionRelationsExtractors.scala:16-23). Note the reference
# bug: PARTICIPATING_INSTITUTION and PARTNER_ORGANISATION share the same
# label variants, so one label yields BOTH relation types — reproduced.
INSTITUTION_RELATION_TYPES = [
    ("APPLYING_INSTITUTION", ["Applying institution"]),
    ("CO_APPLICANT_INSTITUTION", ["Co-applicant institution"]),
    ("FOREIGN_INSTITUTION", ["Foreign institution"]),
    ("PARTICIPATING_INSTITUTION", ["Participating institution", "Participating Institution"]),
    ("PARTICIPATING_UNIVERSITY", ["Participating university"]),
    ("PARTNER_ORGANISATION", ["Participating institution", "Participating Institution"]),
]

FIRST_NAMES = ["Anna", "Ben", "Clara", "David", "Elena", "Felix", "Greta", "Henrik", "Ines", "Jonas"]
LAST_NAMES = ["Müller", "Schmidt", "Fischer", "Weber", "Becker", "Wagner", "Hoffmann", "Koch", "Bauer", "Richter"]
INSTITUTION_WORDS = ["Institut für", "Zentrum für", "Fakultät für", "Lehrstuhl für"]
INSTITUTION_TOPICS = ["Informatik", "Physik", "Chemie", "Biologie", "Hydrologie", "Mathematik"]
CITIES = ["Berlin", "München", "Hamburg", "Köln", "Dresden", "Heidelberg"]

AT_SYMBOL_IMG = "/images/at_symbol.png"

WORDS = (
    "quantum hydrology catalysis neural lattice sediment protein plasma urban "
    "coastal spectral inference graph stochastic membrane polymer glacial "
    "synaptic turbulent microbial"
).split()


@dataclass(frozen=True)
class SiteConfig:
    """Deterministic site layout. Same config + seed => identical site."""

    hosts: tuple[str, ...] = ("gepris.example.org",)
    n_projects: int = 40
    n_persons: int = 24
    n_institutions: int = 8
    hits_per_page: int = 50
    seed: int = 42
    # fraction (1/error_mod) of detail pages permanently answer 503 —
    # exercises the quarantine path (reference throws and dies instead:
    # CrawledResourceDetailDataGraph.scala:43-46).
    error_mod: int = 0
    # page heft multiplier (longer descriptions, more relation links) —
    # bench tiers use >1 so page payloads approximate real GEPRIS pages
    page_weight: int = 1
    # session-cookie rotation: when > 0, detail/catalog pages demand the
    # JSESSIONID of the current epoch (= round // session_rounds) and
    # answer 401 otherwise — the synthetic analog of the reference's
    # cookie-gated session (CookieFlowGraph.scala:30-58). 0 = no cookie.
    session_rounds: int = 0
    # HTTP 3xx: when > 0, every detail page whose id % redirect_mod == 0
    # answers 301 with a RELATIVE Location (RFC 9110 §10.2.2 allows it)
    # pointing at the same resource's canonical form (…&canonical=1),
    # which then answers 200 with identical spans. Exercises the engine's
    # redirect-following path (operators/redirects.py + round loop);
    # page CONTENT is unaffected, so a redirect-following crawl extracts
    # byte-equal typed tables. 0 = no redirects (reference behavior: its
    # fetch treats any non-200 as fatal).
    redirect_mod: int = 0

    @property
    def id_base(self) -> dict[str, int]:
        return {"project": 100000, "person": 200000, "institution": 300000}

    def n_of(self, rtype: str) -> int:
        return {"project": self.n_projects, "person": self.n_persons, "institution": self.n_institutions}[rtype]

    def ids(self, rtype: str) -> list[str]:
        # cached: render_page calls this per page; rebuilding an n-element
        # list per render made page cost O(site size)
        return _ids_cached(self, rtype)

    def host_of(self, rtype: str, rid: str) -> str:
        return self.hosts[int(rid) % len(self.hosts)]


def detail_url(cfg: SiteConfig, rtype: str, rid: str) -> str:
    return f"https://{cfg.host_of(rtype, rid)}/gepris/{URL_TYPE[rtype]}/{rid}?language=en"


def catalog_url(cfg: SiteConfig, rtype: str, host: str, index: int) -> str:
    # Mirrors the reference catalog URL shape with index/hitsPerPage params
    # (PaginatedResourceCatalogUrlsGraph.scala:27).
    return (
        f"https://{host}/gepris/OCTOPUS?context={URL_TYPE[rtype]}"
        f"&hitsPerPage={cfg.hits_per_page}&index={index}"
        f"&task=doSearchExtended&resourceTypeQuery={URL_TYPE[rtype]}&language=en"
    )


def seed_urls(cfg: SiteConfig) -> list[str]:
    """Stage-0 seeds: catalog page 0 for every (type, host)."""
    return [catalog_url(cfg, rtype, host, 0) for rtype in RESOURCE_TYPES for host in cfg.hosts]


@lru_cache(maxsize=256)
def _ids_cached(cfg: SiteConfig, rtype: str) -> list[str]:
    base = cfg.id_base[rtype]
    return [str(base + i) for i in range(cfg.n_of(rtype))]


@lru_cache(maxsize=1024)
def _host_resources(cfg: SiteConfig, rtype: str, host: str) -> list[str]:
    return [rid for rid in cfg.ids(rtype) if cfg.host_of(rtype, rid) == host]


_CATALOG_RE = re.compile(r"^/gepris/OCTOPUS$")
_DETAIL_RE = re.compile(r"^/gepris/(projekt|person|institution)/(\d+)$")


@dataclass
class ParsedUrl:
    host: str
    kind: str  # 'catalog' | 'detail' | 'robots' | 'sitemap' | 'unknown'
    resource_type: str | None = None
    resource_id: str | None = None
    index: int = 0


def parse_url(url: str) -> ParsedUrl:
    u = urlparse(url)
    if u.path == "/robots.txt":
        return ParsedUrl(u.netloc, "robots")
    if u.path == "/sitemap.xml":
        return ParsedUrl(u.netloc, "sitemap")
    m = _DETAIL_RE.match(u.path)
    if m:
        return ParsedUrl(u.netloc, "detail", TYPE_FROM_URL[m.group(1)], m.group(2))
    if _CATALOG_RE.match(u.path):
        q = parse_qs(u.query)
        rtype = TYPE_FROM_URL.get((q.get("resourceTypeQuery") or [""])[0], None)
        idx = int((q.get("index") or ["0"])[0] or 0)
        if rtype is not None:
            return ParsedUrl(u.netloc, "catalog", rtype, None, idx)
    return ParsedUrl(u.netloc, "unknown")


def _rng(cfg: SiteConfig, *key: object) -> random.Random:
    return random.Random(f"{cfg.seed}:" + ":".join(str(k) for k in key))


def _person_name(rid: str) -> str:
    i = int(rid)
    return f"Prof. Dr. {FIRST_NAMES[i % len(FIRST_NAMES)]} {LAST_NAMES[(i // 7) % len(LAST_NAMES)]}"


def _institution_name(rid: str) -> str:
    i = int(rid)
    return (
        f"{INSTITUTION_WORDS[i % len(INSTITUTION_WORDS)]} "
        f"{INSTITUTION_TOPICS[(i // 3) % len(INSTITUTION_TOPICS)]} {CITIES[i % len(CITIES)]}"
    )


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(WORDS, k=n))


class _SpanList:
    def __init__(self) -> None:
        self.spans: list[tuple[str, str, str, int]] = []

    def add(self, kind: str, text: str = "", media_ref: str = "") -> None:
        self.spans.append((kind, text, media_ref, len(self.spans)))

    def field(self, name: str, value: str) -> None:
        self.add("name", name)
        self.add("value", value)


def _project_spans(cfg: SiteConfig, rid: str) -> list[tuple[str, str, str, int]]:
    rng = _rng(cfg, "project", rid)
    s = _SpanList()
    i = int(rid) - cfg.id_base["project"]
    s.add("h3", f"Project {rid}: {_sentence(rng, 4).title()}")

    # Subject Area: 1-3 values, <br>-separated, occasionally the comma trap.
    pool = [a for a, _, _ in OFFICIAL_SUBJECT_AREAS] + UNOFFICIAL_SUBJECT_AREAS
    n_sa = rng.randint(1, 3)
    areas = rng.sample(pool, n_sa)
    if i % 7 == 0:
        areas[0] = OFFICIAL_SUBJECT_AREAS[8][0]  # the comma-containing one
    s.field("Subject Area", "<br> ".join(areas))

    s.field("DFG Programme", rng.choice(DFG_PROGRAMMES))

    # Term: the five reference variants + a malformed one (-> ('','')).
    # (ExtractorHelpers.scala:25-38; README.md:143-149)
    y1 = rng.randint(1998, 2018)
    y2 = y1 + rng.randint(0, 9)
    variant = i % 6
    if variant == 0:
        term = f"Funded from {y1} to {y2}"
    elif variant == 1:
        term = f"Funded since {y1}"
    elif variant == 2:
        term = f"Funded in {y1}"
    elif variant == 3:
        term = f"Funded until {y2}"
    elif variant == 4:
        term = "Currently being funded"
    else:
        term = f"Funding period unclear ({_sentence(rng, 2)})"
    # one deliberate bad row: start > end (dataquality-checks.Rmd:185-186)
    if i == 13:
        term = "Funded from 2013 to 2012"
    s.field("Term", term)

    if rng.random() < 0.5:
        s.field("International Connection", ", ".join(rng.sample(COUNTRIES, rng.randint(1, 3))))
    if rng.random() < 0.4:
        s.field("Participating subject areas", "<br> ".join(rng.sample(pool, rng.randint(1, 2))))

    # Parent project link ("Subproject of", ProjectExtractorGraph.scala:41-43)
    if i % 5 == 2 and i > 0:
        parent = str(cfg.id_base["project"] + rng.randrange(i))
        s.add("name", "Subproject of")
        s.add("link", f"Project {parent}", f"/gepris/projekt/{parent}")

    # Person relations: 1-4 relation types, 1-3 persons each; occasionally a
    # dangling person id outside the site population (Q5 trap,
    # dataquality-checks.Rmd:307-310).
    person_ids = cfg.ids("person")
    n_rel_types = rng.randint(1, 4) if cfg.page_weight == 1 else min(4 * cfg.page_weight, 12)
    for rel_type, variants in rng.sample(PERSON_RELATION_TYPES, n_rel_types):
        label = rng.choice(variants)
        s.add("name", label)
        for _ in range(rng.randint(1, 3)):
            if rng.random() < 0.03:
                pid = str(cfg.id_base["person"] + cfg.n_persons + rng.randint(0, 5))  # dangling
            else:
                pid = rng.choice(person_ids)
            s.add("link", _person_name(pid), f"/gepris/person/{pid}")

    # Institution relations: 1-2 types.
    inst_ids = cfg.ids("institution")
    seen_labels = set()
    for rel_type, variants in rng.sample(INSTITUTION_RELATION_TYPES, rng.randint(1, 2)):
        label = rng.choice(variants)
        if label in seen_labels:
            continue
        seen_labels.add(label)
        s.add("name", label)
        for _ in range(rng.randint(1, 2)):
            iid = rng.choice(inst_ids)
            s.add("link", _institution_name(iid), f"/gepris/institution/{iid}")

    # a decorative media span mid-document (interleaved text+media)
    s.add("img", "", f"/images/chart_{i % 4}.png")

    # Projektbeschreibung tab — always the LAST field pair: the reference
    # appends it after all .name fields (GenericFieldExtractorGraph.scala:75-83).
    s.add("tab_label", "Projektbeschreibung")
    s.add("tab_text", _sentence(rng, 24 * cfg.page_weight).capitalize() + ".")
    return s.spans


def _contact_spans(cfg: SiteConfig, s: _SpanList, rng: random.Random, rid: str, name: str) -> None:
    """Shared Telephone/Fax/E-Mail/Website block (labels per
    PersonExtractorGraph.scala:38-55 / InstitutionExtractorGraph.scala:33-46)."""
    s.field("Telephone", f"+49 {rng.randint(30, 89)} {rng.randint(1000000, 9999999)}")
    if rng.random() < 0.7:
        s.field("Fax", f"+49 {rng.randint(30, 89)} {rng.randint(1000000, 9999999)}")
    # E-Mail: interleaved text+media — local part, @-symbol image, domain.
    local = name.lower().split()[-1].replace("ü", "ue").replace("ö", "oe") + rid[-3:]
    s.add("name", "E-Mail")
    s.add("value", local)
    s.add("img", "", AT_SYMBOL_IMG)
    s.add("value", f"uni-{CITIES[int(rid) % len(CITIES)].lower().replace('ü','ue').replace('ö','oe')}.example")
    if rng.random() < 0.8:
        s.field("Website", f"https://www.uni-{int(rid) % 97}.example/~{local}")


def _person_spans(cfg: SiteConfig, rid: str) -> list[tuple[str, str, str, int]]:
    rng = _rng(cfg, "person", rid)
    s = _SpanList()
    name = _person_name(rid)
    s.add("h3", name)
    inst = _institution_name(str(cfg.id_base["institution"] + int(rid) % max(cfg.n_institutions, 1)))
    street = f"{rng.choice(['Haupt', 'Ring', 'Garten', 'Berg'])}straße {rng.randint(1, 99)}"
    city = f"{rng.randint(10000, 99999)} {rng.choice(CITIES)}"
    # Address: first <br>-segment is the institution name
    # (PersonExtractorGraph.scala:17-27).
    s.field("Address", f"{inst}<br> {street}<br> {city}")
    _contact_spans(cfg, s, rng, rid, name)
    return s.spans


def _institution_spans(cfg: SiteConfig, rid: str) -> list[tuple[str, str, str, int]]:
    rng = _rng(cfg, "institution", rid)
    s = _SpanList()
    name = _institution_name(rid)
    s.add("h3", name)
    street = f"{rng.choice(['Campus', 'Forschungs', 'Universitäts'])}allee {rng.randint(1, 60)}"
    s.field("Address", f"{street}<br> {rng.randint(10000, 99999)} {rng.choice(CITIES)}")
    _contact_spans(cfg, s, rng, rid, name)
    # Projects-by-programme links (InstitutionExtractorGraph.scala:47-57):
    # these also drive frontier link discovery.
    s.add("name", "Projects by programme")
    proj_ids = cfg.ids("project")
    for _ in range(rng.randint(1, min(6, len(proj_ids)))):
        pid = rng.choice(proj_ids)
        s.add("link", f"Project {pid}", f"/gepris/projekt/{pid}")
    return s.spans


def _catalog_spans(cfg: SiteConfig, rtype: str, host: str, index: int) -> list[tuple[str, str, str, int]]:
    rids = _host_resources(cfg, rtype, host)
    total = len(rids)
    page = rids[index : index + cfg.hits_per_page]
    s = _SpanList()
    lo, hi = (index + 1, index + len(page)) if page else (0, 0)
    # count line parsed by F9: "out of ([\d,]*) on" (NumberOfResourcesGraph.scala:38-44)
    s.add("text", f"Results {lo} to {hi} out of {total:,} on 2018-10-20")
    names = {
        "project": lambda r: f"Project {r}",
        "person": _person_name,
        "institution": _institution_name,
    }[rtype]
    for rid in page:
        s.add("link", names(rid), f"/gepris/{URL_TYPE[rtype]}/{rid}")
    return s.spans


def session_token(cfg: SiteConfig, epoch: int = 0) -> str:
    """The epoch's valid JSESSIONID value (deterministic; rotates when the
    epoch = round // session_rounds advances)."""
    return "JSID" + hashlib.md5(f"{cfg.seed}:session:{epoch}".encode()).hexdigest()[:16].upper()


def fetch_session_header(cfg: SiteConfig, epoch: int = 0) -> str:
    """The session endpoint: returns a Set-Cookie-shaped response header
    (the reference fetches the landing page and reads Set-Cookie,
    CookieFlowGraph.scala:39-44)."""
    return f"JSESSIONID={session_token(cfg, epoch)}; Path=/gepris; HttpOnly; Secure"


def robots_body(cfg: SiteConfig, host: str) -> str:
    """Deterministic robots.txt for one host: a Disallow, a wildcard
    rule, a per-host Crawl-delay (1 + host_index % 3 seconds — hosts get
    DIFFERENT politeness budgets, so a bootstrap that ignores them is
    detectable), and the Sitemap pointer that closes the
    robots -> sitemap -> frontier loop."""
    delay = 1 + cfg.hosts.index(host) % 3
    return (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Disallow: /*?*session=\n"
        f"Crawl-delay: {delay}\n"
        f"Sitemap: https://{host}/sitemap.xml\n"
    )


def sitemap_body(cfg: SiteConfig, host: str) -> str:
    """Deterministic urlset for one host: roughly the first third of each
    resource type's detail pages (a PARTIAL listing — seeding accelerates
    the crawl but catalog discovery must still find the rest), with
    spec-conforming entity escaping and a priority that decays with list
    position."""
    locs: list[tuple[str, float]] = []
    for rtype in ("project", "person", "institution"):
        ids = _host_resources(cfg, rtype, host)
        for i, rid in enumerate(ids[: max(1, len(ids) // 3)]):
            locs.append((detail_url(cfg, rtype, rid), round(0.9 - 0.1 * (i % 5), 1)))
    entries = "".join(
        "  <url><loc>{u}</loc><priority>{p}</priority></url>\n".format(
            u=u.replace("&", "&amp;"), p=p
        )
        for u, p in locs
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
        f"{entries}</urlset>\n"
    )


def render_page(
    cfg: SiteConfig,
    url: str,
    token: str | None = None,
    epoch: int = 0,
) -> tuple[int, list[tuple[str, str, str, int]]]:
    """The pure 'HTTP server'. Returns (status, spans). With
    session_rounds > 0 a request whose cookie token is not the epoch's
    JSESSIONID is rejected with 401 (cookie-gated session)."""
    p = parse_url(url)
    if p.kind == "unknown" or p.host not in cfg.hosts:
        return 404, []
    if p.kind in ("robots", "sitemap"):
        # site-metadata endpoints are UNAUTHENTICATED (a crawler fetches
        # robots.txt before it has any session — RFC 9309 presumes open
        # access) and carry a RAW text body as a single 'raw' span, so
        # every transport/wire format ships them like any page
        body = (robots_body if p.kind == "robots" else sitemap_body)(cfg, p.host)
        return 200, [("raw", body, "", 0)]
    if cfg.session_rounds > 0 and token != session_token(cfg, epoch):
        return 401, []
    if p.kind == "catalog":
        if p.resource_type is None:
            return 404, []
        return 200, _catalog_spans(cfg, p.resource_type, p.host, p.index)
    rid, rtype = p.resource_id, p.resource_type
    assert rid is not None and rtype is not None
    base = cfg.id_base[rtype]
    if not (base <= int(rid) < base + cfg.n_of(rtype)) or cfg.host_of(rtype, rid) != p.host:
        return 404, []
    if cfg.redirect_mod and int(rid) % cfg.redirect_mod == 0:
        # non-canonical form moved permanently: RELATIVE Location (path +
        # query), resolved by the engine via RFC 3986 merge
        # (operators/redirects.absolutize_location). The wire carries the
        # target as a 'location' span so the html and JSON-API fetch
        # formats ship it unchanged; real HTTP maps it to/from
        # the Location header (sources/http_site.py, HttpTransport).
        if parse_qs(urlparse(url).query).get("canonical") != ["1"]:
            return 301, [
                ("location", "", f"/gepris/{URL_TYPE[rtype]}/{rid}?language=en&canonical=1", 0)
            ]
    if cfg.error_mod and int(rid) % cfg.error_mod == 0:
        return 503, []
    spans = {"project": _project_spans, "person": _person_spans, "institution": _institution_spans}[rtype](cfg, rid)
    return 200, spans


def spans_to_json_body(spans: list[tuple[str, str, str, int]]) -> str:
    """Span tuples -> the canonical JSON wire body (shared by the JSON-API
    renderer below, the localhost HTTP twin in sources/http_site.py, and
    the fetch stage's html-mode wire body — one writer, zero drift)."""
    import json as _json

    return _json.dumps(
        {
            "spans": [
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for k, t, m, o in spans
            ]
        },
        separators=(",", ":"),
    )


def render_page_json(
    cfg: SiteConfig,
    url: str,
    token: str | None = None,
    epoch: int = 0,
) -> tuple[int, str]:
    """The JSON-API endpoint variant of the same server (the reference's
    dormant JSON source, CrawledResourceDetailDataFromJsonAPIGraph.scala:
    15-46): same routing / session / error semantics as render_page, but
    the body is a raw JSON string the ENGINE parses (from_json in the
    plan), not pre-parsed spans. Span content is identical to the HTML
    renderer's, so a JSON-mode crawl is byte-equal to an HTML-mode one."""
    status, spans = render_page(cfg, url, token, epoch)
    return status, spans_to_json_body(spans)


def page_etag(
    cfg: SiteConfig,
    url: str,
    token: str | None = None,
    epoch: int = 0,
) -> str | None:
    """Strong validator the synthetic servers publish for a page: the
    content-addressed etag (operators/revalidate.span_etag_py) of the
    rendered span payload, None for any non-200. A conditional request
    whose If-None-Match equals this value revalidates as 304."""
    from ba_gepris_crawler_spark.operators.revalidate import span_etag_py

    status, spans = render_page(cfg, url, token, epoch)
    return span_etag_py(spans) if status == 200 else None


def expected_page_count(cfg: SiteConfig, rtype: str, host: str) -> int:
    return math.ceil(len(_host_resources(cfg, rtype, host)) / cfg.hits_per_page)
