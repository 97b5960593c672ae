"""HTTP redirect (3xx) resolution — pure native expressions + log-round joins.

A crawler that follows redirects needs three things the single-site
reference never did (its GEPRIS fetch treats any non-200 as fatal,
CrawledResourceDetailDataGraph.scala:43-46 — redirects included):

1. ``absolutize_location``: a ``Location`` header is allowed to be
   relative (RFC 9110 §10.2.2); resolve it against the request URL with
   RFC 3986 §5.2 merge + dot-segment removal — all Catalyst expressions
   (regexp split + one ``aggregate`` HOF), no UDF, fuses into the fetch
   output scan.
2. ``redirect_edges``: fetched rows -> a deterministic functional graph
   (one outgoing edge per source URL — duplicate fetches of one URL keep
   the lexicographically smallest target so re-runs are stable).
3. ``resolve_redirects``: chase chains to their final URL with a hop cap
   and loop defense. Hop-by-hop chasing is O(max_hops) shuffles; this
   uses POINTER DOUBLING over the functional graph (each round joins the
   resolution table with itself, doubling the resolved distance), so a
   hop cap of H costs ceil(log2(H)) self-joins — at 10^10 edges that is
   4 shuffles for H=10 instead of 10, and every join is a plain co-keyed
   equi-join Catalyst can plan (AQE handles the shrinking build side).
   Loops (a->b->a) and over-cap chains never terminate by construction;
   both classify as unresolved — exactly what a fetch layer does when it
   gives up after H hops.

Scale notes: the resolution state is (src, cur, hops) — three scalar
columns, never the page payload; each doubling round shuffles only this
table on ``cur``/``src``. Terminal URLs simply have no outgoing edge, so
the left join's null arm freezes them (no separate "done" partition or
driver bookkeeping). With an eager localCheckpoint per round (optional,
for very deep caps) lineage stays flat like the dedup fixpoint
(operators/dedup.py alternating-star CC).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://"
_SRC_PARTS = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)"

REDIRECT_STATUSES = (301, 302, 303, 307, 308)


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over a '/'-joined path, as ONE aggregate HOF:
    '.' segments drop, '..' pops the previous real segment (never past
    the root), everything else appends. Trailing '.'/'..' keep the
    directory form (trailing slash) like urljoin."""
    segs = F.split(path, "/")
    # fold segments into an accumulator array; leading '' (absolute path
    # marker) is re-added on join. aggregate(acc: array<string>)
    folded = F.aggregate(
        F.filter(segs, lambda s: s != ""),
        F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(s == "..", F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .otherwise(F.concat(acc, F.array(s)))
        ),
    )
    joined = F.concat(F.lit("/"), F.array_join(folded, "/"))
    # directory-form tail: path ending in '/', '/.', '/..' resolves to a
    # directory — keep the trailing slash (unless already just '/')
    dir_tail = path.rlike("(/|/\\.|/\\.\\.)$")
    return F.when(
        dir_tail & (joined != "/"), F.concat(joined, F.lit("/"))
    ).otherwise(joined)


def absolutize_location(src_url: Column | str, location: Column | str) -> Column:
    """Resolve a Location header value against the request URL
    (RFC 3986 §5.2 reference resolution, the subset a crawl frontier
    needs): absolute URLs pass through, '//host/p' takes the source
    scheme, '/p' takes the source origin, relative forms merge with the
    source path's directory and get dot-segments removed. NULL/'' -> NULL
    (a 3xx without Location is unresolvable, quarantine it)."""
    src = F.col(src_url) if isinstance(src_url, str) else src_url
    loc = F.col(location) if isinstance(location, str) else location
    scheme = F.regexp_extract(src, _SRC_PARTS, 1)
    origin = F.concat(scheme, F.lit("://"), F.regexp_extract(src, _SRC_PARTS, 2))
    src_path = F.regexp_extract(src, _SRC_PARTS, 3)
    # the source path's directory (everything through the last '/');
    # an empty source path acts as '/'
    src_dir = F.when(
        src_path.rlike("/"), F.regexp_replace(src_path, "[^/]*$", "")
    ).otherwise(F.lit("/"))
    # split a relative reference into path part + query/fragment tail so
    # dot-segment removal never chews on '?a=../b'
    rel_path = F.regexp_extract(loc, "^([^?#]*)", 1)
    rel_tail = F.regexp_replace(loc, "^[^?#]*", "")
    merged = F.when(rel_path.startswith("/"), rel_path).otherwise(
        F.concat(src_dir, rel_path)
    )
    resolved = F.concat(origin, _remove_dot_segments(merged), rel_tail)
    return (
        F.when(loc.isNull() | (loc == ""), F.lit(None).cast("string"))
        .when(loc.rlike(_SCHEME_RE), loc)  # already absolute
        .when(loc.startswith("//"), F.concat(scheme, F.lit(":"), loc))
        .when(
            # pure query/fragment reference: keep the base path; a '#'
            # reference also keeps the base query (RFC 3986 §5.3)
            rel_path == "",
            F.concat(
                origin,
                F.when(src_path == "", F.lit("/")).otherwise(src_path),
                F.when(loc.startswith("#"), F.regexp_extract(src, "(\\?[^#]*)", 1)).otherwise(F.lit("")),
                loc,
            ),
        )
        .otherwise(resolved)
    )


def redirect_edges(
    fetched: DataFrame,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "location",
) -> DataFrame:
    """3xx fetch rows -> (src, dst) redirect edges: Location absolutized
    against the source URL, rows without a usable Location dropped (they
    quarantine as plain errors), and AT MOST ONE outgoing edge per src —
    a URL fetched twice with different answers keeps the min(dst) so the
    graph is functional and every downstream pass is deterministic."""
    edges = (
        fetched.filter(F.col(status_col).isin(*REDIRECT_STATUSES))
        .select(
            F.col(url_col).alias("src"),
            absolutize_location(F.col(url_col), F.col(location_col)).alias("dst"),
        )
        .filter(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    return edges.groupBy("src").agg(F.min("dst").alias("dst"))


def doubling_rounds(max_hops: int) -> int:
    """ceil(log2(max_hops)) doubling rounds resolve every chain of length
    <= 2**rounds >= max_hops."""
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    r = 0
    while (1 << r) < max_hops:
        r += 1
    return max(r, 1)


def resolve_redirects(
    edges: DataFrame, max_hops: int = 10, checkpoint: bool = False
) -> DataFrame:
    """(src, dst) functional redirect graph -> one row per redirecting
    src: (src, final_url, hops, resolved).

    resolved = the chain reached a terminal (a URL with no outgoing
    edge) within max_hops; final_url is NULL otherwise (loop or over-cap
    chain — a fetch layer abandons both identically). hops is the exact
    chain length for resolved rows and min(chain walk, 2**rounds) for
    unresolved ones (the doubling horizon, reported for diagnostics).

    Pointer doubling: after round i every src has resolved
    min(chain_len, 2**i) hops, so ceil(log2(max_hops)) co-keyed
    self-joins replace max_hops sequential ones. checkpoint=True cuts
    lineage per round (only worth it for unusually deep caps)."""
    rounds = doubling_rounds(max_hops)
    state = edges.select("src", F.col("dst").alias("cur"), F.lit(1).alias("hops"))
    for _ in range(rounds):
        nxt = state.alias("a").join(
            state.select(
                F.col("src").alias("b_src"),
                F.col("cur").alias("b_cur"),
                F.col("hops").alias("b_hops"),
            ),
            F.col("a.cur") == F.col("b_src"),
            "left",
        )
        state = nxt.select(
            F.col("a.src").alias("src"),
            F.coalesce(F.col("b_cur"), F.col("a.cur")).alias("cur"),
            (F.col("a.hops") + F.coalesce(F.col("b_hops"), F.lit(0))).alias("hops"),
        )
        if checkpoint:
            state = state.localCheckpoint(eager=True)
    # terminal test: cur still has an outgoing edge => loop / beyond the
    # doubling horizon; anti-join semantics via a left join on the edge set
    srcs = edges.select(F.col("src").alias("cur"), F.lit(True).alias("redirects_on"))
    out = state.join(srcs, "cur", "left").select(
        "src",
        ((F.col("redirects_on").isNull()) & (F.col("hops") <= max_hops)).alias("resolved"),
        F.col("hops").cast("int").alias("hops"),
        F.col("cur").alias("final_url"),
    )
    return out.select(
        "src",
        F.when(F.col("resolved"), F.col("final_url")).alias("final_url"),
        "hops",
        "resolved",
    )


def redirect_frontier(
    resolved: DataFrame, docs_like: DataFrame, next_round: int
) -> DataFrame:
    """Resolved redirect targets -> frontier candidate rows: the target
    inherits the redirecting row's (host-from-URL, resource metadata
    unknown, depth+1). docs_like supplies (url, crawl_depth) for the
    redirecting sources. Dedup against url_seen stays the round loop's
    job (J1), same as link discovery."""
    from ba_gepris_crawler_spark.operators.canonicalize import host_of

    hits = resolved.filter(F.col("resolved")).select(
        F.col("src"), F.col("final_url")
    )
    src_depth = docs_like.select(
        F.col("url").alias("src"), F.col("crawl_depth").alias("src_depth")
    )
    return (
        hits.join(src_depth, "src")
        .select(
            F.col("final_url").alias("url"),
            host_of(F.col("final_url")).alias("host"),
            F.lit(None).cast("string").alias("resource_type"),
            F.lit(None).cast("string").alias("resource_id"),
            (F.col("src_depth") + 1).cast("int").alias("crawl_depth"),
            F.lit(0).cast("int").alias("priority"),
            F.lit(next_round).cast("int").alias("discovered_round"),
        )
    )


def round_redirect_frontier(docs: DataFrame, next_round: int) -> DataFrame:
    """One crawl round's stored documents -> frontier candidates for its
    redirect targets (the round loop's follow_redirects arm). Unlike
    redirect_frontier above (offline: full chains already resolved from
    historical fetch logs), a LIVE crawl learns each Location only by
    fetching, so this advances every chain exactly one hop per round.

    3xx rows carry their Location as a 'location' span — the one shape the
    html and JSON-API fetch formats and HttpTransport's real Location
    header all normalize to. The target absolutizes against
    the source URL (RFC 3986), then must parse as a frontier-representable
    form: a detail URL (type + id from the path) or a catalog URL (type
    from resourceTypeQuery). Anything else is a redirect out of the site
    model and drops (the source row is already quarantined + seen).

    Chains and loops need no hop cap here: each hop costs one round, the
    target re-enters through the SAME seen anti-join as every discovered
    URL, so a loop (a->b->a) dies the moment it points at a seen URL —
    the crawl-integrated analog of resolve_redirects' loop defense, and
    strictly stronger (a crawl never refetches anything). Depth increments
    per hop, so trap limits and depth-based policies see redirects as one
    more discovery step. One projection over the already-written round
    parquet: no UDF, no shuffle (merge_frontier dedups downstream)."""
    from ba_gepris_crawler_spark.operators.frontier import frontier_rows_from_urls

    loc = F.expr(
        "get(filter(spans, s -> s.kind = 'location'), 0).media_ref"
    )
    targets = docs.filter(F.col("status").isin(*REDIRECT_STATUSES)).select(
        absolutize_location(F.col("url"), loc).alias("target"),
        F.col("crawl_depth").alias("src_depth"),
    ).filter(F.col("target").isNotNull())
    return frontier_rows_from_urls(
        targets, next_round, url_col="target", depth_col="src_depth"
    )
