"""Scheduler unit tests: the two-level (host, host_bucket) rank + broadcast
offsets must equal the flat per-host window rank under the engine-defined
total order (depth, priority, host_bucket, url), the salt bucket must be
reproducible by zlib.crc32 (golden-simulator parity), and no Exchange may
partition by bare `host` (the single-task hot-host scale-killer)."""

from __future__ import annotations

import re

import pytest
import zlib

from pyspark.sql import Window
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import (
    ROBOTS_RULES_SCHEMA,
    PolitenessConfig,
    apply_robots_rules,
    crawl_delay_budgets,
    parse_robots_rules,
    parse_robots_rules_distributed,
    salt_bucket,
    schedule_round,
)

N_BUCKETS = 8


def _bodies(spark, bodies: dict[str, str]):
    """{host: robots.txt} -> the (host, robots_txt) relation robots
    bodies reach the scheduler as."""
    return spark.createDataFrame(list(bodies.items()), "host string, robots_txt string")


def _kept(frontier, bodies_df, **kw) -> set[str]:
    rules = parse_robots_rules_distributed(bodies_df)
    return {r.url for r in apply_robots_rules(frontier, rules, **kw).collect()}


def _frontier(spark, n=500):
    return spark.range(n).select(
        F.concat(F.lit("https://h"), (F.col("id") % 3).cast("string"),
                 F.lit(".example.org/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 3).cast("string"), F.lit(".example.org")).alias("host"),
        (F.col("id") % 2).cast("int").alias("crawl_depth"),
        (F.col("id") % 4).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("discovered_round"),
    )


def test_salt_bucket_matches_zlib_crc32(spark):
    rows = (
        _frontier(spark, 64)
        .select("url", salt_bucket("url", N_BUCKETS).alias("b"))
        .collect()
    )
    assert len(rows) == 64
    for r in rows:
        assert r["b"] == zlib.crc32(r["url"].encode("utf-8")) % N_BUCKETS


def test_two_level_rank_equals_flat_window(spark):
    f = _frontier(spark)
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=7)
    fetch_now, deferred = schedule_round(f, cfg, n_buckets=N_BUCKETS)
    got = {
        r["url"]: (r["host_rank"], r["slot"])
        for r in fetch_now.select("url", "host_rank", "slot").collect()
    }

    # reference: ONE flat window over host in the engine-defined order
    ref = f.withColumn("host_bucket", salt_bucket("url", N_BUCKETS))
    w = Window.partitionBy("host").orderBy("crawl_depth", "priority", "host_bucket", "url")
    ref = ref.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= cfg.per_host_budget)
    want = {
        r["url"]: (r["rnk"], -(-r["rnk"] // cfg.max_in_flight))
        for r in ref.select("url", "rnk").collect()
    }
    assert got == want

    # deferred schema matches the input frontier (merge_frontier contract)
    assert set(deferred.columns) == set(f.columns)
    assert deferred.count() == f.count() - len(got)


def test_no_exchange_partitions_by_bare_host(spark):
    """A hot host must never funnel DATA rows through one task. Offset
    cumsums over the metadata-sized counts frame (<= depths x priorities x
    B rows per host — a constant) MAY partition by bare host; an Exchange
    that carries frontier rows (identified by the url column) must include
    host_bucket in its keys."""
    f = _frontier(spark)
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0)
    fetch_now, _ = schedule_round(f, cfg, n_buckets=N_BUCKETS)
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        fetch_now._jdf.queryExecution(), "formatted"
    )
    blocks = re.split(r"\n\s*\n", plan)
    checked = 0
    for blk in blocks:
        if not re.match(r"\(\d+\) Exchange", blk.strip()):
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", blk)
        if m is None:
            continue
        keys = m.group(1)
        if re.search(r"\bhost#", keys) and "host_bucket#" not in keys:
            inp = next((ln for ln in blk.splitlines() if ln.startswith("Input")), "")
            assert "url#" not in inp, f"bare-host Exchange carries data rows: {blk}"
            checked += 1
    # the offset cumsum's metadata exchange must exist (sanity: the regex
    # actually matched the plan shape)
    assert checked >= 1, plan


@pytest.mark.parametrize("many_hosts", [False, True])
def test_two_level_rank_many_hosts(spark, many_hosts):
    """Host-cardinality smoke: 200 hosts, no driver-side offset loop (the
    r2 fix) — ranks must still equal the flat per-host window, under BOTH
    offsets-join strategies (many_hosts=False forced broadcast /
    many_hosts=True co-keyed shuffle, the branch the engine flips to above
    MANY_HOSTS_THRESHOLD and which otherwise only BENCH would execute)."""
    n = 2000
    f = spark.range(n).select(
        F.concat(F.lit("https://h"), (F.col("id") % 200).cast("string"),
                 F.lit(".example.org/p/"), F.col("id").cast("string")).alias("url"),
        F.concat(F.lit("h"), (F.col("id") % 200).cast("string"), F.lit(".example.org")).alias("host"),
        (F.col("id") % 3).cast("int").alias("crawl_depth"),
        (F.col("id") % 2).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("discovered_round"),
    )
    cfg = PolitenessConfig(per_host_rate=6, round_seconds=1.0, max_in_flight=3)
    fetch_now, deferred = schedule_round(f, cfg, n_buckets=N_BUCKETS, many_hosts=many_hosts)
    got = {r["url"]: r["host_rank"] for r in fetch_now.collect()}
    ref = f.withColumn("host_bucket", salt_bucket("url", N_BUCKETS))
    w = Window.partitionBy("host").orderBy("crawl_depth", "priority", "host_bucket", "url")
    want = {
        r["url"]: r["rnk"]
        for r in ref.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= cfg.per_host_budget)
        .collect()
    }
    assert got == want
    assert deferred.count() == n - len(got)


def test_parse_robots_groups_wildcards_and_apply(spark):
    txt = """
    # comment
    User-agent: googlebot
    Disallow: /only-google/

    User-agent: *
    User-agent: gepris-crawler
    Disallow: /private/
    Disallow: /tmp/*.bak
    Disallow:

    User-agent: otherbot
    Disallow: /other/
    """
    rules = parse_robots_rules("h1.example.org", txt)
    assert len(rules) == 2  # wildcard group only; empty Disallow skipped
    urls = [
        ("https://h1.example.org/private/x", "h1.example.org", False),
        ("https://h1.example.org/public/x", "h1.example.org", True),
        ("https://h1.example.org/tmp/a.bak", "h1.example.org", False),
        ("https://h1.example.org/tmp/a.txt", "h1.example.org", True),
        ("https://h2.example.org/private/x", "h2.example.org", True),  # other host
    ]
    df = spark.createDataFrame([(u, h) for u, h, _ in urls], "url string, host string")
    kept = _kept(df, _bodies(spark, {"h1.example.org": txt}))
    for u, _h, want in urls:
        assert (u in kept) == want, u


def test_robots_allow_longest_match_and_dollar_anchor(spark):
    """RFC-9309 evaluation: an Allow carves a hole in a Disallow prefix
    (longest match decides, Allow wins ties), '*.pdf$' blocks by suffix,
    and an unmatched URL is allowed (VERDICT r3 #5)."""
    txt = (
        "User-agent: *\n"
        "Disallow: /private/\n"
        "Allow: /private/press/\n"
        "Disallow: /*.pdf$\n"
        "Allow: /a\n"
        "Disallow: /a\n"  # exact tie with the Allow above -> Allow wins
    )
    rules = parse_robots_rules("h.example.org", txt)
    assert len(rules) == 5

    urls = [
        ("https://h.example.org/private/x", False),        # Disallow prefix
        ("https://h.example.org/private/press/r1", True),  # Allow hole (longer)
        ("https://h.example.org/docs/f.pdf", False),       # *.pdf$ suffix block
        ("https://h.example.org/docs/f.pdf?x=1", True),    # $ anchors the END
        ("https://h.example.org/a", True),                 # tie -> Allow wins
        ("https://h.example.org/open/x", True),            # no rule -> allowed
        ("https://other.org/private/x", True),             # other host untouched
    ]
    df = spark.createDataFrame(
        [(u, u.split("/")[2]) for u, _ in urls], "url string, host string"
    )
    kept = _kept(df, _bodies(spark, {"h.example.org": txt}))
    for u, want in urls:
        assert (u in kept) == want, u


def test_robots_broadcast_and_salted_joins_agree(spark):
    """The two join strategies of the robots evaluation must decide
    identically: the broadcast join (default) and the salted co-keyed join
    (many_hosts) — same frontier, same kept set. Exercises hole-carving
    Allows, $-anchors and unruled hosts across many ruled hosts."""
    n_hosts = 72
    rules: list[tuple[str, str, int, bool]] = []
    rows: list[tuple[str, str, bool]] = []  # (url, host, want_kept)
    for i in range(n_hosts):
        h = f"h{i}.example.org"
        txt = (
            "User-agent: *\n"
            f"Disallow: /private{i}/\n"
            f"Allow: /private{i}/press/\n"
            "Disallow: /*.pdf$\n"
        )
        rules.extend(parse_robots_rules(h, txt))
        rows.extend(
            [
                (f"https://{h}/private{i}/x", h, False),
                (f"https://{h}/private{i}/press/r", h, True),
                (f"https://{h}/doc.pdf", h, False),
                (f"https://{h}/doc.pdf?v=1", h, True),
                (f"https://{h}/open/{i}", h, True),
            ]
        )
    rows.append(("https://unruled.org/private0/x", "unruled.org", True))
    rel = spark.createDataFrame(rules, ROBOTS_RULES_SCHEMA)
    df = spark.createDataFrame([(u, h) for u, h, _ in rows], "url string, host string")

    want = {u for u, _h, keep in rows if keep}
    assert {r.url for r in apply_robots_rules(df, rel).collect()} == want
    # many_hosts -> salted co-keyed join; same decisions
    got_salted = apply_robots_rules(df, rel, many_hosts=True, n_buckets=8)
    assert {r.url for r in got_salted.collect()} == want
    assert got_salted.columns == df.columns  # helper columns dropped


def test_parse_crawl_delay_group_semantics():
    from ba_gepris_crawler_spark.operators.politeness import parse_crawl_delay

    txt = (
        "User-agent: googlebot\nCrawl-delay: 9\n\n"
        "User-agent: *\nDisallow: /x/\nCrawl-delay: 0.5\n\n"
        "User-agent: gepris-crawler\nCrawl-delay: 2\n"
    )
    assert parse_crawl_delay(txt) == 0.5  # wildcard agent gets the * group
    # a specific agent's own group beats the wildcard group
    assert parse_crawl_delay(txt, user_agent="gepris-crawler") == 2.0
    assert parse_crawl_delay(txt, user_agent="googlebot") == 9.0
    assert parse_crawl_delay("User-agent: *\nDisallow: /a/\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: bogus\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: -1\n") is None
    assert parse_crawl_delay("") is None


def test_crawl_delay_feeds_per_host_budget(spark):
    """Two hosts with different robots Crawl-delays must get different
    token-bucket cuts in the SAME schedule_round call; the third host keeps
    the default budget (VERDICT r2 #5)."""
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=7)
    budgets = crawl_delay_budgets(_bodies(spark, {
        "h0.example.org": "User-agent: *\nCrawl-delay: 0.5\n",   # rate 2 -> budget 2
        "h1.example.org": "User-agent: *\nCrawl-delay: 0.125\n",  # rate 8 -> budget 8
    }), cfg)
    assert {(r.host, r.budget) for r in budgets.collect()} == {
        ("h0.example.org", 2), ("h1.example.org", 8)}
    assert cfg.per_host_budget == 40  # h2 has no robots row

    f = _frontier(spark)  # ~167 urls per host, exceeds every budget
    fetch_now, deferred = schedule_round(f, cfg, n_buckets=N_BUCKETS, budgets_df=budgets)
    got = {r["host"]: r["n"] for r in fetch_now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert got == {"h0.example.org": 2, "h1.example.org": 8, "h2.example.org": 40}
    # per-host max rank == budget, and deferred is the exact complement
    ranks = {r["host"]: r["m"] for r in fetch_now.groupBy("host").agg(F.max("host_rank").alias("m")).collect()}
    assert ranks == {"h0.example.org": 2, "h1.example.org": 8, "h2.example.org": 40}
    assert deferred.count() == f.count() - sum(got.values())


def test_fetch_virtual_cost_prices_from_scheduled_host_rate(spark):
    """fetch_pages' virtual_cost_sec must use the SAME per-host rates the
    budget cut used upstream: for an overridden host cost = max_slot /
    override_rate, for the rest max_slot / default_rate (VERDICT r2 #5 /
    review r3 coverage gap). The scheduler's `host_rate` column is the
    only way the budgets relation's rates reach the cost model."""
    from ba_gepris_crawler_spark.operators.fetch import fetch_pages
    from ba_gepris_crawler_spark.operators.frontier import seed_frontier
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(
        hosts=("h00.gepris.example.org", "h01.gepris.example.org"),
        n_projects=12, n_persons=5, n_institutions=2, hits_per_page=5, seed=7,
    )
    pol = PolitenessConfig(per_host_rate=100, round_seconds=1.0, max_in_flight=3)
    budgets = crawl_delay_budgets(
        _bodies(spark, {"h00.gepris.example.org": "User-agent: *\nCrawl-delay: 0.25\n"}), pol)
    fetch_now, _ = schedule_round(seed_frontier(spark, cfg), pol, n_buckets=4, budgets_df=budgets)
    fetched = fetch_pages(fetch_now, cfg, 4)
    assert "host_rate" not in fetched.columns  # pricing input, not output
    rows = fetched.select("host", "slot", "virtual_cost_sec").collect()
    assert rows, "seed frontier produced no fetches"
    max_slot = {}
    for r in rows:
        max_slot[r["host"]] = max(max_slot.get(r["host"], 0), r["slot"])
    assert set(max_slot) == set(cfg.hosts)
    for r in rows:
        rate = 4.0 if r["host"] == "h00.gepris.example.org" else 100.0
        assert r["virtual_cost_sec"] == pytest.approx(max_slot[r["host"]] / rate), r

    # config-level guard: a non-positive rate must be rejected at
    # construction, not surface as an inf virtual cost here
    with pytest.raises(ValueError):
        PolitenessConfig(per_host_rate=0)


def test_fetch_virtual_cost_global_across_buckets(spark):
    """A host whose scheduled rows span several salted buckets (and thus
    partitions / Arrow batches) must price EVERY row at the host's GLOBAL
    last wave — ceil(min(frontier, budget) / max_in_flight) / rate — not a
    per-batch local max, which understates the persisted cost and varies
    with shuffle row order (review r5 #1). The scheduler plants
    host_max_slot for this; it must not leak into the fetch output."""
    import math

    from ba_gepris_crawler_spark.operators.fetch import fetch_pages
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    cfg = SiteConfig(hosts=("h0.example.org",), n_projects=2, n_persons=1,
                     n_institutions=1, seed=3)
    pol = PolitenessConfig(per_host_rate=100, round_seconds=1.0, max_in_flight=3)
    f = spark.range(40).select(
        F.concat(F.lit("https://h0.example.org/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.lit("h0.example.org").alias("host"),
        F.lit(0).cast("int").alias("crawl_depth"),
        F.lit(0).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("discovered_round"),
    )
    fetch_now, _ = schedule_round(f, pol, n_buckets=8)
    assert fetch_now.select("host_bucket").distinct().count() > 1
    fetched = fetch_pages(fetch_now, cfg, 8)
    assert "host_max_slot" not in fetched.columns  # pricing input, not output
    rows = fetched.select("slot", "virtual_cost_sec").collect()
    assert len(rows) == 40
    global_max_slot = math.ceil(40 / pol.max_in_flight)
    assert max(r["slot"] for r in rows) == global_max_slot
    for r in rows:
        assert r["virtual_cost_sec"] == pytest.approx(global_max_slot / 100.0), r


def test_many_overrides_schedule_equals_few_overrides(spark):
    """The budgets relation is joined by host, so rows for hosts absent
    from the frontier must not change the schedule: 72 rows give exactly
    the schedule of the 2 that match live hosts."""
    f = _frontier(spark)
    # the three live hosts get real budgets (h2 the default), the rest pad
    # the relation with hosts the frontier does not have
    rows = (
        [("h0.example.org", 2, 2.0), ("h1.example.org", 8, 8.0)]
        + [(f"pad{i}.example.org", 1, 1.0) for i in range(70)]
    )
    schema = "host string, budget int, rate double"
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0, max_in_flight=7)
    fetch_now, deferred = schedule_round(
        f, cfg, n_buckets=N_BUCKETS, budgets_df=spark.createDataFrame(rows, schema))
    got = {r["host"]: r["n"] for r in
           fetch_now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert got == {"h0.example.org": 2, "h1.example.org": 8, "h2.example.org": 40}
    assert deferred.count() == f.count() - sum(got.values())
    assert "_budget" not in fetch_now.columns
    assert "_budget" not in deferred.columns

    # identical schedule to the same effective rates without the padding
    fetch_small, _ = schedule_round(
        f, cfg, n_buckets=N_BUCKETS, budgets_df=spark.createDataFrame(rows[:2], schema))
    want = {(r["url"], r["host_rank"]) for r in fetch_small.select("url", "host_rank").collect()}
    have = {(r["url"], r["host_rank"]) for r in fetch_now.select("url", "host_rank").collect()}
    assert have == want


def test_empty_frontier(spark):
    f = _frontier(spark).limit(0)
    fetch_now, deferred = schedule_round(f, PolitenessConfig(), n_buckets=N_BUCKETS)
    assert fetch_now.count() == 0
    assert deferred.count() == 0
    assert "host_rank" in fetch_now.columns and "slot" in fetch_now.columns


def test_distributed_robots_pipeline_equals_driver_path(spark):
    """Web-scale robots transport: (host, robots_txt) rows parsed with
    parse_robots_rules_distributed must yield exactly the rules of the
    driver-side parser parse_robots_rules, and apply_robots_rules over
    that relation must keep the expected URL set under both join
    strategies — bodies and rules never transiting the driver."""
    bodies = {
        f"h{i}.example.org": (
            "User-agent: *\n"
            f"Disallow: /private{i}/\n"
            f"Allow: /private{i}/press/\n"
            "Disallow: /*.pdf$\n"
        )
        for i in range(40)
    }
    bodies["empty.example.org"] = "# comments only\n"
    robots = _bodies(spark, bodies)
    got = {
        tuple(r) for r in parse_robots_rules_distributed(robots).collect()
    }
    want = {
        t for h, txt in bodies.items() for t in parse_robots_rules(h, txt)
    }
    assert got == want and len(got) == 40 * 3

    rows = []
    for i in range(40):
        h = f"h{i}.example.org"
        rows += [
            (f"https://{h}/private{i}/x", h, False),
            (f"https://{h}/private{i}/press/r", h, True),
            (f"https://{h}/doc.pdf", h, False),
            (f"https://{h}/open/{i}", h, True),
        ]
    fr = spark.createDataFrame([(u, h) for u, h, _ in rows], "url string, host string")
    want_kept = {u for u, _h, keep in rows if keep}
    assert _kept(fr, robots) == want_kept
    # salted co-keyed variant too
    assert _kept(fr, robots, many_hosts=True, n_buckets=8) == want_kept


def test_schedule_round_budgets_df_and_precedence(spark):
    """crawl_delay_budgets -> schedule_round(budgets_df=...): a host's
    robots Crawl-delay row outranks the cfg default budget both ways —
    below it (slow.org is cut to 20) and above it (fast.org's 100 leaves
    its 80 URLs uncut) — and a host without a row keeps the default."""
    bodies = {
        "slow.org": "User-agent: *\nCrawl-delay: 0.5\n",   # budget 20 at rs=10
        "fast.org": "User-agent: *\nCrawl-delay: 0.1\n",   # budget 100 (uncut)
        "plain.org": "User-agent: *\nDisallow:\n",          # no delay -> default
    }
    cfg = PolitenessConfig(per_host_rate=5.0, round_seconds=10.0, max_in_flight=10)
    budgets = crawl_delay_budgets(_bodies(spark, bodies), cfg)
    assert {(r.host, r.budget) for r in budgets.collect()} == {("slow.org", 20), ("fast.org", 100)}

    rows = [
        (f"https://{h}/p/{i}", h, 0, 1)
        for h in ("slow.org", "fast.org", "plain.org")
        for i in range(80)
    ]
    fr = spark.createDataFrame(rows, "url string, host string, crawl_depth int, priority int")
    now, deferred = schedule_round(fr, cfg, n_buckets=4, budgets_df=budgets)
    by_host = {r.host: r.n for r in now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # slow: df budget 20; fast: 80 (uncut, budget 100); plain: default 50
    assert by_host == {"slow.org": 20, "fast.org": 80, "plain.org": 50}
    assert deferred.count() == 80 * 3 - (20 + 80 + 50)


def test_budgets_df_duplicate_hosts_do_not_multiply_rows(spark):
    """Review r4: budgets_df is one row per input robots row, so a bodies
    relation accumulated across re-fetch rounds can carry a host twice.
    The join must dedup by host (most-conservative wins) — un-deduped,
    each duplicate would MULTIPLY that host's frontier rows through the
    offsets join (duplicate fetches downstream)."""
    cfg = PolitenessConfig(per_host_rate=10.0, round_seconds=60.0, max_in_flight=10)
    fr = spark.createDataFrame(
        [(f"https://dup.org/p/{i}", "dup.org", 0, 1) for i in range(10)]
        + [(f"https://other.org/p/{i}", "other.org", 0, 1) for i in range(10)],
        "url string, host string, crawl_depth int, priority int",
    )
    dup_budgets = spark.createDataFrame(
        [("dup.org", 3, 0.05), ("dup.org", 7, 0.2)],
        "host string, budget int, rate double",
    )
    now, deferred = schedule_round(fr, cfg, n_buckets=4, budgets_df=dup_budgets)
    assert now.count() + deferred.count() == 20  # no multiplication anywhere
    # every URL appears exactly once across the split
    union = now.select("url").union(deferred.select("url"))
    assert union.distinct().count() == 20
    by_host = {r.host: r.n for r in now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert by_host == {"dup.org": 3, "other.org": 10}  # min budget wins
    rates = {r.host: r.host_rate for r in now.select("host", "host_rate").distinct().collect()}
    assert rates == {"dup.org": 0.05, "other.org": 10.0}  # min rate wins
    assert "host_rate" not in deferred.columns  # fetch-stage concern only


def test_crawl_delay_budgets_hostile_values_clamp_not_crash(spark):
    """Review r4: one hostile robots.txt among 10^6 must not kill the job.
    'Crawl-delay: 1e-9' -> int32-clamped budget (not an Arrow overflow
    error); 'nan'/'inf' -> ignored like malformed (nan even passes a
    `delay <= 0` guard). Applies to the driver parser too."""
    from ba_gepris_crawler_spark.operators.politeness import _INT32_MAX, parse_crawl_delay

    assert parse_crawl_delay("User-agent: *\nCrawl-delay: nan\n") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: inf\n") is None
    cfg = PolitenessConfig(per_host_rate=10.0, round_seconds=60.0)
    robots = spark.createDataFrame(
        [
            ("h-tiny.org", "User-agent: *\nCrawl-delay: 1e-9\n"),
            ("h-nan.org", "User-agent: *\nCrawl-delay: nan\n"),
            ("h-inf.org", "User-agent: *\nCrawl-delay: inf\n"),
            ("h-norm.org", "User-agent: *\nCrawl-delay: 0.5\n"),
        ],
        "host string, robots_txt string",
    )
    rows = {r.host: (r.budget, r.rate) for r in crawl_delay_budgets(robots, cfg).collect()}
    assert rows["h-tiny.org"][0] == _INT32_MAX
    assert rows["h-norm.org"] == (120, 2.0)
    assert set(rows) == {"h-tiny.org", "h-norm.org"}


def test_budgets_df_feeds_fetch_virtual_cost(spark):
    """Review r4: the budgets relation must feed BOTH consumers of a
    per-host rate — the scheduler's budget cut AND fetch_pages'
    virtual-cost pricing. fetch_now carries the resolved `host_rate`, and
    every row of a host costs its last wave over that rate."""
    from ba_gepris_crawler_spark.operators.fetch import fetch_pages
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    bodies = {"slow.example.org": "User-agent: *\nCrawl-delay: 0.5\n"}
    cfg = PolitenessConfig(per_host_rate=5.0, round_seconds=10.0, max_in_flight=10)
    site = SiteConfig(hosts=("slow.example.org", "fast.example.org"))
    fr = spark.createDataFrame(
        [(f"https://{h}/p/{i}", h, 0, 1, "project", str(i))
         for h in site.hosts for i in range(12)],
        "url string, host string, crawl_depth int, priority int, "
        "resource_type string, resource_id string",
    )
    now_rel, _ = schedule_round(fr, cfg, n_buckets=4,
                                budgets_df=crawl_delay_budgets(_bodies(spark, bodies), cfg))
    assert "host_rate" in now_rel.columns
    cost_rel = {
        (r.host, r.slot): r.virtual_cost_sec
        for r in fetch_pages(now_rel, site, n_buckets=4)
        .select("host", "slot", "virtual_cost_sec").distinct().collect()
    }
    # 12 URLs per host fit both budgets (slow 2/s x 10 s = 20, fast the
    # default 50) in 2 waves of 10: cost = 2 waves / the host's rate
    assert cost_rel == {
        ("slow.example.org", 1): 2 / 2.0, ("slow.example.org", 2): 2 / 2.0,
        ("fast.example.org", 1): 2 / 5.0, ("fast.example.org", 2): 2 / 5.0,
    }


def test_budgets_df_boundary_clamps_zero_negative_huge(spark):
    """Review r4b: schedule_round accepts ARBITRARY relations, so the
    invariant budget in [1, INT32_MAX] must be restored at the
    boundary — a zero/negative budget row must not starve its host
    forever, and a long value must not wrap negative through cast('int').
    Non-positive rates fall back to the default rate."""
    cfg = PolitenessConfig(per_host_rate=10.0, round_seconds=60.0, max_in_flight=10)
    fr = spark.createDataFrame(
        [(f"https://{h}/p/{i}", h, 0, 1) for h in ("z.org", "neg.org", "huge.org")
         for i in range(5)],
        "url string, host string, crawl_depth int, priority int",
    )
    bad = spark.createDataFrame(
        [("z.org", 0, 0.0), ("neg.org", -5, -1.0), ("huge.org", 3_000_000_000, 2.0)],
        "host string, budget long, rate double",
    )
    now, deferred = schedule_round(fr, cfg, n_buckets=4, budgets_df=bad)
    by_host = {r.host: r.n for r in now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # floor 1: the zero/negative hosts still fetch one page per round
    assert by_host.get("z.org") == 1 and by_host.get("neg.org") == 1, by_host
    # 3e9 clamps to INT32_MAX (uncut), not a negative int32 wrap (starved)
    assert by_host.get("huge.org") == 5, by_host
    rates = {r.host: r.host_rate for r in now.select("host", "host_rate").distinct().collect()}
    assert rates["z.org"] == 10.0 and rates["neg.org"] == 10.0  # default rate
    assert rates["huge.org"] == 2.0


def test_budgets_df_null_budget_falls_back_to_default(spark):
    """ADVICE r4: least/greatest SKIP nulls, so an unguarded clamp turns a
    null (or uncastable) budget into greatest(1, INT32_MAX) = INT32_MAX —
    an unlimited grant. A null budget must instead fall through to the cfg
    default budget; a host with one null and one real row takes the real
    (most-conservative) one."""
    # default budget = ceil(2.0 * 1.0) = 2 pages/round
    cfg = PolitenessConfig(per_host_rate=2.0, round_seconds=1.0, max_in_flight=10)
    fr = spark.createDataFrame(
        [(f"https://{h}/p/{i}", h, 0, 1) for h in ("null.org", "mixed.org", "str.org")
         for i in range(6)],
        "url string, host string, crawl_depth int, priority int",
    )
    bad = spark.createDataFrame(
        [("null.org", None, None), ("mixed.org", None, None), ("mixed.org", 4, 4.0),
         ("str.org", None, None)],
        "host string, budget int, rate double",
    ).withColumn("budget", F.when(F.col("host") == "str.org", F.lit(None)).otherwise(F.col("budget")))
    now, _ = schedule_round(fr, cfg, n_buckets=4, budgets_df=bad)
    by_host = {r.host: r.n for r in now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # all-null host: NOT unlimited — the cfg default budget (2) applies
    assert by_host.get("null.org") == 2, by_host
    assert by_host.get("str.org") == 2, by_host
    # null + real rows for one host: min() skips the null, real row wins
    assert by_host.get("mixed.org") == 4, by_host
    rates = {r.host: r.host_rate for r in now.select("host", "host_rate").distinct().collect()}
    assert rates["null.org"] == 2.0 and rates["mixed.org"] == 4.0


def test_config_rejects_nan_rates():
    """Review r4b: NaN passes a bare `<= 0` guard; the config validator
    must reject it explicitly (int(nan) would raise deep in plan build)."""
    with pytest.raises(ValueError):
        PolitenessConfig(per_host_rate=float("nan"))
    with pytest.raises(ValueError):
        PolitenessConfig(round_seconds=float("nan"))


def test_budgets_df_join_adds_no_bare_host_data_exchange(spark):
    """The budgets relation must ride the metadata-sized offsets join:
    joining it may exchange METADATA rows by host, but no Exchange that
    carries frontier DATA rows (url column) may partition by bare host."""
    f = _frontier(spark)
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0)
    budgets = spark.createDataFrame(
        [("h0.example.org", 5, 1.0)], "host string, budget int, rate double")
    fetch_now, _ = schedule_round(f, cfg, n_buckets=N_BUCKETS, budgets_df=budgets)
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        fetch_now._jdf.queryExecution(), "formatted"
    )
    for blk in re.split(r"\n\s*\n", plan):
        if not re.match(r"\(\d+\) Exchange", blk.strip()):
            continue
        m = re.search(r"hashpartitioning\(([^)]*)\)", blk)
        if m is None:
            continue
        keys = m.group(1)
        if re.search(r"\bhost#", keys) and "host_bucket#" not in keys:
            inp = next((ln for ln in blk.splitlines() if ln.startswith("Input")), "")
            assert "url#" not in inp, f"bare-host Exchange carries data rows: {blk}"


def _joins_and_exchanges(df) -> tuple[int, int]:
    """(join operators, exchange operators) in df's physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    ops = [re.sub(r"^[\s:+\-|]*", "", ln).split(" ")[0] for ln in plan.splitlines()]
    return sum(o.endswith("Join") for o in ops), sum(o.endswith("Exchange") for o in ops)


def test_schedule_plan_shape_is_pinned(spark):
    """fetch_now's physical plan at the default config has ONE join (the
    broadcast offsets join) and four exchanges: the salted rank shuffle,
    the two metadata shuffles of the offsets counts and the offsets
    broadcast. One budgets_df row adds one join (the overrides broadcast
    onto the offsets frame) and two exchanges (that broadcast and the
    per-host dedupe shuffle). A change that grows the schedule plan
    fails here."""
    f = _frontier(spark)
    cfg = PolitenessConfig(per_host_rate=40, round_seconds=1.0)
    fetch_now, _ = schedule_round(f, cfg, n_buckets=N_BUCKETS)
    assert _joins_and_exchanges(fetch_now) == (1, 4)
    budgets = spark.createDataFrame(
        [("h0.example.org", 5, 1.0)], "host string, budget int, rate double")
    fetch_now, _ = schedule_round(f, cfg, n_buckets=N_BUCKETS, budgets_df=budgets)
    assert _joins_and_exchanges(fetch_now) == (2, 6)


def test_hostile_robots_caps_star_runs_rule_len_body_size(spark):
    """Web-scale hostile-input caps: consecutive '*'s collapse to one
    (identical decisions, bounded regex backtracking), rules longer than
    _MAX_RULE_LEN are ignored, and only the first 500 KiB of a body is
    parsed — a hostile robots.txt must not schedule unbounded regex work
    onto executors or unbounded parse work anywhere."""
    import time

    from ba_gepris_crawler_spark.operators.politeness import _MAX_ROBOTS_BODY, _MAX_RULE_LEN

    # star-run collapse: same decisions as the single-star form
    star_bomb = "User-agent: *\nDisallow: /a" + "*" * 500 + "b\n"
    rules = parse_robots_rules("h.org", star_bomb)
    assert len(rules) == 1 and rules[0][1].count(".*") == 1
    fr = spark.createDataFrame(
        [("https://h.org/a/x/b", "h.org"), ("https://h.org/c", "h.org"),
         ("https://h.org/a" + "x/" * 2000 + "nope", "h.org")],
        "url string, host string")
    t0 = time.time()
    kept = _kept(fr, _bodies(spark, {"h.org": star_bomb}))
    assert time.time() - t0 < 30  # bounded work even on long URLs
    assert kept == {"https://h.org/c", "https://h.org/a" + "x/" * 2000 + "nope"}

    # over-long rule ignored; normal rule in the same group still applies
    long_rule = ("User-agent: *\nDisallow: /" + "q" * (_MAX_RULE_LEN + 1)
                 + "\nDisallow: /blocked/\n")
    rules = parse_robots_rules("h.org", long_rule)
    assert len(rules) == 1 and rules[0][2] == len("/blocked/")

    # SEPARATED star runs (which run-collapse cannot defuse) are capped:
    # many '.*' groups backtrack combinatorially per URL on executors
    alt_bomb = ("User-agent: *\nDisallow: /" + "*b" * 500
                + "\nDisallow: /blocked/\n")
    rules = parse_robots_rules("h.org", alt_bomb)
    assert len(rules) == 1 and rules[0][2] == len("/blocked/")

    # body cap: directives beyond 500 KiB are ignored
    huge = ("# " + "x" * _MAX_ROBOTS_BODY + "\n"
            + "User-agent: *\nDisallow: /late/\n")
    assert parse_robots_rules("h.org", huge) == ()

    # truncation drops the PARTIAL last line: a sliced 'Crawl-delay: 600'
    # must not parse as 'Crawl-delay: 6'
    from ba_gepris_crawler_spark.operators.politeness import parse_crawl_delay

    head = "User-agent: *\n"
    # pad so the 500 KiB slice cuts exactly after 'Crawl-delay: 6'
    pad = head + "#" * (_MAX_ROBOTS_BODY - len(head) - 15) + "\n"
    sliced = pad + "Crawl-delay: 600\n"
    body = sliced[:_MAX_ROBOTS_BODY]
    assert body.rsplit("\n", 1)[1] == "Crawl-delay: 6"  # trap is live
    assert parse_crawl_delay(sliced) is None  # partial directive dropped


def test_budgets_df_string_garbage_and_nan_rate_fall_back(spark):
    """schedule_round accepts ARBITRARY relations, so the clamp must
    survive the two remaining hostile shapes (review r5 final):
    a STRING-typed budget/rate column with unparsable values — under ANSI
    mode (Spark 4 default) a plain cast('abc' AS long) THROWS instead of
    yielding the NULL the guard is built around, killing the schedule —
    and a NaN rate, which Spark orders greater than every number, so
    `NaN > 0` is true and least(NaN, INT32_MAX) silently granted the
    fastest possible rate instead of the documented default fallback."""
    # default budget = ceil(2.0 * 1.0) = 2 pages/round, default rate 2.0
    cfg = PolitenessConfig(per_host_rate=2.0, round_seconds=1.0, max_in_flight=10)
    fr = spark.createDataFrame(
        [(f"https://{h}/p/{i}", h, 0, 1) for h in ("garbage.org", "nanrate.org")
         for i in range(6)],
        "url string, host string, crawl_depth int, priority int",
    )
    hostile = spark.createDataFrame(
        [("garbage.org", "abc", "xyz"), ("nanrate.org", "4", "nan")],
        "host string, budget string, rate string",
    )
    now, _ = schedule_round(fr, cfg, n_buckets=4, budgets_df=hostile)
    by_host = {r.host: r.n for r in now.groupBy("host").agg(F.count("*").alias("n")).collect()}
    # uncastable budget -> NULL -> cfg default budget, not a task crash
    assert by_host.get("garbage.org") == 2, by_host
    assert by_host.get("nanrate.org") == 4, by_host
    rates = {r.host: r.host_rate for r in now.select("host", "host_rate").distinct().collect()}
    # uncastable/NaN rates fall back: garbage.org to the cfg default rate,
    # nanrate.org to its own budget-derived rate — never INT32_MAX
    assert rates["garbage.org"] == 2.0, rates
    assert rates["nanrate.org"] < 100, rates
