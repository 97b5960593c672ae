"""Per-host politeness scheduling + salted priority queue.

The reference's politeness is a fixed set of mapAsync() in-flight caps
against a single host (catalog 20 / detail 10 / taxonomy 6 / JSON 2 /
count 1 — SURVEY.md §2.8). Generalization mandated by the north rule:

- token bucket per host: a crawl round may fetch at most
  `budget = per_host_rate * round_seconds` pages of one host, at most
  `max_in_flight` concurrently; the budget is derived from GLOBAL config,
  never from partition counts, so scheduling decisions are identical at
  local[8] and local[32] (partition-count invariance is what makes the
  two-cluster-size scaling-efficiency comparison meaningful).
- salted priority queue: fetch order per host is the deterministic key
  (crawl_depth, priority, host_bucket, url); the host is spread over
  `n_buckets` partitions via host_bucket = crc32(url) % B, so one hot
  host (GEPRIS is the degenerate single-host worst case) cannot create a
  hot partition. crc32 (not xxhash64) because the golden simulator and the
  DuckDB oracle must reproduce the bucket in pure Python/SQL.

  TWO-LEVEL RANKING (the 100 TB shape): ranking the whole frontier of one
  host through Window.partitionBy(host) would funnel that host's frontier
  through ONE task — the scale-killer for the reference's own single-host
  workload (CrawledResourceDetailDataGraph.scala:27 hard-codes one host).
  Instead the rank is computed within (host, host_bucket) partitions and
  lifted to the exact global per-host rank with broadcast per-group
  offsets: for the group key g = (crawl_depth, priority, host_bucket),
  rows of one g are contiguous in the global (depth, priority, bucket,
  url) order, so host_rank = rows_before_group(g) + (local_rank -
  rows_before_group_in_bucket(g)). Both offset tables are metadata-sized
  (hosts x depths x priorities x buckets) and computed from one tiny
  groupBy-count — the same offset trick the crawl-log `seq` uses
  (plans/round_loop.py). No Exchange ever partitions by bare `host`.
- robots rules and per-host rate overrides reach the scheduler only as
  relations built from (host, robots_txt) bodies (robots_relations):
  the rules relation is broadcast-joined onto the frontier
  (apply_robots_rules), the budgets relation onto the offsets frame
  (schedule_round) — the analog of the reference's broadcast cookie
  cache (CookieFlowGraph.scala:30-58). With neither, no join is added.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Host-cardinality crossover for schedule_round's offsets-join strategy:
# at or below this many hosts the offsets frame is tiny and a forced
# broadcast wins (AQE alone plans sort-merge and the data side pays its
# shuffle write first — measured regression); above it, the broadcast
# round-trips millions of metadata rows through the driver and the
# co-keyed shuffle join wins (1.4-2.8x at 10^6 hosts, BENCH/many_hosts.py).
MANY_HOSTS_THRESHOLD = 2000

# Budgets are carried in int32 columns (offsets join, budgets_df); a
# hostile robots.txt ("Crawl-delay: 1e-9") must clamp, not overflow.
_INT32_MAX = 2**31 - 1


def _budget_from_rate(rate: float, round_seconds: float) -> int:
    """pages/sec x seconds -> int32-safe token-bucket budget. Clamps to
    [1, INT32_MAX] so web-derived rates (1/Crawl-delay of an untrusted
    body can be huge or inf) can never overflow the int32 budget columns
    or raise mid-job. NaN is rejected loudly at plan-build time — the
    comparison guards below are all False for NaN and int(nan) would
    raise a confusing error deep in the plan (callers already filter it:
    parse_crawl_delay and PolitenessConfig.__post_init__)."""
    if math.isnan(rate):
        raise ValueError("rate must be a finite number, got nan")
    budget = rate * round_seconds
    if budget >= _INT32_MAX:
        return _INT32_MAX
    if budget < 1:  # also catches -inf, where int() would overflow
        return 1
    return int(budget)


@dataclass(frozen=True)
class PolitenessConfig:
    per_host_rate: float = 10.0  # pages/sec a host will tolerate (default)
    round_seconds: float = 60.0  # wall-clock modeled per crawl round
    max_in_flight: int = 10  # reference detail-page cap (mapAsync(10))

    def __post_init__(self) -> None:
        # the rate is a divisor downstream (fetch virtual cost): a 0 or
        # negative rate would produce an inf virtual_cost_sec in
        # fetch_pages — reject once. NaN passes a bare `<= 0` guard
        # (comparison False), so require finite explicitly
        if not math.isfinite(self.per_host_rate) or self.per_host_rate <= 0:
            raise ValueError(f"per_host_rate must be a finite number > 0, got {self.per_host_rate}")
        # round_seconds scales every budget and max_in_flight divides the
        # slot waves: reject here, before a crawl writes its config, not as
        # a NaN int() or a divide-by-zero inside the first round's plan
        if not math.isfinite(self.round_seconds) or self.round_seconds <= 0:
            raise ValueError(f"round_seconds must be a finite number > 0, got {self.round_seconds}")
        if self.max_in_flight < 1:
            raise ValueError(f"max_in_flight must be >= 1, got {self.max_in_flight}")

    @property
    def per_host_budget(self) -> int:
        return _budget_from_rate(self.per_host_rate, self.round_seconds)


def priority_for_type() -> F.Column:
    """Engine-defined priority: catalog pages first (they widen the
    frontier), then projects, persons, institutions. The reference has no
    priority queue (SURVEY.md §2.10#4) — this is new, documented design."""
    return (
        F.when(F.col("resource_id").isNull(), F.lit(0))
        .when(F.col("resource_type") == "project", F.lit(1))
        .when(F.col("resource_type") == "person", F.lit(2))
        .otherwise(F.lit(3))
    )


# Hostile-robots parsing caps (RFC 9309 §2.4 requires processing at least
# 500 KiB and allows ignoring the rest; per-rule length is the de-facto
# crawler limit). These bound the regex work a hostile body can schedule
# onto EXECUTORS — rules evaluate per frontier URL, so an unbounded
# pattern is a distributed-CPU DoS, not just a parse cost. The wildcard
# cap exists because backtracking cost grows with the number of '.*'
# groups even after star-RUN collapse: '/a*b*c*...' with ~1000 separated
# stars still explores combinatorially many partitions of a hostile URL.
_MAX_ROBOTS_BODY = 500 * 1024
_MAX_RULE_LEN = 2048
_MAX_RULE_WILDCARDS = 16


def _capped_body(robots_txt: str) -> str:
    """First 500 KiB of a robots body, with any truncated PARTIAL line
    dropped — a sliced 'Crawl-delay: 600' must not parse as a valid
    'Crawl-delay: 6', and a sliced 'Allow: /private-archive' must not
    become a broad 'Allow: /p'."""
    if len(robots_txt) <= _MAX_ROBOTS_BODY:
        return robots_txt
    body = robots_txt[:_MAX_ROBOTS_BODY]
    return body.rsplit("\n", 1)[0] if "\n" in body else ""


def _path_pattern_to_regex(value: str) -> str:
    """robots.txt path pattern -> anchored regex: '*' matches any char
    sequence, a TRAILING '$' anchors the end of the URL (RFC 9309 §2.2.3);
    an optional scheme://host prefix is accepted so bare-path and full-URL
    inputs both match. Consecutive '*'s collapse to one — semantically
    identical, and it defuses the cheapest hostile pattern ('/a' + '*'*500
    would otherwise compile to a chain of 500 '.*'s whose backtracking cost
    is superlinear in URL length, paid per frontier URL on executors)."""
    import re as _re

    anchored_end = value.endswith("$")
    core = value[:-1] if anchored_end else value
    core = _re.sub(r"\*+", "*", core)
    rx = (
        "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)?"
        + _re.escape(core).replace("\\*", ".*")
    )
    return rx + "$" if anchored_end else rx


def parse_robots_rules(
    host: str, robots_txt: str, user_agent: str = "*"
) -> tuple[tuple[str, str, int, bool], ...]:
    """Full RFC-9309 rule parse -> (host, path_regex, specificity,
    is_allow) tuples (ROBOTS_RULES_SCHEMA rows) for apply_robots_rules'
    longest-match evaluation: the matching rule with the LONGEST raw
    pattern decides; on a tie Allow wins; no matching rule = allowed. '*'
    and trailing '$' per `_path_pattern_to_regex`. Standard group
    semantics: consecutive User-agent lines open a group; rules count from
    groups matching `user_agent` or '*'. Empty Allow/Disallow values are
    skipped (an empty Disallow is allow-all already). Hostile-input caps:
    only the first 500 KiB of the body is parsed (RFC 9309 §2.4) and
    rules longer than _MAX_RULE_LEN are ignored (the de-facto crawler
    limit; an unbounded pattern is executor-side regex work per URL)."""
    rules: list[tuple[str, str, int, bool]] = []
    group_agents: list[str] = []
    in_group_body = False
    for raw in _capped_body(robots_txt).splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_group_body:
                group_agents = []
                in_group_body = False
            group_agents.append(value.lower())
        elif key in ("disallow", "allow"):
            in_group_body = True
            if not value or len(value) > _MAX_RULE_LEN:
                continue
            # count star RUNS (i.e. after run-collapse): '/a****b' is one
            # wildcard's work, '/a*b*c*...' with many separated stars is
            # the backtracking-DoS shape the run-collapse cannot defuse
            star_runs = sum(
                1 for i, ch in enumerate(value)
                if ch == "*" and (i == 0 or value[i - 1] != "*")
            )
            if star_runs > _MAX_RULE_WILDCARDS:
                continue
            if "*" in group_agents or user_agent.lower() in group_agents:
                rules.append(
                    (host, _path_pattern_to_regex(value), len(value), key == "allow")
                )
        else:
            in_group_body = True  # crawl-delay etc.: group body continues
    return tuple(rules)


def parse_crawl_delay(robots_txt: str, user_agent: str = "*") -> float | None:
    """Crawl-delay (seconds between requests) from robots.txt, honoring the
    same group semantics as parse_robots_rules: the directive counts only inside
    a group matching `user_agent` or '*'. A specific-agent group's value
    wins over a wildcard group's; malformed / non-positive values are
    ignored. Returns None when no applicable directive exists. Only the
    first 500 KiB of the body is parsed (RFC 9309 §2.4, same cap as
    parse_robots_rules)."""
    wildcard: float | None = None
    specific: float | None = None
    group_agents: list[str] = []
    in_group_body = False
    for raw in _capped_body(robots_txt).splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if in_group_body:
                group_agents = []
                in_group_body = False
            group_agents.append(value.lower())
        else:
            in_group_body = True
            if key != "crawl-delay":
                continue
            try:
                delay = float(value)
            except ValueError:
                continue
            # web input: "Crawl-delay: nan"/"inf" parse as floats but are
            # not delays — nan even passes a `delay <= 0` guard (False)
            # and would crash int() downstream; treat like malformed
            if not math.isfinite(delay) or delay <= 0:
                continue
            if user_agent.lower() != "*" and user_agent.lower() in group_agents:
                specific = delay
            elif "*" in group_agents or user_agent.lower() in group_agents:
                wildcard = delay
    return specific if specific is not None else wildcard


# rule rows as a RELATION — the web-scale robots shape: at 10^6+ hosts
# neither the robots bodies nor their parsed rules fit driver literals,
# so they live as DataFrames end to end (parse_robots_rules_distributed
# -> apply_robots_rules / crawl_delay_budgets -> schedule_round).
ROBOTS_RULES_SCHEMA = "host string, rx string, spec int, allow boolean"


def parse_robots_rules_distributed(
    robots: DataFrame,
    user_agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Distributed robots parse: (host, robots_txt) rows -> RFC-9309 rule
    rows, Arrow-batched mapInPandas calling THE parse_robots_rules state
    machine per body. The bodies (fetched by the crawl itself at open-web
    scale) and the resulting rules never transit the driver; feed the
    output to apply_robots_rules."""
    import pandas as pd

    ua = user_agent

    def parse(batches):
        for pdf in batches:
            out: list[tuple[str, str, int, bool]] = []
            for h, txt in zip(pdf[host_col], pdf[txt_col]):
                out.extend(parse_robots_rules(h, txt or "", ua))
            # ONE construction for empty and non-empty batches — the
            # astype map is the only dtype statement, so the two branches
            # cannot drift apart (an all-object empty frame would only
            # fail on the partition that happened to have no rules)
            yield pd.DataFrame(out, columns=["host", "rx", "spec", "allow"]).astype(
                {"spec": "int32", "allow": bool}
            )

    return robots.mapInPandas(parse, schema=ROBOTS_RULES_SCHEMA)


def crawl_delay_budgets(
    robots: DataFrame,
    cfg: PolitenessConfig,
    user_agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Distributed Crawl-delay parse: (host, robots_txt) rows -> (host,
    budget int, rate double) rows for schedule_round's budgets_df. It
    feeds both consumers of a per-host rate: `budget` drives the
    scheduler's token-bucket cut and `rate` (pages/sec = 1/delay) rides
    fetch_now as the `host_rate` column fetch_pages prices virtual cost
    from. Same group semantics (parse_crawl_delay); hosts without an
    applicable directive emit no row and fall back to cfg's defaults.
    Budgets clamp to int32 (a hostile 'Crawl-delay: 1e-9' among 10^6
    bodies must not kill the job with an int32 overflow)."""
    import pandas as pd

    ua, rs = user_agent, cfg.round_seconds

    def parse(batches):
        for pdf in batches:
            hosts: list[str] = []
            budgets: list[int] = []
            rates: list[float] = []
            for h, txt in zip(pdf[host_col], pdf[txt_col]):
                delay = parse_crawl_delay(txt or "", ua)
                if delay is not None:
                    rate = 1.0 / delay
                    hosts.append(h)
                    budgets.append(_budget_from_rate(rate, rs))
                    rates.append(min(rate, float(_INT32_MAX)))
            yield pd.DataFrame(
                {"host": pd.Series(hosts, dtype=object),
                 "budget": pd.Series(budgets, dtype="int32"),
                 "rate": pd.Series(rates, dtype="float64")}
            )

    return robots.mapInPandas(parse, schema="host string, budget int, rate double")


def robots_relations(
    robots: DataFrame, cfg: PolitenessConfig, user_agent: str = "*"
) -> tuple[DataFrame, DataFrame]:
    """(host, robots_txt) bodies -> (budgets_df, rules_df), the two
    relations schedule_round takes: Crawl-delay budgets
    (crawl_delay_budgets) and Allow/Disallow rules
    (parse_robots_rules_distributed). Every caller that holds robots
    bodies — a --robots-file, a bootstrap fetch — builds both here, so
    neither half of a body can be dropped."""
    return (
        crawl_delay_budgets(robots, cfg, user_agent),
        parse_robots_rules_distributed(robots, user_agent),
    )


def apply_robots_rules(
    frontier: DataFrame,
    rules: DataFrame,
    many_hosts: bool = False,
    n_buckets: int = 32,
) -> DataFrame:
    """Joined robots evaluation over a rules RELATION (ROBOTS_RULES_SCHEMA
    rows, e.g. from parse_robots_rules_distributed). Per host the rules
    are packed into ONE array sorted by
    (-specificity, Disallow-after-Allow) — longest match first, Allow
    first on ties — and the decision is `get(filter(rules, r -> url rlike
    r.rx), 0).allow` with null (no match / unruled host) meaning allowed.
    One join + one HOF whatever the number of ruled hosts: broadcast by
    default, or, with many_hosts, a salted co-keyed shuffle on (host,
    crc32(url) % n_buckets) so a hot host's frontier spreads over
    n_buckets tasks (the rules side is metadata-sized: ruled_hosts x
    n_buckets rows; never a bare-host Exchange on the data side)."""
    per_host = rules.groupBy("host").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("spec")).alias("nspec"),
                    F.when(F.col("allow"), F.lit(0)).otherwise(F.lit(1)).alias("dis"),
                    F.col("rx").alias("rx"),
                    F.col("allow").alias("allow"),
                )
            )
        ).alias("_rules")
    )
    if many_hosts:
        # salt the metadata side x n_buckets so the data-side join key is
        # (host, bucket) — a hot host's frontier never funnels into one task
        per_host = per_host.withColumn(
            "_rsalt", F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
        )
        joined = frontier.withColumn("_rsalt", salt_bucket("url", n_buckets)).join(
            per_host, ["host", "_rsalt"], "left"
        )
    else:
        joined = frontier.join(F.broadcast(per_host), "host", "left")
    first = F.get(
        F.filter(F.col("_rules"), lambda r: F.regexp_like(F.col("url"), r["rx"])),
        F.lit(0),
    )
    decision = F.when(first.isNull(), F.lit(True)).otherwise(first["allow"])
    # the join moves key columns first; restore the caller's column order
    return joined.filter(decision).select(*frontier.columns)


def salt_bucket(url_col: str = "url", n_buckets: int = 32) -> F.Column:
    """host_bucket = crc32(url) % B — deterministic, partition-count
    invariant, and reproducible outside Spark (zlib.crc32 in the golden
    simulator; no DuckDB twin needed because oracle fixtures provide the
    bucket column directly)."""
    return F.pmod(F.crc32(F.col(url_col).cast("binary")), F.lit(n_buckets)).cast("int")


def schedule_round(
    frontier: DataFrame,
    cfg: PolitenessConfig,
    n_buckets: int = 32,
    many_hosts: bool = False,
    budgets_df: DataFrame | None = None,
    rules_df: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the deduplicated frontier into (fetch_now, deferred).

    Robots: rules_df, an optional ROBOTS_RULES_SCHEMA relation
    (parse_robots_rules_distributed), drops the URLs it disallows through
    apply_robots_rules.

    Per-host overrides: budgets_df, an optional (host, budget int[, rate
    double]) relation (crawl_delay_budgets), is clamped, deduplicated to
    one row per host (most-conservative wins) and joined onto the
    metadata-sized offsets frame (broadcast, or co-keyed shuffle under
    many_hosts), so the data side pays no extra shuffle. Hosts without a
    row use cfg.per_host_budget. Without budgets_df the budget is a
    literal and no join is added.

    fetch_now rows carry:
      host_rank     - deterministic per-host fetch order (1-based) under
                      the engine-defined total order (crawl_depth, priority,
                      host_bucket, url)
      host_bucket   - salted partition key (rank AND fetch stage)
      slot          - simulated politeness wave: ceil(host_rank /
                      max_in_flight); wave w may start only after wave w-1
                      (token bucket)
      host_max_slot - the host's last wave this round
      host_rate     - the host's resolved pages/sec; fetch_pages prices
                      virtual cost from it and host_max_slot

    NOTE: the order is fully deterministic and reproducible by the
    straight-line golden crawl simulator (the reference's own fetch order
    is nondeterministic Set iteration, CrawlResourceDetailsGraph.scala:52;
    we define and persist this order instead, per SURVEY.md §2.10#4).
    A frontier that already carries a host_bucket column keeps it (lets
    oracle fixtures pin portable buckets).

    Engine-defined priority note: catalog pages of EVERY resource type rank
    at priority 0 (priority_for_type keys on resource_id IS NULL), so a
    person/institution catalog page outranks project detail pages — by
    design, catalogs widen the frontier fastest.
    """
    f = frontier
    if rules_df is not None:
        f = apply_robots_rules(f, rules_df, many_hosts=many_hosts, n_buckets=n_buckets)
    added_bucket = "host_bucket" not in f.columns
    if added_bucket:
        f = f.withColumn("host_bucket", salt_bucket("url", n_buckets))
    # Level 2: metadata-sized per-group counts -> window-cumsum offsets,
    # entirely distributed (no driver collect — at 10^6-10^7 hosts the old
    # collect materialized O(hosts x depths x priorities x B) rows on the
    # driver, the exact pattern the reference's driver-side toSet has,
    # CrawlResourceDetailsGraph.scala:47-53). The counts frame holds at
    # most depths x priorities x B rows PER HOST — a constant — so the
    # per-host cumsum window below moves a bounded number of metadata rows
    # per task no matter how large one host's frontier is; the data-sized
    # frontier itself is never partitioned by bare host.
    counts = f.groupBy("host", "crawl_depth", "priority", "host_bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_host = (
        Window.partitionBy("host")
        .orderBy("crawl_depth", "priority", "host_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_in_bucket = (
        Window.partitionBy("host", "host_bucket")
        .orderBy("crawl_depth", "priority")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = counts.select(
        "host",
        "crawl_depth",
        "priority",
        "host_bucket",
        F.coalesce(F.sum("n").over(w_host), F.lit(0)).alias("grp_off"),
        F.coalesce(F.sum("n").over(w_in_bucket), F.lit(0)).alias("lrank_before"),
        # total frontier rows for the host this round — metadata-sized
        # window (bounded rows/host), carried onto fetch_now so the fetch
        # stage can price the host's GLOBAL politeness cost without a
        # bare-host shuffle or a per-Arrow-batch local max (which
        # understates cost whenever a host spans buckets/batches)
        F.sum("n").over(Window.partitionBy("host")).alias("host_total"),
    )
    budget: F.Column = F.lit(cfg.per_host_budget)
    rate: F.Column = F.lit(float(cfg.per_host_rate))
    if budgets_df is not None:
        overrides = _host_overrides(cfg, budgets_df)
        off = off.join(
            overrides if many_hosts else F.broadcast(overrides), "host", "left"
        )
        budget = F.coalesce(F.col("_budget"), budget)
        rate = F.coalesce(F.col("_rate"), rate)
    # Level 1: rank within the salted partition — the only data-sized
    # shuffle, keyed (host, host_bucket) so a hot host spreads over B tasks.
    w = Window.partitionBy("host", "host_bucket").orderBy("crawl_depth", "priority", "url")
    # The offsets join strategy is SIZE-AWARE (many_hosts): off scales with
    # host cardinality (hosts x depths x priorities x B rows). For a small
    # host universe (GEPRIS: <=16 hosts; anything under a few thousand) a
    # broadcast hint is strictly best — AQE without the hint plans a
    # sort-merge join and the data side pays its shuffle WRITE before AQE
    # can convert, a measured regression on the steady bench. For a
    # 10^5-10^7-host open-web frontier the broadcast itself becomes a
    # multi-million-row driver round-trip — there the caller passes
    # many_hosts=True and the join runs as a co-keyed shuffle (the join key
    # is a superset of the rank window's (host, host_bucket) partitioning,
    # so no bare-host exchange either way; 1.4-2.8x faster at 10^6 hosts,
    # BENCH/many_hosts.py).
    f = (
        f.withColumn("_lrank", F.row_number().over(w))
        .join(off if many_hosts else F.broadcast(off),
              ["host", "crawl_depth", "priority", "host_bucket"])
        .withColumn("host_rank", (F.col("grp_off") + F.col("_lrank") - F.col("lrank_before")).cast("int"))
        .drop("_lrank", "grp_off", "lrank_before")
    )
    # Per-host token-bucket cut; partition-count independent.
    fetch_now = (
        f.filter(F.col("host_rank") <= budget)
        .withColumn("slot", F.ceil(F.col("host_rank") / cfg.max_in_flight).cast("int"))
        # the host's LAST wave this round: fetched count = min(frontier
        # rows, budget). fetch_pages prices every row of the host at
        # max_slot/rate from this column — exact regardless of how the
        # host's rows split across salted buckets and Arrow batches
        .withColumn(
            "host_max_slot",
            F.ceil(F.least(F.col("host_total"), budget.cast("long")) / cfg.max_in_flight).cast("int"),
        )
        .withColumn("host_rate", rate)
        .drop("host_total", "_budget", "_rate")
    )
    # deferred rows rejoin the frontier: no scheduler columns
    deferred = f.filter(F.col("host_rank") > budget).drop(
        "host_rank", "host_total", "_budget", "_rate"
    )
    if added_bucket:
        deferred = deferred.drop("host_bucket")
    return fetch_now, deferred


def _host_overrides(cfg: PolitenessConfig, budgets_df: DataFrame) -> DataFrame:
    """budgets_df -> one (host, _budget int, _rate double) relation with
    one row per host. A null _budget/_rate means the cfg default for that
    column."""
    # clamp at the boundary: schedule_round accepts ARBITRARY relations,
    # so restore the invariant budget in [1, INT32_MAX] here —
    # a zero/negative row (or a long value a non-ANSI cast('int') would
    # wrap negative) must not starve its host forever, and a
    # non-positive/NaN rate falls back to the default rate (null).
    # least/greatest SKIP nulls (they return the least/greatest of the
    # non-null args), so an unguarded clamp would turn a null or
    # uncastable budget into greatest(1, INT32_MAX) = INT32_MAX — an
    # unlimited grant, the opposite of the invariant. Guard explicitly:
    # null budgets stay null, min() skips them, and an all-null host
    # falls through to cfg defaults.
    # try_cast, NOT cast: the budget/rate columns of an arbitrary
    # relation can be string-typed with unparsable values, and under
    # ANSI mode (Spark 4 default) a plain cast THROWS on 'abc' instead
    # of yielding the NULL this guard is built around — one malformed
    # row killing the schedule is exactly what the clamp exists to
    # prevent.
    budget_long = F.col("budget").try_cast("long")
    budget = F.when(
        budget_long.isNotNull(),
        F.greatest(
            F.lit(1).cast("long"),
            F.least(budget_long, F.lit(_INT32_MAX).cast("long")),
        ),
    ).cast("int")
    if "rate" in budgets_df.columns:
        rate_double = F.col("rate").try_cast("double")
        rate = F.when(
            # NaN must be excluded EXPLICITLY: Spark orders NaN greater
            # than any number, so NaN > 0 is true and least(NaN, MAX)
            # returns MAX — a NaN rate silently granted the fastest
            # possible rate instead of falling back to the default
            (rate_double > 0) & ~F.isnan(rate_double),
            F.least(rate_double, F.lit(float(_INT32_MAX))),
        )
    else:
        # budget-only relation: recover pages/sec from the budget
        rate = budget.cast("double") / F.lit(float(cfg.round_seconds))
    # one row per host: crawl_delay_budgets emits one per robots body,
    # and bodies accumulated across re-fetches can repeat a host — the
    # most conservative (smallest budget, slowest rate) wins. Un-deduped,
    # each duplicate would MULTIPLY that host's frontier rows through the
    # offsets join.
    return budgets_df.groupBy("host").agg(
        F.min(budget).alias("_budget"), F.min(rate).alias("_rate")
    )
