"""spark-submit entry point — the reference's scopt CLI re-expressed
(App.scala:16-67): new-crawl / resume-crawl / stream-crawl / recrawl /
retry-errors, plus dq / export / analyze / compact / gc over a store.

Deploy (spark-submit takes a primary FILE, it has no -m module flag):
  spark-submit --py-files ba_gepris_crawler_spark.zip ba_gepris_crawler_spark/cli.py new-crawl /data/crawl1
or locally:
  python -m ba_gepris_crawler_spark.cli new-crawl /tmp/crawl1 --hosts 4 --projects 1000

A crawl folder describes itself. new-crawl (and the first stream-crawl of
a root) writes config.json through `_create_crawl`; every command that
continues a crawl replays it through `_open_crawl`, so site flags never
change a running crawl. Unlike the reference (stage-directory heuristics,
GeprisCrawler.scala:31-38) resume is manifest-driven and deterministic
mid-round. Every refusal raises CliError, which `main` prints as one
{"error": ...} JSON line with exit code 2.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from contextlib import contextmanager
from dataclasses import asdict
from pathlib import Path

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.plans import dq
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import (
    CrawlEngine,
    CrawlSettings,
    official_subject_areas,
    published_tables,
)
from ba_gepris_crawler_spark.session import get_spark
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

# `compact` follows the round loop's policy: url_seen gets the full
# hash-clustered rewrite (the anti-join layout), documents the tiered one
# (each span payload rewritten O(log n) times). Typed tables are never
# compacted: their per-round dirs are the provenance the latest-version
# views (`--current`, analyze) resolve versions from.
_COMPACTION = {"url_seen": ("compact", "url"), "documents": ("compact_tiered", "doc_id")}


class CliError(Exception):
    """A refusal: `main` prints it as one {"error": ...} JSON line, exit 2."""


@contextmanager
def _refusals():
    """ValueErrors raised inside — config dataclass validation, the
    engine's refusals (e.g. resume of a crawl whose budgets relation is
    gone) — leave as CliError."""
    try:
        yield
    except ValueError as e:
        raise CliError(str(e)) from None


def _flag_config(args: argparse.Namespace) -> dict:
    """The config.json a crawl created from these flags persists. The
    dataclasses validate the flag values (e.g. --rate 0) before Spark."""
    site = SiteConfig(
        hosts=tuple(f"h{i:02d}.gepris.example.org" for i in range(args.hosts)),
        n_projects=args.projects,
        n_persons=int(args.projects * 0.4),
        n_institutions=max(int(args.projects * 0.1), 1),
        hits_per_page=50,
        seed=args.seed,
        error_mod=args.error_mod,
    )
    settings = CrawlSettings(
        n_buckets=args.buckets,
        politeness=PolitenessConfig(
            per_host_rate=args.rate,
            round_seconds=args.round_seconds,
            max_in_flight=args.in_flight,
        ),
        fetch_format=args.fetch_format,
        circuit_breaker={} if args.circuit_breaker else None,
    )
    return {
        "site": {**asdict(site), "hosts": list(site.hosts)},
        "politeness": asdict(settings.politeness),
        "n_buckets": settings.n_buckets,
        "fetch_format": settings.fetch_format,
        "circuit_breaker": settings.circuit_breaker,
        "bootstrap_robots": args.bootstrap_robots,
        "robots_file": args.robots_file,
    }


def _rebuild_from_config(cfg: dict) -> tuple[SiteConfig, CrawlSettings]:
    """config.json -> (site, settings), the one reader of the schema
    `_flag_config` writes. Keys a newer config no longer carries are
    ignored, keys an older one lacks take the dataclass defaults. Raises
    ValueError/TypeError/KeyError on a hand-edited/corrupt config."""
    sc = dict(cfg["site"])
    sc["hosts"] = tuple(sc["hosts"])
    site = SiteConfig(**{k: v for k, v in sc.items() if k in SiteConfig.__dataclass_fields__})
    pol = dict(cfg["politeness"])
    for k in ("disallow", "host_rates", "robots_rules"):
        # older configs persisted these literal politeness lists, always
        # empty; robots rules and rate overrides now arrive only as
        # relations (--robots-file, --bootstrap-robots), and dropping a
        # non-empty list would silently relax politeness
        if pol.pop(k, None):
            raise ValueError(f"politeness.{k} is not supported: robots rules "
                             "and rate overrides come from --robots-file")
    fb = CrawlSettings()
    settings = CrawlSettings(
        n_buckets=cfg.get("n_buckets", fb.n_buckets),
        politeness=PolitenessConfig(**pol),
        fetch_format=cfg.get("fetch_format", fb.fetch_format),
        circuit_breaker=_cb_from(cfg.get("circuit_breaker", fb.circuit_breaker)),
    )
    return site, settings


def _cb_from(cb) -> dict | None:
    """Persisted circuit-breaker config -> tripped_hosts kwargs. A
    hand-edited config with junk keys/types must fail HERE (callers map
    to the JSON-error contract), not as a mid-crawl TypeError rounds in."""
    if cb is None:
        return None
    if not isinstance(cb, dict):
        raise ValueError(f"circuit_breaker must be an object, got {type(cb).__name__}")
    allowed = {"min_fetches", "error_rate", "suspend_rounds"}
    bad = set(cb) - allowed
    if bad:
        raise ValueError(f"unknown circuit_breaker keys: {sorted(bad)}")
    return cb


def _load_config(store: SnapshotStore) -> dict | None:
    try:
        return store.load_config()  # a truncated file is a JSONDecodeError (ValueError)
    except (ValueError, OSError) as e:
        raise CliError(f"invalid persisted config: {e}") from None


def _robots_from(spark, path: str, politeness: PolitenessConfig):
    """(host, robots_txt) file -> (budgets, rules) relations. Reads
    parquet first (a parquet DIRECTORY rarely ends in .parquet), falling
    back to JSON-lines; columns are cast to string so a mis-typed field
    fails here, not as a Py4J traceback deep inside a fetch round."""
    from pyspark.sql import functions as F

    from ba_gepris_crawler_spark.operators.politeness import robots_relations

    try:
        bodies = spark.read.parquet(path)
    except Exception:
        try:
            bodies = spark.read.json(path)
        except Exception as e:  # missing/corrupt file
            raise CliError(f"cannot read --robots-file {path}: {e}") from None
    missing = {"host", "robots_txt"} - set(bodies.columns)
    if missing:
        raise CliError(f"--robots-file {path} lacks columns {sorted(missing)}")
    bodies = bodies.select(
        F.col("host").cast("string").alias("host"),
        F.col("robots_txt").cast("string").alias("robots_txt"),
    )
    return robots_relations(bodies, politeness)


def _replayable(cfg: dict) -> tuple[SiteConfig, CrawlSettings]:
    try:
        return _rebuild_from_config(cfg)
    except (ValueError, TypeError, KeyError) as e:
        raise CliError(f"invalid persisted config: {e}") from None


def _engine(spark, store: SnapshotStore, cfg: dict, robots_file: str | None) -> CrawlEngine:
    """The engine a config describes, with the robots file's budgets and
    rules relations."""
    site, settings = _replayable(cfg)
    engine = CrawlEngine(spark, site, store, settings)
    if robots_file:
        engine.budgets_df, engine.rules_df = _robots_from(spark, robots_file, settings.politeness)
    return engine


def _create_crawl(spark, store: SnapshotStore, cfg: dict) -> CrawlEngine:
    """Create path: validate the robots file, THEN write config.json — a
    typo'd path must not leave a store whose config names an unreadable
    file."""
    engine = _engine(spark, store, cfg, cfg["robots_file"])
    store.save_config(cfg)
    return engine


def _persisted_config(root: str) -> dict:
    """The config.json of an existing crawl, checked replayable before
    the JVM starts."""
    cfg = _load_config(SnapshotStore(None, root))
    if cfg is None:
        raise CliError(f"no persisted config.json in {root}: a crawl "
                       "replays its own site/politeness")
    _replayable(cfg)
    return cfg


def _open_crawl(
    spark, store: SnapshotStore, cfg: dict, robots_file: str | None = None
) -> CrawlEngine:
    """Open path of every command that continues a crawl: replay the
    store's config.json `cfg`. Site and settings never come from flags —
    another site would 404 every frontier URL and poison the seen set.
    The budgets and rules relations are data, not config, so they are
    rebuilt: from the persisted robots file, or by re-fetching the site's
    robots.txt for a --bootstrap-robots crawl. A `robots_file` override
    persists only after it validates, so the next flag-less command keeps
    it and a typo never breaks one."""
    engine = _engine(spark, store, cfg, robots_file or cfg.get("robots_file"))
    if robots_file and robots_file != cfg.get("robots_file"):
        store.save_config({**cfg, "robots_file": robots_file})
    if engine.budgets_df is None and cfg.get("bootstrap_robots"):
        engine.bootstrap_from_robots()
    return engine


def _print_counters(manifests: list[dict]) -> int:
    for m in manifests:
        print(json.dumps(m["counters"]))
    return 0


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ba-gepris-crawler-spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in ("new-crawl", "resume-crawl", "stream-crawl"):
        c = sub.add_parser(name)
        c.add_argument("root", help="snapshot-store root folder")
        c.add_argument("--hosts", type=int, default=4)
        c.add_argument("--projects", type=int, default=200)
        c.add_argument("--rate", type=float, default=1000)
        c.add_argument(
            "--round-seconds", dest="round_seconds", type=float, default=1.0,
            help="wall-clock length one crawl round represents; per-host "
                 "budgets = rate x this (matters with Crawl-delay budgets: "
                 "delay 2s at --round-seconds 60 allows 30 pages/round)",
        )
        c.add_argument("--in-flight", dest="in_flight", type=int, default=10)
        c.add_argument("--buckets", type=int, default=32)
        c.add_argument("--seed", type=int, default=42)
        c.add_argument(
            "--error-mod", dest="error_mod", type=int, default=0,
            help="1/N of detail pages answer 503 (quarantine + retry-errors "
                 "exercise); 0 = none",
        )
        c.add_argument(
            "--bootstrap-robots", dest="bootstrap_robots", action="store_true",
            help="before round 0, fetch each host's /robots.txt: Crawl-delay "
                 "lines become the per-host budgets relation and Sitemap: "
                 "urlsets seed the round-0 frontier (new-crawl only)",
        )
        c.add_argument(
            "--circuit-breaker", dest="circuit_breaker", action="store_true",
            help="suspend hosts whose transient-failure rate crosses the "
                 "threshold for a few rounds (operators/backpressure.py "
                 "defaults); their candidates defer, never drop",
        )
        c.add_argument("--max-rounds", type=int, default=30)
        c.add_argument(
            "--fetch-format", dest="fetch_format", choices=["html", "json"], default="html",
            help="html = pre-parsed spans; json = S7 JSON-API bodies parsed in-plan",
        )
        c.add_argument(
            "--robots-file", dest="robots_file", default=None,
            help="parquet (or JSON-lines) of (host, robots_txt) bodies: "
                 "Crawl-delay lines become the per-host budgets relation "
                 "and Allow/Disallow lines the robots rules relation "
                 "(politeness.robots_relations); the path is persisted so "
                 "resume reloads both automatically",
        )
        if name == "resume-crawl":
            c.add_argument(
                "--from-round", dest="from_round", type=int, default=None,
                help="deliberately rewind: drop rounds > k, re-run from k+1 "
                     "(App.scala:39-43 stage override analog)",
            )
    d = sub.add_parser("dq")
    d.add_argument("root")
    d.add_argument(
        "--current", action="store_true",
        help="run the DQ workload over latest-version views (after a "
             "changed recrawl, history duplicates would skew the rates); "
             "crawl-log-grain queries (liveness) keep the full history",
    )
    rc = sub.add_parser(
        "recrawl",
        help="stage the change-rate revisit due set (Cho & Garcia-Molina) and "
             "run refetch rounds; config replays from the store's config.json",
    )
    rc.add_argument("root")
    rc.add_argument("--max-rounds", type=int, default=10)
    rc.add_argument("--now-round", dest="now_round", type=int, default=None,
                    help="policy clock (default: latest committed round + 1)")
    rc.add_argument("--min-interval", dest="min_interval", type=int, default=1)
    rc.add_argument("--max-interval", dest="max_interval", type=int, default=64)
    rc.add_argument("--bootstrap-interval", dest="bootstrap_interval", type=int, default=4)
    rc.add_argument(
        "--revalidate", action="store_true",
        help="send If-None-Match with each due refetch (content-addressed "
             "validators derived from the store); unchanged pages answer "
             "304 — re-seen and budget-charged, nothing re-parsed or "
             "re-extracted (operators/revalidate.py)",
    )
    rr = sub.add_parser(
        "retry-errors",
        help="stage transient-error retries (exponential backoff over the "
             "quarantine: 408/429/5xx/598/599 under --max-attempts) and run "
             "refetch rounds; config replays from the store's config.json",
    )
    rr.add_argument("root")
    rr.add_argument("--max-rounds", type=int, default=10)
    rr.add_argument("--now-round", dest="now_round", type=int, default=None,
                    help="policy clock (default: latest committed round + 1)")
    rr.add_argument("--max-attempts", dest="max_attempts", type=int, default=4)
    rr.add_argument("--backoff-base", dest="backoff_base", type=int, default=2)
    rr.add_argument("--max-backoff", dest="max_backoff", type=int, default=64)
    an = sub.add_parser(
        "analyze",
        help="training-data analysis over the crawl's CURRENT corpus: "
             "per-doc language/quality/token metrics, exact-duplicate "
             "groups, MinHash+LSH verified near-dups; tables written under "
             "<root>/analysis",
    )
    an.add_argument("root")
    an.add_argument("--out", default=None, help="output dir (default <root>/analysis)")
    an.add_argument("--near-dup-threshold", dest="near_dup_threshold",
                    type=float, default=0.7)
    an.add_argument(
        "--warc", default=None,
        help="analyze a WARC archive (sources/warc.read_warc) instead of "
             "the store's current corpus; <root> still anchors the default "
             "output dir",
    )
    k = sub.add_parser(
        "compact",
        help="compact url_seen (full hash-clustered rewrite) and documents "
             "(tiered) through the latest round, as the round loop does",
    )
    k.add_argument("root")
    k.add_argument("--tables", nargs="+", choices=list(_COMPACTION),
                   default=list(_COMPACTION))
    k.add_argument("--buckets", type=int, default=32)
    e = sub.add_parser("export")
    e.add_argument("root")
    e.add_argument("--out", default=None, help="output dir (default <root>/final)")
    e.add_argument("--format", dest="fmt", choices=["parquet", "csv", "sqlite", "warc"], default="parquet",
                   help="warc archives the crawled documents as WARC/1.0 "
                        "resource records (ISO 28500), dated from the "
                        "store's commit timestamp")
    e.add_argument(
        "--current", action="store_true",
        help="export latest-version views (one current row set per entity) "
             "instead of the full append-only history — the difference "
             "matters after a recrawl whose content changed",
    )
    g = sub.add_parser("gc", help="expire old compaction snapshots and delete unreferenced data dirs "
                                  "(Iceberg expire_snapshots + remove_orphan_files analog; run offline)")
    g.add_argument("root")
    g.add_argument("--keep-compactions", dest="keep_compactions", type=int, default=1,
                   help="newest compaction manifests to retain per table (rewind fallback targets)")
    g.add_argument("--dry-run", dest="dry_run", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    try:
        return _run(args)
    except CliError as e:
        print(json.dumps({"error": str(e)}))
        return 2


def _run(args: argparse.Namespace) -> int:
    if args.cmd in ("gc", "compact", "export", "dq", "resume-crawl", "recrawl",
                    "retry-errors", "analyze"):
        # these operate on an EXISTING store; constructing one would mkdir
        # a skeleton at a mistyped path and report clean-looking empty
        # results — refuse pre-JVM instead (new-/stream-crawl create)
        if not (Path(args.root) / "manifests").is_dir():
            raise CliError(f"not a snapshot store (no manifests dir): {args.root}")

    if args.cmd == "gc":
        # pure filesystem maintenance — no SparkSession needed
        import re as _re

        store = SnapshotStore(None, args.root)
        tables = sorted({
            m.group(1)
            for pth in (store.root / "manifests").glob("compact-*.json")
            if (m := _re.match(r"compact-(.+)-(\d+)\.json$", pth.name))
        })
        expired = {
            t: store.expire_compactions(
                t, keep_last=args.keep_compactions, dry_run=args.dry_run
            )
            for t in tables
        }
        # on dry-run the expired manifests are still on disk: pass them so
        # the orphan preview matches what the real gc would delete
        removed = store.remove_orphans(
            dry_run=args.dry_run,
            pending_expiry={(t, k) for t, ks in expired.items() for k in ks},
        )
        print(json.dumps({"expired": expired, "orphans_removed": removed, "dry_run": args.dry_run}))
        return 0

    if getattr(args, "robots_file", None):
        # persisted + replayed across resumes: store the absolute path, or
        # a cron/other-cwd resume cannot find a relative one
        args.robots_file = os.path.abspath(args.robots_file)

    # refusals that need no JVM
    flag_cfg = None
    if args.cmd in ("new-crawl", "stream-crawl"):
        if args.bootstrap_robots and args.cmd == "stream-crawl":
            # silently ignoring the flag would crawl without the politeness
            # the user asked the site for
            raise CliError("--bootstrap-robots is new-crawl only; stream-crawl "
                           "takes --robots-file (the relation forms are "
                           "CrawlEngine.budgets_df/rules_df)")
        if args.bootstrap_robots and args.robots_file:
            raise CliError("--bootstrap-robots fetches robots from the site "
                           "itself; it conflicts with --robots-file")
        if args.cmd == "stream-crawl" and os.path.isdir(os.path.join(args.root, "_commits")):
            # the old stream layout (per-batch dirs + _commits markers): its
            # _checkpoint offsets would map old batch ids onto new rounds
            raise CliError(f"{args.root} is an old-layout stream root (_commits/ "
                           "markers, per-batch dirs); stream-crawl now writes a "
                           "snapshot store: start a new root")
        with _refusals():  # bad flag values, e.g. --rate 0
            flag_cfg = _flag_config(args)
    if args.cmd == "recrawl" and not (1 <= args.min_interval <= args.max_interval):
        raise CliError("need 1 <= --min-interval <= --max-interval")
    if args.cmd in ("resume-crawl", "recrawl", "retry-errors"):
        persisted = _persisted_config(args.root)

    spark = get_spark(app_name=f"gepris-{args.cmd}")
    store = SnapshotStore(spark, args.root)

    if args.cmd == "new-crawl":
        engine = _create_crawl(spark, store, flag_cfg)
        with _refusals():
            if args.bootstrap_robots:
                # open-web startup: robots -> budgets + rules relations and
                # a sitemap-seeded round-0 frontier, all from the site's
                # own metadata endpoints
                print(json.dumps({"bootstrap": engine.bootstrap_from_robots()}))
            return _print_counters(engine.run(max_rounds=args.max_rounds))

    if args.cmd == "stream-crawl":
        # crawl-as-stream: each micro-batch of the self-feeding frontier
        # stream runs one engine round; a re-run is the stream's resume.
        # The first run persists its flags like new-crawl; so does the
        # first run over a root written before the stream kept a
        # config.json (none, or one holding only robots_file) — that run
        # crawls the site its flags describe, as every run of it did.
        from ba_gepris_crawler_spark.streaming.crawl_stream import StreamingCrawl

        persisted = _load_config(store) or {}
        if "site" in persisted:
            engine = _open_crawl(spark, store, persisted, args.robots_file)
        else:
            engine = _create_crawl(spark, store, {
                **flag_cfg, "robots_file": args.robots_file or persisted.get("robots_file"),
            })
        sc = StreamingCrawl(engine)
        if sc.needs_seed():
            sc.seed()
        waves = sc.drain(max_waves=args.max_rounds)
        latest = store.manifest(store.latest_round())["counters"]
        print(json.dumps({"waves": waves, "seen_total": latest["seen_total"]}))
        return 0

    if args.cmd == "resume-crawl":
        engine = _open_crawl(spark, store, persisted, args.robots_file)
        if args.from_round is not None:
            dropped = store.truncate_after(args.from_round)
            print(json.dumps({"rewound_to": args.from_round, "dropped_rounds": dropped}))
        with _refusals():
            return _print_counters(engine.resume(max_rounds=args.max_rounds))

    if args.cmd == "recrawl":
        engine = _open_crawl(spark, store, persisted)
        # per-invocation choice, not persisted config: validators are
        # derived state, and a later plain recrawl must not inherit it
        engine.s.revalidate = args.revalidate
        n = engine.enqueue_recrawl(
            now_round=args.now_round,
            min_interval=args.min_interval,
            max_interval=args.max_interval,
            bootstrap_interval=args.bootstrap_interval,
        )
        print(json.dumps({"recrawl_enqueued": n}))
        with _refusals():
            return _print_counters(engine.resume(max_rounds=args.max_rounds) if n else [])

    if args.cmd == "retry-errors":
        engine = _open_crawl(spark, store, persisted)
        with _refusals():
            n = engine.enqueue_error_retries(
                now_round=args.now_round,
                max_attempts=args.max_attempts,
                backoff_base=args.backoff_base,
                max_backoff=args.max_backoff,
            )
            print(json.dumps({"retries_enqueued": n}))
            return _print_counters(engine.resume(max_rounds=args.max_rounds) if n else [])

    if args.cmd == "analyze":
        from ba_gepris_crawler_spark.plans.analysis import analysis_tables
        from ba_gepris_crawler_spark.plans.round_loop import current_tables

        if args.warc:
            from ba_gepris_crawler_spark.sources.warc import read_warc

            docs = read_warc(spark, args.warc).filter("spans is not null")
        else:
            with _refusals():  # compacted typed table: provenance gone
                docs = current_tables(store).get("documents")
            if docs is None:
                raise CliError("no committed documents to analyze")
        out_dir = args.out or f"{args.root}/analysis"
        tables = analysis_tables(docs, near_dup_threshold=args.near_dup_threshold)
        counts = {}
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
            counts[name] = spark.read.parquet(f"{out_dir}/{name}").count()
        print(json.dumps({"out": out_dir, "tables": counts}))
        return 0

    if args.cmd == "compact":
        # offline compaction with the round loop's per-table policy
        # (_COMPACTION) — at any round, not only every compact_every-th
        upto = store.latest_round()
        out = {}
        if upto is not None:
            for t in args.tables:
                method, key = _COMPACTION[t]
                m = getattr(store, method)(t, upto, key_col=key, n_buckets=args.buckets)
                if not m.get("empty"):
                    out[t] = {"upto": m["upto"], "rows": m["rows"]}
        print(json.dumps({"compacted": out}))
        return 0

    if args.cmd == "export":
        from ba_gepris_crawler_spark.plans.export import export_tables

        out_dir = args.out or f"{args.root}/final"
        if args.current:
            from ba_gepris_crawler_spark.plans.round_loop import current_tables

            # a typed table compacted offline lost its per-dir round
            # provenance: current_tables refuses it
            with _refusals():
                tables = current_tables(store)
        else:
            tables = published_tables(store)
        if args.fmt == "warc":
            if store.latest_round() is None or "documents" not in tables:
                raise CliError("no committed documents to archive "
                               "(store has no completed round)")
            from datetime import datetime, timezone

            from ba_gepris_crawler_spark.plans.export import export_warc

            # WARC-Date from the store's commit clock: exports stay a pure
            # function of store state (byte-identical re-exports)
            ts = store.manifest(store.latest_round()).get("committed_at", 0.0)
            date_iso = datetime.fromtimestamp(float(ts), tz=timezone.utc).strftime(
                "%Y-%m-%dT%H:%M:%SZ"
            )
            n = export_warc(tables["documents"], f"{out_dir}/documents.warc", date_iso)
            print(json.dumps({"out": out_dir, "format": "warc",
                              "warc_date": date_iso, "tables": {"documents": n}}))
            return 0
        counts = export_tables(tables, out_dir, fmt=args.fmt)
        print(json.dumps({"out": out_dir, "format": args.fmt, "tables": counts}))
        return 0

    tables = published_tables(store)
    if args.current:
        # overlay: entity tables resolve to their newest version; the
        # crawl-log views (url_seen/trace/fetch_errors) stay full-history
        # — liveness is a statement about fetches, not entities
        from ba_gepris_crawler_spark.plans.round_loop import current_tables

        with _refusals():  # compacted typed table: provenance gone
            tables = {**tables, **current_tables(store)}
    results = dq.run_all(spark, tables, official_subject_areas(spark))
    for name, df in results.items():
        for row in df.limit(20).collect():
            # pure JSON lines (default=str covers dates); row data nested
            # under "row" so a result column literally named "query" can
            # never clobber the query-name key
            print(json.dumps({"query": name, "row": row.asDict()}, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
