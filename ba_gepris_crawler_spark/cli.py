"""spark-submit entry point — the reference's scopt CLI re-expressed
(App.scala:16-67): new-crawl / resume-crawl / dq / export.

Deploy (spark-submit takes a primary FILE, it has no -m module flag):
  spark-submit --py-files ba_gepris_crawler_spark.zip ba_gepris_crawler_spark/cli.py new-crawl /data/crawl1
or locally:
  python -m ba_gepris_crawler_spark.cli new-crawl /tmp/crawl1 --hosts 4 --projects 1000

Unlike the reference (stage-directory heuristics, GeprisCrawler.scala:31-38)
resume is manifest-driven and deterministic mid-round.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import asdict

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


def _site(args: argparse.Namespace) -> SiteConfig:
    return SiteConfig(
        hosts=tuple(f"h{i:02d}.gepris.example.org" for i in range(args.hosts)),
        n_projects=args.projects,
        n_persons=int(args.projects * 0.4),
        n_institutions=max(int(args.projects * 0.1), 1),
        hits_per_page=50,
        seed=args.seed,
        error_mod=getattr(args, "error_mod", 0),
    )


def _settings(args: argparse.Namespace) -> CrawlSettings:
    return CrawlSettings(
        n_buckets=args.buckets,
        politeness=PolitenessConfig(
            per_host_rate=args.rate,
            round_seconds=getattr(args, "round_seconds", 1.0),
            max_in_flight=args.in_flight,
        ),
        fetch_format=getattr(args, "fetch_format", "html"),
        circuit_breaker={} if getattr(args, "circuit_breaker", False) else None,
    )


def _rebuild_from_config(
    cfg: dict, fallback: CrawlSettings | None = None
) -> tuple[SiteConfig, CrawlSettings]:
    """Persisted config.json -> (site, settings). A crawl folder is
    self-describing: replaying anything else would 404 every frontier URL
    and poison the seen set. Raises ValueError/TypeError/KeyError on a
    hand-edited/corrupt config (callers map to the JSON-error contract)."""
    fb = fallback or CrawlSettings()
    sc = dict(cfg["site"])
    sc["hosts"] = tuple(sc["hosts"])
    sc["disallow"] = tuple(tuple(x) for x in sc.get("disallow", ()))
    site = SiteConfig(**{k: v for k, v in sc.items() if k in SiteConfig.__dataclass_fields__})
    pol = dict(cfg["politeness"])
    pol["disallow"] = tuple(tuple(x) for x in pol.get("disallow", ()))
    pol["host_rates"] = tuple(tuple(x) for x in pol.get("host_rates", ()))
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


def main(argv: list[str] | None = None) -> int:
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
                 "Crawl-delay budgets join the scheduler as a RELATION "
                 "(crawl_delay_budgets -> budgets_df) — the web-scale "
                 "politeness path; the path is persisted so resume "
                 "reloads it automatically",
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
    k = sub.add_parser("compact", help="merge delta dirs of the given tables into hash-clustered snapshots")
    k.add_argument("root")
    k.add_argument("--tables", nargs="+", default=["url_seen", "documents"])
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
    args = p.parse_args(argv)

    if args.cmd in ("gc", "compact", "export", "dq", "resume-crawl", "recrawl",
                    "retry-errors", "analyze"):
        # these operate on an EXISTING store; constructing one would mkdir
        # a skeleton at a mistyped path and report clean-looking empty
        # results — refuse pre-JVM instead (new-/stream-crawl create)
        from pathlib import Path as _P

        if not (_P(args.root) / "manifests").is_dir():
            print(json.dumps({"error": f"not a snapshot store (no manifests dir): {args.root}"}))
            return 2

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

    if args.cmd == "stream-crawl" and getattr(args, "bootstrap_robots", False):
        # silently ignoring the flag would crawl without the politeness
        # the user asked the site for — refuse pre-JVM instead
        print(json.dumps({"error": "--bootstrap-robots is new-crawl only; "
                                   "stream-crawl takes --robots-file (the relation "
                                   "forms are CrawlStream.budgets_df/rules_df)"}))
        return 2

    site = settings = None
    if args.cmd in ("new-crawl", "resume-crawl", "stream-crawl"):
        try:
            site, settings = _site(args), _settings(args)
        except ValueError as e:
            # bad flag values (e.g. --rate 0): JSON error + exit 2 before
            # paying JVM startup, matching the CLI's other validations
            print(json.dumps({"error": str(e)}))
            return 2

    spark = get_spark(app_name=f"gepris-{args.cmd}")

    def _budgets_from(path: str | None):
        """(host, robots_txt) file -> budgets relation, or None. Errors
        follow the CLI's JSON-error contract (raised as ValueError).
        Reads parquet first (a parquet DIRECTORY rarely ends in
        .parquet), falling back to JSON-lines; columns are cast to
        string so a mis-typed field fails here, not as a Py4J traceback
        deep inside a fetch round."""
        if not path:
            return None
        from pyspark.sql import functions as F

        from ba_gepris_crawler_spark.operators.politeness import crawl_delay_budgets

        try:
            bodies = spark.read.parquet(path)
        except Exception:
            try:
                bodies = spark.read.json(path)
            except Exception as e:  # missing/corrupt file -> clean CLI error
                raise ValueError(f"cannot read --robots-file {path}: {e}") from None
        missing = {"host", "robots_txt"} - set(bodies.columns)
        if missing:
            raise ValueError(f"--robots-file {path} lacks columns {sorted(missing)}")
        bodies = bodies.select(
            F.col("host").cast("string").alias("host"),
            F.col("robots_txt").cast("string").alias("robots_txt"),
        )
        return crawl_delay_budgets(bodies, settings.politeness)

    if getattr(args, "robots_file", None):
        # persisted + replayed across resumes: store the absolute path, or
        # a cron/other-cwd resume cannot find a relative one
        args.robots_file = os.path.abspath(args.robots_file)

    if args.cmd == "stream-crawl":
        # crawl-as-stream: the self-feeding Structured Streaming frontier
        # (resumable: re-running drains whatever is left; committed
        # micro-batches replay as no-ops)
        from pathlib import Path

        from ba_gepris_crawler_spark.streaming.crawl_stream import StreamingCrawl

        # the stream root carries a config.json for the robots-file path
        # (like the batch store): a flag-less RE-RUN — the stream's resume
        # path — must keep the same politeness relation, not silently drop
        # it; a resume-time override is persisted so later re-runs keep it
        stream_cfg_path = Path(args.root) / "config.json"
        if not args.robots_file and stream_cfg_path.exists():
            try:
                args.robots_file = json.loads(stream_cfg_path.read_text()).get("robots_file")
            except ValueError as e:
                print(json.dumps({"error": f"invalid persisted config: {e}"}))
                return 2
        try:
            stream_budgets = _budgets_from(args.robots_file)
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 2
        Path(args.root).mkdir(parents=True, exist_ok=True)
        persisted = {}
        if stream_cfg_path.exists():
            try:
                persisted = json.loads(stream_cfg_path.read_text())
            except ValueError:
                persisted = {}
        if persisted.get("robots_file") != args.robots_file:
            stream_cfg_path.write_text(
                json.dumps({**persisted, "robots_file": args.robots_file})
            )
        sc = StreamingCrawl(
            spark, site, args.root, politeness=settings.politeness,
            n_buckets=settings.n_buckets, fetch_format=settings.fetch_format,
            seen_filter="bloom", budgets_df=stream_budgets,
        )
        if sc.needs_seed():
            sc.seed()
        waves = sc.drain(max_waves=args.max_rounds)
        seen = sc.seen()
        print(json.dumps({"waves": waves, "seen_total": 0 if seen is None else seen.count()}))
        return 0

    store = SnapshotStore(spark, args.root)

    if args.cmd in ("new-crawl", "resume-crawl"):
        if args.cmd == "new-crawl":
            try:
                # validate the robots file BEFORE persisting config — a
                # typo'd path must not leave behind a store whose
                # config.json references an unreadable file
                budgets = _budgets_from(args.robots_file)
            except ValueError as e:
                print(json.dumps({"error": str(e)}))
                return 2
            store.save_config(
                {
                    "site": {**asdict(site), "hosts": list(site.hosts)},
                    "politeness": asdict(settings.politeness),
                    "n_buckets": settings.n_buckets,
                    "fetch_format": settings.fetch_format,
                    "circuit_breaker": settings.circuit_breaker,
                    "bootstrap_robots": bool(getattr(args, "bootstrap_robots", False)),
                    "robots_file": args.robots_file,
                }
            )
        else:
            # A crawl folder is self-describing: resume MUST replay the same
            # site + politeness config or every frontier URL turns 404 and
            # poisons the seen set. CLI flags are ignored on resume.
            persist_robots_override: dict | None = None
            try:
                cfg = store.load_config()  # json.JSONDecodeError is a ValueError;
                # OSError covers an unreadable/misrestored config.json
            except (ValueError, OSError) as e:
                print(json.dumps({"error": f"invalid persisted config: {e}"}))
                return 2
            if cfg is not None:
                try:
                    site, settings = _rebuild_from_config(cfg, fallback=settings)
                    if not args.robots_file:
                        # the budgets relation is data, not config — but the
                        # bodies FILE path is replayable; reload it so resume
                        # keeps the same politeness without re-flagging
                        args.robots_file = cfg.get("robots_file")
                    elif args.robots_file != cfg.get("robots_file"):
                        # an explicit resume-time override (e.g. refreshed
                        # crawl-delays) persists: otherwise the NEXT
                        # flag-less resume would silently revert to the
                        # old bodies. Persisted only AFTER _budgets_from
                        # validates below — saving a typo'd path first
                        # would break every later flag-less resume (the
                        # new-crawl path deliberately validates first too).
                        persist_robots_override = cfg
                except (ValueError, TypeError, KeyError) as e:
                    # a hand-edited/corrupt config.json must surface as the
                    # CLI's JSON-error contract, not a raw traceback
                    print(json.dumps({"error": f"invalid persisted config: {e}"}))
                    return 2
            try:
                budgets = _budgets_from(args.robots_file)
            except ValueError as e:
                print(json.dumps({"error": str(e)}))
                return 2
            if persist_robots_override is not None:
                store.save_config(
                    {**persist_robots_override, "robots_file": args.robots_file}
                )
        engine = CrawlEngine(spark, site, store, settings)
        engine.budgets_df = budgets
        if (
            args.cmd == "resume-crawl" and budgets is None
            and cfg is not None and cfg.get("bootstrap_robots")
        ):
            # the original run drew its budgets from the site's own
            # robots.txt (data, not a replayable file path) — re-fetch them
            # the same way so resume keeps identical politeness
            engine.bootstrap_from_robots()
            engine.seed_urls_df = None  # seeds are a round-0 concern only
        try:
            if args.cmd == "new-crawl":
                if getattr(args, "bootstrap_robots", False):
                    if args.robots_file:
                        print(json.dumps({"error": "--bootstrap-robots fetches "
                                                   "robots from the site itself; "
                                                   "it conflicts with --robots-file"}))
                        return 2
                    # open-web startup: robots -> budgets relation +
                    # sitemap-seeded round-0 frontier, all from the site's
                    # own metadata endpoints
                    print(json.dumps({"bootstrap": engine.bootstrap_from_robots()}))
                manifests = engine.run(max_rounds=args.max_rounds)
            else:
                if getattr(args, "from_round", None) is not None:
                    dropped = store.truncate_after(args.from_round)
                    print(json.dumps({"rewound_to": args.from_round, "dropped_rounds": dropped}))
                manifests = engine.resume(max_rounds=args.max_rounds)
        except ValueError as e:
            # engine-level refusals (e.g. resume of a budgets crawl whose
            # relation was set via the Python API and cannot be reloaded
            # from config.json) follow the JSON-error contract too
            print(json.dumps({"error": str(e)}))
            return 2
        for m in manifests:
            print(json.dumps(m["counters"]))
        return 0

    if args.cmd == "recrawl":
        try:
            cfg = store.load_config()
        except (ValueError, OSError) as e:
            print(json.dumps({"error": f"invalid persisted config: {e}"}))
            return 2
        if cfg is None:
            print(json.dumps({"error": "no persisted config.json: recrawl "
                                       "replays the crawl's own site/politeness"}))
            return 2
        try:
            site, settings = _rebuild_from_config(cfg)
            budgets = _budgets_from(cfg.get("robots_file"))
        except (ValueError, TypeError, KeyError) as e:
            print(json.dumps({"error": f"invalid persisted config: {e}"}))
            return 2
        # per-invocation choice, not persisted config: validators are
        # derived state, and a later plain recrawl must not inherit it
        settings.revalidate = bool(args.revalidate)
        engine = CrawlEngine(spark, site, store, settings)
        engine.budgets_df = budgets
        if not (1 <= args.min_interval <= args.max_interval):
            print(json.dumps({"error": "need 1 <= --min-interval <= --max-interval"}))
            return 2
        n = engine.enqueue_recrawl(
            now_round=args.now_round,
            min_interval=args.min_interval,
            max_interval=args.max_interval,
            bootstrap_interval=args.bootstrap_interval,
        )
        print(json.dumps({"recrawl_enqueued": n}))
        if n:
            try:
                manifests = engine.resume(max_rounds=args.max_rounds)
            except ValueError as e:
                # e.g. a budgets relation set via the Python API that
                # config.json cannot reload — same contract as resume-crawl
                print(json.dumps({"error": str(e)}))
                return 2
            for m in manifests:
                print(json.dumps(m["counters"]))
        return 0

    if args.cmd == "retry-errors":
        try:
            cfg = store.load_config()
        except (ValueError, OSError) as e:
            print(json.dumps({"error": f"invalid persisted config: {e}"}))
            return 2
        if cfg is None:
            print(json.dumps({"error": "no persisted config.json: retry-errors "
                                       "replays the crawl's own site/politeness"}))
            return 2
        try:
            site, settings = _rebuild_from_config(cfg)
            budgets = _budgets_from(cfg.get("robots_file"))
        except (ValueError, TypeError, KeyError) as e:
            print(json.dumps({"error": f"invalid persisted config: {e}"}))
            return 2
        engine = CrawlEngine(spark, site, store, settings)
        engine.budgets_df = budgets
        try:
            n = engine.enqueue_error_retries(
                now_round=args.now_round,
                max_attempts=args.max_attempts,
                backoff_base=args.backoff_base,
                max_backoff=args.max_backoff,
            )
        except ValueError as e:
            print(json.dumps({"error": str(e)}))
            return 2
        print(json.dumps({"retries_enqueued": n}))
        if n:
            try:
                manifests = engine.resume(max_rounds=args.max_rounds)
            except ValueError as e:
                print(json.dumps({"error": str(e)}))
                return 2
            for m in manifests:
                print(json.dumps(m["counters"]))
        return 0

    if args.cmd == "analyze":
        from ba_gepris_crawler_spark.plans.analysis import analysis_tables
        from ba_gepris_crawler_spark.plans.round_loop import current_tables

        if args.warc:
            from ba_gepris_crawler_spark.sources.warc import read_warc

            docs = read_warc(spark, args.warc).filter("spans is not null")
        else:
            try:
                cur = current_tables(store)
            except ValueError as e:  # compacted typed table: provenance gone
                print(json.dumps({"error": str(e)}))
                return 2
            if "documents" not in cur:
                print(json.dumps({"error": "no committed documents to analyze"}))
                return 2
            docs = cur["documents"]
        out_dir = args.out or f"{args.root}/analysis"
        tables = analysis_tables(docs, near_dup_threshold=args.near_dup_threshold)
        counts = {}
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(f"{out_dir}/{name}")
            counts[name] = spark.read.parquet(f"{out_dir}/{name}").count()
        print(json.dumps({"out": out_dir, "tables": counts}))
        return 0

    if args.cmd == "compact":
        # offline compaction (the round loop auto-compacts url_seen only;
        # span-heavy documents rewrites are an operator decision)
        keys = {"url_seen": "url", "documents": "doc_id"}
        upto = store.latest_round()
        out = {}
        if upto is not None:
            for t in args.tables:
                df = store.read_union(t, upto)
                if df is None:
                    continue
                m = store.compact(t, upto, key_col=keys.get(t, df.columns[0]), n_buckets=args.buckets)
                out[t] = {"upto": m["upto"], "rows": m["rows"]}
        print(json.dumps({"compacted": out}))
        return 0

    if args.cmd == "export":
        from ba_gepris_crawler_spark.plans.export import export_tables

        out_dir = args.out or f"{args.root}/final"
        if args.current:
            from ba_gepris_crawler_spark.plans.round_loop import current_tables

            try:
                tables = current_tables(store)
            except ValueError as exc:
                # e.g. a typed table was compacted offline — per-dir round
                # provenance is gone; same JSON-error contract as every
                # other CLI failure path
                print(json.dumps({"error": str(exc)}))
                return 2
        else:
            tables = published_tables(store)
        if args.fmt == "warc":
            if store.latest_round() is None or "documents" not in tables:
                print(json.dumps({"error": "no committed documents to archive "
                                           "(store has no completed round)"}))
                return 2
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
    if getattr(args, "current", False):
        # overlay: entity tables resolve to their newest version; the
        # crawl-log views (url_seen/trace/fetch_errors) stay full-history
        # — liveness is a statement about fetches, not entities
        from ba_gepris_crawler_spark.plans.round_loop import current_tables

        try:
            tables = {**tables, **current_tables(store)}
        except ValueError as exc:  # compacted typed table: provenance gone
            print(json.dumps({"error": str(exc)}))
            return 2
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
