#!/usr/bin/env python
"""Benchmark harness. Prints ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <sf>, ...extras}

Two workloads:
1. crawl_bench — the headline BASELINE.json metric: sustained crawl
   throughput (pages/sec) + frontier-dedup rate, on a deterministic
   bench-tier synthetic site (~45k pages across 16 hosts) crawled by the
   full engine (frontier anti-join + bloom gate + politeness + Arrow fetch
   + snapshot commits). Extraction runs as its own timed entry.
2. headline driver queries at $SPARK_GRAFT_SF_DIR (default sf0.1),
   each timed to completion via a noop write.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_BENCH_PAGES (approx page count for the crawl bench, default
45000; the two-parallelism scaling run uses the same value at local[8] and
local[32] — see BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    approx_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "45000"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    from ba_gepris_crawler_spark.functions import extraction as X
    from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
    from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
    from ba_gepris_crawler_spark.plans.driver_queries import REGISTRY
    from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings
    from ba_gepris_crawler_spark.session import get_spark
    from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

    # Partition layout (shuffle partitions, host buckets) is pinned to 32 at
    # every parallelism level: the two-cluster-size scaling comparison must
    # vary ONLY the executor count, and politeness budgets are partition-
    # count-invariant by design (SURVEY.md §7.4 risk 5).
    #
    # SPARK_GRAFT_EXECUTORS=n -> local-cluster[n,8,mem]: n REAL executor
    # JVMs (own heap, GC, python workers) on this machine — the sandbox
    # proxy for an n-executor cluster, used for the N-vs-4N scaling
    # evidence in BENCH/BASELINE.md. Plain local[k] shares one JVM across
    # all task slots and mismeasures scaling (allocator/GC contention).
    execs = os.environ.get("SPARK_GRAFT_EXECUTORS")
    if execs:
        import pyspark

        os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
        mem_mb = int(os.environ.get("SPARK_GRAFT_EXEC_MEM_MB", "6144"))
        exec_cores = int(os.environ.get("SPARK_GRAFT_EXEC_CORES", "2"))
        spark = get_spark(
            master=f"local-cluster[{int(execs)},{exec_cores},{mem_mb}]",
            shuffle_partitions=32,
            app_name="bench",
            extra_conf={
                "spark.executorEnv.PYTHONPATH": "/root/repo",
                # cgroup-CPU-limit analog: size each executor JVM's internal
                # pools (GC etc.) for its core share, like YARN/K8s do
                "spark.executor.extraJavaOptions": f"-XX:ActiveProcessorCount={exec_cores}",
            },
        )
        extras_cluster = {"executors": int(execs), "cores_per_executor": exec_cores}
    else:
        spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=32, app_name="bench")
        extras_cluster = {}
    crawl_only = os.environ.get("SPARK_GRAFT_CRAWL_ONLY") == "1"

    queries: dict[str, float] = {}
    extras: dict[str, object] = {"cpus": cpus, **extras_cluster}

    # ---------------- 0. steady-state scaling round ----------------
    # SPARK_GRAFT_STEADY=1: one BIG engine round over a pre-seeded frontier
    # (30% already seen). This is the 10^10-URL-frontier regime in miniature:
    # at that scale every round is huge and per-round fixed cost amortizes
    # away, so sustained throughput == steady-round throughput. This is the
    # configuration the two-parallelism scaling-efficiency evidence uses
    # (BENCH/BASELINE.md); the multi-round crawl below measures end-to-end
    # ramp-up instead.
    if os.environ.get("SPARK_GRAFT_STEADY") == "1":
        from pyspark.sql import functions as F

        from ba_gepris_crawler_spark.schema import URL_SEEN_SCHEMA  # noqa: F401

        spark_f = F
        n_pages = approx_pages
        n_proj = int(n_pages * 0.65)
        n_pers = int(n_pages * 0.25)
        n_inst = n_pages - n_proj - n_pers
        site = SiteConfig(
            hosts=tuple(f"h{i:02d}.gepris.example.org" for i in range(16)),
            n_projects=n_proj, n_persons=n_pers, n_institutions=n_inst,
            hits_per_page=50, seed=42,
            page_weight=int(os.environ.get("SPARK_GRAFT_PAGE_WEIGHT", "8")),
        )
        work = tempfile.mkdtemp(prefix="bench_steady_")
        try:
            store = SnapshotStore(spark, work)

            def detail_urls(rtype: str, urltype: str, base: int, n: int):
                return (
                    spark.range(n)
                    .select((spark_f.lit(base) + spark_f.col("id")).cast("string").alias("resource_id"))
                    .select(
                        "resource_id",
                        spark_f.format_string(
                            "https://h%02d.gepris.example.org/gepris/" + urltype + "/%s?language=en",
                            (spark_f.col("resource_id").cast("long") % 16).cast("int"),
                            "resource_id",
                        ).alias("url"),
                        spark_f.lit(rtype).alias("resource_type"),
                    )
                )

            frontier = (
                detail_urls("project", "projekt", 100000, n_proj)
                .unionByName(detail_urls("person", "person", 200000, n_pers))
                .unionByName(detail_urls("institution", "institution", 300000, n_inst))
                .select(
                    "url",
                    spark_f.regexp_extract("url", "^https://([^/]*)/", 1).alias("host"),
                    "resource_type",
                    "resource_id",
                    spark_f.lit(1).cast("int").alias("crawl_depth"),
                    spark_f.lit(1).cast("int").alias("priority"),
                    spark_f.lit(0).cast("int").alias("discovered_round"),
                )
            )
            seen = (
                frontier.filter(spark_f.col("resource_id").cast("long") % 10 < 3)
                .select(
                    spark_f.xxhash64("url").alias("url_hash"),
                    "url",
                    spark_f.lit(0).cast("int").alias("round"),
                    spark_f.col("resource_id").cast("long").alias("seq"),
                    spark_f.lit(200).cast("int").alias("status"),
                    "host",
                )
            )
            t_seen = store.write_table("url_seen", 0, seen)
            t_frontier = store.write_table("frontier", 0, frontier)
            store.commit(0, {"url_seen": t_seen, "frontier": t_frontier},
                         {"round": 0, "seen_total": t_seen, "frontier_next": t_frontier, "done": False})
            # SPARK_GRAFT_FETCH_ONLY=1: time ONLY the fetch stage (politeness
            # schedule -> Arrow fetch UDF -> noop sink), skipping the nested
            # parquet encode and the join/write stages. On a real cluster the
            # fetch stage is the one that gets dedicated per-node memory
            # bandwidth + NIC; its isolated N-vs-4N efficiency is the
            # sharpest scaling signal this one-machine sandbox can produce
            # (see BENCH/BASELINE.md).
            if os.environ.get("SPARK_GRAFT_FETCH_ONLY") == "1":
                from ba_gepris_crawler_spark.operators.fetch import fetch_pages
                from ba_gepris_crawler_spark.operators.politeness import schedule_round

                cfgp = PolitenessConfig(
                    per_host_rate=float(n_pages), round_seconds=1.0, max_in_flight=10
                )
                cand = spark.read.parquet(str(store.table_path("frontier", 0)))
                fetch_now, _def = schedule_round(cand, cfgp, n_buckets=32)
                fetch_now = fetch_now.localCheckpoint(eager=True)  # pre-materialize the schedule
                n_sched = fetch_now.count()
                t0 = time.time()
                # measured through SPAN MATERIALIZATION: fetch_pages returns
                # parsed spans, not just the raw string ship
                fetched = fetch_pages(fetch_now, site, 32)
                fetched.write.format("noop").mode("overwrite").save()
                fetch_sec = time.time() - t0
                queries["fetch_only"] = round(fetch_sec, 3)
                extras["fetch_pages"] = n_sched
                extras["fetch_pages_per_sec"] = round(n_sched / fetch_sec, 1)
                # value is SECONDS (unit: sec); the throughput lives in
                # fetch_pages_per_sec — the metric name must not imply
                # value is a rate (review regression)
                print(json.dumps({
                    "metric": "fetch_only_sec", "value": queries["fetch_only"],
                    "unit": "sec", "queries": queries, "sf": sf, **extras,
                }))
                return
            settings = CrawlSettings(
                n_buckets=32,
                politeness=PolitenessConfig(per_host_rate=float(n_pages), round_seconds=1.0, max_in_flight=10),
                bloom_fpp=0.01, extract=False,
                # html = pages parsed on the fetch worker; json = raw
                # JSON-API bodies. Both ship one body string per page out of
                # the UDF, spans assembled JVM-side via from_json (byte-equal
                # output)
                fetch_format=os.environ.get("SPARK_GRAFT_FETCH_FORMAT", "html"),
            )
            engine = CrawlEngine(spark, site, store, settings)
            t0 = time.time()
            m = engine.run_round(1)
            steady_sec = time.time() - t0
            fetched = m["counters"]["fetched"]
            queries["steady_round"] = round(steady_sec, 3)
            extras["steady_pages_fetched"] = fetched
            extras["steady_pages_per_sec"] = round(fetched / steady_sec, 1)
            extras["steady_frontier"] = t_frontier
            extras["steady_dedup_rate"] = round(1.0 - fetched / max(t_frontier, 1), 4)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(json.dumps({
            "metric": "steady_round_pages_per_sec", "value": queries["steady_round"],
            "unit": "sec", "queries": queries, "sf": sf, **extras,
        }))
        return

    # ---------------- 1. crawl bench ----------------
    n_projects = int(approx_pages * 30 / 46)
    site = SiteConfig(
        hosts=tuple(f"h{i:02d}.gepris.example.org" for i in range(16)),
        n_projects=n_projects,
        n_persons=int(n_projects * 0.4),
        n_institutions=int(n_projects * 0.1),
        hits_per_page=50,
        seed=42,
        page_weight=int(os.environ.get("SPARK_GRAFT_PAGE_WEIGHT", "8")),
    )
    settings = CrawlSettings(
        n_buckets=32,
        politeness=PolitenessConfig(per_host_rate=8000, round_seconds=1.0, max_in_flight=10),
        bloom_fpp=0.01,
        extract=False,
    )
    # Warm the session BEFORE the timer: first-job costs (executor task
    # deserialization JIT, whole-stage codegen compile, Python/Arrow
    # worker pool fork) are one-time per cluster, not per crawl — the
    # headline metric is SUSTAINED pages/sec. The warmup touches the
    # same machinery (shuffle + a mapInPandas round-trip), no bench data.
    from pyspark.sql import functions as _F
    (spark.range(10000).repartition(8, "id")
         .groupBy((_F.col("id") % 8).alias("g")).count()
         .mapInPandas(lambda it: it, schema="g bigint, count bigint")
         .write.format("noop").mode("overwrite").save())
    # Best-of-2 for the crawl/extract STAGES too (round-3 verdict #4): the
    # sandbox's sporadic ~40 s stall previously landed in the recorded
    # single-run extract number and read as a 6x regression. Each crawl rep
    # runs in a fresh store; min() keeps the undisturbed measurement and a
    # large rep spread is annotated instead of silently averaged.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    crawl_secs: list[float] = []
    extract_secs: list[float] = []
    stall_notes: dict[str, list[float]] = {}
    fetched = discovered = n_rounds = 0
    for rep in range(reps):
        work = tempfile.mkdtemp(prefix="bench_crawl_")
        try:
            store = SnapshotStore(spark, work)
            t0 = time.time()
            manifests = CrawlEngine(spark, site, store, settings).run(max_rounds=12)
            crawl_secs.append(time.time() - t0)
            # the site is deterministic: counters agree across reps
            fetched = sum(m["counters"].get("fetched", 0) for m in manifests)
            discovered = sum(m["counters"].get("discovered_raw", 0) for m in manifests)
            n_rounds = len(manifests)
            if rep == reps - 1:
                # extraction throughput over the crawled corpus (stage-2
                # analog), measured `reps` times on the final store
                docs = store.read_union("documents", store.latest_round())
                base = docs.filter("status = 200 and resource_id is not null")
                for _ in range(reps):
                    t0 = time.time()
                    d = X.prepare_details(base).persist()
                    for out in (X.eav(d), X.projects(d), X.persons(d), X.institutions(d)):
                        out.write.format("noop").mode("overwrite").save()
                    extract_secs.append(time.time() - t0)
                    d.unpersist()
                # revalidated recrawl cycle (round-5 feature): every page
                # due, nothing changed -> all 304s. Times the whole
                # conditional path: history scan + validator staging +
                # If-None-Match fetch + committed round. The page cost is
                # a hash compare instead of body+parse+extract — the
                # number to compare against crawl_pages_per_sec.
                from dataclasses import replace as _dc_replace

                reng = CrawlEngine(
                    spark, site, store, _dc_replace(settings, revalidate=True)
                )
                t0 = time.time()
                n_due = reng.enqueue_recrawl(now_round=store.latest_round() + 100)
                rm = reng.run_round(store.latest_round() + 1)
                reval_sec = time.time() - t0
                queries["crawl_revalidate_cycle"] = round(reval_sec, 3)
                n_reval = rm["counters"].get("revalidated", 0)
                extras["revalidate_due"] = n_due
                extras["revalidated_pages"] = n_reval
                extras["revalidated_pages_per_sec"] = round(n_reval / max(reval_sec, 1e-9), 1)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    crawl_sec, extract_sec = min(crawl_secs), min(extract_secs)
    # annotate a large rep spread (sandbox stall or residual warmup in
    # rep 1) instead of letting a single disturbed run stand as the number
    for stage, runs in (("crawl_pages", crawl_secs), ("extract_typed_eav", extract_secs)):
        if max(runs) > 1.5 * min(runs):
            stall_notes[stage] = [round(r, 3) for r in runs]
    queries["crawl_pages"] = round(crawl_sec, 3)
    extras["crawl_pages_fetched"] = fetched
    extras["crawl_pages_per_sec"] = round(fetched / crawl_sec, 1)
    extras["crawl_rounds"] = n_rounds
    extras["frontier_dedup_rate"] = round(1.0 - fetched / max(discovered, 1), 4)
    queries["extract_typed_eav"] = round(extract_sec, 3)
    extras["extract_pages_per_sec"] = round(fetched / extract_sec, 1)
    if stall_notes:
        extras["stage_rep_spread"] = stall_notes

    # ---------------- 2. headline driver queries ----------------
    bench_queries = [] if crawl_only else [
        "crawl_frontier_anti_join",
        "crawl_funding_term_cascade",
        "tpch_q1_pricing_summary",
        "tpch_q3_top10_revenue",
        "tpch_top_customers_per_nation",
        "dedup_exact",
        "dedup_minhash_lsh",
        "emb_cosine_topk",
        "text_quality_score",
        "events_sessionize",
    ]
    for name in bench_queries:
        fn, _ = REGISTRY[name]
        # best-of-2: the sandbox's sporadic ~40 s stall (BENCH/BASELINE.md)
        # can land in any single run and would dominate a sub-second query;
        # min() keeps the undisturbed measurement. Labeled in the output —
        # BENCH_r01/r02 query timings were single-run.
        runs = []
        for _ in range(2):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            # queries that persist intermediates (dedup_minhash_lsh's token
            # table) would otherwise leak executor storage across the suite
            spark.catalog.clearCache()
        queries[name] = round(min(runs), 3)
    extras["timing"] = f"queries=best_of_2_min; crawl/extract=best_of_{reps}_min"

    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "crawl_pages_per_sec+query_suite",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": sf,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
