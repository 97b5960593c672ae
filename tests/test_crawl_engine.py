"""End-to-end crawl engine vs the golden crawl simulator: URL-seen set
equality, deterministic crawl-order trace equality, quarantine semantics,
and deterministic resume (fresh run == interrupted+resumed run)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ba_gepris_crawler_spark.operators.politeness import PolitenessConfig
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine, CrawlSettings, published_tables
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig
from ba_gepris_crawler_spark.testing.golden_crawl import simulate_crawl

BUDGET = 25  # small budget + small pages => several rounds


@pytest.fixture(scope="module")
def crawl_cfg() -> SiteConfig:
    return SiteConfig(
        hosts=("gepris.example.org", "alt1.example.org", "alt2.example.org"),
        n_projects=30,
        n_persons=18,
        n_institutions=6,
        hits_per_page=7,
        seed=7,
        error_mod=13,  # some detail pages 503 -> quarantine path
    )


def _settings() -> CrawlSettings:
    return CrawlSettings(
        n_buckets=8,
        politeness=PolitenessConfig(per_host_rate=BUDGET, round_seconds=1.0, max_in_flight=5),
        bloom_fpp=0.01,
        extract=False,  # extraction correctness is covered in test_extraction
    )


@pytest.fixture(scope="module")
def run(spark, crawl_cfg, tmp_path_factory):
    store = SnapshotStore(spark, tmp_path_factory.mktemp("crawl"))
    engine = CrawlEngine(spark, crawl_cfg, store, _settings())
    manifests = engine.run(max_rounds=30)
    golden = simulate_crawl(crawl_cfg, per_host_budget=BUDGET, max_rounds=30, n_buckets=8)
    return store, manifests, golden


def test_crawl_converges(run):
    _, manifests, golden = run
    assert manifests[-1]["counters"]["done"]
    # engine needs exactly golden.rounds fetch rounds + 1 empty-done round
    assert len(manifests) == golden.rounds + 1


def test_url_seen_set_matches_golden_exactly(spark, run):
    store, _, golden = run
    seen = store.read_union("url_seen", store.latest_round())
    got = {(r.url, r.round) for r in seen.select("url", "round").collect()}
    want = set(golden.seen.items())
    assert {u for u, _ in got} == set(golden.seen)  # the SET matches exactly
    assert got == want  # and so does the round each url was fetched in


def test_crawl_trace_matches_golden(spark, run):
    store, _, golden = run
    trace = store.read_union("url_seen", store.latest_round()).select("round", "seq", "url")
    got = sorted((r.round, r.seq, r.url) for r in trace.collect())
    assert got == sorted(golden.trace)


def test_errors_quarantined_not_fatal(spark, run, crawl_cfg):
    store, _, golden = run
    log = store.read_union("url_seen", store.latest_round())
    errs = log.filter(F.col("status") != 200)
    got = {(r.url, r.status) for r in errs.collect()}
    want = {(u, st) for (u, st, _r) in golden.errors}
    assert got == want
    assert len(got) > 0  # the trap actually triggered
    # errored urls are seen (never refetched)
    seen_urls = {r.url for r in store.read_union("url_seen", store.latest_round()).collect()}
    assert {u for u, _ in got} <= seen_urls


def test_documents_match_golden_pages(spark, run):
    store, _, golden = run
    # stored layout keeps quarantined non-200 rows; golden pages are the
    # successful fetches (the published-view contract)
    docs = store.read_union("documents", store.latest_round()).filter(F.col("status") == 200)
    got = {r.url: (r.resource_type, r.resource_id, r.crawl_depth, r.round) for r in docs.collect()}
    want = {u: (t[0], t[1], t[2], t[3]) for u, t in golden.docs.items()}
    assert got == want


def test_politeness_budget_never_exceeded(spark, run):
    store, manifests, _ = run
    for m in manifests:
        rnd = m["round"]
        if m["counters"].get("done"):
            continue
        per_host = (
            store.read_union("url_seen", store.latest_round())
            .filter(F.col("round") == rnd)
            .groupBy("host")
            .count()
            .collect()
        )
        assert all(r["count"] <= BUDGET for r in per_host), (rnd, per_host)


def test_resume_is_deterministic(spark, crawl_cfg, tmp_path_factory, run):
    """Fresh full run == run interrupted after 2 rounds then resumed by a
    NEW engine instance (plus a simulated mid-round crash: orphan round-2
    table data without a manifest must be overwritten on resume)."""
    store_b = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_b"))
    engine_b1 = CrawlEngine(spark, crawl_cfg, store_b, _settings())
    engine_b1.run(max_rounds=2)
    assert store_b.latest_round() == 1

    # simulate a crash mid-round-2: data written, no manifest commit
    frontier_orphan = store_b.read_state("frontier", 1).limit(3)
    frontier_orphan.write.mode("overwrite").parquet(str(store_b.table_path("frontier", 2)))

    engine_b2 = CrawlEngine(spark, crawl_cfg, store_b, _settings())
    engine_b2.resume(max_rounds=30)

    store_a, _, _ = run
    a = {tuple(r) for r in store_a.read_union("url_seen", store_a.latest_round()).collect()}
    b = {tuple(r) for r in store_b.read_union("url_seen", store_b.latest_round()).collect()}
    assert a == b  # full crawl log: seen set + trace + statuses


def test_compaction_preserves_seen_set_and_resume(spark, crawl_cfg, tmp_path_factory, run):
    """Crawl with compact_every=2: url_seen reads must flow through the
    compacted base + tail deltas and stay identical to the uncompacted run;
    resume across a compaction boundary stays deterministic; compacted file
    count is bounded by n_buckets (no small-file growth)."""
    store_a, _, _ = run
    store_c = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_c"))
    settings = _settings()
    settings.compact_every = 2
    engine = CrawlEngine(spark, crawl_cfg, store_c, settings)
    engine.run(max_rounds=3)  # rounds 0..2 -> compaction at round 2
    comp = store_c.latest_compaction("url_seen")
    assert comp is not None and comp["upto"] == 2
    from pathlib import Path as _P

    parts = [p for p in _P(comp["path"]).glob("part-*") if p.stat().st_size]
    assert 0 < len(parts) <= settings.n_buckets
    # ADVICE r2 (medium): re-compaction at the same upto with DIFFERENT
    # clustering must rewrite (new qualified dir), not crash on
    # overwrite-while-reading — and reads must follow the new snapshot.
    before = {tuple(r) for r in store_c.read_union("url_seen", 2).collect()}
    comp2 = store_c.compact("url_seen", 2, key_col="url", n_buckets=4)
    assert comp2["path"] != comp["path"] and comp2["n_buckets"] == 4
    parts2 = [p for p in _P(comp2["path"]).glob("part-*") if p.stat().st_size]
    assert 0 < len(parts2) <= 4
    assert {tuple(r) for r in store_c.read_union("url_seen", 2).collect()} == before
    # documents auto-compacted TIERED at round 2: tier dir committed, reads
    # flow through it and stay equal to the uncompacted run
    dcomp = store_c.latest_compaction("documents")
    assert dcomp is not None and dcomp.get("mode") == "tiered" and len(dcomp["paths"]) == 1
    tier1 = _P(dcomp["paths"][0])
    tier1_files = {p.name: p.stat().st_mtime for p in tier1.glob("part-*")}
    assert tier1_files
    docs_c = {
        (r.doc_id, r.round) for r in store_c.read_union("documents", 2).collect()
    }
    docs_a = {
        (r.doc_id, r.round)
        for r in store_a.read_union("documents", store_a.latest_round())
        .filter(F.col("round") <= 2).collect()
    }
    assert docs_c == docs_a
    # resume across the boundary with a fresh engine
    CrawlEngine(spark, crawl_cfg, store_c, settings).resume(max_rounds=30)
    a = {tuple(r) for r in store_a.read_union("url_seen", store_a.latest_round()).collect()}
    c = {tuple(r) for r in store_c.read_union("url_seen", store_c.latest_round()).collect()}
    assert a == c
    # tiers stay a contiguous cover of rounds 0..upto, with row counts
    # strictly decreasing (the logarithmic-method merge collapses any
    # newest tier at least as big as its predecessor), and any superseded
    # tier dir stays immutable on disk — --from-round rewind to the older
    # compaction manifest must still find its tier list.
    dcomp2 = store_c.latest_compaction("documents")
    if dcomp2["upto"] > 2:
        spans = [SnapshotStore._tier_span(p) for p in dcomp2["paths"]]
        assert spans[0][0] == 0 and spans[-1][1] == dcomp2["upto"]
        assert all(spans[i][1] + 1 == spans[i + 1][0] for i in range(len(spans) - 1))
        rows = dcomp2["tier_rows"]
        assert all(rows[i] > rows[i + 1] for i in range(len(rows) - 1))
        assert sum(rows) == dcomp2["rows"]
    assert {p.name: p.stat().st_mtime for p in tier1.glob("part-*")} == tier1_files
    da = {
        tuple(r) for r in store_a.read_union("documents", store_a.latest_round())
        .select("doc_id", "url", "round", "status").collect()
    }
    dc = {
        tuple(r) for r in store_c.read_union("documents", store_c.latest_round())
        .select("doc_id", "url", "round", "status").collect()
    }
    assert da == dc


def test_resume_loads_persisted_bloom(spark, crawl_cfg, tmp_path_factory, run, monkeypatch):
    """A resumed engine must reuse the persisted bloom bitmap (one delta OR)
    instead of rebuilding from the full seen union — and stay golden-equal."""
    import ba_gepris_crawler_spark.operators.url_seen as US_mod

    store_a, _, _ = run
    store_b = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_bloom"))
    CrawlEngine(spark, crawl_cfg, store_b, _settings()).run(max_rounds=2)
    assert store_b.load_bloom(1) is not None  # bitmap persisted at round 1

    # spy: a FULL rebuild calls build_bloom without m/k; the incremental
    # delta shard (inside update_bloom) passes m= and k=
    full_rebuilds = []
    orig = US_mod.build_bloom

    def spy(*args, **kwargs):
        if kwargs.get("m") is None:
            full_rebuilds.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(US_mod, "build_bloom", spy)
    engine2 = CrawlEngine(spark, crawl_cfg, store_b, _settings())
    engine2.run_round(2)
    assert not full_rebuilds  # loaded + delta-OR, never a full seen rescan
    assert engine2._bloom is not None and engine2._bloom_round == 2
    engine2.resume(max_rounds=30)
    a = {tuple(r) for r in store_a.read_union("url_seen", store_a.latest_round()).collect()}
    b = {tuple(r) for r in store_b.read_union("url_seen", store_b.latest_round()).collect()}
    assert a == b


def test_from_round_rewind_is_deterministic(spark, crawl_cfg, tmp_path_factory, run):
    """Deliberate rewind (--from-round analog): truncate a finished crawl
    back to round 1, resume, and land on the identical crawl log."""
    store_a, _, _ = run
    store_r = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_r"))
    settings = _settings()
    settings.compact_every = 2  # compactions after round 1 must be dropped too
    CrawlEngine(spark, crawl_cfg, store_r, settings).run(max_rounds=30)
    dropped = store_r.truncate_after(1)
    assert dropped and store_r.latest_round() == 1
    assert store_r.latest_compaction("url_seen") is None
    CrawlEngine(spark, crawl_cfg, store_r, settings).resume(max_rounds=30)
    a = {tuple(r) for r in store_a.read_union("url_seen", store_a.latest_round()).collect()}
    b = {tuple(r) for r in store_r.read_union("url_seen", store_r.latest_round()).collect()}
    assert a == b


def test_published_tables_nonempty(spark, crawl_cfg, tmp_path_factory):
    """Smoke: full run with extraction on; published tables exist and agree
    with the documents that were crawled."""
    store = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_x"))
    settings = _settings()
    settings.extract = True
    CrawlEngine(spark, crawl_cfg, store, settings).run(max_rounds=30)
    pub = published_tables(store)
    n_proj = pub["projects"].count()
    assert n_proj > 0
    assert pub["projects"].select("project_id").distinct().count() == n_proj
    assert pub["eav"].count() > n_proj
    assert pub["project_person_relations"].count() > 0


def test_crawl_delay_per_host_budgets_match_golden(spark, tmp_path_factory):
    """E2E with robots Crawl-delay overrides (VERDICT r2 #5): the engine
    crawl with per-host rates must (a) never exceed each host's OWN budget
    in any round and (b) stay trace-equal to the golden simulator running
    the same per-host budgets."""
    from ba_gepris_crawler_spark.operators.politeness import politeness_from_robots

    cfg = SiteConfig(
        hosts=("slow.example.org", "fast.example.org"),
        n_projects=24, n_persons=12, n_institutions=4,
        hits_per_page=7, seed=21,
    )
    base = PolitenessConfig(per_host_rate=30, round_seconds=1.0, max_in_flight=5)
    pol = politeness_from_robots(
        base, {"slow.example.org": "User-agent: *\nCrawl-delay: 0.125\n"}  # budget 8
    )
    assert pol.budget_for("slow.example.org") == 8
    assert pol.budget_for("fast.example.org") == 30

    store = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_delay"))
    settings = CrawlSettings(n_buckets=8, politeness=pol, extract=False)
    manifests = CrawlEngine(spark, cfg, store, settings).run(max_rounds=40)
    assert manifests[-1]["counters"]["done"]

    log = store.read_union("url_seen", store.latest_round())
    per = log.groupBy("round", "host").count().collect()
    for r in per:
        assert r["count"] <= pol.budget_for(r["host"]), (r["round"], r["host"], r["count"])
    # the slow host was actually throttled below the default at least once
    assert any(r["host"] == "slow.example.org" and r["count"] == 8 for r in per)

    golden = simulate_crawl(
        cfg, per_host_budget=base.per_host_budget, max_rounds=40, n_buckets=8,
        host_budgets={"slow.example.org": 8},
    )
    got = sorted((r.round, r.seq, r.url) for r in log.select("round", "seq", "url").collect())
    assert got == sorted(golden.trace)


def test_json_api_crawl_equals_html_crawl(spark, crawl_cfg, tmp_path_factory, run):
    """S7 engine path: a full crawl in fetch_format='json' (raw JSON-API
    bodies parsed in-plan via from_json) must produce the IDENTICAL crawl
    log and documents table (spans included) as the html-mode run — the
    fetch format is a transport detail, not a semantics change."""
    store_a, _, _ = run
    store_j = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_json"))
    settings = _settings()
    settings.fetch_format = "json"
    manifests = CrawlEngine(spark, crawl_cfg, store_j, settings).run(max_rounds=30)
    assert manifests[-1]["counters"]["done"]

    a = {tuple(r) for r in store_a.read_union("url_seen", store_a.latest_round()).collect()}
    j = {tuple(r) for r in store_j.read_union("url_seen", store_j.latest_round()).collect()}
    assert a == j  # full crawl log: seen set + trace + statuses

    cols = ["doc_id", "url", "round", "status", "spans"]
    da = {(r.doc_id, r.url, r.round, r.status, str(r.spans))
          for r in store_a.read_union("documents", store_a.latest_round()).select(*cols).collect()}
    dj = {(r.doc_id, r.url, r.round, r.status, str(r.spans))
          for r in store_j.read_union("documents", store_j.latest_round()).select(*cols).collect()}
    assert da == dj  # span sequences byte-equal across fetch formats


def test_tiered_compaction_logarithmic_merge(spark, tmp_path):
    """Equal-size deltas compacted every round behave like a binary counter
    (Bentley–Saxe logarithmic method): the tier count equals popcount(k)
    after k compactions — O(log n), fully bounded — while the visible row
    set stays identical to the plain delta union at every step and tier
    spans remain a contiguous cover."""
    store = SnapshotStore(spark, tmp_path)
    per = 20
    expect: set[str] = set()
    for rnd in range(8):
        df = spark.range(rnd * per, (rnd + 1) * per).select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id")
        )
        n = store.write_table("documents", rnd, df)
        store.commit(rnd, {"documents": n}, {"round": rnd})
        expect |= {f"d{i}" for i in range(rnd * per, (rnd + 1) * per)}
        tier_root = tmp_path / "compacted" / "documents"
        dirs_before = {d.name for d in tier_root.iterdir()} if tier_root.is_dir() else set()
        m = store.compact_tiered("documents", rnd, key_col="doc_id", n_buckets=4)
        # the whole carry run collapses in ONE write: exactly one new tier
        # dir per compaction, never instantly-orphaned intermediates
        # (review r3: the pairwise cascade wrote run-1 throwaway dirs)
        assert len({d.name for d in tier_root.iterdir()} - dirs_before) == 1
        got = {r.doc_id for r in store.read_union("documents", rnd).collect()}
        assert got == expect
        assert len(m["paths"]) == bin(rnd + 1).count("1")  # binary counter
        rows = m["tier_rows"]
        assert sum(rows) == (rnd + 1) * per
        assert all(rows[i] > rows[i + 1] for i in range(len(rows) - 1))
        spans = [SnapshotStore._tier_span(p) for p in m["paths"]]
        assert spans[0][0] == 0 and spans[-1][1] == rnd
        assert all(spans[i][1] + 1 == spans[i + 1][0] for i in range(len(spans) - 1))
    final = store.latest_compaction("documents")
    assert len(final["paths"]) == 1 and final["tier_rows"] == [8 * per]


def test_store_survives_moved_root_and_reader_cwd(spark, tmp_path):
    """Compaction manifests must reference data dirs portably: a store
    compacted under one root spelling must read (and further compact)
    correctly after the whole root is MOVED — and legacy manifests whose
    'path'/'paths' were spelled absolute by an old writer must rebase onto
    the current root instead of resolving to the dead location (review r5
    #2; the read-side twin of orphan_dirs' canonicalization)."""
    import shutil

    root_a = tmp_path / "crawl_a"
    store = SnapshotStore(spark, root_a)
    expect: set[str] = set()
    for rnd in range(3):
        df = spark.range(rnd * 10, (rnd + 1) * 10).select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id")
        )
        store.commit(rnd, {"documents": store.write_table("documents", rnd, df)}, {"round": rnd})
        expect |= {f"d{i}" for i in range(rnd * 10, (rnd + 1) * 10)}
    store.compact_tiered("documents", 1, key_col="doc_id", n_buckets=2)
    store.compact("documents", 2, key_col="doc_id", n_buckets=2)
    # on disk the refs are spelled root-relative; the API rebases them
    import json as _json
    from pathlib import Path as _P

    mp = root_a / "manifests" / "compact-documents-00002.json"
    raw = _json.loads(mp.read_text())
    assert not _P(raw["path"]).is_absolute()
    assert _P(store.latest_compaction("documents")["path"]).exists()
    # legacy manifest: rewrite the refs as the OLD absolute spelling
    raw["path"] = str((root_a / raw["path"]).resolve())
    mp.write_text(_json.dumps(raw))

    root_b = tmp_path / "crawl_b"
    shutil.move(str(root_a), str(root_b))
    moved = SnapshotStore(spark, root_b)
    got = {r.doc_id for r in moved.read_union("documents", 2).collect()}
    assert got == expect
    # further compaction on the moved store must read old tiers correctly
    df = spark.range(30, 40).select(
        F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id")
    )
    moved.commit(3, {"documents": moved.write_table("documents", 3, df)}, {"round": 3})
    moved.compact_tiered("documents", 3, key_col="doc_id", n_buckets=2)
    got = {r.doc_id for r in moved.read_union("documents", 3).collect()}
    assert got == expect | {f"d{i}" for i in range(30, 40)}


def test_gc_expires_and_removes_only_unreferenced_dirs(spark, tmp_path, capsys):
    """`gc` (expire_compactions + remove_orphans) must delete superseded
    compaction dirs, crashed-round orphans, and expired snapshot dirs —
    and NOTHING a committed manifest still references: the visible row set
    is byte-identical before and after."""
    from pathlib import Path as _P

    from ba_gepris_crawler_spark.cli import main as cli_main

    store = SnapshotStore(spark, tmp_path)
    for rnd in range(4):
        df = spark.range(rnd * 10, (rnd + 1) * 10).select(
            F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url")
        )
        store.commit(rnd, {"url_seen": store.write_table("url_seen", rnd, df)}, {"round": rnd})
        store.compact_tiered("url_seen", rnd, key_col="url", n_buckets=2)  # forces tier merges
    store.compact("url_seen", 3, key_col="url", n_buckets=4)  # supersedes at same upto
    # crashed round: data dir, no manifest
    spark.range(5).select(F.lit("x").alias("url")).write.parquet(str(store.table_path("url_seen", 99)))
    before = {r.url for r in store.read_union("url_seen", 3).collect()}
    n_dirs_before = len(list((tmp_path / "compacted" / "url_seen").iterdir()))
    n_manifests = len(list((tmp_path / "manifests").glob("compact-*.json")))
    import json as _json

    assert cli_main(["gc", str(tmp_path), "--dry-run"]) == 0
    dry = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (tmp_path / "rounds" / "round=00099").exists()  # dry run deletes nothing
    # ... including compaction manifests (review r3: expire ran unconditionally)
    assert len(list((tmp_path / "manifests").glob("compact-*.json"))) == n_manifests
    # the REAL gc runs under a DIFFERENT spelling of the same root (relative,
    # from the parent dir): manifests store paths with the writer's spelling,
    # and a raw-string comparison would make every live dir look unreferenced
    # and delete it (review r3, reproduced) — canonicalized matching must not
    import os as _os

    _cwd = _os.getcwd()
    _os.chdir(tmp_path.parent)
    try:
        assert cli_main(["gc", tmp_path.name, "--keep-compactions", "1"]) == 0
    finally:
        _os.chdir(_cwd)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    rep = _json.loads(out)
    assert not rep["dry_run"] and rep["orphans_removed"]
    # the dry-run preview must name EXACTLY what the real gc then deleted:
    # expiry + orphan sets both (review r3: the preview computed orphans
    # while the to-be-expired manifests still looked live, under-reporting)
    assert dry["expired"] == rep["expired"]
    key = lambda ps: {(_P(p).parent.name, _P(p).name) for p in ps}  # noqa: E731
    assert key(dry["orphans_removed"]) == key(rep["orphans_removed"])
    assert not (tmp_path / "rounds" / "round=00099").exists()
    # only the retained (newest) compaction's dirs remain
    kept = store.latest_compaction("url_seen")
    remaining = {str(d) for d in (tmp_path / "compacted" / "url_seen").iterdir()}
    assert remaining == set(store._compaction_tier_paths(kept, "url_seen"))
    assert len(remaining) < n_dirs_before
    assert {r.url for r in store.read_union("url_seen", 3).collect()} == before
    # committed round deltas untouched -> rewind past the expired snapshots
    # still resolves as a pure delta union
    store.truncate_after(1)
    assert store.latest_compaction("url_seen") is None
    assert {r.url for r in store.read_union("url_seen", 1).collect()} == {
        f"https://h/p/{i}" for i in range(20)
    }


def test_read_union_legacy_compaction_manifest(spark, tmp_path):
    """A compaction manifest from the pre-qualified-dir layout (no 'path'
    key; data at compacted/<name>/upto=<k>) must still resolve — the
    fallback has to reconstruct the LEGACY dir name, not the new
    parameter-qualified one (review regression)."""
    import json as _json
    import shutil as _shutil

    from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore
    from pyspark.sql import functions as F

    store = SnapshotStore(spark, tmp_path)
    for rnd in range(3):
        df = spark.range(rnd * 10, rnd * 10 + 10).select(
            F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url")
        )
        n = store.write_table("url_seen", rnd, df)
        store.commit(rnd, {"url_seen": n}, {"round": rnd})
    m = store.compact("url_seen", 1, key_col="url", n_buckets=4)
    # rewrite history into the legacy layout: unqualified dir, no 'path'
    legacy_dir = tmp_path / "compacted" / "url_seen" / "upto=00001"
    _shutil.move(m["path"], legacy_dir)
    mp = store._compact_manifest_path("url_seen", 1)
    legacy_manifest = {k: v for k, v in _json.loads(mp.read_text()).items() if k != "path"}
    mp.write_text(_json.dumps(legacy_manifest))
    got = store.read_union("url_seen", 2)
    assert got.count() == 30  # base (rounds 0-1) + tail delta (round 2)
    # a LATER tiered compaction must carry the legacy base into its tier
    # list (review r3: tiers=[] silently dropped rounds <= base forever)
    m2 = store.compact_tiered("url_seen", 2, key_col="url", n_buckets=4)
    assert str(legacy_dir) in m2["paths"]
    assert store.read_union("url_seen", 2).count() == 30


def test_cli_validation_is_json_and_pre_spark(tmp_path, capsys):
    """CLI misconfiguration must follow the JSON-error/exit-2 contract,
    not raw tracebacks, and fail before creating anything on disk:
    --rate 0 is caught by pure-argparse-level validation (no JVM, no
    root dir), and `gc` on a path that is not a snapshot store refuses
    instead of mkdir-ing a skeleton and reporting a clean empty gc."""
    import json as _json

    from ba_gepris_crawler_spark.cli import main as cli_main

    bad_root = tmp_path / "never-created"
    assert cli_main(["new-crawl", str(bad_root), "--rate", "0"]) == 2
    assert "per_host_rate" in _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["error"]
    assert not bad_root.exists()

    # EVERY existing-store command refuses a non-store root pre-JVM
    for cmd in (["gc"], ["compact"], ["dq"], ["export"], ["resume-crawl"]):
        assert cli_main(cmd + [str(bad_root)]) == 2
        assert "not a snapshot store" in _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )["error"]
        assert not bad_root.exists()


def test_rebuild_from_config_ignores_legacy_seen_gate_and_span_transport_keys():
    """Stores created before the bloom gate became the only URL-seen gate
    persisted three more keys in config.json, one of them naming a second
    gate; stores created before json became the only span wire format
    persisted a `span_transport` key. Resuming such a store must replay
    exactly the settings of the same config without those keys (both
    gates were admission-only and all span transports were byte-equal, so
    the crawl is the same). Pure Python: no Spark."""
    from dataclasses import asdict

    from ba_gepris_crawler_spark.cli import _rebuild_from_config

    site = SiteConfig(hosts=("h00.gepris.example.org", "h01.gepris.example.org"), n_projects=20)
    cfg = {
        "site": {**asdict(site), "hosts": list(site.hosts)},
        "politeness": asdict(PolitenessConfig(per_host_rate=7, max_in_flight=3)),
        "n_buckets": 4,
        "fetch_format": "json",
        "circuit_breaker": {"min_fetches": 2},
        "bootstrap_robots": False,
        "robots_file": None,
    }
    legacy_keys = {
        "seen_filter": "cuckoo", "cuckoo_mode": "distributed", "cuckoo_shards": 16,
        "span_transport": "arrays",
    }
    assert _rebuild_from_config({**cfg, **legacy_keys}) == _rebuild_from_config(cfg)
    assert not set(legacy_keys) & set(CrawlSettings.__dataclass_fields__)


def test_cli_resume_rejects_corrupt_persisted_config(spark, tmp_path, capsys):
    """resume-crawl replays the persisted config; a hand-edited
    config.json with an invalid politeness rate must surface as the JSON
    error contract (exit 2), not an uncaught ValueError mid-command."""
    import json as _json

    from ba_gepris_crawler_spark.cli import main as cli_main

    store = SnapshotStore(spark, tmp_path)
    store.save_config({
        "site": {"hosts": ["h00.gepris.example.org"], "n_projects": 5,
                 "n_persons": 2, "n_institutions": 1},
        "politeness": {"per_host_rate": 0, "round_seconds": 1.0, "max_in_flight": 5},
        "n_buckets": 4,
    })
    assert cli_main(["resume-crawl", str(tmp_path)]) == 2
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["error"]
    assert "invalid persisted config" in err and "per_host_rate" in err

    # invalid JSON (truncated file) must hit the same contract, not a raw
    # json.JSONDecodeError traceback (review r3: load_config sat outside
    # the try block)
    (tmp_path / "config.json").write_text('{"site": {"hosts": ["h00"')
    assert cli_main(["resume-crawl", str(tmp_path)]) == 2
    err = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])["error"]
    assert "invalid persisted config" in err


def test_tiered_compaction_legacy_manifest_never_merges(spark, tmp_path):
    """A pre-tier_rows compaction manifest (legacy) has unknown tier sizes:
    the None sentinels must never satisfy the merge condition, so the next
    compaction appends a new tier instead of merging into a tier whose
    size it cannot know."""
    import json as _json

    store = SnapshotStore(spark, tmp_path)
    per = 10
    for rnd in range(2):
        df = spark.range(rnd * per, (rnd + 1) * per).select(
            F.concat(F.lit("d"), F.col("id").cast("string")).alias("doc_id")
        )
        store.commit(rnd, {"documents": store.write_table("documents", rnd, df)}, {"round": rnd})
    store.compact_tiered("documents", 0, key_col="doc_id", n_buckets=4)
    # age the manifest into the legacy shape: no per-tier row counts
    mp = store._compact_manifest_path("documents", 0)
    m = _json.loads(mp.read_text())
    del m["tier_rows"]
    mp.write_text(_json.dumps(m))

    m2 = store.compact_tiered("documents", 1, key_col="doc_id", n_buckets=4)
    # equal-size deltas WOULD merge with known sizes; unknown must not
    assert len(m2["paths"]) == 2
    assert m2["tier_rows"] == [None, per]
    got = {r.doc_id for r in store.read_union("documents", 1).collect()}
    assert got == {f"d{i}" for i in range(2 * per)}


def test_engine_budgets_df_relation_equals_cfg_path(spark, tmp_path_factory):
    """Review r4: the budgets RELATION must be reachable from the engine
    (engine.budgets_df), and a crawl throttled by crawl_delay_budgets rows
    must produce the identical url_seen trace as the same delay folded
    into cfg via politeness_from_robots (the driver-side path)."""
    from ba_gepris_crawler_spark.operators.politeness import (
        crawl_delay_budgets,
        politeness_from_robots,
    )

    cfg = SiteConfig(
        hosts=("slow.example.org", "fast.example.org"),
        n_projects=16, n_persons=8, n_institutions=4,
        hits_per_page=7, seed=33,
    )
    bodies = {"slow.example.org": "User-agent: *\nCrawl-delay: 0.125\n"}  # budget 8
    base = PolitenessConfig(per_host_rate=30, round_seconds=1.0, max_in_flight=5)

    # relation path: budgets as a DataFrame on the engine
    store_rel = SnapshotStore(spark, tmp_path_factory.mktemp("bud_rel"))
    eng = CrawlEngine(spark, cfg, store_rel, CrawlSettings(
        n_buckets=8, politeness=base, extract=False))
    robots = spark.createDataFrame(list(bodies.items()), "host string, robots_txt string")
    eng.budgets_df = crawl_delay_budgets(robots, base)
    manifests = eng.run(max_rounds=40)
    assert manifests[-1]["counters"]["done"]

    # cfg path: same delay as a host_rates literal
    store_cfg = SnapshotStore(spark, tmp_path_factory.mktemp("bud_cfg"))
    pol = politeness_from_robots(base, bodies)
    CrawlEngine(spark, cfg, store_cfg, CrawlSettings(
        n_buckets=8, politeness=pol, extract=False)).run(max_rounds=40)

    trace_rel = sorted(
        (r.url, r.round) for r in
        store_rel.read_union("url_seen", store_rel.latest_round()).collect())
    trace_cfg = sorted(
        (r.url, r.round) for r in
        store_cfg.read_union("url_seen", store_cfg.latest_round()).collect())
    assert trace_rel == trace_cfg and len(trace_rel) > 0
    # the slow host was actually throttled to the relation budget
    per = store_rel.read_union("url_seen", store_rel.latest_round()) \
        .groupBy("round", "host").count().collect()
    assert any(r["host"] == "slow.example.org" and r["count"] == 8 for r in per)
    assert all(r["count"] <= 8 for r in per if r["host"] == "slow.example.org")


def test_resume_refuses_to_drop_budgets_relation(spark, tmp_path_factory):
    """Review r4b: budgets_df is data, not serialized config — a resume
    without it would silently relax politeness mid-crawl. The manifest
    records its use and resume() refuses until the caller re-sets it."""
    from ba_gepris_crawler_spark.operators.politeness import crawl_delay_budgets

    cfg = SiteConfig(hosts=("slow.example.org",), n_projects=8, n_persons=4,
                     n_institutions=2, hits_per_page=5, seed=11)
    base = PolitenessConfig(per_host_rate=30, round_seconds=1.0, max_in_flight=5)
    store = SnapshotStore(spark, tmp_path_factory.mktemp("bud_resume"))
    eng = CrawlEngine(spark, cfg, store, CrawlSettings(
        n_buckets=8, politeness=base, extract=False))
    robots = spark.createDataFrame(
        [("slow.example.org", "User-agent: *\nCrawl-delay: 0.125\n")],
        "host string, robots_txt string")
    eng.budgets_df = crawl_delay_budgets(robots, base)
    eng.run(max_rounds=2)  # leave the crawl unfinished

    fresh = CrawlEngine(spark, cfg, store, CrawlSettings(
        n_buckets=8, politeness=base, extract=False))
    with pytest.raises(ValueError, match="budgets"):
        fresh.resume(max_rounds=2)
    # re-supplying the relation resumes cleanly
    fresh.budgets_df = crawl_delay_budgets(robots, base)
    manifests = fresh.resume(max_rounds=40)
    assert manifests[-1]["counters"]["done"]
    per = store.read_union("url_seen", store.latest_round()) \
        .groupBy("round").count().collect()
    assert all(r["count"] <= 8 for r in per if r["count"])  # budget held throughout


def test_cli_robots_file_budgets_and_resume_reload(spark, tmp_path, capsys):
    """--robots-file wires the budgets RELATION through the CLI: manifests
    record budgets_df=true, the path persists in config.json, and resume
    WITHOUT the flag reloads it (the relation is data the serialized
    config cannot hold; the bodies file path is replayable). A missing
    file follows the JSON-error contract (exit 2, no traceback)."""
    import json as _json

    from ba_gepris_crawler_spark.cli import main as cli_main

    bodies = tmp_path / "robots.parquet"
    spark.createDataFrame(
        [("h0.example.org", "User-agent: *\nCrawl-delay: 0.05\n")],
        "host string, robots_txt string",
    ).write.mode("overwrite").parquet(str(bodies))

    root = tmp_path / "crawl"
    assert cli_main([
        "new-crawl", str(root), "--projects", "200", "--hosts", "2",
        "--max-rounds", "2", "--robots-file", str(bodies),
    ]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert lines and all(_json.loads(l).get("budgets_df") for l in lines)
    assert _json.load(open(root / "config.json"))["robots_file"] == str(bodies)

    # resume without the flag: auto-reloaded from config, runs to done
    assert cli_main(["resume-crawl", str(root), "--max-rounds", "30"]) == 0
    out = [_json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    assert out[-1]["done"] and out[-1].get("budgets_df")

    # missing file -> clean JSON error, exit 2
    cfg = _json.load(open(root / "config.json"))
    cfg["robots_file"] = str(tmp_path / "gone.parquet")
    _json.dump(cfg, open(root / "config.json", "w"))
    assert cli_main(["resume-crawl", str(root)]) == 2
    err = _json.loads([l for l in capsys.readouterr().out.splitlines() if l.startswith("{")][-1])
    assert "robots-file" in err["error"]

    # ADVICE r4: a typo'd resume-time --robots-file OVERRIDE must NOT be
    # persisted before validation — otherwise the failed run leaves a
    # broken path in config.json and every later flag-less resume errors.
    _json.dump({**cfg, "robots_file": str(bodies)}, open(root / "config.json", "w"))
    assert cli_main([
        "resume-crawl", str(root), "--robots-file", str(tmp_path / "typo.parquet"),
    ]) == 2
    capsys.readouterr()
    assert _json.load(open(root / "config.json"))["robots_file"] == str(bodies)
    # and a VALID override still persists (after validation succeeds)
    bodies2 = tmp_path / "robots2.parquet"
    spark.createDataFrame(
        [("h0.example.org", "User-agent: *\nCrawl-delay: 0.01\n")],
        "host string, robots_txt string",
    ).write.mode("overwrite").parquet(str(bodies2))
    assert cli_main([
        "resume-crawl", str(root), "--max-rounds", "30",
        "--robots-file", str(bodies2),
    ]) == 0
    capsys.readouterr()
    assert _json.load(open(root / "config.json"))["robots_file"] == str(bodies2)


def test_bloom_n_items_exact_across_bootstrap_and_resume(spark, crawl_cfg, tmp_path_factory):
    """n_items must equal the TRUE insertion count. Two overcounts existed
    (review r5 final #3): the round-0 bootstrap covered delta 0 but was
    tagged so round 1 re-ORed the same delta (bits idempotent, n_items
    not), and resume seeded n_items from seen_total — one round's delta
    ahead of the bitmap's actual coverage. Both inflated estimated_fpp
    toward spurious full-seen-set saturation rebuilds."""
    store = SnapshotStore(spark, tmp_path_factory.mktemp("crawl_nitems"))
    eng = CrawlEngine(spark, crawl_cfg, store, _settings())
    eng.run(max_rounds=3)
    last = store.latest_round()
    assert last >= 2
    # the incremental bloom held after round r covers deltas through r-1
    covered = store.manifest(last - 1)["counters"]["seen_total"]
    assert eng._bloom is not None and eng._bloom.n_items == covered
    # resume: a fresh engine loads the persisted bitmap + its EXACT count
    eng2 = CrawlEngine(spark, crawl_cfg, store, _settings())
    eng2.run_round(last + 1)
    assert eng2._bloom.n_items == store.manifest(last)["counters"]["seen_total"]


def test_bloom_snapshot_never_overwrites_live_slot(spark, tmp_path):
    """save_bloom must write a fresh generation file and swap the manifest
    LAST, then prune superseded files: overwriting the live bits slot in
    place left a crash window where new bits (possibly a resized m) paired
    with stale meta — same round tag after a --from-round rewind, wrong m,
    and every probe reads garbage positions, turning seen URLs 'provably
    unseen' (review r5 store #2)."""
    store = SnapshotStore(spark, tmp_path / "bl")
    store.save_bloom(3, b"\x00" * 16, 128, 3, 0, 10)
    # crash simulation: a later save wrote its bits file but died before
    # the meta swap — the committed pairing must be untouched
    (store.root / "bloom" / "r3-g1.bits").write_bytes(b"\xff" * 32)
    bits, meta = store.load_bloom(3)
    assert bits == b"\x00" * 16 and meta["m"] == 128 and meta["n_items"] == 10
    # a bits file whose size disagrees with meta's m is rejected outright
    (store.root / "bloom" / meta["path"]).write_bytes(b"\x00" * 8)
    assert store.load_bloom(3) is None
    # a completed re-save (resize) supersedes cleanly and prunes orphans
    store.save_bloom(3, b"\x01" * 32, 256, 3, 1, 10)
    bits2, meta2 = store.load_bloom(3)
    assert bits2 == b"\x01" * 32 and meta2["m"] == 256
    assert len(list((store.root / "bloom").glob("*.bits"))) == 1


def test_full_compact_not_satisfied_by_tiered_manifest(spark, tmp_path):
    """compact()'s no-op check must not accept a TIERED manifest at the
    same upto/buckets/key as 'already committed': the caller wants the
    single hash-clustered snapshot (the anti-join layout), and returning
    the tiered manifest leaves reads on the multi-tier layout forever
    (review r5 store #7)."""
    store = SnapshotStore(spark, tmp_path / "cc")
    expect: set[str] = set()
    for rnd in range(3):
        df = spark.range(rnd * 10, (rnd + 1) * 10).select(
            F.concat(F.lit("https://h/p/"), F.col("id").cast("string")).alias("url")
        )
        store.commit(rnd, {"url_seen": store.write_table("url_seen", rnd, df)}, {"round": rnd})
        expect |= {f"https://h/p/{i}" for i in range(rnd * 10, (rnd + 1) * 10)}
    tiered = store.compact_tiered("url_seen", 2, key_col="url", n_buckets=4)
    assert tiered.get("paths")  # precondition: tiered manifest committed
    full = store.compact("url_seen", 2, key_col="url", n_buckets=4)
    assert full.get("path") and not full.get("paths")  # real full rewrite
    assert {r.url for r in store.read_union("url_seen", 2).collect()} == expect
    # and the full manifest IS accepted as the no-op on the next call
    again = store.compact("url_seen", 2, key_col="url", n_buckets=4)
    assert again == full
