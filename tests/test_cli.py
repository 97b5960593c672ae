"""CLI crawl-open paths: every command that continues a crawl replays the
store's config.json (site, settings, robots relations), stream-crawl
persists its config like new-crawl, and `compact` follows the round
loop's per-table policy.

One small --bootstrap-robots crawl is built once per module; each test
runs on its own copy of it."""

from __future__ import annotations

import contextlib
import io
import json
import shutil

import pytest

from ba_gepris_crawler_spark.cli import main as cli_main
from ba_gepris_crawler_spark.plans.checkpoint import SnapshotStore


def _cli(capsys, *argv) -> tuple[int, list[dict]]:
    code = cli_main([str(a) for a in argv])
    out = [json.loads(l) for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    return code, out


@pytest.fixture(scope="module")
def bootstrap_crawl(spark, tmp_path_factory):
    """2 hosts, 1/4 of detail pages answer 503, budgets and rules from the
    site's own robots.txt (Crawl-delay 1 s and 2 s; --round-seconds 30
    lets the crawl finish in a few rounds)."""
    root = tmp_path_factory.mktemp("cli") / "crawl"
    with contextlib.redirect_stdout(io.StringIO()):
        assert cli_main([
            "new-crawl", str(root), "--hosts", "2", "--projects", "20",
            "--buckets", "4", "--round-seconds", "30", "--error-mod", "4",
            "--bootstrap-robots",
        ]) == 0
    return root


@pytest.fixture
def crawl(bootstrap_crawl, tmp_path):
    root = tmp_path / "crawl"
    shutil.copytree(bootstrap_crawl, root)
    return root


def _assert_robots_replayed(rounds: list[dict]) -> None:
    assert rounds and rounds[-1]["done"]
    assert all(c["budgets_df"] and c["rules_df"] for c in rounds)


def test_recrawl_replays_bootstrap_robots(crawl, capsys):
    """A --bootstrap-robots crawl's budgets and rules relations are data,
    not config: recrawl re-fetches them like resume-crawl, instead of
    staging its due set and then exiting with the engine's refusal to
    resume without them."""
    code, out = _cli(capsys, "recrawl", crawl)
    assert code == 0, out
    assert out[0]["recrawl_enqueued"] > 0
    _assert_robots_replayed(out[1:])
    assert out[1]["recrawl_enqueued"] == out[0]["recrawl_enqueued"]


def test_retry_errors_replays_bootstrap_robots(crawl, capsys):
    code, out = _cli(capsys, "retry-errors", crawl)
    assert code == 0, out
    assert out[0]["retries_enqueued"] > 0
    _assert_robots_replayed(out[1:])
    assert out[1]["fetched"] == out[0]["retries_enqueued"]


def test_reopened_bootstrap_crawl_fetches_no_sitemap(spark, crawl, tmp_path):
    """Reopening a --bootstrap-robots crawl that has committed a round
    re-fetches robots.txt for its budgets and rules relations, but no
    sitemap: sitemap seeds matter only to round 0."""
    from ba_gepris_crawler_spark.cli import _rebuild_from_config
    from ba_gepris_crawler_spark.operators.transport import SyntheticTransport
    from ba_gepris_crawler_spark.plans.round_loop import CrawlEngine

    log = tmp_path / "fetched.txt"

    class RecordingTransport(SyntheticTransport):
        def fetch_batch(self, cfg, urls, token, epoch, as_json, etags=None):
            with open(log, "a") as fh:
                fh.writelines(u + "\n" for u in urls)
            return super().fetch_batch(cfg, urls, token, epoch, as_json, etags=etags)

    store = SnapshotStore(spark, crawl)
    site, settings = _rebuild_from_config(store.load_config())
    engine = CrawlEngine(spark, site, store, settings)
    engine.transport = RecordingTransport()
    engine.bootstrap_from_robots()
    fetched = log.read_text().splitlines()
    assert fetched and all(u.endswith("/robots.txt") for u in fetched), fetched
    assert engine.budgets_df is not None and engine.rules_df is not None
    assert engine.seed_urls_df is None


def test_done_manifest_has_fetching_round_counter_keys(bootstrap_crawl):
    """The empty round that ends a crawl commits the same counter keys as
    a fetching round, so readers can index any manifest alike."""
    store = SnapshotStore(None, bootstrap_crawl)
    *_, fetching, last = store.committed_rounds()
    done = store.manifest(last)["counters"]
    busy = store.manifest(fetching)["counters"]
    assert done["done"] and done["fetched"] == 0 and done["frontier_next"] == 0
    assert busy["fetched"] > 0
    assert set(done) == set(busy)


def test_compact_follows_round_loop_policy(spark, crawl, capsys):
    """`compact` rewrites url_seen in full and documents in tiers, as the
    round loop does; the row sets stay the same and the latest-version
    views still resolve. Typed tables are refused by argparse: compacting
    one would erase the per-round provenance `--current` reads."""
    from ba_gepris_crawler_spark.plans.round_loop import current_tables

    store = SnapshotStore(spark, crawl)
    upto = store.latest_round()
    rows = {t: store.read_union(t, upto).count() for t in ("url_seen", "documents")}
    code, out = _cli(capsys, "compact", crawl, "--buckets", "2")
    assert code == 0
    assert {t: c["rows"] for t, c in out[-1]["compacted"].items()} == rows
    assert store.latest_compaction("documents", upto)["mode"] == "tiered"
    full = store.latest_compaction("url_seen", upto)
    assert full["n_buckets"] == 2 and "mode" not in full
    assert {t: store.read_union(t, upto).count() for t in rows} == rows
    assert "projects" in current_tables(store)

    with pytest.raises(SystemExit) as exc:
        cli_main(["compact", str(crawl), "--tables", "projects"])
    assert exc.value.code == 2
    capsys.readouterr()


def test_stream_crawl_persists_and_replays_its_config(spark, tmp_path, capsys):
    """The first stream-crawl run writes config.json. A re-run with other
    site flags crawls the persisted site (one host, 8 projects), and the
    stream root takes recrawl like any crawl folder."""
    root = tmp_path / "stream"
    code, _ = _cli(capsys, "stream-crawl", root, "--hosts", "1", "--projects", "8",
                   "--buckets", "4", "--max-rounds", "1")
    assert code == 0
    cfg = json.loads((root / "config.json").read_text())
    assert cfg["site"]["hosts"] == ["h00.gepris.example.org"]
    assert cfg["site"]["n_projects"] == 8 and cfg["n_buckets"] == 4

    code, out = _cli(capsys, "stream-crawl", root, "--hosts", "3", "--projects", "50")
    assert code == 0 and out[-1]["waves"] >= 1
    assert json.loads((root / "config.json").read_text()) == cfg
    store = SnapshotStore(spark, root)
    latest = store.latest_round()
    assert store.manifest(latest)["counters"]["frontier_next"] == 0
    seen = [r.url for r in store.read_union("url_seen", latest).collect()]
    assert all("//h00.gepris.example.org/" in u for u in seen)
    projects = {u.split("/projekt/")[1].split("?")[0] for u in seen if "/projekt/" in u}
    assert projects == {str(100000 + i) for i in range(8)}

    code, out = _cli(capsys, "recrawl", root, "--now-round", "100", "--max-rounds", "2")
    assert code == 0, out
    assert out[0]["recrawl_enqueued"] > 0
    assert out[1]["recrawl_enqueued"] == out[0]["recrawl_enqueued"]
