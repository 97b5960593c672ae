"""Property-style invariants for the revalidation etag and the retry
policy, evaluated over seeded adversarial corpora in ONE Spark job each
(same batch idiom as test_canonicalize_properties — hypothesis-per-draw
would pay a Spark job per example).

- etag parity: the Spark expression and the worker-Python twin must
  agree on EVERY payload — unicode (umlauts/CJK/emoji/astral), embedded
  control characters incl. the serialization's own separators (parity
  must hold even for content the span grammar never produces: a hostile
  page is still hashed identically on both sides), NULL/'' conflation,
  tabs/newlines/quotes (json-escaping territory), offset extremes.
- retry policy: a straight-line Python twin recomputes the schedule for
  randomized histories; the distributed result must match exactly —
  streak counting, backoff clamp, exhaustion, newest-observation gating.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F  # noqa: F401 (parity with sibling tests)

from ba_gepris_crawler_spark.operators.retry import (
    RETRYABLE_STATUSES,
    error_retry_schedule,
)
from ba_gepris_crawler_spark.operators.revalidate import span_etag, span_etag_py

_TEXTS = [
    "", "plain", "Straßen-Ökologie", "日本語テキスト", "emoji 🚀🧪", "𝔞strale",
    "tab\there", "new\nline", 'quo"tes\\back', "a\x1fb", "c\x1ed",  # separator bytes
    "\x00nul", " lead/trail ", "ü" * 500, None,
]
_MEDIA = ["", "img://x/1", None, "ref\x1f", "s3-like://nope"]
_OFFSETS = [0, 1, 7, 2**31 - 1, -1, -(2**31)]


def test_span_etag_parity_adversarial_corpus(spark):
    rng = random.Random(20260819)
    corpus: list[list[tuple]] = [[]]
    for _ in range(300):
        spans = [
            (rng.choice(["title", "a", "media", "x"]), rng.choice(_TEXTS),
             rng.choice(_MEDIA), rng.choice(_OFFSETS))
            for _ in range(rng.randrange(0, 6))
        ]
        corpus.append(spans)
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)],
        "i int, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r["i"]: r["e"] for r in df.select("i", span_etag().alias("e")).collect()}
    for i, spans in enumerate(corpus):
        want = span_etag_py(
            [(k, t or "", m or "", o) for k, t, m, o in spans]
        )
        assert got[i] == want, (i, spans)


def _retry_twin(hist, now, max_attempts, base, max_backoff):
    by_url: dict[str, dict[int, int]] = {}
    for u, r, s in hist:
        cur = by_url.setdefault(u, {})
        cur[r] = max(cur.get(r, -1), s)  # duplicate (url, round): max wins
    out = {}
    for u, obs in by_url.items():
        rounds = sorted(obs)
        last_round = rounds[-1]
        last_status = obs[last_round]
        if last_status not in RETRYABLE_STATUSES:
            continue
        ok_rounds = [r for r in rounds if obs[r] not in RETRYABLE_STATUSES]
        last_ok = max(ok_rounds) if ok_rounds else None
        n = sum(
            1 for r in rounds
            if obs[r] in RETRYABLE_STATUSES and (last_ok is None or r > last_ok)
        )
        delay = min(round(float(base) ** n), max_backoff)
        exhausted = n >= max_attempts
        out[u] = (n, last_round, last_status, delay, last_round + delay,
                  exhausted, (not exhausted) and last_round + delay <= now)
    return out


def test_retry_schedule_matches_python_twin(spark):
    rng = random.Random(42)
    statuses = [200, 200, 304, 404, 410, 301, 503, 599, 598, 429, 500]
    hist = []
    for i in range(120):
        u = f"u{i}"
        for _ in range(rng.randrange(1, 8)):
            hist.append((u, rng.randrange(0, 30), rng.choice(statuses)))
    # force duplicate (url, round) rows
    hist += [("u0", hist[0][1], 503), ("u0", hist[0][1], 200)]
    df = spark.createDataFrame(hist, "url string, round int, status int")
    got = {
        r["url"]: (r["n_attempts"], r["last_round"], r["last_status"], r["delay"],
                   r["next_due"], r["exhausted"], r["due"])
        for r in error_retry_schedule(
            df, now_round=25, max_attempts=3, backoff_base=2, max_backoff=16
        ).collect()
    }
    want = _retry_twin(hist, now=25, max_attempts=3, base=2, max_backoff=16)
    assert got == want
    assert any(v[5] for v in want.values()), "corpus never exercised exhaustion"
    assert any(v[6] for v in want.values()), "corpus never exercised due"


# ---------------------------------------------------------------------------
# plan-shape assertions: the new operators keep the physical plans we want
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_latest_version_plan_one_shuffle_no_python(spark):
    from ba_gepris_crawler_spark.plans.round_loop import latest_version

    df = spark.createDataFrame(
        [("a", 0, "x"), ("a", 1, "y")], "k string, _round int, v string"
    )
    import re

    plan = _plan(latest_version(df, ["k"]))
    # one Exchange NODE (the formatted text repeats each node in the
    # detail section, so count node headers, not substrings)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_doc_metrics_plan_is_python_free(spark):
    """The per-doc metrics pass (lang + quality + tokens + fingerprint)
    must stay whole-stage Catalyst: chained HOF expressions, zero Python
    boundaries, zero shuffles (it is a pure projection)."""
    from ba_gepris_crawler_spark.plans.analysis import analysis_tables

    docs = spark.createDataFrame(
        [("d", "u", "h", [{"kind": "t", "text": "x", "media_ref": None, "offset": 0}])],
        "doc_id string, url string, host string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    plan = _plan(analysis_tables(docs)["doc_metrics"])
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "Exchange" not in plan


def test_fetch_plan_has_validator_join_only_when_staged(spark, cfg):
    from ba_gepris_crawler_spark.operators.fetch import fetch_pages

    sched = spark.createDataFrame(
        [("https://u", "h", None, None, 0, 1, 0, 0, 0, 0.0, 1, 10.0)],
        "url string, host string, resource_type string, resource_id string, "
        "crawl_depth int, priority int, discovered_round int, host_bucket int, "
        "host_rank long, slot double, host_max_slot int, host_rate double",
    )
    plain = _plan(fetch_pages(sched, cfg, n_buckets=2))
    vals = spark.createDataFrame([("https://u", "e")], "url string, etag string")
    cond = _plan(fetch_pages(sched, cfg, n_buckets=2, validators=vals))
    # the conditional path pays its join; the default path must not
    assert plain.count("Join") == 0
    assert cond.count("Join") >= 1
