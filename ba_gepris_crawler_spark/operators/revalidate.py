"""Conditional revalidation: content-addressed ETags + 304 short-circuit.

The reference crawls GEPRIS once, so it never revalidates (its fetch is
CrawledResourceDetailDataGraph.scala:24-46 — unconditional GET, non-200
fatal). A continuously-running crawl refetches URLs the revisit policy
(operators/recrawl.py) marks due; most of those refetches come back
UNCHANGED, and an unconditional refetch pays body bytes + span parse +
typed re-extraction for nothing. This module implements the HTTP
revalidation loop (RFC 9110 §13 / RFC 9111) Spark-first:

- the validator is a STRONG, CONTENT-ADDRESSED ETag: a portable md5 over
  a canonical serialization of the span payload. Because it is a pure
  function of content, the engine derives every URL's current validator
  from its own documents table — no new stored column, no server-specific
  validator state, and (unlike to_json-based hashing) no dependence on a
  JSON writer's escaping rules. The same bytes hash identically in Spark
  (`span_etag`), worker Python (`span_etag_py` — the synthetic server and
  the localhost HTTP twin), and DuckDB (`DUCK_SPAN_ETAG` — the driver
  oracle replays every revalidation decision).
- refetch requests carry `If-None-Match: "<etag>"`; a server whose
  content still hashes to that value answers 304 with no body. The fetch
  stage surfaces 304 as a status row (like every other status): the URL
  is re-seen, the politeness budget is charged, and NOTHING downstream
  re-parses or re-extracts — the previous round's document row stays the
  current version under the append-only store layout.
- servers that don't honor content-addressed validators still benefit:
  the round loop compares the REFETCHED payload's etag against the staged
  validator in the plan (`unchanged_urls`) and skips typed re-extraction
  for unchanged rows — same saving minus the body bytes.

Scale: validators are one md5 per observation fused into the history scan
`enqueue_recrawl` already performs, then a metadata-sized max_by per URL;
the validator relation is |due set| rows joined co-keyed onto the
scheduled fetch. Nothing transits the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Canonical span serialization: per-span fields joined by unit separator
# (0x1f), spans joined by record separator (0x1e). Both separators are
# impossible in the span fields (URL/text/kind grammar excludes C0
# controls), so the serialization is injective; NULL text/media_ref
# serialize as '' — indistinguishable from empty string BY DESIGN (the
# validator must not depend on whether a server ships '' or null for an
# absent field).
_SER_SPARK = (
    "array_join(transform({col}, s -> concat_ws(chr(31), s.kind,"
    " coalesce(s.text, ''), coalesce(s.media_ref, ''),"
    " cast(s.offset as string))), chr(30))"
)

# DuckDB twin of the same serialization (oracle replay).
DUCK_SPAN_ETAG = (
    "md5(array_to_string(list_transform({col}, s -> concat_ws(chr(31),"
    " s.kind, coalesce(s.text, ''), coalesce(s.media_ref, ''),"
    " CAST(s.offset AS VARCHAR))), chr(30)))"
)


def span_etag(col: str = "spans") -> Column:
    """Strong content validator of one span payload: lowercase md5 hex of
    the canonical serialization. Pure Catalyst — fuses into whatever scan
    produced the spans column."""
    return F.expr(f"md5({_SER_SPARK.format(col=col)})")


def span_etag_py(spans: Iterable[tuple]) -> str:
    """Worker/server twin of `span_etag` over (kind, text, media_ref,
    offset) tuples — byte-identical to the Spark expression (pinned by
    tests/test_revalidate.py)."""
    ser = "\x1e".join(
        "\x1f".join((k, t or "", m or "", str(int(o)))) for k, t, m, o in spans
    )
    return hashlib.md5(ser.encode("utf-8")).hexdigest()


def validators_df(docs: DataFrame, url_col: str = "url") -> DataFrame:
    """documents rows (url, round, status, spans) -> one (url, etag) row
    per URL: the validator of the NEWEST successful observation. 304 rows
    carry no payload and are skipped — the newest 200 is by construction
    the content a later 304 revalidated. One md5 per row fused into the
    scan + one metadata-sized max_by aggregation."""
    ok = docs.filter(F.col("status") == 200)
    return (
        ok.select(F.col(url_col).alias("url"), F.col("round"), span_etag().alias("etag"))
        .groupBy("url")
        .agg(F.max_by("etag", F.col("round")).alias("etag"))
    )


def unchanged_urls(fetched_docs: DataFrame, validators: DataFrame) -> DataFrame:
    """Plan-side change detection for transports/servers WITHOUT
    revalidation support: this round's 200 rows whose refetched payload
    hashes to the staged validator -> (url) rows safe to skip in typed
    re-extraction (their previous extraction is already in the store).
    Candidate-only: the join right side is the staged |due| relation."""
    return (
        fetched_docs.filter(F.col("status") == 200)
        .select("url", span_etag().alias("_etag_now"))
        .join(validators.select("url", "etag"), "url")
        .filter(F.col("_etag_now") == F.col("etag"))
        .select("url")
    )
