"""Vectorized fetch stage: Arrow-batched pandas UDF over frontier batches.

The network is a pluggable Transport (operators/transport.py). Default:
the deterministic synthetic site (sources/synthetic_site), where
`render_page(cfg, url)` regenerates any page from the URL alone, so every
executor fetches its partition independently. `HttpTransport` swaps in
real sockets with the identical batch shape (mapInPandas batch -> bounded
async HTTP inside the batch — the reference's mapAsync(10)), with the
reference's semantics mapped as:

- mapAsync(10) in-flight cap            -> politeness `slot` waves computed
  upstream (operators/politeness.py); the UDF charges virtual time
  slots/rate per host and reports it in the `virtual_cost_sec` column
- non-200 -> throw (stream dies)        -> non-200 becomes a status row;
  quarantined by the round loop, never crashes the job
  (reference: CrawledResourceDetailDataGraph.scala:43-46)
- cookie zip (CookieFlowGraph)          -> session token broadcast, echoed
  into the fetch call (no per-row state)

Partitioning: the caller repartitions by host_bucket (salted), so one hot
host spreads across the cluster while politeness budgets stay global.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ba_gepris_crawler_spark.schema import SPANS_TYPE
from ba_gepris_crawler_spark.sources.synthetic_site import SiteConfig

# html and json fetch formats share ONE wire format across the Arrow
# boundary: a body string per page, parsed into list<struct> JVM-side by
# from_json inside fetch_pages (no per-span Python objects in transit)
JSON_FETCH_RESULT_FIELDS = [
    T.StructField("status", T.IntegerType(), False),
    T.StructField("body", T.StringType(), True),
    T.StructField("virtual_cost_sec", T.DoubleType(), False),
]


def fetch_pages(
    scheduled: DataFrame,
    site_cfg: SiteConfig,
    n_buckets: int = 32,
    session_token: str | None = None,
    epoch: int = 0,
    fmt: str = "html",
    transport=None,
    validators: DataFrame | None = None,
) -> DataFrame:
    """scheduled: output of politeness.schedule_round(...).fetch_now —
    its `host_rate` and `host_max_slot` columns price the virtual cost.
    Returns the same rows + (status, spans, virtual_cost_sec).

    Cookie flow: the (possibly stale) session token is broadcast; a 401
    response triggers an ON-WORKER re-fetch of the session endpoint +
    one retry (the reference's re-fetch-on-demand,
    CookieFlowGraph.scala:30-58) — no driver round-trip, once per batch.

    fmt="json" hits the JSON-API endpoint instead (the reference's dormant
    S7 source, CrawledResourceDetailDataFromJsonAPIGraph.scala:15-46): the
    worker returns the RAW body string. For fmt="html" the worker parses
    the page and serializes its spans to ONE json string per page
    (spans_to_json_body). Either way the span parse happens in the PLAN
    via from_json — JVM-side, no Python — which measured 1.75-2.2x faster
    end to end than shipping a pandas list-of-dicts column
    (BENCH/BASELINE.md round-4 A/B); both formats' crawls are byte-equal.

    validators: optional (url, etag) relation (operators/revalidate.py —
    staged by enqueue_recrawl for the due set). Joined co-keyed onto the
    scheduled rows; each row's etag rides to the worker and out as a
    conditional request (If-None-Match), so an unchanged page answers 304
    with NO body — re-seen and budget-charged, nothing re-parsed. The
    transport's fetch_batch takes the `etags` keyword (None when no
    validators were joined).

    transport: the pluggable network seam (operators/transport.py).
    None (default) = SyntheticTransport, the in-process deterministic
    site; pass an HttpTransport for real sockets. The transport is
    pickled into the mapInPandas closure and runs per Arrow batch on the
    executors — it owns per-batch concurrency and the 401 -> refresh
    session -> retry-once flow."""
    from ba_gepris_crawler_spark.operators.transport import SyntheticTransport

    spark = scheduled.sparkSession
    cfg_bc = spark.sparkContext.broadcast(site_cfg)
    token_bc = spark.sparkContext.broadcast(session_token)  # session/cookie analog
    as_json = fmt == "json"
    if transport is None:
        transport = SyntheticTransport()
    if validators is not None:
        # attach each due URL's validator; co-keyed join (AQE broadcasts
        # when the staged due set is small). Rows without one (first
        # fetch, or a quarantined history) fetch unconditionally.
        scheduled = scheduled.join(validators.select("url", "etag"), "url", "left")

    in_schema = scheduled.schema
    # host_max_slot and host_rate are scheduler-planted pricing inputs and
    # etag a validator input, not fetch outputs: consume them below, keep
    # the output schema transport-stable
    passthrough = [
        fld for fld in in_schema.fields
        if fld.name not in ("host_max_slot", "host_rate", "etag")
    ]
    out_schema = T.StructType(passthrough + JSON_FETCH_RESULT_FIELDS)

    def do_fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE span-json writer repo-wide (synthetic_site.spans_to_json_body):
        # the revalidation etags and the byte-equality pin between the
        # html and json fetch formats depend on it never forking
        from ba_gepris_crawler_spark.sources.synthetic_site import spans_to_json_body

        cfg = cfg_bc.value
        token = token_bc.value  # sent with every request
        for pdf in batches:
            # one transport round-trip per Arrow batch: the transport owns
            # in-batch concurrency and the 401 -> refresh -> retry flow.
            # Conditional refetch: NaN/None (no staged validator) fetch
            # unconditionally
            etags = (
                [e if isinstance(e, str) else None for e in pdf["etag"]]
                if "etag" in pdf.columns else None
            )
            statuses, raw = transport.fetch_batch(
                cfg, list(pdf["url"]), token, epoch, as_json, etags=etags
            )
            # json: raw body strings; html: the worker-parsed spans,
            # serialized — both parsed by from_json in the plan below
            body = raw if as_json else [spans_to_json_body(pl) for pl in raw]
            # virtual politeness cost: each slot-wave of a host costs
            # 1/host_rate (the rate the budget cut used upstream), times
            # the host's GLOBAL last wave host_max_slot (exact even when a
            # host spans salted buckets / Arrow batches)
            cost = (pdf["host_max_slot"].astype("float64") / pdf["host_rate"]).astype("float64")
            res = pdf.assign(status=pd.Series(statuses, index=pdf.index, dtype="int32"), virtual_cost_sec=cost, body=body)
            yield res[[f.name for f in out_schema.fields]]  # schema column order

    # Salted-bucket repartition: spreads any single host over the cluster.
    wire = scheduled.repartition(n_buckets, "host_bucket").mapInPandas(do_fetch, schema=out_schema)
    body_schema = T.StructType([T.StructField("spans", SPANS_TYPE, True)])
    return wire.withColumn(
        "spans", F.from_json(F.col("body"), body_schema).getField("spans")
    ).drop("body")


def fetch_raw_bodies(
    urls: DataFrame,
    site_cfg: SiteConfig,
    transport=None,
    n_buckets: int = 32,
) -> DataFrame:
    """Fetch site-METADATA endpoints (robots.txt, sitemap.xml) whose
    payload is a raw text body riding a single 'raw' span: urls
    (url, host) -> (url, host, status, body). Same executor-side batch
    shape as fetch_pages — bodies never transit the driver, so a 10^6-host
    bootstrap is |hosts| distributed rows — but unauthenticated (robots is
    fetched before any session exists) and outside politeness (RFC 9309
    reads robots BEFORE the budget it defines can apply; one fetch per
    host per bootstrap is the accepted cost)."""
    from ba_gepris_crawler_spark.operators.transport import SyntheticTransport

    if transport is None:
        transport = SyntheticTransport()
    spark = urls.sparkSession
    cfg_bc = spark.sparkContext.broadcast(site_cfg)
    out_schema = T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("body", T.StringType(), True),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cfg = cfg_bc.value
        for pdf in batches:
            statuses, payloads = transport.fetch_batch(
                cfg, list(pdf["url"]), None, 0, False
            )
            bodies = [
                next((t for k, t, _m, _o in pl if k == "raw"), None) if st == 200 else None
                for st, pl in zip(statuses, payloads)
            ]
            yield pd.DataFrame({
                "url": pdf["url"], "host": pdf["host"],
                "status": pd.Series(statuses, index=pdf.index, dtype="int32"),
                "body": bodies,
            })

    return urls.select("url", "host").repartition(n_buckets, "host").mapInPandas(
        kernel, schema=out_schema
    )


def to_documents(fetched: DataFrame, round_no: int, keep_errors: bool = False) -> DataFrame:
    """Fetches -> crawled-documents rows (doc_id = type/id or
    catalog/<host>/<index>). With keep_errors=True, non-200 rows are kept
    (empty spans) plus the politeness lineage columns (priority, host_bucket,
    host_rank, virtual_cost_sec) — the write-once layout: the round writes
    this table straight off the fetch stage and every later pass (stats,
    crawl log, discovery, extraction) re-reads it with column pruning
    instead of holding a second in-memory columnar copy of all spans."""
    base = fetched if keep_errors else fetched.filter(F.col("status") == 200)
    out = (
        base.withColumn(
            "doc_id",
            F.when(
                F.col("resource_id").isNotNull(),
                F.concat_ws("/", "resource_type", "resource_id"),
            ).otherwise(
                F.concat(
                    F.lit("catalog/"),
                    F.col("resource_type"),
                    F.lit("/"),
                    F.col("host"),
                    F.lit("/"),
                    F.regexp_extract("url", "index=(\\d*)", 1),
                )
            ),
        )
        .withColumn("round", F.lit(round_no).cast("int"))
    )
    cols = ["doc_id", "url", "host", "resource_type", "resource_id", "crawl_depth", "round", "status", "spans"]
    if keep_errors:
        cols += ["priority", "host_bucket", "host_rank", "virtual_cost_sec"]
    return out.select(*cols)
