"""Recrawl (revisit) scheduling from observed change history.

The reference crawls GEPRIS once, front to back; a continuously-running
crawl must decide WHEN to refetch each known URL. This implements the
classic change-rate policy (Cho & Garcia-Molina, "Effective Page Refresh
Policies for Web Crawlers", TODS 2003: revisit interval inversely
proportional to the observed change rate, clamped to a band) over the
engine's own history: the per-round documents table already carries
(url, round) and a content hash is one xxhash64 over the span payload.

Everything is one shuffle on url (window + groupBy share the partition)
and the output is per-URL metadata rows — at 10^10 URLs this is the same
shape as the url_seen table, and the due-set join back onto the frontier
is the ordinary J1-style co-keyed join. No driver state, no UDFs.

Semantics per URL:
- a *change* is an observation whose content hash differs from the
  previous observation's (first observation is never a change);
- observed change rate = n_changes / (last_round - first_round) when a
  change was ever seen; interval = clamp(span / n_changes, min, max);
- never-changed URLs back off to max_interval;
- single-observation URLs take bootstrap_interval (no evidence yet —
  converges after the next fetch);
- next_due = last_round + interval; due = next_due <= now_round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recrawl_schedule(
    history: DataFrame,
    now_round: int,
    min_interval: int = 1,
    max_interval: int = 64,
    bootstrap_interval: int = 4,
    url_col: str = "url",
    round_col: str = "round",
    hash_col: str = "content_hash",
) -> DataFrame:
    """history (url, round, content_hash; one row per observation) ->
    one row per url: (url, n_obs, n_changes, last_round, interval,
    next_due, due). Duplicate (url, round) rows are tolerated: the last
    hash per (url, round) wins deterministically (max), matching an
    idempotent re-run of the same round."""
    if not (1 <= min_interval <= max_interval):
        raise ValueError(
            f"need 1 <= min_interval <= max_interval, got {min_interval}, {max_interval}"
        )
    obs = history.groupBy(
        F.col(url_col).alias("url"), F.col(round_col).cast("int").alias("rnd")
    ).agg(F.max(hash_col).alias("h"))
    w = Window.partitionBy("url").orderBy("rnd")
    # NULL hash = a revalidated-unchanged observation (a 304 conditional
    # refetch carries no payload to hash): forward-fill from the last
    # hashed observation so it counts as no-change evidence — and so a
    # LATER real change still compares against the revalidated content,
    # not against NULL. Same shuffle: the fill window shares the
    # partition/order of the change-marking window.
    filled = obs.withColumn(
        "h",
        F.last("h", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    marked = filled.withColumn(
        "changed",
        F.when(F.lag("h").over(w).isNull(), F.lit(0))
        .when(F.col("h") != F.lag("h").over(w), F.lit(1))
        .otherwise(F.lit(0)),
    )
    per_url = marked.groupBy("url").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        F.sum("changed").cast("bigint").alias("n_changes"),
        F.min("rnd").alias("first_round"),
        F.max("rnd").alias("last_round"),
    )
    boot = max(min(bootstrap_interval, max_interval), min_interval)
    interval = (
        F.when(F.col("n_obs") < 2, F.lit(boot))
        .when(F.col("n_changes") == 0, F.lit(max_interval))
        .otherwise(
            F.greatest(
                F.least(
                    F.floor((F.col("last_round") - F.col("first_round")) / F.col("n_changes")),
                    F.lit(max_interval),
                ),
                F.lit(min_interval),
            )
        )
    )
    out = per_url.withColumn("interval", interval.cast("int"))
    return out.select(
        "url",
        "n_obs",
        "n_changes",
        F.col("last_round").cast("int").alias("last_round"),
        "interval",
        (F.col("last_round") + F.col("interval")).cast("int").alias("next_due"),
        ((F.col("last_round") + F.col("interval")) <= F.lit(int(now_round))).alias("due"),
    )


def due_frontier(schedule: DataFrame, frontier_like: DataFrame) -> DataFrame:
    """Due URLs joined back onto their last-known frontier metadata —
    the refetch candidate set. Callers feed this through the same
    politeness scheduler as fresh discoveries; the engine commits a
    seen_tombstones delta for exactly this set, which drops its past seen
    rows so the exact anti-join readmits it."""
    due = schedule.filter(F.col("due")).select("url")
    return frontier_like.join(due, "url", "left_semi")
