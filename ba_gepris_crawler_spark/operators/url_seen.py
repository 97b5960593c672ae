"""URL-seen filter: partitioned bloom shards + exact anti-join backstop.

Pipeline (north rule): canonicalize -> xxhash64 -> per-partition bloom
shards, merged via treeReduce (the one deliberate drop below the DataFrame
API, SURVEY.md §4.2); membership tests run vectorized (numpy over Arrow
batches). The bloom flags each frontier row `_maybe_seen`: rows the bloom
rejects are *definitely new*, rows it admits may be seen. The exact
`left_anti` join against the url_seen table carries the flag as a join
residual, so only flagged rows can match and the final seen-set semantics
are exact — matching the reference's exact CSV set-diff
(CrawlResourceDetailsGraph.scala:47-53). The flag does NOT shrink the
join: every frontier row, bloom-negative or not, is still shuffled and
sorted into it (the physical plan is one SortMergeJoin LeftAnti with
condition `_maybe_seen` over an Exchange of the whole frontier). The
shards themselves stay executor-resident.

Sizing: m = ceil(-n ln(fpp) / ln(2)^2) bits, k = max(1, round(m/n ln 2)).
At 10^10 URLs / 1% fpp this is ~12 GB of bits — sharded by url_hash range
across executors in a real deployment; the sandbox build keeps one merged
bitmap broadcast to all workers (same code path, fewer shards).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass
class BloomFilterModel:
    bits: np.ndarray  # uint8 bitmap
    m: int  # number of bits
    k: int  # number of hash probes
    n_items: int
    version: int = 0
    # lazily-created broadcast of (bits, m, k) — ONE per model instance,
    # reused across every split_by_bloom call (the stream probes the same
    # model many times per wave) and released via unpersist_broadcast()
    # when the engine replaces the model. Without this, every round/batch
    # broadcast a fresh bitmap-sized copy that was never cleaned up:
    # rounds x bitmap-size of executor memory leaked over a long crawl.
    _bc: object = field(default=None, repr=False, compare=False)

    def broadcast(self, spark):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast((self.bits, self.m, self.k))
        return self._bc

    def unpersist_broadcast(self) -> None:
        """Drop executor copies of this model's bitmap broadcast (the
        driver keeps the value, so a late lineage replay just re-fetches).
        Call when the model is superseded — never mid-round."""
        if self._bc is not None:
            self._bc.unpersist(blocking=False)
            self._bc = None

    def estimated_fpp(self) -> float:
        """Current expected false-positive rate at n_items insertions:
        (1 - e^(-k n / m))^k. The incremental update path grows n_items,
        so a filter outgrowing its sizing is DETECTABLE — the engine
        rebuilds (resized) once this passes its saturation threshold
        instead of silently degrading the admission gate."""
        if self.m <= 0:
            return 1.0
        return float((1.0 - math.exp(-self.k * self.n_items / self.m)) ** self.k)

    def might_contain_vec(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Vectorized membership test over two 64-bit hash columns
        (double-hashing: g_i = h1 + i*h2 mod m)."""
        if self.m == 0:
            return np.zeros(len(h1), dtype=bool)
        out = np.ones(len(h1), dtype=bool)
        h1u = h1.astype(np.uint64)
        h2u = h2.astype(np.uint64)
        m = np.uint64(self.m)
        for i in range(self.k):
            pos = (h1u + np.uint64(i) * h2u) % m
            out &= (self.bits[(pos >> np.uint64(3)).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
        return out


def _params(expected_items: int, fpp: float) -> tuple[int, int]:
    n = max(expected_items, 1)
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _hash_cols(df: DataFrame, url_col: str) -> DataFrame:
    # two independent 64-bit hashes: xxhash64(url) and xxhash64(salted url)
    return df.withColumn("_h1", F.xxhash64(F.col(url_col))).withColumn(
        "_h2", F.xxhash64(F.concat(F.col(url_col), F.lit("\x01bloom")))
    )


def build_bloom(
    seen: DataFrame,
    url_col: str = "url",
    expected_items: int | None = None,
    fpp: float = 0.01,
    version: int = 0,
    m: int | None = None,
    k: int | None = None,
) -> BloomFilterModel:
    """Build per-partition bitmap shards, merge via treeReduce(OR). Pass
    m/k to build a delta shard compatible with an existing filter."""
    n = expected_items if expected_items is not None else seen.count()
    if m is None or k is None:
        m, k = _params(n, fpp)
    nbytes = m // 8

    hashed = _hash_cols(seen, url_col).select("_h1", "_h2")

    def set_bits(bits: np.ndarray, h1a: np.ndarray, h2a: np.ndarray) -> None:
        mm = np.uint64(m)
        for i in range(k):
            pos = (h1a + np.uint64(i) * h2a) % mm
            np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64), (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))

    def shard_pd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Arrow-vectorized shard build: hash columns stream through numpy
        # batch by batch (the per-partition peak is one Arrow batch + the
        # bitmap — NEVER the partition's rows as boxed Python objects);
        # one (bitmap, inserted-row-count) row per partition comes out.
        # Counting here is FREE (the kernel already scans every row), and
        # it is what keeps the returned model's n_items the ACTUAL
        # insertion count rather than the design capacity — see below.
        bits = np.zeros(nbytes, dtype=np.uint8)
        cnt = 0
        for pdf in batches:
            if len(pdf):
                cnt += len(pdf)
                set_bits(bits, pdf["_h1"].to_numpy().astype(np.uint64), pdf["_h2"].to_numpy().astype(np.uint64))
        yield pd.DataFrame({"bits": [bits.tobytes()], "cnt": [cnt]})

    if nbytes <= 64 * 1024 * 1024:
        # Small shards: collect the per-partition bitmaps and OR on the
        # driver. Driver-memory guard: the collect brings nbytes *
        # n_partitions onto the heap — a many-file url_seen union could
        # exceed it, so coalesce first when the shard volume would pass
        # ~2 GiB (the treeReduce path below stays the giant escape hatch).
        max_collect = 2 << 30
        n_parts = hashed.rdd.getNumPartitions()
        if nbytes * max(n_parts, 1) > max_collect:
            hashed = hashed.coalesce(max(1, max_collect // nbytes))

        bits = np.zeros(nbytes, dtype=np.uint8)
        n_inserted = 0
        for row in hashed.mapInPandas(shard_pd, schema="bits binary, cnt long").collect():
            bits |= np.frombuffer(row["bits"], dtype=np.uint8)
            n_inserted += row["cnt"]
    else:
        # Giant filters (10^10-URL regime): the SAME Arrow-batched shard
        # kernel, but the per-partition bitmaps stay executor-resident and
        # merge pairwise via treeReduce — never collected in one piece,
        # and never a partition's rows materialized as Python lists (that
        # was tens of GB of boxed ints per task in exactly the regime this
        # branch exists for).
        shards = (
            hashed.mapInPandas(shard_pd, schema="bits binary, cnt long")
            .rdd.map(lambda r: (np.frombuffer(r["bits"], dtype=np.uint8), int(r["cnt"])))
        )
        # shard_pd yields exactly one row per input partition (even an
        # empty partition emits its zero bitmap), so the RDD is empty iff
        # it has ZERO partitions — a free driver-side check. isEmpty()
        # here was take(1): it ran shard_pd over partition 0 and threw the
        # multi-GB-regime bitmap away, one full extra shard-build task per
        # giant build/delta (review r5 tail).
        if shards.getNumPartitions() == 0:
            bits, n_inserted = np.zeros(nbytes, dtype=np.uint8), 0
        else:
            bits, n_inserted = shards.treeReduce(
                lambda a, b: (np.bitwise_or(a[0], b[0]), a[1] + b[1])
            )
    # n_items is the ACTUAL inserted row count (aggregated for free by the
    # shard kernel), NOT the design capacity: seeding it with
    # expected_items made estimated_fpp() start at the design fpp on a
    # near-empty filter, so the round loop's saturation gate fired after
    # ~1.4x capacity of phantom growth and forced recurring full-seen-set
    # rebuilds — the scan the incremental path exists to avoid (review r5
    # tail #2). expected_items only sizes (m, k).
    return BloomFilterModel(bits=bits, m=m, k=k, n_items=n_inserted, version=version)


def update_bloom(
    bloom: BloomFilterModel, delta: DataFrame, url_col: str = "url"
) -> BloomFilterModel:
    """Incremental filter maintenance: OR the delta's shard into the
    existing bitmap (same m/k). Avoids rescanning the full seen set every
    round — at a 10^10-URL frontier the rebuild would dominate the round.

    n_items GROWS by the delta size so estimated_fpp() sees saturation (a
    frozen n_items made the gate blind). The size comes FREE from the
    shard build's own row counting — no delta.count() job per round/
    trigger (review r5 tail #3). There is deliberately no caller-supplied
    count override: the kernel's count is authoritative, and an override
    taken before a dedup/filter on the delta would silently skew
    estimated_fpp() — the exact blind-saturation-gate drift the kernel
    count exists to prevent."""
    shard = build_bloom(delta, url_col=url_col, expected_items=0, m=bloom.m, k=bloom.k)
    return BloomFilterModel(
        bits=np.bitwise_or(bloom.bits, shard.bits),
        m=bloom.m,
        k=bloom.k,
        n_items=bloom.n_items + shard.n_items,
        version=bloom.version + 1,
    )


def flag_by_bloom(
    frontier: DataFrame, bloom: BloomFilterModel, url_col: str = "url"
) -> DataFrame:
    """Frontier + boolean `_maybe_seen`: bloom-negative rows are provably
    unseen (no false negatives); positives need the exact anti-join
    backstop. ONE probe pass — the tuple-returning split filters this
    frame twice, and Spark re-runs the unshared subtree per branch: the
    whole frontier lineage (a groupBy) plus the Arrow/numpy membership
    pass executed twice per round (review r5 ops #3). new_urls consumes
    the flagged frame directly. Membership test is Arrow-batched numpy —
    no per-row Python."""
    spark = frontier.sparkSession
    bc = bloom.broadcast(spark)  # one broadcast per model, not per call
    hashed = _hash_cols(frontier, url_col)
    # copy the fields: df.schema is cached by the DataFrame and .add mutates
    out_schema = T.StructType(list(hashed.schema.fields)).add("_maybe_seen", "boolean")

    def test(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits, m, k = bc.value
        model = BloomFilterModel(bits=bits, m=m, k=k, n_items=0)
        for pdf in batches:
            mask = model.might_contain_vec(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy())
            yield pdf.assign(_maybe_seen=mask)

    return hashed.mapInPandas(test, schema=out_schema).drop("_h1", "_h2")


def split_by_bloom(
    frontier: DataFrame, bloom: BloomFilterModel, url_col: str = "url"
) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen) tuple view of flag_by_bloom — for
    callers that genuinely need the two frames; each filter re-runs the
    probe subtree, so the hot path (new_urls) uses the flagged frame."""
    flagged = flag_by_bloom(frontier, bloom, url_col)
    return (
        flagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen"),
        flagged.filter(F.col("_maybe_seen")).drop("_maybe_seen"),
    )


def new_urls(
    frontier: DataFrame,
    url_seen: DataFrame,
    bloom: BloomFilterModel | None = None,
    url_col: str = "url",
) -> DataFrame:
    """J1, THE core crawl operator: frontier minus seen. Exact semantics
    always; the bloom flag (when a model is provided) is a residual of the
    exact anti-join's condition, so it can never change which URLs are
    admitted — and it does not keep any frontier row out of the join's
    shuffle either.

    `url_col` names the URL column in BOTH frames — the seen side is no
    longer hard-coded to "url" (a non-default url_col either crashed or
    silently joined the wrong keys; review r5 ops #6)."""
    # NO dedup on the seen side: left_anti is duplicate-tolerant on its
    # right, and url_seen rows are unique per URL by construction anyway —
    # a dropDuplicates here would full-shuffle the largest table in the
    # system (10^9+ rows) every round for identical join results
    seen_keys = url_seen.select(F.col(url_col))
    if bloom is None:
        return frontier.join(seen_keys, url_col, "left_anti")
    # flagged frame, ONE pass: the anti-join's residual condition lets
    # only _maybe_seen rows match — flagged-false rows match nothing and
    # are kept, without the two-branch union re-running the frontier
    # lineage + probe per branch (they still cross the join's exchange)
    f = flag_by_bloom(frontier, bloom, url_col).alias("_f")
    s = seen_keys.alias("_s")
    cond = (F.col(f"_f.{url_col}") == F.col(f"_s.{url_col}")) & F.col("_f._maybe_seen")
    return f.join(s, cond, "left_anti").drop("_maybe_seen")
