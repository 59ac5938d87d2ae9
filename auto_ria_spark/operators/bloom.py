"""Partitioned Bloom-filter URL-seen set.

The reference's durable URL-seen set is a PostgreSQL unique index probed
point-wise and via IN-lists (reference: app/utils/db_utils.py:20-76,
app/core/models.py:52,68).  At a 10^10-URL frontier an exact index probe
per candidate is the bottleneck, so the engine splits the seen set into
``num_shards`` Bloom-filter shards keyed by ``pmod(url_hash, num_shards)``:

* **probe** — candidates are pre-screened against their shard's bitset in
  one vectorized numpy pass per Arrow batch (``mapInPandas``).  A negative
  is definitive (Bloom has no false negatives) → the URL is certainly new
  and skips the exact join.  A positive is *maybe seen* → only those rows
  proceed to the exact ``left_anti`` join against the ``seen_urls`` table.
  At a ~1% FPR the exact join probes ~1% + true-dup% of candidates instead
  of 100%.
* **build** — newly admitted URLs are merged into their shard's bitset via
  ``applyInPandas`` grouped by shard (one task per shard, each OR-ing k bit
  positions into its own bitset).  Shard state lives in the ``seen_filters``
  snapshot table ``(shard int, bitset binary, n_items long, updated_wave
  int)`` so resume restores the filters together with the exact table.

Sizing (config.CrawlConfig): at 10^10 URLs, 4096 shards x 2^30-bit bitsets
(128 MiB each) with k=7 gives m/n ~ 4400/2.4M per shard... concretely
m = 2^30, n = 10^10/4096 ~ 2.44e6 -> m/n ~ 440, FPR ~ (1-e^{-kn/m})^k
~ 1e-15; even 2^27 bits/shard keeps FPR < 1e-4.  Tests use tiny shards;
the arithmetic is identical.

Bit positions use double hashing h_i = h1 + i*h2 (Kirsch-Mitzenmacher)
derived from the 64-bit url_hash via splitmix64 finalizers — no string
re-hashing executor-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FILTER_SCHEMA = "shard int, bitset binary, n_items long, updated_wave int"

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — public-domain mixing constants."""
    x = (x + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    x = ((x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    x = ((x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return x ^ (x >> np.uint64(31))


def _bit_positions(hashes: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing from the 64-bit url_hash."""
    h = hashes.astype(np.int64).view(np.uint64)
    h1 = _splitmix64(h)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd -> full-period stride
    i = np.arange(k, dtype=np.uint64)
    return ((h1[:, None] + i[None, :] * h2[:, None]) & _MASK) % np.uint64(m_bits)


def _set_bits(bitset: np.ndarray, pos: np.ndarray) -> None:
    flat = pos.reshape(-1)
    np.bitwise_or.at(bitset, flat >> np.uint64(3),
                     np.left_shift(np.uint8(1), (flat & np.uint64(7)).astype(np.uint8)))


def _test_bits(bitset: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """row-wise AND over k probes -> boolean maybe-member per row."""
    byte = bitset[(pos >> np.uint64(3)).astype(np.int64)]
    bit = np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8))
    return ((byte & bit) != 0).all(axis=1)


def shard_of(url_hash_col, num_shards: int):
    return F.pmod(url_hash_col, F.lit(num_shards)).cast("int")


# session-keyed expression cache: build/probe run every wave; rebuilding
# the same Column trees is pure py4j round-trip cost (see politeness.py).
# WeakKeyDictionary on the session OBJECT: entries die with the session,
# and a restarted session can never collide with a reused id() the way an
# id-keyed dict could after garbage collection.
from weakref import WeakKeyDictionary  # noqa: E402

_EXPR_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def _build_exprs(num_shards: int):
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    per = _EXPR_CACHE.setdefault(spark, {}) if spark is not None else {}
    hit = per.get(num_shards)
    if hit is None:
        hit = (
            [shard_of(F.col("url_hash"), num_shards).alias("shard"),
             F.col("url_hash").cast("string").alias("url_hash_str")],
            ["shard", F.col("bitset").alias("prior_bitset"),
             F.col("n_items").alias("prior_n")],
        )
        per[num_shards] = hit
    return hit


def build_filters(
    new_urls: DataFrame,
    prior_filters: DataFrame | None,
    *,
    num_shards: int,
    m_bits: int,
    k: int,
    wave: int,
) -> DataFrame:
    """Merge new url_hashes into per-shard bitsets.

    ``new_urls`` needs a ``url_hash`` column.  Returns the FULL replacement
    ``seen_filters`` content (all shards, updated), computed with one
    ``applyInPandas`` task per shard — the shard is the unit of parallelism,
    exactly how a 4096-shard production build spreads over executors.  The
    new hashes are COGROUPED with their shard's prior bitset, so each task
    loads the bitset once (a join would copy it onto every new row: 2^24
    bits x 20k rows is 40 GB of shuffle and Arrow traffic).
    """
    spark = new_urls.sparkSession
    # url_hash rides as a string: a nullable long surfaces in pandas as
    # float64 when a batch holds a null, which silently corrupts hashes
    # above 2^53 (false negatives!) — strings round-trip exactly.
    hashed_cols, prior_cols = _build_exprs(num_shards)
    hashed = new_urls.select(*hashed_cols)
    if prior_filters is None:
        from auto_ria_spark.util import local_df

        prior_filters = local_df(
            spark,
            [(s, bytes(m_bits // 8), 0, -1) for s in range(num_shards)],
            FILTER_SCHEMA,
        )
    prior = prior_filters.select(*prior_cols)

    def merge(new: pd.DataFrame, old: pd.DataFrame) -> pd.DataFrame:
        if not len(new) or not len(old):
            # untouched shard: passes through unchanged below
            return pd.DataFrame(columns=["shard", "bitset", "n_items",
                                         "updated_wave"])
        shard = int(old["shard"].iloc[0])
        bitset = np.frombuffer(old["prior_bitset"].iloc[0], np.uint8).copy()
        n = int(old["prior_n"].iloc[0])
        raw = new["url_hash_str"].dropna()
        hashes = np.array([int(v) for v in raw], dtype=np.int64)
        if len(hashes):
            _set_bits(bitset, _bit_positions(hashes, k, m_bits))
        return pd.DataFrame(
            {"shard": [shard], "bitset": [bitset.tobytes()],
             "n_items": [n + len(hashes)], "updated_wave": [wave]}
        )

    # incremental: only shards that gained URLs run the pandas merge; the
    # untouched shards pass through unchanged (at 4096 shards a wave rarely
    # touches them all)
    touched = hashed.select("shard").distinct()
    merged = hashed.groupBy("shard").cogroup(prior.groupBy("shard")) \
        .applyInPandas(merge, schema=FILTER_SCHEMA)
    untouched = prior_filters.join(touched, "shard", "left_anti")
    return merged.unionByName(untouched)


def probe_filters(
    candidates: DataFrame,
    filters: DataFrame | None,
    *,
    num_shards: int,
    m_bits: int,
    k: int,
    cand_cols: list[str] | None = None,
    cand_schema: str | None = None,
) -> DataFrame:
    """Add boolean ``maybe_seen`` to candidates (needs ``url_hash``).

    Shard-partitioned probe: candidates are repartitioned by their shard
    key and **cogrouped** with the filter table, so each task materializes
    its shard's bitset exactly once and probes all of its candidates in a
    single vectorized pass.  (A broadcast-join-then-mapInPandas would
    replicate the bitset into every candidate row's Arrow batch — at the
    production sizing of 2^27-2^30 bits that is 16-128 MiB *per row* of
    Arrow traffic, a scale-killer.)  At 10^10 scale both sides are bucketed
    by url_hash, so this cogroup is shuffle-free on the candidate side.

    False => certainly new; True => must pass the exact anti-join.
    """
    if filters is None:
        return candidates.withColumn("maybe_seen", F.lit(False))
    with_shard = candidates.withColumn(
        "__shard", shard_of(F.col("url_hash"), num_shards))
    flt = filters.select("shard", "bitset")

    # caller-supplied shape skips a full analysis-triggering schema access
    if cand_schema is None:
        cand_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in candidates.schema.fields)
    if cand_cols is None:
        cand_cols = [f.name for f in candidates.schema.fields]
    out_schema = cand_schema + ", maybe_seen boolean"

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if not len(left):
            return pd.DataFrame(columns=[*cand_cols, "maybe_seen"])
        maybe = np.zeros(len(left), bool)
        if len(right):
            # the bitset is loaded ONCE per (shard, task), not per row
            bitset = np.frombuffer(right["bitset"].iloc[0], np.uint8)
            hashes = left["url_hash"].to_numpy(np.int64)
            maybe = _test_bits(bitset, _bit_positions(hashes, k, m_bits))
        out = left[cand_cols].copy()
        out["maybe_seen"] = maybe
        return out

    return (
        with_shard.groupBy("__shard")
        .cogroup(flt.groupBy("shard"))
        .applyInPandas(probe, schema=out_schema)
    )
