"""Politeness budgets, robots gating, hot-host skew salting.

The reference bounds load with a single ``asyncio.Semaphore(SCRAPER_
CONCURRENCY)`` (reference: app/scraper/autoria.py:216,221) plus a 1 s
inter-page sleep (autoria.py:341) and phone-XHR jitter (parsers/
car_page.py:272,295,298).  The engine's analogue is *per-host per-wave
fetch budgets*: of all eligible frontier rows of a kind, at most B per
host are fetched in a wave; the rest stay queued.  Listing budget is 1 —
that serializes pagination per host exactly like the reference's
sequential while-loop, which is what makes crawl order reproducible.

Scale shape: a plain ``row_number() OVER (PARTITION BY host ...)`` puts
one host's entire pending set through a single window partition — at
10^10 URLs on a hot host (auto.ria.com) that is THE skew bottleneck.  So
top-B-per-host runs in two phases:

  phase 1: salt = pmod(url_hash, salt_n)  (salt_n sized so each salted
           group holds <= ~salt_target rows); per-(host, salt) top-B via
           window — bounded partitions, fully parallel;
  phase 2: global per-host top-B over the <= salt_n*B phase-1 survivors —
           tiny by construction.

B is small (SCRAPER_CONCURRENCY ~ 5), so phase 2 sees at most a few
thousand rows per host regardless of frontier size.

Robots gating is an engine addition the north rule requires (the
reference has none): a small broadcast rules table (host, path_prefix,
allowed) filters URLs before they are fetched or admitted to `seen`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# expression cache: the crawl engine calls top_b_per_host three times per
# wave with the same (budget, order, salt_n) — rebuilding the window
# expressions is pure py4j round-trip cost (the measured per-wave driver
# overhead).  WeakKeyDictionary on the session OBJECT: a restarted session
# can never be served stale JVM references (an id()-keyed dict could,
# after the old session is garbage-collected and its id reused), and
# entries die with their session.
from weakref import WeakKeyDictionary  # noqa: E402

_EXPR_CACHE: WeakKeyDictionary = WeakKeyDictionary()


def _order_expr(spec):
    """str -> ascending column; (name, direction) -> directed column, e.g.
    ("priority_price", "asc_nulls_last") — the priority-mode hook."""
    if isinstance(spec, str):
        return F.col(spec)
    name, direction = spec
    return getattr(F.col(name), direction)()


def _top_b_exprs(budget: int, order_cols: tuple, salt_n: int):
    spark = SparkSession.getActiveSession()
    per = _EXPR_CACHE.setdefault(spark, {}) if spark is not None else {}
    key = (budget, order_cols, salt_n)
    hit = per.get(key)
    if hit is not None:
        return hit
    order = [_order_expr(c) for c in order_cols]
    salt = F.pmod(F.col("url_hash"), F.lit(salt_n))
    r1 = F.row_number().over(
        Window.partitionBy("host", "__salt").orderBy(*order))
    r1_ok = F.col("__r1") <= budget
    r2 = F.row_number().over(Window.partitionBy("host").orderBy(*order))
    r2_ok = F.col("__r2") <= budget
    per[key] = (salt, r1, r1_ok, r2, r2_ok)
    return per[key]


def salt_n_for(pending_bound: int, salt_target: int) -> int:
    """Adaptive phase-1 salt width: enough sub-partitions that no salted
    group exceeds ~``salt_target`` rows, given an UPPER BOUND on the
    hottest host's pending count.  1 ⟹ the two-phase construction
    degenerates to a single exact window (top_b_per_host skips phase 1 —
    one exchange+sort instead of two); capped so phase 2 stays tiny
    (salt_n·B rows per host) even under a wildly conservative bound."""
    if pending_bound <= salt_target:
        return 1
    return min(-(-pending_bound // salt_target), 1 << 14)


def top_b_per_host(
    df: DataFrame,
    budget: int,
    order_cols: list[str],
    *,
    salt_n: int = 64,
) -> DataFrame:
    """Deterministic top-``budget`` rows per host, ordered by ``order_cols``.

    Two-phase salted top-k (see module docstring); with ``salt_n <= 1``
    the salted pre-pass is pure overhead (one global window already sees
    bounded partitions) and is skipped outright — the engine sizes
    ``salt_n`` per wave from observed pending counts (``salt_n_for``), so
    small frontiers pay a single window while a 10^10-row hot host gets
    ``ceil(pending / salt_target)`` phase-1 partitions.  ``order_cols``
    must be a total order within a host (we use the crawl-order key) so
    the selection is reproducible run-over-run — and therefore identical
    for every ``salt_n`` (phase 1 keeps each salted group's top-B, a
    superset of the host's global top-B).
    """
    if budget <= 0:
        return df.limit(0)
    salt, r1, r1_ok, r2, r2_ok = _top_b_exprs(
        budget, tuple(order_cols), max(salt_n, 1))
    if salt_n > 1:
        # phase 1: salted pre-top-B (bounded window partitions)
        df = (
            df.withColumn("__salt", salt)
            .withColumn("__r1", r1)
            .filter(r1_ok)
            .drop("__r1", "__salt")
        )
    # phase 2: exact per-host top-B over <= salt_n * budget survivors
    return (
        df.withColumn("__r2", r2)
        .filter(r2_ok)
        .drop("__r2")
    )


def robots_gate(df: DataFrame, robots: DataFrame | None) -> DataFrame:
    """Drop rows whose (host, path-prefix) a robots rule disallows.

    ``robots`` columns: host, path_prefix, allowed(boolean).  The most
    specific (longest) matching prefix wins (ties: lexicographic prefix,
    then disallow-first — deterministic); no match => allowed.  Applied
    BEFORE fetch and BEFORE seen-admission so disallowed URLs are never
    fetched and never enter the seen set (north_rule / FIXTURES §5).

    ZERO-shuffle plan: the tiny rules table pre-aggregates to ONE row per
    host holding its rules sorted longest-prefix-first, broadcast-joins
    1:1 on host (no row fan-out), and the verdict is a pure array
    expression — ``filter`` the rule array on prefix match, take the
    first element.  The gated frame is never exchanged (the previous
    shape aggregated on every column of ``df`` — a full-width shuffle up
    to 3x per wave).  ``__path`` is staged as a real column first so the
    higher-order ``filter`` lambda captures an attribute, not a
    re-evaluated parse expression.
    """
    if robots is None:
        return df
    from auto_ria_spark.functions.urls import url_path

    host_rules = F.broadcast(
        robots.groupBy(F.col("host").alias("__rhost")).agg(
            F.sort_array(F.collect_list(F.struct(
                (-F.length("path_prefix")).alias("nl"),
                F.col("path_prefix").alias("p"),
                F.col("allowed").alias("a")))).alias("__rules")))
    joined = df.withColumn("__path", url_path(F.col("url_norm"))).join(
        host_rules, F.col("host") == F.col("__rhost"), "left")
    matched = F.filter(
        F.col("__rules"), lambda r: F.col("__path").startswith(r["p"]))
    allowed = F.coalesce(
        F.try_element_at(matched, F.lit(1))["a"], F.lit(True))
    return joined.filter(allowed).drop("__path", "__rhost", "__rules")
