"""The fetch stage — Arrow-batched ``mapInPandas`` over selected frontier rows.

In production this stage holds one HTTP client per partition (iterator-form
``mapInPandas`` keeps state across batches, the analogue of the reference's
single reused ``httpx.AsyncClient``, reference: app/scraper/autoria.py:229-231)
and GETs each URL with a deterministic per-row User-Agent
(``UA_LIST[pmod(url_hash, N)]`` — the seeded version of the reference's
``UserAgent().random`` rotation, reference: app/scraper/autoria.py:74,
parsers/car_page.py:259-262).

In the sandbox the "web" is the deterministic synthetic page-store
(FIXTURES.md §2), so fetch = equi-join frontier→pages on url_hash followed
by this same mapInPandas stage, which decides the HTTP *outcome* per row:

* listing 503-on-first-attempt pages (reference retry: parsers/
  search_page.py:153-178) and phone 429-with-Retry-After pages (reference:
  parsers/car_page.py:276-292) succeed only once ``attempt`` exceeds the
  page's ``fail_503_times`` — the retry loop is thereby exercised through
  the frontier's (attempt, not_before) re-queue machinery rather than
  wall-clock sleeps.
* URLs absent from the page store are 404s (dropped with an error metric).

The stage's output schema is the *fetch result contract*; swapping the body
for real HTTP changes nothing downstream.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic UA rotation pool (S4). Plain descriptive strings.
UA_LIST = [f"auto-ria-spark/1.0 (worker {i})" for i in range(16)]

FETCH_RESULT_EXTRA = (
    "status_code int, body string, fetch_ua string, retry_after_s int"
)


def page_store_side(pages: DataFrame) -> DataFrame:
    """The page-store projection for the fetch join — build ONCE per crawl
    and reuse every wave (expression construction is driver fixed cost)."""
    return pages.select(
        F.col("url_hash").alias("__page_hash"),
        F.col("payload").alias("__payload"),
        F.col("fail_503_times").alias("__fail_times"),
        F.col("retry_after").alias("__retry_after"),
    )


def fetched_frontier(selected: DataFrame, *, page_side: DataFrame,
                     cand_cols: list[str], cand_schema: str) -> DataFrame:
    """Join the wave's selected frontier rows to the page store and run the
    fetch stage.  Both sides are keyed by url_hash (long) — at scale both
    tables are bucketed by url_hash so this is a co-partitioned join.

    ``page_side`` is the :func:`page_store_side` projection, built once per
    crawl.  ``cand_cols``/``cand_schema`` are the (known, fixed) frontier
    shape, so this function never touches ``selected.schema`` — a schema
    access forces a full Catalyst analysis of the selection chain, a
    measurable per-wave driver cost.
    """
    joined = selected.join(
        page_side, F.col("url_hash") == F.col("__page_hash"), "left"
    ).drop("__page_hash")
    out_schema = cand_schema + ", " + FETCH_RESULT_EXTRA

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # iterator form: a real client would be opened once per partition here
        for pdf in batches:
            if not len(pdf):
                continue
            out = pdf[cand_cols].copy()
            ua_idx = (pdf["url_hash"].to_numpy("int64") % len(UA_LIST)) % len(UA_LIST)
            out["fetch_ua"] = [UA_LIST[i] for i in ua_idx]
            missing = pdf["__payload"].isna()
            fail_times = pdf["__fail_times"].fillna(0).astype("int64")
            attempt = pdf["attempt"].fillna(0).astype("int64")
            failing = (~missing) & (attempt < fail_times)
            has_ra = pdf["__retry_after"].notna()
            status = pd.Series(200, index=pdf.index)
            status[failing & has_ra] = 429
            status[failing & ~has_ra] = 503
            status[missing] = 404
            out["status_code"] = status.astype("int32")
            out["body"] = pdf["__payload"].where(status == 200, None)
            out["retry_after_s"] = (
                pdf["__retry_after"].where(failing & has_ra).astype("Int32")
            )
            yield out

    return joined.mapInPandas(fetch, schema=out_schema)


def http_fetched_frontier(selected: DataFrame, *,
                          endpoint: str = "",
                          timeout_s: float = 10.0,
                          workers: int = 8,
                          cand_cols: list[str] | None = None,
                          cand_schema: str | None = None) -> DataFrame:
    """The REAL-HTTP fetch stage (cfg.fetch_mode='http'): iterator-form
    ``mapInPandas`` holding ONE reused opener per partition — the
    distributed analogue of the reference's single reused
    ``httpx.AsyncClient`` (reference: app/scraper/autoria.py:229-231) —
    issuing GETs with the same deterministic per-row UA rotation as the
    page-store path and a small per-partition thread pool (the in-flight
    concurrency the politeness budget already bounds per host).

    ``endpoint`` maps crawl URLs onto a gateway origin for tests:
    requests go to ``{endpoint}/{quote(url_norm)}``; empty means GET the
    URL directly (production).  429/503 responses surface the
    ``Retry-After`` header as ``retry_after_s`` so the frontier's
    (attempt, not_before) re-queue machinery drives retries identically
    to the page-store path.  Transport errors (connection reset, timeout,
    DNS) map to status 599, which the wave treats as RETRYABLE — the same
    (attempt+1, not_before) re-queue as 429/503, honoring max_attempts —
    mirroring the reference's retry-any-exception loop on car pages
    (reference: app/scraper/autoria.py:72-73,184-191)."""
    cols = cand_cols if cand_cols is not None else list(selected.columns)
    if cand_schema is None:
        cand_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in selected.schema.fields)
    out_schema = cand_schema + ", " + FETCH_RESULT_EXTRA

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import urllib.error
        import urllib.request
        from concurrent.futures import ThreadPoolExecutor
        from urllib.parse import quote

        opener = urllib.request.build_opener()  # one client per partition

        def one(url: str, ua: str):
            target = (f"{endpoint}/{quote(url, safe='')}"
                      if endpoint else url)
            req = urllib.request.Request(
                target, headers={"User-Agent": ua})
            try:
                with opener.open(req, timeout=timeout_s) as resp:
                    # errors="replace": a mis-declared charset must not
                    # kill the task (the parse stage degrades per-field)
                    return (resp.status,
                            resp.read().decode("utf-8", errors="replace"),
                            None)
            except urllib.error.HTTPError as e:
                ra = e.headers.get("Retry-After")
                try:
                    # RFC 7231 allows an HTTP-date here — non-integer
                    # values fall back to the frontier's base backoff
                    ra_s = int(ra) if ra is not None else None
                except (TypeError, ValueError):
                    ra_s = None
                return e.code, None, ra_s
            except Exception:
                return 599, None, None

        with ThreadPoolExecutor(max_workers=workers) as ex:
            for pdf in batches:
                if not len(pdf):
                    continue
                out = pdf[cols].copy()
                ua_idx = pdf["url_hash"].to_numpy("int64") % len(UA_LIST)
                uas = [UA_LIST[i] for i in ua_idx]
                res = list(ex.map(one, pdf["url_norm"], uas))
                out["fetch_ua"] = uas
                out["status_code"] = pd.array(
                    [r[0] for r in res], dtype="int32")
                out["body"] = [r[1] for r in res]
                out["retry_after_s"] = pd.array(
                    [r[2] for r in res], dtype="Int32")
                yield out

    return selected.mapInPandas(fetch, schema=out_schema)
