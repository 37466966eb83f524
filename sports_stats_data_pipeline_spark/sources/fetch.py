"""Retry / rate-limit fetch infrastructure (SURVEY.md §2.12 I1–I3).

Reproduces the reference's ``safe_request`` semantics
(scrapers/fighters_scraper.py:26-38, scrapers/fights_scraper.py:28-40):
N attempts, fixed-delay + uniform-jitter backoff, bounded timeout,
non-200 → retry, exhaustion → **row dropped, job continues** — the
per-URL failure tolerance that Spark's task-level ``maxFailures`` is too
coarse to express, so it lives inside the fetch function.

Design departures for a distributed engine:
- the transport is injected (``Callable[[url], (status, body)]``) so
  tests run hermetically and production can plug requests/httpx;
- randomness comes from a seeded per-partition RNG → deterministic tests;
- rate limiting is per partition: cap global request concurrency by
  the key list's partition count (:func:`url_relation`'s ``partitions``
  or ``fetch_urls``' ``concurrency``), not by a global lock (there is no
  cross-executor clock at cluster scale — n_partitions × per-partition
  rate is the throughput contract, matching the reference's single-loop
  sleep pattern when n=1).
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

#: transport contract: url -> (status_code, body). Exceptions are treated
#: as transient failures (retried like non-200s).
Transport = Callable[[str], tuple[int, str]]


@dataclass
class FetchConfig:
    retries: int = 3
    delay_s: float = 5.0
    jitter_s: tuple[float, float] = (1.0, 3.0)
    rate_limit_s: tuple[float, float] = (1.0, 2.0)
    user_agent: str = "sports-stats-data-pipeline-spark/0.1 (research)"
    seed: int = 42
    #: sleep hook — injectable so tests run instantly.
    sleep: Callable[[float], None] = field(default=time.sleep)


def requests_transport(cfg: FetchConfig | None = None) -> Transport:
    """Real HTTP transport mirroring the reference's ``safe_request``
    session setup (fighters_scraper.py:26-38: requests.get with a 15 s
    timeout and a branded User-Agent; retry/backoff live in
    :func:`safe_fetch`, not here).

    Import-guarded against a missing ``requests``; most tests inject
    fixture transports for hermeticity, and tests/test_live_transport.py
    exercises THIS transport over a real loopback socket (header on the
    wire, 503 retry, exhaustion drop, and the mapInPandas worker
    crossing with the pickled Session) — no external egress needed. A
    production deployment passes ``requests_transport(cfg)`` anywhere a
    ``Transport`` is accepted.
    """
    cfg = cfg or FetchConfig()
    try:
        import requests
    except ImportError as e:  # pragma: no cover - environment-dependent
        raise ImportError(
            "the 'requests' package is required for the live HTTP "
            "transport; tests use injected fixture transports"
        ) from e

    session = requests.Session()
    session.headers["User-Agent"] = cfg.user_agent

    def transport(url: str) -> tuple[int, str]:
        resp = session.get(url, timeout=15)
        return resp.status_code, resp.text

    return transport


def safe_fetch(
    url: str, transport: Transport, cfg: FetchConfig, rng: random.Random
) -> str | None:
    """One URL with retry/backoff; None on exhaustion (row dropped)."""
    for attempt in range(cfg.retries):
        try:
            status, body = transport(url)
            if status == 200:
                return body
        except Exception:
            pass
        if attempt < cfg.retries - 1:
            cfg.sleep(cfg.delay_s + rng.uniform(*cfg.jitter_s))
    return None


def url_relation(
    spark: SparkSession, urls: list[str], partitions: int
) -> DataFrame:
    """``urls`` deduped on the driver (first occurrence kept) as a
    one-column ``url`` relation of ``partitions`` slices, built in the
    JVM. The slices deal the URLs round-robin, so a contiguous run of
    them (the new keys a delta run appends to a known list) still
    spreads over every fetch stream.

    The list crosses py4j as ONE string literal that the optimizer
    constant-folds into an array, indexed by a ``range`` — not a
    ``createDataFrame`` of a Python list, whose Python-RDD leaf pays a
    Python-worker round per slice on every evaluation. ``range`` slices
    also give the fetch stage its parallelism without a shuffle.
    """
    from pyspark.sql import functions as F

    urls = list(dict.fromkeys(urls))
    if any("\n" in u for u in urls):
        raise ValueError("url_relation: a URL contains a newline")
    n = len(urls)
    p = max(1, min(partitions, n))
    dealt = [u for k in range(p) for u in urls[k::p]]
    arr = F.split(F.lit("\n".join(dealt)), "\n")
    return spark.range(0, n, 1, p).select(
        F.get(arr, F.col("id").cast("int")).alias("url")
    )


def map_fetched_pages(
    url_df: DataFrame,
    transport: Transport,
    cfg: FetchConfig | None,
    to_frame: Callable[[list[str], list[str]], pd.DataFrame],
    schema: str,
    url_col: str = "url",
) -> DataFrame:
    """The one per-partition fetch loop, as an Arrow-batched mapInPandas
    over ``url_df``'s partitions: each URL goes through
    :func:`safe_fetch` (failed URLs are dropped, not errored — reference
    semantics, fighters_scraper.py:66-67 / 181-182) with the rate-limit
    sleep between requests, and ``to_frame(urls, bodies)`` turns each
    batch's fetched pages into output rows of ``schema`` inside the same
    Python worker — a caller that parses there never ships the HTML back
    to the JVM."""
    from .tables import ensure_session_confs

    ensure_session_confs(url_df.sparkSession)
    cfg = cfg or FetchConfig()

    def fetch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        rng = random.Random(
            (cfg.seed, ctx.partitionId() if ctx else 0).__hash__()
        )
        first = True
        for pdf in batches:
            out_urls, out_html = [], []
            for url in pdf[url_col]:
                if not first:
                    cfg.sleep(rng.uniform(*cfg.rate_limit_s))
                first = False
                body = safe_fetch(url, transport, cfg, rng)
                if body is not None:
                    out_urls.append(url)
                    out_html.append(body)
            yield to_frame(out_urls, out_html)

    return url_df.select(url_col).mapInPandas(fetch_batches, schema=schema)


def _pages_frame(urls: list[str], bodies: list[str]) -> pd.DataFrame:
    return pd.DataFrame({"url": urls, "html": bodies})


def fetch_urls(
    url_df: DataFrame,
    transport: Transport,
    cfg: FetchConfig | None = None,
    url_col: str = "url",
    concurrency: int | None = None,
) -> DataFrame:
    """url DataFrame -> (url, html) DataFrame via
    :func:`map_fetched_pages`; failed URLs are dropped, not errored.

    ``concurrency`` bounds parallel fetch streams by repartitioning the
    key list (rate limit I2 applies within each partition).
    """
    if concurrency:
        url_df = url_df.repartition(concurrency)
    return map_fetched_pages(
        url_df, transport, cfg, _pages_frame, "url string, html string",
        url_col,
    )
