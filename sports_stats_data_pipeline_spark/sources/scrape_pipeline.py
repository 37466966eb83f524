"""End-to-end scraper-parity ingestion: the reference's two entry points
(SURVEY.md §3) as one incremental, resume-safe Spark pipeline.

Dataflow (mirrors fighters_scraper.py:159-211 / fights_scraper.py:217-267):

    discover keys -> driver dedup -> JVM url relation (sources.fetch)
    -> anti-join sink (J1: skip processed) -> fetch (I1 retry + I2 rate
    limit) + parse (S4, sources.html_source) in ONE Python worker pass
    -> append the new rows to the parquet sink (S5, Parquet not CSV;
    operators.sinks)

Key upgrades over the reference, same semantics:
- the sink is Parquet with an explicit schema (not inference-on-read CSV);
- a run writes O(Δ): only the new rows, moved into the sink as new data
  files (the first run creates it by staged promote) — never the
  reference's O(total) CSV rewrite every N rows, and a run with nothing
  new adds no file. Periodic checkpointing belongs to Structured
  Streaming (streaming.pipeline.run_streaming_upsert) where the state
  store does it transactionally;
- fetch parallelism is explicit (``concurrency`` partitions), the
  reference is single-threaded.

First-wins needs no merge: the URL list is deduped on the driver
(first occurrence kept), each URL yields at most one parsed row, and
the anti-join leaves only URLs absent from the sink — so the parsed
rows are already the insert-if-absent additions, and existing rows are
never touched.

Resume-safety invariant (tested in tests/test_ingest.py): running any
prefix of the URL set, then the full set, produces the same sink
contents as one full run — the reference's core guarantee (R14-15) —
and so does a rerun after a crash mid-append (operators.sinks).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession

# promote_staging stays importable here: perfbench's traced layer
# wraps it by this module path.
from ..operators.sinks import (  # noqa: F401
    append_staging,
    promote_staging,
    recover_sink,
)
from ..schemas import (
    FIGHTERS_RAW,
    FIGHTS_RAW,
    fighters_raw_ddl,
    fights_raw_ddl,
)
from .fetch import (
    FetchConfig,
    Transport,
    fetch_urls,
    map_fetched_pages,
    url_relation,
)
from .html_source import parsed_frame


def ingest(
    spark: SparkSession,
    urls: list[str],
    transport: Transport,
    sink_path: str,
    kind: str = "fighter",
    cfg: FetchConfig | None = None,
    concurrency: int = 4,
) -> DataFrame:
    """One incremental ingestion run; returns the sink DataFrame."""
    if kind == "fighter":
        ddl, struct, key = fighters_raw_ddl(), FIGHTERS_RAW, "URL"
    else:
        ddl, struct, key = fights_raw_ddl(), FIGHTS_RAW, "fight_url"
    field_names = [f.name for f in struct if f.name != key]
    recover_sink(sink_path)

    todo = url_relation(spark, urls, concurrency)
    if os.path.exists(sink_path):
        # J1: the incremental anti-join BEFORE the expensive fetch —
        # predicate placement the optimizer cannot do through an opaque
        # UDF, so the program orders it explicitly (SURVEY.md §4.1
        # UDF-barrier note). The coalesce keeps the fetch streams within
        # ``concurrency`` (the rate-limit contract) when a large sink
        # makes this a shuffled join; over a broadcast it changes nothing.
        todo = todo.join(
            spark.read.schema(ddl).parquet(sink_path).select("url"),
            on="url",
            how="left_anti",
        ).coalesce(concurrency)
    new_rows = map_fetched_pages(
        todo,
        transport,
        cfg,
        partial(parsed_frame, kind=kind, field_names=field_names),
        ddl,
    )
    new_rows.write.mode("overwrite").parquet(sink_path + ".staging")
    # Spark's part-file names carry the write job's UUID, so appended
    # files never collide and need no prefix of their own.
    append_staging(sink_path, "")
    return spark.read.schema(ddl).parquet(sink_path)


def discover_fighter_urls(
    index_pages: dict[str, str], marker: str = "fighter-details"
) -> list[str]:
    """S1 discovery: per-letter index pages -> deduped child URLs (the
    reference's get_fighter_links, fighters_scraper.py:42-62). Driver-side
    because the key space (26 pages) is trivially small; the fetched
    *details* are the distributed part."""
    from .html_source import extract_links

    seen, out = set(), []
    for html in index_pages.values():
        for u in extract_links(html, marker):
            if u not in seen:
                seen.add(u)
                out.append(u)
    return out


def discover_fight_urls(
    spark: SparkSession,
    event_urls: list[str],
    transport: Transport,
    cfg: FetchConfig | None = None,
    concurrency: int = 4,
    marker: str = "fight-details",
) -> DataFrame:
    """S2+S3 two-level fan-out (the reference's get_event_links →
    get_fight_links nesting, fights_scraper.py:43-66): fetch each event
    page distributed, explode its child fight links — unlike the
    reference's sequential double loop, level 2 is a single distributed
    explode over the level-1 fetch results."""
    from pyspark.sql import functions as F

    pages = fetch_urls(
        url_relation(spark, event_urls, concurrency), transport, cfg
    )
    from .html_source import _HREF_RE

    # pure-expression link extraction reusing the parser's href pattern
    # ((?i) replaces the re.I flag, which the string form can't carry) —
    # stays inside whole-stage codegen; a row-at-a-time Python UDF here
    # was the only one in the package and cost a worker round-trip per
    # page for what a regexp_extract_all + filter expresses directly.
    hrefs = F.regexp_extract_all(
        "html", F.lit("(?i)" + _HREF_RE.pattern), 1
    )
    return (
        pages.select(
            F.explode(
                F.filter(hrefs, lambda u: u.contains(marker))
            ).alias("url")
        )
        .dropDuplicates(["url"])
    )
