"""Ingest-path tests: retry semantics (I1), link extraction (P1-P3),
page parsing (S4 shapes incl. the paired-table unpivot V1), and the
resume-safety property of the end-to-end pipeline (R14-15)."""

from __future__ import annotations

import random

import pytest

from sports_stats_data_pipeline_spark.sources.fetch import (
    FetchConfig,
    safe_fetch,
)
from sports_stats_data_pipeline_spark.sources.html_source import (
    extract_links,
    parse_fight_page,
    parse_fighter_page,
)
from sports_stats_data_pipeline_spark.sources.scrape_pipeline import (
    discover_fighter_urls,
    ingest,
)

from . import fixtures_html as fx


def _cfg() -> FetchConfig:
    return FetchConfig(sleep=lambda s: None)  # instant tests


class FlakyTransport:
    """Scripted transport: per-URL list of (status, body) responses."""

    def __init__(self, script):
        self.script = {u: list(resps) for u, resps in script.items()}
        self.calls: list[str] = []

    def __call__(self, url):
        self.calls.append(url)
        responses = self.script.get(url)
        if not responses:
            raise ConnectionError(f"no route: {url}")
        return responses.pop(0) if len(responses) > 1 else responses[0]


def test_safe_fetch_retries_then_succeeds():
    t = FlakyTransport({"u": [(500, ""), (503, ""), (200, "body")]})
    assert safe_fetch("u", t, _cfg(), random.Random(0)) == "body"
    assert t.calls == ["u", "u", "u"]


def test_safe_fetch_exhaustion_returns_none_not_error():
    t = FlakyTransport({"u": [(500, "")]})
    assert safe_fetch("u", t, _cfg(), random.Random(0)) is None
    assert len(t.calls) == 3  # reference: 3 attempts


def test_safe_fetch_exception_is_transient():
    t = FlakyTransport({})  # raises ConnectionError every call
    assert safe_fetch("u", t, _cfg(), random.Random(0)) is None


def test_extract_links_filters_and_dedups_preserving_order():
    links = extract_links(fx.FIGHTER_INDEX_PAGE, "fighter-details")
    assert links == [
        "http://example.com/fighter-details/a1",
        "http://example.com/fighter-details/a2",
    ]


def test_parse_fighter_page_golden():
    row = parse_fighter_page(fx.FIGHTER_PAGE)
    assert row["Name"] == "Jon Example"
    assert row["Nickname"] == "Bones"
    assert row["Record"] == "28-1-0"
    assert row["Height"] == "5' 11\""
    assert row["Str. Acc."] == "58%"
    assert row["fight_dates"] == "Mar. 5, 2025|Jan. 15, 2020"


def test_parse_fighter_page_sparse_fields_are_none():
    row = parse_fighter_page(fx.FIGHTER_PAGE_SPARSE)
    assert row["Name"] == "Ann Sparse"
    assert row["Record"] == "15-3"
    assert row["Nickname"] is None
    assert "Reach" not in row


def test_parse_fighter_page_unrecognizable_returns_none():
    assert parse_fighter_page("<html>nothing here</html>") is None
    assert parse_fighter_page("") is None


def test_parse_fight_page_paired_unpivot():
    row = parse_fight_page(fx.FIGHT_PAGE)
    assert (row["fighter_a"], row["fighter_b"]) == ("Fighter One", "Fighter Two")
    assert (row["result_a"], row["result_b"]) == ("W", "L")
    assert row["method"] == "KO/TKO"
    assert row["round"] == "3"
    assert row["time"] == "4:15"
    assert row["time_format"] == "3 Rnd (5-5-5)"
    assert (row["sig_str_a"], row["sig_str_b"]) == ("45 of 112", "38 of 90")
    assert (row["ctrl_a"], row["ctrl_b"]) == ("3:42", "0:00")
    # single-<p> cells: second fighter -> "N/A" (fights_scraper.py:131-133)
    assert (row["body_a"], row["body_b"]) == ("8 of 15", "N/A")


def test_parse_fight_page_under_two_fighters_dropped():
    assert parse_fight_page(fx.FIGHT_PAGE_MALFORMED) is None


def test_discover_from_index_pages():
    urls = discover_fighter_urls({"a": fx.FIGHTER_INDEX_PAGE})
    assert len(urls) == 2


@pytest.fixture
def fleet_transport():
    urls = [f"http://example.com/fighter-details/f{i}" for i in range(12)]
    script = {
        u: [(200, fx.fighter_page(f"Fighter {i}", record=f"{i}-1-0"))]
        for i, u in enumerate(urls)
    }
    # one permanently failing URL: must drop its row, not the job
    script[urls[5]] = [(500, "")]
    return urls, FlakyTransport(script)


EVENT_INDEX_PAGE = """
<html><body>
<a href="http://example.com/fight-details/f1">bout 1</a>
<a href="http://example.com/fight-details/f2">bout 2</a>
<a href="http://example.com/other/skip">no</a>
<a href="http://example.com/fight-details/f1">dup</a>
</body></html>
"""


def test_two_level_fanout_discovery(spark):
    from sports_stats_data_pipeline_spark.sources.scrape_pipeline import (
        discover_fight_urls,
    )

    events = ["http://example.com/event-details/e1",
              "http://example.com/event-details/e2"]
    # e2 serves the same bouts -> cross-event dedup must collapse them
    transport = FlakyTransport({u: [(200, EVENT_INDEX_PAGE)] for u in events})
    urls = discover_fight_urls(
        spark, events, transport, cfg=_cfg(), concurrency=2
    )
    got = sorted(r["url"] for r in urls.collect())
    assert got == [
        "http://example.com/fight-details/f1",
        "http://example.com/fight-details/f2",
    ]


def test_ingest_fights_end_to_end(spark, tmp_path):
    urls = [f"http://example.com/fight-details/x{i}" for i in range(3)]
    transport = FlakyTransport(
        {u: [(200, fx.FIGHT_PAGE)] for u in urls}
        | {urls[2]: [(200, fx.FIGHT_PAGE_MALFORMED)]}
    )
    sink = str(tmp_path / "fights_sink")
    df = ingest(
        spark, urls, transport, sink, kind="fight", cfg=_cfg(), concurrency=2
    )
    rows = df.collect()
    assert len(rows) == 2  # malformed page (single fighter) dropped
    r = rows[0]
    assert r["fighter_a"] == "Fighter One"
    assert r["sig_str_a"] == "45 of 112"
    assert r["method"] == "KO/TKO"

    # silver over the ingested bronze
    from sports_stats_data_pipeline_spark.transforms.silver import (
        fights_silver,
    )

    silver = fights_silver(df).collect()[0]
    assert silver["fighter_a_sig_str_landed"] == 45
    assert silver["end_time_s"] == 255


def test_ingest_end_to_end_and_resume_safety(spark, fleet_transport, tmp_path):
    urls, transport = fleet_transport
    sink = str(tmp_path / "fighters_sink")

    # run 1: a prefix of the URL set ("crash" after 6)
    df1 = ingest(spark, urls[:6], transport, sink, cfg=_cfg(), concurrency=2)
    assert df1.count() == 5  # f5 failed -> dropped

    # run 2: the full set — already-ingested keys must not be re-fetched
    calls_before = len(transport.calls)
    df2 = ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
    refetched = [c for c in transport.calls[calls_before:] if "/f0" in c]
    assert refetched == [], "already-sunk URL was fetched again"
    assert df2.count() == 11  # 12 minus the permanent failure

    # single full run from scratch == prefix-then-full (resume safety)
    sink_fresh = str(tmp_path / "fighters_fresh")
    transport2 = FlakyTransport(
        {
            u: [(200, fx.fighter_page(f"Fighter {i}", record=f"{i}-1-0"))]
            for i, u in enumerate(urls)
        }
        | {urls[5]: [(500, "")]}
    )
    df3 = ingest(spark, urls, transport2, sink_fresh, cfg=_cfg(), concurrency=2)
    a = sorted(r["Name"] for r in df2.select("Name").collect())
    b = sorted(r["Name"] for r in df3.select("Name").collect())
    assert a == b

    # idempotence: re-running with nothing new changes nothing
    df4 = ingest(spark, urls[:6], transport, sink, cfg=_cfg(), concurrency=2)
    assert df4.count() == 11


def test_fight_links_udtf_lateral_join(spark):
    from sports_stats_data_pipeline_spark.sources.html_source import (
        register_fight_links_udtf,
    )
    from sports_stats_data_pipeline_spark.sources.tables import (
        ensure_session_confs,
    )

    ensure_session_confs(spark)
    register_fight_links_udtf(spark)
    spark.createDataFrame(
        [("e1", EVENT_INDEX_PAGE)], schema="url string, html string"
    ).createOrReplaceTempView("event_pages")
    rows = spark.sql(
        "SELECT p.url AS event_url, f.url AS fight_url "
        "FROM event_pages p, LATERAL fight_links(p.html, 'fight-details') f"
    ).collect()
    assert [r["fight_url"] for r in rows] == [
        "http://example.com/fight-details/f1",
        "http://example.com/fight-details/f2",
    ]


#: FIGHTER_PAGE with reordered attributes, extra attributes, and extra
#: classes — what a real site's markup drift looks like; bs4 tolerates
#: these and the regex selectors must too (class-based matching).
REORDERED_FIGHTER_PAGE = """
<html><body>
<span data-x="1" class="hero b-content__title-highlight wide"> Jon Example </span>
<p id="nick" class="b-content__Nickname"> Bones </p>
<span class="b-content__title-record" data-y="2">Record: 28-1-0</span>
<ul>
<li style="color:red" class="b-list__box-list-item"><i>Height:</i> 5' 11"</li>
<li class="b-list__box-list-item odd" data-z><i>Weight:</i> 155 lbs.</li>
</ul>
<p class="b-fight-details__table-text small">Mar. 5, 2025</p>
</body></html>
"""


def test_parser_tolerates_attribute_and_class_drift():
    row = parse_fighter_page(REORDERED_FIGHTER_PAGE)
    assert row["Name"] == "Jon Example"
    assert row["Nickname"] == "Bones"
    assert row["Record"] == "28-1-0"
    assert row["Height"] == "5' 11\""
    assert row["Weight"] == "155 lbs."
    assert row["fight_dates"] == "Mar. 5, 2025"


#: Further drift bs4 shrugs off: single-quoted / unquoted attribute
#: values, whitespace around ``=``, uppercase attribute names — plus a
#: class token that merely PREFIXES the selector's class (bs4 matches
#: whole tokens; "...title-highlighted" must not satisfy
#: "...title-highlight", which a substring regex would).
QUOTE_DRIFT_FIGHTER_PAGE = """
<html><body>
<span class='prefix-trap b-content__title-highlighted'> Wrong Guy </span>
<span CLASS = 'b-content__title-highlight'> Ana Example </span>
<p class=b-content__Nickname> Spider </p>
<span Class="b-content__title-record">Record: 20-3-0</span>
<ul>
<li class = "b-list__box-list-item"><i>Height:</i> 5' 8"</li>
<li class='b-list__box-list-item'><i>Reach:</i> 70"</li>
</ul>
<p class='b-fight-details__table-text'>Jan. 2, 2024</p>
</body></html>
"""


def test_parser_tolerates_quote_and_case_drift():
    row = parse_fighter_page(QUOTE_DRIFT_FIGHTER_PAGE)
    assert row["Name"] == "Ana Example"
    assert row["Nickname"] == "Spider"
    assert row["Record"] == "20-3-0"
    assert row["Height"] == "5' 8\""
    assert row["Reach"] == '70"'
    assert row["fight_dates"] == "Jan. 2, 2024"


def test_extract_links_tolerates_quote_drift():
    html = (
        "<a href='http://x/fight-details/a'>1</a>"
        '<a data-q="z" HREF = "http://x/fight-details/b">2</a>'
        "<a href=http://x/fight-details/c>3</a>"
        '<a href="http://x/other/d">4</a>'
    )
    assert extract_links(html, "fight-details") == [
        "http://x/fight-details/a",
        "http://x/fight-details/b",
        "http://x/fight-details/c",
    ]


def test_requests_transport_wiring(monkeypatch):
    """The live-HTTP transport is import-guarded (no network in tests);
    verify its wiring — session UA header, timeout, (status, text)
    contract — against an injected fake requests module."""
    import sys
    import types

    calls = {}

    class _Resp:
        status_code = 200
        text = "<html>ok</html>"

    class _Session:
        def __init__(self):
            self.headers = {}

        def get(self, url, timeout=None):
            calls["url"], calls["timeout"] = url, timeout
            calls["ua"] = self.headers.get("User-Agent")
            return _Resp()

    fake = types.ModuleType("requests")
    fake.Session = _Session
    monkeypatch.setitem(sys.modules, "requests", fake)

    from sports_stats_data_pipeline_spark.sources.fetch import (
        FetchConfig,
        requests_transport,
    )

    transport = requests_transport(FetchConfig(user_agent="ua-test/1"))
    status, body = transport("http://example.com/x")
    assert (status, body) == (200, "<html>ok</html>")
    assert calls == {
        "url": "http://example.com/x",
        "timeout": 15,
        "ua": "ua-test/1",
    }


def _data_files(sink) -> dict[str, int]:
    import os

    return {
        f: os.path.getsize(os.path.join(sink, f))
        for f in os.listdir(sink)
        if f.endswith(".parquet")
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_noop_and_delta_runs_leave_existing_files_untouched(
    spark, fleet_transport, tmp_path
):
    """The sink grows by appended files only: a delta run adds files and
    keeps every cold file's name and size; a run with nothing new (f5
    fails again, everything else is sunk) adds no file at all."""
    urls, transport = fleet_transport
    sink = str(tmp_path / "sink")
    ingest(spark, urls[:6], transport, sink, cfg=_cfg(), concurrency=2)
    cold = _data_files(sink)

    df = ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
    delta = _data_files(sink)
    assert {f: delta[f] for f in cold} == cold
    assert len(delta) > len(cold)
    assert df.count() == 11

    df = ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
    assert _data_files(sink) == delta
    assert df.count() == 11


def test_crash_mid_append_converges_without_refetch(
    spark, fleet_transport, tmp_path, monkeypatch
):
    """Kill a delta run after its FIRST data file moved into the live
    sink, then rerun the same URLs: the sink equals one full run (same
    rows, unique keys) and the URLs of the file already moved are not
    fetched again (operators.sinks append crash contract)."""
    import os

    urls, transport = fleet_transport
    sink = str(tmp_path / "sink")
    ingest(spark, urls[:6], transport, sink, cfg=_cfg(), concurrency=2)

    real_rename = os.rename
    moved = []

    def dying_rename(src, dst):
        if os.path.dirname(dst) == sink:
            if moved:
                raise RuntimeError("injected crash: killed mid-append")
            moved.append(dst)
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="injected crash"):
        ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
    monkeypatch.setattr(os, "rename", real_rename)
    assert os.path.exists(sink + ".staging")  # the unmoved rest is real
    partial = {r["url"] for r in spark.read.parquet(sink).collect()}
    in_moved = partial - set(urls[:6])
    assert in_moved, "the first appended file carried no new rows"

    calls_before = len(transport.calls)
    resumed = ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
    refetched = set(transport.calls[calls_before:]) & in_moved
    assert not refetched, f"already-appended URLs fetched again: {refetched}"

    fresh_transport = FlakyTransport(
        {u: list(r) for u, r in transport.script.items()}
    )
    full = ingest(
        spark, urls, fresh_transport, str(tmp_path / "full"), cfg=_cfg(),
        concurrency=2,
    )
    assert _rows(resumed) == _rows(full)
    assert resumed.select("url").distinct().count() == resumed.count() == 11


def test_ingest_plan_one_python_crossing_with_arrow_on_and_off(
    spark, fleet_transport, tmp_path, monkeypatch
):
    """The ingest write is one fused fetch+parse MapInPandas over a JVM
    URL relation — no Python-RDD leaf (``Scan ExistingRDD``) — and the
    session's Arrow setting changes neither the plan nor the rows."""
    from pyspark.sql.readwriter import DataFrameWriter

    urls, transport = fleet_transport
    plans = []
    real_parquet = DataFrameWriter.parquet

    def capturing_parquet(self, path, *args, **kwargs):
        if path.endswith(".staging"):
            plans.append(
                self._df._jdf.queryExecution().executedPlan().toString()
            )
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", capturing_parquet)
    conf = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(conf)
    rows = {}
    try:
        for arrow in ("true", "false"):
            spark.conf.set(conf, arrow)
            sink = str(tmp_path / f"sink_{arrow}")
            ingest(spark, urls[:6], transport, sink, cfg=_cfg(), concurrency=2)
            df = ingest(spark, urls, transport, sink, cfg=_cfg(), concurrency=2)
            rows[arrow] = _rows(df)
    finally:
        spark.conf.set(conf, prior)
    assert len(plans) == 4  # cold + delta, Arrow on and off
    for plan in plans:
        assert plan.count("MapInPandas") == 1, plan
        assert "ExistingRDD" not in plan, plan
        assert "Range" in plan, plan
    assert rows["true"] == rows["false"]
    assert len(rows["true"]) == 11


def test_url_relation_dedups_and_deals_round_robin(spark):
    """The JVM URL relation keeps each URL once, deals a contiguous run
    of new URLs over every slice, and rejects a URL it cannot carry."""
    from sports_stats_data_pipeline_spark.sources.fetch import url_relation

    urls = [f"u{i}" for i in range(8)] + ["u0", "u3"]
    rel = url_relation(spark, urls, 4)
    parts = rel.rdd.glom().map(lambda rows: [r["url"] for r in rows]).collect()
    assert len(parts) == 4
    assert sorted(u for p in parts for u in p) == [f"u{i}" for i in range(8)]
    # the tail u4..u7 (a delta appended to a known list) lands in every slice
    assert all(set(p) & {"u4", "u5", "u6", "u7"} for p in parts)
    assert url_relation(spark, [], 4).count() == 0
    with pytest.raises(ValueError, match="newline"):
        url_relation(spark, ["a\nb"], 4)
