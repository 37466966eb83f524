"""HTML field extraction for the scraper-parity ingest path.

Pure functions mirroring the reference's three parse shapes
(SURVEY.md §2.11):

- :func:`extract_links`      — index page -> child URLs (S1–S3 fan-out)
- :func:`parse_fighter_page` — fighter page -> ~20-field dict
  (get_fighter_details, fighters_scraper.py:64-156)
- :func:`parse_fight_page`   — fight page -> ~30-field dict with the
  paired-<p> two-fighter unpivot (get_fight_details +
  parse_fight_table, fights_scraper.py:70-213 / 109-139)

Implementation is stdlib ``re`` over the documented page structure (the
container has no bs4/lxml; a production deployment would swap in a real
HTML parser behind the same function signatures). Absent nodes follow the
reference's conventions: fighter fields -> None, fight stats -> "N/A"
(fights_scraper.py:131-135) so the silver-layer X12 nullification has
real sentinels to normalize.

The Spark face of these functions is :func:`parse_pages` — an
Arrow-batched mapInPandas over (url, html) rows — and
:func:`parsed_frame`, its per-batch body, which the scrape ingest runs
inside its fetch worker so HTML never returns to the JVM.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame

NA = "N/A"

# Selector matching is by CSS class, tolerant of attribute order, extra
# attributes, additional classes, either quote style (or none), whitespace
# around ``=``, and attribute-name case (``_cls`` builds the tolerant
# form, with bs4-grade class-TOKEN boundaries: ``b-content__title`` must
# not match inside ``b-content__title-highlight``) — the closest
# stdlib-regex approximation of bs4's class selector the reference relies
# on. Document-structure changes bs4 would also need new selectors for
# still require updating these.


def _class_attr(klass: str) -> str:
    """Pattern for a ``class`` attribute whose token list contains
    ``klass``: double/single/unquoted values, spaces around ``=``,
    any attribute-name case, token-boundary match (class tokens are
    ``[-\\w]`` words, so a prefix of a longer token never matches)."""
    k = re.escape(klass)
    tok = rf"(?<![\w-]){k}(?![\w-])"
    return (
        rf'(?i:class)\s*=\s*(?:"[^"]*{tok}[^"]*"'
        rf"|'[^']*{tok}[^']*'"
        rf"|{k}(?=[\s/>]))"
    )


def _cls(tag: str, klass: str) -> str:
    """Open-tag pattern for ``<tag ... class="... klass ..." ...>``."""
    return rf"<{tag}\b[^>]*?{_class_attr(klass)}[^>]*>"


def _cls_any(klass: str) -> str:
    """Rest-of-open-tag pattern for any tag carrying the class (used
    where the reference selects by class alone, tag-agnostic)."""
    return rf"{_class_attr(klass)}[^>]*>"


_HREF_RE = re.compile(
    r"<a\b[^>]*?(?i:href)\s*=\s*(?:\"([^\"]*)\"|'([^']*)'|([^\s>]+))", re.I
)
_TITLE_RE = re.compile(
    _cls("span", "b-content__title-highlight") + r"\s*(.*?)\s*</span>", re.S
)
_NICK_RE = re.compile(
    _cls("p", "b-content__Nickname") + r"\s*(.*?)\s*</p>", re.S
)
_RECORD_RE = re.compile(
    _cls("span", "b-content__title-record") + r"\s*Record:\s*(.*?)\s*</span>",
    re.S,
)
_LIST_ITEM_RE = re.compile(
    _cls("li", "b-list__box-list-item")
    + r"\s*<i[^>]*>\s*(.*?)\s*</i>\s*(.*?)\s*</li>",
    re.S,
)
_DATE_CELL_RE = re.compile(
    _cls("p", "b-fight-details__table-text")
    + r"\s*([A-Z][a-z]{2}\. \d{1,2}, \d{4})\s*</p>"
)
_EVENT_TITLE_RE = re.compile(
    _cls("h2", "b-content__title") + r"\s*(.*?)\s*</h2>", re.S
)
_PERSON_NAME_RE = re.compile(
    _cls_any("b-fight-details__person-name") + r"\s*<a[^>]*>\s*(.*?)\s*</a>",
    re.S,
)
_PERSON_STATUS_RE = re.compile(
    _cls_any("b-fight-details__person-status") + r"\s*(.*?)\s*</i>",
    re.S,
)
_META_ITEM_RE = re.compile(
    _cls("i", "b-fight-details__label") + r"\s*(.*?)\s*</i>\s*(.*?)\s*(?=<i |</p)",
    re.S,
)
_TABLE_TEXT_RE = re.compile(
    _cls("p", "b-fight-details__table-text") + r"(.*?)</p>", re.S
)


def _strip_tags(s: str) -> str:
    return re.sub(r"<[^>]+>", "", s).strip()


def extract_links(html: str, must_contain: str) -> list[str]:
    """P1–P3: hrefs containing a marker substring, order-preserving dedup
    (fights_scraper.py:52-55)."""
    seen, out = set(), []
    for m in _HREF_RE.finditer(html or ""):
        href = next(g for g in m.groups() if g is not None)
        if must_contain in href and href not in seen:
            seen.add(href)
            out.append(href)
    return out


def parse_fighter_page(html: str) -> dict[str, str | None] | None:
    """Fighter detail page -> raw string fields (bronze layer).

    Returns None when the page has no recognizable title (failed fetch /
    layout change), mirroring the reference's None-row drop
    (fighters_scraper.py:66-72, 181-182).
    """
    if not html:
        return None
    m = _TITLE_RE.search(html)
    if not m:
        return None
    row: dict[str, str | None] = {"Name": _strip_tags(m.group(1))}
    nick = _NICK_RE.search(html)
    row["Nickname"] = _strip_tags(nick.group(1)) or None if nick else None
    rec = _RECORD_RE.search(html)
    row["Record"] = _strip_tags(rec.group(1)) if rec else None
    for label, value in _LIST_ITEM_RE.findall(html):
        key = _strip_tags(label).rstrip(":").strip()
        if key:
            row[key] = _strip_tags(value) or None
    row["fight_dates"] = "|".join(_DATE_CELL_RE.findall(html))
    return row


def parse_fight_page(html: str) -> dict[str, str] | None:
    """Fight detail page -> flat dict with ``_a``/``_b`` column pairs.

    The two-fighter unpivot (V1): each stats table row holds both
    fighters' values as paired ``<p>`` tags; column k splits into
    ``{col}_a`` / ``{col}_b``; a missing second value -> "N/A"
    (fights_scraper.py:109-139). Dropped (None) if fewer than two
    fighter names parse (P6, fights_scraper.py:84-85).
    """
    if not html:
        return None
    names = [_strip_tags(n) for n in _PERSON_NAME_RE.findall(html)]
    if len(names) < 2:
        return None
    statuses = [_strip_tags(s) for s in _PERSON_STATUS_RE.findall(html)]
    event = _EVENT_TITLE_RE.search(html)
    row: dict[str, str] = {
        "event_name": _strip_tags(event.group(1)) if event else NA,
        "fighter_a": names[0],
        "fighter_b": names[1],
        "result_a": statuses[0] if len(statuses) > 0 else NA,
        "result_b": statuses[1] if len(statuses) > 1 else NA,
    }
    # meta when-chain (X8): label text routes the value.
    meta = {"method": NA, "round": NA, "time": NA, "time_format": NA}
    for label, value in _META_ITEM_RE.findall(html):
        key = _strip_tags(label).rstrip(":").strip().lower()
        val = _strip_tags(value)
        if "time format" in key:
            meta["time_format"] = val or NA
        elif key == "time":
            meta["time"] = val or NA
        elif "round" in key and "time" not in key:
            meta["round"] = val or NA
        elif "method" in key:
            meta["method"] = val or NA
    row.update(meta)
    # stats tables: first <tbody> row per table, paired <p> cells.
    for section, cols in (
        ("Totals", ("sig_str", "total_str", "td", "ctrl", "sub")),
        ("Significant Strikes", ("head", "body", "leg", "distance", "ground")),
    ):
        row.update(_parse_paired_table(html, section, cols))
    return row


def _parse_paired_table(
    html: str, section: str, cols: tuple[str, ...]
) -> dict[str, str]:
    out = {f"{c}_{side}": NA for c in cols for side in ("a", "b")}
    sec = re.search(
        re.escape(section) + r".*?<tbody[^>]*>(.*?)</tbody>", html, re.S | re.I
    )
    if not sec:
        return out
    first_row = re.search(r"<tr[^>]*>(.*?)</tr>", sec.group(1), re.S)
    if not first_row:
        return out
    cells = re.findall(r"<td[^>]*>(.*?)</td>", first_row.group(1), re.S)
    # cell 0 is the fighter-name column (header "Fighter"), stats follow.
    for col_name, cell in zip(cols, cells[1:]):
        pair = [_strip_tags(p) for p in _TABLE_TEXT_RE.findall(cell)]
        out[f"{col_name}_a"] = pair[0] if len(pair) > 0 and pair[0] else NA
        out[f"{col_name}_b"] = pair[1] if len(pair) > 1 and pair[1] else NA
    return out


class FightLinksUDTF:
    """User-defined table function form of the S3 fan-out: one event page
    in, one row per contained fight link out — the formal Spark mapping of
    the reference's ``get_fight_links`` generator (fights_scraper.py:61-66,
    SURVEY.md §2.11).

    Registered via :func:`register_fight_links_udtf`; use from SQL as a
    LATERAL table function::

        SELECT p.url AS event_url, f.url AS fight_url
        FROM pages p, LATERAL fight_links(p.html, 'fight-details') f

    Note the hot ingest path uses the pure-expression
    ``regexp_extract_all`` form (scrape_pipeline.discover_fight_urls) —
    codegen-side, no Python crossing; the UDTF is the general shape for
    extraction logic a regex cannot express.
    """

    def eval(self, html: str, marker: str):  # noqa: D102 (UDTF contract)
        for url in extract_links(html, marker):
            yield (url,)


def register_fight_links_udtf(spark, name: str = "fight_links"):
    """Register :class:`FightLinksUDTF` as SQL table function ``name``."""
    from pyspark.sql.functions import udtf

    wrapped = udtf(FightLinksUDTF, returnType="url string")
    spark.udtf.register(name, wrapped)
    return wrapped


def parsed_frame(
    urls, htmls, kind: str, field_names: list[str]
) -> pd.DataFrame:
    """One batch of (url, html) pages -> parsed rows (``url`` plus
    ``field_names``); unparseable pages yield no row (P5). Shared by
    :func:`parse_pages` and the fused fetch+parse of
    ``scrape_pipeline.ingest``."""
    parse = parse_fighter_page if kind == "fighter" else parse_fight_page
    rows = []
    for url, html in zip(urls, htmls):
        parsed = parse(html)
        if parsed is not None:
            rows.append({"url": url} | {k: parsed.get(k) for k in field_names})
    return pd.DataFrame(rows, columns=["url", *field_names], dtype=object)


def parse_pages(
    pages_df: DataFrame, kind: str, schema: str, field_names: list[str]
) -> DataFrame:
    """(url, html) -> parsed struct rows via Arrow-batched mapInPandas.

    ``kind``: 'fighter' | 'fight'. Unparseable pages yield no row (P5).
    ``schema`` must be ``url string`` plus ``field_names`` (which are
    passed separately — DDL strings with backticked names like
    ```Str. Acc.``` are not split-parsable).
    """
    from .tables import ensure_session_confs

    ensure_session_confs(pages_df.sparkSession)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield parsed_frame(pdf["url"], pdf["html"], kind, field_names)

    return pages_df.mapInPandas(run, schema=schema)
