"""Oracle-checked parity queries for the reference's parsing semantics.

The driver corpus has no fighter/fight tables, so these queries carry
their own inputs: a literal VALUES relation, identical on the Spark side
(``sources.tables.local_relation``) and in the DuckDB oracle (``FROM (VALUES
...)``). The callable ignores ``sf_dir``. Inputs cover the edge cases
catalogued in FIXTURES.md §A4: two-part records, ``N/A`` sentinels, empty
strings, garbage dates, malformed ``M:SS`` strings.

This is the driver-visible face of functions.parsing; pytest unit tests
exercise the same expressions more densely (tests/test_parsing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.parsing import (
    activity_flag,
    dispatch_label,
    parse_height_cm,
    parse_mmss_seconds,
    parse_of_pair,
    parse_pct,
    parse_reach_cm,
    parse_record,
    parse_ref_date,
    parse_scheduled_rounds,
    parse_weight_kg,
)
from ..operators.merge import first_wins_dedup
from ..sources.tables import local_relation
from . import QueryRegistry

REGISTRY = QueryRegistry()

AS_OF = "2026-08-13"  # deterministic 'now' (FIXTURES.md pins this date)

_FIGHTER_ROWS = [
    (1, "28-1-0", "5' 11\"", "155 lbs.", "70\"", "58%"),
    (2, "15-3", "6' 0\"", "205 lbs.", "84\"", "100%"),
    (3, "Record: 10-2-1", "5' 4\"", "115 lbs.", "N/A", "0%"),
    (4, "N/A", "N/A", "N/A", "", "N/A"),
    (5, "garbage", "tall", "heavy", "??", "x%"),
]
_FIGHTER_VALUES = ", ".join(
    "({}, '{}', '{}', '{}', '{}', '{}')".format(
        r[0], r[1].replace("'", "''"), r[2].replace("'", "''"), r[3], r[4], r[5]
    )
    for r in _FIGHTER_ROWS
)


# --------------------------------------------------------------------------
# All three parse-parity families in ONE driver-visible relation (the
# driver evaluates a bounded number of registered queries, so the parity
# surface is consolidated): `section` discriminates fighter-string parses
# (X2/X3 prefix-strip + split, unit conversions), date/activity parses
# (X4-X6), and fight-stat parses (X7/X8 label dispatch, M:SS, 'x of y').
# Disjoint columns are NULL-padded; NULL ints/doubles cross both engines'
# pandas bridges as NaN identically.
# --------------------------------------------------------------------------
_DATE_ROWS = [
    (1, "Jul. 19, 1987", "Mar. 5, 2025"),
    (2, "Dec. 1, 1990", "Jan. 15, 2020"),
    (3, "N/A", "N/A"),
    (4, "garbage date", "Aug. 13, 2024"),
    (5, "Feb. 29, 2000", "Jul. 1, 2026"),
]
_DATE_VALUES = ", ".join(f"({r[0]}, '{r[1]}', '{r[2]}')" for r in _DATE_ROWS)

_FIGHT_ROWS = [
    (1, "45 of 112", "3:42", "3 Rnd (5-5-5)", "Round:"),
    (2, "0 of 0", "0:00", "5 Rnd (5-5-5-5-5)", "Time:"),
    (3, "N/A", "N/A", "N/A", "Time format:"),
    (4, "12 of 9", "61:05", "1 Rnd + OT (12-3)", "Method:"),
    (5, "garbage", "4:5", "No Time Limit", "Details:"),
]
_FIGHT_VALUES = ", ".join(
    f"({r[0]}, '{r[1]}', '{r[2]}', '{r[3]}', '{r[4]}')" for r in _FIGHT_ROWS
)

#: NULL padding per section — every branch of the UNION emits the full
#: column set so the schemas line up (INTEGER/DOUBLE/VARCHAR NULLs).
_PAD_INT = "CAST(NULL AS INTEGER)"
_PAD_DBL = "CAST(NULL AS DOUBLE)"
_PAD_STR = "CAST(NULL AS VARCHAR)"


@REGISTRY.register(
    "ref_parse_functions",
    oracle="""
    SELECT 'fighter' AS section, id,
      TRY_CAST(NULLIF(NULLIF(trim(split_part(
        trim(regexp_replace(record, '^Record:', '')), '-', 1)), 'N/A'), '')
        AS INTEGER) AS wins,
      TRY_CAST(NULLIF(NULLIF(trim(split_part(
        trim(regexp_replace(record, '^Record:', '')), '-', 2)), 'N/A'), '')
        AS INTEGER) AS losses,
      TRY_CAST(NULLIF(NULLIF(trim(split_part(
        trim(regexp_replace(record, '^Record:', '')), '-', 3)), 'N/A'), '')
        AS INTEGER) AS draws,
      CAST((TRY_CAST(NULLIF(regexp_extract(height, '^\\s*(\\d+)''', 1), '')
              AS INTEGER) * 12
            + TRY_CAST(NULLIF(regexp_extract(height, '(\\d+)"', 1), '')
              AS INTEGER)) * CAST(2.54 AS DOUBLE) AS DOUBLE) AS height_cm,
      CAST(TRY_CAST(NULLIF(regexp_extract(weight, '(\\d+)\\s*lbs', 1), '')
             AS INTEGER) * CAST(0.45359237 AS DOUBLE) AS DOUBLE) AS weight_kg,
      CAST(TRY_CAST(NULLIF(regexp_extract(reach, '(\\d+)"', 1), '')
             AS INTEGER) * CAST(2.54 AS DOUBLE) AS DOUBLE) AS reach_cm,
      CAST(TRY_CAST(NULLIF(regexp_extract(pct, '(\\d+)%', 1), '')
             AS INTEGER) / CAST(100.0 AS DOUBLE) AS DOUBLE) AS str_acc,
      {ps} AS dob, {ps} AS last_fight_date, {ps} AS active_status,
      {pi} AS sig_landed, {pi} AS sig_attempted, {pi} AS ctrl_s,
      {pi} AS scheduled_rounds, {ps} AS label_target
    FROM (VALUES {fighter_values}) AS t(id, record, height, weight, reach, pct)
    UNION ALL
    SELECT 'dates' AS section, id,
      {pi} AS wins, {pi} AS losses, {pi} AS draws,
      {pd} AS height_cm, {pd} AS weight_kg, {pd} AS reach_cm, {pd} AS str_acc,
      strftime(CAST(try_strptime(NULLIF(trim(dob), 'N/A'), '%b. %d, %Y')
               AS DATE), '%Y-%m-%d') AS dob,
      strftime(CAST(try_strptime(NULLIF(trim(last_fight), 'N/A'),
               '%b. %d, %Y') AS DATE), '%Y-%m-%d') AS last_fight_date,
      CASE
        WHEN try_strptime(NULLIF(trim(last_fight), 'N/A'), '%b. %d, %Y')
             IS NULL THEN 'Inactive'
        WHEN date_diff('day',
               CAST(try_strptime(NULLIF(trim(last_fight), 'N/A'),
                    '%b. %d, %Y') AS DATE),
               DATE '2026-08-13') / 365.0 <= 2.0 THEN 'Active'
        ELSE 'Inactive'
      END AS active_status,
      {pi} AS sig_landed, {pi} AS sig_attempted, {pi} AS ctrl_s,
      {pi} AS scheduled_rounds, {ps} AS label_target
    FROM (VALUES {date_values}) AS t(id, dob, last_fight)
    UNION ALL
    SELECT 'fight' AS section, id,
      {pi} AS wins, {pi} AS losses, {pi} AS draws,
      {pd} AS height_cm, {pd} AS weight_kg, {pd} AS reach_cm, {pd} AS str_acc,
      {ps} AS dob, {ps} AS last_fight_date, {ps} AS active_status,
      TRY_CAST(NULLIF(regexp_extract(sig_str,
        '^\\s*(\\d+)\\s+of\\s+\\d+', 1), '') AS INTEGER) AS sig_landed,
      TRY_CAST(NULLIF(regexp_extract(sig_str,
        'of\\s+(\\d+)\\s*$', 1), '') AS INTEGER) AS sig_attempted,
      CAST(TRY_CAST(NULLIF(regexp_extract(ctrl,
             '^\\s*(\\d+):(\\d\\d)\\s*$', 1), '') AS INTEGER) * 60
           + TRY_CAST(NULLIF(regexp_extract(ctrl,
             '^\\s*(\\d+):(\\d\\d)\\s*$', 2), '') AS INTEGER)
        AS INTEGER) AS ctrl_s,
      TRY_CAST(NULLIF(regexp_extract(time_format,
        '^\\s*(\\d+)\\s+Rnd', 1), '') AS INTEGER) AS scheduled_rounds,
      CASE
        WHEN contains(lower(trim(replace(label, ':', ''))), 'time format')
          THEN 'time_format'
        WHEN lower(trim(replace(label, ':', ''))) = 'time' THEN 'time'
        WHEN contains(lower(trim(replace(label, ':', ''))), 'round')
             AND NOT contains(lower(trim(replace(label, ':', ''))), 'time')
          THEN 'round'
        WHEN contains(lower(trim(replace(label, ':', ''))), 'method')
          THEN 'method'
        ELSE NULL
      END AS label_target
    FROM (VALUES {fight_values}) AS t(id, sig_str, ctrl, time_format, label)
    """.format(
        fighter_values=_FIGHTER_VALUES,
        date_values=_DATE_VALUES,
        fight_values=_FIGHT_VALUES,
        pi=_PAD_INT,
        pd=_PAD_DBL,
        ps=_PAD_STR,
    ),
)
def ref_parse_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    fighter_df = local_relation(
        spark,
        _FIGHTER_ROWS,
        "id int, record string, height string, weight string, "
        "reach string, pct string",
    )
    wins, losses, draws = parse_record(F.col("record"))
    fighter = fighter_df.select(
        F.lit("fighter").alias("section"),
        "id",
        wins.alias("wins"),
        losses.alias("losses"),
        draws.alias("draws"),
        parse_height_cm(F.col("height")).alias("height_cm"),
        parse_weight_kg(F.col("weight")).alias("weight_kg"),
        parse_reach_cm(F.col("reach")).alias("reach_cm"),
        parse_pct(F.col("pct")).alias("str_acc"),
    )

    date_df = local_relation(
        spark, _DATE_ROWS, "id int, dob string, last_fight string"
    )
    last = parse_ref_date(F.col("last_fight"))
    dates = date_df.select(
        F.lit("dates").alias("section"),
        "id",
        F.date_format(parse_ref_date(F.col("dob")), "yyyy-MM-dd").alias("dob"),
        F.date_format(last, "yyyy-MM-dd").alias("last_fight_date"),
        activity_flag(last, AS_OF).alias("active_status"),
    )

    fight_df = local_relation(
        spark,
        _FIGHT_ROWS,
        "id int, sig_str string, ctrl string, time_format string, "
        "label string",
    )
    landed, attempted = parse_of_pair(F.col("sig_str"))
    fight = fight_df.select(
        F.lit("fight").alias("section"),
        "id",
        landed.alias("sig_landed"),
        attempted.alias("sig_attempted"),
        parse_mmss_seconds(F.col("ctrl")).alias("ctrl_s"),
        parse_scheduled_rounds(F.col("time_format")).alias("scheduled_rounds"),
        dispatch_label(F.col("label")).alias("label_target"),
    )

    return fighter.unionByName(dates, allowMissingColumns=True).unionByName(
        fight, allowMissingColumns=True
    )


# --------------------------------------------------------------------------
# The whole ingest chain under the driver gate: Python DataSource
# (alphabet-partitioned synthetic pages) -> HTML parse (mapInPandas) ->
# silver casts. The oracle is a VALUES relation computed here in plain
# Python from the *generator parameters* (not by parsing HTML), so the
# Spark path — regex extraction + expression casts — is checked against
# an independent derivation. All doubles are single-multiply products of
# exact ints, bit-identical everywhere.
# --------------------------------------------------------------------------
_INGEST_LETTERS = "abc"
_INGEST_PER_LETTER = 5


def _expected_ingest_rows():
    from ..sources.synthetic_pages import synth_fighter_page
    import hashlib

    rows = []
    for letter in _INGEST_LETTERS:
        for i in range(_INGEST_PER_LETTER):
            url, _ = synth_fighter_page(letter, i)
            h = hashlib.md5(f"{letter}:{i}".encode()).hexdigest()
            name = f"{letter.upper()}ighter {letter.upper()}{i}"
            w, l, d = int(h[0:2], 16) % 40, int(h[2:4], 16) % 15, int(h[4:5], 16) % 3
            feet, inches = 5 + int(h[5], 16) % 2, int(h[6:8], 16) % 12
            weight = 115 + 10 * (int(h[8:10], 16) % 16)
            rows.append((name, w, l, d, feet * 12 + inches, weight, url))
    return rows


_INGEST_VALUES = ", ".join(
    f"('{n}', {w}, {l}, {d}, {total_in}, {weight}, '{u}')"
    for n, w, l, d, total_in, weight, u in _expected_ingest_rows()
)


@REGISTRY.register(
    "ref_ingest_datasource_end_to_end",
    # doubles computed from exact ints with DOUBLE-cast constants — a
    # float literal in VALUES would take DuckDB's DECIMAL parse path and
    # can land one ulp away from the IEEE product.
    oracle="""
    SELECT name, wins, losses, draws,
           CAST(total_inches * CAST(2.54 AS DOUBLE) AS DOUBLE) AS height_cm,
           CAST(weight_lbs * CAST(0.45359237 AS DOUBLE) AS DOUBLE)
             AS weight_kg,
           url
    FROM (VALUES {values})
      AS t(name, wins, losses, draws, total_inches, weight_lbs, url)
    """.format(values=_INGEST_VALUES),
)
def ref_ingest_datasource_end_to_end(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..schemas import FIGHTERS_RAW, fighters_raw_ddl
    from ..sources.html_source import parse_pages
    from ..sources.synthetic_pages import FighterPagesDataSource
    from ..sources.tables import ensure_session_confs
    from ..transforms.silver import fighters_silver

    # ship the package BEFORE registering the DataSource: its schema()
    # resolution already runs in a Python subprocess that must import us.
    ensure_session_confs(spark)
    spark.dataSource.register(FighterPagesDataSource)
    pages = (
        spark.read.format("fighter_pages")
        .option("letters", _INGEST_LETTERS)
        .option("perLetter", str(_INGEST_PER_LETTER))
        .load()
        .select("url", "html")
    )
    field_names = [f.name for f in FIGHTERS_RAW if f.name != "URL"]
    bronze = parse_pages(
        pages, kind="fighter", schema=fighters_raw_ddl(), field_names=field_names
    )
    silver = fighters_silver(bronze, AS_OF)
    return silver.select(
        "name", "wins", "losses", "draws", "height_cm", "weight_kg", "url"
    )


# --------------------------------------------------------------------------
# The FIGHTS ingest chain under the driver gate (the most operator-dense
# parse in the reference): event-partitioned Python DataSource (S2/S3
# fan-out) -> parse_fight_page with the paired-<p> two-fighter unpivot
# (V1/V2, fights_scraper.py:109-139) -> fights_silver casts ('x of y'
# split, M:SS seconds, scheduled rounds, N/A -> NULL). The oracle VALUES
# relation is derived in plain Python from the *generator parameters*
# (fight_page_params), so the Spark path — regex extraction over HTML +
# expression casts — is checked against an independent derivation.
# All columns int/string: nothing floating to drift.
# --------------------------------------------------------------------------
_FIGHT_EVENTS = "xy"
_FIGHTS_PER_EVENT = 3


def _expected_fight_rows():
    from ..sources.synthetic_pages import fight_page_params, synth_fight_page

    rows = []
    for event in _FIGHT_EVENTS:
        for i in range(_FIGHTS_PER_EVENT):
            url, _ = synth_fight_page(event, i)
            p = fight_page_params(event, i)
            rows.append(
                (
                    url,
                    p["event_name"],
                    p["fighter_a"],
                    p["fighter_b"],
                    p["result_a"],
                    p["result_b"],
                    p["method"],
                    p["end_round"],
                    p["end_m"] * 60 + p["end_s"],
                    p["rounds"],
                    p["sig_a_l"],
                    p["sig_a_t"],
                    p["sig_b_l"],
                    p["sig_b_t"],
                    p["td_a"],
                    p["td_a_t"],
                    p["ctrl_a_m"] * 60 + p["ctrl_a_s"],
                    p["ctrl_b_m"] * 60 + p["ctrl_b_s"],
                    p["sub_a"],
                    p["sub_b"],
                )
            )
    return rows


_FIGHT_INGEST_VALUES = ", ".join(
    "('{}', '{}', '{}', '{}', '{}', '{}', '{}', {}, {}, {}, {}, {}, {}, {}, "
    "{}, {}, {}, {}, {}, {})".format(*r)
    for r in _expected_fight_rows()
)


@REGISTRY.register(
    "ref_ingest_fights_end_to_end",
    oracle="""
    SELECT fight_url, event_name, fighter_a, fighter_b, result_a, result_b,
           method, end_round, end_time_s, scheduled_rounds,
           a_sig_landed, a_sig_att, b_sig_landed, b_sig_att,
           a_td_landed, a_td_att, a_ctrl_s, b_ctrl_s, a_sub_att, b_sub_att
    FROM (VALUES {values}) AS t(
      fight_url, event_name, fighter_a, fighter_b, result_a, result_b,
      method, end_round, end_time_s, scheduled_rounds,
      a_sig_landed, a_sig_att, b_sig_landed, b_sig_att,
      a_td_landed, a_td_att, a_ctrl_s, b_ctrl_s, a_sub_att, b_sub_att)
    """.format(values=_FIGHT_INGEST_VALUES),
)
def ref_ingest_fights_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..schemas import FIGHTS_RAW, fights_raw_ddl
    from ..sources.html_source import parse_pages
    from ..sources.synthetic_pages import FightPagesDataSource
    from ..sources.tables import ensure_session_confs
    from ..transforms.silver import fights_silver

    ensure_session_confs(spark)
    spark.dataSource.register(FightPagesDataSource)
    pages = (
        spark.read.format("fight_pages")
        .option("events", _FIGHT_EVENTS)
        .option("perEvent", str(_FIGHTS_PER_EVENT))
        .load()
        .select("url", "html")
    )
    field_names = [f.name for f in FIGHTS_RAW if f.name != "fight_url"]
    bronze = parse_pages(
        pages, kind="fight", schema=fights_raw_ddl(), field_names=field_names
    )
    silver = fights_silver(bronze)
    return silver.select(
        "fight_url",
        "event_name",
        "fighter_a",
        "fighter_b",
        "result_a",
        "result_b",
        "method",
        "end_round",
        "end_time_s",
        "scheduled_rounds",
        F.col("fighter_a_sig_str_landed").alias("a_sig_landed"),
        F.col("fighter_a_sig_str_attempted").alias("a_sig_att"),
        F.col("fighter_b_sig_str_landed").alias("b_sig_landed"),
        F.col("fighter_b_sig_str_attempted").alias("b_sig_att"),
        F.col("fighter_a_td_landed").alias("a_td_landed"),
        F.col("fighter_a_td_attempted").alias("a_td_att"),
        F.col("fighter_a_ctrl_s").alias("a_ctrl_s"),
        F.col("fighter_b_ctrl_s").alias("b_ctrl_s"),
        F.col("fighter_a_sub_att").alias("a_sub_att"),
        F.col("fighter_b_sub_att").alias("b_sub_att"),
    )


# --------------------------------------------------------------------------
# Gold-layer name-resolution join (J2): fights.fighter_a/_b ->
# fighters.Name — the FK the reference records but never joins
# (SURVEY.md §1.4). Broadcast the fighters dim; one row per fight side.
# --------------------------------------------------------------------------
_GOLD_FIGHTERS = [
    ("Alex Example", 21, 2),
    ("Bo Sample", 15, 5),
    ("Cy Test", 9, 9),
]
_GOLD_FIGHTS = [
    (1, "Alex Example", "Bo Sample", "KO/TKO"),
    (2, "Cy Test", "Alex Example", "Decision - Unanimous"),
    (3, "Bo Sample", "Unknown Person", "Submission"),
    # fighter_a misspelled: exact join misses, fuzzy resolution (same
    # soundex class + length bucket, edit distance 1) recovers it
    (4, "Alix Example", "Cy Test", "KO/TKO"),
]
_GOLD_FIGHTERS_VALUES = ", ".join(
    f"('{n}', {w}, {l})" for n, w, l in _GOLD_FIGHTERS
)
_GOLD_FIGHTS_VALUES = ", ".join(
    f"({i}, '{a}', '{b}', '{m}')" for i, a, b, m in _GOLD_FIGHTS
)


@REGISTRY.register(
    "ref_gold_name_resolution_join",
    oracle="""
    WITH fighters AS (
      SELECT * FROM (VALUES {fighters}) AS t(name, wins, losses)
    ), fights AS (
      SELECT * FROM (VALUES {fights}) AS t(fight_id, fighter_a, fighter_b,
                                           method)
    ), fz AS (
      -- fuzzy candidates: the fixture guarantees every <=2-edit pair
      -- shares the blocked join's (soundex, length-bucket) key, so the
      -- plain edit-distance predicate is exactly the blocked result
      SELECT f.fight_id, fa2.wins, fa2.name,
             CAST(levenshtein(f.fighter_a, fa2.name) AS INTEGER) AS d
      FROM fights f JOIN fighters fa2
        ON levenshtein(f.fighter_a, fa2.name) <= 2
    ), fzbest AS (
      SELECT fight_id, wins, d,
             ROW_NUMBER() OVER (PARTITION BY fight_id ORDER BY d, name) AS rn
      FROM fz
    )
    SELECT f.fight_id, f.method,
           f.fighter_a, fa.wins AS a_wins,
           f.fighter_b, fb.wins AS b_wins,
           fzb.wins AS a_wins_fuzzy, fzb.d AS a_fuzzy_dist
    FROM fights f
    LEFT JOIN fighters fa ON f.fighter_a = fa.name
    LEFT JOIN fighters fb ON f.fighter_b = fb.name
    LEFT JOIN fzbest fzb ON fzb.fight_id = f.fight_id AND fzb.rn = 1
    """.format(fighters=_GOLD_FIGHTERS_VALUES, fights=_GOLD_FIGHTS_VALUES),
)
def ref_gold_name_resolution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact LEFT name resolution (the reference's gold join) PLUS the
    tolerant variant via operators.fuzzy.fuzzy_join: a_wins_fuzzy /
    a_fuzzy_dist resolve fighter_a through the blocked edit-distance
    join (min (dist, name) candidate wins), recovering the misspelled
    fixture row the exact join drops."""
    from ..operators.fuzzy import fuzzy_join

    fighters = local_relation(
        spark, _GOLD_FIGHTERS, "name string, wins int, losses int"
    )
    fights = local_relation(
        spark,
        _GOLD_FIGHTS,
        "fight_id int, fighter_a string, fighter_b string, method string",
    )
    fa = fighters.select(
        F.col("name").alias("fa_name"), F.col("wins").alias("a_wins")
    )
    fb = fighters.select(
        F.col("name").alias("fb_name"), F.col("wins").alias("b_wins")
    )
    exact = (
        fights.join(F.broadcast(fa), fights.fighter_a == fa.fa_name, "left")
        .join(F.broadcast(fb), fights.fighter_b == fb.fb_name, "left")
        .select(
            "fight_id", "method", "fighter_a", "a_wins", "fighter_b", "b_wins"
        )
    )
    cand = fuzzy_join(
        fights.select("fight_id", F.col("fighter_a").alias("fa_q")),
        fighters.select(
            F.col("name").alias("fz_name"), F.col("wins").alias("fz_wins")
        ),
        "fa_q",
        "fz_name",
        max_dist=2,
        how="inner",
    )
    best = cand.groupBy("fight_id").agg(
        F.min(F.struct("key_dist", "fz_name", "fz_wins")).alias("__b")
    ).select(
        "fight_id",
        F.col("__b.fz_wins").alias("a_wins_fuzzy"),
        F.col("__b.key_dist").alias("a_fuzzy_dist"),
    )
    return exact.join(F.broadcast(best), "fight_id", "left")


# --------------------------------------------------------------------------
# The full silver transform (transforms.silver.fighters_silver) under the
# driver gate: literal bronze rows -> typed columns. Derived doubles use
# single-multiply constants (see functions.parsing) so values are
# bit-identical; dates emitted as ISO strings.
# --------------------------------------------------------------------------
_SILVER_BRONZE_ROWS = [
    # Name, Nickname, Record, Height, Weight, Reach, STANCE, DOB, SLpM,
    # Str.Acc., SApM, Str.Def, TD Avg., TD Acc., TD Def., Sub.Avg.,
    # fight_dates, url
    (
        "Jon Example", "Bones", "28-1-0", "5' 11\"", "155 lbs.", "70\"",
        "Orthodox", "Jul. 19, 1987", "4.32", "58%", "2.22", "64%", "1.93",
        "45%", "95%", "0.5", "Mar. 5, 2025|Jan. 15, 2020", "u1",
    ),
    (
        "Ann Sparse", None, "15-3", "5' 4\"", "115 lbs.", "N/A", None,
        "N/A", None, "N/A", None, None, None, None, None, None, "", "u2",
    ),
]
_SILVER_VALUES = ", ".join(
    "("
    + ", ".join("NULL" if v is None else "'" + v.replace("'", "''") + "'" for v in r)
    + ")"
    for r in _SILVER_BRONZE_ROWS
)


@REGISTRY.register(
    "ref_silver_fighters_transform",
    oracle="""
    WITH bronze AS (
      SELECT * FROM (VALUES {values}) AS t(
        Name, Nickname, Record, Height, Weight, Reach, STANCE, DOB, SLpM,
        StrAcc, SApM, StrDef, TDAvg, TDAcc, TDDef, SubAvg, fight_dates, url)
    ), dates AS (
      SELECT url, MAX(CAST(try_strptime(d, '%b. %d, %Y') AS DATE)) AS lf
      FROM bronze, UNNEST(string_split(fight_dates, '|')) AS u(d)
      GROUP BY url
    )
    SELECT b.Name AS name,
      b.Nickname AS nickname,
      TRY_CAST(NULLIF(trim(split_part(Record, '-', 1)), 'N/A') AS INTEGER)
        AS wins,
      TRY_CAST(NULLIF(trim(split_part(Record, '-', 2)), 'N/A') AS INTEGER)
        AS losses,
      TRY_CAST(NULLIF(trim(split_part(Record, '-', 3)), 'N/A') AS INTEGER)
        AS draws,
      CAST((TRY_CAST(NULLIF(regexp_extract(Height, '^\\s*(\\d+)''', 1), '')
              AS INTEGER) * 12
            + TRY_CAST(NULLIF(regexp_extract(Height, '(\\d+)"', 1), '')
              AS INTEGER)) * CAST(2.54 AS DOUBLE) AS DOUBLE) AS height_cm,
      CAST(TRY_CAST(NULLIF(regexp_extract(Weight, '(\\d+)\\s*lbs', 1), '')
             AS INTEGER) * CAST(0.45359237 AS DOUBLE) AS DOUBLE) AS weight_kg,
      CAST(TRY_CAST(NULLIF(regexp_extract(Reach, '(\\d+)"', 1), '')
             AS INTEGER) * CAST(2.54 AS DOUBLE) AS DOUBLE) AS reach_cm,
      b.STANCE AS stance,
      strftime(CAST(try_strptime(NULLIF(trim(DOB), 'N/A'), '%b. %d, %Y')
               AS DATE), '%Y-%m-%d') AS dob,
      TRY_CAST(SLpM AS DOUBLE) AS slpm,
      CAST(TRY_CAST(NULLIF(regexp_extract(StrAcc, '(\\d+)%', 1), '')
             AS INTEGER) / CAST(100.0 AS DOUBLE) AS DOUBLE) AS str_acc,
      strftime(d.lf, '%Y-%m-%d') AS last_fight_date,
      CASE WHEN d.lf IS NULL THEN 'Inactive'
           WHEN date_diff('day', d.lf, DATE '2026-08-13') / 365.0 <= 2.0
           THEN 'Active' ELSE 'Inactive' END AS active_status,
      b.url
    FROM bronze b LEFT JOIN dates d ON b.url = d.url
    """.format(values=_SILVER_VALUES),
)
def ref_silver_fighters_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..transforms.silver import fighters_silver

    bronze = local_relation(
        spark,
        _SILVER_BRONZE_ROWS,
        (
            "Name string, Nickname string, Record string, Height string, "
            "Weight string, Reach string, STANCE string, DOB string, "
            "SLpM string, `Str. Acc.` string, SApM string, `Str. Def` string, "
            "`TD Avg.` string, `TD Acc.` string, `TD Def.` string, "
            "`Sub. Avg.` string, fight_dates string, url string"
        ),
    )
    silver = fighters_silver(bronze, AS_OF)
    return silver.select(
        "name",
        "nickname",
        "wins",
        "losses",
        "draws",
        "height_cm",
        "weight_kg",
        "reach_cm",
        "stance",
        F.date_format("dob", "yyyy-MM-dd").alias("dob"),
        "slpm",
        "str_acc",
        F.date_format("last_fight_date", "yyyy-MM-dd").alias(
            "last_fight_date"
        ),
        "active_status",
        "url",
    )


# --------------------------------------------------------------------------
# A1/S3 shape: explode a packed fight-date list (the reference keeps fight
# dates as a Python list, fighters_scraper.py:117-127; our bronze layer
# packs them pipe-joined) into rows, parse, and take max per fighter.
# --------------------------------------------------------------------------
_FIGHT_DATE_ROWS = [
    ("u1", "Mar. 5, 2025|Jan. 15, 2020|bogus"),
    ("u2", "Aug. 13, 2024"),
    ("u3", ""),
]
_FIGHT_DATE_VALUES = ", ".join(
    f"('{u}', '{d}')" for u, d in _FIGHT_DATE_ROWS
)


@REGISTRY.register(
    "ref_fight_dates_explode_max",
    oracle="""
    WITH exploded AS (
      SELECT url,
             CAST(try_strptime(d, '%b. %d, %Y') AS DATE) AS fight_date
      FROM (VALUES {values}) AS t(url, fight_dates),
           UNNEST(string_split(fight_dates, '|')) AS u(d)
    )
    SELECT url,
           COUNT(fight_date) AS n_parsed_dates,
           strftime(MAX(fight_date), '%Y-%m-%d') AS last_fight_date
    FROM exploded
    GROUP BY url
    """.format(values=_FIGHT_DATE_VALUES),
)
def ref_fight_dates_explode_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_relation(
        spark, _FIGHT_DATE_ROWS, "url string, fight_dates string"
    )
    exploded = df.select(
        "url", F.explode(F.split("fight_dates", r"\|")).alias("d")
    ).select("url", parse_ref_date(F.col("d")).alias("fight_date"))
    return exploded.groupBy("url").agg(
        F.count("fight_date").alias("n_parsed_dates"),
        F.date_format(F.max("fight_date"), "yyyy-MM-dd").alias(
            "last_fight_date"
        ),
    )


_MERGE_ROWS = [
    # (url, batch_seq, name) — batch_seq is explicit arrival order;
    # first-wins must keep batch 1's row for url 'u1'.
    ("u1", 1, "first-version"),
    ("u1", 2, "second-version"),
    ("u2", 1, "only-version"),
    ("u3", 2, "late-arrival"),
    ("u1", 3, "third-version"),
]
_MERGE_VALUES = ", ".join(f"('{r[0]}', {r[1]}, '{r[2]}')" for r in _MERGE_ROWS)


@REGISTRY.register(
    "ref_first_wins_dedup",
    oracle="""
    SELECT url, batch_seq, name
    FROM (VALUES {values}) AS t(url, batch_seq, name)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY url ORDER BY batch_seq) = 1
    """.format(values=_MERGE_VALUES),
)
def ref_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_relation(
        spark, _MERGE_ROWS, "url string, batch_seq int, name string"
    )
    return first_wins_dedup(df, keys=["url"], order_by=["batch_seq"])
