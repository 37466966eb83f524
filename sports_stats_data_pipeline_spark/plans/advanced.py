"""Second tier of the relational surface: nested/array restructuring,
range (non-equi) joins, cube/grouping sets, scalar subqueries, and the
string-function library (SURVEY.md §2.8–§2.9 beyond the reference's own
usage — required by the driver corpus).

Same oracle-parity conventions as plans.relational. Arrays are emitted as
joined strings (``concat_ws`` / ``array_to_string``) because list cells
round-trip differently through the two engines' pandas bridges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import MINHASH_A, MINHASH_B, MINHASH_PRIME
from ..sources.tables import load_table, local_relation
from . import QueryRegistry
from .relational import cents

REGISTRY = QueryRegistry()

#: per-phase wall seconds of the LAST incremental_mart_maintenance
#: invocation (round-10 verdict #2: the slot's wall grew 3.01 -> 4.29 s
#: across rounds as lifecycle legs were added, and without a breakdown
#: scope growth is inseparable from regression). Overwritten per call;
#: bench.py copies it into BENCH_DETAILS.json next to the slot's wall.
#: The returned join is lazy, so the caller's action (noop write /
#: driver collect) pays everything NOT in these phases.
MART_PHASE_WALLS: dict[str, float] = {}

#: CMS leg of expression_profile_orders (width × depth; small enough
#: that the oracle's SQL twin stays cheap, wide enough that the five
#: priority values rarely collide — and when they do, BOTH engines
#: over-count identically, so the hash still matches).
_CMS_W, _CMS_D = 64, 4


def _cms_cells_sql(value_expr: str) -> str:
    """DuckDB fragment: the depth flattened counter indices of
    ``value_expr`` under operators/cms.py's md5 + Carter-Wegman hash
    family — textually mirrors cms._cell."""
    base = f"(('0x' || substr(md5({value_expr}), 1, 8))::BIGINT)"
    return ", ".join(
        f"({r} * {_CMS_W} + (({MINHASH_A[r]} * {base} + {MINHASH_B[r]})"
        f" % {MINHASH_PRIME}) % {_CMS_W})"
        for r in range(_CMS_D)
    )


# --------------------------------------------------------------------------
# Driver-slot composite (registry capped at 50 — NOTES.md): the nest →
# flatten round trip (SURVEY.md §2.9 V1 analog: per-order sorted array of
# line numbers; collect_list is order-nondeterministic under shuffles so
# the array is array_sort'ed) and the string-function library (§2.8
# X1/X2/X7 family: case, trim/pad, substring, replace, position, concat
# templating) share one slot as a family-tagged union — freed the slot
# for data_quality_report (plans.quality).
# --------------------------------------------------------------------------
_NESTED_NULLS = """
           CAST(NULL AS VARCHAR) AS linenumbers,
           CAST(NULL AS BIGINT) AS n_lines,
           CAST(NULL AS BIGINT) AS total_qty"""
_STRING_NULLS = """
           CAST(NULL AS VARCHAR) AS brand_upper,
           CAST(NULL AS VARCHAR) AS type_lower,
           CAST(NULL AS VARCHAR) AS name_prefix,
           CAST(NULL AS BIGINT) AS name_len,
           CAST(NULL AS VARCHAR) AS type_short,
           CAST(NULL AS INTEGER) AS first_a,
           CAST(NULL AS VARCHAR) AS size_padded,
           CAST(NULL AS VARCHAR) AS brand_type"""


@REGISTRY.register(
    "nested_string_functions",
    oracle=f"""
    SELECT 'nested' AS family,
           l_orderkey AS key,{_STRING_NULLS},
           array_to_string(list(l_linenumber ORDER BY l_linenumber), ',')
             AS linenumbers,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    GROUP BY l_orderkey
    UNION ALL
    SELECT 'strings',
           p_partkey,
           upper(p_brand),
           lower(p_type),
           substr(p_name, 1, 8),
           length(p_name),
           replace(p_type, 'ECONOMY', 'ECO'),
           CAST(strpos(p_name, 'a') AS INTEGER),
           lpad(CAST(p_size AS VARCHAR), 3, '0'),
           p_brand || '/' || p_type,{_NESTED_NULLS}
    FROM part
    WHERE p_partkey % 10 = 0
    """,
)
def nested_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    nested = li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_list("l_linenumber"))).alias(
            "linenumbers"
        ),
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("total_qty"),
    ).select(
        F.lit("nested").alias("family"),
        F.col("l_orderkey").alias("key"),
        F.lit(None).cast("string").alias("brand_upper"),
        F.lit(None).cast("string").alias("type_lower"),
        F.lit(None).cast("string").alias("name_prefix"),
        F.lit(None).cast("long").alias("name_len"),
        F.lit(None).cast("string").alias("type_short"),
        F.lit(None).cast("int").alias("first_a"),
        F.lit(None).cast("string").alias("size_padded"),
        F.lit(None).cast("string").alias("brand_type"),
        "linenumbers",
        "n_lines",
        "total_qty",
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 10 == 0)
    strings = part.select(
        F.lit("strings").alias("family"),
        F.col("p_partkey").cast("long").alias("key"),
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.regexp_replace("p_type", "ECONOMY", "ECO").alias("type_short"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.lpad(F.col("p_size").cast("string"), 3, "0").alias("size_padded"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.lit(None).cast("string").alias("linenumbers"),
        F.lit(None).cast("long").alias("n_lines"),
        F.lit(None).cast("long").alias("total_qty"),
    )
    return nested.unionByName(strings)


# --------------------------------------------------------------------------
# Range join (non-equi): orders binned into literal date ranges. Spark
# plans this as a broadcast nested-loop join against the tiny ranges side
# — the correct physical choice; with Photon/DBR a range-join hint would
# kick in, on OSS Spark BNLJ + AQE is the scalable shape for dim ranges.
# --------------------------------------------------------------------------
_QUARTERS = [
    ("1995-Q1", "1995-01-01", "1995-04-01"),
    ("1995-Q2", "1995-04-01", "1995-07-01"),
    ("1995-H2", "1995-07-01", "1996-01-01"),
    ("1996-FY", "1996-01-01", "1997-01-01"),
]
_QUARTER_VALUES = ", ".join(
    f"('{n}', TIMESTAMP '{s}', TIMESTAMP '{e}')" for n, s, e in _QUARTERS
)


#: the same quarter boundaries as integer epoch-days (computed offline,
#: embedded as literals on BOTH engines — no cross-engine date math in
#: the interval part).
_QUARTER_DAYS = [
    ("1995-Q1", 9131, 9221),
    ("1995-Q2", 9221, 9312),
    ("1995-H2", 9312, 9496),
    ("1996-FY", 9496, 9862),
]
_QUARTER_DAY_VALUES = ", ".join(
    f"('{n}', {s}, {e})" for n, s, e in _QUARTER_DAYS
)


@REGISTRY.register(
    "orders_by_period_rangejoin",
    # Composite since round 5: the point-in-range join ('period' rows,
    # unchanged semantics) plus an interval×interval OVERLAP join
    # ('active' rows) through operators/intervaljoin.py — customer
    # order-lifespan intervals [first_order_day, last_order_day + 1)
    # against the same quarters; bin_width=30/max_bins=16 routes
    # multi-year lifespans through the broadcast fallback leg and the
    # rest through the binned equi-join, so BOTH legs execute under the
    # driver gate. The oracle computes the overlap the naive way.
    oracle=f"""
    SELECT 'period' AS part, p.period_name,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS volume_c
    FROM orders o
    JOIN (VALUES {_QUARTER_VALUES}) AS p(period_name, period_start, period_end)
      ON o.o_orderdate >= p.period_start AND o.o_orderdate < p.period_end
    GROUP BY p.period_name
    UNION ALL
    SELECT 'active', p.period_name, COUNT(*) AS n,
           CAST(NULL AS BIGINT) AS volume_c
    FROM (
      SELECT o_custkey,
             MIN(datediff('day', TIMESTAMP '1970-01-01', o_orderdate)) AS ls,
             MAX(datediff('day', TIMESTAMP '1970-01-01', o_orderdate)) + 1
               AS le
      FROM orders GROUP BY o_custkey
    ) c
    JOIN (VALUES {_QUARTER_DAY_VALUES}) AS p(period_name, ps, pe)
      ON c.ls < p.pe AND p.ps < c.le
    GROUP BY p.period_name
    """,
)
def orders_by_period_rangejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervaljoin import overlap_join

    orders = load_table(spark, sf_dir, "orders")
    periods = local_relation(
        spark,
        _QUARTERS,
        "period_name string, period_start string, period_end string",
    ).select(
        "period_name",
        F.col("period_start").cast("timestamp").alias("period_start"),
        F.col("period_end").cast("timestamp").alias("period_end"),
    )
    period_rows = (
        orders.join(
            F.broadcast(periods),
            (orders.o_orderdate >= periods.period_start)
            & (orders.o_orderdate < periods.period_end),
        )
        .groupBy("period_name")
        .agg(
            F.count("*").alias("n"),
            F.sum(cents("o_totalprice")).alias("volume_c"),
        )
        .select(F.lit("period").alias("part"), "period_name", "n", "volume_c")
    )

    day = F.datediff(
        F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp")
    ).cast("long")
    lifespans = orders.groupBy("o_custkey").agg(
        F.min(day).alias("ls"), (F.max(day) + 1).alias("le")
    )
    quarter_days = local_relation(
        spark, _QUARTER_DAYS, "period_name string, ps long, pe long"
    )
    active_rows = (
        overlap_join(
            lifespans,
            quarter_days,
            "ls", "le", "ps", "pe",
            bin_width=30,
            max_bins=16,
        )
        .groupBy("period_name")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("active").alias("part"),
            "period_name",
            "n",
            F.lit(None).cast("long").alias("volume_c"),
        )
    )
    return period_rows.unionByName(active_rows)


# --------------------------------------------------------------------------
# Scalar subquery: customers whose account balance exceeds their nation's
# average. Catalyst decorrelates this into a join against the aggregated
# subquery — no per-row re-execution.
#
# Driver-slot composite: the decorrelated join runs through
# operators.skewjoin.skew_join (hot-key salted, exact-equivalence
# contract), so the ONE subquery oracle value-gates both the scalar-
# subquery semantics and the skew-join operator. hot_threshold=59 sits
# inside the per-nation customer-count range at the driver's sf0.01
# (43..74), so BOTH the salted hot path and the plain cold path execute
# there; at other SFs it degrades to all-cold / all-hot, either of which
# still equals the plain join by contract.
# --------------------------------------------------------------------------
@REGISTRY.register(
    "customers_above_nation_avg",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acctbal_c
    FROM customer c
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) > (
      SELECT CAST(SUM(CAST(ROUND(c2.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey
    )
    """,
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skewjoin import skew_join

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", cents("c_acctbal").alias("acctbal_c")
    )
    nation_avg = cust.groupBy("c_nationkey").agg(
        (F.sum("acctbal_c").cast("double") / F.count("*")).alias("avg_c")
    )
    return (
        skew_join(
            cust,
            nation_avg,
            ["c_nationkey"],
            hot_threshold=59,
            salt_factor=4,
        )
        .filter(F.col("acctbal_c") > F.col("avg_c"))
        .select("c_custkey", "c_nationkey", "acctbal_c")
    )


# --------------------------------------------------------------------------
# Expression kitchen-sink over literals: null-safe equality, IN-lists,
# BETWEEN, greatest/least, coalesce chains, CASE — the §2.8 conditional
# family in one oracle-checked relation.
# --------------------------------------------------------------------------
_EXPR_ROWS = [
    (1, 10, 10), (2, 10, None), (3, None, None), (4, 7, 10), (5, None, 3),
]
_EXPR_VALUES = ", ".join(
    "({}, {}, {})".format(i, "NULL" if a is None else a, "NULL" if b is None else b)
    for i, a, b in _EXPR_ROWS
)


# Driver-slot composite (the registry is capped at 50 — NOTES.md): the
# conditional-expression showcase and the one-row orders column profile
# share a slot. The 1-row profile cross-joins onto the 5-row literal
# relation — each conditional row carries the (identical) profile
# columns, so both operator families are value-gated by one oracle.
#
# Round 5: correlation MOMENTS join the profile — the decomposable form
# of corr/cov (n, Σx, Σy, Σx², Σy², Σxy over lineitem quantity ×
# whole-unit price). Emitting the final corr would hash-diverge (the
# engines' one-pass corr kernels sum in different orders — last-ulp
# float drift); the integer moments are EXACT, map-side-combinable
# (the O(Δ) incremental-mart story applies verbatim), and corr is one
# client-side formula away. Whole currency units keep Σy² under 2^63
# through sf1; a 100 TB run carries these sums as DECIMAL(38,0).
# DuckDB sums BIGINT into HUGEINT — the oracle casts back.
@REGISTRY.register(
    "expression_profile_orders",
    oracle=f"""
    WITH cms_agg AS MATERIALIZED (
      SELECT cell, COUNT(*) AS cnt FROM (
        SELECT unnest([{_cms_cells_sql("o_orderpriority")}]) AS cell
        FROM orders WHERE o_orderpriority IS NOT NULL
      ) GROUP BY cell
    )
    SELECT id,
      (a IS NOT DISTINCT FROM b) AS null_safe_eq,
      -- three-valued logic surfaced as ints: NULL booleans round-trip as
      -- None vs NaN through the two engines' pandas bridges
      COALESCE(CAST((a IN (7, 10)) AS INTEGER), -1) AS in_list_i,
      COALESCE(CAST((a BETWEEN 5 AND 10) AS INTEGER), -1) AS in_band_i,
      greatest(a, b) AS hi,
      least(a, b) AS lo,
      COALESCE(a, b, -1) AS first_present,
      CASE WHEN a IS NULL AND b IS NULL THEN 'both-null'
           WHEN a IS NULL OR b IS NULL THEN 'one-null'
           WHEN a = b THEN 'equal' ELSE 'differ' END AS shape,
      p.*, m.*, c.*
    FROM (VALUES {_EXPR_VALUES}) AS t(id, a, b)
    CROSS JOIN (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(o_custkey) AS null_custkey,
             COUNT(*) - COUNT(o_orderstatus) AS null_status,
             CAST(MIN(ROUND(o_totalprice * 100)) AS BIGINT) AS min_price_c,
             CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT) AS max_price_c,
             CAST(MIN(epoch(o_orderdate)) AS BIGINT) AS min_date_s,
             CAST(MAX(epoch(o_orderdate)) AS BIGINT) AS max_date_s,
             COUNT(DISTINCT o_orderstatus) AS n_statuses,
             COUNT(DISTINCT o_orderpriority) AS n_priorities
      FROM orders
    ) p
    CROSS JOIN (
      SELECT COUNT(*) AS corr_n,
             CAST(SUM(qty) AS BIGINT) AS sum_qty,
             CAST(SUM(price_u) AS BIGINT) AS sum_price_u,
             CAST(SUM(qty * qty) AS BIGINT) AS sum_qty_sq,
             CAST(SUM(price_u * price_u) AS BIGINT) AS sum_price_u_sq,
             CAST(SUM(qty * price_u) AS BIGINT) AS sum_qty_price_u
      FROM (
        SELECT CAST(ROUND(l_quantity) AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice) AS BIGINT) AS price_u
        FROM lineitem
      )
    ) m
    CROSS JOIN (
      -- CMS lifecycle twin: estimates = min over the depth rows'
      -- counters at the value's cells (0 when the cell was never hit);
      -- merge bit-exactness is arithmetic identity on the oracle side
      -- (elementwise half sums == whole), emitted as the contract
      -- constant the Spark side must COMPUTE its way to.
      SELECT
        MIN(CASE WHEN v = '1-URGENT' THEN e END) AS cms_est_urgent,
        MIN(CASE WHEN v = '5-LOW' THEN e END) AS cms_est_low,
        MIN(CASE WHEN v = '9-ABSENT' THEN e END) AS cms_est_absent,
        CAST(1 AS INTEGER) AS cms_merge_bit_exact,
        (SELECT COUNT(o_orderpriority) FROM orders) AS cms_row0_total
      FROM (
        SELECT v, MIN(COALESCE(a2.cnt, 0)) AS e
        FROM (
          SELECT v, unnest([{_cms_cells_sql("v")}]) AS cell
          FROM (SELECT unnest(['1-URGENT', '5-LOW', '9-ABSENT']) AS v)
        ) q LEFT JOIN cms_agg a2 USING (cell)
        GROUP BY v
      )
    ) c
    """,
)
def expression_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three demos, one slot: §2.8 conditionals over literals + the
    one-pass column profile (data-quality operator every large pipeline
    runs before training — null counts, min/max, distincts in a single
    aggregate, no per-column passes) + the Count-Min sketch lifecycle
    (round 6: build over o_orderpriority, split-by-parity halves merged
    bit-exactly back to the whole — THE property that makes the mart
    incremental — and point estimates for two present values and one
    absent value, all mirrored in the oracle via the cross-engine md5
    hash family of operators/cms.py)."""
    df = local_relation(spark, _EXPR_ROWS, "id int, a int, b int")
    a, b = F.col("a"), F.col("b")
    cond = df.select(
        "id",
        a.eqNullSafe(b).alias("null_safe_eq"),
        F.coalesce(a.isin(7, 10).cast("int"), F.lit(-1)).alias("in_list_i"),
        F.coalesce(a.between(5, 10).cast("int"), F.lit(-1)).alias(
            "in_band_i"
        ),
        F.greatest(a, b).alias("hi"),
        F.least(a, b).alias("lo"),
        F.coalesce(a, b, F.lit(-1)).alias("first_present"),
        F.when(a.isNull() & b.isNull(), "both-null")
        .when(a.isNull() | b.isNull(), "one-null")
        .when(a == b, "equal")
        .otherwise("differ")
        .alias("shape"),
    )
    orders = load_table(spark, sf_dir, "orders")
    profile = orders.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkey"),
        (F.count("*") - F.count("o_orderstatus")).alias("null_status"),
        F.min(cents("o_totalprice")).alias("min_price_c"),
        F.max(cents("o_totalprice")).alias("max_price_c"),
        F.min(F.unix_timestamp("o_orderdate")).alias("min_date_s"),
        F.max(F.unix_timestamp("o_orderdate")).alias("max_date_s"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    price_u = F.round(F.col("l_extendedprice")).cast("long")
    moments = (
        load_table(spark, sf_dir, "lineitem")
        .select(qty.alias("qty"), price_u.alias("price_u"))
        .agg(
            F.count(F.lit(1)).alias("corr_n"),
            F.sum("qty").alias("sum_qty"),
            F.sum("price_u").alias("sum_price_u"),
            F.sum(F.col("qty") * F.col("qty")).alias("sum_qty_sq"),
            F.sum(F.col("price_u") * F.col("price_u")).alias(
                "sum_price_u_sq"
            ),
            F.sum(F.col("qty") * F.col("price_u")).alias(
                "sum_qty_price_u"
            ),
        )
    )
    from ..operators.cms import cms_build, cms_estimate, cms_merge

    keyed = orders.select(
        F.lit(1).alias("g"),
        "o_orderpriority",
        (F.col("o_orderkey") % 2).alias("half"),
    )
    whole = cms_build(
        keyed, ["g"], "o_orderpriority", width=_CMS_W, depth=_CMS_D
    )
    h0 = cms_build(
        keyed.filter(F.col("half") == 0),
        ["g"],
        "o_orderpriority",
        width=_CMS_W,
        depth=_CMS_D,
    ).withColumnRenamed("cms", "c0")
    h1 = cms_build(
        keyed.filter(F.col("half") == 1),
        ["g"],
        "o_orderpriority",
        width=_CMS_W,
        depth=_CMS_D,
    ).withColumnRenamed("cms", "c1")

    def est(v: str) -> Column:
        return cms_estimate(
            F.col("cms"), F.lit(v), width=_CMS_W, depth=_CMS_D
        )

    cms_row = (
        whole.join(h0, "g")
        .join(h1, "g")
        .select(
            est("1-URGENT").alias("cms_est_urgent"),
            est("5-LOW").alias("cms_est_low"),
            est("9-ABSENT").alias("cms_est_absent"),
            # bit-exact mergeability, computed (not assumed) on the
            # Spark side; the oracle emits the contract constant 1
            (F.col("cms") == cms_merge(F.col("c0"), F.col("c1")))
            .cast("int")
            .alias("cms_merge_bit_exact"),
            # row-0 counter total == #non-null inputs (build invariant)
            F.aggregate(
                F.slice("cms", 1, _CMS_W),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("cms_row0_total"),
        )
    )
    return (
        cond.crossJoin(F.broadcast(profile))
        .crossJoin(F.broadcast(moments))
        .crossJoin(F.broadcast(cms_row))
    )


# --------------------------------------------------------------------------
# Salted two-stage aggregation: the skew-mitigation pattern (SURVEY.md
# §4.2 / 100 TB design). A hot group key is sharded across
# (key, salt) partial aggregates, then combined — identical results to a
# direct groupBy, which is exactly what the oracle verifies. With AQE's
# skew handling this is rarely hand-written, but the operator must exist
# for deliberate use (e.g. stable partial outputs for incremental jobs).
# --------------------------------------------------------------------------
# Driver-slot composite: the salted two-stage aggregate provides the
# decomposable measures, the distinct aggregate (non-decomposable — it
# cannot ride the salt, exactly the incremental.py contract) computes
# its own expand + two-phase plan, and the two relations join on the
# group key. One oracle (a plain GROUP BY) value-gates both.
@REGISTRY.register(
    "salted_distinct_aggregates",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS volume_c,
           COUNT(DISTINCT o_custkey) AS n_distinct_customers,
           CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
             AS n_active_months
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def salted_distinct_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    partial = (
        orders.withColumn("salt", (F.col("o_orderkey") % 8).cast("int"))
        .groupBy("o_orderpriority", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(cents("o_totalprice")).alias("pv"),
        )
    )
    salted = partial.groupBy("o_orderpriority").agg(
        F.sum("pn").alias("n_orders"),
        F.sum("pv").alias("volume_c"),
    )
    distinct = (
        orders.select(
            "o_orderpriority",
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM").alias("ts_month"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_distinct_customers"),
            F.countDistinct("ts_month").alias("n_active_months"),
        )
    )
    return salted.join(distinct, "o_orderpriority")


# --------------------------------------------------------------------------
# Full outer join with coalesced keys: customer activity across two years
# including customers active in only one of them.
# --------------------------------------------------------------------------
# Driver-slot composite: the LEFT-join (nation order volume, preserved
# null-extended nations) and FULL-OUTER-join (customer year-over-year
# with coalesced keys) demos share a slot via a tagged union on an
# aligned (side, key_s, m1, m2) schema — §2.3's outer surface in one
# oracle-gated relation.
@REGISTRY.register(
    "outer_join_family",
    oracle="""
    SELECT 'nation_left' AS side, n.n_name AS key_s,
           COUNT(o.o_orderkey) AS m1,
           CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                AS BIGINT) AS m2
    FROM nation n
    LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    LEFT JOIN orders o   ON o.o_custkey = c.c_custkey
                        AND o.o_orderdate < TIMESTAMP '1995-06-01'
    GROUP BY n.n_name
    UNION ALL
    SELECT 'custkey_full' AS side, CAST(custkey AS VARCHAR) AS key_s,
           n95 AS m1, n96 AS m2
    FROM (
      WITH y95 AS (
        SELECT o_custkey, COUNT(*) AS n95 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
          AND o_custkey % 7 = 0
        GROUP BY o_custkey
      ), y96 AS (
        SELECT o_custkey, COUNT(*) AS n96 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND o_custkey % 7 = 0
        GROUP BY o_custkey
      )
      SELECT COALESCE(y95.o_custkey, y96.o_custkey) AS custkey,
             COALESCE(n95, 0) AS n95,
             COALESCE(n96, 0) AS n96
      FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
    )
    """,
)
def outer_join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(
        F.col("o_orderdate") < F.lit("1995-06-01").cast("timestamp")
    )
    nation_left = (
        nation.join(cust, cust.c_nationkey == nation.n_nationkey, "left")
        .join(o, o.o_custkey == cust.c_custkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("o_orderkey").alias("m1"),
            F.coalesce(
                F.sum(cents("o_totalprice")), F.lit(0).cast("long")
            ).alias("m2"),
        )
        .select(
            F.lit("nation_left").alias("side"),
            F.col("n_name").alias("key_s"),
            "m1",
            "m2",
        )
    )

    yoy_base = orders.filter(F.col("o_custkey") % 7 == 0)

    def year(y: int, out: str) -> DataFrame:
        return (
            yoy_base.filter(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (
                    F.col("o_orderdate")
                    < F.lit(f"{y + 1}-01-01").cast("timestamp")
                )
            )
            .groupBy(F.col("o_custkey").alias(f"ck{y}"))
            .agg(F.count("*").alias(out))
        )

    a, b = year(1995, "n95"), year(1996, "n96")
    yoy = a.join(b, a.ck1995 == b.ck1996, "full_outer").select(
        F.lit("custkey_full").alias("side"),
        F.coalesce("ck1995", "ck1996").cast("string").alias("key_s"),
        F.coalesce("n95", F.lit(0).cast("long")).alias("m1"),
        F.coalesce("n96", F.lit(0).cast("long")).alias("m2"),
    )
    return nation_left.unionByName(yoy)


# --------------------------------------------------------------------------
# Incremental mart lifecycle under the driver gate — three pytest-only
# operator modules value-gated by ONE full-recompute oracle:
# 1. operators.incremental — the mart is built as history-state +
#    delta-combine (O(Δ) maintenance), never a full rescan; the oracle
#    IS the full recompute, so the combine must equal it exactly.
# 2. operators.maintenance — the mart parquet is written as many small
#    files then compacted (stage → atomic-promote rewrite); compaction
#    must be row-preserving or the hash flips.
# 3. operators.bucketing — mart and customer dimension are written as
#    same-bucketed tables and joined bucket-to-bucket (the plan-level
#    no-Exchange contract is pinned in tests/test_bucketing.py; here
#    the join's VALUES are gated).
# 4. the approx_distinct (HLL sketch) measure kind: the binary sketch
#    column rides the whole lifecycle — delta combine, parquet write,
#    compaction, bucketed join — and is estimated only in the final
#    select. The oracle uses exact COUNT(DISTINCT month): Datasketches
#    HLL is exact at this cardinality (≤ ~84 distinct months per
#    customer, far under the sketch's dense-mode promotion), so the
#    estimate must hash-match the exact count.
# 5. the quantile_sketch measure kind (round 6, operators.quantiles):
#    the bottom-k entry sample rides the same lifecycle and serves
#    p50/p90 price at read time; exact regime (group << k) makes the
#    oracle the exact lower-interpolation rank statistic.
# 6. (round 7) the WRITE PATH itself: the mart lands via
#    operators.observe.write_validated (metrics ride the write through
#    CollectMetrics, gates decide the staged promote — one scan), and
#    the compacted mart + customer dimension commit as ONE atomic
#    group snapshot (operators.multisnapshot) that the bucketed join
#    reads back THROUGH — so the driver's value hash now gates
#    publish -> compaction -> snapshot read-back end-to-end. The
#    oracle (full recompute) is unchanged: a corrupted write flips the
#    hash.
# 7. (round 9) TIME TRAVEL + Z-ORDER, the last pytest-only lakehouse
#    operators now in the gate: the pre-delta state commits as group
#    v1 and the merge reads the PINNED version 1 back (a restarted
#    maintenance job's recovery read); the mart is compacted AND laid
#    out along the (o_custkey, volume_c) Morton curve in ONE staged
#    rewrite (compact_parquet's zorder_cols mode — round-10 fusion of
#    the round-9 two-rewrite chain) and read back through two
#    complementary pruned key-range scans whose union is the whole
#    mart. Both legs are value-neutral by construction, so the oracle
#    is STILL the one full recompute — but the hash now also covers
#    versioned reads and the z-ordered layout round-trip.
# --------------------------------------------------------------------------
def _zorder_pruned_readback(
    spark: SparkSession,
    zpath: str | DataFrame,
    key_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """The z-ordered mart read back as two complementary o_custkey
    range scans, unioned — exactly the rows of ``zpath``, but each
    branch's parquet reader skips the files whose z-rectangle lies
    outside its key range (row-group min/max pruning; pinned in
    tests/test_plans.py). The 1-row bounds aggregate stands in for the
    footer-stats lookup a real lakehouse catalog serves for free.

    The complement is NULL-safe: a NULL key fails both ``<= mid`` and
    ``> mid``, so the low branch carries ``isNull`` explicitly — the
    union is exactly the input for any nullable key column. An empty
    (or all-NULL-key) table has no bounds to split on; it reads back
    whole rather than raising on ``int(None)``.

    ``key_bounds`` (min, max of ``o_custkey``) skips the bounds
    aggregate when the writer already measured them — e.g. off the
    publish scan's observe metrics (round-10 fusion); the split point
    only has to land INSIDE the key range for both branches to be
    non-trivial, so any sound bounds work.

    ``zpath`` may also be an already-built parquet-backed relation
    (e.g. a versioned ``read_group_table`` over the ADOPTED z-ordered
    files) — the range predicates push into its scans identically."""
    full = spark.read.parquet(zpath) if isinstance(zpath, str) else zpath
    lo, hi = key_bounds or full.agg(
        F.min("o_custkey"), F.max("o_custkey")
    ).first()
    if lo is None or hi is None:
        return full
    mid = (int(lo) + int(hi)) // 2
    key = F.col("o_custkey")
    return full.filter(key.isNull() | (key <= mid)).unionByName(
        full.filter(key > mid)
    )


@REGISTRY.register(
    "incremental_mart_maintenance",
    oracle="""
    WITH pq AS (
      -- exact lower-interpolation quantiles per customer: the sketch
      -- keeps ALL rows while the group fits in k=1024 (TPC-H is ~10-25
      -- orders per customer at EVERY sf), so the mart's served
      -- percentiles must equal the exact rank statistic
      SELECT o_custkey,
             MIN(CASE WHEN rn = (1 * (cnt - 1)) // 2 + 1
                      THEN price_c END) AS p50_price_c,
             MIN(CASE WHEN rn = (9 * (cnt - 1)) // 10 + 1
                      THEN price_c END) AS p90_price_c
      FROM (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c,
               ROW_NUMBER() OVER (
                 PARTITION BY o_custkey
                 ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT)
               ) AS rn,
               COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        FROM orders
      ) GROUP BY 1
    )
    SELECT o.o_custkey,
           c.c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS volume_c,
           CAST(MAX(ROUND(o_totalprice * 100)) AS BIGINT) AS max_price_c,
           CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
             AS n_active_months,
           MIN(pq.p50_price_c) AS p50_price_c,
           MIN(pq.p90_price_c) AS p90_price_c
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN pq ON pq.o_custkey = o.o_custkey
    GROUP BY 1, 2
    """,
)
def incremental_mart_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.bucketing import bucketed_join, write_bucketed
    from ..operators.incremental import aggregate_delta, merge_aggregate_state
    from ..operators.maintenance import compact_parquet
    from ..operators.multisnapshot import (
        read_group_table,
        write_group_snapshot,
    )
    from ..operators.observe import write_validated
    from ..operators.quantiles import qsketch_entry, qsketch_quantile

    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumn("price_c", cents("o_totalprice"))
        .withColumn("ts_month", F.date_format("o_orderdate", "yyyy-MM"))
        # percentile leg (round 6): bottom-k quantile sketch keyed by
        # the unique order key — exact regime at every TPC-H sf (~10-25
        # orders per customer << k), so the oracle is the exact rank
        # statistic. The sketch column rides the WHOLE lifecycle below:
        # delta combine, parquet write, compaction, bucketed join.
        .withColumn(
            "price_q", qsketch_entry(F.col("o_orderkey"), F.col("price_c"))
        )
    )
    cut = F.lit("1997-01-01").cast("timestamp")
    measures = {
        "n_orders": ("count", "o_orderkey"),
        "volume_c": ("sum", "price_c"),
        "max_price_c": ("max", "price_c"),
        "n_active_months": ("approx_distinct", "ts_month"),
        "price_sample": ("quantile_sketch", "price_q"),
    }
    state_agg = aggregate_delta(
        orders.filter(F.col("o_orderdate") < cut), ["o_custkey"], measures
    )
    # schema-evolution gate (round 8): the delta batch arrives in the
    # shape a drifting upstream producer actually sends — price_c
    # narrowed to INT (every TPC-H total fits: <= ~6e7 cents < 2^31),
    # columns reordered — against a mart target that ALSO carries a
    # lineage column the producer doesn't emit yet. evolve_to_schema
    # must widen int->long, restore column order, and add the typed
    # NULL; all value-neutral by construction (sum(int)==sum(long) on
    # identical cents; the lineage NULL is never aggregated), so the
    # oracle is unchanged while the driver hash now passes THROUGH the
    # conform path. The narrowing-rejection leg stays pytest-gated
    # (it raises by contract).
    from pyspark.sql import types as T

    from ..operators.schema_evolution import evolve_to_schema

    delta = orders.filter(F.col("o_orderdate") >= cut)
    producer_batch = delta.select(
        *[
            F.col(c).cast("int").alias(c) if c == "price_c" else F.col(c)
            for c in reversed(delta.columns)
        ]
    )
    mart_target = T.StructType(
        list(delta.schema.fields)
        + [T.StructField("ingest_note", T.StringType(), True)]
    )
    # maintenance: land the mart as many small files (the streaming-
    # append pathology) through the VALIDATED publish — metrics ride
    # the write via CollectMetrics (one scan), the gates decide the
    # staged promote — then compact via stage -> atomic promote.
    # Both temp roots are deleted before returning (the bucketed
    # writes below are eager saveAsTable, so the returned lazy join
    # reads only warehouse tables — a per-invocation mart copy left
    # behind would grow the host by two mart copies per bench/driver
    # call, the dedup_lsh wrapper's cleanup contract).
    import shutil

    import time
    from contextlib import contextmanager

    MART_PHASE_WALLS.clear()

    @contextmanager
    def _phase(label: str):
        t0 = time.perf_counter()
        yield
        MART_PHASE_WALLS[label] = round(time.perf_counter() - t0, 3)

    mart_root = tempfile.mkdtemp(prefix="graft_mart_")
    group_root = tempfile.mkdtemp(prefix="graft_mart_grp_")
    try:
        # time-travel leg (round 9): the PRE-delta state is committed
        # as group v1 and the merge consumes the VERSION-1 read-back —
        # the state side of an O(Δ) maintenance loop is exactly what a
        # restarted job time-travels to, and pinning version=1 (not
        # latest) puts the versioned read in the gated lineage.
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        # v1 commits ONLY the mart: nothing reads customer_dim at v1
        # (the join consumes the v2 dim), and write_group_snapshot
        # fully materializes every table it is given — carrying the
        # dim here would add a full dim write + read-back scan to a
        # calibrated slot for nothing (round-9 self-review catch).
        with _phase("v1_commit"):
            v1 = write_group_snapshot({"mart": state_agg}, group_root)
        state = read_group_table(spark, group_root, "mart", version=v1)
        merged = merge_aggregate_state(
            state,
            evolve_to_schema(producer_batch, mart_target),
            ["o_custkey"],
            measures,
        )
        mart_path = mart_root + "/mart"
        # the publish scan's observe metrics double as the Z-order grid
        # bounds and the read-back split bounds (round-10 fusion: the
        # bounds aggregates ride the write job instead of re-scanning)
        with _phase("publish"):
            vals = write_validated(
                merged.repartition(16),
                mart_path,
                metrics={
                    "n": F.count(F.lit(1)),
                    "null_keys": F.sum(
                        F.col("o_custkey").isNull().cast("long")
                    ),
                    "min_ck": F.min("o_custkey"),
                    "max_ck": F.max("o_custkey"),
                    "min_vol": F.min("volume_c"),
                    "max_vol": F.max("volume_c"),
                },
                gates={
                    "nonempty": lambda m: m["n"] > 0,
                    "keys_present": lambda m: m["null_keys"] == 0,
                },
            )
        # Z-order leg (round 9; fused round 10): compaction and the
        # (o_custkey, volume_c) Morton layout are ONE staged rewrite —
        # the small validated files are read once and land z-ordered
        # (compact_parquet's zorder_cols mode), instead of the round-9
        # compact-then-re-read-then-re-write. Read back through two
        # complementary key-range scans whose union is the whole mart —
        # value-neutral, but each branch's parquet reader actually
        # skips the files outside its z-rectangle (plan pin:
        # tests/test_plans.py::test_mart_zorder_readback_prunes).
        with _phase("compact_zorder"):
            compact_parquet(
                spark,
                mart_path,
                target_partitions=4,
                zorder_cols=["o_custkey", "volume_c"],
                zorder_bounds={
                    "o_custkey": (vals["min_ck"], vals["max_ck"]),
                    "volume_c": (vals["min_vol"], vals["max_vol"]),
                },
            )
        # atomic group snapshot: the z-ordered mart and its dimension
        # become visible as ONE version (v2 — v1 carries the pre-merge
        # state). The mart is committed BY REFERENCE (round 10): the
        # compacted z-ordered files are hard-linked into the versioned
        # layout, counts come from parquet footers — the Delta/Iceberg
        # way to commit an OPTIMIZE result, replacing the round-9 full
        # rewrite of bytes that already existed on disk.
        with _phase("v2_commit"):
            v2 = write_group_snapshot(
                {"mart": mart_path, "customer_dim": cust}, group_root
            )
        # the pruned complementary read-back now runs THROUGH the
        # pinned-v2 relation, so the slot's value hash covers commit,
        # time travel, layout AND row-group pruning in one lineage leg
        zmart = _zorder_pruned_readback(
            spark,
            read_group_table(spark, group_root, "mart", version=v2),
            key_bounds=(vals["min_ck"], vals["max_ck"]),
        )
        # bucketing: mart ⋈ customer dim bucket-to-bucket on custkey.
        # This phase's wall includes the pruned read-back scans (zmart
        # is lazy until the bucketed write materializes it).
        with _phase("bucketed_writes"):
            write_bucketed(
                zmart,
                "graft_mart_b",
                ["o_custkey"],
                n_buckets=4,
            )
            write_bucketed(
                read_group_table(
                    spark, group_root, "customer_dim", version=v2
                ),
                "graft_cust_b",
                ["o_custkey"],
                n_buckets=4,
            )
    finally:
        shutil.rmtree(mart_root, ignore_errors=True)
        shutil.rmtree(group_root, ignore_errors=True)
    return bucketed_join(
        spark, "graft_mart_b", "graft_cust_b", on=["o_custkey"]
    ).select(
        "o_custkey",
        "c_mktsegment",
        "n_orders",
        "volume_c",
        "max_price_c",
        F.hll_sketch_estimate("n_active_months").alias("n_active_months"),
        qsketch_quantile("price_sample", 1, 2).alias("p50_price_c"),
        qsketch_quantile("price_sample", 9, 10).alias("p90_price_c"),
    )


# --------------------------------------------------------------------------
# SCD Type-2 dimension history + point-in-time lookup (operators/scd.py).
#
# The change stream is derived from orders: per (customer, order date)
# the priority of that date's last order (arg-max by o_orderkey — the
# unique-seq pre-collapse scd2_build requires), so the dimension tracked
# is "the customer's current order-priority tier". scd2_build collapses
# runs of equal priority into effective-dated versions; the Spark path
# then drives point_in_time_lookup (the as-of union-trick) to count each
# customer's orders per in-effect version, while the oracle computes the
# same count the closed-form way (every order falls into exactly one
# version's half-open interval, so pit_orders == the run's order total).
# Identical values, two independent formulations — the lookup join is
# what the driver gates.
#
# custkey % 7 == 0 bounds the driver output (~1/7 of customers); dates
# emit as ISO strings, is_current as 0/1 BIGINT per plans/__init__.py
# conventions.
# --------------------------------------------------------------------------
#: previous invocation's persisted SCD2 history — unpersisted on the
#: next call so repeated invocations never accumulate cache entries.
_SCD2_HIST_CACHE: list[DataFrame] = []


@REGISTRY.register(
    "scd2_dimension_history",
    oracle="""
    WITH filtered AS (
      SELECT o_custkey AS k, o_orderdate AS d,
             o_orderpriority AS p, o_orderkey
      FROM orders WHERE o_custkey % 7 = 0
    ), per_date AS (
      SELECT k, d, arg_max(p, o_orderkey) AS priority,
             COUNT(*) AS n_orders
      FROM filtered GROUP BY k, d
    ), flagged AS (
      SELECT k, d, priority, n_orders,
             CASE WHEN ROW_NUMBER() OVER w = 1
                    OR priority IS DISTINCT FROM LAG(priority) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM per_date WINDOW w AS (PARTITION BY k ORDER BY d)
    ), versioned AS (
      SELECT *, SUM(chg) OVER (
        PARTITION BY k ORDER BY d ROWS UNBOUNDED PRECEDING
      ) AS version FROM flagged
    ), runs AS (
      SELECT k, version, ANY_VALUE(priority) AS priority,
             MIN(d) AS vf, COUNT(*) AS n_obs,
             SUM(n_orders) AS pit_orders
      FROM versioned GROUP BY k, version
    )
    SELECT CAST(k AS BIGINT) AS custkey,
           CAST(version AS BIGINT) AS version,
           priority,
           strftime(vf, '%Y-%m-%d') AS valid_from,
           strftime(LEAD(vf) OVER w2, '%Y-%m-%d') AS valid_to,
           CAST(CASE WHEN LEAD(vf) OVER w2 IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(pit_orders AS BIGINT) AS pit_orders
    FROM runs WINDOW w2 AS (PARTITION BY k ORDER BY version)
    """,
)
def scd2_dimension_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import point_in_time_lookup, scd2_build

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") % 7 == 0
    )
    # alias first, then repartition on the key alone: the (k, d)
    # pre-collapse aggregate AND every scd2_build window cluster on a
    # superset of k, so ONE k-exchange serves the whole dimension chain
    # (vs letting groupBy shuffle on (k, d) and the window re-shuffle
    # on k). hist is persisted: both the output and the point-in-time
    # branch consume it, and without the boundary each consumer
    # re-executes the full chain (verified: 6 exchanges -> 3). The
    # persist is bounded, not orphaned: each invocation unpersists the
    # previous one's hist (below), so the app holds at most ONE pinned
    # entry regardless of call count. Unpersisting is correctness-safe
    # — a straggler consumer of a prior plan recomputes from lineage.
    changes = (
        orders.select(
            F.col("o_custkey").alias("k"),
            F.col("o_orderdate").alias("d"),
            "o_orderpriority",
            "o_orderkey",
        )
        .repartition("k")
        .groupBy("k", "d")
        .agg(F.max_by("o_orderpriority", "o_orderkey").alias("priority"))
    )
    while _SCD2_HIST_CACHE:
        _SCD2_HIST_CACHE.pop().unpersist(blocking=False)
    hist = scd2_build(changes, ["k"], ["priority"], "d").persist()
    _SCD2_HIST_CACHE.append(hist)
    facts = orders.select(
        F.col("o_custkey").alias("k"), F.col("o_orderdate").alias("ts")
    )
    pit = (
        point_in_time_lookup(facts, hist, "k", "ts", ["priority"])
        .groupBy("k", F.col("asof_version").alias("version"))
        .agg(F.count("*").alias("pit_orders"))
    )
    return hist.join(pit, ["k", "version"]).select(
        F.col("k").alias("custkey"),
        "version",
        "priority",
        F.date_format("valid_from", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd").alias("valid_to"),
        F.col("is_current").cast("long").alias("is_current"),
        "n_obs",
        "pit_orders",
    )
